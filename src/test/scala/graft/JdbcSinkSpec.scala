package graft

import graft.etl.{EtlConfig, Schemas}
import graft.sources.JdbcSink
import graft.sources.JdbcSink.JdbcOptions

/** The DB-sink surface without a live database: option/DDL builders are
  * pinned exactly. */
class JdbcSinkSpec extends SparkSpec {

  test("writerOptions maps batching/pool knobs to the jdbc writer keys") {
    val o = JdbcOptions(
      url = "jdbc:postgresql://db:5432/postgres", table = "bitcoin_stock_data",
      user = Some("postgres"), password = Some("pw"),
      batchSize = 500, numPartitions = 10)
    val m = JdbcSink.writerOptions(o)
    assert(m("url") === "jdbc:postgresql://db:5432/postgres")
    assert(m("dbtable") === "bitcoin_stock_data")
    assert(m("batchsize") === "500")      // to_sql method='multi' analog
    assert(m("numPartitions") === "10")   // pool_size=10 analog
    assert(m("isolationLevel") === "READ_COMMITTED")
    assert(m("user") === "postgres" && m("password") === "pw")
  }

  test("writerOptions rejects malformed config instead of failing at the DB") {
    intercept[IllegalArgumentException] {
      JdbcSink.writerOptions(JdbcOptions(url = "postgresql://no-scheme", table = "t"))
    }
    intercept[IllegalArgumentException] {
      JdbcSink.writerOptions(JdbcOptions(url = "jdbc:postgresql://x/db", table = "t", batchSize = 0))
    }
    intercept[IllegalArgumentException] {
      JdbcSink.writerOptions(JdbcOptions(url = "jdbc:postgresql://x/db", table = ""))
    }
  }

  test("createTableDdl reproduces the reference DDL shape (btc_etl.py:73-82)") {
    val ddl = JdbcSink.createTableDdl("bitcoin_stock_data")
    assert(ddl.contains("CREATE TABLE IF NOT EXISTS bitcoin_stock_data"))
    assert(ddl.contains("date_time TIMESTAMPTZ PRIMARY KEY"))
    Schemas.sinkCols.filterNot(_ == "date_time").foreach { c =>
      assert(ddl.contains(s"$c DOUBLE PRECISION"), s"missing metric column $c")
    }
    assert(JdbcSink.createHypertableDdl("bitcoin_stock_data")
      .contains("migrate_data => TRUE"))
    intercept[IllegalArgumentException] {
      JdbcSink.createTableDdl("bad name; DROP TABLE x")
    }
  }

  test("EtlConfig: sys.props override env, dynamic re-read, reference defaults") {
    assert(EtlConfig.tableName === "bitcoin_stock_data")
    assert(EtlConfig.maxThreads === 4)
    assert(!EtlConfig.multithreadingEnabled)
    try {
      sys.props("TABLE_NAME") = "override_tbl"
      sys.props("ENABLE_MULTITHREADING") = "True"
      assert(EtlConfig.tableName === "override_tbl")
      assert(EtlConfig.multithreadingEnabled, "flag is re-read per call")
      assert(EtlConfig.jdbcOptions.table === "override_tbl")
    } finally {
      sys.props -= "TABLE_NAME"
      sys.props -= "ENABLE_MULTITHREADING"
    }
  }
}
