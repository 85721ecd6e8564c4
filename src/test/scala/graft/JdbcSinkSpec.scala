package graft

import graft.sources.JdbcSink
import graft.sources.JdbcSink.JdbcOptions

/** The DB-sink surface without a live database: the writer option builder
  * is pinned exactly. */
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
}
