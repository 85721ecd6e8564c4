package graft.sources

/** JDBC append sink — the reference's real sink is Postgres/TimescaleDB
  * through a pooled SQLAlchemy engine (/root/reference/btc_etl.py:49) with
  * batched multi-row inserts (/root/reference/btc_etl.py:179-180,
  * `to_sql(..., method='multi')`).
  *
  * Spark-native equivalent: `df.write.format("jdbc")`, where
  *   - `batchsize` is the multi-row insert chunk (JDBC addBatch size — the
  *     analog of to_sql's method='multi' + chunksize),
  *   - `numPartitions` caps concurrent write connections (Spark opens one
  *     connection per write task, and the jdbc writer coalesces to this
  *     count) — the analog of the reference's pool_size=10
  *     (btc_etl.py:49),
  *   - `isolationLevel` READ_COMMITTED matches the Postgres default the
  *     reference runs under.
  *
  * No Postgres is reachable from the sandbox, but embedded Derby ships in
  * the Spark distribution — `CoreQueries.sinkJdbcRoundtrip` runs the
  * writer options END-TO-END against a live Derby database (write, then
  * partitioned parallel read back, oracle-verified). The pipeline's sink
  * is the date-partitioned parquet lake (BtcPipeline.backfill / watch).
  */
object JdbcSink {

  /** Connection + batching options (btc_etl.py:20 DB_URI, :49 pool). */
  final case class JdbcOptions(
      url: String,
      table: String,
      user: Option[String] = None,
      password: Option[String] = None,
      batchSize: Int = 1000,
      numPartitions: Int = 10,
      isolationLevel: String = "READ_COMMITTED")

  /** The option map handed to `df.write.format("jdbc")`. */
  def writerOptions(o: JdbcOptions): Map[String, String] = {
    require(o.url.startsWith("jdbc:"), s"not a JDBC url: ${o.url}")
    require(o.batchSize > 0, s"batchSize must be positive: ${o.batchSize}")
    require(o.numPartitions > 0, s"numPartitions must be positive: ${o.numPartitions}")
    require(o.table.nonEmpty, "table name required")
    Map(
      "url" -> o.url,
      "dbtable" -> o.table,
      "batchsize" -> o.batchSize.toString,
      "numPartitions" -> o.numPartitions.toString,
      "isolationLevel" -> o.isolationLevel) ++
      o.user.map("user" -> _) ++
      o.password.map("password" -> _)
  }

  /** Does `table` exist at `url`? Probed through `DatabaseMetaData
    * .getTables` on a short-lived connection — the precise
    * "first append has no sink table yet" test. The replay-safe append
    * sites branch on THIS instead of catching `Throwable` around the
    * existing-keys read: a transient read failure (lock timeout, network
    * blip) must PROPAGATE and fail the batch, because treating it as
    * "no existing rows" would silently disable the anti-join dedup guard
    * and re-insert a replayed batch — the exact at-least-once
    * duplication this sink exists to prevent. */
  def tableExists(url: String, table: String,
                  user: Option[String] = None,
                  password: Option[String] = None): Boolean = {
    val props = new java.util.Properties()
    user.foreach(props.setProperty("user", _))
    password.foreach(props.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val md = conn.getMetaData
      // probe both stored-case variants: Derby/Postgres fold unquoted
      // identifiers to upper/lower case respectively
      def probe(n: String) = {
        val rs = md.getTables(null, null, n, null)
        try rs.next() finally rs.close()
      }
      probe(table) || probe(table.toUpperCase) || probe(table.toLowerCase)
    } finally conn.close()
  }
}
