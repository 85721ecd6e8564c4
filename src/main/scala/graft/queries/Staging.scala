package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Helpers shared by the oracle-checked queries.
  *
  * Several reference operators are about *file* handling (CSV scan, glob
  * scan, permissive parse, streaming file source). The oracle can only see
  * the parquet testdata tables, so those queries stage a deterministic
  * derivation of a testdata table into a temp directory (CSV/parquet), run
  * the real file-handling machinery on it, and phrase the oracle over the
  * original table. Content is derived 1:1 from the table, so results are
  * comparable.
  *
  * The streaming keys share one harness from here: `stage` the input,
  * `feed` it back as a parquet file stream, `drain` the started query,
  * and scope any session conf the query needs with `withConf`.
  */
object Staging {

  /** Load a testdata table, normalising `events.ts` to session-zoned
    * TimestampType whatever the generator wrote it as:
    *   - TIMESTAMP(NANOS): Spark 4 refuses it natively — read as long
    *     (`nanosAsLong`) and floor-divide to µs (`div`, integer division:
    *     ns values ~1.7e18 overflow double math). DuckDB's
    *     CAST(ts AS TIMESTAMP) truncates ns->µs the same way.
    *   - TIMESTAMP(MICROS) without tz: arrives as TIMESTAMP_NTZ — cast to
    *     TimestampType (session tz is pinned UTC, so values are identical).
    *   - already TimestampType: pass through. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.expressions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else df
  }

  /** Fresh temp dir under java.io.tmpdir, deleted with its contents when
    * the JVM exits. */
  def tmpDir(tag: String): String =
    org.apache.spark.sql.GraftBridge.createTempDir(s"graft-$tag").getPath

  /** Stage `df` as `n` parquet files in a fresh temp dir; returns the dir. */
  def stage(df: DataFrame, n: Int, tag: String): String = {
    val src = tmpDir(tag)
    df.repartition(n).write.mode("overwrite").parquet(src)
    src
  }

  /** Parquet file-stream source over `glob`, `n` files per micro-batch. */
  def feed(spark: SparkSession, schema: StructType, glob: String, n: Int): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", n).option("pathGlobFilter", "*.parquet")
      .parquet(glob)

  /** Run a started query over everything its source holds, then stop it
    * (also when a batch fails). */
  def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Run `body` with the session conf `kvs` set, then restore each key: a
    * key that was unset before is unset again, not pinned to its default. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
