package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's per-file ETL (btc_etl.py:137-182) over a directory of
  * `btcusd-YYYY-MM-DD.csv` minute-bar files, re-expressed as one
  * declarative plan that serves both phases: `backfill` runs it over a
  * batch scan, `watch` over a Structured Streaming scan. Both shape rows
  * with `shape` and land them with `ingest`.
  *
  * Scale notes (the reference processes one pandas frame per file on a
  * thread pool; this runs one Spark task per file split):
  *   - the glob scan parallelises across the cluster; with 100 TB of daily
  *     files the unit of parallelism stays the file — no shuffle anywhere
  *     in the shaping (scan -> filter -> project is narrow),
  *   - the filename-validity filter and date extraction run on the
  *     already-scanned `input_file_name()`, not a separate listing pass,
  *   - the ledger anti-join broadcasts the (small) ledger; the fact side
  *     never shuffles,
  *   - the sink partitions by date, so downstream reads prune by time like
  *     the reference's TimescaleDB hypertable (btc_etl.py:99-101).
  */
object BtcPipeline {

  /** Files the watch query takes per micro-batch. */
  private val MaxFilesPerTrigger = 16

  /** Clustered date-partitioned append to the parquet sink: rows
    * repartition on the partition column so one writer task serves each
    * date instead of tasks × dates small files. */
  def appendBatch(df: DataFrame, sinkPath: String): Unit =
    df.withColumn("date", to_date(col("date_time")))
      .select((Schemas.sinkCols :+ "date").map(col): _*)
      .repartition(col("date"))
      .write.mode("append").partitionBy("date").parquet(sinkPath)

  /** Rows of `df` whose file, named by the last segment of `path`, has a
    * valid reference name (utils.py:5-15), with that file's date as
    * `file_date` (utils.py:19-21). Applied to the scanned rows and to the
    * backfill's listing. */
  private def validFiles(df: DataFrame, path: Column): DataFrame =
    df.withColumn("_file", regexp_extract(path, "([^/]+)$", 1))
      .filter(Ops.isValidBtcFilename(col("_file")))
      .withColumn("file_date", Ops.dateFromFilename(col("_file")))

  /** The per-file transform (btc_etl.py:150-176) over a raw CSV scan,
    * batch or streaming: filename validity, file date, all-null drop,
    * timestamp, rename/select, NOT NULL PK. Returns the sink-shaped frame
    * (date_time + 7 renamed metric columns). */
  private def shape(raw: DataFrame): DataFrame = {
    val kept = Ops.dropAllNull(validFiles(raw, input_file_name()), Schemas.metricCols)
    val stamped = kept
      .withColumn("date_time", Ops.makeTimestamp(col("file_date"), col("Time")))
    // NOT NULL PK semantics (btc_etl.py:74): a null/unparseable Time yields
    // a null date_time, which the reference's PRIMARY KEY would reject
    // outright — and which would defeat the PK dedup + sink anti-join
    // downstream (null keys never match a left_anti join, so every replay
    // would append another null-PK row).
    Ops.renameAndSelect(stamped).filter(col("date_time").isNotNull)
  }

  /** Scan + shape a directory or an explicit file list (the backfill
    * passes only the not-yet-ingested delta). */
  def transformPaths(spark: SparkSession, paths: Seq[String]): DataFrame =
    shape(spark.read
      .option("header", "true")
      .schema(Schemas.btcCsv)
      .option("pathGlobFilter", "*.csv")
      .csv(paths: _*))

  /** Land a shaped batch with the reference's global `date_time PRIMARY
    * KEY` semantics (btc_etl.py:74): within-batch deterministic PK dedup,
    * then a cross-batch PK anti-join against the sink dates the batch
    * covers, then the append. `dates` must hold every date in `shaped`. */
  private def ingest(shaped: DataFrame, sinkPath: String, dates: Seq[java.sql.Date]): Unit =
    appendBatch(antiJoinSinkDates(dedupPk(shaped), sinkPath, dates), sinkPath)

  /** The unbounded "watch" phase (btc_etl.py:185-228): a Structured
    * Streaming query over the same directory. The file-source checkpoint
    * replaces watchdog + the Redis processed-set with exactly-once file
    * tracking; `foreachBatch` ingests each micro-batch into the same
    * date-partitioned sink as the backfill. Returns the running query —
    * callers stop() it (prod would awaitTermination). On a first start with
    * a fresh checkpoint the source lists existing files too, so a single
    * streaming query covers backfill+watch (SURVEY §2.1 #19). */
  def watch(
      spark: SparkSession,
      srcDir: String,
      sinkPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    shape(spark.readStream
      .option("header", "true")
      .schema(Schemas.btcCsv)
      .option("pathGlobFilter", "*.csv")
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .csv(srcDir))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the PK dedup + sink anti-join in `ingest` also make the
        // at-least-once foreachBatch replay after a crash effectively
        // exactly-once (replayed rows hit the anti-join and vanish)
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val dates = b.select(to_date(col("date_time"))).distinct().collect()
            .map(_.getDate(0)).toSeq
          ingest(b, sinkPath, dates)
        } finally { b.unpersist(); () }
      }
      .start()

  /** Deterministic PRIMARY-KEY dedup: one row per `date_time`, keeping the
    * lexicographically-smallest metric tuple (min over a struct of the sink
    * metric columns). Unlike dropDuplicates — whose survivor depends on
    * partitioning and task order — reruns produce identical sink contents,
    * matching the repo's cross-engine determinism stance. */
  private[graft] def dedupPk(df: DataFrame): DataFrame = {
    val metrics = Schemas.sinkCols.filterNot(_ == "date_time")
    df.groupBy("date_time")
      .agg(min(struct(metrics.map(col): _*)).as("_m"))
      .select(col("date_time") +: metrics.map(m => col(s"_m.$m").as(m)): _*)
  }

  /** Cross-batch PRIMARY KEY enforcement (btc_etl.py:74): drop incoming
    * rows whose `date_time` already exists in the sink. Reads ONLY the sink
    * date partitions matching the batch's dates (static partition pruning
    * on the literal date list), so the probe cost is bounded by the batch's
    * date span — not sink size — at 100 TB. The sink is read with its known
    * schema: a sink holding only a crashed first append's `_temporary/`
    * has no footer to infer one from, and reads as empty. */
  private[graft] def antiJoinSinkDates(
      batch: DataFrame,
      sinkPath: String,
      dates: Seq[java.sql.Date]): DataFrame = {
    val spark = batch.sparkSession
    val sinkP = new Path(sinkPath)
    val fs = sinkP.getFileSystem(spark.sessionState.newHadoopConf())
    if (dates.isEmpty || !fs.exists(sinkP)) batch
    else {
      val existing = spark.read.schema(Schemas.sink).parquet(sinkPath)
        .filter(col("date").isin(dates: _*))
        .select("date_time")
      batch.join(existing, Seq("date_time"), "left_anti")
    }
  }

  /** Full backfill with FILE-level skip: the ledger anti-join happens on
    * the directory LISTING (metadata), before any data is read — at 100 TB
    * the job scans only the not-yet-ingested delta, exactly like the
    * reference's is_processed check before pd.read_csv
    * (btc_etl.py:115,130,152). Then the delta is shaped and ingested (a
    * replayed file after ledger loss adds zero rows), and the ledger is
    * appended last: sink-then-ledger ordering means a crash between the two
    * reprocesses the file into an idempotent partitioned sink rather than
    * losing it — the same at-least-once stance as btc_etl.py:144,180,
    * upgraded by the streaming checkpoint in the watch phase.
    *
    * The ledger is append-only, like the reference's `SADD` (utils.py:32-36):
    * each call adds one parquet file of the paths it processed, published
    * by the output committer's rename, so a crash never loses what earlier
    * calls recorded. */
  def backfill(
      spark: SparkSession,
      srcDir: String,
      sinkPath: String,
      ledgerPath: String): Unit = {
    import spark.implicits._
    val hconf = spark.sessionState.newHadoopConf()

    val ledgerP = new Path(ledgerPath)
    val ledger: DataFrame =
      if (ledgerP.getFileSystem(hconf).exists(ledgerP))
        spark.read.schema("path STRING").parquet(ledgerPath)
      else Seq.empty[String].toDF("path")

    // metadata-level listing through the Hadoop FileSystem API — the same
    // code path works on file://, hdfs:// and s3a:// (java.io.File would be
    // dead on a cluster store); rows = files, so the collect is bounded by
    // the delta file count. Paths are kept fully qualified.
    val srcP = new Path(srcDir)
    val listed = srcP.getFileSystem(hconf).listStatus(srcP)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".csv"))
      .map(_.getPath.toString).toSeq
    val freshPaths = Ops.antiJoinLedger(listed.toDF("path"), ledger, "path")
      .as[String].collect().sorted.toSeq
    if (freshPaths.isEmpty) return

    // cross-batch PK scope derived from the FILENAMES (metadata, no data
    // scan): every surviving row's date is its file's date
    val batchDates = validFiles(freshPaths.toDF("path"), col("path"))
      .select("file_date").as[java.sql.Date].collect().toSeq

    ingest(transformPaths(spark, freshPaths), sinkPath, batchDates)

    freshPaths.toDF("path").coalesce(1).write.mode("append").parquet(ledgerPath)
  }
}
