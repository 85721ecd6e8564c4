package graft

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.etl.{BtcPipeline, Schemas}

/** The pipeline over the deterministic corpus of [[BtcDayFiles]]: four
  * days, 2013-01-01 (partial) → 2013-01-04, plus two invalid names.
  * Expected values are pinned from an independent DuckDB `read_csv` scan
  * of the written files (FIXTURES §A.4), never from the pipeline: a row is
  * kept when its file name is valid, its Time is set and at least one
  * metric is set, and the sink keeps one row per minute. */
class BtcPipelineSpec extends SparkSpec {

  // DuckDB over BtcDayFiles.writeAll
  private val PreDropRows = 8170L
  private val PostDropRows = 1761L
  private val SinkRows = 1760L // PostDropRows less the in-file duplicate minute
  private val DayRows = Map(
    "2013-01-01" -> 320L, "2013-01-02" -> 480L, "2013-01-03" -> 480L, "2013-01-04" -> 480L)

  /** Runs `body` on a temporary directory whose `src/` holds the corpus. */
  private def withCorpus[T](body: String => T): T = withTempDir { tmp =>
    BtcDayFiles.writeAll(s"$tmp/src")
    body(tmp)
  }

  private def sinkRows(sink: String): Long = spark.read.parquet(sink).count()

  private def ledgerPaths(ledger: String): Set[String] = {
    import spark.implicits._
    spark.read.parquet(ledger).as[String].collect().toSet
  }

  private def ledgerFiles(ledger: String): Set[String] =
    new File(ledger).listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet

  /** The source files as `backfill` lists them: fully qualified. */
  private def listed(src: String): Set[String] = {
    val p = new Path(src)
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .map(_.getPath.toString).filter(_.endsWith(".csv")).toSet
  }

  test("golden: post-drop row count (how='all' on 7 metrics)") {
    withCorpus { tmp =>
      assert(BtcPipeline.transformPaths(spark, Seq(s"$tmp/src")).count() === PostDropRows)
    }
  }

  test("golden: pre-drop row count over all 6 listed files") {
    withCorpus { tmp =>
      val raw = spark.read.option("header", "true").schema(Schemas.btcCsv).csv(s"$tmp/src")
      assert(raw.count() === PreDropRows)
      assert(raw.select(input_file_name()).distinct().count() === 6L)
    }
  }

  test("golden: min/max date_time") {
    withCorpus { tmp =>
      val r = BtcPipeline.transformPaths(spark, Seq(s"$tmp/src")).agg(
        date_format(min("date_time"), "yyyy-MM-dd HH:mm:ss"),
        date_format(max("date_time"), "yyyy-MM-dd HH:mm:ss")).head()
      assert(r.getString(0) === "2013-01-01 08:00:00")
      assert(r.getString(1) === "2013-01-04 23:19:00")
    }
  }

  test("golden: spot-check day total (2013-01-04: traded minutes, vol sum)") {
    withCorpus { tmp =>
      val r = BtcPipeline.transformPaths(spark, Seq(s"$tmp/src"))
        .filter(to_date(col("date_time")) === lit("2013-01-04"))
        .agg(count(lit(1)), sum(col("volume_btc")))
        .head()
      assert(r.getLong(0) === DayRows("2013-01-04"))
      assert(r.getDouble(1) === 480.0)
    }
  }

  test("sink schema matches the reference DDL shape (btc_etl.py:73-82)") {
    withCorpus { tmp =>
      val out = BtcPipeline.transformPaths(spark, Seq(s"$tmp/src"))
      assert(out.columns.toSeq === Schemas.sinkCols)
      val types = out.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      assert(types("date_time") === "timestamp")
      assert(Schemas.sinkCols.tail.forall(c => types(c) === "double"))
    }
  }

  test("watch phase: streams reference-shaped files into the sink exactly once") {
    withTempDir { tmp =>
      val src = s"$tmp/src"
      BtcDayFiles.writeDay(src, "2013-01-01")
      java.nio.file.Files.writeString( // ignored by the *.csv glob
        java.nio.file.Paths.get(s"$src/not-a-valid-name.csv.bak"), "junk")
      val q = BtcPipeline.watch(spark, src, s"$tmp/sink", s"$tmp/ckpt")
      try {
        q.processAllAvailable()
        assert(sinkRows(s"$tmp/sink") === DayRows("2013-01-01"))

        // a new file lands while watching -> picked up incrementally
        BtcDayFiles.writeDay(src, "2013-01-02")
        q.processAllAvailable()
      } finally q.stop()
      val n2 = DayRows("2013-01-01") + DayRows("2013-01-02")
      assert(sinkRows(s"$tmp/sink") === n2, "new file must be ingested")

      // restart from the same checkpoint: nothing re-ingested
      val q2 = BtcPipeline.watch(spark, src, s"$tmp/sink", s"$tmp/ckpt")
      try q2.processAllAvailable() finally q2.stop()
      assert(sinkRows(s"$tmp/sink") === n2, "checkpoint restart must not duplicate rows")
    }
  }

  test("backfill is idempotent via the ledger (FIXTURES §A.5)") {
    withCorpus { tmp =>
      val (src, sink, ledger) = (s"$tmp/src", s"$tmp/sink", s"$tmp/ledger")
      // first run ingests everything; second run must add nothing
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(sinkRows(sink) === SinkRows)
      val perDate = spark.read.parquet(sink).groupBy(date_format(col("date"), "yyyy-MM-dd"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perDate === DayRows)
      // every listed file is ledgered, the invalid names included
      assert(ledgerPaths(ledger) === listed(src))
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(sinkRows(sink) === SinkRows, "second backfill over the same files must be a no-op")
      // the sink is date-partitioned (hypertable analog, btc_etl.py:99-101)
      assert(new File(sink).listFiles().exists(_.getName.startsWith("date=")))
    }
  }

  test("cross-batch PK: replaying a processed file after ledger loss adds zero rows") {
    withCorpus { tmp =>
      val (src, sink) = (s"$tmp/src", s"$tmp/sink")
      BtcPipeline.backfill(spark, src, sink, s"$tmp/ledger")
      assert(sinkRows(sink) === SinkRows)
      // simulate ledger loss: the file-level skip is gone, the files are
      // re-read — but the sink-side PK anti-join must reject every row
      org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$tmp/ledger"))
      BtcPipeline.backfill(spark, src, sink, s"$tmp/ledger")
      assert(sinkRows(sink) === SinkRows,
        "replayed rows must be rejected by the cross-batch PK anti-join")
    }
  }

  test("NOT NULL PK: null-Time rows are dropped and cannot multiply on replay") {
    withTempDir { tmp =>
      val src = s"$tmp/src"; new File(src).mkdirs()
      // a null Time with non-null metrics survives dropna(how='all') but
      // yields a null date_time — the reference's PRIMARY KEY would reject it
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$src/btcusd-2013-02-01.csv"),
        """Time,Open,High,Low,Close,Volume_(BTC),Volume_(Currency),Weighted_Price
          |,1,2,3,4,5,6,7
          |00:01:00,1,2,3,4,5,6,7
          |""".stripMargin)
      val sink = s"$tmp/sink"
      BtcPipeline.backfill(spark, src, sink, s"$tmp/ledger")
      val rows1 = spark.read.parquet(sink)
      assert(rows1.count() === 1L, "null date_time row must not reach the sink")
      assert(rows1.filter(col("date_time").isNull).count() === 0L)
      // ledger loss + replay: null keys never match a left_anti join, so
      // without the NOT NULL filter every replay would append another null row
      org.apache.commons.io.FileUtils.deleteDirectory(new File(s"$tmp/ledger"))
      BtcPipeline.backfill(spark, src, sink, s"$tmp/ledger")
      assert(spark.read.parquet(sink).count() === 1L,
        "replay after ledger loss must add zero rows, including null-PK rows")
    }
  }

  test("dedupPk keeps the lexicographically-smallest metric row per key") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2013-01-01 00:00:00")
    val conflicting = Seq(
      (ts, 9.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0),
      (ts, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0),
      (java.sql.Timestamp.valueOf("2013-01-01 00:01:00"), 8.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0),
    ).toDF(Schemas.sinkCols: _*)
    // deterministic regardless of input order / partitioning
    for (df <- Seq(conflicting, conflicting.orderBy(col("open_price").desc).repartition(7))) {
      val kept = BtcPipeline.dedupPk(df).orderBy("date_time").collect()
      assert(kept.length === 2)
      assert(kept(0).getDouble(1) === 1.0, "min metric tuple survives")
      assert(kept(1).getDouble(1) === 8.0)
    }
  }

  test("appendBatch: rows preserved, date= directories, partition pruning works") {
    withCorpus { tmp =>
      val rows = BtcPipeline.transformPaths(spark, Seq(s"$tmp/src"))
      BtcPipeline.appendBatch(rows, s"$tmp/sink")
      val back = spark.read.parquet(s"$tmp/sink")
      assert(back.count() === PostDropRows)
      assert(new File(s"$tmp/sink").listFiles().count(_.getName.startsWith("date=")) === 4)
      val pruned = back.filter(col("date") === lit("2013-01-02"))
      assert(pruned.collect().length === DayRows("2013-01-02"))
      val scan = pruned.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get
      assert(scan.metrics("numFiles").value === 1L, "only the one date's file is read")
    }
  }

  test("a crashed first sink append's _temporary/ does not block backfill") {
    withCorpus { tmp =>
      new File(s"$tmp/sink/_temporary/0").mkdirs()
      BtcPipeline.backfill(spark, s"$tmp/src", s"$tmp/sink", s"$tmp/ledger")
      assert(sinkRows(s"$tmp/sink") === SinkRows)
    }
  }

  test("a crashed first ledger append's _temporary/ does not block backfill") {
    withCorpus { tmp =>
      new File(s"$tmp/ledger/_temporary/0").mkdirs()
      BtcPipeline.backfill(spark, s"$tmp/src", s"$tmp/sink", s"$tmp/ledger")
      assert(sinkRows(s"$tmp/sink") === SinkRows)
      assert(ledgerPaths(s"$tmp/ledger") === listed(s"$tmp/src"))
    }
  }

  test("ledger: two backfills over disjoint new files leave the union; a no-op adds no file") {
    withTempDir { tmp =>
      val (src, sink, ledger) = (s"$tmp/src", s"$tmp/sink", s"$tmp/ledger")
      Seq("2013-01-01", "2013-01-02").foreach(BtcDayFiles.writeDay(src, _))
      BtcPipeline.backfill(spark, src, sink, ledger)
      val first = listed(src)
      assert(ledgerPaths(ledger) === first)
      assert(ledgerFiles(ledger).size === 1, "one ledger file per call")

      Seq("2013-01-03", "2013-01-04").foreach(BtcDayFiles.writeDay(src, _))
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(listed(src).size === 4)
      assert(ledgerPaths(ledger) === listed(src))
      assert(ledgerFiles(ledger).size === 2)
      assert(sinkRows(sink) === SinkRows)

      val files = ledgerFiles(ledger)
      BtcPipeline.backfill(spark, src, sink, ledger)
      assert(ledgerFiles(ledger) === files, "a no-op rerun must not add a ledger file")
    }
  }

  test("ledger: one written by the old rewrite protocol is read and appended to unchanged") {
    withTempDir { tmp =>
      import spark.implicits._
      val (src, sink, ledger) = (s"$tmp/src", s"$tmp/sink", s"$tmp/ledger")
      Seq("2013-01-01", "2013-01-02").foreach(BtcDayFiles.writeDay(src, _))
      val old = listed(src)
      // the old protocol: overwrite-write the whole ledger to `.tmp`, then rename
      old.toSeq.toDF("path").repartition(2).write.mode("overwrite").parquet(s"$ledger.tmp")
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$ledger.tmp"), java.nio.file.Paths.get(ledger))
      def bytes(name: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(ledger, name))
      val oldFiles = ledgerFiles(ledger).map(n => n -> bytes(n).toSeq).toMap

      Seq("2013-01-03", "2013-01-04").foreach(BtcDayFiles.writeDay(src, _))
      BtcPipeline.backfill(spark, src, sink, ledger)
      // ledgered days are skipped: only the new days reach the empty sink
      assert(sinkRows(sink) === DayRows("2013-01-03") + DayRows("2013-01-04"))
      assert(ledgerPaths(ledger) === listed(src))
      oldFiles.foreach { case (n, b) => assert(bytes(n).toSeq === b, s"$n changed") }
      assert(ledgerFiles(ledger).size === oldFiles.size + 1)
    }
  }
}
