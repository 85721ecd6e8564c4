package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.etl.BtcPipeline

/** Drives `graft.etl.BtcPipeline` through its public calls on a generated
  * corpus (see gen.py) and prints one `RESULT {...}` line.
  *
  *   perfbench.Main <workload> <seconds> <trace 0|1> <dataDir> <workDir>
  *
  * `dataDir` holds `corpus/` (732 days), `extra/` (later days, landed one
  * at a time) and `expected.tsv` (rows per date the sink must hold); the
  * harness starts its Spark session first and then waits for `READY` in
  * it, so the generator runs beside the session start. Without tracing a
  * run reports the end-to-end metrics; with tracing it also repeats the
  * same operations on the same state with listeners and a stack sampler
  * attached, and reports the per-layer metrics.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val Array(workload, seconds, trace, data, work) = argv
    val b = new Bench(seconds.toDouble, trace == "1", data, work)
    val ok =
      try workload match {
        case "backfill_bulk" => b.bulk()
        case "watch_tail" => b.watchTail()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally b.close()
    sys.exit(if (ok) 0 else 1)
  }
}

/** One measured operation: its latency and what it committed. */
final case class Op(seconds: Double, rows: Long, files: Int, bytes: Long, dates: Int)

final class Bench(seconds: Double, traced: Boolean, data: String, work: String) {
  private val cores = 4
  var spark: SparkSession = session(cores)
  private val sessionS =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  private val ready: Long = {
    val deadline = System.nanoTime() + 120000000000L
    while (!new File(s"$data/READY").exists()) {
      require(System.nanoTime() < deadline, "no corpus")
      Thread.sleep(10)
    }
    System.nanoTime()
  }

  /** Set-up time: the session start (from JVM start) plus the workload's
    * own set-up after the corpus is there. */
  private def setupS: Double = sessionS + (System.nanoTime() - ready) / 1e9

  private val corpus = s"$data/corpus"
  private val extra = s"$data/extra"
  private val expected: Map[String, Map[String, Long]] =
    Files.readAllLines(Paths.get(s"$data/expected.tsv")).asScala.toSeq
      .map(_.split("\t")).groupBy(_(0))
      .map { case (k, rows) => k -> rows.map(r => r(1) -> r(2).toLong).toMap }
  private val corpusWant = expected("corpus")
  private val extraWant = expected("extra")
  private val extraDays = extraWant.keys.toSeq.sorted
  private val corpusCsv = new File(corpus).list().filter(_.endsWith(".csv")).toSet

  private var attempted = 0
  private var failed = 0
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  private def session(n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def close(): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  // ---- files and checks ----------------------------------------------

  private def rm(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  private def copyTree(from: String, to: String): Unit = {
    rm(to)
    val src = Paths.get(from)
    Files.walk(src).forEach { f =>
      val t = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }
  }

  /** Moves a file in with one atomic rename, as a producer would land it. */
  private def land(from: String, toDir: String): Unit = {
    Files.createDirectories(Paths.get(toDir))
    Files.move(Paths.get(from), Paths.get(toDir, Paths.get(from).getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Parquet files in the sink: path -> bytes. */
  private def sinkFiles(sink: String): Map[String, Long] = {
    val p = Paths.get(sink)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet") && !f.toString.contains("/_temporary"))
      .map(f => f.toString -> Files.size(f)).toMap
  }

  /** Runs a check's own reads with partition discovery on the driver, so
    * checks stay cheap and add no listing jobs beside the measured ones. */
  private def checking[T](body: => T): T = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, "1000000")
    try body finally spark.conf.unset(key)
  }

  /** Dates whose rows differ from the generator's, or repeat a date_time;
    * with `only`, just those date partitions are read. */
  private def badDates(sink: String, want: Map[String, Long], only: Option[Set[String]]): Set[String] = {
    val got = checking {
      val df = only match {
        case Some(ds) =>
          spark.read.option("basePath", sink).parquet(ds.toSeq.map(d => s"$sink/date=$d"): _*)
        case None => spark.read.parquet(sink)
      }
      df.groupBy(col("date").cast("string"))
        .agg(count(lit(1)), countDistinct(col("date_time")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val w = only.fold(want)(ds => want.filter(kv => ds(kv._1)))
    val bad = (got.keySet ++ w.keySet)
      .filterNot(d => got.get(d).contains((w.getOrElse(d, -1L), w.getOrElse(d, -1L))))
    if (bad.nonEmpty) log(s"sink check failed at $sink: " +
      bad.toSeq.sorted.take(5).map(d => s"$d want=${w.get(d)} got=${got.get(d)}").mkString("; "))
    bad
  }

  private def checkSink(sink: String, want: Map[String, Long], only: Option[Set[String]]): Boolean =
    badDates(sink, want, only).isEmpty

  private def names(paths: Iterable[String]): Set[String] =
    paths.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet

  /** Every landed file is in the backfill ledger. */
  private def checkLedger(ledger: String, landed: Set[String]): Boolean = {
    val have = names(spark.read.parquet(ledger).collect().map(_.getString(0)))
    if (!landed.subsetOf(have)) log(s"ledger misses ${(landed -- have).take(5)}")
    landed.subsetOf(have)
  }

  /** The watch query's ledger, its file-source log: batch -> file names. */
  private def streamLog(ckpt: String): Map[Long, Set[String]] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    Option(new File(s"$ckpt/sources/0").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .flatMap(l => entry.findFirstMatchIn(l).map(m => m.group(2).toLong -> m.group(1)))
      .groupBy(_._1).map { case (b, es) => b -> names(es.map(_._2)) }
  }

  /** A digest of the whole sink, to compare two runs' outputs. */
  private def digest(sink: String): (Long, String) = checking {
    val df = spark.read.parquet(sink)
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    r.getLong(0) -> r.getDecimal(1).toString
  }

  private def verdict(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) failed += 1
  }

  // ---- tracing ---------------------------------------------------------

  /** Listeners and the stack sampler, attached only inside `apply`. */
  private final class Tracing(threads: () => Seq[Thread]) {
    private val listener = new SparkTrace
    private val sampler = new Sampler(threads, 5)
    private val jobs = mutable.ArrayBuffer[SparkTrace#Job]()
    private val stages = mutable.ArrayBuffer[SparkTrace#Stage]()

    def apply[T](body: => T): T = {
      spark.sparkContext.addSparkListener(listener)
      sampler.resume()
      try body
      finally {
        sampler.pause()
        BenchBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val (j, s) = listener.take()
        jobs ++= j
        stages ++= s
      }
    }

    def finish(ops: Int): Map[String, Double] = {
      sampler.stop()
      Attribution.metrics(ops, sampler.spanSeconds, jobs.toSeq, stages.toSeq, sampler.layerAt)
    }
  }

  private def callerThread: () => Seq[Thread] = {
    val t = Thread.currentThread()
    () => Seq(t)
  }

  /** The watch query's micro-batch thread, found by name. */
  private def streamThread: () => Seq[Thread] = {
    var cached: Option[Thread] = None
    () => {
      if (!cached.exists(_.isAlive)) {
        var g = Thread.currentThread().getThreadGroup
        while (g.getParent != null) g = g.getParent
        val all = new Array[Thread](g.activeCount() * 2 + 16)
        cached = all.take(g.enumerate(all, true)).find(t =>
          t != null && t.getName.startsWith("stream execution thread"))
      }
      cached.toSeq
    }
  }

  // ---- reporting -------------------------------------------------------

  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = value -> unit

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def endToEnd(setup: Double, latencies: Seq[Double], ops: Seq[Op]): Unit = {
    val rows = ops.map(_.rows).sum.toDouble
    put("setup_s", setup, "s")
    put("latency_mean_s", latencies.sum / latencies.size, "s")
    put("sink_bytes_per_row", ops.map(_.bytes).sum / rows, "bytes")
    put("sink_files_per_date", ops.map(_.files).sum.toDouble / ops.map(_.dates).sum, "count")
  }

  private val layerUnits: Seq[(String, String)] = Seq(
    "etl.call_s" -> "s", "etl.span_sum_s" -> "s", "trace.overhead_s" -> "s",
    "etl.listing.s" -> "s", "etl.listing.noop_s" -> "s",
    "etl.transformPaths.s" -> "s", "etl.transformPaths.listing_tasks" -> "count",
    "etl.dedupPk.s" -> "s",
    "etl.antiJoinSinkDates.s" -> "s", "etl.antiJoinSinkDates.listing_tasks" -> "count",
    "etl.appendBatch.s" -> "s", "etl.appendBatch.driver_gap_s" -> "s",
    "etl.ledger.s" -> "s", "etl.foreachBatch.s" -> "s",
    "spark.scan.run_s" -> "s", "spark.scan.cpu_s" -> "s", "spark.scan.records" -> "count",
    "spark.exchange.bytes" -> "bytes",
    "spark.sink.run_s" -> "s", "spark.sink.cpu_s" -> "s", "spark.sink.bytes" -> "bytes",
    "spark.sink.files" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.gc_s" -> "s", "spark.spill_bytes" -> "bytes",
    "streaming.batches" -> "count", "streaming.files_per_batch" -> "count",
    "streaming.backlog_max" -> "count",
    "streaming.latestOffset_ms" -> "ms", "streaming.getBatch_ms" -> "ms",
    "streaming.queryPlanning_ms" -> "ms", "streaming.addBatch_ms" -> "ms",
    "streaming.walCommit_ms" -> "ms", "streaming.commitOffsets_ms" -> "ms",
    "streaming.triggerExecution_ms" -> "ms",
    "diag.local1_call_s" -> "s", "diag.st_over_mt" -> "x")

  /** Per-layer metrics; a layer the workload bypasses reads 0. */
  private def perLayer(m: Map[String, Double]): Unit =
    layerUnits.foreach { case (k, u) => put(k, m.getOrElse(k, 0.0), u) }

  /** Backfill spans: the traced call, the sum of its layers, and what
    * tracing added to the call. */
  private def backfillSpans(m: Map[String, Double], tracedCalls: Seq[Double],
      untracedCalls: Seq[Double]): Map[String, Double] = Map(
    "etl.call_s" -> tracedCalls.sum / tracedCalls.size,
    "etl.span_sum_s" -> Layers.backfillOrder.map(l => m(s"$l.s")).sum,
    "trace.overhead_s" -> (tracedCalls.sum - untracedCalls.sum) / tracedCalls.size)

  private def result(): Boolean = {
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": $v, "unit": "$u"}""" }
    val correct = failed == 0 && attempted > 0
    println(s"""RESULT {"correct": $correct, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": {${body.mkString(", ")}}}""")
    correct
  }

  // ---- workloads -------------------------------------------------------

  /** backfill_bulk: every call backfills the whole corpus into a fresh
    * sink and ledger. */
  def bulk(): Boolean = {
    // warm-up: one whole call, so the measured calls run compiled code
    BtcPipeline.backfill(spark, corpus, s"$work/warm/sink", s"$work/warm/ledger")
    rm(s"$work/warm")
    val setup = setupS
    var i = 0
    def call(tracing: Option[Tracing]): Op = {
      val sink = s"$work/bulk$i/sink"
      val ledger = s"$work/bulk$i/ledger"
      i += 1
      val (t, _) = timed(tracing match {
        case Some(tr) => tr(BtcPipeline.backfill(spark, corpus, sink, ledger))
        case None => BtcPipeline.backfill(spark, corpus, sink, ledger)
      })
      verdict(checkSink(sink, corpusWant, None) && checkLedger(ledger, corpusCsv))
      log(f"bulk call $i%d: $t%.2f s")
      val files = sinkFiles(sink)
      if (i > 2) rm(s"$work/bulk${i - 1}") // the first two are compared below
      Op(t, corpusWant.values.sum, files.size, files.values.sum, corpusWant.size)
    }
    if (!traced) {
      val ops = mutable.ArrayBuffer[Op]()
      while (ops.isEmpty || ops.map(_.seconds).sum < seconds) ops += call(None)
      endToEnd(setup, ops.map(_.seconds).toSeq, ops.toSeq)
      return result()
    }
    // traced: traced and untraced calls in pairs, the order alternating. Calls
    // still speed up a little from one to the next, so a single pair, traced
    // first, overstates the tracing overhead rather than hiding it.
    val tr = new Tracing(callerThread)
    val plain, withTrace = mutable.ArrayBuffer[Op]()
    while (plain.isEmpty || plain.map(_.seconds).sum < seconds) {
      if (plain.size % 2 == 0) { withTrace += call(Some(tr)); plain += call(None) }
      else { plain += call(None); withTrace += call(Some(tr)) }
    }
    val m = tr.finish(withTrace.size)
    verdict(digest(s"$work/bulk0/sink") == digest(s"$work/bulk1/sink"))
    // a rerun with nothing new: the listing and the ledger anti-join alone
    val (noop, _) =
      timed(BtcPipeline.backfill(spark, corpus, s"$work/bulk0/sink", s"$work/bulk0/ledger"))
    verdict(checkSink(s"$work/bulk0/sink", corpusWant, None))
    // diagnostic: the reference's single- against multi-threaded ratio
    spark.stop()
    spark = session(1)
    val (st, _) = timed(BtcPipeline.backfill(spark, corpus, s"$work/st/sink", s"$work/st/ledger"))
    verdict(checkSink(s"$work/st/sink", corpusWant, None))
    perLayer(m ++ backfillSpans(m, withTrace.map(_.seconds).toSeq, plain.map(_.seconds).toSeq) ++
      Map(
        "etl.listing.noop_s" -> noop,
        "spark.sink.files" -> withTrace.map(_.files).sum.toDouble / withTrace.size,
        "diag.local1_call_s" -> st,
        "diag.st_over_mt" -> st / median(plain.map(_.seconds).toSeq)))
    result()
  }

  /** watch_tail: a sink built by backfill, then the watch query on a tail
    * directory; files land on a fixed open-loop schedule and each one's
    * latency runs from its due time until its date partition is visible. */
  def watchTail(): Boolean = {
    val interval = 0.5
    val warm = 2
    val count = math.min(extraDays.size - warm, math.max(2, (seconds / interval).round.toInt))
    val sink = s"$work/sink"
    BtcPipeline.backfill(spark, corpus, sink, s"$work/ledger")
    if (traced) copyTree(sink, s"$work/snap/sink")
    var setup = 0.0
    val days = extraDays.take(warm + count)
    val timedDays = days.drop(warm)
    def visible(d: String): Boolean =
      Option(new File(s"$sink/date=$d").list()).exists(_.exists(_.endsWith(".parquet")))

    final case class Tail(latencies: Seq[Double], ops: Seq[Op], sinkFiles: Int, backlogMax: Int,
        addBatchS: Seq[Double], ckpt: String)

    /** A fresh watch query: `warm` files land and are awaited, then `count`
      * files land every `interval`. `tracing`, if any, is attached from the
      * query's start to its stop, not over the checks after it. */
    def tail(round: Int, tracing: Option[Tracing]): Tail = {
      val tailDir = s"$work/tail$round"
      val ckpt = s"$work/ckpt$round"
      Files.createDirectories(Paths.get(tailDir))
      val before = sinkFiles(sink)
      val due = Array.tabulate(count)(i => (i * interval * 1e9).toLong)
      val seen = Array.fill(count)(-1L)
      var landed = 0
      var backlog = 0
      def run(): Seq[StreamingQueryProgress] = {
        val q = BtcPipeline.watch(spark, tailDir, sink, ckpt)
        try {
          days.take(warm).foreach(d => land(s"$extra/btcusd-$d.csv", tailDir))
          val warmDeadline = System.nanoTime() + 120000000000L
          while (!days.take(warm).forall(visible) && System.nanoTime() < warmDeadline && q.isActive)
            Thread.sleep(5)
          if (round == 1) setup = setupS
          val t0 = System.nanoTime()
          val deadline = due.last + 120000000000L
          while (seen.exists(_ < 0) && System.nanoTime() - t0 < deadline && q.isActive) {
            val now = System.nanoTime() - t0
            if (landed < count && now >= due(landed)) {
              land(s"$extra/btcusd-${timedDays(landed)}.csv", tailDir)
              landed += 1
              backlog = math.max(backlog, (0 until landed).count(i => seen(i) < 0))
            }
            (0 until landed).foreach(i => if (seen(i) < 0 && visible(timedDays(i))) seen(i) = now)
            Thread.sleep(5)
          }
          // a date is visible before its batch ends: let the last batch report
          val last = streamLog(ckpt).keys.maxOption.getOrElse(-1L)
          val until = System.nanoTime() + 30000000000L
          while (q.isActive && !Option(q.lastProgress).exists(_.batchId >= last) &&
            System.nanoTime() < until) Thread.sleep(5)
          q.recentProgress.toSeq
        } finally q.stop()
      }
      val progress = tracing.fold(run())(tr => tr(run()))
      val added = sinkFiles(sink) -- before.keySet
      val batches = streamLog(ckpt)
      val logged = batches.values.flatten.toSet
      val bad = badDates(sink, days.map(d => d -> extraWant(d)).toMap, Some(days.toSet))
      days.foreach(d => verdict(!bad(d) && logged(s"btcusd-$d.csv")))
      verdict(seen.forall(_ >= 0))
      val ops = timedDays.map { d =>
        val mine = added.filter(_._1.contains(s"/date=$d/"))
        Op(0, extraWant(d), mine.size, mine.values.sum, 1)
      }
      val addBatch = progress.filter(p => batches.contains(p.batchId))
        .flatMap(p => Option(p.durationMs.get("addBatch")).map(_.longValue / 1e3))
      val lat = seen.indices.map(i => (seen(i) - due(i)) / 1e9)
      log(s"tail $round latencies " + lat.map(x => f"$x%.2f").mkString(" ") +
        "; files per batch " + batches.toSeq.sortBy(_._1).map(_._2.size).mkString(" "))
      Tail(lat, ops, added.size, backlog, addBatch, ckpt)
    }

    def mean(xs: Seq[Double]): Double = xs.sum / math.max(xs.size, 1)

    val u = tail(1, None)
    val want = corpusWant ++ days.map(d => d -> extraWant(d))
    verdict(checkSink(sink, want, None))
    if (!traced) {
      endToEnd(setup, u.latencies, u.ops)
      return result()
    }
    // traced: restore the sink, take the files back, replay the schedule
    val untraced = digest(sink)
    days.foreach(d => land(s"$work/tail1/btcusd-$d.csv", extra))
    copyTree(s"$work/snap/sink", sink)
    val progress = new StreamTrace
    spark.streams.addListener(progress)
    val tr = new Tracing(streamThread)
    val t = tail(2, Some(tr))
    BenchBridge.drainListeners(spark.sparkContext)
    spark.streams.removeListener(progress)
    val inRound = streamLog(t.ckpt)
    // the micro-batches that ran: an idle trigger has no addBatch phase
    val batches = progress.take().filter { case (b, d) => inRound.contains(b) && d.contains("addBatch") }
    val m = tr.finish(batches.size)
    verdict(digest(sink) == untraced)
    val nb = math.max(batches.size, 1).toDouble
    val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
      "commitOffsets", "triggerExecution")
    // per micro-batch: the pipeline's call is the foreachBatch function (addBatch)
    perLayer(m ++
      phases.map(p => s"streaming.${p}_ms" -> batches.map(_._2.getOrElse(p, 0L)).sum / nb) ++
      Map(
        "etl.call_s" -> mean(t.addBatchS),
        "etl.span_sum_s" -> Seq(Layers.Dedup, Layers.SinkProbe, Layers.Append, Layers.BatchOther)
          .map(l => m(s"$l.s")).sum,
        "trace.overhead_s" -> (mean(t.addBatchS) - mean(u.addBatchS)),
        "streaming.batches" -> batches.size.toDouble,
        "streaming.files_per_batch" -> days.size / nb,
        "streaming.backlog_max" -> t.backlogMax.toDouble,
        "spark.sink.files" -> t.sinkFiles / nb))
    result()
  }
}
