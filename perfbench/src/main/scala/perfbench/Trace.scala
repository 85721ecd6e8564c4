package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Pipeline layers, named after the methods on `BtcPipeline`'s path. A
  * driver thread is in a layer while that method is on its stack. */
object Layers {
  val Listing = "etl.listing"
  val Transform = "etl.transformPaths"
  val Dedup = "etl.dedupPk"
  val SinkProbe = "etl.antiJoinSinkDates"
  val Append = "etl.appendBatch"
  val Ledger = "etl.ledger"
  val BatchOther = "etl.foreachBatch"
  val Engine = "streaming.engine"
  val Other = "other"

  val backfillOrder: Seq[String] = Seq(Listing, Transform, Dedup, SinkProbe, Append, Ledger)

  private val named: Map[(String, String), String] = Map(
    ("graft.etl.BtcPipeline$", "transformPaths") -> Transform,
    ("graft.etl.BtcPipeline$", "dedupPk") -> Dedup,
    ("graft.etl.BtcPipeline$", "antiJoinSinkDates") -> SinkProbe,
    ("graft.etl.BtcPipeline$", "appendBatch") -> Append,
    ("graft.etl.Ops$", "antiJoinLedger") -> Listing,
    ("graft.etl.Ops$", "ledgerAppend") -> Ledger)

  /** The layer of one stack sample (innermost frame first). `after` is the
    * last named layer seen in the same backfill call: `backfill` runs its
    * layers in order, so its own unnamed code (the listing, the ledger
    * swap) belongs to the layer it sits between. */
  def classify(st: Array[StackTraceElement], after: String): String = {
    var i = st.length - 1
    var root: String = null
    while (i >= 0) {
      val f = st(i)
      if (root == null) {
        if (f.getClassName == "graft.etl.BtcPipeline$") {
          if (f.getMethodName == "backfill") root = "backfill"
          else if (f.getMethodName.contains("$anonfun$watch")) root = "batch"
        }
      } else {
        val n = named.get((f.getClassName, f.getMethodName))
        if (n.isDefined) return n.get
      }
      i -= 1
    }
    root match {
      case "backfill" =>
        if (after == null || after == Listing) Listing
        else if (after == Append || after == Ledger) Ledger
        else after
      case "batch" => BatchOther
      case _ => if (st.exists(_.getClassName.contains("StreamExecution"))) Engine else Other
    }
  }
}

/** Samples the stacks of the threads that run pipeline code, every
  * `periodMs` while active, and splits their wall time into layers: each
  * interval between two samples goes to the layer of the later sample.
  * The timeline kept beside it attributes Spark jobs to the layer that was
  * waiting on them. */
final class Sampler(threads: () => Seq[Thread], periodMs: Long) {
  private val spans = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val timeline = mutable.ArrayBuffer[(Long, String)]()
  private val last = mutable.Map[Thread, String]()
  @volatile private var active = false
  @volatile private var running = true
  private var t0 = 0L

  private val worker = new Thread(() => {
    while (running) {
      sample(force = false)
      try Thread.sleep(periodMs) catch { case _: InterruptedException => () }
    }
  }, "perfbench-sampler")
  worker.setDaemon(true)
  worker.start()

  private def sample(force: Boolean): Unit = synchronized {
    if (active || force) {
      val now = System.nanoTime()
      val ms = System.currentTimeMillis()
      val dt = (now - t0) / 1e9
      t0 = now
      threads().foreach { t =>
        val layer = Layers.classify(t.getStackTrace, last.getOrElse(t, null))
        if (Layers.backfillOrder.contains(layer)) last(t) = layer
        spans(layer) += dt
        timeline += ms -> layer
      }
    }
  }

  /** Starts a sampling window; a backfill call starts with the listing. */
  def resume(): Unit = synchronized {
    last.clear()
    t0 = System.nanoTime()
    active = true
  }

  /** Ends the window, with one last sample so the window is covered. */
  def pause(): Unit = synchronized {
    active = false
    sample(force = true)
  }

  def stop(): Unit = {
    running = false
    worker.interrupt()
    worker.join()
  }

  def spanSeconds: Map[String, Double] = synchronized(spans.toMap)

  /** The layer a driver thread was in at or right after `ms`. */
  def layerAt(ms: Long): String = synchronized {
    timeline.find(_._1 >= ms).orElse(timeline.lastOption).map(_._2).getOrElse(Layers.Other)
  }
}

/** Jobs and completed stages as the scheduler reports them. */
final class SparkTrace extends SparkListener {
  final case class Job(id: Int, submitMs: Long, listing: Boolean)
  final case class Stage(
      jobId: Int, startMs: Long, endMs: Long, tasks: Int, runS: Double, cpuS: Double,
      gcS: Double, spill: Long, inRecords: Long, shuffleBytes: Long, outBytes: Long)

  private val jobsQ = new ConcurrentLinkedQueue[Job]()
  private val stagesQ = new ConcurrentLinkedQueue[Stage]()
  private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    jobsQ.add(Job(e.jobId, e.time, desc.exists(_.startsWith("Listing leaf files"))))
    e.stageIds.foreach(s => jobOfStage.putIfAbsent(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stagesQ.add(Stage(
      jobOfStage.getOrDefault(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten))
  }

  /** Everything seen since the last call. */
  def take(): (Seq[Job], Seq[Stage]) = {
    val js = Iterator.continually(jobsQ.poll()).takeWhile(_ != null).toVector
    val ss = Iterator.continually(stagesQ.poll()).takeWhile(_ != null).toVector
    (js, ss)
  }
}

/** Micro-batch progress of the watch query: per-phase durations. The
  * caller keeps the batches its file-source log lists: `numInputRows` can
  * read 0 for a batch that did take files, as `foreachBatch` reads them. */
final class StreamTrace extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(p.batchId -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
  def take(): Seq[(Long, Map[String, Long])] =
    Iterator.continually(progress.poll()).takeWhile(_ != null).toVector
}

/** Splits what the listeners and the sampler saw over a set of operations
  * into the per-layer metrics. Every value is a mean per operation (a
  * backfill call, or a watch micro-batch). */
object Attribution {

  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total / 1e3
  }

  def metrics(
      ops: Int,
      spanSeconds: Map[String, Double],
      jobs: Seq[SparkTrace#Job],
      stages: Seq[SparkTrace#Stage],
      layerAt: Long => String): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    val spans = spanSeconds.withDefaultValue(0.0)
    val jobLayer = jobs.map(j => j.id -> layerAt(j.submitMs)).toMap
    val listingJobs = jobs.filter(_.listing).map(_.id).toSet
    def inLayer(l: String) = stages.filter(s => jobLayer.get(s.jobId).contains(l))
    def listingTasks(l: String) =
      inLayer(l).filter(s => listingJobs(s.jobId)).map(_.tasks).sum / n
    val append = inLayer(Layers.Append)
    val scan = append.filter(_.inRecords > 0)
    val sink = append.filter(_.outBytes > 0)
    val gap = spans(Layers.Append) - union(append.map(s => s.startMs -> s.endMs))
    Map(
      "etl.listing.s" -> spans(Layers.Listing) / n,
      "etl.transformPaths.s" -> spans(Layers.Transform) / n,
      "etl.transformPaths.listing_tasks" -> listingTasks(Layers.Transform),
      "etl.dedupPk.s" -> spans(Layers.Dedup) / n,
      "etl.antiJoinSinkDates.s" -> spans(Layers.SinkProbe) / n,
      "etl.antiJoinSinkDates.listing_tasks" -> listingTasks(Layers.SinkProbe),
      "etl.appendBatch.s" -> spans(Layers.Append) / n,
      "etl.appendBatch.driver_gap_s" -> gap / n,
      "etl.ledger.s" -> spans(Layers.Ledger) / n,
      "etl.foreachBatch.s" -> spans(Layers.BatchOther) / n,
      "spark.scan.run_s" -> scan.map(_.runS).sum / n,
      "spark.scan.cpu_s" -> scan.map(_.cpuS).sum / n,
      "spark.scan.records" -> scan.map(_.inRecords).sum / n,
      "spark.exchange.bytes" -> append.map(_.shuffleBytes).sum / n,
      "spark.sink.run_s" -> sink.map(_.runS).sum / n,
      "spark.sink.cpu_s" -> sink.map(_.cpuS).sum / n,
      "spark.sink.bytes" -> sink.map(_.outBytes).sum / n,
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> stages.size / n,
      "spark.tasks" -> stages.map(_.tasks).sum / n,
      "spark.gc_s" -> stages.map(_.gcS).sum / n,
      "spark.spill_bytes" -> stages.map(_.spill).sum / n)
  }
}
