package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event for the stateful sessionizer (µs epoch carries event time). */
case class SessEv(user_id: Long, us: Long, event_id: Long)

/** Per-user session state / emitted closed session. session_id counts from
  * 1 per user, matching the batch sessionizer's running-sum numbering. */
case class Sess(user_id: Long, session_id: Long, start_us: Long, end_us: Long, n_events: Long)

/** Gap-based sessionization as a STREAMING stateful operator
  * (`flatMapGroupsWithState`) — the custom-state form of the batch
  * `window_sessionize` query: a >30-min inactivity gap closes a session;
  * closed sessions emit in append mode as soon as the next event proves
  * the gap; the user's open session rides the state store across
  * micro-batches (and restarts, via the checkpoint).
  *
  * Determinism contract: per-user event-time order must be non-decreasing
  * ACROSS micro-batches (within a batch the function sorts). The catalog
  * query stages the corpus range-partitioned by time so file pickup order
  * is chronological — the same assumption an event-time-ordered log (e.g.
  * a Kafka partition keyed by user) gives this operator in production. */
object SessionizeStream {

  val GapUs: Long = 1800L * 1000000L

  def sessionize(user: Long, evs: Iterator[SessEv], state: GroupState[Sess]): Iterator[Sess] = {
    var cur = state.getOption
    val out = scala.collection.mutable.ArrayBuffer[Sess]()
    evs.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
      cur match {
        case Some(s) if e.us - s.end_us <= GapUs =>
          cur = Some(s.copy(end_us = e.us, n_events = s.n_events + 1))
        case Some(s) =>
          out += s
          cur = Some(Sess(user, s.session_id + 1, e.us, e.us, 1))
        case None =>
          cur = Some(Sess(user, 1L, e.us, e.us, 1))
      }
    }
    cur.foreach(state.update)
    out.iterator
  }

  /** Catalog query body: stage events chronologically, drain the stateful
    * stream, return closed sessions (every session except each user's
    * last — the open one stays in state, as in any unbounded run). */
  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.Staging._

    val events = tbl(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
    // two chronological chunks with pinned ascending modification times:
    // the file source orders new files by (modTime, path), so pickup =
    // event-time order, which is the operator's ordered-log assumption
    val glob = StreamQueries.stageChronological(
      spark, events, chunks = 2, orderCols = Seq(col("us"), col("event_id")), tag = "streamsess")

    val sessions = feed(spark, events.schema, glob, 1)
      .as[SessEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionize _)

    val out = tmpDir("streamsesssink")
    drain(sessions.toDF().writeStream
      .format("parquet").option("path", out).outputMode("append")
      .option("checkpointLocation", tmpDir("streamsessckpt"))
      .start())

    spark.read.parquet(out)
      .select(
        col("user_id"), col("session_id"), col("n_events"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss").as("start_s"),
        date_format(timestamp_micros(col("end_us")), "yyyy-MM-dd HH:mm:ss").as("end_s"))
      .orderBy("user_id", "session_id")
  }
}
