package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Generic keyed merge target for streaming aggregation state — the
  * scale-safe replacement for `complete`-output-mode aggregation into a
  * memory sink (which re-emits ALL state every trigger and collects it to
  * the driver).
  *
  * Model: aggregate state lives in a distributed keyed store, versioned by
  * micro-batch id. Each foreachBatch computes a PARTIAL aggregate of just
  * its micro-batch (map-side-combine across time), then merges it into the
  * previous version and writes `state_v<batchId>`:
  *
  *   - per-batch work = batch delta + one keyed merge (shuffle on the
  *     keys), never a full re-aggregation of history on the driver;
  *   - merge functions must be associative-commutative (min / sum — exact
  *     DECIMAL for money so cross-batch merging equals the one-shot batch
  *     aggregate bit-for-bit; callers cast decimal partials to
  *     decimal(38,2) so the state schema is stable across versions);
  *   - idempotent under foreachBatch's at-least-once replay: a batch
  *     replayed after a crash re-reads the SAME previous version (ids
  *     below its own) and overwrites its own output dir — the
  *     checkpoint-restart test in StreamingSpec exercises this.
  *
  * At 100 TB the version dirs become a transactional keyed table
  * (Delta/Hudi MERGE, or the reference's Postgres upsert); versioned
  * parquet is the dependency-free equivalent with the same plan shape.
  */
object KeyedStateSink {

  private def versionDir(root: String, v: Long) = s"$root/state_v$v"

  private def versions(spark: SparkSession, root: String): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .collect { case s if s.startsWith("state_v") => s.drop("state_v".length).toLong }
      .toSeq
  }

  /** Merge a micro-batch's partial aggregate into the state. `minCols` are
    * combined with min, `sumCols` with sum; all other columns must be
    * keys. */
  def merge(root: String, keys: Seq[String], minCols: Seq[String], sumCols: Seq[String])(
      partial: DataFrame, batchId: Long): Unit = {
    val spark = partial.sparkSession
    val prior = versions(spark, root).filter(_ < batchId)
    val readVersion = prior.maxOption
    val merged = readVersion match {
      case Some(pv) =>
        val aggs = minCols.map(c => min(col(c)).as(c)) ++ sumCols.map(c => sum(col(c)).as(c))
        spark.read.parquet(versionDir(root, pv)).unionByName(partial)
          .groupBy(keys.map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
          // sum() widens decimals / preserves longs; reselect in partial's
          // column order and types so every version has one stable schema
          .select(partial.columns.toIndexedSeq.map(c => col(c).cast(partial.schema(c).dataType)): _*)
      case None => partial
    }
    merged.write.mode("overwrite").parquet(versionDir(root, batchId))
    // prune relative to what was actually READ (keep pv, delete older):
    // a crash between this write and the checkpoint commit replays batchId,
    // which re-reads pv — pruning `< batchId - 1` instead would delete pv
    // whenever batch ids have gaps, silently resetting state to the partial
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    readVersion.foreach(pv =>
      prior.filter(_ < pv).foreach(v => fs.delete(new Path(versionDir(root, v)), true)))
  }

  /** Latest merged state; an empty frame of schema `empty` if no batch
    * committed. */
  def read(spark: SparkSession, root: String, empty: StructType): DataFrame =
    versions(spark, root).maxOption match {
      case Some(v) => spark.read.parquet(versionDir(root, v))
      case None => spark.createDataFrame(java.util.List.of[Row](), empty)
    }
}

/** The minhash-cluster dedup instance of [[KeyedStateSink]]: batch rows are
  * (doc_id, sig); state is (sig, rep=min doc_id, n_docs=count). */
object ClusterStateSink {

  /** foreachBatch hook: batch rows are (doc_id, sig). */
  def merge(root: String)(batch: DataFrame, batchId: Long): Unit = {
    val partial = batch.groupBy("sig")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs"))
    KeyedStateSink.merge(root, Seq("sig"), minCols = Seq("rep"), sumCols = Seq("n_docs"))(
      partial, batchId)
  }

  /** Latest merged state: (sig, rep, n_docs). */
  def read(spark: SparkSession, root: String): DataFrame =
    KeyedStateSink.read(spark, root, StructType.fromDDL("sig STRING, rep BIGINT, n_docs BIGINT"))
}
