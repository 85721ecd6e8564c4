package graft.etl

import graft.Ckpt.{Ops => CkptOps}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Linkage}
import graft.queries.Staging.withConf

/** Incremental entity-resolution state as bucketed on-disk stores — the
  * 100 TB form of streaming golden-record maintenance, where every
  * per-batch read and write is proportional to the TOUCHED blocks and
  * entities, never the corpus (the reference's Redis processed-set has no
  * analog for this; the operator extends its incremental-ingest idea,
  * utils.py:27-36, to cluster state):
  *
  *   - '''history''' — the record store, hash-bucketed by BLOCKING KEY
  *     (nation × mktsegment — the key [[Linkage.blockedPairs]] joins on)
  *     inside per-batch partition dirs
  *     (`ingest_batch=<id>/blk_bucket=<b>`), rows sorted by the full
  *     block hash `blk_key` within each file. Appending a batch
  *     overwrites only its own batch dir (replay of an at-least-once
  *     redelivery rewrites the same records — idempotent, never
  *     double-appended). Block-bucketing serves BOTH per-batch reads:
  *     the new×history candidate join prunes to the buckets of the
  *     blocks present in the batch (pairs only form within a block), and
  *     the merged-cluster member fetch prunes to the same buckets —
  *     match edges are block-internal, so every cluster is
  *     BLOCK-CONFINED and every member of a touched cluster lives in a
  *     block some batch record belongs to. When the batch touches ≤
  *     [[InPushdownCap]] distinct blocks (the steady-state incremental
  *     case) the sorted `blk_key` additionally prunes at parquet
  *     row-group level inside each bucket. Neither read ever scans the
  *     corpus.
  *   - '''fwd''' — a single-hop label-forwarding table (retired_label →
  *     current_label), written as one immutable version per merging
  *     batch (`v=<batchId>`). This replaces the O(|V|) (node, comp_id)
  *     map rewrite entirely: records are never relabeled in place; a
  *     merge remaps existing values through itself and appends the
  *     labels it retires, so the table stays compacted (every value is
  *     a CURRENT label — resolution is one broadcast join, no chain
  *     walk). A batch reads the latest version BELOW its own id, so a
  *     redelivered batch recomputes byte-identical state instead of
  *     contracting against its own half-written output. Size is
  *     O(#labels ever retired) = O(records absorbed into larger
  *     clusters) ≈ the duplicate count — a small fraction of any real
  *     corpus, and bounded below |V| − #clusters. fwd is LOAD-BEARING
  *     membership state (survivorship fetches a merged cluster's
  *     members via its preimage), so it is never truncated — it IS the
  *     compact cluster map; [[vacuumFwd]] drops superseded versions.
  *   - '''golden''' — survivorship rows hash-bucketed by cluster id: a
  *     batch stages the refreshed content of exactly the buckets holding
  *     a retired or refreshed cluster row (reading only those buckets'
  *     survivors), then swaps the staged bucket dirs in with driver-side
  *     renames — untouched buckets are never read, and the staged write
  *     is durable before any live dir is replaced.
  *
  * There is no separate membership or registry store: for every node x
  * of a non-singleton cluster c, either x = c or fwd carries x → c (x
  * entered with label x; the merge that absorbed it retired that label —
  * maintained inductively by the single-hop compaction). So members(c) =
  * fwd-preimage(c) ∪ {c}, and the set of nodes ever matched is exactly
  * fwd.retired ∪ fwd.cur — both read straight off the tiny forwarding
  * table. The batch-equality invariant of the quotient fold carries
  * over: labels are min member ids and merges resolve through CURRENT
  * labels, so the maintained golden store equals the batch
  * [[Linkage.goldenRecords]] at every boundary (ErLedgerSpec pins it,
  * including a cluster-bridging batch and a redelivered batch).
  * ScaleCheck's `ledger` mode folds one fixed batch into corpora of
  * growing size and shows per-batch time flat while a full history scan
  * grows linearly. */
object ErLedger {

  /** Bucket fan-out for the golden store. 32 matches the local[32]
    * test harness; a cluster deployment raises it with corpus size
    * (buckets are partition dirs — pruning works at any count). */
  val PkBuckets = 32

  /** Bucket fan-out for the history store. Deliberately SMALLER than
    * the golden fan-out: every batch writes one file per bucket it
    * touches, so the bucket count is a file-count-vs-prune-granularity
    * trade — and the fine-grained work is done by the sorted blk_key
    * row-group prune anyway (the dir prune only divides by the bucket
    * count). A cluster deployment raises it with corpus size. */
  val HistBuckets = 8

  /** Golden-store bucket: hash of the cluster id (a primary key). */
  def pkBucket(c: Column): Column = pmod(hash(c), lit(PkBuckets))

  /** Driver-side twin of [[pkBucket]] — `hash()` over one LongType
    * column is Murmur3 of the long with Spark's fixed seed 42, so the
    * steady-state path can place touched clusters into buckets without
    * a Spark job. Parity with the Column form is spec-pinned
    * (ErLedgerSpec); a mismatch would silently corrupt the golden
    * store's copy-on-write bucket selection. */
  def pkBucketLocal(id: Long): Int =
    math.floorMod(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42), PkBuckets)

  /** History-store block key: hash of the blocking key — the join key
    * of [[Linkage.blockedPairs]]. Must hash the SAME columns. */
  def blkKey(nation: Column, segment: Column): Column =
    hash(nation, segment)

  /** Parquet pushes an `In` filter to row-group stats only up to
    * `spark.sql.parquet.pushdown.inFilterThreshold` values (default 10
    * — which would disable the fine-grained prune for any batch
    * touching >10 blocks). [[foldBatch]] raises the session threshold
    * to this cap for the fold's reads; past it the dir-level bucket
    * prune alone bounds the read. */
  val InPushdownCap = 1024

  /** Edge cap for the driver-side union-find over the CONTRACTED pair
    * graph. The contraction bounds that graph by the batch's pair count
    * (never the corpus), so a steady-state micro-batch is a few
    * thousand edges — a distributed CC fixpoint would spend several
    * jobs per micro-batch on it. Past the cap (bulk backfill batches)
    * the distributed fixpoint takes over. */
  val DriverCcCap = 200000

  /** Row cap for localizing the fwd table on the driver (the
    * steady-state fast path); past it the fold runs on distributed
    * frames. 100k (retired, cur) pairs ≈ 1.6 MB — the same data the
    * contraction would broadcast anyway. */
  val FwdLocalCap = 100000

  /** Cap on distinct blocks pulled to the driver per batch; a batch
    * spanning more blocks than this skips bucket pruning and reads the
    * whole history prefix (the bulk-backfill regime, where it reads
    * almost everything anyway). */
  val BlockListCap = 100000

  private val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  private def emptyFwd(ss: SparkSession): DataFrame =
    ss.range(0).select(col("id").as("retired"), col("id").as("cur"))

  private def fs(ss: SparkSession): FileSystem =
    FileSystem.get(ss.sparkContext.hadoopConfiguration)

  private def fwdVersions(ss: SparkSession, fwdDir: String): Seq[Long] = {
    val p = new Path(fwdDir)
    val f = fs(ss)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.drop(2).toLong)
  }

  /** The forwarding table as of BEFORE `batchId` — what a (re)delivered
    * batch must contract against for deterministic replay. */
  def readFwdBefore(ss: SparkSession, fwdDir: String, batchId: Long): DataFrame =
    fwdVersions(ss, fwdDir).filter(_ < batchId) match {
      case vs if vs.isEmpty => emptyFwd(ss)
      case vs => ss.read.parquet(s"$fwdDir/v=${vs.max}")
    }

  /** The latest forwarding table (audits + final reads). */
  def readFwd(ss: SparkSession, fwdDir: String): DataFrame =
    fwdVersions(ss, fwdDir) match {
      case vs if vs.isEmpty => emptyFwd(ss)
      case vs => ss.read.parquet(s"$fwdDir/v=${vs.max}")
    }

  /** Drop all fwd versions except the newest (call at any quiet point;
    * readers always name a concrete version so this never races a
    * same-session read plan that was already resolved). */
  def vacuumFwd(ss: SparkSession, fwdDir: String): Unit = {
    val vs = fwdVersions(ss, fwdDir)
    if (vs.nonEmpty) vs.filter(_ != vs.max)
      .foreach(v => fs(ss).delete(new Path(s"$fwdDir/v=$v"), true))
  }

  /** History rows pruned to the touched blocks: dir-level on
    * `blk_bucket`, and — when the batch touches ≤ [[InPushdownCap]]
    * distinct blocks — row-group-level on the sorted `blk_key`. */
  private def readHist(ss: SparkSession, histDir: String,
      buckets: Option[Seq[Int]], keys: Option[Seq[Int]], cond: Column): DataFrame = {
    val base = ss.read.option("basePath", histDir).parquet(histDir).filter(cond)
    val bk = buckets.fold(base)(bs => base.filter(col("blk_bucket").isin(bs: _*)))
    keys.fold(bk)(ks => bk.filter(col("blk_key").isin(ks: _*)))
      .drop("ingest_batch", "blk_bucket", "blk_key")
  }

  // ---- the stored SymSpell core index (`_vars`) ----------------------
  //
  // Above [[graft.operators.Linkage.BoundedIncrementalMinHist]] pruned
  // history rows, re-hashing history to deletion cores every micro-batch
  // is the fold's last history-LINEAR per-batch compute (quadratic
  // summed over an ingest). The ledger then maintains the index the
  // bounded tier needs as a store of its own: one `_vars` table beside
  // the record store (the `_` prefix hides it from the history reads'
  // file listing), per-batch partition dirs mirroring history's layout
  // (`ingest_batch=<id>/blk_bucket=<b>`, rows sorted by blk_key), so
  //   - each record is hashed ONCE per ingest (its batch's write),
  //   - the candidate join reads index rows with the SAME dir/row-group
  //     pruning as the record store (vk folds the block keys, so a
  //     history record matching a batch record shares its blk_key —
  //     the prune-safety argument of readHist verbatim),
  //   - replay overwrites the replayed batch's own dir — idempotent.
  // Below the crossover none of this runs (zero extra write jobs — the
  // r16 measurement that kept the re-hash form locally).

  private def varsDirOf(histDir: String): String =
    s"${histDir.stripSuffix("/")}/_vars"

  /** Index rows of a record frame in the ledger's block layout. */
  private def varsOf(df: DataFrame): DataFrame =
    Linkage.deletionCoreIndex(df, depth = 2)
      .withColumn("blk_key", blkKey(col("bn"), col("bs")))
      .withColumn("blk_bucket", pmod(col("blk_key"), lit(HistBuckets)))
      .select(col("ck"), col("vk"), col("blk_key"), col("blk_bucket"))

  private def writeVars(df: DataFrame, varsDir: String, batchId: Long): Unit =
    varsOf(df)
      .sortWithinPartitions("blk_bucket", "blk_key")
      .write.partitionBy("blk_bucket").mode("overwrite")
      .parquet(s"$varsDir/ingest_batch=$batchId")

  private def batchDirs(ss: SparkSession, dir: String): Set[Long] = {
    val p = new Path(dir)
    val f = fs(ss)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_batch="))
      .map(_.drop("ingest_batch=".length).toLong).toSet
  }

  /** Backfill `_vars` partitions for history batches written before the
    * ingest crossed the index threshold (or by an older ledger): one
    * linear hash pass per missing batch, ONCE per ingest — afterwards
    * every fold appends only its own batch's rows. Reads the missing
    * batches UNPRUNED: future batches may touch any block. */
  private def ensureVars(ss: SparkSession, histDir: String, varsDir: String,
      batchId: Long): Unit =
    (batchDirs(ss, histDir).filter(_ < batchId) -- batchDirs(ss, varsDir))
      .toSeq.sorted.foreach { id =>
        writeVars(
          ss.read.option("basePath", histDir).parquet(s"$histDir/ingest_batch=$id")
            .drop("ingest_batch", "blk_bucket", "blk_key"),
          varsDir, id)
      }

  /** Stored index rows pruned to the touched blocks — the exact
    * [[readHist]] pruning applied to the `_vars` table. */
  private def readVars(ss: SparkSession, varsDir: String,
      buckets: Option[Seq[Int]], keys: Option[Seq[Int]], cond: Column): DataFrame = {
    val base = ss.read.option("basePath", varsDir).parquet(varsDir).filter(cond)
    val bk = buckets.fold(base)(bs => base.filter(col("blk_bucket").isin(bs: _*)))
    keys.fold(bk)(ks => bk.filter(col("blk_key").isin(ks: _*)))
      .select(col("ck"), col("vk"))
  }

  /** Fold one record batch into the ledger: write history, generate the
    * batch's candidate pairs against the batch-blocks' history only,
    * contract them to current labels, merge, and refresh exactly the
    * touched golden buckets. Idempotent under batch redelivery
    * end-to-end: the history dir rewrites itself, the fwd version
    * rewrites byte-identically (the contraction reads only versions
    * below the batch id), and the golden refresh recomputes the same
    * bucket contents.
    *
    * CONTRACT: redelivery idempotence holds for the LATEST batch only —
    * the single-writer at-least-once regime foreachBatch provides, where
    * the only batch that can replay is the last uncommitted one. The fwd
    * rewrite is byte-identical for ANY replayed id, but the golden
    * refresh recomputes touched buckets from the CURRENT golden store and
    * history `< batchId`: replaying an older batch after later batches
    * committed would regress those buckets to the older view. */
  def foldBatch(batch: DataFrame, batchId: Long, histDir: String,
      fwdDir: String, goldenDir: String): Unit = {
    val b = batch.graftCheckpoint() // consumed by write + bucket probe + pair gen
    val ss = b.sparkSession
    // Scoped for the fold: parquet pushes IN row-group filters only up to
    // inFilterThreshold values (default 10), which would disable the
    // sorted-blk_key prune for any batch touching more than 10 blocks —
    // i.e. for every realistic batch.
    withConf(ss, "spark.sql.parquet.pushdown.inFilterThreshold" -> InPushdownCap.toString) {
      // The batch's distinct block hashes, ONE bounded collect (`limit`
      // runs before the pull): the bucket list derives from them on the
      // driver. Past BlockListCap blocks the batch is a bulk load — skip
      // pruning and read the whole prefix it would touch anyway.
      val fine = b.select(blkKey(col("c_nationkey"), col("c_mktsegment")).as("k"))
        .distinct().limit(BlockListCap + 1).collect().map(_.getInt(0)).toSeq
      val bb = if (fine.length > BlockListCap) None
        else Some(fine.map(k => math.floorMod(k, HistBuckets)).distinct)
      val fineKeys = if (fine.length <= InPushdownCap) Some(fine) else None
      // History FIRST, so every later read in this or any retried batch
      // sees a complete prefix. Per-batch dir overwrite = replay-idempotent.
      // Rows are sorted by blk_key inside each bucket file so parquet
      // row-group stats prune the fine-grained reads.
      b.withColumn("blk_key", blkKey(col("c_nationkey"), col("c_mktsegment")))
        .withColumn("blk_bucket", pmod(col("blk_key"), lit(HistBuckets)))
        .sortWithinPartitions("blk_bucket", "blk_key")
        .write.partitionBy("blk_bucket").mode("overwrite")
        .parquet(s"$histDir/ingest_batch=$batchId")
      // The touched-block history prefix: persisted because both the
      // candidate join and the member fetch read it — O(touched blocks)
      // rows by the pruning above, never the corpus.
      val histPrev = readHist(ss, histDir, bb, fineKeys,
        col("ingest_batch") < batchId).persist(lvl)
      try {
        import ss.implicits._
        // The fwd table, localized behind a cap: ONE bounded pull makes
        // the steady-state batch's state transitions memory-resident —
        // the contraction joins broadcast a LocalRelation for free, the
        // fold and member-preimage run on the driver, and the
        // touched-bucket set needs no Spark job. Past FwdLocalCap rows
        // every step falls back to the distributed frame; the cap bounds
        // the collect the same way DriverCcCap bounds the pair pull.
        val fwdLocal: Option[Map[Long, Long]] = {
          val vs = fwdVersions(ss, fwdDir).filter(_ < batchId)
          if (vs.isEmpty) Some(Map.empty[Long, Long])
          else {
            val r = ss.read.parquet(s"$fwdDir/v=${vs.max}")
              .limit(FwdLocalCap + 1).collect()
            if (r.length <= FwdLocalCap)
              Some(r.map(x => x.getLong(0) -> x.getLong(1)).toMap)
            else None
          }
        }
        val fwd: DataFrame = fwdLocal match {
          case Some(m) => m.toSeq.toDF("retired", "cur")
          case None => readFwdBefore(ss, fwdDir, batchId)
        }
        // Contract pairs to CURRENT labels through the fwd table —
        // intra-cluster pairs vanish; what remains is the bridging-label
        // graph, O(batch pairs) at any corpus size. With a LOCAL fwd map
        // the contraction runs on the driver over the raw pair pull (no
        // broadcast joins, no distinct exchange in the hot job); with a
        // distributed fwd it runs as broadcast joins before the pull.
        // Either pull is `limit`-bounded by DriverCcCap; past the cap the
        // distributed CC fixpoint takes over.
        // r17: THREE-tier, size-adaptive pair generation over the pruned
        // history (every tier emits IDENTICAL pairs — the maxDist ≤ 2
        // deletion-neighborhood completeness argument; ErLedgerSpec pins
        // the boundary equalities across tiers):
        //   - below Linkage.BoundedIncrementalMinHist pruned rows, the
        //     exhaustive block cross — one verify join, the cheapest
        //     per-batch plan while |batch|·|hist-block| is small (the r16
        //     unconditional bounded tier paid its fixed multi-exchange
        //     barrier chain here for nothing);
        //   - above it, the bounded tier fed from the STORED core index
        //     (`_vars`): history is hashed once per ingest, not once per
        //     micro-batch — re-hashing was the fold's last history-linear
        //     per-batch compute. The count() is on the already-persisted
        //     frame the pair join consumes anyway.
        val histN = histPrev.count()
        val pairs =
          if (histN < Linkage.BoundedIncrementalMinHist)
            Linkage.blockedPairsIncremental(b, histPrev, maxDist = 2)
          else {
            val varsDir = varsDirOf(histDir)
            ensureVars(ss, histDir, varsDir, batchId)
            writeVars(b, varsDir, batchId) // own rows, for future folds
            Linkage.boundedPairsIncrementalIndexed(b,
              readVars(ss, varsDir, bb, fineKeys, col("ingest_batch") < batchId),
              histPrev, maxDist = 2)
          }
        lazy val cp = {
          val f = fwd // force the frame only on this path
          pairs
            .join(broadcast(f.select(col("retired").as("ra"), col("cur").as("ca0"))),
              col("cust_a") === col("ra"), "left")
            .join(broadcast(f.select(col("retired").as("rb"), col("cur").as("cb0"))),
              col("cust_b") === col("rb"), "left")
            .select(coalesce(col("ca0"), col("cust_a")).as("ca"),
              coalesce(col("cb0"), col("cust_b")).as("cb"))
            .filter(col("ca") =!= col("cb"))
            .select(col("ca").as("src"), col("cb").as("dst")).distinct()
        }
        val edgesLocal: Option[Array[(Long, Long)]] = fwdLocal match {
          case Some(fm) =>
            val raw = pairs.select(col("cust_a"), col("cust_b"))
              .limit(DriverCcCap + 1).collect()
            if (raw.length > DriverCcCap) None
            else Some(raw.map { r =>
              (fm.getOrElse(r.getLong(0), r.getLong(0)),
                fm.getOrElse(r.getLong(1), r.getLong(1)))
            }.filter(e => e._1 != e._2))
          case None =>
            val raw = cp.limit(DriverCcCap + 1).collect()
            if (raw.length > DriverCcCap) None
            else Some(raw.map(r => (r.getLong(0), r.getLong(1))))
        }
        // Driver-side union-find over the contracted edges. Union by min
        // root keeps labels = min member ids — the invariant that makes
        // maintained state equal the batch recompute.
        val mergeLocal: Option[Seq[(Long, Long)]] = edgesLocal.map { es =>
          val parent = scala.collection.mutable.Map.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
            r
          }
          es.foreach { case (ea, eb) =>
            val (a, b2) = (find(ea), find(eb))
            if (a != b2) { if (a < b2) parent(b2) = a else parent(a) = b2 }
          }
          parent.keys.toSeq.map(n => n -> find(n))
            .filter { case (n, c) => n != c }
        }
        (fwdLocal, mergeLocal) match {
          case (_, Some(mg)) if mg.isEmpty => () // no merges: no state change
          case (Some(fm), Some(mg)) =>
            // Steady-state path, everything driver-resident: fold the
            // merge through the fwd map in memory (remap existing values,
            // append the retired labels — keeps the single-hop invariant),
            // one tiny LocalRelation write per store, member preimage and
            // touched buckets with zero extra jobs. Writes only v=batchId
            // from state strictly below it, so replay rewrites the same
            // bytes.
            val mgMap = mg.toMap
            val newFwdRows =
              fm.toSeq.map { case (r, c) => (r, mgMap.getOrElse(c, c)) } ++ mg
            newFwdRows.toDF("retired", "cur").coalesce(1)
              .write.mode("overwrite").parquet(s"$fwdDir/v=$batchId")
            val mergedNew = mg.map(_._2).distinct
            val mset = mergedNew.toSet
            val memberLab =
              (newFwdRows.filter(p => mset(p._2)) ++ mergedNew.map(c => (c, c)))
                .toDF("member", "cluster_id")
            val touched = (mg.map(_._1) ++ mg.map(_._2)).distinct
            goldenRefresh(ss, goldenDir, batchId,
              redoneOf(b, histPrev, memberLab),
              touched.toDF("cluster_id"),
              touched.map(pkBucketLocal).toSet)
          case (_, ml) =>
            // Bulk regime (fwd or the pair graph past its cap): the same
            // transitions as distributed frames. fwd fold reads only
            // versions below batchId and writes v=batchId — no
            // read-your-own-write, so replay stays byte-identical.
            val merge = ml match {
              case Some(mg) => mg.toDF("retired", "cur")
              case None => Graph.connectedComponents(cp)
                .filter(col("node") =!= col("comp_id"))
                .select(col("node").as("retired"), col("comp_id").as("cur"))
                .graftCheckpoint() // consumed 3× below
            }
            val newFwd = fwd
              .join(merge.select(col("retired").as("mr"), col("cur").as("mc")),
                fwd("cur") === col("mr"), "left")
              .select(fwd("retired"), coalesce(col("mc"), fwd("cur")).as("cur"))
              .unionByName(merge)
            newFwd.write.mode("overwrite").parquet(s"$fwdDir/v=$batchId")
            val fwdNow = ss.read.parquet(s"$fwdDir/v=$batchId")
            // Members of every refreshed cluster, straight off the fwd
            // table: preimage(cur) ∪ {cur} — no corpus scan, no map store.
            val mergedNew = merge.select(col("cur")).distinct()
            val memberLab = fwdNow.join(mergedNew, Seq("cur"), "left_semi")
              .select(col("retired").as("member"), col("cur").as("cluster_id"))
              .unionByName(mergedNew
                .select(col("cur").as("member"), col("cur").as("cluster_id")))
            val touched = merge.select(col("retired").as("cluster_id"))
              .unionByName(merge.select(col("cur").as("cluster_id"))).distinct()
            val tb = ml match {
              case Some(mg) =>
                (mg.map(_._1) ++ mg.map(_._2)).map(pkBucketLocal).toSet
              case None => touched.select(pkBucket(col("cluster_id")).as("b"))
                .distinct().collect().map(_.getInt(0)).toSet
            }
            goldenRefresh(ss, goldenDir, batchId,
              redoneOf(b, histPrev, memberLab), touched, tb)
        }
      } finally histPrev.unpersist()
    }
  }

  /** Survivorship rows for the refreshed clusters: members resolved
    * through `memberLab` (member → cluster_id), records from frames
    * ALREADY pruned to the batch's blocks (clusters are block-confined)
    * — the persisted history prefix plus the batch itself. One
    * aggregation computes the whole golden row; the canonical name
    * rides along as max(name | member = cluster_id), no second join. */
  private def redoneOf(b: DataFrame, histPrev: DataFrame,
      memberLab: DataFrame): DataFrame =
    histPrev.unionByName(b.select(histPrev.columns.map(col): _*))
      .join(broadcast(memberLab), col("c_custkey") === col("member"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"), max("c_acctbal").as("max_bal"),
        max(when(col("c_custkey") === col("cluster_id"), col("c_name")))
          .as("golden_name"))
      .select("cluster_id", "golden_name", "n_members", "max_bal")

  /** Golden refresh, copy-on-write: stage the refreshed content of the
    * touched buckets (their untouched-cluster survivors carry over via
    * the anti-join), then swap bucket dirs in with driver renames. The
    * staged write is DURABLE before any live dir is replaced, and a
    * touched bucket with no staged dir lost its last cluster — its live
    * dir is dropped. ≤ PkBuckets fs ops, metadata-scale; the stage
    * repartitions by bucket so each live bucket lands as ONE file. */
  private def goldenRefresh(ss: SparkSession, goldenDir: String,
      batchId: Long, redone: DataFrame, touched: DataFrame,
      tb: Set[Int]): Unit = {
    // "exists" must mean live bucket dirs, not a bare directory — a
    // caller may pre-create the path (tmpDir does), and a parquet read
    // over an empty dir fails schema inference
    val gp = new Path(goldenDir)
    val f = fs(ss)
    val goldenExists = f.exists(gp) &&
      f.listStatus(gp).exists(_.getPath.getName.startsWith("g_bucket="))
    val prevG =
      if (goldenExists)
        ss.read.option("basePath", goldenDir).parquet(goldenDir)
          .filter(col("g_bucket").isin(tb.toSeq: _*)).drop("g_bucket")
      else redone.limit(0)
    val content = prevG
      .join(touched, Seq("cluster_id"), "left_anti")
      .unionByName(redone)
      .withColumn("g_bucket", pkBucket(col("cluster_id")))
      .repartition(col("g_bucket"))
    val stage = s"$goldenDir.stage-$batchId"
    content.write.partitionBy("g_bucket").mode("overwrite").parquet(stage)
    val staged = f.listStatus(new Path(stage)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("g_bucket="))
    f.mkdirs(gp)
    val writtenB = staged.map(_.getName.drop("g_bucket=".length).toInt).toSet
    (tb -- writtenB).foreach { bkt =>
      f.delete(new Path(s"$goldenDir/g_bucket=$bkt"), true)
    }
    staged.foreach { p =>
      val dst = new Path(s"$goldenDir/${p.getName}")
      f.delete(dst, true)
      f.rename(p, dst)
    }
    f.delete(new Path(stage), true)
  }

  /** Compact the history store: fold every batch partition dir with id
    * ≤ `upTo` into ONE consolidated `ingest_batch=upTo` dir (same
    * bucket layout, rows re-sorted by blk_key so the row-group prune
    * stays sharp). The per-batch layout otherwise grows one dir ×
    * touched buckets per batch forever; after compaction the prefix is
    * ≤ [[HistBuckets]] files and every prefix read (candidate join,
    * member fetch) lists bounded metadata. CONTRACT: `upTo` must not
    * exceed the last COMMITTED batch — an at-least-once redelivery can
    * only replay batches above the sink's committed offset, and
    * replaying a compacted-away batch would re-append its rows.
    * Single-writer maintenance op (the vacuum class): the consolidated
    * stage is durable (dot-prefixed — invisible to partition
    * discovery) before any source dir is deleted; crash recovery =
    * rename the stage in. */
  def compactHistory(ss: SparkSession, histDir: String, upTo: Long): Unit = {
    val f = fs(ss)
    val root = new Path(histDir)
    if (!f.exists(root)) return
    val dirs = f.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("ingest_batch="))
      .filter(_.getName.drop("ingest_batch=".length).toLong <= upTo)
    if (dirs.length <= 1) return
    val stage = new Path(root, s".compact-$upTo")
    ss.read.option("basePath", histDir).parquet(dirs.map(_.toString): _*)
      .drop("ingest_batch")
      .repartition(col("blk_bucket"))
      .sortWithinPartitions("blk_bucket", "blk_key")
      .write.partitionBy("blk_bucket").mode("overwrite").parquet(stage.toString)
    dirs.foreach(d => f.delete(d, true))
    f.rename(stage, new Path(root, s"ingest_batch=$upTo"))
  }

  /** The maintained golden store (drops the bucket layout column). */
  def readGolden(ss: SparkSession, goldenDir: String): DataFrame =
    ss.read.option("basePath", goldenDir).parquet(goldenDir).drop("g_bucket")

  /** Materialize the full (node, comp_id) cluster map from the fwd
    * table alone — the node set ever matched is fwd.retired ∪ fwd.cur
    * (every matched node either retired its label or absorbed one).
    * Boundary audits and batch-parity checks only; the per-batch hot
    * path never builds this O(matched) frame. */
  def readFullMap(ss: SparkSession, fwdDir: String): DataFrame = {
    val fwd = readFwd(ss, fwdDir)
    fwd.select(col("retired").as("node"))
      .unionByName(fwd.select(col("cur").as("node"))).distinct()
      .join(broadcast(fwd), col("node") === col("retired"), "left")
      .select(col("node"), coalesce(col("cur"), col("node")).as("comp_id"))
  }
}
