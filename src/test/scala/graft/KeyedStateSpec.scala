package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.streaming.KeyedStateSink
import java.nio.file.Files

/** The streaming state-merge kernel in isolation: cross-batch exact-decimal
  * merging and foreachBatch replay semantics. */
class KeyedStateSpec extends SparkSpec {
  import spark.implicits._

  private def partial(rows: Seq[(String, Long, BigDecimal)]) =
    rows.toDF("k", "n", "sum_dec")
      .select(col("k"), col("n"), col("sum_dec").cast("decimal(38,2)").as("sum_dec"))

  test("decimal merge across batches equals one-shot aggregate; replay is idempotent") {
    val root = Files.createTempDirectory("graft-kss-").toString
    val b0 = Seq(("a", 2L, BigDecimal("10.25")), ("b", 1L, BigDecimal("0.75")))
    val b1 = Seq(("a", 3L, BigDecimal("5.50")), ("c", 1L, BigDecimal("1.00")))
    KeyedStateSink.merge(root, Seq("k"), Nil, Seq("n", "sum_dec"))(partial(b0), 0L)
    KeyedStateSink.merge(root, Seq("k"), Nil, Seq("n", "sum_dec"))(partial(b1), 1L)
    // crash replay of batch 1: re-merges against version 0 and OVERWRITES
    // its own version — must not double-count
    KeyedStateSink.merge(root, Seq("k"), Nil, Seq("n", "sum_dec"))(partial(b1), 1L)
    val got = KeyedStateSink.read(spark, root, partial(Nil).schema).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSeq
    assert(got === Seq(("a", 5L, "15.75"), ("b", 1L, "0.75"), ("c", 1L, "1.00")))
  }

  test("Gram-cube merging is batch-split invariant: any split ladders to identical loadings") {
    // the stream_pca contract: per-(i,j) decimal(38,0) sums accumulated
    // through ANY batch split equal the one-shot corpus pass, so the
    // BigInt ladder downstream is bit-identical
    import graft.operators.Embeddings
    val dim = 8
    val rows = (0 until 36).map { i =>
      val v = Array.fill(dim)(0.001f * (i % 7))
      v(3) = if (i % 2 == 0) 0.8f else -0.8f
      (i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    def statsVia(splits: Seq[Seq[Int]], root: String): org.apache.spark.sql.DataFrame = {
      splits.zipWithIndex.foreach { case (ids, b) =>
        val part = Embeddings.gramStatsOf(
          emb.filter(col("vec_id").isInCollection(ids.map(_.toLong))), dim)
          .select(col("i"), col("j"), col("s").cast("decimal(38,0)").as("s"), col("n"))
        KeyedStateSink.merge(root, Seq("i", "j"), Nil, Seq("s", "n"))(part, b.toLong)
      }
      KeyedStateSink.read(spark, root, StructType.fromDDL("i INT, j INT, s DECIMAL(38,0), n BIGINT"))
    }
    val even = statsVia((0 until 36).grouped(12).toSeq,
      Files.createTempDirectory("graft-kss-pca-a-").toString)
    val skewed = statsVia(Seq(0 until 30, 30 until 33, 33 until 36).map(_.toSeq),
      Files.createTempDirectory("graft-kss-pca-b-").toString)
    val l0 = Embeddings.pcaLoadingsFromStats(Embeddings.gramStatsOf(emb, dim), 6, dim)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lA = Embeddings.pcaLoadingsFromStats(even, 6, dim)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lB = Embeddings.pcaLoadingsFromStats(skewed, 6, dim)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lA === l0 && lB === l0,
      s"merged-state loadings must equal the one-shot pass: $l0 / $lA / $lB")
    assert(l0(3L) === 1000000L)
  }

  test("NB count-cube merging is batch-split invariant: any split scores identically") {
    // the stream_quality_nb contract: per-bucket (c_pos, c_neg) sums
    // accumulated through ANY batch split equal the one-shot trainer,
    // so the derived weights — and every held-out score — are identical
    import graft.operators.TextOps
    val clean = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = (0L until 24L).map { i =>
      (i, if (i % 3 == 2) ("junk " * 12).trim else clean + s" extra$i filler$i")
    }.toDF("doc_id", "text")
    def modelVia(splits: Seq[Seq[Long]], root: String): org.apache.spark.sql.DataFrame = {
      splits.zipWithIndex.foreach { case (ids, b) =>
        val batch = docs.filter(col("doc_id").isInCollection(ids))
        val labels = TextOps.gopherSignals(batch).select(col("doc_id"), col("passes"))
        val part = batch.filter(col("doc_id") % 2 === 0)
          .join(labels, Seq("doc_id"))
          .select(col("passes"),
            explode(graft.functions.CrossFns.tokens(col("text"))).as("t"))
          .select(col("passes"),
            (graft.functions.CrossFns.charHash(col("t")) % TextOps.NbBuckets).as("bucket"))
          .groupBy("bucket")
          .agg(sum(when(col("passes"), 1L).otherwise(0L)).as("c_pos"),
            sum(when(col("passes"), 0L).otherwise(1L)).as("c_neg"))
        KeyedStateSink.merge(root, Seq("bucket"), Nil, Seq("c_pos", "c_neg"))(part, b.toLong)
      }
      KeyedStateSink.read(spark, root, StructType.fromDDL("bucket BIGINT, c_pos BIGINT, c_neg BIGINT"))
        .select(col("bucket"),
          expr("((c_pos + 1) * 1000000) div (c_pos + c_neg + 2)").as("w_ppm"))
    }
    def scores(model: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      TextOps.nbQualityScores(docs, model).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val oneShot = scores(TextOps.nbQualityModel(docs))
    val even = scores(modelVia((0L until 24L).grouped(8).toSeq.map(_.toSeq),
      Files.createTempDirectory("graft-kss-nb-a-").toString))
    val skewed = scores(modelVia(Seq(0L until 20L, 20L until 22L, 22L until 24L).map(_.toSeq),
      Files.createTempDirectory("graft-kss-nb-b-").toString))
    assert(even === oneShot && skewed === oneShot,
      s"merged-cube scores must equal the one-shot trainer: $oneShot / $even / $skewed")
  }

  test("min-combined columns and schema stability across versions") {
    val root = Files.createTempDirectory("graft-kss-min-").toString
    def p(rows: Seq[(String, Long, Long)]) = rows.toDF("sig", "rep", "n_docs")
    KeyedStateSink.merge(root, Seq("sig"), Seq("rep"), Seq("n_docs"))(
      p(Seq(("s1", 7L, 2L), ("s2", 9L, 1L))), 0L)
    KeyedStateSink.merge(root, Seq("sig"), Seq("rep"), Seq("n_docs"))(
      p(Seq(("s1", 3L, 4L))), 1L)
    val st = KeyedStateSink.read(spark, root, p(Nil).schema)
    assert(st.schema.fieldNames.toSeq === Seq("sig", "rep", "n_docs"))
    val got = st.orderBy("sig").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(("s1", 3L, 6L), ("s2", 9L, 1L)))
  }

  test("no committed batch reads as an empty frame of the given schema") {
    withTempDir { root =>
      val empty = StructType.fromDDL("k STRING, n BIGINT")
      val st = KeyedStateSink.read(spark, s"$root/state", empty)
      assert(st.schema === empty)
      assert(st.isEmpty)
    }
  }
}
