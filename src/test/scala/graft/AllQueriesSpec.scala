package graft

/** Executes every catalog query at sf0.001 — regression net for future
  * rounds: any query that stops executing (analysis error, runtime
  * failure) fails `sbt test` without needing the Verify harness. Value
  * correctness stays the oracle's job (tools/compare.py / driver t2).
  * Each key must also leave the shared session as it found it: no active
  * streaming query and the same explicitly-set conf. */
class AllQueriesSpec extends SparkSpec {

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      val confBefore = spark.conf.getAll
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
      // release frames persisted for multi-consumer reuse inside a query
      // (jaccard/simhash) — without this a whole-catalog session
      // accumulates cached blocks for its lifetime
      spark.catalog.clearCache()
      // a key leaves no query running and no session conf changed: a key
      // that was unset before it ran is unset again
      assert(spark.streams.active.isEmpty, "streaming query left running")
      assert(spark.conf.getAll === confBefore, "session conf changed")
    }
  }

  test("catalog and oracle key sets are identical") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("pipeline_dedup_report shared-pass censuses equal the standalone tier operators") {
    // the report computes all five tiers from ONE collapse+shingle+band
    // pass; each census must still match the standalone operator it
    // summarises (which recomputes its prefix from raw text)
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = graft.queries.Staging.tbl(spark, sf, "documents")
    val report = graft.queries.ExtQueries.pipelineDedupReport(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def censusOf(g: org.apache.spark.sql.DataFrame, nCol: String) = {
      val r = g.agg(count(lit(1)), sum(col(nCol))).head()
      (r.getLong(1), r.getLong(0))
    }
    assert(report("1_exact") === censusOf(Dedup.exactGroups(docs), "n_dups"))
    assert(report("2_normalized") ===
      censusOf(graft.queries.ExtQueries.dedupNormalized(spark, sf), "n_docs"))
    assert(report("3_minhash_sig") === censusOf(Dedup.minhashSigClusters(spark, docs), "n_docs"))
    assert(report("4_lsh_band") === censusOf(Dedup.lshClusters(spark, docs), "n_docs"))
    assert(report("5_cc") === censusOf(Dedup.ccClusters(spark, docs, rounds = 3), "n_docs"))
    spark.catalog.clearCache()
  }
}
