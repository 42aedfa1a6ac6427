package graft

/** Every declared query runs end-to-end on sf0.001, is consistent with
  * its declaration (an oracle entry implies a queries entry), and leaves
  * nothing cached: each persist is released by the scope that made it.
  */
class QueriesSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("plan mode shows the self-cleaning keys' real pipelines") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // each returns a checkpoint, whose runtime plan is one RDD scan; in
    // plan mode the checkpoint passes the real pipeline through, which
    // reads the corpus, directly or through a kept frame's cache
    val selfCleaning = Seq("d10_hot_ngram_mask", "d13_segment_dedup",
      "d18_segment_neardup", "t18_pmi_cooccur", "t24_cosine_apss",
      "s04_knn_ivf", "s06_knn_pq", "p01_corpus_curate",
      "p05_importance_resample", "p08_curriculum")
    val blind = graft.operators.SelfClean.planned {
      selfCleaning.filter(name => planNodes(SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
        .isEmpty)
    }
    assert(blind.isEmpty, s"no table scan in the plan of ${blind.mkString(", ")}")
    assert(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark),
      "plan mode left a kept frame cached")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs on sf0.001") {
      spark.catalog.clearCache()
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0)
      assert(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark),
        s"$name left a frame cached")
      // queries that must be non-empty on any sf
      val mustHaveRows = !Set("d02_dedup_minhash", "d02c_minhash_adaptive",
        "d03_dedup_simhash",
        "q04_antijoin_incremental", "q06_setdiff_audit").contains(name)
      if (mustHaveRows) assert(n > 0, s"$name returned 0 rows")
    }
  }
}
