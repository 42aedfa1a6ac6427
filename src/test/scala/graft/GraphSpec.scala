package graft

import org.apache.spark.sql.functions._

/** Invariants for the graph family (g01) plus the new CDC-merge and
  * temperature-mix operators — properties the DuckDB hash check can't
  * express (probability conservation, monotonicity, merge semantics).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("g01 pagerank conserves probability mass and is strictly positive") {
    val pr = operators.Graph.pagerank(spark, sf)
    val row = pr.agg(
      sum($"rank_rel").as("total"),
      min($"rank_rel").as("lo"),
      count(lit(1)).as("n")).head()
    val (total, lo, n) = (row.getDouble(0), row.getDouble(1), row.getLong(2))
    // rank_rel is rank scaled by N, so the total must be ~N (rounding
    // noise only: n rows each rounded to 4 dp).
    assert(math.abs(total - n) < n * 1e-3, s"mass $total for $n nodes")
    assert(lo > 0.0, "teleport term guarantees a positive floor")
  }

  test("g01 pagerank is deterministic under repartitioning") {
    val a = operators.Graph.pagerank(spark, sf).collect().toSeq
    val b = operators.Graph.pagerank(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("g01 higher-degree nodes outrank the uniform prior") {
    val e = operators.Graph.tradeEdges(spark, sf)
    val deg = e.groupBy($"src".as("node")).agg(count(lit(1)).as("d"))
    val pr = operators.Graph.pagerank(spark, sf)
    val joined = pr.join(deg, "node")
    // On a symmetric graph PageRank correlates with degree: the top-degree
    // decile must have a higher mean rank than the bottom decile.
    val q = joined.stat.approxQuantile("d", Array(0.1, 0.9), 0.0)
    val lowMean = joined.filter($"d" <= q(0)).agg(avg($"rank_rel")).head().getDouble(0)
    val highMean = joined.filter($"d" >= q(1)).agg(avg($"rank_rel")).head().getDouble(0)
    assert(highMean > lowMean,
      s"top-decile mean rank $highMean should exceed bottom-decile $lowMean")
  }

  test("g01 early-stop pagerank: eps fires before the budget, the result " +
      "is bit-identical to fixed-iteration at the executed round count, " +
      "and looser eps stops sooner") {
    // The trade graph is BIPARTITE (customer↔supplier), so λ2 = −1 and
    // the damped chain contracts at exactly d = 0.85 per round — the
    // measured trajectory on this graph is delta(k) = 1.487·0.85^(k−1)
    // in unscaled-r L1 — making it the worst case for early stopping:
    // no eps can look "free", so the test pins what the variant really
    // guarantees. (1) the stop fires inside the budget; (2) the result
    // equals plain fixed-iteration run for exactly the rounds executed
    // — identical arithmetic, 4 dp rounding, so bit-identical, proving
    // the convergence probe perturbs nothing; (3) rounds are monotone
    // in eps — the budget saving is real and tunable.
    val edges = operators.Graph.tradeEdges(spark, sf)
    val budget = 40
    val (conv, rounds) = operators.Graph
      .pagerankConvergedOf(edges, eps = 0.02, maxIters = budget)
    assert(rounds < budget,
      s"early-stop used all $rounds/$budget rounds — eps never fired")
    val fixed = operators.Graph.pagerankOf(edges, iters = rounds)
      .select($"node", $"rank_rel".as("a"))
    val joined = fixed.join(
      conv.select($"node", $"rank_rel".as("b")), Seq("node"))
    assert(joined.count() == fixed.count(), "node sets must match")
    val maxAbs = joined.agg(max(abs($"a" - $"b"))).head().getDouble(0)
    assert(maxAbs == 0.0,
      s"early-stop diverges from same-round fixed-iteration: " +
        s"max |Δrank_rel| $maxAbs")
    val (_, roundsLoose) = operators.Graph
      .pagerankConvergedOf(edges, eps = 0.2, maxIters = budget)
    info(s"rounds: eps=0.02 → $rounds, eps=0.2 → $roundsLoose (budget $budget)")
    assert(roundsLoose < rounds,
      s"looser eps must stop sooner: eps=0.2 ran $roundsLoose vs $rounds")
  }

  test("g02 copurchase overlap counts are consistent and bounded") {
    val co = operators.Graph.copurchase(spark, sf).persist()
    val rows = co.collect()
    assert(rows.nonEmpty)
    // Pair set sizes: common customers can't exceed either side's set,
    // jaccard in (0, 1], pairs canonically ordered.
    val pairs = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("ck"), $"l_suppkey".as("sk")).distinct()
    val sizes = pairs.groupBy($"sk").count().as[(Long, Long)].collect().toMap
    rows.foreach { r =>
      val (a, b, common, j) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(a < b, "canonical pair order")
      assert(common <= math.min(sizes(a), sizes(b)))
      assert(j > 0.0 && j <= 1.0 + 1e-9)
      // jaccard recomputed from first principles
      val expect = common.toDouble / (sizes(a) + sizes(b) - common)
      assert(math.abs(j - (expect + 1e-9)) < 1e-6)
    }
    co.unpersist()
  }

  test("g02b sketch co-purchase recovers a planted sparse graph exactly") {
    // 40 disjoint-customer suppliers (no similarity signal) + two planted
    // overlapping pairs, separated in jaccard: (100, 101) at 80/120 ≈
    // 0.667 and (102, 103) at 50/150 ≈ 0.333 — both above the 32×2
    // banding midpoint (~0.18), so the sketch path must surface exactly
    // the planted pairs with the EXACT jaccard the wedge projection
    // computes (the sparse-regime contract in the g02b scaladoc).
    val blocks: Map[Long, Seq[Long]] =
      (0L until 40L).map(s => s -> (0L until 100L).map(c => s * 1000 + c)).toMap ++ Map(
        100L -> ((0L until 80L).map(_ + 900000L) ++ (0L until 20L).map(_ + 910000L)),
        101L -> ((0L until 80L).map(_ + 900000L) ++ (0L until 20L).map(_ + 920000L)),
        102L -> ((0L until 50L).map(_ + 930000L) ++ (0L until 50L).map(_ + 940000L)),
        103L -> ((0L until 50L).map(_ + 930000L) ++ (0L until 50L).map(_ + 950000L)))
    val pairs = blocks.toSeq
      .flatMap { case (sk, cks) => cks.map(ck => (ck, sk)) }
      .toDF("ck", "sk")
    val exact = operators.Graph.copurchaseOf(pairs, top = 5)
      .select($"sk_a", $"sk_b", $"jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val sketch = operators.Graph.copurchaseSketchOf(pairs, top = 5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(sketch.keySet == Set((100L, 101L), (102L, 103L)),
      s"planted pairs not recovered exactly: ${sketch.keySet}")
    // the exact projection also surfaces only the planted overlap (all
    // other supplier pairs share zero customers -> below minCommon)
    assert(exact.keySet == sketch.keySet)
    sketch.foreach { case (k, j) =>
      assert(math.abs(j - exact(k)) < 1e-5,
        s"$k: sketch jaccard $j vs exact ${exact(k)}")
    }
  }

  test("g02b vs g02 on a hub-ful graph: documented jaccard conventions") {
    // Suppliers 100/101 share customers {1,2,3}; hub customer 999 trades
    // with ALL ten suppliers (fan 10 > maxFan 4 → excluded from pair
    // generation in g02 AND from the indexed sets in g02b). Convention
    // pin (ADVICE r14): g02 reports the hybrid 3/(4+4-3) = 0.6 (bounded
    // common over TRUE set sizes incl. the hub); g02b reports the
    // bounded-SET jaccard 3/3 = 1.0 (hub dropped from numerator and
    // denominator alike). Both are asserted so the divergence is a
    // contract, not an accident.
    val pairs = (
      Seq((1L, 100L), (2L, 100L), (3L, 100L),
          (1L, 101L), (2L, 101L), (3L, 101L)) ++
      (100L until 110L).map(sk => (999L, sk))    // the hub
    ).toDF("ck", "sk")
    val exact = operators.Graph.copurchaseOf(pairs, maxFan = 4, top = 5)
      .select($"sk_a", $"sk_b", $"jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val sketch = operators.Graph
      .copurchaseSketchOf(pairs, maxFan = 4, top = 5)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(exact.keySet == Set((100L, 101L)) && sketch.keySet == exact.keySet)
    assert(math.abs(exact((100L, 101L)) - 0.6) < 1e-5,
      s"g02 hybrid convention: ${exact((100L, 101L))}")
    assert(math.abs(sketch((100L, 101L)) - 1.0) < 1e-5,
      s"g02b bounded-set convention: ${sketch((100L, 101L))}")
  }

  test("g02 then g03 build the projection once; an in-place rewrite rebuilds it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-proj").toString
    def writeOrders(keep: org.apache.spark.sql.Column): Unit =
      Tables.orders(spark, sf).filter(keep)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Tables.lineitem(spark, sf).write.parquet(s"$dir/lineitem.parquet")
    writeOrders(lit(true))
    def builds: Long = CacheHygiene.memoCounts._2
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.sql.graft.SparkInternals
      .drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val b0 = builds
      operators.Graph.copurchase(spark, dir).collect()
      assert(builds == b0 + 2, "g02 builds the arrays and the projection")
      operators.Graph.triangles(spark, dir).collect()
      assert(builds == b0 + 2, "g03 must reuse g02's projection")
      val first = operators.Graph.projectionTables(spark, dir)
      drain()
      val jobs0 = jobs.get()
      val second = operators.Graph.projectionTables(spark, dir)
      drain()
      assert(jobs.get() == jobs0, "a memo hit must run zero Spark jobs")
      assert((second._1 eq first._1) && (second._2 eq first._2),
        "a memo hit must return the same frames")
      val before = first._2.collect().toSet
      writeOrders($"o_orderkey" % 2 === 0)
      val rebuilt = operators.Graph.projectionTables(spark, dir)
      assert(builds == b0 + 4, "the rewrite rebuilds the arrays and the projection")
      val after = rebuilt._2.collect().toSet
      assert(after != before, "the rebuilt projection must read the new orders")
      assert(after == operators.Graph.projectionCommon(
        operators.Graph.tradePairsRaw(spark, dir), 64, 2).collect().toSet)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("registry graph queries leave no cached frames behind (r14 #3)") {
    // the registry entries plus the memo-free cores over a pair frame
    val pairs = operators.Graph.tradePairsRaw(spark, sf)
    val runs = operators.Graph.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) => name -> (() => fn(spark, sf)) } ++ Seq(
      "copurchaseOf" -> (() => operators.Graph.copurchaseOf(pairs)),
      "copurchaseSketchOf" -> (() => operators.Graph.copurchaseSketchOf(pairs)),
      "strongEdges" -> (() => operators.Graph.strongEdges(pairs, maxFan = 64,
        minCommon = 2, strengthQ = 0.9)),
      "trianglesOf" -> (() => operators.Graph.trianglesOf(pairs)))
    for ((name, run) <- runs) {
      spark.catalog.clearCache()
      run().write.format("noop").mode("overwrite").save()
      assert(org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark),
        s"$name leaked persisted frames into the session")
    }
  }

  test("g02b on the real corpus: exact jaccards, floored, canonical") {
    val rows = operators.Graph.copurchaseSketch(spark, sf).collect()
    // dense near-tie mass may be cap-pruned (documented regime contract)
    // but every surfaced pair must carry an exact, floored jaccard
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "canonical pair order")
      val j = r.getDouble(2)
      assert(j >= 0.2 && j <= 1.0 + 1e-9, s"jaccard $j outside [minJaccard, 1]")
    }
  }

  test("q36 cdc merge applies latest-wins upserts and drops deletes") {
    val merged = pipeline.Relational.cdcMerge(spark, sf)
      .persist()
    val orders = Tables.orders(spark, sf)
    // Keys whose LAST change is a delete must be absent.
    val lastOps = orders
      .select($"o_custkey", $"o_orderstatus", $"o_orderdate", $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(expr("max_by(o_orderstatus, struct(o_orderdate, o_orderkey))").as("st"))
    val deleted = lastOps.filter($"st" === "P").select($"o_custkey")
    assert(merged.join(deleted, merged("custkey") === deleted("o_custkey")).count() == 0)
    // Customers with no orders survive unchanged as 'kept'.
    val custs = Tables.customer(spark, sf)
    val untouched = custs.join(orders, $"c_custkey" === $"o_custkey", "left_anti")
    val kept = merged.filter($"status" === "kept")
    assert(kept.count() == untouched.count())
    // And statuses partition the output.
    val n = merged.count()
    val byStatus = merged.groupBy($"status").count().as[(String, Long)].collect().toMap
    assert(byStatus.values.sum == n)
    merged.unpersist()
  }

  test("p04 temperature mix sums to 1 and flattens the raw distribution") {
    val mix = pipeline.DocumentPipeline.temperatureMix(spark, sf).persist()
    val pSum = mix.agg(sum($"p_sample")).head().getDouble(0)
    assert(math.abs(pSum - 1.0) < 1e-3, s"probabilities sum to $pSum")
    // Temperature < 1 flattens: the sampled share ratio between the
    // largest and smallest source must be strictly below the raw ratio.
    val rows = mix.select($"n_docs".cast("double"), $"p_sample").collect()
    val rawRatio = rows.map(_.getDouble(0)).max / rows.map(_.getDouble(0)).min
    val pRatio = rows.map(_.getDouble(1)).max / rows.map(_.getDouble(1)).min
    assert(pRatio <= rawRatio, s"alpha=0.5 must compress $rawRatio -> $pRatio")
    assert(pRatio < rawRatio || rawRatio == 1.0)
    mix.unpersist()
  }

  test("p05 importance resampling prefers target-domain docs and keeps " +
      "~keepFrac of the corpus") {
    val vocabA = Vector("alpha", "beta", "gamma", "kappa", "sigma", "omega")
    val vocabB = Vector("one", "two", "three", "four", "five", "six")
    def textOf(v: Vector[String], seed: Int): String =
      (0 until 30).map(i => v((seed * 7 + i) % v.size)).mkString(" ")
    // 20 target-feed docs (vocab A), 80 out-of-domain web docs (vocab B),
    // 5 PLANTED in-domain web docs (vocab A) — the ones DSIR exists to find.
    val docs = ((1 to 20).map(i => (i.toLong, "tgt", textOf(vocabA, i))) ++
      (21 to 100).map(i => (i.toLong, "web", textOf(vocabB, i))) ++
      (101 to 105).map(i => (i.toLong, "web", textOf(vocabA, i))))
      .toDF("doc_id", "source", "text")
    val out = pipeline.DocumentPipeline
      .importanceResampleOf(docs, target = "tgt", buckets = 64,
        keepFrac = 0.2).collect()
    assert(out.length == 105)
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Double]("logw"), r.getAs[Boolean]("kept"))).toMap
    val inDomain = (1L to 20L) ++ (101L to 105L)
    val outDomain = 21L to 100L
    val minIn = inDomain.map(byId(_)._1).min
    val maxOut = outDomain.map(byId(_)._1).max
    assert(minIn > maxOut,
      s"every vocab-A doc must outscore every vocab-B doc ($minIn vs $maxOut)")
    val kept = byId.filter(_._2._2).keySet
    assert(kept.size >= 15 && kept.size <= 26,
      s"keepFrac=0.2 of 105 docs kept ${kept.size}")
    assert(kept.subsetOf(inDomain.toSet),
      s"kept set must be in-domain, got ${kept -- inDomain.toSet}")
    // the planted web docs are found, not just the labeled feed
    assert((kept & (101L to 105L).toSet).nonEmpty,
      "at least one planted in-domain web doc is selected")
    val again = pipeline.DocumentPipeline
      .importanceResampleOf(docs, target = "tgt", buckets = 64,
        keepFrac = 0.2).collect()
    assert(out.sameElements(again), "resampling must be deterministic")
  }

  test("g03 triangle counts match brute-force enumeration of the strong-edge graph") {
    val pairs = operators.Graph.tradePairs(spark, sf)
    val es = operators.Graph.strongEdges(pairs, maxFan = 64, minCommon = 2,
        strengthQ = 0.9)
      .select($"u", $"v").as[(Long, Long)].collect().toSet
    assert(es.nonEmpty)
    // The quantile gate must actually thin the projection — on this data
    // the minCommon=2 projection is complete, which would make counts
    // degenerate (see the triangles scaladoc).
    val full = operators.Graph.projectionCommon(pairs, maxFan = 64, minCommon = 2)
      .count()
    assert(es.size < full, s"strong edges ${es.size} must thin projection $full")
    val nodes = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val cnt = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (t <- nodes.combinations(3)
         if es((t(0), t(1))) && es((t(1), t(2))) && es((t(0), t(2)))) {
      cnt(t(0)) += 1; cnt(t(1)) += 1; cnt(t(2)) += 1
    }
    val want = cnt.toSeq.sortBy { case (n, tri) => (-tri, n) }.take(50)
    val got = operators.Graph.triangles(spark, sf).as[(Long, Long)].collect().toSeq
    assert(got == want, s"got ${got.take(5)} want ${want.take(5)}")
    spark.catalog.clearCache()
  }
}
