package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** LSH kNN measured against the exact brute-force baseline. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** True iff some parquet scan in the plan carries a runtime
    * DynamicPruningExpression in its partitionFilters. Walks the TREE
    * (descending into AQE's inner plan) rather than substring-matching
    * plan.toString — the PQ search plan renders ~447k chars of codebook
    * literals and spark.sql.maxPlanStringLength truncates the string
    * before the dynamicpruning node ever prints.
    */
  private def hasDynamicPartitionPruning(
      plan: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.catalyst.expressions.DynamicPruning
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: FileSourceScanExec    => Seq(s)
    }.flatten
    scans(plan).exists(_.partitionFilters.exists(
      _.exists(_.isInstanceOf[DynamicPruning])))
  }

  lazy val brute = Similarity.knnBrute(spark, sf)
    .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
  lazy val lsh = Similarity.knnLsh(spark, sf)
    .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet

  test("brute-force kNN returns k neighbors per query, ranked by cosine") {
    val df = Similarity.knnBrute(spark, sf)
    val perQuery = df.groupBy($"query_id").count().select($"count").as[Long].collect()
    assert(perQuery.forall(_ == 5))
    // ranks are 1..5 and sims non-increasing within a query
    val bad = df.groupBy($"query_id")
      .agg(collect_list(struct($"rank", $"sim")).as("rs"))
      .select($"rs").as[Seq[(Long, Double)]].collect()
      .exists { rs => rs.sortBy(_._1).map(_._2).sliding(2).exists(p => p.head < p.last) }
    assert(!bad, "sims must be non-increasing in rank")
  }

  test("lsh neighbors are a plausible approximation of brute force") {
    assert(lsh.nonEmpty, "LSH returned nothing")
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    info(f"LSH recall@5 = $recall%.3f (candidates pruned vs full scan)")
    assert(recall > 0.1, f"recall $recall%.3f too low even for 8-bit bands")
  }

  test("multi-probe lsh: recall dominates single-probe at the same corpus index") {
    val mp = Similarity.knnLsh(spark, sf, nprobe = 8)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(mp.nonEmpty, "multi-probe LSH returned nothing")
    val recallLsh = brute.intersect(lsh).size.toDouble / brute.size
    val recallMp = brute.intersect(mp).size.toDouble / brute.size
    info(f"multi-probe recall@5 = $recallMp%.3f vs single-probe $recallLsh%.3f (nprobe=8)")
    // candidate sets are supersets (probes add buckets, never remove), and
    // a true top-5 member can never be displaced by candidates below it in
    // the global cosine order — so dominance is deterministic, not a
    // statistical hope
    assert(recallMp >= recallLsh,
      f"multi-probe recall $recallMp%.3f fell below single-probe $recallLsh%.3f")
  }

  test("recall tripwire: Recall.recallAtK pins the artifact's numbers and " +
      "a deliberately crippled config scores strictly lower (VERDICT r17 #4)") {
    val truth = operators.Similarity.knnBrute(spark, sf)
      .localCheckpoint()
    val (committed, dCommitted, nq) = Recall.recallAtK(
      operators.Similarity.knnLsh(spark, sf, nprobe = 8), truth)
    val (crippled, _, _) = Recall.recallAtK(
      operators.Similarity.knnLsh(spark, sf), truth)
    info(f"recall@5 committed(nprobe=8)=$committed%.3f " +
      f"crippled(nprobe=1)=$crippled%.3f over $nq queries")
    // the committed config's floor: an nprobe or band-family regression
    // lands below it (calibrated against RECALL_r18's measured values)
    assert(committed > crippled,
      f"multiprobe at nprobe=8 must beat nprobe=1: $committed%.3f vs $crippled%.3f")
    assert(committed >= 0.30,
      f"committed multiprobe recall fell below the floor: $committed%.3f")
    // the ANN methods re-rank candidates by EXACT cosine: where a
    // returned neighbor is a true top-5 neighbor, its sim must equal the
    // brute-force sim bit-for-bit (both rounded to 6 dp)
    assert(dCommitted == 0.0,
      f"re-ranked sims diverge from exact: max delta $dCommitted%.6f")
  }

  test("int8 quantization: ≥8x payload compression, tiny cosine error, high recall") {
    val emb = Tables.embeddings(spark, sf)
    val q = Similarity.quantizeInt8(emb)
    // round-trip error: cosine(original, dequantized) ≈ 1
    val err = emb.join(q, "vec_id")
      .select(avg(lit(1.0) -
        graft.functions.VectorFunctions.cosine(
          graft.functions.VectorFunctions.asDouble($"embedding"),
          Similarity.dequantize($"q_vec", $"q_scale"))))
      .as[Double].head()
    assert(err < 5e-4, s"mean cosine error $err too high")
    // top-k over the quantized store ≈ exact top-k
    val quant = Similarity.knnQuantized(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(quant).size.toDouble / brute.size
    info(f"int8 recall@5 = $recall%.3f")
    assert(recall > 0.9, f"quantized recall $recall%.3f too low")
  }

  test("ivf probes a fraction of the corpus yet finds real neighbors") {
    val ivf = graft.operators.IvfIndex.knnIvf(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    info(f"IVF recall@5 = $recall%.3f (nprobe=4 of 16 clusters)")
    assert(recall > 0.1, f"recall $recall%.3f too low")
  }

  test("pq: codes are m small ints, ADC recovers neighbors on a clustered corpus") {
    // the clustered case PQ exists for — vectors concentrate near label
    // centroids, so sub-space codebooks capture the structure
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_").toString
    GenCorpus.generateEmbeddings(spark, 500, noise = 0.3)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = Tables.embeddings(spark, dir)
    val books = graft.operators.PqIndex.train(emb)
    assert(books.size == 8 && books.forall(_.size == 16))
    // every code: 8 entries, each a valid centroid id → 8 logical bytes
    // per vector vs 64 float32s (32× smaller stored representation)
    val codes = graft.operators.PqIndex.encode(emb, books)
      .select($"code").as[Seq[Int]].collect()
    assert(codes.forall(c => c.size == 8 && c.forall(id => id >= 0 && id < 16)))
    val bruteC = Similarity.knnBrute(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val pq = graft.operators.PqIndex.knnPq(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq.nonEmpty)
    val recall = bruteC.intersect(pq).size.toDouble / bruteC.size
    info(f"PQ recall@5 = $recall%.3f (m=8, k=16, ADC shortlist + exact re-rank)")
    assert(recall > 0.8, f"PQ recall $recall%.3f too low on clustered corpus")
    spark.catalog.clearCache()
  }

  test("ivf assignment covers every vector exactly once") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = graft.operators.IvfIndex.train(emb, k = 8, iters = 1)
    assert(centroids.size == 8)
    val indexed = graft.operators.IvfIndex.assign(emb, centroids)
    assert(indexed.count() == emb.count())
    assert(indexed.select($"vec_id").distinct().count() == emb.count())
  }

  test("NearestCentroid expression matches brute-force argmax assignment") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = graft.operators.IvfIndex.train(emb, k = 8, iters = 1)
    val got = graft.operators.IvfIndex.assign(emb, centroids)
      .select($"vec_id", $"cluster_id").as[(Long, Int)].collect().toMap
    // Scala-side reference: same cosine arithmetic, same lowest-id tie-break
    val vecs = emb.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    vecs.foreach { case (id, v) =>
      val expected = centroids.map { case (cid, c) => (cid, cos(v, c)) }
        .maxBy { case (cid, s) => (s, -cid) }._1
      assert(got(id) == expected, s"vec $id: got ${got(id)}, expected $expected")
    }
  }

  test("PqCodes fused encode is identical to the composed per-sub " +
      "NearestCentroid slice codes") {
    // r19 optimization pin (the PqAdcCosine treatment applied to the
    // encode path): the fused all-sub argmax must emit the exact ints
    // the m composed NearestCentroid-over-slice expressions emitted —
    // same norm/dot fold order, same strict argmax, same zero-norm rule.
    import org.apache.spark.sql.graft.GraftFunctions
    import graft.functions.VectorFunctions.asDouble
    val emb = Tables.embeddings(spark, sf)
    val books = graft.operators.PqIndex.train(emb, m = 8, k = 16, iters = 1)
    val d = books.head.head._2.size
    val composed = array(books.indices.map { sub =>
      GraftFunctions.nearest_centroid(
        asDouble(slice($"embedding", sub * d + 1, d)), books(sub))
    }: _*)
    val fused = GraftFunctions.pq_codes(
      asDouble($"embedding"), books.map(_.map(_._2)))
    // hostile rows too: an all-zero vector exercises the zero-norm rule
    // (cast to the parquet store's float element type so the union is
    // schema-compatible)
    val zero = emb.sparkSession.range(1).select(
      lit(-1L).as("vec_id"),
      typedlit(Seq.fill(books.size * d)(0.0f)).as("embedding"))
    val rows = emb.select($"vec_id", $"embedding")
      .unionByName(zero.select($"vec_id",
        $"embedding".cast(emb.schema("embedding").dataType)))
      .select($"vec_id", composed.as("c"), fused.as("f"))
      .as[(Long, Seq[Int], Seq[Int])].collect()
    assert(rows.nonEmpty)
    val diff = rows.filter { case (_, c, f) => c != f }
    assert(diff.isEmpty,
      s"fused codes diverge from composed on: ${diff.take(3).mkString(";")}")
  }

  test("PqAdcCosine fused expression is bit-identical to the composed " +
      "slice/element_at ADC column") {
    // r18 optimization pin: the fused per-row loop must reproduce the
    // former composed expression EXACTLY (same dots, same fold order) —
    // java.lang.Double.doubleToRawLongBits-level equality, compared on the
    // driver below.
    import org.apache.spark.sql.graft.GraftFunctions
    val emb = Tables.embeddings(spark, sf)
    val coarse = graft.operators.IvfIndex.train(emb, 8, 1)
      .zipWithIndex.map { case ((_, c), i) => (i, c) }
    val assigned = graft.operators.IvfIndex.assign(emb, coarse)
    val centLit = typedlit(coarse.map(_._2))
    val resid = assigned.select($"vec_id",
      zip_with($"v", element_at(centLit, $"cluster_id" + 1),
        (a, b) => a - b).as("embedding"), $"cluster_id")
    val books = graft.operators.PqIndex.train(resid, m = 8, k = 16, iters = 1)
    val coded = graft.operators.PqIndex.encode(resid, books)
      .join(assigned.select($"vec_id", $"cluster_id", $"v".as("qv")), "vec_id")
    val d = books.head.head._2.size
    import graft.functions.VectorFunctions.{dot, normSq}
    def cSub(sub: Int) =
      slice(element_at(centLit, $"cluster_id" + 1), sub * d + 1, d)
    def rSub(sub: Int) =
      element_at(typedlit(books(sub).map(_._2)),
        element_at($"code", sub + 1) + 1)
    val adcDot = books.indices.map { sub =>
      dot(slice($"qv", sub * d + 1, d), cSub(sub)) +
        dot(slice($"qv", sub * d + 1, d), rSub(sub))
    }.reduce(_ + _)
    val recNormSq = books.indices.map { sub =>
      dot(cSub(sub), cSub(sub)) +
        lit(2.0) * dot(cSub(sub), rSub(sub)) +
        dot(rSub(sub), rSub(sub))
    }.reduce(_ + _)
    val both = coded
      .withColumn("composed",
        adcDot / (sqrt(normSq($"qv")) * sqrt(recNormSq)))
      .withColumn("fused", GraftFunctions.pq_adc_cosine(
        $"qv", $"cluster_id", $"code",
        coarse.map(_._2), books.map(_.map(_._2))))
    // Raw-bits compare on the driver (ADVICE r18): SQL `===` treats
    // -0.0 == 0.0, so the -0.0 fold-seeding rationale documented on
    // PqAdcCosine would not be exercised by a SQL-side filter. NaN has
    // ONE canonical raw-bits pattern from arithmetic, so bitwise
    // equality covers the NaN==NaN case too.
    val rows = both.select($"vec_id", $"composed", $"fused")
      .as[(Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    val diff = rows.filter { case (_, c, f) =>
      java.lang.Double.doubleToRawLongBits(c) !=
        java.lang.Double.doubleToRawLongBits(f)
    }
    assert(diff.isEmpty,
      s"fused ADC diverges from composed on: ${diff.take(3).mkString(";")}")
  }

  test("lsh sims match brute sims where pairs overlap") {
    val b = Similarity.knnBrute(spark, sf)
      .select($"query_id", $"neighbor_id", $"sim").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val l = Similarity.knnLsh(spark, sf)
      .select($"query_id", $"neighbor_id", $"sim").as[(Long, Long, Double)]
      .collect()
    val mismatched = l.filter { case (q, n, s) =>
      b.get((q, n)).exists(bs => math.abs(bs - s) > 1e-9) }
    assert(mismatched.isEmpty, "exact re-rank must agree with brute cosine")
  }

  test("hyperplane signatures reject plane counts outside 1..64") {
    // a signature is one bit per plane of a Long: at 65 planes `1L << p`
    // wraps (the JVM masks the shift distance) and ORs plane 64's sign
    // into bit 0; at 0 planes every vector lands in one bucket
    def failure(run: => Any): String = {
      val e = intercept[Exception](run)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" / ")
    }
    for (planes <- Seq(65, 0)) {
      val msg = failure(spark.sql(
        s"SELECT graft_hyperplane_sig(array(1.0d, -2.0d), $planes)").collect())
      assert(msg.contains("planes"), s"$planes planes: $msg")
    }
    // s02's 6 planes per band: 11 bands are 66 planes
    val lsh = failure(Similarity.knnLsh(spark, sf, bands = 11).collect())
    assert(lsh.contains("planes"), lsh)
    // the semantic family's md5 planes set the same bits
    val sem = failure(operators.Dedup.semanticDedup(spark, sf, planes = 65).collect())
    assert(sem.contains("planes"), sem)
  }

  test("stored pq index: search is identical to the in-query s06 pipeline, " +
      "prunes partitions, append is searchable without retraining") {
    import graft.operators.PqIndex
    import graft.functions.VectorFunctions.asDouble
    val dir = java.nio.file.Files.createTempDirectory("pq_idx_").toString
    val emb = Tables.embeddings(spark, sf)
    PqIndex.writePqIndex(emb, dir, m = 8, kCode = 16, iters = 2, coarseK = 8)

    val queries = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), asDouble($"embedding").as("qv"))
    val stored = PqIndex.searchPqIndex(spark, dir, queries,
      k = 5, nprobe = 2, shortlist = 256)
    assert(hasDynamicPartitionPruning(stored.queryExecution.executedPlan),
      "expected a DynamicPruning partitionFilter on the member scan " +
        s"(cluster_id):\n${stored.queryExecution.executedPlan.toString.take(2000)}")

    // training is deterministic (seeds = first ids, fixed iters) and the
    // ADC/re-rank core is SHARED code, so the stored path must equal the
    // in-query pipeline row for row — recall parity by construction
    val inQuery = graft.operators.PqIndex.knnPq(spark, sf, queryBound = 8,
      k = 5, m = 8, kCode = 16, iters = 2, coarseK = 8, nprobe = 2,
      shortlist = 256)
    assert(stored.collect().toSeq == inQuery.collect().toSeq,
      "stored-index search must be row-identical to in-query s06")

    // delta append: exact copy of vector 3, no retrain, found at rank 1
    val v3 = emb.filter($"vec_id" === 3).select($"embedding").head()
      .getSeq[Float](0).toVector
    PqIndex.appendPqVectors(spark, dir,
      Seq((910001L, v3)).toDF("vec_id", "embedding"))
    val q3 = emb.filter($"vec_id" === 3)
      .select($"vec_id".as("query_id"), asDouble($"embedding").as("qv"))
    val top = PqIndex.searchPqIndex(spark, dir, q3, k = 1, nprobe = 2,
      shortlist = 256)
      .select($"neighbor_id", $"sim").head()
    assert(top.getLong(0) == 910001L && top.getDouble(1) == 1.0,
      s"planted exact copy must be rank 1 with sim 1.0: $top")
  }

  test("ann drift: shifted appends flag, in-distribution appends don't, " +
      "and the retrain trigger recovers PQ recall") {
    import graft.operators.{IvfIndex, PqIndex}
    import graft.functions.VectorFunctions.{asDouble, cosine}
    import org.apache.spark.sql.expressions.Window

    // 4-blob corpora; labelSeed picks the blob-center family, so two
    // seeds give disjoint regions of the 64-dim cube — the "new data
    // source starts flowing into yesterday's index" shape
    def blobs(n: Int, idStart: Long, labelSeed: Int) =
      spark.range(n).select(($"id" + idStart).as("vec_id"))
        .withColumn("label",
          pmod(xxhash64($"vec_id", lit(21)), lit(4)).cast("int"))
        .withColumn("embedding", transform(sequence(lit(0), lit(63)), { j =>
          val c = pmod(xxhash64($"label", j, lit(labelSeed)), lit(2001))
            .cast("double") / 1000.0 - 1.0
          val nz = pmod(xxhash64($"vec_id", j, lit(23)), lit(2001))
            .cast("double") / 1000.0 - 1.0
          (c + nz * 0.25).cast("float")
        }))
        .select($"vec_id", $"embedding")
    val corpus = blobs(400, 0L, labelSeed = 22)
    val inDist = blobs(80, 20000L, labelSeed = 22)    // same blob centers
    val shifted = blobs(200, 40000L, labelSeed = 777) // different region

    // detector separates the two batches against an IVF baseline
    val ivfDir = java.nio.file.Files.createTempDirectory("ivf_drift_").toString
    IvfIndex.writeIndex(corpus, ivfDir, clusters = 4, iters = 3)
    val inRep = IvfIndex.driftReport(spark, ivfDir, inDist)
    val shRep = IvfIndex.driftReport(spark, ivfDir, shifted)
    info("in-dist report: " + inRep.collect().mkString("; "))
    info("shifted report: " + shRep.collect().mkString("; "))
    assert(!IvfIndex.isDrifted(inRep),
      "an in-distribution batch must not trip the detector")
    assert(IvfIndex.isDrifted(shRep),
      "a shifted batch must trip the detector")

    // PQ store A: appends land with NO retrain — the silent-degradation
    // baseline. Store B: same appends through the drift gate.
    val dirA = java.nio.file.Files.createTempDirectory("pq_stale_").toString
    val dirB = java.nio.file.Files.createTempDirectory("pq_gated_").toString
    for (d <- Seq(dirA, dirB))
      PqIndex.writePqIndex(corpus, d, m = 8, kCode = 16, iters = 2, coarseK = 4)
    PqIndex.appendPqVectors(spark, dirA, inDist)
    PqIndex.appendPqVectors(spark, dirA, shifted)
    assert(!PqIndex.retrainPqIfDrifted(spark, dirB, inDist,
      m = 8, kCode = 16, iters = 2, coarseK = 4),
      "in-distribution append must not trigger a retrain")
    // the rebuild resizes capacity to the grown/shifted corpus (8 blob
    // regions now) — the retrain entry point owns the geometry decision
    assert(PqIndex.retrainPqIfDrifted(spark, dirB, shifted,
      m = 8, kCode = 16, iters = 2, coarseK = 8),
      "shifted append must trigger the retrain")
    // post-retrain the baseline INCLUDES the shifted mass: the
    // quantization-error signal is absorbed (resid ratio back to ~1).
    // The share check is deliberately left out of this assert — a batch
    // drawn from ONE region of the now-mixed corpus is still share-
    // skewed vs the whole, and saying so is the detector being right.
    assert(!IvfIndex.isDrifted(IvfIndex.driftReport(spark, dirB, shifted),
      residRatioMax = 1.5, shareRatioMax = Double.MaxValue),
      "retrained centroids must absorb the shifted region's residuals")

    // recall on shifted-region queries: exact truth over the full store
    val queries = shifted.filter($"vec_id" < 40008L)
      .select($"vec_id".as("query_id"), asDouble($"embedding").as("qv"))
    val allV = corpus.unionByName(inDist).unionByName(shifted)
      .select($"vec_id".as("neighbor_id"), asDouble($"embedding").as("nv"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    val truth = queries.crossJoin(allV)
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cos", cosine($"qv", $"nv"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(dir: String): Double = {
      val got = PqIndex.searchPqIndex(spark, dir, queries,
        k = 5, nprobe = 2, shortlist = 32)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      truth.intersect(got).size.toDouble / truth.size
    }
    val recallStale = recallOf(dirA)
    val recallGated = recallOf(dirB)
    info(f"PQ recall@5 on shifted queries: stale $recallStale%.3f vs " +
      f"drift-gated $recallGated%.3f")
    assert(recallGated >= recallStale,
      f"retrain must not lose recall: $recallGated%.3f < $recallStale%.3f")
    assert(recallGated > 0.8,
      f"retrained index must serve the shifted region: $recallGated%.3f")
    spark.catalog.clearCache()
  }

  test("stored ivf index: search reads only probed partitions (dynamic " +
      "pruning), delta append is searchable without retraining") {
    import graft.operators.IvfIndex
    import graft.functions.VectorFunctions.asDouble
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx_").toString
    val emb = Tables.embeddings(spark, sf)
    IvfIndex.writeIndex(emb, dir, clusters = 8, iters = 2)

    val queries = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), asDouble($"embedding").as("qv"))
    val res = IvfIndex.searchIndex(spark, dir, queries, k = 5, nprobe = 2)
    // the probe equi-join on the partition column must prune partitions
    // at runtime, not scan the whole member table
    assert(hasDynamicPartitionPruning(res.queryExecution.executedPlan),
      "expected a DynamicPruning partitionFilter on the member scan " +
        s"(cluster_id):\n${res.queryExecution.executedPlan.toString.take(2000)}")
    val rows = res.collect()
    assert(rows.length == 8 * 5, s"8 queries x 5: got ${rows.length}")

    // stored-index search agrees with the in-query IVF on identical
    // centroids-by-construction? Not guaranteed (different training
    // calls) — but it must agree with brute force on clear neighbors:
    // plant an exact duplicate of vector 3 as a NEW vector via the
    // delta-append path and find it at rank 1 without any retraining.
    val v3 = emb.filter($"vec_id" === 3).select($"embedding").head()
      .getSeq[Float](0).toVector
    IvfIndex.appendVectors(spark, dir,
      Seq((900001L, v3)).toDF("vec_id", "embedding"))
    val q3 = emb.filter($"vec_id" === 3)
      .select($"vec_id".as("query_id"), asDouble($"embedding").as("qv"))
    val top = IvfIndex.searchIndex(spark, dir, q3, k = 1, nprobe = 2)
      .select($"neighbor_id", $"sim").head()
    assert(top.getLong(0) == 900001L && top.getDouble(1) == 1.0,
      s"planted exact copy must be rank 1 with sim 1.0: $top")
  }
}
