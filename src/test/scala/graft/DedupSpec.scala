package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** MinHash / SimHash verified against planted duplicates and brute-force
  * ground truth (these are the rows-only operators the DuckDB gate can't
  * check).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")

  val base = "the quick brown fox jumps over the lazy dog while the band plays on and the crowd cheers loudly for more music tonight"
  val nearDup = base.replace("loudly", "softly") // 1-word change
  val unrelated = "completely different content about distributed query engines shuffles partitions and catalyst optimizer rules nothing shared here at all today"

  test("minhash finds exact and near duplicates, not unrelated pairs") {
    val docs = mkDocs(Seq(
      1L -> base, 2L -> base, 3L -> nearDup, 4L -> unrelated,
      5L -> "tiny doc with few words inside it"))
    val pairs = Dedup.minhashPairs(docs, minJaccard = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup missed")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), "near dup missed")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "false positive on unrelated")
  }

  test("fused band hashes are bit-identical to xxhash64 over signature slices") {
    // the banding rewrite contract: MinHashBandHashes must reproduce the
    // former xxhash64(slice(minhash_sig_from_hashes(sh), b*rows+1, rows))
    // exactly, else every stored _bands index and planted pin shifts
    val docs = Tables.documents(spark, sf).limit(200)
      .select($"doc_id", org.apache.spark.sql.graft.GraftFunctions
        .word_shingle_hashes($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
    for ((bands, rows) <- Seq((16, 4), (8, 4), (4, 15))) {
      val old = docs
        .select($"doc_id", org.apache.spark.sql.graft.GraftFunctions
          .minhash_sig_from_hashes($"sh", bands * rows).as("sig"))
        .select($"doc_id",
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(slice($"sig", b * rows + 1, lit(rows))))))
        .as[(Long, Int, Long)].collect().toSet
      val fused = docs
        .select($"doc_id", posexplode(org.apache.spark.sql.graft
          .GraftFunctions.minhash_band_hashes($"sh", bands, rows)))
        .as[(Long, Int, Long)].collect().toSet
      assert(fused == old, s"band-hash mismatch at bands=$bands rows=$rows")
    }
  }

  test("minhash jaccard matches brute-force jaccard") {
    val docs = mkDocs(Seq(1L -> base, 2L -> nearDup))
    val got = Dedup.minhashPairs(docs, minJaccard = 0.0)
      .select($"jaccard").as[Double].head()
    // brute force on word 3-gram shingle sets
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (a, b) = (sh(base), sh(nearDup))
    val expected = a.intersect(b).size.toDouble / a.union(b).size
    assert(math.abs(got - expected) < 1e-6, s"$got vs $expected")
  }

  test("simhash: identical docs at hamming 0, near dups close, unrelated apart") {
    val docs = mkDocs(Seq(1L -> base, 2L -> base, 3L -> nearDup, 4L -> unrelated))
    val fp = docs.select($"doc_id", Dedup.simhash($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    val hammingNear = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    val hammingFar = java.lang.Long.bitCount(fp(1L) ^ fp(4L))
    assert(hammingNear < hammingFar,
      s"near=$hammingNear should be < far=$hammingFar")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("exact dedup groups identical content") {
    val out = Dedup.dedupExact(spark, sf)
    val total = Tables.documents(spark, sf).count()
    val sumCopies = out.agg(sum($"n_copies")).as[Long].head()
    assert(sumCopies == total, "every doc accounted for exactly once")
  }

  test("connected components merges transitive chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 3L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L && cc(7L) == 1L)
    assert(cc(5L) == 5L && cc(6L) == 5L)
  }

  test("iterative CC path (smallGraph=0) agrees with union-find fast path") {
    // a 12-node path graph (worst diameter) + a clique + singleton pair
    val chain = (1L to 11L).map(i => (i, i + 1))
    val clique = for (a <- 20L to 24L; b <- (a + 1) to 24L) yield (a, b)
    val pairs = (chain ++ clique ++ Seq((30L, 31L))).toDF("doc_a", "doc_b")
    val fast = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val iter = Dedup.connectedComponents(pairs, smallGraph = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast == iter)
    assert((1L to 12L).forall(fast(_) == 1L))
    assert((20L to 24L).forall(fast(_) == 20L))
    assert(fast(30L) == 30L && fast(31L) == 30L)
  }

  test("dedupGroups assigns every doc a cluster; singletons map to themselves") {
    val docs = mkDocs(Seq(1L -> base, 2L -> base, 3L -> nearDup, 4L -> unrelated))
    val groups = Dedup.dedupGroups(docs, minJaccard = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(groups.keySet == Set(1L, 2L, 3L, 4L))
    assert(groups(1L) == 1L && groups(2L) == 1L && groups(3L) == 1L)
    assert(groups(4L) == 4L)
  }

  test("minhash skew guard drops oversized buckets") {
    // 100 identical docs → bucket size 100 > maxBucket 10 → no pairs emitted
    val docs = mkDocs((1L to 100L).map(i => i -> base))
    val n = Dedup.minhashPairs(docs, maxBucket = 10, minJaccard = 0.0).count()
    assert(n == 0, "skew guard should suppress pathological bucket")
    // ...and the cap is observable: all 16 bands report a 100-doc bucket
    val dropped = Dedup.minhashDroppedBuckets(docs, maxBucket = 10)
      .select($"band", $"bucket_n").as[(Int, Long)].collect()
    assert(dropped.length == 16, s"expected 16 capped buckets: ${dropped.length}")
    assert(dropped.forall(_._2 == 100L))
  }

  test("minhash oversized-link stars hot buckets against the representative") {
    // Same 100-identical-doc hot bucket, plus a small legit pair: with
    // oversizedLink every hot member must pair with the bucket's min-id
    // representative (linear volume: exactly 99 star pairs, never the
    // 4950 all-pairs grind), and normal-sized buckets pair as before.
    val docs = mkDocs((1L to 100L).map(i => i -> base) ++
      Seq(200L -> unrelated, 201L -> unrelated))
    val pairs = Dedup.minhashPairs(docs, maxBucket = 10, minJaccard = 0.0,
        oversizedLink = true)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val hotPairs = pairs.filter(p => p._1 <= 100L && p._2 <= 100L)
    assert(hotPairs == (2L to 100L).map(i => (1L, i)).toSet,
      s"expected 99 star pairs rooted at doc 1, got ${hotPairs.size}")
    assert(pairs.contains((200L, 201L)), "normal-sized bucket must still pair")
    // drop mode on the same corpus stays silent on the hot mass —
    // the contract difference the skew probe measures corpus-wide
    val dropPairs = Dedup.minhashPairs(docs, maxBucket = 10,
        minJaccard = 0.0)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(!dropPairs.exists(p => p._1 <= 100L && p._2 <= 100L))
  }

  test("simhash skew guard caps boilerplate buckets, keeps normal pairs") {
    // 100 identical boilerplate docs share every band: uncapped that is
    // 100*99/2 = 4950 candidate pairs; the cap must suppress them while a
    // small legit near-dup bucket (ids 200/201) still pairs.
    val docs = mkDocs((1L to 100L).map(i => i -> base) ++
      Seq(200L -> unrelated, 201L -> unrelated))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3, maxBucket = 10)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 <= 100L && p._2 <= 100L),
      "oversized boilerplate bucket must be suppressed")
    assert(pairs.contains((200L, 201L)), "normal-sized bucket must still pair")
  }

  test("hot-ngram mask covers exactly the shared boilerplate span") {
    // Three docs share a 10-token boilerplate prefix (hot at minDf=3 via
    // overlapping 8-grams at i=0,1,2 → positions 0..9), with unique tails
    // that must stay unmasked. A fourth doc is too short for any gram.
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler tail one unique tokens here alpha"),
      (2L, s"$boiler tail two distinct words there beta"),
      (3L, s"$boiler completely different ending gamma delta x"),
      (4L, "short doc")).toDF("doc_id", "text")
    val m = Dedup.hotNgramMaskOf(docs, n = 8, minDf = 3)
      .select($"doc_id", $"n_tokens", $"n_masked")
      .as[(Long, Long, Long)].collect()
      .map { case (id, nt, nm) => id -> ((nt, nm)) }.toMap
    assert(m(1L) == (16L, 10L), s"got $m")
    assert(m(2L) == (16L, 10L))
    assert(m(3L) == (16L, 10L))
    assert(m(4L) == (2L, 0L))
  }

  test("simhash dropped-bucket diagnostic reports the capped buckets") {
    // The 100 identical docs fill all 4 bands of one fingerprint; the
    // diagnostic must surface exactly those buckets with their population
    // (capped mass is a metric, not a silent disappearance), and the
    // small legit bucket (ids 200/201) must NOT be reported.
    val docs = mkDocs((1L to 100L).map(i => i -> base) ++
      Seq(200L -> unrelated, 201L -> unrelated))
    val dropped = Dedup.simhashDroppedBuckets(docs, maxBucket = 10)
      .select($"band", $"bucket_n").as[(Int, Long)].collect()
    assert(dropped.length == 4, s"expected 4 capped band buckets: ${dropped.toSeq}")
    assert(dropped.forall(_._2 == 100L))
    assert(dropped.map(_._1).sorted.toSeq == Seq(0, 1, 2, 3))
  }

  test("d07 and d09 share ONE materialized cluster table per (session, dir)") {
    CacheHygiene.clearMemos()
    // First call computes CC and runs Spark jobs; the second is a pure
    // map lookup returning the SAME materialized frame — so d07 and d09
    // (both built on clusterTable) execute the iterative CC exactly once.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val first = Dedup.clusterTable(spark, sf)
      org.apache.spark.sql.graft.SparkInternals
        .drainListenerBus(spark.sparkContext)
      val jobsAfterFirst = jobs.get()
      assert(jobsAfterFirst > 0, "first clusterTable call must compute CC")
      val second = Dedup.clusterTable(spark, sf)
      org.apache.spark.sql.graft.SparkInternals
        .drainListenerBus(spark.sparkContext)
      assert(second eq first, "memoized cluster table must be the same frame")
      assert(jobs.get() == jobsAfterFirst,
        "second clusterTable call must run zero Spark jobs")
      // and both public queries agree on the clustering they derive from
      val viaD07 = Dedup.dedupClusters(spark, sf).collect().toSeq
      val viaD09 = Dedup.canonicalPerCluster(spark, sf)
        .filter($"cluster_id" =!= $"doc_id" || $"is_canonical")
        .select($"doc_id", $"cluster_id").collect().toSeq
      val d07Map = viaD07.map(r => r.getLong(0) -> r.getLong(1)).toMap
      viaD09.foreach { r =>
        assert(d07Map.getOrElse(r.getLong(0), r.getLong(0)) == r.getLong(1))
      }
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("semantic dedup recovers planted embedding clusters, no cross-label pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    GenCorpus.generateEmbeddings(spark, 500)
      .write.parquet(s"$dir/embeddings.parquet")
    // clustered corpus: same-label cosine ≈0.9 (centroid + 0.3 noise),
    // cross-label ≈0 — at minCos=0.8 every reported pair must be
    // same-label, and the one-bucket partition must still surface pairs
    val pairs = Dedup.semanticDedup(spark, dir, minCos = 0.8)
    val lbl = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"label")
    val tagged = pairs
      .join(lbl.select($"vec_id".as("vec_a"), $"label".as("la")), Seq("vec_a"))
      .join(lbl.select($"vec_id".as("vec_b"), $"label".as("lb")), Seq("vec_b"))
    assert(tagged.count() > 50, "clustered corpus must yield semantic dups")
    assert(tagged.filter($"la" =!= $"lb").count() == 0,
      "a cross-label pair at cos>=0.8 means the verify step is broken")
    // the bucket cap is observable, not silent: with a tight cap on this
    // dense corpus the diagnostic must report the pruned buckets
    val dropped = Dedup.semanticDroppedBuckets(spark, dir, maxBucket = 20)
      .collect()
    assert(dropped.nonEmpty, "dense clusters must trip a 20-member cap")
    assert(dropped.forall(_.getAs[Long]("bucket_n") > 20))
  }

  test("multi-probe semantic dedup: superset of d11, higher exact-pair recall") {
    import graft.functions.VectorFunctions._
    // ground truth: brute-force cos>=0.3 pairs over the 500-vector corpus
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", asDouble($"embedding").as("v"))
    val a = e.select($"vec_id".as("vec_a"), $"v".as("va"))
    val b = e.select($"vec_id".as("vec_b"), $"v".as("vb"))
    val truth = a.join(b, $"vec_a" < $"vec_b")
      .withColumn("cos", round(cosine($"va", $"vb"), 6))
      .filter($"cos" >= 0.3)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    val base = Dedup.semanticDedup(spark, sf)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    val mp = Dedup.semanticDedup(spark, sf, nprobe = 3)
      .select($"vec_a", $"vec_b").as[(Long, Long)].collect().toSet
    // within-home-bucket pairs survive identically (same cap, same minCos,
    // same rounding), probes only ADD cross-bucket pairs
    assert(base.subsetOf(mp), s"${(base -- mp).size} d11 pairs lost by multi-probe")
    assert(mp.subsetOf(truth), "multi-probe reported a pair below minCos — verify broken")
    val rBase = if (truth.isEmpty) 1.0 else base.intersect(truth).size.toDouble / truth.size
    val rMp = if (truth.isEmpty) 1.0 else mp.intersect(truth).size.toDouble / truth.size
    info(f"semantic pair recall: d11 $rBase%.3f -> multi-probe $rMp%.3f (nprobe=3)")
    assert(rMp >= rBase)
  }

  test("d11b quantized prefilter is row-identical to the unfiltered verify") {
    // The int8 prefilter may only DROP pairs whose provable cosine upper
    // bound clears below the rounded threshold — the output (including
    // the exact cos values) must be bit-identical with the prefilter off.
    val on = Dedup.semanticDedup(spark, sf, planes = 8, nprobe = 3)
      .select($"vec_a", $"vec_b", $"cos")
      .as[(Long, Long, Double)].collect().toSet
    spark.catalog.clearCache()
    val vecs = Tables.embeddings(spark, sf).select($"vec_id",
      graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val off = Dedup.semanticPairsOf(vecs, planes = 8, dim = 64, minCos = 0.3,
        maxBucket = 512, nprobe = 3, quantPrefilter = false)
      .select($"vec_a", $"vec_b", $"cos")
      .as[(Long, Long, Double)].collect().toSet
    spark.catalog.clearCache()
    assert(on == off,
      s"prefilter changed the result: +${(on -- off).size} -${(off -- on).size}")
    assert(on.nonEmpty, "parity over an empty pair set proves nothing")
  }

  test("semantic frame projects each hyperplane once for d11 and d11b") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // a plane projection is the dotProduct kernel against a literal
    // weight vector; the verify's cosine dots two columns
    def planeDots(e: Expression): Int = e.collect {
      case i: StaticInvoke if i.functionName == "dotProduct" &&
          i.arguments.exists(_.foldable) => 1
    }.sum
    for (key <- Seq("d11_semantic_dedup", "d11b_semantic_multiprobe")) {
      // in plan mode the frame stays cached, so every read of it is one
      // cached relation, as at runtime: count over the whole plan, each
      // cached relation's plan once
      val nodes = graft.operators.SelfClean.planned {
        planNodes(SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan)
      }
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"$key: no cached frame in the plan - plan walk is broken")
      val dots = nodes.map(_.expressions.map(planeDots).sum).sum
      assert(dots == 8, s"$key: the plan evaluates $dots plane projections, not 8")
    }
  }

  test("d12 with nprobe>1: plain clusters only coarsen, never split") {
    val plain = Dedup.semanticClusters(spark, sf)
      .select($"vec_id", $"cluster_id").as[(Long, Long)].collect().toMap
    spark.catalog.clearCache()
    val mp = Dedup.semanticClusters(spark, sf, nprobe = 3)
      .select($"vec_id", $"cluster_id").as[(Long, Long)].collect().toMap
    spark.catalog.clearCache()
    assert(plain.keySet == mp.keySet, "both paths must assign every vector")
    // multi-probe pairs are a superset, so components can only merge:
    // every plain cluster must land inside exactly one multi-probe cluster
    val split = plain.groupBy(_._2).filter { case (_, members) =>
      members.keys.map(mp).toSet.size > 1 }
    assert(split.isEmpty, s"${split.size} plain clusters split under multi-probe")
    assert(mp.values.toSet.size <= plain.values.toSet.size)
  }

  test("d12 composed path: one survivor per planted semantic cluster, no cross-label merges") {
    // planes sized to the corpus per the d11 scaladoc rule (2^planes ≈
    // n / expected bucket size: 500 vectors at ~25/label → planes 3-4);
    // the default 8 would scatter a 25-vector label over 256 buckets
    def clustersOn(noise: Double, planes: Int) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-semclusters").toString
      GenCorpus.generateEmbeddings(spark, 500, noise = noise)
        .write.parquet(s"$dir/embeddings.parquet")
      val lbl = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id", $"label")
      Dedup.semanticClusters(spark, dir, planes = planes, minCos = 0.8)
        .join(lbl, Seq("vec_id"))
        .persist()
    }
    def invariants(tagged: org.apache.spark.sql.DataFrame): Unit = {
      assert(tagged.count() == 500, "every vector gets a cluster assignment")
      // zero cross-label merges: a cluster spanning two planted labels
      // means the cosine verify let a false edge through
      val mixed = tagged.groupBy($"cluster_id")
        .agg(countDistinct($"label").as("nl")).filter($"nl" > 1).count()
      assert(mixed == 0, s"$mixed clusters span more than one planted label")
      // exactly one kept survivor per cluster, and it is the min member
      val bad = tagged.groupBy($"cluster_id")
        .agg(sum(when($"is_kept", 1).otherwise(0)).as("nk"),
          min($"vec_id").as("mn"), first($"cluster_id").as("cid"))
        .filter($"nk" =!= 1 || $"mn" =!= $"cid").count()
      assert(bad == 0, "each cluster keeps exactly its min-id member")
    }
    // Bucket-stable corpus (tiny noise, no label near a hyperplane):
    // SemDeDup's ideal — 20 planted labels → EXACTLY one survivor each.
    val tight = clustersOn(0.01, planes = 3)
    invariants(tight)
    val tightKept = tight.filter($"is_kept").count()
    assert(tightKept == 20,
      s"bucket-stable corpus must keep exactly its 20 label centroids, got $tightKept")
    tight.unpersist()
    // Realistic corpus (0.3 noise): same safety invariants; pruning still
    // collapses 500 → well under 150, but labels straddling a hyperplane
    // fragment into a few sign buckets each (the documented single-bucket
    // recall boundary — s02's banded OR-construction is the fix when it
    // matters). Observed worst-case fragmentation ~10; bound at 16.
    val noisy = clustersOn(0.3, planes = 4)
    invariants(noisy)
    val kept = noisy.filter($"is_kept").count()
    assert(kept < 150, s"expected <150 survivors of 500, got $kept")
    val perLabel = noisy.filter($"is_kept").groupBy($"label").count()
      .agg(max($"count")).as[Long].head()
    assert(perLabel <= 16,
      s"a planted label fragmented into $perLabel survivors — bucketing broke")
    noisy.unpersist()
  }

  test("oversized semantic bucket routes to per-bucket canonical pick, pair stage stays bounded") {
    val dir = java.nio.file.Files.createTempDirectory("graft-semadv").toString
    // a degenerate "template" cluster: one embedding repeated far past the
    // bucket cap, next to a small normal corpus
    val template = GenCorpus.generateEmbeddings(spark, 1, noise = 0.0)
      .select($"embedding")
    val degenerate = spark.range(2000).crossJoin(template)
      .select(($"id" + 1000000L).as("vec_id"), $"embedding", lit(999).as("label"))
    GenCorpus.generateEmbeddings(spark, 500).unionByName(degenerate)
      .write.parquet(s"$dir/embeddings.parquet")
    // pair stage: the 2000-member bucket must NOT reach the self-join —
    // pairs among degenerate ids would number ~2M; bounded means zero
    val pairs = Dedup.semanticDedup(spark, dir, maxBucket = 512)
    assert(pairs.filter($"vec_a" >= 1000000L || $"vec_b" >= 1000000L).count() == 0,
      "an oversized bucket's members must not produce pairwise work")
    // the omission is observable, not silent
    val dropped = Dedup.semanticDroppedBuckets(spark, dir, maxBucket = 512)
      .collect()
    assert(dropped.exists(_.getAs[Long]("bucket_n") >= 2000L),
      "the degenerate bucket must surface in the dropped-bucket diagnostic")
    // default composed path: degenerate members come out singletons (kept)
    val plain = Dedup.semanticClusters(spark, dir, maxBucket = 512)
    assert(plain.filter($"vec_id" >= 1000000L && !$"is_kept").count() == 0)
    // canonical routing: the whole degenerate bucket collapses to its
    // min-id member with no pairwise verify
    val routed = Dedup.semanticClusters(spark, dir, maxBucket = 512,
      oversizedCanonical = true).persist()
    val degen = routed.filter($"vec_id" >= 1000000L)
    // one cluster for the whole bucket (its id is the bucket's min member,
    // which may be a normal-corpus vector sharing the sign pattern), and
    // exactly one survivor in it
    val cids = degen.select($"cluster_id").distinct().as[Long].collect()
    assert(cids.length == 1,
      s"all degenerate members must share one cluster, got ${cids.length}")
    assert(routed.filter($"cluster_id" === cids(0) && $"is_kept").count() == 1,
      "exactly one survivor from the degenerate cluster")
    routed.unpersist()
    spark.catalog.clearCache()
    // canonical routing composed with multi-probe: an oversized-bucket
    // member can now ALSO earn a verified-pair (cc) label through its
    // probes — the output must still be one row per vector, verified
    // labels winning over the canonical route
    val mp = Dedup.semanticClusters(spark, dir, maxBucket = 512,
      oversizedCanonical = true, nprobe = 3).persist()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(mp.count() == total,
      s"one row per vector expected ($total), got ${mp.count()}")
    assert(mp.select($"vec_id").distinct().count() == total,
      "a vector received two conflicting cluster assignments")
    assert(mp.filter($"vec_id" >= 1000000L).select($"cluster_id")
      .distinct().count() <= 2,
      "degenerate members must stay in at most home-canonical + probe clusters")
    mp.unpersist()
    spark.catalog.clearCache()
  }

  test("d18 segment near-dup catches EDITED repeated passages exact segment dedup misses") {
    val dir = java.nio.file.Files.createTempDirectory("graft-segnd").toString
    // a 10-token boilerplate passage; doc 1 quotes it VERBATIM, doc 2
    // quotes it with the LAST token edited — that kills 1 of 8 3-gram
    // shingles (jaccard 7/9 ≈ 0.78, comfortably above the 8×2 banding's
    // ~0.35 s-curve threshold); unique filler keeps docs un-alike as wholes
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val edited = passage.replace("juliet", "zulu")
    def filler(seed: String) = (1 to 10).map(i => s"$seed$i").mkString(" ")
    val docs = Seq(
      (0L, s"$passage ${filler("aa")}"),
      (1L, s"${filler("bb")} $passage"),
      (2L, s"${filler("cc")} $edited"),
      (3L, filler("dd") + " " + filler("de"))).toDF("doc_id", "text")
    docs.write.parquet(s"$dir/documents.parquet")
    val out = Dedup.segmentNeardup(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    // doc 0 holds the first occurrence: nothing earlier → zero dups
    assert(out(0L) == (2L, 0L), s"doc 0 got ${out(0L)}")
    // doc 1's verbatim copy and doc 2's EDITED copy both flag
    assert(out(1L)._2 == 1L, s"verbatim repeat missed: ${out(1L)}")
    assert(out(2L)._2 == 1L, s"edited repeat missed: ${out(2L)}")
    // doc 3 is all-unique filler
    assert(out(3L)._2 == 0L, s"false positive on unique doc: ${out(3L)}")
    // and the contrast that justifies the operator: EXACT segment dedup
    // (d13) cannot see the edited copy
    val exact = Dedup.segmentDedupOf(
      spark.read.parquet(s"$dir/documents.parquet"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exact(2L) == 2L,
      "d13 should keep the edited passage (it is not an exact dup)")
    spark.catalog.clearCache()
    // the corpus-wide production-family form must reach the same verdicts
    // on this corpus (same segmentation + rollup, xxhash candidates)
    val full = Dedup.segmentNeardupFullOf(
      spark.read.parquet(s"$dir/documents.parquet"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(full == out, s"production-family verdicts diverge: $full vs $out")
    spark.catalog.clearCache()
    // HOT boilerplate far past the LSH bucket cap: a verbatim passage in
    // 200 docs. Banding the raw segment stream would silently unflag all
    // of it (every bucket > maxBucket=64); the exact-first stage must
    // collapse it to ONE keeper and flag the other 199 occurrences.
    val hotDir = java.nio.file.Files.createTempDirectory("graft-seghot").toString
    val hot = (0L until 200L).map(i =>
      (5000L + i, s"${filler(s"u$i")} $passage")).toDF("doc_id", "text")
    hot.write.parquet(s"$hotDir/documents.parquet")
    val hotOut = Dedup.segmentNeardupFullOf(
      spark.read.parquet(s"$hotDir/documents.parquet"))
    val flagged = hotOut.agg(sum($"n_fuzzy_dup")).as[Long].head()
    assert(flagged == 199L,
      s"hot verbatim boilerplate must flag 199 later copies, got $flagged")
    spark.catalog.clearCache()
  }

  test("d13 segment dedup keeps only the first corpus occurrence of a passage") {
    val passage = (1 to 20).map(i => s"p$i").mkString(" ") // exactly 2 segments
    val tail10 = (1 to 10).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      1L -> passage, // both segments are first occurrences
      2L -> (passage + " " + tail10), // first 2 of 3 segments duplicate doc 1
      3L -> tail10, // its only segment duplicates doc 2's tail
      4L -> (tail10 + " " + tail10) // within-doc repeat: second copy dropped
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedupOf(docs, width = 10)
      .select($"doc_id", $"n_seg", $"n_kept")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == Map(1L -> (2L, 2L), 2L -> (3L, 1L), 3L -> (1L, 0L),
      4L -> (2L, 0L)), got.toString)
    spark.catalog.clearCache()
  }

  test("d13 kept mass equals the corpus's distinct segment count") {
    val res = Dedup.segmentDedup(spark, sf).persist()
    val kept = res.agg(sum($"n_kept")).head().getLong(0)
    val distinctSegs = Tables.documents(spark, sf)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select(posexplode(transform(
        sequence(lit(0), floor((size($"toks") + lit(9)) / lit(10)).cast("int") - 1),
        i => array_join(slice($"toks", i * 10 + 1, lit(10)), " "))))
      .select($"col").distinct().count()
    assert(kept == distinctSegs, s"kept $kept vs distinct segments $distinctSegs")
    res.unpersist()
    spark.catalog.clearCache()
  }

  test("incremental dedup: delta probe recovers planted dups; stored index never reshuffles") {
    def text(i: Long): String =
      (0 until 40).map(j => s"w${i}_$j").mkString(" ")
    val corpus = (0L until 300L).map(i => i -> text(i)).toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS inc_idx_spec_bands")
    spark.sql("DROP TABLE IF EXISTS inc_idx_spec_shingles")
    Dedup.writeDedupIndex(corpus, "inc_idx_spec")
    // delta: 30 near-dups of every 10th corpus doc (one-token change,
    // Jaccard ≈ 35/40 shingles) + 30 fresh docs sharing zero tokens
    val delta = ((0 until 30).map { j =>
      (1000L + j) -> text(j * 10L).replaceFirst("^\\S+", "CHANGED")
    } ++ (0 until 30).map { j =>
      (2000L + j) -> (0 until 40).map(k => s"z${j}_$k").mkString(" ")
    }).toDF("doc_id", "text")
    val got = Dedup.dedupDelta(spark, "inc_idx_spec", delta)
    // the production-scale invariant: the stored tables feed their joins
    // in their bucketed layout — no ShuffleExchange sits BETWEEN a stored
    // scan and its first join (candidate-sized shuffles above the joins
    // are fine; so is broadcasting the small side at this scale). AQE
    // wraps the plan, so unwrap before traversing — a collect on the
    // wrapper sees no exchanges at all and would pass vacuously. `got`
    // is checkpointed (a bare `Scan ExistingRDD`), so walk the probe as
    // plan mode builds it, with the checkpoint a pass-through.
    val plan = graft.operators.SelfClean.planned {
      planNodes(Dedup.dedupDelta(spark, "inc_idx_spec", delta)
        .queryExecution.executedPlan)
    }
    val allShuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(allShuffles.nonEmpty,
      "traversal found no exchanges anywhere - plan walk is broken")
    val storedScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith("inc_idx_spec")) => f
    }
    assert(storedScans.nonEmpty,
      "traversal found no stored index scan - plan walk is broken")
    val reshuffledStore = allShuffles.filter { e =>
      val scans = planNodes(e.child).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith("inc_idx_spec")) => f
      }
      val joins = planNodes(e.child).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      scans.nonEmpty && joins.isEmpty
    }
    assert(reshuffledStore.isEmpty,
      s"stored index reshuffled before its join:\n${reshuffledStore.mkString("\n")}")
    val pairs = got.select($"corpus_id", $"new_id")
      .as[(Long, Long)].collect().toSet
    val want = (0 until 30).map(j => (j * 10L, 1000L + j)).toSet
    assert(pairs == want, s"got ${pairs.size} pairs, want the 30 planted")
    spark.catalog.clearCache()
  }

  test("dedupDelta returns its pairs sorted by (corpus_id, new_id)") {
    def text(i: Long): String =
      (0 until 40).map(j => s"o${i}_$j").mkString(" ")
    def edit(t: String, tag: String): String = t.replaceFirst("^\\S+", tag)
    // each delta doc near-dups TWO corpus docs (a base and its edit), and
    // the delta ids run opposite to the corpus ids
    val corpus = ((0L until 20L).map(i => i -> text(i)) ++
      (0L until 20L).map(i => (100L + i) -> edit(text(i), "E")))
      .toDF("doc_id", "text")
    Seq("_bands", "_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ord_idx_spec$t"))
    Dedup.writeDedupIndex(corpus, "ord_idx_spec")
    val delta = (0L until 20L).map(i => (1000L - i) -> edit(text(i), "D"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupDelta(spark, "ord_idx_spec", delta)
    assert(got.queryExecution.optimizedPlan match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.global
      case _ => false
    }, "the result must end in a global sort")
    val rows = got.select($"corpus_id", $"new_id").as[(Long, Long)]
      .collect().toSeq
    assert(rows.size == 40, s"want both matches of every delta doc: $rows")
    assert(rows == rows.sorted, s"rows out of (corpus_id, new_id) order: $rows")
    Seq("_bands", "_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ord_idx_spec$t"))
    spark.catalog.clearCache()
  }

  test("semantic index: multi-probe delta finds perturbed near-dups, stored side never reshuffles") {
    val corpus = GenCorpus.generateEmbeddings(spark, 2000)
    spark.sql("DROP TABLE IF EXISTS sem_idx_spec_vecs")
    Dedup.writeSemanticIndex(corpus, "sem_idx_spec")
    // delta: 30 corpus vectors perturbed by a tiny deterministic nudge
    // (cos ≈ 0.999 to their source — near-dups a daily batch would carry)
    // + 30 fresh orthogonal-ish random vectors
    val perturbed = corpus.filter($"vec_id" < 30)
      .select(($"vec_id" + 10000L).as("vec_id"),
        transform(graft.functions.VectorFunctions.asDouble($"embedding"),
          (x, i) => (x + when(i === 0, lit(0.01)).otherwise(lit(0.0)))
            .cast("float")).as("embedding"))
    val fresh = GenCorpus.generateEmbeddings(spark, 30)
      .select(($"vec_id" + 20000L).as("vec_id"),
        transform($"embedding", x => -x).as("embedding"))
    val got = Dedup.semanticDelta(spark, "sem_idx_spec",
      perturbed.unionByName(fresh), minCos = 0.99)
    // the production-scale invariant, same as the text index: no
    // ShuffleExchange between a stored scan and its first join
    val plan = got.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val allShuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(allShuffles.nonEmpty,
      "traversal found no exchanges anywhere - plan walk is broken")
    val reshuffledStore = allShuffles.filter { e =>
      val scans = e.child.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith("sem_idx_spec")) => f
      }
      val joins = e.child.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      scans.nonEmpty && joins.isEmpty
    }
    assert(reshuffledStore.isEmpty,
      s"stored semantic index reshuffled before its join:\n${reshuffledStore.mkString("\n")}")
    val pairs = got.select($"corpus_id", $"new_id").as[(Long, Long)].collect()
    val bySrc = pairs.filter { case (c, n) => n == c + 10000L }
    // multi-probe recall on a 0.999-cosine perturbation: the nudge can
    // flip a plane the vector sits on — that is exactly what the probes
    // cover; demand near-total recovery, tolerate a double-flip straggler
    assert(bySrc.length >= 28, s"found ${bySrc.length}/30 planted near-dups")
    // PRECISION: the 30 negated fresh vectors (cos = -1 to their sources,
    // ≈0 to everything else) must never verify — a broken cosine filter
    // would emit every bucket collision and recall alone would stay green
    assert(pairs.forall { case (_, n) => n < 20000L },
      s"false positives on guaranteed-novel vectors: ${pairs.filter(_._2 >= 20000L).mkString(",")}")
    // append path: a new batch is immediately probeable with no reindex
    val appended = corpus.filter($"vec_id" >= 30 && $"vec_id" < 40)
      .select(($"vec_id" + 30000L).as("vec_id"), $"embedding")
    Dedup.appendSemanticIndex(appended, "sem_idx_spec")
    val got2 = Dedup.semanticDelta(spark, "sem_idx_spec",
      corpus.filter($"vec_id" >= 30 && $"vec_id" < 40)
        .select(($"vec_id" + 40000L).as("vec_id"), $"embedding"),
      minCos = 0.999999)
    val exact = got2.select($"corpus_id", $"new_id").as[(Long, Long)].collect()
      .filter { case (c, n) => c == n - 10000L }
    assert(exact.length == 10,
      s"append not probeable: found ${exact.length}/10 exact copies")
    spark.sql("DROP TABLE IF EXISTS sem_idx_spec_vecs")
    spark.catalog.clearCache()
  }

  test("cluster-table memo self-invalidates when the corpus dir is rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // corpus 1: docs 1/2 near-dup -> cluster {1,2}
    write(Seq(1L -> base, 2L -> nearDup, 3L -> unrelated))
    val ids1 = Dedup.clusterTable(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    assert(ids1 == Set(1L, 2L), s"corpus-1 cluster members: $ids1")
    // corpus rewritten IN PLACE (same dir string, same session) with
    // different docs: the memo must notice — NO clearMemos() call.
    write(Seq(10L -> base, 11L -> nearDup))
    val ids2 = Dedup.clusterTable(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    assert(ids2 == Set(10L, 11L),
      s"memo served stale clusters after in-place corpus rewrite: $ids2")
    // unchanged corpus still memo-hits (same frame instance back)
    val again = Dedup.clusterTable(spark, dir)
    val again2 = Dedup.clusterTable(spark, dir)
    assert(again eq again2, "unchanged corpus must still hit the memo")
  }

  test("a corpus rewrite releases the replaced cluster table's checkpoint blocks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-release").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def resident: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val si = org.apache.spark.sql.graft.SparkInternals
    write(Seq(1L -> base, 2L -> nearDup, 3L -> unrelated))
    val oldIds = si.checkpointRddIds(Dedup.clusterTable(spark, dir)).toSet
    assert(oldIds.nonEmpty && oldIds.subsetOf(resident),
      s"the cluster table must hold resident checkpoint blocks: $oldIds")
    write(Seq(10L -> base, 11L -> nearDup))
    val newIds = si.checkpointRddIds(Dedup.clusterTable(spark, dir)).toSet
    assert(newIds.nonEmpty && newIds.subsetOf(resident))
    assert((oldIds & resident).isEmpty,
      s"the replaced entry's blocks are still resident: ${oldIds & resident}")
  }

  test("d16 bloom decontamination is bit-identical to the exact semi-join") {
    val exact = pipeline.DocumentPipeline.decontaminate(spark, sf).collect().toSeq
    val bloom = pipeline.DocumentPipeline.decontaminateBloom(spark, sf)
      .collect().toSeq
    assert(bloom == exact,
      s"bloom+verify must equal exact: ${bloom.size} vs ${exact.size} rows")
    assert(exact.nonEmpty, "sf0.001 corpus must actually have overlaps")
  }

  test("d16 verify stage is load-bearing: a starved sketch passes false " +
      "positives, the result still never changes") {
    import org.apache.spark.sql.graft.GraftFunctions._
    val docs = graft.Tables.documents(spark, sf)
    val sh = docs.select($"doc_id",
      explode(Dedup.shingles($"text", 3)).as("shingle"))
    val bench = sh.filter($"doc_id" < 5).select($"shingle").distinct()
    val corpus = sh.filter($"doc_id" >= 5)
    val exactHits = corpus.join(bench, Seq("shingle"), "left_semi").count()
    // 64 bits for thousands of distinct shingles: the sketch saturates
    // and nearly everything becomes a candidate.
    val tiny = bench.agg(bloom_filter_agg(xxhash64($"shingle"), 100000L, 64L)
      .as("bf")).head.getAs[Array[Byte]]("bf")
    val candidates = corpus
      .filter(might_contain(lit(tiny), xxhash64($"shingle"))).count()
    assert(candidates > exactHits,
      s"starved bloom must admit false positives ($candidates vs $exactHits)")
    val out = pipeline.DocumentPipeline
      .decontaminateBloom(spark, sf, numBits = 64L).collect().toSeq
    val ref = pipeline.DocumentPipeline.decontaminate(spark, sf).collect().toSeq
    assert(out == ref, "false positives must die in the exact verify")
  }

  test("d16 empty benchmark contaminates nothing") {
    // Shift ids so nothing falls in the doc_id < 5 benchmark window.
    val dir = java.nio.file.Files.createTempDirectory("d16_empty_").toString
    graft.Tables.documents(spark, sf)
      .withColumn("doc_id", $"doc_id" + 100L)
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    assert(pipeline.DocumentPipeline.decontaminateBloom(spark, dir).count() == 0L)
  }

  test("d17 sketch overlap tracks exact distinct-shingle intersections") {
    import org.apache.spark.sql.graft.GraftFunctions
    val docs = graft.Tables.documents(spark, sf)
    val got = Dedup.sourceSketchOverlapOf(docs)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val sh = docs.select($"source",
        explode(GraftFunctions.word_shingle_hashes($"text", 3)).as("h"))
      .distinct()
      .persist()
    val exact = sh.groupBy($"source").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val inter = sh.as("a")
      .join(sh.as("b"), $"a.h" === $"b.h" && $"a.source" < $"b.source")
      .groupBy($"a.source", $"b.source").agg(count(lit(1)).as("ni"))
      .as[(String, String, Long)].collect()
      .map { case (l, h, n) => (l, h) -> n }.toMap
    got.foreach { case (lo, hi, estLo, estHi, estOv, cont) =>
      // Per-source cardinalities: HLL lgK=12 has ~1.6% RSE — 5% slack.
      assert(math.abs(estLo - exact(lo)) <= math.max(5.0, exact(lo) * 0.05),
        s"$lo: est $estLo vs exact ${exact(lo)}")
      assert(math.abs(estHi - exact(hi)) <= math.max(5.0, exact(hi) * 0.05))
      // Inclusion-exclusion overlap: error scales with the UNION size,
      // not the overlap — tolerate 5% of the union.
      val exOv = inter.getOrElse((lo, hi), 0L)
      val union = exact(lo) + exact(hi) - exOv
      assert(math.abs(estOv - exOv) <= math.max(10.0, union * 0.05),
        s"($lo,$hi): est overlap $estOv vs exact $exOv (union $union)")
      assert(cont >= 0.0 && cont <= 1.5)
    }
    sh.unpersist()
    // Sketch estimates are deterministic functions of the input set.
    val again = Dedup.sourceSketchOverlapOf(docs)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("d18b near-dup stage: measured banding s-curve tracks 1-(1-j^4)^16") {
    // The d18b scaladoc asserts candidate recall past the exact stage
    // "follows this family's 16×4 s-curve". Measure it: plant PAIRS of
    // passages at graded exact shingle-Jaccard and compare the fraction
    // the 16-band × 4-row pipeline surfaces against the theoretical
    // collision probability p(j) = 1 - (1 - j^4)^16.
    //
    // Construction: each pair shares a passage of L=42 pair-unique tokens;
    // the B side replaces the last r tokens with fresh ones. Word-3-gram
    // shingles: |A| = |B| = 40, shared = 40 - r, so j = (40-r)/(40+r)
    // exactly — no sampling error on the x-axis. Pair-unique vocabularies
    // keep cross-pair band-hash collisions at the 2^-64 floor.
    val nPairs = 300
    val levels = Seq(2, 5, 8, 12, 16) // j = 0.905, 0.778, 0.667, 0.538, 0.429
    val docs = (for {
      (r, li) <- levels.zipWithIndex
      p <- 0 until nPairs
    } yield {
      val tag = s"l${li}p$p"
      val toksA = (0 until 42).map(i => s"${tag}t$i")
      val toksB = toksA.dropRight(r) ++ (0 until r).map(i => s"${tag}x$i")
      val base = (li.toLong * nPairs + p) * 2
      Seq((base, toksA.mkString(" ")), (base + 1, toksB.mkString(" ")))
    }).flatten
    val df = docs.toDF("doc_id", "text")
    // minJaccard below every planted level: the verify stage must pass
    // every CANDIDATE through, so found/planted measures banding alone.
    val found = Dedup.minhashPairs(df, bands = 16, rows = 4, minJaccard = 0.01)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
      .filter { case (a, b) => b == a + 1 && a % 2 == 0 }
      .map(_._1 / (2L * nPairs)).groupBy(identity).view.mapValues(_.size).toMap
    val report = levels.zipWithIndex.map { case (r, li) =>
      val j = (40.0 - r) / (40.0 + r)
      val theory = 1.0 - math.pow(1.0 - math.pow(j, 4), 16)
      val measured = found.getOrElse(li.toLong, 0).toDouble / nPairs
      info(f"j=$j%.3f: measured $measured%.3f vs theory $theory%.3f (r=$r)")
      (j, measured, theory)
    }
    report.foreach { case (j, measured, theory) =>
      // 300 Bernoulli trials: stderr <= 0.029; 0.12 covers ~4 sigma plus
      // the one-hash construction's deviation from ideal permutations.
      assert(math.abs(measured - theory) <= 0.12,
        f"s-curve off at j=$j%.3f: measured $measured%.3f, theory $theory%.3f")
    }
    // The curve must actually be an s-curve: monotone in j.
    val ms = report.map(_._2)
    assert(ms.zip(ms.tail).forall { case (hi, lo) => hi >= lo },
      s"measured recall not monotone in j: $ms")
  }

  test("d19 substring dedup removes exactly the later copies of >=k-token runs") {
    def w(tag: String, n: Int): Seq[String] = (0 until n).map(i => s"$tag$i")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val base = w("a", 40)                   // doc 1: the keeper
    val shared = base.slice(5, 30)          // 25-token run
    val doc2 = w("b", 10) ++ shared ++ w("c", 10)
    val doc3 = w("d", 8) ++ shared ++ w("e", 8)
    val blockB = w("f", 22)
    val doc4 = blockB ++ w("g", 5) ++ blockB // within-doc repeat
    val doc5 = w("h", 12) ++ base.slice(0, 19) ++ w("i", 3) // 19 < k: untouched
    val doc6 = w("j", 10)                   // shorter than k: untouched
    val docs = Seq(
      1L -> base, 2L -> doc2, 3L -> doc3, 4L -> doc4, 5L -> doc5, 6L -> doc6)
      .map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val out = operators.Dedup.substringDedupOf(docs, k = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap

    // keeper and sub-threshold docs untouched, digests = their own text
    for ((id, ws) <- Seq(1L -> base, 5L -> doc5, 6L -> doc6)) {
      val (_, spans, removed, dig) = out(id)
      assert(spans == 0 && removed == 0, s"doc $id must be untouched")
      assert(dig == md5hex(ws.mkString(" ")))
    }
    // docs 2 and 3: exactly the 25-token copied run removed, one span
    assert(out(2L) == ((45L, 1L, 25L,
      md5hex((w("b", 10) ++ w("c", 10)).mkString(" ")))))
    assert(out(3L) == ((41L, 1L, 25L,
      md5hex((w("d", 8) ++ w("e", 8)).mkString(" ")))))
    // doc 4: the SECOND occurrence of its own 22-token block removed
    assert(out(4L) == ((49L, 1L, 22L,
      md5hex((blockB ++ w("g", 5)).mkString(" ")))))
  }

  test("substringHotSpans surfaces the hottest repeated run with its keeper text") {
    def w(tag: String, n: Int): Seq[String] = (0 until n).map(i => s"$tag$i")
    val hot = w("hh", 20) // repeated in 5 docs
    val warm = w("ww", 20) // repeated in 2 docs
    val docs = (Seq(
      1L -> (hot ++ w("a", 10)),
      2L -> (w("b", 5) ++ hot ++ w("c", 5)),
      3L -> (w("d", 8) ++ hot),
      4L -> (hot ++ w("e", 12)),
      5L -> (w("f", 3) ++ hot ++ w("g", 3)),
      6L -> (warm ++ w("h", 10)),
      7L -> (w("i", 4) ++ warm)) ++
      (8 to 12).map(i => i.toLong -> w(s"u$i", 25)))
      .map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val top = operators.Dedup.substringHotSpans(docs, k = 20, topN = 5)
      .collect()
    assert(top.nonEmpty)
    val first = top.head
    assert(first.getAs[Long]("n_occurrences") == 5L,
      s"hot run must top the list: $first")
    assert(first.getAs[Long]("keeper_doc") == 1L &&
      first.getAs[Long]("keeper_pos") == 0L)
    assert(first.getAs[String]("span_text") == hot.mkString(" "))
    // the warm run appears below with its own count
    assert(top.exists(r => r.getAs[Long]("n_occurrences") == 2L &&
      r.getAs[String]("span_text") == warm.mkString(" ")))
  }

  test("scaledPlanes wires the documented corpus rule (r14 #1)") {
    import operators.Dedup.scaledPlanes
    // floor: test-scale corpora stay at the oracled planes=8 partition
    assert(scaledPlanes(1000) == 8)
    assert(scaledPlanes(65536) == 8)  // boundary: 65536/256 = 2^8 exactly
    assert(scaledPlanes(65537) == 9)
    assert(scaledPlanes(200000) == 10)       // sf10's 200k vectors
    assert(scaledPlanes(100000000) == 19)    // the scaladoc's 100M example
    // stored-index floor (writeSemanticIndex minPlanes = 12)
    assert(scaledPlanes(1000, minPlanes = 12) == 12)
    assert(scaledPlanes(100000000, minPlanes = 12) == 19)
    // every verify/selfcheck SF resolves to the oracle's planes=8, so
    // the auto default cannot diverge from the DuckDB hash check
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val n = Tables.embeddings(spark, d).count()
      assert(scaledPlanes(n) == 8, s"$d: n=$n must resolve to 8")
    }
  }

  test("fused remove_spans rebuild equals the composed anti-join rebuild (r19)") {
    // Hostile span shapes the planted-corpus tests don't cover: a doc
    // fully covered, spans at both ends, mid-doc islands, a doc with no
    // spans, and an empty-token doc. The composed form is the exact
    // relational tail substringCleanCore used before r19 (posexplode →
    // covered anti-join → position-sorted collect_list → array_join);
    // the fused RemoveSpans walk must match it byte-for-byte.
    val rows = Seq(
      (1L, (0 until 30).map(i => s"t$i"), Seq((0, 30))),          // fully covered
      (2L, (0 until 30).map(i => s"u$i"), Seq((0, 5), (25, 30))), // both ends
      (3L, (0 until 30).map(i => s"v$i"), Seq((4, 9), (10, 21))), // adjacent islands
      (4L, (0 until 30).map(i => s"w$i"), Seq.empty[(Int, Int)]), // no spans
      (5L, Seq(""), Seq.empty[(Int, Int)]))                        // empty text
    val toks = rows.map { case (id, ts, _) => (id, ts) }.toDF("doc_id", "toks")
    val flagged = rows.flatMap { case (id, _, sps) =>
      // flag every k-window start the span family would have flagged for
      // these spans at k = 5 (consecutive starts collapse back into the
      // same maximal spans)
      sps.flatMap { case (s0, e0) => (s0 to e0 - 5).map(p => (id, p)) }
    }.toDF("doc_id", "pos")
    val k = 5
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    val spans = flagged
      .withColumn("prev_end", max($"pos" + k).over(byPos.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(when($"prev_end".isNull || $"pos" > $"prev_end",
        1L).otherwise(0L)).over(byPos))
      .groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("s"), (max($"pos") + k).as("e"))
    // composed rebuild — verbatim the pre-r19 tail
    val covered = spans.select($"doc_id", explode(sequence($"s", $"e" - 1)).as("pos"))
    val composed = toks.select($"doc_id", posexplode($"toks"))
      .select($"doc_id", $"pos", $"col".as("tok"))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy($"doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct($"pos", $"tok"))),
        x => x.getField("tok")), " ").as("cleaned"))
    val composedMap = toks.join(composed, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cleaned", lit("")).as("cleaned"))
      .as[(Long, String)].collect().toMap
    // fused rebuild
    val spanAgg = spans.groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"s".cast("int").as("s"),
        $"e".cast("int").as("e")))).as("spans"))
    val fusedMap = toks.join(spanAgg, Seq("doc_id"), "left")
      .select($"doc_id", org.apache.spark.sql.graft.GraftFunctions
        .remove_spans($"toks",
          coalesce($"spans", array().cast("array<struct<s:int,e:int>>")))
        .as("cleaned"))
      .as[(Long, String)].collect().toMap
    assert(fusedMap == composedMap,
      s"fused diverged: ${fusedMap.toSeq.diff(composedMap.toSeq)}")
    assert(fusedMap(1L) == "" && fusedMap(4L) == rows(3)._2.mkString(" "))
  }

  test("span-dedup entry points leave nothing cached behind") {
    // Each public substring/segment, minhash and semantic entry point
    // either persists nothing or releases what it persisted before
    // returning; the stored-index probes run after their own index
    // writers, which must not leak either, and so does p07's delta run
    // after the batch run that writes its state.
    val all = Tables.documents(spark, sf)
    val docs = all.select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 250)
    val delta = docs.filter($"doc_id" >= 250)
    val vecs = Tables.embeddings(spark, sf).select($"vec_id",
      graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val runs: Seq[(String, () => Unit)] = Seq(
      "substringDedupOf" -> (() => Dedup.substringDedupOf(docs).collect()),
      "substringDedupFastOf" ->
        (() => Dedup.substringDedupFastOf(docs).collect()),
      "substringRewriteOf" -> (() => Dedup.substringRewriteOf(docs).collect()),
      "substringRewriteDelta" -> { () =>
        Dedup.writeSubstringIndex(corpus, "leakspec_sub")
        Dedup.substringRewriteDelta(spark, "leakspec_sub", delta).collect()
      },
      "segmentDelta" -> { () =>
        Dedup.writeSegmentIndex(corpus, "leakspec_seg")
        Dedup.segmentDelta(spark, "leakspec_seg", delta).collect()
      },
      "segmentNeardupFullOf" ->
        (() => Dedup.segmentNeardupFullOf(docs).collect()),
      "minhashPairs" -> (() => Dedup.minhashPairs(docs).collect()),
      "minhashPairsAdaptive" ->
        (() => Dedup.minhashPairsAdaptive(docs).collect()),
      "dedupGroups" -> (() => Dedup.dedupGroups(docs).collect()),
      "dedupMinhash" -> (() => Dedup.dedupMinhash(spark, sf).collect()),
      "semanticDedup" -> (() => Dedup.semanticDedup(spark, sf).collect()),
      "semanticLosersOf" -> (() => Dedup.semanticLosersOf(vecs, maxBucket = 4,
        oversizedCanonical = true).collect()),
      "curateDelta" -> { () =>
        val bench = all.filter($"doc_id" < 5)
        pipeline.CorpusPipeline.curateFull(
          all.filter($"doc_id" >= 5 && $"doc_id" < 250), bench,
          stateTable = Some("leakspec_p07"))
        pipeline.CorpusPipeline.curateDelta(all.filter($"doc_id" >= 250),
          bench, "leakspec_p07").docs.collect()
      })
    spark.catalog.clearCache()
    val leaked = runs.flatMap { case (name, run) =>
      run()
      if (org.apache.spark.sql.graft.SparkInternals.cacheIsEmpty(spark)) None
      else { spark.catalog.clearCache(); Some(name) }
    }
    assert(leaked.isEmpty, s"left cached frames behind: ${leaked.mkString(", ")}")
  }

  test("semanticLosersOf: d11's pair losers, plus every non-min member " +
      "of an over-cap bucket when canonical") {
    val vecs = Tables.embeddings(spark, sf).select($"vec_id",
      graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    def ids(df: org.apache.spark.sql.DataFrame, c: String): Set[Long] =
      df.select(col(c)).as[Long].collect().toSet
    val pairLosers =
      ids(Dedup.semanticDedup(spark, sf, planes = 8, maxBucket = 4), "vec_b")
    assert(ids(Dedup.semanticLosersOf(vecs, maxBucket = 4), "vec_id") ==
      pairLosers)
    // over-cap buckets never pair, so their members add to the pair
    // losers disjointly: bucket_n - 1 each (the min id keeps)
    val overCapLosers = Dedup.semanticDroppedBuckets(spark, sf, planes = 8,
      maxBucket = 4).select($"bucket_n").as[Long].collect().map(_ - 1).sum
    assert(overCapLosers > 0, "the sample must hold an over-cap bucket")
    val canonical = ids(Dedup.semanticLosersOf(vecs, maxBucket = 4,
      oversizedCanonical = true), "vec_id")
    assert(pairLosers.subsetOf(canonical) &&
      canonical.size == pairLosers.size + overCapLosers)
  }

  test("d19b rolling-hash fast path is row-identical to the md5 form") {
    val docs = Tables.documents(spark, sf)
    val slow = operators.Dedup.substringDedupOf(docs).collect().toSeq
    val fast = operators.Dedup.substringDedupFastOf(docs).collect().toSeq
    assert(slow.nonEmpty && slow == fast,
      s"fast path diverged: ${fast.diff(slow).take(3)} vs ${slow.diff(fast).take(3)}")
    // the corpus has planted near-dup docs sharing long runs — the
    // operator must actually fire on it, not just agree on no-ops
    assert(slow.exists(_.getLong(2) > 0), "expected some spans removed")
    spark.catalog.clearCache()
  }
}
