package graft

import org.apache.spark.sql.functions._

/** Operators must degrade gracefully on empty input (a filtered-out
  * partition or an empty delta is routine at scale, not an edge case).
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("minhash pairs on empty input is empty, not an error") {
    assert(operators.Dedup.minhashPairs(emptyDocs).count() == 0)
  }

  test("simhash pairs on empty input is empty") {
    assert(operators.Dedup.simhashPairs(emptyDocs).count() == 0)
  }

  test("connected components on empty pair set is empty") {
    val emptyPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(operators.Dedup.connectedComponents(emptyPairs).count() == 0)
  }

  test("curation of empty corpus is empty") {
    assert(pipeline.CorpusPipeline.curate(emptyDocs).count() == 0)
  }

  test("hot-ngram mask on empty input is empty; short docs report zero masked") {
    assert(operators.Dedup.hotNgramMaskOf(emptyDocs).count() == 0)
    val short = Seq((1L, "just three words"), (2L, "just three words"))
      .toDF("doc_id", "text")
    val out = operators.Dedup.hotNgramMaskOf(short, n = 8, minDf = 2)
      .select($"doc_id", $"n_masked").as[(Long, Long)].collect().toMap
    // identical but shorter than n: no gram exists, nothing to mask
    assert(out == Map(1L -> 0L, 2L -> 0L))
  }

  test("substring dedup on empty and sub-k input degrades gracefully") {
    assert(operators.Dedup.substringDedupOf(emptyDocs).count() == 0)
    assert(operators.Dedup.substringDedupFastOf(emptyDocs).count() == 0)
    // every doc shorter than k: nothing flagged, text round-trips
    val short = Seq((1L, "alpha beta"), (2L, "alpha beta"))
      .toDF("doc_id", "text")
    val out = operators.Dedup.substringDedupFastOf(short, k = 20)
      .select($"doc_id", $"n_spans").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 0L))
    assert(operators.Dedup.substringRewriteOf(short, k = 20)
      .select($"cleaned").as[String].collect().toSet == Set("alpha beta"))
    // null text rows are routine in a scraped corpus: treated as empty
    val withNull = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val n = operators.Dedup.substringDedupFastOf(withNull, k = 20)
      .select($"doc_id", $"n_spans").as[(Long, Long)].collect().toMap
    assert(n == Map(1L -> 0L, 2L -> 0L))
  }

  test("sequence packing of an empty corpus is empty") {
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    assert(pipeline.DocumentPipeline.sequencePackOf(empty).count() == 0)
  }

  test("graph operators on an empty graph are empty, not an error") {
    val emptyPairs = Seq.empty[(Long, Long)].toDF("ck", "sk")
    // pagerank's 1/N teleport literal is Infinity when N = 0 — it must
    // stay inert on the zero-row rank frame, not surface as NaN rows
    assert(operators.Graph
      .pagerankOf(operators.Graph.tradeEdgesOf(emptyPairs)).count() == 0)
    assert(operators.Graph.copurchaseOf(emptyPairs).count() == 0)
    assert(operators.Graph.copurchaseSketchOf(emptyPairs).count() == 0)
    // fully-pruned projection: the strength percentile has no histogram
    // — strong edges and triangles must come back empty, not throw
    // (ADVICE r14)
    assert(operators.Graph
      .strongEdges(emptyPairs, maxFan = 64, minCommon = 2, strengthQ = 0.9)
      .count() == 0)
    assert(operators.Graph.trianglesOf(emptyPairs).count() == 0)
  }

  test("ccnet buckets and decode packing on empty input are empty") {
    val docs = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(pipeline.DocumentPipeline.ccnetBucketsOf(docs).count() == 0)
    val media = Seq.empty[(Long, String, Long)].toDF("doc_id", "kind", "n_bytes")
    assert(multimodal.Multimodal.decodePackOf(media).count() == 0)
  }

  test("dropped-bucket diagnostics on empty input are empty") {
    assert(operators.Dedup.minhashDroppedBuckets(emptyDocs).count() == 0)
    assert(operators.Dedup.simhashDroppedBuckets(emptyDocs).count() == 0)
  }

  test("multi-probe and segment near-dup operators on an empty corpus dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_emptydir_").toString
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    assert(operators.Dedup.segmentNeardup(spark, dir).count() == 0)
    assert(operators.Dedup.semanticDedup(spark, dir, nprobe = 3).count() == 0)
    assert(operators.Similarity.knnLsh(spark, dir, nprobe = 8).count() == 0)
    // composed cluster path, both probe modes and canonical routing
    assert(operators.Dedup.semanticClusters(spark, dir, nprobe = 3).count() == 0)
    assert(operators.Dedup.semanticClusters(spark, dir,
      oversizedCanonical = true, nprobe = 3).count() == 0)
    spark.catalog.clearCache()
  }

  test("incremental run over an empty feed is a structural no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft_emptyrun_").toString
    val store = s"$root/store"; new java.io.File(store).mkdirs()
    val feed = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    val s1 = pipeline.IncrementalRun.run(spark, feed, store,
      s"$root/meta", s"$root/rollup", "b0001")
    assert(s1.nFeed == 0 && s1.nNewIds == 0 && s1.nIngested == 0)
    assert(s1.nRollupDeltaRows == 0)
    assert(!new java.io.File(s"$store/b0001.parquet").exists())
  }

  test("asof join with empty right side keeps left rows with null asof_ts") {
    val left = Seq((1L, new java.sql.Timestamp(1700000000000L), 10L))
      .toDF("user_id", "ts", "event_id")
    val right = Seq.empty[(Long, java.sql.Timestamp)].toDF("user_id", "ts")
    val out = pipeline.Events.asofJoin(left, right, "user_id", "ts", "event_id")
    assert(out.count() == 1)
    assert(out.filter($"asof_ts".isNull).count() == 1)
  }

  test("range join with empty point side is empty; empty interval side too") {
    val ts0 = new java.sql.Timestamp(1700000000000L)
    val pts = Seq((1L, ts0)).toDF("id", "ts")
    val emptyPts = Seq.empty[(Long, java.sql.Timestamp)].toDF("id", "ts")
    val ivs = Seq(("A", ts0, new java.sql.Timestamp(1700003600000L)))
      .toDF("iv", "start_ts", "end_ts")
    val emptyIvs = Seq.empty[(String, java.sql.Timestamp, java.sql.Timestamp)]
      .toDF("iv", "start_ts", "end_ts")
    assert(operators.RangeJoin.pointInInterval(emptyPts, "ts", ivs, "start_ts", "end_ts").count() == 0)
    assert(operators.RangeJoin.pointInInterval(pts, "ts", emptyIvs, "start_ts", "end_ts").count() == 0)
  }

  test("int8 quantization of the zero vector round-trips to zeros") {
    val df = Seq((1L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = operators.Similarity.quantizeInt8(df)
    val deq = q.select(operators.Similarity.dequantize($"q_vec", $"q_scale"))
      .as[Seq[Double]].head()
    assert(deq == Seq(0.0, 0.0, 0.0))
  }

  test("shingles of degenerate texts") {
    val df = Seq((1L, ""), (2L, "one"), (3L, "two words")).toDF("doc_id", "text")
    val got = df.select($"doc_id", size(operators.Dedup.shingles($"text", 3)).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(got(1L) == 0 && got(2L) == 0 && got(3L) == 0)
  }

  test("sketch overlap on empty corpus is an empty matrix") {
    val emptySrc = Seq.empty[(String, String)].toDF("source", "text")
    assert(operators.Dedup.sourceSketchOverlapOf(emptySrc).count() == 0)
  }

  test("redaction, bloom decontamination, cusum and epoch shuffle degrade " +
      "gracefully on empty input") {
    assert(operators.Redact.redactOf(emptyDocs, "text").count() == 0)
    // empty corpus → empty benchmark → the no-sketch early path
    assert(pipeline.DocumentPipeline.decontaminateBloomOf(emptyDocs).count() == 0)
    val emptyEv = Seq.empty[(java.sql.Timestamp, String)].toDF("ts", "event_type")
    assert(pipeline.Events.cusumChangepointOf(emptyEv).count() == 0)
    assert(pipeline.DocumentPipeline.epochShuffleOf(emptyDocs).count() == 0)
  }
}
