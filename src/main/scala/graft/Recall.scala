package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-round ANN retrieval-quality artifact (VERDICT r17 #4): wall-time
  * and shuffle regressions are visible in BENCH_r*.json, but a recall
  * regression — an nprobe knocked down, a band family broken — is not.
  * This main scores every approximate-ANN query (s02/s02b/s04/s05/s06)
  * against the s01 exact ground truth on the same corpus, plus the
  * STORED-index probe path (writeSemanticIndex → semanticDelta — the
  * streaming vector gate's retrieval machinery) as pair-recall at its
  * operating threshold, and emits one JSON line → `RECALL_r<N>.json`.
  *
  * Usage: runMain graft.Recall <sfDir> [outFile]
  * A deliberate regression (e.g. multiprobe nprobe 8 → 1) trips
  * SimilaritySpec's recall-tripwire test, which pins the same numbers.
  */
object Recall {

  /** recall@k of `pred` against `truth` (both (query_id, rank,
    * neighbor_id, sim)), macro-averaged over the queries present in
    * truth; plus the max |sim − exact sim| over the overlap — nonzero
    * means the method's reported score is NOT the exact re-rank it
    * claims (s05's quantization error shows up here by design).
    */
  def recallAtK(pred: DataFrame, truth: DataFrame): (Double, Double, Long) = {
    val t = truth.select(col("query_id"), col("neighbor_id"),
      col("sim").as("sim_exact"))
    val hits = pred.select(col("query_id"), col("neighbor_id"), col("sim"))
      .join(t, Seq("query_id", "neighbor_id"))
    val perQuery = t.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(hits.groupBy("query_id").agg(count(lit(1)).as("n_hit"),
        max(abs(col("sim") - col("sim_exact"))).as("d")),
        Seq("query_id"), "left")
    val row = perQuery.agg(
      avg(coalesce(col("n_hit"), lit(0L)) / col("n_true")),
      max(coalesce(col("d"), lit(0.0))),
      count(lit(1))).head()
    // empty truth → null aggregates; fail legibly instead of an NPE
    // deep inside getDouble (self-review r18)
    require(!row.isNullAt(0),
      "recallAtK: ground truth is empty — is the embeddings table " +
        "missing or empty in this sfDir?")
    (row.getDouble(0), row.getDouble(1), row.getLong(2))
  }

  /** Pair-recall of the stored-index probe path AT ITS OPERATING
    * THRESHOLD: the semantic gate exists to catch arriving NEAR-DUPS
    * (cos ≥ minCos = 0.9 by default), so the probe is fed exactly that —
    * `queryBound` corpus vectors deterministically perturbed
    * (component-wise ±3% by a vec_id/position-seeded sine, cosine to the
    * source ≈ 0.995–0.9995 depending on dim) under fresh ids. Ground
    * truth = exact query×corpus cosine pairs ≥ minCos (broadcast cross
    * join, the s01 arithmetic); found = semanticDelta over a
    * writeSemanticIndex store of the FULL corpus. What this measures is
    * the real gate end to end: bucket partition + multi-probe addressing
    * + the oversized-bucket drop, including the cross-boundary misses
    * the perturbation induces. (Asking the same machinery for ALL pairs
    * at a low threshold — the first cut of this probe used 0.3 — is a
    * category error: hyperplane buckets are DESIGNED to separate
    * low-cosine pairs, and the resulting ~0 "recall" measures that
    * design, not a regression.)
    */
  def storedIndexPairRecall(s: SparkSession, dir: String,
      queryBound: Int = 32, minCos: Double = 0.9,
      nprobe: Int = 3): (Long, Long) = {
    import s.implicits._
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(s, dir)
    val queries = e.filter($"vec_id" < queryBound)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "cast(x * (1.0d + 0.03d * sin(cast(vec_id as double) + i)) " +
          "as float))").as("embedding"))
      .localCheckpoint(true)
    val table = "recall_sem_idx"
    Seq(s"${table}_vecs", s"${table}_vecmeta").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS $t"))
    operators.Dedup.writeSemanticIndex(
      e.select($"vec_id", $"embedding"), table)
    val found = operators.Dedup
      .semanticDelta(s, table, queries, nprobe = nprobe, minCos = minCos)
      .count()
    val truth = e
      .select($"vec_id".as("corpus_id"), asDouble($"embedding").as("cv"))
      .crossJoin(broadcast(queries
        .select($"vec_id".as("new_id"), asDouble($"embedding").as("nv"))))
      .withColumn("cos", round(cosine($"cv", $"nv"), 6))
      .filter($"cos" >= minCos)
      .count()
    Seq(s"${table}_vecs", s"${table}_vecmeta").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS $t"))
    (found, truth)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = if (args.length > 1) Some(args(1)) else None
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val k = 5
    val truth = operators.Similarity.knnBrute(spark, sfDir, k = k)
      .localCheckpoint()
    val methods = Seq[(String, () => DataFrame)](
      ("s02_knn_lsh", () => operators.Similarity.knnLsh(spark, sfDir, k = k)),
      ("s02b_knn_multiprobe",
        () => operators.Similarity.knnLsh(spark, sfDir, k = k, nprobe = 8)),
      ("s04_knn_ivf", () => operators.IvfIndex.knnIvf(spark, sfDir, k = k)),
      ("s05_knn_quantized",
        () => operators.Similarity.knnQuantized(spark, sfDir, k = k)),
      ("s06_knn_pq", () => operators.PqIndex.knnPq(spark, sfDir, k = k)))
    val scored = methods.map { case (name, fn) =>
      val (r, d, nq) = recallAtK(fn(), truth)
      // keep = truth: it is scored against every method, and sweeping a
      // localCheckpoint is destructive (truncated lineage, no recompute)
      CacheHygiene.freeTransientKeeping(spark, Seq(truth))
      f""""$name":{"recall_at_$k":$r%.4f,"max_sim_delta":$d%.6f,"n_queries":$nq}"""
    }
    val (found, truePairs) = storedIndexPairRecall(spark, sfDir)
    val pr = if (truePairs == 0) 1.0 else found.toDouble / truePairs
    val line =
      s"""{"metric":"recall","k":$k,"sf":"$sfDir","methods":{${scored.mkString(",")}},""" +
        f""""stored_index":{"min_cos":0.9,"nprobe":3,"perturbed_queries":32,"pair_recall":$pr%.4f,"found_pairs":$found,"true_pairs":$truePairs}}"""
    out.foreach { p =>
      val w = new java.io.PrintWriter(p)
      try w.println(line) finally w.close()
    }
    println(line)
    spark.stop()
  }
}
