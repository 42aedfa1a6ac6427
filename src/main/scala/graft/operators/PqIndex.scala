package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorFunctions._

/** Product quantization ANN (SURVEY.md §2 s06) — the storage-side
  * complement of s05's scalar int8 quantization: the vector is split
  * into `m` sub-spaces, each sub-vector is replaced by the id of its
  * nearest sub-space centroid, and the stored representation collapses
  * from dim floats to m byte-sized codes (64×4 B → 8 B = 32× smaller
  * with m=8, kCode=256 — Jégou et al.'s standard 8-bit configuration).
  * Asymmetric distance (ADC) scores a query against the RECONSTRUCTED
  * vector without ever materializing it:
  * dot(q, x̂) = Σ_sub dot(q_sub, codebook_sub[code_sub]).
  *
  * Scale shape: training is a JOINT Lloyd (one corpus scan per
  * iteration updates all m codebooks; driver state m × k × dim/m
  * doubles — kilobytes); encoding is map-only against plan-literal
  * codebooks (the NearestCentroid expression per sub-space, no join,
  * no shuffle); search scans the CODE table — the corpus-sized input
  * is m bytes per row instead of dim floats, which is the point: at
  * 100 TB the ANN working set shrinks 32× and rides entirely through
  * scan + codegen'd arithmetic. The ADC sum compiles to a STATIC sum
  * of m hashing.dotProduct kernel calls against `element_at` of literal
  * codebook arrays — no interpreted HOF in the hot path (the round-1
  * SimHash lesson). [[knnPq]] runs the full IVF-PQ composition:
  * coarse cells prune the scan, residual codes carry within-cell
  * detail, an exact re-rank finishes (measured at 200k clustered
  * vectors: plain PQ recall@5 0.013 → residual + 8-bit + 2048-shortlist
  * 0.894; the remaining misses are near-tie neighbors inside dense
  * noise balls, the regime where every ANN must over-fetch).
  */
object PqIndex {

  /** Per-sub-space codebooks via joint Lloyd: ALL m sub-spaces train in
    * ONE pass per iteration — each row explodes into its m (sub, nearest
    * centroid, sub-vector) assignments against plan-literal codebooks,
    * and one partial-aggregatable VectorMean shuffle on (sub, cid)
    * updates every codebook at once. m separate IvfIndex trainings would
    * read the corpus m × iters times; this reads it iters times — the
    * difference between 8 and 1 corpus scans per refinement at 100 TB.
    * Driver state stays m × k × dim/m doubles.
    *
    * Books are reindexed DENSELY after every update: Lloyd can empty a
    * cluster (its groupBy row disappears), and downstream `element_at`
    * lookups index by POSITION — gapped ids would silently read the
    * wrong centroid.
    */
  def train(vectors: DataFrame, m: Int = 8, k: Int = 16,
      iters: Int = 2): Seq[Seq[(Int, Seq[Double])]] = {
    val s = vectors.sparkSession
    import s.implicits._
    // structurallyUsable: NULL-component vectors crash the typed seed
    // collect (hostile-gate finding) — same contract as IvfIndex.train.
    // dim is inferred from the FILTERED frame too: an all-NULL embedding
    // at head() would NPE the getInt before the filter ever ran
    // Kept for the joint-Lloyd loop (the IvfIndex.train rationale):
    // dim probe + seed collect + every iteration each replay the input
    // lineage otherwise — for knnPq that lineage is scan → coarse assign
    // → residual per action. The scope releases it on return and when the
    // dim probe, the divisibility require or a Lloyd round fails.
    SelfClean.scope { keep =>
      val v = keep(vectors.filter(structurallyUsable($"embedding"))
        .select($"vec_id", asDouble($"embedding").as("v")))
      val dim = v.select(size($"v")).head().getInt(0)
      require(dim % m == 0, s"dim $dim must divide into m=$m sub-spaces")
      val d = dim / m
      // deterministic hash-spread seeds (IvfIndex.train's contract): the
      // k smallest-xxhash64(vec_id) vectors' slices per sub-space — a
      // first-k-by-id seed would miss appended regions entirely at retrain
      val seeds = v.orderBy(xxhash64($"vec_id"), $"vec_id").limit(k)
        .select($"v").as[Seq[Double]].collect().toSeq
      var books: Seq[Seq[(Int, Seq[Double])]] = (0 until m).map { sub =>
        seeds.zipWithIndex.map { case (vec, i) =>
          (i, vec.slice(sub * d, sub * d + d))
        }
      }
      val vecMean = udaf(new graft.functions.TypedAggregators.VectorMean,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
      for (_ <- 1 to iters) {
        // ONE fused PqCodes argmax pass per row (all m sub-spaces, no
        // slice materialization) instead of m NearestCentroid expressions
        // each over its own freshly sliced sub-array; posexplode recovers
        // the (sub, cid) rows and sv slices once per emitted row. Codes
        // are positional — identical ints to the composed form because
        // `books` is densified 0..k−1 after every update (SimilaritySpec
        // pins fused === composed on the corpus).
        val assigned = v.select($"v",
            posexplode(org.apache.spark.sql.graft.GraftFunctions
              .pq_codes($"v", books.map(_.map(_._2)))))
          .select($"pos".as("sub"), $"col".as("cid"),
            slice($"v", $"pos" * d + 1, lit(d)).as("sv"))
        val updated = assigned.groupBy($"sub", $"cid")
          .agg(vecMean($"sv").as("c"))
          .as[(Int, Int, Seq[Double])].collect()
        books = (0 until m).map { sub =>
          updated.filter(_._1 == sub).sortBy(_._2)
            .zipWithIndex.map { case ((_, _, c), i) => (i, c) }.toSeq
        }
      }
      books
    }
  }

  /** Encode every vector as its m-entry code array — map-only, ONE fused
    * PqCodes pass per row (all m sub-space argmaxes in place, no per-sub
    * slice materialization — the PqAdcCosine treatment applied to the
    * encode path; formerly m separate NearestCentroid expressions).
    */
  def encode(vectors: DataFrame,
      books: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    vectors.select($"vec_id",
      org.apache.spark.sql.graft.GraftFunctions
        .pq_codes(asDouble($"embedding"), books.map(_.map(_._2))).as("code"))
  }

  /** s06: IVF-PQ top-k — the full Jégou pipeline. A coarse IVF quantizer
    * assigns every vector to a cluster; PQ codebooks are trained on the
    * RESIDUALS (v − coarse centroid), because plain PQ collapses inside
    * dense clusters — every member of a tight cluster gets the SAME
    * code, ADC ties, and the shortlist is arbitrary (measured: recall@5
    * 0.013 at 200k clustered vectors; residual codes spread exactly the
    * within-cluster detail that plain codes erase). Search probes the
    * `nprobe` nearest clusters, ADC-scores x̂ = centroid + decode(code)
    * as static codegen'd sums against literal codebooks, and exactly
    * re-ranks a `shortlist`-sized candidate set.
    *
    * The corpus-sized stored row is (cluster_id, m codes) — at 100 TB
    * the cluster id becomes the partition key (probes prune partitions)
    * and the codes are the 32×-compressed scan payload; the raw store
    * is touched only for queries × shortlist re-rank rows.
    *
    * Self-cleaning ([[SelfClean.releasing]]): the queries × k result is
    * checkpointed and the coarse assignment frame released before
    * returning.
    */
  def knnPq(s: SparkSession, dir: String, queryBound: Int = 32, k: Int = 5,
      m: Int = 8, kCode: Int = 256, iters: Int = 2,
      coarseK: Int = 16, nprobe: Int = 4, shortlist: Int = 2048): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    // coarse quantizer (densified ids — Lloyd can empty a cluster and
    // every lookup below is position-indexed)
    val coarse = IvfIndex.train(emb, coarseK, iters)
      .zipWithIndex.map { case ((_, c), i) => (i, c) }
    // Kept: assigned feeds the PQ training loop (via residuals), the
    // encode pass, AND the cluster_id join below — 4+ actions that
    // otherwise each replay scan + coarse argmax.
    SelfClean.releasing(IvfIndex.assign(emb, coarse)) { assigned =>
      val resid = residuals(assigned, coarse)
      val books = train(resid, m, kCode, iters)
      val indexed = encode(resid, books)
        .join(assigned.select($"vec_id", $"cluster_id"), "vec_id")
      val queries = emb.filter($"vec_id" < queryBound)
        .select($"vec_id".as("query_id"), asDouble($"embedding").as("qv"))
      adcTopK(probeCells(queries, coarse, nprobe),
        indexed.select($"cluster_id", $"vec_id".as("neighbor_id"), $"code"),
        emb.select($"vec_id".as("neighbor_id"), asDouble($"embedding").as("nv")),
        coarse, books, k, shortlist)
    }
  }

  /** Residual frame (v − coarse centroid) under the `embedding` name
    * [[encode]]/[[train]] expect — shared by the in-query pipeline and
    * the stored-index writer/appender so their codes are identical by
    * construction.
    */
  private def residuals(assigned: DataFrame,
      coarse: Seq[(Int, Seq[Double])]): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    val centLit = typedlit(coarse.map(_._2))
    assigned.select($"vec_id",
      zip_with($"v", element_at(centLit, $"cluster_id" + 1),
        (a, b) => a - b).as("embedding"), $"cluster_id")
  }

  /** Route each query to its `nprobe` nearest coarse cells (the s04
    * probe pattern: K-row broadcast, per-query top-nprobe window).
    */
  private def probeCells(queries: DataFrame,
      coarse: Seq[(Int, Seq[Double])], nprobe: Int): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val cDf = s.createDataFrame(coarse).toDF("cluster_id", "centroid")
    val wProbe = Window.partitionBy($"query_id").orderBy($"csim".desc, $"cluster_id")
    queries.crossJoin(broadcast(cDf))
      .withColumn("csim", cosine($"qv", $"centroid"))
      .withColumn("prn", row_number().over(wProbe))
      .filter($"prn" <= nprobe)
      .select($"query_id", $"qv", $"cluster_id")
  }

  /** ADC score + shortlist + exact re-rank — the search core shared by
    * [[knnPq]] and [[searchPqIndex]] (stored-path parity with the
    * in-query pipeline is structural, not asserted-after-the-fact).
    * `probes`: (query_id, qv, cluster_id); `members`:
    * (cluster_id, neighbor_id, code); `raw`: (neighbor_id, nv) — joined
    * only for the queries × shortlist re-rank rows.
    */
  private def adcTopK(probes: DataFrame, members: DataFrame,
      raw: DataFrame, coarse: Seq[(Int, Seq[Double])],
      books: Seq[Seq[(Int, Seq[Double])]], k: Int,
      shortlist: Int): DataFrame = {
    val s = probes.sparkSession
    import s.implicits._
    // ADC against x̂ = c + r̂, as ONE fused expression (PqAdcCosine): the
    // former composed form — 8 sub-spaces × 5 DotProducts over per-row
    // slice/element_at arrays against ~2 MB of codebook literals — was
    // the measured search bottleneck (sf1: candidate join 0.40 s, join +
    // composed score 2.7–4.5 s). Arithmetic is bit-identical term by
    // term in the same fold order (SimilaritySpec parity pin).
    val wAdc = Window.partitionBy($"query_id").orderBy($"adc".desc, $"neighbor_id")
    // broadcast(probes): queries × nprobe rows, bounded by the query
    // batch at ANY corpus size. Left to estimates this planned as a
    // SortMergeJoin that exchanged + sorted the corpus-sized code table
    // on cluster_id — a 16-distinct-value key (PLANS_r18 s06 node 31).
    val cand = broadcast(probes)
      .join(members, Seq("cluster_id"))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("adc",
        org.apache.spark.sql.graft.GraftFunctions.pq_adc_cosine(
          $"qv", $"cluster_id", $"code",
          coarse.map(_._2), books.map(_.map(_._2))))
      .withColumn("arn", row_number().over(wAdc))
      .filter($"arn" <= shortlist)
      .select($"query_id", $"qv", $"neighbor_id")
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    // broadcast(cand): ≤ queries × shortlist rows — bounded by the query
    // batch, so the corpus-sized raw store is never shuffled for the
    // re-rank regardless of scale (estimates flip this join to SMJ at
    // larger SFs). Size caveat (ADVICE r18): each row carries the full
    // qv vector, so the broadcast is queryBound × shortlist × dim
    // doubles (defaults: 32 × 2048 × 64 ≈ 34 MB) and the explicit hint
    // bypasses the auto-broadcast threshold — callers raising queryBound
    // or shortlist by orders of magnitude must size driver/executor
    // memory for it (the 8 GB broadcast hard cap is the ceiling).
    broadcast(cand)
      .join(raw, "neighbor_id")
      .withColumn("cos", cosine($"qv", $"nv"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", round($"cos", 6).as("sim"))
      .orderBy($"query_id", $"rank")
  }

  // ------------------------------------------------------------------
  // Stored serving path (VERDICT r10 #2) — the IvfIndex.writeIndex
  // pattern for IVF-PQ: train once, write centroids + codebooks +
  // cluster-partitioned codes, then search/append against the stored
  // artifacts without ever retraining. At 100 TB this is the difference
  // between an ANN SERVICE and a per-query training job: the corpus
  // pays the Lloyd scans once, probes prune partitions via the
  // cluster_id layout, and a daily embedding batch lands map-only.
  // ------------------------------------------------------------------

  /** Train the coarse quantizer + residual codebooks and write the full
    * index: `path/centroids` (K rows), `path/codebooks`
    * (m × kCode rows), `path/members` (vec_id, code[m]) partitioned by
    * cluster_id — the corpus-sized artifact carries m bytes-worth of
    * code per vector, never the raw floats (the 32× PQ win made
    * durable). `path/raw` additionally stores (vec_id, nv) for the
    * shortlist re-rank — at 100 TB this is the existing vector store,
    * written here so the index is self-contained.
    */
  def writePqIndex(vectors: DataFrame, path: String, m: Int = 8,
      kCode: Int = 256, iters: Int = 2, coarseK: Int = 16): Unit = {
    val s = vectors.sparkSession
    import s.implicits._
    val coarse = IvfIndex.train(vectors, coarseK, iters)
      .zipWithIndex.map { case ((_, c), i) => (i, c) }
    s.createDataFrame(coarse).toDF("cluster_id", "centroid")
      .coalesce(1) // K rows of kilobytes — one file IS the right layout
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path + "/centroids")
    SelfClean.scope { keep =>
      val assigned = keep(IvfIndex.assign(vectors, coarse))
      val resid = residuals(assigned, coarse)
      val books = train(resid, m, kCode, iters)
      s.createDataFrame(for {
        (book, sub) <- books.zipWithIndex
        (cid, c) <- book
      } yield (sub, cid, c)).toDF("sub", "cid", "centroid")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(path + "/codebooks")
      encode(resid, books)
        .join(assigned.select($"vec_id", $"cluster_id"), "vec_id")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cluster_id").parquet(path + "/members")
      assigned.select($"vec_id", $"v".as("nv"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(path + "/raw")
      // drift baseline over the SAME coarse residuals the codebooks were
      // trained on — IvfIndex.driftReport works against either store
      IvfIndex.writeTrainStats(assigned, coarse, path)
    }
  }

  /** [[appendPqVectors]] with the drift gate (IvfIndex.retrainIfDrifted
    * for a PQ store): the batch lands either way; a batch whose coarse
    * residuals or cell shares are out of the trained distribution
    * (IvfIndex.isDrifted over the shared `/stats` baseline) triggers a
    * full rebuild — coarse quantizer, residual codebooks, codes, and
    * baseline — from the stored raw vectors. Returns whether the
    * retrain fired. Drift here is a RECALL defect, not just a scan-cost
    * one: out-of-distribution residuals quantize to garbage codes, the
    * ADC shortlist stops separating true neighbors, and the exact
    * re-rank never sees them (SimilaritySpec measures the recovery).
    */
  def retrainPqIfDrifted(s: SparkSession, path: String,
      newVectors: DataFrame, m: Int = 8, kCode: Int = 256, iters: Int = 2,
      coarseK: Int = 16, residRatioMax: Double = 1.5,
      shareRatioMax: Double = 5.0): Boolean = {
    import s.implicits._
    val drifted = IvfIndex.isDrifted(
      IvfIndex.driftReport(s, path, newVectors), residRatioMax, shareRatioMax)
    appendPqVectors(s, path, newVectors)
    if (drifted) {
      val all = s.read.parquet(path + "/raw")
        .select($"vec_id", $"nv".as("embedding")).localCheckpoint()
      writePqIndex(all, path, m, kCode, iters, coarseK)
    }
    drifted
  }

  private def readCoarse(s: SparkSession,
      path: String): Seq[(Int, Seq[Double])] = {
    import s.implicits._
    s.read.parquet(path + "/centroids")
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
  }

  private def readBooks(s: SparkSession,
      path: String): Seq[Seq[(Int, Seq[Double])]] = {
    import s.implicits._
    val rows = s.read.parquet(path + "/codebooks")
      .as[(Int, Int, Seq[Double])].collect()
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, bs) => bs.sortBy(_._2).map(b => (b._2, b._3)).toSeq }
  }

  /** Top-k search against a stored PQ index: probe cells against the
    * stored centroids, ADC-score the probed members' CODES against the
    * stored codebooks (plan literals, codegen'd static sums), exactly
    * re-rank the shortlist against the raw store. The members scan is
    * pruned to probed cluster_id partitions at runtime — same dynamic
    * partition pruning contract as IvfIndex.searchIndex, asserted in
    * SimilaritySpec. `queries` is (query_id, qv: array<double>).
    */
  def searchPqIndex(s: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 4, shortlist: Int = 2048): DataFrame = {
    import s.implicits._
    val coarse = readCoarse(s, path)
    val books = readBooks(s, path)
    val members = s.read.parquet(path + "/members")
      .select($"cluster_id", $"vec_id".as("neighbor_id"), $"code")
    val raw = s.read.parquet(path + "/raw")
      .select($"vec_id".as("neighbor_id"), $"nv")
    adcTopK(probeCells(queries, coarse, nprobe), members, raw,
      coarse, books, k, shortlist)
  }

  /** Append new vectors WITHOUT retraining: coarse-assign against the
    * stored centroids and encode against the stored codebooks — both
    * map-only passes over the delta — then land in the partitioned
    * members layout plus the raw store. Immediately searchable;
    * codebook drift is a rebuild decision, not an append-time cost
    * (IvfIndex.appendVectors' contract).
    */
  def appendPqVectors(s: SparkSession, path: String,
      newVectors: DataFrame): Unit = {
    import s.implicits._
    val coarse = readCoarse(s, path)
    val books = readBooks(s, path)
    SelfClean.scope { keep =>
      val assigned = keep(IvfIndex.assign(newVectors, coarse))
      encode(residuals(assigned, coarse), books)
        .join(assigned.select($"vec_id", $"cluster_id"), "vec_id")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("cluster_id").parquet(path + "/members")
      assigned.select($"vec_id", $"v".as("nv"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(path + "/raw")
    }
  }
}
