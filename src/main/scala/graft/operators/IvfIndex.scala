package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate nearest neighbor (SURVEY.md §2 s04).
  *
  * Classic two-level ANN: k-means-style coarse quantizer (few Lloyd
  * iterations, centroid state lives on the driver exactly as MLlib keeps
  * model state — K×dim doubles, kilobytes), then search probes only the
  * `nprobe` nearest clusters and exactly re-ranks their members.
  *
  * Scale shape: assignment is a map-only pass against broadcast centroids
  * (one small crossJoin + per-row argmax); the index is the cluster-id
  * column, which at 100 TB becomes the partition/bucket key so a probe
  * reads only matching partitions. Training touches the corpus t times;
  * search reads ~nprobe/K of it.
  */
object IvfIndex {

  /** Lloyd iterations over cosine similarity; returns (cluster_id, centroid)
    * rows. Deterministic: seeds are the K vectors with the smallest
    * xxhash64(vec_id) — a fixed pseudo-random sample spread across the
    * whole corpus (one distributed top-K, no global sort). Seeding by
    * FIRST K ids planted every seed in whichever region owns the low
    * ids, so a retrain over an appended corpus (old ids low, new ids
    * high) left the appended region centroid-less and its residuals
    * unabsorbed — the drift-retrain loop's recovery depends on seeds
    * landing everywhere (SimilaritySpec's drift test measures exactly
    * this).
    */
  def train(vectors: DataFrame, k: Int = 16, iters: Int = 3): Seq[(Int, Seq[Double])] = {
    val s = vectors.sparkSession
    import s.implicits._
    // structurallyUsable: a NULL-component vector crashes the typed
    // Seq[Double] collect (hostile-gate finding) — see VectorFunctions
    // Kept for the training loop: every Lloyd iteration is its own
    // action, and without the cache each one replays the input lineage
    // from the scan (for PQ training that lineage includes the coarse
    // assign + residual subtraction). Values are unchanged — same rows,
    // same fold order — only the replays go away; the scope releases it
    // on return and on a failed collect alike.
    SelfClean.scope { keep =>
      val v = keep(vectors.filter(structurallyUsable($"embedding"))
        .select($"vec_id", asDouble($"embedding").as("v")))
      var centroids: Seq[(Int, Seq[Double])] = v
        .orderBy(xxhash64($"vec_id"), $"vec_id").limit(k)
        .select($"v").as[Seq[Double]].collect().toSeq.zipWithIndex.map(_.swap)

      for (_ <- 1 to iters) {
        // Map-only assignment: NearestCentroid evaluates the argmax against
        // the plan-literal centroid matrix in one tight loop per row — no
        // crossJoin(K), no window, no shuffle of K copies of every vector.
        val assigned = v.select(
          org.apache.spark.sql.graft.GraftFunctions
            .nearest_centroid($"v", centroids).as("cluster_id"),
          $"v")
        // new centroid = vector mean via the typed VectorMean aggregator:
        // partial state is ONE dim-length array per (partition, cluster),
        // not the (rows × dim) exploded shape — the shuffle carries
        // K × partitions small arrays at any corpus size.
        val vecMean = udaf(new graft.functions.TypedAggregators.VectorMean,
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]())
        centroids = assigned
          .groupBy($"cluster_id")
          .agg(vecMean($"v").as("centroid"))
          .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
      }
      centroids
    }
  }

  /** Assign every vector to its nearest centroid — the IVF index column.
    * Map-only (see train): the centroid matrix rides in the expression.
    */
  def assign(vectors: DataFrame, centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    vectors.filter(structurallyUsable($"embedding"))
      .select($"vec_id", asDouble($"embedding").as("v"))
      .withColumn("cluster_id",
        org.apache.spark.sql.graft.GraftFunctions.nearest_centroid($"v", centroids))
  }

  /** s04: IVF top-k — probe the nprobe nearest clusters per query, exact
    * cosine re-rank of only those members. Self-cleaning
    * ([[SelfClean.releasing]]): the queries × k result is checkpointed
    * and the assigned index frame released before returning.
    */
  def knnIvf(s: SparkSession, dir: String,
      queryBound: Int = 32, k: Int = 5, clusters: Int = 16,
      nprobe: Int = 4, iters: Int = 2): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val centroids = train(emb, clusters, iters)
    // Kept: the final join reads `indexed` on BOTH sides (queries +
    // members), so without the cache the scan + argmax assignment runs
    // twice inside the one search job.
    SelfClean.releasing(assign(emb, centroids)) { indexed =>
      val queries = indexed.filter($"vec_id" < queryBound)
        .select($"vec_id".as("query_id"), $"v".as("qv"))
      val cDf = s.createDataFrame(centroids).toDF("cluster_id", "centroid")
      val wProbe = Window.partitionBy($"query_id").orderBy($"csim".desc, $"cluster_id")
      val probes = queries.crossJoin(broadcast(cDf))
        .withColumn("csim", cosine($"qv", $"centroid"))
        .withColumn("rn", row_number().over(wProbe))
        .filter($"rn" <= nprobe)
        .select($"query_id", $"qv", $"cluster_id")

      val members = indexed.select($"cluster_id",
        $"vec_id".as("neighbor_id"), $"v".as("nv"))
      val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
      // broadcast(probes): queries × nprobe rows, bounded by the query
      // batch at any corpus size — keeps the member side un-shuffled (the
      // PqIndex.adcTopK rationale; cluster_id has only K distinct values,
      // the worst possible sort-merge key).
      broadcast(probes).join(members, Seq("cluster_id"))
        .filter($"query_id" =!= $"neighbor_id")
        .withColumn("cos", cosine($"qv", $"nv"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select($"query_id", $"rank", $"neighbor_id", round($"cos", 6).as("sim"))
        .orderBy($"query_id", $"rank")
    }
  }

  /** Persist the IVF index for query-time serving — the production form
    * of s04, where training is an OFFLINE job and queries arrive later:
    * a kilobyte centroid table plus the member table hive-partitioned by
    * `cluster_id`, so a probe's equi-join on the partition column lets
    * Spark's dynamic partition pruning read only the `nprobe` probed
    * directories per query batch (the scan carries a
    * `dynamicpruningexpression` PartitionFilter — asserted in the spec)
    * instead of the corpus. Reference point: s04's in-query form
    * retrains per call; this store amortizes training across every
    * future query batch AND every future delta append.
    */
  def writeIndex(vectors: DataFrame, path: String, clusters: Int = 16,
      iters: Int = 3): Unit = {
    val s = vectors.sparkSession
    val centroids = train(vectors, clusters, iters)
    s.createDataFrame(centroids).toDF("cluster_id", "centroid")
      .coalesce(1) // K rows of kilobytes — one file IS the right layout
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path + "/centroids")
    SelfClean.scope { keep =>
      val assigned = keep(assign(vectors, centroids))
      assigned
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cluster_id").parquet(path + "/members")
      writeTrainStats(assigned, centroids, path)
    }
  }

  private def readCentroids(s: SparkSession,
      path: String): Seq[(Int, Seq[Double])] = {
    import s.implicits._
    s.read.parquet(path + "/centroids")
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
  }

  /** Append new vectors to a stored index WITHOUT retraining: assign
    * against the stored centroids (map-only) and append into the
    * partitioned layout — the d14 incremental story for embeddings (a
    * daily embedding batch costs one delta-sized pass, and is
    * immediately searchable). Centroid drift is a rebuild decision, not
    * an append-time cost; the spec plants a near-copy post-append and
    * finds it at rank 1.
    */
  def appendVectors(s: SparkSession, path: String,
      newVectors: DataFrame): Unit =
    assign(newVectors, readCentroids(s, path))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cluster_id").parquet(path + "/members")

  // ------------------------------------------------------------------
  // Drift detection + retrain trigger (VERDICT r15 #3). appendVectors /
  // appendPqVectors encode against FROZEN centroids/codebooks, so a
  // distribution-shifted append stream silently degrades the index —
  // oversized cells make probes scan-heavy in IVF, and PQ codes built
  // from out-of-distribution residuals scramble the ADC shortlist, both
  // with nothing reporting it. This is the droppedBuckets observability
  // discipline applied to the vector stores: the index persists its
  // TRAINING-time per-cluster baseline, every append batch can be
  // scored against it in one map-only pass, and a flagged batch routes
  // to a rebuild entry point.
  // ------------------------------------------------------------------

  /** Training baseline the drift detector compares against — one row
    * per cluster: population and mean coarse-residual norm
    * (mean ‖v − c(v)‖₂, the distance the quantizer was optimized for;
    * for a PQ store these are exactly the residuals its codebooks were
    * trained on). Written by writeIndex/writePqIndex; appends do NOT
    * update it — the baseline is the distribution the centroids
    * actually saw, which is the thing drift is measured FROM.
    */
  private[operators] def writeTrainStats(assigned: DataFrame,
      centroids: Seq[(Int, Seq[Double])], path: String): Unit = {
    clusterStats(assigned, centroids)
      .toDF("cluster_id", "n_train", "mean_resid_train")
      .coalesce(1) // K rows — same one-file layout as the centroids
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path + "/stats")
  }

  /** Per-cluster (cluster_id, n, mean ‖v − centroid‖₂) over an assigned
    * (vec_id, v, cluster_id) frame. One partial-aggregatable shuffle of
    * K rows; the centroid lookup is a broadcast K-row join (joined by
    * id, not positional element_at — Lloyd can empty a cluster, leaving
    * gapped ids in a stored IVF index).
    */
  private def clusterStats(assigned: DataFrame,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    val cDf = s.createDataFrame(centroids).toDF("cluster_id", "centroid")
    assigned.join(broadcast(cDf), Seq("cluster_id"))
      .withColumn("resid",
        sqrt(normSq(zip_with($"v", $"centroid", (a, b) => a - b))))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n"), avg($"resid").as("mean_resid"))
  }

  /** Score an append batch against the stored training baseline BEFORE
    * it lands: assign the batch map-only against the stored centroids,
    * aggregate per-cluster stats, and join the `/stats` baseline. One
    * row per cluster touched by either side:
    * (cluster_id, n_train, share_train, mean_resid_train, n_batch,
    * share_batch, mean_resid_batch, resid_ratio, share_ratio) — a
    * shifted batch shows resid_ratio ≫ 1 (its vectors are far from
    * every centroid trained on the old distribution) and/or
    * share_ratio ≫ 1 (its mass piles into whichever cell is least
    * wrong). Works against an IVF or PQ store — both persist the same
    * centroids/stats layout.
    *
    * Cost shape: the batch pays one map-only assignment + a K-row
    * aggregate; the stored corpus is never touched (the baseline is
    * K rows of parquet).
    */
  def driftReport(s: SparkSession, path: String,
      newVectors: DataFrame): DataFrame = {
    import s.implicits._
    val centroids = readCentroids(s, path)
    val batch = clusterStats(assign(newVectors, centroids), centroids)
      .toDF("cluster_id", "n_batch", "mean_resid_batch")
    val trainStats = s.read.parquet(path + "/stats")
    val nTrain = trainStats.agg(sum($"n_train")).head().getLong(0).toDouble
    val nBatch = newVectors.count().toDouble
    trainStats.join(batch, Seq("cluster_id"), "full_outer")
      .na.fill(0L, Seq("n_train", "n_batch"))
      .withColumn("share_train", $"n_train" / lit(nTrain))
      .withColumn("share_batch", $"n_batch" / lit(math.max(1.0, nBatch)))
      .withColumn("resid_ratio",
        round($"mean_resid_batch" / greatest($"mean_resid_train", lit(1e-12)), 4))
      .withColumn("share_ratio",
        round($"share_batch" / greatest($"share_train", lit(1e-12)), 4))
      .select($"cluster_id", $"n_train", round($"share_train", 4).as("share_train"),
        round($"mean_resid_train", 6).as("mean_resid_train"),
        $"n_batch", round($"share_batch", 4).as("share_batch"),
        round($"mean_resid_batch", 6).as("mean_resid_batch"),
        $"resid_ratio", $"share_ratio")
      .orderBy($"cluster_id")
  }

  /** Batch-level drift verdict over a [[driftReport]]: drifted when the
    * batch-weighted mean residual norm exceeds `residRatioMax` × the
    * train-weighted baseline (the quantization error the new data would
    * pay against the frozen geometry), or when any cluster's batch
    * share exceeds `shareRatioMax` × its training share on a
    * non-trivial slice of the batch (mass piling into cells the
    * training distribution barely used). Thresholds are deliberately
    * coarse — the detector's job is catching a DIFFERENT distribution,
    * not tuning micro-rebalance.
    */
  def isDrifted(report: DataFrame, residRatioMax: Double = 1.5,
      shareRatioMax: Double = 5.0): Boolean = {
    val s = report.sparkSession
    import s.implicits._
    val agg = report.agg(
      (sum($"mean_resid_batch" * $"n_batch") /
        greatest(sum($"n_batch"), lit(1L))).as("batch_resid"),
      (sum($"mean_resid_train" * $"n_train") /
        greatest(sum($"n_train"), lit(1L))).as("train_resid"),
      max(when($"share_batch" >= 0.05, $"share_ratio")).as("hot_share"))
      .head()
    val batchResid = Option(agg.get(0)).fold(0.0)(_ => agg.getDouble(0))
    val trainResid = Option(agg.get(1)).fold(0.0)(_ => agg.getDouble(1))
    val hotShare = Option(agg.get(2)).fold(0.0)(_ => agg.getDouble(2))
    batchResid > residRatioMax * math.max(trainResid, 1e-12) ||
      hotShare > shareRatioMax
  }

  /** Append with the drift gate: the batch always LANDS (data loss is
    * never the right response to drift), but a flagged batch triggers a
    * full retrain over the stored members — rebuilding centroids,
    * partition layout, and the stats baseline from everything seen.
    * Returns whether the retrain fired. The rebuild materializes the
    * member vectors first (the overwrite would otherwise race its own
    * lazy scan); a production deployment at corpus scale would write a
    * versioned sibling path and swap, same shape.
    */
  def retrainIfDrifted(s: SparkSession, path: String,
      newVectors: DataFrame, clusters: Int = 16, iters: Int = 3,
      residRatioMax: Double = 1.5, shareRatioMax: Double = 5.0): Boolean = {
    import s.implicits._
    val drifted = isDrifted(driftReport(s, path, newVectors),
      residRatioMax, shareRatioMax)
    appendVectors(s, path, newVectors)
    if (drifted) {
      val all = s.read.parquet(path + "/members")
        .select($"vec_id", $"v".as("embedding")).localCheckpoint()
      writeIndex(all, path, clusters, iters)
    }
    drifted
  }

  /** Top-k search against a stored index: route each query to its
    * `nprobe` nearest stored centroids (broadcast K-row table), then
    * equi-join the member partitions and exactly re-rank. `queries` is
    * (query_id, qv: array<double>).
    */
  def searchIndex(s: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 4): DataFrame = {
    import s.implicits._
    val cDf = s.createDataFrame(readCentroids(s, path))
      .toDF("cluster_id", "centroid")
    val wProbe = Window.partitionBy($"query_id").orderBy($"csim".desc, $"cluster_id")
    val probes = queries.crossJoin(broadcast(cDf))
      .withColumn("csim", cosine($"qv", $"centroid"))
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= nprobe)
      .select($"query_id", $"qv", $"cluster_id")
    val members = s.read.parquet(path + "/members")
      .select($"cluster_id", $"vec_id".as("neighbor_id"), $"v".as("nv"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    // broadcast(probes): bounded query batch (knnIvf rationale); dynamic
    // partition pruning on the stored layout still fires — it reuses the
    // probe broadcast as the pruning subquery (spec-asserted).
    broadcast(probes).join(members, Seq("cluster_id"))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cos", cosine($"qv", $"nv"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", round($"cos", 6).as("sim"))
      .orderBy($"query_id", $"rank")
  }
}
