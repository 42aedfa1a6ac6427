package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.sources.{IncrementalIngest, StorePaths}

/** The composed end-to-end incremental pass (run_full_pipeline.py:353-431:
  * detect-new → backfill missing hashes on already-known records → ingest
  * new content → cumulative metadata → rollup), built from the pieces the
  * library already proves individually (q04 anti-join detect-new, q13
  * backfill-merge, IncrementalIngest hash-dedup append, IncrementalAgg
  * mergeable rollup) — composed so that NO step rescans prior batches'
  * content:
  *
  *  - detect-new reads the metadata table's id column (metadata-sized);
  *  - backfill joins metadata against the feed (both ≪ corpus);
  *  - ingest anti-joins the store's hash projection (column-pruned);
  *  - the rollup merges the prior rollup (rollup-sized) with ONLY the
  *    batch file this run wrote — never the whole store.
  *
  * Re-running with an already-processed feed is a no-op (ids are known →
  * nothing ingested → rollup unchanged): the resumability contract of the
  * reference's cumulative metadata_by_id, as a dataflow.
  */
object IncrementalRun {

  /** What one pass did. Every count is feed- or delta-sized by
    * construction; `nRollupDeltaRows` is the number of rows that entered
    * the rollup merge — equal to this run's ingested delta, NOT the store
    * size (the no-rescan property, assertable by callers/specs).
    */
  final case class Summary(nFeed: Long, nNewIds: Long, nBackfilled: Long,
      nIngested: Long, nSkippedDuplicate: Long, nRollupDeltaRows: Long)

  private val metaSchema = StructType(Seq(
    StructField("doc_id", org.apache.spark.sql.types.LongType),
    StructField("source", StringType),
    StructField("sha256", StringType),
    StructField("status", StringType)))

  private def readOrEmpty(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    if (StorePaths.exists(spark, path)) spark.read.parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Overwrite a small state table via a temp dir (the input may be lazily
    * read from the same path being replaced).
    */
  private def rewrite(df: DataFrame, path: String): Unit = {
    val tmp = path + "_rewrite"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    val spark = df.sparkSession
    spark.read.parquet(tmp).write.mode(SaveMode.Overwrite).parquet(path)
    StorePaths.delete(spark, tmp)
  }

  private val rollupSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("n_docs", org.apache.spark.sql.types.LongType),
    StructField("total_chars", org.apache.spark.sql.types.LongType)))

  /** Merge a delta-docs frame (source, n_chars columns) into the persisted
    * per-source rollup — the rollup-maintenance step shared by the batch
    * run and the streaming form (StreamingOps.rollupStream).
    */
  def mergeRollup(spark: SparkSession, deltaDocs: DataFrame,
      rollupPath: String): Unit = {
    val existing = readOrEmpty(spark, rollupPath, rollupSchema)
    rewrite(IncrementalAgg.merge(existing, deltaDocs), rollupPath)
  }

  /** Idempotently merge ONE store batch file into the rollup, tracked by
    * a per-batch marker under `<rollupPath>_merged/`. This is what makes
    * the rollup replay-safe: appendBatch deduplicates content, so a
    * replayed batch (streaming epoch redelivery, or a re-run after a
    * crash between append and merge) ingests 0 rows — the merge decision
    * therefore keys off "batch file exists and is unmarked", never off
    * this attempt's ingest count. The marker lands after the merge; the
    * residual window between those two small writes is where a
    * transactional table format slots in at production scale.
    *
    * @return true iff the batch was merged by this call.
    */
  def commitBatch(spark: SparkSession, storeDir: String, rollupPath: String,
      batchId: String): Boolean = {
    import spark.implicits._
    val batchFile = s"$storeDir/$batchId.parquet"
    val marker = s"${rollupPath}_merged/$batchId"
    if (!StorePaths.exists(spark, batchFile) ||
        StorePaths.exists(spark, marker)) return false
    val delta = spark.read.parquet(batchFile)
      .select($"source", length($"text").cast("long").as("n_chars"))
    mergeRollup(spark, delta, rollupPath)
    StorePaths.touch(spark, marker)
    true
  }

  /** Crash repair: merge every store batch file that has no merged
    * marker (oldest first). Run at the start of each pass so a crash
    * between a prior append and its merge heals before new work.
    *
    * @return number of batches repaired.
    */
  def repairRollup(spark: SparkSession, storeDir: String,
      rollupPath: String): Int = {
    StorePaths.parquetEntries(spark, storeDir).map(_._1).sorted
      .count(bid => commitBatch(spark, storeDir, rollupPath, bid))
  }

  /** One incremental pass over `feed` (doc_id, source, text columns).
    * State: `storeDir` (IncrementalIngest batch store), `metaPath`
    * (cumulative per-id metadata), `rollupPath` (per-source rollup) —
    * plain paths or `file://`, HDFS and S3 URIs alike: every existence
    * probe, listing and delete goes through [[StorePaths]].
    *
    * Crash-replay contract: re-running after a crash is safe with the
    * SAME batchId, whether or not the feed grew in between. The repair
    * pass first merges (and marks) any batch file a prior crash left
    * unmerged; ingest then targets the EFFECTIVE batch id — the first of
    * `batchId`, `batchId.1`, `batchId.2`, … with no merged marker — so
    * new content never rewrites an already-merged file (where the marker
    * would block it from the rollup forever, the r5-documented corner).
    * Old feed rows content-dedup against the healed batch; genuinely new
    * rows land in the fresh sub-batch and merge normally. The same
    * mechanism makes reusing a completed batchId with new content safe:
    * it appends a sub-batch instead of clobbering the stored rows.
    *
    * Pairing contract: one `storeDir` pairs with ONE `rollupPath` for its
    * lifetime. Merged markers live under `rollupPath`_merged, so pointing
    * a second rollupPath at the same store makes each rollup's marker
    * family blind to the other's sub-batches — and the repair pass, which
    * re-merges every store file unmarked for THIS rollup, would
    * double-merge files the other rollup already consumed. Fan-out to
    * several rollups belongs downstream of the store, not on it.
    */
  def run(spark: SparkSession, feed: DataFrame, storeDir: String,
      metaPath: String, rollupPath: String, batchId: String): Summary = {
    import spark.implicits._
    // Heal first: a prior crash between append and merge leaves an
    // unmarked batch file — merge it before processing new work.
    repairRollup(spark, storeDir, rollupPath)
    // One row per feed id (deterministic keeper): a feed unioned from
    // several listings can carry an id twice, and the metadata contract
    // is one row per id forever.
    val idw = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"source", $"text")
    graft.operators.SelfClean.scope { keep =>
      val f = keep(feed.select($"doc_id", $"source", $"text")
        .withColumn("_rn", row_number().over(idw))
        .filter($"_rn" === 1).drop("_rn"))
      val nFeed = f.count()
      val meta = readOrEmpty(spark, metaPath, metaSchema)

      // 1. Detect-new (q04 shape): feed ids the metadata doesn't know.
      //    Metadata is id-keyed and metadata-sized — never the corpus.
      val newRecords =
        keep(f.join(meta.select($"doc_id"), Seq("doc_id"), "left_anti"))
      val nNewIds = newRecords.count()

      // 2. Backfill (q13 shape): known rows missing sha256 take it from the
      //    feed's content — "backfilled_existing", not re-ingested.
      val feedSha = f.select($"doc_id".as("f_id"), sha2($"text", 256).as("f_sha"))
      val backfilled = keep(meta.join(feedSha, $"doc_id" === $"f_id", "left")
        .select($"doc_id", $"source",
          coalesce($"sha256", $"f_sha").as("sha256"),
          when($"sha256".isNull && $"f_sha".isNotNull, lit("backfilled_existing"))
            .otherwise($"status").as("status")))
      val nBackfilled =
        backfilled.filter($"status" === "backfilled_existing").count() -
          meta.filter($"status" === "backfilled_existing").count()

      // 3. Ingest the genuinely new records; content-hash dedup against the
      //    store's column-pruned hash projection lives in appendBatch.
      //    The effective batch id skips every already-MERGED id in the
      //    family (post-repair, every existing batch file is marked), so
      //    appendBatch only ever (re)writes a file the rollup hasn't
      //    consumed — a replayed-and-grown feed's extra docs reach the
      //    rollup through the sub-batch instead of vanishing into a
      //    marked file.
      val effBatchId = (Iterator(batchId) ++
        Iterator.from(1).map(k => s"$batchId.$k"))
        .find(id => !StorePaths.exists(spark, s"${rollupPath}_merged/$id"))
        .get
      val batchFile = s"$storeDir/$effBatchId.parquet"
      val nIngested =
        IncrementalIngest.appendBatch(newRecords, storeDir, effBatchId)

      // 4. Cumulative metadata: every new id gets a row so the NEXT run's
      //    detect-new skips it — the resumability contract. Status comes
      //    from the STORE, not from this attempt's write: an id whose row
      //    exists in any batch file is 'ingested' (covers a prior crash
      //    between append and this rewrite — possibly under an older
      //    batchId); an id absent from the store duplicated another
      //    record's content and is 'skipped_duplicate'.
      val inStore = IncrementalIngest.storedIds(spark, storeDir)
        .withColumn("status", lit("ingested"))
      val newMeta = keep(newRecords
        .join(inStore, Seq("doc_id"), "left")
        .select($"doc_id", $"source", sha2($"text", 256).as("sha256"),
          coalesce($"status", lit("skipped_duplicate")).as("status")))
      val nSkippedDuplicate =
        newMeta.filter($"status" === "skipped_duplicate").count()
      rewrite(backfilled.unionByName(newMeta), metaPath)

      // 5. Rollup: prior rollup (rollup-sized) merged with ONLY this run's
      //    batch file — the delta, not the store — via the marker-tracked
      //    idempotent commit.
      val nRollupDeltaRows =
        if (nIngested > 0) spark.read.parquet(batchFile).count() else 0L
      commitBatch(spark, storeDir, rollupPath, effBatchId)
      // An empty first run must still leave a readable (empty) rollup.
      if (!StorePaths.exists(spark, rollupPath))
        mergeRollup(spark,
          Seq.empty[(String, Long)].toDF("source", "n_chars"), rollupPath)

      Summary(nFeed, nNewIds, nBackfilled, nIngested, nSkippedDuplicate,
        nRollupDeltaRows)
    }
  }
}
