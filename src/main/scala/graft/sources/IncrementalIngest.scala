package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Incremental batch-append parquet store keyed by content hash — the
  * reference's core ingest contract (extract_pdf_text.py:120-241):
  * each batch lands as its own timestamped zstd parquet file; records whose
  * content hash already exists in ANY prior batch are skipped; an audit
  * verifies global hash uniqueness.
  *
  * Spark-first shape: "already processed" is an anti-join against the
  * store's hash projection (a column-pruned scan of all batch files — at
  * 100 TB the store would be a partitioned table and this scan reads only
  * the hash column's pages); the reference's Python set-in-memory loop
  * (load_processed_ids) does not scale past one node.
  */
object IncrementalIngest {

  val hashCol = "content_hash"

  /** The store's batch files, listed through [[StorePaths]] so `file://`,
    * HDFS and S3 stores list like plain local paths (java.io.File would
    * see none of them, and dedup would silently stop).
    */
  private def batchFiles(spark: SparkSession, storeDir: String,
      excludeBatchId: Option[String]): Seq[String] =
    StorePaths.parquetEntries(spark, storeDir)
      .collect { case (id, f) if !excludeBatchId.contains(id) => f }

  /** All content hashes currently in the store (empty frame if none).
    * `excludeBatchId` leaves one batch's own file out of the scan — the
    * dedup feed for a replay of that same batch (see [[appendBatch]]).
    */
  def processedHashes(spark: SparkSession, storeDir: String,
      excludeBatchId: Option[String] = None): DataFrame = {
    val files = batchFiles(spark, storeDir, excludeBatchId)
    val schema = StructType(Seq(StructField(hashCol, StringType)))
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else // the hash column's known type: no schema-inference job
      spark.read.schema(schema).parquet(files: _*).distinct()
  }

  /** Distinct record ids currently in the store (column-pruned scan,
    * same shape as [[processedHashes]]) — lets a caller distinguish "this
    * id's content is in the store" (ingested, possibly by a crashed run
    * whose metadata write never landed) from "this id duplicated another
    * record's content" (skipped).
    */
  def storedIds(spark: SparkSession, storeDir: String,
      idCol: String = "doc_id"): DataFrame = {
    val files = batchFiles(spark, storeDir, None)
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField(idCol, org.apache.spark.sql.types.LongType))))
    else
      spark.read.parquet(files: _*).select(col(idCol)).distinct()
  }

  /** Append one ingest batch: hash the content column, drop records whose
    * hash exists in the store or earlier in this batch (keep min id — the
    * reference keeps first-seen), write `<batchId>.parquet`. Returns the
    * number of newly written records.
    *
    * The dedup scan EXCLUDES `<batchId>.parquet` itself, so replaying a
    * batchId with the same feed is idempotent (the file is rewritten with
    * identical content — the crash-recovery path) instead of throwing
    * Spark's overwrite-a-read-path error. Reusing a batchId for a
    * DIFFERENT feed replaces that batch's rows; IncrementalRun.run guards
    * against doing that to a completed batch.
    *
    * [[flagFresh]] then [[landBatch]], with the flagged rows materialised
    * once: the count and the write both read them.
    */
  def appendBatch(records: DataFrame, storeDir: String, batchId: String,
      idCol: String = "doc_id", contentCol: String = "text"): Long =
    graft.operators.SelfClean.scope { keep =>
      val flagged =
        keep(flagFresh(records, storeDir, batchId, idCol, contentCol))
      val n = flagged.filter(col(freshCol)).count()
      if (n > 0) landBatch(flagged, storeDir, batchId)
      n
    }

  /** The boolean column [[flagFresh]] adds. */
  private[graft] val freshCol = "_fresh"

  /** `records` plus its `content_hash` and a [[freshCol]] flag, lazily:
    * true on the rows [[appendBatch]] would land — the first (min id) row
    * per hash whose hash is not in the store (`<batchId>.parquet` itself
    * excluded, as in [[appendBatch]]).
    */
  private[graft] def flagFresh(records: DataFrame, storeDir: String,
      batchId: String, idCol: String = "doc_id",
      contentCol: String = "text"): DataFrame = {
    val spark = records.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(hashCol)).orderBy(col(idCol))
    val stored = processedHashes(spark, storeDir, Some(batchId))
      .withColumn("_stored", lit(true))
    records.withColumn(hashCol, sha2(col(contentCol), 256))
      .withColumn("_rn", row_number().over(w))
      .join(stored, Seq(hashCol), "left")
      .withColumn(freshCol, col("_rn") === 1 && col("_stored").isNull)
      .drop("_rn", "_stored")
  }

  /** Write the fresh rows of a [[flagFresh]] frame as
    * `<batchId>.parquet` — map-only, one file. The caller drops any
    * columns of its own first and skips the call when no row is fresh
    * (a fully-duplicate batch writes no file).
    */
  private[graft] def landBatch(flagged: DataFrame, storeDir: String,
      batchId: String): Unit =
    flagged.filter(col(freshCol)).drop(freshCol)
      .withColumn("date_processed", lit(batchId))
      .coalesce(1) // one file per batch, matching the reference layout
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(s"$storeDir/$batchId.parquet")

  /** Store-wide uniqueness audit (check_unique_hashes.py:9-78).
    *
    * `duplicate_count` counts over non-null hashes only, and the trailing
    * `null_hashes` column reports the contentless rows. A doc with null
    * text has a null hash, and [[flagFresh]] lands one such doc per batch,
    * so the reference's `len − nunique` (pandas `nunique` skips NaN, like
    * `countDistinct` skips null) would report every one of them as a
    * duplicate. That divergence from the reference is deliberate.
    */
  def audit(spark: SparkSession, storeDir: String): DataFrame = {
    val all = spark.read.parquet(storeDir + "/*.parquet")
    all.agg(
      count(lit(1)).as("total_hashes"),
      countDistinct(col(hashCol)).as("unique_hashes"),
      (count(col(hashCol)) - countDistinct(col(hashCol))).as("duplicate_count"),
      (count(lit(1)) - count(col(hashCol))).as("null_hashes"))
  }
}
