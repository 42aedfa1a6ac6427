package graft

import java.nio.file.Files
import graft.sources.IncrementalIngest

/** Incremental store semantics: batch append, cross-batch skip-by-hash,
  * in-batch dedup, uniqueness audit — the reference's re-run behavior.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore(): String =
    Files.createTempDirectory("graft_store_").toString

  test("first batch writes all unique records; duplicate content collapses to first id") {
    val store = tmpStore()
    val batch = Seq(
      (1L, "alpha content"), (2L, "beta content"),
      (3L, "alpha content") // same content as id 1 → dropped, keep min id
    ).toDF("doc_id", "text")
    val n = IncrementalIngest.appendBatch(batch, store, "b0001")
    assert(n == 2)
    val stored = spark.read.parquet(s"$store/b0001.parquet")
    assert(stored.count() == 2)
    assert(stored.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("re-ingesting the same content is a no-op; new content appends a new batch file") {
    val store = tmpStore()
    IncrementalIngest.appendBatch(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"), store, "b0001")
    // re-run with overlap + one new record
    val n2 = IncrementalIngest.appendBatch(
      Seq((5L, "alpha"), (6L, "gamma")).toDF("doc_id", "text"), store, "b0002")
    assert(n2 == 1, "only the unseen content lands")
    val audit = IncrementalIngest.audit(spark, store).collect()(0)
    assert(audit.getAs[Long]("total_hashes") == 3)
    assert(audit.getAs[Long]("unique_hashes") == 3)
    assert(audit.getAs[Long]("duplicate_count") == 0)
  }

  test("fully-duplicate batch writes no file") {
    val store = tmpStore()
    IncrementalIngest.appendBatch(
      Seq((1L, "alpha")).toDF("doc_id", "text"), store, "b0001")
    val n = IncrementalIngest.appendBatch(
      Seq((9L, "alpha")).toDF("doc_id", "text"), store, "b0002")
    assert(n == 0)
    assert(!new java.io.File(s"$store/b0002.parquet").exists())
  }

  test("a file:// store URI sees its earlier batches: dedup and audit hold") {
    val store = "file://" + tmpStore()
    val batch = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    assert(IncrementalIngest.appendBatch(batch, store, "b0001") == 2)
    assert(IncrementalIngest.appendBatch(batch, store, "b0002") == 0,
      "the first batch must be visible through the URI")
    assert(IncrementalIngest.audit(spark, store).collect()(0)
      .getAs[Long]("duplicate_count") == 0)
    assert(IncrementalIngest.storedIds(spark, store).as[Long].collect()
      .toSet == Set(1L, 2L))
  }

  test("audit: contentless docs are counted as null hashes, not duplicates") {
    val store = tmpStore()
    // each batch lands its one null-text doc: a null hash matches nothing
    val b1 = Seq((1L, "alpha"), (2L, null)).toDF("doc_id", "text")
    val b2 = Seq((3L, "beta"), (4L, null)).toDF("doc_id", "text")
    assert(IncrementalIngest.appendBatch(b1, store, "b0001") == 2)
    assert(IncrementalIngest.appendBatch(b2, store, "b0002") == 2)
    val audit = IncrementalIngest.audit(spark, store)
    assert(audit.columns.last == "null_hashes")
    val row = audit.collect()(0)
    assert(row.getAs[Long]("total_hashes") == 4)
    assert(row.getAs[Long]("unique_hashes") == 2)
    assert(row.getAs[Long]("duplicate_count") == 0)
    assert(row.getAs[Long]("null_hashes") == 2)
  }
}
