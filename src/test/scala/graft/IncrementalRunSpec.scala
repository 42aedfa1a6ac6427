package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.{IncrementalAgg, IncrementalRun}
import graft.sources.IncrementalIngest

/** The composed incremental pass (run_full_pipeline.py:353-431 as a
  * dataflow): detect-new, backfill, hash-dedup ingest, cumulative
  * metadata, mergeable rollup — and the no-rescan property: a re-run
  * touches only the delta (row counts prove it), and the merged rollup
  * equals a from-scratch recompute.
  */
class IncrementalRunSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, src: String) = (id, src, s"unique content $id")

  test("composed incremental run: backfill + delta-only re-run + merge==recompute") {
    val root = Files.createTempDirectory("graft_irun_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()

    // Pre-seed metadata: ids 1-5 are already known but missing sha256
    // (the reference's rows awaiting backfill). Their content is NOT in
    // the store — known ids are never re-ingested.
    Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"), (5L, "B"))
      .toDF("doc_id", "source")
      .select($"doc_id", $"source",
        lit(null).cast("string").as("sha256"), lit("pending").as("status"))
      .write.parquet(meta)

    // Run 1: feed has the 5 known ids + 20 new docs.
    val feed1 = (Seq(doc(1, "A"), doc(2, "A"), doc(3, "B"), doc(4, "B"), doc(5, "B")) ++
      (6L to 25L).map(i => doc(i, if (i % 2 == 0) "A" else "B")))
      .toDF("doc_id", "source", "text")
    val s1 = IncrementalRun.run(spark, feed1, store, meta, rollup, "b0001")
    assert(s1.nFeed == 25 && s1.nNewIds == 20 && s1.nBackfilled == 5)
    assert(s1.nIngested == 20 && s1.nSkippedDuplicate == 0)
    assert(s1.nRollupDeltaRows == 20, "rollup must consume the delta only")

    // Run 2: same feed + 10 new ids + 3 new ids whose content duplicates
    // stored docs (content dedup must skip them but metadata must still
    // learn the ids, so run 3 won't re-attempt).
    val feed2 = feed1.unionByName(
      ((26L to 35L).map(i => doc(i, "A")) ++
        Seq((101L, "B", "unique content 6"), (102L, "B", "unique content 7"),
          (103L, "A", "unique content 8")))
        .toDF("doc_id", "source", "text"))
    val s2 = IncrementalRun.run(spark, feed2, store, meta, rollup, "b0002")
    assert(s2.nFeed == 38 && s2.nNewIds == 13 && s2.nBackfilled == 0)
    assert(s2.nIngested == 10 && s2.nSkippedDuplicate == 3)
    assert(s2.nRollupDeltaRows == 10,
      s"re-run must merge 10 delta rows, not rescan the ${20 + 10}-row store")

    // Run 3: identical feed → resumable no-op.
    val s3 = IncrementalRun.run(spark, feed2, store, meta, rollup, "b0003")
    assert(s3.nNewIds == 0 && s3.nIngested == 0 && s3.nBackfilled == 0)
    assert(s3.nRollupDeltaRows == 0)
    assert(!new java.io.File(s"$store/b0003.parquet").exists(),
      "a no-op run must not write a batch file")

    // Cumulative metadata: every id seen exactly once, statuses correct.
    val m = spark.read.parquet(meta)
    assert(m.count() == 38 && m.select("doc_id").distinct().count() == 38)
    assert(m.filter($"status" === "backfilled_existing").count() == 5)
    assert(m.filter($"status" === "skipped_duplicate").count() == 3)
    assert(m.filter($"status" === "ingested").count() == 30)
    assert(m.filter($"sha256".isNull).count() == 0)

    // Incremental rollup == from-scratch recompute over the whole store.
    val scratch = IncrementalAgg.sourceAgg(
      spark.read.parquet(s"$store/*.parquet")
        .select($"source", length($"text").cast("long").as("n_chars")))
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    val merged = spark.read.parquet(rollup)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(merged == scratch, s"merged=$merged scratch=$scratch")

    // Store-wide hash uniqueness still audits clean.
    val audit = IncrementalIngest.audit(spark, store).collect()(0)
    assert(audit.getAs[Long]("duplicate_count") == 0)
  }

  test("duplicate feed ids collapse to one deterministic metadata row") {
    val root = Files.createTempDirectory("graft_irun_dup_").toString
    val store = s"$root/store"; new java.io.File(store).mkdirs()
    // id 1 appears twice (a feed unioned from two listings)
    val feed = Seq((1L, "A", "payload one"), (1L, "B", "payload other"),
      (2L, "A", "payload two")).toDF("doc_id", "source", "text")
    val s1 = IncrementalRun.run(spark, feed, store,
      s"$root/meta", s"$root/rollup", "b0001")
    assert(s1.nFeed == 2 && s1.nNewIds == 2 && s1.nIngested == 2)
    val m = spark.read.parquet(s"$root/meta")
    assert(m.count() == 2 && m.select("doc_id").distinct().count() == 2)
    // deterministic keeper: (source, text) ordering picks ("A", "payload one")
    assert(m.filter($"doc_id" === 1L).select("source").as[String].head() == "A")
  }

  test("crash between append and rollup merge heals on the next run") {
    val root = Files.createTempDirectory("graft_irun_crash_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    val feed1 = (1L to 10L).map(i => doc(i, "A")).toDF("doc_id", "source", "text")
    IncrementalRun.run(spark, feed1, store, meta, rollup, "b0001")
    // Simulated crash: a batch lands in the store but its rollup merge
    // (and metadata) never happened.
    IncrementalIngest.appendBatch(
      (11L to 15L).map(i => doc(i, "B")).toDF("doc_id", "source", "text"),
      store, "b0002")
    // The next run repairs the unmerged batch before its own work...
    IncrementalRun.run(spark, feed1, store, meta, rollup, "b0003")
    val scratch = IncrementalAgg.sourceAgg(
      spark.read.parquet(s"$store/*.parquet")
        .select($"source", length($"text").cast("long").as("n_chars")))
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    val merged = spark.read.parquet(rollup)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(merged == scratch, s"merged=$merged scratch=$scratch")
    // ...and the commit is idempotent: an already-merged batch is a no-op.
    assert(!IncrementalRun.commitBatch(spark, store, rollup, "b0002"))
    assert(!IncrementalRun.commitBatch(spark, store, rollup, "b0001"))
  }

  test("crash-recovered ids are labeled 'ingested', not 'skipped_duplicate'") {
    val root = Files.createTempDirectory("graft_irun_label_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    // Simulated crash: batch b0001 landed in the store, but the run died
    // before the metadata rewrite — the ids exist in the store with no
    // metadata row.
    val feed = (1L to 5L).map(i => doc(i, "A")).toDF("doc_id", "source", "text")
    IncrementalIngest.appendBatch(feed, store, "b0001")
    // The re-run (same batchId, same feed) must record them as ingested —
    // their content IS in the store — and the rollup must merge once.
    val s1 = IncrementalRun.run(spark, feed, store, meta, rollup, "b0001")
    assert(s1.nNewIds == 5 && s1.nSkippedDuplicate == 0,
      s"recovered ids must not count as skipped: $s1")
    val m = spark.read.parquet(meta)
    assert(m.filter($"status" === "ingested").count() == 5)
    assert(m.filter($"status" === "skipped_duplicate").count() == 0)
    val merged = spark.read.parquet(rollup).as[(String, Long, Long)].collect()
    assert(merged.toSeq == Seq(("A", 5L, feed.agg(
      org.apache.spark.sql.functions.sum(length($"text"))).as[Long].head())))
    // genuine content duplicates under NEW ids still label as skipped
    val feed2 = feed.unionByName(
      Seq((11L, "A", "unique content 1")).toDF("doc_id", "source", "text"))
    val s2 = IncrementalRun.run(spark, feed2, store, meta, rollup, "b0002")
    assert(s2.nNewIds == 1 && s2.nIngested == 0 && s2.nSkippedDuplicate == 1)
    assert(spark.read.parquet(meta)
      .filter($"doc_id" === 11L).select("status").as[String].head()
      == "skipped_duplicate")
  }

  test("a feed that grew during a crash recovers under the same batchId") {
    val root = Files.createTempDirectory("graft_irun_grow_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    // Simulated crash: b0001's batch file landed, but neither the
    // metadata rewrite nor the rollup merge happened. Before this round
    // the replay below lost docs 6-8 forever: repair merges+marks b0001,
    // and the grown feed's extra rows were rewritten into the MARKED
    // file, which the rollup never reads again (SURVEY §7.5's corner).
    val feed1 = (1L to 5L).map(i => doc(i, "A")).toDF("doc_id", "source", "text")
    IncrementalIngest.appendBatch(feed1, store, "b0001")
    val grown = feed1.unionByName(
      (6L to 8L).map(i => doc(i, "B")).toDF("doc_id", "source", "text"))
    // Replay with the SAME batchId and the grown feed — no workaround.
    val s1 = IncrementalRun.run(spark, grown, store, meta, rollup, "b0001")
    assert(s1.nNewIds == 8 && s1.nIngested == 3 && s1.nSkippedDuplicate == 0)
    // the healed batch keeps its rows; the growth landed in a sub-batch
    assert(spark.read.parquet(s"$store/b0001.parquet").count() == 5)
    assert(spark.read.parquet(s"$store/b0001.1.parquet").count() == 3)
    // rollup saw BOTH the healed batch and the growth
    val scratch = IncrementalAgg.sourceAgg(
      spark.read.parquet(s"$store/*.parquet")
        .select($"source", length($"text").cast("long").as("n_chars")))
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    val merged = spark.read.parquet(rollup)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(merged == scratch, s"merged=$merged scratch=$scratch")
    assert(spark.read.parquet(meta)
      .filter($"status" === "ingested").count() == 8)
  }

  test("reusing a completed batchId appends a sub-batch, never clobbers") {
    val root = Files.createTempDirectory("graft_irun_reuse_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    val feed1 = (1L to 5L).map(i => doc(i, "A")).toDF("doc_id", "source", "text")
    IncrementalRun.run(spark, feed1, store, meta, rollup, "b0001")
    val feed2 = feed1.unionByName(
      (6L to 8L).map(i => doc(i, "B")).toDF("doc_id", "source", "text"))
    // b0001 is completed (merged + recorded); reusing it must not rewrite
    // its file — the new docs go to b0001.1 and reach the rollup.
    val s2 = IncrementalRun.run(spark, feed2, store, meta, rollup, "b0001")
    assert(s2.nIngested == 3)
    assert(spark.read.parquet(s"$store/b0001.parquet").count() == 5)
    assert(spark.read.parquet(s"$store/b0001.1.parquet").count() == 3)
    val scratch = IncrementalAgg.sourceAgg(
      spark.read.parquet(s"$store/*.parquet")
        .select($"source", length($"text").cast("long").as("n_chars")))
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    val merged = spark.read.parquet(rollup)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(merged == scratch, s"merged=$merged scratch=$scratch")
    // and replaying the reuse is a no-op (content already stored)
    val s3 = IncrementalRun.run(spark, feed2, store, meta, rollup, "b0001")
    assert(s3.nIngested == 0)
    assert(!new java.io.File(s"$store/b0001.2.parquet").exists(),
      "an all-duplicate replay must not write another sub-batch")
  }

  test("replaying an identical completed run is a no-op, not an error") {
    val root = Files.createTempDirectory("graft_irun_replay_").toString
    val store = s"$root/store"; val meta = s"$root/meta"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    val feed = (1L to 4L).map(i => doc(i, "A")).toDF("doc_id", "source", "text")
    IncrementalRun.run(spark, feed, store, meta, rollup, "b0001")
    val before = spark.read.parquet(rollup).collect().toSeq
    // epoch redelivery: same feed, same batchId, everything already done
    val s2 = IncrementalRun.run(spark, feed, store, meta, rollup, "b0001")
    assert(s2.nNewIds == 0 && s2.nIngested == 0)
    assert(spark.read.parquet(rollup).collect().toSeq == before)
  }

  test("two passes over file:// store, meta and rollup URIs give the plain-path state") {
    def feed(ids: Seq[Long]) = ids.map(i => doc(i, if (i % 2 == 0) "A" else "B"))
      .toDF("doc_id", "source", "text")
    // pass 2 re-sends pass 1's ids, adds five, and one id whose content
    // duplicates a stored doc
    val feed2 = feed(1L to 15L).unionByName(
      Seq((99L, "A", "unique content 3")).toDF("doc_id", "source", "text"))
    def passes(prefix: String) = {
      val root = Files.createTempDirectory("graft_irun_uri_").toString
      val (store, meta, rollup) =
        (s"$prefix$root/store", s"$prefix$root/meta", s"$prefix$root/rollup")
      val summaries = Seq(
        IncrementalRun.run(spark, feed(1L to 10L), store, meta, rollup, "b0001"),
        IncrementalRun.run(spark, feed2, store, meta, rollup, "b0002"))
      (summaries,
        spark.read.parquet(meta).as[(Long, String, String, String)]
          .collect().toSeq.sorted,
        spark.read.parquet(s"$store/*.parquet")
          .select("doc_id", "source", "text", "content_hash", "date_processed")
          .as[(Long, String, String, String, String)].collect().toSeq.sorted,
        spark.read.parquet(rollup).as[(String, Long, Long)].collect().toSeq.sorted)
    }
    val plain = passes("")
    assert(plain._1.map(_.nNewIds) == Seq(10L, 6L) && plain._4.map(_._2).sum == 15L,
      s"plain-path run: $plain")
    assert(passes("file://") == plain)
  }
}
