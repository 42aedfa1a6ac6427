package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Ev, StreamingOps}

/** Structured Streaming semantics vs the batch forms. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // Base well above epoch: a ts at exactly the initial watermark (0) would
  // be treated as late and dropped by stateful operators.
  private val base = 1700000000000L // 2023-11-14
  private def ts(min: Long): Timestamp = new Timestamp(base + min * 60000L)

  val evs: Seq[Ev] = Seq(
    Ev(1, ts(0), "click", 1.0), Ev(1, ts(10), "click", 2.0),
    Ev(1, ts(70), "view", 3.0),                  // >30min gap → new session
    Ev(2, ts(5), "click", 5.0), Ev(2, ts(20), "purchase", 7.0),
    Ev(2, ts(200), "click", 1.0))                // gap → new session

  test("file-source ingest processes drops incrementally with gate + enrichment") {
    val inDir = java.nio.file.Files.createTempDirectory("graft_fs_in_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_fs_out_").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_fs_ck_").toString
    val whitelist = Seq("srcA", "srcB").toDF("source")
    def doc(id: Long, text: String, src: String) =
      (id, text, "en", src, text.length.toLong)
    // The file source watches for flat files — stage each drop as a single
    // parquet file (write to a scratch dir, move the part file in).
    def drop(name: String, rows: Seq[(Long, String, String, String, Long)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_fs_stage_").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(inDir, name))
      ()
    }
    // drop 1: one passing doc, one too-short, one non-whitelisted source
    drop("drop1.parquet", Seq(
      doc(1, "a perfectly fine document body", "srcA"),
      doc(2, "short", "srcA"),
      doc(3, "long enough but from an unknown source", "srcX")))
    val q = StreamingOps.fileIngest(spark, inDir, outDir, ckDir, whitelist)
    q.processAllAvailable()
    assert(spark.read.parquet(outDir).select("doc_id")
      .as[Long].collect().toSet == Set(1L))
    // drop 2 arrives later: processed incrementally (drop 1 not reread)
    drop("drop2.parquet", Seq(
      doc(4, "another acceptable document arriving later", "srcB")))
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(outDir)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    assert(out.columns.contains("content_hash"))
  }

  test("streaming near-dup gate dedups arrivals against the growing index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_dstream_").toString
    def text(i: Long): String =
      (0 until 40).map(j => s"s${i}_$j").mkString(" ")
    val seed = (0L until 10L).map(i => i -> text(i)).toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS dstream_idx_bands")
    spark.sql("DROP TABLE IF EXISTS dstream_idx_shingles")
    graft.operators.Dedup.writeDedupIndex(seed, "dstream_idx")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupStream(
      mem.toDF().toDF("doc_id", "text"), "dstream_idx", s"$dir/store")
    // batch 1: a near-dup of seed doc 3 (must be gated by the SEED index)
    // + two fresh docs (must pass and grow the index)
    mem.addData((100L, text(3).replaceFirst("^\\S+", "X")),
      (101L, text(101)), (102L, text(102)))
    q.processAllAvailable()
    // batch 2: a near-dup of batch-1's doc 101 — only the GROWN index can
    // gate it — plus one fresh doc
    mem.addData((200L, text(101).replaceFirst("^\\S+", "Y")),
      (201L, text(201)))
    q.processAllAvailable(); q.stop()
    val keptIds = spark.read.parquet(s"$dir/store/*.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds == Set(101L, 102L, 201L),
      s"kept $keptIds, want fresh docs only (100 gated by seed, 200 by growth)")
    spark.sql("DROP TABLE IF EXISTS dstream_idx_bands")
    spark.sql("DROP TABLE IF EXISTS dstream_idx_shingles")
    spark.catalog.clearCache()
  }

  test("near-dup gate passes contentless docs through without poisoning the index") {
    // Contract (GenAdversarial discipline, streaming side): a NULL or
    // empty text yields no shingles, so the near-dup gate has nothing
    // to compare — the doc PASSES (the quality gate is the stage that
    // kills contentless docs), nothing crashes, and index growth from
    // the same batch still gates later near-dups normally.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_nullstream_").toString
    def text(i: Long): String =
      (0 until 40).map(j => s"n${i}_$j").mkString(" ")
    spark.sql("DROP TABLE IF EXISTS nstream_idx_bands")
    spark.sql("DROP TABLE IF EXISTS nstream_idx_shingles")
    graft.operators.Dedup.writeDedupIndex(
      Seq(0L -> text(0)).toDF("doc_id", "text"), "nstream_idx")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupStream(
      mem.toDF().toDF("doc_id", "text"), "nstream_idx", s"$dir/store",
      growEvery = 1)
    mem.addData((300L, null: String), (301L, ""), (302L, text(302)))
    q.processAllAvailable()
    // second batch: near-dup of 302 must be gated by the grown index —
    // growth wasn't derailed by the contentless rows in the same fold
    mem.addData((400L, text(302).replaceFirst("^\\S+", "Z")),
      (401L, null: String))
    q.processAllAvailable(); q.stop()
    val keptIds = spark.read.parquet(s"$dir/store/*.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds == Set(300L, 301L, 302L, 401L),
      s"kept $keptIds: contentless docs pass, 400 gated by grown index")
    spark.sql("DROP TABLE IF EXISTS nstream_idx_bands")
    spark.sql("DROP TABLE IF EXISTS nstream_idx_shingles")
    spark.catalog.clearCache()
  }

  test("gate pending buffer gates inside the fold window, folds at growEvery, and empties") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_pend_").toString
    def text(i: Long): String =
      (0 until 40).map(j => s"p${i}_$j").mkString(" ")
    val seed = (0L until 5L).map(i => i -> text(i)).toDF("doc_id", "text")
    Seq("_bands", "_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS pend_idx$t"))
    graft.operators.Dedup.writeDedupIndex(seed, "pend_idx")
    val bandsBefore = spark.table("pend_idx_bands").count()
    def pendingCount(): Int = {
      val d = new java.io.File(s"$dir/store_idx_pending")
      Option(d.listFiles()).map(_.count(_.getName.endsWith(".parquet")))
        .getOrElse(0)
    }
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupStream(
      mem.toDF().toDF("doc_id", "text"), "pend_idx", s"$dir/store",
      growEvery = 2)
    // batch 1: two fresh docs → kept, buffered in pending (1 file),
    // NOT yet folded into the bucketed tables
    mem.addData((100L, text(100)), (101L, text(101)))
    q.processAllAvailable()
    assert(pendingCount() == 1, "one pending batch file before the fold")
    val filesBefore = graft.operators.Dedup.indexFileCounts(spark, "pend_idx")
    assert(spark.table("pend_idx_bands").count() == bandsBefore,
      "bucketed index must not grow before the fold")
    // batch 2: a near-dup of PENDING doc 100 must be gated by the
    // pending probe (the fold hasn't happened when the probe runs),
    // plus a fresh doc; after this batch pending reaches growEvery=2
    // and folds: dir empties, bucketed tables absorb both batches
    mem.addData((200L, text(100).replaceFirst("^\\S+", "Z")),
      (201L, text(201)))
    q.processAllAvailable()
    assert(pendingCount() == 0, "fold at growEvery must empty the buffer")
    // bucket-aligned appends: one fold adds at most one file per bucket
    val filesAfter = graft.operators.Dedup.indexFileCounts(spark, "pend_idx")
    assert(filesAfter.keySet == filesBefore.keySet &&
      filesAfter.forall { case (t, n) => n - filesBefore(t) <= 8 },
      s"one fold grew the index from $filesBefore to $filesAfter files")
    // this session counted the table pre-fold, so its relation cache
    // holds the old file list; the fold appended through the stream's
    // cloned session — refresh before recounting (readers of an
    // externally-appended table always must)
    spark.catalog.refreshTable("pend_idx_bands")
    assert(spark.table("pend_idx_bands").count() > bandsBefore,
      "fold must land the buffered batches in the bucketed index")
    // batch 3: a near-dup of batch-1's doc 101 — now only the FOLDED
    // index can gate it (pending is empty)
    mem.addData((300L, text(101).replaceFirst("^\\S+", "W")))
    q.processAllAvailable(); q.stop()
    val keptIds = spark.read.parquet(s"$dir/store/*.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds == Set(100L, 101L, 201L),
      s"kept $keptIds: 200 gated by pending, 300 by the folded index")
    Seq("_bands", "_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS pend_idx$t"))
    spark.catalog.clearCache()
  }

  test("gate replay of an uncommitted batch leaves the store and the pending buffer unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft_greplay_").toString
    val inDir = s"$root/in"
    val ck = s"$root/ck"
    val store = s"$root/store"
    new java.io.File(inDir).mkdirs()
    def text(i: Long): String =
      (0 until 40).map(j => s"r${i}_$j").mkString(" ")
    def edit(i: Long, tag: String): String =
      text(i).replaceFirst("^\\S+", tag)
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_greplay_stage_")
        .toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(inDir, name))
      ()
    }
    Seq("_bands", "_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS rpl_idx$t"))
    graft.operators.Dedup.writeDedupIndex(
      (0L until 5L).map(i => i -> text(i)).toDF("doc_id", "text"), "rpl_idx")
    // batch 0: two fresh docs, one near-dup of the seed index; batch 1: a
    // near-dup of batch 0 (pending), a fresh doc and its exact copy;
    // batch 2: a near-dup of batch 1, a fresh doc, a copy of batch 0's
    // doc, and a contentless doc (no shingles: it cannot match itself)
    stage("f1.parquet", Seq(100L -> text(100), 101L -> text(101),
      102L -> edit(2, "A")))
    stage("f2.parquet", Seq(200L -> edit(100, "B"), 201L -> text(201),
      202L -> text(201)))
    stage("f3.parquet", Seq(300L -> edit(201, "C"), 301L -> text(301),
      302L -> text(100), 303L -> ""))
    def gate() = StreamingOps.dedupStream(
      spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      "rpl_idx", store, queryName = "graft_gate_replay",
      checkpointDir = Some(ck))
    def storeRows() = spark.read.parquet(s"$store/*.parquet")
      .select($"doc_id", $"content_hash", $"date_processed")
      .as[(Long, String, String)].collect().toSeq.sorted
    def pendingRows() = spark.read.parquet(s"${store}_idx_pending/*.parquet")
      .select($"doc_id", $"sh").as[(Long, Seq[Long])].collect().toSeq
      .sortBy(_._1)
    val q1 = gate()
    q1.processAllAvailable(); q1.stop()
    val (stored, pending) = (storeRows(), pendingRows())
    assert(stored.map(_._1) == Seq(100L, 101L, 201L, 301L, 303L),
      s"stored ${stored.map(_._1)}")
    assert(pending.map(_._1) == Seq(100L, 101L, 201L, 202L, 301L),
      s"pending ${pending.map(_._1)}")
    // crash after batch 2's writes, before its commit: the restart
    // replays batch 2 from its logged offsets
    Seq("2", ".2.crc").foreach(f => new java.io.File(s"$ck/commits/$f").delete())
    val q2 = gate()
    q2.processAllAvailable(); q2.stop()
    assert(q2.recentProgress.exists(p => p.batchId == 2 && p.numInputRows == 4),
      "the restart must replay batch 2")
    assert(storeRows() == stored, "the replay changed the store")
    assert(stored.map(_._1).distinct == stored.map(_._1), "a doc kept twice")
    assert(pendingRows() == pending, "the replay changed the pending buffer")
    assert(graft.sources.IncrementalIngest.audit(spark, store).collect()(0)
      .getAs[Long]("duplicate_count") == 0)
    Seq("_bands", "_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS rpl_idx$t"))
    spark.catalog.clearCache()
  }

  test("gate restarted over an existing store without its checkpoint fails instead of dropping survivors") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_nockpt_").toString
    def text(i: Long): String =
      (0 until 40).map(j => s"k${i}_$j").mkString(" ")
    Seq("_bands", "_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS nockpt_idx$t"))
    graft.operators.Dedup.writeDedupIndex(
      Seq(0L -> text(0)).toDF("doc_id", "text"), "nockpt_idx")
    def run(rows: (Long, String)*): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = StreamingOps.dedupStream(
        mem.toDF().toDF("doc_id", "text"), "nockpt_idx", s"$dir/store")
      try { mem.addData(rows: _*); q.processAllAvailable() }
      finally q.stop()
    }
    run(1L -> text(1))
    // a second run starts again at batch000000, whose file exists
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(2L -> text(2)))
    assert(e.getMessage.contains("checkpointDir"), e.getMessage)
    assert(spark.read.parquet(s"$dir/store/*.parquet").select("doc_id")
      .as[Long].collect().toSeq == Seq(1L), "the first run's batch changed")
    Seq("_bands", "_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS nockpt_idx$t"))
    spark.catalog.clearCache()
  }

  test("gate index compaction bounds file counts across fold cycles, " +
      "preserves content, and keeps the probe plan exchange-free") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_").toString
    def text(i: Long): String =
      (0 until 40).map(j => s"c${i}_$j").mkString(" ")
    val seed = (0L until 5L).map(i => i -> text(i)).toDF("doc_id", "text")
    Seq("_bands", "_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS cmp_idx$t"))
    graft.operators.Dedup.writeDedupIndex(seed, "cmp_idx")
    val mem = MemoryStream[(Long, String)]
    // growEvery=1: every batch folds; compactAbove=1: every fold is
    // followed by a compaction of any table with >1 file — so after N
    // fold cycles each table holds at most `buckets` (8) files instead
    // of growing by ~buckets per fold
    val q = StreamingOps.dedupStream(
      mem.toDF().toDF("doc_id", "text"), "cmp_idx", s"$dir/store",
      growEvery = 1, compactAbove = 1)
    // three fold cycles, two fresh docs each
    for (k <- 0L until 3L) {
      mem.addData((1000L + 2 * k, text(1000L + 2 * k)),
        (1001L + 2 * k, text(1001L + 2 * k)))
      q.processAllAvailable()
    }
    val counts = graft.operators.Dedup.indexFileCounts(spark, "cmp_idx")
    assert(counts.keySet == Set("cmp_idx_bands", "cmp_idx_shingles"))
    assert(counts.values.forall(_ <= 8),
      s"file counts must stay bounded by the bucket count after 3 " +
        s"fold+compact cycles, got $counts")
    // content preserved: a near-dup of a doc folded THREE compactions
    // ago must still be gated by the (rewritten) index
    mem.addData((2000L, text(1000L).replaceFirst("^\\S+", "Z")),
      (2001L, text(9999L)))
    q.processAllAvailable(); q.stop()
    // the compaction DROP+RENAMEd the tables through the stream's cloned
    // session; this session's relation cache is stale for both
    spark.catalog.refreshTable("cmp_idx_bands")
    spark.catalog.refreshTable("cmp_idx_shingles")
    val keptIds = spark.read.parquet(s"$dir/store/*.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(!keptIds.contains(2000L),
      "near-dup of compacted-index content must still be gated")
    assert(keptIds.contains(2001L), "fresh doc must pass post-compaction")
    // the production-scale invariant survives the rewrite: no
    // ShuffleExchange between a compacted stored scan and its first join
    val probe = (Seq((3000L, text(3000L))).toDF("doc_id", "text"))
    // dedupDelta checkpoints its pairs, which hides the probe from the
    // plan; build it in plan mode, where the checkpoint is a pass-through
    val probePlan = {
      graft.operators.SelfClean.planMode = true
      try graft.operators.Dedup.dedupDelta(spark, "cmp_idx", probe)
        .queryExecution.executedPlan
      finally graft.operators.SelfClean.planMode = false
    }
    val plan = probePlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val allShuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(allShuffles.nonEmpty,
      "traversal found no exchanges anywhere - plan walk is broken")
    assert(plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith("cmp_idx")) => f
    }.nonEmpty, "traversal found no stored index scan - plan walk is broken")
    val reshuffledStore = allShuffles.filter { e =>
      val scans = e.child.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.tableIdentifier.exists(_.table.startsWith("cmp_idx")) => f
      }
      val joins = e.child.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      scans.nonEmpty && joins.isEmpty
    }
    assert(reshuffledStore.isEmpty,
      s"compacted index reshuffled before its join:\n" +
        reshuffledStore.mkString("\n"))
    Seq("_bands", "_shingles").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS cmp_idx$t"))
    spark.catalog.clearCache()
  }

  test("streaming segment gate drops mostly-boilerplate docs via the growing keeper index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_segstream_").toString
    Seq("bands", "shingles", "segdigests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS segstream_idx_$t"))
    // 10-word segments; editing the LAST word of a segment changes
    // exactly one of its 8 3-shingles → jaccard 7/9 ≈ 0.78, a
    // deterministic fuzzy match at the 0.5 verify threshold (an exact
    // copy would be the digest path instead)
    def seg(tag: String): Seq[String] = (0 until 10).map(j => s"$tag$j")
    def edit(s: Seq[String], repl: String): Seq[String] =
      s.init :+ repl
    def doc(segs: Seq[Seq[String]]): String = segs.flatten.mkString(" ")
    val boiler = seg("bo")
    val seed = Seq(
      0L -> doc(Seq(boiler, seg("s0a"), seg("s0b"), seg("s0c"))),
      1L -> doc(Seq(seg("s1a"), seg("s1b"), seg("s1c"), seg("s1d"))))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeSegmentIndex(seed, "segstream_idx")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.segmentDedupStream(
      mem.toDF().toDF("doc_id", "text"), "segstream_idx", s"$dir/store")
    // batch 1: doc 100 is 3 EDITED copies of the seed boilerplate + one
    // novel segment (kept_ratio 0.25 < 0.5 → gated by the SEED keepers);
    // docs 101/102 are fully novel (pass, their segments grow the index)
    mem.addData(
      (100L, doc(Seq(edit(boiler, "xa"), edit(boiler, "xb"),
        edit(boiler, "xc"), seg("n100")))),
      (101L, doc(Seq(seg("c1"), seg("c2"), seg("c3"), seg("c4")))),
      (102L, doc(Seq(seg("d1"), seg("d2"), seg("d3"), seg("d4")))))
    q.processAllAvailable()
    // batch 2: doc 200 is mostly EDITED copies of batch-1 doc 101's
    // segments — only the GROWN index can gate it — plus a fresh doc
    mem.addData(
      (200L, doc(Seq(edit(seg("c1"), "ya"), edit(seg("c2"), "yb"),
        edit(seg("c3"), "yc"), seg("n200")))),
      (201L, doc(Seq(seg("e1"), seg("e2"), seg("e3"), seg("e4")))))
    q.processAllAvailable(); q.stop()
    val keptIds = spark.read.parquet(s"$dir/store/*.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds == Set(101L, 102L, 201L),
      s"kept $keptIds, want novel docs only (100 gated by seed keepers, " +
        "200 by batch-1 growth)")
    Seq("bands", "shingles", "segdigests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS segstream_idx_$t"))
    spark.catalog.clearCache()
  }

  test("segment gate pending fold lands keeper segments and keeps gating past it") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_segpend_").toString
    Seq("bands", "shingles", "segdigests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS segpend_idx_$t"))
    def seg(tag: String): Seq[String] = (0 until 10).map(j => s"$tag$j")
    def edit(s: Seq[String], repl: String): Seq[String] = s.init :+ repl
    def doc(segs: Seq[Seq[String]]): String = segs.flatten.mkString(" ")
    val seed = Seq(0L -> doc(Seq(seg("sa"), seg("sb"), seg("sc"), seg("sd"))))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeSegmentIndex(seed, "segpend_idx")
    val digBefore = spark.table("segpend_idx_segdigests").count()
    def pendingCount(): Int = {
      val d = new java.io.File(s"$dir/store_idx_pending")
      Option(d.listFiles()).map(_.count(_.getName.endsWith(".parquet")))
        .getOrElse(0)
    }
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.segmentDedupStream(
      mem.toDF().toDF("doc_id", "text"), "segpend_idx", s"$dir/store",
      growEvery = 2)
    // batch 1: one novel doc → kept; its meta rows buffer (no fold yet)
    mem.addData((100L, doc(Seq(seg("c1"), seg("c2"), seg("c3"), seg("c4")))))
    q.processAllAvailable()
    assert(pendingCount() == 1)
    // batch 2: doc 200 = edited copies of PENDING doc 100's segments →
    // gated by the pending probe before any fold; doc 201 novel → kept;
    // pending then reaches growEvery=2 and folds into all three tables
    mem.addData(
      (200L, doc(Seq(edit(seg("c1"), "za"), edit(seg("c2"), "zb"),
        edit(seg("c3"), "zc"), seg("n200")))),
      (201L, doc(Seq(seg("e1"), seg("e2"), seg("e3"), seg("e4")))))
    q.processAllAvailable()
    assert(pendingCount() == 0, "fold at growEvery must empty the buffer")
    spark.catalog.refreshTable("segpend_idx_segdigests")
    assert(spark.table("segpend_idx_segdigests").count() > digBefore,
      "fold must land the buffered keeper digests")
    // batch 3: edited copies of batch-1 doc 100's segments again — the
    // pending buffer is empty, so only the FOLDED index can gate it
    mem.addData((300L, doc(Seq(edit(seg("c1"), "wa"), edit(seg("c2"), "wb"),
      edit(seg("c3"), "wc"), seg("n300")))))
    q.processAllAvailable(); q.stop()
    val keptIds = spark.read.parquet(s"$dir/store/*.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds == Set(100L, 201L),
      s"kept $keptIds: 200 gated by pending, 300 by the folded index")
    Seq("bands", "shingles", "segdigests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS segpend_idx_$t"))
    spark.catalog.clearCache()
  }

  test("streaming substring rewrite strips stored runs and grows the gram index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_substream_").toString
    spark.sql("DROP TABLE IF EXISTS substream_idx_grams")
    def ws(tag: String, n: Int): Seq[String] = (0 until n).map(i => s"$tag$i")
    val runR = ws("rr", 20)
    val runC = ws("cc", 20)
    val seed = Seq(1L -> (runR ++ ws("s1", 10)).mkString(" "))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeSubstringIndex(seed, "substream_idx", k = 20)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.substringDedupStream(
      mem.toDF().toDF("doc_id", "text"), "substream_idx", s"$dir/store",
      k = 20)
    // batch 1: doc 100 carries the SEED run (stripped on arrival);
    // doc 101 introduces a novel run C (kept intact, grows the index)
    mem.addData(
      (100L, (ws("a", 4) ++ runR ++ ws("b", 6)).mkString(" ")),
      (101L, (runC ++ ws("d", 8)).mkString(" ")))
    q.processAllAvailable()
    // batch 2: doc 200 carries batch-1's run C — only the GROWN index
    // can strip it; doc 201 is fresh
    mem.addData(
      (200L, (ws("e", 5) ++ runC ++ ws("f", 5)).mkString(" ")),
      (201L, ws("g", 15).mkString(" ")))
    q.processAllAvailable(); q.stop()
    val texts = spark.read.parquet(s"$dir/store/*.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(texts(100L) == (ws("a", 4) ++ ws("b", 6)).mkString(" "),
      s"seed run must be stripped: ${texts(100L)}")
    assert(texts(101L) == (runC ++ ws("d", 8)).mkString(" "),
      "novel run's keeper copy stays intact")
    assert(texts(200L) == (ws("e", 5) ++ ws("f", 5)).mkString(" "),
      s"batch-1 growth must strip run C: ${texts(200L)}")
    assert(texts(201L) == ws("g", 15).mkString(" "))
    spark.sql("DROP TABLE IF EXISTS substream_idx_grams")
    spark.catalog.clearCache()
  }

  test("streaming semantic gate dedups vector arrivals against the growing index") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sstream_").toString
    spark.sql("DROP TABLE IF EXISTS sstream_idx_vecs")
    val seed = GenCorpus.generateEmbeddings(spark, 10)
    graft.operators.Dedup.writeSemanticIndex(seed, "sstream_idx")
    val seed3 = seed.filter($"vec_id" === 3)
      .select($"embedding").as[Seq[Float]].head()
    // one-hot vectors are near-orthogonal to every clustered seed
    // (|cos| ≤ max-component/norm ≈ 0.27 « 0.99) — guaranteed novel
    def oneHot(d: Int): Seq[Float] = Seq.tabulate(64)(j => if (j == d) 1f else 0f)
    def nudge(v: Seq[Float]): Seq[Float] = (v.head + 0.01f) +: v.tail
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.semanticDedupStream(
      mem.toDF().toDF("vec_id", "embedding"), "sstream_idx", s"$dir/store")
    // batch 1: a 0.9999-cosine nudge of seed vec 3 (gated by the SEED
    // index, through a probe if the nudge flipped a low-margin plane)
    // + two novel one-hots (pass, grow the index)
    mem.addData((100L, nudge(seed3)), (101L, oneHot(1)), (102L, oneHot(2)))
    q.processAllAvailable()
    // batch 2: a nudge of batch-1's vec 101 — only the GROWN index can
    // gate it — plus one novel vector
    mem.addData((200L, nudge(oneHot(1))), (201L, oneHot(3)))
    q.processAllAvailable(); q.stop()
    val keptIds = spark.read.parquet(s"$dir/store/*.parquet")
      .select("vec_id").as[Long].collect().toSet
    assert(keptIds == Set(101L, 102L, 201L),
      s"kept $keptIds, want novel vectors only (100 gated by seed, 200 by growth)")
    spark.sql("DROP TABLE IF EXISTS sstream_idx_vecs")
    spark.catalog.clearCache()
  }

  test("semantic gate vector admission: degenerate vectors dead-letter " +
      "with tags, clean vectors flow and grow the index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Relational.{AdmissionChecks, VectorCheck}
    val dir = java.nio.file.Files.createTempDirectory("graft_vadm_").toString
    spark.sql("DROP TABLE IF EXISTS vadm_idx_vecs")
    graft.operators.Dedup.writeSemanticIndex(
      GenCorpus.generateEmbeddings(spark, 10), "vadm_idx")
    def oneHot(d: Int): Seq[Option[Float]] =
      Seq.tabulate(64)(j => Some(if (j == d) 1f else 0f))
    val mem = MemoryStream[(Long, Seq[Option[Float]])]
    val q = StreamingOps.semanticDedupStream(
      mem.toDF().toDF("vec_id", "embedding"), "vadm_idx", s"$dir/store",
      audit = Some(AdmissionChecks(
        vectors = Seq(VectorCheck("embedding", dim = 64)))))
    mem.addData(
      (300L, oneHot(5)),                                   // clean
      (301L, Seq.tabulate(64)(j =>                          // NULL comp
        if (j == 2) None else Some(0.5f))),
      (302L, Seq.tabulate(64)(_ => Some(0f))),              // zero vector
      (303L, Seq.tabulate(64)(j =>                          // non-finite
        Some(if (j == 0) Float.NaN else 1f))),
      (304L, Seq.tabulate(32)(_ => Some(1f))))              // ragged
    q.processAllAvailable(); q.stop()
    val kept = spark.read.parquet(s"$dir/store/*.parquet")
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(300L), s"only the clean vector admits, got $kept")
    val dlq = spark.read.parquet(s"${dir}/store_dlq/*.parquet")
      .select($"vec_id", concat_ws(",", $"_violations").as("v"))
      .as[(Long, String)].collect().toMap
    assert(dlq.keySet == Set(301L, 302L, 303L, 304L), dlq.toString)
    assert(dlq(301L) == "nullcomp_embedding")
    assert(dlq(302L) == "zerovec_embedding")
    assert(dlq(303L) == "nonfinite_embedding")
    assert(dlq(304L) == "baddim_embedding")
    spark.sql("DROP TABLE IF EXISTS vadm_idx_vecs")
    spark.catalog.clearCache()
  }

  /** Runs `gate` without a checkpoint over `first`, then again over
    * `second` on the same store: the second run starts again at
    * batch000000, whose file the first run committed, so it must fail and
    * leave that file as it was.
    */
  private def assertRestartWithoutCheckpointFails[T: org.apache.spark.sql.Encoder](
      store: String, idCol: String, first: T, second: T)(
      gate: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    implicit val sqlCtx = spark.sqlContext
    def run(row: T): Unit = {
      val mem = MemoryStream[T]
      val q = gate(mem.toDF())
      try { mem.addData(row); q.processAllAvailable() }
      finally q.stop()
    }
    def storeRows() = spark.read.parquet(s"$store/*.parquet")
      .select(col(idCol)).as[Long].collect().toSeq
    run(first)
    val landed = storeRows()
    assert(landed.nonEmpty, "the first run must land its batch")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(second))
    assert(e.getMessage.contains("checkpointDir"), e.getMessage)
    assert(storeRows() == landed, "the first run's batch changed")
  }

  test("semantic gate restarted without its checkpoint fails instead of dropping survivors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snockpt_").toString
    spark.sql("DROP TABLE IF EXISTS snockpt_idx_vecs")
    graft.operators.Dedup.writeSemanticIndex(
      GenCorpus.generateEmbeddings(spark, 10), "snockpt_idx")
    def oneHot(d: Int): Seq[Float] = Seq.tabulate(64)(j => if (j == d) 1f else 0f)
    assertRestartWithoutCheckpointFails(s"$dir/store", "vec_id",
      (1L, oneHot(1)), (2L, oneHot(2))) { df =>
      StreamingOps.semanticDedupStream(df.toDF("vec_id", "embedding"),
        "snockpt_idx", s"$dir/store")
    }
    spark.sql("DROP TABLE IF EXISTS snockpt_idx_vecs")
    spark.catalog.clearCache()
  }

  test("substring gate restarted without its checkpoint fails instead of dropping survivors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bnockpt_").toString
    spark.sql("DROP TABLE IF EXISTS bnockpt_idx_grams")
    def ws(tag: String, n: Int): String = (0 until n).map(i => s"$tag$i").mkString(" ")
    graft.operators.Dedup.writeSubstringIndex(
      Seq(0L -> ws("s", 30)).toDF("doc_id", "text"), "bnockpt_idx", k = 20)
    assertRestartWithoutCheckpointFails(s"$dir/store", "doc_id",
      (1L, ws("a", 30)), (2L, ws("b", 30))) { df =>
      StreamingOps.substringDedupStream(df.toDF("doc_id", "text"),
        "bnockpt_idx", s"$dir/store", k = 20)
    }
    spark.sql("DROP TABLE IF EXISTS bnockpt_idx_grams")
    spark.catalog.clearCache()
  }

  test("segment gate restarted without its checkpoint fails instead of dropping survivors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gnockpt_").toString
    Seq("bands", "shingles", "segdigests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS gnockpt_idx_$t"))
    def ws(tag: String, n: Int): String = (0 until n).map(i => s"$tag$i").mkString(" ")
    graft.operators.Dedup.writeSegmentIndex(
      Seq(0L -> ws("s", 40)).toDF("doc_id", "text"), "gnockpt_idx")
    assertRestartWithoutCheckpointFails(s"$dir/store", "doc_id",
      (1L, ws("a", 40)), (2L, ws("b", 40))) { df =>
      StreamingOps.segmentDedupStream(df.toDF("doc_id", "text"),
        "gnockpt_idx", s"$dir/store")
    }
    Seq("bands", "shingles", "segdigests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS gnockpt_idx_$t"))
    spark.catalog.clearCache()
  }

  test("segment gate replay of an uncommitted batch leaves the store and the pending buffer unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft_sreplay_").toString
    val inDir = s"$root/in"
    val ck = s"$root/ck"
    val store = s"$root/store"
    new java.io.File(inDir).mkdirs()
    Seq("bands", "shingles", "segdigests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS sreplay_idx_$t"))
    def seg(tag: String): Seq[String] = (0 until 10).map(j => s"$tag$j")
    def edit(s: Seq[String], repl: String): Seq[String] = s.init :+ repl
    def doc(tags: String*): String = tags.flatMap(seg).mkString(" ")
    def edited(tags: String*): String =
      (tags.map(t => edit(seg(t), s"x$t")) :+ seg("tail")).flatten.mkString(" ")
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sreplay_stage_")
        .toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(inDir, name))
      ()
    }
    graft.operators.Dedup.writeSegmentIndex(
      Seq(0L -> doc("sa", "sb", "sc", "sd")).toDF("doc_id", "text"),
      "sreplay_idx")
    // batch 0: two novel docs and edited seed segments (gated); batch 1:
    // edited copies of batch 0's doc 100 (gated by the pending buffer)
    // and a novel doc; batch 2: a novel doc and a contentless one (no
    // segments: it cannot match itself on replay)
    stage("f1.parquet", Seq(100L -> doc("a1", "a2", "a3", "a4"),
      101L -> doc("b1", "b2", "b3", "b4"), 102L -> edited("sa", "sb", "sc")))
    stage("f2.parquet", Seq(200L -> edited("a1", "a2", "a3"),
      201L -> doc("c1", "c2", "c3", "c4")))
    stage("f3.parquet", Seq(300L -> doc("d1", "d2", "d3", "d4"),
      301L -> (null: String)))
    def gate() = StreamingOps.segmentDedupStream(
      spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      "sreplay_idx", store, queryName = "graft_segment_gate_replay",
      checkpointDir = Some(ck))
    def storeRows() = spark.read.parquet(s"$store/*.parquet")
      .select($"doc_id", $"content_hash", $"date_processed")
      .as[(Long, String, String)].collect().toSeq.sorted
    def pendingRows() = spark.read.parquet(s"${store}_idx_pending/*.parquet")
      .select($"doc_id", $"ord", $"h", $"h2")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val q1 = gate()
    q1.processAllAvailable(); q1.stop()
    val (stored, pending) = (storeRows(), pendingRows())
    assert(stored.map(_._1) == Seq(100L, 101L, 201L, 300L, 301L),
      s"stored ${stored.map(_._1)}")
    assert(pending.map(_._1).distinct == Seq(100L, 101L, 201L, 300L),
      s"pending ${pending.map(_._1).distinct}")
    // crash after batch 2's writes, before its commit: the restart
    // replays batch 2 from its logged offsets
    Seq("2", ".2.crc").foreach(f => new java.io.File(s"$ck/commits/$f").delete())
    val q2 = gate()
    q2.processAllAvailable(); q2.stop()
    assert(q2.recentProgress.exists(p => p.batchId == 2 && p.numInputRows == 2),
      "the restart must replay batch 2")
    assert(storeRows() == stored, "the replay changed the store")
    assert(pendingRows() == pending, "the replay changed the pending buffer")
    Seq("bands", "shingles", "segdigests").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS sreplay_idx_$t"))
    spark.catalog.clearCache()
  }

  test("stream-stream interval join matches views within the hour before purchase") {
    implicit val sqlCtx = spark.sqlContext
    val vs = MemoryStream[Ev]
    val ps = MemoryStream[Ev]
    vs.addData(Ev(1, ts(0), "view", 0), Ev(1, ts(50), "view", 0),
      Ev(2, ts(300), "view", 0)) // 5h later — outside every purchase window
    ps.addData(Ev(1, ts(55), "purchase", 9), Ev(2, ts(60), "purchase", 9))
    val joined = StreamingOps.viewPurchaseJoin(
      vs.toDF(), ps.toDF().withColumn("event_id", $"user_id" * 100))
    val q = joined.writeStream.format("memory").queryName("vpj")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT user_id, view_ts FROM vpj")
      .as[(Long, Timestamp)].collect().toSet
    // user 1: both views fall in (purchase-1h, purchase]; user 2: none
    assert(got == Set((1L, ts(0)), (1L, ts(50))))
  }

  test("left-outer interval join emits the null-match row only after " +
      "both watermarks pass the view's horizon") {
    implicit val sqlCtx = spark.sqlContext
    val vs = MemoryStream[Ev]
    val ps = MemoryStream[Ev]
    vs.addData(Ev(1, ts(0), "view", 0), Ev(2, ts(0), "view", 0))
    ps.addData(Ev(1, ts(30), "purchase", 9))
    val joined = StreamingOps.viewPurchaseJoinLeftOuter(
      vs.toDF(), ps.toDF().withColumn("event_id", $"user_id" * 100))
    val q = joined.writeStream.format("memory").queryName("vpjo")
      .outputMode("append").start()
    q.processAllAvailable()
    def rows() = spark.sql(
      "SELECT user_id, event_id, purchase_ts IS NULL FROM vpjo")
      .as[(Long, Option[Long], Boolean)].collect().toSet
    // user 1's match streams out; user 2's non-conversion must NOT have
    // been decided yet — the watermark hasn't passed its horizon
    assert(rows() == Set((1L, Some(100L), false)), rows().toString)
    // push BOTH watermarks past view_ts(0) + 1h join horizon (distinct
    // users so the advancers can't match each other; user 9's own view
    // stays undecided — ITS horizon hasn't passed)
    vs.addData(Ev(9, ts(600), "view", 0))
    ps.addData(Ev(8, ts(600), "purchase", 9))
    q.processAllAvailable(); q.stop()
    assert(rows() == Set((1L, Some(100L), false), (2L, None, true)),
      rows().toString)
  }

  test("streaming windowed agg matches batch grouping") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = StreamingOps.windowedAgg(mem.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("wagg")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT window.start AS h, event_type, n FROM wagg")
      .as[(Timestamp, String, Long)].collect().toSet
    val want = evs.groupBy(e => (e.ts.getTime / 3600000L, e.event_type))
      .map { case ((h, t), es) => (new Timestamp(h * 3600000L), t, es.size.toLong) }
      .toSet
    assert(got == want)
  }

  test("streaming heavy-hitters sketch matches exact counts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // two micro-batches so the sketch state MERGES incrementally
    mem.addData(evs.take(3): _*)
    val q = StreamingOps.heavyHittersStream(mem.toDF(), k = 8)
      .writeStream.format("memory").queryName("shh")
      .outputMode("complete").start()
    q.processAllAvailable()
    mem.addData(evs.drop(3): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT window.start AS h, item, est_count FROM shh")
      .as[(Timestamp, String, Long)].collect().toSet
    // vocabulary (3 types) « k=8: the MG sketch degenerates to exact
    // per-window counts, so incremental merge must reproduce the batch
    // grouping bit-for-bit
    val want = evs.groupBy(e => (e.ts.getTime / 3600000L, e.event_type))
      .map { case ((h, t), es) => (new Timestamp(h * 3600000L), t, es.size.toLong) }
      .toSet
    assert(got == want)
  }

  test("stateful sessionizer emits closed sessions; open sessions stay in state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = StreamingOps.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val emitted = spark.sql("SELECT user_id, n_events FROM sess")
      .as[(Long, Int)].collect().toSet
    // user 1: session [0,10] closed by the 70-min event; the open [70]
    //   session is then FLUSHED BY EVENT-TIME TIMEOUT (watermark = 200min
    //   - 30min delay = 170min > 70 + 30min gap) and its state evicted.
    // user 2: session [5,20] closed by the 200-min event; [200] is still
    //   within the watermark horizon → stays open in state.
    assert(emitted == Set((1L, 2), (2L, 2), (1L, 1)))
  }

  test("sessionizer state stays bounded under key churn (eviction works)") {
    // Waves of 100 FRESH users each, 2 events per user, 2h apart: every
    // wave's watermark advance pushes the previous wave past its gap
    // horizon, so its sessions must be emitted by timeout and the keys
    // EVICTED. Without eviction the state store grows with total distinct
    // keys ever seen — the 100 TB failure mode this guards against.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("churn")
      .outputMode("append").start()
    val waves = 3
    val perWave = 100
    for (wv <- 0 until waves) {
      val users = (wv * perWave) until ((wv + 1) * perWave)
      mem.addData(users.flatMap(u => Seq(
        Ev(u.toLong + 1000L, ts(wv * 120L), "click", 1.0),
        Ev(u.toLong + 1000L, ts(wv * 120L + 5), "view", 2.0))): _*)
      q.processAllAvailable()
    }
    // one trailing event so the post-watermark-advance batch runs and
    // times out wave 3
    mem.addData(Ev(9999L, ts(waves * 120L), "click", 1.0))
    q.processAllAvailable()
    val emitted = spark.sql("SELECT user_id FROM churn").count()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    assert(emitted == (waves * perWave).toLong,
      s"every churned wave must flush: emitted=$emitted")
    assert(stateRows <= 5,
      s"state must hold only live keys after eviction, found $stateRows")
  }

  test("streaming dedup within watermark drops replayed events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // duplicate delivery of the same (user_id, ts) event — at-least-once replay
    mem.addData(Ev(1, ts(0), "click", 1.0), Ev(1, ts(0), "click", 1.0),
      Ev(2, ts(1), "view", 2.0))
    val q = mem.toDS()
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "ts") // watermark bounds the dedup state
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.sql("SELECT * FROM dedup_stream").count() == 2)
  }

  test("q39 admission gate: violating rows dead-lettered with reasons, " +
      "clean rows admitted, replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Relational.{AdmissionChecks, FkCheck}
    val dir = java.nio.file.Files.createTempDirectory("graft_adm_").toString
    val store = s"$dir/store"
    val whitelist = Seq("web", "pdf").toDF("source")
    val checks = AdmissionChecks(
      pk = Some("doc_id"),
      fks = Seq(FkCheck("source", whitelist, "source")),
      finiteCols = Seq("score"))
    // one micro-batch planting every violation class:
    //   1 clean | 2 clean | 2 dup-PK extra | 3 dangling FK | 4 NaN score
    val rows = Seq(
      (1L, "alpha text one", "web", 1.0),
      (2L, "beta text two", "pdf", 2.0),
      (2L, "beta text two prime", "pdf", 2.5), // dup_pk extra
      (3L, "gamma text", "ftp", 3.0),          // dangling_source
      (4L, "delta text", "web", Double.NaN))   // nonfinite_score
    val mem = MemoryStream[(Long, String, String, Double)]
    val q = StreamingOps.ingestStream(
      mem.toDF().toDF("doc_id", "text", "source", "score"),
      store, audit = Some(checks))
    mem.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val admitted = spark.read.parquet(s"$store/*.parquet")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L), s"clean rows only, got $admitted")
    val dlq = spark.read.parquet(s"${store}_dlq/*.parquet")
      .select($"doc_id", $"text", concat_ws(",", $"_violations").as("v"))
      .as[(Long, String, String)].collect().toSet
    assert(dlq.map(_._1) == Set(2L, 3L, 4L),
      s"exactly the violating rows dead-lettered, got $dlq")
    assert(dlq.collect { case (3L, _, v) => v }.head == "dangling_source")
    assert(dlq.collect { case (4L, _, v) => v }.head == "nonfinite_score")
    // the dup-PK extra (not the keeper) is the dead-lettered one
    assert(dlq.exists(r => r._1 == 2L && r._3 == "dup_pk"))
    val keeperText = spark.read.parquet(s"$store/*.parquet")
      .filter($"doc_id" === 2L).select("text").as[String].head()
    val dlqText = dlq.collect { case (2L, t, _) => t }.head
    assert(keeperText != dlqText, "keeper and dead-lettered dup differ")
    // replay the SAME batch id directly: the batch file and DLQ file are
    // REWRITTEN with identical content (own-file is excluded from the
    // dedup reference precisely so a replay can rewrite it) — net store
    // and DLQ state unchanged
    val batch = rows.toDF("doc_id", "text", "source", "score")
    val (n1, b1) = StreamingOps.auditAndLand(batch, "batch000000", store, checks)
    assert(n1 == 2L && b1 == 3L,
      s"replay rewrites the same 2-row batch file + 3-row DLQ, got ($n1, $b1)")
    val after = spark.read.parquet(s"$store/*.parquet")
    assert(after.count() == 2L &&
      after.select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "replay is idempotent on the store")
    assert(spark.read.parquet(s"${store}_dlq/*.parquet").count() == 3L,
      "replay is idempotent on the DLQ")
  }

  test("admissionAudit: NULL PKs are not duplicates of each other " +
      "(q39's count(pk) - countDistinct(pk) skips null-keyed rows)") {
    import graft.pipeline.Relational
    val batch = Seq((Option(1L), "a"), (Option.empty[Long], "b"),
      (Option.empty[Long], "c")).toDF("doc_id", "text")
    val out = Relational.admissionAudit(batch,
      Relational.AdmissionChecks(pk = Some("doc_id")))
    assert(out.filter(size($"_violations") > 0).count() == 0,
      "two NULL-PK rows must not dead-letter each other as dup_pk")
    // a REAL duplicate alongside the nulls still flags exactly once
    val batch2 = batch.unionByName(
      Seq((Option(1L), "d")).toDF("doc_id", "text"))
    assert(Relational.admissionAudit(batch2,
      Relational.AdmissionChecks(pk = Some("doc_id")))
      .filter(size($"_violations") > 0).count() == 1)
  }

  test("normalizeEvents nulls non-finite FLOAT measures too (producer " +
      "may write value as float or double)") {
    val df = Seq(
      (1L, ts(0), "click", 1.5f),
      (2L, ts(1), "click", Float.NaN),
      (3L, ts(2), "click", Float.PositiveInfinity))
      .toDF("user_id", "ts", "event_type", "value")
    val out = Tables.normalizeEvents(df)
    assert(out.count() == 3, "rows kept — only the measure is nulled")
    assert(out.filter($"value".isNull).count() == 2,
      "NaN and Inf float values must be nulled like doubles")
  }

  test("streaming ingest into the incremental store dedups across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream => MS}
    val store = java.nio.file.Files.createTempDirectory("graft_sstore_").toString
    val mem = MS[(Long, String)]
    val q = StreamingOps.ingestStream(
      mem.toDF().toDF("doc_id", "text"), store)
    mem.addData(1L -> "alpha", 2L -> "beta")
    q.processAllAvailable()
    mem.addData(3L -> "alpha", 4L -> "gamma") // alpha replayed
    q.processAllAvailable()
    q.stop()
    val stored = spark.read.parquet(store + "/*.parquet")
    assert(stored.count() == 3, "replayed content must be dropped")
    val audit = graft.sources.IncrementalIngest.audit(spark, store).collect()(0)
    assert(audit.getAs[Long]("duplicate_count") == 0)
  }

  test("streaming rollup merge tracks the store across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream => MS}
    val root = java.nio.file.Files.createTempDirectory("graft_rollst_").toString
    val store = s"$root/store"; val rollup = s"$root/rollup"
    new java.io.File(store).mkdirs()
    val mem = MS[(Long, String, String)]
    val q = StreamingOps.rollupStream(
      mem.toDF().toDF("doc_id", "source", "text"), store, rollup)
    mem.addData((1L, "A", "alpha"), (2L, "A", "beta"), (3L, "B", "gamma"))
    q.processAllAvailable()
    mem.addData((4L, "B", "alpha"), (5L, "B", "delta")) // alpha = replayed content
    q.processAllAvailable()
    q.stop()
    // content dedup dropped the replay; the rollup must equal a scratch
    // recompute over what the store actually holds
    val scratch = graft.pipeline.IncrementalAgg.sourceAgg(
      spark.read.parquet(store + "/*.parquet")
        .select($"source", length($"text").cast("long").as("n_chars")))
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    val merged = spark.read.parquet(rollup)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(merged == scratch, s"merged=$merged scratch=$scratch")
    assert(merged.map(_._2).sum == 4, "replayed content must not count")
  }

  test("checkpointed ingest restart: each file lands exactly once across restarts") {
    val inDir = java.nio.file.Files.createTempDirectory("graft_eo_in_").toString
    val store = java.nio.file.Files.createTempDirectory("graft_eo_store_").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_eo_ck_").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_eo_stage_").toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(inDir, name))
      ()
    }
    def src = spark.readStream.schema(schema).parquet(inDir)
    stage("f1.parquet", Seq(1L -> "one", 2L -> "two"))
    val q1 = StreamingOps.ingestStream(src, store, "eo_ingest", Some(ck))
    q1.processAllAvailable(); q1.stop()
    // restart from the same checkpoint with a new file present: only the
    // new file forms a batch; f1's committed offset is not replayed
    stage("f2.parquet", Seq(3L -> "three"))
    val q2 = StreamingOps.ingestStream(src, store, "eo_ingest", Some(ck))
    q2.processAllAvailable(); q2.stop()
    val stored = spark.read.parquet(store + "/*.parquet")
    assert(stored.count() == 3)
    assert(graft.sources.IncrementalIngest.audit(spark, store)
      .collect()(0).getAs[Long]("duplicate_count") == 0)
  }

  test("batch sessionize agrees with streaming emissions + open state") {
    val batch = pipeline.Events.sessionize(spark, sf)
    val nUsers = batch.select($"user_id").distinct().count()
    val nSessions = batch.count()
    // streaming over the same data would emit (nSessions - nUsers) closed
    // sessions and hold nUsers open ones; sanity: both positive.
    assert(nSessions >= nUsers && nUsers > 0)
  }

  test("NTZ-typed file stream inherits the loader normalization end-to-end") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    // The round-9 failure mode: a producer writes event timestamps as
    // TIMESTAMP_NTZ parquet. The streaming path must consume it through
    // the same normalizer as the batch loader — no per-query casts.
    val watch = java.nio.file.Files.createTempDirectory("graft_ntz_stream_").toString
    val ev = Tables.events(spark, sf).filter($"user_id" < 30)
      .select($"user_id", $"ts", $"event_type", $"value")
    ev.withColumn("ts", $"ts".cast(TimestampNTZType))
      .write.mode("overwrite").parquet(watch)
    val ntzSchema = spark.read.parquet(watch).schema
    assert(ntzSchema("ts").dataType == TimestampNTZType, "variant must be NTZ")

    val raw = spark.readStream.schema(ntzSchema).parquet(watch)
    val normalized = Tables.normalizeEventTs(raw)
    assert(normalized.schema("ts").dataType == TimestampType)
    val q = StreamingOps.sessionize(normalized.as[Ev])
      .writeStream.format("memory").queryName("ntz_sess")
      .outputMode("append").start()
    q.processAllAvailable()
    // a far-future sentinel event advances the watermark past every real
    // session so they all close and emit
    val farMs = ev.agg(max($"ts")).head().getTimestamp(0).getTime +
      90L * 24 * 3600 * 1000
    Seq((99999L, new Timestamp(farMs), "click", 1.0))
      .toDF("user_id", "ts", "event_type", "value")
      .withColumn("ts", $"ts".cast(TimestampNTZType))
      .write.mode("append").parquet(watch)
    q.processAllAvailable()
    q.stop()

    // SessionOut carries ms-precision timestamps, so parity is checked at
    // the (user, n_events) granularity — boundaries depend only on ts
    // gaps, which the ms truncation cannot move across the 30 min gap
    val streamed = spark.sql(
        "SELECT user_id, n_events FROM ntz_sess WHERE user_id < 30")
      .as[(Long, Int)].collect().toSeq.sorted
    val batch = pipeline.Events.sessionize(spark, sf)
      .filter($"user_id" < 30)
      .select($"user_id", $"n_events")
      .as[(Long, Long)].collect().toSeq.map(t => (t._1, t._2.toInt)).sorted
    assert(streamed.nonEmpty, "no sessions emitted from the NTZ stream")
    assert(streamed == batch,
      s"streamed ${streamed.size} sessions != batch ${batch.size}")
  }

  test("streaming CUSUM closes days in order and matches the Page recursion") {
    implicit val sqlCtx = spark.sqlContext
    // Day-aligned timestamps well above the initial watermark.
    val day0 = (base / 86400000L + 1) * 86400000L
    def tsd(day: Int, i: Int) = new Timestamp(day0 + day * 86400000L + i * 1000L)
    val profile = Map("click" -> (10.0, 2.0), "view" -> (5.0, 1.0))
    // click: stable at mu for 2 days then a sustained +3-sigma shift;
    // view: flat at its mean — the control that must never flag.
    val clickCounts = Seq(10L, 10L, 16L, 16L, 16L)
    val viewCounts = Seq(5L, 5L, 5L, 5L, 5L)
    val evsIn = (0 until 5).flatMap { d =>
      (0L until clickCounts(d)).map(i => Ev(1, tsd(d, i.toInt), "click", 1.0)) ++
        (0L until viewCounts(d)).map(i => Ev(2, tsd(d, i.toInt), "view", 1.0))
    }
    val mem = MemoryStream[Ev]
    val q = StreamingOps.cusumStream(mem.toDS(), profile, k = 0.5, h = 4.0)
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode("append").start()
    mem.addData(evsIn: _*)
    q.processAllAvailable()
    // trailing far-future event advances the watermark past every day
    mem.addData(Ev(9, tsd(12, 0), "click", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(9, tsd(13, 0), "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT event_type, day, n, s_pos, is_change FROM cusum_stream")
      .as[(String, java.sql.Date, Long, Double, Boolean)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2.getTime)).toMap
    // Reference: the Page recursion folded in plain Scala.
    def fold(counts: Seq[Long], mu: Double, sd: Double): Seq[Double] =
      counts.scanLeft(0.0) { (s, n) =>
        math.max(0.0, s + (n - mu) / sd - 0.5)
      }.tail.map(s => math.round(s * 1e4) / 1e4)
    val clickExp = fold(clickCounts, 10.0, 2.0)
    assert(got("click").take(5).map(_._4).toSeq == clickExp)
    assert(got("click").take(5).map(_._3).toSeq == clickCounts)
    // shift day 2 onward: s_pos = 2.5, 5.0, 7.5 → flags from day 3
    assert(got("click").take(5).map(_._5).toSeq ==
      Seq(false, false, false, true, true))
    assert(got("view").take(5).forall(r => !r._5 && r._4 == 0.0))
    // days arrive strictly in order per type
    assert(got("click").map(_._2.getTime).sliding(2).forall(w =>
      w.length < 2 || w(0) < w(1)))
  }
}
