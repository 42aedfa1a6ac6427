package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType
import graft.operators.{Dedup, SelfClean}
import graft.pipeline.Relational.AdmissionChecks
import graft.sources.{IncrementalIngest, StorePaths}

/** Event shape for the stateful operators. */
case class Ev(user_id: Long, ts: Timestamp, event_type: String, value: Double)

/** Open-session state kept per user (scales with active keys, not history). */
case class SessionState(startUs: Long, lastUs: Long, n: Int, totalValue: Double)

/** Emitted closed session. */
case class SessionOut(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Int, total_value: Double)

/** Per-type CUSUM detector state: open (not-yet-watermark-closed) day
  * buckets plus the two accumulated sums — a handful of doubles and at
  * most watermark-horizon day buckets per key, never history-sized.
  */
case class CusumState(openDays: Map[Long, Long], sPos: Double, sNeg: Double)

/** Emitted once per (type, day) when the watermark closes the day. */
case class CusumOut(event_type: String, day: java.sql.Date, n: Long,
    s_pos: Double, s_neg: Double, is_change: Boolean)

/** Structured Streaming operators (SURVEY.md §2 events/streaming row).
  *
  * The batch forms in graft.pipeline.Events share these semantics and feed
  * the DuckDB oracle; here the same logic runs incrementally: watermarked
  * windowed aggregation (bounded state) and gap-based sessionization via
  * flatMapGroupsWithState (explicit state machine).
  */
object StreamingOps {

  /** The trigger scope every `foreachBatch` stream here shares (the
    * ingest and rollup streams and the four dedup gates): each
    * micro-batch runs `body(batch, bid, keep)`, where `bid` =
    * `batch%06d` names the batch's store files deterministically and
    * `keep` persists into a [[SelfClean.scope]] released when the
    * trigger ends, failed or not — never a session-wide clearCache,
    * which would evict a co-resident workload's frames (ADVICE r13).
    * With a `checkpointDir` the query restarts from the committed
    * offset, so each source file lands in exactly one micro-batch
    * across restarts.
    */
  private def eachBatch(in: DataFrame, queryName: String,
      checkpointDir: Option[String])(
      body: (DataFrame, String, DataFrame => DataFrame) => Unit): StreamingQuery = {
    val w = in.writeStream
      .queryName(queryName)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        SelfClean.scope(keep => body(batch.toDF(), f"batch$batchId%06d", keep))
      }
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** Run one step of a gate under a call-site label (`<gate> probe`,
    * `<gate> land`, …): the label names the step's Spark jobs and stages,
    * so a listener or trace attributes each trigger's time to its steps.
    */
  private def step[T](spark: SparkSession, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setCallSite(label)
    try f finally sc.clearCallSite()
  }

  /** A gate's store landing, once per batch id: `land` writes
    * `<storeDir>/<bid>.parquet` unless a committed one exists. A
    * replayed batch is gated or rewritten against its own earlier index
    * rows, so rewriting its committed file from the replay would drop
    * rows the batch already landed; the replay skips the write and says
    * so on stderr. Without a `checkpointDir`, batch ids start again at 0
    * on every run, so a committed file is an earlier run's batch, not
    * this batch's replay: the trigger fails rather than drop its
    * survivors. The `_SUCCESS` probe resolves through [[StorePaths]]:
    * java.io.File reports an HDFS/S3 file absent, so the replay would
    * rewrite the batch's store file with its shrunken kept set.
    */
  private def landOnce(spark: SparkSession, storeDir: String, bid: String,
      checkpointDir: Option[String], label: String)(land: => Unit): Unit =
    if (!StorePaths.exists(spark, s"$storeDir/$bid.parquet/_SUCCESS"))
      step(spark, label)(land)
    else if (checkpointDir.isEmpty)
      throw new IllegalStateException(s"$storeDir/$bid.parquet exists: " +
        "restarting a dedup gate over an existing store needs the " +
        "checkpointDir it ran with")
    else System.err.println(s"[gate] $bid replayed: its store file is " +
      "committed, its survivors are not re-landed")

  /** The pending buffer's COMMITTED batch files (parquet dirs under
    * `<storeDir>_idx_pending` whose _SUCCESS landed) — empty when the
    * buffer doesn't exist or was just folded. A crash mid-write leaves a
    * dir without _SUCCESS; excluding it is correct, not lossy: that
    * batch's checkpoint never committed, so its replay rewrites the file
    * (Overwrite) before anything probes it.
    */
  private def pendingFiles(spark: SparkSession, storeDir: String): Seq[String] =
    StorePaths.parquetEntries(spark, s"${storeDir}_idx_pending").map(_._2)
      .filter(f => StorePaths.exists(spark, s"$f/_SUCCESS"))

  /** The pending buffer as one frame, read with the schema its gate
    * writes it with; None when it holds no committed file.
    */
  private def pendingBuffer(spark: SparkSession, storeDir: String,
      schema: StructType): Option[DataFrame] =
    Some(pendingFiles(spark, storeDir)).filter(_.nonEmpty)
      .map(files => spark.read.schema(schema).parquet(files: _*))

  /** How a gate grows its index from its trigger's checkpoint. */
  private sealed trait Growth

  /** Pending buffer + fold (doc and segment gates): `rows` of the
    * checkpoint land in `<storeDir>_idx_pending/<bid>.parquet` (one
    * file, Overwrite); once `every` committed files accumulate, `fold`
    * appends the buffer (read with `schema`) to the bucketed index
    * tables and the buffer is deleted. The fold is at-least-once
    * (append → delete): the duplicate index rows a crash between the two
    * leaves collapse in the probe.
    */
  private final case class Pending(schema: StructType, every: Int,
      rows: DataFrame => DataFrame, fold: DataFrame => Unit) extends Growth

  /** Marker-guarded append (substring and semantic gates): `append`
    * grows the index from the checkpoint, then `<storeDir>_idx_marked/<bid>`
    * is touched, so a replayed batch does not grow it twice; a crash
    * between the two leaves duplicate index rows the probe collapses.
    */
  private final case class Marked(append: DataFrame => Unit) extends Growth

  /** One gate trigger as its gate plans it: `probe` is the lazy frame the
    * trigger materialises once; `land` and `grow` count, over it, the
    * rows the store write and the index growth will take; `landed`
    * writes `<storeDir>/<bid>.parquet` from the materialised rows.
    */
  private final case class Trigger(probe: DataFrame, land: Column,
      grow: Column, landed: DataFrame => Unit, growth: Growth)

  /** The trigger skeleton of the four dedup gates. Each trigger:
    *
    *  - `probe`: plans the trigger over the kept batch and materialises
    *    its probe in ONE `localCheckpoint`, whose Observation counts
    *    what the land and grow steps will write — no probe join, store
    *    scan or hash runs twice, and no action runs just to count;
    *  - `land`: lands the store file once per batch id ([[landOnce]]),
    *    skipped when nothing would land;
    *  - grows the index — `pending` then `fold` ([[Pending]]), or
    *    `grow` ([[Marked]]) — and then `compact`s it
    *    ([[Dedup.compactIndex]]) when `compactAbove` > 0 and some index
    *    table holds more data files than that. Compaction rewrites a
    *    table through its own bucket spec, so probe plans keep their
    *    exchange-free stored side, and it never runs concurrently with
    *    a probe of the same store.
    *
    * The store lands BEFORE the index grows (probe-before-grow: a
    * replayed batch's rows match themselves in the index, so its replay
    * neither keeps a row twice nor grows the index twice). Each step
    * runs under the call-site label `<gate> <step>`. The checkpoint's
    * blocks are freed when the trigger ends, failed or not: the
    * session-wide sweep (CacheHygiene.freeTransient) must not run
    * beside a live stream, and the ContextCleaner frees them only when
    * it collects the RDD.
    */
  private def gateStream(in: DataFrame, gate: String, indexTable: String,
      storeDir: String, queryName: String, checkpointDir: Option[String],
      compactAbove: Int)(
      plan: (DataFrame, String, DataFrame => DataFrame) => Trigger): StreamingQuery =
    eachBatch(in, queryName, checkpointDir) { (batch, bid, keep) =>
      val spark = batch.sparkSession
      val counts = Observation(s"$queryName-$bid")
      val (t, kept) = step(spark, s"$gate probe") {
        val t = plan(batch, bid, keep)
        (t, t.probe.observe(counts, t.land.as("land"), t.grow.as("grow"))
          .localCheckpoint())
      }
      try {
        val n = counts.get.view.mapValues(_.asInstanceOf[Long]).toMap
        if (n("land") > 0)
          landOnce(spark, storeDir, bid, checkpointDir, s"$gate land")(t.landed(kept))
        val grown = t.growth match {
          case Pending(schema, every, rows, fold) =>
            if (n("grow") > 0) step(spark, s"$gate pending") {
              rows(kept).coalesce(1).write.mode(SaveMode.Overwrite)
                .parquet(s"${storeDir}_idx_pending/$bid.parquet")
            }
            val toFold = pendingFiles(spark, storeDir)
            if (toFold.size < every) false
            else step(spark, s"$gate fold") {
              fold(spark.read.schema(schema).parquet(toFold: _*))
              StorePaths.delete(spark, s"${storeDir}_idx_pending")
              true
            }
          case Marked(append) =>
            val marker = s"${storeDir}_idx_marked/$bid"
            if (n("grow") == 0 || StorePaths.exists(spark, marker)) false
            else step(spark, s"$gate grow") {
              append(kept)
              StorePaths.touch(spark, marker)
              true
            }
        }
        if (grown && compactAbove > 0) step(spark, s"$gate compact") {
          Dedup.compactIndex(spark, indexTable, compactAbove)
            .toSeq.sortBy(_._1).foreach { case (table, (bef, aft)) =>
              System.err.println(s"[gate] compacted $table: $bef -> $aft files")
            }
        }
      } finally org.apache.spark.sql.graft.SparkInternals
        .releaseCheckpointBlocks(kept)
    }

  /** Watermarked tumbling-window aggregation — streaming form of
    * Events.windowAgg. State is bounded by the watermark horizon.
    */
  def windowedAgg(events: DataFrame, watermark: String = "1 hour",
      windowLen: String = "1 hour"): DataFrame = {
    import events.sparkSession.implicits._
    // the batch events load contract (null-ts dead-letter + non-finite
    // measure nulling) applied at the stream head too — a raw file/memory
    // stream must not carry NaN/Inf into sum(value) when the batch path
    // would have nulled it (idempotent when the source already normalized)
    graft.Tables.normalizeEvents(events)
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", windowLen), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
  }

  /** Streaming heavy-hitters: the Misra-Gries sketch as STREAMING state —
    * per watermarked window, at most k counters survive each incremental
    * micro-batch merge, so state is bounded by windows-in-horizon × k
    * counters no matter how many distinct items flow through (the exact
    * streaming `groupBy(item).count()` would grow state with cardinality).
    * Batch analog: t13; the sketch's capture (> N/k guaranteed present)
    * and undercount (≤ N/k) bounds are pinned in TypedAggSpec, and merge
    * order across micro-batches perturbs estimates only within that
    * bound.
    */
  def heavyHittersStream(events: DataFrame, k: Int = 64,
      watermark: String = "1 hour", windowLen: String = "1 hour"): DataFrame = {
    import events.sparkSession.implicits._
    val hh = udaf(new graft.functions.TypedAggregators.HeavyHitters(k),
      org.apache.spark.sql.Encoders.STRING)
    graft.Tables.normalizeEvents(events)
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", windowLen))
      .agg(hh($"event_type").as("sketch"))
      .select($"window", explode($"sketch").as(Seq("item", "est_count")))
  }

  /** Audit-then-admit for one micro-batch (verdict r16 #5):
    * `Relational.admissionAudit` tags the batch (kept: the count, the
    * dead-letter write and the clean rows all read it), the violating
    * rows dead-letter to `<storeDir>_dlq/<bid>.parquet` with their
    * `_violations` tags — the operational record of WHY each row was
    * refused — as one file, keyed by batch id with Overwrite, so a
    * replayed batch rewrites the identical file. Returns the clean rows
    * and the dead-lettered count.
    */
  private def admit(batch: DataFrame, bid: String, storeDir: String,
      checks: AdmissionChecks, keep: DataFrame => DataFrame): (DataFrame, Long) = {
    val audited = keep(graft.pipeline.Relational.admissionAudit(batch, checks))
    val bad = audited.filter(size(col("_violations")) > 0)
    val nBad = bad.count()
    if (nBad > 0)
      bad.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"${storeDir}_dlq/$bid.parquet")
    (audited.filter(size(col("_violations")) === 0).drop("_violations"), nBad)
  }

  /** Audit-then-admit landing for one micro-batch: [[admit]], then the
    * clean rows land through the content-hash-deduped store append.
    * Returns (admitted, dead_lettered) counts. Replay idempotent by
    * construction: the DLQ file is rewritten identically and
    * appendBatch's content-hash dedup makes the clean landing
    * replay-stable — so at-least-once foreachBatch delivery never
    * double-admits or double-dead-letters.
    */
  def auditAndLand(batch: DataFrame, bid: String, storeDir: String,
      checks: AdmissionChecks): (Long, Long) =
    SelfClean.scope { keep =>
      val (clean, nBad) = admit(batch, bid, storeDir, checks, keep)
      (IncrementalIngest.appendBatch(clean, storeDir, bid), nBad)
    }

  /** [[ingestStream]] and [[rollupStream]]: each micro-batch lands via
    * IncrementalIngest.appendBatch (through [[auditAndLand]] under an
    * `audit`), then, given a `rollupPath`, merges that batch file into
    * the rollup. appendBatch's content-hash dedup makes replays
    * idempotent on top of the checkpoint's committed offsets — the
    * belt-and-braces exactly-once pattern.
    */
  private def storeStream(docs: DataFrame, storeDir: String,
      rollupPath: Option[String], queryName: String,
      checkpointDir: Option[String],
      audit: Option[AdmissionChecks]): StreamingQuery =
    eachBatch(docs, queryName, checkpointDir) { (batch, bid, _) =>
      audit.fold(IncrementalIngest.appendBatch(batch, storeDir, bid))(
        auditAndLand(batch, bid, storeDir, _)._1)
      // Marker-tracked idempotent merge: foreachBatch is at-least-once,
      // and a replayed epoch ingests 0 rows (content dedup) — keying
      // the merge off this attempt's ingest count would permanently
      // drop the batch from the rollup. commitBatch merges iff the
      // batch file exists and is unmarked, so replays heal instead.
      rollupPath.foreach(graft.pipeline.IncrementalRun
        .commitBatch(batch.sparkSession, storeDir, _, bid))
    }

  /** Streaming ingest into the hash-dedup incremental store: each
    * micro-batch lands via IncrementalIngest.appendBatch, so replayed or
    * cross-batch duplicate content is dropped exactly as in the reference's
    * re-run semantics — but continuously. foreachBatch gives the batch id
    * for the deterministic store filename.
    */
  def ingestStream(docs: DataFrame, storeDir: String,
      queryName: String = "graft_ingest",
      checkpointDir: Option[String] = None,
      audit: Option[AdmissionChecks] = None): StreamingQuery =
    storeStream(docs, storeDir, None, queryName, checkpointDir, audit)

  /** Continuous form of IncrementalRun's store + rollup maintenance: every
    * micro-batch appends to the hash-dedup store, then merges ONLY the
    * batch file it just wrote into the persistent per-source rollup — the
    * streaming version of the batch pipeline's delta-only contract. Per
    * trigger this touches the store's hash projection (column-pruned), the
    * new batch file, and the rollup-sized table; never prior batches'
    * content.
    */
  def rollupStream(docs: DataFrame, storeDir: String, rollupPath: String,
      queryName: String = "graft_rollup",
      checkpointDir: Option[String] = None,
      audit: Option[AdmissionChecks] = None): StreamingQuery =
    storeStream(docs, storeDir, Some(rollupPath), queryName, checkpointDir,
      audit)

  /** Streaming NEAR-dup gate — dedup-on-arrival over the stored band
    * index: each micro-batch is probed against the `indexTable` pair
    * (corpus never rescanned — the stored tables join in their bucketed
    * layout), novel docs land in the hash-dedup incremental store, and
    * the index GROWS by exactly those docs so later batches dedup
    * against everything that came before. The continuous form of the
    * d14 contract: per-trigger cost tracks the batch, not the corpus.
    *
    * Index growth is DEFERRED (r16, VERDICT r15 #6): survivors' shingle
    * rows land in a small per-batch PENDING parquet buffer
    * (`<storeDir>_idx_pending/<bid>.parquet`, one file) and fold into
    * the bucketed index tables only once `growEvery` pending batches
    * accumulate — the two bucketed saveAsTable appends were the
    * per-trigger commit-surface tax §7.14 measured. Every probe reads
    * stored index ∪ pending buffer, so batch N+1 still dedups against
    * batch N inside the fold window.
    *
    * ONE execution per trigger decides both verdicts ([[gateStream]]).
    * The batch is persisted with its shingle hashes; a single band join
    * and verify over two index parts — the stored tables and the pending
    * buffer (`Dedup.dedupProbeFrames`) — finds the near-dups;
    * `IncrementalIngest.flagFresh` flags the survivors the content-hash
    * store would land; and the trigger's checkpoint materialises the
    * flagged survivors, shingles included. The store file and the
    * pending file are then map-only writes of the checkpointed rows,
    * each skipped when it would be empty. Steps run under the labels
    * `gate probe`, `gate land`, `gate pending`, `gate fold` and
    * `gate compact`.
    *
    * Idempotence, in replay order: the store file lands BEFORE the
    * pending write, once per batch id (a committed `_SUCCESS` is never
    * rewritten, and a replay that skips it says so on stderr); a
    * replayed batch's docs match THEMSELVES in the index
    * or in their own pending file, so only contentless docs survive and
    * nothing is rewritten; the fold is at-least-once (append → delete;
    * duplicate index rows from a crash between the two collapse in the
    * probe); and a stopped stream's unfolded pending buffer is simply
    * probed again after restart. Batch ids name the store files, so a
    * restart over an existing store needs the `checkpointDir` it ran
    * with: without one, ids start again at 0, and a trigger whose store
    * file already exists fails the query rather than drop its
    * survivors.
    */
  def dedupStream(docs: DataFrame, indexTable: String, storeDir: String,
      minJaccard: Double = 0.5,
      queryName: String = "graft_dedup_gate",
      checkpointDir: Option[String] = None,
      growEvery: Int = 8,
      compactAbove: Int = 0): StreamingQuery =
    gateStream(docs, "gate", indexTable, storeDir, queryName, checkpointDir,
        compactAbove) { (batch, bid, keep) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val b = keep(batch.withColumn("_sh", Dedup.shingleHashes($"text")))
      val shingled = b.select($"doc_id", $"_sh".as("sh"))
      val pending = pendingBuffer(spark, storeDir, shingled.schema)
      val dups = Dedup.dedupProbeFrames(Dedup.storedIndex(spark, indexTable) +:
        pending.toSeq.map(Dedup.bufferIndex(_, 16, 4)), shingled, 16, 4, minJaccard)
      // flagged over the whole batch: docs sharing a content hash share
      // their shingles, hence their verdict, so this equals flagging the
      // survivors — and runs beside the probe
      val flagged = IncrementalIngest.flagFresh(b, storeDir, bid)
      Trigger(flagged.join(dups, flagged("doc_id") === dups("new_id"), "left_anti"),
        land = count(when(col(IncrementalIngest.freshCol), 1)),
        grow = count(when(size($"_sh") > 0, 1)),
        landed = kept =>
          IncrementalIngest.landBatch(kept.drop("_sh"), storeDir, bid),
        growth = Pending(shingled.schema, growEvery,
          _.filter(size($"_sh") > 0).select($"doc_id", $"_sh".as("sh")),
          Dedup.appendDedupIndexFromShingles(_, indexTable, 8, 16, 4)))
    }

  /** Streaming SEGMENT near-dup gate — [[dedupStream]]'s contract at
    * PARAGRAPH granularity (d18b made streaming): each micro-batch's
    * docs are probed against the stored segment-keeper index and the
    * pending buffer (`Dedup.segmentDeltaOrdsFromMeta`); docs whose
    * kept_ratio (fraction of segments with no stored exact-or-edited
    * keeper match) falls below
    * `segKeptRatioMin` are gated — the mostly-boilerplate arrivals a
    * whole-doc gate dilutes below threshold — and survivors' NOVEL
    * keeper segments grow the index so batch N+1's edited boilerplate
    * is gated by batch N's keepers.
    *
    * Same idempotence story as dedupStream: probe-before-grow (a
    * replayed batch's segments match themselves in the index or pending
    * buffer → replayed docs gate out, never double-keep) and
    * at-least-once growth whose duplicate rows the probe tolerates.
    *
    * Index growth is DEFERRED exactly as in [[dedupStream]] (r16): kept
    * docs' fused meta rows (ord, h, h2, sh — the same one-tokenization
    * frame the probe used) buffer in
    * `<storeDir>_idx_pending/<bid>.parquet` and fold into the three
    * bucketed segment-index tables once `growEvery` batches accumulate;
    * each probe unions the stored-index verdict with an exact(h,h2) +
    * banded-fuzzy probe of the pending buffer, so the kept_ratio a doc
    * gates on still sees every earlier batch inside the fold window.
    * Same replay story: the store lands once per batch id
    * ([[landOnce]]) before the pending write, a replay's docs match
    * themselves so no pending file is rewritten, and the fold is
    * at-least-once. The trigger's one checkpoint holds the kept docs,
    * flagged for the store and tagged with their kept_ratio (null for a
    * doc with no segment, which has no pending rows either).
    */
  def segmentDedupStream(docs: DataFrame, indexTable: String,
      storeDir: String, width: Int = 10, segKeptRatioMin: Double = 0.5,
      minJaccard: Double = 0.5,
      queryName: String = "graft_segment_gate",
      checkpointDir: Option[String] = None,
      growEvery: Int = 8,
      compactAbove: Int = 0): StreamingQuery =
    gateStream(docs, "segment gate", indexTable, storeDir, queryName,
        checkpointDir, compactAbove) { (batch, bid, keep) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val b = keep(batch)
      // ONE fused hashing.segmentShingleHashes pass per batch serves probe,
      // rollup AND index growth (VERDICT r14 #8): the meta frame the
      // probe persisted is filtered to kept docs for the append —
      // formerly the batch was segmented + tokenized three times.
      val meta = keep(Dedup.segmentHashFrame(b.select($"doc_id", $"text"), width))
      val pend = pendingBuffer(spark, storeDir, meta.schema)
      // stored index and pending buffer: one exact semi-join each, one
      // shared fuzzy probe over both (Dedup.dedupProbeFrames)
      val storedOrds = Dedup.segmentDeltaOrdsFromMeta(spark, indexTable, meta,
        16, 4, minJaccard, pend.toSeq.map(p =>
          Dedup.bufferIndex(p.select($"ord".as("doc_id"), $"sh"), 16, 4)))
      val pendOrds = pend.fold(spark.emptyDataset[Long].toDF("ord"))(p =>
        meta.join(p.select($"h", $"h2"), Seq("h", "h2"), "left_semi")
          .select($"ord"))
      val ratio = Dedup.segmentNeardupRollup(meta.select($"doc_id", $"ord"),
        storedOrds.unionByName(pendOrds).distinct())
        .select($"doc_id", $"kept_ratio".as("_kr"))
      val kept = b.join(ratio, Seq("doc_id"), "left")
        .filter($"_kr".isNull || $"_kr" >= segKeptRatioMin)
      Trigger(IncrementalIngest.flagFresh(kept, storeDir, bid),
        land = count(when(col(IncrementalIngest.freshCol), 1)),
        grow = count($"_kr"),
        landed = k => IncrementalIngest.landBatch(k.drop("_kr"), storeDir, bid),
        growth = Pending(meta.schema, growEvery,
          k => meta.join(k.filter($"_kr".isNotNull).select($"doc_id"),
            Seq("doc_id"), "left_semi"),
          Dedup.appendSegmentIndexFromMeta(_, indexTable)))
    }

  /** Streaming SUBSTRING-SPAN dedup — the rewrite member of the
    * streaming dedup family (doc gate [[dedupStream]], paragraph gate
    * [[segmentDedupStream]], vector gate [[semanticDedupStream]]):
    * each micro-batch's docs are REWRITTEN as
    * `Dedup.substringRewriteDelta` does — every ≥ k-token run already
    * owned by the stored gram index (or by an earlier occurrence within
    * the batch) is stripped — then land in the store; their own grams
    * grow the index (marker-guarded) so batch N+1's copies of batch N's
    * text are stripped too. Docs are never dropped here; a downstream
    * quality gate owns docs gutted below its floor.
    *
    * Idempotence: rewrite-before-grow means a REPLAYED batch's text
    * would be stripped against its own grams — so unlike the gates,
    * the store append must be once-per-batch-id:
    * [[graft.sources.IncrementalIngest.appendBatch]]'s content-hash
    * dedup cannot help (the replay's rewritten text differs), hence
    * the gates' write-once landing ([[landOnce]]).
    */
  def substringDedupStream(docs: DataFrame, indexTable: String,
      storeDir: String, k: Int = 20,
      queryName: String = "graft_substring_gate",
      checkpointDir: Option[String] = None,
      compactAbove: Int = 0): StreamingQuery =
    gateStream(docs, "substring gate", indexTable, storeDir, queryName,
        checkpointDir, compactAbove) { (batch, bid, keep) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val b = keep(batch)
      val (rewritten, grams) = Dedup.substringRewriteIn(spark, indexTable,
        b.select($"doc_id", $"text"), k, keep)
      Trigger(b.drop("text")
          .join(rewritten.select($"doc_id", $"cleaned".as("text")), Seq("doc_id")),
        land = count(lit(1)), grow = count(lit(1)),
        landed = _.write.mode(SaveMode.Overwrite).parquet(s"$storeDir/$bid.parquet"),
        // grow from the ORIGINAL batch text's grams, kept by the probe:
        // the keeper copy of a novel run survives the rewrite and must be
        // indexed; using b (not the rewrite) also keeps a replay's grams
        // identical
        growth = Marked(_ => Dedup.writeGrams(grams, indexTable, SaveMode.Append)))
    }

  /** Streaming SEMANTIC dedup gate — [[dedupStream]]'s contract for
    * embedding batches: each micro-batch is probed with
    * `Dedup.semanticDelta` against the stored bucket-partitioned vector
    * index (multi-probe bucket addressing, corpus never re-bucketed),
    * vectors with a ≥ `minCos` match are gated, novel vectors land in
    * the parquet store and GROW the index by map-only bucket assignment
    * so later batches dedup against everything that came before.
    *
    * Same idempotence story as dedupStream: the store lands once per
    * batch id ([[landOnce]]); index growth is marker-guarded per batch
    * id; a replay after partial failure re-appends, leaving at worst
    * duplicate index rows that semanticDelta collapses; probe-before-grow
    * gates a replayed batch's vectors against themselves — after a
    * partial index append the replayed kept set SHRINKS, hence the
    * write-once landing. The stored-index probe runs once per trigger:
    * the trigger's checkpoint holds the kept vectors that the store
    * write and the index append both read.
    *
    * `planes` MUST match the value the index was written with — a
    * mismatched plane count produces signatures from a different bit
    * space that silently never match (near-zero recall, no error). The
    * default 0 resolves it from the index's own `_vecmeta` sidecar
    * (written by writeSemanticIndex, r15), read once per trigger and
    * passed to both the probe and the growth append, so the two agree by
    * construction; an explicit value pins it for pre-sidecar indexes.
    *
    * Under an `audit` (the q39 embeddings block as an admission gate),
    * degenerate vectors — NULL components (crash typed training),
    * non-finite, zero, ragged — dead-letter per batch id with their tags
    * ([[admit]]) and only the clean vectors reach the probe.
    */
  def semanticDedupStream(vectors: DataFrame, indexTable: String,
      storeDir: String, minCos: Double = 0.99,
      planes: Int = 0, nprobe: Int = 3,
      queryName: String = "graft_semantic_gate",
      checkpointDir: Option[String] = None,
      compactAbove: Int = 0,
      audit: Option[AdmissionChecks] = None): StreamingQuery =
    gateStream(vectors, "semantic gate", indexTable, storeDir, queryName,
        checkpointDir, compactAbove) { (batch, bid, keep) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val b = audit.fold(keep(batch))(admit(batch, bid, storeDir, _, keep)._1)
      val p = Dedup.storedPlanes(spark, indexTable, planes)
      val dupIds = Dedup.semanticDelta(spark, indexTable, b,
          planes = p, nprobe = nprobe, minCos = minCos)
        .select($"new_id".as("vec_id")).distinct()
      Trigger(b.join(dupIds, Seq("vec_id"), "left_anti"),
        land = count(lit(1)), grow = count(lit(1)),
        landed = _.write.mode(SaveMode.Overwrite).parquet(s"$storeDir/$bid.parquet"),
        growth = Marked(kept => Dedup.appendSemanticIndex(
          kept.select($"vec_id", $"embedding"), indexTable, planes = p)))
    }

  /** File-source ingest: watch a directory for new parquet drops (the
    * streaming form of the reference's "scan the download folder each run"
    * loop), quality-gate + enrich each file incrementally, append to a
    * parquet sink. Exactly-once per file via the checkpoint; `maxFilesPerTrigger`
    * bounds micro-batch size so one giant drop can't stall the query.
    */
  def fileIngest(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, sourceWhitelist: DataFrame,
      minChars: Int = 10,
      audit: Option[AdmissionChecks] = None): StreamingQuery = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
    val gated = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 4)
      .parquet(inDir)
      .filter(length($"text") >= minChars)
      // stream-static broadcast join: enrichment lookups never shuffle the stream
      .join(broadcast(sourceWhitelist), Seq("source"), "left_semi")
      .withColumn("content_hash", sha2($"text", 256))
    audit match {
      case Some(checks) =>
        // audit-then-admit mode (verdict r16 #5): violating rows are
        // dead-lettered per batch, clean rows land via the content-hash-
        // deduped store append (which ALSO keys the batch file by id), so
        // foreachBatch's at-least-once delivery stays exactly-once-
        // equivalent — replays rewrite the same DLQ file and admit 0 rows
        gated.writeStream
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", checkpointDir)
          .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
            auditAndLand(batch.toDF(), f"batch$batchId%06d", outDir, checks)
            ()
          }
          .start()
      case None =>
        gated.writeStream
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", checkpointDir)
          .start(outDir)
    }
  }

  /** Stream-stream interval join: each purchase matched to the same user's
    * views in the preceding hour. Both sides watermarked so the join state
    * is purged once the interval can no longer match — bounded state, the
    * streaming analog of the e04 as-of shape.
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id"))
      .withWatermark("purchase_ts", "1 hour")
    p.join(v,
      expr("""p_user = v_user AND
              view_ts <= purchase_ts AND
              view_ts > purchase_ts - INTERVAL 1 HOUR"""))
      .select(col("p_user").as("user_id"), col("event_id"),
        col("purchase_ts"), col("view_ts"))
  }

  /** Left-outer form of [[viewPurchaseJoin]]: every view emits exactly
    * once — joined to each purchase it preceded within the hour, or,
    * once BOTH watermarks have passed the view's join horizon
    * (view_ts + 1h), as an explicit null-purchase row: the
    * "did not convert" record attribution funnels need, produced by the
    * engine's state eviction itself rather than a batch reconciliation
    * pass. State stays bounded exactly like the inner join (a view can
    * be dropped the moment no future purchase could match it); the
    * null-side emission is deferred, not the matches — matched rows
    * still stream out per micro-batch.
    */
  def viewPurchaseJoinLeftOuter(views: DataFrame,
      purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
      expr("""v_user = p_user AND
              view_ts <= purchase_ts AND
              view_ts > purchase_ts - INTERVAL 1 HOUR"""),
      "leftOuter")
      .select(col("v_user").as("user_id"), col("view_ts"),
        col("event_id"), col("purchase_ts"))
  }

  private val dayMs = 86400000L

  /** Streaming CUSUM level-shift detection — the on-arrival form of
    * Events.cusumChangepoint (e14). The batch operator profiles mu/sd
    * from the full history it can see; a stream cannot, so this takes the
    * reference profile as an argument (the production pattern: profile
    * trained offline on history, detector folds the live feed). Per
    * event_type the state holds the open day buckets plus (S⁺, S⁻); when
    * the watermark passes a day's end the day is closed IN DAY ORDER
    * through the Page recursion S⁺ = max(0, S⁺ + z − k),
    * S⁻ = max(0, S⁻ − z − k) — the recursion the batch form re-expresses
    * as prefix-sum-minus-running-min — and one row per closed (type, day)
    * is emitted. Late events inside the watermark merge into their open
    * bucket; beyond it Spark drops them before they reach state. State
    * per key is O(watermark horizon in days), the accumulators are two
    * doubles — bounded at any scale; types partition the stream so the
    * detector fans out with the cluster.
    */
  def cusumStream(events: Dataset[Ev], profile: Map[String, (Double, Double)],
      k: Double = 0.5, h: Double = 4.0,
      watermarkDelay: String = "1 day"): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    def closeDays(typ: String, st: CusumState, watermarkMs: Long,
        out: scala.collection.mutable.ArrayBuffer[CusumOut]): CusumState = {
      val (mu, sd) = profile.getOrElse(typ, (0.0, 0.0))
      var (sPos, sNeg) = (st.sPos, st.sNeg)
      val (closable, open) = st.openDays.partition {
        case (day, _) => (day + 1) * dayMs <= watermarkMs
      }
      closable.toSeq.sortBy(_._1).foreach { case (day, n) =>
        val z = if (sd > 0) (n - mu) / sd else 0.0
        sPos = math.max(0.0, sPos + z - k)
        sNeg = math.max(0.0, sNeg - z - k)
        out += CusumOut(typ, new java.sql.Date(day * dayMs), n,
          math.round(sPos * 1e4) / 1e4, math.round(sNeg * 1e4) / 1e4,
          sPos > h || sNeg > h)
      }
      CusumState(open, sPos, sNeg)
    }
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (typ: String, evs: Iterator[Ev], state: GroupState[CusumState]) =>
          val wm = state.getCurrentWatermarkMs()
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumOut]
          var st = state.getOption.getOrElse(CusumState(Map.empty, 0.0, 0.0))
          if (!state.hasTimedOut) {
            val add = evs.toSeq.groupBy(e => e.ts.getTime / dayMs)
              .view.mapValues(_.size.toLong).toMap
            st = st.copy(openDays = add.foldLeft(st.openDays) {
              case (m, (day, n)) => m.updated(day, m.getOrElse(day, 0L) + n)
            })
          }
          st = closeDays(typ, st, wm, out)
          // The CUSUM accumulators live forever (that is the detector);
          // only the open-day buckets need a wake-up call. Earliest open
          // day's end is when the watermark can next close something.
          state.update(st)
          if (st.openDays.nonEmpty)
            state.setTimeoutTimestamp((st.openDays.keys.min + 1) * dayMs)
          out.iterator
      }
  }

  val gapUs: Long = 1800L * 1000000L // 30 min, matches Events.sessionize

  /** Gap-based sessionization over a keyed event stream. Events within a
    * batch are processed in ts order; a closed session is emitted as soon
    * as a later event proves the gap — or when the EVENT-TIME TIMEOUT
    * fires, i.e. the watermark has passed the open session's gap horizon.
    * The timeout is what bounds state at scale: an idle user's session is
    * flushed and evicted instead of parking in the state store forever.
    */
  def sessionize(events: Dataset[Ev],
      watermarkDelay: String = "30 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    def close(userId: Long, c: SessionState): SessionOut =
      SessionOut(userId,
        new Timestamp(c.startUs / 1000L), new Timestamp(c.lastUs / 1000L),
        c.n, math.round(c.totalValue * 100).toDouble / 100)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(userId, _)).toList
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.value))
            var cur = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000L
              if (cur == null) {
                cur = SessionState(us, us, 1, e.value)
              } else if (us - cur.lastUs > gapUs) {
                out += close(userId, cur)
                cur = SessionState(us, us, 1, e.value)
              } else {
                cur = SessionState(cur.startUs, us, cur.n + 1, cur.totalValue + e.value)
              }
            }
            if (cur != null) {
              state.update(cur)
              // flush once the watermark proves no in-gap event can arrive
              state.setTimeoutTimestamp(cur.lastUs / 1000L + gapUs / 1000L)
            } else state.remove()
            out.iterator
          }
      }
  }
}
