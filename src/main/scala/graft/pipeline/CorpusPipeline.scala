package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, SelfClean}

/** End-to-end corpus curation: the composed pipeline a training-data user
  * actually runs — quality gate → exact dedup → near-dup removal → language
  * annotation. Each stage is one of the §2 operators; this wires them.
  *
  * Scale shape: the quality gate and annotations are map-only; exact dedup
  * is one shuffle on the content hash; near-dup removal reuses the
  * MinHash-LSH candidate machinery and drops every doc that appears as
  * the later element (doc_b) of a confirmed pair — stricter than
  * connected-component canonical-pick on transitive chains, which is
  * the conservative direction for a training corpus.
  */
object CorpusPipeline {

  case class Config(
      minTokens: Int = 10,
      minStopwordRatio: Double = 0.0,
      nearDupJaccard: Double = 0.8,
      // Star-link oversized LSH buckets against their min-id
      // representative instead of dropping them (Dedup.minhashPairs
      // oversizedLink). Default ON for curation: r11 measured
      // (CHANGELOG.md) drop mode passing 97% of a hot near-identical
      // template family (144/5000 flagged) while star mode flags
      // 5000/5000 AND runs faster (SURVEY §7.10) — exactly the mass
      // curation exists to kill.
      nearDupStarMode: Boolean = true)

  /** Returns the curated corpus with per-doc annotations, checkpointed:
    * the exact-deduped frame both later stages read is released before
    * returning ([[SelfClean.releasing]]).
    */
  def curate(documents: DataFrame, cfg: Config = Config()): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._

    // 1. map-only quality gate + annotations
    val scored = documents
      .withColumn("n_tokens", wsTokenCount($"text"))
      .withColumn("stopword_ratio", stopwordRatio($"text"))
      .withColumn("predicted_lang", predictLang(langScores($"text")))
      .withColumn("fingerprint", fingerprint($"text"))
      .filter($"n_tokens" >= cfg.minTokens &&
        $"stopword_ratio" >= cfg.minStopwordRatio)

    // 2. exact dedup: keep min doc_id per content hash. The deduped frame
    // feeds the near-dup pair generation AND the final anti-join, so it
    // is cached — else the regex-heavy scoring scan reruns per use.
    val keeper = scored
      .groupBy(unhex(sha2($"text", 256)).as("_h"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    SelfClean.releasing(
        scored.join(keeper, Seq("doc_id"), "left_semi")) { exactDeduped =>
      // 3. near-dup removal: drop any doc appearing as the LATER element
      // (doc_b) of a confirmed pair. On a transitive chain A~B, B~C with
      // A≁C this also drops C (whose only match, B, was itself dropped) —
      // stricter than connected-component canonical-pick, the conservative
      // bias a training corpus wants (never keeps both ends of a chain).
      val nearDupLosers = Dedup
        .minhashPairs(exactDeduped.select($"doc_id", $"text"),
          minJaccard = cfg.nearDupJaccard, oversizedLink = cfg.nearDupStarMode)
        .select($"doc_b".as("doc_id")).distinct()
      exactDeduped.join(nearDupLosers, Seq("doc_id"), "left_anti")
    }
  }

  /** Corpus-level curation report. */
  def report(raw: DataFrame, curated: DataFrame): DataFrame = {
    val s = raw.sparkSession
    import s.implicits._
    val nRaw = raw.count()
    val agg = curated.agg(
      count(lit(1)).as("n_curated"),
      sum($"n_tokens").as("total_tokens"),
      countDistinct($"predicted_lang").as("n_langs"))
    agg.withColumn("n_raw", lit(nRaw))
      .withColumn("kept_ratio",
        round($"n_curated".cast("double") / $"n_raw", 4))
  }

  def run(s: SparkSession, dir: String): DataFrame =
    curate(Tables.documents(s, dir))

  // ------------------------------------------------------------------
  // p07: the full modern curation DAG — the FineWeb/Dolma production
  // shape, chaining the §2 stages end-to-end with a per-stage kill-rate
  // waterfall:
  //   d01 exact → d18b segment near-dup → d02 MinHash near-dup →
  //   d12-style semantic dedup → d16 decontaminate → t22 Gopher +
  //   t20 classifier quality → t23 PII redact → p04 temperature mix →
  //   p02 sequence pack → p06 epoch shuffle.
  // Every stage is an existing operator's `...Of` core; this file only
  // wires them and counts the waterfall.
  // ------------------------------------------------------------------

  /** Knobs for [[curateFull]]. Defaults fit the synthetic test corpus
    * (docs of 10–99 words); a production run would retune the quality
    * gates, not the shape.
    */
  case class FullConfig(
      // Some(k): insert d19 between d01 and d18b — every later copy of
      // a >= k-token verbatim run is REMOVED from the text (Lee et al.
      // 2022 substring dedup; rewrites like t23, kills nothing itself —
      // docs gutted below minWords die at the quality gate)
      substringK: Option[Int] = None,
      segWidth: Int = 10,
      segKeptRatioMin: Double = 0.5,
      nearDupJaccard: Double = 0.5,
      nearDupBands: Int = 16,
      nearDupRows: Int = 4,
      maxBucket: Int = 64,
      // see Config.nearDupStarMode — default ON for the same r11 skew
      // evidence (drop mode silently passes hot-template near-dup mass)
      nearDupStarMode: Boolean = true,
      // 0 = corpus-derived via Dedup.scaledPlanes at the semantic
      // stage's input count (8 at test scale, grows with the corpus —
      // VERDICT r14 #1); explicit values pin the partition
      semPlanes: Int = 0,
      semDim: Int = 64,
      semMinCos: Double = 0.9,
      semMaxBucket: Int = 512,
      // Route over-cap semantic buckets to a per-bucket canonical pick
      // (min-id keeps, rest drop) instead of exempting them from dedup
      // entirely. Default ON for the same reason nearDupStarMode is:
      // the pair stage's eligibility cap silently PASSES every member
      // of a bucket past semMaxBucket — at corpus-scaled planes that is
      // precisely the degenerate hot-template mass curation exists to
      // kill (r15, CHANGELOG.md: 77–89% of a 200k clustered corpus sits
      // over-cap, and canonical routing covers it 3–4× faster than any
      // pair form because giant clusters never expand into pairs).
      semOversizedCanonical: Boolean = true,
      minWords: Int = 20,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      minStopKinds: Int = 2,
      minQualityProb: Double = 0.5,
      mixAlpha: Double = 0.5,
      mixBudget: Long = 100000L,
      packBudget: Int = 512,
      packShards: Int = 8,
      epoch: Int = 1,
      epochShards: Int = 16)

  /** Everything [[curateFull]] produces: the curated doc set (with the
    * PII-redacted text), the packed sequences, the epoch-1 schedule over
    * those sequences, and the per-stage waterfall
    * (stage_ord, stage, n_in, n_out, n_killed, kill_rate).
    */
  case class CurationResult(docs: DataFrame, packed: DataFrame,
      schedule: DataFrame, waterfall: DataFrame)

  /** Deterministic feature-hashed bag-of-words doc vectors (the hashing
    * trick): token → one of `dim` buckets by xxhash64, ±1 sign by a
    * second hash, summed per bucket. Cosine over these is unigram-
    * distribution similarity — the doc-granular stand-in for a model
    * embedding that keeps the semantic stage runnable (and bit-stable)
    * on a text-only corpus. ZERO shuffles: the whole vector is document-
    * local, so it's one codegen'd pass per row
    * ([[org.apache.spark.sql.graft.hashing.hashedBowVector]], bit-identical to
    * the explode → double-groupBy form it replaces, whose token-stream
    * exchanges were the t11-class disease inside the semantic stage).
    */
  private[graft] def hashedDocVectors(docs: DataFrame, dim: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id".as("vec_id"),
      org.apache.spark.sql.graft.GraftFunctions
        .hashed_bow_vector($"text", dim).as("v"))
  }

  /** The curation DAG's stage log: each stage is materialized and
    * counted through [[staged]], and the (stage, n_in, n_out, seconds)
    * rows become the waterfall. Both DAG forms run through one.
    */
  private final class Stages(planHook: Option[(String, DataFrame) => Unit]) {
    private val rows =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Double)]

    /** p00: the input, materialized and counted (it kills nothing). */
    def raw(df: DataFrame): (DataFrame, Long) = {
      val t0 = System.nanoTime()
      val p = df.localCheckpoint()
      val n = p.count()
      rows += (("p00_raw", n, n, (System.nanoTime() - t0) / 1e9))
      (p, n)
    }

    // Eager localCheckpoint between stages, not persist(): each stage's
    // lineage collapses to a materialized-RDD leaf, so (a) downstream
    // plans — whose dedup loser sides reference the parent 2–4× — stay
    // O(stage) instead of compounding ~3× per stage (exponential plan
    // trees stall the driver in Catalyst/plan-string work long before any
    // task runs), and (b) a failed stage N retry re-reads stage N-1's
    // blocks, not the whole upstream DAG. A production run on a real
    // cluster would make the same cut reliably (checkpoint dir or an
    // intermediate table per stage); the count() doubles as the stage's
    // kill-rate measurement. `df` is by name so a self-cleaning stage
    // operator (which materializes eagerly) runs inside the stage's
    // clock; planHook still sees the frame before it materializes.
    def staged(name: String, nIn: Long, df: => DataFrame): (DataFrame, Long) = {
      val t0 = System.nanoTime()
      val frame = df
      planHook.foreach(h => h(name, frame))
      val p = frame.localCheckpoint()
      val n = p.count()
      rows += ((name, nIn, n, (System.nanoTime() - t0) / 1e9))
      (p, n)
    }

    // stage_sec: per-stage materialization wall — the variance/runtime
    // profile travels WITH the waterfall (VERDICT r12 #4). Additive
    // column; the correctness row is rows-only so timing nondeterminism
    // is fine.
    def waterfall(s: SparkSession): DataFrame = {
      val wf = rows.toSeq.zipWithIndex.map { case ((name, nIn, nOut, sec), i) =>
        (i, name, nIn, nOut, nIn - nOut,
          if (nIn == 0) 0.0
          else math.rint((nIn - nOut).toDouble / nIn * 1e6) / 1e6,
          math.rint(sec * 1000) / 1000)
      }
      s.createDataFrame(wf)
        .toDF("stage_ord", "stage", "n_in", "n_out", "n_killed", "kill_rate",
          "stage_sec")
        .orderBy("stage_ord")
    }
  }

  /** The substring stage's output: each doc with its rewritten text
    * (`rewritten` is (doc_id, cleaned)).
    */
  private def withCleaned(docs: DataFrame, rewritten: DataFrame): DataFrame =
    docs.join(rewritten, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("cleaned"), col("text")).as("text"))

  /** The semantic stage's within-batch losers over (vec_id, v) doc
    * vectors, as `doc_id`s.
    */
  private def semanticLosers(vecs: DataFrame, planes: Int,
      cfg: FullConfig): DataFrame =
    Dedup.semanticLosersOf(vecs, planes, cfg.semDim, cfg.semMinCos,
        cfg.semMaxBucket, cfg.semOversizedCanonical)
      .select(col("vec_id").as("doc_id"))

  /** The full curation DAG. `benchmark` is the held-out eval set the
    * decontamination stage guards (any frame with a `text` column).
    *
    * Stage-by-stage scale shape (each is the already-audited §2
    * operator): exact dedup is one shuffle on the content hash; segment
    * near-dup is d18b's exact-first banding over segment digests;
    * doc near-dup is d02's capped LSH; the semantic gate runs d11's
    * bucket/verify over [[hashedDocVectors]]; decontamination is d16's
    * Bloom pre-filter; both quality gates and the PII pass are map-only;
    * the mixture stage applies p04's temperature weights as a hash-
    * threshold Bernoulli downsample (p_i = min(1, budget·w_i/Z/n_i) —
    * map-only against a broadcast |sources|-row table, NOT a per-source
    * rank window, so no low-cardinality parallelism ceiling); packing
    * and the epoch schedule are p02/p06 over the survivors.
    *
    * Kill-rate accounting: each doc-set stage checkpoints its output
    * and counts it once (the count doubles as the materialization the
    * next stage reads). The pack row changes granularity — its n_out is
    * SEQUENCES, not documents — and the PII row kills nothing by
    * construction (it rewrites text). Every stage operator is
    * self-cleaning, so the run leaves nothing cached behind.
    *
    * With `stateTable = Some(t)`, [[curateFull]] also persists each
    * dedup stage's reference state — the stage INPUTS, which is what a
    * later [[curateDelta]] must compare against to reproduce the batch
    * verdicts (a corpus doc killed by the quality gate still owned its
    * content hash at the d01 stage):
    *
    *  - `<t>_docdigests`: unhex(sha2(text)) — 32-byte binary — of every
    *    raw doc (d01's input); binary because the digest is internal
    *    (store + semi-join key only) and hex would double its bytes;
    *  - `<t>_sub_grams` (when cfg.substringK is set): distinct rolling
    *    k-gram fingerprints of the d01 survivors (d19's input);
    *  - `<t>_seg_{segdigests,bands,shingles}`: segment-keeper index
    *    over the substring-stage output (d18b's input);
    *  - `<t>_doc_{bands,shingles}`: doc minhash index over the
    *    segment-stage survivors (d02's input);
    *  - `<t>_sem_vecs`: hashed-BoW vectors of the d02 survivors
    *    (d12's input), hyperplane-bucketed.
    */
  def curateFull(documents: DataFrame, benchmark: DataFrame,
      cfg: FullConfig = FullConfig(),
      stateTable: Option[String] = None,
      // invoked with (stage name, stage output frame) BEFORE the stage
      // materializes — lets Plans dump every stage's physical plan
      // without re-running the pipeline (p07's queries entry is eager by
      // design; this is the plan-review hook for its internals)
      planHook: Option[(String, DataFrame) => Unit] = None): CurationResult = {
    val s = documents.sparkSession
    import s.implicits._
    val st = new Stages(planHook)
    val (raw, nRaw) = st.raw(documents.select($"doc_id", $"source", $"text"))
    stateTable.foreach { t =>
      raw.select(unhex(sha2($"text", 256)).as("h"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(8, "h").sortBy("h")
        .format("parquet").saveAsTable(s"${t}_docdigests")
    }

    // d01: exact dedup, keep min doc_id per content hash.
    val keeper = raw
      .groupBy(unhex(sha2($"text", 256)).as("_h"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val (exact, nExact) =
      st.staged("d01_exact", nRaw, raw.join(keeper, Seq("doc_id"), "left_semi"))

    // d19 (optional): exact substring-span dedup — REWRITES text (later
    // copies of >= k-token runs removed), kills nothing itself; the
    // quality gate downstream owns gutted docs. All later stages read
    // the cleaned text.
    val (afterSub, nSub) = cfg.substringK match {
      case None => (exact, nExact)
      case Some(kk) =>
        stateTable.foreach(t => Dedup.writeSubstringIndex(
          exact.select($"doc_id", $"text"), s"${t}_sub", kk))
        st.staged("d19_substring_dedup", nExact, withCleaned(exact,
          Dedup.substringRewriteOf(exact.select($"doc_id", $"text"), kk)))
    }

    // d18b: drop docs that are mostly duplicated passages (kept_ratio
    // below the floor) — the paragraph-dedup verdict applied doc-level.
    // segmentNeardupFullOf is self-cleaning: its segment caches are
    // freed as soon as its rollup materializes, inside this stage —
    // a persist living to end-of-query would, across bench reps at sf1,
    // stack into the eviction churn behind p07's wall-clock spread.
    stateTable.foreach(t => Dedup.writeSegmentIndex(
      afterSub.select($"doc_id", $"text"), s"${t}_seg", cfg.segWidth,
      bands = cfg.nearDupBands, rows = cfg.nearDupRows,
      maxBucket = cfg.maxBucket))
    val (afterSeg, nSeg) = st.staged("d18_segment_neardup", nSub,
      afterSub.join(Dedup
        .segmentNeardupFullOf(afterSub.select($"doc_id", $"text"),
          cfg.segWidth, cfg.nearDupBands, cfg.nearDupRows, cfg.maxBucket,
          cfg.nearDupJaccard)
        .filter($"kept_ratio" < cfg.segKeptRatioMin)
        .select($"doc_id"), Seq("doc_id"), "left_anti"))

    // d02: whole-doc MinHash near-dup. Drops any doc appearing as the
    // LATER element (doc_b) of a confirmed pair — on transitive chains
    // this over-deletes relative to canonical-pick (see curate()), the
    // conservative direction for a training corpus. Star mode pairs
    // oversized-bucket members against the bucket representative so hot
    // near-identical templates are flagged instead of silently passed.
    stateTable.foreach(t => Dedup.writeDedupIndex(
      afterSeg.select($"doc_id", $"text"), s"${t}_doc",
      bands = cfg.nearDupBands, rows = cfg.nearDupRows,
      maxBucket = cfg.maxBucket))
    val (afterNd, nNd) = st.staged("d02_minhash_neardup", nSeg,
      afterSeg.join(Dedup
        .minhashPairs(afterSeg.select($"doc_id", $"text"),
          cfg.nearDupBands, cfg.nearDupRows, cfg.maxBucket,
          cfg.nearDupJaccard, oversizedLink = cfg.nearDupStarMode)
        .select($"doc_b".as("doc_id")).distinct(), Seq("doc_id"), "left_anti"))

    // d12-style semantic gate over hashed doc vectors; same
    // drop-the-later-element policy as the d02 stage. Over-cap buckets
    // route to a per-bucket canonical pick (semOversizedCanonical) —
    // the semantic twin of the d02 stage's star mode: without it every
    // vector in a bucket past semMaxBucket is EXEMPT from dedup, the
    // leak the d02 stage runs star mode to close.
    val semPlanes = if (cfg.semPlanes > 0) cfg.semPlanes
      else Dedup.scaledPlanes(nNd, cfg.semMaxBucket)
    val (afterSem, nSem) = st.staged("d12_semantic_dedup", nNd,
      afterNd.join(semanticLosers(hashedDocVectors(afterNd, cfg.semDim),
        semPlanes, cfg), Seq("doc_id"), "left_anti"))
    stateTable.foreach(t => Dedup.writeSemanticIndex(
      hashedDocVectors(afterNd, cfg.semDim)
        .select($"vec_id", $"v".as("embedding")),
      s"${t}_sem", planes = semPlanes, maxBucket = cfg.semMaxBucket))

    curationTail(st, afterSem, nSem, benchmark, cfg)
  }

  /** d16 → p06 and the waterfall: the stateless, per-run stages both
    * [[curateFull]] and [[curateDelta]] end with.
    */
  private def curationTail(st: Stages, afterSem: DataFrame, nSem: Long,
      benchmark: DataFrame, cfg: FullConfig): CurationResult = {
    val s = afterSem.sparkSession
    import s.implicits._
    // d16: Bloom-gated decontamination against the benchmark.
    val contaminated = DocumentPipeline
      .decontaminateBloomAgainst(afterSem.select($"doc_id", $"text"), benchmark)
      .filter($"contaminated").select($"doc_id")
    val (afterDecon, nDecon) = st.staged("d16_decontaminate", nSem,
      afterSem.join(contaminated, Seq("doc_id"), "left_anti"))

    // t22 + t20: Gopher heuristics AND the hashed-unigram classifier —
    // ONE map-side filter (r16): both gates are document-local column
    // predicates (the t20 score went map-side with hashing.classifierTokenScore),
    // so the former two-operator → two-semi-join shape paid two doc_id
    // exchanges for predicates the scan can evaluate in place. Same
    // predicates, same survivors, zero shuffles.
    val (afterQ, nQ) = st.staged("t22_t20_quality", nDecon,
      afterDecon.filter(
        DocumentPipeline.gopherKeepCol(cfg.minWords, cfg.maxWords,
          cfg.minMeanWordLen, cfg.maxMeanWordLen, cfg.minStopKinds) &&
        DocumentPipeline.classifierProbCol >= cfg.minQualityProb))

    // t23: PII redaction — rewrites text, kills nothing.
    val (afterPii, nPii) = st.staged("t23_pii_redact", nQ,
      graft.operators.Redact.redactOf(afterQ, "text",
          graft.operators.Redact.corpusRules)
        .select($"doc_id", $"source", $"redacted".as("text")))

    // p04: temperature mixture applied as a hash-threshold Bernoulli
    // downsample at p_i = min(1, budget·n_i^α / Z / n_i).
    val counts = afterPii.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", pow($"n_docs".cast("double"), lit(cfg.mixAlpha)))
    val z = counts.agg(sum($"w").as("z"))
    val pKeep = counts.crossJoin(z)
      .select($"source",
        least(lit(1.0), lit(cfg.mixBudget.toDouble) * $"w" / $"z" / $"n_docs")
          .as("p_keep"))
    val u = conv(substring(md5(concat_ws("@", lit("mix"), $"doc_id")), 1, 15),
      16, 10).cast("double") / lit(math.pow(2.0, 60))
    val (afterMix, nMix) = st.staged("p04_temperature_mix", nPii,
      afterPii.join(broadcast(pKeep), Seq("source"))
        .filter(u < $"p_keep").drop("p_keep"))

    // p02: pack into fixed token-budget sequences (granularity change:
    // n_out is sequences).
    val (packed, nPacked) = st.staged("p02_sequence_pack", nMix,
      DocumentPipeline.sequencePackOf(afterMix, cfg.packBudget,
        cfg.packShards))

    // p06: epoch schedule over the packed sequences.
    val seqKeyed = packed
      .select(concat_ws("/", $"source", $"seq_id").as("doc_id"))
    val (schedule, _) = st.staged("p06_epoch_shuffle", nPacked,
      DocumentPipeline.epochShuffleOf(seqKeyed, cfg.epoch, cfg.epochShards))

    CurationResult(afterPii, packed, schedule, st.waterfall(s))
  }

  /** Incremental p07: run a delta batch through the FULL curation DAG
    * against the state a prior `curateFull(…, stateTable = Some(t))`
    * persisted, at O(delta) cost — the corpus is never rescanned; every
    * stored side joins in its bucketed layout.
    *
    * Verdict parity with the batch run on the union corpus (delta ids
    * above all corpus ids) holds stage by stage: d01 kills a delta doc
    * iff its hash is stored (any raw corpus doc owned it) or an
    * earlier delta doc owns it; d18b/d02/d12 union stored-keeper
    * matches with within-delta flags — identical to the union run's
    * earlier-partner rule — away from two documented divergences:
    * LSH bucket caps are evaluated per side (a bucket straddling the
    * cap only when corpus+delta combine behaves differently), and the
    * p04 mixture recomputes p_keep from DELTA source counts (mixture
    * is inherently a global decision; run it corpus-wide at remix
    * time). Pack/schedule are per-run artifacts over the delta.
    *
    * With `growState` the stage stores absorb the delta afterwards
    * (digests of all raw delta docs; segment/doc/semantic indexes from
    * each stage's survivors — the same stage-input discipline as the
    * initial write), so the next delta dedups against everything seen.
    */
  def curateDelta(delta: DataFrame, benchmark: DataFrame,
      stateTable: String, cfg: FullConfig = FullConfig(),
      growState: Boolean = false): CurationResult = {
    val s = delta.sparkSession
    import s.implicits._
    val st = new Stages(None)
    val (raw, nRaw) = st.raw(delta.select($"doc_id", $"source", $"text"))

    // d01: killed if the hash is stored OR an earlier delta doc owns it
    val hashed = raw.select($"doc_id", unhex(sha2($"text", 256)).as("h"))
    val withinKeeper = hashed.groupBy($"h").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val storedHit = hashed
      .join(s.table(s"${stateTable}_docdigests"), Seq("h"), "left_semi")
      .select($"doc_id")
    val (exact, nExact) = st.staged("d01_exact", nRaw,
      raw.join(withinKeeper, Seq("doc_id"), "left_semi")
        .join(storedHit, Seq("doc_id"), "left_anti"))

    // d19 (optional): stored-gram ∪ within-delta window removal
    val (afterSub, nSub) = cfg.substringK match {
      case None => (exact, nExact)
      case Some(kk) =>
        st.staged("d19_substring_dedup", nExact, withCleaned(exact,
          Dedup.substringRewriteDelta(s, s"${stateTable}_sub",
            exact.select($"doc_id", $"text"), kk)))
    }

    // d18b: stored-keeper ∪ within-delta segment dups, one rollup
    val (afterSeg, nSeg) = st.staged("d18_segment_neardup", nSub,
      afterSub.join(Dedup
        .segmentDelta(s, s"${stateTable}_seg",
          afterSub.select($"doc_id", $"text"), cfg.segWidth, cfg.nearDupBands,
          cfg.nearDupRows, cfg.maxBucket, cfg.nearDupJaccard)
        .filter($"kept_ratio" < cfg.segKeptRatioMin)
        .select($"doc_id"), Seq("doc_id"), "left_anti"))

    // d02: stored-corpus matches (new_id is always the later element —
    // corpus ids precede the delta's) ∪ within-delta pair losers
    val (afterNd, nNd) = st.staged("d02_minhash_neardup", nSeg, {
      val ndLosers = Dedup
        .dedupDeltaPairs(s, s"${stateTable}_doc",
          afterSeg.select($"doc_id", $"text"), cfg.nearDupBands,
          cfg.nearDupRows, cfg.nearDupJaccard)
        .select($"new_id".as("doc_id"))
        .unionByName(Dedup
          .minhashPairs(afterSeg.select($"doc_id", $"text"),
            cfg.nearDupBands, cfg.nearDupRows, cfg.maxBucket,
            cfg.nearDupJaccard, oversizedLink = cfg.nearDupStarMode)
          .select($"doc_b".as("doc_id")))
        .distinct()
      afterSeg.join(ndLosers, Seq("doc_id"), "left_anti")
    })

    // d12: stored-vector matches ∪ within-delta losers. Within-delta
    // pairing sizes planes to the DELTA (small → floor 8); the
    // stored-index probe at planes=0 reads the partition the index was
    // WRITTEN with from its _vecmeta sidecar — probe and store must
    // agree even when the full DAG derived a bigger value. Within-delta
    // over-cap buckets route to canonical, same as the batch DAG; the
    // cap stays per-side (the documented LSH-cap divergence — a bucket
    // over-cap only when corpus+delta combine is handled at the side
    // that sees it).
    val semPlanes = if (cfg.semPlanes > 0) cfg.semPlanes
      else Dedup.scaledPlanes(nNd, cfg.semMaxBucket)
    val (afterSem, nSem) = st.staged("d12_semantic_dedup", nNd, {
      val vecs = hashedDocVectors(afterNd, cfg.semDim).localCheckpoint()
      val semLosers = Dedup
        .semanticDelta(s, s"${stateTable}_sem",
          vecs.select($"vec_id", $"v".as("embedding")),
          planes = cfg.semPlanes, minCos = cfg.semMinCos)
        .select($"new_id".as("doc_id"))
        .unionByName(semanticLosers(vecs, semPlanes, cfg))
        .distinct()
      afterNd.join(semLosers, Seq("doc_id"), "left_anti")
    })

    val result = curationTail(st, afterSem, nSem, benchmark, cfg)

    if (growState) {
      raw.select(unhex(sha2($"text", 256)).as("h"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(8, "h").sortBy("h")
        .format("parquet").saveAsTable(s"${stateTable}_docdigests")
      cfg.substringK.foreach(kk => Dedup.writeSubstringIndex(
        exact.select($"doc_id", $"text"), s"${stateTable}_sub", kk,
        mode = org.apache.spark.sql.SaveMode.Append))
      Dedup.appendSegmentIndex(afterSub.select($"doc_id", $"text"),
        s"${stateTable}_seg", cfg.segWidth,
        bands = cfg.nearDupBands, rows = cfg.nearDupRows)
      Dedup.appendDedupIndex(afterSeg.select($"doc_id", $"text"),
        s"${stateTable}_doc",
        bands = cfg.nearDupBands, rows = cfg.nearDupRows)
      Dedup.appendSemanticIndex(
        hashedDocVectors(afterNd, cfg.semDim)
          .select($"vec_id", $"v".as("embedding")),
        s"${stateTable}_sem", planes = cfg.semPlanes)
    }
    result
  }

  /** p07 `queries` entry: run [[curateFull]] over the dir's documents
    * (benchmark = the d06/d16 doc_id < 5 convention) and return the
    * waterfall. Rows-only in the driver gate (the DAG composes hash-
    * seeded LSH stages); CorpusPipelineSpec pins stage semantics with
    * planted kills.
    */
  def curationDag(s: SparkSession, dir: String,
      cfg: FullConfig = FullConfig()): DataFrame = {
    val docs = Tables.documents(s, dir)
    curateFull(docs.filter(col("doc_id") >= 5),
      docs.filter(col("doc_id") < 5), cfg).waterfall
  }
}
