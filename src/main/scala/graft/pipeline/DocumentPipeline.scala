package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Document-pipeline operators over the `documents` table (SURVEY.md §2
  * q08–q12, t01–t04).
  *
  * Re-expresses the reference's per-document Python loops as single-pass
  * codegen'd projections: regex info extraction
  * (extract_document_info.py:30-232), keyword reduction
  * (keyword_reduction.py:45-77), keyword document-frequency
  * (KeywordsPage.jsx:33-72), per-agency rollups
  * (generate_website_data.py:308-326).
  *
  * Scale notes: extraction/scoring queries are shuffle-free map-only scans
  * (perfectly parallel at 100 TB); keyword queries shuffle once on the
  * token; the reduction mapping table is broadcast.
  */
object DocumentPipeline {

  /** q08: regex metadata extraction + prioritized classification.
    * One projection pass; every expression codegen'd.
    * Reference: extract_document_title's prioritized pattern list and
    * boolean SIR classifier (extract_document_info.py:68-148,192-211).
    */
  /** The q08 document-type rules as an ordered mapping table (the
    * reference's prioritized pattern list, extract_document_info.py:68-148
    * — data a user edits, not hard-coded CASE branches).
    */
  val docTypeRules: Seq[(Int, String, String)] = Seq(
    (1, "\\bstream\\b", "streaming"),
    (2, "\\bwindow\\b", "windowed"),
    (3, "\\bjoin\\b", "join"),
    (4, "\\bagg\\b", "aggregation"))

  def docExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = docTypeRules.toDF("priority", "pattern", "label")
    graft.operators.PatternClassifier
      .classify(Tables.documents(s, dir), "text", rules)
      .select(
        $"doc_id",
        $"doc_type",
        nullif(regexp_extract($"text", "\\bkey (\\w+)", 1), lit("")).as("first_key_arg"),
        $"text".rlike("\\bdup\\b").as("has_dup_mention"),
        matchCount($"text", "\\bspark\\b").as("spark_mentions"))
      .orderBy($"doc_id")
  }

  val docExtractSql: String =
    """SELECT doc_id,
      |  CASE
      |    WHEN regexp_matches(text, '\b(stream)\b') THEN 'streaming'
      |    WHEN regexp_matches(text, '\b(window)\b') THEN 'windowed'
      |    WHEN regexp_matches(text, '\b(join)\b') THEN 'join'
      |    WHEN regexp_matches(text, '\b(agg)\b') THEN 'aggregation'
      |    ELSE 'other'
      |  END AS doc_type,
      |  nullif(regexp_extract(text, '\bkey (\w+)', 1), '') AS first_key_arg,
      |  regexp_matches(text, '\b(dup)\b') AS has_dup_mention,
      |  len(regexp_extract_all(text, '\bspark\b')) AS spark_mentions
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** q09: JSON-ish field extraction from a string payload column
    * (reference flattens nested API JSON, pull_agency_info_api.py:81-128).
    * Extraction stays codegen'd; agg is partial-aggregatable.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type",
        regexp_extract($"props", "\"k\": ([0-9]+)", 1).cast("int").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(avg($"k") + lit(1e-9), 4).as("avg_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val jsonExtractSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(avg(try_cast(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)) + 1e-9, 4) AS avg_k,
      |  min(try_cast(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)) AS min_k,
      |  max(try_cast(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)) AS max_k
      |FROM __events__ events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q33: true nested-JSON flattening — the reference's API-response
    * shape (pull_agency_info_api.py:199-241): one JSON document per
    * agency with the content records nested as a list of dicts at
    * returnValue.contentVersionRes, flattened to one row per record with
    * the parent agency fields carried along. Exercises Spark's JSON
    * struct machinery end-to-end: from_json with an explicit DDL schema,
    * nested struct-field projection, explode of the array-of-struct.
    * The payload column is assembled from the documents table (stand-in
    * for the HTTP response body, which SURVEY §1 scopes out as I/O); the
    * oracle checks round-trip identity — flattening must recover exactly
    * the records that went in.
    * Scale: parse + explode are map-only and codegen'd; payloads are
    * bounded per API response by construction, so the explode fan-out is
    * bounded per row. One shuffle for the assembly groupBy; none for the
    * flatten itself.
    */
  def nestedJsonFlatten(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val payloads = Tables.documents(s, dir)
      .filter($"doc_id" < 200)
      .groupBy($"source")
      .agg(to_json(struct(
        struct($"source".as("name"), count(lit(1)).as("n_docs")).as("agency"),
        struct(sort_array(collect_list(struct(
          $"doc_id".as("Id"),
          concat(lit("doc-"), $"doc_id").as("Title"),
          upper($"lang").as("FileExtension"),
          $"n_chars".as("n_chars")))).as("contentVersionRes")).as("returnValue")))
        .as("payload"))
      .select($"payload")
    val schema = "agency STRUCT<name: STRING, n_docs: BIGINT>, " +
      "returnValue STRUCT<contentVersionRes: ARRAY<STRUCT<" +
      "Id: BIGINT, Title: STRING, FileExtension: STRING, n_chars: BIGINT>>>"
    payloads
      .select(from_json($"payload", schema, Map.empty[String, String]).as("j"))
      .select($"j.agency.name".as("agency_name"),
        $"j.agency.n_docs".as("agency_n_docs"),
        explode($"j.returnValue.contentVersionRes").as("rec"))
      .select($"agency_name", $"agency_n_docs",
        $"rec.Id".as("content_id"), $"rec.Title".as("title"),
        $"rec.FileExtension".as("file_ext"), $"rec.n_chars".as("n_chars"))
      .orderBy($"agency_name", $"content_id")
  }

  val nestedJsonFlattenSql: String =
    """WITH base AS (
      |  SELECT source, doc_id, lang, n_chars FROM documents WHERE doc_id < 200),
      |agency AS (SELECT source, count(*)::BIGINT AS n FROM base GROUP BY source)
      |SELECT b.source AS agency_name, a.n AS agency_n_docs,
      |  b.doc_id AS content_id, 'doc-' || b.doc_id AS title,
      |  upper(b.lang) AS file_ext, b.n_chars AS n_chars
      |FROM base b JOIN agency a ON b.source = a.source
      |ORDER BY agency_name, content_id""".stripMargin

  /** p02: sequence packing — the concat-and-chunk layout step of an LLM
    * training pipeline: documents are concatenated in a deterministic
    * order and cut into fixed token-budget sequences; a doc belongs to
    * the sequence its first token lands in, and boundary-crossers are
    * counted (they cost truncation/attention-mask complexity downstream).
    * Per-sequence rollup: doc count, token count, boundary-crossers.
    *
    * Scale: the pack group is (source, shard), NOT source alone — a
    * per-source prefix-sum window funnels the whole corpus through
    * |sources| reducers. The shard is a pure function of doc_id (md5,
    * engine-portable like p03's split), so the concat order
    * (source, shard, doc_id) is deterministic and re-shard-stable, and
    * no window partition outgrows an executor. The global token offset
    * is two-pass: (1) a local prefix sum within each (source, shard);
    * (2) per-shard token totals — a tiny |sources|×shards aggregate —
    * cumulated into base offsets and broadcast back. seq_id is then
    * globally consistent with packing the full (source, shard, doc_id)
    * concatenation order; sequences may span shard boundaries exactly as
    * they would in the unsharded concat. One bounded window per shard +
    * one partial-agg shuffle for the rollup.
    */
  def sequencePack(s: SparkSession, dir: String, budget: Int = 512,
      shards: Int = 8): DataFrame =
    sequencePackOf(Tables.documents(s, dir), budget, shards)

  /** p02's shard assignment: uniform in [0, 65536) and bit-for-bit
    * reproducible in the DuckDB oracle (same pattern as p03's split
    * hash). Shared by p02's packer and m05's decode-pack, so both shard
    * a corpus the same way.
    */
  def packShard(shards: Int): org.apache.spark.sql.Column =
    (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % shards).cast("int")

  /** Core of p02 over any (doc_id, source, text) frame. `tokenCount`:
    * the per-document token-count column the budget packs against.
    * Default is the oracled whitespace count; pass `Bpe`-backed counting
    * (see [[sequencePackBpe]]) to make budgets production-true against a
    * trained tokenizer (VERDICT r14 #5) — the packing plan is identical
    * either way (the counter is one map-side codegen'd expression).
    * Self-cleaning ([[graft.operators.SelfClean.releasing]]): the
    * sequence rollup (one row per packed sequence) is checkpointed and
    * the token-count cache released before returning.
    */
  def sequencePackOf(documents: DataFrame, budget: Int = 512,
      shards: Int = 8,
      tokenCount: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => org.apache.spark.sql.graft.GraftFunctions
          .space_token_count(c)): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // Persisted (SelfClean.releasing): the tokenize projection feeds BOTH
    // the window pass and the per-shard totals — without the (narrow,
    // 4-column) cache the corpus would be scanned and split() twice.
    graft.operators.SelfClean.releasing(documents
      .select($"doc_id", $"source",
        tokenCount($"text").cast("long").as("n_tokens"),
        packShard(shards).as("shard"))) { docs =>
      // Pass 1: prefix sum local to the (source, shard) pack group.
      val w = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = docs
        .withColumn("local_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      // Pass 2: per-shard totals (|sources|×shards rows) → cumulative base
      // offsets. The window here runs over the tiny aggregate, not the
      // corpus; broadcast is bounded by |sources|×shards by construction.
      val wb = Window.partitionBy($"source").orderBy($"shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bases = docs.groupBy($"source", $"shard")
        .agg(sum($"n_tokens").as("shard_tokens"))
        .withColumn("base", coalesce(sum($"shard_tokens").over(wb), lit(0L)))
        .select($"source", $"shard", $"base")
      local.join(broadcast(bases), Seq("source", "shard"))
        .withColumn("cum_before", $"base" + $"local_before")
        .withColumn("seq_id", floor($"cum_before" / budget).cast("long"))
        .withColumn("crosses",
          floor(($"cum_before" + $"n_tokens" - 1) / budget).cast("long") =!= $"seq_id")
        .groupBy($"source", $"seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("seq_tokens"),
          sum($"crosses".cast("long")).as("n_boundary_crossers"))
        .orderBy($"source", $"seq_id")
    }
  }

  /** [[sequencePackOf]] budgeting by TRAINED-tokenizer counts: packs
    * against [[org.apache.spark.sql.graft.BpeTokenCount]] over the given
    * merge table (train one with `operators.Bpe.trainMerges`) instead of
    * the whitespace approximation — same plan, production-true budgets.
    */
  def sequencePackBpe(documents: DataFrame,
      merges: Seq[(String, String)], budget: Int = 512,
      shards: Int = 8): DataFrame =
    sequencePackOf(documents, budget, shards,
      c => org.apache.spark.sql.graft.GraftFunctions.bpe_token_count(c, merges))

  val sequencePackSql: String =
    """WITH d AS (
      |  SELECT source, doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
      |    (('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 8)::INT AS shard
      |  FROM documents),
      |c AS (
      |  SELECT *, coalesce(sum(n_tokens) OVER (
      |    PARTITION BY source, shard ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS local_before
      |  FROM d),
      |b AS (
      |  SELECT source, shard,
      |    coalesce(sum(shard_tokens) OVER (
      |      PARTITION BY source ORDER BY shard
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
      |  FROM (SELECT source, shard, sum(n_tokens) AS shard_tokens
      |        FROM d GROUP BY source, shard)),
      |p AS (
      |  SELECT c.source, c.n_tokens, c.local_before + b.base AS cum_before
      |  FROM c JOIN b ON c.source = b.source AND c.shard = b.shard),
      |q AS (
      |  SELECT *, (cum_before // 512)::BIGINT AS seq_id,
      |    ((cum_before + n_tokens - 1) // 512)::BIGINT != (cum_before // 512)::BIGINT
      |      AS crosses
      |  FROM p)
      |SELECT source, seq_id, count(*) AS n_docs,
      |  sum(n_tokens)::BIGINT AS seq_tokens,
      |  sum(crosses::INT)::BIGINT AS n_boundary_crossers
      |FROM q GROUP BY source, seq_id
      |ORDER BY source, seq_id""".stripMargin

  /** t16: text normalization — the cleanup pass ahead of dedup/scoring:
    * trim + lowercase, then collapse runs of adjacently repeated tokens
    * ("batch batch batch" → "batch", classic boilerplate noise). The
    * collapse (keep token i iff i == 0 or token != previous) is a custom
    * tight-loop expression: a backreference regex is out (RE2-based
    * engines, the DuckDB oracle among them, don't support backrefs) and
    * the indexed-lambda HOF form re-evaluates the token array per element
    * inside the lambda — O(tokens²)/doc, 3.7 s at sf0.1 vs 0.3 s for the
    * expression. Map-only, no shuffle; emits token counts + a digest of
    * the normalized text.
    */
  def normalizeText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = split(trim(lower($"text")), " ")
    val kept = org.apache.spark.sql.graft.GraftFunctions
      .collapse_adjacent_repeats(toks)
    // NULL text null-propagates: bare size() would emit -1 and
    // concat_ws would treat the null token array as empty (digest of
    // "") — both diverging from the oracle's NULLs (GenAdversarial).
    Tables.documents(s, dir)
      .select($"doc_id",
        when($"text".isNotNull, size(toks).cast("long"))
          .as("n_tokens_before"),
        when($"text".isNotNull, size(kept).cast("long"))
          .as("n_tokens_after"),
        when($"text".isNotNull, md5(concat_ws(" ", kept)))
          .as("norm_digest"))
      .withColumn("n_collapsed", $"n_tokens_before" - $"n_tokens_after")
      .orderBy($"doc_id")
  }

  val normalizeTextSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, toks,
      |    list_filter(toks, (x, i) -> i = 1 OR x != toks[i - 1]) AS kept
      |  FROM t)
      |SELECT doc_id, len(toks)::BIGINT AS n_tokens_before,
      |  len(kept)::BIGINT AS n_tokens_after,
      |  md5(array_to_string(kept, ' ')) AS norm_digest,
      |  (len(toks) - len(kept))::BIGINT AS n_collapsed
      |FROM k
      |ORDER BY doc_id""".stripMargin

  /** p03: deterministic stratified train/val/test split — every doc lands
    * in exactly one split, assignment is a pure function of doc_id (md5,
    * engine-portable like q20/q30's sampling), so the split is stable
    * across runs, engines and re-shards, and adding documents never moves
    * existing ones between splits (the leakage-safety property an LLM
    * data pipeline needs). 90/5/5 by the first 4 hex digits of
    * md5(doc_id): uniform in [0, 65536). Output: per (source, split)
    * counts + token totals for mixture accounting. Map-only + one
    * partial-agg shuffle.
    */
  def stratifiedSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
      .cast("long") // uniform in [0, 65536)
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
        org.apache.spark.sql.graft.GraftFunctions
          .space_token_count($"text").cast("long").as("n_tokens"),
        when(u < lit((65536 * 0.90).toInt), "train")
          .when(u < lit((65536 * 0.95).toInt), "val")
          .otherwise("test").as("split"))
      .groupBy($"source", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      .orderBy($"source", $"split")
  }

  val stratifiedSplitSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS n_tokens,
      |    CASE
      |      WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::INT < 58982
      |        THEN 'train'
      |      WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::INT < 62259
      |        THEN 'val'
      |      ELSE 'test'
      |    END AS split
      |  FROM documents)
      |SELECT source, split, count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
      |FROM d GROUP BY source, split
      |ORDER BY source, split""".stripMargin

  /** p06: deterministic epoch-seeded shuffle — reproducible training-data
    * ordering. Resumable LLM training needs epoch N's EXACT example order
    * reconstructible from (seed, corpus) alone: crash at step s, rebuild
    * the order, skip s examples, continue — so the order must be a pure
    * function, not a sampled permutation. Each doc gets a shard (md5 of
    * "epoch#doc_id" — different epochs give independent permutations)
    * and a within-shard position (rank of a second independent md5 key),
    * the order a shard-local reader consumes.
    *
    * Scale shape: shard assignment and both keys are map-only; the only
    * shuffle is the per-shard ordering window — which is exactly the
    * work a sharded ordered write must do, parallel in `shards`. Unlike
    * d11's counting anti-pattern, the per-shard sort IS the product
    * here; `shards` is the scale-out knob (file-sized shards: corpus /
    * ~1 GB), never a fixed small constant at 100 TB. No global sort
    * exists at any point — global position is (shard, pos) by contract.
    */
  def epochShuffle(s: SparkSession, dir: String, epoch: Int = 1,
      shards: Int = 64): DataFrame =
    epochShuffleOf(Tables.documents(s, dir), epoch, shards)

  /** Core of [[epochShuffle]] over any frame with a `doc_id` column. */
  def epochShuffleOf(docs: DataFrame, epoch: Int = 1,
      shards: Int = 64): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val shard = pmod(conv(substring(
        md5(concat_ws("#", lit(epoch), $"doc_id")), 1, 15), 16, 10)
      .cast("long"), lit(shards.toLong)).cast("int")
    val ordKey = conv(substring(
        md5(concat_ws(":", lit(epoch), $"doc_id")), 1, 15), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"ord_key", $"doc_id")
    docs
      .select($"doc_id", shard.as("shard"), ordKey.as("ord_key"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .orderBy($"shard", $"pos")
  }

  val epochShuffleSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    (('0x' || substring(md5('1#' || doc_id), 1, 15))::BIGINT % 64)::INT
      |      AS shard,
      |    ('0x' || substring(md5('1:' || doc_id), 1, 15))::BIGINT AS ord_key
      |  FROM documents)
      |SELECT doc_id, shard, ord_key,
      |  row_number() OVER (PARTITION BY shard ORDER BY ord_key, doc_id)
      |    AS pos
      |FROM d
      |ORDER BY shard, pos""".stripMargin

  /** p08: quality-banded CURRICULUM schedule — the anneal-phase data
    * ordering (low-quality mass early, progressively higher-quality
    * tiers as the epoch advances — the "quality curriculum" /
    * mid-training anneal shape): docs split into `bands` tiers by
    * exact score percentiles of t02's stopword-ratio quality signal,
    * then deterministically shuffled WITHIN each band with p06's md5
    * family keyed by (epoch, band, doc_id) — the whole schedule is a
    * pure function of (epoch, corpus), crash-resumable exactly like
    * p06 (rebuild, seek, continue).
    *
    * Scale shape: the score is map-only; band cutoffs are ONE
    * ≤(bands-1)-value exact-percentile aggregate crossJoined back (the
    * q26/t19 scalar-threshold pattern — percentile_approx at 100 TB,
    * same plan); band assignment is map-side comparisons against the
    * broadcast cutoffs; the only shuffle is the per-(band, shard)
    * ordering window, which IS the sharded ordered write's work.
    * Scores are 6-dp-rounded in both engines BEFORE the percentile so
    * interpolated cutoffs never straddle an fp representation gap
    * (t19's tie-break discipline). Self-cleaning
    * ([[graft.operators.SelfClean.releasing]]): the score frame feeds the
    * cutoffs and the banding; the schedule is checkpointed and the frame
    * released before returning.
    */
  def curriculumSchedule(s: SparkSession, dir: String, bands: Int = 4,
      epoch: Int = 1, shards: Int = 8): DataFrame = {
    import s.implicits._
    graft.operators.SelfClean.releasing(Tables.documents(s, dir)
      .select($"doc_id", stopwordRatio($"text").as("score"))) { docs =>
      val cutExprs = (1 until bands).map(i =>
        expr(s"percentile(score, ${i.toDouble / bands})").as(s"c$i"))
      val cuts = docs.agg(cutExprs.head, cutExprs.tail: _*)
      // An unscoreable doc (NULL text → NULL ratio) still gets PLACED:
      // every null comparison falls to otherwise(0), i.e. band 1 — the
      // lowest tier, the conservative slot for unknown quality. The
      // oracle coalesces its ::INT casts to the same rule; a curriculum
      // that silently dropped rows would desync the epoch schedule.
      val banded = docs.crossJoin(broadcast(cuts))
        .withColumn("band",
          (1 until bands).map(i =>
            when($"score" > col(s"c$i"), 1).otherwise(0)).reduce(_ + _) + 1)
      val shard = pmod(conv(substring(
          md5(concat_ws("#", lit(epoch), $"band", $"doc_id")), 1, 15), 16, 10)
        .cast("long"), lit(shards.toLong)).cast("int")
      val ordKey = conv(substring(
          md5(concat_ws(":", lit(epoch), $"band", $"doc_id")), 1, 15), 16, 10)
        .cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"band", $"shard").orderBy($"ord_key", $"doc_id")
      banded
        .select($"doc_id", $"score", $"band",
          shard.as("shard"), ordKey.as("ord_key"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select($"doc_id", $"score", $"band", $"shard", $"pos")
        .orderBy($"band", $"shard", $"pos", $"doc_id")
    }
  }

  val curriculumScheduleSql: String =
    """WITH sc AS (
      |  SELECT doc_id,
      |    round(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) * 1.0 /
      |          len(regexp_split_to_array(text, '\s+')), 6) AS score
      |  FROM documents),
      |cuts AS (
      |  SELECT quantile_cont(score, 0.25) AS c1,
      |    quantile_cont(score, 0.5) AS c2,
      |    quantile_cont(score, 0.75) AS c3
      |  FROM sc),
      |b AS (
      |  SELECT doc_id, score,
      |    1 + coalesce((score > c1)::INT, 0) + coalesce((score > c2)::INT, 0)
      |      + coalesce((score > c3)::INT, 0) AS band
      |  FROM sc CROSS JOIN cuts),
      |k AS (
      |  SELECT doc_id, score, band,
      |    (('0x' || substring(md5('1#' || band || '#' || doc_id), 1, 15))::BIGINT
      |      % 8)::INT AS shard,
      |    ('0x' || substring(md5('1:' || band || ':' || doc_id), 1, 15))::BIGINT
      |      AS ord_key
      |  FROM b)
      |SELECT doc_id, score, band, shard,
      |  row_number() OVER (PARTITION BY band, shard
      |    ORDER BY ord_key, doc_id) AS pos
      |FROM k
      |ORDER BY band, shard, pos, doc_id""".stripMargin

  /** Write epoch-`epoch`'s order as shard-partitioned parquet, sorted by
    * the order key within each shard — the layout a data loader streams
    * sequentially. One shuffle (shard repartition), shard-local sorts.
    */
  def writeEpochShards(docs: DataFrame, path: String, epoch: Int,
      shards: Int = 64): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    val shard = pmod(conv(substring(
        md5(concat_ws("#", lit(epoch), $"doc_id")), 1, 15), 16, 10)
      .cast("long"), lit(shards.toLong)).cast("int")
    val ordKey = conv(substring(
        md5(concat_ws(":", lit(epoch), $"doc_id")), 1, 15), 16, 10)
      .cast("long")
    docs.withColumn("shard", shard).withColumn("ord_key", ordKey)
      .repartition($"shard")
      .sortWithinPartitions($"shard", $"ord_key", $"doc_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard").parquet(path)
  }

  /** p04: temperature-scaled mixture sampling weights (the multilingual /
    * multi-source rebalancing rule from XLM-R-style pipelines): per-source
    * sampling probability p_i ∝ n_i^alpha with alpha = 0.5, which
    * upsamples small sources relative to their raw share without letting
    * any source dominate. Emits, per source, the smoothed probability,
    * the expected document draw for a fixed budget, and the implied epoch
    * count over that source (budget·p_i / n_i — the quantity you check
    * for small-source overfitting).
    *
    * Scale shape: one partial-aggregatable count per source (|sources|
    * result rows), a scalar-aggregate normalizer crossJoined back (the
    * q26/e11 pattern) — map-side everything; no full-data shuffle beyond
    * the count's own partial-agg exchange.
    */
  def temperatureMix(s: SparkSession, dir: String,
                     alpha: Double = 0.5, budget: Long = 100000L): DataFrame = {
    import s.implicits._
    val counts = Tables.documents(s, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", pow($"n_docs".cast("double"), lit(alpha)))
    val z = counts.agg(sum($"w").as("z"))
    counts.crossJoin(z)
      .select($"source", $"n_docs",
        round($"w" / $"z", 6).as("p_sample"),
        round(lit(budget) * $"w" / $"z", 2).as("expected_docs"),
        round(lit(budget) * $"w" / $"z" / $"n_docs", 4).as("epochs"))
      .orderBy($"source")
  }

  val temperatureMixSql: String =
    """WITH c AS (
      |  SELECT source, count(*) AS n_docs,
      |    pow(count(*)::DOUBLE, 0.5) AS w
      |  FROM documents GROUP BY source),
      |z AS (SELECT sum(w) AS z FROM c)
      |SELECT source, n_docs,
      |  round(w / (SELECT z FROM z), 6) AS p_sample,
      |  round(100000 * w / (SELECT z FROM z), 2) AS expected_docs,
      |  round(100000 * w / (SELECT z FROM z) / n_docs, 4) AS epochs
      |FROM c
      |ORDER BY source""".stripMargin

  /** p05: DSIR-style importance resampling (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", 2023): score every
    * document by how much its hashed-unigram distribution resembles a
    * TARGET domain (here: one source feed) relative to the whole corpus,
    * then draw a top-`keepFrac` sample with deterministic Gumbel keys —
    * domain-targeted data selection without training a model: two hashed
    * bag-of-words LMs and a per-token log-ratio.
    *
    * logw(doc) = Σ_tokens [ln p_t(bkt(w)) − ln p_c(bkt(w))] over B
    * add-one-smoothed md5-hashed buckets; sampling key = logw +
    * Gumbel(md5(doc_id)) (Gumbel-top-k ≡ sampling without replacement
    * ∝ exp(logw)); kept = key above the (1−keepFrac) corpus quantile.
    *
    * Scale shape: both bucket LMs are ONE ≤B-row partial-aggregatable
    * count (target counted as a conditional sum inside the corpus pass,
    * not a second scan); the per-token log-ratio join is against that
    * broadcast ≤B-row table, so scoring is map-side over the token
    * stream with one per-doc partial agg; the keep threshold is a scalar
    * exact-percentile aggregate crossJoined back (the q26 pattern —
    * percentile_approx at 100 TB, same plan). No window anywhere;
    * nothing downstream of the per-doc agg touches full data. The md5
    * family keeps every bucket, uniform, and Gumbel draw bit-identical
    * in DuckDB; logw is rounded BEFORE the key so both engines add the
    * Gumbel term to the same double.
    */
  def importanceResample(s: SparkSession, dir: String,
      target: String = "src0", buckets: Int = 1024,
      keepFrac: Double = 0.1): DataFrame =
    importanceResampleOf(Tables.documents(s, dir), target, buckets, keepFrac)

  /** Core of [[importanceResample]] over any (doc_id, source, text) frame.
    *
    * Scale shape (r16): the per-token hashing is ONE codegen'd pass
    * ([[org.apache.spark.sql.graft.hashing.md5BucketCounts]] — a per-doc
    * (bucket, n) histogram, exactly the md5-prefix family the oracle
    * replays), persisted once; both the LM count pass and the scoring
    * pass explode the bounded histogram (≤ min(tokens, buckets) rows
    * per doc) instead of re-running a corpus token explode whose
    * per-occurrence md5 went through substring→conv→pmod string
    * expressions — p05's 9.4 s sf10 min-rep was ~pure map-side compute
    * (28 MB shuffle). Counts are exact longs; logw now sums n·lr per
    * distinct (doc, bucket) instead of lr per token — the SQL twin
    * groups identically so both engines round the same sums.
    *
    * Self-cleaning ([[graft.operators.SelfClean.scope]]): the three
    * frames below are cached in one scope, the per-doc result is
    * checkpointed, and the scope releases them before returning.
    */
  def importanceResampleOf(documents: DataFrame, target: String = "src0",
      buckets: Int = 1024, keepFrac: Double = 0.1): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    graft.operators.SelfClean.scope { keep =>
      val hist = keep(documents
        .select($"doc_id", $"source",
          org.apache.spark.sql.graft.GraftFunctions
            .md5_bucket_counts($"text", buckets).as("bc")))
      val ex = hist.select($"doc_id", $"source", explode($"bc").as("x"))
        .select($"doc_id", $"source", $"x.bkt".as("bkt"), $"x.n".as("n"))
      // ≤`buckets` rows; kept so the normalizer and log-ratio branches
      // read the cache instead of re-running the corpus count pipeline
      // (without this the plan scans the corpus once per derived branch).
      val cc = keep(ex.groupBy($"bkt").agg(sum($"n").as("n_c"),
        sum(when($"source" === target, $"n").otherwise(0L)).as("n_t")))
      val tot = cc.agg(sum($"n_c").as("nc"), sum($"n_t").as("nt"))
      val lr = cc.crossJoin(tot).select($"bkt",
        (log(($"n_t" + 1.0) / ($"nt" + buckets.toDouble)) -
          log(($"n_c" + 1.0) / ($"nc" + buckets.toDouble))).as("lr"))
      val scored = ex.join(broadcast(lr), Seq("bkt"))
        .groupBy($"doc_id")
        .agg(sum($"n").as("n_tokens"),
          round(sum($"n" * $"lr") + lit(1e-9), 6).as("logw"))
      val u = (pmod(conv(substring(md5($"doc_id".cast("string")), 1, 15),
        16, 10).cast("long"), lit(1000000L)).cast("double") + 0.5) / 1000000.0
      // per-doc narrow frame (id + 3 numbers); kept so the threshold
      // aggregate and the final join both read it — the corpus is scanned
      // exactly twice end-to-end (LM count pass + scoring pass), the DSIR
      // minimum.
      val keyed = keep(scored.withColumn("samp_key",
        round($"logw" - log(-log(u)) + lit(1e-9), 6)))
      val thr = keyed.agg(
        expr(s"percentile(samp_key, ${1.0 - keepFrac})").as("thr"))
      graft.operators.SelfClean.checkpoint(keyed.crossJoin(thr)
        .select($"doc_id", $"n_tokens", $"logw", $"samp_key",
          ($"samp_key" > $"thr" + lit(1e-9)).as("kept"))
        .orderBy($"doc_id"))
    }
  }

  val importanceResampleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    (('0x' || substring(md5(w), 1, 15))::BIGINT % 1024) AS bkt
      |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      |        FROM documents)),
      |db AS (
      |  SELECT doc_id, source, bkt, count(*) AS n
      |  FROM toks GROUP BY doc_id, source, bkt),
      |cc AS (
      |  SELECT bkt, sum(n) AS n_c,
      |    sum(CASE WHEN source = 'src0' THEN n ELSE 0 END) AS n_t
      |  FROM db GROUP BY bkt),
      |tot AS (SELECT sum(n_c) AS nc, sum(n_t) AS nt FROM cc),
      |lr AS (
      |  SELECT bkt,
      |    ln((n_t + 1.0) / (tot.nt + 1024.0)) -
      |    ln((n_c + 1.0) / (tot.nc + 1024.0)) AS lr
      |  FROM cc CROSS JOIN tot),
      |scored AS (
      |  SELECT doc_id, sum(n)::BIGINT AS n_tokens,
      |    round(sum(n * lr) + 1e-9, 6) AS logw
      |  FROM db JOIN lr USING (bkt) GROUP BY doc_id),
      |keyed AS (
      |  SELECT doc_id, n_tokens, logw,
      |    round(logw - ln(-ln(((('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT
      |      % 1000000) + 0.5) / 1000000.0)) + 1e-9, 6) AS samp_key
      |  FROM scored),
      |thr AS (SELECT quantile_cont(samp_key, 0.9) AS thr FROM keyed)
      |SELECT doc_id, n_tokens, logw, samp_key,
      |  samp_key > thr + 1e-9 AS kept
      |FROM keyed CROSS JOIN thr
      |ORDER BY doc_id""".stripMargin

  /** Curated keyword-reduction mapping (reference:
    * violation_curation_keyword_reduction.csv — original → reduced, empty
    * reduced = discard). Broadcast at any scale.
    */
  val keywordMap: Seq[(String, String)] = Seq(
    "the" -> "", "a" -> "",                 // discard stopwords
    "agg" -> "aggregate", "dup" -> "duplicate",
    "big" -> "large", "fast" -> "quick")

  /** q10: keyword reduction + rollup (keyword_reduction.py:45-77).
    * explode → broadcast-map → agg; one shuffle on the reduced keyword.
    */
  def keywordReduce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mapping = broadcast(keywordMap.toDF("original", "reduced_to"))
    Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
      .join(mapping, $"word" === $"original", "left")
      .select($"doc_id",
        coalesce($"reduced_to", $"word").as("keyword"))
      .filter($"keyword" =!= "")
      .groupBy($"keyword")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .orderBy($"keyword")
  }

  val keywordReduceSql: String =
    """WITH mapping(original, reduced_to) AS (VALUES
      |  ('the',''),('a',''),('agg','aggregate'),('dup','duplicate'),
      |  ('big','large'),('fast','quick')),
      |words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |reduced AS (
      |  SELECT doc_id, coalesce(reduced_to, word) AS keyword
      |  FROM words LEFT JOIN mapping ON word = original
      |  WHERE len(word) > 0)
      |SELECT keyword, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
      |FROM reduced
      |WHERE keyword <> ''
      |GROUP BY keyword
      |ORDER BY keyword""".stripMargin

  /** q11: keyword document-frequency (KeywordsPage.jsx:33-72): keyword →
    * number of distinct documents containing it, sorted by count.
    */
  def keywordDocfreq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("keyword"))
      .filter(length($"keyword") >= 3)
      .groupBy($"keyword")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"n_docs".desc, $"keyword")
  }

  val keywordDocfreqSql: String =
    """SELECT keyword, count(*) AS n_docs
      |FROM (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS keyword
      |  FROM documents)
      |WHERE len(keyword) >= 3
      |GROUP BY keyword
      |ORDER BY n_docs DESC, keyword""".stripMargin

  /** q12: per-source rollup (generate_website_data.py:308-326: documents
    * grouped by agency with counts + name resolution).
    */
  def agencyRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        round(avg($"n_chars") + lit(1e-9), 4).as("avg_chars"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"source")
  }

  val agencyRollupSql: String =
    """SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
      |  round(avg(n_chars) + 1e-9, 4) AS avg_chars, sum(n_chars)::BIGINT AS total_chars
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** t01: heuristic language ID via stopword-profile argmax. */
  def langid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val scores = langScores($"text")
    docs.select(
        ($"doc_id" +:
          scores.map { case (l, c) => c.as(s"score_$l") } :+
          predictLang(scores).as("predicted_lang")): _*)
      .orderBy($"doc_id")
  }

  val langidSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) AS score_en,
      |  len(regexp_extract_all(text, '\b(le|la|et|les|une)\b')) AS score_fr,
      |  len(regexp_extract_all(text, '\b(el|los|y|que|una)\b')) AS score_es,
      |  len(regexp_extract_all(text, '\b(der|die|und|das|ein)\b')) AS score_de,
      |  CASE
      |    WHEN len(regexp_extract_all(text, '\b(der|die|und|das|ein)\b')) >
      |         greatest(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')),
      |                  len(regexp_extract_all(text, '\b(le|la|et|les|une)\b')),
      |                  len(regexp_extract_all(text, '\b(el|los|y|que|una)\b'))) THEN 'de'
      |    WHEN len(regexp_extract_all(text, '\b(el|los|y|que|una)\b')) >
      |         greatest(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')),
      |                  len(regexp_extract_all(text, '\b(le|la|et|les|une)\b'))) THEN 'es'
      |    WHEN len(regexp_extract_all(text, '\b(le|la|et|les|une)\b')) >
      |         len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) THEN 'fr'
      |    ELSE 'en'
      |  END AS predicted_lang
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** t26: script-aware language ID + adaptive token accounting — the
    * CJK/whitespace-free fallback (VERDICT r14 #6). t01's stopword
    * profile is structurally blind to unsegmented scripts (zero
    * whitespace → zero word-boundary stopword hits → every CJK document
    * silently labels 'en'); this query adds the standard public answer:
    * per-script character profiling (Unicode Script property — Han /
    * kana / hangul counts) with whitespace density deciding which signal
    * to trust. Majority-CJK text routes hangul→'ko', any-kana→'ja',
    * else 'zh'; segmented text falls through to EXACTLY t01's stopword
    * argmax (same tie-break), so on a whitespace corpus t26 ≡ t01.
    * `n_tokens_adaptive` is the matching token-budget fallback: word
    * count where whitespace is meaningful, non-space char count where it
    * isn't (≈1 token/char, the honest CJK budget unit; t03/p02 count a
    * whole unsegmented document as ONE whitespace token).
    *
    * One map-side pass (regexp counts + the shared TokenProfileCounts
    * scan), one presentation sort — scale shape identical to t01.
    * Hash-oracled cross-engine: Java `\p{IsHan}` and RE2 `\p{Han}` both
    * implement the Unicode Script property.
    */
  def scriptLangid(s: SparkSession, dir: String,
      wsThresh: Double = 0.05): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val (han, kana, hangul) = graft.functions.TextFunctions.cjkCounts($"text")
    val scores = langScores($"text")
    val wsDens = graft.functions.TextFunctions.whitespaceDensity($"text")
    docs.select((Seq($"doc_id", han.as("n_han"), kana.as("n_kana"),
        hangul.as("n_hangul"), wsDens.as("ws_density"),
        length($"text").as("n_cp"),
        org.apache.spark.sql.graft.GraftFunctions
          .space_token_count($"text").cast("long").as("n_ws_tokens"),
        (length($"text") - org.apache.spark.sql.graft.GraftFunctions
          .whitespace_count($"text")).cast("long")
          .as("n_nonspace")) ++
        scores.map { case (l, c) => c.as(s"score_$l") } :+
          predictLang(scores).as("ws_lang")): _*)
      .withColumn("n_tokens_adaptive",
        when($"ws_density" < wsThresh, $"n_nonspace")
          .otherwise($"n_ws_tokens"))
      .withColumn("predicted_lang",
        when(($"n_han" + $"n_kana" + $"n_hangul") * 2 > $"n_cp",
          when($"n_hangul" > greatest($"n_han", $"n_kana"), "ko")
            .when($"n_kana" > 0, "ja")
            .otherwise("zh"))
          .otherwise($"ws_lang"))
      .select($"doc_id", $"n_han", $"n_kana", $"n_hangul", $"ws_density",
        $"n_tokens_adaptive", $"predicted_lang")
      .orderBy($"doc_id")
  }

  val scriptLangidSql: String =
    """WITH s AS (
      |  SELECT doc_id, text,
      |    length(regexp_replace(text, '[^\p{Han}]', '', 'g')) AS n_han,
      |    length(regexp_replace(text, '[^\p{Hiragana}\p{Katakana}]', '', 'g')) AS n_kana,
      |    length(regexp_replace(text, '[^\p{Hangul}]', '', 'g')) AS n_hangul,
      |    round((length(text) - length(regexp_replace(text, '\s', '', 'g')))::DOUBLE
      |      / greatest(length(text), 1) + 1e-9, 6) AS ws_density,
      |    length(text) AS n_cp,
      |    len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
      |    length(regexp_replace(text, '\s', '', 'g'))::BIGINT AS n_nonspace,
      |    CASE
      |      WHEN len(regexp_extract_all(text, '\b(der|die|und|das|ein)\b')) >
      |           greatest(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')),
      |                    len(regexp_extract_all(text, '\b(le|la|et|les|une)\b')),
      |                    len(regexp_extract_all(text, '\b(el|los|y|que|una)\b'))) THEN 'de'
      |      WHEN len(regexp_extract_all(text, '\b(el|los|y|que|una)\b')) >
      |           greatest(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')),
      |                    len(regexp_extract_all(text, '\b(le|la|et|les|une)\b'))) THEN 'es'
      |      WHEN len(regexp_extract_all(text, '\b(le|la|et|les|une)\b')) >
      |           len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) THEN 'fr'
      |      ELSE 'en'
      |    END AS ws_lang
      |  FROM documents)
      |SELECT doc_id, n_han, n_kana, n_hangul, ws_density,
      |  CASE WHEN ws_density < 0.05 THEN n_nonspace ELSE n_ws_tokens END
      |    AS n_tokens_adaptive,
      |  CASE WHEN (n_han + n_kana + n_hangul) * 2 > n_cp THEN
      |    CASE WHEN n_hangul > greatest(n_han, n_kana) THEN 'ko'
      |         WHEN n_kana > 0 THEN 'ja'
      |         ELSE 'zh' END
      |  ELSE ws_lang END AS predicted_lang
      |FROM s
      |ORDER BY doc_id""".stripMargin

  /** t02: document quality scoring: token stats, stopword/alpha ratios,
    * boolean keep-gate — the standard pre-training text filters.
    */
  def quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    docs.select(
        $"doc_id",
        length($"text").as("len_chars"),
        wsTokenCount($"text").as("n_tokens"),
        stopwordRatio($"text").as("stopword_ratio"),
        alphaRatio($"text").as("alpha_ratio"))
      .withColumn("quality_ok",
        $"n_tokens" >= 10 && $"stopword_ratio" > 0.01)
      .orderBy($"doc_id")
  }

  val qualitySql: String =
    """SELECT doc_id,
      |  len(text) AS len_chars,
      |  len(regexp_split_to_array(text, '\s+')) AS n_tokens,
      |  round(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) * 1.0 /
      |        len(regexp_split_to_array(text, '\s+')), 6) AS stopword_ratio,
      |  round(len(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0 / len(text), 6) AS alpha_ratio,
      |  len(regexp_split_to_array(text, '\s+')) >= 10 AND
      |    round(len(regexp_extract_all(text, '\b(the|a|of|and|is)\b')) * 1.0 /
      |          len(regexp_split_to_array(text, '\s+')), 6) > 0.01 AS quality_ok
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** t03: token counting — whitespace and BPE-ish pre-tokenizer. */
  def tokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
        $"doc_id",
        wsTokenCount($"text").as("ws_tokens"),
        bpeTokenCount($"text").as("bpe_tokens"),
        length($"text").as("n_chars_calc"))
      .orderBy($"doc_id")
  }

  val tokensSql: String =
    """SELECT doc_id,
      |  len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens,
      |  len(text) AS n_chars_calc
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** t04: content fingerprint over normalized text. */
  def fingerprintQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
        $"doc_id", fingerprint($"text").as("fingerprint"))
      .orderBy($"doc_id")
  }

  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** q16: nested per-agency document rollup — the website payload shape
    * (generate_website_data.py:308-331: agency → sorted document list +
    * counts). collect_list over one shuffle; sort_array for deterministic
    * nested output.
    */
  def nestedAgencyDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The nested list is serialized to canonical JSON so the result is a
    // plain string column — portable across the oracle's hashing of
    // nested values (list-of-struct hashing is engine/driver-dependent).
    Tables.documents(s, dir)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("total_reports"),
        // A NULL lang renders as JSON null rather than nulling the
        // element: concat-of-null would make collect_list silently
        // SKIP the doc ("[]") while the oracle's string_agg nulls the
        // whole aggregate — both wrong answers (GenAdversarial).
        concat(lit("["),
          concat_ws(",", sort_array(collect_list(
            concat(lit("{\"doc_id\":"), $"doc_id", lit(",\"lang\":"),
              when($"lang".isNull, lit("null"))
                .otherwise(concat(lit("\""), $"lang", lit("\""))),
              lit("}"))))),
          lit("]")).as("documents_json"))
      .orderBy($"source")
  }

  val nestedAgencyDocsSql: String =
    """WITH j AS (
      |  SELECT source,
      |    '{"doc_id":' || doc_id || ',"lang":' ||
      |      CASE WHEN lang IS NULL THEN 'null' ELSE '"' || lang || '"' END
      |      || '}' AS el
      |  FROM documents)
      |SELECT source, count(*) AS total_reports,
      |  '[' || string_agg(el, ',' ORDER BY el) || ']' AS documents_json
      |FROM j
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** t05: exact percentile analytics per language (corpus length
    * distribution — the reporting side of quality filtering). Exact
    * `percentile` (interpolated) matches DuckDB's quantile_cont; the
    * 100 TB variant swaps in percentile_approx with the same shape.
    */
  def qualityPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(
        round(expr("percentile(n_chars, 0.25)"), 4).as("p25_chars"),
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"),
        count(lit(1)).as("n_docs"))
      .orderBy($"lang")
  }

  val qualityPercentilesSql: String =
    """SELECT lang,
      |  round(quantile_cont(n_chars, 0.25), 4) AS p25_chars,
      |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
      |  round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
      |  count(*) AS n_docs
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** q18: pivot — documents per (source, lang) as a wide table (Spark
    * `pivot` with explicit values = conditional aggregation, one shuffle).
    */
  def langPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"source")
      .pivot("lang", Seq("en", "fr", "es", "zh", "de"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"source")
  }

  val langPivotSql: String =
    """SELECT source,
      |  count(*) FILTER (lang = 'en') AS en,
      |  count(*) FILTER (lang = 'fr') AS fr,
      |  count(*) FILTER (lang = 'es') AS es,
      |  count(*) FILTER (lang = 'zh') AS zh,
      |  count(*) FILTER (lang = 'de') AS de
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** t06: approximate distinct counting (HLL++ sketch) — the cardinality
    * estimator a 100 TB pipeline uses where exact countDistinct would
    * shuffle every value. Sketches are engine-specific → rows-only; the
    * spec asserts the estimate lands within rsd of the exact count.
    */
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"source")
      .agg(approx_count_distinct($"text", 0.02).as("approx_distinct_texts"),
        count(lit(1)).as("n_docs"))
      .orderBy($"source")
  }

  /** t07: edit-distance fuzzy matching on bounded candidate pairs
    * (reference reconciles near-matching filenames; Levenshtein is the
    * verification metric). Bounded prefix keeps the O(n·m) DP cheap.
    */
  def editDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .filter($"doc_id" < 40)
      .select($"doc_id", substring($"text", 1, 40).as("prefix"))
    val a = d.select($"doc_id".as("doc_a"), $"prefix".as("pa"))
    val b = d.select($"doc_id".as("doc_b"), $"prefix".as("pb"))
    a.join(b, $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", levenshtein($"pa", $"pb").as("edit_dist"))
      .filter($"edit_dist" <= 26)
      .orderBy($"doc_a", $"doc_b")
  }

  val editDistanceSql: String =
    """WITH d AS (
      |  SELECT doc_id, substring(text, 1, 40) AS prefix
      |  FROM documents WHERE doc_id < 40)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  levenshtein(a.prefix, b.prefix) AS edit_dist
      |FROM d a JOIN d b ON a.doc_id < b.doc_id
      |WHERE levenshtein(a.prefix, b.prefix) <= 26
      |ORDER BY doc_a, doc_b""".stripMargin

  /** t08: TF-IDF top terms per document — the classic relevance scoring
    * behind keyword surfacing. Two shuffles (term df, then per-doc top-k).
    * The df join is un-hinted: the df table has one row per distinct term
    * (multi-GB at corpus scale), so AQE picks broadcast when it fits and
    * falls back to a shuffle join when it doesn't — a forced broadcast
    * would OOM instead. Stopword-ish terms fall out via idf.
    */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    val terms = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter(length($"term") >= 3)
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = terms.select($"doc_id", $"term").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    tf.join(df, Seq("term"))
      .withColumn("tfidf", round($"tf" * log(lit(n.toDouble) / $"df"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3 && $"doc_id" < 100)
      .select($"doc_id", $"rank", $"term", $"tfidf")
      .orderBy($"doc_id", $"rank")
  }

  val tfidfSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |filtered AS (SELECT * FROM terms WHERE len(term) >= 3),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM filtered GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM filtered) GROUP BY term),
      |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, round(tf.tf * ln(n.n / df.df), 6) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, tfidf,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, tfidf
      |FROM ranked WHERE rank <= 3 AND doc_id < 100
      |ORDER BY doc_id, rank""".stripMargin

  /** q19: column profiling — the data-quality snapshot every pipeline runs
    * before trusting a feed (null counts, distincts, ranges in one pass).
    */
  def profile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).agg(
      count(lit(1)).as("n_rows"),
      sum($"o_custkey".isNull.cast("long")).as("null_custkey"),
      countDistinct($"o_orderstatus").as("distinct_status"),
      countDistinct($"o_orderpriority").as("distinct_priority"),
      round(min($"o_totalprice"), 2).as("min_price"),
      round(max($"o_totalprice"), 2).as("max_price"),
      min($"o_orderdate").as("min_date"),
      max($"o_orderdate").as("max_date"))
  }

  val profileSql: String =
    """SELECT count(*) AS n_rows,
      |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_custkey,
      |  count(DISTINCT o_orderstatus) AS distinct_status,
      |  count(DISTINCT o_orderpriority) AS distinct_priority,
      |  round(min(o_totalprice), 2) AS min_price,
      |  round(max(o_totalprice), 2) AS max_price,
      |  min(o_orderdate) AS min_date,
      |  max(o_orderdate) AS max_date
      |FROM orders""".stripMargin

  /** t09: within-document repetition ratio (Gopher-style quality rule):
    * 1 − |distinct bigrams| / |bigrams|. High ratio = boilerplate/spam.
    * Map-only; bigram sets via the hashing.wordShingles kernel.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val totalBigrams = greatest(size(split($"text", " ")) - 1, lit(1))
    val distinctBigrams = size(graft.operators.Dedup.shingles($"text", 2))
    // NULL text null-propagates explicitly: without the guard,
    // size(shingles(NULL)) = -1 turns the ratio into 2.0 — an
    // impossible value for 1 − distinct/total — while the oracle
    // NULLs (found by the GenAdversarial corpus gate).
    Tables.documents(s, dir).select(
        $"doc_id",
        when($"text".isNotNull,
          round(lit(1.0) - distinctBigrams.cast("double") / totalBigrams, 6))
          .as("repetition_ratio"))
      .withColumn("is_repetitive", $"repetition_ratio" > 0.2)
      .orderBy($"doc_id")
  }

  val repetitionSql: String =
    """SELECT doc_id,
      |  CASE WHEN text IS NULL THEN NULL ELSE
      |  round(1.0 - len(list_distinct(list_transform(
      |      range(greatest(len(string_split(text, ' ')) - 1, 0)),
      |      i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])))
      |    * 1.0 / greatest(len(string_split(text, ' ')) - 1, 1), 6) END AS repetition_ratio,
      |  CASE WHEN text IS NULL THEN NULL ELSE
      |  round(1.0 - len(list_distinct(list_transform(
      |      range(greatest(len(string_split(text, ' ')) - 1, 0)),
      |      i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])))
      |    * 1.0 / greatest(len(string_split(text, ' ')) - 1, 1), 6) > 0.2 END AS is_repetitive
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** d06: benchmark decontamination — flag corpus docs sharing any word
    * 3-gram with a benchmark set (here: docs 0–4 stand in for the eval
    * set). Explode-shingle + semi-join on the shingle; the benchmark side
    * is tiny and broadcast. The core hygiene op of a training pipeline.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, dir).select($"doc_id",
      explode(graft.operators.Dedup.shingles($"text", 3)).as("shingle"))
    val benchmark = sh.filter($"doc_id" < 5)
      .select($"shingle").distinct()
    sh.filter($"doc_id" >= 5)
      .join(broadcast(benchmark), Seq("shingle"), "left_semi")
      .groupBy($"doc_id")
      .agg(countDistinct($"shingle").as("n_overlapping_shingles"))
      .withColumn("contaminated", $"n_overlapping_shingles" >= 3)
      .orderBy($"doc_id")
  }

  val decontaminateSql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(greatest(len(string_split(text, ' ')) - 2, 0)),
      |    i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]
      |         || ' ' || string_split(text, ' ')[i+3]))) AS shingle
      |  FROM documents),
      |benchmark AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5)
      |SELECT doc_id, count(DISTINCT shingle) AS n_overlapping_shingles,
      |  count(DISTINCT shingle) >= 3 AS contaminated
      |FROM sh
      |WHERE doc_id >= 5 AND shingle IN (SELECT shingle FROM benchmark)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** d16: Bloom-gated decontamination — the 100 TB form of d06. d06
    * broadcasts the benchmark's distinct shingles as a hash relation,
    * which stops working when the eval-suite union is itself huge
    * (100M+ shingles); a Bloom filter compresses membership to `numBits`
    * bits at a tunable false-positive rate, and Spark's own
    * runtime-join-filter machinery (`bloom_filter_agg` /
    * `might_contain`) gives a distributed partial-aggregatable build and
    * a codegen'd map-side probe. The probe is a PRE-filter: survivors
    * are exact-verified by the semi-join (un-hinted — at test scale the
    * planner still broadcasts; at benchmark-set scale it degrades to a
    * shuffle join whose left side the Bloom already cut to candidates ≈
    * true overlaps + fpp·corpus), so false positives cost only wasted
    * verify work, never a wrong row, and the result is bit-identical to
    * d06 — the two share one oracle. Driver state is the sketch's bytes:
    * bounded by `numBits/8` regardless of data (the IvfIndex-centroid
    * class of accepted driver state), embedded as a plan literal like
    * d11's hyperplanes.
    */
  def decontaminateBloom(s: SparkSession, dir: String,
      estimatedItems: Long = 100000L, numBits: Long = 1L << 20): DataFrame =
    decontaminateBloomOf(Tables.documents(s, dir), estimatedItems, numBits)

  /** Core of [[decontaminateBloom]] over any (doc_id, text) frame:
    * d16's doc_id < 5 benchmark convention routed through
    * [[decontaminateBloomAgainst]].
    */
  def decontaminateBloomOf(docs: DataFrame,
      estimatedItems: Long = 100000L, numBits: Long = 1L << 20): DataFrame =
    decontaminateBloomAgainst(docs.filter(col("doc_id") >= 5),
      docs.filter(col("doc_id") < 5), estimatedItems, numBits)

  /** d16's Bloom-gated decontamination against an EXPLICIT benchmark
    * frame (any frame with a `text` column) — p07's decontaminate stage
    * composes this with a held-out eval set instead of the d16 demo's
    * doc_id split. Same machinery: the benchmark's distinct shingles
    * collapse into one driver-side Bloom sketch (bytes bounded by
    * `numBits`, independent of corpus size) that pre-filters the probe
    * side map-only; only sketch survivors reach the exact confirm
    * semi-join, so the shuffle is contaminated-candidate-sized.
    */
  def decontaminateBloomAgainst(docs: DataFrame, benchmarkDocs: DataFrame,
      estimatedItems: Long = 100000L, numBits: Long = 1L << 20): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sh = docs.select($"doc_id",
      explode(graft.operators.Dedup.shingles($"text", 3)).as("shingle"))
    val benchmark = benchmarkDocs
      .select(explode(graft.operators.Dedup.shingles($"text", 3)).as("shingle"))
      .distinct()
    val bfRow = benchmark
      .agg(org.apache.spark.sql.graft.GraftFunctions
        .bloom_filter_agg(xxhash64($"shingle"), estimatedItems, numBits)
        .as("bf"))
      .head()
    // Empty benchmark → no sketch → nothing is contaminated.
    if (bfRow.isNullAt(0))
      return sh.filter(lit(false))
        .groupBy($"doc_id")
        .agg(countDistinct($"shingle").as("n_overlapping_shingles"))
        .withColumn("contaminated", lit(false))
    val bloom = lit(bfRow.getAs[Array[Byte]]("bf"))
    sh
      .filter(org.apache.spark.sql.graft.GraftFunctions
        .might_contain(bloom, xxhash64($"shingle")))
      .join(benchmark, Seq("shingle"), "left_semi")
      .groupBy($"doc_id")
      .agg(countDistinct($"shingle").as("n_overlapping_shingles"))
      .withColumn("contaminated", $"n_overlapping_shingles" >= 3)
      .orderBy($"doc_id")
  }

  /** q20: deterministic per-source quota sampling (data mixing): keep at
    * most N docs per source, chosen by a portable pseudo-random order
    * (md5 of the id) so the sample is stable across engines and runs.
    */
  def quotaSample(s: SparkSession, dir: String, quota: Int = 10): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    Tables.documents(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= quota)
      .select($"doc_id", $"source")
      .orderBy($"source", $"doc_id")
  }

  val quotaSampleSql: String =
    """SELECT doc_id, source
      |FROM (
      |  SELECT doc_id, source, row_number() OVER (
      |    PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 10
      |ORDER BY source, doc_id""".stripMargin

  /** t10: winnowing fingerprints (MOSS-style): hash every word 3-gram,
    * slide a window of w hashes, keep each window's minimum — a compact,
    * position-robust fingerprint set whose overlap localizes shared
    * passages (finer-grained than whole-doc MinHash). Output is the
    * fingerprint count + a stable digest of the set per doc.
    */
  def winnowFingerprint(s: SparkSession, dir: String, window: Int = 4): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // coalesce: a NULL-text doc must report 0 fingerprints, not the
    // size(NULL) = -1 the hostile corpus exposed on t09's shape
    // (AdversarialRowsOnlySpec pins the contentless-doc contract)
    val prints = org.apache.spark.sql.graft.GraftFunctions.winnow_fingerprints(
      graft.operators.Dedup.shingles(coalesce($"text", lit("")), 3), window)
    docs.select($"doc_id",
        size(prints).as("n_fingerprints"),
        md5(concat_ws(",", sort_array(prints))).as("fingerprint_digest"))
      .orderBy($"doc_id")
  }

  /** t11: per-document vocabulary statistics — token count, vocabulary
    * size, hapax legomena, type-token ratio. Lexical-diversity quality
    * signals (a Gopher-style repetition complement). Per-doc stats are
    * document-LOCAL, so they're computed map-side in one codegen'd pass
    * ([[org.apache.spark.sql.graft.hashing.tokenVocabStats]]) — ZERO shuffles
    * (the r12 form exploded the token stream through a (doc, word)
    * groupBy and scaled 17.8× for 10× data; this is flat). The
    * isNotNull filter replicates the exploded form's semantics, where a
    * null-text doc produced no token rows and so no output row.
    */
  def vocabStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"text".isNotNull)
      .select($"doc_id",
        org.apache.spark.sql.graft.GraftFunctions
          .token_vocab_stats($"text").as("v"))
      .select($"doc_id",
        $"v.n_tokens".as("n_tokens"),
        $"v.vocab_size".as("vocab_size"),
        $"v.n_hapax".as("n_hapax"),
        round($"v.vocab_size" * lit(1.0) / $"v.n_tokens" + lit(1e-9), 6)
          .as("ttr"),
        round($"v.n_hapax" * lit(1.0) / $"v.vocab_size" + lit(1e-9), 6)
          .as("hapax_ratio"))
      .orderBy($"doc_id")
  }

  val vocabStatsSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT doc_id, w, count(*) AS n FROM w GROUP BY 1, 2)
      |SELECT doc_id, sum(n)::BIGINT AS n_tokens, count(*) AS vocab_size,
      |  sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
      |  round(count(*) * 1.0 / sum(n) + 1e-9, 6) AS ttr,
      |  round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0 / count(*) + 1e-9, 6)
      |    AS hapax_ratio
      |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t12: per-document unigram entropy in bits — H = log2(N) - Σ n·log2(n)/N
    * (the factored form needs one pass over the word counts). Low-entropy
    * documents are boilerplate/templated text; a standard corpus filter.
    */
  def entropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Document-local like t11: H = log2(N) - Σ n·log2(n)/N from the
    // map-side hashing.tokenVocabStats pass — no token-stream shuffle. The
    // kernel's Σ n·log2(n) uses the same log(x)/log(2) arithmetic as
    // Spark's log2; summation-order ulp drift is absorbed by the
    // +1e-9 round guard (as it already was between Spark and DuckDB).
    Tables.documents(s, dir)
      .filter($"text".isNotNull)
      .select($"doc_id",
        org.apache.spark.sql.graft.GraftFunctions
          .token_vocab_stats($"text").as("v"))
      .select($"doc_id",
        $"v.n_tokens".as("n_tokens"),
        round(log2($"v.n_tokens") - $"v.sum_n_log2n" / $"v.n_tokens"
          + lit(1e-9), 6).as("entropy_bits"))
      .orderBy($"doc_id")
  }

  val entropySql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT doc_id, w, count(*) AS n FROM w GROUP BY 1, 2)
      |SELECT doc_id, sum(n)::BIGINT AS n_tokens,
      |  round(log2(sum(n)) - sum(n * log2(n)) / sum(n) + 1e-9, 6) AS entropy_bits
      |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** t13: corpus-level heavy hitters via the bounded-state Misra-Gries
    * sketch (guaranteed superset of items with freq > N/k; estimates
    * undercount ≤ N/k). Rows-only: merge order perturbs estimates within
    * the bound, so exactness is pinned in TypedAggSpec instead. On this
    * corpus (vocab « k) the sketch degenerates to exact counts.
    */
  def heavyHitters(s: SparkSession, dir: String, k: Int = 256, top: Int = 10): DataFrame = {
    import s.implicits._
    val hh = udaf(new graft.functions.TypedAggregators.HeavyHitters(k),
      org.apache.spark.sql.Encoders.STRING)
    Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .agg(hh($"w").as("sketch"))
      .select(explode($"sketch").as(Seq("keyword", "est_count")))
      .orderBy($"est_count".desc, $"keyword")
      .limit(top)
  }

  /** t14: unigram language-model cross-entropy / perplexity per document —
    * the CCNet-style corpus quality filter. The LM is the corpus's own
    * unigram distribution (in production: a reference-corpus table,
    * broadcast); a doc's score is the mean -log2 p(w) over its tokens.
    * Shape: one agg for the LM, join onto exploded tokens, one agg per
    * doc. The corpus token total is a scalar aggregate cross-joined in
    * (1 row, broadcast-nested-loop) — NOT an unpartitioned window, which
    * would funnel the whole vocab through one task at scale. The LM join
    * is un-hinted: at corpus scale the unigram table is vocab-sized
    * (hundreds of millions of rows), so AQE must be free to pick a
    * shuffle join instead of an OOM-forcing broadcast.
    */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Every shuffle here carries per-doc WORD COUNTS (map-side
    // hashing.wordCounts pass), not the raw token stream — the r12 form exploded
    // one row per token into both the LM build and the doc⋈LM join and
    // scaled 7.5× for 10× data. Aggregates weight by n, so values are
    // identical: avg over tokens ≡ Σ n·term / Σ n.
    val wc = Tables.documents(s, dir)
      .select($"doc_id",
        explode(org.apache.spark.sql.graft.GraftFunctions
          .word_counts($"text")).as("wc"))
      .select($"doc_id", $"wc.w".as("w"), $"wc.n".as("n"))
    val lm = wc.groupBy($"w").agg(sum($"n").as("n_w"))
    val nTotal = lm.agg(sum($"n_w").as("n_total"))
    wc.join(lm, Seq("w"))
      .crossJoin(nTotal)
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_tokens"),
        round(sum($"n" * -log2($"n_w" / $"n_total")) / sum($"n")
          + lit(1e-9), 6).as("xent_bits"))
      .withColumn("perplexity", round(pow(2.0, $"xent_bits") + lit(1e-9), 4))
      .orderBy($"doc_id")
  }

  val lmPerplexitySql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |lm AS (
      |  SELECT w, count(*) AS n_w, sum(count(*)) OVER () AS n_total
      |  FROM words GROUP BY w),
      |scored AS (
      |  SELECT words.doc_id, count(*) AS n_tokens,
      |    round(avg(-log2(lm.n_w * 1.0 / lm.n_total)) + 1e-9, 6) AS xent_bits
      |  FROM words JOIN lm USING (w)
      |  GROUP BY words.doc_id)
      |SELECT doc_id, n_tokens, xent_bits,
      |  round(pow(2.0, xent_bits) + 1e-9, 4) AS perplexity
      |FROM scored
      |ORDER BY doc_id""".stripMargin

  /** t19: CCNet-style head/middle/tail buckets — per-LANGUAGE perplexity
    * terciles (Wenzek et al. 2020 partition the crawl per language by LM
    * perplexity and keep the "head"). Reuses t14's unigram cross-entropy
    * arithmetic, then derives the two tercile cutoffs per language as a
    * |langs|-row exact-percentile AGGREGATE broadcast back onto the
    * stream (the q26 pattern — never a window partitioned by the
    * 5-value lang key), so classification is map-only. The +1e-9 guard
    * on the cutoff comparison absorbs last-ulp differences in the two
    * engines' percentile interpolation; doc scores are 6-dp-rounded so
    * real data sits ≥1e-6 from any boundary.
    */
  def ccnetBuckets(s: SparkSession, dir: String): DataFrame =
    ccnetBucketsOf(Tables.documents(s, dir))

  /** Core of [[ccnetBuckets]] over any (doc_id, lang, text) frame. */
  def ccnetBucketsOf(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    // Same per-doc word-count discipline as t14: shuffles carry
    // (doc, word, n) rows, never the raw token stream; the per-doc
    // cross-entropy weights by n (≡ avg over tokens).
    val wc = documents
      .select($"doc_id", $"lang",
        explode(org.apache.spark.sql.graft.GraftFunctions
          .word_counts($"text")).as("wc"))
      .select($"doc_id", $"lang", $"wc.w".as("w"), $"wc.n".as("n"))
    val lm = wc.groupBy($"w").agg(sum($"n").as("n_w"))
    val nTotal = lm.agg(sum($"n_w").as("n_total"))
    val scored = wc.join(lm, Seq("w"))
      .crossJoin(nTotal)
      .groupBy($"doc_id", $"lang")
      .agg(round(sum($"n" * -log2($"n_w" / $"n_total")) / sum($"n")
        + lit(1e-9), 6).as("xent_bits"))
    val cuts = scored.groupBy($"lang").agg(
      expr("percentile(xent_bits, 0.33333333)").as("c1"),
      expr("percentile(xent_bits, 0.66666667)").as("c2"))
    scored.join(broadcast(cuts), Seq("lang"))
      .withColumn("bucket",
        when($"xent_bits" <= $"c1" + lit(1e-9), lit("head"))
          .when($"xent_bits" <= $"c2" + lit(1e-9), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(min($"xent_bits"), 6).as("min_xent"),
        round(max($"xent_bits"), 6).as("max_xent"))
      .orderBy($"lang", $"bucket")
  }

  val ccnetBucketsSql: String =
    """WITH words AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |lm AS (
      |  SELECT w, count(*) AS n_w, sum(count(*)) OVER () AS n_total
      |  FROM words GROUP BY w),
      |scored AS (
      |  SELECT words.doc_id, words.lang,
      |    round(avg(-log2(lm.n_w * 1.0 / lm.n_total)) + 1e-9, 6) AS xent_bits
      |  FROM words JOIN lm USING (w)
      |  GROUP BY words.doc_id, words.lang),
      |cuts AS (
      |  SELECT lang,
      |    quantile_cont(xent_bits, 0.33333333) AS c1,
      |    quantile_cont(xent_bits, 0.66666667) AS c2
      |  FROM scored GROUP BY lang),
      |bucketed AS (
      |  SELECT s.lang, s.xent_bits,
      |    CASE WHEN s.xent_bits <= c.c1 + 1e-9 THEN 'head'
      |         WHEN s.xent_bits <= c.c2 + 1e-9 THEN 'middle'
      |         ELSE 'tail' END AS bucket
      |  FROM scored s JOIN cuts c USING (lang))
      |SELECT lang, bucket, count(*) AS n_docs,
      |  round(min(xent_bits), 6) AS min_xent,
      |  round(max(xent_bits), 6) AS max_xent
      |FROM bucketed
      |GROUP BY lang, bucket
      |ORDER BY lang, bucket""".stripMargin

  /** t15: BM25 ranking of documents against a fixed query-term set
    * (k1 = 1.2, b = 0.75) — the retrieval scorer layered on the same
    * stats t08's TF-IDF uses. Doc-frequency + average-length are tiny
    * aggregates broadcast onto per-doc term frequencies; top 20 by
    * rounded score with id tie-break keeps the output deterministic.
    */
  def bm25(s: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "table", "query"), top: Int = 20): DataFrame = {
    import s.implicits._
    val k1 = 1.2; val b = 0.75
    val docs = Tables.documents(s, dir)
    val nDocs = docs.count()
    val words = docs.select($"doc_id", explode(split($"text", " ")).as("w"))
    val docLen = words.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    // avgdl as a scalar aggregate cross-joined in (q26's stats-broadcast
    // pattern) — an unpartitioned window here would push one row per
    // document through a SinglePartition exchange at corpus scale.
    val avgdl = docLen.agg(avg($"dl").as("avgdl"))
    val tf = words.filter($"w".isin(terms: _*))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy($"w").agg(countDistinct($"doc_id").as("df"))
      .withColumn("idf",
        log((lit(nDocs.toDouble) - $"df" + 0.5) / ($"df" + 0.5) + 1.0))
    tf.join(broadcast(idf), Seq("w"))
      .join(docLen, Seq("doc_id"))
      .crossJoin(avgdl)
      .withColumn("term_score",
        $"idf" * ($"tf" * (k1 + 1)) /
          ($"tf" + lit(k1) * (lit(1 - b) + lit(b) * $"dl" / $"avgdl")))
      .groupBy($"doc_id")
      .agg(round(sum($"term_score") + lit(1e-9), 6).as("bm25"),
        count(lit(1)).as("n_matched_terms"))
      .orderBy($"bm25".desc, $"doc_id")
      .limit(top)
  }

  val bm25Sql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |doclen AS (
      |  SELECT doc_id, count(*) AS dl, avg(count(*)) OVER () AS avgdl
      |  FROM words GROUP BY doc_id),
      |tf AS (
      |  SELECT doc_id, w, count(*) AS tf FROM words
      |  WHERE w IN ('spark', 'table', 'query') GROUP BY 1, 2),
      |idf AS (
      |  SELECT w, ln(((SELECT count(*) FROM documents) - count(DISTINCT doc_id) + 0.5)
      |    / (count(DISTINCT doc_id) + 0.5) + 1.0) AS idf
      |  FROM tf GROUP BY w)
      |SELECT tf.doc_id,
      |  round(sum(idf.idf * (tf.tf * 2.2) /
      |    (tf.tf + 1.2 * (1 - 0.75 + 0.75 * doclen.dl / doclen.avgdl))) + 1e-9, 6)
      |    AS bm25,
      |  count(*) AS n_matched_terms
      |FROM tf JOIN idf USING (w) JOIN doclen USING (doc_id)
      |GROUP BY tf.doc_id
      |ORDER BY bm25 DESC, doc_id
      |LIMIT 20""".stripMargin

  /** t17: bigram-LM estimation — the model-BUILDING counterpart of t14's
    * scoring pass: corpus-wide conditional probabilities
    * p(w2|w1) = c(w1,w2) / c(w1,·). The context count is derived from the
    * same bigram rows (count of positions where w1 leads), so a single
    * explode feeds both aggregations. Two partial-agg shuffles + one join
    * on w1 (the unigram side is vocab-sized — AQE broadcasts it). Output
    * is vocab²-bounded: model-sized, never corpus-sized, at any SF.
    */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Map-side per-doc bigram counts (one codegen'd pass), then ONE
    // partial-agg shuffle to corpus counts. The r12 form exploded the
    // bigram stream TWICE (c12 and c1 from separate scans) and joined
    // them — two token-stream shuffles + a join; 6.5× for 10× data.
    // n_context(w1) ≡ Σ_w2 n_bigram(w1, w2), so it's a window over the
    // already-aggregated bigram-vocab table (partitioned by the
    // high-cardinality w1 — no funnel), not a second pass over tokens.
    val c12 = Tables.documents(s, dir)
      .select(explode(org.apache.spark.sql.graft.GraftFunctions
        .bigram_counts($"text")).as("bg"))
      .select($"bg.w1", $"bg.w2", $"bg.n")
      .groupBy($"w1", $"w2").agg(sum($"n").as("n_bigram"))
    c12.withColumn("n_context", sum($"n_bigram")
        .over(org.apache.spark.sql.expressions.Window.partitionBy($"w1")))
      .select($"w1", $"w2", $"n_bigram", $"n_context",
        round($"n_bigram" / $"n_context" + lit(1e-9), 6).as("p"))
      .orderBy($"w1", $"w2")
  }

  val bigramLmSql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
      |b AS (
      |  SELECT toks[i+1] AS w1, toks[i+2] AS w2
      |  FROM (SELECT toks, unnest(range(0, greatest(len(toks)-1, 0))) AS i FROM t)),
      |c12 AS (SELECT w1, w2, count(*) AS n_bigram FROM b GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS n_context FROM b GROUP BY w1)
      |SELECT c12.w1, w2, n_bigram, n_context,
      |  round(n_bigram * 1.0 / n_context + 1e-9, 6) AS p
      |FROM c12 JOIN c1 USING (w1)
      |ORDER BY w1, w2""".stripMargin

  /** q35: mixture-drift detection — KL divergence of each source's
    * doc-length distribution against the corpus distribution: the
    * monitoring statistic a data-mixture pipeline tracks per ingest slice
    * to catch a drifting source (broken scraper, boilerplate flood)
    * before it pollutes a training mix. Fixed-width 100-char bins (q25's
    * binning); KL(p_source ‖ p_corpus) is exact, no sampling.
    *
    * Scale: one partial-agg shuffle over the corpus builds the
    * (source, bin) table; everything after runs on bin-bounded frames —
    * the global-bin side is broadcast, the corpus total is a scalar
    * crossJoin (q26's stats pattern, no unpartitioned window).
    */
  def mixtureDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sb = Tables.documents(s, dir)
      .select($"source", floor($"n_chars" / 100).as("bin"))
      .groupBy($"source", $"bin").agg(count(lit(1)).as("n_sb"))
    val stot = sb.groupBy($"source").agg(sum($"n_sb").as("n_s"))
    val gb = sb.groupBy($"bin").agg(sum($"n_sb").as("n_b"))
    val total = gb.agg(sum($"n_b").as("n_total"))
    sb.join(stot, Seq("source"))
      .join(broadcast(gb), Seq("bin"))
      .crossJoin(total)
      .withColumn("term",
        ($"n_sb" / $"n_s") * log(($"n_sb" / $"n_s") / ($"n_b" / $"n_total")))
      .groupBy($"source")
      .agg(max($"n_s").as("n_docs"),
        round(sum($"term") + lit(1e-9), 6).as("kl_nats"))
      .orderBy($"source")
  }

  val mixtureDriftSql: String =
    """WITH b AS (SELECT source, (n_chars // 100) AS bin FROM documents),
      |sb AS (SELECT source, bin, count(*) AS n_sb FROM b GROUP BY source, bin),
      |st AS (SELECT source, sum(n_sb) AS n_s FROM sb GROUP BY source),
      |gb AS (SELECT bin, sum(n_sb) AS n_b FROM sb GROUP BY bin),
      |t AS (SELECT sum(n_b) AS n_total FROM gb)
      |SELECT sb.source, max(st.n_s)::BIGINT AS n_docs,
      |  round(sum((n_sb * 1.0 / n_s) * ln((n_sb * 1.0 / n_s) / (n_b * 1.0 / n_total)))
      |    + 1e-9, 6) AS kl_nats
      |FROM sb JOIN st USING (source) JOIN gb USING (bin) CROSS JOIN t
      |GROUP BY sb.source
      |ORDER BY source""".stripMargin

  /** t18: PMI co-occurrence — collocation strength of token pairs by
    * document co-occurrence: pmi(a,b) = ln(P(a,b) / (P(a)·P(b))) over
    * per-doc distinct tokens. The phrase-induction / association-mining
    * primitive (which pairs travel together more than chance predicts).
    *
    * Scale: the pair generation is a self-join on doc_id over per-doc
    * DISTINCT tokens — quadratic in per-doc distinct-token count, so the
    * token set is first restricted IN CODE to the top-`vocab` tokens by
    * document frequency (deterministic `(n_w desc, w)` cutoff, a
    * TakeOrderedAndProject over the vocab-sized df table, broadcast
    * semi-join back). A pathological document can then contribute at
    * most vocab·(vocab−1)/2 pairs — bounded by a parameter, not by
    * corpus luck (PmiBoundSpec proves a 10k-distinct-token doc stays
    * capped). df counts for the pmi math stay full-corpus. The
    * doc-frequency side is vocab-sized, the corpus total a scalar
    * crossJoin. Output is vocab²-bounded. All count products are cast
    * to double before multiplying — long·long overflows at corpus scale.
    */
  def pmiCooccur(s: SparkSession, dir: String, minPairDf: Int = 5,
      top: Int = 50, vocab: Int = 2000): DataFrame =
    pmiCooccurOf(Tables.documents(s, dir), minPairDf, top, vocab)

  /** t18's tokenize step: per-doc distinct tokens. Factored so the
    * expensive scan→split→explode→distinct pipeline has exactly one
    * definition — pmiCooccurOf caches its output and every downstream
    * branch (df counts, vocab cutoff, both self-join sides) reads the
    * cached frame instead of re-deriving it from `documents`.
    */
  private def pmiTokens(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("w"))
      .filter(length($"w") > 0)
  }

  /** t18's pair-side token feed: per-doc distinct tokens restricted to
    * the top-`vocab` by document frequency (ties broken by token — a
    * total, engine-portable order). Takes the already-computed (and, in
    * pmiCooccurOf, persisted) `toks`/`dfw` frames so the cutoff never
    * re-tokenizes the corpus.
    */
  private[graft] def pmiVocabTokensFrom(toks: DataFrame, dfw: DataFrame,
      vocab: Int): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    val topVocab = dfw.orderBy($"n_w".desc, $"w").limit(vocab).select($"w")
    toks.join(broadcast(topVocab), Seq("w"), "left_semi")
  }

  /** Convenience wrapper over a raw (doc_id, text) frame — kept for
    * PmiBoundSpec, which asserts the vocab bound on the self-join input
    * directly.
    */
  private[graft] def pmiVocabTokens(documents: DataFrame,
      vocab: Int): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val toks = pmiTokens(documents)
    val dfw = toks.groupBy($"w").agg(count(lit(1)).as("n_w"))
    pmiVocabTokensFrom(toks, dfw, vocab)
  }

  /** Core of t18 over any (doc_id, text) frame. Self-cleaning
    * ([[graft.operators.SelfClean.scope]]): the top-`top` result is
    * checkpointed and the two cached frames released before returning.
    */
  def pmiCooccurOf(documents: DataFrame, minPairDf: Int = 5,
      top: Int = 50, vocab: Int = 2000): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    // Tokenize ONCE: toks feeds dfw, the vocab cutoff, and both sides of
    // the pair self-join — uncached, the scan→explode→distinct pipeline
    // recomputes ~6x per run (r5's 4.2x regression). dfw is likewise
    // read three times (cutoff + n_a + n_b joins).
    graft.operators.SelfClean.scope { keep =>
      val toks = keep(pmiTokens(documents))
      val dfw = keep(toks.groupBy($"w").agg(count(lit(1)).as("n_w")))
      val bounded = pmiVocabTokensFrom(toks, dfw, vocab)
      // n_docs counts ALL documents (even token-less ones) — must come from
      // `documents`, not toks; a count-only scan reads no columns, so the
      // extra pass is footer-cheap.
      val nDocs = documents.agg(count(lit(1)).as("n_docs"))
      val a = bounded.select($"doc_id", $"w".as("w_a"))
      val b = bounded.select($"doc_id", $"w".as("w_b"))
      graft.operators.SelfClean.checkpoint(a.join(b, Seq("doc_id"))
        .filter($"w_a" < $"w_b")
        .groupBy($"w_a", $"w_b").agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= minPairDf)
        // no broadcast hint: dfw grows with the real vocabulary — AQE
        // decides (the t08 rule: never force-broadcast an SF-scaled table)
        .join(dfw.select($"w".as("w_a"), $"n_w".as("n_a")), Seq("w_a"))
        .join(dfw.select($"w".as("w_b"), $"n_w".as("n_b")), Seq("w_b"))
        .crossJoin(nDocs)
        .select($"w_a", $"w_b", $"n_ab",
          round(log(($"n_ab".cast("double") * $"n_docs") /
            ($"n_a".cast("double") * $"n_b")) + lit(1e-9), 6)
            .as("pmi"))
        .orderBy($"pmi".desc, $"w_a", $"w_b")
        .limit(top))
    }
  }

  val pmiCooccurSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents),
      |t AS (SELECT doc_id, w FROM toks WHERE len(w) > 0),
      |dfw AS (SELECT w, count(*) AS n_w FROM t GROUP BY w),
      |vocab AS (SELECT w FROM dfw ORDER BY n_w DESC, w LIMIT 2000),
      |tv AS (SELECT doc_id, w FROM t WHERE w IN (SELECT w FROM vocab)),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |p AS (
      |  SELECT a.w AS w_a, b.w AS w_b, count(*) AS n_ab
      |  FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.w < b.w
      |  GROUP BY a.w, b.w
      |  HAVING count(*) >= 5)
      |SELECT w_a, w_b, n_ab,
      |  round(ln(n_ab * n_docs * 1.0 / (da.n_w * db.n_w)) + 1e-9, 6) AS pmi
      |FROM p
      |JOIN dfw da ON p.w_a = da.w
      |JOIN dfw db ON p.w_b = db.w
      |CROSS JOIN n
      |ORDER BY pmi DESC, w_a, w_b
      |LIMIT 50""".stripMargin

  /** t20: model-based quality scoring — the hashed-feature linear
    * classifier shape (a fastText-style model scored engine-side: every
    * token hashes to a weight, the document score is the tf-weighted
    * mean, the keep gate is the sign — exactly how learned quality
    * filters run inside LLM curation pipelines; the trained weight
    * table would replace the hash family without changing the plan).
    * Weights here are the md5-parity ±1 family (the d11 hyperplane
    * trick) so the WHOLE scoring pipeline is cross-engine checkable.
    *
    * Scale shape (r16): ZERO shuffles — the score is document-local, so
    * one codegen'd pass ([[org.apache.spark.sql.graft
    * .hashing.classifierTokenScore]]) emits each doc's (Σ token weights, token
    * count) and the sigmoid is plain column math. Value-identical to
    * the former explode → groupBy(doc, token) → groupBy(doc) pipeline
    * (both Σ are LONG sums, so the division sees the exact operands the
    * shuffled form produced), minus its full-token-stream double
    * exchange — the t11-class disease, previously sitting inside every
    * p07 quality stage. A trained embedding-table variant broadcasts a
    * |vocab|-row map. Keep decision is sign-exact (numerator sign, no
    * fp threshold straddle).
    */
  def classifierQuality(s: SparkSession, dir: String): DataFrame =
    classifierQualityOf(Tables.documents(s, dir))

  /** The raw tf-weighted mean score column ([[classifierQualityOf]]'s
    * `raw`) — exposed so composed pipelines (p07's quality stage) can
    * gate map-side without the operator's presentation sort or a
    * doc_id semi-join back.
    */
  private[graft] def classifierRawCol: Column = {
    val sc = org.apache.spark.sql.graft.GraftFunctions
      .classifier_token_score(col("text"))
    sc.getField("s").cast("double") / sc.getField("n")
  }

  /** [[classifierQualityOf]]'s rounded sigmoid over [[classifierRawCol]]. */
  private[graft] def classifierProbCol: Column =
    round(lit(1.0) / (lit(1.0) + exp(lit(-4.0) * classifierRawCol))
      + lit(1e-9), 6)

  /** Core of [[classifierQuality]] over any (doc_id, text) frame. */
  def classifierQualityOf(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents
      .filter($"text".isNotNull) // the exploded form dropped null-text rows
      .select($"doc_id", classifierRawCol.as("raw"))
      .select($"doc_id",
        round($"raw" + lit(1e-9), 6).as("score_raw"),
        round(lit(1.0) / (lit(1.0) + exp(lit(-4.0) * $"raw")) + lit(1e-9), 6)
          .as("quality_prob"),
        ($"raw" >= 0).as("keep"))
      .orderBy($"doc_id")
  }

  val classifierQualitySql: String =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT doc_id, w, count(*) AS n FROM w GROUP BY 1, 2),
      |sc AS (SELECT doc_id,
      |  sum(n * (CASE WHEN ('0x' || substring(md5(w), 1, 1))::INT % 2 = 0
      |           THEN 1 ELSE -1 END))::DOUBLE / sum(n) AS raw
      |  FROM wc GROUP BY doc_id)
      |SELECT doc_id, round(raw + 1e-9, 6) AS score_raw,
      |  round(1.0 / (1.0 + exp(-4.0 * raw)) + 1e-9, 6) AS quality_prob,
      |  raw >= 0 AS keep
      |FROM sc ORDER BY doc_id""".stripMargin

  /** t21: Zipf-law fit per language — the slope of log(frequency) against
    * log(rank) over the top-`topK` corpus terms (natural corpora track
    * slope ≈ −1; a corpus whose exponent drifts is template-heavy or
    * scraped junk — a distributional health check next to q35's KL drift).
    *
    * Scale shape: the ranked input is the VOCABULARY-sized (lang, term)
    * frequency table — data-bounded, not corpus-bounded — and the
    * row_number + rank filter compiles to WindowGroupLimit (per-partition
    * partial top-k, the q23 pattern), so no full sort of the vocab table
    * happens either. The regression itself is a |langs|-row moment
    * aggregate.
    */
  def zipfFit(s: SparkSession, dir: String, topK: Int = 200): DataFrame = {
    import s.implicits._
    val wc = Tables.documents(s, dir)
      .select($"lang", explode(split($"text", " ")).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("n"))
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n".desc, $"w")
    wc.withColumn("rnk", row_number().over(byLang))
      .filter($"rnk" <= topK)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_terms"),
        round(regr_slope(log($"n"), log($"rnk")) + lit(1e-9), 6).as("zipf_slope"),
        round(regr_r2(log($"n"), log($"rnk")) + lit(1e-9), 6).as("fit_r2"))
      .orderBy($"lang")
  }

  def zipfFitSql(topK: Int = 200): String =
    s"""WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
       |wc AS (SELECT lang, w, count(*) AS n FROM w GROUP BY 1, 2),
       |rk AS (SELECT lang, w, n,
       |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS rnk FROM wc),
       |top AS (SELECT * FROM rk WHERE rnk <= $topK)
       |SELECT lang, count(*) AS n_terms,
       |  round(regr_slope(ln(n), ln(rnk)) + 1e-9, 6) AS zipf_slope,
       |  round(regr_r2(ln(n), ln(rnk)) + 1e-9, 6) AS fit_r2
       |FROM top GROUP BY lang ORDER BY lang""".stripMargin

  /** t22: Gopher-style rule-based document filter (Rae et al. 2021,
    * App. A "quality filtering" — the canonical pre-training hygiene
    * gate, complementary to t02's scalar score and t20's learned one):
    * per-rule boolean flags PLUS the composite keep decision, so
    * curation can both filter and report per-rule kill rates. The
    * rules with signal on a punctuation-free corpus: word-count bounds
    * (Gopher's canonical [50, 100k]), mean-word-length bounds
    * ([3, 10]), and stopword evidence (≥ `minStopKinds` distinct
    * members of the en profile — Gopher's "2 of 8 common words" rule
    * over this engine's t01 stopword family).
    *
    * Scale shape: map-only over the documents scan — every predicate
    * is a codegen'd functions-combinator on the row, no shuffle exists
    * until the presentation sort (which the 100 TB form drops,
    * writing the filtered corpus partition-local). Rule thresholds
    * compare the UN-rounded ratio in both engines (the division of two
    * exact integer counts is the same IEEE double everywhere); only
    * the REPORTED ratio is rounded, with the +1e-9 tie-break idiom.
    */
  def gopherFilter(s: SparkSession, dir: String, minWords: Int = 50,
      maxWords: Int = 100000, minMwl: Double = 3.0, maxMwl: Double = 10.0,
      minStopKinds: Int = 2): DataFrame =
    gopherFilterOf(Tables.documents(s, dir), minWords, maxWords, minMwl,
      maxMwl, minStopKinds)

  /** Core of [[gopherFilter]] over any (doc_id, text) frame. */
  // gopher gate sub-expressions, shared by the operator and the fused
  // p07 quality stage. mean_word_len's non-whitespace char count is
  // `length - whitespaceCount` (every Java `\s` char is one code point,
  // so stripping them removes exactly whitespaceCount chars) — value-
  // identical to the regexp_replace("\\s+","") full-document copy it
  // replaces (the r15 allocate-to-count discipline; spec-pinned).
  private[graft] def gopherNw: Column = wsTokenCount(col("text"))
  private[graft] def gopherMwl: Column =
    (length(col("text")) - org.apache.spark.sql.graft.GraftFunctions
      .whitespace_count(col("text"))).cast("double") / gopherNw
  private[graft] def gopherStopKinds: Column =
    Seq("the", "a", "of", "and", "is").map { w =>
      when(col("text").rlike("\\b" + w + "\\b"), 1).otherwise(0)
    }.reduce(_ + _)

  /** The composed keep predicate ([[gopherFilterOf]]'s `keep` column) —
    * exposed so p07's quality stage gates map-side in one pass.
    */
  private[graft] def gopherKeepCol(minWords: Int, maxWords: Int,
      minMwl: Double, maxMwl: Double, minStopKinds: Int): Column =
    (gopherNw >= minWords && gopherNw <= maxWords) &&
      (gopherMwl >= minMwl && gopherMwl <= maxMwl) &&
      (gopherStopKinds >= minStopKinds)

  def gopherFilterOf(documents: DataFrame, minWords: Int = 50,
      maxWords: Int = 100000, minMwl: Double = 3.0, maxMwl: Double = 10.0,
      minStopKinds: Int = 2): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val nw = gopherNw
    val mwl = gopherMwl
    val stopKinds = gopherStopKinds
    documents.select(
        $"doc_id",
        nw.as("n_words"),
        round(mwl + lit(1e-9), 6).as("mean_word_len"),
        stopKinds.as("n_stop_kinds"),
        (nw >= minWords && nw <= maxWords).as("ok_words"),
        (mwl >= minMwl && mwl <= maxMwl).as("ok_word_len"),
        (stopKinds >= minStopKinds).as("ok_stop"))
      .withColumn("keep", $"ok_words" && $"ok_word_len" && $"ok_stop")
      .orderBy($"doc_id")
  }

  def gopherFilterSql(minWords: Int = 50, maxWords: Int = 100000,
      minMwl: Double = 3.0, maxMwl: Double = 10.0,
      minStopKinds: Int = 2): String =
    s"""WITH s AS (SELECT doc_id,
       |  len(regexp_split_to_array(text, '\\s+')) AS n_words,
       |  len(regexp_replace(text, '\\s+', '', 'g')) AS word_chars,
       |  (CASE WHEN regexp_matches(text, '\\bthe\\b') THEN 1 ELSE 0 END +
       |   CASE WHEN regexp_matches(text, '\\ba\\b') THEN 1 ELSE 0 END +
       |   CASE WHEN regexp_matches(text, '\\bof\\b') THEN 1 ELSE 0 END +
       |   CASE WHEN regexp_matches(text, '\\band\\b') THEN 1 ELSE 0 END +
       |   CASE WHEN regexp_matches(text, '\\bis\\b') THEN 1 ELSE 0 END)
       |    AS n_stop_kinds
       |  FROM documents)
       |SELECT doc_id, n_words,
       |  round(word_chars * 1.0 / n_words + 1e-9, 6) AS mean_word_len,
       |  n_stop_kinds,
       |  n_words >= $minWords AND n_words <= $maxWords AS ok_words,
       |  word_chars * 1.0 / n_words >= $minMwl AND
       |    word_chars * 1.0 / n_words <= $maxMwl AS ok_word_len,
       |  n_stop_kinds >= $minStopKinds AS ok_stop,
       |  (n_words >= $minWords AND n_words <= $maxWords) AND
       |    (word_chars * 1.0 / n_words >= $minMwl AND
       |     word_chars * 1.0 / n_words <= $maxMwl) AND
       |    n_stop_kinds >= $minStopKinds AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t20_classifier_quality" -> classifierQuality _,
    "t21_zipf_fit" -> ((s: SparkSession, d: String) => zipfFit(s, d)),
    "t14_lm_perplexity" -> lmPerplexity _,
    "t15_bm25" -> ((s: SparkSession, d: String) => bm25(s, d)),
    "t10_winnow_fingerprint" -> ((s: SparkSession, d: String) => winnowFingerprint(s, d)),
    "t11_vocab_stats" -> vocabStats _,
    "t12_entropy" -> entropy _,
    "t13_heavy_hitters" -> ((s: SparkSession, d: String) => heavyHitters(s, d)),
    "t09_repetition" -> repetition _,
    "d06_decontaminate" -> decontaminate _,
    "d16_decontaminate_bloom" ->
      ((s: SparkSession, d: String) => decontaminateBloom(s, d)),
    "q20_quota_sample" -> ((s: SparkSession, d: String) => quotaSample(s, d)),
    "t08_tfidf" -> tfidf _,
    "q19_profile" -> profile _,
    "t07_edit_distance" -> editDistance _,
    "q18_lang_pivot" -> langPivot _,
    "t06_approx_distinct" -> approxDistinct _,
    "t05_quality_percentiles" -> qualityPercentiles _,
    "q16_nested_agency_docs" -> nestedAgencyDocs _,
    "q08_doc_extract" -> docExtract _,
    "q09_json_extract" -> jsonExtract _,
    "q33_nested_json_flatten" -> nestedJsonFlatten _,
    "p02_sequence_pack" -> ((s: SparkSession, d: String) => sequencePack(s, d)),
    "t16_normalize" -> normalizeText _,
    "t17_bigram_lm" -> bigramLm _,
    "q35_mixture_drift" -> mixtureDrift _,
    "t18_pmi_cooccur" -> ((s: SparkSession, d: String) => pmiCooccur(s, d)),
    "p03_stratified_split" -> stratifiedSplit _,
    "p06_epoch_shuffle" ->
      ((s: SparkSession, d: String) => epochShuffle(s, d)),
    "p08_curriculum" ->
      ((s: SparkSession, d: String) => curriculumSchedule(s, d)),
    "p04_temperature_mix" -> ((s: SparkSession, d: String) => temperatureMix(s, d)),
    "p05_importance_resample" ->
      ((s: SparkSession, d: String) => importanceResample(s, d)),
    "t19_ccnet_buckets" -> ccnetBuckets _,
    "q10_keyword_reduce" -> keywordReduce _,
    "q11_keyword_docfreq" -> keywordDocfreq _,
    "q12_agency_rollup" -> agencyRollup _,
    "t01_langid" -> langid _,
    "t26_script_langid" -> ((s: SparkSession, d: String) => scriptLangid(s, d)),
    "t02_quality" -> quality _,
    "t03_tokens" -> tokens _,
    "t04_fingerprint" -> fingerprintQ _,
    "t22_gopher_filter" -> ((s: SparkSession, d: String) => gopherFilter(s, d)))

  val oracles: Map[String, String] = Events.withEventsView(Map(
    "t20_classifier_quality" -> classifierQualitySql,
    "t21_zipf_fit" -> zipfFitSql(),
    "t14_lm_perplexity" -> lmPerplexitySql,
    "t15_bm25" -> bm25Sql,
    "t11_vocab_stats" -> vocabStatsSql,
    "t12_entropy" -> entropySql,
    "t09_repetition" -> repetitionSql,
    "d06_decontaminate" -> decontaminateSql,
    // d16 is semantically identical to d06 (Bloom is a pre-filter, the
    // semi-join re-verifies exactly) — one oracle covers both paths.
    "d16_decontaminate_bloom" -> decontaminateSql,
    "q20_quota_sample" -> quotaSampleSql,
    "t08_tfidf" -> tfidfSql,
    "q19_profile" -> profileSql,
    "t07_edit_distance" -> editDistanceSql,
    "q18_lang_pivot" -> langPivotSql,
    "t05_quality_percentiles" -> qualityPercentilesSql,
    "q16_nested_agency_docs" -> nestedAgencyDocsSql,
    "q08_doc_extract" -> docExtractSql,
    "q09_json_extract" -> jsonExtractSql,
    "q33_nested_json_flatten" -> nestedJsonFlattenSql,
    "p02_sequence_pack" -> sequencePackSql,
    "t16_normalize" -> normalizeTextSql,
    "t17_bigram_lm" -> bigramLmSql,
    "q35_mixture_drift" -> mixtureDriftSql,
    "t18_pmi_cooccur" -> pmiCooccurSql,
    "p03_stratified_split" -> stratifiedSplitSql,
    "p06_epoch_shuffle" -> epochShuffleSql,
    "p08_curriculum" -> curriculumScheduleSql,
    "p04_temperature_mix" -> temperatureMixSql,
    "p05_importance_resample" -> importanceResampleSql,
    "t19_ccnet_buckets" -> ccnetBucketsSql,
    "q10_keyword_reduce" -> keywordReduceSql,
    "q11_keyword_docfreq" -> keywordDocfreqSql,
    "q12_agency_rollup" -> agencyRollupSql,
    "t01_langid" -> langidSql,
    "t26_script_langid" -> scriptLangidSql,
    "t02_quality" -> qualitySql,
    "t03_tokens" -> tokensSql,
    "t04_fingerprint" -> fingerprintSql,
    "t22_gopher_filter" -> gopherFilterSql()))
}
