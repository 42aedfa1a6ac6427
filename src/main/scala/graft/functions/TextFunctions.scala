package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions (SURVEY.md §2 t01–t04).
  *
  * All built from `org.apache.spark.sql.functions` so they stay inside
  * whole-stage codegen — no UDFs. Each mirrors a capability of the
  * reference's regex extraction layer (extract_document_info.py:30-232)
  * generalized to LLM-pipeline text hygiene.
  */
object TextFunctions {

  /** Language stopword profiles for the n-gram/stopword language ID
    * heuristic. Word-boundary regex alternations keep it codegen-friendly.
    */
  val langProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|and|is)\\b",
    "fr" -> "\\b(le|la|et|les|une)\\b",
    "es" -> "\\b(el|los|y|que|una)\\b",
    "de" -> "\\b(der|die|und|das|ein)\\b")

  /** Number of regex matches in a string column; NULL input → NULL
    * count (the TokenCountSpec null contract — size() alone would
    * emit its -1 sentinel, which no SQL engine's len() agrees with).
    */
  def matchCount(c: Column, pattern: String): Column =
    when(c.isNotNull, size(regexp_extract_all(c, lit(pattern), lit(0))))

  private val profileWords: Seq[Seq[String]] =
    langProfiles.map(_._2.stripPrefix("\\b(").stripSuffix(")\\b").split('|').toSeq)

  /** Per-language stopword hit scores — one TokenProfileCounts scan for
    * all four profiles (counts identical to the per-profile
    * \b-alternation regexes; equivalence pinned in PropertySpec).
    */
  def langScores(text: Column): Seq[(String, Column)] = {
    val counts = org.apache.spark.sql.graft.GraftFunctions
      .token_profile_counts(text, profileWords)
    langProfiles.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(counts, i + 1)
    }
  }

  /** argmax over scores with fixed tie-break order (profile order). */
  def predictLang(scores: Seq[(String, Column)]): Column = {
    val ordered = scores // tie-break = declaration order
    ordered.tail.foldLeft(
        (when(lit(true), lit(ordered.head._1)), ordered.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
         greatest(bestScore, score))
    }._1
  }

  /** Whitespace token count — the codegen'd hashing.wsTokenCount byte scan,
    * value-identical to `size(split(text, "\\s+"))` (spec-pinned in
    * TokenCountSpec) without materializing the word-string array that
    * form allocated per row just to take its length.
    */
  def wsTokenCount(text: Column): Column =
    org.apache.spark.sql.graft.GraftFunctions.ws_token_count(text)

  /** Fraction of characters that are whitespace — the signal that decides
    * whether whitespace tokenization is meaningful at all. CJK and other
    * unsegmented scripts sit near 0; segmented prose sits near 0.15–0.2.
    * (Code points on both engines: Spark `length` counts code points,
    * DuckDB `length` likewise.) The numerator is the codegen'd
    * hashing.whitespaceCount byte scan — value-identical to the former
    * `length(text) - length(regexp_replace(text, "\\s", ""))` (spec-pinned
    * in CjkSpec), which allocated a full copy of every document per row
    * and cost 1.4–3 s of d02c's/t26's sf10 wall on its own.
    */
  def whitespaceDensity(text: Column): Column =
    round(org.apache.spark.sql.graft.GraftFunctions.whitespace_count(text)
      .cast("double") / greatest(length(text), lit(1)) + lit(1e-9), 6)

  /** Characters in a Unicode script, via Java's `\p{Is<Script>}` classes
    * (DuckDB's RE2 spells the same classes `\p{<Script>}` — both follow
    * the Unicode Script property, so counts agree cross-engine).
    */
  def scriptCharCount(text: Column, javaScriptClass: String): Column =
    length(regexp_replace(text, s"[^$javaScriptClass]", ""))

  /** Han / kana (hiragana+katakana) / hangul char counts — the three
    * signals behind the script-aware language fallback (t26). One fused
    * hashing.cjkScriptCounts decode pass (value-identical to three
    * [[scriptCharCount]] regexp_replace copies — CjkSpec pins it; Java
    * `\p{IsHan}` IS `Character.UnicodeScript.HAN` membership).
    */
  def cjkCounts(text: Column): (Column, Column, Column) = {
    val counts = org.apache.spark.sql.graft.GraftFunctions
      .cjk_script_counts(text)
    (element_at(counts, 1), element_at(counts, 2), element_at(counts, 3))
  }

  /** Adaptive token count: whitespace words when the text is
    * whitespace-segmented, non-space character count when it isn't (the
    * standard public fallback for unsegmented scripts — CJK chars carry
    * ≈1 token each, so the char count is the honest budget unit where
    * `split(' ')` would count a whole document as one token). `wsThresh`
    * = minimum whitespace density to trust word splitting (CJK prose
    * sits at ~0, segmented prose at ~0.15+).
    */
  def adaptiveTokenCount(text: Column, wsThresh: Double = 0.05): Column =
    when(whitespaceDensity(text) < wsThresh,
      length(text) - org.apache.spark.sql.graft.GraftFunctions
        .whitespace_count(text))
      .otherwise(org.apache.spark.sql.graft.GraftFunctions
        .space_token_count(text))

  /** BPE-ish pre-tokenizer count: letter runs, digit runs, single
    * punctuation — the standard GPT-2-style pre-split shape. The
    * codegen'd hashing.bpeishTokenCount byte scan, value-identical to
    * `size(regexp_extract_all(text, "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))`
    * (spec-pinned in TokenCountSpec) without the regex engine or the
    * per-row array of matched token strings that form allocated just to
    * count.
    */
  def bpeTokenCount(text: Column): Column =
    org.apache.spark.sql.graft.GraftFunctions.bpeish_token_count(text)

  /** Normalized text: lowercase, non-alphanumeric runs collapsed to single
    * spaces, trimmed. Basis for content fingerprinting (dedup-stable).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Content fingerprint over normalized text (reference hashes raw bytes,
    * extract_pdf_text.py:36-47; normalizing first makes the fingerprint
    * robust to whitespace/case jitter, which is what near-dup pipelines use).
    */
  def fingerprint(text: Column): Column = md5(normalizeText(text))

  /** Stopword ratio (English profile) — quality-scoring feature. */
  def stopwordRatio(text: Column): Column =
    round(langScores(text).head._2.cast("double") / wsTokenCount(text), 6)

  /** Ratio of lowercase-alpha chars to all chars. */
  def alphaRatio(text: Column): Column =
    round(length(regexp_replace(text, "[^a-z]", "")).cast("double") /
      length(text), 6)

  /** Deterministic filename from (agency, title, date) — the reference's
    * generated_filename convention (get_download_list.py:37-46: strip,
    * spaces→underscores, slashes sanitized, lowercased, date-suffixed).
    */
  def generatedFilename(agency: Column, title: Column, date: Column,
      ext: String = "pdf"): Column =
    lower(concat(
      regexp_replace(regexp_replace(trim(agency), " ", "_"), "/", "_"),
      lit("_"),
      regexp_replace(regexp_replace(trim(title), " ", "_"), "/", "-"),
      lit("_"), date_format(date, "yyyy-MM-dd"), lit("." + ext)))

  /** Strip the `_YYYY-MM-DD.pdf` suffix — the reference's
    * dateless-filename normalization (get_download_list.py:21).
    */
  def stripDateSuffix(filename: Column): Column =
    regexp_replace(filename, "_\\d{4}-\\d{2}-\\d{2}\\.pdf$", "")

  /** Normalize a free-text severity level to low/moderate/severe/'' —
    * reference semantics (update_violation_levels.py:182-204).
    */
  def normalizeLevel(level: Column): Column = {
    val l = lower(level)
    when(l.isin("low", "moderate", "severe"), l)
      .when(l.contains("low"), "low")
      .when(l.contains("moderate") || l.contains("medium"), "moderate")
      .when(l.contains("severe") || l.contains("high"), "severe")
      .otherwise("")
  }
}
