package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import scala.util.control.NonFatal

/** Deduplication family (SURVEY.md §2 d01–d05): the operators a
  * training-data pipeline runs over a 100 TB document corpus.
  *
  * Scale design:
  *  - d01 exact: one shuffle on the content hash; keeper chosen by min(id)
  *    aggregation (no window sort needed).
  *  - d02 MinHash-LSH: signatures computed map-side (64 hashes/doc), then a
  *    single shuffle on (band, band_hash); candidate pairs are generated
  *    per-bucket, never O(n²) over the corpus. Oversized buckets (hash
  *    skew / boilerplate) are capped — the standard LSH skew guard.
  *  - d03 SimHash: 64-bit fingerprints map-side, shuffle on 16-bit band.
  *  - d04 n-gram Jaccard: exact verification on a bounded candidate set
  *    (in production: the pairs emitted by d02/d03).
  *  - d05 embedding near-dup: same shape as d04 over vector cosine.
  */
object Dedup {

  // Column-arg bit shifts (the Scala API only exposes Int shift amounts).
  private[operators] def shl(c: Column, b: Column): Column =
    call_function("shiftleft", c, b)
  private[operators] def shr(c: Column, b: Column): Column =
    call_function("shiftright", c, b)
  private[operators] def shru(c: Column, b: Column): Column =
    call_function("shiftrightunsigned", c, b)

  /** d01: exact dedup by content hash, keep the smallest doc_id.
    * Reference semantics: skip-if-sha-already-seen (extract_pdf_text.py:191).
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(sha2($"text", 256).as("content_hash"))
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"content_hash")
  }

  val dedupExactSql: String =
    """SELECT sha256(text) AS content_hash,
      |  min(doc_id) AS keeper_doc_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY sha256(text)
      |ORDER BY content_hash""".stripMargin

  /** Distinct word n-gram shingles (the single-pass kernel
    * org.apache.spark.sql.graft.hashing.wordShingles).
    */
  def shingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.GraftFunctions.word_shingles(text, n)

  /** d02: MinHash + LSH banding near-duplicate candidates, verified with
    * exact Jaccard. bands=16 × rows=4 over k=64 (s-curve threshold ≈ 0.5).
    */
  def dedupMinhash(s: SparkSession, dir: String,
      bands: Int = 16, rows: Int = 4, maxBucket: Int = 64,
      minJaccard: Double = 0.5): DataFrame =
    minhashPairs(Tables.documents(s, dir), bands, rows, maxBucket, minJaccard)

  /** Core of d02 over any (doc_id, text) frame.
    *
    * Shuffle discipline (the part that matters at 100 TB): the banding
    * shuffle carries only (doc_id, band, band_hash) — 24 bytes/row — never
    * the shingle arrays. The skew-guard + singleton-prune run as a window
    * over that same single shuffle. Shingle sets rejoin only for the
    * (tiny) candidate pair set, keyed by doc_id.
    *
    * Self-cleaning ([[SelfClean.releasing]]): the hashed-shingle frame
    * feeds banding AND both sides of the candidate verification join (3
    * uses), so it is persisted — the upstream scan + shingle computation
    * runs once, not three times; at scale the recompute dominates — and
    * released once the bounded pair set is checkpointed. Shingles are
    * carried as 64-bit hashes, not strings (hashing.wordShingleHashes): ~3× less
    * cache + verify-join traffic with identical Jaccard counts.
    */
  def minhashPairs(documents: DataFrame,
      bands: Int = 16, rows: Int = 4, maxBucket: Int = 64,
      minJaccard: Double = 0.5, oversizedLink: Boolean = false): DataFrame =
    SelfClean.releasing(shingleFrame(documents))(minhashPairsFromShingles(_,
      bands, rows, maxBucket, minJaccard, oversizedLink))

  /** The band/verify pipeline over an already-built (and persisted —
    * it's read three times) hashed-shingle frame (doc_id, sh). Shared by
    * the text path above and d18b's fused segment path, whose shingle
    * hashes come out of
    * [[org.apache.spark.sql.graft.hashing.segmentShingleHashes]]
    * value-identical to [[shingleFrame]]'s, so both feed the same
    * machinery.
    */
  private[graft] def minhashPairsFromShingles(shingled: DataFrame,
      bands: Int, rows: Int, maxBucket: Int, minJaccard: Double,
      oversizedLink: Boolean = false): DataFrame = {
    val s = shingled.sparkSession
    import s.implicits._
    val docs = shingled.filter(size($"sh") > 0)
    val banded = minhashBandedFrom(docs, bands, rows)

    // ONE partial-aggregatable shuffle of the banding stream settles
    // every bucket: exact population, exact min-id representative, and
    // the member list CAPPED at maxBucket+1 entries (CappedCollectLong
    // — complete precisely when the bucket is under the cap, which is
    // the only case pair expansion reads it). Under boilerplate skew a
    // hot bucket's buffer still never exceeds maxBucket+1 longs and
    // partial aggregation collapses the hot key map-side before the
    // exchange — the skew-safety the former stats-groupBy + join-back +
    // self-join shape bought by re-reading the banding stream three
    // times. Measured at sf1 (r14, CHANGELOG.md): 2.4-3× faster with
    // bit-identical pairs; Spark's own collect_list would instead
    // buffer the full hot bucket (the OOM shape the cap exists to
    // prevent).
    val buckets = banded.groupBy($"band", $"band_hash")
      .agg(org.apache.spark.sql.graft.GraftFunctions
        .capped_collect_long($"doc_id", maxBucket + 1).as("cb"))
    val allPairs = buckets
      .filter($"cb.n" >= 2 && $"cb.n" <= maxBucket)
      .select(explode(org.apache.spark.sql.graft.GraftFunctions
        .ordered_pairs(sort_array($"cb.members"))).as("p"))
      .select($"p.a".as("doc_a"), $"p.b".as("doc_b"))

    // Oversized buckets: default is drop-with-observability
    // (minhashDroppedBuckets reports them; exact dedup upstream owns
    // verbatim mass). With `oversizedLink` each member is instead paired
    // against the bucket's min-id representative — O(bucket_n) candidate
    // rows, never the O(bucket_n²) all-pairs grind — so a hot NEAR-dup
    // template (distinct texts, no exact-stage collapse) is still
    // flagged; transitive closure via dedupClusters recovers
    // member-member edges through the shared representative. Membership
    // past the cap is not in the capped list, so this leg re-derives
    // banding rows for JUST the oversized bucket keys — a handful of
    // hot keys in any healthy corpus (AQE broadcasts the key set).
    val candidates = (if (!oversizedLink) allPairs else {
      val over = buckets.filter($"cb.n" > maxBucket)
        .select($"band", $"band_hash", $"cb.rep".as("rep"))
      val starred = minhashBandedFrom(docs, bands, rows)
        .join(over, Seq("band", "band_hash"))
        .filter($"doc_id" =!= $"rep")
        .select($"rep".as("doc_a"), $"doc_id".as("doc_b"))
      allPairs.unionByName(starred)
    }).dropDuplicates("doc_a", "doc_b")

    val withSh = candidates
      .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), Seq("doc_a"))
      .join(docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), Seq("doc_b"))

    // shingle-hash arrays are sorted (hashing.wordShingleHashes) → merge-walk
    // intersection instead of array_intersect's per-pair hash set
    val ni = org.apache.spark.sql.graft.GraftFunctions
      .sorted_intersection_size($"sh_a", $"sh_b")
    withSh
      .withColumn("jaccard",
        round(ni.cast("double") / (size($"sh_a") + size($"sh_b") - ni), 6))
      .filter($"jaccard" >= minJaccard)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** d02c: MinHash near-dup with the CJK/whitespace-free fallback
    * (VERDICT r14 #6). Word 3-shingles are structurally blind to
    * unsegmented scripts: a CJK document splits to ONE "word", yields
    * zero 3-shingles, and is silently dropped from near-dup entirely.
    * Here each document picks its shingle family by whitespace density —
    * word 3-shingles where whitespace segments, char `k`-gram shingles
    * (hashing.charShingleHashes, same sorted-distinct array<long> contract)
    * where it doesn't — and BOTH feed the identical single-shuffle
    * banding + merge-walk-verify machinery. Cross-family candidate pairs
    * can only arise from band-hash collisions and die at verify (the two
    * families hash disjoint gram spaces, so true cross-family Jaccard is
    * ~0); within a family the semantics are exactly d02's. On a fully
    * whitespace-segmented corpus this is bit-identical to d02
    * (CjkSpec pins both directions). k=6 chars ≈ a 3-word gram's
    * discrimination at CJK char entropy (~2 chars/word, public CCNet/
    * cc100 practice).
    */
  def dedupMinhashAdaptive(s: SparkSession, dir: String,
      bands: Int = 16, rows: Int = 4, maxBucket: Int = 64,
      minJaccard: Double = 0.5, k: Int = 6,
      wsThresh: Double = 0.05): DataFrame =
    minhashPairsAdaptive(Tables.documents(s, dir), bands, rows, maxBucket,
      minJaccard, k, wsThresh)

  /** Core of d02c over any (doc_id, text) frame — [[minhashPairs]] with
    * the adaptive shingle frame, same self-cleaning lifecycle.
    */
  def minhashPairsAdaptive(documents: DataFrame,
      bands: Int = 16, rows: Int = 4, maxBucket: Int = 64,
      minJaccard: Double = 0.5, k: Int = 6,
      wsThresh: Double = 0.05): DataFrame =
    SelfClean.releasing(shingleFrameAdaptive(documents, k, wsThresh))(
      minhashPairsFromShingles(_, bands, rows, maxBucket, minJaccard))

  /** Per-document adaptive hashed-shingle frame: char k-grams below the
    * whitespace-density threshold, word 3-shingles above it. One
    * map-side pass; the density test and both shingle families are
    * codegen'd expressions.
    */
  private[graft] def shingleFrameAdaptive(documents: DataFrame, k: Int,
      wsThresh: Double): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents
      .select($"doc_id",
        when(graft.functions.TextFunctions.whitespaceDensity($"text")
            < wsThresh,
          org.apache.spark.sql.graft.GraftFunctions
            .char_shingle_hashes($"text", k))
          .otherwise(org.apache.spark.sql.graft.GraftFunctions
            .word_shingle_hashes($"text", 3)).as("sh"))
      .filter(size($"sh") > 0)
  }

  /** Hashed word 3-shingles of a text column — the `sh` the dedup index
    * stores and probes with.
    */
  private[graft] def shingleHashes(text: Column): Column =
    org.apache.spark.sql.graft.GraftFunctions.word_shingle_hashes(text, 3)

  /** The hashed-shingle frame minhash banding runs over. */
  private def shingleFrame(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents
      .select($"doc_id", shingleHashes($"text").as("sh"))
      .filter(size($"sh") > 0)
  }

  /** MinHash band hashes exploded into (doc_id, band, band_hash) —
    * shared by the pair generator and the dropped-bucket diagnostic so
    * both always see exactly the same buckets. ONE fused codegen'd pass
    * (hashing.minhashBandHashes: signature minima folded straight into per-band
    * XXH64 digests, bit-identical to the former
    * xxhash64(slice(sig, …)) form — DedupSpec pins the equality) — the
    * d18 stage probe at sf10 named the former shape's map side (64-long
    * sig column materialized per row + 16 per-band slice allocations +
    * generic array hashing, over 3M keeper segments) as 80%+ of the
    * segment near-dup wall.
    */
  private def minhashBandedFrom(shingled: DataFrame, bands: Int,
      rows: Int): DataFrame = {
    val s = shingled.sparkSession
    import s.implicits._
    shingled
      .select($"doc_id",
        posexplode(org.apache.spark.sql.graft.GraftFunctions
          .minhash_band_hashes($"sh", bands, rows)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** Observability for d02's bucket cap (same contract as
    * `simhashDroppedBuckets`): the (band, band_hash) buckets minhashPairs
    * prunes as oversized, with their populations. One partial-agg groupBy
    * over a fresh banding pass — a diagnostic scan, not part of the pair
    * pipeline.
    */
  def minhashDroppedBuckets(documents: DataFrame, bands: Int = 16,
      rows: Int = 4, maxBucket: Int = 64): DataFrame =
    droppedBuckets(minhashBandedFrom(shingleFrame(documents), bands, rows),
      Seq("band", "band_hash"), maxBucket)

  /** The bucket-cap diagnostic every `*DroppedBuckets` shares: the
    * `keys` buckets holding more than `maxBucket` rows, with their
    * populations as `bucket_n`, sorted by key. One partial-aggregatable
    * groupBy, no window.
    */
  private def droppedBuckets(banded: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame =
    banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .orderBy(keys.map(col): _*)

  /** 64-bit SimHash fingerprint from the token multiset (custom Catalyst
    * expression — one xxhash64 per token + 64 counters in a tight loop;
    * the HOF form of the same math cost 385 s at sf0.1, this runs in ~2 s).
    */
  def simhash(text: Column): Column =
    org.apache.spark.sql.graft.GraftFunctions.simhash64(split(text, " "))

  /** d03: SimHash near-dup candidates: fingerprints bucketed by 16-bit
    * bands (a fingerprint pair within hamming distance 3 shares at least
    * one of 4 bands), verified by exact hamming distance.
    */
  def dedupSimhash(s: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairs(Tables.documents(s, dir), maxHamming)

  /** Core of d03 over any (doc_id, text) frame.
    *
    * The (band, band_bits) key space is only 4 × 2^16 ≈ 262k distinct
    * buckets, so bucket population grows O(n) with the corpus and an
    * uncapped self-join is O(n²/262k) — quadratic at scale. Same guard
    * as minhashPairs: one window over the banding shuffle counts the
    * bucket, keep 2..maxBucket (singletons can't pair; oversized buckets
    * are boilerplate skew a near-dup pass should not quadratically grind
    * through — exact dedup handles those upstream). Pruned buckets are
    * not silent: `simhashDroppedBuckets` reports them.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    // Aggregate-then-join bucket cap, not a bucket-partitioned window —
    // same straggler reasoning as minhashPairs (a hot bucket in a window
    // is one unsplittable sort task; the join-back is AQE-splittable).
    val bandedFp = simhashBanded(documents)
    val eligible = bandedFp.groupBy($"band", $"band_bits")
      .agg(count(lit(1)).as("bucket_n"))
      .filter($"bucket_n" >= 2 && $"bucket_n" <= maxBucket)
      .select($"band", $"band_bits")
    val bucketed = bandedFp.join(eligible, Seq("band", "band_bits"))

    val a = bucketed.select($"band", $"band_bits", $"doc_id".as("doc_a"), $"fp".as("fp_a"))
    val b = bucketed.select($"band", $"band_bits", $"doc_id".as("doc_b"), $"fp".as("fp_b"))
    a.join(b, Seq("band", "band_bits"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        bit_count($"fp_a".bitwiseXOR($"fp_b")).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter($"hamming" <= maxHamming)
      .orderBy($"doc_a", $"doc_b")
  }

  /** SimHash fingerprints exploded into 4 × 16-bit band buckets — shared
    * by the pair generator and the dropped-bucket diagnostic.
    */
  private def simhashBanded(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents
      // token-less docs (NULL/empty/whitespace-only) all hash to fp = 0
      // and would pair with each other at hamming 0 — a fingerprint of
      // nothing carries no signal (hostile-gate finding). The md5
      // sibling d03b already excludes them structurally (no shingles →
      // no bands); this pins the same contract for the xxhash64 family.
      .filter(coalesce($"text", lit("")).rlike("\\S"))
      .select($"doc_id", simhash($"text").as("fp"))
      .select($"doc_id", $"fp",
        posexplode(transform(sequence(lit(0), lit(3)),
          b => shru($"fp", b * 16).bitwiseAND(0xFFFFL))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_bits")
  }

  /** d02b: the MinHash-LSH banding pipeline with an engine-portable hash
    * family (md5 instead of the xxhash64/splitmix family the production
    * d02 expression uses) over a bounded doc window — so the LSH
    * MECHANICS (per-seed min over shingles → banded signature digest →
    * bucket self-join → candidate pairs) get an exact cross-engine DuckDB
    * check, not just statistical spec coverage (VERDICT r4 #5). d02
    * remains the production path: its one-hash hashing.minhashSig kernel is
    * ~k× cheaper per shingle; this variant's |shingles|×k explode is the
    * price of portability, paid only inside the bounded window.
    * bands=8 × rows=2 over k=16 (s-curve threshold ≈0.35 — tuned so the
    * synthetic corpus yields candidate pairs at every test SF; an empty
    * candidate set would make the cross-engine check vacuous).
    */
  /** (doc_id, band, band_hash) from the md5-portable MinHash family —
    * the banding core shared by d02b's self-join and d14's
    * corpus-vs-delta probe.
    */
  private def portableBands(documents: DataFrame, k: Int,
      rows: Int): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val sh = documents
      .select($"doc_id", explode(shingles($"text", 3)).as("sh"))
    val hashed = sh
      .select($"doc_id", explode(sequence(lit(0), lit(k - 1))).as("i"), $"sh")
      .select($"doc_id", $"i",
        conv(substring(md5(concat($"i".cast("string"), lit(":"), $"sh")),
          1, 15), 16, 10).cast("long").as("h"))
    val sig = hashed.groupBy($"doc_id", $"i").agg(min($"h").as("mh"))
    sig
      .withColumn("band", floor($"i" / rows).cast("int"))
      .groupBy($"doc_id", $"band")
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct($"i", $"mh"))),
          x => x.getField("mh").cast("string")), ",")).as("band_hash"))
  }

  def minhashPortable(s: SparkSession, dir: String, idBound: Int = 400,
      k: Int = 16, rows: Int = 2): DataFrame = {
    import s.implicits._
    val banded = portableBands(
      Tables.documents(s, dir).filter($"doc_id" < idBound), k, rows)
    val a = banded.select($"band", $"band_hash", $"doc_id".as("doc_a"))
    val b = banded.select($"band", $"band_hash", $"doc_id".as("doc_b"))
    a.join(b, Seq("band", "band_hash")).filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_shared_bands"))
      .orderBy($"doc_a", $"doc_b")
  }

  val minhashPortableSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE doc_id < 400),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(greatest(len(toks) - 2, 0)),
      |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS sh
      |  FROM d),
      |h AS (
      |  SELECT doc_id, s.i,
      |    min(('0x' || substring(md5(s.i::VARCHAR || ':' || sh), 1, 15))::BIGINT)
      |      AS mh
      |  FROM sh CROSS JOIN (SELECT unnest(range(16)) AS i) s
      |  GROUP BY doc_id, s.i),
      |b AS (
      |  SELECT doc_id, (i // 2)::INT AS band,
      |    md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_hash
      |  FROM h GROUP BY doc_id, (i // 2)::INT)
      |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
      |  count(*) AS n_shared_bands
      |FROM b a JOIN b b2
      |  ON a.band = b2.band AND a.band_hash = b2.band_hash
      |  AND a.doc_id < b2.doc_id
      |GROUP BY a.doc_id, b2.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  /** d03b: the SimHash banding pipeline with an engine-portable hash
    * family — the d02b recipe applied to d03 (VERDICT r5 #3). The
    * production d03 fingerprint is a custom xxhash64-family Catalyst
    * expression, so its MECHANICS (per-token hash → per-bit signed vote →
    * fingerprint → band extraction → bucket self-join → exact hamming
    * verify) only had statistical spec coverage. This variant computes a
    * 60-bit SimHash from the md5 hash family (15 hex chars → BIGINT, the
    * d02b trick, identical in Spark and DuckDB), bands it 4 × 15 bits,
    * and verifies candidates by exact hamming distance — every step
    * expressed in portable SQL semantics, checked bit-for-bit cross-engine.
    * d03 remains the production path (one fused expression per doc vs this
    * variant's |tokens|×60 vote explode — the price of portability, paid
    * only inside the bounded doc window).
    *
    * Tie rule: a bit's signed vote sum of exactly 0 → bit 0, same in both
    * engines. Docs with no tokens produce no fingerprint row (both
    * engines drop them before the vote aggregate).
    */
  def simhashPortable(s: SparkSession, dir: String, idBound: Int = 400,
      maxHamming: Int = 8): DataFrame = {
    import s.implicits._
    val h = Tables.documents(s, dir)
      .filter($"doc_id" < idBound)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .select($"doc_id",
        conv(substring(md5($"w"), 1, 15), 16, 10).cast("long").as("h"))
    // per-bit signed votes: +1 if the token's hash has the bit set, else -1
    val votes = h
      .select($"doc_id", $"h", explode(sequence(lit(0), lit(59))).as("bit"))
      .groupBy($"doc_id", $"bit")
      .agg(sum(when(shr($"h", $"bit").bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as("s"))
    val fp = votes.groupBy($"doc_id")
      .agg(sum(when($"s" > 0, shl(lit(1L), $"bit")).otherwise(0L)).as("fp"))
    val banded = fp
      .select($"doc_id", $"fp",
        posexplode(transform(sequence(lit(0), lit(3)),
          b => shru($"fp", b * 15).bitwiseAND(0x7FFFL))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_bits")
    val a = banded.select($"band", $"band_bits", $"doc_id".as("doc_a"), $"fp".as("fp_a"))
    val b = banded.select($"band", $"band_bits", $"doc_id".as("doc_b"), $"fp".as("fp_b"))
    a.join(b, Seq("band", "band_bits")).filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        bit_count($"fp_a".bitwiseXOR($"fp_b")).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter($"hamming" <= maxHamming)
      .orderBy($"doc_a", $"doc_b")
  }

  val simhashPortableSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents WHERE doc_id < 400),
      |h AS (
      |  SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h
      |  FROM t WHERE len(w) > 0),
      |votes AS (
      |  SELECT doc_id, b.i AS bit,
      |    sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS i) b
      |  GROUP BY doc_id, b.i),
      |fp AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS fp
      |  FROM votes GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, fp, b.i AS band, (fp >> (b.i * 15)) & 32767 AS band_bits
      |  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS i) b),
      |p AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
      |    bit_count(xor(a.fp, b2.fp))::INT AS hamming
      |  FROM banded a JOIN banded b2
      |    ON a.band = b2.band AND a.band_bits = b2.band_bits
      |    AND a.doc_id < b2.doc_id)
      |SELECT doc_a, doc_b, hamming FROM p
      |WHERE hamming <= 8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Observability for d03's bucket cap: the (band, band_bits) buckets the
    * pair generator prunes as oversized (bucket_n > maxBucket), with their
    * populations — so capped near-dup mass is a visible metric, not a
    * silent disappearance. A genuinely large legitimate near-dup cluster
    * shows up here; route it to exact dedup or raise the cap. One
    * partial-aggregatable groupBy, no window.
    */
  def simhashDroppedBuckets(documents: DataFrame,
      maxBucket: Int = 64): DataFrame =
    droppedBuckets(simhashBanded(documents), Seq("band", "band_bits"),
      maxBucket)

  /** d10: corpus-level duplicated-n-gram masking stats — the
    * "remove duplicated substrings" pass of an LLM dedup pipeline
    * (exact-substring dedup à la Lee et al. 2022, approximated at
    * fixed-n granularity, which is how it distributes): any n-token
    * gram appearing in ≥ minDf distinct documents is boilerplate; each
    * document reports how many of its token positions are covered by a
    * hot gram (the mask a cleaning pass would cut).
    *
    * Scale shape: grams travel as xxhash64 of the joined token window
    * (the gram string never shuffles; the hash is computed off a
    * materialized token-array column — NOT off an expression re-evaluated
    * inside the lambda, the O(tokens²) trap). Two partial-agg shuffles
    * (gram docfreq, per-doc covered positions) + one join against the hot
    * set, which is df-thresholded small by construction (AQE broadcasts
    * it). The oracle carries gram STRINGS — outputs only contain counts,
    * so they match unless xxhash64 collides.
    */
  def hotNgramMask(s: SparkSession, dir: String, n: Int = 8,
      minDf: Int = 2): DataFrame =
    hotNgramMaskOf(Tables.documents(s, dir), n, minDf)

  /** Core of d10 over any (doc_id, text) frame.
    *
    * Scale shape (r16): positional gram fingerprints come from ONE
    * rolling-hash pass ([[org.apache.spark.sql.graft
    * .hashing.rollingKgramHashes]] — O(n_tokens) hashing) instead of a
    * slice+concat STRING build per position (each token copied n times,
    * the allocate-to-count disease at corpus scale); the gram hash is
    * operator-internal (the oracle compares the masked-coverage output,
    * and the SQL twin joins raw gram strings), so the 64-bit family is
    * free to differ. Masked coverage is an interval union: hot grams at
    * positions i cover [i, i+n), and with per-doc positions sorted the
    * union length is Σ min(i − prev_i, n) — one window pass over the
    * hot rows, replacing the n× position explode + countDistinct (which
    * also buffered a monster doc's full position set). Value-identical
    * to counting distinct covered positions.
    *
    * Self-cleaning ([[SelfClean.releasing]]): the per-doc hash frame is
    * read by the gram explode and the final join; the doc-sized result
    * is checkpointed and the frame released before returning.
    */
  def hotNgramMaskOf(documents: DataFrame, n: Int = 8,
      minDf: Int = 2): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    SelfClean.releasing(documents
      .select($"doc_id", org.apache.spark.sql.graft.GraftFunctions
        .space_token_count($"text").cast("long").as("n_tokens"),
        org.apache.spark.sql.graft.GraftFunctions
          .rolling_kgram_hashes($"text", n, 42L).as("gh"))) { t =>
      val grams = t
        .filter(size($"gh") > 0)
        .select($"doc_id", posexplode($"gh"))
        .toDF("doc_id", "i", "gram")
      val hot = grams.groupBy($"gram")
        .agg(countDistinct($"doc_id").as("df"))
        .filter($"df" >= minDf)
        .select($"gram")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"i")
      val masked = grams.join(hot, Seq("gram"))
        .select($"doc_id", $"i")
        .withColumn("_prev", lag($"i", 1).over(w))
        .select($"doc_id",
          when($"_prev".isNull, lit(n.toLong))
            .otherwise(least($"i" - $"_prev", lit(n.toLong))).as("_cov"))
        .groupBy($"doc_id")
        .agg(sum($"_cov").as("n_masked"))
      t.select($"doc_id", $"n_tokens")
        .join(masked, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens",
          coalesce($"n_masked", lit(0L)).as("n_masked"),
          round(coalesce($"n_masked", lit(0L)) / $"n_tokens" + lit(1e-9), 6)
            .as("masked_frac"))
        .orderBy($"doc_id")
    }
  }

  val hotNgramMaskSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(range(0, greatest(len(toks)-7, 0))) AS i, toks
      |  FROM t),
      |ng AS (
      |  SELECT doc_id, i, array_to_string(toks[i+1:i+8], ' ') AS gram FROM g),
      |df AS (SELECT gram, count(DISTINCT doc_id) AS df FROM ng GROUP BY gram),
      |hot AS (SELECT gram FROM df WHERE df >= 2),
      |cov AS (
      |  SELECT ng.doc_id, unnest(range(ng.i, ng.i+8)) AS pos
      |  FROM ng JOIN hot USING (gram)),
      |m AS (SELECT doc_id, count(DISTINCT pos) AS n_masked FROM cov GROUP BY doc_id)
      |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
      |  coalesce(m.n_masked, 0)::BIGINT AS n_masked,
      |  round(coalesce(m.n_masked, 0) * 1.0 / len(t.toks) + 1e-9, 6) AS masked_frac
      |FROM t LEFT JOIN m USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** d04: exact n-gram (bigram) Jaccard similarity over a bounded candidate
    * window — the verification stage of a near-dup pipeline, SQL-checkable.
    */
  def ngramJaccard(s: SparkSession, dir: String,
      idBound: Int = 80, minJaccard: Double = 0.05): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .filter($"doc_id" < idBound)
      .select($"doc_id", shingles($"text", 2).as("bg"))
    val a = d.select($"doc_id".as("doc_a"), $"bg".as("bg_a"))
    val b = d.select($"doc_id".as("doc_b"), $"bg".as("bg_b"))
    val ni = size(array_intersect($"bg_a", $"bg_b"))
    a.join(b, $"doc_a" < $"doc_b")
      .withColumn("jaccard",
        round(ni.cast("double") / (size($"bg_a") + size($"bg_b") - ni), 6))
      .filter($"jaccard" >= minJaccard)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  val ngramJaccardSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(len(string_split(text, ' ')) - 1),
      |      i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS bg
      |  FROM documents WHERE doc_id < 80)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.bg, b.bg)) * 1.0 /
      |    (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))), 6) AS jaccard
      |FROM d a JOIN d b ON a.doc_id < b.doc_id
      |WHERE round(len(list_intersect(a.bg, b.bg)) * 1.0 /
      |    (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))), 6) >= 0.05
      |ORDER BY doc_a, doc_b""".stripMargin

  /** d05: embedding-cosine near-duplicate pairs over a bounded candidate
    * window (production path: LSH buckets from Similarity.knnLsh feed this).
    */
  def embedNeardup(s: SparkSession, dir: String,
      idBound: Int = 200, minCos: Double = 0.25): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .filter($"vec_id" < idBound)
      .select($"vec_id", asDouble($"embedding").as("v"))
    val a = e.select($"vec_id".as("vec_a"), $"v".as("va"))
    val b = e.select($"vec_id".as("vec_b"), $"v".as("vb"))
    a.join(b, $"vec_a" < $"vec_b")
      .withColumn("cos", round(cosine($"va", $"vb"), 6))
      .filter($"cos" >= minCos)
      .select($"vec_a", $"vec_b", $"cos")
      .orderBy($"vec_a", $"vec_b")
  }

  val embedNeardupSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v
      |  FROM embeddings WHERE vec_id < 200),
      |p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    round(
      |      list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i] * b.v[i])) /
      |      (sqrt(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i] * a.v[i]))) *
      |       sqrt(list_sum(list_transform(range(1, len(b.v)+1), i -> b.v[i] * b.v[i])))), 6) AS cos
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.25
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Literal ±1 weight vector of plane `p`: md5-parity family (the one
    * the DuckDB oracles recompute inline), one hoisted digest instance
    * per plane — not one per (p, j) — so building a d11/d11b/d12 plan
    * costs `planes` provider lookups, not planes×dim.
    */
  private def planeWeights(p: Int, dim: Int): Column = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def weight(j: Int): Double = {
      val firstNibble = (md5.digest(s"$p:$j".getBytes("UTF-8"))(0) >> 4) & 0xF
      if (firstNibble % 2 == 0) 1.0 else -1.0
    }
    array((0 until dim).map(j => lit(weight(j))): _*)
  }

  /** The (vec_id, v) frame the semantic family and the stored vector
    * index read from a (vec_id, embedding) frame.
    */
  private def vecsOf(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** The (vec_id, v, bucket, probes) frame every semantic entry point
    * (d11, d11b, d12, [[semanticLosersOf]], [[semanticDroppedBuckets]])
    * runs over. `bucket`: bit p = sign of the projection onto the p-th
    * md5-family ±1 hyperplane (driver-side literal weights through the
    * codegen'd hashing.dotProduct — the family the DuckDB oracles
    * recompute inline). `probes`: the home bucket, then the `nprobe - 1`
    * buckets reached by flipping the lowest-|margin| plane bits (Lv et
    * al., VLDB 2007, single-bit perturbations); at nprobe = 1 it is
    * `array(bucket)`, and no margin sort is planned.
    *
    * The `planes` projections are computed ONCE, into `proj`, and both
    * columns derive from it: re-derived dot products would double the
    * projection work (the t18 duplicated-subtree lesson; DedupSpec walks
    * the plan for it). Callers read the frame several times (the
    * population aggregate and both join sides), so they keep it through
    * [[SelfClean.releasing]].
    */
  private def semanticFrame(vecs: DataFrame, planes: Int, dim: Int,
      nprobe: Int): DataFrame = {
    // bit p is `1L << p`, which wraps onto bit p - 64 past 64 planes
    require(planes >= 1 && planes <= 64,
      s"semantic planes must be in 1..64, got $planes")
    val s = vecs.sparkSession
    import s.implicits._
    val projected = vecs.select($"vec_id", $"v",
        array((0 until planes).map(p => dot($"v", planeWeights(p, dim))): _*).as("proj"))
      .withColumn("bucket", (0 until planes).map(p =>
        when(element_at($"proj", p + 1) > 0, lit(1L << p)).otherwise(lit(0L)))
        .reduce(_ + _))
    // (|margin|, flipped-bucket) pairs sorted by margin: array_sort on
    // struct is lexicographic, so the lowest-margin flips come first
    val flips = transform(slice(array_sort(array((0 until planes).map(p =>
        struct(abs(element_at($"proj", p + 1)).as("m"),
          $"bucket".bitwiseXOR(lit(1L << p)).as("fb"))): _*)), 1, nprobe - 1),
      _.getField("fb"))
    projected.select($"vec_id", $"v", $"bucket",
      (if (nprobe == 1) array($"bucket") else concat(array($"bucket"), flips))
        .as("probes"))
  }

  /** (bucket, bn, keep_id) of a (vec_id, bucket) frame: each bucket's
    * population and min member, broadcast. Every semantic cap reads it:
    * the pair stage's eligibility, the over-cap canonical route (d12,
    * [[semanticLosersOf]]), the dropped-bucket diagnostic and the stored
    * index's write-time drop. A partial-aggregatable groupBy — each task
    * emits at most one row per bucket — NOT a window partitioned by the
    * bucket key: with planes=8 there are <= 256 distinct buckets, so a
    * window would shuffle EVERY vector onto <= 256 reducers (a
    * parallelism ceiling no cluster size fixes) just to be counted. Same
    * reasoning as q26's zscoreOutliers.
    */
  private def bucketStats(frame: DataFrame): DataFrame =
    broadcast(frame.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bn"), min(col("vec_id")).as("keep_id")))

  /** The semantic pair stage: verified pairs over a [[semanticFrame]],
    * unsorted, in one of two join shapes. At nprobe = 1 the two give the
    * same rows but not the same cost, so `nprobe` picks the shape:
    *
    *  - nprobe = 1: the within-bucket self-join, (bucket, vec_a, vec_b,
    *    cos). Eligible buckets hold 2..maxBucket members, so the join
    *    input is bounded at 2^planes * maxBucket rows by construction and
    *    its bucket-keyed shuffle is over a vanishing fraction of the
    *    corpus. The pairs keep `bucket`: d12's per-bucket clustering keys
    *    on it (the component-confinement key there).
    *  - nprobe > 1: home × probe bucket match either direction, (vec_a,
    *    vec_b, cos). An over-cap home bucket is dropped, and the probes
    *    into it with it; bn >= 2 is NOT required — a singleton's pairs
    *    can arrive via probes. Candidates travel as BARE ID PAIRS: on a
    *    clustered corpus the candidate set is orders of magnitude larger
    *    than the vector table (sf1 measured ~4M pairs from 20k vectors),
    *    so canonicalize + dropDuplicates on 16-byte rows and join the
    *    vectors back for the verify — the id-first-then-join-back
    *    discipline minhashPairs' shingle verify already follows (the
    *    form that shipped both vectors through the dedup shuffle moved
    *    4.55 GB at sf1).
    *
    * `quantPrefilter` (nprobe > 1; VERDICT r13 #2, root cause
    * re-measured): the sf10 wall was NOT the verify join's vector payload
    * — candidate GENERATION alone (the 26.7M-pair dropDuplicates shuffle)
    * cost ~35 s of the ~50 s, and a join-based int8 prefilter only added
    * two more pair-sized joins (measured SLOWER). The fix that works:
    * carry the int8-quantized vector — 64 B + three scalars, computed
    * inline from the persisted frame — THROUGH the bucket self-join. Both
    * join inputs stay vector-table-sized (|V| home rows, |V|·nprobe probe
    * rows), the pair expansion happens INSIDE the bucket-partitioned
    * join, and the provable-bound reject applies map-side on the join
    * output — so no pair-sized frame ever shuffles. The reject is exact,
    * not heuristic: round(cos, 6) >= minCos needs cos >= minCos − 5e-7
    * (HALF_UP), |cos − qcos| ≤ eps with eps from the per-vector
    * quantization scalars (hashing.quantizeVec's bound), so dropping
    * qcos + eps < minCos − 1e-6 can never drop a true pair. Survivors
    * join the raw vectors for the EXACT cosine, so the result is
    * bit-identical to the unfiltered form (DedupSpec pins the on/off
    * parity; the oracle hash pins it cross-engine).
    */
  private def semanticPairs(frame: DataFrame, minCos: Double, maxBucket: Int,
      nprobe: Int, quantPrefilter: Boolean = true): DataFrame = {
    val s = frame.sparkSession
    import s.implicits._
    val eligible = bucketStats(frame)
      .filter($"bn" <= maxBucket && ($"bn" >= 2 || lit(nprobe > 1)))
      .select($"bucket")
    if (nprobe == 1) {
      val sized = frame.join(eligible, Seq("bucket"))
      val a = sized.select($"bucket", $"vec_id".as("vec_a"), $"v".as("va"))
      val b = sized.select($"bucket", $"vec_id".as("vec_b"), $"v".as("vb"))
      a.join(b, Seq("bucket")).filter($"vec_a" < $"vec_b")
        .withColumn("cos", round(cosine($"va", $"vb"), 6))
        .filter($"cos" >= minCos)
        .select($"bucket", $"vec_a", $"vec_b", $"cos")
    } else {
      val qf = org.apache.spark.sql.graft.GraftFunctions
      def quantized(name: String): Seq[Column] =
        if (quantPrefilter) Seq(qf.quantize_vec($"v").as(name)) else Nil
      val home = frame.join(eligible, Seq("bucket"))
        .select(Seq($"bucket", $"vec_id".as("vec_a")) ++ quantized("qa"): _*)
      val probe = frame
        .select(Seq($"vec_id".as("vec_b"), explode($"probes").as("bucket")) ++
          quantized("qb"): _*)
        .join(eligible, Seq("bucket"))
      val cand = home.join(probe, Seq("bucket")).filter($"vec_a" =!= $"vec_b")
      val den = $"qa.norm" * $"qb.norm"
      val vecs = frame.select($"vec_id", $"v")
      (if (!quantPrefilter) cand else cand.filter(
          qf.int8_dot($"qa.q", $"qb.q") * $"qa.scale" * $"qb.scale" / den
            + (($"qb.scale" / 2) * $"qa.l1" + ($"qa.scale" / 2) * $"qb.l1"
              + ($"qa.scale" * $"qb.scale" / 4) * length($"qa.q")) / den
            >= lit(minCos - 1e-6)))
        .select(least($"vec_a", $"vec_b").as("vec_a"),
          greatest($"vec_a", $"vec_b").as("vec_b"))
        .dropDuplicates("vec_a", "vec_b")
        .join(vecs.select($"vec_id".as("vec_a"), $"v".as("va")), Seq("vec_a"))
        .join(vecs.select($"vec_id".as("vec_b"), $"v".as("vb")), Seq("vec_b"))
        .withColumn("cos", round(cosine($"va", $"vb"), 6))
        .filter($"cos" >= minCos)
        .select($"vec_a", $"vec_b", $"cos")
    }
  }

  /** The "planes must grow with the corpus" sizing rule, WIRED (VERDICT
    * r14 #1 — it was documentation-only before): target 2^planes ≈
    * corpus / targetFill with targetFill = maxBucket/2, floored at
    * `minPlanes` so the test-scale partition (and the cross-engine
    * planes=8 oracle that depends on it) is unchanged below ~65k
    * vectors. At fixed planes the per-bucket population grows linearly
    * with the corpus: by sf10 (200k vectors, 2^8 buckets) mean fill
    * ~780 already exceeds maxBucket=512 — a growing fraction of buckets
    * cap-drops, and at 100× essentially every bucket does, silently
    * zeroing recall (100M vectors → planes 19 here, ~2k× more buckets).
    * Every dir-keyed semantic entry point derives planes through this
    * when the caller passes `planes = 0` (their default); explicit
    * values pin the partition for oracle parity and A/B probes.
    */
  def scaledPlanes(n: Long, maxBucket: Int = 512, minPlanes: Int = 8): Int = {
    val targetFill = math.max(1.0, maxBucket / 2.0)
    val needed = math.ceil(
      math.log(math.max(1.0, n / targetFill)) / math.log(2.0)).toInt
    math.max(minPlanes, needed)
  }

  /** planes=0 → corpus-derived via [[scaledPlanes]]; the embeddings
    * count is parquet-footer metadata, one bounded scalar (the IvfIndex
    * exception).
    */
  private def resolvePlanes(s: SparkSession, dir: String, planes: Int,
      maxBucket: Int): Int =
    if (planes > 0) planes
    else scaledPlanes(Tables.embeddings(s, dir).count(), maxBucket)

  /** d11: SemDeDup-style semantic dedup over the embedding space (the
    * pipeline shape of Abbas et al. 2023: partition the space, verify
    * candidates only within parts): every vector gets exactly ONE bucket
    * — the sign pattern of `planes` fixed pseudo-random hyperplane
    * projections — the table shuffles once on bucket, and only
    * within-bucket pairs are cosine-verified. Complements d05 (bounded-
    * window exact pairs): here the BUCKETING bounds the pair set, so the
    * operator runs over the whole table — the 100 TB shape. The
    * trade-off is recall at the partition boundary (a near-dup pair
    * straddling one hyperplane lands in different buckets); `nprobe` is
    * the recall knob.
    *
    * d11b is `nprobe = 3`: multi-probe semantic dedup. Every vector keeps
    * exactly ONE home bucket (the corpus-side partition is unchanged),
    * but the pair stage also probes the `nprobe - 1` buckets reached by
    * flipping the vector's lowest-|margin| hyperplane bits — the
    * boundaries a near-dup pair most plausibly straddles (s02b's
    * query-side probing, applied symmetrically since dedup has no
    * query/corpus asymmetry). A pair is caught when EITHER member probes
    * into the other's home bucket, so single-plane splits are recovered
    * without doubling the partition count. The probe side is an nprobe×
    * row expansion of the frame — same order as s02's band explode — and
    * the join still shuffles on the bucket key; no all-pairs stage
    * appears.
    *
    * The hyperplane family is md5-derived ±1 weights (plane p, dim j →
    * sign of md5("p:j")'s first nibble parity), materialized driver-side
    * as planes×dim literal constants — so the whole pipeline is
    * cross-engine checkable (DuckDB recomputes the same family inline)
    * while the projection itself runs through the codegen'd hashing.dotProduct.
    * At production scale the family swaps for the fused one-pass
    * hyperplane_sig expression (s02's) without changing the shape.
    * Oversized buckets (boilerplate/degenerate embeddings) are capped at
    * maxBucket, same guard as minhashPairs/simhashPairs.
    *
    * Sizing: `planes` must GROW with the corpus — bucket count is
    * 2^planes, and the pair stage verifies within buckets, so target
    * 2^planes ≈ corpus size / expected bucket size (e.g. 100M vectors at
    * ~1k per bucket → planes ≈ 17). This rule is WIRED (r15): every
    * dir-keyed entry point defaults to `planes = 0`, which derives the
    * count via [[scaledPlanes]] — 8 at the test SFs (so the planes=8
    * DuckDB oracle stays bit-comparable), 10 at sf10's 200k vectors, 19
    * at 100M. A fixed planes=8 at 100M+ vectors would mark most of the
    * corpus oversized (`semanticDroppedBuckets` surfaces this loudly;
    * the r15 cliff measurement is in CHANGELOG.md) — planes scales
    * first, maxBucket stays the skew guard.
    */
  def semanticDedup(s: SparkSession, dir: String, planes: Int = 0,
      dim: Int = 64, minCos: Double = 0.3, maxBucket: Int = 512,
      nprobe: Int = 1): DataFrame =
    semanticPairsOf(vecsOf(Tables.embeddings(s, dir)),
      resolvePlanes(s, dir, planes, maxBucket), dim, minCos, maxBucket, nprobe)

  /** [[semanticDedup]] over any (vec_id, v: array<double>) frame, with
    * the nprobe > 1 prefilter switchable (DedupSpec's on/off parity).
    * Self-cleaning (verdict r16 #6): the pair set is bounded by the
    * bucket cap, so it is checkpointed and the corpus-sized frame cache
    * freed before returning — in-suite runs no longer stack a cache
    * generation per execution (d11b read 38–66 s in-suite vs ~17 s
    * isolated while its cache relied on a caller-side clearCache).
    */
  private[graft] def semanticPairsOf(vecs: DataFrame, planes: Int, dim: Int,
      minCos: Double, maxBucket: Int, nprobe: Int,
      quantPrefilter: Boolean = true): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    SelfClean.releasing(semanticFrame(vecs, planes, dim, nprobe))(
      semanticPairs(_, minCos, maxBucket, nprobe, quantPrefilter)
        .select($"vec_a", $"vec_b", $"cos")
        .orderBy($"vec_a", $"vec_b"))
  }

  /** The semantic pair stage as a dedup verdict over any (vec_id, v:
    * array<double>) frame — p07's doc-granular semantic gate runs it over
    * hashed doc vectors in both [[graft.pipeline.CorpusPipeline.curateFull]]
    * and `curateDelta`. Same frame, bucket cap and within-bucket verify
    * as d11. Returns the distinct `vec_id` LOSERS: the later element
    * (vec_b) of every verified pair, plus — with `oversizedCanonical` —
    * every member of a bucket past `maxBucket` except its min vec_id.
    *
    * The canonical route is d12's `oversizedCanonical` applied to the
    * pair stage: the eligibility cap EXEMPTS over-cap buckets from
    * pairing, so without it their members all survive dedup — exactly
    * the hot template mass a curation pipeline exists to kill. No cosine
    * verify inside such a bucket, by design: a bucket past the cap at
    * corpus-scaled planes holds >maxBucket vectors concentrated in one of
    * 2^planes sign cells — degenerate template/boilerplate mass where
    * O(n²) verify is unpayable and the bucket IS the cluster (the
    * SemDeDup pragmatic move; r15, CHANGELOG.md, measured this covering
    * 100% of a 200k clustered corpus 3–4× FASTER than any pair form,
    * 5.4 s vs 18–44 s, because giant clusters never expand into pairs).
    *
    * Self-cleaning ([[SelfClean.releasing]]): the loser set is
    * checkpointed and the frame's cache released before returning.
    */
  def semanticLosersOf(vecs: DataFrame, planes: Int = 8, dim: Int = 64,
      minCos: Double = 0.3, maxBucket: Int = 512,
      oversizedCanonical: Boolean = false): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    SelfClean.releasing(semanticFrame(vecs, planes, dim, nprobe = 1)) { frame =>
      val pairLosers = semanticPairs(frame, minCos, maxBucket, nprobe = 1)
        .select($"vec_b".as("vec_id"))
      (if (!oversizedCanonical) pairLosers
        else pairLosers.unionByName(frame
          .join(bucketStats(frame).filter($"bn" > maxBucket), Seq("bucket"))
          .filter($"vec_id" =!= $"keep_id")
          .select($"vec_id"))).distinct()
    }
  }

  /** Observability for d11's bucket cap (the minhash/simhash contract):
    * sign-partition buckets the pair stage prunes as oversized, with
    * populations. A legitimate giant semantic cluster (press-release
    * template embeddings, say) surfaces here — raise the cap or route
    * it to a per-bucket canonical pick instead of pairwise verify.
    */
  def semanticDroppedBuckets(s: SparkSession, dir: String, planes: Int = 0,
      dim: Int = 64, maxBucket: Int = 512): DataFrame = {
    import s.implicits._
    bucketStats(semanticFrame(vecsOf(Tables.embeddings(s, dir)),
        resolvePlanes(s, dir, planes, maxBucket), dim, nprobe = 1))
      .filter($"bn" > maxBucket)
      .select($"bucket", $"bn".as("bucket_n"))
      .orderBy($"bucket")
  }

  /** Same md5-parity hyperplane family as d11's oracle, extended with the
    * probe construction: per-vector margins, flipped buckets for the two
    * lowest-|margin| planes (nprobe=3), candidate = home×probe bucket
    * match either direction. Struct list_sort is field-order lexicographic
    * in both engines, and both compute projections with the same
    * left-to-right summation — so the margin ORDERING (not just the sign)
    * is cross-engine stable.
    */
  val semanticMultiprobeSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |b AS (
      |  SELECT vec_id, v,
      |    list_transform(range(8), p ->
      |      list_sum(list_transform(range(64), j ->
      |        (CASE WHEN ('0x' || substring(
      |             md5(p::VARCHAR || ':' || j::VARCHAR), 1, 1))::INT % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) * v[j+1]))) AS proj
      |  FROM e),
      |bk AS (
      |  SELECT vec_id, v, proj,
      |    list_sum(list_transform(range(8), p ->
      |      CASE WHEN proj[p+1] > 0 THEN (1::BIGINT << p) ELSE 0 END))::BIGINT AS bucket
      |  FROM b),
      |pr AS (
      |  SELECT vec_id, bucket,
      |    list_prepend(bucket,
      |      list_transform(
      |        list_sort(list_transform(range(8), p ->
      |          {'m': abs(proj[p+1]),
      |           'fb': xor(bucket, (1::BIGINT << p))}))[1:2],
      |        s -> s.fb)) AS probes
      |  FROM bk),
      |eligible AS (
      |  SELECT bucket FROM bk GROUP BY bucket HAVING count(*) <= 512),
      |home AS (
      |  SELECT bk.bucket, vec_id AS vec_a FROM bk JOIN eligible USING (bucket)),
      |cand AS (
      |  SELECT DISTINCT least(h.vec_a, p.vec_b) AS vec_a,
      |    greatest(h.vec_a, p.vec_b) AS vec_b
      |  FROM home h
      |  JOIN (SELECT vec_id AS vec_b, unnest(probes) AS bucket FROM pr) p
      |    ON h.bucket = p.bucket AND h.vec_a <> p.vec_b),
      |scored AS (
      |  SELECT c.vec_a, c.vec_b,
      |    round(
      |      list_sum(list_transform(range(1, 65), i -> ea.v[i] * eb.v[i])) /
      |      (sqrt(list_sum(list_transform(range(1, 65), i -> ea.v[i] * ea.v[i]))) *
      |       sqrt(list_sum(list_transform(range(1, 65), i -> eb.v[i] * eb.v[i])))),
      |      6) AS cos
      |  FROM cand c
      |  JOIN e ea ON ea.vec_id = c.vec_a
      |  JOIN e eb ON eb.vec_id = c.vec_b)
      |SELECT vec_a, vec_b, cos FROM scored WHERE cos >= 0.3
      |ORDER BY vec_a, vec_b""".stripMargin

  val semanticDedupSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |b AS (
      |  SELECT vec_id, v,
      |    list_sum(list_transform(range(8), p ->
      |      CASE WHEN list_sum(list_transform(range(64), j ->
      |        (CASE WHEN ('0x' || substring(
      |             md5(p::VARCHAR || ':' || j::VARCHAR), 1, 1))::INT % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) * v[j+1])) > 0
      |      THEN (1::BIGINT << p) ELSE 0 END))::BIGINT AS bucket
      |  FROM e),
      |sized AS (
      |  SELECT *, count(*) OVER (PARTITION BY bucket) AS bn FROM b),
      |p AS (
      |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
      |    round(
      |      list_sum(list_transform(range(1, 65), i -> a.v[i] * b2.v[i])) /
      |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
      |       sqrt(list_sum(list_transform(range(1, 65), i -> b2.v[i] * b2.v[i])))),
      |      6) AS cos
      |  FROM sized a JOIN sized b2
      |    ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
      |  WHERE a.bn BETWEEN 2 AND 512)
      |SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.3
      |ORDER BY vec_a, vec_b""".stripMargin

  /** d12: semantic dedup composed to its END STATE — SemDeDup prunes a
    * corpus, it doesn't hand back a pair list: d11's verified pairs feed
    * the SAME connectedComponents machinery as the shingle path (d07/d09),
    * yielding per-vector cluster assignment and a keep/drop decision.
    * Survivor = min vec_id per component (deterministic regardless of
    * join order; vectors with no semantic near-dup are their own
    * singleton cluster and always kept). At 100 TB the pair set is a
    * vanishing fraction of the corpus (bounded by 2^planes × maxBucket²/2
    * before the cosine filter), so the CC rounds shuffle almost nothing;
    * the final assignment is one left join back onto the vector ids.
    * Oracle: DuckDB recursive-CTE transitive closure over the identical
    * md5-family pair pipeline (same cross-engine shape as d07).
    *
    * `oversizedCanonical`: how buckets above maxBucket are treated. The
    * default (false) excludes them from pairing entirely — their members
    * come out as singletons and `semanticDroppedBuckets` reports the
    * omission. With true, each oversized bucket is routed to a PER-BUCKET
    * canonical pick instead of pairwise verify: all members join the
    * min-id member's cluster without cosine checks — the pragmatic
    * SemDeDup move for a degenerate giant cluster (press-release-template
    * embeddings), where O(n²) verify is unpayable and the bucket IS the
    * cluster for any practical purpose. Map-side: the per-bucket min is
    * [[bucketStats]]' ≤2^planes-row aggregate broadcast back onto the
    * members.
    *
    * `nprobe`: 1 = d11's pair stage; >1 = d11b's — the composed end state
    * then inherits the cross-boundary recall (a near-dup pair split by
    * one hyperplane still merges into one cluster). Both run over the
    * same frame and bucket family, so the canonical-routing branch
    * composes unchanged.
    */
  def semanticClusters(s: SparkSession, dir: String, planes: Int = 0,
      dim: Int = 64, minCos: Double = 0.3, maxBucket: Int = 512,
      oversizedCanonical: Boolean = false, nprobe: Int = 1): DataFrame = {
    import s.implicits._
    // Eager lifecycle (ADVICE r13): the label table is result-sized (at
    // most one row per clustered vector), so it is checkpointed and the
    // corpus-sized frame cache freed HERE — no persist survives the call.
    val labels = SelfClean.releasing(semanticFrame(vecsOf(Tables.embeddings(s, dir)),
        resolvePlanes(s, dir, planes, maxBucket), dim, nprobe)) { frame =>
      val pairs = semanticPairs(frame, minCos, maxBucket, nprobe)
      // Single-probe pairs NEVER cross buckets (both members of every edge
      // share the bucket join key), so each component is confined to one
      // bucket and clustering runs as a per-bucket union-find over the
      // collected edge list — ≤ maxBucket vertices / ≤ maxBucket²/2 edges
      // per group by the eligibility cap, one codegen'd pass — instead of
      // the global iterative CC, whose log-rounds of corpus-wide joins +
      // checkpoints dominated d12 at sf1 (~13 s of 19 s for 1.18M pairs
      // from 20k clustered vectors). Multi-probe edges DO cross buckets
      // (that is their purpose), so that path keeps the global CC.
      val cc =
        if (nprobe == 1)
          pairs.groupBy($"bucket")
            .agg(collect_list(struct($"vec_a".as("a"), $"vec_b".as("b")))
              .as("edges"))
            .select(explode(org.apache.spark.sql.graft.GraftFunctions
              .component_labels($"edges")).as("lab"))
            .select($"lab.vec_id".as("vec_id"), $"lab.cluster_id".as("cluster_id"))
        else
          connectedComponents(pairs.select($"vec_a".as("doc_a"), $"vec_b".as("doc_b")))
            .select($"doc_id".as("vec_id"), $"cluster_id")
      // With nprobe > 1 an oversized-bucket member can ALSO hold a cc
      // label (its probes reach eligible buckets, pairing it there even
      // though its home bucket never self-joins). Verified-pair labels
      // win; the anti-join keeps assignments one-row-per-vector — without
      // it the final left join would emit such vectors twice with
      // conflicting cluster ids.
      if (!oversizedCanonical) cc
      else cc.unionByName(frame
        .join(bucketStats(frame).filter($"bn" > maxBucket), Seq("bucket"))
        .select($"vec_id", $"keep_id".as("cluster_id"))
        .join(cc.select($"vec_id"), Seq("vec_id"), "left_anti"))
    }
    Tables.embeddings(s, dir).select($"vec_id")
      .join(labels, Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"cluster_id", $"vec_id").as("cluster_id"))
      .withColumn("is_kept", $"vec_id" === $"cluster_id")
      .orderBy($"vec_id")
  }

  val semanticClustersSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |b AS (
      |  SELECT vec_id, v,
      |    list_sum(list_transform(range(8), p ->
      |      CASE WHEN list_sum(list_transform(range(64), j ->
      |        (CASE WHEN ('0x' || substring(
      |             md5(p::VARCHAR || ':' || j::VARCHAR), 1, 1))::INT % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) * v[j+1])) > 0
      |      THEN (1::BIGINT << p) ELSE 0 END))::BIGINT AS bucket
      |  FROM e),
      |sized AS (
      |  SELECT *, count(*) OVER (PARTITION BY bucket) AS bn FROM b),
      |p AS (
      |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b
      |  FROM sized a JOIN sized b2
      |    ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
      |  WHERE a.bn BETWEEN 2 AND 512
      |    AND round(
      |      list_sum(list_transform(range(1, 65), i -> a.v[i] * b2.v[i])) /
      |      (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i]))) *
      |       sqrt(list_sum(list_transform(range(1, 65), i -> b2.v[i] * b2.v[i])))),
      |      6) >= 0.3),
      |edges AS (
      |  SELECT vec_a AS a, vec_b AS b FROM p
      |  UNION ALL SELECT vec_b, vec_a FROM p),
      |reach(id, r) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT reach.id, e2.b FROM reach JOIN edges e2 ON reach.r = e2.a),
      |cc AS (SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id)
      |SELECT emb.vec_id,
      |  coalesce(cc.cluster_id, emb.vec_id) AS cluster_id,
      |  emb.vec_id = coalesce(cc.cluster_id, emb.vec_id) AS is_kept
      |FROM embeddings emb LEFT JOIN cc USING (vec_id)
      |ORDER BY emb.vec_id""".stripMargin

  /** Transitive dedup clusters: connected components over near-dup pairs
    * via iterative min-label propagation (the standard large-graph CC —
    * converges in O(log(longest chain)) rounds, each one join + one
    * groupBy). Input: (doc_a, doc_b) pairs. Output: (doc_id, cluster_id)
    * where cluster_id = min doc_id of the component.
    *
    * At 100 TB the pair set (LSH output) is orders of magnitude smaller
    * than the corpus, so each round's shuffle is cheap; `maxIters` bounds
    * pathological chains, and the early-exit check stops as soon as labels
    * are stable.
    */
  /** Edge-count threshold below which CC runs as single-partition
    * union-find (executor-side mapPartitions, ~32 MB of longs) instead of
    * the iterative join loop — a dedup pair set this small doesn't justify
    * multi-round shuffle latency. Above it: min-label propagation with
    * pointer jumping.
    */
  val smallGraphEdges: Long = 2000000L

  def connectedComponents(pairs: DataFrame, maxIters: Int = 15,
      smallGraph: Long = smallGraphEdges): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    // The edge set is re-read every iteration (propagation join + the
    // convergence check): keep it, or the whole upstream pair pipeline
    // (LSH banding / Jaccard verification) re-executes per round. Both
    // paths return materialized labels, so the scope may release it.
    SelfClean.scope { keep =>
      val edges = keep(pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
        .unionByName(pairs.select($"doc_b".as("src"), $"doc_a".as("dst"))))
      if (edges.count() <= smallGraph) {
        val out = edges.as[(Long, Long)].coalesce(1).mapPartitions { it =>
          // union-find with path halving; component id = min member id
          // (deterministic regardless of union order)
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x0: Long): Long = {
            var x = x0
            while (parent.getOrElse(x, x) != x) {
              val p = parent(x)
              parent(x) = parent.getOrElse(p, p)
              x = parent(x)
            }
            x
          }
          it.foreach { case (a, b) =>
            parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
            val (ra, rb) = (find(a), find(b))
            if (ra != rb) parent(ra) = rb
          }
          val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
          parent.keysIterator.foreach { n =>
            val r = find(n)
            minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
          }
          parent.keysIterator.map(n => (n, minOfRoot(find(n)))).toSeq.iterator
        }.toDF("doc_id", "cluster_id")
        out.localCheckpoint(eager = true)
      } else {
        val nodes = edges.select($"src".as("doc_id")).distinct()
        var labels = nodes.withColumn("cluster_id", $"doc_id")
        var converged = false
        var iter = 0
        while (!converged && iter < maxIters) {
          val msgs = edges
            .join(labels, $"src" === $"doc_id")
            .select($"dst".as("doc_id"), $"cluster_id")
          val prop = labels.unionByName(msgs)
            .groupBy($"doc_id")
            .agg(min($"cluster_id").as("cluster_id"))
          // Pointer-jump: also adopt the label of the node the label points to
          // (labels only decrease and stay in-component, so this is safe) —
          // propagation+jump converges in O(log n) rounds vs O(diameter).
          val parents = prop
            .select($"doc_id".as("p_id"), $"cluster_id".as("p_cluster"))
          val next = prop.join(parents, $"cluster_id" === $"p_id", "left")
            .select($"doc_id",
              least($"cluster_id", coalesce($"p_cluster", $"cluster_id"))
                .as("cluster_id"))
          // Lazy local checkpoint: it materializes inside the convergence-check
          // job below, so each round costs ONE Spark action (the eager form plus
          // a separate count was 2-3 jobs of pure scheduling overhead per round
          // on a small candidate graph).
          val nextCk = next.localCheckpoint(eager = false)
          val changed = nextCk.as("n")
            .join(labels.as("o"), "doc_id")
            .filter($"n.cluster_id" =!= $"o.cluster_id")
            .limit(1).count()
          labels = nextCk
          converged = changed == 0
          iter += 1
        }
        labels
      }
    }
  }

  /** Full transitive near-dup grouping: LSH pairs → components → per-doc
    * cluster assignment (docs with no near-dup form singleton clusters).
    */
  def dedupGroups(documents: DataFrame, minJaccard: Double = 0.8): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val pairs = minhashPairs(documents, minJaccard = minJaccard)
    val cc = connectedComponents(pairs)
    documents.select($"doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cluster_id", $"doc_id").as("cluster_id"))
  }

  /** d08: shingle-containment near-dup pairs — |A∩B| / min(|A|,|B|), the
    * asymmetric measure that catches a document EMBEDDED in a larger one
    * (Jaccard dilutes subset duplication; containment doesn't). Same
    * bounded candidate window as d04; production feed is the LSH pairs.
    */
  def containmentPairs(s: SparkSession, dir: String,
      idBound: Int = 80, minContainment: Double = 0.2): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .filter($"doc_id" < idBound)
      .select($"doc_id", shingles($"text", 2).as("bg"))
    val a = d.select($"doc_id".as("doc_a"), $"bg".as("bg_a"))
    val b = d.select($"doc_id".as("doc_b"), $"bg".as("bg_b"))
    val ni = size(array_intersect($"bg_a", $"bg_b"))
    a.join(b, $"doc_a" < $"doc_b")
      .withColumn("containment",
        round(ni.cast("double") / least(size($"bg_a"), size($"bg_b")) + lit(1e-9), 6))
      .filter($"containment" >= minContainment)
      .select($"doc_a", $"doc_b", $"containment")
      .orderBy($"doc_a", $"doc_b")
  }

  val containmentPairsSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(len(string_split(text, ' ')) - 1),
      |      i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS bg
      |  FROM documents WHERE doc_id < 80)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.bg, b.bg)) * 1.0 /
      |    least(len(a.bg), len(b.bg)) + 1e-9, 6) AS containment
      |FROM d a JOIN d b ON a.doc_id < b.doc_id
      |WHERE round(len(list_intersect(a.bg, b.bg)) * 1.0 /
      |    least(len(a.bg), len(b.bg)) + 1e-9, 6) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared materialization of the default-window d04→CC cluster table:
    * d07 (cluster assignment) and d09 (canonical survivor) are two views
    * of the SAME clustering, so the iterative CC — the most expensive
    * step in the dedup family — runs once per (session, corpus dir) and
    * both queries derive from the memoized result (VERDICT r4 #2). The
    * entry lives in the [[graft.CacheHygiene]] registry, rebuilt when the
    * documents table is rewritten in place (VERDICT r5 #2).
    */
  def clusterTable(s: SparkSession, dir: String): DataFrame =
    graft.CacheHygiene.memo(s, dir, "clusters", Seq("documents"))(
      Seq(connectedComponents(ngramJaccard(s, dir)))).head

  /** d07: transitive dedup clusters as a query — the d04 candidate pairs
    * closed under connectivity via iterative min-label propagation. The
    * DuckDB oracle computes the same components with a recursive-CTE
    * transitive closure (exact cross-engine check of an iterative
    * distributed algorithm). Shares the materialized cluster table with
    * d09 via [[clusterTable]].
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusterTable(s, dir).orderBy($"doc_id")
  }

  val dedupClustersSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(len(string_split(text, ' ')) - 1),
      |      i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS bg
      |  FROM documents WHERE doc_id < 80),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM d a JOIN d b ON a.doc_id < b.doc_id
      |  WHERE round(len(list_intersect(a.bg, b.bg)) * 1.0 /
      |    (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))), 6) >= 0.05),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
      |SELECT id AS doc_id, min(r) AS cluster_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** d09: canonical-document selection — the decision step after
    * clustering: per dup cluster keep exactly one survivor (longest doc,
    * lowest-id tie-break; docs with no near-dup are their own canonical).
    * The survivor is a partial-aggregatable `max_by(doc_id,
    * struct(n_chars, -doc_id))` per cluster — map-side combine, no
    * per-cluster sort+window — joined back on cluster_id (same shuffle
    * key as the aggregate, and AQE broadcasts the survivor side when it
    * fits). Oracle: d07's recursive-CTE closure + the equivalent
    * window rule in DuckDB (same ordering semantics).
    */
  def canonicalPerCluster(s: SparkSession, dir: String,
      idBound: Int = 80): DataFrame = {
    import s.implicits._
    val cc = clusterTable(s, dir)
    val clustered = Tables.documents(s, dir)
      .filter($"doc_id" < idBound)
      .select($"doc_id", $"n_chars")
      .join(cc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cluster_id", $"doc_id").as("cluster_id"), $"n_chars")
    val survivors = clustered.groupBy($"cluster_id")
      .agg(expr("max_by(doc_id, struct(n_chars, -doc_id))").as("canonical_id"))
    clustered.join(survivors, Seq("cluster_id"))
      .select($"doc_id", $"cluster_id", $"n_chars",
        ($"doc_id" === $"canonical_id").as("is_canonical"))
      .orderBy($"doc_id")
  }

  val canonicalPerClusterSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(len(string_split(text, ' ')) - 1),
      |      i -> string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS bg
      |  FROM documents WHERE doc_id < 80),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM d a JOIN d b ON a.doc_id < b.doc_id
      |  WHERE round(len(list_intersect(a.bg, b.bg)) * 1.0 /
      |    (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))), 6) >= 0.05),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
      |cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
      |SELECT doc_id, coalesce(cc.cluster_id, doc_id) AS cluster_id, n_chars,
      |  row_number() OVER (
      |    PARTITION BY coalesce(cc.cluster_id, doc_id)
      |    ORDER BY n_chars DESC, doc_id) = 1 AS is_canonical
      |FROM documents LEFT JOIN cc USING (doc_id)
      |WHERE doc_id < 80
      |ORDER BY doc_id""".stripMargin

  /** d13: segment-granularity exact dedup — the practical form of exact
    * substring deduplication (Lee et al. 2022 dedup the training corpus at
    * suffix-array granularity; production pipelines approximate it by
    * splitting each document into fixed-width token segments and keeping
    * only each segment's FIRST corpus occurrence — d10 masks hot n-grams,
    * this removes repeated passages). Every document is cut into
    * consecutive `width`-token segments (last one ragged); a segment is
    * kept iff its (doc_id, seg_id) is the corpus-wide minimum for that
    * segment text. Output is the per-document retention profile — the
    * numbers a curation run reports before rewriting the corpus.
    *
    * Scale shape: segmentation is map-only (bounded per-doc lambda work:
    * O(tokens) total — slice windows don't overlap). Segments travel as
    * md5 digests, never text, so the one corpus-wide shuffle on the
    * segment key carries 16-byte hashes; the keeper choice is a
    * partial-aggregatable min, and the keeper join reuses the same key
    * (no second shuffle layout). The segment frame is persisted because
    * the agg and the join-back both read it (the t18 lesson); the
    * doc-sized result is checkpointed and the frame released before
    * returning ([[SelfClean.releasing]]).
    */
  def segmentDedup(s: SparkSession, dir: String, width: Int = 10): DataFrame =
    segmentDedupOf(Tables.documents(s, dir), width)

  /** Core of [[segmentDedup]] over any (doc_id, text) frame. */
  def segmentDedupOf(documents: DataFrame, width: Int): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    SelfClean.releasing(segmentFrame(documents, width)
      // The digest stays the 32-char HEX string here, measured, not
      // assumed: the d19 family's unhex(md5(...)) rewrite was A/B'd on
      // this operator too and shuffled MORE (15.0 → 21.9 MB at sf1) —
      // hex md5 is 4-bit-entropy-per-byte, so the shuffle's lz4 codec
      // compresses it ~2× back to digest entropy, while 16-byte binary
      // (24 B in the UnsafeRow with its offset word) is incompressible.
      // Which representation wins depends on the query's dominant
      // exchange; d19/q07 measured the other way (Dedup.scala md5Grams
      // note), this one keeps hex.
      .select($"doc_id", md5($"seg").as("h"), $"ord")) { segs =>
      val keepers = segs.groupBy($"h").agg(min($"ord").as("keeper"))
      segs.join(keepers, "h")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_seg"),
          sum(when($"ord" === $"keeper", 1L).otherwise(0L)).as("n_kept"),
          round(sum(when($"ord" === $"keeper", 1L).otherwise(0L)) * lit(1.0)
            / count(lit(1)) + lit(1e-9), 6).as("kept_ratio"))
        .orderBy($"doc_id")
    }
  }

  def segmentDedupSql(width: Int = 10): String =
    s"""WITH ts AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |seg AS (
       |  SELECT doc_id, unnest(range(0, (len(toks) + ${width - 1}) // $width)) AS seg_id, toks
       |  FROM ts),
       |segh AS (
       |  SELECT doc_id, doc_id * 4294967296 + seg_id AS ord,
       |    md5(array_to_string(toks[seg_id * $width + 1 : seg_id * $width + $width], ' ')) AS h
       |  FROM seg),
       |keep AS (SELECT h, min(ord) AS keeper FROM segh GROUP BY h)
       |SELECT s.doc_id, count(*) AS n_seg,
       |  sum(CASE WHEN s.ord = k.keeper THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  round(sum(CASE WHEN s.ord = k.keeper THEN 1 ELSE 0 END) * 1.0 / count(*)
       |    + 1e-9, 6) AS kept_ratio
       |FROM segh s JOIN keep k USING (h)
       |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin

  /** d19: EXACT SUBSTRING-SPAN dedup — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * substring form) curation stage the fixed-segment family cannot
    * express: any ≥ `k`-token run that appeared verbatim EARLIER in the
    * corpus (any alignment, any earlier doc, or earlier in the same
    * doc) is removed from the text, rather than voting on a whole
    * fixed-width segment. d13/d18 only see width-aligned windows; d10
    * masks hot n-grams by document frequency; this operator removes
    * arbitrary-offset repeated SPANS exactly once-per-corpus.
    *
    * Pipeline (every step a shuffle-friendly relational op — the
    * suffix-array construction the reference paper uses is a
    * single-node algorithm; the distributed equivalent is positional
    * k-gram fingerprints + interval algebra):
    *  1. positional k-gram digests (doc_id, pos, md5 of the joined
    *     k tokens) — md5-of-string keeps the whole operator
    *     cross-engine checkable, the d02b/d13 portability pattern;
    *  2. one partial-agg shuffle on the digest: keeper = min corpus ord
    *     (doc_id<<32 | pos); every other occurrence of a shared gram
    *     flags its k-token window (self-join-free: occurrence count ≥ 2
    *     and ord ≠ keeper);
    *  3. flagged windows merge into maximal spans per doc
    *     (gaps-and-islands over a PER-DOC window — bounded by doc
    *     length, never a global sort): a shared run of length L ≥ k
    *     yields L-k+1 consecutive flagged positions that collapse into
    *     one [s, e) span;
    *  4. covered positions anti-join the token stream and the survivors
    *     rebuild the cleaned text (position-sorted collect per doc).
    *
    * Scale shape: the gram shuffle carries (doc_id, pos, 16-byte
    * digest) — ~n_tokens rows, the same order as the inverted-index/
    * tf family; span merge is per-doc-bounded; the rebuild explode is
    * ≤ corpus token count. The md5-of-joined-string gram costs
    * O(k · n_tokens) hashed bytes — the price of the oracle; a
    * production swap-in is a rolling xxhash64 over per-token hashes
    * (O(n_tokens)), same plan shape, different digest column.
    *
    * Single pass by design: removing a later occurrence never changes
    * the keeper's text, so no iteration is needed; overlapping shared
    * runs merge into one span (removal, not per-gram masking).
    */
  def substringDedup(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    substringDedupOf(Tables.documents(s, dir), k)

  /** Core of [[substringDedup]] over any (doc_id, text) frame. */
  def substringDedupOf(documents: DataFrame, k: Int = 20): DataFrame =
    substringCleanFromFlagged(documents,
      substringFlagged(md5Grams(documents, k), Seq("h")), k)

  /** d19b: [[substringDedupOf]]'s production form — positional k-gram
    * fingerprints by POLYNOMIAL ROLLING HASH (hashing.rollingKgramHashes, a
    * codegen'd single-pass expression: each token hashed once, O(1) per
    * position) instead of md5 over every k-token window (O(k · n)
    * hashed bytes — ~20× the work at k=20). Two independent 64-bit
    * families pair into an effectively-128-bit gram key: this operator
    * has no verify stage, and at 100 TB gram counts a single 64-bit
    * key expects millions of birthday collisions, each a silent false
    * span removal. Identical span semantics and output schema to d19 —
    * DedupSpec asserts row-for-row equality on the test corpus.
    */
  def substringDedupFast(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    substringDedupFastOf(Tables.documents(s, dir), k)

  /** Core of [[substringDedupFast]] over any (doc_id, text) frame. */
  def substringDedupFastOf(documents: DataFrame, k: Int = 20): DataFrame =
    substringCleanFromFlagged(documents,
      substringFlagged(fastGrams(documents, k), FastGramKey), k)

  /** The substring family's token array: null text is an empty doc, not
    * a null-propagating row (a scraped corpus always carries some).
    */
  private def spanTokens(text: Column): Column =
    split(coalesce(text, lit("")), " ")

  /** d19's positional md5 gram frame (doc_id, pos, h). Docs shorter
    * than k have no gram.
    */
  private def md5Grams(documents: DataFrame, k: Int): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents.select($"doc_id", spanTokens($"text").as("toks"))
      .filter(size($"toks") >= k)
      .select($"doc_id", posexplode(transform(
        sequence(lit(0), (size($"toks") - lit(k)).cast("int")),
        // 16-byte binary digest, not the 32-char hex: `h` is internal
        // (keeper choice + flag join only — never output), and this
        // ~n_tokens-row frame shuffles twice. Measured, not assumed
        // (lz4 compresses low-entropy hex ~2×, so the win isn't the
        // naive 2×): 214.7 → 157.4 shuffle MB at sf1, −27%. The same
        // rewrite LOST on d13 (see segmentDedupOf), which keeps hex.
        i => unhex(md5(array_join(slice($"toks", i + 1, lit(k)), " "))))))
      .select($"doc_id", $"pos", $"col".as("h"))
  }

  private val FastGramKey = Seq("h1", "h2")

  /** Positional rolling-fingerprint frame (doc_id, pos, h1, h2) of the
    * fast substring family — two independent 64-bit families paired
    * into the effectively-128-bit gram key (see [[substringDedupFast]]).
    * Rolling fingerprints return an EMPTY array for docs shorter than
    * k, so the short-doc filter is implicit in the explode.
    */
  private def fastGrams(documents: DataFrame, k: Int): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents.select($"doc_id",
        org.apache.spark.sql.graft.GraftFunctions
          .rolling_kgram_hashes($"text", k, 17L).as("g1"),
        org.apache.spark.sql.graft.GraftFunctions
          .rolling_kgram_hashes($"text", k, 29L).as("g2"))
      .select($"doc_id", posexplode(arrays_zip($"g1", $"g2")))
      .select($"doc_id", $"pos", $"col.g1".as("h1"), $"col.g2".as("h2"))
  }

  /** Non-keeper occurrences of shared grams: (doc_id, pos) windows to
    * remove. `key` names the gram columns (`h` for d19, `h1, h2` for
    * d19b). One partial-agg shuffle (min-ord + count per gram — a hot
    * verbatim gram's million occurrences partial-aggregate map-side,
    * never a hot reducer) and one join back.
    */
  private def substringFlagged(grams: DataFrame, key: Seq[String]): DataFrame = {
    val s = grams.sparkSession
    import s.implicits._
    val keepers = grams.groupBy(key.map(col): _*)
      .agg(min(shiftleft($"doc_id", 32) + $"pos").as("keeper"),
        count(lit(1)).as("n"))
      .filter($"n" >= 2)
      .select((key :+ "keeper").map(col): _*)
    grams.join(keepers, key)
      .filter(shiftleft($"doc_id", 32) + $"pos" =!= $"keeper")
      .select($"doc_id", $"pos")
  }

  /** [[substringDedupFastOf]]'s REWRITE form: returns
    * (doc_id, cleaned) — the text with every later copy of a ≥ k-token
    * shared run removed — for pipeline composition (p07's optional
    * substring stage), where the caller wants the text back, not the
    * audit digest.
    */
  def substringRewriteOf(documents: DataFrame, k: Int = 20): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    substringCleanCore(documents,
      substringFlagged(fastGrams(documents, k), FastGramKey), k)
      .select($"doc_id", $"cleaned")
  }

  /** Materialize the gram store for [[substringRewriteDelta]] probes:
    * the corpus's DISTINCT (h1, h2) fingerprints, bucketed so a delta
    * semi-join lands on the stored layout without an exchange. Distinct
    * is enough — a delta gram matching ANY corpus occurrence is a later
    * copy by construction (corpus ords precede the delta's).
    *
    * `mode = Append` grows the store with a later batch's grams
    * (duplicates are harmless — the probe is a semi-join).
    */
  def writeSubstringIndex(documents: DataFrame, table: String,
      k: Int = 20, buckets: Int = 8,
      mode: org.apache.spark.sql.SaveMode =
        org.apache.spark.sql.SaveMode.Overwrite): Unit =
    writeGrams(fastGrams(documents, k), table, mode, buckets)

  /** The one bucketed writer of a gram store: the distinct (h1, h2) of a
    * [[fastGrams]] frame into `<table>_grams`. The streaming substring
    * gate appends its probe's kept grams through it, so a batch's text
    * is hashed once per trigger.
    */
  private[graft] def writeGrams(grams: DataFrame, table: String,
      mode: org.apache.spark.sql.SaveMode, buckets: Int = 8): Unit =
    grams.select("h1", "h2").distinct()
      .write.mode(mode)
      .bucketBy(buckets, "h1", "h2").sortBy("h1", "h2")
      .format("parquet").saveAsTable(s"${table}_grams")

  /** Delta-batch substring rewrite against a [[writeSubstringIndex]]
    * store: a delta window is removed if its gram is stored (some
    * corpus doc owned it first) OR a within-delta earlier occurrence
    * owns it — the union-batch rule at O(delta) cost.
    */
  def substringRewriteDelta(spark: SparkSession, table: String,
      delta: DataFrame, k: Int = 20): DataFrame =
    SelfClean.scope(keep => SelfClean.checkpoint(
      substringRewriteIn(spark, table, delta, k, keep)._1))

  /** [[substringRewriteDelta]]'s lazy core: returns the (doc_id, cleaned)
    * rewrite and the delta's grams. The grams serve two consumers here
    * (stored-index probe + substringFlagged) and the streaming substring
    * gate's index growth ([[writeGrams]]), so they are kept in the
    * caller's scope, and the caller materializes the delta-sized rewrite
    * before that scope ends — the gate checkpoints it as its probe.
    */
  private[graft] def substringRewriteIn(spark: SparkSession, table: String,
      delta: DataFrame, k: Int,
      keep: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    indexRecoverAndRefresh(spark, table, Seq("_grams"))
    val grams = keep(fastGrams(delta, k))
    val stored = grams
      .join(spark.table(s"${table}_grams"), FastGramKey, "left_semi")
      .select($"doc_id", $"pos")
    val flagged = stored.unionByName(substringFlagged(grams, FastGramKey))
      .distinct()
    (substringCleanCore(delta, flagged, k).select($"doc_id", $"cleaned"), grams)
  }

  /** Observability for the substring-dedup family (the
    * minhashDroppedBuckets contract): the `topN` most-repeated k-gram
    * windows with their occurrence counts and the keeper's text — what
    * mass the operator is actually removing. A license header repeated
    * 100k× surfaces here as one row with n_occurrences = 100k; a
    * surprising top entry is the first thing to eyeball after a big
    * kill-rate jump. Count aggregation is partial (map-side combine on
    * the gram key); only the topN keeper rows ever join back to text.
    */
  def substringHotSpans(documents: DataFrame, k: Int = 20,
      topN: Int = 20): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val grams = fastGrams(documents, k)
    val top = grams.groupBy($"h1", $"h2")
      .agg(count(lit(1)).as("n_occurrences"),
        min(shiftleft($"doc_id", 32) + $"pos").as("keeper"))
      .filter($"n_occurrences" >= 2)
      .orderBy($"n_occurrences".desc, $"keeper")
      .limit(topN)
      .select($"n_occurrences",
        shiftright($"keeper", 32).as("keeper_doc"),
        $"keeper".bitwiseAND((1L << 32) - 1).as("keeper_pos"))
    top.join(documents.select($"doc_id".as("keeper_doc"), $"text"),
        Seq("keeper_doc"))
      .select($"n_occurrences", $"keeper_doc", $"keeper_pos",
        array_join(slice(spanTokens($"text"),
          ($"keeper_pos" + 1).cast("int"), lit(k)), " ").as("span_text"))
      .orderBy($"n_occurrences".desc, $"keeper_doc", $"keeper_pos")
  }

  /** Shared tail of the substring-dedup family: merge flagged k-windows
    * into maximal spans (gaps-and-islands over a PER-DOC window), drop
    * covered token positions, rebuild the cleaned text, emit per-doc
    * stats + cleaned digest.
    */
  private def substringCleanFromFlagged(documents: DataFrame,
      flagged: DataFrame, k: Int): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    substringCleanCore(documents, flagged, k)
      .select($"doc_id", $"n_tokens", $"n_spans", $"n_removed",
        md5($"cleaned").as("cleaned_digest"))
      .orderBy($"doc_id")
  }

  /** (doc_id, n_tokens, n_spans, n_removed, cleaned) for every doc —
    * cleaned text with flagged k-windows merged into maximal spans and
    * removed (empty string for a fully-covered doc).
    *
    * Rebuild shape (guide §2.4, r19): the cleaned text comes from ONE
    * per-doc span aggregation + a left join back to the token frame +
    * a codegen'd merge walk
    * ([[org.apache.spark.sql.graft.hashing.removeSpans]]). The composed form
    * this replaces posexploded EVERY corpus token into a row, exploded
    * every covered position, anti-joined the two on (doc_id, pos) and
    * re-collected each doc with a position sort — two corpus-token-scale
    * exchanges plus a struct sort per doc, paid even by the (typical)
    * majority of docs with no spans at all. DedupSpec pins the fused
    * walk row-identical to the composed rebuild (hostile spans: doc
    * fully covered, adjacent/merged islands, span at both ends), and
    * d19's DuckDB oracle hash-checks the digests end-to-end.
    *
    * The token frame is split from `documents` here, not persisted:
    * the grams read `documents` too, so this join is its only reader.
    */
  private def substringCleanCore(documents: DataFrame, flagged: DataFrame,
      k: Int): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
    val spans = flagged
      .withColumn("prev_end", max($"pos" + k)
        .over(byPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(
        when($"prev_end".isNull || $"pos" > $"prev_end", 1L).otherwise(0L))
        .over(byPos))
      .groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("s"), (max($"pos") + k).as("e"))
    // stats + the sorted span array in ONE aggregation (the window above
    // already partitioned by doc_id, so neither groupBy re-exchanges)
    val spanAgg = spans.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"), sum($"e" - $"s").as("n_removed"),
        sort_array(collect_list(struct($"s".cast("int").as("s"),
          $"e".cast("int").as("e")))).as("spans"))
    documents.select($"doc_id", spanTokens($"text").as("toks"))
      .join(spanAgg, Seq("doc_id"), "left")
      .select($"doc_id", size($"toks").cast("long").as("n_tokens"),
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"n_removed", lit(0L)).as("n_removed"),
        org.apache.spark.sql.graft.GraftFunctions.remove_spans($"toks",
          coalesce($"spans", array().cast("array<struct<s:int,e:int>>")))
          .as("cleaned"))
  }

  def substringDedupSql(k: Int = 20): String =
    s"""WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(range(len(toks) - $k + 1)) AS pos, toks
       |  FROM d WHERE len(toks) >= $k),
       |gh AS (
       |  SELECT doc_id, pos,
       |    md5(array_to_string(toks[pos + 1 : pos + $k], ' ')) AS h
       |  FROM g),
       |keep AS (
       |  SELECT h, min(doc_id * 4294967296 + pos) AS keeper
       |  FROM gh GROUP BY h HAVING count(*) >= 2),
       |f AS (
       |  SELECT doc_id, pos FROM gh JOIN keep USING (h)
       |  WHERE doc_id * 4294967296 + pos <> keeper),
       |isl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN max(pos + $k) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |      OR pos > max(pos + $k) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      THEN 1 ELSE 0 END AS ni
       |  FROM f),
       |isl2 AS (
       |  SELECT doc_id, pos,
       |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |  FROM isl),
       |sp AS (
       |  SELECT doc_id, isl, min(pos) AS s, max(pos) + $k AS e
       |  FROM isl2 GROUP BY doc_id, isl),
       |st AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_spans,
       |    sum(e - s)::BIGINT AS n_removed
       |  FROM sp GROUP BY doc_id),
       |cov AS (SELECT doc_id, unnest(range(s, e)) AS pos FROM sp),
       |tp AS (
       |  SELECT doc_id, unnest(range(len(toks))) AS pos, toks FROM d),
       |tok AS (SELECT doc_id, pos, toks[pos + 1] AS tok FROM tp),
       |kept AS (
       |  SELECT t.doc_id, t.pos, t.tok FROM tok t
       |  ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos),
       |reb AS (
       |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, len(d.toks)::BIGINT AS n_tokens,
       |  coalesce(st.n_spans, 0)::BIGINT AS n_spans,
       |  coalesce(st.n_removed, 0)::BIGINT AS n_removed,
       |  md5(coalesce(reb.cleaned, '')) AS cleaned_digest
       |FROM d LEFT JOIN st USING (doc_id) LEFT JOIN reb USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** d13's segmentation as a frame: (doc_id, ord, seg) where ord =
    * doc_id<<32 | position makes "earlier" a total corpus order
    * (bounds: doc_id < 2^31, < 2^32 segments/doc — ~40B tokens at
    * width 10, far past any real document; the previous 1e6 base
    * overflowed into the next doc's ord space at ~10M tokens). Shared
    * by d13 and d18 (d18b segments through [[segmentHashFrame]]). NOT
    * persisted here — each caller caches exactly the projection it
    * re-reads (d13 its digest frame, d18 the full frame).
    */
  private def segmentFrame(documents: DataFrame, width: Int): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", posexplode(transform(
        sequence(lit(0),
          floor((size($"toks") + lit(width - 1)) / lit(width)).cast("int") - 1),
        i => array_join(slice($"toks", i * width + 1, lit(width)), " "))))
      .select($"doc_id", (shiftleft($"doc_id", 32) + $"pos").as("ord"),
        $"col".as("seg"))
  }

  /** Per-doc rollup over a [[segmentFrame]] and the set of segment ords
    * flagged as having an earlier near-dup.
    *
    * Shape (r16): ord ENCODES its doc (doc_id<<32|pos, the segment
    * frames' contract), so both aggregates are independent per-doc
    * COUNTS — a map-partial groupBy over the segment frame and one over
    * the small flagged-ord set, joined at doc granularity — instead of
    * the former corpus-sized segs⋈dupOrds join feeding one groupBy.
    * Value-identical (same counts, same rounding), one less
    * segment-sized shuffle.
    */
  private[graft] def segmentNeardupRollup(segs: DataFrame,
      dupOrds: DataFrame): DataFrame = {
    val s = segs.sparkSession
    import s.implicits._
    val perDoc = segs.groupBy($"doc_id").agg(count(lit(1)).as("n_seg"))
    val dupPerDoc = dupOrds
      .groupBy(shiftright($"ord", 32).as("doc_id"))
      .agg(count(lit(1)).as("_n_dup"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_seg",
        coalesce($"_n_dup", lit(0L)).as("n_fuzzy_dup"),
        round(($"n_seg" - coalesce($"_n_dup", lit(0L))) * lit(1.0)
          / $"n_seg" + lit(1e-9), 6).as("kept_ratio"))
      .orderBy($"doc_id")
  }

  /** d18: segment-level NEAR-dup dedup — the stage between d13 (exact
    * segment dedup: catches verbatim repeated passages) and d02 (whole-doc
    * MinHash: near-dup documents): lightly-EDITED repeated passages —
    * boilerplate headers with a date swapped, template paragraphs with one
    * entity renamed — that exact segment hashing misses and whole-doc
    * similarity dilutes below threshold. The practical Dolma/FineWeb-style
    * paragraph-dedup stage.
    *
    * Pipeline: d13's fixed-width segmentation → md5-portable MinHash
    * banding per SEGMENT (d02b's recipe, reused verbatim — a segment is
    * just a short document to the banding core) → bucket self-join for
    * candidate pairs → exact shingle-Jaccard verify → per-doc rollup of
    * segments that have a near-dup at an EARLIER corpus position (d13's
    * first-occurrence-wins contract, so the output composes with d13's:
    * same keeper orientation, fuzzy instead of exact equality).
    *
    * Scale shape: the banding shuffle carries (segment, band, 32-byte
    * digest) — never segment text pairs; candidates are bucket-bounded;
    * the verify joins shingle ARRAYS onto candidate-sized rows only.
    * `idBound` caps the portable family's |shingles|×k explode exactly
    * like d02b/d14 — the price of a cross-engine-checkable oracle, paid
    * only inside the bounded window; [[segmentNeardupFull]] is the
    * corpus-wide production form.
    */
  def segmentNeardup(s: SparkSession, dir: String, width: Int = 10,
      idBound: Long = 150, k: Int = 16, rows: Int = 2,
      minJaccard: Double = 0.5): DataFrame = {
    import s.implicits._
    SelfClean.releasing(segmentFrame(
      Tables.documents(s, dir).filter($"doc_id" < idBound)
        .select($"doc_id", $"text"), width)) { segs =>
      // the banding core treats (ord, seg) as a tiny document
      val banded = portableBands(
        segs.select($"ord".as("doc_id"), $"seg".as("text")), k, rows)
        .select($"doc_id".as("ord"), $"band", $"band_hash")
      val a = banded.select($"band", $"band_hash", $"ord".as("ord_a"))
      val b = banded.select($"band", $"band_hash", $"ord".as("ord_b"))
      val cand = a.join(b, Seq("band", "band_hash"))
        .filter($"ord_a" < $"ord_b")
        .select($"ord_a", $"ord_b").distinct()
      // exact verify on the candidate set: distinct-shingle Jaccard
      val shArr = segs.select($"ord", shingles($"seg", 3).as("sh"))
      val dupSegs = cand
        .join(shArr.select($"ord".as("ord_a"), $"sh".as("sha")), Seq("ord_a"))
        .join(shArr.select($"ord".as("ord_b"), $"sh".as("shb")), Seq("ord_b"))
        .withColumn("inter", size(array_intersect($"sha", $"shb")))
        .withColumn("uni", size($"sha") + size($"shb") - $"inter")
        .filter($"uni" > 0 && $"inter" * lit(1.0) / $"uni" >= minJaccard)
        .select($"ord_b".as("ord")).distinct()
      segmentNeardupRollup(segs, dupSegs)
    }
  }

  /** Corpus-wide production form of [[segmentNeardup]]: the same
    * segmentation and first-occurrence rollup, with an EXACT-FIRST
    * two-stage pair pipeline:
    *
    *  1. Exact stage (d13's logic): min-ord keeper per distinct segment
    *     digest; every other occurrence is a dup by definition. This is
    *     what makes hot verbatim boilerplate (a header repeated 100k×)
    *     the FAST path: it collapses to one representative before any
    *     banding, so it can never inflate an LSH bucket past the cap —
    *     the failure mode of banding the raw segment stream, where the
    *     skew guard would silently unflag exactly the hottest mass.
    *  2. Near-dup stage: [[minhashPairs]] (the production xxhash d02
    *     machinery, skew guard and merge-walk verify included) over the
    *     KEEPERS only — one row per distinct segment text. A keeper
    *     pairing with an earlier keeper is a fuzzy dup; its own exact
    *     copies are already flagged by stage 1 and stay consistent
    *     (their earlier partner is the keeper's partner, transitively).
    *
    * maxBucket here caps buckets of DISTINCT near-identical variants
    * (an edited-template explosion), not verbatim repeats;
    * [[segmentNeardupFullDroppedBuckets]] surfaces what the cap dropped,
    * same observability contract as d02/d11.
    *
    * Semantics vs the oracled d18: identical on its planted corpus
    * (spec-pinned), with two documented deltas — exact repeats of
    * sub-shingle-width segments ARE flagged here (d18's shingle-based
    * verify cannot see them; strictly more correct), and candidate
    * recall past the exact stage follows this family's 16×4 s-curve
    * rather than the oracle's 8×2.
    */
  def segmentNeardupFull(s: SparkSession, dir: String, width: Int = 10,
      bands: Int = 16, rows: Int = 4, maxBucket: Int = 64,
      minJaccard: Double = 0.5): DataFrame =
    segmentNeardupFullOf(Tables.documents(s, dir), width, bands, rows,
      maxBucket, minJaccard)

  /** Core of [[segmentNeardupFull]] over any (doc_id, text) frame; p07's
    * segment stage calls it too.
    *
    * Self-cleaning (the minhashPairsAdaptive contract, r16): the per-doc
    * rollup is doc-count-sized — it is materialized eagerly and the two
    * segment-sized caches (meta + keeper aggregate) are released before
    * returning, instead of being left to the caller's session hygiene.
    * Without this, back-to-back runs (bench reps, notebook
    * re-evaluation) stack corpus-sized cache generations and the later
    * runs time eviction churn, not the operator (the r15 d19b lesson —
    * isolated 13 s vs 50 s on the third stacked rep).
    */
  def segmentNeardupFullOf(documents: DataFrame, width: Int = 10,
      bands: Int = 16, rows: Int = 4, maxBucket: Int = 64,
      minJaccard: Double = 0.5): DataFrame =
    segmentRollupCore(documents.sparkSession, documents, None, width,
      bands, rows, maxBucket, minJaccard)

  /** The segment family's one batch/delta core. ONE tokenization pass
    * ([[segmentHashFrame]]) yields, per segment, BOTH the exact-stage
    * digest and the banding/verify shingle hashes, and that frame is
    * the only corpus-sized cache. Dup ords are the within-batch set
    * ([[segmentDupOrdsFromHashes]]) plus, with `table`, the ords that
    * match a [[writeSegmentIndex]] store
    * ([[segmentDeltaOrdsFromMeta]]) — unioned BEFORE one rollup so a
    * segment dup'd both ways counts once. The doc-sized rollup is
    * checkpointed and both caches (meta and the keeper aggregate) are
    * released by this scope before returning.
    *
    * The exact digest is the PAIR (h, h2) of independent-seed xxhash64s
    * — 128 collision bits, matching the md5 contract it replaced (the
    * d19b two-family discipline; ADVICE r14) — and the shingle hashes
    * are value-identical to the old keeper-side word_shingle_hashes,
    * so banding, bucket caps, and the Jaccard verify reproduce the
    * previous pair set bit-for-bit.
    */
  private def segmentRollupCore(spark: SparkSession, documents: DataFrame,
      table: Option[String], width: Int, bands: Int, rows: Int,
      maxBucket: Int, minJaccard: Double): DataFrame = {
    import spark.implicits._
    SelfClean.scope { keep =>
      val meta = keep(
        segmentHashFrame(documents.select($"doc_id", $"text"), width))
      val within = segmentDupOrdsFromHashes(meta, keep, bands, rows,
        maxBucket, minJaccard)
      val ords = table.fold(within)(t => within.unionByName(
        segmentDeltaOrdsFromMeta(spark, t, meta, bands, rows, minJaccard))
        .distinct())
      SelfClean.checkpoint(segmentNeardupRollup(meta, ords))
    }
  }

  /** d13's segmentation fused to hashes: (doc_id, ord, h, sh) — one row
    * per fixed-width segment, digest + sorted distinct shingle hashes,
    * computed map-side in one pass. ord keeps [[segmentFrame]]'s
    * doc_id<<32|pos total corpus order.
    *
    * SCRIPT-ADAPTIVE since r16 (the §7.14 contract's named production
    * swap, VERDICT r15 #4): documents whose whitespace density clears
    * `wsThresh` segment by `width` WORDS with word-3-gram shingles —
    * bit-identical rows to the former
    * [[org.apache.spark.sql.graft.hashing.segmentShingleHashes]]-only frame, so
    * every existing consumer (d18b, the p07 segment stage, the stored
    * segment index, the streaming segment gate) reproduces its previous
    * output exactly on segmented corpora (CjkSpec pins the equality) —
    * while unsegmented CJK-class documents segment by `width` CODE
    * POINTS with char `charK`-gram shingles, so edited boilerplate
    * repeats are flagged instead of collapsing into one giant
    * whitespace token that near-dups only at whole-doc granularity.
    * Probe/store/append paths all route through this one frame, so the
    * stored index and its deltas stay in the same family by
    * construction.
    */
  private[graft] def segmentHashFrame(documents: DataFrame,
      width: Int, charK: Int = 6, wsThresh: Double = 0.05): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents
      .select($"doc_id", posexplode(org.apache.spark.sql.graft.GraftFunctions
        .segment_shingle_hashes_adaptive($"text", width, 3, charK, wsThresh)))
      .select($"doc_id", (shiftleft($"doc_id", 32) + $"pos").as("ord"),
        $"col.h".as("h"), $"col.h2".as("h2"), $"col.sh".as("sh"))
  }

  /** Each (h, h2) digest's first occurrence in a [[segmentHashFrame]]:
    * (h, h2, ord, sh) with ord = min(ord) and sh that row's shingles
    * (ord is unique per row, so min_by is deterministic). The one
    * keeper rule of the segment family — batch flagging, the
    * dropped-bucket diagnostic, and the stored index's write and growth
    * all select keepers through it.
    */
  private def segmentKeepers(meta: DataFrame): DataFrame = {
    val s = meta.sparkSession
    import s.implicits._
    meta.groupBy($"h", $"h2")
      .agg(min($"ord").as("ord"), min_by($"sh", $"ord").as("sh"))
  }

  /** The flagged (ord) set over a persisted [[segmentHashFrame]]:
    * exact-stage later occurrences (same digest as an earlier segment)
    * plus near-dup later keepers from the minhash band/verify pipeline
    * run directly over the keeper segments' pre-hashed shingles. The
    * keeper aggregate is cached in the caller's scope (`keep`), which
    * releases it once the lazy result has been materialized.
    */
  private def segmentDupOrdsFromHashes(meta: DataFrame,
      keep: DataFrame => DataFrame, bands: Int, rows: Int, maxBucket: Int,
      minJaccard: Double): DataFrame = {
    val s = meta.sparkSession
    import s.implicits._
    // Exact-equality key is the independent-seed digest PAIR (h, h2) —
    // 128 collision bits, the d19b discipline; a single 64-bit key
    // silently drops a non-duplicate segment with nonzero expectation
    // at ~10¹⁰ segments (ADVICE r14).
    //
    // ONE (h, h2) exchange settles the whole exact stage (r16): min_by
    // carries each digest's first-occurrence shingles through the
    // keeper aggregation, and exact dups fall out of a join against the
    // persisted keeper frame — replacing keeper-groupBy + ord-anti-join
    // + keeper-ord-join, three meta exchanges. The r15 A/B (CHANGELOG.md)
    // rejected this at ~1.5 s inside the stage's old noise band; the
    // r16 waterfall re-priced the three-exchange form at 5.5 s vs 3.5 s
    // once the banding leg stopped dominating, so it lands now.
    val keeperAgg = keep(segmentKeepers(meta))
    val keepers = keeperAgg.select($"ord".as("doc_id"), $"sh")
    val exactDups = meta.select($"ord", $"h", $"h2")
      .join(keeperAgg.select($"h", $"h2", $"ord".as("_kord")), Seq("h", "h2"))
      .filter($"ord" =!= $"_kord")
      .select($"ord")
    val nearPairs = minhashPairsFromShingles(keepers, bands, rows,
      maxBucket, minJaccard)
    // pairs come back (doc_a < doc_b) = (earlier ord, later ord):
    // the later occurrence is the fuzzy dup, d13's keeper orientation.
    // exact dups are NON-keeper ords and near-dup losers are KEEPER
    // ords — disjoint by construction — so only the pair side (where
    // one keeper can lose to several partners) needs a distinct, never
    // the segment-sized union the former shape deduped.
    exactDups.unionByName(nearPairs.select($"doc_b".as("ord")).distinct())
  }

  /** Observability for [[segmentNeardupFull]]'s bucket cap: the keeper
    * (distinct-segment) buckets the near-dup stage pruned as oversized.
    * A hit here means > maxBucket DISTINCT near-identical variants of
    * one passage — raise the cap, or accept that only their exact
    * repeats are flagged.
    */
  def segmentNeardupFullDroppedBuckets(s: SparkSession, dir: String,
      width: Int = 10, bands: Int = 16, rows: Int = 4,
      maxBucket: Int = 64): DataFrame = {
    import s.implicits._
    // Diagnose the PRODUCTION frame (r16): the former form re-segmented
    // via the word-only text frame + md5 digests — honest before the
    // adaptive swap, but it would report buckets for a segmentation the
    // d18b path no longer runs on CJK corpora. One fused pass, same
    // keeper selection, same banding family as the stage itself.
    val meta = segmentHashFrame(
      Tables.documents(s, dir).select($"doc_id", $"text"), width)
    val keepers = segmentKeepers(meta).select($"ord".as("doc_id"), $"sh")
    droppedBuckets(
      minhashBandedFrom(keepers.filter(size($"sh") > 0), bands, rows),
      Seq("band", "band_hash"), maxBucket)
  }

  def segmentNeardupSql(width: Int = 10, idBound: Long = 150, k: Int = 16,
      rows: Int = 2, minJaccard: Double = 0.5): String =
    s"""WITH ts AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE doc_id < $idBound),
       |seg AS (
       |  SELECT doc_id, doc_id * 4294967296 + seg_id AS ord,
       |    toks[seg_id * $width + 1 : seg_id * $width + $width] AS st
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(0, (len(toks) + ${width - 1}) // $width)) AS seg_id
       |        FROM ts)),
       |shl AS (
       |  SELECT ord, doc_id,
       |    list_distinct(list_transform(range(greatest(len(st) - 2, 0)),
       |      i -> st[i+1] || ' ' || st[i+2] || ' ' || st[i+3])) AS sh
       |  FROM seg),
       |ex AS (SELECT ord, unnest(sh) AS s FROM shl),
       |hashed AS (
       |  SELECT ord, i,
       |    ('0x' || substring(md5(i::VARCHAR || ':' || s), 1, 15))::BIGINT AS h
       |  FROM ex CROSS JOIN (SELECT unnest(range($k)) AS i)),
       |sig AS (SELECT ord, i, min(h) AS mh FROM hashed GROUP BY ord, i),
       |bands AS (
       |  SELECT ord, (i // $rows)::INT AS band,
       |    md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_hash
       |  FROM sig GROUP BY ord, (i // $rows)::INT),
       |cand AS (
       |  SELECT DISTINCT x.ord AS ord_a, y.ord AS ord_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.ord < y.ord),
       |dup AS (
       |  SELECT DISTINCT c.ord_b AS ord
       |  FROM cand c
       |  JOIN shl sa ON sa.ord = c.ord_a
       |  JOIN shl sb ON sb.ord = c.ord_b
       |  WHERE len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) > 0
       |    AND len(list_intersect(sa.sh, sb.sh)) * 1.0 /
       |        (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
       |        >= $minJaccard)
       |SELECT g.doc_id, count(*) AS n_seg,
       |  coalesce(sum(CASE WHEN d.ord IS NOT NULL THEN 1 END), 0)::BIGINT
       |    AS n_fuzzy_dup,
       |  round((count(*) - coalesce(sum(CASE WHEN d.ord IS NOT NULL THEN 1 END), 0))
       |    * 1.0 / count(*) + 1e-9, 6) AS kept_ratio
       |FROM seg g LEFT JOIN dup d USING (ord)
       |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin

  /** d14: incremental near-dup detection — a NEW batch probed against the
    * EXISTING corpus, the shape a production pipeline actually runs (a
    * daily crawl lands; nobody re-mines 100 TB of history per batch).
    * This oracled variant expresses the probe MECHANICS with the
    * md5-portable family (d02b's recipe): corpus = doc_id < `splitId`,
    * delta = the next `deltaN` ids (a bounded batch — that IS the
    * incremental contract, and it caps the portable family's
    * |shingles|×k explode the way d02b's idBound does); band join
    * corpus×delta (never a self-join — the candidate space is
    * delta-sized), exact shingle-Jaccard verify.
    *
    * The production path is [[writeDedupIndex]] + [[dedupDelta]]: the
    * corpus's bands and shingle store are materialized ONCE, bucketed so
    * every future probe joins them with no exchange on the stored side —
    * per-batch cost is O(delta) hashing plus candidate-sized shuffles,
    * independent of corpus size.
    */
  def dedupIncremental(s: SparkSession, dir: String, splitId: Long = 400,
      deltaN: Long = 100, k: Int = 16, rows: Int = 2,
      minJaccard: Double = 0.35): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < splitId)
    val delta = docs.filter($"doc_id" >= splitId && $"doc_id" < splitId + deltaN)
    val cb = portableBands(corpus, k, rows)
      .select($"band", $"band_hash", $"doc_id".as("corpus_id"))
    val db = portableBands(delta, k, rows)
      .select($"band", $"band_hash", $"doc_id".as("new_id"))
    val cand = cb.join(db, Seq("band", "band_hash"))
      .groupBy($"corpus_id", $"new_id")
      .agg(count(lit(1)).as("n_shared_bands"))
    val withSh = cand
      .join(corpus.select($"doc_id".as("corpus_id"),
        shingles($"text", 3).as("sh_c")), "corpus_id")
      .join(delta.select($"doc_id".as("new_id"),
        shingles($"text", 3).as("sh_n")), "new_id")
    val ni = size(array_intersect($"sh_c", $"sh_n"))
    withSh
      .withColumn("jaccard",
        round(ni.cast("double") / (size($"sh_c") + size($"sh_n") - ni), 6))
      .filter($"jaccard" >= minJaccard)
      .select($"corpus_id", $"new_id", $"n_shared_bands", $"jaccard")
      .orderBy($"corpus_id", $"new_id")
  }

  def dedupIncrementalSql(splitId: Long = 400, deltaN: Long = 100,
      k: Int = 16, rows: Int = 2, minJaccard: Double = 0.35): String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE doc_id < ${splitId + deltaN}),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(greatest(len(toks) - 2, 0)),
       |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS sh
       |  FROM d),
       |h AS (
       |  SELECT doc_id, s.i,
       |    min(('0x' || substring(md5(s.i::VARCHAR || ':' || sh), 1, 15))::BIGINT)
       |      AS mh
       |  FROM sh CROSS JOIN (SELECT unnest(range($k)) AS i) s
       |  GROUP BY doc_id, s.i),
       |b AS (
       |  SELECT doc_id, (i // $rows)::INT AS band,
       |    md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_hash
       |  FROM h GROUP BY doc_id, (i // $rows)::INT),
       |cand AS (
       |  SELECT c.doc_id AS corpus_id, n.doc_id AS new_id,
       |    count(*) AS n_shared_bands
       |  FROM b c JOIN b n
       |    ON c.band = n.band AND c.band_hash = n.band_hash
       |  WHERE c.doc_id < $splitId AND n.doc_id >= $splitId
       |  GROUP BY 1, 2),
       |shl AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(greatest(len(string_split(text, ' ')) - 2, 0)),
       |    i -> string_split(text, ' ')[i+1] || ' ' ||
       |         string_split(text, ' ')[i+2] || ' ' ||
       |         string_split(text, ' ')[i+3])) AS sh
       |  FROM documents WHERE doc_id < ${splitId + deltaN})
       |SELECT corpus_id, new_id, n_shared_bands,
       |  round(len(list_intersect(a.sh, n.sh)) * 1.0 /
       |    (len(a.sh) + len(n.sh) - len(list_intersect(a.sh, n.sh))), 6)
       |    AS jaccard
       |FROM cand
       |JOIN shl a ON a.doc_id = corpus_id
       |JOIN shl n ON n.doc_id = new_id
       |WHERE round(len(list_intersect(a.sh, n.sh)) * 1.0 /
       |    (len(a.sh) + len(n.sh) - len(list_intersect(a.sh, n.sh))), 6)
       |  >= $minJaccard
       |ORDER BY corpus_id, new_id""".stripMargin

  /** d17: approximate source-overlap matrix via HLL sketches — the
    * sketch-cost complement of d15: d15 runs the near-dup pipeline and
    * reports VERIFIED pair mass between sources; this estimates
    * distinct-shingle overlap for EVERY source pair from one
    * partial-aggregatable sketch pass (Spark's DataSketches
    * `hll_sketch_agg` — a TypedImperativeAggregate, so per-task partial
    * sketches merge on the |sources|-row reduce side, never the raw
    * shingle stream). The pair stage is a |sources|²/2 cross of
    * kilobyte sketches (broadcast-trivial at any corpus size):
    * |A∩B| ≈ |A| + |B| − |A∪B| by inclusion-exclusion over the merged
    * union sketch, containment = overlap / min(|A|, |B|) — the "which
    * feed mirrors which" triage that decides where to POINT the exact
    * d15/d02 machinery. Hash-seeded sketch internals → rows-only
    * (DedupSpec pins estimates against exact distinct intersections).
    */
  def sourceSketchOverlap(s: SparkSession, dir: String,
      lgK: Int = 12): DataFrame =
    sourceSketchOverlapOf(Tables.documents(s, dir), lgK)

  /** Core of [[sourceSketchOverlap]] over any (source, text) frame. */
  def sourceSketchOverlapOf(docs: org.apache.spark.sql.DataFrame,
      lgK: Int = 12): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sk = docs
      .select($"source", explode(
        org.apache.spark.sql.graft.GraftFunctions
          .word_shingle_hashes($"text", 3)).as("h"))
      .groupBy($"source")
      .agg(hll_sketch_agg($"h", lgK).as("sk"))
      .withColumn("est", round(hll_sketch_estimate($"sk")).cast("long"))
    val a = sk.select($"source".as("src_lo"), $"sk".as("sk_a"),
      $"est".as("est_lo"))
    val b = sk.select($"source".as("src_hi"), $"sk".as("sk_b"),
      $"est".as("est_hi"))
    a.join(b, $"src_lo" < $"src_hi")
      .withColumn("est_union",
        round(hll_sketch_estimate(hll_union($"sk_a", $"sk_b"))).cast("long"))
      .withColumn("est_overlap",
        greatest($"est_lo" + $"est_hi" - $"est_union", lit(0L)))
      .withColumn("containment", round(
        $"est_overlap".cast("double") / least($"est_lo", $"est_hi"), 4))
      .select($"src_lo", $"src_hi", $"est_lo", $"est_hi",
        $"est_overlap", $"containment")
      .orderBy($"src_lo", $"src_hi")
  }

  /** d15: cross-source contamination matrix — near-dup mass aggregated
    * into source pairs, the curation diagnostic that answers "which feeds
    * mirror which" (a scraper mirroring a wire service shows up as one
    * heavy off-diagonal cell; dedup THEN tells you which side to keep by
    * quality, not arrival order). Pairs come from the md5-portable band
    * pipeline (d02b) + exact shingle-Jaccard verify (d14's stage), then
    * roll up by the unordered source pair (least/greatest canonical
    * orientation).
    *
    * Scale shape: everything until the rollup is the d02b/d14 machinery
    * (banding shuffle carries digests, candidates are bucket-bounded);
    * the rollup input is pair-sized and the matrix itself is
    * |sources|²-bounded — a partial-aggregatable groupBy, never a
    * window.
    */
  def sourceOverlap(s: SparkSession, dir: String, idBound: Int = 400,
      k: Int = 16, rows: Int = 2, minJaccard: Double = 0.35): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).filter($"doc_id" < idBound)
    val pairs = minhashPortable(s, dir, idBound, k, rows)
    val sh = docs.select($"doc_id", shingles($"text", 3).as("sh"))
    val src = docs.select($"doc_id", $"source")
    val ni = size(array_intersect($"sh_a", $"sh_b"))
    pairs
      .join(sh.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .withColumn("jaccard",
        round(ni.cast("double") / (size($"sh_a") + size($"sh_b") - ni), 6))
      .filter($"jaccard" >= minJaccard)
      .join(src.select($"doc_id".as("doc_a"), $"source".as("source_a")), "doc_a")
      .join(src.select($"doc_id".as("doc_b"), $"source".as("source_b")), "doc_b")
      .select(least($"source_a", $"source_b").as("src_lo"),
        greatest($"source_a", $"source_b").as("src_hi"), $"jaccard")
      .groupBy($"src_lo", $"src_hi")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"jaccard") + lit(1e-9), 6).as("avg_jaccard"))
      .orderBy($"src_lo", $"src_hi")
  }

  def sourceOverlapSql(idBound: Int = 400, k: Int = 16, rows: Int = 2,
      minJaccard: Double = 0.35): String =
    s"""WITH d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents WHERE doc_id < $idBound),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(greatest(len(toks) - 2, 0)),
       |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS sh
       |  FROM d),
       |h AS (
       |  SELECT doc_id, s.i,
       |    min(('0x' || substring(md5(s.i::VARCHAR || ':' || sh), 1, 15))::BIGINT)
       |      AS mh
       |  FROM sh CROSS JOIN (SELECT unnest(range($k)) AS i) s
       |  GROUP BY doc_id, s.i),
       |b AS (
       |  SELECT doc_id, (i // $rows)::INT AS band,
       |    md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS band_hash
       |  FROM h GROUP BY doc_id, (i // $rows)::INT),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM b a JOIN b b2
       |    ON a.band = b2.band AND a.band_hash = b2.band_hash
       |    AND a.doc_id < b2.doc_id
       |  GROUP BY 1, 2),
       |shl AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(greatest(len(toks) - 2, 0)),
       |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
       |  FROM d),
       |ver AS (
       |  SELECT doc_a, doc_b,
       |    round(len(list_intersect(a.sh, bb.sh)) * 1.0 /
       |      (len(a.sh) + len(bb.sh) - len(list_intersect(a.sh, bb.sh))), 6)
       |      AS jaccard
       |  FROM cand JOIN shl a ON a.doc_id = doc_a
       |  JOIN shl bb ON bb.doc_id = doc_b),
       |lab AS (
       |  SELECT least(da.source, db.source) AS src_lo,
       |    greatest(da.source, db.source) AS src_hi, jaccard
       |  FROM ver JOIN d da ON da.doc_id = doc_a
       |  JOIN d db ON db.doc_id = doc_b
       |  WHERE jaccard >= $minJaccard)
       |SELECT src_lo, src_hi, count(*) AS n_pairs,
       |  round(avg(jaccard) + 1e-9, 6) AS avg_jaccard
       |FROM lab GROUP BY src_lo, src_hi
       |ORDER BY src_lo, src_hi""".stripMargin

  /** Materialize a corpus dedup index for [[dedupDelta]] probes: the
    * production-family (xxhash64 hashing.minhashSig) band table bucketed by
    * band_hash, plus the hashed-shingle store bucketed by doc_id — both
    * laid out so a delta probe joins them WITHOUT an exchange on the
    * stored side (the scan's bucket partitioning satisfies the join's
    * distribution; only the delta-derived side shuffles).
    *
    * Degenerate buckets (> `maxBucket` members — boilerplate/template
    * text) are dropped AT WRITE TIME: they would otherwise tax every
    * future probe with the same skew. `minhashDroppedBuckets` on the
    * corpus frame lists exactly what was excluded.
    */
  def writeDedupIndex(documents: DataFrame, table: String, buckets: Int = 8,
      bands: Int = 16, rows: Int = 4, maxBucket: Int = 64): Unit =
    SelfClean.scope(keep => writeDedupIndexFromShingles(
      keep(shingleFrame(documents)), table, buckets, bands, rows, maxBucket))

  /** [[writeDedupIndex]] core over an already-hashed (doc_id, sh) frame
    * (caller persists it — it's read twice) — the segment index writes
    * through here so the fused hashing.segmentShingleHashes pass is hashed once
    * (VERDICT r14 #8: the former path re-tokenized keeper segments).
    */
  private[graft] def writeDedupIndexFromShingles(shingled: DataFrame,
      table: String, buckets: Int, bands: Int, rows: Int,
      maxBucket: Int): Unit = {
    val s = shingled.sparkSession
    import s.implicits._
    val sh = shingled.filter(size($"sh") > 0)
    // Aggregate-then-join cap (minhashPairs' straggler reasoning): the
    // hot bucket a window would sort in one task is exactly the
    // boilerplate skew this write-time filter exists to exclude.
    val bandedIdx = minhashBandedFrom(sh, bands, rows)
    val okBuckets = bandedIdx.groupBy($"band", $"band_hash")
      .agg(count(lit(1)).as("bucket_n"))
      .filter($"bucket_n" <= maxBucket)
      .select($"band", $"band_hash")
    bandedIdx.join(okBuckets, Seq("band", "band_hash"))
      .select($"doc_id", $"band", $"band_hash")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(buckets, "band_hash").sortBy("band_hash")
      .format("parquet").saveAsTable(s"${table}_bands")
    sh.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(s"${table}_shingles")
  }

  /** Probe a delta batch against a [[writeDedupIndex]] corpus index:
    * band-join candidates (delta bands against the stored band table),
    * then exact hashed-shingle Jaccard verify against the stored shingle
    * frame. Only the delta is hashed; the corpus is never rescanned or
    * reshuffled — both stored tables join in their bucketed layout, so
    * per-batch cost is O(delta) + candidate-sized shuffles regardless of
    * corpus size. Rows come sorted by (corpus_id, new_id); callers that
    * need only the id set use [[dedupDeltaPairs]], which skips the sort.
    */
  def dedupDelta(spark: SparkSession, table: String, delta: DataFrame,
      bands: Int = 16, rows: Int = 4, minJaccard: Double = 0.5): DataFrame = {
    import spark.implicits._
    dedupDeltaPairs(spark, table, delta, bands, rows, minJaccard)
      .orderBy($"corpus_id", $"new_id")
  }

  /** [[dedupDelta]] without the final sort — the (corpus_id, new_id,
    * jaccard) pairs, each once, in no particular order. Self-cleaning
    * ([[SelfClean.releasing]]): the delta's shingle frame (read by
    * banding and verify) is released once the candidate-sized result is
    * checkpointed.
    */
  private[graft] def dedupDeltaPairs(spark: SparkSession, table: String,
      delta: DataFrame, bands: Int, rows: Int,
      minJaccard: Double): DataFrame = {
    SelfClean.releasing(shingleFrame(delta))(
      dedupProbeFrames(Seq(storedIndex(spark, table)), _, bands, rows,
        minJaccard)
        // duplicate index rows (an at-least-once append replay) fan the
        // verify joins into duplicate output rows — collapse the
        // result-sized frame so probes stay exactly-once downstream
        .dropDuplicates("corpus_id", "new_id"))
  }

  /** The (bands, shingles) tables of a [[writeDedupIndex]] index as an
    * index part for [[dedupProbeFrames]], recovered and refreshed first.
    */
  private[graft] def storedIndex(spark: SparkSession,
      table: String): (DataFrame, DataFrame) = {
    indexRecoverAndRefresh(spark, table, Seq("_bands", "_shingles"))
    (spark.table(s"${table}_bands"), spark.table(s"${table}_shingles"))
  }

  /** A not-yet-indexed (doc_id, sh) frame as an index part for
    * [[dedupProbeFrames]]: its banding rows and its shingle rows. The
    * streaming gates pass their pending buffer through here (banding
    * ≤ growEvery batches per trigger is cheaper than the bucketed append
    * it defers).
    */
  private[graft] def bufferIndex(shingled: DataFrame, bands: Int,
      rows: Int): (DataFrame, DataFrame) = {
    val s = shingled.sparkSession
    import s.implicits._
    val sh = shingled.filter(size($"sh") > 0)
    (minhashBandedFrom(sh, bands, rows), sh)
  }

  /** Probe an already-hashed (doc_id, sh) delta frame against an index
    * given as PARTS — each a (doc_id, band, band_hash) banding frame plus
    * its (doc_id, sh) shingle frame. The parts are unioned, so however
    * many there are (the stored tables, plus the streaming gates'
    * pending buffer — see [[bufferIndex]]) the probe is ONE band join
    * and ONE verify. The (corpus_id, new_id, jaccard) result is unsorted,
    * and a pair repeats when its corpus doc has duplicate index rows (an
    * at-least-once append replay, or a crash between a fold's append and
    * its buffer delete); callers collapse it as they need — an anti-join
    * on new_id needs nothing.
    */
  private[graft] def dedupProbeFrames(index: Seq[(DataFrame, DataFrame)],
      shingled: DataFrame, bands: Int, rows: Int,
      minJaccard: Double): DataFrame = {
    val spark = shingled.sparkSession
    import spark.implicits._
    val dsh = shingled.filter(size($"sh") > 0)
    val bandsIdx = index
      .map(_._1.select($"band", $"band_hash", $"doc_id".as("corpus_id")))
      .reduce(_ unionByName _)
    val shinglesIdx = index
      .map(_._2.select($"doc_id".as("corpus_id"), $"sh".as("sh_a")))
      .reduce(_ unionByName _)
    val cand = bandsIdx
      .join(minhashBandedFrom(dsh, bands, rows)
        .select($"band", $"band_hash", $"doc_id".as("new_id")),
        Seq("band", "band_hash"))
      .select($"corpus_id", $"new_id")
      .dropDuplicates("corpus_id", "new_id")
    val withSh = cand
      .join(shinglesIdx, "corpus_id")
      .join(dsh.select($"doc_id".as("new_id"), $"sh".as("sh_b")), "new_id")
    val ni = org.apache.spark.sql.graft.GraftFunctions
      .sorted_intersection_size($"sh_a", $"sh_b")
    withSh
      .withColumn("jaccard",
        round(ni.cast("double") / (size($"sh_a") + size($"sh_b") - ni), 6))
      .filter($"jaccard" >= minJaccard)
      .select($"corpus_id", $"new_id", $"jaccard")
  }

  /** Append a batch's band + shingle rows to a [[writeDedupIndex]] table
    * pair, preserving the bucketed layout (each append lands its own
    * bucket files — periodic [[writeDedupIndex]] reindexing compacts them
    * and re-applies the degenerate-bucket drop corpus-wide). Replayed
    * appends leave duplicate index rows; [[dedupDelta]] collapses the
    * duplicate candidates they produce, so growth can run at-least-once.
    */
  def appendDedupIndex(documents: DataFrame, table: String, buckets: Int = 8,
      bands: Int = 16, rows: Int = 4): Unit =
    SelfClean.scope(keep => appendDedupIndexFromShingles(
      keep(shingleFrame(documents)), table, buckets, bands, rows))

  /** [[appendDedupIndex]] core over an already-hashed (doc_id, sh) frame
    * (caller persists it — read twice). Each table is repartitioned on
    * its bucket column first, so every task writes one bucket's file: an
    * append adds at most `buckets` files per table, not tasks × buckets.
    */
  private[graft] def appendDedupIndexFromShingles(shingled: DataFrame,
      table: String, buckets: Int, bands: Int, rows: Int): Unit = {
    val s = shingled.sparkSession
    import s.implicits._
    val sh = shingled.filter(size($"sh") > 0)
    minhashBandedFrom(sh, bands, rows)
      .select($"doc_id", $"band", $"band_hash")
      .repartition(buckets, $"band_hash")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(buckets, "band_hash").sortBy("band_hash")
      .format("parquet").saveAsTable(s"${table}_bands")
    sh.repartition(buckets, $"doc_id")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(buckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(s"${table}_shingles")
  }

  /** The stored-index table-name suffixes a dedup/segment/substring/
    * semantic index may own — the compaction + file-count probe family
    * iterates these.
    */
  private val IndexSuffixes =
    Seq("_bands", "_shingles", "_segdigests", "_grams", "_vecs")

  /** Open-time hygiene for a stored index (VERDICT r17 #3 + ADVICE r17):
    * finish or roll back any compaction swap a crash interrupted
    * (Layout.recoverCompaction — so a gate restart never faces a missing
    * live table name), then refreshTable each index table this probe will
    * read — compaction in ANOTHER session (the documented between-batches
    * pattern) rewrites the files under the table, and Spark has no
    * cross-session invalidation, so an un-refreshed reader hits stale
    * file listings / FileNotFound. `suffixes` scopes the work to the
    * tables THIS probe reads (self-review r18: refreshing all five
    * suffixes forced a full file re-listing of tables the probe never
    * scans, on every micro-batch — and missed `_vecmeta`, whose
    * staleness the storedPlanes fallback silently turned into a
    * wrong-partition-family probe). Cost per probe: a handful of catalog
    * existence checks plus re-listing tables whose file counts the
    * compaction contract itself bounds at ~one file per bucket.
    */
  private[graft] def indexRecoverAndRefresh(spark: SparkSession,
      table: String, suffixes: Seq[String] = IndexSuffixes): Unit =
    suffixes.map(s => s"$table$s").foreach { t =>
      graft.sources.Layout.recoverCompaction(spark, t).foreach(a =>
        System.err.println(s"[index] recovered $t: $a"))
      if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
    }

  /** Per-table data-file counts for a stored index — the observability
    * half of the compaction contract (verdict r16 #3): a long-running
    * stream's fold cycles append up to one file per bucket per fold,
    * so this is the number that grows without bound until
    * [[compactIndex]] runs.
    */
  def indexFileCounts(spark: SparkSession, table: String): Map[String, Long] =
    IndexSuffixes.map(s => s"$table$s")
      .filter(t => spark.catalog.tableExists(t))
      .map(t => t -> graft.sources.Layout.bucketedFileCount(spark, t))
      .toMap

  /** Bucketing-preserving compaction of every index table the store
    * owns whose data-file count exceeds `above` (0 = compact all): each
    * `<table><suffix>` catalog table is rewritten through its own bucket
    * spec (one file per bucket afterwards), so probe plans keep their
    * exchange-free stored side while scan planning stops degrading with
    * fold count. Returns per-table (files_before, files_after). Run
    * between batches — like the fold itself, it is not concurrent with a
    * probe of the same store; the streaming gates call through here at
    * fold boundaries (StreamingOps.maybeCompact).
    */
  def compactIndex(spark: SparkSession, table: String,
      above: Long = 0L): Map[String, (Long, Long)] = {
    // finish/roll back any swap a crash interrupted BEFORE counting —
    // a mid-swap table would otherwise read "absent" and be skipped
    // silently (its files left under the _compact_* name forever)
    indexRecoverAndRefresh(spark, table)
    indexFileCounts(spark, table)
      .filter(_._2 > above).keys.toSeq.sorted
      .map(t => t -> graft.sources.Layout.compactBucketedTable(spark, t))
      .toMap
  }

  /** Materialize a SEGMENT-granularity dedup index for [[segmentDelta]]
    * probes — d18b's paragraph-dedup contract made incremental: the
    * corpus's distinct segment KEEPERS (first occurrence per digest)
    * stored three ways, all in probe-without-reshuffle bucketed layout:
    *
    *  - `<table>_segdigests`: the (h, h2) independent-seed xxhash64
    *    digest PAIR (128 collision bits — the d19b discipline),
    *    bucketed by h — the exact-match fast path (verbatim
    *    boilerplate, d13's stage);
    *  - `<table>_bands` / `<table>_shingles` (keeper segments as
    *    pseudo-docs, ord as doc_id): the minhash banding +
    *    shingle-verify path that catches EDITED boilerplate — a header
    *    with a date swapped — which digests miss.
    *
    * The whole family runs off ONE fused
    * [[org.apache.spark.sql.graft.hashing.segmentShingleHashes]] pass
    * (VERDICT r14 #8): digests and shingle hashes come out of the same
    * tokenization, so writer, grower and prober never re-tokenize a
    * segment and no segment TEXT is ever persisted or shuffled —
    * formerly this writer segmented once for digests and re-tokenized
    * every keeper inside writeDedupIndex.
    *
    * Keeper-only indexing is the same exact-first discipline as
    * [[segmentNeardupFull]]: hot verbatim mass collapses to one
    * representative before banding, so it can never blow an LSH bucket.
    */
  def writeSegmentIndex(documents: DataFrame, table: String,
      width: Int = 10, buckets: Int = 8, bands: Int = 16, rows: Int = 4,
      maxBucket: Int = 64): Unit = {
    val s = documents.sparkSession
    import s.implicits._
    // kept: the digest write and the three band/shingle reads all scan
    // the keepers
    SelfClean.scope { keep =>
      val keepers = keep(segmentKeepers(
        segmentHashFrame(documents.select($"doc_id", $"text"), width)))
      keepers.select($"h", $"h2")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(buckets, "h").sortBy("h")
        .format("parquet").saveAsTable(s"${table}_segdigests")
      writeDedupIndexFromShingles(
        keepers.select($"ord".as("doc_id"), $"sh"),
        table, buckets, bands, rows, maxBucket)
    }
  }

  /** Probe a delta batch of documents against a [[writeSegmentIndex]]
    * keeper store — d18b's rollup for the batch, counting BOTH dup
    * sources the batch form would see on the union corpus (stored
    * corpus ords all precede delta ords): segments matching a stored
    * keeper (exact digest or ≥ `minJaccard` edited, via
    * [[segmentDeltaOrdsFromMeta]]) and within-batch later occurrences
    * ([[segmentDupOrdsFromHashes]], d18b's own path), unioned before
    * one (doc_id, n_seg, n_fuzzy_dup, kept_ratio) rollup so a segment
    * dup'd both ways counts once. O(delta): the corpus is never
    * rescanned, both join sides land on the stored tables' bucketed
    * layout, and the batch is tokenized once.
    *
    * Self-cleaning like [[segmentNeardupFullOf]] (same core): the
    * doc-sized rollup is materialized and the meta and keeper caches
    * are released before returning.
    */
  def segmentDelta(spark: SparkSession, table: String, delta: DataFrame,
      width: Int = 10, bands: Int = 16, rows: Int = 4, maxBucket: Int = 64,
      minJaccard: Double = 0.5): DataFrame =
    segmentRollupCore(spark, delta, Some(table), width, bands, rows,
      maxBucket, minJaccard)

  /** The stored-index-matched (ord) set behind [[segmentDelta]], over a
    * persisted [[segmentHashFrame]]: exact = (h, h2) digest semi-join
    * against the keeper store; edited = the band/shingle-verify probe
    * over the SAME pre-hashed shingles, against the stored tables plus
    * any `extra` index parts (the segment gate's pending buffer).
    */
  private[graft] def segmentDeltaOrdsFromMeta(spark: SparkSession,
      table: String, meta: DataFrame, bands: Int, rows: Int,
      minJaccard: Double,
      extra: Seq[(DataFrame, DataFrame)] = Nil): DataFrame = {
    import spark.implicits._
    indexRecoverAndRefresh(spark, table, Seq("_segdigests"))
    val exact = meta
      .join(spark.table(s"${table}_segdigests"), Seq("h", "h2"), "left_semi")
      .select($"ord")
    val fuzzy = dedupProbeFrames(storedIndex(spark, table) +: extra,
      meta.select($"ord".as("doc_id"), $"sh"), bands, rows, minJaccard)
      .select($"new_id".as("ord"))
    exact.unionByName(fuzzy).distinct()
  }

  /** Grow a [[writeSegmentIndex]] store with a batch's NOVEL keeper
    * segments (first occurrence within the batch, digest pair not
    * already stored): digest rows + band/shingle rows append in the
    * bucketed layout. Replayed appends leave duplicate rows —
    * [[segmentDelta]]'s exact path is a semi-join
    * (duplicate-insensitive) and its fuzzy path collapses duplicate
    * candidates, so growth runs at-least-once.
    */
  def appendSegmentIndex(documents: DataFrame, table: String,
      width: Int = 10, buckets: Int = 8, bands: Int = 16,
      rows: Int = 4): Unit =
    SelfClean.scope(keep => appendSegmentIndexFromMeta(
      keep(segmentHashFrame(documents.select("doc_id", "text"), width)),
      table, buckets, bands, rows))

  /** [[appendSegmentIndex]] core over a persisted [[segmentHashFrame]]
    * — the streaming gate feeds the probe pass's meta (filtered to kept
    * docs) through here, so growth costs zero extra tokenization.
    */
  private[graft] def appendSegmentIndexFromMeta(meta: DataFrame,
      table: String, buckets: Int = 8, bands: Int = 16,
      rows: Int = 4): Unit = {
    val s = meta.sparkSession
    import s.implicits._
    // localCheckpoint, not persist: novel's plan anti-joins the digest
    // table, and the digest APPEND below comes before the band/shingle
    // append reads novel again — a cache-miss recompute after the first
    // write would see its own digests and silently append nothing.
    // Checkpointing cuts the lineage so both writes read the same rows.
    val novel = segmentKeepers(meta)
      .join(s.table(s"${table}_segdigests"), Seq("h", "h2"), "left_anti")
      .localCheckpoint()
    novel.select($"h", $"h2")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(buckets, "h").sortBy("h")
      .format("parquet").saveAsTable(s"${table}_segdigests")
    appendDedupIndexFromShingles(novel.select($"ord".as("doc_id"), $"sh"),
      table, buckets, bands, rows)
  }

  /** Materialize a semantic dedup index for [[semanticDelta]] probes —
    * the vector analog of [[writeDedupIndex]], for the pipeline a
    * production embedding store actually runs (a daily embedding batch
    * lands; nobody re-buckets 100 TB of vectors per batch): the corpus's
    * (vec_id, v, bucket) frame stored bucketed by `bucket`, so a delta
    * probe joins it WITHOUT an exchange on the stored side.
    *
    * The bucket family is the production fused `hyperplane_sig`
    * expression (xxhash64 ±1 planes — one tight loop per vector), not
    * d11's md5-literal family: a stored serving path has no oracle to
    * stay portable for, and
    * [[org.apache.spark.sql.graft.hashing.hyperplaneProbes]] shares the
    * same family by construction, so delta-side probes address stored buckets
    * directly. Oversized buckets (degenerate/template embeddings) are
    * dropped AT WRITE TIME — they would tax every future probe with the
    * same skew (the [[writeDedupIndex]] rationale); eligibility is an
    * aggregate semi-join, never a bucket-partitioned window (the q26/d11
    * rule: 2^planes distinct keys would cap parallelism).
    */
  def writeSemanticIndex(vectors: DataFrame, table: String,
      buckets: Int = 8, planes: Int = 0, maxBucket: Int = 512): Unit = {
    val s = vectors.sparkSession
    import s.implicits._
    // planes=0 (default) → corpus-derived (VERDICT r14 #1): the index
    // writer is exactly where a fixed plane count rots — the corpus
    // grows across reindexes while 2^planes stays put, so fill climbs
    // until every bucket cap-drops. minPlanes=12 keeps the historical
    // stored-path default at small corpora; the derived value is
    // PERSISTED in `${table}_vecmeta` so appends and probes address the
    // same partition without the caller re-supplying it.
    val p = if (planes > 0) planes
      else scaledPlanes(vectors.count(), maxBucket, minPlanes = 12)
    SelfClean.scope { keep =>
      val bucketed = keep(vecsOf(vectors).withColumn("bucket",
        org.apache.spark.sql.graft.GraftFunctions.hyperplane_sig($"v", p)))
      bucketed.join(bucketStats(bucketed).filter($"bn" <= maxBucket), Seq("bucket"))
        .select($"vec_id", $"v", $"bucket")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(buckets, "bucket").sortBy("bucket")
        .format("parquet").saveAsTable(s"${table}_vecs")
    }
    Seq((p, maxBucket)).toDF("planes", "max_bucket")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_vecmeta")
  }

  /** `planes` when set, else the plane count a [[writeSemanticIndex]]
    * table was written with — one driver-side row from the `_vecmeta`
    * sidecar; pre-sidecar indexes (no sidecar table) fall back to the
    * historical default 12. The semantic gate resolves it once per
    * trigger and passes it to both its probe and its growth append.
    * The fallback fires ONLY on absence (self-review r18): the old
    * catch-all turned a stale-listing read failure after a cross-session
    * rewrite into planes=12 — a silently wrong partition family, every
    * probe missing — where the correct move is refresh-and-retry, and
    * the correct outcome for any remaining failure is a loud one.
    */
  private[graft] def storedPlanes(spark: SparkSession, table: String,
      planes: Int): Int = {
    val t = s"${table}_vecmeta"
    if (planes > 0) planes
    else if (!spark.catalog.tableExists(t)) 12
    else try spark.table(t).head().getInt(0)
    catch {
      case NonFatal(_) =>
        spark.catalog.refreshTable(t)
        spark.table(t).head().getInt(0)
    }
  }

  /** Probe a delta embedding batch against a [[writeSemanticIndex]]
    * corpus index: the delta's home bucket PLUS its `nprobe - 1`
    * lowest-margin flips (multi-probe — the same cross-boundary recall
    * d11b buys, here for free on the probe side since only the delta
    * expands) address the stored bucket layout directly; candidates are
    * cosine-verified. Only the delta is projected and shuffled; the
    * corpus is never rescanned or re-bucketed — per-batch cost is
    * O(delta) + candidate-sized work regardless of corpus size.
    */
  def semanticDelta(spark: SparkSession, table: String, delta: DataFrame,
      planes: Int = 0, nprobe: Int = 3, minCos: Double = 0.9): DataFrame = {
    import spark.implicits._
    indexRecoverAndRefresh(spark, table, Seq("_vecs", "_vecmeta"))
    // planes=0 → the value the index was written with (_vecmeta): probe
    // and store MUST share the partition or every lookup misses.
    val p = storedPlanes(spark, table, planes)
    val probes = vecsOf(delta).select($"vec_id".as("new_id"), $"v".as("nv"))
      .withColumn("bucket", explode(
        org.apache.spark.sql.graft.GraftFunctions
          .hyperplane_probes($"nv", p, nprobe)))
    spark.table(s"${table}_vecs")
      .select($"bucket", $"vec_id".as("corpus_id"), $"v".as("cv"))
      .join(probes, Seq("bucket"))
      .select($"corpus_id", $"new_id", $"cv", $"nv")
      // ONE candidate-level collapse handles both fan-out sources: a pair
      // arriving via several probe buckets AND the duplicate index rows a
      // replayed append leaves (they enter through this same join) —
      // nothing downstream re-fans rows, unlike dedupDelta's shingle
      // joins which need a second collapse
      .dropDuplicates("corpus_id", "new_id")
      .withColumn("cos", round(cosine($"cv", $"nv"), 6))
      .filter($"cos" >= minCos)
      .select($"corpus_id", $"new_id", $"cos")
      .orderBy($"corpus_id", $"new_id")
  }

  /** Append a batch to a [[writeSemanticIndex]] table, preserving the
    * bucketed layout (map-only bucket assignment against the SAME plane
    * family — immediately probeable, no re-bucketing; periodic
    * [[writeSemanticIndex]] reindexing compacts bucket files and
    * re-applies the oversized-bucket drop corpus-wide). Replays are
    * tolerated: [[semanticDelta]] collapses duplicate candidates.
    */
  def appendSemanticIndex(vectors: DataFrame, table: String,
      buckets: Int = 8, planes: Int = 0): Unit = {
    val s = vectors.sparkSession
    import s.implicits._
    vecsOf(vectors)
      .withColumn("bucket", org.apache.spark.sql.graft.GraftFunctions
        .hyperplane_sig($"v", storedPlanes(s, table, planes)))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(buckets, "bucket").sortBy("bucket")
      .format("parquet").saveAsTable(s"${table}_vecs")
    ()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d13_segment_dedup" -> ((s: SparkSession, d: String) => segmentDedup(s, d)),
    "d18_segment_neardup" -> ((s: SparkSession, d: String) => segmentNeardup(s, d)),
    "d19_substring_dedup" -> ((s: SparkSession, d: String) => substringDedup(s, d)),
    "d19b_substring_fast" -> ((s: SparkSession, d: String) => substringDedupFast(s, d)),
    "d18b_segment_neardup_full" ->
      ((s: SparkSession, d: String) => segmentNeardupFull(s, d)),
    "d14_dedup_incremental" -> ((s: SparkSession, d: String) => dedupIncremental(s, d)),
    "d15_source_overlap" -> ((s: SparkSession, d: String) => sourceOverlap(s, d, idBound = 1500)),
    "d17_source_sketch_overlap" -> ((s: SparkSession, d: String) => sourceSketchOverlap(s, d)),
    "d01_dedup_exact" -> (dedupExact _),
    "d07_dedup_clusters" -> (dedupClusters _),
    "d09_canonical" -> ((s: SparkSession, d: String) => canonicalPerCluster(s, d)),
    "d08_containment" -> ((s: SparkSession, d: String) => containmentPairs(s, d)),
    "d02_dedup_minhash" -> ((s: SparkSession, d: String) => dedupMinhash(s, d)),
    "d02b_minhash_portable" -> ((s: SparkSession, d: String) => minhashPortable(s, d)),
    "d02c_minhash_adaptive" -> ((s: SparkSession, d: String) => dedupMinhashAdaptive(s, d)),
    "d03_dedup_simhash" -> ((s: SparkSession, d: String) => dedupSimhash(s, d)),
    "d03b_simhash_portable" -> ((s: SparkSession, d: String) => simhashPortable(s, d)),
    "d04_ngram_jaccard" -> ((s: SparkSession, d: String) => ngramJaccard(s, d)),
    "d05_embed_neardup" -> ((s: SparkSession, d: String) => embedNeardup(s, d)),
    "d11_semantic_dedup" -> ((s: SparkSession, d: String) => semanticDedup(s, d)),
    "d11b_semantic_multiprobe" ->
      ((s: SparkSession, d: String) => semanticDedup(s, d, nprobe = 3)),
    "d12_semantic_clusters" -> ((s: SparkSession, d: String) => semanticClusters(s, d)),
    "d10_hot_ngram_mask" -> ((s: SparkSession, d: String) => hotNgramMask(s, d)))

  // d02/d03 are hash-family-dependent (xxhash64 seeds) → not SQL-portable;
  // verified in DedupSpec against planted duplicates + brute-force Jaccard.
  val oracles: Map[String, String] = Map(
    "d13_segment_dedup" -> segmentDedupSql(),
    "d18_segment_neardup" -> segmentNeardupSql(),
    "d19_substring_dedup" -> substringDedupSql(),
    "d14_dedup_incremental" -> dedupIncrementalSql(),
    "d15_source_overlap" -> sourceOverlapSql(idBound = 1500),
    "d01_dedup_exact" -> dedupExactSql,
    "d02b_minhash_portable" -> minhashPortableSql,
    "d03b_simhash_portable" -> simhashPortableSql,
    "d07_dedup_clusters" -> dedupClustersSql,
    "d09_canonical" -> canonicalPerClusterSql,
    "d08_containment" -> containmentPairsSql,
    "d04_ngram_jaccard" -> ngramJaccardSql,
    "d05_embed_neardup" -> embedNeardupSql,
    "d11_semantic_dedup" -> semanticDedupSql,
    "d11b_semantic_multiprobe" -> semanticMultiprobeSql,
    "d12_semantic_clusters" -> semanticClustersSql,
    "d10_hot_ngram_mask" -> hotNgramMaskSql)
}
