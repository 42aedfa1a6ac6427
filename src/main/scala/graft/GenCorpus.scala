package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic generated corpus for scale probes (VERDICT r5 #5).
  *
  * The ×N replicated probe corpus is pathological for the dedup family —
  * every doc has N−1 exact twins, so the pair set is maximal and the
  * measured numbers say little about a realistic dup rate. This generator
  * synthesizes an sf1-scale `documents` table (10× sf0.1's 5,000 docs by
  * default) from hashes — fully distributed, no driver-side data — with a
  * controlled ~5% planted NEAR-dup rate: each planted doc copies a spread
  * base doc's token sequence plus a 2-token deterministic suffix
  * (3-gram-shingle Jaccard ≈ 0.93–0.98 — above dedupGroups' 0.8 verify
  * threshold, below exact equality), mimicking the real table's shape (30–90
  * space-separated tokens, skewed common/rare vocabulary, 5 langs,
  * 20 sources).
  *
  * Usage: runMain graft.GenCorpus [outDir] [nBase] [dupPct]
  * Default: /tmp/graftdata/sf1 47500 5  → 50,000 docs total.
  */
object GenCorpus {

  /** The common-tier vocabulary: 50 REAL English words (including the
    * five t22 stopwords) rather than synthetic `c<k>` markers, so the
    * generated corpus survives the Gopher stopword-evidence rule and the
    * curation DAG's quality gate kills at a realistic rate instead of
    * 100% — with an all-synthetic vocabulary every doc dies at
    * t22_t20_quality and the p07 sf1/sf10 bench runs its entire tail
    * (PII / mixture / packing / scheduling) on EMPTY frames. The words
    * are pairwise distinct and disjoint from the rare (`r<k>`) and
    * mutation (`m<k>`) tiers, so the h%50 mapping stays injective and
    * every planted-pair Jaccard invariant is byte-for-byte the same
    * structure as before the swap.
    */
  private val CommonVocab: Seq[String] = Seq(
    "the", "a", "of", "and", "is",
    "data", "model", "train", "token", "text", "word", "with", "from",
    "that", "this", "have", "will", "time", "more", "other", "about",
    "into", "over", "under", "scale", "learn", "deep", "layer", "batch",
    "sample", "filter", "query", "value", "index", "score", "count",
    "group", "table", "quick", "brown", "fox", "jumps", "lazy", "dog",
    "river", "stone", "cloud", "light", "night", "green")

  /** Token sequence for a doc id, derivable for any id column — the dup
    * rows re-derive their base doc's tokens from its id. 30–90 tokens;
    * 75% draws from the 50-word common tier above, 25% from a 5000-word
    * rare tier (the skew that makes n-gram/df statistics non-degenerate).
    */
  private def tokensFor(id: Column): Column = {
    val common = array(CommonVocab.map(lit): _*)
    val n = pmod(xxhash64(id, lit(1)), lit(61)) + lit(30)
    transform(sequence(lit(0), (n - 1).cast("int")), { j =>
      val h = pmod(xxhash64(id, j, lit(2)), lit(1000000L))
      when(h % 100 < 75, element_at(common, (h % 50).cast("int") + 1))
        .otherwise(concat(lit("r"), ((h / 100) % 5000).cast("string")))
    })
  }

  private def finish(toks: Column): List[Column] = {
    val text = array_join(toks, " ")
    List(text.as("text"),
      element_at(
        array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh")),
        (pmod(xxhash64(col("doc_id"), lit(11)), lit(5)) + 1).cast("int"))
        .as("lang"),
      concat(lit("src"),
        pmod(xxhash64(col("doc_id"), lit(12)), lit(20)).cast("string"))
        .as("source"),
      length(text).cast("long").as("n_chars"))
  }

  def generate(spark: org.apache.spark.sql.SparkSession, nBase: Long,
      dupPct: Int, idOffset: Long = 0L): DataFrame = {
    import spark.implicits._
    // The stride construction below is collision-free only for dupPct in
    // [0, 50]; >= 100 divides by zero and (50, 100) silently points
    // planted dups at non-existent base ids, breaking the planted-pair
    // invariant every probe number relies on.
    require(dupPct >= 0 && dupPct <= 50,
      s"dupPct must be in [0, 50], got $dupPct")
    // idOffset shifts the TEXT derivation, not just the ids: texts are
    // tokensFor(doc_id), so two generate() calls with overlapping id
    // ranges emit byte-identical documents. A caller that wants docs
    // NOVEL relative to another generated corpus (a delta against a
    // GenScale store — both start at id 0) must offset into
    // disjoint id space or its "novel" half silently exact-collides.
    val base = spark.range(nBase).select(($"id" + idOffset).as("doc_id"))
      .select(col("doc_id") :: finish(tokensFor($"doc_id")): _*)
    val nDup = nBase * dupPct / (100 - dupPct)
    // spread the dup'd bases across the id space (stride keeps them
    // collision-free for any dupPct ≤ 50)
    val stride = math.max(nBase / math.max(nDup, 1L), 1L)
    val dups = spark.range(nDup)
      .select(($"id" + idOffset + nBase).as("doc_id"),
        ($"id" * stride + idOffset).as("src_id"))
      .withColumn("toks", tokensFor($"src_id"))
      .withColumn("mut", concat($"toks", array(
        concat(lit("m"), pmod(xxhash64($"doc_id", lit(7)), lit(1000)).cast("string")),
        concat(lit("m"), pmod(xxhash64($"doc_id", lit(8)), lit(1000)).cast("string")))))
      .select(col("doc_id") :: finish($"mut"): _*)
    base.unionByName(dups)
  }

  /** Clustered embeddings table matching the testdata schema
    * (vec_id BIGINT, embedding FLOAT[64], label INT): 20 label
    * centroids in [-1,1)^64, each vector = its label's centroid +
    * `noise`-amplitude hash noise — so IVF/LSH have real cluster
    * structure to exploit, unlike replicated testdata rows. The default
    * 0.3 gives realistic spread (sign-bucket boundary straddle included);
    * a small amplitude (e.g. 0.05) gives bucket-stable clusters for
    * strict survivor-set assertions.
    */
  def generateEmbeddings(spark: org.apache.spark.sql.SparkSession,
      nVec: Long, noise: Double = 0.3): DataFrame = {
    import spark.implicits._
    spark.range(nVec).select($"id".as("vec_id"))
      .withColumn("label", pmod(xxhash64($"vec_id", lit(21)), lit(20)).cast("int"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), { j =>
        val c = pmod(xxhash64($"label", j, lit(22)), lit(2001)).cast("double") / 1000.0 - 1.0
        val nz = pmod(xxhash64($"vec_id", j, lit(23)), lit(2001)).cast("double") / 1000.0 - 1.0
        (c + nz * noise).cast("float")
      }))
      .select($"vec_id", $"embedding", $"label")
  }

  /** Deterministic binary media table matching the multimodal record
    * schema (doc_id, kind, payload BINARY, n_bytes, content_hash): each
    * payload is 128–4095 bytes of md5-chained pseudorandom data, kinds
    * hash-assigned — REAL opaque blobs, unlike the utf8 text bytes the
    * documents-derived media table carries — with a planted `dupPct`%
    * exact-duplicate payload rate (duplicate rows re-derive a spread base
    * row's bytes, byte-identical under a fresh doc_id — the mirrored-
    * asset/re-post case m04 quantifies). Planted duplicate count =
    * nBase * dupPct / (100 - dupPct), exactly recoverable by the probe.
    */
  def generateMedia(spark: org.apache.spark.sql.SparkSession, nBase: Long,
      dupPct: Int = 8): DataFrame = {
    import spark.implicits._
    require(dupPct >= 0 && dupPct <= 50,
      s"dupPct must be in [0, 50], got $dupPct")
    val nDup = nBase * dupPct / (100 - dupPct)
    val stride = math.max(nBase / math.max(nDup, 1L), 1L)
    val srcKey = when($"id" < nBase, $"id")
      .otherwise(pmod(($"id" - nBase) * stride, lit(nBase)))
    val nb = (pmod(xxhash64(srcKey, lit(31)), lit(3968)) + lit(128)).cast("int")
    val hex = array_join(
      transform(sequence(lit(0), ((nb + 15) / 16 - 1).cast("int")), { j =>
        md5(concat(srcKey.cast("string"), lit(":"), j.cast("string")))
      }), "")
    val payload = unhex(hex.substr(lit(1), nb * 2))
    spark.range(nBase + nDup)
      .select($"id".as("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(xxhash64(srcKey, lit(32)), lit(3)) + 1).cast("int")).as("kind"),
        payload.as("payload"),
        nb.cast("long").as("n_bytes"),
        sha2(payload, 256).as("content_hash"))
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val outDir = args.headOption.getOrElse("/tmp/graftdata/sf1")
    val nBase = if (args.length > 1) args(1).toLong else 47500L
    val dupPct = if (args.length > 2) args(2).toInt else 5
    val spark = GraftSession.local()
    val docs = generate(spark, nBase, dupPct)
    docs.repartition(32).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/documents.parquet")
    val n = spark.read.parquet(s"$outDir/documents.parquet").count()
    // embeddings at the testdata's 0.4 vectors-per-doc ratio
    generateEmbeddings(spark, n * 2 / 5).repartition(16)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
    val nv = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    // binary media table at corpus scale (payload dup rate 8%)
    generateMedia(spark, n).repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/media.parquet")
    val nm = spark.read.parquet(s"$outDir/media.parquet").count()
    println(s"""{"generated":$n,"base":$nBase,"planted_neardups":${n - nBase},"embeddings":$nv,"media":$nm,"dir":"$outDir"}""")
    spark.stop()
  }
}
