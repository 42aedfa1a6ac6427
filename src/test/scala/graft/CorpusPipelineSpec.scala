package graft

import org.apache.spark.sql.functions._
import graft.pipeline.CorpusPipeline

/** The composed curation pipeline: gates, dedups, annotates. */
class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  val long1 = ("the quick brown fox jumps over the lazy dog and keeps " +
    "running through the green field all day long without any rest at all")
  val long1Dup = long1
  val long1Near = long1.replace("green", "wide")
  val shortDoc = "too short"

  test("curation drops short docs, exact dups, and near dups; keeps first ids") {
    val docs = Seq(
      1L -> long1, 2L -> long1Dup, 3L -> long1Near,
      4L -> shortDoc,
      5L -> ("a completely different story about distributed systems and " +
        "the catalyst optimizer that survives the curation pipeline easily today"))
      .toDF("doc_id", "text")
    // one word changed in a 22-word doc → 3-gram jaccard ≈ 0.74: use a
    // threshold below that so doc 3 counts as a near dup of doc 1.
    val curated = CorpusPipeline.curate(docs,
      CorpusPipeline.Config(nearDupJaccard = 0.6))
    val kept = curated.select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L),
      s"expected {1,5} (2=exact dup, 3=near dup, 4=short), got $kept")
    val langs = curated.select($"predicted_lang").as[String].collect().toSet
    assert(langs == Set("en"))
  }

  test("report summarizes kept ratio and token volume") {
    val docs = Tables.documents(spark, sf)
    val curated = CorpusPipeline.curate(docs)
    val r = CorpusPipeline.report(docs, curated).collect()(0)
    assert(r.getAs[Long]("n_raw") == 500)
    assert(r.getAs[Long]("n_curated") > 0)
    assert(r.getAs[Double]("kept_ratio") <= 1.0)
  }

  // ------------------------------------------------------------------
  // p07 curateFull: a planted corpus where every stage has a family only
  // IT can kill, so each waterfall row's n_killed is pinned exactly.
  //
  // Geometry that keeps the plants orthogonal (all words distinct unless
  // shared on purpose; a changed word mid-segment kills exactly 3 of the
  // segment's 8 3-shingles → segment jaccard 5/11 ≈ 0.4545, while 3
  // changes in a 30-word doc kill 9 of 28 → doc jaccard 19/37 ≈ 0.5135;
  // threshold 0.48 separates them):
  //   d01  exact dup            — identical text, later id dies
  //   d18b segment near-dup     — 3 of 4 segments exact copies of an
  //                               earlier doc → kept_ratio 0.25 < 0.5
  //   d02  doc near-dup         — 1 word changed per segment: no exact
  //                               segment match, segment verify 0.4545 <
  //                               0.48 ≤ doc verify 0.5135
  //   d02  hot template family  — 30 variants of one template (2 changed
  //                               words each → jaccard vs template 22/34
  //                               ≈ 0.647); with maxBucket=4 every
  //                               template bucket is oversized, so ONLY
  //                               star mode links them to the rep
  //   d12  semantic             — word-REVERSED copy: identical bag of
  //                               words (cos = 1.0) but ~zero shared
  //                               3-shingles, invisible to d02/d18b
  //   d16  contamination        — embeds one benchmark 3-gram verbatim
  //   t22  quality              — 3 words < minWords = 5
  //   t23  PII                  — email redacted, kill = 0 by contract
  // ------------------------------------------------------------------

  private def tk(i: Int): String = f"tk$i%04d"
  private def words(from: Int, n: Int): Seq[String] = (from until from + n).map(tk)

  private lazy val plantedDocs: Seq[(Long, String, String)] = {
    val a1 = words(0, 30)
    val k = words(30, 30)
    val n1 = words(70, 30)
    val n2 = n1.updated(4, tk(100)).updated(14, tk(101)).updated(24, tk(102))
    val t = words(110, 30)
    val variants = (0 until 30).map { i =>
      (131L + i, t.updated(3, s"va${i}x").updated(13, s"vb${i}x"))
    }
    val m1 = words(300, 30)
    // contamination trips at >= 3 overlapping shingles: embed the whole
    // 5-word benchmark run (3 consecutive trigrams)
    val c = words(330, 15).updated(5, "bmalpha").updated(6, "bmbravo")
      .updated(7, "bmcharlie").updated(8, "bmdelta").updated(9, "bmecho")
    val p = words(360, 10).updated(5, "alice@example.com")
    val fillers = (0 until 10).map { i =>
      (300L + i, words(400 + 25 * i, 25))
    }
    (Seq(
      100L -> a1, 101L -> a1,
      110L -> k, 111L -> (k ++ words(60, 10)),
      120L -> n1, 121L -> n2,
      130L -> t) ++ variants ++ Seq(
      200L -> m1, 201L -> m1.reverse,
      210L -> c, 220L -> words(350, 3), 230L -> p) ++ fillers)
      .map { case (id, ws) =>
        (id, if (id % 2 == 0) "web" else "books", ws.mkString(" ")) }
  }

  private lazy val benchmarkDf =
    Seq((1L, "bmalpha bmbravo bmcharlie bmdelta bmecho"))
      .toDF("doc_id", "text")

  // semMinCos = 0.98: the reversed-doc plant sits at cos exactly 1.0;
  // the template variants (28/30 shared words, cos ≈ 0.93) must NOT be
  // caught semantically or the drop-mode contrast test would be masked
  // by the downstream gate
  private val p07Cfg = CorpusPipeline.FullConfig(
    nearDupJaccard = 0.48, nearDupBands = 32, nearDupRows = 2,
    maxBucket = 4, semMinCos = 0.98,
    minWords = 5, minMeanWordLen = 0.0, maxMeanWordLen = 100.0,
    minStopKinds = 0, minQualityProb = 0.0,
    packBudget = 128, packShards = 4, epochShards = 4)

  private def killsOf(wf: org.apache.spark.sql.DataFrame): Map[String, Long] =
    wf.select($"stage", $"n_killed").as[(String, Long)].collect().toMap

  test("p07 waterfall: every stage kills exactly its planted family") {
    val docs = plantedDocs.toDF("doc_id", "source", "text")
    val r = CorpusPipeline.curateFull(docs, benchmarkDf, p07Cfg)
    val kills = killsOf(r.waterfall)
    assert(kills("p00_raw") == 0)
    assert(kills("d01_exact") == 1, s"exact: ${kills("d01_exact")}")
    assert(kills("d18_segment_neardup") == 1,
      s"segment: ${kills("d18_segment_neardup")}")
    // the near-dup pair's later half + all 30 template variants (star
    // mode links oversized buckets to the min-id rep = the template)
    assert(kills("d02_minhash_neardup") == 31,
      s"minhash: ${kills("d02_minhash_neardup")}")
    assert(kills("d12_semantic_dedup") == 1,
      s"semantic: ${kills("d12_semantic_dedup")}")
    assert(kills("d16_decontaminate") == 1,
      s"decon: ${kills("d16_decontaminate")}")
    assert(kills("t22_t20_quality") == 1,
      s"quality: ${kills("t22_t20_quality")}")
    assert(kills("t23_pii_redact") == 0, "PII rewrites, never kills")
    assert(kills("p04_temperature_mix") == 0,
      "budget >> corpus => p_keep = 1 for every source")

    // survivor identity, not just counts
    val kept = r.docs.select($"doc_id").as[Long].collect().toSet
    val expected = Set(100L, 110L, 120L, 130L, 200L, 230L) ++
      (300L until 310L).toSet
    assert(kept == expected, s"survivors: ${kept.toSeq.sorted}")

    // the PII stage rewrote the email in place
    val pText = r.docs.filter($"doc_id" === 230L)
      .select($"text").as[String].head()
    assert(!pText.contains("alice@example.com") && pText.contains("tk0360"),
      s"email must be redacted, rest intact: $pText")

    // pack stage changes granularity: its n_out counts SEQUENCES and
    // matches the packed frame; the epoch schedule covers every sequence
    val wfRows = r.waterfall
      .select($"stage", $"n_in", $"n_out").as[(String, Long, Long)]
      .collect().map { case (st, i, o) => st -> ((i, o)) }.toMap
    val (packIn, packOut) = wfRows("p02_sequence_pack")
    assert(packIn == kept.size.toLong, "pack n_in counts surviving docs")
    assert(packOut == r.packed.count() && packOut > 0 && packOut < packIn,
      s"pack n_out counts sequences: $packOut")
    assert(r.schedule.count() == packOut, "schedule covers every sequence")
  }

  test("p07 incremental: a delta probes the stored stage state, matches the " +
      "union-batch verdicts, and growth gates the next delta") {
    val stateTbls = Seq("docdigests", "seg_segdigests", "seg_bands",
      "seg_shingles", "doc_bands", "doc_shingles", "sem_vecs")
    stateTbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS p07state_$t"))
    val corpus = plantedDocs.toDF("doc_id", "source", "text")
    val batch = CorpusPipeline.curateFull(corpus, benchmarkDf, p07Cfg,
      stateTable = Some("p07state"))
    val batchKept = batch.docs.select($"doc_id").as[Long].collect().toSet

    // delta families, one per stage, against CORPUS state this time:
    //   1000 exact copy of corpus doc 100 (even of a later-killed corpus
    //        doc: 1001 copies doc 210, which d16 killed — its hash is
    //        still d01 state); 1006 within-delta copy of 1005
    //   1002 three exact segments of corpus doc 110 + one novel
    //   1003 per-segment-edited near-dup of corpus doc 120 (different
    //        positions than doc 121 used)
    //   1004 pair-swapped permutation of doc 200's words: identical bag
    //        of words (cos 1.0 vs the stored vector) but zero shared
    //        3-shingles, so only the semantic stage can see it
    //   1007 embedded benchmark run; 1008 under minWords; 1005/1009/1010 novel
    val a1 = words(0, 30)
    val k = words(30, 30)
    val n1 = words(70, 30)
    val m1 = words(300, 30)
    def pairSwap(ws: Seq[String]): Seq[String] =
      ws.grouped(2).flatMap(_.reverse).toSeq
    val novel1005 = words(700, 25)
    val delta = Seq(
      1000L -> a1,
      1001L -> plantedDocs.find(_._1 == 210L).get._3.split(" ").toSeq,
      1002L -> (k ++ words(730, 10)),
      1003L -> n1.updated(5, tk(740)).updated(15, tk(741)).updated(25, tk(742)),
      1004L -> pairSwap(m1),
      1005L -> novel1005,
      1006L -> novel1005,
      1007L -> words(750, 15).updated(5, "bmalpha").updated(6, "bmbravo")
        .updated(7, "bmcharlie").updated(8, "bmdelta").updated(9, "bmecho"),
      1008L -> words(770, 3),
      1009L -> words(780, 25),
      1010L -> words(810, 25))
      .map { case (id, ws) =>
        (id, if (id % 2 == 0) "web" else "books", ws.mkString(" ")) }
    val deltaDf = delta.toDF("doc_id", "source", "text")

    val inc = CorpusPipeline.curateDelta(deltaDf, benchmarkDf, "p07state",
      p07Cfg, growState = true)
    val kills = killsOf(inc.waterfall)
    assert(kills("d01_exact") == 3, s"exact: ${kills("d01_exact")}")
    assert(kills("d18_segment_neardup") == 1,
      s"segment: ${kills("d18_segment_neardup")}")
    assert(kills("d02_minhash_neardup") == 1,
      s"minhash: ${kills("d02_minhash_neardup")}")
    assert(kills("d12_semantic_dedup") == 1,
      s"semantic: ${kills("d12_semantic_dedup")}")
    assert(kills("d16_decontaminate") == 1,
      s"decon: ${kills("d16_decontaminate")}")
    assert(kills("t22_t20_quality") == 1,
      s"quality: ${kills("t22_t20_quality")}")
    val incKept = inc.docs.select($"doc_id").as[Long].collect().toSet
    assert(incKept == Set(1005L, 1009L, 1010L), s"delta survivors: $incKept")

    // verdict parity: the batch DAG over corpus ∪ delta must keep
    // exactly the same delta docs (and leave corpus verdicts unchanged)
    val union = CorpusPipeline.curateFull(
      corpus.unionByName(deltaDf), benchmarkDf, p07Cfg)
    val unionKept = union.docs.select($"doc_id").as[Long].collect().toSet
    assert(unionKept.filter(_ >= 1000L) == incKept,
      s"union-batch delta verdicts ${unionKept.filter(_ >= 1000L)} != " +
        s"incremental $incKept")
    assert(unionKept.filter(_ < 1000L) == batchKept,
      "delta arrival must not change corpus verdicts (ids precede)")

    // growth: a copy of delta-1's kept doc is now gated at the d01 stage
    val delta2 = Seq((2000L, "web", novel1005.mkString(" ")),
      (2001L, "books", words(840, 25).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val inc2 = CorpusPipeline.curateDelta(delta2, benchmarkDf, "p07state",
      p07Cfg)
    assert(killsOf(inc2.waterfall)("d01_exact") == 1,
      "grown digest store must gate the copy of 1005")
    assert(inc2.docs.select($"doc_id").as[Long].collect().toSet == Set(2001L))
    stateTbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS p07state_$t"))
    spark.catalog.clearCache()
  }

  test("p07 substring stage rewrites later copies of long runs, batch and delta") {
    val tbls = Seq("docdigests", "sub_grams", "seg_segdigests", "seg_bands",
      "seg_shingles", "doc_bands", "doc_shingles", "sem_vecs")
    tbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS p07sub_$t"))
    val run = words(900, 20) // the 20-token shared run
    val a = run ++ words(920, 20)
    val b = words(940, 3) ++ run ++ words(950, 17)
    // gutted plant (verdict r16 #4 attribution pin): all-but-2-words
    // duplicated run — d19 strips it to 2 words (< minWords 5), so the
    // doc must die AT THE QUALITY GATE, not in d19's own row
    val g = run ++ words(980, 2)
    val corpus = Seq(3000L -> a, 3001L -> b, 3004L -> g,
      3002L -> words(1000, 25), 3003L -> words(1030, 25))
      .map { case (id, ws) => (id, "web", ws.mkString(" ")) }
      .toDF("doc_id", "source", "text")
    val cfg = p07Cfg.copy(substringK = Some(20))
    val r = CorpusPipeline.curateFull(corpus, benchmarkDf, cfg,
      stateTable = Some("p07sub"))
    val kills = killsOf(r.waterfall)
    assert(kills.contains("d19_substring_dedup"), "stage must appear")
    assert(kills("d19_substring_dedup") == 0, "d19 rewrites, never kills")
    assert(kills("t22_t20_quality") == 1,
      s"the gutted doc dies at the quality gate: ${kills("t22_t20_quality")}")
    val texts = r.docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
    assert(texts(3000L) == a.mkString(" "), "keeper untouched")
    assert(texts(3001L) == (words(940, 3) ++ words(950, 17)).mkString(" "),
      s"later copy of the run must be removed: ${texts(3001L)}")
    assert(texts.keySet == Set(3000L, 3001L, 3002L, 3003L),
      "gutted doc 3004 must be gone")

    // delta: a new doc carrying the same run is rewritten against the
    // STORED gram index at O(delta)
    val delta = Seq((3100L, "web",
      (words(960, 5) ++ run ++ words(970, 15)).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val inc = CorpusPipeline.curateDelta(delta, benchmarkDf, "p07sub", cfg)
    val incText = inc.docs.filter($"doc_id" === 3100L)
      .select($"text").as[String].head()
    assert(incText == (words(960, 5) ++ words(970, 15)).mkString(" "),
      s"stored grams must gate the delta's copy: $incText")
    tbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS p07sub_$t"))
    spark.catalog.clearCache()
  }

  test("p07 drop mode silently passes the hot template family star mode kills") {
    val docs = plantedDocs.toDF("doc_id", "source", "text")
    val r = CorpusPipeline.curateFull(docs, benchmarkDf,
      p07Cfg.copy(nearDupStarMode = false))
    val kills = killsOf(r.waterfall)
    // the near-dup PAIR still dies (its bucket has 2 members, under the
    // cap) but the 30 template variants live in oversized buckets drop
    // mode discards — the exact leak r11 measured (CHANGELOG.md, SURVEY §7.10)
    assert(kills("d02_minhash_neardup") >= 1 &&
      kills("d02_minhash_neardup") <= 3,
      s"drop mode should pass the template family: " +
        s"${kills("d02_minhash_neardup")}")
    val kept = r.docs.select($"doc_id").as[Long].collect().toSet
    val survivingVariants = (131L until 161L).count(kept)
    assert(survivingVariants >= 27,
      s"expected the template family to leak through, $survivingVariants")
  }

  test("p07 semantic stage routes over-cap buckets to canonical instead of " +
      "exempting them") {
    // A semantic template family TWICE the bucket cap: 8 stride
    // permutations of one 30-word multiset (strides coprime to 30, so
    // the orderings are distinct and share ~zero 3-shingles — invisible
    // to d01/d18b/d02) with IDENTICAL hashed-BoW vectors, hence one
    // semantic bucket of population 8 > semMaxBucket 4. The pair
    // stage's eligibility cap exempts that bucket entirely, so before
    // the routing fix every member survived curation — the same leak
    // the d02 stage runs star mode to close.
    val base = words(0, 30)
    val family = Seq(1, 7, 11, 13, 17, 19, 23, 29).zipWithIndex.map {
      case (stride, i) =>
        (500L + i, base.indices.map(j => base((j * stride) % 30)))
    }
    val fillers = (0 until 6).map(i => (600L + i, words(400 + 25 * i, 25)))
    val docs = (family ++ fillers)
      .map { case (id, ws) => (id, "web", ws.mkString(" ")) }
      .toDF("doc_id", "source", "text")
    val cfg = p07Cfg.copy(semMaxBucket = 4)

    val routed = CorpusPipeline.curateFull(docs, benchmarkDf, cfg)
    val rKills = killsOf(routed.waterfall)
    assert(rKills("d01_exact") == 0 && rKills("d18_segment_neardup") == 0 &&
      rKills("d02_minhash_neardup") == 0,
      s"the family must reach the semantic stage intact: $rKills")
    assert(rKills("d12_semantic_dedup") == 7,
      s"canonical routing kills all but the min-id member: " +
        s"${rKills("d12_semantic_dedup")}")
    val rKept = routed.docs.select($"doc_id").as[Long].collect().toSet
    assert(rKept == Set(500L) ++ (600L until 606L).toSet,
      s"survivors: ${rKept.toSeq.sorted}")

    // contrast: with routing off the over-cap bucket is exempt and the
    // whole family leaks through — the r15 verdict's `weak`
    val exempt = CorpusPipeline.curateFull(docs, benchmarkDf,
      cfg.copy(semOversizedCanonical = false))
    assert(killsOf(exempt.waterfall)("d12_semantic_dedup") == 0,
      "exempt mode must pass the over-cap family untouched")
    val eKept = exempt.docs.select($"doc_id").as[Long].collect().toSet
    assert(eKept == (500L until 508L).toSet ++ (600L until 606L).toSet,
      s"exempt survivors: ${eKept.toSeq.sorted}")
  }

  test("curated corpus on test data removes the planted near-duplicates") {
    val docs = Tables.documents(spark, sf)
    val curated = CorpusPipeline.curate(docs)
    val ids = curated.select($"doc_id").as[Long].collect().toSet
    // ground truth: every ≥0.8-jaccard pair in the raw corpus must have
    // lost at least one member to curation (quality gate or dedup)
    val pairs = operators.Dedup
      .minhashPairs(docs.select($"doc_id", $"text"), minJaccard = 0.8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "test data should contain planted near-dups")
    val survivors = pairs.filter(p => ids.contains(p._1) && ids.contains(p._2))
    assert(survivors.isEmpty, s"near-dup pairs fully survived: ${survivors.take(5).toSeq}")
  }
}
