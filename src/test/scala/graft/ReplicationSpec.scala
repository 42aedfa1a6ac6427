package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N× id-shifted replication scales an operator's counts by a closed-form
  * rule. Each replica is the base input with its ids moved past the
  * base's range, so every per-row statistic is unchanged while volumes
  * multiply; an operator that drops, merges or double-counts rows as its
  * input grows breaks the rule. One case per operator, at sf0.001 with
  * three replicas.
  */
class ReplicationSpec extends SparkSpec {
  import spark.implicits._

  private val mult = 3

  /** `df` unioned with `mult - 1` copies whose `idCols` are shifted by
    * `shift` per copy.
    */
  private def replicate(df: DataFrame, shift: Long, idCols: String*): DataFrame =
    (0 until mult).map(i => idCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(i * shift))))
      .reduce(_ unionByName _)

  private def docs = Tables.documents(spark, sf).select($"doc_id", $"text")

  test("e12 MAD outliers: replicas leave every median and MAD as they are, " +
      "so the outlier rows multiply exactly") {
    val ev = Tables.events(spark, sf)
    val base = pipeline.Events.madOutliersOf(ev, 3.5).count()
    val replicated = pipeline.Events.madOutliersOf(
      replicate(ev, 1000000000L, "event_id"), 3.5).count()
    assert(base > 0, "no outliers at 1x: the rule checks nothing")
    assert(replicated == mult * base, s"$replicated outlier rows, want $mult x $base")
  }

  test("t23 redaction: a row-wise map, so total matches multiply exactly") {
    def matches(d: DataFrame): Long = operators.Redact
      .redactOf(d, "text", operators.Redact.corpusRules)
      .agg(sum($"n_entity" + $"n_op" + $"n_email")).head.getLong(0)
    val base = matches(docs)
    val replicated = matches(replicate(docs, 10000000L, "doc_id"))
    assert(base > 0, "no matches at 1x: the rule checks nothing")
    assert(replicated == mult * base, s"$replicated matches, want $mult x $base")
  }

  test("d13 segment dedup: segments multiply, the kept segments do not") {
    def mass(d: DataFrame): (Long, Long) = {
      val r = operators.Dedup.segmentDedupOf(d, 10)
        .agg(sum($"n_seg"), sum($"n_kept")).head
      (r.getLong(0), r.getLong(1))
    }
    val (segs, kept) = mass(docs)
    val (segsN, keptN) = mass(replicate(docs, 10000000L, "doc_id"))
    assert(segs > 0 && kept > 0, s"segs $segs, kept $kept at 1x: the rule checks nothing")
    assert(segsN == mult * segs, s"$segsN segments, want $mult x $segs")
    // every replica segment duplicates a base segment, whose keeper wins
    assert(keptN == kept, s"$keptN segments kept, want the 1x count $kept")
  }

  test("t24 cosine APSS: tf-idf is replication-invariant, so pairs are " +
      "mult^2 P + C(mult, 2) D") {
    // idf = ln(mult n / (mult df)) = ln(n / df): each base pair appears
    // once per ordered replica pair, and each doc pairs with its own
    // copies at cosine 1. The slice bounds the candidate count.
    val slice = docs.filter($"doc_id" < 250)
    val pairs = operators.Apss.cosineApssOf(slice, 0.9).count()
    val nDocs = slice.count()
    val replicated = operators.Apss.cosineApssOf(
      replicate(slice, 10000000L, "doc_id"), 0.9).count()
    assert(pairs > 0 && nDocs > 0, s"$pairs pairs over $nDocs docs at 1x: the rule checks nothing")
    val want = mult.toLong * mult * pairs + mult.toLong * (mult - 1) / 2 * nDocs
    assert(replicated == want, s"$replicated pairs, want $mult^2 x $pairs + " +
      s"C($mult, 2) x $nDocs = $want")
  }

  test("g01 PageRank over disjoint replicas: rank_rel keeps its maximum and " +
      "its mass multiplies") {
    // rank_rel rescales by the global node count, and disjoint copies
    // split the mass evenly, so each replica's values equal the base's
    val tol = 1e-9
    def stats(pairs: DataFrame): (Double, Double) = {
      val r = operators.Graph.pagerankOf(operators.Graph.tradeEdgesOf(pairs))
        .agg(max($"rank_rel"), sum($"rank_rel")).head
      (r.getDouble(0), r.getDouble(1))
    }
    val pairs = operators.Graph.tradePairs(spark, sf)
    val (top, mass) = stats(pairs)
    val (topN, massN) = stats(replicate(pairs, 10000000L, "ck", "sk"))
    assert(top > 0 && mass > 0, s"max $top, mass $mass at 1x: the rule checks nothing")
    assert(math.abs(topN - top) <= tol, s"max rank_rel $topN, want the 1x $top")
    assert(math.abs(massN / mass - mult) <= tol,
      s"rank_rel mass ratio ${massN / mass}, want $mult")
  }
}
