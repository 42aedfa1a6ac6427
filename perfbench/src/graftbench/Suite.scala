package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** `suite`: graft's named queries over small generated tables, where
  * driver planning and per-task fixed cost dominate. One pass runs the
  * `Pass` queries once each, in order; set-up ends with one untimed
  * pass, so the timed passes run warm. Passes repeat while another fits
  * in the run. The tables do not depend on the seed.
  */
final class Suite extends Workload {
  import Suite._

  private var dir: String = _
  private var expected: Map[String, Long] = Map.empty
  private val rows = mutable.Map.empty[String, Long]
  private var passSecs = Vector.empty[Double]

  def generate(h: Harness): Unit = {
    dir = s"${h.args.work}/tables"
    Inputs.writeSuiteTables(h.spark, dir)
    Expected.checkFingerprint(h.args.expected, "suite", 0L, Inputs.fingerprint(
      Inputs.docs(h.spark.read.parquet(s"$dir/documents.parquet"))))
    expected = Expected.suiteRows(h.args.expected)
  }

  /** Read every table once. */
  def load(h: Harness): Unit =
    graft.Tables.all.foreach(t => graft.Tables.load(h.spark, dir, t).count())

  def warmUp(h: Harness): Unit =
    Pass.foreach { q => run(h.spark, dir, q); cleanup(h.spark) }

  def measure(h: Harness, deadlineNs: Long): Unit =
    do {
      val t0 = System.nanoTime()
      Pass.foreach { q =>
        h.op(q, moduleOf(q))(run(h.spark, dir, q))
          .foreach(n => rows(h.ops.last.id) = n)
        cleanup(h.spark)
      }
      passSecs :+= (System.nanoTime() - t0) / 1e9
    } while (h.another(deadlineNs, passSecs.last))

  /** Each query's row count must match the committed one. */
  def check(h: Harness): Unit = h.ops.filter(_.ok).foreach { o =>
    if (!expected.get(o.name).contains(rows(o.id))) {
      System.err.println(s"[graftbench] ${o.name}: ${rows(o.id)} rows, " +
        s"expected ${expected.getOrElse(o.name, "none")}")
      h.checkFailed += o.id
    }
  }

  def unitSecs: Seq[Double] = passSecs

  def layerMetrics(h: Harness): Map[String, Double] = Map.empty
}

object Suite {
  /** One pass: one query from each module that owns `queries` keys, so
    * each module's layer metrics have a sample. Left out, to fit the run
    * in its time budget: KeywordSearch, Apss and Bpe (one query each:
    * q34, t24, t25) and CorpusPipeline, whose curation DAG (p07b) alone
    * takes longer than the rest of the pass.
    */
  val Pass: Seq[String] = Seq(
    "q01_pricing_agg",        // Relational
    "t02_quality",            // DocumentPipeline
    "e10_sliding_window",     // Events
    "q25_histogram",          // Analytics
    "d13_segment_dedup",      // Dedup
    "s01_knn_brute",          // Similarity
    "g02b_copurchase_sketch", // Graph
    "m05_decode_pack",        // Multimodal
    "q37_phrase_search",      // InvertedIndex
    "t23_pii_redact")         // Redact

  /** The module whose public `queries` map holds each key; the keys
    * `SparkEntry` adds itself belong to CorpusPipeline.
    */
  lazy val moduleOf: Map[String, String] = {
    val owned = Seq(
      "Relational" -> graft.pipeline.Relational.queries,
      "DocumentPipeline" -> graft.pipeline.DocumentPipeline.queries,
      "Events" -> graft.pipeline.Events.queries,
      "Analytics" -> graft.pipeline.Analytics.queries,
      "Dedup" -> graft.operators.Dedup.queries,
      "Similarity" -> graft.operators.Similarity.queries,
      "Graph" -> graft.operators.Graph.queries,
      "Multimodal" -> graft.multimodal.Multimodal.queries,
      "InvertedIndex" -> graft.operators.InvertedIndex.queries,
      "KeywordSearch" -> graft.operators.KeywordSearch.queries,
      "Redact" -> graft.operators.Redact.queries,
      "Apss" -> graft.operators.Apss.queries,
      "Bpe" -> graft.operators.Bpe.queries)
      .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    graft.SparkEntry.queries.keys.map(k =>
      k -> owned.getOrElse(k, "CorpusPipeline")).toMap
  }

  /** Run one query to a `noop` sink; returns its row count. */
  def run(spark: SparkSession, dir: String, q: String): Long = {
    val obs = Observation(q)
    graft.SparkEntry.queries(q)(spark, dir)
      .observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.CacheHygiene.freeTransient(spark)
  }
}
