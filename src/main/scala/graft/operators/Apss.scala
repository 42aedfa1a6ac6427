package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions

import graft.Tables

/** All-pairs similarity search (APSS) over TF-IDF document vectors with
  * per-document LOSSLESS prefix filtering — the Bayardo/Ma/Srikant
  * "scaling up all pairs similarity search" shape, re-expressed as three
  * declarative joins.
  *
  * d04 is the bounded all-pairs verify (explicit idBound, BNLJ); this is
  * its unbounded complement: the candidate space is cut by a per-document
  * prefix bound instead of an id window, so the operator is defined over
  * the whole corpus.
  *
  * Why it scales:
  *  - Each document's terms are sorted by ascending normalized weight and
  *    the maximal ascending run whose L2 mass stays under the threshold
  *    is its SUFFIX; only the remaining PREFIX terms are indexed. For a
  *    pair (a, b) with cos(a, b) >= t, a must share a term with b's
  *    prefix: if it shared none, cos(a, b) = <a, b_suffix> <= |b_suffix|
  *    < t (both vectors unit-norm). Joining full postings against prefix
  *    postings is therefore lossless BY CONSTRUCTION — the brute-force
  *    DuckDB oracle proves it cross-engine on every run.
  *  - At t = 0.9 a prefix only needs the top ~19% of a document's squared
  *    mass, and high-weight terms are high-idf (rare) terms, so prefix
  *    posting lists are short; ubiquitous terms have near-zero idf and
  *    essentially never reach a prefix — the natural stopword guard. The
  *    candidate join is one term-keyed shuffle whose index side is that
  *    small prefix table, never an O(n²) pair space.
  *  - Verify is candidate-sized: two doc-keyed joins fetch the term-sorted
  *    (terms, weights) arrays and a codegen'd merge walk
  *    ([[org.apache.spark.sql.graft.hashing.sortedWeightedDot]]) computes the
  *    exact cosine with no per-pair hash map.
  *
  * The prefix bound is taken at (minCos − 1e-3): the emitted cosine is
  * rounded to 6 dp with the cross-engine +1e-9 tie nudge, so a pair whose
  * true cosine sits just under the threshold can still round onto it —
  * the slack keeps such pairs inside the lossless-candidate guarantee.
  */
object Apss {

  /** t24: similar-document pairs (cos >= minCos) over the tf-idf unit
    * vectors of `documents`. Tokenization and idf follow t08 exactly.
    */
  def cosineApss(s: SparkSession, dir: String, idBound: Int = 1000,
      minCos: Double = 0.9): DataFrame =
    cosineApssOf(Tables.documents(s, dir).filter(col("doc_id") < idBound),
      minCos)

  /** Core of [[cosineApss]] over any (doc_id, text) frame. Self-cleaning
    * ([[SelfClean.releasing]]): the unit-weight frame feeds the prefix,
    * candidate and vector branches; the pair result is checkpointed and
    * the frame released before returning.
    */
  def cosineApssOf(docs: DataFrame, minCos: Double = 0.9): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val terms = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter(length($"term") >= 3)
    // df(term) derives from tf — tf already holds one row per distinct
    // (doc, term), so its per-term row count IS the document frequency;
    // and the doc count n folds into the plan as a broadcast one-row
    // aggregate instead of a separate driver count() action (the old
    // form ran a whole extra tokenize+distinct job per invocation just
    // to fetch n). tf itself stays UNPERSISTED: the A/B measured caching
    // the (doc_id, term, tf) string rows costlier than recomputing the
    // codegen'd split/explode lineage (4.24 s vs 3.0 s isolated sf0.1).
    // log(n/df) arithmetic is unchanged double math — bit-identical to
    // the lit(n.toDouble) form the brute-force oracle mirrors.
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // The r17 form (a separate distinct pass for df and a driver count()
    // for n) measured a tie against this one, so the form with no extra
    // driver action stays (REGRESSION_AB_r19).
    val dfw = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(countDistinct($"doc_id").as("n_docs"))
    val w = tf.join(dfw, Seq("term")).crossJoin(broadcast(nDocs))
      .withColumn("w", $"tf" * log($"n_docs".cast("double") / $"df"))
    val nrm = w.groupBy($"doc_id").agg(sqrt(sum($"w" * $"w")).as("nrm"))
    SelfClean.releasing(w.join(nrm, Seq("doc_id")).filter($"nrm" > 0)
      .select($"doc_id", $"term", ($"w" / $"nrm").as("wn"))) { wn =>
      // Suffix = maximal ascending-weight run with squared mass strictly
      // under the (slacked) threshold; everything else is the indexed
      // prefix. One window per document — partitioned by the corpus-sized
      // doc_id key, no low-cardinality shuffle.
      val slacked = minCos - 1e-3
      val cum = sum($"wn" * $"wn").over(
        Window.partitionBy($"doc_id").orderBy($"wn".asc, $"term".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val prefix = wn.withColumn("cum", cum)
        .filter($"cum" >= slacked * slacked)
        .select($"doc_id".as("doc_b"), $"term")

      val cand = wn.select($"doc_id".as("doc_a"), $"term")
        .join(prefix, Seq("term"))
        .filter($"doc_a" =!= $"doc_b")
        .select(least($"doc_a", $"doc_b").as("doc_a"),
          greatest($"doc_a", $"doc_b").as("doc_b"))
        .distinct()

      val vecs = wn
        .groupBy($"doc_id")
        .agg(sort_array(collect_list(struct($"term", $"wn"))).as("tw"))
        .select($"doc_id", $"tw.term".as("terms"), $"tw.wn".as("weights"))
      cand
        .join(vecs.select($"doc_id".as("doc_a"), $"terms".as("ta"),
          $"weights".as("wa")), Seq("doc_a"))
        .join(vecs.select($"doc_id".as("doc_b"), $"terms".as("tb"),
          $"weights".as("wb")), Seq("doc_b"))
        .withColumn("cos", round(
          GraftFunctions.sorted_weighted_dot($"ta", $"wa", $"tb", $"wb")
            + lit(1e-9), 6))
        .filter($"cos" >= minCos)
        .select($"doc_a", $"doc_b", $"cos")
        .orderBy($"doc_a", $"doc_b")
    }
  }

  /** Brute-force mirror (no prefix filter, exact pair join on shared
    * terms) — the oracle's shape; `cosineApssOf` must equal it exactly.
    */
  val cosineApssSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE doc_id < 1000),
      |filtered AS (SELECT * FROM terms WHERE len(term) >= 3),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM filtered GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, term FROM filtered) GROUP BY term),
      |n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM filtered),
      |w AS (SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / df.df) AS w
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
      |wn AS (SELECT w.doc_id, w.term, w.w / nrm.nrm AS wn
      |  FROM w JOIN nrm USING (doc_id) WHERE nrm.nrm > 0),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(sum(a.wn * b.wn) + 1e-9, 6) AS cos
      |  FROM wn a JOIN wn b ON a.term = b.term AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, cos FROM p WHERE cos >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t24_cosine_apss" -> ((s: SparkSession, d: String) => cosineApss(s, d)))

  val oracles: Map[String, String] = Map(
    "t24_cosine_apss" -> cosineApssSql)
}
