package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorFunctions._

/** Similarity search over embedding columns (SURVEY.md §2 s01–s02).
  *
  * s01 is the exact baseline: bounded query set × full corpus. The query
  * side is broadcast so the corpus never shuffles — the scan is map-only
  * and embarrassingly parallel; only the (tiny) scored top-k result
  * shuffles for the per-query ranking.
  *
  * s02 is the scale path: random-hyperplane LSH. Signatures are computed
  * map-side; the corpus shuffles once on the band signature; each query
  * probes only its matching buckets. At 100 TB this replaces the full scan
  * with a >100× pruned candidate read (recall measured in SimilaritySpec).
  */
object Similarity {

  /** s01: brute-force exact cosine top-k for a bounded query set. */
  def knnBrute(s: SparkSession, dir: String,
      queryBound: Int = 32, k: Int = 5): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val queries = e.filter($"vec_id" < queryBound)
      .select($"vec_id".as("query_id"), asDouble($"embedding").as("qv"))
    val corpus = e.select($"vec_id".as("neighbor_id"), asDouble($"embedding").as("nv"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    corpus.join(broadcast(queries), $"query_id" =!= $"neighbor_id")
      .withColumn("cos", cosine($"qv", $"nv"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", round($"cos", 6).as("sim"))
      .orderBy($"query_id", $"rank")
  }

  val knnBruteSql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id < 32),
      |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv FROM embeddings),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * nv[i])) /
      |    (sqrt(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * qv[i]))) *
      |     sqrt(list_sum(list_transform(range(1, len(nv)+1), i -> nv[i] * nv[i])))) AS cos
      |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, round(cos, 6) AS sim
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** s02/s02b: LSH-bucketed approximate top-k over random-hyperplane
    * signatures — `hyperplane_sig`'s xxhash64(plane, dim) ±1 family,
    * deterministic, no stored model. 6 bands × 6 hyperplanes (tuned for
    * the ~0.3-cosine neighbor regime of random embeddings — steeper band
    * OR-construction than classic 4×8); a corpus vector is a candidate
    * if it matches a probe signature in any band; candidates are exactly
    * re-ranked by cosine. The corpus shuffles ONCE on its home band
    * signatures.
    *
    * `nprobe`: s02 is 1 (each query probes its home signature); s02b is
    * 8, multi-probe LSH (Lv et al., VLDB 2007, single-bit perturbations):
    * each query also probes its home signature with one of its
    * `nprobe - 1` lowest-|margin| hyperplane bits flipped — the
    * boundaries a true neighbor most plausibly straddles. The expansion
    * is strictly query-side (bounded rows), so recall rises without
    * touching the corpus index: at 100 TB this is the knob that buys
    * recall for probe-time instead of for a second corpus shuffle
    * (contrast raising `bands`, which rewrites the index). Each probe sig
    * differs from home in exactly one bit → contributes exactly one new
    * (band, bits) row; dropDuplicates collapses the other bands, so the
    * probe frame is (bands + nprobe - 1) rows per query. At nprobe = 1
    * `hyperplane_probes` is `[hyperplane_sig]` (one loop computes both).
    */
  def knnLsh(s: SparkSession, dir: String,
      queryBound: Int = 32, k: Int = 5,
      bands: Int = 6, planesPerBand: Int = 6, nprobe: Int = 1): DataFrame = {
    import s.implicits._
    val planes = bands * planesPerBand
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", asDouble($"embedding").as("v"))

    def bandRows(sig: Column): Column =
      transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          Dedup.shru(sig, b * planesPerBand)
            .bitwiseAND((1L << planesPerBand) - 1).as("bits")))

    val cb = e
      .withColumn("sig",
        org.apache.spark.sql.graft.GraftFunctions.hyperplane_sig($"v", planes))
      .select($"vec_id".as("neighbor_id"), $"v".as("nv"),
        explode(bandRows($"sig")).as("bs"))
      .select($"neighbor_id", $"nv", $"bs.band".as("band"), $"bs.bits".as("bits"))

    val qb = e.filter($"vec_id" < queryBound)
      .withColumn("probe_sig", explode(
        org.apache.spark.sql.graft.GraftFunctions.hyperplane_probes($"v", planes, nprobe)))
      .select($"vec_id".as("query_id"), $"v".as("qv"),
        explode(bandRows($"probe_sig")).as("bs"))
      .select($"query_id", $"qv", $"bs.band".as("band"), $"bs.bits".as("bits"))
      .dropDuplicates("query_id", "band", "bits")

    val candidates = qb.join(cb, Seq("band", "bits"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id", $"qv", $"nv")
      .dropDuplicates("query_id", "neighbor_id")

    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    candidates
      .withColumn("cos", cosine($"qv", $"nv"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", round($"cos", 6).as("sim"))
      .orderBy($"query_id", $"rank")
  }

  /** s03: per-label embedding centroids — the aggregation side of vector
    * analytics (cluster means / class prototypes). posexplode → one
    * shuffle on (label, dim) with full partial aggregation; at 100 TB
    * this is the standard way to average vectors without a vector-sum UDAF.
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"label", posexplode(asDouble($"embedding")))
      .groupBy($"label", $"pos".cast("long").as("dim"))
      .agg(round(avg($"col"), 4).as("centroid_val"),
        count(lit(1)).as("n_vectors"))
      .orderBy($"label", $"dim")
  }

  val labelCentroidsOracle: String =
    """WITH exploded AS (
      |  SELECT label,
      |    unnest(range(len(embedding))) AS dim,
      |    unnest(embedding::DOUBLE[]) AS x
      |  FROM embeddings)
      |SELECT label, dim, round(avg(x), 4) AS centroid_val, count(*) AS n_vectors
      |FROM exploded
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * = max|x|/127, payload = array<tinyint> — 4× (vs float32; 8× vs the
    * double working form) smaller at <0.5% cosine error on unit-ish
    * vectors. At 100 TB this is the difference between an embedding store
    * that fits the cluster and one that doesn't; search dequantizes on the
    * fly (map-only) or re-ranks exact from the original column.
    */
  def quantizeInt8(vectors: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    vectors
      .withColumn("q_scale",
        (aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0))
      .withColumn("q_vec",
        transform(v, x =>
          when(col("q_scale") === 0.0, lit(0))
            .otherwise(round(x / col("q_scale"))).cast("byte")))
      .drop(vecCol)
  }

  /** Dequantized double vector from (q_vec, q_scale). */
  def dequantize(qVec: Column, qScale: Column): Column =
    transform(qVec, b => b.cast("double") * qScale)

  /** s05: exact top-k over the int8-quantized store — the storage-scale
    * variant of s01 (identical plan shape; vectors decoded on the fly).
    * Approximate by quantization → rows-only; SimilaritySpec measures
    * recall vs s01 and the compression-induced cosine error.
    */
  def knnQuantized(s: SparkSession, dir: String,
      queryBound: Int = 32, k: Int = 5): DataFrame = {
    import s.implicits._
    val store = quantizeInt8(Tables.embeddings(s, dir))
      .select($"vec_id", dequantize($"q_vec", $"q_scale").as("v"))
    val queries = store.filter($"vec_id" < queryBound)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val corpus = store.select($"vec_id".as("neighbor_id"), $"v".as("nv"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    corpus.join(broadcast(queries), $"query_id" =!= $"neighbor_id")
      .withColumn("cos", cosine($"qv", $"nv"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor_id", round($"cos", 6).as("sim"))
      .orderBy($"query_id", $"rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_knn_brute" -> ((s: SparkSession, d: String) => knnBrute(s, d)),
    "s05_knn_quantized" -> ((s: SparkSession, d: String) => knnQuantized(s, d)),
    "s02_knn_lsh" -> ((s: SparkSession, d: String) => knnLsh(s, d)),
    "s02b_knn_multiprobe" -> ((s: SparkSession, d: String) => knnLsh(s, d, nprobe = 8)),
    "s03_label_centroids" -> (labelCentroids _),
    "s04_knn_ivf" -> ((s: SparkSession, d: String) => IvfIndex.knnIvf(s, d)),
    "s06_knn_pq" -> ((s: SparkSession, d: String) => PqIndex.knnPq(s, d)))

  // s02 is approximate by construction → rows-only; recall measured in
  // SimilaritySpec against s01.
  val oracles: Map[String, String] = Map(
    "s01_knn_brute" -> knnBruteSql,
    "s03_label_centroids" -> labelCentroidsOracle)
}
