package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Materializes a COMPLETE sf1-shaped data directory so the full query
  * suite can be benched at 10× sf0.1 (VERDICT r10 #3 / r11 #5):
  *
  *  - `documents` / `embeddings`: synthesized by [[GenCorpus]] at 10×
  *    row count with a controlled ~5% planted near-dup rate — NOT ×10
  *    exact replicas, which would be pathological for the dedup family
  *    (every doc gains 9 exact twins; the pair set and measured numbers
  *    say nothing about a realistic corpus).
  *  - relational tables + `events`: sf0.1 replicated `mult`× with
  *    consistent per-replica key shifts on every join-key family
  *    (custkey/orderkey/partkey/suppkey/user_id/event_id), so all joins
  *    stay valid and selectivities match the base corpus; `nation` /
  *    `region` stay fixed-size, exactly as TPC-H scales them.
  *
  * Usage: runMain graft.GenScale [srcDir] [outDir] [mult]
  * Default: /root/testdata/sf0.1 /tmp/graftdata/sf1 10
  */
object GenScale {

  private val SHIFT = 100000000L // key shift per replica, >> any base key

  /** Replicate `df` mult×, shifting each column in `keys` by
    * replica × SHIFT — join keys shift consistently across tables.
    */
  private def replicate(df: DataFrame, mult: Int, keys: Seq[String]): DataFrame =
    (0 until mult).map { i =>
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * SHIFT)))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graftdata/sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val spark: SparkSession = GraftSession.local()

    def src(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(t: String, df: DataFrame, parts: Int): Long = {
      df.repartition(parts).write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/$t.parquet")
      spark.read.parquet(s"$outDir/$t.parquet").count()
    }

    // dims stay fixed-size (TPC-H keeps 5 regions / 25 nations at any SF)
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    counts("region") = write("region", src("region"), 1)
    counts("nation") = write("nation", src("nation"), 1)
    counts("customer") = write("customer",
      replicate(src("customer"), mult, Seq("c_custkey")), 8)
    counts("supplier") = write("supplier",
      replicate(src("supplier"), mult, Seq("s_suppkey")), 4)
    counts("part") = write("part",
      replicate(src("part"), mult, Seq("p_partkey")), 8)
    counts("orders") = write("orders",
      replicate(src("orders"), mult, Seq("o_orderkey", "o_custkey")), 16)
    counts("lineitem") = write("lineitem",
      replicate(src("lineitem"), mult,
        Seq("l_orderkey", "l_partkey", "l_suppkey")), 32)
    counts("events") = write("events",
      replicate(src("events"), mult, Seq("event_id", "user_id")), 16)

    val baseDocs = src("documents").count()
    val docs = GenCorpus.generate(spark, baseDocs * mult * 95 / 100, 5)
    counts("documents") = write("documents", docs, 32)
    val baseVecs = src("embeddings").count()
    counts("embeddings") = write("embeddings",
      GenCorpus.generateEmbeddings(spark, baseVecs * mult), 16)

    println(counts.map { case (t, n) => s""""$t":$n""" }
      .mkString("{", ",", s""","mult":$mult,"dir":"$outDir"}"""))
    spark.stop()
  }
}
