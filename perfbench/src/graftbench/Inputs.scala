package graftbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Workload inputs. Everything is derived from hashes of row ids, so the
  * same arguments always give byte-identical tables.
  */
object Inputs {

  /** Row counts of the suite's relational tables, shaped like the TPC-H
    * style tables graft's query suite was written against.
    */
  val Customers = 1500L
  val Suppliers = 100L
  val Parts = 2000L
  val Orders = 15000L
  val Events = 10000L
  val BaseDocs = 475L
  val Vectors = 500L

  private def h(id: Column, salt: Int): Column = xxhash64(id, lit(salt))
  private def pick(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*),
      (pmod(h(id, salt), lit(xs.size)) + 1).cast("int"))
  private def uniform(id: Column, salt: Int, n: Long): Column =
    pmod(h(id, salt), lit(n))
  private def money(id: Column, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + uniform(id, salt, 1000000L).cast("double") / 1e6 *
      lit(hi - lo), 2)
  private def day(base: Column, id: Column, salt: Int, days: Long): Column =
    date_add(base.cast("date"), uniform(id, salt, days).cast("int"))
      .cast("timestamp_ntz")

  /** Write the ten tables `graft.Tables` loads into `dir`. */
  def writeSuiteTables(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def write(name: String, df: DataFrame, parts: Int): Unit =
      df.coalesce(parts).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/$name.parquet")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", regions.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name"), 1)
    write("nation", spark.range(25).select($"id".cast("int").as("n_nationkey"),
      concat(lit("NATION_"), $"id").as("n_name"),
      ($"id" % 5).cast("int").as("n_regionkey")), 1)
    write("customer", spark.range(Customers).select($"id".as("c_custkey"),
      format_string("Customer#%09d", $"id").as("c_name"),
      uniform($"id", 1, 25).cast("int").as("c_nationkey"),
      money($"id", 2, -999.99, 9999.99).as("c_acctbal"),
      pick($"id", 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), 1)
    write("supplier", spark.range(Suppliers).select($"id".as("s_suppkey"),
      format_string("Supplier#%09d", $"id").as("s_name"),
      uniform($"id", 4, 25).cast("int").as("s_nationkey"),
      money($"id", 5, -999.99, 9999.99).as("s_acctbal")), 1)
    write("part", spark.range(Parts).select($"id".as("p_partkey"),
      concat_ws(" ",
        pick($"id", 6, Seq("small", "large", "red", "blue", "hot", "old",
          "new")),
        pick($"id", 7, Seq("ring", "widget", "bolt", "gear", "gizmo", "plate",
          "anvil"))).as("p_name"),
      concat(lit("Brand#"), uniform($"id", 8, 25) + 1).as("p_brand"),
      pick($"id", 9, Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
        "MEDIUM")).as("p_type"),
      (uniform($"id", 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + ($"id" % 1000).cast("double") * 0.1, 2)
        .as("p_retailprice")), 1)
    val orders = spark.range(Orders).select($"id".as("o_orderkey"),
      uniform($"id", 11, Customers).as("o_custkey"),
      pick($"id", 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money($"id", 13, 1000.0, 500000.0).as("o_totalprice"),
      day(lit("1995-01-01"), $"id", 14, 2404).as("o_orderdate"),
      pick($"id", 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    write("orders", orders, 2)
    val lines = orders.select($"o_orderkey", $"o_orderdate",
        explode(sequence(lit(1), (uniform($"o_orderkey", 16, 7) + 1)
          .cast("int"))).as("ln"))
      .select($"o_orderkey", $"o_orderdate", $"ln",
        (($"o_orderkey" * 8) + $"ln").as("k"))
    write("lineitem", lines.select($"o_orderkey".as("l_orderkey"),
      uniform($"k", 17, Parts).as("l_partkey"),
      uniform($"k", 18, Suppliers).as("l_suppkey"),
      $"ln".as("l_linenumber"),
      (uniform($"k", 19, 50) + 1).cast("double").as("l_quantity"),
      money($"k", 20, 900.0, 95000.0).as("l_extendedprice"),
      (uniform($"k", 21, 11).cast("double") / 100).as("l_discount"),
      (uniform($"k", 22, 9).cast("double") / 100).as("l_tax"),
      pick($"k", 23, Seq("A", "N", "R")).as("l_returnflag"),
      pick($"k", 24, Seq("F", "O")).as("l_linestatus"),
      day(date_add($"o_orderdate".cast("date"), 1), $"k", 25, 120)
        .as("l_shipdate")), 4)
    write("events", spark.range(Events).select($"id".as("event_id"),
      // 2024-01-01 00:00 UTC plus ~259 s per event, jittered to the µs
      timestamp_micros(lit(1704067200000000L) + $"id" * 259000000L +
        uniform($"id", 26, 259000000L)).cast("timestamp_ntz").as("ts"),
      uniform($"id", 27, 150).as("user_id"),
      pick($"id", 28, Seq("click", "signup", "error", "view", "purchase"))
        .as("event_type"),
      ((uniform($"id", 29, 49001) + 1).cast("double") / 100).as("value"),
      format_string("{\"k\": %d}", uniform($"id", 30, 100)).as("props")), 2)
    write("documents", graft.GenCorpus.generate(spark, BaseDocs, 5), 2)
    write("embeddings", graft.GenCorpus.generateEmbeddings(spark, Vectors), 2)
  }

  /** A generated corpus (GenCorpus, `dupPct` planted near-dups) whose ids,
    * and therefore texts, start at seed × 10⁹.
    */
  def corpus(spark: SparkSession, nBase: Long, dupPct: Int,
      seed: Long): DataFrame =
    graft.GenCorpus.generate(spark, nBase, dupPct, idOffset = seed * 1000000000L)

  type Doc = (Long, String, String) // doc_id, source, text

  def docs(df: DataFrame): Array[Doc] = {
    import df.sparkSession.implicits._
    df.select("doc_id", "source", "text").as[Doc].collect()
  }

  /** Row count and an order-independent checksum of a corpus. */
  def fingerprint(docs: Seq[Doc]): (Long, String) =
    (docs.size.toLong,
      docs.map(d => BigInt(scala.util.hashing.MurmurHash3.productHash(d))).sum
        .toString)
}
