package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial oracle corpus: a deliberately nasty `documents` +
  * `embeddings` directory the FULL 106-query DuckDB differential gate
  * runs over — not just the driver's clean synthetic testdata.
  *
  * Rationale: the per-query oracles prove cross-engine equality on the
  * corpus they're run against; every null-semantics, empty-token,
  * Unicode-width, or regex-metacharacter divergence between Spark and
  * DuckDB that the clean corpus never exercises is invisible to the
  * gate. This generator plants exactly those shapes, each family tagged
  * in `source` so a failure names its trigger:
  *
  *  - `adv_null` / `adv_empty` / `adv_space`: NULL text, "" text, and
  *    whitespace-only text (spaces, tabs, newlines) — the split/regex/
  *    count null-propagation surface (TokenCountSpec's pins, corpus-wide).
  *  - `adv_single`: one-token docs (no bigrams/shingles/windows exist).
  *  - `adv_exact`: 40 byte-identical copies of one text (hot exact mass
  *    through every digest/groupBy path).
  *  - `adv_runs`: interior runs of 2–4 spaces — Spark `split(text, " ")`
  *    and DuckDB `string_split(text, ' ')` BOTH emit empty-string
  *    tokens; any operator that disagrees about them diverges here.
  *  - `adv_cjk`: unsegmented CJK incl. a near-dup pair (±1 char) and
  *    mixed CJK/ASCII — byte-length vs char-length and the script-
  *    adaptive paths.
  *  - `adv_meta`: regex/SQL metacharacters, quotes, backslashes — the
  *    regexp/LIKE/JSON-ish extraction surface.
  *  - `adv_unicode`: emoji (4-byte UTF-8), combining marks (café composed
  *    vs decomposed), U+FFFD, fullwidth forms, RTL text.
  *  - `adv_long`: a 5000-token and a 2000-token doc (window/collect paths
  *    at per-doc extremes).
  *  - `adv_digits` / `adv_json`: numeric-only tokens; valid and broken
  *    JSON-shaped text.
  *  - `adv_nullcol`: NULL `lang` / NULL `source` with normal text — null
  *    GROUP BY keys and null window-partition keys (engines agree on the
  *    null group itself; orderings inside windows are where they split).
  *
  * Embeddings: 200 clustered vectors (GenCorpus) plus the degenerate
  * ones — the all-zero vector (cosine denominator 0), an identical
  * pair, an exact negation, 1e-30 and 1e30 magnitudes, a one-hot, and
  * an alternating ±1 — tagged by label = 99.
  *
  * Relational tables (customer/orders/lineitem/part/supplier) carry
  * their own hostile rows on top of the clean sf base: NULL group keys
  * (mktsegment/orderstatus/returnflag/p_type), NULL join keys and
  * dangling foreign keys (a custkey no customer has, a partkey no part
  * has — inner joins drop them in both engines, and any operator that
  * outer-joins or builds graph edges from them must agree about it),
  * NULL window-order keys (o_orderdate, c_acctbal — ascending-order
  * windows place NULLs FIRST on Spark and LAST on DuckDB, so every
  * rank/ntile/percent_rank over a nullable column must pin NULLS
  * placement explicitly), duplicate primary keys (the q07-family audit
  * shape on the relational side), boundary numerics (discount exactly
  * 0 and 1, negative quantity/price, ±1e6 magnitudes, epoch-0 and
  * far-future dates), and metacharacter strings in name columns.
  * nation/region stay clean (fixed dims, every key referenced).
  *
  * Everything is literal or hash-derived — no RNG, no clock — so the
  * corpus is byte-stable across runs and machines.
  *
  * Usage: runMain graft.GenAdversarial [outDir] [srcSfDir]
  * Default: /tmp/graftdata/adv /root/testdata/sf0.001
  */
object GenAdversarial {

  /** One adversarial family: rows (doc_id, text, lang, source) with
    * n_chars derived like the testdata (= length(text), null for null).
    */
  private def fam(spark: SparkSession, startId: Long, tag: String,
      lang: String, texts: Seq[String]): DataFrame = {
    import spark.implicits._
    val rows = texts.zipWithIndex.map { case (t, i) =>
      (startId + i, Option(t), Option(lang), tag)
    }
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
  }

  def adversarialDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // 360 base + 40 planted near-dups, ids 0..399 — the clean substrate
    // so corpus-level statistics (df, percentiles, LM counts) stay
    // non-degenerate and the families below are minority mass.
    val base = GenCorpus.generate(spark, 360, 10)

    val exactText = ("the quick brown fox jumps over the lazy dog and " +
      "then the fox jumps again over the very same lazy dog today").trim
    val longDoc = (0 until 5000).map(i => "w" + (i % 97)).mkString(" ")
    val midDoc = (0 until 2000).map(i => "v" + (i % 53)).mkString(" ")

    val families = Seq(
      fam(spark, 1000L, "adv_null", "en", Seq(null, null, null)),
      fam(spark, 1100L, "adv_empty", "en", Seq("", "", "")),
      fam(spark, 1200L, "adv_space", "en",
        Seq(" ", "   ", "\t\t", "\n\n", " \t\n ")),
      fam(spark, 1300L, "adv_single", "en",
        Seq("hello", "the", "r42", "字")),
      fam(spark, 1400L, "adv_exact", "en",
        Seq.fill(40)(exactText)),
      fam(spark, 1500L, "adv_runs", "en", Seq(
        "one  two   three    four",
        "lead and trail ",
        " lead and trail",
        "a  b  a  b  a  b")),
      fam(spark, 1600L, "adv_cjk", "zh", Seq(
        "机器学习模型需要大量高质量的训练数据才能取得良好效果",
        "机器学习模型需要大量高质量的训练数据才能取得优良效果",
        "深度学习是机器学习的一个分支领域",
        "データ処理パイプラインは大規模になるほど重要です",
        "한국어 텍스트 처리도 동일한 방식으로 작동합니다",
        "mixed 中文 and english 文本 in one document here",
        "标点，符号。也：要；覆盖！吗？（括号）《书名》")),
      fam(spark, 1700L, "adv_meta", "en", Seq(
        "a .* b [c] (d) {e} | ^ $ ? + \\ pattern",
        "don't \"quote\" me on 'this' `ever`",
        "back\\slash and \\n literal not newline",
        "100% _done_ | pipe; DROP TABLE documents; --",
        "tab\there and semi;colon and comma,comma")),
      fam(spark, 1800L, "adv_unicode", "en", Seq(
        "🚀🚀 rocket to the 🌙 moon",
        "café versus café composed",
        "� broken � replacement chars",
        "ＡＢＣ fullwidth forms here",
        "مرحبا بالعالم rtl text",
        "Ω≈ç√∫˜µ math soup")),
      fam(spark, 1900L, "adv_long", "en", Seq(longDoc, midDoc)),
      fam(spark, 2000L, "adv_digits", "en", Seq(
        "1 2 3 4 5 6 7 8 9 10",
        "3.14159 2.71828 1.41421 0.57721",
        "0 0 0 0 0 0 0 0 0 0 0 0")),
      fam(spark, 2100L, "adv_json", "en", Seq(
        "{\"a\": 1, \"b\": {\"c\": [1, 2, 3]}}",
        "not json { at all ] here",
        "[{\"k\": \"v\"}, {\"k\": \"w\"}]")))

    // null GROUP BY / window-partition keys with otherwise-normal text
    val nullCols = Seq(
      (2200L, Option("normal text with a null lang value present"),
        Option.empty[String], Option("adv_nullcol")),
      (2201L, Option("normal text with a null source value present"),
        Option("en"), Option.empty[String]))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")

    (base +: families :+ nullCols).reduce(_ unionByName _)
  }

  def adversarialEmbeddings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val base = GenCorpus.generateEmbeddings(spark, 200)
    def vec(f: Int => Float): Seq[Float] = (0 until 64).map(f)
    val degenerate = Seq(
      (1000L, vec(_ => 0.0f), 99),                       // zero vector
      (1001L, vec(j => ((j % 7) - 3) / 3.0f), 99),       // identical pair a
      (1002L, vec(j => ((j % 7) - 3) / 3.0f), 99),       // identical pair b
      (1003L, vec(j => -((j % 7) - 3) / 3.0f), 99),      // exact negation
      (1004L, vec(_ => 1e-30f), 99),                     // tiny magnitude
      (1005L, vec(_ => 1e30f), 99),                      // huge magnitude
      (1006L, vec(j => if (j == 0) 1.0f else 0.0f), 99), // one-hot
      (1007L, vec(j => if (j % 2 == 0) 1.0f else -1.0f), 99)) // alternating
      .toDF("vec_id", "embedding", "label")
    // zeros-with-NULL-component: the exact shape where Spark's aggregate
    // (0.0 + NULL = NULL) and DuckDB's list_sum (skips NULLs) diverge —
    // q39's zero_vector check must exclude it on both sides
    val nullComponent = Seq(
      (1008L, (0 until 64).map(j => if (j == 5) None else Some(0.0f)), 99))
      .toDF("vec_id", "embedding", "label")
    base.unionByName(degenerate).unionByName(nullComponent)
  }

  /** Clean sf events plus the hostile rows: NULL ts (unorderable —
    * Spark windows sort NULLS FIRST, DuckDB NULLS LAST, so any window
    * that admits them diverges by construction), NULL event_type /
    * user_id / value / props (group keys, window partitions, agg
    * inputs, regex subjects), an exact (user, ts, type) tie pair (the
    * tie-break discipline's probe), ±1e6 values (large-magnitude outliers through sum/avg/variance —
    * 1e300 was probed first and DuckDB's VARSAMP/STDDEV raise
    * out-of-range on its square where Spark silently saturates, so
    * magnitudes whose squares overflow double are outside the
    * cross-engine-checkable domain by construction), and an epoch-0 timestamp (calendar-range lower
    * extreme).
    */
  def adversarialEvents(spark: SparkSession, srcDir: String): DataFrame = {
    import spark.implicits._
    def ts(v: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(v)
    val planted = Seq(
      (1000001L, Option.empty[java.sql.Timestamp], Option(7001L),
        Option("click"), Option(1.5), Option("{\"k\": 42}")),
      (1000002L, Option.empty[java.sql.Timestamp], Option(7001L),
        Option("view"), Option(2.5), Option("{\"k\": 43}")),
      (1000003L, Option(ts("2026-01-05 10:00:00")), Option(7002L),
        Option.empty[String], Option(3.5), Option("{\"k\": 44}")),
      (1000004L, Option(ts("2026-01-05 10:05:00")), Option.empty[Long],
        Option("click"), Option(4.5), Option("{\"k\": 45}")),
      (1000005L, Option(ts("2026-01-05 10:10:00")), Option.empty[Long],
        Option("view"), Option(5.5), Option("{\"k\": 46}")),
      (1000006L, Option(ts("2026-01-05 10:15:00")), Option(7003L),
        Option("click"), Option.empty[Double], Option("{\"k\": 47}")),
      (1000007L, Option(ts("2026-01-05 10:20:00")), Option(7003L),
        Option("view"), Option(6.5), Option.empty[String]),
      (1000008L, Option(ts("2026-01-05 10:25:00")), Option(7003L),
        Option("click"), Option(7.5), Option("not json")),
      // exact (user, ts, type) tie — only event_id breaks it
      (1000009L, Option(ts("2026-01-05 11:00:00")), Option(7004L),
        Option("view"), Option(8.5), Option("{\"k\": 48}")),
      (1000010L, Option(ts("2026-01-05 11:00:00")), Option(7004L),
        Option("view"), Option(9.5), Option("{\"k\": 49}")),
      (1000011L, Option(ts("2026-01-05 12:00:00")), Option(7005L),
        Option("click"), Option(1e6), Option("{\"k\": 50}")),
      (1000012L, Option(ts("2026-01-05 12:01:00")), Option(7005L),
        Option("click"), Option(-1e6), Option("{\"k\": 51}")),
      (1000013L, Option(ts("1970-01-01 00:00:00")), Option(7006L),
        Option("scroll"), Option(0.0), Option("{\"k\": 52}")),
      // non-finite measurements: one NaN poisons any SUM/AVG it reaches
      // and ±Inf squares to +Inf in every variance — the probe for the
      // loader's finite-value contract
      (1000014L, Option(ts("2026-01-05 13:00:00")), Option(7007L),
        Option("click"), Option(Double.NaN), Option("{\"k\": 53}")),
      (1000015L, Option(ts("2026-01-05 13:01:00")), Option(7007L),
        Option("click"), Option(Double.PositiveInfinity), Option("{\"k\": 54}")),
      (1000016L, Option(ts("2026-01-05 13:02:00")), Option(7007L),
        Option("view"), Option(Double.NegativeInfinity), Option("{\"k\": 55}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    spark.read.parquet(s"$srcDir/events.parquet")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
        $"props")
      .unionByName(planted)
  }

  /** Hostile relational rows on top of the clean sf base tables.
    * Planted keys start at 900000 — far above any sf0.001 key — so the
    * clean mass is untouched and a failure's row set names its family.
    * Dangling FK values (888888 / 777777 / 666666 / 555 / 999) exist in
    * NO parent table by construction.
    */
  def adversarialCustomer(spark: SparkSession, srcDir: String): DataFrame = {
    import spark.implicits._
    val planted = Seq(
      // NULL group key (mktsegment drives q17/q21/q27/q38-family groupings)
      (900001L, Option("Customer#null-segment"), Option(3), Option(512.5), Option.empty[String]),
      // NULL window-order key (acctbal orders ntile/percent_rank windows)
      (900002L, Option("Customer#null-acctbal"), Option(4), Option.empty[Double], Option("BUILDING")),
      // NULL join key (nationkey) and a dangling one (no nation 999)
      (900003L, Option("Customer#null-nation"), Option.empty[Int], Option(100.0), Option("MACHINERY")),
      (900004L, Option("Customer#dangling-nation"), Option(999), Option(200.0), Option("MACHINERY")),
      // metacharacters through every name-string path
      (900005L, Option("O'Brien \"Quote\"; DROP TABLE--"), Option(1), Option(300.0), Option("FURNITURE")),
      // duplicate primary key — the relational q07 audit shape
      (900006L, Option("Customer#dup-a"), Option(2), Option(400.0), Option("HOUSEHOLD")),
      (900006L, Option("Customer#dup-b"), Option(2), Option(401.0), Option("HOUSEHOLD")),
      // balance extremes (sum/variance/histogram boundaries)
      (900007L, Option("Customer#neg-extreme"), Option(0), Option(-1000000.0), Option("AUTOMOBILE")),
      (900008L, Option("Customer#pos-extreme"), Option(0), Option(1000000.0), Option("AUTOMOBILE")),
      // this customer's ONLY orders carry NULL o_totalprice → NULL spend
      // reaches the q27/q31 rank windows (the ASC null-placement probe)
      (900009L, Option("Customer#null-spend"), Option(7), Option(50.0), Option("BUILDING")))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    spark.read.parquet(s"$srcDir/customer.parquet").unionByName(planted)
  }

  def adversarialOrders(spark: SparkSession, srcDir: String): DataFrame = {
    import spark.implicits._
    def ts(v: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(v)
    val planted = Seq(
      // NULL join key / dangling FK (customer 888888 does not exist)
      (910001L, Option.empty[Long], Option("O"), Option(111.0), Option(ts("1998-03-01 00:00:00")), Option("1-URGENT")),
      (910002L, Option(888888L), Option("O"), Option(222.0), Option(ts("1998-03-02 00:00:00")), Option("2-HIGH")),
      // NULL window-order key (o_orderdate drives q03/q29-family windows)
      (910003L, Option(12L), Option("F"), Option(333.0), Option.empty[java.sql.Timestamp], Option("3-MEDIUM")),
      // NULL group keys and NULL agg input
      (910004L, Option(13L), Option.empty[String], Option(444.0), Option(ts("1998-03-04 00:00:00")), Option("4-NOT SPECIFIED")),
      (910005L, Option(14L), Option("O"), Option(555.0), Option(ts("1998-03-05 00:00:00")), Option.empty[String]),
      (910006L, Option(15L), Option("O"), Option.empty[Double], Option(ts("1998-03-06 00:00:00")), Option("5-LOW")),
      // duplicate primary key
      (910007L, Option(16L), Option("O"), Option(666.0), Option(ts("1998-03-07 00:00:00")), Option("1-URGENT")),
      (910007L, Option(16L), Option("O"), Option(667.0), Option(ts("1998-03-07 00:00:00")), Option("1-URGENT")),
      // date extremes (epoch 0, far future) and price boundaries
      (910008L, Option(17L), Option("F"), Option(0.0), Option(ts("1970-01-01 00:00:00")), Option("2-HIGH")),
      (910009L, Option(18L), Option("O"), Option(-500.0), Option(ts("2099-12-31 00:00:00")), Option("3-MEDIUM")),
      // exact (custkey, orderdate) tie — only orderkey breaks the window
      (910010L, Option(77L), Option("O"), Option(777.0), Option(ts("1998-06-15 00:00:00")), Option("4-NOT SPECIFIED")),
      (910011L, Option(77L), Option("O"), Option(778.0), Option(ts("1998-06-15 00:00:00")), Option("4-NOT SPECIFIED")),
      // customer 900009's complete order history: all NULL totalprice, so
      // its aggregated spend is NULL inside the q27/q31 windows
      (910012L, Option(900009L), Option("O"), Option.empty[Double], Option(ts("1998-07-01 00:00:00")), Option("5-LOW")),
      (910013L, Option(900009L), Option("F"), Option.empty[Double], Option(ts("1998-07-02 00:00:00")), Option("5-LOW")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    spark.read.parquet(s"$srcDir/orders.parquet").unionByName(planted)
  }

  def adversarialLineitem(spark: SparkSession, srcDir: String): DataFrame = {
    import spark.implicits._
    def ts(v: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(v)
    val d = ts("1997-06-01 00:00:00")
    // Planted rows ATTACH to real parents (l_orderkey 10-23 and
    // l_partkey/l_suppkey in the clean sf0.001 ranges) so the NULL-measure
    // and boundary probes actually flow through every lineitem⋈orders/
    // part/supplier join — a mis-keyed probe silently vanishes from the
    // very operators it targets (caught by review; the first cut keyed
    // every row off a 920xxx orderkey that existed nowhere). Linenumbers
    // start at 90 (clean data uses 1-7) so no accidental composite-PK dup.
    // The ONLY dangling keys are the three explicit ones: order 777777,
    // part 666666, supplier 555.
    val planted = Seq(
      // NULL agg inputs, one per measure column
      (10L, Option(1L), Option(1), Option(90), Option.empty[Double], Option(100.0), Option(0.05), Option(0.02), Option("N"), Option("O"), Option(d)),
      (11L, Option(2L), Option(2), Option(90), Option(5.0), Option.empty[Double], Option(0.05), Option(0.02), Option("N"), Option("O"), Option(d)),
      (12L, Option(3L), Option(3), Option(90), Option(5.0), Option(100.0), Option.empty[Double], Option(0.02), Option("N"), Option("O"), Option(d)),
      (13L, Option(4L), Option(4), Option(90), Option(5.0), Option(100.0), Option(0.05), Option.empty[Double], Option("N"), Option("O"), Option(d)),
      // NULL group keys and NULL date
      (14L, Option(5L), Option(5), Option(90), Option(5.0), Option(100.0), Option(0.05), Option(0.02), Option.empty[String], Option("O"), Option(d)),
      (15L, Option(6L), Option(6), Option(90), Option(5.0), Option(100.0), Option(0.05), Option(0.02), Option("N"), Option.empty[String], Option(d)),
      (16L, Option(7L), Option(7), Option(90), Option(5.0), Option(100.0), Option(0.05), Option(0.02), Option("N"), Option("O"), Option.empty[java.sql.Timestamp]),
      // discount boundaries (0 and exactly 1 → zero revenue), negative/zero quantity
      (17L, Option(8L), Option(8), Option(90), Option(5.0), Option(100.0), Option(0.0), Option(0.02), Option("R"), Option("F"), Option(d)),
      (18L, Option(9L), Option(9), Option(90), Option(5.0), Option(100.0), Option(1.0), Option(0.02), Option("R"), Option("F"), Option(d)),
      (19L, Option(10L), Option(0), Option(90), Option(-5.0), Option(-100.0), Option(0.05), Option(0.02), Option("R"), Option("F"), Option(d)),
      (20L, Option(11L), Option(1), Option(90), Option(0.0), Option(0.0), Option(0.05), Option(0.02), Option("R"), Option("F"), Option(d)),
      // dangling FKs: order 777777, part 666666, supplier 555 exist nowhere
      (777777L, Option(21L), Option(1), Option(90), Option(5.0), Option(100.0), Option(0.05), Option(0.02), Option("A"), Option("F"), Option(d)),
      (21L, Option(666666L), Option(2), Option(90), Option(5.0), Option(100.0), Option(0.05), Option(0.02), Option("A"), Option("F"), Option(d)),
      (22L, Option(12L), Option(555), Option(90), Option(5.0), Option(100.0), Option(0.05), Option(0.02), Option("A"), Option("F"), Option(d)),
      // duplicate (orderkey, linenumber) — the composite-PK audit shape
      (23L, Option(13L), Option(3), Option(91), Option(6.0), Option(101.0), Option(0.06), Option(0.03), Option("N"), Option("O"), Option(d)),
      (23L, Option(13L), Option(3), Option(91), Option(7.0), Option(102.0), Option(0.07), Option(0.04), Option("N"), Option("O"), Option(d)),
      // part 930008's complete lineitem history: NULL extendedprice →
      // NULL revenue in the q23 rank window
      (24L, Option(930008L), Option(4), Option(90), Option(5.0), Option.empty[Double], Option(0.05), Option(0.02), Option("N"), Option("O"), Option(d)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    spark.read.parquet(s"$srcDir/lineitem.parquet").unionByName(planted)
  }

  def adversarialPart(spark: SparkSession, srcDir: String): DataFrame = {
    import spark.implicits._
    val planted = Seq(
      (930001L, Option("part null type"), Option("Brand#1"), Option.empty[String], Option(10), Option(50.0)),
      (930002L, Option("part null brand"), Option.empty[String], Option("STANDARD BRUSHED TIN"), Option(10), Option(50.0)),
      (930003L, Option("part null size"), Option("Brand#2"), Option("LARGE POLISHED STEEL"), Option.empty[Int], Option(50.0)),
      (930004L, Option("part null price"), Option("Brand#2"), Option("LARGE POLISHED STEEL"), Option(20), Option.empty[Double]),
      (930005L, Option("pa.rt [meta] (name) 100%"), Option("Brand#3"), Option("SMALL PLATED BRASS"), Option(30), Option(60.0)),
      (930006L, Option("part dup key a"), Option("Brand#4"), Option("MEDIUM ANODIZED NICKEL"), Option(40), Option(70.0)),
      (930006L, Option("part dup key b"), Option("Brand#4"), Option("MEDIUM ANODIZED NICKEL"), Option(40), Option(71.0)),
      (930007L, Option("part size zero neg price"), Option("Brand#5"), Option("ECONOMY BURNISHED COPPER"), Option(0), Option(-10.0)),
      // this part's ONLY lineitem carries NULL extendedprice → NULL
      // revenue reaches the q23 rank window
      (930008L, Option("part null revenue"), Option("Brand#1"), Option("PROMO POLISHED ZINC"), Option(15), Option(55.0)))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    spark.read.parquet(s"$srcDir/part.parquet").unionByName(planted)
  }

  def adversarialSupplier(spark: SparkSession, srcDir: String): DataFrame = {
    import spark.implicits._
    val planted = Seq(
      (940001L, Option("Supplier#null-nation"), Option.empty[Int], Option(100.0)),
      (940002L, Option("Supplier#dangling-nation"), Option(999), Option(200.0)),
      (940003L, Option("Supplier#null-acctbal"), Option(5), Option.empty[Double]),
      (940004L, Option("Supplier#dup a"), Option(6), Option(300.0)),
      (940004L, Option("Supplier#dup b"), Option(6), Option(301.0)))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    spark.read.parquet(s"$srcDir/supplier.parquet").unionByName(planted)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val outDir = args.headOption.getOrElse("/tmp/graftdata/adv")
    val srcDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local()
    val counts = writeAll(spark, outDir, srcDir)
    println(counts.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", s""","dir":"$outDir"}"""))
    spark.stop()
  }

  /** Write the full hostile-table directory (shared by main and the
    * rows-only adversarial spec, verdict r16 #1).
    */
  def writeAll(spark: SparkSession, outDir: String,
      srcDir: String): Seq[(String, Long)] = {
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
      counts(t) = spark.read.parquet(s"$outDir/$t.parquet").count()
    }
    val relational: Seq[(String, DataFrame)] = Seq(
      "customer" -> adversarialCustomer(spark, srcDir),
      "supplier" -> adversarialSupplier(spark, srcDir),
      "part" -> adversarialPart(spark, srcDir),
      "orders" -> adversarialOrders(spark, srcDir),
      "lineitem" -> adversarialLineitem(spark, srcDir))
    relational.foreach { case (t, df) =>
      df.repartition(2).write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
      counts(t) = spark.read.parquet(s"$outDir/$t.parquet").count()
    }
    adversarialEvents(spark, srcDir).repartition(2)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")
    counts("events") = spark.read.parquet(s"$outDir/events.parquet").count()
    adversarialDocs(spark).repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")
    counts("documents") =
      spark.read.parquet(s"$outDir/documents.parquet").count()
    adversarialEmbeddings(spark).repartition(2)
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
    counts("embeddings") =
      spark.read.parquet(s"$outDir/embeddings.parquet").count()
    counts.toSeq
  }
}
