package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.graft.GraftExtensions
import org.apache.spark.sql.graft.GraftFunctions._
import org.apache.spark.sql.types._

/** The pure kernels behind `GraftFunctions` (one `KernelCall` each):
  *   - generated code and interpreted evaluation agree bit for bit on
  *     hostile rows, with whole-stage codegen on and off;
  *   - no `nullable = false` element or field ever holds a null;
  *   - each function's result type and unaliased column name are the
  *     ones the earlier per-kernel expression classes declared;
  *   - every registered `graft_*` SQL function rejects a wrong-typed
  *     argument at analysis.
  */
class KernelCallSpec extends SparkSpec {
  import spark.implicits._

  private val longToken = "x" * 20000
  private lazy val texts: Seq[String] =
    GenAdversarial.adversarialDocs(spark).select("text").as[String]
      .collect().toSeq ++ Seq(
      "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝔱𝔢𝔵𝔱 😀😀 😀😀 with surrogate pairs",
      "e\u0301 e\u0301 a\u0300 n\u0303 combining marks",
      s"$longToken $longToken tail",
      "\u3000 \u00a0 ideographic and no-break spaces",
      "a", "a b", "a  b", " a b ", "\ta\nb\u000bc\fd\re")
  private val tokenArrays: Seq[Seq[String]] = Seq(null, Seq(), Seq(""),
    Seq("", ""), Seq("a", "a", "b", "b", "a"), Seq("😀", "e\u0301", "😀"),
    Seq(longToken, longToken, "y"), Seq(" ", "\t", " "),
    "the quick brown fox jumps over the lazy dog".split(" ").toSeq,
    Seq("a", null, "b"), Seq(null), Seq(null, null, "a", null))
  private val vectors: Seq[Seq[Double]] = Seq(null, Seq(), Seq(Double.NaN),
    Seq(0.0, -0.0), Seq(-0.0), Seq(Double.PositiveInfinity,
      Double.NegativeInfinity, 1.0), Seq(1e308, 1e308, -1e308),
    Seq(Double.MinPositiveValue, -Double.MinPositiveValue),
    Seq(1.0, -2.0, 0.5, 3.25), Seq(0.1, 0.2, 0.3, Double.NaN, 0.4))
  private val sortedLongs: Seq[Seq[Long]] = Seq(null, Seq(), Seq(0L),
    Seq(Long.MinValue, -1L, 0L, Long.MaxValue), Seq(1L, 2L, 3L, 5L, 8L),
    (1L to 40L).map(_ * 7919L))
  private val binaries: Seq[Array[Byte]] = Seq(null, Array(),
    Array(127, -128, 0, 1).map(_.toByte), Array.fill(100)(-128.toByte))
  private val spans: Seq[Seq[(Int, Int)]] = Seq(null, Seq(), Seq((0, 1)),
    Seq((0, 2), (3, 5)), Seq((1, Int.MaxValue)), Seq((-5, 0), (7, 9)))
  private val edges: Seq[Seq[(Long, Long)]] = Seq(null, Seq(), Seq((1L, 1L)),
    Seq((3L, 2L), (2L, 1L), (9L, 8L), (3L, 2L)),
    Seq((Long.MaxValue, Long.MinValue), (0L, Long.MaxValue)))
  private val termVectors: Seq[(Seq[String], Seq[Double])] = Seq((null, null),
    (Seq(), Seq()), (Seq("a", "b", "😀"), Seq(Double.NaN, -0.0, 1.5)),
    (Seq("a", "c"), Seq(Double.PositiveInfinity, 2.0)),
    (Seq("", "b", "c"), Seq(-0.0, 0.25, Double.NegativeInfinity)),
    (Seq(null, "a", "c"), Seq(5.0, 1.0, 2.0)), (Seq(null), Seq(3.0)))

  /** One row per hostile text; every other column cycles through its own
    * hostile values, offset so different combinations meet. The frame is
    * RDD-backed: over a local relation the optimizer would evaluate the
    * projection itself, interpreted, whatever the codegen settings.
    */
  private lazy val hostile: DataFrame = {
    def pick[T](xs: Seq[T], i: Int, shift: Int): T = xs((i + shift) % xs.size)
    def rowsOf[T](xs: Seq[(T, T)]) = Option(xs).map(_.map { case (a, b) => Row(a, b) }).orNull
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val (ta, wa) = pick(termVectors, i, 0)
      val (tb, wb) = pick(termVectors, i, 2)
      Row(i.toLong, t, pick(tokenArrays, i, 0), pick(vectors, i, 0),
        pick(vectors, i, 3), pick(sortedLongs, i, 0), pick(sortedLongs, i, 2),
        pick(binaries, i, 0), pick(binaries, i, 1), rowsOf(pick(spans, i, 0)),
        rowsOf(pick(edges, i, 0)), ta, wa, tb, wb)
    }
    def pair(a: String, b: String, t: DataType) = ArrayType(StructType(Seq(
      StructField(a, t), StructField(b, t))))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("toks", ArrayType(StringType)),
      StructField("vec", ArrayType(DoubleType)),
      StructField("vec2", ArrayType(DoubleType)),
      StructField("hs", ArrayType(LongType)),
      StructField("hs2", ArrayType(LongType)),
      StructField("bin", BinaryType), StructField("bin2", BinaryType),
      StructField("spans", pair("s", "e", IntegerType)),
      StructField("edges", pair("a", "b", LongType)),
      StructField("terms", ArrayType(StringType)),
      StructField("w", ArrayType(DoubleType)),
      StructField("terms2", ArrayType(StringType)),
      StructField("w2", ArrayType(DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** Every function as (column, result type, unaliased column name); the
    * types and names were read off the per-kernel expression classes
    * this table replaced. In the type strings `!` marks a non-null
    * array element or struct field.
    */
  private lazy val functions: Seq[(Column, String, String)] = Seq(
    (dot_product($"vec", $"vec2"), "double", "dotproduct(vec, vec2)"),
    (minhash_sig($"toks", 8), "array<bigint!>", "minhashsig(toks)"),
    (simhash64($"toks"), "bigint", "simhash64(toks)"),
    (hyperplane_sig($"vec", 16), "bigint", "hyperplanesig(vec)"),
    (hyperplane_probes($"vec", 16, 4), "array<bigint!>",
      "hyperplaneprobes(vec)"),
    (word_shingles($"text", 2), "array<string!>", "wordshingles(text)"),
    (winnow_fingerprints($"toks", 3), "array<bigint!>",
      "winnowfingerprints(toks)"),
    (word_shingle_hashes($"text", 3), "array<bigint!>",
      "wordshinglehashes(text)"),
    (char_shingle_hashes($"text", 3), "array<bigint!>",
      "charshinglehashes(text)"),
    (rolling_kgram_hashes($"text", 3, 7L), "array<bigint!>",
      "rollingkgramhashes(text)"),
    (minhash_sig_from_hashes($"hs", 8), "array<bigint!>",
      "minhashsigfromhashes(hs)"),
    (minhash_band_hashes($"hs", 4, 2), "array<bigint!>",
      "minhashbandhashes(hs)"),
    (whitespace_count($"text"), "int", "whitespacecount(text)"),
    (ws_token_count($"text"), "int", "wstokencount(text)"),
    (cjk_script_counts($"text"), "array<int!>", "cjkscriptcounts(text)"),
    (bpeish_token_count($"text"), "int", "bpeishtokencount(text)"),
    (sorted_intersection_size($"hs", $"hs2"), "int",
      "sortedintersectionsize(hs, hs2)"),
    (remove_spans($"toks", $"spans"), "string", "removespans(toks, spans)"),
    (sorted_weighted_dot($"terms", $"w", $"terms2", $"w2"), "double",
      "sortedweighteddot(terms, w, terms2, w2)"),
    (collapse_adjacent_repeats($"toks"), "array<string>",
      "collapseadjacentrepeats(toks)"),
    (token_vocab_stats($"text"),
      "struct<n_tokens:bigint!,vocab_size:bigint!,n_hapax:bigint!," +
        "sum_n_log2n:double!>", "tokenvocabstats(text)"),
    (quantize_vec($"vec"),
      "struct<q:binary!,scale:double!,norm:double!,l1:double!>",
      "quantizevec(vec)"),
    (int8_dot($"bin", $"bin2"), "bigint", "int8dot(bin, bin2)"),
    (segment_shingle_hashes($"text", 4, 2),
      "array<struct<h:bigint!,h2:bigint!,sh:array<bigint!>!>!>",
      "segmentshinglehashes(text)"),
    (segment_shingle_hashes_adaptive($"text", 4, 2, 2, 0.05),
      "array<struct<h:bigint!,h2:bigint!,sh:array<bigint!>!>!>",
      "segmentshinglehashesadaptive(text)"),
    (classifier_token_score($"text"), "struct<s:bigint!,n:bigint!>",
      "classifiertokenscore(text)"),
    (space_token_count($"text"), "int", "spacetokencount(text)"),
    (md5_bucket_counts($"text", 16), "array<struct<bkt:int!,n:bigint!>!>",
      "md5bucketcounts(text)"),
    (ordered_pairs($"hs"), "array<struct<a:bigint!,b:bigint!>!>",
      "orderedpairs(hs)"),
    (component_labels($"edges"),
      "array<struct<vec_id:bigint!,cluster_id:bigint!>!>",
      "componentlabels(edges)"),
    (word_counts($"text"), "array<struct<w:string!,n:bigint!>!>",
      "wordcounts(text)"),
    (hashed_bow_vector($"text", 8), "array<double!>",
      "hashedbowvector(text)"),
    (bigram_counts($"text"), "array<struct<w1:string!,w2:string!,n:bigint!>!>",
      "bigramcounts(text)"))

  private def shape(t: DataType): String = t match {
    case ArrayType(e, containsNull) =>
      s"array<${shape(e)}${if (containsNull) "" else "!"}>"
    case StructType(fields) => fields.map(f =>
      s"${f.name}:${shape(f.dataType)}${if (f.nullable) "" else "!"}")
      .mkString("struct<", ",", ">")
    case other => other.simpleString
  }

  /** A value with every double as its raw bits and every array, binary
    * and struct as a plain Seq, so equality is bit equality.
    */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.map(bits).toSeq
    case r: Row => r.toSeq.map(bits)
    case other => other
  }

  /** Null where `t` declares an element or field non-null. */
  private def nullsWhereForbidden(v: Any, t: DataType): Boolean = (v, t) match {
    case (null, _) => false
    case (s: scala.collection.Seq[_], ArrayType(e, containsNull)) =>
      s.exists(x => (x == null && !containsNull) || nullsWhereForbidden(x, e))
    case (r: Row, StructType(fields)) => fields.zipWithIndex.exists {
      case (f, i) => (r.isNullAt(i) && !f.nullable) ||
        nullsWhereForbidden(r.get(i), f.dataType)
    }
    case _ => false
  }

  private val modes = for {
    wholeStage <- Seq("true", "false")
    factory <- Seq("CODEGEN_ONLY", "NO_CODEGEN")
  } yield (wholeStage, factory)

  private def evaluate(c: Column, wholeStage: String, factory: String)
      : Seq[(Long, Any)] = {
    spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
    spark.conf.set("spark.sql.codegen.factoryMode", factory)
    try hostile.select($"id", c.as("r")).collect().toSeq
      .map(r => (r.getLong(0), r.get(1))).sortBy(_._1)
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("every kernel's codegen and interpreted paths agree bit for bit on hostile rows") {
    assert(functions.size == 33)
    assert(hostile.count() == texts.size)
    functions.foreach { case (c, _, name) =>
      val dataType = hostile.select(c).schema.head.dataType
      val results = modes.map { case (ws, f) => evaluate(c, ws, f) }
      results.zip(modes).tail.foreach { case (got, (ws, f)) =>
        val diff = got.zip(results.head).collect {
          case ((id, a), (_, b)) if bits(a) != bits(b) => id
        }
        if (diff.nonEmpty) fail(s"$name: wholeStage=$ws $f differs from " +
          s"wholeStage=true CODEGEN_ONLY on ${diff.size} rows, e.g. ${diff.take(5)}")
      }
      val bad = results.head.collect {
        case (id, v) if nullsWhereForbidden(v, dataType) => id
      }
      if (bad.nonEmpty) fail(s"$name: null where $dataType forbids it, rows $bad")
    }
  }

  test("every kernel keeps its result type and unaliased column name") {
    functions.foreach { case (c, dataType, name) =>
      val field = hostile.select(c).schema.head
      assert(field.name == name)
      assert(shape(field.dataType) == dataType, field.name)
    }
  }

  test("hashing kernels skip null elements: f(arr) == f(filter(arr, x -> x IS NOT NULL))") {
    GraftExtensions.register(spark)
    val arrays = Seq("array('a', null)", "array(null, 'a', 'b', null, 'c', 'a')",
      "array(cast(null AS string))", "array(cast(null AS string), null, null)",
      "array('u', 'v', null, 'w', 'x', null, 'y')")
    val calls = Seq("graft_minhash_sig(%s, 8)", "graft_simhash64(%s)",
      "graft_winnow_fingerprints(%s, 2)")
    for (a <- arrays; call <- calls) {
      def eval(arg: String) = bits(spark.sql(s"SELECT ${call.format(arg)}").head().get(0))
      assert(eval(a) == eval(s"filter($a, x -> x IS NOT NULL)"), call.format(a))
    }
    // sorted_weighted_dot has no SQL name: through its Column function,
    // where filtering drops a null term together with its weight
    def terms(t: String*): Seq[String] = t
    val vecs = Seq(
      (terms(null, "a", "b"), Seq(5.0, 1.0, 2.0), terms(null, "a", "c"), Seq(7.0, 3.0, 4.0)),
      (terms(null), Seq(2.0), terms("a"), Seq(1.0)),
      (terms("a", "b"), Seq(1.5, 2.5), terms(null, null, "b"), Seq(9.0, 9.0, 2.0)))
    def nonNull(t: Seq[String], w: Seq[Double]) = t.zip(w).filter(_._1 != null).unzip
    val rows = vecs.map { case (ta, wa, tb, wb) =>
      val ((fa, fwa), (fb, fwb)) = (nonNull(ta, wa), nonNull(tb, wb))
      (ta, wa, tb, wb, fa, fwa, fb, fwb)
    }
    val got = rows.toDF("ta", "wa", "tb", "wb", "fa", "fwa", "fb", "fwb")
      .select(sorted_weighted_dot($"ta", $"wa", $"tb", $"wb"),
        sorted_weighted_dot($"fa", $"fwa", $"fb", $"fwb"))
      .as[(Double, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(3.0, 0.0, 5.0), got)
    got.foreach { case (withNulls, filtered) => assert(bits(withNulls) == bits(filtered)) }
  }

  test("every registered graft_* SQL function rejects a wrong-typed argument") {
    GraftExtensions.register(spark)
    val wrongTyped = Map(
      "graft_dot_product" -> "graft_dot_product(array('a'), array('b'))",
      "graft_minhash_sig" -> "graft_minhash_sig(array(1, 2), 8)",
      "graft_simhash64" -> "graft_simhash64(array(1, 2))",
      "graft_hyperplane_sig" -> "graft_hyperplane_sig(array('a'), 8)",
      "graft_hyperplane_probes" ->
        "graft_hyperplane_probes(array('a'), 8, 2)",
      "graft_word_shingles" -> "graft_word_shingles(array('a b'), 2)",
      "graft_winnow_fingerprints" ->
        "graft_winnow_fingerprints(array(1L, 2L), 3)",
      "graft_word_shingle_hashes" -> "graft_word_shingle_hashes(42, 3)",
      "graft_minhash_sig_from_hashes" ->
        "graft_minhash_sig_from_hashes(array('a'), 8)",
      "graft_sorted_intersection_size" ->
        "graft_sorted_intersection_size(array(1, 2), array(1L))",
      "graft_collapse_adjacent_repeats" ->
        "graft_collapse_adjacent_repeats(array(1, 1, 2))")
    assert(wrongTyped.keySet == GraftExtensions.builders.keySet)
    wrongTyped.foreach { case (fn, call) =>
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call").collect())
      assert(Option(e.getCondition).exists(_.startsWith("DATATYPE_MISMATCH")),
        s"$fn: ${e.getCondition}: ${e.getMessage}")
    }
  }
}
