package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Warm queries must not recompile their generated code. Whole-stage
  * codegen keeps compiled classes in one JVM-wide LRU cache, and Spark's
  * 100-entry default is smaller than one pass of the benchmark's suite
  * (135 classes), so at 100 every warm pass evicted and recompiled its own
  * classes. The counter is deterministic: the number of Janino compiles,
  * read from Spark's codegen metrics.
  */
class CodegenCacheSpec extends SparkSpec {

  /** The benchmark's `suite` pass: one query per module that owns keys.
    * Five other keys generate new code on every run even with a large
    * cache, so a zero-compile pin cannot hold for them and they must stay
    * out of this list: q06_setdiff_audit, q35_mixture_drift,
    * q39_quality_audit, t15_bm25 and d18_segment_neardup.
    */
  private val suitePass = Seq(
    "q01_pricing_agg", "t02_quality", "e10_sliding_window", "q25_histogram",
    "d13_segment_dedup", "s01_knn_brute", "g02b_copurchase_sketch",
    "m05_decode_pack", "q37_phrase_search", "t23_pii_redact")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One pass, each query to a `noop` sink and then swept as the suite does. */
  private def pass(): Long = {
    val before = compiles
    suitePass.foreach { q =>
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      CacheHygiene.freeTransient(spark)
    }
    compiles - before
  }

  test("the session sizes the generated-code cache to graft's working set") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
  }

  test("warm passes of the suite's queries compile no classes") {
    val cold = pass()
    val warm = Seq(pass(), pass())
    assert(warm == Seq(0L, 0L),
      s"compiles per pass: cold $cold, warm ${warm.mkString(", ")}")
  }
}
