package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory — every graft entry point (Verify, Bench,
  * Plans, tests, user code) needs the same base configuration:
  * UTC timestamps (oracle parity), ANSI off (try-parse fallback chains),
  * nanos-as-long (TIMESTAMP(NANOS) parquet), AQE on, shuffle partitions
  * sized to the machine rather than the 200 default.
  *
  * One override rule: a `spark.*` JVM system property wins over graft's
  * default for the same key, so any conf A/B needs only a `-D` flag (e.g.
  * `-Dspark.shuffle.sort.bypassMergeThreshold=200`), never a rebuild or an
  * env var. Keys graft does not set reach the session from `-D` as in any
  * Spark application.
  *
  * Generated-code cache: whole-stage codegen keeps each Janino-compiled
  * class in ONE JVM-wide LRU cache, 100 entries by default. graft's warm
  * working set is larger. Counted with Spark's codegen compile counter on
  * a 4-core box, one pass of the benchmark's 10-query suite needs 135
  * classes, one p07b curation call about 270, and one pass over the 129
  * non-p07 query keys about 1,700. At 100 every warm run evicted its own
  * classes and recompiled them on the driver and in its tasks: about
  * 2,300 compiles per warm 129-key pass. 4096 leaves more than 2×
  * headroom over the largest set. A warm suite pass then compiles
  * nothing, a warm 129-key pass fewer than 100 classes, and metaspace
  * grew by 10–15 MB. The conf is static and the cache is built once per
  * JVM, when the first session generates code: that session's value
  * fixes the size for every later session in the process.
  */
object GraftSession {

  /** Graft's defaults; see the override rule in the object's scaladoc. */
  private def defaults(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Plan strings are diagnostics; the ~2 GB default means a deep
    // composed DAG (p07: ~10 chained stages whose anti-join sides each
    // re-render the parent's InMemoryRelation innerChildren) can spend
    // MINUTES of driver CPU string-building before the first job. Cap
    // it — SizeLimitedWriter aborts the tree walk at the limit.
    "spark.sql.maxPlanStringLength" -> "100000",
    "spark.ui.enabled" -> "false",
    // Shuffle-writer selection (a shuffle produces M × R
    // blocks; the cost of SMALL shuffles is dominated by per-block fixed
    // cost). Spark's default `bypassMergeThreshold=200` routes every
    // R ≤ 200 shuffle through BypassMergeSortShuffleWriter, which opens
    // R partition files PER MAP TASK — at R = M = 32 cores that is 1024
    // file creates per exchange, measured at ~3 ms of map-task CPU per
    // reduce partition (the 100k-row groupBy's map stage cost 0.37 s of
    // task time at R=1, 3.1 s at R=32; OPTIMIZATION_r19.md). This was
    // THE mechanism behind the r18 verdict's 32-core anti-scaling
    // cluster (g03 ratio 0.44, whole-suite 8-core total beating 32-core):
    // task counts scale with cores, so block count grows quadratically
    // while the per-block payload shrinks. A threshold of 1 routes every
    // shuffle through the serialized sort writer (ONE file + index per
    // map task, radix sort on partition ids), which measured 0.76 s for
    // the same stage — and is the writer production-scale shuffles
    // (R > 200) use anyway, so local and cluster exercise the same path.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    // The working set of generated classes; see the object's scaladoc.
    "spark.sql.codegen.cache.maxEntries" -> "4096")

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    defaults(shufflePartitions).foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, sys.props.getOrElse(k, v))
    }

  /** Cores for a graft main: `SPARK_GRAFT_CPUS`, else the machine's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Session for a graft main, at [[cpus]] cores. */
  def local(): SparkSession = local(cpus)

  /** Session for local work with `cpus` cores; registers the graft SQL
    * functions so `graft_*` is available out of the box.
    */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftExtensions.register(s)
    s
  }
}
