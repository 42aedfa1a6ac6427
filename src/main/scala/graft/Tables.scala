package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All graft operators take DataFrames, so on a real cluster these would be
  * swapped for bucketed / partitioned catalog tables; the parquet scan here
  * still benefits from Catalyst pushdown + column pruning.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "lineitem"), "l_shipdate")
  /** events.ts arrives in whatever parquet logical type the producer chose —
    * real lakes mix TIMESTAMP(NANOS), TIMESTAMP_NTZ, and TIMESTAMP(LTZ)
    * freely — so the loader, not each query, owns normalization to a plain
    * session-zone TIMESTAMP. Three cases:
    *   - LongType: TIMESTAMP(NANOS) read as long under
    *     spark.sql.legacy.parquet.nanosAsLong=true (set in every graft
    *     session); integer-divide ns→us — exact, matches DuckDB's cast.
    *   - TimestampNTZType: cast to TimestampType. Every graft session pins
    *     spark.sql.session.timeZone=UTC, so the wall-clock fields are
    *     reinterpreted as UTC instants — value-preserving (same micros).
    *   - TimestampType: already canonical.
    * Downstream consumers (unix_micros, window(), date_trunc) may then
    * assume TimestampType; EventsTypeToleranceSpec pins this contract.
    */
  /** Events with the LOAD CONTRACT applied: rows with no event time are
    * dead-lettered here, once, rather than leaking into every operator.
    * A NULL ts is unorderable — inside a window Spark sorts it NULLS
    * FIRST where DuckDB sorts NULLS LAST, so any two engines disagree
    * about every downstream sessionization/CUSUM/window state the row
    * touches (GenAdversarial reproduced exactly that on e10/e14, and
    * e02's agreement was luck). Every events oracle carries the matching
    * `WHERE ts IS NOT NULL`; a production pipeline routes these rows to
    * a dead-letter table at ingest.
    *
    * Second half of the contract (GenAdversarial, the non-finite probe):
    * a NaN/±Inf `value` is an unusable measurement — one NaN poisons
    * every SUM/AVG it reaches, Inf squares past double range inside any
    * variance (where DuckDB RAISES out-of-range and Spark silently
    * saturates to NaN — the engines cannot agree even in principle), and
    * the NaN row flips MAD/zscore outlier sets. The EVENT still
    * happened, so the row is kept for counts/sessionization and only the
    * measure is nulled — the matching oracle form is the
    * `* REPLACE (CASE WHEN isfinite(value) ...)` inline view.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEvents(load(s, d, "events"))

  /** The FULL events load contract — ts normalization + null-ts
    * dead-letter + non-finite measure nulling — as one shared helper, so
    * batch (this loader) and streaming sources (StreamingOps.windowedAgg
    * et al.) apply identical semantics. Works on streaming DataFrames:
    * schema inspection is plan-time, the rewrites are row-local. The
    * value-nulling half applies only when the frame actually carries a
    * double `value` measure, so ts-only event shapes (views/purchases)
    * pass through the ts half alone.
    */
  def normalizeEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, isnan, lit, when}
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val tsed = normalizeEventTs(raw).filter(col("ts").isNotNull)
    // FLOAT or DOUBLE: a producer may write either (the same variance
    // normalizeTs absorbs for ts encodings); both carry NaN/±Inf. The
    // comparisons below widen float to double exactly, so one branch
    // covers both.
    if (raw.schema.exists(f => f.name == "value" &&
        (f.dataType == DoubleType || f.dataType == FloatType)))
      tsed.withColumn("value",
        when(isnan(col("value")) ||
          col("value") === lit(Double.PositiveInfinity) ||
          col("value") === lit(Double.NegativeInfinity), lit(null))
          .otherwise(col("value")))
    else tsed
  }

  /** Normalize an events-shaped frame's `ts` column to TimestampType.
    * Shared by the batch loader and streaming sources so both inherit the
    * same type tolerance.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = normalizeTs(raw, "ts")

  /** Normalize a timestamp-bearing column to TimestampType, whatever
    * parquet logical type the producer chose (see [[events]] for the
    * three-case contract). Applied by every loader whose table carries a
    * timestamp (`events.ts`, `orders.o_orderdate`, `lineitem.l_shipdate`)
    * so downstream comparisons, `unix_micros`, and date functions never
    * see a producer-dependent type.
    */
  def normalizeTs(raw: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions.{abs, col, expr, when}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema(c).dataType match {
      case LongType =>
        // A plain INT64 carries no unit, and assuming nanos silently
        // shifts a millis/micros producer by 10^3–10^6. The unit is
        // disambiguated by magnitude instead: for any instant between
        // 1970-04-26 and ~2286 the four encodings occupy disjoint
        // decades (seconds ~1e9, millis ~1e12, micros ~1e15, nanos
        // ~1e18), so per-row thresholds at 1e10/1e13/1e16 decode each
        // unambiguously (driver testdata writes TIMESTAMP(NANOS) under
        // nanosAsLong → first branch).
        val mag = abs(col(c))
        raw.withColumn(c,
          when(mag >= 10000000000000000L, expr(s"timestamp_micros($c div 1000)"))
            .when(mag >= 10000000000000L, expr(s"timestamp_micros($c)"))
            .when(mag >= 10000000000L, expr(s"timestamp_millis($c)"))
            .otherwise(expr(s"timestamp_seconds($c)")))
      case TimestampNTZType =>
        raw.withColumn(c, col(c).cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Cheap corpus snapshot for memo invalidation in the
    * [[CacheHygiene.memo]] registry: sorted (name, length, mtime) listing
    * of the named tables' files under `dir`. A dir rewritten in place
    * changes the listing, so a long-lived session never serves a memoized
    * frame of data that no longer exists. One filesystem listing per
    * lookup — no data read.
    */
  private[graft] def dirFingerprint(s: SparkSession, dir: String,
      tables: Seq[String]): String =
    tables.map { t =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) s"$t:absent"
      else {
        val it = fs.listFiles(path, true)
        val entries = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          entries += s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
        }
        s"$t:" + entries.sorted.mkString(";")
      }
    }.mkString("|")
}
