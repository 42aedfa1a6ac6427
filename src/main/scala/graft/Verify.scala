package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Optional trailing args: query-name filter for local iteration (the
    // driver passes none → full dump). Unknown names fail fast.
    val unknown = only.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) sys.error(s"unknown query name(s): ${unknown.mkString(", ")}")
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same hygiene as Bench: free consume-once localCheckpoint results
      // so 131 queries don't stack their blocks (VERDICT r17 #1), with
      // the memo tables pinned.
      CacheHygiene.freeTransient(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // A failed query still let every other key and oracle_sql.json be
    // written; the run then fails loudly, naming every failed key.
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
