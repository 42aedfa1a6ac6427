package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Store, marker and state paths resolved through the Hadoop FileSystem
  * of the path itself — the resolution the parquet reader and writer
  * use. `java.io.File` sees a `file://`, HDFS or S3 path as absent: a
  * store listed that way looks empty (dedup silently stops), a marker
  * probed that way never exists (a replay rewrites landed data, a rollup
  * merge never commits).
  */
private[graft] object StorePaths {

  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    fs.exists(p)
  }

  /** Create an empty marker file (parent dirs implicit). */
  def touch(spark: SparkSession, path: String): Unit = {
    val (fs, p) = resolve(spark, path)
    fs.create(p, true).close()
  }

  /** Delete a file or a directory tree; an absent path is a no-op. */
  def delete(spark: SparkSession, path: String): Unit = {
    val (fs, p) = resolve(spark, path)
    fs.delete(p, true)
    ()
  }

  /** The `<id>.parquet` entries of `dir` as (id, full path) — empty when
    * `dir` does not exist.
    */
  def parquetEntries(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val (fs, p) = resolve(spark, dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName.stripSuffix(".parquet") -> f.toString)
  }
}
