package graft

import org.scalatest.funsuite.AnyFunSuite

/** The environment variables graft reads are a fixed list. A Spark conf
  * A/B arm is a `-Dspark.*` flag (a `spark.*` JVM system property wins
  * over `GraftSession`'s default), so a new env read has to be added to
  * this list on purpose. Likewise, cross-query memos live in one
  * registry (`CacheHygiene.memo`), so a private memo map fails here.
  */
class OptionSurfaceSpec extends AnyFunSuite {

  private val allowed = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_REPS",
    "SPARK_GRAFT_BENCH_DETAIL", "SPARK_GRAFT_BENCH_OUT")

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("src/main reads exactly the allowed environment variables") {
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.nonEmpty, "run from the repository root")
    val anyRead = """sys\.env|getenv""".r
    val namedRead =
      """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|getenv)\(\s*"([^"]+)"""".r
    val reads = files.map { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val names = namedRead.findAllMatchIn(src).map(_.group(1)).toSeq
      // a read whose name is not a literal cannot be checked
      assert(anyRead.findAllMatchIn(src).size == names.size,
        s"${f.getPath} reads the environment without a literal name")
      names
    }
    assert(reads.flatten.toSet == allowed)
  }

  test("only the CacheHygiene memo registry declares a ConcurrentHashMap") {
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.nonEmpty, "run from the repository root")
    val declaring = files.filter { f =>
      f.getName != "CacheHygiene.scala" &&
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .contains("ConcurrentHashMap")
    }.map(_.getPath)
    assert(declaring.isEmpty,
      s"a memo outside CacheHygiene's registry: ${declaring.mkString(", ")}")
  }
}
