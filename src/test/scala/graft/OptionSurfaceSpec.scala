package graft

import org.scalatest.funsuite.AnyFunSuite

/** The environment variables graft reads are a fixed list. A Spark conf
  * A/B arm is a `-Dspark.*` flag (a `spark.*` JVM system property wins
  * over `GraftSession`'s default), so a new env read has to be added to
  * this list on purpose. Likewise, cross-query memos live in one
  * registry (`CacheHygiene.memo`), so a private memo map fails here, and
  * frames are persisted only by `SelfClean.scope`, which releases them
  * when it exits, so a raw persist fails here too. And a pure kernel is
  * a static method reached through `KernelCall`, so a new hand-written
  * Catalyst expression class has to be added to an allow-list on
  * purpose. And every streaming trigger runs through StreamingOps' one
  * trigger skeleton, so a hand-rolled `foreachBatch` fails here. And each
  * vector-LSH family runs one core, so a second semantic projection,
  * bucket aggregate or probe call fails here.
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
      f.getName -> names
    }
    assert(reads.flatMap(_._2).toSet == allowed)
    // the core count is one rule, GraftSession.cpus, that every main uses
    val cpuReaders = reads.collect { case (f, ns) if ns.contains("SPARK_GRAFT_CPUS") => f }
    assert(cpuReaders == Seq("GraftSession.scala"),
      s"SPARK_GRAFT_CPUS read outside GraftSession: ${cpuReaders.mkString(", ")}")
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

  test("only SelfClean persists or releases a frame") {
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.nonEmpty, "run from the repository root")
    // file name -> why it may persist or release
    val exempt = Map(
      "SelfClean.scala" -> "the scope: keep persists, its finally unpersists",
      "SparkInternals.scala" -> "the checkpoint-block sweep behind freeTransient")
    val raw = """\.persist\(|\.cache\(\)|\.unpersist\(""".r
    val calling = files.filter { f =>
      !exempt.contains(f.getName) &&
        raw.findFirstIn(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).isDefined
    }.map(_.getPath)
    // with every persist inside a scope that frees it on exit, no def can
    // hand a live cache back to its caller
    assert(calling.isEmpty,
      s"a persist outside SelfClean.scope: ${calling.mkString(", ")}")
  }

  test("only the trigger skeleton and fileIngest's audit branch call foreachBatch") {
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.nonEmpty, "run from the repository root")
    // enclosing def -> why it may start a foreachBatch stream
    val allowed = Map(
      "eachBatch" -> "the trigger scope of the ingest, rollup and gate streams",
      "fileIngest" -> "its audit branch, a stream with no query name")
    val call = """\.foreachBatch\s*[({]""".r
    val defn = """\bdef\s+(\w+)""".r
    def read(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val callers = files.flatMap { f =>
      val src = read(f)
      call.findAllMatchIn(src).map(m => f.getName ->
        defn.findAllMatchIn(src.take(m.start)).map(_.group(1)).toSeq.lastOption
          .getOrElse("")).toSeq
    }
    assert(callers.sorted == allowed.keys.toSeq.sorted.map("StreamingOps.scala" -> _),
      s"a foreachBatch outside the trigger skeleton: ${callers.mkString(", ")}")
    // the gate skeleton's finally is the one place a trigger checkpoint is freed
    val ops = files.find(_.getName == "StreamingOps.scala").map(read).get
    assert("""releaseCheckpointBlocks\(""".r.findAllMatchIn(ops).toList.size == 1,
      "StreamingOps frees a trigger checkpoint outside the gate skeleton")
  }

  test("each vector-LSH family has one core: one semantic frame, one bucket " +
      "aggregate, one probe call") {
    def read(name: String) = new String(java.nio.file.Files.readAllBytes(
      sources(new java.io.File("src/main/scala")).find(_.getName == name)
        .getOrElse(fail(s"$name not found: run from the repository root")).toPath), "UTF-8")
    val defn = """\bdef\s+(\w+)""".r
    def enclosing(src: String, call: scala.util.matching.Regex): Seq[String] =
      call.findAllMatchIn(src).map(m => defn.findAllMatchIn(src.take(m.start))
        .map(_.group(1)).toSeq.lastOption.getOrElse("")).toSeq
    val dedup = read("Dedup.scala")
    // enclosing def -> why it may build the md5 planes or group by bucket
    val projecting = Map("semanticFrame" -> "the one projection of every plane")
    val grouping = Map(
      "bucketStats" -> "the one bucket population aggregate",
      "semanticClusters" -> "d12's per-bucket union-find groups verified edges")
    val projectors = enclosing(dedup, """(?<!def )planeWeights\(""".r)
    assert(projectors.nonEmpty && projectors.forall(projecting.contains),
      s"planeWeights called outside semanticFrame: ${projectors.mkString(", ")}")
    val groupers = enclosing(dedup,
      """groupBy\(\s*(?:\$"bucket"|col\("bucket"\))""".r)
    assert(groupers.toSet == grouping.keySet && groupers.size == grouping.size,
      s"a group-by-bucket outside bucketStats: ${groupers.mkString(", ")}")
    // s02 and s02b are one knnLsh, selected by nprobe
    assert("""hyperplane_probes\(""".r.findAllMatchIn(read("Similarity.scala")).size == 1,
      "Similarity calls hyperplane_probes more than once")
  }

  test("org.apache.spark.sql.graft declares only the allowed Expression classes") {
    // class name -> why it is a hand-written expression
    val allowed = Map(
      "KernelCall" -> "the one call shape for every pure kernel in hashing",
      "TokenProfileCounts" -> "caller-built state: the profile lookup table",
      "NearestCentroid" -> "caller-built state: the centroid matrix and norms",
      "PqCodes" -> "caller-built state: the PQ codebooks",
      "PqAdcCosine" -> "caller-built state: coarse centroids and codebooks",
      "RedactChain" -> "caller-built state: the compiled pattern chain",
      "BpeTokenCount" -> "caller-built state: the BPE merge-rank map",
      "BpeTokens" -> "caller-built state: the BPE merge-rank map",
      "CappedCollectLong" -> "an aggregate with a bounded typed buffer")
    val files = sources(new java.io.File("src/main/scala/org/apache/spark/sql/graft"))
    assert(files.nonEmpty, "run from the repository root")
    val declared = """(?m)^\s*(?:(?:final|abstract|sealed|private\S*)\s+)*(?:case\s+)?class\s+(\w+)""".r
    val expressions = files.flatMap { f =>
      declared.findAllMatchIn(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).map(_.group(1))
    }.filter { name =>
      classOf[org.apache.spark.sql.catalyst.expressions.Expression].isAssignableFrom(
        Class.forName(s"org.apache.spark.sql.graft.$name", false, getClass.getClassLoader))
    }
    assert(expressions.contains("KernelCall"), expressions)
    val extra = expressions.filterNot(allowed.contains)
    assert(extra.isEmpty, s"an Expression class outside the allow-list: " +
      s"${extra.mkString(", ")} (a pure kernel is a GraftFunctions entry)")
  }
}
