package graftbench

import java.io.{File, PrintWriter}

import scala.io.Source

/** The committed expectations under `perfbench/expected/`, as
  * tab-separated files with a header line.
  */
object Expected {
  private def rows(dir: String, file: String): Seq[Array[String]] = {
    val src = Source.fromFile(new File(dir, file), "UTF-8")
    try src.getLines().drop(1).filter(_.nonEmpty).map(_.split("\t")).toVector
    finally src.close()
  }

  /** query -> row count, for every key of `SparkEntry.queries`. */
  def suiteRows(dir: String): Map[String, Long] =
    rows(dir, "suite_rows.tsv").map(r => r(0) -> r(2).toLong).toMap

  /** Fail the run when a generated corpus is not the committed one: its
    * row count must match for every seed, its checksum for pinned seeds.
    * Returns whether the seed is pinned.
    */
  def checkFingerprint(dir: String, workload: String, seed: Long,
      got: (Long, String)): Boolean = {
    val fp = rows(dir, "fingerprints.tsv").filter(_(0) == workload)
    val want = fp.find(_(1).toLong == seed)
    require(fp.nonEmpty && fp.forall(_(2).toLong == got._1),
      s"$workload corpus has ${got._1} rows, expected ${fp.map(_(2)).distinct}")
    want.foreach(w => require(w(3) == got._2,
      s"$workload corpus for seed $seed has checksum ${got._2}, expected ${w(3)}"))
    want.isDefined
  }

  def write(dir: String, file: String, header: String,
      lines: Seq[String]): Unit = {
    val w = new PrintWriter(new File(dir, file), "UTF-8")
    try { w.println(header); lines.foreach(w.println) } finally w.close()
  }
}

/** Regenerates the committed expectations from the current program: the
  * suite's per-query row counts (plus the oracle SQL for the DuckDB
  * cross-check), and the fingerprints of the suite's
  * document corpus and of the gate's corpus for seeds `0 until --seeds`.
  * Run it through `perfbench/expect.py`.
  */
object Expect {
  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val m = argv.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap
    val (work, dir, seeds) = (m("work"), m("expected"), m("seeds").toInt)
    val spark = graft.GraftSession.local(m("cores").toInt)

    val tables = s"$work/tables"
    Inputs.writeSuiteTables(spark, tables)
    val counts = graft.SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val t0 = System.nanoTime()
      val n = Suite.run(spark, tables, q)
      Suite.cleanup(spark)
      println(f"$q%-32s ${Suite.moduleOf(q)}%-16s $n%8d " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s")
      s"$q\t${Suite.moduleOf(q)}\t$n"
    }
    Expected.write(dir, "suite_rows.tsv", "query\tmodule\trows", counts)
    val oracles = graft.SparkEntry.oracleSql.toSeq.sorted.map { case (k, v) =>
      "\"" + k + "\":\"" + v.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\t' => "\\t"; case '\r' => "\\r"; case c => c.toString
      } + "\""
    }
    Expected.write(work, "oracle_sql.json", "{", Seq(oracles.mkString(",\n"), "}"))

    val docs = Inputs.fingerprint(
      Inputs.docs(spark.read.parquet(s"$tables/documents.parquet")))
    val fps = s"suite\t0\t${docs._1}\t${docs._2}" +: (0 until seeds).map { seed =>
      val (n, sum) = Inputs.fingerprint(
        Inputs.docs(Inputs.corpus(spark, Gate.NBase, Gate.DupPct, seed)))
      s"gate\t$seed\t$n\t$sum"
    }
    Expected.write(dir, "fingerprints.tsv", "workload\tseed\trows\tchecksum", fps)
    spark.stop()
  }
}
