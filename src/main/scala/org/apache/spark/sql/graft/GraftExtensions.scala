package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.classic.ExpressionUtils

/** SQL surface for graft's custom expressions.
  *
  * Use either:
  *  - `SparkSession.builder().withExtensions(new GraftExtensions)` (config
  *    `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`), or
  *  - `GraftExtensions.register(spark)` on a live session.
  *
  * Then e.g. `SELECT graft_simhash64(split(text, ' ')) FROM docs`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, (info, builder)) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  import GraftFunctions._

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  private def c(e: Expression): Column = ExpressionUtils.column(e)

  /** `name`, built by its [[GraftFunctions]] entry over the SQL arguments. */
  private def fn(name: String)(build: Seq[Expression] => Column)
      : (String, (ExpressionInfo, Seq[Expression] => Expression)) =
    name -> ((new ExpressionInfo(classOf[KernelCall].getName, name),
      (args: Seq[Expression]) => ExpressionUtils.expression(build(args))))

  val builders: Map[String, (ExpressionInfo, Seq[Expression] => Expression)] = Map(
    fn("graft_dot_product")(a => dot_product(c(a(0)), c(a(1)))),
    fn("graft_minhash_sig")(a =>
      minhash_sig(c(a(0)), if (a.size > 1) intArg(a(1), "k") else 64)),
    fn("graft_simhash64")(a => simhash64(c(a(0)))),
    fn("graft_hyperplane_sig")(a =>
      hyperplane_sig(c(a(0)), intArg(a(1), "planes"))),
    // nprobe is REQUIRED: the Scala callers use different values (s02b 8,
    // d11b 3), so a silent SQL default would quietly under-probe.
    fn("graft_hyperplane_probes") { a =>
      if (a.size < 3) throw new IllegalArgumentException(
        "graft_hyperplane_probes(v, planes, nprobe) requires all three arguments")
      hyperplane_probes(c(a(0)), intArg(a(1), "planes"), intArg(a(2), "nprobe"))
    },
    fn("graft_word_shingles")(a =>
      word_shingles(c(a(0)), if (a.size > 1) intArg(a(1), "n") else 3)),
    fn("graft_winnow_fingerprints")(a =>
      winnow_fingerprints(c(a(0)), if (a.size > 1) intArg(a(1), "window") else 4)),
    fn("graft_word_shingle_hashes")(a =>
      word_shingle_hashes(c(a(0)), if (a.size > 1) intArg(a(1), "n") else 3)),
    fn("graft_minhash_sig_from_hashes")(a =>
      minhash_sig_from_hashes(c(a(0)), if (a.size > 1) intArg(a(1), "k") else 64)),
    fn("graft_sorted_intersection_size")(a =>
      sorted_intersection_size(c(a(0)), c(a(1)))),
    fn("graft_collapse_adjacent_repeats")(a =>
      collapse_adjacent_repeats(c(a(0)))))

  /** Register all graft functions into an existing session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, (_, builder)) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
