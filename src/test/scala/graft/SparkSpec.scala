package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — same configs as Verify/Bench. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftExtensions.register(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Every node of a physical plan, descending into AQE's current plan,
    * each query stage's plan and each cached relation's plan, the last
    * once however often the plan reads it. A bare `collect` stops at
    * those leaves, so a walk that looks for a scan or a kernel under a
    * cache would pass or fail vacuously.
    */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.Set.empty[SparkPlan]
    def walk(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case m: InMemoryTableScanExec =>
        val cached = m.relation.cachedPlan
        m +: (if (seen.exists(_ eq cached)) Nil else { seen += cached; walk(cached) })
      case n => Seq(n)
    }.flatten
    walk(plan)
  }
}
