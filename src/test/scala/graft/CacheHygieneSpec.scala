package graft

import org.apache.spark.sql.functions._

/** The transient-checkpoint sweep's contract (VERDICT r17 #1):
  * consume-once checkpoint blocks are freed deterministically, memo
  * tables survive, and a caller holding a checkpointed frame across the
  * sweep must pin it — the failure mode is not a recompute but
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (localCheckpoint truncates lineage),
  * which is exactly how Recall's ground-truth frame died in the first
  * r18 artifact run.
  */
class CacheHygieneSpec extends SparkSpec {
  import spark.implicits._

  private def residentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("freeTransient drops consume-once checkpoints but pins memo tables") {
    // a memo entry: d07's cluster table (localCheckpoint, cross-query)
    operators.Dedup.clusterTable(spark, sf).count()
    val memoIds = CacheHygiene.memoCheckpointRddIds
    assert(memoIds.nonEmpty, "cluster memo must hold checkpoint blocks")
    // a consume-once checkpoint, fully drained
    val transient = Tables.documents(spark, sf)
      .select($"doc_id").limit(100).localCheckpoint(true)
    transient.count()
    val freed = CacheHygiene.freeTransient(spark)
    assert(freed >= 1, s"the drained transient must be swept, freed=$freed")
    assert(memoIds.subsetOf(residentIds),
      "memo checkpoint blocks must survive the sweep")
    // the memo is still SERVABLE (not just listed): same frame, no crash
    assert(operators.Dedup.clusterTable(spark, sf).count() > 0)
    // and the sweep is idempotent once nothing transient is resident
    assert(CacheHygiene.freeTransient(spark) == 0)
  }

  test("freeTransient pins Graph's projection and arrays memos too") {
    val (supSize, common) = operators.Graph.projectionTables(spark, sf)
    val arrays = operators.Graph.tradeArraysTable(spark, sf)
    val graphIds = Seq(supSize, common, arrays)
      .flatMap(org.apache.spark.sql.graft.SparkInternals.checkpointRddIds).toSet
    assert(graphIds.size == 3, s"one checkpoint per memo frame: $graphIds")
    assert(graphIds.subsetOf(CacheHygiene.memoCheckpointRddIds))
    val transient = Tables.orders(spark, sf)
      .select($"o_orderkey").limit(100).localCheckpoint(true)
    transient.count()
    assert(CacheHygiene.freeTransient(spark) >= 1)
    assert(graphIds.subsetOf(residentIds),
      "graph memo checkpoint blocks must survive the sweep")
    // servable after the sweep, and still the same entries
    assert(common.count() > 0 && supSize.count() > 0 && arrays.count() > 0)
    assert(operators.Graph.tradeArraysTable(spark, sf) eq arrays)
    assert(operators.Graph.projectionTables(spark, sf)._2 eq common)
  }

  test("a caller-held checkpoint dies under the sweep unless pinned via " +
      "freeTransientKeeping (the Recall ground-truth bug)") {
    val held = Tables.documents(spark, sf)
      .select($"doc_id").limit(50).localCheckpoint(true)
    assert(held.count() == 50)
    CacheHygiene.freeTransientKeeping(spark, Seq(held))
    // pinned: still readable after the sweep
    assert(held.count() == 50, "pinned frame must survive freeTransientKeeping")
    // unpinned: the blocks go, and a truncated-lineage checkpoint cannot
    // recompute — this is why harnesses MUST pin frames they still hold
    CacheHygiene.freeTransient(spark)
    val err = intercept[Exception] { held.count() }
    val msg = Option(err.getMessage).getOrElse("") +
      Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND") ||
      msg.contains("Checkpoint block"),
      s"expected the truncated-lineage failure, got: $msg")
  }
}
