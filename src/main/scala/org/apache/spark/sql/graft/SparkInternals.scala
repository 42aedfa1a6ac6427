package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import scala.util.control.NonFatal

/** Narrow bridge to `private[spark]` surfaces (this package lives under
  * org.apache.spark for exactly this reason — same pattern as the
  * Catalyst expressions in this directory).
  */
object SparkInternals {

  /** Block until the async listener bus has delivered all queued events
    * (or the timeout elapses). Bench uses this so per-query stage-metric
    * deltas are attributed to the query that produced them — a fixed
    * sleep can under-wait on a backlogged bus.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Free the block-manager blocks behind a `localCheckpoint`ed frame.
    * `Dataset.localCheckpoint` wraps the materialized RDD in a
    * `LogicalRDD`; those blocks are otherwise released only when the
    * ContextCleaner GCs the RDD reference — which a long-lived memo
    * (the `graft.CacheHygiene.memo` registry) defeats by design. The
    * registry calls this on a replaced entry so a dir-fingerprint refresh
    * doesn't strand the old corpus's blocks.
    */
  def releaseCheckpointBlocks(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        try l.rdd.unpersist(blocking = false)
        catch { case NonFatal(_) => () } // context already stopped
      case _ => ()
    }

  /** RDD ids of every `LogicalRDD` (= localCheckpoint materialization) in
    * a frame's analyzed plan — how the memo registry declares which
    * checkpoint blocks are PINNED (meant to outlive the query that built
    * them) to [[freeTransientCheckpoints]].
    */
  def checkpointRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }

  /** Unpersist every block-manager-resident RDD EXCEPT the pinned set
    * (VERDICT r17 #1): a consume-once operator result that was
    * `localCheckpoint`ed (d11b/d12's pair verdicts, g01's intermediate
    * iteration frames, d02c's pair set, …) keeps its blocks until the
    * ContextCleaner GCs the RDD reference — which on a 24 g driver heap
    * can be NEVER during a bench suite, so each rep of each such query
    * stacks another generation of dead blocks and later suite neighbors
    * time eviction churn instead of their own work. Harness-side hygiene
    * for the points where nothing is in flight (between bench reps /
    * verify queries): free everything the memo registry did not pin.
    * NOT for sessions with concurrent workloads — a co-resident stream's
    * mid-batch persists would be swept too.
    */
  def freeTransientCheckpoints(spark: org.apache.spark.sql.SparkSession,
      pinned: Set[Int]): Int = {
    val stale = spark.sparkContext.getPersistentRDDs.valuesIterator
      .filterNot(r => pinned.contains(r.id)).toList
    // blocking: an async unpersist of multi-GB checkpoint generations
    // drains CONCURRENTLY with the next measured query (the sf10 A/B
    // read d12 3× slower from d11b's eviction backwash); a blocking free
    // lands the removal cost between reps, where nothing is being timed.
    stale.foreach(r =>
      try r.unpersist(blocking = true)
      catch { case NonFatal(_) => () })
    stale.size
  }

  /** True when the session's CacheManager holds no persisted frames —
    * the post-query hygiene assertion operators with internal persists
    * are specced against (VERDICT r14 #3).
    */
  def cacheIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.sharedState.cacheManager.isEmpty
}
