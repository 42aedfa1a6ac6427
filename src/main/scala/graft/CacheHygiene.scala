package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Checkpoint lifecycle in one place: the memo registry for the
  * build-once tables, and the sweep that frees everything else.
  *
  * '''Memo registry.''' A few tables are built once per corpus and read
  * by several queries — the "write once, query many times" layout,
  * expressed in-session: Dedup's cluster table (d07, d09) and Graph's
  * customer arrays and one-mode projection (g02, g02b, g03). Each is a
  * `localCheckpoint` (block-manager RDD blocks, not catalog cache).
  * [[memo]] keeps them, keyed by (session, dir, key):
  *   - an entry is served while `Tables.dirFingerprint` over the tables
  *     it was built from is unchanged (one filesystem listing per
  *     lookup, no data read); a dir rewritten in place rebuilds it, and
  *     the replaced entry's checkpoint blocks are released at once (the
  *     registry holds strong references, so the ContextCleaner never
  *     would);
  *   - entries of a stopped SparkContext are evicted (their blocks died
  *     with it; in a multi-session JVM the keys would otherwise pile up);
  *   - lookups and builds are counted, so a harness can tell a query
  *     that timed a memo hit from one that did the work ([[memoCounts]]).
  * The registry is a `synchronized` plain map: a build may look up
  * another entry (the projection is built from the arrays), which a
  * monitor allows and `ConcurrentHashMap.compute` does not, and one
  * lock keeps one build per key.
  *
  * '''Transient sweep (VERDICT r17 #1).''' Several operators return a
  * `localCheckpoint`ed frame by design — the self-cleaning contract
  * materializes a bounded verdict so the operator can free its own
  * corpus-sized caches before returning (d11b/d12, d02c, d19/d19b,
  * g02b, …) — and some keep INTERMEDIATE checkpoints that never appear
  * in the returned plan at all (g01's per-iteration rank frames). Those
  * blocks are freed only when the ContextCleaner GCs the RDD reference,
  * and on a large driver heap a full bench suite can finish before a
  * single major GC: each rep of each such query stacks another
  * generation of dead blocks, and later suite neighbors time
  * block-manager eviction churn instead of their own work — the r17
  * artifact's unattributed >2× min-of-reps inflation on d16/d17/s02/s03
  * (sf10) and q33/q34 (sf1), reproduced and cleared by the
  * REGRESSION_AB_r18 A/B.
  *
  * [[freeTransient]] unpersists every block-manager-resident RDD except
  * the registry's entries. Call it where nothing is in flight: between
  * bench reps, between verify queries, after a consume-once result has
  * been fully drained. Do NOT call it in a session with a concurrent
  * workload (a streaming gate mid-batch) — its in-flight persists would
  * be swept too; the gates free their own frames instead.
  */
object CacheHygiene {
  private val si = org.apache.spark.sql.graft.SparkInternals

  private final case class Entry(fingerprint: String, frames: Seq[DataFrame])
  private val memos =
    scala.collection.mutable.HashMap.empty[(SparkSession, String, String), Entry]
  private var lookups = 0L
  private var builds = 0L

  /** The memoized frames for (session, dir, key), built by `build` when
    * absent or when the fingerprint of `tables` under `dir` changed.
    * `build` must return localCheckpointed frames (their blocks are what
    * the sweep pins and a replacement releases).
    */
  private[graft] def memo(s: SparkSession, dir: String, key: String,
      tables: Seq[String])(build: => Seq[DataFrame]): Seq[DataFrame] =
    synchronized {
      lookups += 1
      memos.filterInPlace { case ((ss, _, _), _) => !ss.sparkContext.isStopped }
      val k = (s, dir, key)
      val fp = Tables.dirFingerprint(s, dir, tables)
      memos.get(k) match {
        case Some(e) if e.fingerprint == fp => e.frames
        case old =>
          memos.remove(k)
          old.foreach(_.frames.foreach(si.releaseCheckpointBlocks))
          builds += 1
          val frames = build
          memos(k) = Entry(fp, frames)
          frames
      }
    }

  /** (lookups, builds) since the JVM started, over every entry. A query
    * whose runs looked up more than they built timed a memo hit.
    */
  private[graft] def memoCounts: (Long, Long) = synchronized((lookups, builds))

  /** Drop every entry and release its checkpoint blocks (tests; stale
    * entries are otherwise replaced when their fingerprint changes).
    */
  private[graft] def clearMemos(): Unit = synchronized {
    memos.valuesIterator.flatMap(_.frames).foreach(si.releaseCheckpointBlocks)
    memos.clear()
  }

  /** Checkpoint-block RDD ids of the live entries — the set the sweep
    * pins.
    */
  private[graft] def memoCheckpointRddIds: Set[Int] = synchronized {
    memos.valuesIterator.flatMap(_.frames).flatMap(si.checkpointRddIds).toSet
  }

  /** Unpersist all non-memo-pinned persistent RDDs; returns how many
    * were freed (0 = nothing was resident — the hygiene assertion).
    * The frees block, so eviction IO cannot backwash into whatever runs
    * next (the A/B showed async frees slowing the NEXT query 3×).
    */
  def freeTransient(spark: SparkSession): Int = freeTransientKeeping(spark, Nil)

  /** [[freeTransient]] with extra caller-held frames pinned: a harness
    * that keeps a checkpointed frame alive ACROSS sweeps (Recall's
    * ground-truth top-k, scored against every ANN method in turn) must
    * pin it or the sweep unpersists it — and a localCheckpoint's lineage
    * is truncated, so the next read is CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND,
    * not a recompute.
    */
  def freeTransientKeeping(spark: SparkSession, keep: Seq[DataFrame]): Int =
    si.freeTransientCheckpoints(spark,
      memoCheckpointRddIds ++ keep.flatMap(si.checkpointRddIds))
}
