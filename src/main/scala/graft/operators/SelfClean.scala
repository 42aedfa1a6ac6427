package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one place graft persists a frame, and its checkpoint, made
  * plan-auditable (VERDICT r17 #2).
  *
  * Every persist lives in a [[scope]]: `keep(df)` persists `df`
  * (spilling to disk) and the scope's `finally` releases it, on return
  * and on exception. So a cache is freed by the code that made it — a
  * failed streaming trigger does not leak its batch, and no caller has
  * to `clearCache()` after an operator. An operator whose result is lazy
  * and still reads its caches returns it through [[releasing]] (or a
  * scope ending in [[checkpoint]]): the bounded result is materialized
  * via `localCheckpoint` before the caches go.
  *
  * A checkpointed frame's plan is a single `Scan ExistingRDD` node, which
  * blinds the plan gate: `graft.Plans` explains the RETURNED frame. In
  * plan mode ([[planMode]], set only by the Plans main and by specs that
  * walk a real plan) the checkpoint is a pass-through, so the dump shows
  * the full physical tree that actually executes to PRODUCE the
  * checkpoint; at runtime behavior is byte-identical.
  */
object SelfClean {

  /** Plan-dump mode: checkpoints become pass-throughs so explain sees
    * the real pipeline. Never set outside `graft.Plans` and plan-walking
    * specs — with the flag on, operators return lazy frames whose
    * internal caches were already released, so EXECUTING them would
    * recompute (fine for explain, wrong for results).
    */
  @volatile var planMode: Boolean = false

  /** `df.localCheckpoint(eager)` at runtime; `df` itself in plan mode. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    if (planMode) df else df.localCheckpoint(eager)

  /** Runs `body` with `keep`, which persists a frame `body` reads more
    * than once; everything kept is unpersisted when `body` returns or
    * throws. `body`'s result must not read a kept frame lazily:
    * checkpoint it first (see [[releasing]]).
    */
  def scope[A](body: (DataFrame => DataFrame) => A): A = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df =>
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      kept += cached
      cached
    } finally kept.foreach(_.unpersist())
  }

  /** One cache, one checkpointed result: `body` reads `cache` persisted,
    * its bounded result is checkpointed, and the cache is released
    * before returning.
    */
  def releasing(cache: DataFrame)(body: DataFrame => DataFrame): DataFrame =
    scope(keep => checkpoint(body(keep(cache))))
}
