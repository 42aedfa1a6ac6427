package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The self-cleaning operators' checkpoint, made plan-auditable
  * (VERDICT r17 #2).
  *
  * Operators with corpus-sized internal caches materialize their bounded
  * result via `localCheckpoint` so they can free those caches before
  * returning: the minhash, semantic, span-dedup and graph pair stages,
  * and p02's packer. Correct at runtime, but it blinds the plan gate:
  * `graft.Plans` explains the RETURNED frame, and a checkpointed frame's plan
  * is a single `Scan ExistingRDD` node — PLANS_r17.md could no longer
  * see d11b's multiprobe pipeline at all. In plan mode ([[planMode]],
  * set only by the Plans main) the checkpoint is a pass-through, so the
  * dump shows the full physical tree that actually executes to PRODUCE
  * the checkpoint; at runtime behavior is byte-identical to before.
  */
object SelfClean {

  /** Plan-dump mode: checkpoints become pass-throughs so explain sees
    * the real pipeline. Never set outside `graft.Plans` — with the flag
    * on, operators return lazy frames whose internal caches were already
    * released, so EXECUTING them would recompute (fine for explain,
    * wrong for results).
    */
  @volatile var planMode: Boolean = false

  /** `df.localCheckpoint(eager)` at runtime; `df` itself in plan mode. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    if (planMode) df else df.localCheckpoint(eager)

  /** The self-cleaning lifecycle in one place: `cache` is persisted
    * (spilling to disk) because `body` reads it more than once, `body`'s
    * bounded result is checkpointed, and the cache is released before
    * returning, so nothing outlives the call.
    */
  def releasing(cache: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val cached = cache.persist(StorageLevel.MEMORY_AND_DISK)
    val out = checkpoint(body(cached))
    cached.unpersist()
    out
  }
}
