package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

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
  * blinds the plan gate: `graft.Plans` explains the RETURNED frame. Inside
  * [[planned]] (used only by the Plans main and by specs that walk a real
  * plan) the checkpoint is a pass-through and every kept frame stays
  * cached until the block ends, so the plan shows the full physical tree
  * that actually executes to PRODUCE the checkpoint, reading each kept
  * frame through one cached relation as the runtime does; outside the
  * block behavior is unchanged.
  */
object SelfClean {

  /** The frames kept by scopes inside the running [[planned]] block,
    * released when it ends; `None` outside one.
    */
  @volatile private var plannedKeeps: Option[ArrayBuffer[DataFrame]] = None

  /** Runs `body` in plan mode: checkpoints pass their input through and
    * each scope's kept frames stay cached until `body` returns or throws,
    * so a plan built inside `body` reads them as cached relations. Build
    * plans here; do not run for results — a frame built inside reads
    * caches that are released on exit. A nested call joins the outer
    * block.
    */
  def planned[A](body: => A): A =
    if (plannedKeeps.isDefined) body
    else {
      val keeps = ArrayBuffer.empty[DataFrame]
      plannedKeeps = Some(keeps)
      try body
      finally {
        plannedKeeps = None
        keeps.synchronized(keeps.foreach(_.unpersist()))
      }
    }

  /** `df.localCheckpoint(eager)` at runtime; `df` itself in [[planned]]. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    if (plannedKeeps.isDefined) df else df.localCheckpoint(eager)

  /** Runs `body` with `keep`, which persists a frame `body` reads more
    * than once; everything kept is unpersisted when `body` returns or
    * throws (when the enclosing [[planned]] block ends, inside one).
    * `body`'s result must not read a kept frame lazily: checkpoint it
    * first (see [[releasing]]).
    */
  def scope[A](body: (DataFrame => DataFrame) => A): A = {
    val kept = ArrayBuffer.empty[DataFrame]
    val block = plannedKeeps
    try body { df =>
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      kept += cached
      cached
    } finally block match {
      case Some(keeps) => keeps.synchronized(keeps ++= kept)
      case None => kept.foreach(_.unpersist())
    }
  }

  /** One cache, one checkpointed result: `body` reads `cache` persisted,
    * its bounded result is checkpointed, and the cache is released
    * before returning.
    */
  def releasing(cache: DataFrame)(body: DataFrame => DataFrame): DataFrame =
    scope(keep => checkpoint(body(keep(cache))))
}
