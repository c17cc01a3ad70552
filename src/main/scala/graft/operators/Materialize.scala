package graft.operators

import graft.api.Df
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of operator intermediates: the only code that persists,
  * barriers, checkpoints and attaches the frames an operator builds
  * its result from. Every operator body that needs one runs as
  * `Materialize.scope { s => … }`.
  *
  * Cache-lifetime contract (the reference keeps every intermediate in
  * one dict its scheduler owns, `_schedule.py:103-113`):
  *  - HELD: every frame the scope persisted ([[Scope.persist]],
  *    [[Scope.barrier]]) or checkpointed ([[Scope.checkpoint]]) and
  *    did not [[Scope.release]]. A held frame enters the JVM-wide
  *    registry the moment it is persisted, so [[Df.releaseRetained]]
  *    reaches it whatever happens afterwards.
  *  - ATTACHED: when the body returns a [[Df]], the frames still held
  *    are attached to it. Whoever runs the terminal action releases
  *    them with [[Df.unpersistIntermediates]] (frames derived through
  *    `Df` combinators inherit the attachment), or drains every
  *    operator intermediate in the JVM with [[Df.releaseRetained]].
  *    A body that returns a bare `DataFrame` leaves its held frames in
  *    the registry only.
  *  - RELEASE ON FAILURE: when the body throws, every frame still held
  *    is released (storage-aware, [[Df.unpersistAny]]) and the error is
  *    rethrown — a job that fails at construction strands nothing.
  *
  * Barriers. `persist()` alone is lazy: when the FIRST action's plan
  * references the persisted frame from several sibling subtrees
  * (self-join sides, verification lookups), AQE materializes those
  * query stages CONCURRENTLY, and every one of them computes the full
  * upstream pipeline — the cache is being written n times in parallel,
  * not read (measured r21, q107: the shingle+hash pass ran 4×
  * concurrently, 31 task-seconds on 0.2 MB of input; the BlockManager's
  * "block already exists; not re-adding" warning is this exact race).
  * One cheap count() between persist() and the consumers turns n
  * concurrent computations into one computation + n cache reads — at
  * any scale, including a cluster, where the n-fold pass would be n
  * full passes over the corpus. The count materializes EVERY persisted
  * frame in its lineage in the same job, so one barrier on the
  * downstream-most frame of a persisted chain suffices. The job is part
  * of the caller's query cost (operators run it at construction, inside
  * any timing of the query). Deferring the barriers to the terminal
  * action (ROADMAP Direction 2) would change this one site.
  */
private[graft] object Materialize {
  /** the storage level of every operator intermediate */
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** The frames one operator body holds; see the object scaladoc. */
  final class Scope private[Materialize] () {
    private var held = List.empty[DataFrame] // newest first

    private def hold(f: DataFrame): DataFrame = {
      held = f :: held
      Df.retainedRegistry.add(f)
      f
    }

    /** Persist `df` lazily and hold it. */
    def persist(df: DataFrame): DataFrame = hold(df.persist(Level))

    /** Persist `df` and run one counting job, so its blocks — and those
      * of any persisted frame upstream of it — exist before sibling
      * consumers plan against them. */
    def barrier(df: DataFrame): DataFrame = {
      val p = persist(df)
      p.count()
      p
    }

    /** Eager `localCheckpoint` of `df`, held before its materializing
      * job runs: Spark persists the checkpoint's RDD first and, when an
      * eager checkpoint's job throws, drops the only handle to it. The
      * job is the one the eager form runs. Releasing a checkpoint is
      * terminal: it has no lineage to recompute from. */
    def checkpoint(df: DataFrame): DataFrame = {
      val c = hold(df.localCheckpoint(eager = false))
      c.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.count()
      c
    }

    /** Release a held frame early (a superseded loop round or layout). */
    def release(df: DataFrame): Unit = {
      held = held.filterNot(_ eq df)
      Df.retainedRegistry.remove(df)
      Df.unpersistAny(df)
    }

    private[Materialize] def releaseAll(cause: Throwable): Unit =
      held.foreach { f =>
        try release(f) catch { case t: Throwable => cause.addSuppressed(t) }
      }

    /** still-held frames, in the order they were persisted */
    private[Materialize] def frames: List[DataFrame] = held.reverse
  }

  /** Run one operator body over a fresh [[Scope]]: attach what it still
    * holds to a returned [[Df]], or release it all if the body throws.
    * The body must not `return` from the enclosing method: a non-local
    * return leaves by exception, so its frames would be released. */
  def scope[R](body: Scope => R): R = {
    val s = new Scope
    val r = try body(s) catch { case t: Throwable => s.releaseAll(t); throw t }
    r match {
      case d: Df => d.retaining(s.frames: _*)
      case _ => ()
    }
    r
  }
}
