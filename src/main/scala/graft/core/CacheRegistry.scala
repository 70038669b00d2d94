package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Registry for DataFrames persisted *inside* lazily-returned
  * operator plans (QuickPressure level sets, mask and grid tables, LSH
  * signature tables). The operator cannot unpersist them —
  * the caller has not run its action yet — so without a release point
  * a long-lived session accumulates cached blocks across repeated
  * operator invocations.
  *
  * Operators call [[persist]] instead of `ds.persist(...)`; a service
  * (or a bench harness between queries) calls [[releaseAll]] after it
  * has materialized the results it needs. References are held strongly
  * until released, so release is deterministic, not GC-dependent.
  */
object CacheRegistry {

  private val registered =
    scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  def persist[T](ds: Dataset[T],
                 level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : Dataset[T] = synchronized {
    ds.persist(level)
    registered += ds
    ds
  }

  /** Unpersist every registered frame (non-blocking) and drop the
    * references. Safe to call at any materialization boundary; plans
    * that re-execute afterwards simply recompute.
    */
  def releaseAll(): Unit = synchronized {
    // best-effort: a frame may belong to a session that has since
    // been stopped (one service winding down while another starts) —
    // unpersisting it then throws from the dead context's RPC layer,
    // and a release point must never propagate that
    registered.foreach { ds =>
      try {
        if (!ds.sparkSession.sparkContext.isStopped)
          ds.unpersist(false)
      } catch { case _: Throwable => () }
    }
    registered.clear()
  }

  /** Number of currently-registered (unreleased) frames. */
  def size: Int = synchronized(registered.size)
}
