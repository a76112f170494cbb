package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one way graft pins a working frame. Spark's CacheManager holds a
  * persisted frame for the session lifetime, so every frame an operator
  * pins goes through [[persist]], and long-running processes
  * (ConfigConsumer, query loops) call [[release]] between units of work.
  * Releasing is always safe — an unpersisted frame recomputes, results
  * never change. Only frames graft pinned are ever unpinned: a frame the
  * caller persisted stays cached.
  */
object Caches {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persists `df` at the default level and queues it for [[release]]. A
    * frame whose plan is already cached (by the caller, or earlier by
    * graft) is returned as it is and not queued again.
    */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) live.add(df.persist())
    df
  }

  /** Whether graft pinned `df` through [[persist]] and has not released it. */
  def pinned(df: DataFrame): Boolean = live.contains(df)

  /** Early release of one frame: unpins `df` only if graft pinned it
    * through [[persist]]; a frame graft did not pin is left as it is.
    */
  def unpersist(df: DataFrame): Unit =
    if (live.remove(df)) df.unpersist(false)

  def release(): Unit = {
    var df = live.poll()
    while (df != null) { df.unpersist(false); df = live.poll() }
  }
}
