package graft.ops

import org.apache.spark.sql.DataFrame

/** Registry for persisted intermediate frames. Query builders that cache
  * a shared subplan (the reference's REMOTE_MATERIALIZED / CTE
  * materialization points — 10 TPC-DS queries plus the CTE-reuse gate)
  * register here instead of calling bare persist(); the consumer
  * (Verify, the benchmark, any long-lived host such as the statement server)
  * calls `drain()` after it has consumed the query's result. Without
  * this, a 99-query suite in one long-lived session accumulates every
  * query's cached aggregates until LRU eviction starts thrashing the
  * storage pool.
  *
  * drain() only touches frames registered since the previous drain, so a
  * host application's own caches are never unpersisted from under it. */
object CacheBook {

  private val live =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** persist() the frame and register it for the next drain(). */
  def persisted(df: DataFrame): DataFrame = {
    val p = df.persist()
    live.add(p)
    p
  }

  /** Unpersist every frame registered since the last drain; returns how
    * many were released. Non-blocking (the executors free the blocks
    * asynchronously). */
  def drain(): Int = {
    var n = 0
    var d = live.poll()
    while (d != null) {
      try d.unpersist(false) catch { case _: Throwable => () }
      n += 1
      d = live.poll()
    }
    n
  }

  private[graft] def size: Int = live.size()
}
