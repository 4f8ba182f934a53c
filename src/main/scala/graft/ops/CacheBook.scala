package graft.ops

/** The benchmark harness's hook for cached frames a query leaves behind,
  * which it reports as `cache.persisted_frames`. No query builder persists
  * a subplan — a subtree with two consumers is shared, where Spark can,
  * by exchange reuse inside the plan — so `drain()` always returns 0. It
  * goes together with the harness's call. */
object CacheBook {
  def drain(): Int = 0
}
