package graft.api

import org.apache.spark.sql.SparkSession

/** The single owner of graft's per-session state: SQL functions, types,
  * views and tables, access control, prepared statements, session
  * properties and the open transaction each live in one [[Slot]] of the
  * SparkSession they were made on. The states sit in a weak map keyed by
  * the session, so they are released with it; slot values therefore must
  * never reference a SparkSession or a DataFrame (that would pin the key).
  *
  * The statement server runs each read on a clone of its session
  * ([[fork]]), the way the reference coordinator builds a Session per
  * request. The fork follows the reference's split between metadata and
  * request context:
  *   - a [[catalog]] slot (views and tables, SQL functions, types, access
  *     control) is copied to the clone, as the coordinator's metadata is
  *     visible to every request;
  *   - a [[request]] slot (prepared statements, session properties, the
  *     open transaction) starts empty in the clone: the client sends it
  *     with every request in X-Presto-* headers.
  * Values are immutable or owned by one session, so the copy shares them.
  */
object SessionScope {

  final class Slot[A] private[SessionScope] (
      private[SessionScope] val empty: A,
      private[SessionScope] val forks: Boolean)

  /** State that a clone inherits from its parent session. */
  def catalog[A](empty: A): Slot[A] = new Slot(empty, forks = true)

  /** State that a clone starts without. */
  def request[A](empty: A): Slot[A] = new Slot(empty, forks = false)

  private val states =
    new java.util.WeakHashMap[SparkSession, Map[Slot[_], Any]]()

  def get[A](spark: SparkSession, slot: Slot[A]): A = states.synchronized {
    val m = states.get(spark)
    if (m == null) slot.empty
    else m.getOrElse(slot, slot.empty).asInstanceOf[A]
  }

  /** Replace the slot's value atomically; an exception thrown by `f`
    * leaves the state unchanged. */
  def update[A](spark: SparkSession, slot: Slot[A])(f: A => A): Unit =
    states.synchronized {
      val m = Option(states.get(spark)).getOrElse(Map.empty[Slot[_], Any])
      states.put(spark, m.updated(slot, f(get(spark, slot))))
    }

  /** Clone `parent` (own conf and temp views, shared SparkContext) and
    * give the clone the parent's catalog slots. */
  def fork(parent: SparkSession): SparkSession = {
    val child = org.apache.spark.sql.graftbridge.SessionBridge.cloneSession(parent)
    states.synchronized {
      val m = states.get(parent)
      if (m != null) states.put(child, m.filter(_._1.forks))
    }
    child
  }
}
