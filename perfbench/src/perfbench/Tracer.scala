package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** In-memory span recorder. A span is (id, parent, name, request, start,
  * end) in nanoseconds of one monotonic clock; spans are written out only
  * when the run ends. With tracing off, `span` runs its body and records
  * nothing, so the untraced run pays one boolean test per layer call. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String,
      request: String, startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = ThreadLocal.withInitial[String](() => "")

  /** Offset that maps epoch milliseconds onto the span clock, for phases
    * Spark reports in wall time (QueryPlanningTracker). */
  val epochToNanoOffset: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  def withRequest[A](req: String)(f: => A): A = {
    val prev = request.get
    request.set(req)
    try f finally request.set(prev)
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        done.add(Span(id, parent, name, request.get, t0, t1))
      }
    }

  /** Record a span measured elsewhere as a child of span `parent`. */
  def record(name: String, startNs: Long, endNs: Long, parent: Long): Unit =
    if (enabled)
      done.add(Span(ids.incrementAndGet(), parent, name, request.get,
        startNs, endNs))

  /** Id of the innermost open span on this thread (0 at the root). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  def spans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq.sortBy(_.id)
  }
}
