package readbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** A span recorded by the benchmark around one call into a layer. Times are
  * nanoseconds on one clock ([[Tracer.nowNs]]); parent 0 marks a root. */
final case class Span(id: Long, parent: Long, stmt: String, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder, off unless a traced phase turns it on. Spans
  * nest per thread; they are written out once, when the run ends. */
object Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)

  /** Wall-clock anchor, so engine timestamps in epoch millis (the
    * QueryPlanningTracker's phases) land on the same nanosecond clock. */
  private val anchorNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + anchorNs
  def epochMsToNs(ms: Long): Long = ms * 1000000L

  /** Open a root span for statement `stmt` on this thread. */
  def statement[A](stmt: String, name: String)(f: => A): A = {
    if (!enabled) return f
    val saved = stack.get
    stack.set(Nil)
    try span(name, stmt)(f) finally stack.set(saved)
  }

  /** A span under the thread's open statement; outside any statement (an
    * untraced statement of a traced phase) nothing is recorded. */
  def span[A](name: String, stmt: String = null)(f: => A): A = {
    if (!enabled || (stmt == null && stack.get.isEmpty)) return f
    val (parent, sid) = stack.get.headOption.getOrElse((0L, stmt))
    val id = ids.incrementAndGet()
    stack.set((id, Option(stmt).getOrElse(sid)) :: stack.get)
    val t0 = nowNs
    try f
    finally {
      val t1 = nowNs
      stack.set(stack.get.tail)
      spans.add(Span(id, parent, Option(stmt).getOrElse(sid), name, t0, t1))
    }
  }

  /** The innermost open span on this thread (0 when none). */
  def current: Long = stack.get.headOption.map(_._1).getOrElse(0L)

  /** Record a span measured elsewhere (engine phase timestamps). */
  def record(name: String, parent: Long, stmt: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, stmt, name, startNs, endNs))

  def drain(): Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}
