package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded interval. `group` names the query execution, micro-batch
  * or request the span belongs to; `parent` is -1 when the parent is only
  * known by group (resolved when the trace is analysed). Times are epoch
  * milliseconds, so spans taken from Spark's own events line up. */
final case class Span(id: Long, parent: Long, name: String, group: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty)

/** In-memory span recorder. It records only while `recording` is on, in a
  * traced run; otherwise every call is a pass-through, so untraced runs
  * pay nothing but a branch. */
final class Trace(enabled: Boolean) {
  @volatile private var on = false
  /** Record from now on (traced runs only) or stop recording. */
  def recording(b: Boolean): Unit = on = enabled && b
  def active: Boolean = on

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)

  /** Epoch milliseconds with nanosecond resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def nextId(): Long = ids.incrementAndGet()

  /** Run `body` inside a span. The group defaults to the enclosing span's
    * group; the span id is published to Spark jobs started by `body`
    * through the `perfbench.span` local property. */
  def span[T](name: String, group: String = null)(body: => T): T =
    if (!on) body
    else {
      val outer = stack.get()
      val g = Option(group).orElse(outer.headOption.map(_._2)).getOrElse("")
      val id = nextId()
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).map(_.sparkContext)
      val prevProp = sc.map(_.getLocalProperty(Trace.SpanProperty)).orNull
      stack.set((id, g) :: outer)
      sc.foreach(_.setLocalProperty(Trace.SpanProperty, id.toString))
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, outer.headOption.map(_._1).getOrElse(-1L), name, g, t0, nowMs))
        stack.set(outer)
        sc.foreach(_.setLocalProperty(Trace.SpanProperty, prevProp))
      }
    }

  /** Record a span whose interval was measured elsewhere (Spark events). */
  def add(s: Span): Unit = if (on) spans.add(s)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
}

object Trace {
  val SpanProperty = "perfbench.span"
}
