package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext

/** One recorded span. `gcMs` is the JVM-wide collector time that
  * elapsed inside the span (local mode: driver and executors share the
  * JVM, so this is the run's whole GC cost over the span). */
final case class SpanRec(traceId: String, spanId: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, gcMs: Long)

/** In-memory span recorder for the traced run. Spans nest by call
  * structure on the client thread; each span sets the thread's job
  * group to its id, so [[StageListener]] can attach stage metrics to
  * the innermost enclosing span. While off, a span is just the body —
  * an untraced pass pays one branch. */
final class Tracer(traceId: String) {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[SpanRec]
  private val stack = new java.util.ArrayDeque[Int]()
  private var nextId = 0
  private var sc: Option[SparkContext] = None
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Spans opened after this call tag their Spark jobs. */
  def attach(ctx: SparkContext): Unit = sc = Some(ctx)
  def detach(): Unit = sc = None

  private def gcMsNow(): Long = gcBeans.iterator.map(b => math.max(0L, b.getCollectionTime)).sum

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = if (stack.isEmpty) -1 else stack.peek()
      stack.push(id)
      sc.foreach(_.setJobGroup(id.toString, name, interruptOnCancel = false))
      val gc0 = gcMsNow()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val gc1 = gcMsNow()
        stack.pop()
        sc.foreach { c =>
          if (stack.isEmpty) c.clearJobGroup()
          else c.setJobGroup(stack.peek().toString, "", interruptOnCancel = false)
        }
        spans += SpanRec(traceId, id, parent, name, t0, t1, gc1 - gc0)
      }
    }

  def recorded: Seq[SpanRec] = spans.toSeq
}
