package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Peak live heap at pass boundaries: the old-generation occupancy
  * right after the full collections the benchmark triggers before each
  * pass and after the last one. Collections inside a pass are left
  * out: where they land decides how much in-flight data they catch. */
final class HeapPeak {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  /** Old-generation MB after each collection. */
  val points = ArrayBuffer.empty[Double]

  /** Full collections until the occupancy stops falling (Spark's
    * cleaner frees state only after a collection finds it unreachable),
    * at most five; records the occupancy. */
  def collect(): Unit = oldGen.foreach { p =>
    def gc(): Long = { System.gc(); p.getCollectionUsage.getUsed }
    var last = Long.MaxValue
    var cur = gc()
    var rounds = 1
    while (cur < last && rounds < 5) { last = cur; Thread.sleep(100); cur = gc(); rounds += 1 }
    points += cur / (1024.0 * 1024.0)
  }

  def peakMb: Double = if (points.isEmpty) 0.0 else points.max
}

/** The closed-loop client's bookkeeping: each operation is issued after
  * the previous one returns and is timed from outside. An operation
  * that throws is counted as failed with its exception class and
  * contributes no time. */
final class Client(val tracer: Tracer) {
  var attempted = 0L
  val failures = ArrayBuffer.empty[(String, String)]
  val opMs = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def op[A](kind: String, spanName: String)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(spanName)(body)
      opMs.getOrElseUpdate(kind, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: ${e.getClass.getName}: ${e.getMessage}")
        failures += ((kind, e.getClass.getName))
        None
    }
  }
}

object Clock {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
