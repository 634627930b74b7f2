package graft.perfbench

import scala.collection.mutable
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (one workload, one seed). Writes
  * the run's raw record — timings, operation latencies, failures,
  * correctness counts and, traced, spans with their stage metrics — as
  * JSON to `--out`; `perfbench/run.py` turns it into metrics.
  *
  *   BenchMain --workload W --seed N --seconds S --trace 0|1
  *             --cores C --work DIR --out FILE [--data DIR --queries Q1,Q2,…]
  */
object BenchMain {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, nproc: Int, work: String, data: String, queries: Seq[String], out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val nproc = Runtime.getRuntime.availableProcessors
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      math.min(need("cores").toInt, nproc), nproc, need("work"), m.getOrElse("data", ""),
      m.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty), need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ctx = new Ctx(a)
    val w: Workload = a.workload match {
      case "extract_mix" => new ExtractMix(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try ctx.tracer.span(s"workload.${a.workload}")(w.run())
    finally ctx.stop()
    val rec = ctx.rec
    rec("workload") = a.workload
    rec("seed") = a.seed
    rec("cores") = a.cores
    rec("nproc") = a.nproc
    rec("traced") = a.trace
    rec("attempted") = ctx.client.attempted
    rec("failures") = ctx.client.failures.map { case (k, c) => Map("op" -> k, "class" -> c) }
    rec("op_ms") = ctx.client.opMs
    rec("heap_peak_mb") = ctx.heap.peakMb
    rec("heap_points_mb") = ctx.heap.points.toSeq
    if (a.trace) {
      rec("spans") = ctx.tracer.recorded.map(s => Map("trace_id" -> s.traceId,
        "span_id" -> s.spanId, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "gc_ms" -> s.gcMs))
      rec("groups") = ctx.listener.snapshot.map { case (g, m) => g -> Map(
        "shuffle_read_bytes" -> m.shuffleReadBytes, "shuffle_write_bytes" -> m.shuffleWriteBytes,
        "spill_bytes" -> m.spillBytes, "task_gc_ms" -> m.gcMs, "tasks" -> m.tasks,
        "stages" -> m.stages.size, "executor_cpu_ns" -> m.executorCpuNs,
        "input_records" -> m.inputRecords, "task_ms" -> m.taskMs.toSeq) }
    }
    JsonMapper.builder().addModule(DefaultScalaModule)
      .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()
      .writeValue(new java.io.File(a.out), rec)
  }
}

/** What a workload runs against: the arguments, the session, the
  * tracer, the listener, the client and the raw record. */
final class Ctx(val args: BenchMain.Args) {
  val tracer = new Tracer(s"${args.workload}-${args.seed}")
  tracer.on = args.trace
  val listener = new StageListener
  val client = new Client(tracer)
  val heap = new HeapPeak
  val rec = mutable.LinkedHashMap.empty[String, Any]
  private var session: Option[SparkSession] = None
  private var listening = false

  def spark: SparkSession = session.get

  /** Builds the engine's session at `cores` (stopping any other). */
  def build(cores: Int): SparkSession = {
    stop()
    val s = graft.pipeline.GraftSession.build(cores, "perfbench")
    session = Some(s)
    tracer.attach(s.sparkContext)
    listening = false
    setTracing(args.trace)
    s
  }

  /** Switches span recording and stage-metric collection together, so a
    * traced run can interleave untraced passes to price the tracing. */
  def setTracing(on: Boolean): Unit = {
    tracer.on = on
    session.foreach { s =>
      if (on && !listening) s.sparkContext.addSparkListener(listener)
      if (!on && listening) {
        listener.drain(s.sparkContext) // a traced pass's last task ends may still be queued
        s.sparkContext.removeSparkListener(listener)
      }
    }
    listening = on
  }

  def drain(): Unit = session.foreach(s => listener.drain(s.sparkContext))

  def stop(): Unit = session.foreach { s =>
    if (listening) listener.drain(s.sparkContext)
    tracer.detach(); s.stop(); session = None
  }

  /** Runs timed passes until the measuring window closes (at least
    * `minPasses`), a full collection before each. A traced run
    * alternates untraced and traced passes, starting untraced, so the
    * pass times of both kinds straddle the same JIT drift. Records each
    * successful pass's wall time and whether it was traced. */
  def passes(minPasses: Int)(pass: Int => Boolean): Unit = {
    val end = System.nanoTime() + (args.seconds * 1e9).toLong
    val secs = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Boolean]
    var k = 0
    while (System.nanoTime() < end || k < minPasses) {
      val on = args.trace && k % 2 == 1
      setTracing(on)
      heap.collect()
      val t0 = System.nanoTime()
      if (tracer.span("pass")(pass(k))) { secs += (System.nanoTime() - t0) / 1e9; traced += on }
      k += 1
    }
    heap.collect()
    setTracing(args.trace)
    rec("pass_s") = secs
    rec("pass_traced") = traced
  }
}

trait Workload { def run(): Unit }
