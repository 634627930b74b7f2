package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** Stage metrics of one job group (one span): bytes moved per
  * exchange, spill, task count and the task-time distribution. */
final class GroupMetrics {
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L // bytes spilled to disk
  var gcMs = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var inputRecords = 0L
  val stages = scala.collection.mutable.Set.empty[(Int, Int)]
  val taskMs = ArrayBuffer.empty[Long]
}

/** The benchmark's one SparkListener: attributes every finished task to
  * the job group its stage was submitted under (the span id the
  * [[Tracer]] set). Tasks of stages submitted outside any span land in
  * the group "". Listener events arrive asynchronously — call
  * [[drain]] before reading. */
final class StageListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupMetrics]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    stageGroup.put(e.stageInfo.stageId, g.getOrElse(""))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = groups.computeIfAbsent(stageGroup.getOrDefault(e.stageId, ""), _ => new GroupMetrics)
    g.synchronized {
      g.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.spillBytes += m.diskBytesSpilled
      g.gcMs += m.jvmGCTime
      g.tasks += 1
      g.executorCpuNs += m.executorCpuTime
      g.inputRecords += m.inputMetrics.recordsRead
      g.stages += ((e.stageId, e.stageAttemptId))
      g.taskMs += e.taskInfo.duration
    }
  }

  def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(sc)

  def snapshot: Map[String, GroupMetrics] = {
    import scala.jdk.CollectionConverters._
    groups.asScala.toMap
  }
}
