package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Cumulative Spark engine counters; differences between two snapshots
  * give the work done in between. `skews` holds one max/median task-time
  * ratio per completed stage with at least two tasks. */
final case class EngineCounts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, schedDelayMs: Long = 0, shuffleWrite: Long = 0,
    shuffleRead: Long = 0, spill: Long = 0, scanBytes: Long = 0,
    scanRows: Long = 0, writeBytes: Long = 0, skews: Vector[Double] = Vector.empty) {
  def -(o: EngineCounts): EngineCounts = EngineCounts(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskMs - o.taskMs,
    schedDelayMs - o.schedDelayMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, scanBytes - o.scanBytes,
    scanRows - o.scanRows, writeBytes - o.writeBytes, skews.drop(o.skews.size))

  def +(o: EngineCounts): EngineCounts = EngineCounts(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, taskMs + o.taskMs,
    schedDelayMs + o.schedDelayMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, scanBytes + o.scanBytes,
    scanRows + o.scanRows, writeBytes + o.writeBytes, skews ++ o.skews)
}

/** A `SparkListener` accumulating [[EngineCounts]]. Callbacks arrive on
  * the listener bus thread; call [[snapshot]] only after draining it. */
final class EngineListener extends SparkListener {
  private var c = EngineCounts()
  private val stageTaskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer[Long]()) += m.executorRunTime
      c = c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + m.executorRunTime,
        schedDelayMs = c.schedDelayMs + delay,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.diskBytesSpilled,
        scanBytes = c.scanBytes + m.inputMetrics.bytesRead,
        scanRows = c.scanRows + m.inputMetrics.recordsRead,
        writeBytes = c.writeBytes + m.outputMetrics.bytesWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val times = stageTaskMs.remove(key).getOrElse(mutable.ArrayBuffer[Long]())
    val skew =
      if (times.size >= 2) {
        val med = Stats.median(times.map(_.toDouble).toSeq)
        Some(times.max / math.max(med, 1.0))
      } else None
    c = c.copy(stages = c.stages + 1, skews = c.skews ++ skew)
  }

  def snapshot: EngineCounts = synchronized(c)
}

/** A `QueryExecutionListener` counting the SQL executions (actions) the
  * engine completed and their summed duration. */
final class ActionListener extends org.apache.spark.sql.util.QueryExecutionListener {
  private var n = 0L
  private var ns = 0L
  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
    synchronized { n += 1; ns += durationNs }
  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
    synchronized { n += 1 }
  /** (executions, seconds) so far. */
  def snapshot: (Long, Double) = synchronized((n, ns / 1e9))
}

/** JVM-wide readings taken from the platform MXBeans. */
object Jvm {
  def jitS: Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum / 1e6

  def classesK: Double =
    ManagementFactory.getClassLoadingMXBean.getLoadedClassCount / 1e3

  /** Live heap after a full collection, in MB. The second collection
    * takes what Spark's context cleaner released after the first (the
    * blocks of broadcasts and shuffles the first found unreachable). */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}
