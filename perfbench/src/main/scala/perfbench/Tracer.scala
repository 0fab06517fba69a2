package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects the Spark events of one operation at a time. The harness tags
  * the driver thread's jobs with [[Tracer.ConstructionGroup]] or
  * [[Tracer.ActionGroup]], drains the listener bus after the operation and
  * then calls [[take]]. Every field is written on the bus thread and read
  * by the harness only after the drain, under `this` lock. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private var jobs = mutable.ArrayBuffer.empty[Job]
  private var stages = mutable.LinkedHashMap.empty[Int, Stage]
  private var tasks = mutable.ArrayBuffer.empty[Task]
  private var queries = mutable.ArrayBuffer.empty[Seq[Phase]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val site = e.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n")
    jobs += Job(e.jobId, group, e.time, e.time, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val st = stages.getOrElseUpdate(i.stageId, Stage(i.stageId, i.name))
    st.name = i.name
    st.start = i.submissionTime.getOrElse(0L)
    st.end = i.completionTime.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    stages.getOrElseUpdate(e.stageId, Stage(e.stageId, "")).durations += info.duration
    tasks += (if (m == null) Task(info.duration, info.finishTime, info.successful)
    else Task(info.duration, info.finishTime, info.successful,
      cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime, deserMs = m.executorDeserializeTime,
      inBytes = m.inputMetrics.bytesRead, inRecords = m.inputMetrics.recordsRead,
      outBytes = m.outputMetrics.bytesWritten,
      shBytes = m.shuffleWriteMetrics.bytesWritten,
      shRecords = m.shuffleWriteMetrics.recordsWritten,
      shWriteNs = m.shuffleWriteMetrics.writeTime,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      peakMem = m.peakExecutionMemory))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      queries += qe.tracker.phases.toSeq.map { case (n, p) => Phase(n, p.startTimeMs, p.endTimeMs) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything recorded since the last call, then a fresh start. */
  def take(): Events = synchronized {
    val out = Events(jobs.toSeq, stages.values.toSeq, tasks.toSeq, queries.toSeq)
    jobs = mutable.ArrayBuffer.empty
    stages = mutable.LinkedHashMap.empty
    tasks = mutable.ArrayBuffer.empty
    queries = mutable.ArrayBuffer.empty
    out
  }
}

object Tracer {
  val ConstructionGroup = "perfbench-construction"
  val ActionGroup = "perfbench-action"

  final case class Job(id: Int, group: String, start: Long, var end: Long, site: String,
      stageIds: Seq[Int])
  final case class Stage(id: Int, var name: String, var start: Long = 0L, var end: Long = 0L,
      durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)
  final case class Task(durationMs: Long, finishMs: Long, ok: Boolean, cpuNs: Long = 0L,
      gcMs: Long = 0L, deserMs: Long = 0L, inBytes: Long = 0L, inRecords: Long = 0L,
      outBytes: Long = 0L, shBytes: Long = 0L, shRecords: Long = 0L, shWriteNs: Long = 0L,
      fetchWaitMs: Long = 0L, spillBytes: Long = 0L, peakMem: Long = 0L)
  final case class Phase(name: String, start: Long, end: Long)
  final case class Events(jobs: Seq[Job], stages: Seq[Stage], tasks: Seq[Task],
      queries: Seq[Seq[Phase]])

  /** Total length of the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
