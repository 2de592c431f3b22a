package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reports for one job group: one build or execute phase of
  * one query rep or facade op. Times are Spark's own (ms, ns for CPU).
  */
final class GroupCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
  var spillBytes = 0L; var peakMemBytes = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var fetchWaitMs = 0L
  var inputBytes = 0L; var inputRows = 0L
  /** (job id, start ms, end ms) */
  val jobSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
  /** (stage id, job id, submitted ms, completed ms) */
  val stageSpans = mutable.ArrayBuffer[(Int, Int, Long, Long)]()
}

/** Scheduler and task counters keyed by job group. The harness sets a
  * fresh group per rep phase, so every job, stage and task is charged to
  * the rep that caused it. Events arrive on the listener-bus thread; the
  * harness drains the bus ([[org.apache.spark.PerfbenchBus]]) before it
  * calls [[take]], and both sides synchronize on the listener.
  */
final class LayerListener extends SparkListener {
  private val groups = mutable.HashMap[String, GroupCounters]()
  private val groupOfJob = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageOwner = mutable.HashMap[Int, (String, Int)]()

  private def counters(g: String) = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    groupOfJob(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = (g, e.jobId))
    counters(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    groupOfJob.remove(e.jobId).foreach { g =>
      counters(g).jobSpans += ((e.jobId, jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageOwner.get(i.stageId).foreach { case (g, job) =>
      val c = counters(g)
      c.stages += 1
      val end = i.completionTime.getOrElse(System.currentTimeMillis())
      c.stageSpans += ((i.stageId, job, i.submissionTime.getOrElse(end), end))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (g, _) =>
      val c = counters(g)
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.deserMs += m.executorDeserializeTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMemBytes += m.peakExecutionMemory
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Remove and return the counters of `group` (empty if it ran no job). */
  def take(group: String): GroupCounters = synchronized {
    groups.remove(group).getOrElse(new GroupCounters)
  }
}

/** One planned query: its identity and its tracker's phase intervals
  * (phase name → start ms, end ms).
  */
final case class PlanRecord(qeId: Int, phases: Map[String, (Long, Long)])

object PlanRecord {
  def of(qe: QueryExecution): PlanRecord =
    PlanRecord(System.identityHashCode(qe),
      qe.tracker.phases.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) })
}

/** Catalyst phase times of every executed query, from each
  * `QueryExecution.tracker`. The harness claims the records of a rep by
  * its wall-clock window once the bus is drained (one client, so rep
  * windows never overlap).
  */
final class PlanListener extends QueryExecutionListener {
  private val records = mutable.ArrayBuffer[PlanRecord]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { records += PlanRecord.of(qe) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { records += PlanRecord.of(qe) }

  def takeWindow(fromMs: Long, toMs: Long): Seq[PlanRecord] = synchronized {
    val (in, out) = records.partition { r =>
      val start = if (r.phases.isEmpty) fromMs else r.phases.values.map(_._1).min
      start >= fromMs && start <= toMs
    }
    records.clear(); records ++= out
    in.toSeq
  }
}
