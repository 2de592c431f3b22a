package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec

/** What one measured body made Spark do, layer by layer: its wall time,
  * the jobs, stages and task metrics one listener sees between two bus
  * drains, the Catalyst phase times of every SQL execution the body ran
  * ([[PlanDump.executions]]), and the rows its DataSource V2 writes
  * committed. Task figures are sums over the body's tasks (peak memory
  * too: the sum of per-task peaks). [[fields]] keys them by
  * BENCHMARK.json's `per_layer` names, so the Bench artifact and a
  * perfbench trace compare directly.
  */
final case class Work(
    wallS: Double,
    jobs: Long, stages: Long, tasks: Long,
    taskS: Double, gcS: Double, spillBytes: Long, peakMemBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long,
    inputRows: Long, outputRows: Long,
    analysisS: Double, optimizationS: Double, planningS: Double) {

  def fields: Seq[(String, AnyVal)] = Seq(
    "wall_s" -> wallS,
    "sched.jobs" -> jobs, "sched.stages" -> stages, "sched.tasks" -> tasks,
    "exec.task_s" -> taskS, "exec.gc_s" -> gcS,
    "exec.spill_bytes" -> spillBytes, "exec.peak_mem_bytes" -> peakMemBytes,
    "shuffle.read_bytes" -> shuffleReadBytes, "shuffle.write_bytes" -> shuffleWriteBytes,
    "scan.input_rows" -> inputRows, "write.output_rows" -> outputRows,
    "driver.analysis_s" -> analysisS, "driver.optimization_s" -> optimizationS,
    "driver.planning_s" -> planningS)
}

object Work {
  /** Run `body` once and measure it. The bus is drained before the
    * listener is added and after the body returns, both outside the
    * timed region, so every event of the body is counted and none of
    * an earlier one's.
    */
  def of[A](spark: SparkSession)(body: => A): (A, Work) = {
    val sc = spark.sparkContext
    val tally = new Tally
    TestBus.drain(sc)
    sc.addSparkListener(tally)
    try {
      var wallS = 0.0
      val (a, runs) = PlanDump.executions(spark) {
        val t0 = System.nanoTime()
        try body finally wallS = (System.nanoTime() - t0) / 1e9
      }
      (a, tally.work(wallS, runs.map(_._2)))
    } finally sc.removeSparkListener(tally)
  }

  private final class Tally extends SparkListener {
    private var jobs, stages, tasks, taskMs, gcMs, spill, peak = 0L
    private var shuffleRead, shuffleWrite, inputRows = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        gcMs += m.jvmGCTime
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        peak += m.peakExecutionMemory
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        inputRows += m.inputMetrics.recordsRead
      }
    }

    def work(wallS: Double, runs: Seq[QueryExecution]): Work = synchronized {
      def phaseS(names: String*): Double = runs.map(_.tracker.phases
        .collect { case (k, p) if names.contains(k) => p.endTimeMs - p.startTimeMs }
        .sum).sum / 1e3
      // a V2 write reports no task output metrics and no row-count SQL
      // metric; its write node keeps the committed row count instead
      val outputRows = runs.map(_.executedPlan.collect {
        case w: V2TableWriteExec => w.commitProgress.fold(0L)(_.numOutputRows)
      }.sum).sum
      Work(wallS, jobs, stages, tasks, taskMs / 1e3, gcMs / 1e3, spill, peak,
        shuffleRead, shuffleWrite, inputRows, outputRows,
        phaseS("parsing", "analysis"), phaseS("optimization"), phaseS("planning"))
    }
  }
}
