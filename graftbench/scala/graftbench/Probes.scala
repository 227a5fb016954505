package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Where an op ran, for attributing Spark events to it: its job-group
  * prefix and its wall-clock window (build from `startMs`, action from
  * `actionMs`). */
final case class OpWindow(group: String, startMs: Long, actionMs: Long, endMs: Long)

/** Spark's exec layer, read through a SparkListener: jobs, stages and
  * task metrics. Jobs are attributed to ops by job group, or, for jobs
  * started under another group (a streaming query sets its own), by the
  * op whose window holds the job's submission time.
  */
final class ExecProbe extends SparkListener {
  private final case class Job(id: Int, group: Option[String], timeMs: Long)
  private final class StageSums {
    var attempts, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, peakMem = 0L
  }
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageSums]
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    jobs += Job(e.jobId, Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
      e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageSums).attempts += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val s = stages.getOrElseUpdate(e.stageId, new StageSums)
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  /** Per-op exec counters, keyed like `windows`. */
  def attribute(windows: Seq[OpWindow]): Map[OpWindow, Map[String, Double]] = synchronized {
    val byGroup = windows.map(w => w.group -> w).toMap
    def owner(j: Job): Option[(OpWindow, Boolean)] =
      j.group.flatMap { g =>
        val i = g.lastIndexOf(':')
        if (i < 0) None else byGroup.get(g.substring(0, i)).map(_ -> g.endsWith(":action"))
      }.orElse(windows.find(w => j.timeMs >= w.startMs && j.timeMs <= w.endMs)
        .map(w => w -> (j.timeMs >= w.actionMs)))
    val jobOwner = jobs.flatMap(j => owner(j).map(j.id -> _)).toMap
    val out = mutable.Map.empty[OpWindow, mutable.Map[String, Double]]
    def acc(w: OpWindow) = out.getOrElseUpdate(w, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    jobOwner.values.foreach { case (w, inAction) =>
      acc(w)(if (inAction) "jobs_action" else "jobs_build") += 1
    }
    stages.foreach { case (sid, s) =>
      stageJob.get(sid).flatMap(jobOwner.get).foreach { case (w, _) =>
        val m = acc(w)
        m("stages") += s.attempts
        m("tasks") += s.tasks
        m("failed_tasks") += s.failedTasks
        m("task_run_s") += s.runMs / 1e3
        m("task_cpu_s") += s.cpuNs / 1e9
        m("gc_s") += s.gcMs / 1e3
        m("shuffle_write_bytes") += s.shuffleWrite
        m("shuffle_read_bytes") += s.shuffleRead
        m("spill_bytes") += s.spill
        m("peak_exec_mem_bytes") = math.max(m("peak_exec_mem_bytes"), s.peakMem.toDouble)
      }
    }
    out.map { case (w, m) => w -> m.toMap }.toMap
  }
}

/** Catalyst phases (analysis, optimization, planning) of every executed
  * query, read from `QueryExecution.tracker`, plus the node and Join
  * counts of the plan the noop sink wrote. Attributed to the op whose
  * window holds the query's analysis start.
  */
final class CatalystProbe extends QueryExecutionListener {
  private final case class Exec(startMs: Long, phases: Map[String, Double],
      plan: Option[(Int, Int)])
  private val execs = mutable.ArrayBuffer.empty[Exec]
  @volatile var events = 0L

  private def record(qe: QueryExecution): Unit = synchronized {
    events += 1
    val ph = qe.tracker.phases
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    val plan = qe.optimizedPlan match {
      case w: V2WriteCommand => Some(CatalystProbe.planSize(w.query))
      case _ => None
    }
    execs += Exec(start, ph.map { case (k, v) => k -> v.durationMs / 1e3 }, plan)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def attribute(windows: Seq[OpWindow]): Map[OpWindow, Map[String, Double]] = synchronized {
    execs.groupBy(e => windows.find(w => e.startMs >= w.startMs && e.startMs <= w.endMs))
      .collect { case (Some(w), es) =>
        val phases = Seq("analysis", "optimization", "planning")
          .map(p => s"catalyst_$p" -> es.map(_.phases.getOrElse(p, 0.0)).sum)
        val plan = es.flatMap(_.plan).lastOption.toSeq.flatMap { case (n, j) =>
          Seq("plan_nodes" -> n.toDouble, "plan_joins" -> j.toDouble)
        }
        w -> (phases ++ plan).toMap
      }
  }
}

object CatalystProbe {
  def planSize(p: LogicalPlan): (Int, Int) =
    (p.collect { case n => n }.size, p.collect { case j: Join => j }.size)
}

/** Whole-stage codegen compiles: count, and summed compile time in ms from
  * the histogram's reservoir (holds every sample below 1,028 compiles). */
object Codegen {
  def snapshot(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum.toDouble)
  }
}
