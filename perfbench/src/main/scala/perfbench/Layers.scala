package perfbench

import org.apache.spark.sql.catalyst.QueryPlanningTracker

/** Folding traced counters into the per-layer metrics, named by module. */
object Layers {
  def build(c: Ctx, seconds: Double, w: Work): Unit = {
    c.addLayer("engine.build_s", seconds)
    c.addLayer("engine.build_jobs", w.jobs.toDouble)
    c.maxLayer("engine.build_jobs.max", w.jobs.toDouble)
  }

  def exec(c: Ctx, runSeconds: Double, w: Work, resultRows: Long): Unit = {
    c.addLayer("exec.run_s", runSeconds)
    work(c, w)
    c.addLayer("exec.result_rows", resultRows.toDouble)
  }

  /** Spark work of any operation (query, micro-batch, read, compaction). */
  def work(c: Ctx, w: Work): Unit = {
    c.addLayer("exec.jobs", w.jobs.toDouble)
    c.addLayer("exec.stages", w.stages.toDouble)
    c.addLayer("exec.tasks", w.tasks.toDouble)
    c.addLayer("exec.failed_tasks", w.failedTasks.toDouble)
    c.addLayer("exec.single_task_stages", w.singleTaskStages.toDouble)
    c.maxLayer("exec.max_tasks_per_stage", w.maxTasksPerStage.toDouble)
    c.addLayer("exec.task_run_s", w.taskRunMs / 1e3)
    c.addLayer("exec.task_cpu_s", w.taskCpuNs / 1e9)
    c.addLayer("exec.task_wait_s", w.waitMs / 1e3)
    c.addLayer("exec.gc_s", w.gcMs / 1e3)
    c.addLayer("exec.scan_bytes", w.scanBytes.toDouble)
    c.addLayer("exec.shuffle_write_bytes", w.shuffleWriteBytes.toDouble)
    c.addLayer("exec.shuffle_read_bytes", w.shuffleReadBytes.toDouble)
    c.addLayer("exec.spill_bytes", w.spillBytes.toDouble)
    c.addLayer("exec.result_bytes", w.resultBytes.toDouble)
  }

  /** Analysis, optimisation and planning phases of the query's tracker, as
    * plan-layer spans under whichever phase span they fall in. */
  def planning(c: Ctx, t: Tracer, tracker: QueryPlanningTracker, op: Int,
               buildSpan: Int, runSpan: Int, runStart: Double): Unit =
    tracker.phases.foreach { case (phase, p) =>
      val secs = (p.endTimeMs - p.startTimeMs) / 1e3
      phase match {
        case "analysis" => c.addLayer("plans.analysis_s", secs)
        case "optimization" => c.addLayer("plans.optimization_s", secs)
        case "planning" => c.addLayer("plans.planning_s", secs)
        case _ =>
      }
      val s = t.wallToRel(p.startTimeMs)
      val parent = if (s >= runStart) runSpan else buildSpan
      t.spans += Span(t.newId(), parent, op, phase, "plans", s, t.wallToRel(p.endTimeMs))
    }
}
