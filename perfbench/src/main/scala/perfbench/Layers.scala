package perfbench

import java.util.{LinkedHashMap => JMap}

/** Per-layer totals of one traced pass, named as in BENCHMARK.json. Jobs
  * are attributed to the build, plan or exec phase that submitted them
  * through the span tag each job carries.
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  def of(t: Tracer, runs: Seq[QueryRun], cores: Int, firstBatch: Int): JMap[String, Any] = t.synchronized {
    val kindOf: Map[Long, String] =
      runs.flatMap(_.spans).flatMap(id => t.span(id).map(id -> _.kind)).toMap
    val jobs = t.jobs.values.filter(j => kindOf.contains(j.span)).toSeq
    def phaseJobs(kind: String) = jobs.filter(j => kindOf(j.span) == kind)
    def stagesOf(js: Seq[JobRec]) = {
      val ids = js.map(_.id).toSet
      t.stages.values.filter(s => s.completed && ids.contains(s.job)).toSeq
    }
    def wallS(ss: Seq[StageRec]) = ss.map(s => s.complete - s.submit).sum / 1e3
    val all = stagesOf(jobs)
    val build = phaseJobs("build")
    val execJobs = phaseJobs("exec")
    val exec = stagesOf(execJobs)
    val execS = runs.map(_.execS).sum
    val taskS = exec.map(_.totals.taskMs).sum / 1e3
    val writers = jobs.filter(j => stagesOf(Seq(j)).exists(_.totals.outputBytes > 0))
    val batches = t.batches.drop(firstBatch).toSeq
    val lastByRun = batches.groupBy(_.runId).values.map(_.last).toSeq
    def phase(k: String) = runs.map(_.phases.getOrElse(k, 0.0)).sum

    Runner.jmap(
      "sources.input_mb" -> all.map(_.totals.inputBytes).sum / MB,
      "sources.input_rows" -> all.map(_.totals.inputRows).sum,
      "sources.scan_tasks" -> all.map(_.totals.scanTasks).sum,
      "sources.single_task_scan_s" ->
        wallS(all.filter(s => s.numTasks == 1 && s.totals.inputBytes > 0)),
      "operators.build_s" -> runs.map(_.buildS).sum,
      "operators.eager_jobs" -> build.size,
      "operators.checkpoint_jobs" -> jobs.count(_.callSite.contains("localCheckpoint")),
      "operators.driver_result_mb" -> stagesOf(build).map(_.totals.resultBytes).sum / MB,
      "operators.checkpoint_mb_peak" -> t.blockPeak / MB,
      "planner.analysis_s" -> phase("analysis"),
      "planner.optimization_s" -> phase("optimization"),
      "planner.physical_s" -> phase("planning"),
      "planner.plan_s" -> runs.map(_.planS).sum,
      "exec.s" -> execS,
      "exec.jobs" -> execJobs.size,
      "exec.stages" -> exec.size,
      "exec.tasks" -> exec.map(_.totals.tasks).sum,
      "exec.task_s" -> taskS,
      "exec.busy_frac" -> (if (execS > 0) taskS / (execS * cores) else 0.0),
      "exec.single_task_stage_s" -> wallS(exec.filter(_.numTasks == 1)),
      "exec.shuffle_write_mb" -> exec.map(_.totals.shuffleWrite).sum / MB,
      "exec.shuffle_read_mb" -> exec.map(_.totals.shuffleRead).sum / MB,
      "exec.spill_mb" -> exec.map(_.totals.spill).sum / MB,
      "exec.gc_s" -> exec.map(_.totals.gcMs).sum / 1e3,
      "exec.failed_tasks" -> all.map(_.totals.failedTasks).sum,
      "streaming.batches" -> batches.size,
      "streaming.batch_s_p50" -> Runner.median(batches.map(_.durationMs / 1e3)),
      "streaming.input_rows" -> batches.map(_.inputRows).sum,
      "streaming.state_rows" -> lastByRun.map(_.stateRows).sum,
      "streaming.state_mb" -> lastByRun.map(_.stateBytes).sum / MB,
      "sinks.output_mb" -> all.map(_.totals.outputBytes).sum / MB,
      "sinks.write_s" -> writers.map(j => j.end - j.start).sum / 1e3)
  }
}
