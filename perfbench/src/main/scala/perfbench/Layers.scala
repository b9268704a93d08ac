package perfbench

/** Per-layer totals of one traced pass, and one record per query.
  *
  * Layers: `queries` is the build span (the query function, with any
  * eager jobs it runs), `plan` the executedPlan span, `exec` the action
  * span and the jobs it submits (Bench.materialize, or the render's
  * toLocalIterator jobs on the dialect workload), `engine` the dialect
  * shell's calls (`engine.analyze` is `Engine.run`, pre-pass included;
  * `engine.prepass` is timed on its own, outside the query span). A
  * query's wall time is the sum of its layers' self times plus the query
  * span's own remainder.
  */
object Layers {
  private val scheduled = Set("exec", "render")

  def apply(spans: Seq[Span], selfMs: Map[Int, Double],
      sched: Map[(String, String), LayerTotals], cores: Int,
      passCpuS: Double): (Map[String, Double], Seq[Map[String, Any]]) = {
    def spanMs(name: String) = spans.filter(_.name == name).map(_.ms).sum
    def total(layers: String => Boolean)(f: LayerTotals => Long): Double =
      sched.collect { case ((_, l), t) if layers(l) => f(t) }.sum.toDouble
    val execT = total(scheduled) _
    val queries = spans.filter(_.name == "query")
    val byQid = spans.groupBy(_.qid)

    val records = queries.map { q =>
      val mine = byQid(q.qid)
      def ms(n: String) = mine.filter(_.name == n).map(_.ms).sum
      val execWall = mine.filter(s => s.name == "exec" || s.name == "engine.render").map(_.ms).sum
      val exec = sched.collect { case ((id, l), t) if id == q.qid && scheduled(l) => t }
      val build = sched.get((q.qid, "build"))
      val active = Intervals.union(exec.flatMap(_.stageIntervals)).toDouble
      Map[String, Any](
        "qid" -> q.qid,
        "wall_ms" -> q.ms,
        "build_ms" -> ms("build"),
        "plan_ms" -> ms("plan"),
        "exec_ms" -> ms("exec"),
        "engine_prepass_ms" -> ms("engine.prepass"),
        "engine_analyze_ms" -> ms("engine.analyze"),
        "engine_render_ms" -> ms("engine.render"),
        "remainder_ms" -> selfMs(q.id),
        "build_jobs" -> build.map(_.jobs).getOrElse(0L),
        "build_stages" -> build.map(_.stages).getOrElse(0L),
        "exec_jobs" -> exec.map(_.jobs).sum,
        "exec_stages" -> exec.map(_.stages).sum,
        "exec_tasks" -> exec.map(_.tasks).sum,
        "exec_stage_active_ms" -> active,
        "exec_driver_gap_ms" -> math.max(0.0, execWall - active),
        "exec_task_cpu_ms" -> exec.map(_.taskCpuNs).sum / 1e6)
    }
    def sumRec(k: String) = records.map(_(k).asInstanceOf[Double]).sum

    val buildMs = spanMs("build")
    val queryMs = queries.map(_.ms).sum
    val stageActive = sumRec("exec_stage_active_ms")
    val taskRun = execT(_.taskRunMs)
    val taskCpuAllMs = total(_ => true)(_.taskCpuNs) / 1e6
    val layers = Map(
      "queries.build_ms" -> buildMs,
      "queries.build_jobs" -> total(_ == "build")(_.jobs),
      "queries.build_stages" -> total(_ == "build")(_.stages),
      "queries.build_share" -> (if (queryMs > 0) buildMs / queryMs else 0.0),
      "plan.ms" -> spanMs("plan"),
      "exec.ms" -> spanMs("exec"),
      "exec.jobs" -> execT(_.jobs),
      "exec.stages" -> execT(_.stages),
      "exec.single_task_stages" -> execT(_.singleTaskStages),
      "exec.tasks" -> execT(_.tasks),
      "exec.stage_active_ms" -> stageActive,
      "exec.driver_gap_ms" -> sumRec("exec_driver_gap_ms"),
      "exec.task_run_ms" -> taskRun,
      "exec.task_cpu_ms" -> execT(_.taskCpuNs) / 1e6,
      "exec.core_util" -> (if (stageActive > 0) taskRun / (stageActive * cores) else 0.0),
      "exec.records_read" -> execT(_.recordsRead),
      "exec.shuffle_write_bytes" -> execT(_.shuffleWriteBytes),
      "exec.shuffle_read_bytes" -> execT(_.shuffleReadBytes),
      "exec.spill_bytes" -> execT(_.spillBytes),
      "exec.failed_tasks" -> total(_ => true)(_.failedTasks),
      "engine.prepass_ms" -> spanMs("engine.prepass"),
      "engine.analyze_ms" -> spanMs("engine.analyze"),
      "engine.render_ms" -> spanMs("engine.render"),
      "engine.render_jobs" -> total(_ == "render")(_.jobs),
      "jvm.driver_cpu_ms" -> (passCpuS * 1e3 - taskCpuAllMs),
      "trace.query_ms" -> queryMs,
      "trace.remainder_ms" -> sumRec("remainder_ms"))
    (layers, records)
  }
}
