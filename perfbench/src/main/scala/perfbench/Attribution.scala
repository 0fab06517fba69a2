package perfbench

/** Splits one traced operation's wall time into the repository's layers.
  *
  * The operation runs `[t0, tq)` constructing its DataFrame (driver-side
  * jobs included) and `[tq, t1)` in the sink call. The sink call's
  * milliseconds are labelled in priority order: Spark job time (exec),
  * the Catalyst phases of the sink's QueryExecution, the engine's own
  * planning before those phases (`Engine.run` only), the commit after the
  * last task ends, and driver-side execution work between the end of the
  * Catalyst phases and the last job's end. Codegen compile time takes
  * unlabelled time first, up to the compile time measured in the sink
  * call; what is left is unattributed. The layers therefore add up to the
  * operation's wall time. */
final case class Attribution(id: Int, name: String, pass: Int, engineOp: Boolean, cores: Int,
    wallMs: Double, constructionMs: Double, t0Ms: Long, tqMs: Long, t1Ms: Long,
    compiles: Long, compileMs: Double, actionCompileMs: Double, ev: Tracer.Events) {
  import Tracer._

  private val constructionJobs = ev.jobs.filter(_.group == ConstructionGroup)
  private val actionJobs = ev.jobs.filter(_.group != ConstructionGroup)
  private val actionPhases = ev.queries.flatten
    .filter(p => p.start >= tqMs && Seq("analysis", "optimization", "planning").contains(p.name))
  private val lastTaskEnd =
    (ev.tasks.map(_.finishMs) ++ actionJobs.map(_.end)).foldLeft(tqMs)(math.max)

  private val labels: Map[String, Long] = {
    val n = math.max(0L, t1Ms - tqMs).toInt
    val lab = Array.fill(n)("")
    def mark(name: String, s: Long, e: Long): Unit = {
      var i = math.max(0L, s - tqMs).toInt
      val end = math.min(n.toLong, e - tqMs).toInt
      while (i < end) { if (lab(i).isEmpty) lab(i) = name; i += 1 }
    }
    actionJobs.foreach(j => mark("exec", j.start, j.end))
    actionPhases.foreach(p => mark(p.name, p.start, p.end))
    if (engineOp) actionPhases.map(_.start).minOption.foreach(s => mark("plan", tqMs, s))
    mark("commit", lastTaskEnd, t1Ms)
    val phasesEnd = actionPhases.map(_.end).foldLeft(tqMs)(math.max)
    actionJobs.map(_.end).maxOption.foreach(e => mark("driver", phasesEnd, e))
    lab.groupBy(identity).view.mapValues(_.length.toLong).toMap
  }
  private def label(n: String): Double = labels.getOrElse(n, 0L).toDouble
  private val codegenMs = math.min(actionCompileMs, label("") + label("driver"))
  // driver-side execution work between the Catalyst phases and the last
  // job's end (writer set-up, adaptive re-planning between stages), less
  // any of it that codegen compile time accounts for
  private val execDriverMs =
    math.max(0.0, label("driver") - math.max(0.0, codegenMs - label("")))
  private val attributed = constructionMs + label("exec") + execDriverMs + label("analysis") +
    label("optimization") + label("planning") + label("plan") + label("commit") + codegenMs

  private def sumT(f: Task => Long): Long = ev.tasks.map(f).sum
  private val execWallMs = unionMs(ev.jobs.map(j => (j.start, j.end)))
  private val taskMs = sumT(_.durationMs)
  private val stageTailMs = ev.stages.filter(_.durations.nonEmpty).map { s =>
    val d = s.durations.sorted
    d.last - d((d.size - 1) / 2)
  }.sum
  private def sites(file: String) = constructionJobs.count(_.site.contains(file))
  private val actionStageIds = actionJobs.flatMap(_.stageIds).toSet

  def row: Seq[(String, Any)] = Seq(
    "op_id" -> id, "op" -> name, "pass" -> pass, "wall_ms" -> wallMs,
    // self time per layer; these add up to wall_ms
    "construction_ms" -> constructionMs, "engine_plan_ms" -> label("plan"),
    "analysis_ms" -> label("analysis"), "optimization_ms" -> label("optimization"),
    "planning_ms" -> label("planning"), "codegen_ms" -> codegenMs, "exec_ms" -> label("exec"),
    "exec_driver_ms" -> execDriverMs,
    "commit_ms" -> label("commit"), "unattributed_ms" -> (wallMs - attributed),
    // counts and task metrics
    "construction_jobs" -> constructionJobs.size,
    "schema_jobs" -> sites("Tables.scala"), "fixpoint_jobs" -> sites("Iterate.scala"),
    "exec_jobs" -> actionJobs.size,
    "exec_stages" -> ev.stages.count(s => actionStageIds.contains(s.id)),
    "stages" -> ev.stages.size, "tasks" -> ev.tasks.size, "tasks_ok" -> ev.tasks.count(_.ok),
    "task_ms" -> taskMs, "exec_wall_ms" -> execWallMs,
    "slot_util" -> (if (execWallMs > 0) taskMs.toDouble / (cores * execWallMs) else 0.0),
    "task_cpu_s" -> sumT(_.cpuNs) / 1e9, "task_gc_s" -> sumT(_.gcMs) / 1e3,
    "task_deser_s" -> sumT(_.deserMs) / 1e3, "stage_tail_ms" -> stageTailMs,
    "scan_bytes" -> sumT(_.inBytes), "scan_records" -> sumT(_.inRecords),
    "write_bytes" -> sumT(_.outBytes), "shuffle_bytes" -> sumT(_.shBytes),
    "shuffle_records" -> sumT(_.shRecords), "shuffle_write_ms" -> sumT(_.shWriteNs) / 1e6,
    "fetch_wait_ms" -> sumT(_.fetchWaitMs), "spill_bytes" -> sumT(_.spillBytes),
    "peak_exec_mem_mb" -> ev.tasks.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0,
    "codegen_compiles" -> compiles, "codegen_compile_ms" -> compileMs)

  /** Span tree as JSON lines: op → phase → Spark job → stage. */
  def spans: Seq[String] = {
    val op = s"op$id"
    def span(kind: String, sid: String, nm: String, s: Long, e: Long, parent: String) =
      Json.obj(Seq("op_id" -> id, "kind" -> kind, "id" -> sid, "name" -> nm,
        "start_ms" -> s, "end_ms" -> e, "parent" -> parent))
    val phases = Seq(("construction", t0Ms, tqMs)) ++
      actionPhases.map(p => (p.name, p.start, p.end)) ++
      (if (actionJobs.isEmpty) Nil
      else Seq(("exec", actionJobs.map(_.start).min, actionJobs.map(_.end).max))) ++
      Seq(("commit", lastTaskEnd, t1Ms))
    val stageById = ev.stages.map(s => s.id -> s).toMap
    Seq(span("op", op, name, t0Ms, t1Ms, null)) ++
      phases.map { case (n, s, e) => span("phase", s"$op/$n", n, s, e, op) } ++
      ev.jobs.flatMap { j =>
        val jid = s"$op/job${j.id}"
        val parent = if (j.group == ConstructionGroup) s"$op/construction" else s"$op/exec"
        span("job", jid, j.site.takeWhile(_ != '\n'), j.start, j.end, parent) +:
          j.stageIds.flatMap(stageById.get).map(s =>
            span("stage", s"$op/stage${s.id}", s.name, s.start, s.end, jid))
      }
  }
}
