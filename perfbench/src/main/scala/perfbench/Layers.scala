package perfbench

/** Turns the harness's spans for one op plus the listener's records into
  * the op's span tree and its per-layer figures.
  *
  * Tree: op → harness child spans (`queries.build`, `action`,
  * `Housekeeping.sweep`, `Store.<call>`) → SQL executions (attached to the
  * harness span their start falls in) → jobs (attached to their SQL
  * execution, else to the harness span by start time) → stages. Planning
  * phases are spans under their SQL execution. */
object Layers {

  /** Per-op figures; every time is in milliseconds. */
  final case class OpLayers(
      wall: Double, buildSelf: Double, buildJobs: Int,
      analysis: Double, optimizer: Double, physical: Double, executions: Int,
      jobs: Int, stages: Int, tasks: Int, jobUnion: Double, driver: Double,
      taskMs: Long, gcMs: Long, singleTaskStages: Int,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, failedTasks: Int,
      inputBytes: Long, inputRecords: Long, sweepSelf: Double,
      writeActions: Int, filesWritten: Long, bytesWritten: Long,
      storeMs: Map[String, Double], accounting: Map[String, Double])

  /** Layers of the span tree, outermost first, as named in [[OpLayers.accounting]]. */
  val Ranks: Seq[String] = Seq("harness", "sql.execution", "plans", "job", "stage")

  def forOp(op: Span, harness: Seq[Span], snap: Tracer.Snapshot,
            nextId: () => Long): (Seq[Span], OpLayers) = {
    def within(t: Double) = t >= op.start && t <= op.end
    val jobs = snap.jobs.filter(j => j.op == op.op || (j.op < 0 && within(j.start.toDouble)))
    val jobIds = jobs.map(_.id).toSet
    val execIds = jobs.map(_.exec).filter(_ >= 0).toSet
    val execs = snap.execs.filter(x => execIds(x.id) || within(x.start))
    val stages = snap.stages.filter(s => jobIds(s.job))

    def owner(t: Double): Long =
      harness.find(h => t >= h.start && t <= h.end).map(_.id).getOrElse(op.id)
    val execSpans = execs.map { x =>
      val end = if (x.end.isNaN) op.end else x.end
      x.id -> Span(nextId(), owner(x.start), op.op, "sql.execution", x.start, end,
        Map("execution_id" -> x.id.toDouble))
    }.toMap
    val phaseSpans = execs.flatMap { x =>
      x.plan.toSeq.flatMap(_.phases.toSeq).map { case (name, (s, e)) =>
        Span(nextId(), execSpans(x.id).id, op.op, s"plans.$name", s, e)
      }
    }
    val jobSpans = jobs.map { j =>
      val end = if (j.end < 0) op.end else j.end.toDouble
      // a job outside any SQL execution (an RDD action such as an eager
      // checkpoint) hangs off the harness span it started in
      val parent = execSpans.get(j.exec).map(_.id).getOrElse(owner(j.start.toDouble))
      j.id -> Span(nextId(), parent, op.op, "job", j.start.toDouble, end,
        Map("job_id" -> j.id.toDouble))
    }.toMap
    val stageSpans = stages.filter(s => !s.start.isNaN).map { s =>
      val end = if (s.end.isNaN) s.start else s.end
      Span(nextId(), jobSpans.get(s.job).map(_.id).getOrElse(op.id), op.op, "stage",
        s.start, end, Map("stage_id" -> s.id.toDouble, "tasks" -> s.tasks.toDouble,
          "task_ms" -> s.taskMs.toDouble))
    }
    val all = harness ++ execSpans.values ++ phaseSpans ++ jobSpans.values ++ stageSpans
    val children = all.groupBy(_.parent)
    def self(s: Span) = Spans.selfTime(s, children.getOrElse(s.id, Nil))
    def phase(name: String) =
      phaseSpans.filter(_.name == s"plans.$name").map(_.length).sum

    val build = harness.filter(_.name == "queries.build")
    val jobIv = jobSpans.values.map(s => (s.start, s.end)).toSeq
    val jobUnion = Spans.union(Spans.clip(jobIv, op.start, op.end))
    val buildIv = build.map(b => (b.start, b.end))
    val busy = Spans.union(Spans.clip(buildIv ++ jobIv, op.start, op.end))
    val plans = execs.flatMap(_.plan)
    val layers = OpLayers(
      wall = op.length,
      buildSelf = build.map(self).sum,
      buildJobs = jobs.count(j => build.exists(b => j.start >= b.start && j.start <= b.end)),
      analysis = phase("analysis"), optimizer = phase("optimization"),
      physical = phase("planning"), executions = execs.size,
      jobs = jobs.size, stages = stages.size, tasks = stages.map(_.tasks).sum,
      jobUnion = jobUnion, driver = op.length - busy,
      taskMs = stages.map(_.taskMs).sum, gcMs = stages.map(_.gcMs).sum,
      singleTaskStages = stages.count(_.numTasks == 1),
      shuffleRead = stages.map(_.shuffleRead).sum,
      shuffleWrite = stages.map(_.shuffleWrite).sum,
      spill = stages.map(_.spill).sum, failedTasks = stages.map(_.failedTasks).sum,
      inputBytes = stages.map(_.inputBytes).sum,
      inputRecords = stages.map(_.inputRecords).sum,
      sweepSelf = harness.filter(_.name == "Housekeeping.sweep").map(self).sum,
      writeActions = plans.map(_.writeCommands).sum,
      filesWritten = plans.map(_.filesWritten).sum,
      bytesWritten = stages.map(_.outputBytes).sum,
      storeMs = harness.filter(_.name.startsWith("Store.")).groupBy(_.name)
        .map { case (n, ss) => n -> ss.map(_.length).sum },
      accounting = {
        def iv(ss: Iterable[Span]) = ss.map(s => (s.start, s.end)).toSeq
        val parts = Spans.exclusive(op, Seq(iv(harness), iv(execSpans.values),
          iv(phaseSpans), jobIv, iv(stageSpans)))
        (("op" +: Ranks) zip parts).toMap
      })
    (op +: all, layers)
  }
}
