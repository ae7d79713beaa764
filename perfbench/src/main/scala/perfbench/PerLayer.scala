package perfbench

/** Per-layer figures of a traced run. Sums are per traced pass (the mean
  * over traced passes); ratios are taken over the same totals. Each name
  * starts with the module that owns the layer. */
object PerLayer {
  def apply(traced: Seq[Main.PassRec], untraced: Seq[Main.PassRec],
            layers: Seq[(Int, Layers.OpLayers)], sessionStartMs: Seq[Double],
            resultRows: Map[String, Long], facts: Map[String, Double],
            p50: String => Double): Map[String, Double] = {
    val n = traced.size.toDouble
    val ops = traced.flatMap(_.ops)
    val ls = layers.map(_._2)
    def per(f: Layers.OpLayers => Double): Double = ls.map(f).sum / n
    def store(call: String) = per(_.storeMs.getOrElse(s"Store.$call", 0.0))
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def orZero(x: Double) = if (x.isNaN) 0.0 else x
    val returning = ops.zip(ls).filter { case (o, _) => resultRows.contains(o.name) }
    val counted = (traced ++ untraced).flatMap(_.ops)
    def counter(k: String) = counted.map(_.counters.getOrElse(k, 0.0)).sum
    def tracedMax(k: String) = ops.map(_.counters.getOrElse(k, 0.0)).maxOption.getOrElse(0.0)
    val onceBytes = facts.getOrElse("Store.live_bytes_once", 0.0)
    val jobMs = per(_.jobUnion)
    val bytesWritten = per(l => if (l.storeMs.nonEmpty) l.bytesWritten.toDouble else 0.0)
    Map(
      "GraftSession.start_ms" -> Stats.median(sessionStartMs),
      "queries.build_ms" -> per(_.buildSelf),
      "queries.build_jobs" -> per(_.buildJobs),
      "plans.analysis_ms" -> per(_.analysis),
      "plans.optimizer_ms" -> per(_.optimizer),
      "plans.physical_ms" -> per(_.physical),
      "plans.executions" -> per(_.executions),
      "operators.jobs" -> per(_.jobs),
      "operators.stages" -> per(_.stages),
      "operators.tasks" -> per(_.tasks),
      "operators.job_ms" -> jobMs,
      "operators.driver_ms" -> per(_.driver),
      "operators.task_ms" -> per(_.taskMs.toDouble),
      "operators.gc_ms" -> per(_.gcMs.toDouble),
      "operators.parallelism" -> ratio(per(_.taskMs.toDouble), jobMs),
      "operators.single_task_stages" -> per(_.singleTaskStages),
      "operators.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "operators.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "operators.spill_bytes" -> per(_.spill.toDouble),
      "operators.failed_tasks" -> per(_.failedTasks),
      "Tables.input_bytes" -> per(_.inputBytes.toDouble),
      "Tables.rows_per_result" -> ratio(returning.map(_._2.inputRecords.toDouble).sum,
        returning.map { case (o, _) => resultRows(o.name).toDouble }.sum),
      "Housekeeping.sweep_ms" -> per(_.sweepSelf),
      "Housekeeping.blocks_after_sweep" -> traced.map(_.blocksAfterSweep.toDouble).sum / n,
      "Housekeeping.cached_bytes_peak" -> tracedMax("cached_bytes"),
      "Store.rebuild_ms" -> store("rebuild"),
      "Store.update_ms" -> store("update"),
      "Store.read_ms" -> store("read"),
      "Store.upsert_ms" -> store("upsert"),
      "Store.compact_ms" -> store("compact"),
      "Store.update_useful_ratio" -> ratio(counter("appended_rows"), counter("offered_rows")),
      "Store.write_actions" -> per(l => if (l.storeMs.nonEmpty) l.writeActions.toDouble else 0.0),
      "Store.bytes_written" -> bytesWritten,
      "Store.files_written" -> per(l => if (l.storeMs.nonEmpty) l.filesWritten.toDouble else 0.0),
      "Store.write_amp" -> ratio(bytesWritten, onceBytes),
      "Store.files_live" -> tracedMax("files_live"),
      "Store.space_amp" -> facts.getOrElse("Store.space_amp", 0.0),
      "Store.update_p50_s" -> orZero(p50("update")),
      "Store.read_p50_s" -> orZero(p50("read")),
      "trace.overhead_ms" -> (traced.map(_.wallMs).sum / n -
        Stats.mean(untraced.filter(_.no > 1).map(_.wallMs))))
  }
}
