package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{GraftSession, Housekeeping, SparkEntry}
import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

/** One benchmark run in this JVM: [[SetupCycles]] setup cycles, then a
  * timed phase of whole passes over the workload's op list for at least
  * `--seconds`, with one closed-loop client. Writes the run record (JSON)
  * and, for a traced run, the spans (JSON lines).
  *
  * A setup cycle starts a session with `GraftSession.local` in a fresh
  * `java.io.tmpdir` and runs every op once, cold. The first cycle starts
  * at JVM start and is the one that checks outputs; the time spent on
  * checks and input preparation is excluded from its setup time.
  *
  * Every op is followed by `Housekeeping.releaseAllBlocks`, inside the op's
  * time. An untraced run attaches no listener. A traced run runs the
  * fixed [[TracedSchedule]] instead of a timed loop: its traced passes give
  * the per-layer figures, the untraced ones the tracing overhead. */
object Main {
  val SetupCycles = 2
  /** An untraced run measures whole passes for at least `--seconds` and at
    * least this many passes, so that every run of a workload takes the
    * same number of samples. */
  val MinPasses = 6
  /** Passes of a traced run: one untraced warm-up pass, then traced (T) and
    * untraced (U) passes in the order T U U T, so that drift across the
    * run cancels out of the tracing overhead. */
  val TracedSchedule: Seq[Boolean] = Seq(false, true, false, false, true)

  final case class OpRec(pass: Int, name: String, span: Span, harness: Seq[Span],
                         failure: Option[String], counters: Map[String, Double])
  final case class PassRec(no: Int, traced: Boolean, ops: Seq[OpRec], blocksAfterSweep: Long) {
    def wallMs: Double = ops.map(_.span.length).sum
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("dump-oracle") match {
      case Some(out) => dumpOracle(out)
      case None => bench(opt)
    }
  }

  /** Oracle SQL of every query op, for building the reference digests. */
  private def dumpOracle(out: String): Unit = {
    val qs = Workloads.Analytics
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(out), Json.render(Map(
      "oracle_sql" -> qs.flatMap(q => sql.get(q).map(q -> _)).toMap,
      "no_oracle" -> qs.filterNot(sql.contains))))
  }

  private def bench(opt: Map[String, String]): Unit = {
    val workload = Workloads(opt("workload"), opt("seed").toLong)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val (corpus, work) = (opt("corpus"), opt("work"))
    val checkDir = s"$work/check"
    val nproc = Runtime.getRuntime.availableProcessors()
    val clock = new Clock
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val loadBefore = loadavg()
    val ids = new AtomicLong
    val resultRows = mutable.Map.empty[String, Long]
    val facts = mutable.Map.empty[String, Double]
    val setupOps = mutable.ArrayBuffer.empty[OpRec]
    val setupMs, startMs, excludedMs = mutable.ArrayBuffer.empty[Double]

    def runPass(run: Run, ops: Seq[Op], no: Int, trace: Boolean): PassRec = {
      val recs = ops.map(runOp(run, _, no, trace))
      val sc = run.spark.sparkContext
      val kept = sc.getPersistentRDDs.keySet
      val blocks = sc.getRDDStorageInfo.filter(i => kept(i.id)).map(_.numCachedPartitions.toLong).sum
      PassRec(no, trace, recs, blocks)
    }

    def runOp(run: Run, op: Op, pass: Int, trace: Boolean): OpRec = {
      val id = ids.incrementAndGet()
      run.opId = id
      run.spans.clear()
      run.counters.clear()
      val sc = run.spark.sparkContext
      sc.setLocalProperty(Tracer.OpProperty, id.toString)
      val start = clock.now
      var failure = attempt(op.run(run))
      if (trace) run.max("cached_bytes", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
      failure = failure.orElse(attempt(run.span("Housekeeping.sweep")(
        Housekeeping.releaseAllBlocks(run.spark))))
      val end = clock.now
      sc.setLocalProperty(Tracer.OpProperty, null)
      if (failure.isEmpty) failure = attempt(run.untimed(op.after(run)))
      if (failure.isEmpty && run.checking)
        failure = attempt(run.untimed {
          try op.check(run) finally Housekeeping.releaseAllBlocks(run.spark)
        }).map("output check: " + _)
      OpRec(pass, op.name, Span(id, 0, id, op.name, start, end), run.spans.toVector,
        failure, run.counters.toMap)
    }

    var spark: SparkSession = null
    var run: Run = null
    var passOps: Int => Seq[Op] = null
    for (c <- 1 to SetupCycles) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val cycleDir = s"$work/cycle$c"
      Files.createDirectories(Paths.get(cycleDir))
      System.setProperty("java.io.tmpdir", cycleDir)
      val start = if (c == 1) jvmStart else clock.now
      val s0 = clock.now
      spark = GraftSession.local(nproc)
      startMs += clock.now - s0
      run = new Run(spark, corpus, cycleDir, checkDir, c == 1, resultRows, facts, clock, ids)
      passOps = workload.open(run)
      setupOps ++= runPass(run, passOps(0), -c, trace = false).ops
      setupMs += clock.now - start - run.excludedMs
      excludedMs += run.excludedMs
    }

    val tracer = new Tracer
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val layers = mutable.ArrayBuffer.empty[(Int, Layers.OpLayers)]
    val spans = mutable.ArrayBuffer.empty[Span]
    val deadline = clock.now + seconds * 1000
    val schedule = if (traced) TracedSchedule.iterator else Iterator.continually(false)
    var no = 1
    while (schedule.hasNext && (traced || passes.size < MinPasses || clock.now < deadline)) {
      val trace = schedule.next()
      if (trace) { tracer.clear(); tracer.attach(spark) }
      val pass = runPass(run, passOps(no), no, trace)
      if (trace) {
        tracer.detach(spark)
        val snap = tracer.snapshot()
        pass.ops.foreach { o =>
          val (tree, l) = Layers.forOp(o.span, o.harness, snap, () => ids.incrementAndGet())
          spans ++= tree
          layers += no -> l
        }
      }
      passes += pass
      no += 1
    }
    // live heap: repeated full collections, since the context cleaner
    // releases weakly held blocks and shuffles between them
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val conf = spark.conf.getAll

    val timed = passes.filterNot(_.traced)
    val samples = timed.flatMap(_.ops)
    val walls = samples.map(_.span.length / 1000).sorted.toVector
    val (tail, tailPct) = Stats.tail(walls)
    def p50(name: String) = Stats.median(samples.filter(_.name == name).map(_.span.length / 1000).toVector)
    val endToEnd = Map(
      "setup_s" -> Stats.median(setupMs.toSeq) / 1000,
      "pass_s" -> Stats.median(timed.map(_.wallMs / 1000).toSeq),
      "op_p50_s" -> Stats.quantile(walls, 0.5),
      "op_tail_s" -> tail,
      "heap_live_mb" -> heapMb)

    val all = setupOps ++ passes.flatMap(_.ops)
    val failures = all.collect { case o if o.failure.nonEmpty =>
      Map("pass" -> o.pass, "op" -> o.name, "error" -> o.failure.get) }
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "queries" -> workload.queries, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> nproc,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "sql_conf" -> conf,
      "attempted" -> all.size, "failed" -> failures.size, "failures" -> failures,
      "end_to_end" -> endToEnd,
      "op_samples" -> walls.size, "op_tail_percentile" -> tailPct,
      "setup" -> Map("cycles_s" -> setupMs.map(_ / 1000), "session_start_ms" -> startMs,
        "first_cycle_s" -> setupMs.head / 1000, "excluded_s" -> excludedMs.map(_ / 1000)),
      "passes" -> passes.map(p => Map("pass" -> p.no, "traced" -> p.traced,
        "wall_s" -> p.wallMs / 1000, "ops" -> p.ops.size,
        "op_s" -> p.ops.map(o => Seq(o.name, o.span.length / 1000)),
        "blocks_after_sweep" -> p.blocksAfterSweep)),
      "op_p50_by_name_s" -> samples.map(_.name).distinct.map(n => n -> p50(n)).toMap,
      // cold builds of memoized artifacts and scratch stores, apart from
      // the warm reuse above: each op's time in each setup cycle
      "setup_op_s" -> setupOps.groupBy(_.name).map { case (n, os) =>
        n -> os.map(o => Map("cycle" -> -o.pass, "s" -> o.span.length / 1000)) },
      "result_rows" -> resultRows, "facts" -> facts)
    if (traced) {
      val tracedPasses = passes.filter(_.traced)
      record("per_layer") = PerLayer(tracedPasses.toSeq, timed.toSeq, layers.toSeq,
        startMs.toSeq, resultRows.toMap, facts.toMap, p50)
      record("accounting_ms") = tracedPasses.flatMap(_.ops).zip(layers.map(_._2)).map {
        case (o, l) => Map("pass" -> o.pass, "op" -> o.name, "wall" -> l.wall,
          "layers" -> l.accounting)
      }
      Files.write(Paths.get(opt("spans")),
        spans.map(s => Json.render(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs)))
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    record("jvm_wall_s") = (clock.now - jvmStart) / 1000
    Files.writeString(Paths.get(opt("record")), Json.render(record))
    // local mode: the executors are threads of this JVM and every file the
    // session wrote is under the run directory run.py deletes, so the JVM
    // exits without the second or two of an orderly context shutdown
    Runtime.getRuntime.halt(0)
  }

  private def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case NonFatal(e) =>
      Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}")
    }

  private def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).map(_.toDouble).toSeq
    catch { case NonFatal(_) => Nil }
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Harrell-Davis estimate of the `p` quantile of `sorted`: the mean of
    * all order statistics, weighted by the Beta((n+1)p, (n+1)(1-p))
    * distribution. It estimates the same quantile as the single order
    * statistic at that rank, but neighbouring samples contribute too, so
    * it spreads less from run to run when the ops of a pass differ in
    * latency and the samples cluster by op. */
  def quantile(sorted: Seq[Double], p: Double): Double = {
    val n = sorted.size
    if (n == 0) return Double.NaN
    val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
    def cdf(x: Double) = Beta.regularizedBeta(x, a, b)
    sorted.indices.map(i => sorted(i) * (cdf((i + 1.0) / n) - cdf(i.toDouble / n))).sum
  }

  /** The latency at the highest percentile rank with at least ten samples
    * above it, estimated by [[quantile]], and that rank. Below 20 samples
    * the rank would fall under the median, and the maximum (rank 100) is
    * reported instead. */
  def tail(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n < 20) (sorted.last, 100.0)
    else (quantile(sorted, (n - 10.0) / n), 100.0 * (n - 10) / n)
  }
}
