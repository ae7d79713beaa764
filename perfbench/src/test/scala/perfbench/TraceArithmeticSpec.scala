package perfbench

import java.util.Properties

import org.apache.spark.{Success, TaskEndReason, TaskResultLost}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.scalatest.funsuite.AnyFunSuite

/** Feeds the tracer a synthetic event sequence shaped like the store-band
  * ingest queries: one SQL execution whose two jobs overlap in time, as
  * AQE runs them, and checks attribution and the interval arithmetic. */
class TraceArithmeticSpec extends AnyFunSuite {

  private def stage(id: Int, tasks: Int, start: Long, end: Long): StageInfo = {
    val s = new StageInfo(id, 0, s"stage $id", tasks, Seq.empty, Seq.empty, "",
      resourceProfileId = 0)
    s.submissionTime = Some(start)
    s.completionTime = Some(end)
    s
  }

  private def props(op: Long, exec: Long): Properties = {
    val p = new Properties()
    p.setProperty(Tracer.OpProperty, op.toString)
    p.setProperty("spark.sql.execution.id", exec.toString)
    p
  }

  private def task(stageId: Int, id: Long, reason: TaskEndReason) =
    SparkListenerTaskEnd(stageId, 0, "ResultTask", reason,
      new TaskInfo(id, 0, 0, 0, 0L, "0", "localhost", TaskLocality.PROCESS_LOCAL, false),
      null, null)

  private val op = 7L
  private val s100 = stage(100, 2, 1012, 1100)
  private val s101 = stage(101, 1, 1100, 1195)
  private val s102 = stage(102, 1, 1052, 1148)

  private def traced(): Tracer.Snapshot = {
    val t = new Tracer
    val plan = new SparkPlanInfo("noop", "noop", Seq.empty, Map.empty, Seq.empty)
    t.onOtherEvent(SparkListenerSQLExecutionStart(1L, Some(1L), "write", "", "", plan,
      1006L, Map.empty, Set.empty, None))
    t.onJobStart(SparkListenerJobStart(10, 1010L, Seq(s100, s101), props(op, 1)))
    t.onStageSubmitted(SparkListenerStageSubmitted(s100))
    t.onJobStart(SparkListenerJobStart(11, 1050L, Seq(s102), props(op, 1)))
    t.onStageSubmitted(SparkListenerStageSubmitted(s102))
    t.onTaskEnd(task(100, 1, Success))
    t.onTaskEnd(task(100, 2, Success))
    t.onTaskEnd(task(102, 3, TaskResultLost))
    t.onStageCompleted(SparkListenerStageCompleted(s100))
    t.onStageSubmitted(SparkListenerStageSubmitted(s101))
    t.onTaskEnd(task(101, 4, Success))
    t.onStageCompleted(SparkListenerStageCompleted(s102))
    t.onJobEnd(SparkListenerJobEnd(11, 1150L, JobSucceeded))
    t.onStageCompleted(SparkListenerStageCompleted(s101))
    t.onJobEnd(SparkListenerJobEnd(10, 1200L, JobSucceeded))
    t.onOtherEvent(SparkListenerSQLExecutionEnd(1L, 1210L, None))
    t.snapshot()
  }

  private val opSpan = Span(op, 0, op, "x40_daily_ingest", 990, 1300)
  private val harness = Seq(
    Span(1, op, op, "queries.build", 990, 1005),
    Span(2, op, op, "action", 1005, 1250),
    Span(3, op, op, "Housekeeping.sweep", 1250, 1290))

  test("tasks map to stages and stages to the job that lists them") {
    val snap = traced()
    assert(snap.stages.map(s => s.id -> s.job).toMap === Map(100 -> 10, 101 -> 10, 102 -> 11))
    assert(snap.stages.map(s => s.id -> s.tasks).toMap === Map(100 -> 2, 101 -> 1, 102 -> 1))
    assert(snap.stages.find(_.id == 102).get.failedTasks === 1)
    assert(snap.jobs.forall(j => j.exec == 1L && j.op == op))
  }

  test("overlapping jobs count once; layer self times add up to the op's wall") {
    var id = 100L
    val (tree, l) = Layers.forOp(opSpan, harness, traced(), () => { id += 1; id })
    assert(l.wall === 310.0)
    assert(l.jobs === 2 && l.stages === 3 && l.tasks === 4 && l.failedTasks === 1)
    // job 10 covers 1010..1200 and job 11 (1050..1150) lies inside it
    assert(l.jobUnion === 190.0)
    // 310 ms of wall minus construction (15) and the job union (190)
    assert(l.driver === 105.0)
    assert(l.buildSelf === 15.0 && l.buildJobs === 0)
    assert(l.singleTaskStages === 2)
    assert(l.accounting === Map("op" -> 10.0, "harness" -> 96.0, "sql.execution" -> 14.0,
      "plans" -> 0.0, "job" -> 7.0, "stage" -> 183.0))
    assert(l.accounting.values.sum === l.wall)
    // the action's self time is what its SQL execution does not cover
    val action = tree.find(_.name == "action").get
    assert(Spans.selfTime(action, tree.filter(_.parent == action.id)) === 41.0)
    // jobs hang off their execution, stages off their jobs
    val exec = tree.find(_.name == "sql.execution").get
    assert(exec.parent === action.id)
    assert(tree.filter(_.name == "job").forall(_.parent == exec.id))
    assert(tree.filter(_.name == "stage").size === 3)
  }

  test("interval union and self time") {
    assert(Spans.union(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0))) === 25.0)
    assert(Spans.union(Seq((3.0, 4.0), (0.0, 10.0))) === 10.0)
    val parent = Span(1, 0, 1, "p", 0, 100)
    val kids = Seq(Span(2, 1, 1, "a", 10, 60), Span(3, 1, 1, "b", 40, 80), Span(4, 1, 1, "c", 90, 120))
    assert(Spans.selfTime(parent, kids) === 100.0 - 70.0 - 10.0)
  }
}
