package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener side of the traced run: records SQL executions, jobs, stages
  * and task totals as the listener bus delivers them, keyed so that
  *
  *  - a task belongs to the stage its event names,
  *  - a stage belongs to the job whose `SparkListenerJobStart.stageInfos`
  *    lists it (the newest such job still running when it is submitted),
  *  - a job belongs to the SQL execution named by its
  *    `spark.sql.execution.id` property and to the op named by the
  *    harness's [[Tracer.OpProperty]] local property.
  *
  * A `QueryExecutionListener` adds each execution's planning phases
  * (`QueryPlanningTracker`) and, for file writes, the writer's file and
  * byte counts. Nothing is aggregated here; [[Layers]] turns a snapshot
  * into spans and per-layer figures. Records are kept in memory only. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  private val jobStages = mutable.HashMap.empty[Int, Set[Int]]
  private val plans = mutable.HashMap.empty[Long, PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val ids = e.stageInfos.map(_.stageId).toSet
    jobStages(e.jobId) = ids
    jobs(e.jobId) = JobRec(e.jobId, e.time,
      prop(OpProperty).map(_.toLong).getOrElse(-1L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), ids)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val owners = jobStages.collect {
      case (job, ids) if ids(info.stageId) && jobs.get(job).exists(_.end < 0) => job
    }
    val job = if (owners.nonEmpty) owners.max else -1
    val s = stages.getOrElseUpdate(info.stageId, StageRec(info.stageId, job, info.numTasks))
    s.start = info.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        execs(e.executionId) = ExecRec(e.executionId, e.time.toDouble)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach { x =>
          x.end = e.time.toDouble
          x.planId = endQueryId(e)
        }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    val writes = writeCommands(qe.executedPlan)
    def sum(k: String) = writes.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
    val rec = PlanRec(phases, writes.size, sum("numFiles"), sum("numOutputBytes"))
    synchronized { plans(qe.id) = rec }
  }

  /** Everything recorded since the last [[clear]]. Call after [[detach]],
    * when no further events can arrive. */
  def snapshot(): Tracer.Snapshot = synchronized {
    execs.values.foreach(x => x.plan = x.planId.flatMap(plans.get))
    Tracer.Snapshot(jobs.values.toVector, stages.values.toVector, execs.values.toVector)
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); execs.clear(); jobStages.clear(); plans.clear()
  }

  def attach(spark: SparkSession): Unit = {
    spark.listenerManager.register(this)
    spark.sparkContext.addSparkListener(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  /** Local property through which the harness stamps every job with the
    * id of the op that launched it. */
  val OpProperty = "perfbench.op"

  final case class JobRec(id: Int, start: Long, op: Long, exec: Long, stageIds: Set[Int]) {
    var end: Long = -1L
  }

  final case class StageRec(id: Int, job: Int, numTasks: Int) {
    var start: Double = Double.NaN
    var end: Double = Double.NaN
    var tasks, failedTasks: Int = 0
    var taskMs, gcMs, shuffleRead, shuffleWrite, spill: Long = 0L
    var inputBytes, inputRecords, outputBytes: Long = 0L
  }

  /** Planning phases (name → start, end in epoch ms) and file-write totals
    * of one `QueryExecution`. */
  final case class PlanRec(phases: Map[String, (Double, Double)], writeCommands: Int,
                           filesWritten: Long, bytesWritten: Long)

  final case class ExecRec(id: Long, start: Double) {
    var end: Double = Double.NaN
    var planId: Option[Long] = None
    var plan: Option[PlanRec] = None
  }

  final case class Snapshot(jobs: Vector[JobRec], stages: Vector[StageRec], execs: Vector[ExecRec])

  /** The `QueryExecution` travels on the end event in a field Scala code
    * outside Spark's sql package cannot name; its id links the execution
    * to the phases the `QueryExecutionListener` recorded. */
  private def endQueryId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    try Option(e.getClass.getMethod("qe").invoke(e)).collect { case q: QueryExecution => q.id }
    catch { case _: ReflectiveOperationException => None }

  private def writeCommands(plan: SparkPlan): Seq[DataWritingCommandExec] = {
    val out = mutable.ArrayBuffer.empty[DataWritingCommandExec]
    def walk(p: SparkPlan): Unit = {
      p match {
        case w: DataWritingCommandExec => out += w
        case _ =>
      }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.innerChildren.collect { case s: SparkPlan => s }
      }
      (p.children ++ inner).foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}
