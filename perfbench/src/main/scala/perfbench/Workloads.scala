package perfbench

import graft.SparkEntry

/** One unit of client work. `run` is the timed call; `after` runs untimed
  * after every execution (bookkeeping a workload needs, such as listing a
  * store's files); `check` runs untimed in the checked setup cycle and
  * throws when the op's output is wrong. */
final case class Op(name: String, run: Run => Unit,
                    after: Run => Unit = _ => (),
                    check: Run => Unit = _ => ())

/** A named workload: for each session it yields the op list of every pass
  * in the seeded order. */
trait Workload {
  def name: String
  /** Queries whose outputs are digested against the oracle reference. */
  def queries: Seq[String]
  def open(run: Run): Int => Seq[Op]
}

/** A closed loop over a fixed set of declared queries, each built through
  * `SparkEntry.queries` and executed through the noop sink. The seed fixes
  * the order of the queries within each pass. In the checked cycle the
  * action writes the result to parquet instead, for the digest check, so
  * the check adds no second execution. */
final class QueryWorkload(val name: String, val queries: Seq[String], seed: Long)
    extends Workload {

  def open(run: Run): Int => Seq[Op] =
    pass => new scala.util.Random(seed * 7919L + pass).shuffle(queries).map(op)

  private def op(q: String): Op = Op(q,
    run = r => {
      val df = r.span("queries.build")(SparkEntry.queries(q)(r.spark, r.corpus))
      r.span("action") {
        if (r.checking) df.coalesce(1).write.mode("overwrite").parquet(s"${r.checkDir}/$q")
        else df.write.format("noop").mode("overwrite").save()
      }
    },
    check = r => r.resultRows(q) = r.spark.read.parquet(s"${r.checkDir}/$q").count())
}

object Workloads {
  /** Short analytical reads, one from each of the relational, window,
    * metric, flagship and market query modules; per-op fixed cost
    * dominates. */
  val Analytics: Seq[String] = Seq(
    "a1_count_by", "w8_gap_sessions", "a11_ols_fit", "e1_stability_matrix",
    "c3b_team_projection")

  val names: Seq[String] = Seq("analytics", "etl")

  /** A benchmark workload by name, or `queries:<name>,<name>...` for an
    * ad-hoc closed loop over any declared queries (for diagnosis; not a
    * benchmark workload and without oracle digests). */
  def apply(name: String, seed: Long): Workload = name match {
    case "analytics" => new QueryWorkload(name, Analytics, seed)
    case "etl" => new EtlWorkload(seed)
    case adhoc if adhoc.startsWith("queries:") =>
      new QueryWorkload(adhoc, adhoc.stripPrefix("queries:").split(',').toSeq, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }
}
