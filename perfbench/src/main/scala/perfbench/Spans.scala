package perfbench

/** One traced interval. Times are epoch milliseconds as doubles, so harness
  * spans (measured with `System.nanoTime`) and Spark listener events
  * (millisecond wall clock) share one axis. Every span of one op carries
  * that op's id; `parent` is the id of the enclosing span (0 for an op). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty) {
  def length: Double = math.max(0.0, end - start)
}

object Spans {

  /** Total length covered by `ivs`: overlapping intervals count once. */
  def union(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** `ivs` cut to the window [lo, hi]. */
  def clip(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }

  /** A span's self time: its length minus the part of it its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.length - union(clip(children.map(c => (c.start, c.end)), span.start, span.end))

  /** Splits `window` among layers listed outermost first: each instant goes
    * to the deepest layer with an interval covering it, or to the window
    * itself when none does (the head of the result). The parts therefore
    * sum to the window's length, however the intervals of one layer
    * overlap one another. */
  def exclusive(window: Span, layers: Seq[Seq[(Double, Double)]]): Seq[Double] = {
    val covered = layers.indices.map { i =>
      union(clip(layers.drop(i).flatten, window.start, window.end))
    } :+ 0.0
    (window.length - covered.head) +: layers.indices.map(i => covered(i) - covered(i + 1))
  }
}
