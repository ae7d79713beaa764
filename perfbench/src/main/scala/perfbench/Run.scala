package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Epoch milliseconds at nanosecond resolution, on the same axis as Spark's
  * listener timestamps. */
final class Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def now: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** What an op sees of the harness: the session, the corpus, its scratch
  * directory, and recorders for spans and counters. Spans recorded here
  * become children of the current op's span. */
final class Run(val spark: SparkSession, val corpus: String, val dir: String,
                val checkDir: String, val checking: Boolean,
                /** Rows each op returns, by op name, for rows-per-result. */
                val resultRows: mutable.Map[String, Long],
                /** Figures measured once per run, in the checked cycle. */
                val facts: mutable.Map[String, Double],
                clock: Clock, ids: java.util.concurrent.atomic.AtomicLong) {
  private[perfbench] var opId = 0L
  private[perfbench] val spans = mutable.ArrayBuffer.empty[Span]
  private[perfbench] val counters = mutable.Map.empty[String, Double]
  /** Wall time spent on benchmark-side work (input preparation, checks). */
  private[perfbench] var excludedMs = 0.0

  def span[T](name: String)(body: => T): T = {
    val start = clock.now
    try body
    finally spans += Span(ids.incrementAndGet(), opId, opId, name, start, clock.now)
  }

  def untimed[T](body: => T): T = {
    val start = clock.now
    try body finally excludedMs += clock.now - start
  }

  def add(key: String, v: Double): Unit = counters(key) = counters.getOrElse(key, 0.0) + v
  def max(key: String, v: Double): Unit = counters(key) = math.max(counters.getOrElse(key, v), v)
}

object Run {
  /** Number and total bytes of the parquet data files under `dir`. */
  def dataFiles(dir: String): (Int, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0, 0L)
    val s = java.nio.file.Files.walk(root)
    try {
      val files = s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".")
      }.toVector
      (files.size, files.map(p => java.nio.file.Files.size(p)).sum)
    } finally s.close()
  }

}
