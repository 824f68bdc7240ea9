package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** What a workload's set-up hands it. `dir` is this workload's own
  * scratch directory inside the run's work directory. */
final case class Ctx(spark: SparkSession, seed: Long, dir: java.io.File,
    cpus: Int)

/** One timed region: per-operation latencies, input items completed,
  * operations that failed while running, and the region's wall time. */
final case class Measured(latMs: Vector[Double], items: Long, failed: Int,
    wallS: Double) {
  def ops: Int = latMs.size + failed
}

final case class Metric(name: String, value: Double, unit: String)

trait Workload {
  def name: String
  /** Build and materialize inputs on `c.spark`; timed as `setup_s`. */
  def setup(c: Ctx): Unit
  /** One untimed operation, so the timed region starts with compiled
    * code and filled caches. */
  def warmUp(): Unit
  /** Run operations for about `seconds`; traced when `tr` is given. */
  def measure(seconds: Double, tr: Option[Tracer]): Measured
  /** Check every output recorded since set-up, off the clock; returns
    * the number of operations whose output was wrong. */
  def check(): Int
  /** Check what a traced [[measure]] recorded against the planted
    * structure; returns the number of operations that fail it. */
  def checkTrace(tr: Tracer): Int = 0
  /** Input sizes and planted rates, as JSON members. */
  def inputs: Seq[(String, String)]
  /** Per-layer metrics of a traced [[measure]]; `gcS` is its GC time. */
  def layers(tr: Tracer, m: Measured, gcS: Double): Seq[Metric]
}

object Workload {
  val all: Seq[() => Workload] =
    Seq(() => new Curate, () => new RecoSar)

  def named(n: String): Workload =
    all.map(_()).find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload $n"))

  /** Run `op` back to back until `seconds` have passed (at least once).
    * `op` returns the items it completed; an exception counts as one
    * failed operation. */
  def loop(seconds: Double)(op: Int => Long): Measured = {
    val lat = ArrayBuffer.empty[Double]
    var items = 0L
    var failed = 0
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || System.nanoTime() - t0 < seconds * 1e9) {
      val s = System.nanoTime()
      try {
        items += op(i)
        lat += (System.nanoTime() - s) / 1e6
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"operation $i failed: $e")
      }
      i += 1
    }
    Measured(lat.toVector, items, failed, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body` as span `name` when traced, with its output materialized
    * inside the span; untraced, return the lazy frame. */
  def step(tr: Option[Tracer], name: String)(df: => DataFrame): DataFrame =
    tr match {
      case None => df
      case Some(t) => t.span(name)(t.materialize(df))
    }

  def spanned[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr match {
      case None => body
      case Some(t) => t.span(name)(body)
    }

  /** The standard per-span set: median over the traced pass's spans of
    * that name of each value. */
  def jobSpans(tr: Tracer, prefix: String, names: Seq[String]): Seq[Metric] =
    names.flatMap { n =>
      val ss = tr.spans.filter(_.name == n).toSeq
      val ws = ss.map(s => tr.work.getOrElse(s.id, new SpanWork))
      def med(f: SpanWork => Double) = Stats.median(ws.map(f))
      Seq(
        Metric(s"$prefix.$n.busy_s", Stats.median(ss.map(tr.selfSeconds)), "s"),
        Metric(s"$prefix.$n.planning_ms", med(_.planningMs), "ms"),
        Metric(s"$prefix.$n.jobs", med(_.jobs.toDouble), "count"),
        Metric(s"$prefix.$n.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes"),
        Metric(s"$prefix.$n.rows_out", med(_.rowsOut.toDouble), "rows"))
    }

  def engine(prefix: String, tr: Tracer, gcS: Double): Seq[Metric] = Seq(
    Metric(s"$prefix.engine.gc_s", gcS, "s"),
    Metric(s"$prefix.engine.spill_bytes", tr.spilledBytes.toDouble, "bytes"),
    Metric(s"$prefix.engine.shuffle_skew", tr.shuffleSkew, "ratio"))

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
