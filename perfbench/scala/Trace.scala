package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** One traced call into a layer: `System.nanoTime` interval, the span that
  * caused it (-1 for a root) and the run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    start: Long, end: Long) {
  def nanos: Long = end - start
}

/** What Spark did inside one span (its own work, not its children's). */
final class SpanWork {
  var jobs = 0
  var shuffleBytes = 0L
  var planningMs = 0.0
  var rowsOut = 0L
  val plans = mutable.ArrayBuffer.empty[SparkPlan]
}

object Spans {
  /** A span's self time: its duration minus the part of it that the union
    * of its children's intervals covers. */
  def selfNanos(s: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var lo = 0L; var hi = 0L; var open = false
    for ((a, b) <- iv) {
      if (open && a <= hi) hi = math.max(hi, b)
      else {
        if (open) covered += hi - lo
        lo = a; hi = b; open = true
      }
    }
    if (open) covered += hi - lo
    s.nanos - covered
  }
}

/** Plan queries over executed (adaptive) plans. */
object Plans extends AdaptiveSparkPlanHelper {
  private def rows(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  /** First `numOutputRows` at or below `p`, depth first. */
  private def rowsBelow(p: SparkPlan): Long =
    rows(p).getOrElse(
      allChildren(p).iterator.map(rowsBelow).find(_ >= 0).getOrElse(-1L))

  /** (rows in, rows out) of every filter or join whose condition mentions
    * `fn`: what reached the predicate and what passed it. A join's input
    * is its left (streamed, candidate-pair) side. */
  def predicateIO(plan: SparkPlan, fn: String): (Long, Long) = {
    val hits = collect(plan) {
      case f: FilterExec if f.condition.sql.toLowerCase.contains(fn) =>
        (rowsBelow(f.child), rows(f).getOrElse(0L))
      case j: BaseJoinExec
          if j.condition.exists(_.sql.toLowerCase.contains(fn)) =>
        (rowsBelow(j.left), rows(j).getOrElse(0L))
    }
    (hits.map(_._1).sum, hits.map(_._2).sum)
  }
}

/** Span recorder with Spark attribution. Jobs, stages and tasks are keyed
  * to a span by the `perfbench.span` local property set around each
  * call; query planning phases arrive through a [[QueryExecutionListener]]
  * while the span is open (the listener bus is drained before a span
  * closes). Adaptive query plans are kept through [[Tracer.extensions]],
  * which also sees queries run as RDDs (`Dataset.rdd`), where no query
  * listener is called. Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession, val run: String) {
  import Tracer.Prop
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val work = TrieMap.empty[Int, SpanWork]
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile private var current = -1
  private val stageSpan = TrieMap.empty[Int, Int]
  private val stageReads = TrieMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val spilled = new java.util.concurrent.atomic.AtomicLong
  private var gcAtStart = 0L

  private def workOf(id: Int): SpanWork = work.getOrElseUpdate(id, new SpanWork)

  private val listener = new SparkListener {
    override def onJobStart(ev: SparkListenerJobStart): Unit =
      Option(ev.properties).flatMap(p => Option(p.getProperty(Prop)))
        .foreach { s =>
          val id = s.toInt
          val w = workOf(id)
          w.synchronized(w.jobs += 1)
          ev.stageIds.foreach(stageSpan.put(_, id))
        }
    override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
      val m = ev.taskMetrics
      if (m != null) {
        spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        stageSpan.get(ev.stageId).foreach { id =>
          val w = workOf(id)
          w.synchronized(w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
        }
        val read = m.shuffleReadMetrics.totalBytesRead
        if (read > 0) {
          val b = stageReads.getOrElseUpdate(ev.stageId, mutable.ArrayBuffer.empty)
          b.synchronized(b += read)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val id = current
      if (id >= 0) {
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        val w = workOf(id)
        w.synchronized(w.planningMs += ms)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Keep an adaptive plan, planned on a thread inside a span, with
    * that span; its final stages are read after they ran. */
  private def keepPlan(p: SparkPlan): Unit =
    Option(sc.getLocalProperty(Prop)).foreach { s =>
      val w = workOf(s.toInt)
      w.synchronized(if (!w.plans.exists(_ eq p)) w.plans += p)
    }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    Tracer.active = Some(this)
    gcAtStart = Tracer.gcMillis()
  }

  /** Detach from Spark; returns the JVM's GC seconds while attached. */
  def stop(): Double = {
    drain()
    Tracer.active = None
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    (Tracer.gcMillis() - gcAtStart) / 1000.0
  }

  private def drain(): Unit =
    org.apache.spark.graftshims.ListenerBridge.waitUntilEmpty(sc, 30000L)

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val t0 = System.nanoTime()
    stack = id :: stack
    sc.setLocalProperty(Prop, id.toString)
    current = id
    try body
    finally {
      drain()
      spans += Span(id, name, parent, run, t0, System.nanoTime())
      stack = stack.tail
      val up = stack.headOption
      sc.setLocalProperty(Prop, up.map(_.toString).orNull)
      current = up.getOrElse(-1)
    }
  }

  /** Materialize `df` inside the open span and record its row count. */
  def materialize(df: DataFrame): DataFrame = {
    val m = df.localCheckpoint()
    outRows(m.count())
    m
  }

  def outRows(n: Long): Unit = {
    val w = workOf(current)
    w.synchronized(w.rowsOut += n)
  }

  def selfSeconds(s: Span): Double =
    Spans.selfNanos(s, spans.filter(_.parent == s.id).toSeq) / 1e9

  def spilledBytes: Long = spilled.get()

  /** Max ÷ median task shuffle read of the stage that read the most. */
  def shuffleSkew: Double = {
    val reads = stageReads.values.map(b => b.synchronized(b.toVector))
      .filter(_.size >= 2)
    if (reads.isEmpty) 1.0
    else {
      val v = reads.maxBy(_.sum)
      val med = Stats.median(v.map(_.toDouble))
      if (med <= 0) 1.0 else v.max / med
    }
  }

  /** One JSON object per span, one per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = work.getOrElse(s.id, new SpanWork)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""run":"${s.run}","start_ns":${s.start},"end_ns":${s.end},""" +
        f""""self_s":${selfSeconds(s)}%.6f,"jobs":${w.jobs},""" +
        f""""planning_ms":${w.planningMs}%.3f,""" +
        f""""shuffle_bytes":${w.shuffleBytes},"rows_out":${w.rowsOut}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }
}

object Tracer {
  val Prop = "perfbench.span"

  @volatile private var active: Option[Tracer] = None

  /** Session extension that hands every adaptive plan root to the open
    * tracer. The columnar rules run on the root right after the adaptive
    * wrapper is inserted, for `Dataset.rdd` as for actions, and the root
    * is the instance that runs; without an open tracer it does nothing. */
  def extensions(e: SparkSessionExtensions): Unit =
    e.injectColumnar(_ => new ColumnarRule {
      override val preColumnarTransitions: Rule[SparkPlan] = new Rule[SparkPlan] {
        def apply(p: SparkPlan): SparkPlan = {
          p match {
            case a: AdaptiveSparkPlanExec => active.foreach(_.keepPlan(a))
            case _ =>
          }
          p
        }
      }
    })

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
