package perfbench

import org.apache.spark.sql.SparkSession
import java.io.File

/** `Main <workload> <seed> <seconds> <trace 0|1|classes> <workDir> <cpus>`.
  *
  * Untraced: set the workload up [[SetupRuns]] times, each on a fresh
  * session (the last one stays), warm it up untimed,
  * measure it for `seconds`, check its outputs, and print the end-to-end
  * metrics. Traced: set up and warm up every workload, run it for a third
  * of `seconds` untraced and then traced, and print the per-layer metrics
  * of all of them, so that each traced run reports the full per-layer
  * set. `classes` is a traced run without warm-ups, which loads every
  * class a run loads; it exists for the class-data-sharing dump. The
  * result object is the last stdout line. */
object Main {
  val SetupRuns = 3

  def session(work: File, cpus: Int): SparkSession =
    graft.core.SessionDefaults(SparkSession.builder()
      .withExtensions(Tracer.extensions)
      .master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString))
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val code = try {
      val Array(wl, seed, seconds, trace, work, cpus) = args
      Workload.named(wl) // reject an unknown name before any work
      val out =
        if (trace != "0") traced(wl, seed.toLong, seconds.toDouble,
          new File(work), cpus.toInt, warm = trace == "1")
        else untraced(wl, seed.toLong, seconds.toDouble, new File(work),
          cpus.toInt)
      println(out)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def untraced(wl: String, seed: Long, seconds: Double, work: File,
      cpus: Int): String = {
    val w = Workload.named(wl)
    var spark: SparkSession = null
    val setups = (0 until SetupRuns).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work, cpus)
      spark.sparkContext.setLogLevel("ERROR")
      w.setup(Ctx(spark, seed, new File(work, s"$wl-$k"), cpus))
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up $k took $s%.3f s")
      s
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val host0 = Host.cpu()
    val m = w.measure(seconds, None)
    System.err.println(f"perfbench: ${m.ops} operations in ${m.wallS}%.3f s")
    val heapMb = Host.liveHeapMb()
    val env = Host.env(host0, Host.cpu())
    val wrong = w.check()
    val tail = Stats.tailPercentile(m.latMs.size).filter(_ > 50).map(p =>
      s"""{"pct":$p,"ms":${fmt(Stats.quantile(m.latMs, p / 100))}}""")
    println(s"""{"workload":"$wl","seed":$seed,"inputs":${obj(w.inputs)},""" +
      s""""ops":${m.ops},"items_per_s":${fmt(m.items / m.wallS)},""" +
      s""""op_ms":[${m.latMs.map(fmt).mkString(",")}],""" +
      s""""op_tail":${tail.getOrElse("null")},""" +
      s""""setup_runs_s":[${setups.map(fmt).mkString(",")}],""" +
      s""""warmup_s":${fmt(warmS)},""" +
      s""""env":${obj(env.map(x => x.name -> fmt(x.value)))}}""")
    spark.stop()
    // throughput is not a metric of its own: operations run one at a time,
    // so items per second is items per operation over mean latency and
    // would only add a second noisy comparison of the same quantity
    result(m.ops, m.failed + wrong, Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("op_p50_ms", Stats.median(m.latMs), "ms"),
      Metric("live_heap_mb", heapMb, "MB")))
  }

  private def traced(wl: String, seed: Long, seconds: Double, work: File,
      cpus: Int, warm: Boolean): String = {
    val spark = session(work, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val pass = math.max(1.0, seconds / 3)
    val spanFile = new File(work.getParentFile, s"trace/spans-$wl-$seed.jsonl")
    spanFile.delete()
    var attempted = 0
    var failed = 0
    val host0 = Host.cpu()
    val metrics = Workload.all.map(_()).flatMap { w =>
      w.setup(Ctx(spark, seed, new File(work, w.name), cpus))
      if (warm) w.warmUp()
      val plain = w.measure(pass, None)
      val tr = new Tracer(spark, s"${w.name}-$seed")
      tr.start()
      val m = w.measure(pass, Some(tr))
      val gcS = tr.stop()
      tr.write(spanFile.toPath)
      attempted += plain.ops + m.ops
      failed += plain.failed + m.failed + w.check() + w.checkTrace(tr)
      w.layers(tr, m, gcS) :+ Metric(s"${w.name}.tracing_overhead_pct",
        (Stats.median(m.latMs) / Stats.median(plain.latMs) - 1) * 100, "%")
    }
    val env = Host.env(host0, Host.cpu())
    spark.stop()
    println(s"""{"workload":"$wl","seed":$seed,"spans":"${spanFile.getName}"}""")
    result(attempted, failed, metrics ++ env)
  }

  private def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "0"
    else java.math.BigDecimal.valueOf(x).stripTrailingZeros.toPlainString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${Workload.json(k)}:$v" }.mkString("{", ",", "}")

  private def result(attempted: Int, failed: Int, ms: Seq[Metric]): String = {
    val bad = ms.map(_.name).filterNot(Stats.validName)
    require(bad.isEmpty, s"invalid metric names: $bad")
    val f = math.min(failed, math.max(1, attempted))
    val metrics = obj(ms.map(x => x.name ->
      s"""{"value":${fmt(x.value)},"unit":${Workload.json(x.unit)}}"""))
    s"""{"correct":${f == 0},"attempted":${math.max(1, attempted)},""" +
      s""""failed":$f,"metrics":$metrics}"""
  }
}

/** Host contention over a measured interval, read the way `graft.Bench`
  * reads it: `/proc/stat` aggregate jiffies and `/proc/loadavg`. */
object Host {
  final case class Cpu(total: Long, steal: Long, busy: Long)

  def cpu(): Cpu = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal; guest time is
    // already inside user/nice
    val total = f.take(8).sum
    val steal = if (f.length > 7) f(7) else 0L
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    Cpu(total, steal, total - idle - steal)
  } catch { case _: Exception => Cpu(0, 0, 0) }

  def load1(): Double = try {
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/loadavg"))
      .get(0).split(" ")(0).toDouble
  } catch { case _: Exception => 0.0 }

  def env(a: Cpu, b: Cpu): Seq[Metric] = {
    val tot = math.max(1L, b.total - a.total).toDouble
    Seq(Metric("env.steal_pct", (b.steal - a.steal) * 100 / tot, "%"),
      Metric("env.busy_pct", (b.busy - a.busy) * 100 / tot, "%"),
      Metric("env.load1", load1(), "procs"))
  }

  /** Heap still in use after a full collection, in MB. The pause between
    * collections lets Spark's ContextCleaner drop the blocks of frames
    * the first collection found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
