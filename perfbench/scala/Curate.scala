package perfbench

import graft.dedup.{CanonicalSelector, DuplicateClusterer, ExactDeduplicator}
import graft.io.binary.TokenShards
import graft.io.warc.WarcFiles
import graft.text.{ConcatChunker, GopherSignals, Recipes}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Crawl to training shards over one seeded crawl: WARC read → URL
  * blocklist / HTML extraction / mojibake repair / C4 → Gopher word gate
  * → exact dedup → near-dup clusters + canonical pick → shuffle-ordered
  * context windows → token shards. One operation is the whole job. */
final class Curate extends Workload {
  val name = "curate_batch"
  val Sources = 1000
  val ContextLen = 256
  val spans = Seq("io.warc.read", "text.extract", "text.quality",
    "dedup.exact", "dedup.near", "text.order", "io.binary.write")

  private var c: Ctx = _
  private var crawl: Gen.Crawl = _
  private var warcDir: String = _
  private var htmlBytes = 0L
  private val outputs = ArrayBuffer.empty[String]

  /** Generate the crawl and write it as WARC segments of at most 1 MiB. */
  def setup(ctx: Ctx): Unit = {
    c = ctx
    val spark = c.spark
    import spark.implicits._
    outputs.clear()
    crawl = Gen.crawl(c.seed, Sources)
    htmlBytes = crawl.pages.map(_.html.length.toLong).sum
    warcDir = new java.io.File(c.dir, "crawl").toString
    val responses = crawl.pages.map(p => (p.url,
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
        p.html).getBytes("UTF-8")))
      .toDF("uri", "bytes").repartition(c.cpus * 2)
    WarcFiles.write(responses, warcDir, maxShardBytes = 1L << 20)
  }

  /** Two jobs: after one, the first timed job still ran 15-25% slower
    * than the next while the JIT finished compiling. */
  def warmUp(): Unit = for (k <- 0 until 2)
    job(warcDir, new java.io.File(c.dir, s"warm-out-$k").toString, None)

  /** The user's job. */
  private def job(in: String, out: String, tr: Option[Tracer]): Unit = {
    import Workload.step
    val spark = c.spark
    val pages = step(tr, "io.warc.read")(WarcFiles.read(spark, in)
      .select(col("uri").as("url"),
        decode(WarcFiles.httpBody(col("bytes")), "UTF-8").as("html")))
    val text = step(tr, "text.extract") {
      Recipes.webExtraction(blockedDomains = Seq(Gen.BlockedDomain))
        .fit(pages).transform(pages)
        .select(regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long")
          .as("doc_id"), col("text"))
    }
    val good = step(tr, "text.quality")(new GopherSignals().setInputCol("text")
      .transform(text).filter(col("gs_n_words") >= Gen.CurateMinWords)
      .select("doc_id", "text"))
    val unique = step(tr, "dedup.exact")(new ExactDeduplicator()
      .setInputCol("text").setIdCol("doc_id").transform(good))
    val canon = step(tr, "dedup.near") {
      val clustered = new DuplicateClusterer().setInputCol("text")
        .setIdCol("doc_id").setThreshold(0.8).transform(unique)
      new CanonicalSelector().setClusterCol("cluster_id").setIdCol("doc_id")
        .setScoreCol("__len")
        .transform(clustered.withColumn("__len", length(col("text"))))
        .select("doc_id", "text", "cluster_size")
    }
    val tokens = step(tr, "text.order") {
      val words = split(col("text"), "\\s+")
      new ConcatChunker().setInputCol("text").setIdCol("doc_id")
        .setContextLen(ContextLen).setSeed(c.seed.toString).setLengthCol("n_words")
        .transform(canon.withColumn("n_words", size(words)))
        .select(concat(
          array(col("doc_id").cast("int"), col("cluster_size").cast("int"),
            col("chunk_id").cast("int")),
          transform(slice(words, col("tok_start").cast("int") + 1,
            (col("tok_end") - col("tok_start")).cast("int")),
            w => pmod(xxhash64(w), lit(50000L)).cast("int"))).as("tokens"))
    }
    Workload.spanned(tr, "io.binary.write") {
      TokenShards.write(tokens, out, maxShardBytes = 4L << 20)
      tr.foreach(_.outRows(tokens.count()))
    }
  }

  def measure(seconds: Double, tr: Option[Tracer]): Measured =
    Workload.loop(seconds) { i =>
      val out = new java.io.File(c.dir, s"shards-${outputs.size}").toString
      Workload.spanned(tr, "op")(job(warcDir, out, tr))
      outputs += out
      crawl.pages.size.toLong
    }

  /** Survivors must be exactly one page per kept group, each carrying its
    * group's planted cluster size, and every output must hash the same. */
  def check(): Int = {
    val groupOf = crawl.pages.map(p => p.id -> p).toMap
    val keptGroups = crawl.pages.filter(_.fate == Gen.Keep).map(_.group).toSet
    var digest0: Option[Long] = None
    outputs.count { out =>
      val t = TokenShards.read(c.spark, out)
      val digest = t.agg(bit_xor(xxhash64(col("tokens")))).head().getLong(0)
      val surv = t.select(element_at(col("tokens"), 1).cast("long"),
        element_at(col("tokens"), 2).cast("int")).distinct().collect()
        .map(r => r.getLong(0) -> r.getInt(1))
      val pages = surv.map { case (id, _) => groupOf.get(id) }
      val groups = pages.flatten.map(_.group)
      val ok = pages.forall(_.exists(_.fate == Gen.Keep)) &&
        groups.length == groups.distinct.length &&
        groups.toSet == keptGroups &&
        surv.forall { case (id, size) =>
          crawl.clusterSize(groupOf(id).group) == size } &&
        digest0.forall(_ == digest)
      if (digest0.isEmpty) digest0 = Some(digest)
      if (!ok) System.err.println(s"$name: wrong output in $out " +
        s"(${surv.length} survivors, ${keptGroups.size} groups expected)")
      !ok
    }
  }

  def inputs: Seq[(String, String)] = {
    val n = crawl.pages.size.toDouble
    Seq("docs" -> crawl.pages.size.toString, "bytes" -> htmlBytes.toString,
      "groups" -> crawl.groups.toString,
      "exact_dup_rate" -> f"${crawl.exactCopies / n}%.4f",
      "near_dup_rate" -> f"${crawl.nearCopies / n}%.4f",
      "planted_drop_rate" -> f"${crawl.dropped / n}%.4f")
  }

  /** (candidate pairs, verified pairs) of each traced operation: the rows
    * into and out of the Jaccard predicate in the plans of its
    * `dedup.near` span. */
  private def nearPairs(tr: Tracer): Seq[(Long, Long)] =
    tr.spans.filter(_.name == "dedup.near").toSeq.map { s =>
      val io = tr.work.get(s.id).toSeq.flatMap(_.plans)
        .map(Plans.predicateIO(_, "sortedlongjaccard"))
      (io.map(_._1).sum, io.map(_._2).sum)
    }

  /** Every planted near copy joins its source through a verified pair, so
    * each traced operation must count at least that many verified pairs,
    * and no more than its candidates. */
  override def checkTrace(tr: Tracer): Int = {
    val pairs = nearPairs(tr)
    val bad = pairs.count { case (cand, ver) =>
      ver < crawl.nearCopies || ver > cand }
    if (pairs.isEmpty || bad > 0) System.err.println(s"$name: near-dup " +
      s"(candidate, verified) pairs per operation ${pairs.mkString(",")}, " +
      s"${crawl.nearCopies} near copies planted")
    if (pairs.isEmpty) 1 else bad
  }

  def layers(tr: Tracer, m: Measured, gcS: Double): Seq[Metric] = {
    val pairs = nearPairs(tr)
    val cand = Stats.median(pairs.map(_._1.toDouble))
    val ver = Stats.median(pairs.map(_._2.toDouble))
    Workload.jobSpans(tr, name, spans) ++ Seq(
      Metric(s"$name.dedup.near.candidate_pairs", cand, "count"),
      Metric(s"$name.dedup.near.verified_pairs", ver, "count"),
      Metric(s"$name.dedup.near.yield", if (cand > 0) ver / cand else 0.0,
        "ratio")) ++ Workload.engine(name, tr, gcS)
  }
}
