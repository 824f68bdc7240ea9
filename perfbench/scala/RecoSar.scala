package perfbench

import graft.reco.{RankingAdapter, RankingEvaluator, SAR, SARModel}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** SAR on implicit order-line feedback: fit on the training orders, then
  * recommend top-k for every user and score the list against the held-out
  * orders. One operation is fit + recommend + evaluate. Customers, parts
  * and orders are sf0.1's (15,000, 20,000 and 150,000, at four lines per
  * order) each divided by the same factor, 500/7. */
final class RecoSar extends Workload {
  val name = "reco_sar"
  val Users = 210
  val Items = 280
  val Orders = 2100
  val K = 10
  val spans = Seq("reco.fit", "reco.recommend", "reco.evaluate",
    "reco.affinity", "reco.similarity")

  private var c: Ctx = _
  private var log: Gen.Log = _
  private var train: DataFrame = _
  private var truth: DataFrame = _
  private val ndcgs = ArrayBuffer.empty[Double]
  private val models = ArrayBuffer.empty[SARModel]

  def setup(ctx: Ctx): Unit = {
    c = ctx
    val spark = c.spark
    import spark.implicits._
    ndcgs.clear()
    models.clear()
    log = Gen.orderLog(c.seed, Users, Items, Orders)
    def frame(es: Seq[Gen.Event]) = es.map(e => (e.user, e.item, e.day))
      .toDF("o_custkey", "l_partkey", "day")
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"),
        date_add(lit("1992-01-01").cast("date"), col("day"))
          .cast("timestamp").as("o_orderdate"), lit(1.0).as("rating"))
    val trainDir = new java.io.File(c.dir, "train").toString
    val testDir = new java.io.File(c.dir, "test").toString
    frame(log.train).write.mode(SaveMode.Overwrite).parquet(trainDir)
    frame(log.test).write.mode(SaveMode.Overwrite).parquet(testDir)
    train = c.spark.read.parquet(trainDir)
    truth = c.spark.read.parquet(testDir)
      .groupBy("user", "item").agg(sum("rating").as("rating"))
  }

  /** Two fits: after one, the next operations still ran 15-40% slower
    * while the JIT finished compiling. */
  def warmUp(): Unit = {
    op(None)
    op(None)
    ndcgs.clear()
    models.clear()
  }

  private def sar = new SAR().setUserCol("user").setItemCol("item")
    .setRatingCol("rating").setTimeCol("o_orderdate")

  private def op(tr: Option[Tracer]): Long = {
    import Workload.{spanned, step}
    val model = spanned(tr, "reco.fit") {
      val m = sar.fit(train)
      tr.foreach(_.outRows(m.itemSimilarity.count()))
      m
    }
    val recs = step(tr, "reco.recommend")(model.recommendForAllUsers(K)
      .groupBy("user")
      .agg(sort_array(collect_list(struct(col("rank"), col("item"))))
        .getField("item").cast("array<string>").as("recommendations")))
    val ndcg = spanned(tr, "reco.evaluate") {
      val gt = new RankingAdapter().setUserCol("user").setItemCol("item")
        .setRatingCol("rating").setK(K).transform(truth)
        .withColumn("ground_truth", col("ground_truth").cast("array<string>"))
      val m = new RankingEvaluator().setK(K).transform(recs.join(gt, "user"))
        .head()
      tr.foreach(_.outRows(1))
      m.getAs[Double]("ndcg_at_k")
    }
    ndcgs += ndcg
    if (models.size < 2) models += model else models(1) = model
    log.train.size.toLong
  }

  /** A traced pass also times SAR's two fit stages stand-alone on the
    * same input, outside the operations. */
  def measure(seconds: Double, tr: Option[Tracer]): Measured = {
    val m = Workload.loop(seconds)(_ => Workload.spanned(tr, "op")(op(tr)))
    Workload.step(tr, "reco.affinity")(sar.calculateUserItemAffinities(train))
    Workload.step(tr, "reco.similarity")(sar.calculateItemItemSimilarity(train))
    m
  }

  private def topKDigest(m: SARModel): Long =
    m.recommendForAllUsers(K).agg(bit_xor(xxhash64(col("user"), col("item"),
      col("rank")))).head().getLong(0)

  /** Every fit of one seed must give the same NDCG (quantized to 1e-6)
    * and the first and last models the same top-k lists; NDCG must show
    * the held-out orders were learnable at all. */
  def check(): Int = {
    val q = ndcgs.map(x => math.round(x * 1e6))
    val bad = q.count(_ != q.head) + ndcgs.count(x => !(x > 0.0))
    val digestOk = models.size < 2 || topKDigest(models(0)) == topKDigest(models(1))
    if (bad > 0 || !digestOk) System.err.println(
      s"$name: ndcg ${ndcgs.mkString(",")}, top-k digests equal: $digestOk")
    bad + (if (digestOk) 0 else 1)
  }

  def inputs: Seq[(String, String)] = Seq(
    "events" -> log.train.size.toString,
    "held_out_events" -> log.test.size.toString,
    "users" -> log.users.toString, "items" -> log.items.toString,
    "zipf_s" -> log.zipfS.toString,
    "ndcg_at_10" -> ndcgs.headOption.map(x => f"$x%.6f").getOrElse("null"))

  def layers(tr: Tracer, m: Measured, gcS: Double): Seq[Metric] = {
    val pairs = tr.spans.filter(_.name == "reco.similarity").toSeq
      .map(s => tr.work.get(s.id).map(_.rowsOut.toDouble).getOrElse(0.0))
    Workload.jobSpans(tr, name, spans) ++ Seq(
      Metric(s"$name.reco.similarity.pairs", Stats.median(pairs), "count")) ++
      Workload.engine(name, tr, gcS)
  }
}
