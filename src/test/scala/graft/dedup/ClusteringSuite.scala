package graft.dedup

import graft.TestBase
import org.apache.spark.sql.functions._

class ClusteringSuite extends TestBase {
  import spark.implicits._

  test("connectedComponents labels a hand graph with component minima") {
    // components: {1,2,3,4} (chain), {10,11} (edge), {20,21,22} (triangle)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L), (7L, 7L) // self-loop dropped
    ).toDF("src", "dst")
    val got = GraphFunctions.connectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(got == want) // vertex 7 only self-loops: not a graph vertex
  }

  test("connectedComponents matches brute-force union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val n = 400
    val edges = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2)
    // brute-force union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(p => Seq(p._1, p._2)).distinct
    val want = verts.map(v => v -> find(v.toInt).toLong).toMap
    val got = GraphFunctions
      .connectedComponents(edges.toDF("src", "dst").repartition(7), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("connectedComponents coalesces round partitioning to the edge count") {
    // a small edge set must iterate on ONE partition regardless of the
    // session's shuffle-partition conf (the size-adaptive round
    // partitioner — 395 pinned tasks at sf0.1 before), and the labels
    // must be identical either way (partition-independent fixpoint)
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 8L)).toDF("src", "dst")
    val out = GraphFunctions.connectedComponents(edges, "src", "dst")
    assert(out.rdd.getNumPartitions == 1)
    val got = out.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("connectedComponents handles a long path (many rounds) and a hub") {
    // path 0-1-2-...-63 forces multiple contraction rounds; star around 100
    val path = (0L until 63L).map(i => (i, i + 1))
    val hub = (101L to 160L).map(v => (100L, v))
    val got = GraphFunctions
      .connectedComponents((path ++ hub).toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert((0L to 63L).forall(got(_) == 0L))
    assert((100L to 160L).forall(got(_) == 100L))
  }

  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (3L, "completely different content about database engines and query planners"),
    (4L, "THE QUICK  brown fox jumps over the lazy dog near the river bank today")
  ).toDF("doc_id", "text")

  test("DuplicateClusterer groups transitive near-dups under the min id") {
    val out = new DuplicateClusterer().setInputCol("text").setIdCol("doc_id")
      .setShingleSize(2).setNumHashes(64).setBands(16).setThreshold(0.6)
      .transform(docs)
      .select(col("doc_id"), col("cluster_id")).as[(Long, Long)]
      .collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 4L -> 0L, 3L -> 3L))
  }

  test("DuplicateClusterer cluster minima survive MinHashDeduplicator") {
    // consistency: the set of cluster representatives == the dedup survivors
    // (same candidate/verify machinery, same threshold)
    val corpus = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val reps = new DuplicateClusterer().setInputCol("text").setIdCol("doc_id")
      .setThreshold(0.8).transform(corpus)
      .select(col("cluster_id")).distinct().as[Long].collect().sorted
    val kept = new MinHashDeduplicator().setInputCol("text").setIdCol("doc_id")
      .setThreshold(0.8).transform(corpus)
      .select(col("doc_id").cast("long")).as[Long].collect().sorted
    // every representative is a survivor; representative count can only be
    // <= survivor count (pairwise drop is not transitive: a-b and b-c near
    // while a-c not => dedup keeps {a, c}, clustering keeps {a})
    assert(reps.toSet.subsetOf(kept.toSet))
    // on this fixture dup groups are tight (generated as mutated copies),
    // so the two agree exactly
    assert(reps.sameElements(kept))
  }

  test("DuplicateClusterer tolerates component/id columns in the input") {
    val out = new DuplicateClusterer().setInputCol("text").setIdCol("doc_id")
      .setShingleSize(2).setNumHashes(64).setBands(16).setThreshold(0.6)
      .transform(docs.withColumn("component", lit("keepme"))
        .withColumn("id", lit(-1L)))
    assert(out.columns.count(_ == "component") == 1)
    val got = out.select(col("doc_id"), col("cluster_id"), col("component"))
      .as[(Long, Long, String)].collect()
    assert(got.forall(_._3 == "keepme"))
    assert(got.map(t => t._1 -> t._2).toMap ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 4L -> 0L, 3L -> 3L))
  }

  test("DuplicateClusterer refuses to overwrite an existing outputCol") {
    val e = intercept[IllegalArgumentException] {
      new DuplicateClusterer().setInputCol("text").setIdCol("doc_id")
        .transform(docs.withColumn("cluster_id", lit(99L)))
    }
    assert(e.getMessage.contains("cluster_id"))
  }

  test("CanonicalSelector keeps the argmax (score desc, id asc) per cluster") {
    val clustered = Seq(
      (1L, 1L, "aaaaa"),   // len 5
      (2L, 1L, "bbbbbbbbb"), // len 9 -- tied with id 3, smaller id wins
      (3L, 1L, "ccccccccc"), // len 9
      (10L, 10L, "z"))
      .toDF("doc_id", "cluster_id", "text")
      .withColumn("len", length(col("text")))
    val got = new CanonicalSelector().setClusterCol("cluster_id")
      .setIdCol("doc_id").setScoreCol("len")
      .transform(clustered)
      .select("cluster_id", "doc_id", "cluster_size", "text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 3L, "bbbbbbbbb")))
    assert(got(10L) == ((10L, 10L, 1L, "z")))
  }

  test("CanonicalSelector is partitioning-independent and refuses cluster_size collisions") {
    val base = Seq((1L, 1L, 3.0), (2L, 1L, 7.0), (3L, 2L, 1.0))
      .toDF("doc_id", "cluster_id", "score")
    val a = new CanonicalSelector().setScoreCol("score")
      .transform(base.repartition(7))
      .select("cluster_id", "doc_id").as[(Long, Long)].collect().sorted.toSeq
    val b = new CanonicalSelector().setScoreCol("score")
      .transform(base.coalesce(1))
      .select("cluster_id", "doc_id").as[(Long, Long)].collect().sorted.toSeq
    assert(a == b && a == Seq((1L, 2L), (2L, 3L)))
    val e = intercept[IllegalArgumentException] {
      new CanonicalSelector().setScoreCol("score")
        .transform(base.withColumn("cluster_size", lit(0L)))
    }
    assert(e.getMessage.contains("cluster_size"))
  }

  test("the curation chain runs its input's upstream once") {
    // DuplicateClusterer and ConcatChunker run eager side jobs over their
    // input and then read it again; each materializes its input once, so
    // a projection under the chain is evaluated once per row in total
    val evals = sc.longAccumulator("upstream evaluations")
    val touch = udf { (t: String) => evals.add(1L); t }
    // an RDD source: over a local relation the optimizer could evaluate
    // the projection itself, at planning time
    val input = sc.parallelize(docs.as[(Long, String)].collect().toSeq, 2)
      .toDF("doc_id", "text")
      .select(col("doc_id"), touch(col("text")).as("text"))
    val clustered = new DuplicateClusterer().setInputCol("text")
      .setIdCol("doc_id").setShingleSize(2).setNumHashes(64).setBands(16)
      .setThreshold(0.6).transform(input)
    val canon = new CanonicalSelector().setScoreCol("len")
      .transform(clustered.withColumn("len", length(col("text"))))
    val chunks = new graft.text.ConcatChunker().setInputCol("text")
      .setIdCol("doc_id").setContextLen(4).transform(canon).collect()
    // doc 4 is the longest member of cluster 0
    assert(chunks.map(_.getAs[Long]("doc_id")).toSet == Set(3L, 4L))
    assert(evals.value == 5L, s"upstream rows evaluated ${evals.value} " +
      "times for 5 input rows")
  }

  test("DuplicateClusterer is partitioning-independent") {
    val a = new DuplicateClusterer().setInputCol("text").setIdCol("doc_id")
      .setShingleSize(2).setNumHashes(64).setBands(16).setThreshold(0.6)
      .transform(docs.repartition(13))
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().sorted.toSeq
    val b = new DuplicateClusterer().setInputCol("text").setIdCol("doc_id")
      .setShingleSize(2).setNumHashes(64).setBands(16).setThreshold(0.6)
      .transform(docs.coalesce(1))
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().sorted.toSeq
    assert(a == b)
  }
}
