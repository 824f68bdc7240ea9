package graft.core

import graft.TestBase
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class BarrierSuite extends TestBase {
  import spark.implicits._

  test("a computed frame is evaluated once and read back as a checkpoint") {
    val evals = sc.longAccumulator("barrier evaluations")
    val touch = udf { (v: Long) => evals.add(1L); v * 2 }
    // an RDD source, so the optimizer cannot fold the UDF at planning time
    val df = sc.parallelize(1L to 20L, 3).toDF("v")
      .select(touch(col("v")).as("w"))
    val m = Barrier.materialize(df)
    assert(m.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(evals.value == 20L) // eager: computed before any action
    assert(m.agg(sum("w")).as[Long].head() == 420L)
    assert(m.filter(col("w") > 10L).count() == 15L)
    assert(evals.value == 20L, s"${evals.value} evaluations for 20 rows")
  }

  test("a frame that is already a leaf is returned as is") {
    val p = java.nio.file.Files.createTempDirectory("barrier").toString +
      "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "text").write.parquet(p)
    val scan = spark.read.parquet(p)
    val checkpointed = sc.parallelize(1L to 5L, 2).toDF("v").localCheckpoint()
    val cached = sc.parallelize(1L to 5L, 2).toDF("v").map(_.getLong(0) + 1)
      .toDF("v").persist()
    try {
      for (df <- Seq(scan, checkpointed, cached))
        assert(Barrier.materialize(df) eq df, df.queryExecution.analyzed)
      // a projection over a scan is not a leaf
      assert(Barrier.materialize(scan.select(col("id") + 1))
        .queryExecution.analyzed.isInstanceOf[LogicalRDD])
    } finally cached.unpersist()
  }
}
