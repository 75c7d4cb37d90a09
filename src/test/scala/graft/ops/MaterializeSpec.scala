package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The conf-selected materialization seam: `materialize` must put blocks in
  * RELIABLE storage (checkpoint files under spark.graft.checkpointDir) when
  * the conf is set — a 1000-executor run loses localCheckpoint blocks with
  * every executor loss — and fall back to localCheckpoint for local runs.
  * Downstream plan shape is identical either way (checkpoint-backed RDD
  * scan), which is what keeps every PlanSpec zero-rescan lock valid under
  * both modes. */
class MaterializeSpec extends SparkSpec {

  test("default mode: localCheckpoint-backed, correct, lineage truncated") {
    val m = materialize(spark.range(0, 1000).toDF("id")
      .select(col("id"), (col("id") * 2).as("x")))
    assert(m.count() == 1000)
    assert(m.agg(sum("x")).head.getLong(0) == 999000L)
    val plan = m.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD"), s"lineage not truncated:\n$plan")
  }

  test("spark.graft.checkpointDir flips to reliable checkpoint files") {
    val dir = new java.io.File(tempDir("graft-cp"))
    spark.conf.set("spark.graft.checkpointDir", dir.getPath)
    try {
      val m = materialize(spark.range(0, 500).toDF("id"))
      assert(m.count() == 500)
      val plan = m.queryExecution.optimizedPlan.toString
      assert(plan.contains("LogicalRDD"), s"lineage not truncated:\n$plan")
      // the blocks actually landed under the conf'd directory — the
      // property executor-loss recovery depends on
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      assert(walk(dir).nonEmpty, "no checkpoint files written to the conf'd dir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("chainable .materialized syntax is the same operation") {
    val m = spark.range(0, 10).toDF("id").materialized
    assert(m.count() == 10)
    assert(m.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
  }
}
