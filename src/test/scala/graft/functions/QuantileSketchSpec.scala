package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Specs for the mergeable quantile-sketch family beyond the oracle query:
  * SQL registration parity with the Column API, argument validation, and
  * null/empty behavior. (The exact-regime, mergeability, parquet
  * round-trip, and GK state-bound laws live in LlmOpsSpec/ScaleProbeSpec.)
  */
class QuantileSketchSpec extends SparkSpec {

  test("SQL surface == Column API, through the full sketch→merge→query chain") {
    import spark.implicits._
    val df = (1 to 500).map(i => ((i * 7) % 500 + 0.25, i % 5)).toDF("v", "g")
    df.createOrReplaceTempView("qs_probe")
    val sql = spark.sql(
      """SELECT q_sketch_values(q_merge_agg(sk), array(0.25D, 0.5D, 0.9D)) AS q
         FROM (SELECT g, q_sketch_agg(v, 1000000) AS sk
               FROM qs_probe GROUP BY g)""").head.getSeq[Double](0)
    val col0 = df.groupBy("g")
      .agg(QuantileSketch.sketch(col("v"), 1000000L).as("sk"))
      .agg(QuantileSketch.merge(col("sk")).as("sk"))
      .select(QuantileSketch.values(col("sk"), Seq(0.25, 0.5, 0.9)).as("q"))
      .head.getSeq[Double](0)
    assert(sql == col0, s"SQL $sql diverged from Column API $col0")
    // and both sit in the exact regime: element at rank ceil(p*n)
    val sorted = (1 to 500).map(i => (i * 7) % 500 + 0.25).sorted
    val expect = Seq(0.25, 0.5, 0.9).map(p =>
      sorted(math.ceil(p * 500).toInt - 1))
    assert(sql == expect)
  }

  test("wrong arity / non-constant args are analysis errors") {
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT q_sketch_agg(1.0)").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT q_merge_agg()").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT q_sketch_values(CAST(NULL AS BINARY))").collect())
  }

  test("nulls are skipped; an all-null group queries to NULL") {
    import spark.implicits._
    val df = Seq(Some(3.0), None, Some(1.0), Some(2.0), None).toDF("v")
    val q = df.agg(QuantileSketch.sketch(col("v"), 1000L).as("sk"))
      .select(QuantileSketch.values(col("sk"), Seq(0.5)).as("q"))
      .head.getSeq[Double](0)
    assert(q == Seq(2.0), s"nulls leaked into the sketch: $q")
    val empty = Seq.empty[Option[Double]].toDF("v")
      .agg(QuantileSketch.sketch(col("v"), 1000L).as("sk"))
      .select(QuantileSketch.values(col("sk"), Seq(0.5)).as("q"))
      .head
    assert(empty.isNullAt(0), "empty sketch must query to NULL")
  }
}
