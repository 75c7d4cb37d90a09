package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Specs for the native poly_hash Catalyst expression: value parity with the
  * built-in composition it replaces, null handling, SQL registration, and
  * codegen participation. */
class PolyHashSpec extends SparkSpec {

  private val M = 1000000007L

  test("matches the interpreted aggregate/split formulation") {
    import spark.implicits._
    val df = Seq("", "a", "spark", "hash value table part",
      "the quick brown fox 0123456789").toDF("s")
    val both = df.select(
      PolyHash(col("s")).as("native"),
      aggregate(split(col("s"), ""), lit(0L),
        (acc, ch) => (acc * 31 + ascii(ch)) % M).as("composed"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("null in, null out; matches a scala reference fold") {
    import spark.implicits._
    val df = Seq(Some("abc"), None).toDF("s")
    val out = df.select(PolyHash(col("s"))).collect()
    def ref(s: String) = s.getBytes("UTF-8")
      .foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % M)
    assert(out(0).getLong(0) == ref("abc"))
    assert(out(1).isNullAt(0))
  }

  test("registers as a SQL function") {
    val r = spark.sql("SELECT poly_hash('spark') AS h").collect()(0).getLong(0)
    val ref = "spark".getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % M)
    assert(r == ref)
  }

  test("wrong arity is an analysis error, not a plan-time crash") {
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT poly_hash()").collect())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT poly_hash('a', 'b')").collect())
  }

  test("GraftExtensions injects poly_hash into a SparkSessionExtensions") {
    // full end-to-end needs a fresh SparkContext (builder extensions are
    // ignored when a session exists); this records what the installer
    // injects and builds poly_hash through the injected builder
    val injected = scala.collection.mutable.Map[String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression]()
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected(f._1.funcName) = f._3
        super.injectFunction(f)
      }
    }
    new GraftExtensions().apply(ext)
    val arg = org.apache.spark.sql.catalyst.expressions.Literal("spark")
    assert(injected.get("poly_hash").map(_(Seq(arg))).contains(PolyHash(arg)))
  }

  test("participates in whole-stage codegen") {
    // parquet-backed: a local Seq would be constant-folded at optimization
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(PolyHash(col("text")).as("h"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project [poly_hash"))
  }
}
