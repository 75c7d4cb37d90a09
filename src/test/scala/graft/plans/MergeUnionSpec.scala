package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec
import graft.functions.GraftExtensions
import graft.ops.table

/** Specs for the union-of-disjoint-filters optimizer rule: the rewrite
  * itself (soundness gates included) and the end-to-end injection through
  * SparkSessionExtensions with a single-scan plan assertion. */
class MergeUnionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def scans(p: String): Int = "Scan parquet".r.findAllMatchIn(p).size

  test("rule merges equality branches over one source into a single IN scan") {
    val ev = table(spark, dir, "events")
    val u = ev.filter(col("event_type") === "click")
      .union(ev.filter(col("event_type") === "view"))
      .union(ev.filter(col("event_type") === "purchase"))
    val merged = MergeDisjointFilterUnions(
      org.apache.spark.sql.catalyst.plans.logical.Union(Seq(
        ev.filter(col("event_type") === "click").queryExecution.analyzed,
        ev.filter(col("event_type") === "view").queryExecution.analyzed,
        ev.filter(col("event_type") === "purchase").queryExecution.analyzed)))
    // the rewritten plan has no Union left and executes to the same rows
    assert(merged.collect {
      case _: org.apache.spark.sql.catalyst.plans.logical.Union => ()
    }.isEmpty, s"Union survived:\n$merged")
    val got = Bridge.ofRows(spark, merged).count()
    assert(got == u.count() && got > 0)
  }

  test("rule merges branches from independent reads of the same table") {
    def branch(v: String) =
      table(spark, dir, "events").filter(col("event_type") === v)
        .queryExecution.analyzed
    val merged = MergeDisjointFilterUnions(
      org.apache.spark.sql.catalyst.plans.logical.Union(Seq(
        branch("click"), branch("view"))))
    assert(merged.collect {
      case _: org.apache.spark.sql.catalyst.plans.logical.Union => ()
    }.isEmpty, s"Union survived:\n$merged")
    val ev = table(spark, dir, "events")
    assert(Bridge.ofRows(spark, merged).count() ==
      ev.filter(col("event_type").isin("click", "view")).count())
  }

  test("soundness gates: overlapping literals and non-eq branches stay unions") {
    val ev = table(spark, dir, "events")
    def f(v: String) = ev.filter(col("event_type") === v).queryExecution.analyzed
    // duplicate literal: bag semantics would double rows — must not merge
    val dup = MergeDisjointFilterUnions(
      org.apache.spark.sql.catalyst.plans.logical.Union(Seq(f("click"), f("click"))))
    assert(dup.collect {
      case _: org.apache.spark.sql.catalyst.plans.logical.Union => ()
    }.nonEmpty)
    // non-equality branch — must not merge
    val range = ev.filter(col("value") > 10).queryExecution.analyzed
    val mixed = MergeDisjointFilterUnions(
      org.apache.spark.sql.catalyst.plans.logical.Union(Seq(f("click"), range)))
    assert(mixed.collect {
      case _: org.apache.spark.sql.catalyst.plans.logical.Union => ()
    }.nonEmpty)
  }

  test("soundness: filters below non-row-preserving operators never merge") {
    import org.apache.spark.sql.catalyst.plans.logical.{Union => LUnion}
    val ev = table(spark, dir, "events")
    def hasUnion(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case _: LUnion => () }.nonEmpty
    // Aggregate above the filter: Union(Agg(F[c='a']), Agg(F[c='b'])) is two
    // rows; the merged Agg(F[c IN]) would be one. Must stay a Union.
    def agg(v: String) = ev.filter(col("event_type") === v)
      .agg(org.apache.spark.sql.functions.count("*").as("n"))
      .queryExecution.analyzed
    val aggU = LUnion(Seq(agg("click"), agg("view")))
    assert(hasUnion(MergeDisjointFilterUnions(aggU)), "merged through Aggregate")
    assert(Bridge.ofRows(spark, MergeDisjointFilterUnions(aggU)).count() == 2)
    // Limit above the filter: per-branch limits are not one shared limit.
    def lim(v: String) = ev.filter(col("event_type") === v).limit(5)
      .queryExecution.analyzed
    val limU = LUnion(Seq(lim("click"), lim("view")))
    assert(hasUnion(MergeDisjointFilterUnions(limU)), "merged through Limit")
    assert(Bridge.ofRows(spark, MergeDisjointFilterUnions(limU)).count() == 10)
    // Deduplicate above the filter: distinct-per-branch != distinct-of-merge
    // row counts in general. Must stay a Union.
    def dd(v: String) = ev.filter(col("event_type") === v)
      .select("event_type").distinct().queryExecution.analyzed
    val ddU = LUnion(Seq(dd("click"), dd("view")))
    assert(hasUnion(MergeDisjointFilterUnions(ddU)), "merged through Deduplicate")
    // but a filter above an Aggregate (row-preserving path from the root)
    // still merges: Union(F[s='click'](Agg), F[s='view'](Agg)) is sound.
    def fAboveAgg(v: String) = ev.groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count("*").as("n"))
      .filter(col("event_type") === v).queryExecution.analyzed
    val okU = LUnion(Seq(fAboveAgg("click"), fAboveAgg("view")))
    assert(!hasUnion(MergeDisjointFilterUnions(okU)),
      "filter-above-agg should merge")
    assert(Bridge.ofRows(spark, MergeDisjointFilterUnions(okU)).count() == 2)
  }

  test("extension-installed rule collapses a 3-branch union to one file scan") {
    // builder extensions are ignored when a default session exists, so
    // temporarily clear it and build a fresh session on the shared context
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = graft.GraftSession.local(cpus = 4, overrides =
        Seq("spark.sql.extensions" -> classOf[GraftExtensions].getName))
      val ev = table(s2, dir, "events")
      val u = ev.filter(col("event_type") === "click")
        .union(ev.filter(col("event_type") === "view"))
        .union(ev.filter(col("event_type") === "purchase"))
      val p = u.queryExecution.executedPlan.toString
      assert(scans(p) == 1, s"expected one scan after the merge rule:\n$p")
      assert(u.count() ==
        ev.filter(col("event_type").isin("click", "view", "purchase")).count())
      // the extension also registers the native function surface for SQL
      assert(s2.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head.getDouble(0) == 11.0)
      assert(s2.sql("SELECT size(shingle_hashes('a b c d e')) AS n")
        .head.getInt(0) == 2)
      // boundary list of a 16-char doc is computable by hand: one window
      assert(s2.sql("SELECT cdc_boundaries('aaaaaaaaaaaaaaaa') AS b")
        .head.getSeq[Int](0).forall(_ == 16))
      intercept[org.apache.spark.sql.AnalysisException](
        s2.sql("SELECT dot_product(array(1.0d))").collect())
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }
}
