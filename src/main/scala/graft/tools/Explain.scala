package graft.tools

/** Dev plan-audit harness: prints the executed physical plan for each query
  * named in SPARK_GRAFT_ONLY (all queries when unset) so `.explain` review
  * is one command instead of a REPL session. Not part of the library
  * surface — the durable plan contracts live in PlanSpec.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_CONF applies here as in Bench, so a conf experiment's
    // PLAN diff is inspectable, not just its time
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val keep = graft.GraftSession.only()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => keep(n) }
      .foreach { case (name, fn) =>
        println(s"\n=== $name ===")
        // FormattedMode == df.explain("formatted"): numbered operator
        // list + per-operator details (PushedFilters/ReadSchema, join
        // build sides, exchange partitioning) — the r15 plan-evidence
        // format (plans/r15/<query>_{before,after}.txt)
        println(fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    spark.stop()
  }
}
