package graft.tools

/** Dev smoke main mirroring the driver's t1 check: SparkEntry.entry must
  * return >0 rows on sf0.001. Also prints the physical plan so scan pruning /
  * join strategy can be eyeballed (`.explain("formatted")`). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    df.explain("formatted")
    val n = df.count()
    println(s"[smoke] entry rows = $n (${if (n > 0) "PASS" else "FAIL"})")
    df.show(10, truncate = false)
    spark.stop()
  }
}
