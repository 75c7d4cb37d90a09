package graft.tools

/** Dev profiling harness: splits each registered query's bench time into
  * driver-side PLANNING (analysis + optimization + physical planning,
  * forced via queryExecution.executedPlan) and EXECUTION (the count job),
  * plus the number of Spark jobs the execution submits. The point is to
  * localize the fixed per-query constant the bench pays 278 times: if the
  * midband queries spend 200 ms in Catalyst and 300 ms scheduling 4 jobs,
  * those are different fixes (plan-shape / conf work vs job-count work).
  * Not part of the library surface.
  *
  * Runs on Bench's session ([[graft.Bench.session]]), so its numbers are
  * comparable with Bench's. Env: SPARK_GRAFT_SF_DIR (default sf0.1), and
  * GraftSession's SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY and SPARK_GRAFT_CONF.
  */
object FixedCost {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session(sfDir, graft.GraftSession.cpus)
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet(): Unit
      })
    val keep = graft.GraftSession.only()
    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => keep(n) }
    val passes = 3
    // per query: min plan time, min exec time, jobs (last pass)
    case class R(plan: Double, exec: Double, jobs: Long)
    val acc = scala.collection.mutable.Map[String, R]()
    (1 to passes).foreach { _ =>
      names.foreach { case (name, fn) =>
        try {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          df.queryExecution.executedPlan // force analyze+optimize+plan
          val t1 = System.nanoTime()
          val j0 = jobCount.get()
          df.count()
          val t2 = System.nanoTime()
          val r = R((t1 - t0) / 1e9, (t2 - t1) / 1e9, jobCount.get() - j0)
          val prev = acc.getOrElse(name, R(9e9, 9e9, 0))
          acc(name) = R(math.min(prev.plan, r.plan),
            math.min(prev.exec, r.exec), r.jobs)
        } catch { case e: Throwable =>
          println(s"[fixedcost] FAIL $name: ${e.getClass.getSimpleName}")
        }
      }
    }
    val rows = acc.toSeq.sortBy { case (_, r) => -(r.plan + r.exec) }
    println(f"[fixedcost] ${"query"}%-24s ${"plan_s"}%8s ${"exec_s"}%8s ${"jobs"}%5s")
    rows.foreach { case (n, r) =>
      println(f"[fixedcost] $n%-24s ${r.plan}%8.3f ${r.exec}%8.3f ${r.jobs}%5d")
    }
    val tp = rows.map(_._2.plan).sum; val te = rows.map(_._2.exec).sum
    val tj = rows.map(_._2.jobs).sum
    println(f"[fixedcost] TOTAL plan=$tp%.1f s exec=$te%.1f s jobs=$tj (n=${rows.size})")
    spark.stop()
  }
}
