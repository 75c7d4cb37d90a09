package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --data <testdata root> [--record <file>]
  *
  * Prints one `PERFBENCH_RESULT {...}` line with the operation counts and
  * three metric sets: `e2e` (the end-to-end metrics under their
  * workload-independent names), `report` (the same figures under the
  * per-workload names the README uses) and `layers` (per-layer metrics,
  * traced runs only). `run.py` turns it into the final result line.
  * Everything the run writes stays under --work.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, data: File, record: String)

  final case class Result(attempted: Long, failed: Long, e2e: Metrics, report: Metrics,
      layers: Metrics)

  val workloads: Seq[String] = Seq("ingest_cascade", "queries_sf0.1", "queries_sf0.01")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload '$w'")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(kv.getOrElse("data", "")), kv.getOrElse("record", null))
  }

  /** Session confs: the ingest workload uses `StreamCli.main`'s, the query
    * workloads `Bench.main`'s, on four local cores unless `cores` says
    * otherwise (the single-threaded baseline). One difference: shuffle,
    * spill and sink scratch stay under `work` in the checkout, where
    * `Bench.main` puts them on /dev/shm, because the benchmark writes only
    * inside its checkout. */
  def session(workload: String, work: File, cores: Int = 4): SparkSession = {
    val tmp = new File(work, "tmp"); tmp.mkdirs()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.local.dir", tmp.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", tmp.getPath)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.caseSensitive", "true")
      .config("spark.ui.enabled", "false")
    val spark =
      if (workload == "ingest_cascade") b.getOrCreate()
      else b.config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private var liveHeapPeakMb = 0.0

  /** Full GC, then heap in use, in MB; keeps the largest value seen. Called
    * at the end of each phase, outside the timed spans: what the program
    * still holds there does not depend on when G1 chose to collect, and
    * unlike RSS it is not set by the JVM's heap flags. */
  def liveHeapCheckpoint(): Unit = {
    // the second collection frees what Spark's ContextCleaner released
    // (broadcast and shuffle blocks) after the first one cleared its refs
    System.gc(); Thread.sleep(300); System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    liveHeapPeakMb = math.max(liveHeapPeakMb, used)
  }

  /** Seconds since this JVM started. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    val tracer = new Tracer(a.trace)
    val r =
      if (a.workload == "ingest_cascade") Ingest.run(a, tracer)
      else Queries.run(a, tracer)
    r.e2e.put("live_heap_mb", liveHeapPeakMb, "MB")
    r.report.put("live_heap_mb", liveHeapPeakMb, "MB")
    r.report.put("jvm_s", sinceJvmStartS(), "s")
    if (a.trace) tracer.write(new File(a.work, "spans.jsonl"))
    println("PERFBENCH_RESULT " +
      s"""{"attempted":${r.attempted},"failed":${r.failed},"e2e":${r.e2e.json},""" +
      s""""report":${r.report.json},"layers":${r.layers.json}}""")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
