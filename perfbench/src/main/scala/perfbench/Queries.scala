package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** `queries_sf0.1` and `queries_sf0.01`: one client runs a fixed mix of
  * `SparkEntry.queries` closed loop, one query at a time, each result
  * produced in full by `write.format("noop")`. The first pass after set-up
  * is the cold pass; warm passes follow, at least one, until `--seconds`
  * have passed since the first began. Every pass runs the mix in its own
  * seeded order.
  */
object Queries {
  /** The mix, the same at both scales, with at least one query from each
    * of the 16 query maps; the README says why each query is in it and
    * which were left out to fit the run budget. */
  val Mix: Seq[String] = Seq("winfn_median", "graph_kcore", "dedup_incr",
    "sink_csv_daily", "abc_class", "normalize_union", "explode_nested",
    "text_fingerprint", "vec_rp", "mm_binary_meta", "winfn_ntile",
    "sample_stratified", "scan_partition_evolve", "join_bkt", "dq_bounce",
    "ab_test", "ta_vwap")

  /** The 16 query maps `SparkEntry.queries` unions, by module name. */
  val Modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.ops.Relational.queries, "TimeWindows" -> graft.ops.TimeWindows.queries,
    "JsonOps" -> graft.ops.JsonOps.queries, "TextOps" -> graft.ops.TextOps.queries,
    "DedupOps" -> graft.ops.DedupOps.queries, "VectorOps" -> graft.ops.VectorOps.queries,
    "Multimodal" -> graft.ops.Multimodal.queries, "Extended" -> graft.ops.Extended.queries,
    "Curation" -> graft.ops.Curation.queries, "Formats" -> graft.ops.Formats.queries,
    "Bucketing" -> graft.ops.Bucketing.queries, "DataQuality" -> graft.ops.DataQuality.queries,
    "EventOps" -> graft.ops.EventOps.queries, "GraphOps" -> graft.ops.GraphOps.queries,
    "MarketOps" -> graft.ops.MarketOps.queries,
    "NormalizeOps" -> graft.normalize.NormalizeOps.queries
  ).map { case (m, q) => m -> q.keySet }

  /** The module whose map `SparkEntry.queries` takes `q` from (the last
    * one holding it, as in the union). */
  def module(q: String): String = Modules.reverse.find(_._2.contains(q)).get._1

  val Tables: Seq[String] = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  /** Order-insensitive content hash: the sum of per-row xxhash64 (shifted
    * so the sum cannot overflow), doubles compared to nine significant
    * digits so the last bit of a parallel sum does not count. */
  def checksum(df: DataFrame): Column = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType) + lit(0.0))
      case ArrayType(DoubleType | FloatType, _) =>
        transform(c, x => format_string("%.9g", x.cast(DoubleType) + lit(0.0)))
      case _: MapType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    sum(shiftrightunsigned(xxhash64(cols: _*), 24))
  }

  /** Catalyst phase times of each finished execution, in completion order. */
  final class Planning extends QueryExecutionListener {
    val done = new ConcurrentLinkedQueue[(String, Map[String, Long])]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      done.add(funcName -> qe.tracker.phases.map { case (k, v) => k -> v.durationMs }): Unit
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Session start and a read of every table. */
  def setup(a: Main.Args, data: File): SparkSession = {
    val spark = Main.session(a.workload, a.work)
    Tables.foreach { t =>
      val p = new File(data, s"$t.parquet")
      if (p.exists) spark.read.parquet(p.getPath).count()
    }
    spark
  }

  final case class Sample(pass: Int, q: String, constructMs: Double, actionMs: Double) {
    def ms: Double = constructMs + actionMs
  }

  def run(a: Main.Args, tr: Tracer): Main.Result = {
    val scale = a.workload.stripPrefix("queries_")
    val data = new File(a.data, scale)
    require(new File(data, "lineitem.parquet").exists, s"no testdata at $data")
    val report = new Metrics; val e2e = new Metrics; val layers = new Metrics

    // one set-up round, counted from JVM start as on the ingest workload:
    // a repeat in the same JVM would leave JVM start and class loading out
    val spark = tr.span("setup")(setup(a, data))
    val setupS = Main.sinceJvmStartS()
    Main.liveHeapCheckpoint()
    val sc = spark.sparkContext
    val jobs = new JobListener
    val planning = new Planning
    if (a.trace) { sc.addSparkListener(jobs); spark.listenerManager.register(planning) }
    val recorded = Expected.load(scale)
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    val phases = scala.collection.mutable.Map.empty[(Int, String), Map[String, Long]]
    var failed = 0L

    def one(pass: Int, q: String): Option[Sample] = {
      val fn = SparkEntry.queries(q)
      try {
        val before = planning.done.size
        val t0 = System.nanoTime()
        val df = JobListener.tagged(sc, s"c|$pass|$q")(tr.span(s"construct.$q")(fn(spark, data.getPath)))
        val t1 = System.nanoTime()
        val ob = Observation(s"check_${pass}_$q")
        val out = if (pass == 0) df.observe(ob, count(lit(1)).as("n"), checksum(df).as("h")) else df
        JobListener.tagged(sc, s"a|$pass|$q")(tr.span(s"action.$q")(
          out.write.format("noop").mode("overwrite").save()))
        val t2 = System.nanoTime()
        if (pass == 0) {
          val m = ob.get
          val got = (m("n").asInstanceOf[Long], Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L))
          seen(q) = got
          if (a.record == null && !recorded.get(q).contains(got)) {
            failed += 1
            System.err.println(s"[queries] $q: got rows/checksum $got, recorded ${recorded.get(q)}")
          }
        }
        if (a.trace) {
          // analysis from the constructed frame; optimization and planning
          // from the noop write's own execution, the last one reported
          jobs.drain(sc)
          val write = planning.done.asScala.toSeq.drop(before).reverse
            .find(_._1 == "overwrite").map(_._2).getOrElse(Map.empty)
          phases((pass, q)) = write ++ df.queryExecution.tracker.phases
            .get("analysis").map(p => "analysis" -> p.durationMs)
        }
        Some(Sample(pass, q, (t1 - t0) / 1e6, (t2 - t1) / 1e6))
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[queries] $q failed: $e")
          None
      }
    }

    def order(pass: Int): Seq[String] = new scala.util.Random(a.seed * 1000003L + pass).shuffle(Mix)
    val coldT0 = System.nanoTime()
    val cold = order(0).flatMap(one(0, _))
    val coldS = (System.nanoTime() - coldT0) / 1e9
    Main.liveHeapCheckpoint()
    val warm = scala.collection.mutable.ArrayBuffer.empty[Seq[Sample]]
    val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    while (warm.isEmpty || (System.nanoTime() - w0) / 1e9 < a.seconds) {
      val p = warm.size + 1
      val t0 = System.nanoTime()
      warm += order(p).flatMap(one(p, _))
      passS += (System.nanoTime() - t0) / 1e9
    }
    Main.liveHeapCheckpoint()
    if (a.record != null) Expected.write(a.record, scale, seen.toSeq)
    Files.write(new File(a.work, "samples.tsv").toPath, (cold ++ warm.flatten)
      .map(s => s"${s.pass}\t${s.q}\t${s.constructMs}\t${s.actionMs}")
      .mkString("pass\tquery\tconstruct_ms\taction_ms\n", "\n", "\n").getBytes(UTF_8))

    val lat = warm.flatten.map(_.ms).toSeq
    e2e.put("setup_s", setupS, "s")
    e2e.put("op_p50_ms", Stats.hd(lat, 50), "ms")
    e2e.put("op_p90_ms", Stats.hd(lat, 90), "ms")
    e2e.put("work_s", Stats.median(passS.toSeq), "s")
    e2e.put("cold_s", coldS, "s")
    val attempted = (Mix.size * (1 + warm.size)).toLong
    report.put("setup_s", setupS, "s")
    report.put("failed_ratio", failed.toDouble / attempted, "ratio")
    report.put("pass_s", Stats.median(passS.toSeq), "s")
    report.put("cold_pass_s", coldS, "s")
    report.put("query_p50_s", Stats.hd(lat, 50) / 1000, "s")
    report.put("query_p90_s", Stats.hd(lat, 90) / 1000, "s")
    report.put("query_samples", lat.size, "count")
    report.put("warm_passes", warm.size, "count")

    if (a.trace) {
      jobs.drain(sc)
      val n = warm.size.toDouble
      val warmS = warm.flatten.toSeq
      def perPass(f: Sample => Double): Double = warmS.map(f).sum / n
      def sumOf(kind: String, f: jobs.Totals => Long): Double =
        (for (p <- 1 to warm.size; q <- Mix) yield f(jobs.totals(s"$kind|$p|$q"))).sum / n
      Seq("analysis", "optimization", "planning").foreach { ph =>
        layers.put(s"catalyst.${ph}_ms",
          phases.collect { case ((p, _), m) if p > 0 => m.getOrElse(ph, 0L) }.sum / n, "ms")
      }
      layers.put("construct_ms", perPass(_.constructMs), "ms")
      layers.put("construct.jobs", sumOf("c", _.jobs), "count")
      layers.put("action_ms", perPass(_.actionMs), "ms")
      layers.put("action.jobs", sumOf("a", _.jobs), "count")
      layers.put("action.stages", sumOf("a", _.stages), "count")
      layers.put("action.tasks", sumOf("a", _.tasks), "count")
      layers.put("action.task_run_ms", sumOf("a", _.taskRunMs), "ms")
      layers.put("action.shuffle_read_bytes", sumOf("a", _.shuffleRead), "bytes")
      layers.put("action.shuffle_write_bytes", sumOf("a", _.shuffleWrite), "bytes")
      layers.put("action.spill_bytes", sumOf("a", _.spill), "bytes")
      Modules.foreach { case (m, _) =>
        val in = warmS.filter(s => module(s.q) == m)
        layers.put(s"ops.$m.construct_ms", in.map(_.constructMs).sum / n, "ms")
        layers.put(s"ops.$m.action_ms", in.map(_.actionMs).sum / n, "ms")
      }
      layers.put("memo.warm_saving_ms", cold.map(_.constructMs).sum - perPass(_.constructMs), "ms")
    }
    Main.Result(attempted, failed, e2e, report, layers)
  }
}

/** Row counts and checksums of each mix query, recorded per scale in
  * `perfbench/expected/<scale>.tsv` from a build whose results for the mix
  * pass `tools/check.py`'s DuckDB oracle at that scale. */
object Expected {
  def file(scale: String): File = new File(s"perfbench/expected/$scale.tsv")

  def load(scale: String): Map[String, (Long, Long)] =
    if (!file(scale).exists) Map.empty
    else Files.readAllLines(file(scale).toPath, UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(p => p(0) -> (p(1).toLong, p(2).toLong)).toMap

  def write(out: String, scale: String, rows: Seq[(String, (Long, Long))]): Unit =
    Files.write(new File(out).toPath, rows.sortBy(_._1)
      .map { case (q, (n, h)) => s"$q\t$n\t$h" }
      .mkString(s"# query\trows\tchecksum ($scale)\n", "\n", "\n").getBytes(UTF_8))
}
