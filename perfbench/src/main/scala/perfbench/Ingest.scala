package perfbench

import java.io.{File, FileOutputStream, PrintStream}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.StreamCli
import graft.normalize.Normalizers
import graft.sources.{FrameIndex, WsReplay}
import graft.streaming.{ConsoleSink, JdbcSink}

/** `ingest_cascade`: the real `StreamCli.run` pipeline (`--all --sink both
  * --pg-url <in-memory Derby> --vwap`), fed open loop by one generator
  * thread: a steady 500 unified rows/s, then one liquidation cascade
  * appended at once, then the `--vwap` drain over the whole capture.
  *
  * Sizes scale with `--seconds`: the steady phase lasts that long and the
  * cascade holds 1000 rows per second of it.
  */
object Ingest {
  val Rate = 500          // unified rows per second in the steady phase
  val TickMs = 100L       // generator append period (well under one trigger)
  val Table = "liquidations"

  /** Streaming progress, kept with each query's start. */
  final class Progress extends StreamingQueryListener {
    val started = new ConcurrentLinkedQueue[(java.util.UUID, Long)]()
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.add((e.id, Instant.parse(e.timestamp).toEpochMilli)): Unit
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress): Unit
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    def queries: Seq[java.util.UUID] = started.asScala.toSeq.map(_._1)
    def startOf(id: java.util.UUID): Long = started.asScala.find(_._1 == id).get._2
    def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
      events.asScala.toSeq.filter(_.id == id).sortBy(_.batchId)
  }

  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long =
    startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L)

  def cliArgs(frames: File, out: File, url: String, vwap: Boolean): StreamCli.CliArgs =
    StreamCli.parse(Array("--all", "--frames-root", frames.getPath,
      "--outdir-root", out.getPath, "--sink", "both", "--pg-url", url,
      "--no-color") ++ (if (vwap) Array("--vwap") else Array.empty[String]))

  /** `StreamCli.run` with its console sink printing into `console`. */
  def runCli(spark: SparkSession, args: StreamCli.CliArgs, console: File): (Long, Long) = {
    val ps = new PrintStream(new FileOutputStream(console, true), false, "UTF-8")
    try Console.withOut(ps)(StreamCli.run(spark, args)) finally ps.close()
  }

  private def rawText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).withColumnRenamed("value", "raw")

  /** The batch twin of `StreamCli.buildUnified`: each pair's batch
    * normalizer over the final capture, Hyperliquid with its
    * first-occurrence dedup. */
  def expected(spark: SparkSession, frames: File): DataFrame =
    StreamCli.allPairs.map { case (ex, mk) =>
      normalizer(ex)(rawText(spark, s"$frames/${capture(ex)}"), mk)
    }.reduce(_ unionByName _)

  def capture(ex: String): String = if (ex == "hyperliquid") ex else s"$ex.jsonl"

  def normalizer(ex: String): (DataFrame, String) => DataFrame = ex match {
    case "binance" => Normalizers.binance(_, _)
    case "aster" => Normalizers.aster(_, _)
    case "bybit" => Normalizers.bybit(_, _)
    case "okx" => Normalizers.okx(_, _)
    case "hyperliquid" => Normalizers.hyperliquid(_, _)
  }

  private def typed(df: DataFrame): DataFrame = df.select(
    col("exchange"), col("market"), col("symbol"), col("side"),
    col("qty").cast("double"), col("price").cast("double"),
    col("notional").cast("double"), col("ts_exch_ms").cast("long"), col("raw"))

  /** Expected row count, and for each sink the rows of `exp` missing from
    * it plus the rows it holds beyond `exp`, as multisets, in one job. */
  def mismatch(exp: DataFrame, sinks: Seq[DataFrame]): (Long, Seq[Long]) = {
    val all = (exp +: sinks).zipWithIndex
      .map { case (df, i) => typed(df).withColumn("src", lit(i)) }.reduce(_ unionByName _)
    val n = (0 to sinks.size).map(i => sum(when(col("src") === i, 1L).otherwise(0L)).as(s"n$i"))
    val counted = all.groupBy(typed(exp).columns.map(col): _*).agg(n.head, n.tail: _*)
    val r = counted.agg(sum(col("n0")),
        sinks.indices.map(i => sum(abs(col("n0") - col(s"n${i + 1}")))): _*).head()
    (r.getLong(0), sinks.indices.map(i => r.getLong(i + 1)))
  }

  /** Symbols whose final streamed VWAP differs from a batch groupBy. */
  def vwapMismatch(spark: SparkSession, exp: DataFrame, vwapDir: File): (Long, Long) = {
    val want = exp.groupBy("symbol").agg(count(lit(1)).as("n"),
        sum(coalesce(col("notional"), lit(0.0))).as("sn"),
        sum(coalesce(col("qty"), lit(0.0))).as("sq"))
      .collect().map(r => r.getString(0) -> (r.getLong(1),
        if (r.getDouble(3) == 0.0) 0.0 else r.getDouble(2) / r.getDouble(3))).toMap
    val got = spark.read.parquet(vwapDir.getPath).collect()
      .groupBy(_.getAs[String]("symbol"))
      .map { case (s, rs) =>
        val last = rs.maxBy(_.getAs[Long]("n"))
        s -> (last.getAs[Long]("n"), last.getAs[Double]("vwap"))
      }
    val bad = (want.keySet ++ got.keySet).count { s =>
      (want.get(s), got.get(s)) match {
        case (Some((n1, v1)), Some((n2, v2))) =>
          n1 != n2 || math.abs(v1 - v2) > 1e-9 * math.max(1.0, math.abs(v1))
        case _ => true
      }
    }
    (want.size.toLong, bad.toLong)
  }

  /** Set-up: session, Derby, and a small warm-up drain through every sink,
    * so the steady phase runs warm code. The VWAP query is left cold; its
    * drain is the workload's cold metric. */
  def setup(work: File, seed: Long): SparkSession = {
    val spark = Main.session("ingest_cascade", work)
    val dir = new File(work, "warm")
    val g = new Generator(new File(dir, "frames"), seed + 7919)
    try g.append(500, System.currentTimeMillis()) finally g.close()
    runCli(spark, cliArgs(new File(dir, "frames"), new File(dir, "out"),
      "jdbc:derby:memory:warm;create=true", vwap = false), new File(dir, "console.log"))
    spark
  }

  def run(a: Main.Args, tr: Tracer): Main.Result = {
    System.setProperty("derby.system.home", a.work.getPath)
    System.setProperty("derby.stream.error.file", new File(a.work, "derby.log").getPath)
    val report = new Metrics; val e2e = new Metrics; val layers = new Metrics

    // one set-up round: a warm-up drain costs as much as the steady phase
    val spark = tr.span("setup")(setup(a.work, a.seed))
    val setupS = Main.sinceJvmStartS()
    Main.liveHeapCheckpoint()
    val genOk = Generator.deterministic(new File(a.work, "gencheck"), a.seed, 20, 50)

    // measured run
    val frames = new File(a.work, "frames"); val out = new File(a.work, "out")
    val url = "jdbc:derby:memory:bench;create=true"
    val progress = new Progress
    spark.streams.addListener(progress)
    val steadyTicks = (a.seconds * 1000L / TickMs).toInt
    val burstRows = 2L * Rate * a.seconds
    val gen = new Generator(frames, a.seed)
    val late = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val burstAt = new java.util.concurrent.atomic.AtomicLong()
    val genError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val firstAppend = new java.util.concurrent.CountDownLatch(1)
    val genThread = new Thread(() => try {
      val start = System.currentTimeMillis()
      var k = 0
      while (k < steadyTicks) {
        val due = start + k * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val stamp = System.currentTimeMillis()
        late.add(stamp - due)
        gen.append(Rate * (k + 1) * TickMs / 1000 - gen.rows, stamp)
        firstAppend.countDown()
        k += 1
      }
      val due = start + steadyTicks * TickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      burstAt.set(System.currentTimeMillis())
      gen.append(burstRows, burstAt.get)
    } catch { case t: Throwable => genError.set(t); firstAppend.countDown() }
    finally gen.close(), "perfbench-generator")
    genThread.start()
    firstAppend.await()
    val console = new File(a.work, "console.log")
    val (csvRows, pgRows) = tr.span("StreamCli.run")(
      runCli(spark, cliArgs(frames, out, url, vwap = true), console))
    genThread.join()
    if (genError.get != null) throw genError.get
    Main.liveHeapCheckpoint()
    val burstStamp = burstAt.get

    // outputs against the batch normalizers over the same capture
    val props = new java.util.Properties()
    val exp = expected(spark, frames).persist()
    val jdbc = spark.read.jdbc(url, Table, props).persist()
    val (nExp, Seq(jdbcBad, csvBad)) = tr.span("check.sinks")(mismatch(exp, Seq(jdbc,
      spark.read.option("header", "true").csv(new File(out, "csv").getPath))))
    val (nSym, vwapBad) = tr.span("check.vwap")(vwapMismatch(spark, exp, new File(out, "vwap")))
    val printed = scala.io.Source.fromFile(console, "UTF-8").getLines()
      .count(l => l.startsWith("[") && !l.startsWith("[cli]"))
    val consoleBad = math.abs(printed - nExp)
    // per expected row: its JDBC row, its CSV row, its console line; per
    // symbol: its VWAP; plus the generator check and StreamCli's own counts
    val attempted = 3 * nExp + nSym + 2
    val failed = jdbcBad + csvBad + consoleBad + vwapBad + (if (genOk) 0 else 1) +
      (if (csvRows == nExp && pgRows == nExp) 0 else 1)
    if (failed > 0) System.err.println(s"[ingest] expected=$nExp jdbc_bad=$jdbcBad " +
      s"csv_bad=$csvBad vwap_bad=$vwapBad console_bad=$consoleBad gen_ok=$genOk " +
      s"csv_rows=$csvRows pg_rows=$pgRows")

    // latency from the listener's trigger ends and the committed batch ids
    val Seq(mainId, vwapId) = progress.queries.take(2)
    val mainP = progress.of(mainId)
    val end = mainP.map(p => p.batchId -> endMs(p)).toMap
    val committed = jdbc.select("ts_exch_ms", "batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // steady rows: stamped after the first trigger committed (so the
    // query's start-up is not in their lag) and before the cascade
    val steadyFrom = end(mainP.head.batchId)
    val steadyLag = committed.collect {
      case (ts, b) if ts >= steadyFrom && ts < burstStamp => (end(b) - ts).toDouble }
    // the cascade's first trigger starts when the in-flight steady trigger
    // ends; absorb time counts from there, so it does not depend on where
    // in that trigger the cascade happened to land
    val burstBatches = committed.collect { case (ts, b) if ts >= burstStamp => b }
    val burstEnd = burstBatches.map(end).max
    val absorbS = (burstEnd - startMs(mainP.find(_.batchId == burstBatches.min).get)) / 1000.0
    val vwapP = progress.of(vwapId)
    java.nio.file.Files.write(new File(a.work, "triggers.tsv").toPath, (mainP ++ vwapP)
      .map(p => s"${p.name}\t${p.batchId}\t${startMs(p) - burstStamp}\t" +
        s"${p.durationMs.getOrDefault("triggerExecution", 0L)}\t${p.numInputRows}")
      .mkString("query\tbatch\tstart_ms_from_cascade\tduration_ms\trows\n", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val vwapS = (vwapP.map(endMs).max - progress.startOf(vwapId)) / 1000.0
    val burstS = (burstEnd - burstStamp) / 1000.0
    val p50 = Stats.hd(steadyLag.toSeq, 50); val p90 = Stats.hd(steadyLag.toSeq, 90)
    val steadyTriggers = mainP.count(p => startMs(p) >= steadyFrom && startMs(p) < burstStamp)

    e2e.put("setup_s", setupS, "s")
    e2e.put("op_p50_ms", p50, "ms")
    e2e.put("op_p90_ms", p90, "ms")
    e2e.put("work_s", absorbS, "s")
    e2e.put("cold_s", vwapS, "s")
    report.put("setup_s", setupS, "s")
    report.put("failed_ratio", failed.toDouble / attempted, "ratio")
    report.put("sink_lag_p50_ms", p50, "ms")
    report.put("sink_lag_p90_ms", p90, "ms")
    report.put("burst_drain_s", burstS, "s")
    report.put("burst_absorb_s", absorbS, "s")
    report.put("vwap_drain_s", vwapS, "s")
    report.put("steady_rows", steadyLag.size, "count")
    report.put("steady_triggers", steadyTriggers, "count")
    report.put("burst_rows", burstBatches.length, "count")

    if (a.trace) {
      val lateMs = late.asScala.toSeq.map(_.toDouble)
      layers.put("generator.late_p99_ms", Stats.pct(lateMs, 99), "ms")
      layers.put("generator.rows", gen.rows, "count")
      traceLayers(spark, a, tr, layers, frames, exp, mainP, vwapP, burstStamp,
        steadyLag.size.toDouble / math.max(1, steadyTriggers), burstRows)
    }
    Main.Result(attempted, failed, e2e, report, layers)
  }

  private def traceLayers(spark: SparkSession, a: Main.Args, tr: Tracer, layers: Metrics,
      frames: File, exp: DataFrame, mainP: Seq[StreamingQueryProgress],
      vwapP: Seq[StreamingQueryProgress], burstStamp: Long, steadyBatch: Double,
      burstRows: Long): Unit = {
    // sources: a fresh index over each WS capture; the pipeline's own index
    // must have read every capture byte exactly once
    val paths = Generator.wsExchanges.map(e => s"$frames/$e.jsonl")
    val fresh = paths.map(p => tr.span("sources.FrameIndex.refresh")(new FrameIndex(p).refresh()))
    val lines = paths.flatMap(p => scala.io.Source.fromFile(p, "UTF-8").getLines())
    layers.put("sources.index_ms", tr.ms("sources.FrameIndex.refresh"), "ms")
    layers.put("sources.frames", fresh.sum, "count")
    layers.put("sources.control_frames", lines.count(WsReplay.isControlFrame), "count")
    layers.put("sources.scan_ratio",
      paths.map(p => WsReplay.indexFor(p).bytesScanned).sum.toDouble /
        paths.map(p => new File(p).length).sum, "ratio")

    // normalize: each batch normalizer over its capture, forced by a noop write
    Seq("binance", "aster", "bybit", "okx", "hyperliquid").foreach { ex =>
      val mk = if (ex == "hyperliquid") "usdc" else "usdt"
      val raw = rawText(spark, s"$frames/${capture(ex)}").cache()
      val in = raw.count()
      val ob = Observation(s"n_$ex")
      tr.span(s"normalize.$ex")(normalizer(ex)(raw, mk).observe(ob, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save())
      layers.put(s"normalize.$ex.ms", tr.ms(s"normalize.$ex"), "ms")
      layers.put(s"normalize.$ex.rows_in", in, "count")
      layers.put(s"normalize.$ex.rows_out", ob.get("n").asInstanceOf[Long], "count")
      raw.unpersist()
    }

    // engine: trigger phases, steady and burst apart
    layers.put("engine.triggers", mainP.size, "count")
    val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets")
    val (steadyP, burstP) = mainP.filter(_.numInputRows > 0).partition(p => startMs(p) < burstStamp)
    for ((phase, ps) <- Seq("steady" -> steadyP, "burst" -> burstP); k <- phases)
      layers.put(s"engine.$phase.${k}_p50_ms",
        Stats.median(ps.map(_.durationMs.getOrDefault(k, 0L).toDouble)), "ms")

    // state: the Hyperliquid dedup operator and the VWAP store
    def lastOp(ps: Seq[StreamingQueryProgress]) =
      ps.reverse.flatMap(_.stateOperators.headOption).headOption
    lastOp(mainP).foreach { op =>
      layers.put("state.dedup_rows", op.numRowsTotal, "count")
      layers.put("state.dedup_bytes", op.memoryUsedBytes, "bytes")
    }
    layers.put("state.dedup_dropped", mainP.flatMap(_.stateOperators.headOption)
      .map(_.customMetrics.getOrDefault("numDroppedDuplicateRows", 0L).toLong).sum, "count")
    lastOp(vwapP).foreach { op =>
      layers.put("state.vwap_rows", op.numRowsTotal, "count")
      layers.put("state.vwap_bytes", op.memoryUsedBytes, "bytes")
    }

    // sinks: the three writes of StreamCli's foreachBatch on persisted
    // steady- and burst-sized batches
    val props = new java.util.Properties()
    for ((phase, n) <- Seq("steady" -> math.max(1L, steadyBatch.round), "burst" -> burstRows)) {
      val batch = exp.limit(n.toInt).withColumn("ts_ingest_ms", col("ts_exch_ms")).persist()
      batch.count()
      val dir = new File(a.work, s"sinkprobe/$phase")
      val url = s"jdbc:derby:memory:probe_$phase;create=true"
      tr.span(s"sinks.$phase.console")(batch.select(ConsoleSink.line(colors = false)).collect())
      tr.span(s"sinks.$phase.csv")(batch
        .withColumn("day", date_format(timestamp_millis(col("ts_ingest_ms")), "yyyy-MM-dd"))
        .write.mode("append").partitionBy("day").option("header", "true")
        .csv(new File(dir, "csv").getPath))
      JdbcSink.ensureSchema(url, Table, props, JdbcSink.Derby, withBatchId = true)
      tr.span(s"sinks.$phase.jdbc")(JdbcSink.appendBatchExactlyOnce(batch, 1L, url, Table,
        props, dialect = JdbcSink.Derby))
      val before = spark.read.jdbc(url, Table, props).count()
      tr.span(s"sinks.$phase.jdbc_replay")(JdbcSink.appendBatchExactlyOnce(batch, 1L, url,
        Table, props, dialect = JdbcSink.Derby))
      val after = spark.read.jdbc(url, Table, props).count()
      val files = java.nio.file.Files.walk(new File(dir, "csv").toPath).iterator().asScala
        .count(p => p.getFileName.toString.endsWith(".csv"))
      layers.put(s"sinks.$phase.console_ms", tr.ms(s"sinks.$phase.console"), "ms")
      layers.put(s"sinks.$phase.csv_ms", tr.ms(s"sinks.$phase.csv"), "ms")
      layers.put(s"sinks.$phase.csv_files", files, "count")
      layers.put(s"sinks.$phase.jdbc_ms", tr.ms(s"sinks.$phase.jdbc"), "ms")
      layers.put(s"sinks.$phase.jdbc_deleted_rows", before + n - after, "count")
      batch.unpersist()
    }

    // single-threaded baseline: the same cascade drained on local[1]
    spark.stop()
    val one = Main.session("ingest_cascade", a.work, cores = 1)
    val p1 = new Progress
    one.streams.addListener(p1)
    val dir = new File(a.work, "burst1")
    val g = new Generator(new File(dir, "frames"), a.seed)
    try g.append(burstRows, System.currentTimeMillis()) finally g.close()
    tr.span("StreamCli.run.local1")(runCli(one, cliArgs(new File(dir, "frames"),
      new File(dir, "out"), "jdbc:derby:memory:burst1;create=true", vwap = false),
      new File(dir, "console.log")))
    val ps = p1.of(p1.queries.head)
    layers.put("engine.burst_drain_1core_s",
      (ps.map(endMs).max - ps.map(startMs).min) / 1000.0, "s")
  }
}
