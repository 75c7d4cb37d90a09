package graft

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.MicroBatchPlans
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.model.Schemas
import graft.normalize.{Fixtures, Normalizers}

/** CLI orchestrator spec: stream resolution semantics (incl. the aster/
  * hyperliquid market rewrites, `stream.py:90-122`) and an end-to-end run
  * over fixture frame files producing both fan-out sinks. */
class StreamCliSpec extends SparkSpec {

  private def tmp(prefix: String) = ops.tempDir(prefix)

  /** Fixture captures for every `--all` source. */
  private def allFrames(prefix: String): String = {
    val framesRoot = tmp(prefix)
    Seq("binance" -> Fixtures.binance, "aster" -> Fixtures.aster,
      "bybit" -> Fixtures.bybit, "okx" -> Fixtures.okx).foreach { case (ex, fx) =>
      Files.write(Paths.get(s"$framesRoot/$ex.jsonl"), fx.mkString("\n").getBytes)
    }
    Files.createDirectories(Paths.get(s"$framesRoot/hyperliquid"))
    Files.write(Paths.get(s"$framesRoot/hyperliquid/hour1.json"),
      Fixtures.hyperliquid.mkString("", "\n", "\n").getBytes)
    framesRoot
  }

  /** Two runs over one output root, with the Binance fixture frames
    * appended to the capture between them. A run drains its whole backlog
    * in one micro-batch, so the second run streams the appended frames as
    * a later batch with rows. Returns the second run's sink counts. */
  private def runTwice(args: StreamCli.CliArgs): (Long, Long) = {
    StreamCli.run(spark, args)
    Files.write(Paths.get(s"${args.framesRoot}/binance.jsonl"),
      Fixtures.binance.mkString("\n", "\n", "").getBytes, StandardOpenOption.APPEND)
    StreamCli.run(spark, args)
  }

  /** Rows as a multiset: each distinct row with its count. */
  private def multiset(rows: Array[org.apache.spark.sql.Row]) =
    rows.toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  test("resolveStreams: --all roster, ex:mk list, single pair, market rewrites") {
    import StreamCli._
    assert(resolveStreams(CliArgs(all = true)) == allPairs)
    assert(resolveStreams(CliArgs(all = true)).size == 8)
    // market rewrites on the list path
    assert(resolveStreams(CliArgs(streams = "aster:coin,hyperliquid:usdt,OKX:USDT")) ==
      Seq("aster" -> "usdt", "hyperliquid" -> "usdc", "okx" -> "usdt"))
    // single-pair path rewrites too
    assert(resolveStreams(CliArgs(exchange = Some("hyperliquid"), market = Some("usdt"))) ==
      Seq("hyperliquid" -> "usdc"))
    assert(resolveStreams(CliArgs(exchange = Some("binance"), market = Some("coin"))) ==
      Seq("binance" -> "coin"))
  }

  test("resolveStreams: malformed items and missing mode fail with usable errors") {
    import StreamCli._
    // an item without a colon used to throw scala.MatchError from Array
    // destructuring; now it names the bad item
    val e1 = intercept[IllegalArgumentException](
      resolveStreams(CliArgs(streams = "binance:usdt,binance")))
    assert(e1.getMessage.contains("'binance'"))
    val e2 = intercept[IllegalArgumentException](
      resolveStreams(CliArgs(streams = "okx:")))
    assert(e2.getMessage.contains("expected exchange:market"))
    // no --all/--streams/--exchange used to fail late as "unknown exchange: ''"
    val e3 = intercept[IllegalArgumentException](resolveStreams(CliArgs()))
    assert(e3.getMessage.contains("--all"))
  }

  test("parse: flags map to CliArgs") {
    val a = StreamCli.parse(Array("--streams", "binance:usdt", "--frames-root",
      "/x", "--outdir-root", "/y", "--trigger-ms", "250", "--dry-run"))
    assert(a.streams == "binance:usdt" && a.framesRoot == "/x" &&
      a.outdirRoot == "/y" && a.triggerMs == 250L && a.dryRun)
    intercept[IllegalArgumentException](StreamCli.parse(Array("--bogus")))
  }

  test("parse: sink/write/color/pg/hl flags (stream.py:15-44 surface)") {
    val a = StreamCli.parse(Array("--sink", "pg", "--no-write", "--no-color",
      "--pg-url", "jdbc:derby:memory:liq;create=true", "--pg-table", "liq2",
      "--pg-batch", "250", "--hl-no-catchup", "--outdir", "/z"))
    assert(a.sink == "pg" && a.noWrite && a.noColor && a.hlNoCatchup)
    assert(a.pgUrl.startsWith("jdbc:derby") && a.pgTable == "liq2" && a.pgBatch == 250)
    assert(a.outdir.contains("/z"))
    val e = intercept[IllegalArgumentException](
      StreamCli.parse(Array("--sink", "kafka")))
    assert(e.getMessage.contains("csv|pg|both"))
  }

  test("--sink pg --pg-url: rows land in the JDBC table, no CSV dir is written") {
    val framesRoot = tmp("cli_pg_frames")
    Files.write(Paths.get(s"$framesRoot/binance.jsonl"),
      Fixtures.binance.mkString("\n").getBytes)
    val out = tmp("cli_pg_out")
    val url = "jdbc:derby:memory:cli_pg;create=true"
    val (csvRows, pgRows) = StreamCli.run(spark, StreamCli.CliArgs(
      streams = "binance:usdt", framesRoot = framesRoot, outdirRoot = out,
      triggerMs = 100L, sink = "pg", pgUrl = url, pgTable = "liquidations"))
    assert(csvRows == 0L && pgRows == 4L)
    assert(!Files.exists(Paths.get(s"$out/csv")))
    // the rows are really in Derby, with the unified schema columns
    val back = spark.read.jdbc(url, "liquidations", new java.util.Properties())
    assert(back.count() == 4)
    assert(back.columns.contains("exchange") && back.columns.contains("notional"))
  }

  test("--no-write: console only — neither sink directory is created") {
    val framesRoot = tmp("cli_nw_frames")
    Files.write(Paths.get(s"$framesRoot/okx.jsonl"),
      Fixtures.okx.mkString("\n").getBytes)
    val out = tmp("cli_nw_out")
    val (csvRows, pgRows) = StreamCli.run(spark, StreamCli.CliArgs(
      streams = "okx:usdt", framesRoot = framesRoot, outdirRoot = out,
      triggerMs = 100L, noWrite = true))
    assert(csvRows == 0L && pgRows == 0L)
    assert(!Files.exists(Paths.get(s"$out/csv")))
    assert(!Files.exists(Paths.get(s"$out/parquet")))
  }

  test("--hl-no-catchup: hour files older than the newest hour are skipped") {
    val framesRoot = tmp("cli_hl_frames")
    Files.createDirectories(Paths.get(s"$framesRoot/hyperliquid"))
    val old = Paths.get(s"$framesRoot/hyperliquid/hour1.json")
    // hour1 carries the ETH self-liq fill (lines 1-2); hour2 skips line 3
    // (the ETH duplicate — it would be re-admitted either way once hour1 is
    // dropped, making the two modes indistinguishable) and carries only the
    // SOL + DOGE fills
    Files.write(old, Fixtures.hyperliquid.take(2).mkString("", "\n", "\n").getBytes)
    Files.setLastModifiedTime(old, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3 * 3600 * 1000L))
    Files.write(Paths.get(s"$framesRoot/hyperliquid/hour2.json"),
      Fixtures.hyperliquid.drop(3).mkString("", "\n", "\n").getBytes)
    val out = tmp("cli_hl_out")
    val (csvRows, pgRows) = StreamCli.run(spark, StreamCli.CliArgs(
      streams = "hyperliquid:usdc", framesRoot = framesRoot, outdirRoot = out,
      triggerMs = 100L, hlNoCatchup = true))
    // catch-up would see 3 fills (ETH from hour1 + SOL/DOGE); tail-only
    // sees just hour2's two
    assert(csvRows == 2L && pgRows == 2L)
    val symbols = spark.read.parquet(s"$out/parquet")
      .select("symbol").collect().map(_.getString(0)).toSet
    assert(symbols == Set("SOLUSDC", "DOGEUSDC"), s"got $symbols")
  }

  test("--all: the full 8-pair roster runs as ONE streaming query over 5 sources") {
    val framesRoot = allFrames("cli_all_frames")
    val out = tmp("cli_all_out")
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress): Unit
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val (csvRows, pgRows) = try StreamCli.run(spark, StreamCli.CliArgs(
      all = true, framesRoot = framesRoot, outdirRoot = out, triggerMs = 100L))
    finally {
      // progress events reach listeners asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (progress.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(25)
      spark.streams.removeListener(listener)
    }
    assert(csvRows > 0 && csvRows == pgRows)
    // one source per capture: binance, bybit, okx, aster, hyperliquid
    val last = progress.asScala.toSeq.maxBy(_.batchId)
    assert(last.sources.length == 5, last.sources.map(_.description).mkString(", "))
    // the market fan-out yields exactly the per-pair batch normalizers' rows
    val cols = Schemas.unified.fieldNames.filterNot(_ == "ts_ingest_ms").map(col)
    def text(path: String) = spark.read.text(path).withColumnRenamed("value", "raw")
    val batch = StreamCli.allPairs.map { case (ex, mk) =>
      val capture = if (ex == "hyperliquid") s"$framesRoot/$ex" else s"$framesRoot/$ex.jsonl"
      val normalize: (DataFrame, String) => DataFrame = ex match {
        case "binance" => Normalizers.binance(_, _)
        case "aster" => Normalizers.aster(_, _)
        case "bybit" => Normalizers.bybit(_, _)
        case "okx" => Normalizers.okx(_, _)
        case "hyperliquid" => Normalizers.hyperliquid(_, _)
      }
      normalize(text(capture), mk)
    }.reduce(_ unionByName _)
    assert(multiset(spark.read.parquet(s"$out/parquet").select(cols: _*).collect()) ==
      multiset(batch.select(cols: _*).collect()))
    val pq = spark.read.parquet(s"$out/parquet")
    val exchanges = pq.select("exchange").distinct()
      .collect().map(_.getString(0)).toSet
    assert(exchanges == Set("binance", "bybit", "okx", "aster", "hyperliquid"))
    // the usdt/coin market split is carried through for the dual-market
    // exchanges (okx:coin legitimately yields no rows — the fixture
    // instruments are all USDT-suffixed and the OKX normalizer filters by
    // instId suffix, okx_adapter.py:15-21)
    val pairs = pq.select("exchange", "market").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(Set("binance" -> "usdt", "binance" -> "coin", "bybit" -> "usdt",
      "bybit" -> "coin", "okx" -> "usdt", "aster" -> "usdt",
      "hyperliquid" -> "usdc").subsetOf(pairs), s"got $pairs")
  }

  test("lines appended to a Hyperliquid hour file after it was streamed are read") {
    val framesRoot = tmp("cli_hl_append")
    val hour = Paths.get(s"$framesRoot/hyperliquid/hour1.json")
    Files.createDirectories(hour.getParent)
    // the ETH self-liquidation line alone, streamed to the sinks
    Files.write(hour, Fixtures.hyperliquid.take(1).mkString("", "\n", "\n").getBytes)
    val out = tmp("cli_hl_append_out")
    val url = "jdbc:derby:memory:cli_hl_append;create=true"
    val args = StreamCli.CliArgs(streams = "hyperliquid:usdc", framesRoot = framesRoot,
      outdirRoot = out, triggerMs = 100L, pgUrl = url)
    val quiet = new PrintStream(OutputStream.nullOutputStream())
    assert(Console.withOut(quiet)(StreamCli.run(spark, args)) == ((1L, 1L)))
    // the node appends the other six lines to the SAME hour file; the
    // restarted run reads them from where the checkpoint left off
    Files.write(hour, Fixtures.hyperliquid.drop(1).mkString("", "\n", "\n").getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    Console.withOut(quiet)(StreamCli.run(spark, args))
    val cols = Schemas.unified.fieldNames.filterNot(_ == "ts_ingest_ms").map(col)
    val want = multiset(Normalizers.hyperliquid(spark.read.text(s"$framesRoot/hyperliquid")
      .withColumnRenamed("value", "raw")).select(cols: _*).collect())
    assert(want.values.sum == 3)
    assert(multiset(spark.read.jdbc(url, "liquidations", new java.util.Properties())
      .select(cols: _*).collect()) == want)
    assert(multiset(spark.read.option("header", "true").schema(Schemas.unified)
      .csv(s"$out/csv").select(cols: _*).collect()) == want)
  }

  test("a capture's final frame without its newline waits for it, then streams once") {
    val framesRoot = tmp("cli_open_line")
    val capture = Paths.get(s"$framesRoot/binance.jsonl")
    // the BTC frame is whole; the XRP frame's newline is not written yet
    Files.write(capture, s"${Fixtures.binance(0)}\n${Fixtures.binance(2)}".getBytes)
    val out = tmp("cli_open_line_out")
    val args = StreamCli.CliArgs(streams = "binance:usdt", framesRoot = framesRoot,
      outdirRoot = out, triggerMs = 100L)
    val quiet = new PrintStream(OutputStream.nullOutputStream())
    assert(Console.withOut(quiet)(StreamCli.run(spark, args)) == ((1L, 1L)))
    // the newline arrives; a later run over the same checkpoint reads XRP
    Files.write(capture, "\n".getBytes, java.nio.file.StandardOpenOption.APPEND)
    assert(Console.withOut(quiet)(StreamCli.run(spark, args)) == ((2L, 2L)))
    val symbols = spark.read.parquet(s"$out/parquet").select("symbol")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(symbols == Seq("BTCUSDT", "XRPUSDT"))
  }

  test("--all over several micro-batches: one stamp per batch, CSV == JDBC, a line per row") {
    val framesRoot = allFrames("cli_mb_frames")
    val out = tmp("cli_mb_out")
    val url = "jdbc:derby:memory:cli_mb;create=true"
    val args = StreamCli.CliArgs(all = true, framesRoot = framesRoot,
      outdirRoot = out, triggerMs = 100L, noColor = true, pgUrl = url)
    val console = new ByteArrayOutputStream()
    val t0 = System.currentTimeMillis()
    val ((csvRows, pgRows), jobs) = MicroBatchPlans.jobsByBatch(spark)(
      Console.withOut(new PrintStream(console, true, "UTF-8"))(runTwice(args)))
    val t1 = System.currentTimeMillis()
    val jdbc = spark.read.jdbc(url, "liquidations", new java.util.Properties())
    val jdbcRows = jdbc.collect()
    assert(csvRows == jdbcRows.length && pgRows == jdbcRows.length)
    // each batch_id: one shared, non-null ts_ingest_ms, taken during the
    // run, and no two batches share one
    val byBatch = jdbcRows.groupBy(_.getAs[Long]("batch_id"))
    assert(byBatch.size >= 2, s"expected several micro-batches: ${byBatch.keySet}")
    val stamps = byBatch.map { case (b, rs) =>
      val ts = rs.map(r => Option(r.getAs[java.lang.Long]("ts_ingest_ms"))).distinct
      assert(ts.length == 1 && ts.head.isDefined, s"batch $b carries stamps $ts")
      ts.head.get.longValue
    }
    assert(stamps.toSet.size == byBatch.size, s"batches share a stamp: $stamps")
    assert(stamps.forall(ts => ts >= t0 && ts <= t1), s"stamps $stamps outside the run")
    // one Spark job per batch with rows: the collect; the CSV and JDBC
    // sinks write the collected rows without another job
    byBatch.keys.foreach(b => assert(jobs.get(b).contains(1), s"batch $b ran jobs $jobs"))
    // CSV holds the same rows as JDBC, ts_ingest_ms included, so each CSV
    // row carries its batch's stamp too
    val cols = Schemas.unified.fieldNames.map(col)
    val csv = spark.read.option("header", "true").schema(Schemas.unified)
      .csv(s"$out/csv")
    assert(multiset(csv.select(cols: _*).collect()) ==
      multiset(jdbc.select(cols: _*).collect()))
    // every CSV part-file keeps the unified column order
    val parts = Files.walk(Paths.get(s"$out/csv")).iterator().asScala
      .filter(_.toString.endsWith(".csv")).toSeq
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val header = Files.readAllLines(p).get(0)
      assert(header == Schemas.unified.fieldNames.mkString(","), s"$p: $header")
    }
    // the console printed one line per row
    val printed = console.toString("UTF-8").split("\n")
      .count(l => l.startsWith("[") && !l.startsWith("[cli]"))
    assert(printed == jdbcRows.length)
  }

  test("a replayed batch duplicates no sink rows: JDBC and CSV keep the first run's rows") {
    val framesRoot = allFrames("cli_replay_frames")
    val out = tmp("cli_replay_out")
    val url = "jdbc:derby:memory:cli_replay;create=true"
    val args = StreamCli.CliArgs(all = true, framesRoot = framesRoot,
      outdirRoot = out, triggerMs = 100L, noColor = true, pgUrl = url)
    val quiet = new PrintStream(OutputStream.nullOutputStream())
    val cols = Schemas.unified.fieldNames.filterNot(_ == "ts_ingest_ms").map(col)
    def sinks() = (
      multiset(spark.read.jdbc(url, "liquidations", new java.util.Properties())
        .select(cols: _*).collect()),
      multiset(spark.read.option("header", "true").schema(Schemas.unified)
        .csv(s"$out/csv").select(cols: _*).collect()))
    // two runs, so the replayed batch has an earlier batch's rows beside it
    Console.withOut(quiet)(runTwice(args))
    val first = sinks()
    // the last batch that wrote rows reached both sinks, but its commit and
    // every later batch were lost: the restart runs it again with the same
    // batch id and the same rows
    val jdbcTable = spark.read.jdbc(url, "liquidations", new java.util.Properties())
    val n = jdbcTable.agg(org.apache.spark.sql.functions.max("batch_id")).head().getLong(0)
    val lastRows = jdbcTable.filter(col("batch_id") === n).count()
    assert(lastRows > 0, s"batch $n wrote no rows, so its replay tests nothing")
    def batchFiles(log: String): Seq[(Long, Path)] =
      Files.list(Paths.get(s"$out/ckpt/$log")).iterator().asScala.toSeq.flatMap { f =>
        val id = f.getFileName.toString.stripPrefix(".").stripSuffix(".crc")
        if (id.nonEmpty && id.forall(_.isDigit)) Some(id.toLong -> f) else None
      }
    assert(batchFiles("commits").exists(_._1 == n), s"batch $n has no commit")
    (batchFiles("commits").filter(_._1 >= n) ++ batchFiles("offsets").filter(_._1 > n))
      .foreach { case (_, f) => Files.delete(f) }
    Console.withOut(quiet)(StreamCli.run(spark, args))
    val (jdbcSame, csvSame) = sinks() match { case (j, c) => (j == first._1, c == first._2) }
    assert(jdbcSame, "the JDBC replay changed the table")
    assert(csvSame, "the CSV replay changed the files")
    val files = Files.walk(Paths.get(s"$out/csv")).iterator().asScala
      .count(_.getFileName.toString == s"part-$n.csv")
    assert(files == 1, s"batch $n has $files CSV files")
  }

  test("no per-batch value reaches the optimized plan of the main ingest query") {
    // a value that changes every micro-batch changes the generated class
    // of every stage it reaches, which is then compiled again on every
    // trigger
    val framesRoot = allFrames("cli_plan_frames")
    val out = tmp("cli_plan_out")
    val quiet = new PrintStream(OutputStream.nullOutputStream())
    val args = StreamCli.CliArgs(all = true, framesRoot = framesRoot,
      outdirRoot = out, triggerMs = 100L, noWrite = true)
    val (_, batches) = MicroBatchPlans.during(spark)(Console.withOut(quiet)(runTwice(args)))
    assert(batches.size >= 2, s"expected several micro-batches: ${batches.size}")
    batches.foreach { ie =>
      val leaked = MicroBatchPlans.perBatchValues(ie)
      assert(leaked.isEmpty, s"batch ${ie.currentBatchId} plan holds $leaked:\n" +
        ie.optimizedPlan)
      // the stamp is set on the collected rows, outside the streamed plan
      assert(ie.optimizedPlan.output.map(_.name) ==
        Schemas.unified.fieldNames.filterNot(_ == "ts_ingest_ms").toSeq)
    }
  }

  test("--candles/--vwap: dashboard queries run over the replay pipeline") {
    // candle emission needs event time to ADVANCE: frames span 3 hours so
    // the 1-minute watermark closes the first two hourly windows; the last
    // hour stays open (append mode emits closed candles only)
    val t0 = 1710000000000L
    def frame(tMs: Long, px: String) =
      s"""{"e":"forceOrder","E":$tMs,"o":{"s":"BTCUSDT","S":"SELL","q":"0.01","p":"$px","ap":"$px","l":"0.01","T":$tMs}}"""
    val frames = Seq(
      frame(t0, "62000.0"), frame(t0 + 20 * 60000L, "62100.0"),
      frame(t0 + 40 * 60000L, "61900.0"),                       // hour 0
      frame(t0 + 70 * 60000L, "63000.0"),
      frame(t0 + 110 * 60000L, "62500.0"),                      // hour 1
      frame(t0 + 125 * 60000L, "62800.0"))                      // hour 2 (open)
    val framesRoot = tmp("cli_dash_frames")
    Files.write(Paths.get(s"$framesRoot/binance.jsonl"),
      frames.mkString("", "\n", "\n").getBytes)
    val out = tmp("cli_dash_out")
    StreamCli.run(spark, StreamCli.CliArgs(
      streams = "binance:usdt", framesRoot = framesRoot, outdirRoot = out,
      triggerMs = 100L, noWrite = true, candles = true, candlesDaily = true,
      vwap = true))
    // two closed hourly candles, with the right OHLC shape
    val candles = spark.read.parquet(s"$out/candles")
    assert(candles.count() == 2, "expected the two watermark-closed candles")
    val h0 = candles.filter(col("open") === 62000.0).head()
    assert(h0.getAs[String]("symbol") == "BTCUSDT")
    assert(h0.getAs[Double]("high") == 62100.0 &&
      h0.getAs[Double]("low") == 61900.0 && h0.getAs[Double]("close") == 61900.0)
    assert(h0.getAs[Long]("cnt") == 3L)
    // streaming daily rollup: both closed hours land in one UTC day, so
    // ONE daily candle folds them — open from hour 0, close from hour 1
    // (hour 2 never closed), cnt/volume summed across both
    val daily = spark.read.parquet(s"$out/candles_daily")
      .withColumn("day", col("day").cast("string"))
    assert(daily.count() == 1, "expected one folded symbol-day")
    val d0 = daily.head()
    assert(d0.getAs[String]("symbol") == "BTCUSDT")
    assert(d0.getAs[Double]("open") == 62000.0 &&
      d0.getAs[Double]("high") == 63000.0 &&
      d0.getAs[Double]("low") == 61900.0 &&
      d0.getAs[Double]("close") == 62500.0)
    assert(d0.getAs[Long]("cnt") == 5L)
    // batch/stream parity: folding the hourly store in one batch pass
    // must give exactly what the incremental per-micro-batch fold built
    val batchFold = graft.ops.TimeWindows.dailyFold(
      spark.read.parquet(s"$out/candles_hourly").dropDuplicates("symbol", "hour"),
      "symbol")
    val cols = Seq("symbol", "day", "open", "high", "low", "close", "cnt", "volume")
    assert(daily.select(cols.head, cols.tail: _*).collect().toSet ==
      batchFold.select(cols.head, cols.tail: _*).collect().toSet,
      "incremental daily fold diverged from the one-shot batch fold")
    // VWAP updates emitted (one per micro-batch that touched the symbol);
    // the LAST update carries the full running aggregate over all 6 fills
    val vwap = spark.read.parquet(s"$out/vwap")
    assert(vwap.count() >= 1)
    val last = vwap.orderBy(col("n").desc).head()
    assert(last.getAs[String]("symbol") == "BTCUSDT" && last.getAs[Long]("n") == 6L)
    val px = Seq(62000.0, 62100.0, 61900.0, 63000.0, 62500.0, 62800.0)
    val expVwap = px.map(_ * 0.01).sum / (0.01 * px.size)
    assert(math.abs(last.getAs[Double]("vwap") - expVwap) < 1e-6)
  }

  test("end-to-end: fixture frames -> union of 3 streams -> partitioned CSV + parquet") {
    val framesRoot = tmp("cli_frames")
    Files.write(Paths.get(s"$framesRoot/binance.jsonl"),
      // a heartbeat in the middle: the source must drop it
      (Fixtures.binance.take(2) ++ Seq("""{"op":"ping"}""") ++ Fixtures.binance.drop(2))
        .mkString("\n").getBytes)
    Files.write(Paths.get(s"$framesRoot/okx.jsonl"),
      Fixtures.okx.mkString("\n").getBytes)
    Files.createDirectories(Paths.get(s"$framesRoot/hyperliquid"))
    Files.write(Paths.get(s"$framesRoot/hyperliquid/hour1.json"),
      Fixtures.hyperliquid.mkString("", "\n", "\n").getBytes)

    val out = tmp("cli_out")
    val (csvRows, pqRows) = StreamCli.run(spark, StreamCli.CliArgs(
      streams = "binance:usdt,okx:usdt,hyperliquid:usdc",
      framesRoot = framesRoot, outdirRoot = out, triggerMs = 100L))
    assert(csvRows > 0 && csvRows == pqRows)

    val pq = spark.read.parquet(s"$out/parquet")
    val exchanges = pq.select("exchange").distinct()
      .collect().map(_.getString(0)).toSet
    assert(exchanges == Set("binance", "okx", "hyperliquid"))
    // daily CSV rotation: the partition column is present and populated
    val csv = spark.read.option("header", "true").csv(s"$out/csv")
    assert(csv.columns.contains("day"))
    assert(csv.filter(col("day").isNull).count() == 0)
  }
}
