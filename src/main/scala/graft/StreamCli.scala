package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.normalize.Normalizers
import graft.streaming.{ConsoleSink, CsvSink, JdbcSink, StreamAssembly}

/** CLI orchestrator — the Spark counterpart of the reference's entry point
  * (liq-stream `stream.py:15-44` argparse + `:90-122` `_resolve_streams` +
  * `:169-188` `run_all`): resolve (exchange, market) pairs, build one
  * normalized stream per pair, union them into one flow, fan out to the
  * daily-partitioned CSV + parquet sinks.
  *
  * Source mapping: the four WS exchanges replay recorded frames through the
  * custom MicroBatchStream source ([[graft.sources.WsReplayProvider]],
  * `<framesRoot>/<exchange>.jsonl`); Hyperliquid tails its hour-file
  * directory (`<framesRoot>/hyperliquid/`) through the same source's
  * directory mode, like the reference's file adapter. The reference's 8
  * asyncio tasks sharing one PG writer become one streaming query over a
  * union of one source per capture (5 for `--all`; the pairs of one
  * capture fan out to their markets) — one checkpoint, one sink
  * transaction per micro-batch.
  */
object StreamCli {

  /** The reference's argparse surface (`stream.py:15-44`), minus
    * `--subscribe-chunk` (it sizes the live WS subscribe frames that a
    * zero-egress replay never sends — the chunking logic itself is modeled
    * and spec'd in [[graft.sources.SymbolDiscovery.subscribeFrames]]).
    * `--pg-url` carries a JDBC url where the reference's `--pg-dsn` carried
    * a libpq DSN; `--pg-interval` maps onto `--trigger-ms` (the micro-batch
    * IS the flush interval); `--hl-root` maps onto `--frames-root`. */
  final case class CliArgs(
      exchange: Option[String] = None,
      market: Option[String] = None,
      all: Boolean = false,
      streams: String = "",
      framesRoot: String = "",
      outdir: Option[String] = None,
      outdirRoot: String = "data",
      dryRun: Boolean = false,
      triggerMs: Long = 500L,
      sink: String = "both",
      noWrite: Boolean = false,
      noColor: Boolean = false,
      pgUrl: String = sys.env.getOrElse("PG_URL", ""),
      pgTable: String = sys.env.getOrElse("PG_TABLE", "liquidations"),
      pgBatch: Int = sys.env.get("PG_BATCH").map(_.toInt).getOrElse(500),
      hlNoCatchup: Boolean = false,
      candles: Boolean = false,
      candlesDaily: Boolean = false,
      vwap: Boolean = false)

  /** The `--all` roster (`stream.py:93-99`). */
  val allPairs: Seq[(String, String)] = Seq(
    "binance" -> "usdt", "binance" -> "coin",
    "bybit" -> "usdt", "bybit" -> "coin",
    "okx" -> "usdt", "okx" -> "coin",
    "aster" -> "usdt",        // Aster is USDT-margined
    "hyperliquid" -> "usdc")  // Hyperliquid perps settled in USDC

  def parse(argv: Array[String]): CliArgs = {
    def loop(rest: List[String], a: CliArgs): CliArgs = rest match {
      case "--exchange" :: v :: t => loop(t, a.copy(exchange = Some(v)))
      case "--market" :: v :: t => loop(t, a.copy(market = Some(v)))
      case "--all" :: t => loop(t, a.copy(all = true))
      case "--streams" :: v :: t => loop(t, a.copy(streams = v))
      case "--frames-root" :: v :: t => loop(t, a.copy(framesRoot = v))
      case "--outdir" :: v :: t => loop(t, a.copy(outdir = Some(v)))
      case "--outdir-root" :: v :: t => loop(t, a.copy(outdirRoot = v))
      case "--dry-run" :: t => loop(t, a.copy(dryRun = true))
      case "--trigger-ms" :: v :: t => loop(t, a.copy(triggerMs = v.toLong))
      case "--sink" :: v :: t if Set("csv", "pg", "both")(v) =>
        loop(t, a.copy(sink = v))
      case "--sink" :: v :: _ =>
        throw new IllegalArgumentException(s"--sink must be csv|pg|both, got '$v'")
      case "--no-write" :: t => loop(t, a.copy(noWrite = true))
      case "--no-color" :: t => loop(t, a.copy(noColor = true))
      case "--pg-url" :: v :: t => loop(t, a.copy(pgUrl = v))
      case "--pg-table" :: v :: t => loop(t, a.copy(pgTable = v))
      case "--pg-batch" :: v :: t => loop(t, a.copy(pgBatch = v.toInt))
      case "--hl-no-catchup" :: t => loop(t, a.copy(hlNoCatchup = true))
      case "--candles" :: t => loop(t, a.copy(candles = true))
      case "--candles-daily" :: t => loop(t, a.copy(candlesDaily = true))
      case "--vwap" :: t => loop(t, a.copy(vwap = true))
      case Nil => a
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }
    loop(argv.toList, CliArgs())
  }

  /** Market-correctness rewrite (`stream.py:105-110,117-120`): Aster is
    * USDT-margined, Hyperliquid settles in USDC — requesting any other
    * market warns and overrides. */
  private def rewrite(ex: String, mk: String): (String, String) = ex match {
    case "aster" if mk != "usdt" =>
      println("[aster] Warning: overriding market to 'usdt' (Aster is USDT-margined).")
      (ex, "usdt")
    case "hyperliquid" if mk != "usdc" =>
      println("[hyperliquid] Warning: overriding market to 'usdc' (Hyperliquid is USDC).")
      (ex, "usdc")
    case _ => (ex, mk)
  }

  /** `_resolve_streams` (`stream.py:90-122`): --all roster, or the
    * comma-separated `ex:mk` list, or the single --exchange/--market pair —
    * each path applying the market rewrites. Malformed `--streams` items and
    * a missing mode fail here with a usable message instead of a MatchError
    * / a late "unknown exchange: ''" deep in stream construction. */
  def resolveStreams(args: CliArgs): Seq[(String, String)] =
    if (args.all) allPairs
    else if (args.streams.nonEmpty)
      args.streams.split(",").toSeq.map { item =>
        item.trim.split(":") match {
          case Array(ex, mk) if ex.nonEmpty && mk.nonEmpty =>
            rewrite(ex.toLowerCase, mk.toLowerCase)
          case _ => throw new IllegalArgumentException(
            s"bad --streams item '${item.trim}': expected exchange:market")
        }
      }
    else {
      val ex = args.exchange.getOrElse(throw new IllegalArgumentException(
        "one of --all, --streams, or --exchange is required")).toLowerCase
      val mk = args.market.getOrElse("").toLowerCase
      Seq(rewrite(ex, mk))
    }

  /** One normalized stream per capture, unioned — the reference's N
    * asyncio tasks into one shared writer (`stream.py:169-188`). The pairs
    * that read one capture share one source, one scan and one parse per
    * trigger, and fan out to their markets ([[Normalizers.forMarkets]]),
    * so `--all`'s 8 pairs run on 5 sources. `hlNoCatchup` models
    * `--hl-no-catchup` (`stream.py:42-43,152-158`): only files younger
    * than an hour relative to the newest are read, i.e. tail the latest
    * hour instead of backfilling the whole directory. */
  def buildUnified(spark: SparkSession, framesRoot: String,
      pairs: Seq[(String, String)], hlNoCatchup: Boolean = false): DataFrame =
    pairs.map(_._1).distinct.map { ex =>
      val markets = pairs.collect { case (`ex`, mk) => mk }
      if (ex == "hyperliquid")
        Normalizers.withMarkets(StreamAssembly.hyperliquidNormalizedStream(
          StreamAssembly.hyperliquidFileStream(spark, s"$framesRoot/hyperliquid",
            catchUp = !hlNoCatchup), markets.head), markets)
      else Normalizers.forMarkets(ex,
        StreamAssembly.wsReplayStream(spark, s"$framesRoot/$ex.jsonl"), markets)
    }.reduce(_ unionByName _)

  /** Run the resolved streams to completion of the recorded input (drain +
    * stop — the Smoke-style batch analog of the reference's run-forever
    * loop) and report what landed in each sink.
    *
    * Sink fan-out follows the WriterShim contract (`stream.py:47-87` +
    * `run_all` `:169-181`): every row prints to the console first (color
    * unless `--no-color`), then forwards to the CSV writer when `--sink`
    * is csv/both and to the Postgres writer when pg/both — unless
    * `--no-write`, which keeps the print and drops both writers. The PG
    * path is the real [[graft.streaming.JdbcSink]] (DDL bootstrap +
    * batched append) when `--pg-url` is set — embedded Derby in this
    * environment, the byte-identical PG DDL on a real cluster; with no
    * url it falls back to a parquet append (the columnar stand-in the
    * batch queries read; the reference instead exits — `stream.py:172` —
    * but this sandbox has no PG server to point a DSN at).
    *
    * One Spark job per micro-batch: it collects the batch's rows together
    * with their console lines. The lines print from those rows, and the
    * same rows feed the CSV and JDBC sinks directly, with no further job
    * (the parquet stand-in for a missing `--pg-url` is still a Spark
    * write).
    *  - CSV: one file per batch, `csv/day=<day>/part-<batchId>.csv`, where
    *    `<day>` is the batch's `ts_ingest_ms` as a `yyyy-MM-dd` date in
    *    the session time zone ([[graft.streaming.CsvSink]]). A replay of
    *    the batch on the same day replaces that file. A replay after
    *    midnight lands in the next day's directory beside the first
    *    attempt's file, so the CSV sink stays at-least-once.
    *  - JDBC: exactly-once per `batch_id`. The replay deletes that batch's
    *    rows and inserts its own in one transaction.
    *
    * `ts_ingest_ms` is one value per micro-batch, the wall clock when the
    * sink receives the batch; it is not computed in the streaming plan. A
    * batch replayed from the checkpoint is stamped again, so its rows may
    * carry a later stamp than the failed attempt's (earlier the stamp was
    * the batch timestamp in the offset log).
    *
    * Checkpoints: the queries started here write their checkpoint and
    * state files through Hadoop's `FileSystem` rather than `FileContext`,
    * whose local rename forks `readlink` processes; the session's
    * previous choice is restored afterwards. The output root is created
    * with `java.nio`, so it is local and a rename is one `rename(2)`.
    *
    * The drain reads whole lines only: a capture whose last frame has no
    * newline yet keeps that frame back, as the reference's tail buffers a
    * partial line until its newline arrives. A later run over the same
    * output root reads it once the newline is written.
    *
    * Checkpoints from before the one-source-per-capture union (8 sources,
    * Hyperliquid on Spark's file source) do not restart: the sources and
    * their offsets differ. Start such a run with a new `--outdir-root`.
    *
    * Returns (csv rows, pg-or-parquet rows) read back from the sinks. */
  def run(spark: SparkSession, args: CliArgs): (Long, Long) = {
    val pairs = resolveStreams(args)
    println(s"[cli] streams: ${pairs.map(p => s"${p._1}:${p._2}").mkString(", ")}")
    if (args.dryRun) (0L, 0L)
    else withConf(spark, "spark.sql.streaming.checkpointFileManagerClass",
      classOf[FileSystemBasedCheckpointFileManager].getName)(drain(spark, args, pairs))
  }

  /** Sets `key` to `value` on the session for `body`, then restores it. */
  private def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally restoreConf(spark, key, prev)
  }

  /** Puts back a session conf's previous value, or unsets a key that had none. */
  private def restoreConf(spark: SparkSession, key: String, prev: Option[String]): Unit =
    prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }

  private def drain(spark: SparkSession, args: CliArgs,
      pairs: Seq[(String, String)]): (Long, Long) = {
    // --outdir overrides the root in single-stream mode (stream.py:126-127)
    val root = args.outdir.filter(_ => pairs.size == 1).getOrElse(args.outdirRoot)
    val csvDir = s"$root/csv"; val pqDir = s"$root/parquet"
    val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(root))
    val unified = buildUnified(spark, args.framesRoot, pairs, args.hlNoCatchup)
    val writeCsv = !args.noWrite && args.sink != "pg"
    val writePg = !args.noWrite && args.sink != "csv"
    val useJdbc = writePg && args.pgUrl.nonEmpty
    val dialect =
      if (args.pgUrl.startsWith("jdbc:derby")) JdbcSink.Derby else JdbcSink.Postgres
    val props = new java.util.Properties()
    if (useJdbc)
      JdbcSink.ensureSchema(args.pgUrl, args.pgTable, props, dialect,
        withBatchId = true)
    else if (writePg)
      println(s"[cli] no --pg-url: PG sink modeled as parquet append at $pqDir")
    val lineCol = ConsoleSink.line(colors = !args.noColor)
    val timeZone = spark.conf.get("spark.sql.session.timeZone")
    // ts_ingest_ms is stamped on the collected rows, not in the streaming
    // plan: Spark folds current_timestamp into a new literal every
    // micro-batch, which changes the generated class of every union
    // branch and recompiles it on every trigger. Dropped here, column
    // pruning removes the stamp from every branch.
    val q = unified.drop("ts_ingest_ms").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(args.triggerMs))
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val ingestMs = System.currentTimeMillis()
        // the collect is the console sink itself (presentation I/O
        // bounded per micro-batch); every other sink reads the same rows
        val lines = df.select(col("*"), lineCol.as("line"))
        val rows = lines.collect()
        // WriterShim order: print, then forward (stream.py:64-87)
        rows.foreach(r => println(r.getString(r.length - 1)))
        if ((writeCsv || writePg) && rows.nonEmpty) {
          // the collected rows in the unified column order, stamped
          val at = unified.columns.map(c =>
            if (c == "ts_ingest_ms") -1 else lines.schema.fieldIndex(c))
          val stamped = rows.toSeq.map(r =>
            Row.fromSeq(at.toSeq.map(i => if (i < 0) ingestMs else r.get(i))))
          if (writeCsv)
            CsvSink.writeBatch(stamped, unified.schema, csvDir, batchId,
              CsvSink.day(ingestMs, timeZone), timeZone)
          if (writePg) {
            // a local relation: collecting it runs no Spark job
            val batch = spark.createDataFrame(stamped.asJava, unified.schema)
            if (useJdbc)
              JdbcSink.appendBatchExactlyOnce(batch, batchId, args.pgUrl,
                args.pgTable, props, args.pgBatch, dialect = dialect)
            else batch.write.mode("append").parquet(pqDir)
          }
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // Product dashboards over the same replay pipeline, each its own
    // streaming query + checkpoint (the replay source is deterministic, so
    // re-reading it is exact). Candles emit in append mode as the
    // watermark closes each hour; VWAP updates flow every micro-batch via
    // transformWithState, which needs the RocksDB state store (restored
    // after the drain so the session's provider choice is untouched).
    if (args.candles) {
      val cq = StreamAssembly.candlesOverUnified(unified)
        .writeStream.option("checkpointLocation", s"$root/ckpt_candles")
        .outputMode("append").format("parquet")
        .option("path", s"$root/candles")
        .trigger(Trigger.ProcessingTime(args.triggerMs))
        .start()
      try cq.processAllAvailable() finally cq.stop()
      println(s"[cli] candle rows=${spark.read.parquet(s"$root/candles").count()} " +
        s"-> $root/candles")
    }
    if (args.candlesDaily) {
      // two-level rollup: hourly candles stream into an incremental daily
      // fold (foreachBatch re-folds only the affected days from the
      // hourly store — see StreamAssembly.candlesDailyStream)
      val dq = StreamAssembly.candlesDailyStream(unified,
        s"$root/candles_hourly", s"$root/candles_daily",
        s"$root/ckpt_candles_daily", args.triggerMs)
      try dq.processAllAvailable() finally dq.stop()
      println(s"[cli] daily candle rows=" +
        s"${spark.read.parquet(s"$root/candles_daily").count()} " +
        s"-> $root/candles_daily")
    }
    if (args.vwap) {
      val prev = StreamAssembly.useRocksDbStateStore(spark)
      try {
        val vq = StreamAssembly.vwapUpdates(unified).toDF()
          .writeStream.option("checkpointLocation", s"$root/ckpt_vwap")
          .outputMode("append").format("parquet")
          .option("path", s"$root/vwap")
          .trigger(Trigger.ProcessingTime(args.triggerMs))
          .start()
        try vq.processAllAvailable() finally vq.stop()
      } finally restoreConf(spark, "spark.sql.streaming.stateStore.providerClass", prev)
      println(s"[cli] vwap rows=${spark.read.parquet(s"$root/vwap").count()} " +
        s"-> $root/vwap")
    }
    val csvRows =
      if (writeCsv) spark.read.option("header", "true").csv(csvDir).count() else 0L
    val pgRows =
      if (useJdbc) spark.read.jdbc(args.pgUrl, args.pgTable, props).count()
      else if (writePg) spark.read.parquet(pqDir).count()
      else 0L
    println(s"[cli] csv rows=$csvRows pg rows=$pgRows -> $root")
    (csvRows, pgRows)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // SPARK_GRAFT_MASTER is a deployment setting: it replaces local[cpus]
    val spark = GraftSession.local(overrides =
      sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toSeq)
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }
}
