package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Direct spec for [[StreamAssembly.candlesDailyStream]] — the two-level
  * incremental rollup sink. Two claims, each previously covered only
  * indirectly (StreamCliSpec e2e + PlanSpec batch shape):
  *
  *  1. ROW-EXACT PARITY: the daily store the stream materializes equals
  *     the batch hourly→daily fold over the same fills (ONE definition —
  *     [[graft.ops.TimeWindows.dailyFold]] — two runtimes).
  *  2. REPLAY IDEMPOTENCE, driven through a REAL crash: the last commit
  *     file is deleted from the checkpoint and the query restarted, so
  *     Structured Streaming re-executes the final micro-batch and the
  *     foreachBatch sink appends duplicate closed candles to the hourly
  *     store (at-least-once, observable as a row-count increase). The
  *     day re-fold dedupes (symbol, hour) and overwrites just the day
  *     partitions, so the DAILY store converges instead of
  *     double-counting. */
class CandlesDailyReplaySpec extends SparkSpec {

  private def tmp(p: String) = graft.ops.tempDir(p)

  private val base = 1700000000000L // 2023-11-14T22:13:20Z

  // two symbols, fills spread over hours spanning three UTC days;
  // prices chosen so open/high/low/close per hour are all distinct
  private def fills: Seq[(String, Long, Double, String)] =
    for {
      (sym, off) <- Seq(("AAA", 0L), ("BBB", 7L))
      h <- 0 until 30 // 30 hourly candles crossing two midnights
      k <- 0 until 3
    } yield (sym, base + h * 3600000L + k * 600000L + off,
      100.0 + h + k * 0.25 + off, s"raw-$sym-$h-$k")

  // the in-order feed convention every parity spec uses: the split
  // batches must be time-ordered or the second batch falls behind the
  // watermark the first one advanced
  private def ordered: Seq[(String, Long, Double, String)] =
    fills.sortBy(_._2)

  private def mapped(df: DataFrame): DataFrame = df.select(
    col("symbol").as("event_type"),
    timestamp_millis(col("ts_exch_ms")).as("ts"),
    col("price").as("value"),
    xxhash64(col("raw")).as("event_id"))

  private def canon(df: DataFrame): Set[List[Any]] = df.select(
    col("symbol"), col("day").cast("string").as("day"), col("open"),
    col("high"), col("low"), col("close"), col("cnt").cast("long"),
    col("volume").cast("double"))
    .collect().map(_.toSeq.toList).toSet

  test("candlesDailyStream: daily store matches the batch fold; a replayed batch converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (hourlyDir, dailyDir, ckpt) =
      (tmp("cd_hourly"), tmp("cd_daily"), tmp("cd_ckpt"))
    val mem = MemoryStream[(String, Long, Double, String)]
    def unified = mem.toDF().toDF("symbol", "ts_exch_ms", "price", "raw")
    val (a, b) = ordered.splitAt(ordered.size / 2)
    val q1 = StreamAssembly.candlesDailyStream(
      unified, hourlyDir, dailyDir, ckpt)
    try {
      mem.addData(a); q1.processAllAvailable()
      mem.addData(b); q1.processAllAvailable()
      // sentinel far past the 1-minute watermark closes every real hour
      mem.addData(("ZZZ", base + 90L * 86400000L, 1.0, "raw-z"))
      q1.processAllAvailable()
    } finally q1.stop()
    // the active-query registry releases the checkpoint root on full
    // termination — drain it before restarting over the same checkpoint
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.streams.active.isEmpty, "q1 did not terminate")

    // claim 1: row-exact parity with the batch twin over the same fills
    val batchHourly = graft.ops.TimeWindows
      .candlesStream(mapped(fills.toDF("symbol", "ts_exch_ms", "price", "raw")))
      .withColumnRenamed("event_type", "symbol")
    val want = canon(graft.ops.TimeWindows.dailyFold(batchHourly, "symbol"))
    val got1 = canon(spark.read.parquet(dailyDir))
    assert(got1 == want,
      s"stream daily store diverged from the batch fold:\n stream-only: " +
        s"${(got1 diff want).take(3)}\n batch-only: ${(want diff got1).take(3)}")
    assert(got1.size == 6, s"2 symbols x 3 UTC days expected: ${got1.size}")

    // claim 2: crash before the last commit -> batch re-executes. The
    // crash is simulated by deleting the newest commit file; any offsets
    // files NEWER than it (no-data watermark batches the engine logged
    // after that commit) go too, or the recovered run re-plans them and
    // trips FileAlreadyExists on its own offset log.
    def digitFiles(d: Path) = Files.list(d).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.forall(_.isDigit))
    // ChecksumFs keeps a .N.crc sidecar per log file; a stale sidecar
    // makes the recovered run's atomic rename throw FileAlreadyExists
    def rm(p: Path): Unit = {
      Files.delete(p)
      Files.deleteIfExists(
        p.resolveSibling("." + p.getFileName.toString + ".crc"))
      ()
    }
    val latest = digitFiles(Paths.get(ckpt, "commits"))
      .maxBy(_.getFileName.toString.toLong)
    val latestId = latest.getFileName.toString.toLong
    rm(latest)
    digitFiles(Paths.get(ckpt, "offsets"))
      .filter(_.getFileName.toString.toLong > latestId)
      .foreach(rm)
    val hourlyRows1 = spark.read.parquet(hourlyDir).count()
    val q2 = StreamAssembly.candlesDailyStream(
      unified, hourlyDir, dailyDir, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val hourlyRows2 = spark.read.parquet(hourlyDir).count()
    assert(hourlyRows2 > hourlyRows1,
      s"replay did not re-append ($hourlyRows1 -> $hourlyRows2) — " +
        "the crash was not actually driven")
    // duplicates landed in the hourly store, yet the daily store converged
    val got2 = canon(spark.read.parquet(dailyDir))
    assert(got2 == want, s"replayed batch double-counted the daily fold:\n" +
      s" drift: ${(got2 diff want).take(3)} / ${(want diff got2).take(3)}")
  }
}
