package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import scala.reflect.runtime.universe.TypeTag

import graft.normalize.Normalizers

/** Structured Streaming assembly — the runtime the reference hand-rolled
  * with asyncio (liq-stream `stream.py`, `writer_pg.py`,
  * `hyperliquid_adapter.py`), re-expressed on Spark's micro-batch engine:
  *
  *  - the file-tail source (hour-file listing, rollover detection, partial-
  *    line buffering — `hyperliquid_adapter.py:68-101,259-351`) is the
  *    replay source's directory mode ([[graft.sources.HourFileIndex]]): one
  *    frame sequence over the hour files in numeric order, the newest
  *    tailed, whole lines only, offsets checkpointed as frame ids; backfill
  *    ≡ starting the query with files already present;
  *  - the 50k-entry dedup ring (`:148-164`) is dropDuplicatesWithinWatermark:
  *    state bounded by the watermark instead of a fixed count, keyed by the
  *    same tid|liquidatedUser|coin;
  *  - the size∨interval batched PG flush (`writer_pg.py:187-215`) is
  *    foreachBatch + Trigger.ProcessingTime — the micro-batch IS the batch;
  *  - the console+CSV+PG fan-out behind one queue (`stream.py:47-87`) is one
  *    foreachBatch whose single collect is the batch's only Spark job
  *    ([[graft.StreamCli.run]]): the console prints the collected rows,
  *    and the same rows, stamped with the batch's `ts_ingest_ms`, are
  *    written directly as one CSV file ([[CsvSink]]) and one JDBC
  *    transaction ([[JdbcSink.appendBatchExactlyOnce]]);
  *  - delivery: the reference drops failed batches (at-most-once,
  *    `writer_pg.py:211-215`); foreachBatch + checkpoint gives at-least-once
  *    into idempotent sinks — a deliberate upgrade, documented here.
  *
  * At scale: sources partition by frame range; the dedup/window state
  * lives in the state store partitioned by key (spark.sql.shuffle.partitions
  * state shards); watermarks bound state growth regardless of stream
  * length.
  */
object StreamAssembly {

  /** Tail a directory of Hyperliquid node-fill JSON lines as a stream —
    * phase-1 backfill + phase-2 tail collapse into one query
    * (`hyperliquid_adapter.py:341-351`). The source is the replay source's
    * directory mode ([[graft.sources.HourFileIndex]]): one frame sequence
    * over the hour files in numeric order, the newest tailed line by line,
    * paced by the source's per-trigger frame cap. `catchUp = false` is
    * `--hl-no-catchup` (`hyperliquid_adapter.py:341-347`): the stream
    * starts at the first file modified within an hour of the newest, so
    * the backlog before it is indexed once but never read. `root` must be an
    * existing directory: the source reads a directory path as hour files. */
  def hyperliquidFileStream(spark: SparkSession, root: String,
      catchUp: Boolean = true): DataFrame = {
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root)),
      s"Hyperliquid hour-file directory does not exist: $root")
    spark.readStream
      .format("graft.sources.WsReplayProvider")
      .option("path", root)
      .option("catchUp", catchUp)
      .load()
      .select(col("raw"))
  }

  /** A WebSocket-shaped frame stream replayed through the custom
    * MicroBatchStream source ([[graft.sources.WsReplayProvider]]): recorded
    * frames → paced micro-batches with offset/checkpoint semantics,
    * ping/pong dropped at the source. Feed the result to any exchange
    * normalizer — e.g. `Normalizers.binance(wsReplayStream(spark, f), "usdt")`
    * is the full Binance adapter path (liq-stream
    * `binance_adapter.py:96-129`) on Spark's source contract. */
  def wsReplayStream(spark: SparkSession, framesFile: String,
      framesPerBatch: Int = 1000): DataFrame =
    spark.readStream
      .format("graft.sources.WsReplayProvider")
      .option("path", framesFile)
      .option("framesPerBatch", framesPerBatch)
      .load()
      .select(col("raw"))

  /** Streaming Hyperliquid normalization with watermark-bounded dedup: the
    * exact semantics of the reference's ring (first occurrence wins, state
    * bounded), with the bound expressed in event time instead of key count. */
  def hyperliquidNormalizedStream(rawStream: DataFrame, market: String = "usdc",
      minAbsSz: Double = 0.0, watermark: String = "10 minutes"): DataFrame = {
    val pairs = Normalizers.hyperliquidPairs(rawStream, minAbsSz)
      .withColumn("ts_event", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_event", watermark)
      .dropDuplicatesWithinWatermark("tid", "taker", "coin")
    Normalizers.hyperliquidUnified(pairs, market)
  }

  /** Any normalized stream → 1-minute tumbling liquidation dashboard
    * (counts + notional by exchange/symbol) — the CHANGELOG awk dashboards
    * (`CHANGELOG.md:12-14`) as a streaming windowed aggregate. Append mode:
    * windows emit once the watermark passes. */
  def notionalDashboard(unified: DataFrame, watermark: String = "5 minutes"): DataFrame =
    unified
      .withColumn("ts_event", timestamp_millis(col("ts_exch_ms")))
      .withWatermark("ts_event", watermark)
      .groupBy(window(col("ts_event"), "1 minute"), col("exchange"), col("symbol"))
      .agg(count(lit(1)).as("cnt"), sum(col("notional")).as("sum_notional"))
      .select(col("window.start").as("minute"), col("exchange"), col("symbol"),
        col("cnt"), col("sum_notional"))

  /** Per-symbol OHLCV candles over the UNIFIED liquidation stream — the
    * reference's CHANGELOG price dashboards as a streaming windowed
    * aggregate. Reuses the batch/stream-shared candle aggregate set
    * ([[graft.ops.TimeWindows.candlesStream]]) by mapping the unified
    * schema onto its (event_type, ts, value, event_id) input: symbol keys
    * the candle, liquidation price is the candled value, and the open/
    * close tiebreak id is a content hash of the raw frame (deterministic
    * across replays, no counter state). The default 1-minute watermark is
    * the DASHBOARD lateness budget — candles close promptly after their
    * hour passes; widen it for analytical backfills where late exchange
    * timestamps matter more than freshness. */
  def candlesOverUnified(unified: DataFrame, watermark: String = "1 minute"): DataFrame =
    graft.ops.TimeWindows.candlesStream(
      unified.select(
        col("symbol").as("event_type"),
        timestamp_millis(col("ts_exch_ms")).as("ts"),
        col("price").as("value"),
        xxhash64(col("raw")).as("event_id")),
      watermark)
      .withColumnRenamed("event_type", "symbol")

  /** Streaming DAILY candle rollup — the two-level pre-aggregation pattern
    * ([[graft.ops.TimeWindows.candlesDaily]]) on the streaming path. The
    * watermark closes hourly candles ([[candlesOverUnified]], append
    * mode); each micro-batch of closed hours is appended to the hourly
    * store, and ONLY the days those hours touch are re-folded from the
    * hourly level — 24 rows per affected symbol-day, never the raw fills.
    * That is incremental-view maintenance: per batch the work is O(closed
    * hours in the batch + 24 × affected days), independent of stream
    * history. Replay safety: the hourly append is at-least-once, but a
    * watermark-closed candle is FINAL and deterministic, so a replayed
    * batch appends exact copies — the fold dedupes (symbol, hour) first
    * and dynamic partition overwrite replaces just the re-folded day
    * partitions, so the daily store converges instead of double-counting
    * (the same idempotent-sink contract as the JDBC batch-id replacement).
    *
    * Returns the started query; daily candles land at `dailyDir`
    * partitioned by day, hourly at `hourlyDir`. */
  def candlesDailyStream(unified: DataFrame, hourlyDir: String,
      dailyDir: String, checkpointDir: String, triggerMs: Long = 500L,
      watermark: String = "1 minute"): StreamingQuery =
    candlesOverUnified(unified, watermark).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (df: DataFrame, _: Long) =>
        val batch = df.persist()
        try {
          if (!batch.isEmpty) {
            batch.write.mode("append").parquet(hourlyDir)
            val spark = batch.sparkSession
            val days = batch.select(substring(col("hour"), 1, 10).as("day"))
              .distinct().collect().map(_.getString(0))
            // re-fold affected days from the hourly level (bounded: ≤24
            // rows per symbol-day) and replace just those day partitions
            val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try graft.ops.TimeWindows.dailyFold(
                spark.read.parquet(hourlyDir)
                  .filter(substring(col("hour"), 1, 10).isin(days.toIndexedSeq: _*))
                  // closed candles are final: replayed appends are exact
                  // copies, deduped here so the fold is replay-idempotent
                  .dropDuplicates("symbol", "hour"),
                "symbol")
              .write.mode("overwrite").partitionBy("day").parquet(dailyDir)
            finally prev match {
              case Some(p) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", p)
              case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
            }
          }
        } finally batch.unpersist()
        ()
      }
      .start()

  /** Quality QUARANTINE split — the dead-letter pattern the reference
    * approximates with per-row try/except drops (liq-stream
    * `binance_adapter.py:93-94`, `hyperliquid_adapter.py:167-170`): rows
    * failing the validity predicate are never silently discarded; they
    * land in a quarantine sink WITH the machine-readable reason, while
    * valid rows flow to the main sink — so ingest failures are
    * re-driveable (fix the bug, replay the quarantine) instead of gone.
    * One persisted micro-batch feeds both writes (one source read for
    * both sinks, as in [[graft.StreamCli.run]]), and
    * good ∪ quarantined = input exactly (asserted in StreamingSpec —
    * conservation is the whole point). */
  def quarantineSinks(unified: DataFrame, goodDir: String, badDir: String,
      checkpointDir: String, valid: Column, reason: Column,
      triggerMs: Long = 1000L): StreamingQuery =
    unified.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (df: DataFrame, _: Long) =>
        val batch = df.persist()
        try {
          batch.filter(valid).write.mode("append").parquet(goodDir)
          // !valid alone would DROP null-predicate rows — exactly the rows
          // a quarantine exists for; route nulls to quarantine explicitly
          batch.filter(!coalesce(valid, lit(false)))
            .withColumn("reason", reason)
            .write.mode("append").parquet(badDir)
        } finally batch.unpersist()
        ()
      }
      .start()

  /** Stream-STATIC enrichment join: each streaming liquidation picks up
    * reference metadata from a batch dimension table (the lookup the
    * reference serves with its PG index `(exchange,market,symbol,ts)`,
    * `writer_pg.py:54` — here done in-flight instead of post-hoc). The
    * static side needs no watermark and holds no state: Spark broadcasts
    * the dim to every micro-batch task (re-read per batch, so a dim
    * refresh is picked up without restarting the query). Unmatched rows
    * keep flowing with null metadata — enrichment must never drop events. */
  def enrichJoin(unified: DataFrame, dim: DataFrame): DataFrame =
    enrichStream(unified, dim, Seq("exchange", "symbol"))

  /** Stream-stream interval join: each liquidation matched to liquidations
    * of the OTHER side for the same symbol within the following minute —
    * long-liquidation → short-liquidation flip detection. Both sides carry
    * watermarks and the join condition bounds event time on both ends, so
    * each side's buffered state is droppable once the watermark passes
    * (bounded state, the stream-stream join requirement). */
  def flipJoin(unified: DataFrame, watermark: String = "2 minutes"): DataFrame =
    flipJoinWith(unified, watermark, "inner")

  /** LEFT-OUTER stream-stream interval join — the alert shape [[flipJoin]]
    * can't express: "a long liquidation with NO opposing short within the
    * minute" (the one-sided cascade signal). Outer semantics on a
    * stream-stream join are watermark-DRIVEN: a left row is held in state
    * while a match could still arrive, and emits exactly once with nulled
    * right columns only after the watermark passes its interval end plus
    * the delay — early emission would be wrong (a match may still come),
    * late data past the watermark is dropped by contract. Same bounded
    * state as the inner form: the event-time bounds on both ends let the
    * store evict each side as the watermark advances. StreamingSpec
    * asserts the exactly-once-after-watermark behavior. */
  def flipJoinOuter(unified: DataFrame, watermark: String = "2 minutes"): DataFrame =
    flipJoinWith(unified, watermark, "leftOuter")

  /** FULL-OUTER stream-stream interval join — both unmatched shapes at
    * once: a long with no short inside its minute AND a short no long
    * preceded. Same watermark-driven null emission as the left-outer
    * variant, on both sides: state for a row is dropped (and its null
    * partner emitted) only once the opposing stream's watermark has
    * passed the interval end plus delay, so every event appears exactly
    * once — matched or null-padded. The "reconciliation" shape: neither
    * stream is privileged, and the output is a complete account of both. */
  def flipJoinFullOuter(unified: DataFrame,
      watermark: String = "2 minutes"): DataFrame =
    flipJoinWith(unified, watermark, "fullOuter")

  private def flipJoinWith(unified: DataFrame, watermark: String,
      joinType: String): DataFrame = {
    val longs = unified.filter(col("side") === "long")
      .select(col("symbol").as("l_symbol"), col("notional").as("l_notional"),
        timestamp_millis(col("ts_exch_ms")).as("l_ts"))
      .withWatermark("l_ts", watermark)
    val shorts = unified.filter(col("side") === "short")
      .select(col("symbol").as("s_symbol"), col("notional").as("s_notional"),
        timestamp_millis(col("ts_exch_ms")).as("s_ts"))
      .withWatermark("s_ts", watermark)
    longs.join(shorts,
      col("l_symbol") === col("s_symbol") &&
        col("s_ts") >= col("l_ts") &&
        col("s_ts") <= col("l_ts") + expr("INTERVAL 1 MINUTE"),
      joinType)
  }

  /** One tracked symbol's cascade state. */
  final case class CascadeState(count: Long, sumNotional: Double, firstTsMs: Long)

  /** A detected liquidation cascade on one symbol. */
  final case class CascadeAlert(symbol: String, count: Long,
      sumNotional: Double, firstTsMs: Long, lastTsMs: Long)

  /** Per-symbol liquidation cascade detector on keyed state
    * ([[emitInOrder]]): emit an alert once a symbol accumulates
    * `threshold` liquidations, then reset its counter. This is the state
    * shape windowed aggregation can't express (emit-once-mid-window +
    * reset). Rows apply in event-time order, ties broken by the
    * content hash of the raw frame (the [[candlesOverUnified]] tie-break),
    * so a reordered micro-batch yields the same alerts. A symbol's state
    * is removed once the watermark passes its last row plus 30 minutes,
    * so it stays bounded; event-time expiry only fires as the watermark
    * advances with data, so the query never spins empty wall-clock
    * micro-batches. */
  def cascadeAlerts(unified: DataFrame, threshold: Int = 3,
      watermark: String = "10 minutes"): Dataset[CascadeAlert] = {
    import unified.sparkSession.implicits._
    val reset = CascadeState(0L, 0.0, Long.MaxValue)
    emitInOrder[String, Option[Double], CascadeState, CascadeAlert](unified,
        col("symbol"), xxhash64(col("raw")), timestamp_millis(col("ts_exch_ms")),
        col("notional"), watermark, reset, Some("30 minutes")) { (symbol, s, t) =>
      val n = CascadeState(s.count + 1, s.sumNotional + t.v.getOrElse(0.0),
        math.min(s.firstTsMs, t.ms))
      if (n.count < threshold) (n, None)
      else (reset, Some(CascadeAlert(symbol, n.count, n.sumNotional, n.firstTsMs, t.ms)))
    }
  }

  /** Stream–static ENRICHMENT join: decorate the live feed with a
    * reference dimension (symbol → instrument metadata — the lookup the
    * reference's PG composite index exists to serve, liq-stream
    * `writer_pg.py:38-57`, done BEFORE the sink instead of at query
    * time). Structured Streaming joins a static frame per micro-batch
    * with no state store at all — the static side broadcasts (it is a
    * dim, bounded by the instrument universe, never fact-sized), and a
    * LEFT join keeps feed rows whose symbol the dim hasn't caught up
    * with yet (new listings) rather than silently dropping them.
    * File-backed static sides are re-planned per batch, so a dim
    * refreshed in place rolls into the stream without a restart. */
  def enrichStream(unified: DataFrame, dim: DataFrame,
      keys: Seq[String] = Seq("symbol")): DataFrame =
    unified.join(broadcast(dim), keys, "left")

  /** Streaming SESSION windows — [[graft.ops.TimeWindows.windowSession]]'s
    * gap-based sessionization on the live stream: Spark's native
    * `session_window` aggregate under a watermark, so sessions GROW while
    * events keep arriving within the gap, MERGE when a late-but-in-
    * watermark event bridges two of them, and emit exactly once (append
    * mode) when the watermark passes session-end + gap. State per key is
    * the open session's bounds + aggregates — the built-in operator
    * handles merge/expiry, which is precisely what a hand-rolled
    * mapGroups sessionizer gets wrong first. Same expressions as the
    * batch query (the candlesStream unification move); StreamingSpec
    * closes all sessions with a watermark-advancing sentinel and asserts
    * the emitted set equals the batch query row-for-row. */
  def sessionsStream(events: DataFrame, gap: String = "8 hours",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("cnt"), graft.ops.sumMoney(col("value")).as("sum_value"))
      .select(col("user_id"), graft.ops.tsStr(col("w.start")).as("session_start"),
        col("cnt"), col("sum_value"))

  /** One buffered hourly candle. open/close carry their packed ordering
    * keys (µs-in-hour·2³¹ + id residue — the batch candles key), so folds
    * are ORDER-INDEPENDENT: a late-but-in-watermark row folds into its
    * buffered hour and converges to the batch result no matter how
    * batches cut. Volume accumulates in integer CENTS so the stream's sum
    * is exact, like the batch side's DECIMAL. */
  final case class CandleAgg(open: Double, openOrd: Long, high: Double,
      low: Double, close: Double, closeOrd: Long, cnt: Long, volCents: Long)

  /** Per-key fill carry: the last emitted hour (-1 = none yet) and its
    * close (the LOCF value for gap candles). */
  final case class CandleFillState(emittedUpTo: Long, lastClose: Double)

  /** One emitted hourly candle; `gap = 1` rows are synthesized for silent
    * hours (OHLC pinned to the previous close, zero cnt/volume). */
  final case class FilledCandle(event_type: String, hour_ms: Long,
      open: Double, high: Double, low: Double, close: Double,
      cnt: Long, volume: Double, gap: Int)

  /** Streaming GAP-FILLED candles — the stream-side twin of
    * [[graft.ops.TimeWindows.tsFill]]'s contract: every hour between a
    * key's first and latest WATERMARK-CLOSED activity gets a candle,
    * including SILENT hours (dashboards and downstream joins break on
    * missing rows; a plain windowed aggregate simply never emits them).
    *
    * Emission is WATERMARK-driven, not frontier-driven: a
    * [[closeOnWatermark]] fold at hour grain buffers each open hour as an
    * order-independent [[CandleAgg]] and emits it only once the watermark
    * passes its end — so a late-but-in-watermark row still folds into its
    * buffered hour and the emitted candle equals the batch aggregate
    * regardless of batch cuts or arrival order (a frontier-driven fold
    * would have emitted the hour at the first later-hour event and
    * silently lost the late row's volume). Closing an hour first emits the
    * LOCF gap candles since the last emitted hour. Rows older than the
    * watermark are dropped — the same rule as every windowed streaming
    * aggregate. State is bounded by the watermark horizon in hours per
    * key; emits are bounded by hours elapsed, not event volume. */
  def candlesFilledStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[FilledCandle] = {
    import events.sparkSession.implicits._
    val hourUs = hourMs * 1000L
    closeOnWatermark[Double, CandleFillState, CandleAgg, FilledCandle](events,
        doubleValue, hourMs, watermark, idleTimeout,
        CandleFillState(-1L, 0.0)) { (carry, hour, t) =>
      val v = t.v
      val ord = (t.us % hourUs) * 2147483648L + (t.id % 2147483648L)
      // cents via the DECIMAL string path, not math.round(v*100): the
      // binary double 0.615*100 is 61.4999… (rounds to 61) while Spark's
      // double→DECIMAL(18,2) cast goes through the shortest decimal string
      // ("0.615" → 62) — mirroring that keeps stream/batch volume parity
      // beyond 2-dp inputs
      val cents = new java.math.BigDecimal(java.lang.Double.toString(v))
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
      (carry, hour match {
        case None => CandleAgg(v, ord, v, v, v, ord, 1L, cents)
        case Some(a) => CandleAgg(
          if (ord < a.openOrd) v else a.open,
          math.min(ord, a.openOrd),
          math.max(a.high, v), math.min(a.low, v),
          if (ord > a.closeOrd) v else a.close,
          math.max(ord, a.closeOrd),
          a.cnt + 1L, a.volCents + cents)
      })
    } { (key, h, s, a) =>
      val c = s.lastClose
      val gaps =
        if (s.emittedUpTo < 0L) Nil
        else (s.emittedUpTo + hourMs until h by hourMs)
          .map(g => FilledCandle(key, g, c, c, c, c, 0L, 0.0, 1))
      (CandleFillState(h, a.close), gaps :+ FilledCandle(key, h, a.open,
        a.high, a.low, a.close, a.cnt, a.volCents / 100.0, 0))
    }
  }

  /** Streaming windowed PERCENTILES — the live-dashboard quantile
    * ([[graft.ops.Extended.aggQuantileMerge]]'s GK summary running inside
    * a watermarked streaming aggregation): per (hour, event_type) p50/p99
    * emitted exactly once when the watermark closes the window. The sketch
    * is the reason this is streamable at all: the state-store entry per
    * open window is the O(accuracy)-bounded summary that MERGES across
    * micro-batches — an exact percentile would buffer every raw value per
    * window in state. Same exact-regime argument as the batch op, so
    * StreamingSpec asserts row-exact parity against the identical batch
    * aggregation. */
  def quantilesStream(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    quantilesAgg(events.withWatermark("ts", watermark))

  /** The shared batch/stream aggregation — ONE definition, two runtimes
    * (the candlesStream unification move). */
  private[graft] def quantilesAgg(events: DataFrame): DataFrame = {
    import graft.functions.QuantileSketch
    val ps = Seq(0.5, 0.99)
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(QuantileSketch.sketch(col("value"),
        graft.ops.Extended.pctlAccuracy).as("sk"),
        count(lit(1)).as("n"))
      .select(col("event_type"), unix_millis(col("w.start")).as("hour_ms"),
        col("n"),
        element_at(QuantileSketch.values(col("sk"), ps), 1).as("p50"),
        element_at(QuantileSketch.values(col("sk"), ps), 2).as("p99"))
  }

  /** Running per-key moment state for [[anomalyStream]] — exact integer
    * cents: (n, Σv, Σv²). */
  final case class MomentState(n: Long, s: Long, q: Long)
  /** A flagged outlier: the event plus how much history judged it. */
  final case class AnomalyHit(
      event_type: String, event_id: Long, vc: Long, n_prior: Long)

  /** STREAMING OUTLIER DETECTION — per event type, flag each event whose
    * value sits more than 3σ from the mean of EVERYTHING BEFORE it, with
    * the running (n, Σv, Σv²) moments as the only state: O(1) per key,
    * exact integer cents, and the 3σ test cross-multiplied so no float
    * enters — (v·n − Σv)² > 9·(n·Σv² − Σv²₀) over BigInts, the dq_drift
    * convention in streaming form. Each event is judged against the
    * PRE-UPDATE state (a spike never vouches for itself), in
    * [[emitInOrder]]'s order: a per-batch (ts, id) sort, rows older than
    * the watermark dropped, and an in-order feed per key assumed across
    * batches (StreamingSpec drives ordered batches). The batch twin
    * [[anomalyAgg]] is the identical test over cumulative window sums;
    * parity is row-exact. */
  def anomalyStream(events: DataFrame,
      watermark: String = "10 minutes", minN: Long = 30L): DataFrame = {
    import events.sparkSession.implicits._
    emitInOrder[String, Long, MomentState, AnomalyHit](events,
        col("event_type"), col("event_id"), col("ts"), valueCents, watermark,
        MomentState(0L, 0L, 0L)) { (key, st, t) =>
      val vc = t.v
      val hit =
        if (st.n >= minN) {
          val n = BigInt(st.n); val sm = BigInt(st.s)
          val lhs = (BigInt(vc) * n - sm).pow(2)
          val rhs = BigInt(9) * (n * BigInt(st.q) - sm.pow(2))
          if (lhs > rhs) Some(AnomalyHit(key, t.id, vc, st.n)) else None
        } else None
      (MomentState(st.n + 1, st.s + vc, st.q + vc * vc), hit)
    }.toDF()
  }

  /** The batch twin: the same integer 3σ test over cumulative window sums
    * (strictly-preceding frame, (ts, id) order). */
  private[graft] def anomalyAgg(events: DataFrame,
      minN: Long = 30L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
          lit(100)).cast("long").as("vc"))
      .select(col("event_type"), col("event_id"), col("ts_us"), col("vc"),
        count(lit(1)).over(w).as("n"),
        coalesce(sum(col("vc")).over(w), lit(0L)).as("s"),
        coalesce(sum(col("vc") * col("vc")).over(w), lit(0L)).as("q"))
      .filter(col("n") >= minN)
      .filter(
        (col("vc").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("n") - col("s"))
          * (col("vc").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("n") - col("s"))
          > lit(9) * (col("n").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("q")
            - col("s").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("s")))
      .select(col("event_type"), col("event_id"), col("vc"),
        col("n").as("n_prior"))
  }

  /** STREAMING EXACT HOURLY REACH — live distinct users per event-time
    * hour, the DAU-denominator monitor: `count_distinct` is not
    * streamable, so the distinct is a WATERMARKED DEDUP on (user, hour)
    * — state one entry per active (user, hour), evicted as the
    * watermark passes — chained into a windowed count (Spark's
    * multi-stateful append pipeline). This is the EXACT companion to
    * the mergeable-sketch path (`agg_hll_merge`): sketches when ±2% is
    * fine and state must stay KB-bounded, this when the number must be
    * exact and per-hour actives fit state (the dedup-ring trade,
    * StreamAssembly:17, at reach grain). Batch twin [[reachAgg]] is the
    * same dedup→count shape run exactly; the oracle-checked
    * `win_reach_hourly` query verifies it against COUNT(DISTINCT). */
  def reachStream(events: DataFrame,
      watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      // the window struct IS the event-time column downstream — keeping
      // raw ts too would leave two event-time columns (analysis error)
      .select(col("user_id"), window(col("ts"), "1 hour").as("w"))
      .dropDuplicatesWithinWatermark("user_id", "w")
      .groupBy("w").agg(count(lit(1)).as("reach"))
      .select(unix_millis(col("w.start")).as("hour_ms"), col("reach"))

  /** The batch twin: identical dedup→count shape (≡ COUNT(DISTINCT),
    * which the DuckDB oracle uses directly). */
  private[graft] def reachAgg(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), window(col("ts"), "1 hour").as("w"))
      .dropDuplicates("user_id", "w")
      .groupBy("w").agg(count(lit(1)).as("reach"))
      .select(unix_millis(col("w.start")).as("hour_ms"), col("reach"))

  /** Training-prefix length for [[cusumStream]]: the first 64 events per
    * type (in (ts, id) order) freeze the reference level. 64 keeps the
    * reference sum a shift-friendly multiple and is long enough that the
    * slack/threshold scales below are stable on the test corpora. */
  val cusumTrainN = 64L
  /** Slack per observation, in permille of the reference mean (500 =
    * ignore drift below half the level — the classic CUSUM k, here as an
    * integer fraction of the frozen training sum; on this corpus the
    * value scale ≈ its own std, so half the mean ≈ the textbook σ/2). */
  val cusumSlackPm = 500L
  /** Alarm threshold, in multiples of the reference sum (h = 6·Sref = a
    * cumulative slack-adjusted excess worth 6·trainN reference means). */
  val cusumThreshX = 6L

  /** Per-key detector state for [[cusumStream]]: training count + sum
    * (integer cents), then the two one-sided accumulators in
    * trainN-scaled cents. */
  final case class CusumState(n: Long, sref: Long, sp: Long, sm: Long)
  /** A threshold breach: the breaching event and the accumulator's
    * excess over h in permille of h. */
  final case class CusumAlarm(event_type: String, event_id: Long,
      side: String, exc_pm: Long)

  /** STREAMING SEQUENTIAL CUSUM — the ONLINE level-shift alarm beside
    * the batch `ts_changepoint` retrospective argmax: per event type,
    * the first [[cusumTrainN]] events freeze an integer reference sum
    * Sref, then the classic one-sided CUSUM pair runs over every later
    * event — S⁺ = max(0, S⁺ + x′ − k′), S⁻ = max(0, S⁻ − x′ − k′) with
    * x′ = trainN·v − Sref (the deviation cross-multiplied by trainN so
    * no division ever happens), k′ = [[cusumSlackPm]]‰ of Sref, and an
    * alarm fires at each breach ONSET — the event where the accumulator
    * CROSSES h′ = [[cusumThreshX]]·Sref from below (one row per
    * excursion, not one per above-threshold step, so a sustained shift
    * alerts once instead of flooding). The previous accumulator value
    * IS the onset memory — no extra state. State is O(1) per key (4
    * longs); the int64 envelope holds to ~10¹⁴ monitored events per key
    * under a sustained full-level shift (each step adds ≤ trainN·v_max
    * ≈ 2³² scaled cents).
    *
    * One definition, two runtimes: the batch twin [[cusumAgg]] computes
    * the identical recurrence with window functions via the prefix
    * identity S_i = P_i − min(0, min_{j≤i} P_j) (P = cumsum of
    * increments), which the oracle-checked `ts_cusum` query replays in
    * DuckDB — so the oracle verifies this detector's arithmetic. Rows
    * are applied in (ts, id) order within each micro-batch; cross-batch
    * causality assumes an in-order feed per key (the [[emitInOrder]]
    * convention — StreamingSpec drives ordered batches). */
  def cusumStream(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    emitInOrder[String, Long, CusumState, CusumAlarm](events,
        col("event_type"), col("event_id"), col("ts"), valueCents, watermark,
        CusumState(0L, 0L, 0L, 0L)) { (key, st, t) =>
      if (st.n < cusumTrainN) (st.copy(n = st.n + 1, sref = st.sref + t.v), Nil)
      else {
        val kp = cusumSlackPm * st.sref / 1000L
        val h = cusumThreshX * st.sref
        val xp = cusumTrainN * t.v - st.sref
        val sp = math.max(0L, st.sp + xp - kp)
        val sm = math.max(0L, st.sm - xp - kp)
        // the pre-update accumulators (st.sp, st.sm) are the onset memory;
        // non-negative operands only: Long / == SQL div here
        (st.copy(sp = sp, sm = sm),
          (if (h > 0L && sp > h && st.sp <= h)
            Seq(CusumAlarm(key, t.id, "up", (sp - h) * 1000L / h))
          else Nil) ++
          (if (h > 0L && sm > h && st.sm <= h)
            Seq(CusumAlarm(key, t.id, "down", (sm - h) * 1000L / h))
          else Nil))
      }
    }.toDF()
  }

  /** The batch twin: the identical detector over window functions. The
    * max(0, ·) recurrence is not a plain windowed sum, but it IS the
    * prefix identity S_i = P_i − min(0, min_{j≤i} P_j) over the
    * increment cumsum P — two stacked windows per side, all integer. */
  private[graft] def cusumAgg(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
          lit(100)).cast("long").as("vc"))
      .withColumn("i", count(lit(1)).over(w))
      .withColumn("cum", sum("vc").over(w))
    // the per-type training sum rides a FULL-PARTITION window over the
    // same event_type exchange the cumulative window established (guide
    // §2.4) — the filter+broadcast-self-join form re-planned the whole
    // scan+sort+window subtree a second time. max() of the single
    // i == trainN row's cum is that row's value; a type that never
    // reaches trainN rows has sref NULL and also no i > trainN rows, so
    // the inner-join semantics are preserved exactly.
    val wf = Window.partitionBy("event_type")
    val mon = base
      .withColumn("sref",
        max(when(col("i") === cusumTrainN, col("cum"))).over(wf))
      .filter(col("i") > cusumTrainN)
      .withColumn("kp", expr(s"$cusumSlackPm * sref div 1000"))
      .withColumn("h", lit(cusumThreshX) * col("sref"))
      .withColumn("xp", lit(cusumTrainN) * col("vc") - col("sref"))
      .withColumn("pu", sum(col("xp") - col("kp")).over(w))
      .withColumn("pd", sum(-col("xp") - col("kp")).over(w))
      .withColumn("sp", col("pu") - least(min(col("pu")).over(w), lit(0L)))
      .withColumn("sm", col("pd") - least(min(col("pd")).over(w), lit(0L)))
    // onset = this row crossed h from at-or-below (lag default 0 = the
    // detector's empty start state)
    val wo = Window.partitionBy("event_type")
      .orderBy(col("ts_us"), col("event_id"))
    def side(name: String, acc: String) =
      mon
        .withColumn("prev", coalesce(lag(col(acc), 1).over(wo), lit(0L)))
        .filter(col("h") > 0L && col(acc) > col("h") &&
          col("prev") <= col("h"))
        .select(col("event_type"), col("event_id"), lit(name).as("side"),
          expr(s"($acc - h) * 1000 div h").as("exc_pm"))
    side("up", "sp").unionByName(side("down", "sm"))
  }

  /** Sliding 5-element ring for [[hampelStream]] — (event_id, cents). */
  final case class HampelState(buf: Vector[(Long, Long)])
  /** A flagged local spike: the judged event plus its local yardsticks. */
  final case class HampelHit(
      event_type: String, event_id: Long, cents: Long, med: Long, dev: Long)

  /** STREAMING HAMPEL SPIKE ALARM — [[graft.ops.TimeWindows.hampelOf]]'s
    * robust local-median fence run LIVE: each event is judged against
    * the median and MAD of its CENTERED 5-event window, so a genuine
    * level shift never pages (the median follows it) while a lone spike
    * always does — the property the running-moment 3σ of
    * [[anomalyStream]] lacks (a spike inflates its own σ, and a regime
    * change pages forever). Judging the center means emission lags two
    * events per key — the inherent look-ahead of a centered filter, and
    * still bounded O(1): state is a 5-slot ring per key, independent of
    * volume. Same in-order-feed contract as [[anomalyStream]]; the
    * batch twin `hampelFlags` is row-exact, spec-asserted. */
  def hampelStream(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    emitInOrder[String, Long, HampelState, HampelHit](
        events.filter(col("value").isNotNull), col("event_type"),
        col("event_id"), col("ts"), valueCents, watermark,
        HampelState(Vector.empty)) { (key, st, t) =>
      val buf = st.buf :+ ((t.id, t.v))
      if (buf.size < 5) (HampelState(buf), None)
      else {
        val cents = buf.map(_._2)
        val med = cents.sorted.apply(2)
        val mad = cents.map(c => math.abs(c - med)).sorted.apply(2)
        val (cid, cvc) = buf(2)
        val dev = math.abs(cvc - med)
        (HampelState(buf.drop(1)),
          if (dev > 3 * mad) Some(HampelHit(key, cid, cvc, med, dev)) else None)
      }
    }.toDF()
  }

  /** Per-key rate carry: the last finalized hour (-1 = none yet) and the
    * counts of the trailing 7 finalized hours. */
  final case class RateState(emittedUpTo: Long, trail: Vector[Long])
  final case class RateAlert(event_type: String, hour_ms: Long, cnt: Long,
      trail_sum: Long, n_trail: Long, dropped: Boolean)

  /** STREAMING INGEST-RATE MONITOR — [[graft.ops.DataQuality.dqVolume]]'s
    * volume-drop detector run LIVE at hour grain per type: when the
    * watermark closes an hour ([[closeOnWatermark]]), its count is judged
    * against the trailing 7 finalized hours (drop = 2·cnt·n_trail <
    * Σ_trail, the same exact integer cross-multiplication), emitted
    * exactly once, and pushed into the trail. The load-bearing move is GAP
    * EMISSION — the "feed silently died" hour has NO rows, so no windowed
    * aggregate can ever flag it; like [[candlesFilledStream]], closing a
    * later hour (on an event or on the idle timeout) finalizes every
    * silent hour in between at count 0, which is precisely the hour the
    * monitor exists to page on. State per key is O(open hours + 7)
    * counters — independent of event volume. Batch twin [[rateAgg]] (grid
    * + trailing window) is row-exact, spec-asserted. */
  def rateStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[RateAlert] = {
    import events.sparkSession.implicits._
    closeOnWatermark[Int, RateState, Long, RateAlert](events, lit(0), hourMs,
        watermark, idleTimeout, RateState(-1L, Vector.empty), id = lit(0L)) {
      (s, n, _) => (s, n.getOrElse(0L) + 1L)
    } { (key, h, s, cnt) =>
      val hours =
        if (s.emittedUpTo < 0L) Seq(h) else s.emittedUpTo + hourMs to h by hourMs
      var trail = s.trail
      val out = hours.map { g =>
        val c = if (g == h) cnt else 0L
        val ts = trail.sum
        val nt = trail.length.toLong
        trail = (trail :+ c).takeRight(7)
        RateAlert(key, g, c, ts, nt, nt > 0 && 2L * c * nt < ts)
      }
      (RateState(h, trail), out)
    }
  }

  /** The batch twin: zero-filled hourly grid per type, trailing-7 window
    * sums — one definition of the verdict, two runtimes. */
  private[graft] def rateAgg(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnts = events
      .groupBy(col("event_type"),
        expr("unix_millis(cast(ts as timestamp)) div 3600000 * 3600000")
          .as("hour_ms"))
      .agg(count(lit(1)).as("cnt"))
    val grid = cnts.groupBy("event_type")
      .agg(min("hour_ms").as("lo"), max("hour_ms").as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(3600000L))).as("hour_ms"))
    val filled = grid.join(cnts, Seq("event_type", "hour_ms"), "left")
      .select(col("event_type"), col("hour_ms"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("hour_ms")
      .rowsBetween(-7, -1)
    filled
      .withColumn("trail_sum", coalesce(sum("cnt").over(w), lit(0L)))
      .withColumn("n_trail", count("cnt").over(w))
      .select(col("event_type"), col("hour_ms"), col("cnt"),
        col("trail_sum"), col("n_trail"),
        (col("n_trail") > 0L &&
          col("cnt") * col("n_trail") * 2L < col("trail_sum")).as("dropped"))
  }

  /** Keyed state of a [[closeOnWatermark]] fold: the carry that crosses
    * bucket boundaries, and the open buckets by start ms. */
  private[streaming] final case class FoldState[C, B](carry: C,
      open: Map[Long, B])

  /** The carry of a fold whose buckets share nothing. */
  private[streaming] final case class NoCarry()

  /** One row as a fold step sees it: event id, event-time µs and the
    * projected value. */
  private[streaming] final case class Tick[V](id: Long, us: Long, v: V) {
    def ms: Long = math.floorDiv(us, 1000L)
    /** The packed (µs-in-day, id mod 2²⁰) order key by which the batch
      * twins' max_by picks a day's close. */
    def ordKey: Long =
      math.floorMod(us, 86400000000L) * 1048576L + math.floorMod(id, 1048576L)
  }

  private val dayMs = 86400000L
  private val hourMs = 3600000L

  private def utcDay(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
    .atOffset(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** The batch twins' 1e-6 floor-round ([[graft.ops.roundD]]). */
  private def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** The batch twins' integer cents, floor(x·100+0.5). */
  private def toCents(x: Double): Long = math.floor(x * 100 + 0.5).toLong

  private def doubleValue: Column = col("value").cast("double")

  /** `value` as exact integer cents through DECIMAL(18,2), as the batch
    * twins compute it. */
  private def valueCents: Column =
    (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
      lit(100)).cast("long")

  /** The input both folds run on: (key, id, ts, value) rows under the
    * watermark on ts, grouped by key. The watermarked ts column survives
    * into the grouped input, which event-time timeouts require. */
  private def keyed[K: TypeTag: Encoder, V: TypeTag](events: DataFrame,
      key: Column, id: Column, ts: Column, value: Column, watermark: String) = {
    import events.sparkSession.implicits._
    events.select(key, id.cast("long"), ts.cast("timestamp").as("ts"), value)
      .withWatermark("ts", watermark)
      .as[(K, Long, java.sql.Timestamp, V)]
      .groupByKey(_._1)
  }

  /** A micro-batch's rows as ticks in full-µs (ts, id) order: the order in
    * which the batch twins and their DuckDB oracles apply rows (ms grain
    * alone would let two same-key events inside one millisecond apply out
    * of µs order). */
  private def inOrder[K, V](rows: Iterator[(K, Long, java.sql.Timestamp, V)])
      : Seq[Tick[V]] =
    rows.map { case (_, id, ts, v) =>
      Tick(id, math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L, v)
    }.toSeq.sortBy(t => (t.us, t.id))

  /** CLOSE-ON-WATERMARK FOLD — the one keyed-state loop behind the
    * bucket-close streaming twins (ONE definition of the scaffolding; each
    * twin keeps its projection, its row step and its close step). Per
    * event type, rows fold into open event-time buckets of `bucketMs`
    * (UTC days or hours), and each bucket is closed EXACTLY ONCE:
    *
    *  - `step(carry, open bucket, tick)` applies one row. Within a
    *    micro-batch rows apply in full-µs (ts, id) order; across
    *    micro-batches the feed is assumed in order per key (the
    *    [[emitInOrder]] convention). Together these replay the batch
    *    twins' window order. Spark drops rows older than the previous
    *    batch's watermark, so no row reaches an already-closed bucket.
    *  - `close(key, bucket start, carry, bucket)` runs for every open
    *    bucket whose end is at or before the watermark, in start order,
    *    and returns the next carry and the bucket's report rows (at most
    *    one, except where the close also emits the silent buckets before
    *    it).
    *  - Retention: when a key's idle timeout fires, the key is removed only
    *    if it has no open bucket and its carry equals `init`. Otherwise
    *    the state stays and the timeout re-arms, so a carry (rings,
    *    previous close, running lines) survives any silence, exactly as
    *    the batch twins' frames lag across calendar gaps.
    *
    * `value` is the one column `step` reads besides id and time (`lit(0)`
    * when it reads none); `id` defaults to `event_id`. State per key is
    * the carry plus O(open buckets), independent of event volume. */
  private def closeOnWatermark[V: TypeTag, C, B, R](events: DataFrame,
      value: Column, bucketMs: Long, watermark: String, idleTimeout: String,
      init: C, id: Column = col("event_id"))(
      step: (C, Option[B], Tick[V]) => (C, B))(
      close: (String, Long, C, B) => (C, IterableOnce[R]))(
      implicit stateEnc: Encoder[FoldState[C, B]],
      outEnc: Encoder[R]): Dataset[R] = {
    import events.sparkSession.implicits._
    keyed[String, V](events, col("event_type"), id, col("ts"), value, watermark)
      .flatMapGroupsWithState[FoldState[C, B], R](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state) =>
          var carry = state.getOption.fold(init)(_.carry)
          var open = state.getOption.fold(Map.empty[Long, B])(_.open)
          val ticks = inOrder(rows)
          ticks.foreach { t =>
            val k = math.floorDiv(t.ms, bucketMs) * bucketMs
            val (c, b) = step(carry, open.get(k), t)
            carry = c
            open += k -> b
          }
          val wm = state.getCurrentWatermarkMs()
          // an earlier open bucket always ends first, so takeWhile is exact
          val out = open.keys.toSeq.sorted.takeWhile(_ + bucketMs <= wm)
            .flatMap { k =>
              val (c, r) = close(key, k, carry, open(k))
              carry = c
              open -= k
              r
            }
          if (state.hasTimedOut && open.isEmpty && carry == init)
            state.remove()
          else {
            state.update(FoldState(carry, open))
            state.setTimeoutTimestamp(
              math.max(ticks.lastOption.fold(0L)(_.ms), wm), idleTimeout)
          }
          out.iterator
      }
  }

  /** IN-ORDER EMIT FOLD — the one keyed-state loop behind the per-event
    * streaming twins (detectors, funnels, attribution, cascades): per
    * `key`, `step(key, carry, tick)` applies each row and returns the next
    * carry and the rows it emits, immediately (no watermark wait).
    *
    *  - Order: within a micro-batch rows apply in full-µs (ts, id) order;
    *    across micro-batches the feed is assumed in order per key — the
    *    watermark bounds lateness and the parity specs drive ordered
    *    batches. Together these replay the batch twins' window order.
    *  - Lateness: the fold runs under an event-time timeout, so Spark
    *    drops rows older than the previous batch's watermark before they
    *    reach the step; such a row neither emits nor moves the carry.
    *  - Retention: the carry lives for the life of the query, exactly as
    *    the batch twins' frames span a key's whole history. A member that
    *    passes an `idleHorizon` instead has its key removed once the
    *    watermark passes the key's last row (the batch's max ts for that
    *    key) plus the horizon.
    *
    * State per key is the carry alone, independent of event volume. */
  private def emitInOrder[K: TypeTag: Encoder, V: TypeTag, C, R](
      events: DataFrame, key: Column, id: Column, ts: Column, value: Column,
      watermark: String, init: C, idleHorizon: Option[String] = None)(
      step: (K, C, Tick[V]) => (C, IterableOnce[R]))(
      implicit stateEnc: Encoder[C], outEnc: Encoder[R]): Dataset[R] =
    keyed[K, V](events, key, id, ts, value, watermark)
      .flatMapGroupsWithState[C, R](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (k, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var carry = state.getOption.getOrElse(init)
            val ticks = inOrder(rows)
            val out = ticks.flatMap { t =>
              val (c, r) = step(k, carry, t)
              carry = c
              r
            }
            state.update(carry)
            idleHorizon.foreach(state.setTimeoutTimestamp(ticks.last.ms, _))
            out.iterator
          }
      }

  final case class GapDayState(lastMs: Long, maxGap: Long, n: Long)
  final case class GapReport(event_type: String, day: String,
      n_events: Long, max_gap_ms: Long)

  /** STREAMING HEARTBEAT MONITOR — the live twin of
    * [[graft.ops.DataQuality.dqHeartbeat]] (ONE definition, two runtimes:
    * the oracle-checked `dq_heartbeat` batch query pins the arithmetic,
    * the `ts_cusum`/`win_reach_hourly` convention). The reference keeps an
    * idle watchdog on its file-tail feed — `hyperliquid_adapter.py:316-319`
    * wakes every 30 min and warns when the node log has gone silent; at
    * monitor grain that is "max silent gap per (type, UTC day)". Per key:
    * gaps are measured between consecutive events, accumulated per open
    * day, and the day's report (n_events, max_gap_ms) is emitted EXACTLY
    * ONCE when the watermark closes the day. A day-boundary gap does not
    * exist by definition (the batch twin's lag is partitioned by day), so
    * the first event of a day opens it at gap 0 and a single-event day
    * reports 0 — the batch twin's coalesce(max(gap), 0). Nothing carries
    * across days, so [[closeOnWatermark]] removes a key whose feed stopped
    * once its open days have flushed. */
  def gapStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[GapReport] = {
    import events.sparkSession.implicits._
    closeOnWatermark[Int, NoCarry, GapDayState, GapReport](events, lit(0),
        dayMs, watermark, idleTimeout, NoCarry()) { (nc, day, t) =>
      (nc, day.fold(GapDayState(t.ms, 0L, 1L))(p =>
        GapDayState(t.ms, math.max(p.maxGap, t.ms - p.lastMs), p.n + 1L)))
    } { (key, d, nc, g) =>
      (nc, Some(GapReport(key, utcDay(d), g.n, g.maxGap)))
    }
  }

  /** STREAMING SESSION WINDOWS — the burst/cascade detector live: per
    * user, `session_window(ts, 8 hours)` count + exact money sum, emitted
    * when the watermark proves the session can no longer extend (append
    * mode merges a session across micro-batches until the gap closes it).
    * ONE definition, two runtimes: this is the IDENTICAL expression tree
    * as the oracle-checked `window_session` batch query
    * ([[graft.ops.TimeWindows.sessionAggOf]]) behind a watermark — Spark's
    * native streaming session windows, no custom state code. State per key
    * is the open session's aggregate buffer, bounded by the watermark. */
  def sessionStream(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    graft.ops.TimeWindows.sessionAggOf(events.withWatermark("ts", watermark))

  /** STREAMING SLIDING-WINDOW ACTIVITY — "last 6h, advancing hourly"
    * live: the identical expression tree as the oracle-checked
    * `window_sliding` batch query behind a watermark ([[sessionStream]]'s
    * shared-definition convention). Each event expands into its 6
    * overlapping windows map-side before the keyed state update; a
    * window emits exactly once when the watermark closes it. */
  def slidingStream(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    graft.ops.TimeWindows.slidingAggOf(events.withWatermark("ts", watermark))

  /** STREAMING DAILY VWAP — the execution benchmark live: per (type, UTC
    * day), Σ(price·size)/Σ(size) with size from the `props.k` payload,
    * each day emitted exactly once when the watermark closes it. ONE
    * definition, two runtimes ([[sessionStream]]'s convention): the
    * aggregate columns and the finishing ratio are the IDENTICAL
    * expression objects as the oracle-checked `ta_vwap` batch query
    * ([[graft.ops.MarketOps.vwapAggExprs]]/vwapFinish) behind a
    * watermarked `window(ts, 1 day)` — a plain streaming hash aggregate
    * (exact decimal/long partials merge across micro-batches in any
    * arrival order), no custom state code. The day label is the window
    * start, which for UTC-aligned day windows IS the batch side's
    * date_format day. */
  def vwapStream(events: DataFrame,
      watermark: String = "2 hours"): DataFrame = {
    val aggs = graft.ops.MarketOps.vwapAggExprs
    graft.ops.MarketOps.vwapFinish(
      events.withWatermark("ts", watermark)
        .groupBy(col("event_type"), window(col("ts"), "1 day").as("w"))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("day", date_format(col("w.start"), "yyyy-MM-dd")))
  }

  final case class EwmaDay(maxKey: Long, close: Double,
      sumMicros: Long, n: Long)
  final case class EwmaReport(event_type: String, day: String,
      ewma_close: Double, ewma_mean: Double)

  /** STREAMING EWMA SMOOTHER — the live twin of the oracle-checked
    * `ts_ewma` batch query (ONE definition, two runtimes): per type, the
    * 8-tap exponentially-weighted average (d = 0.75) of the raw value
    * sequence in full-µs (ts, id) order, rolled up to day grain as
    * (ewma_close = the day's last smoothed value, ewma_mean = the day's
    * average smoothed value), each day emitted exactly once when the
    * watermark closes it.
    *
    * Bit-exactness with the batch twin: the tap weights are the same
    * d^j literals summed in the same ascending-j order (the batch
    * `taps.reduce` fold); each smoothed value rounds to the 1e-6 grid
    * (roundD), so the day mean can accumulate as exact integer MICROS —
    * the batch side's DECIMAL(18,6) sum — and divide once in double with
    * the identical tree. The 8-value ring carries ACROSS day boundaries
    * exactly like the batch lag window (partitioned by type only). State
    * per key: 8 doubles + O(open days) counters, independent of volume. */
  def ewmaStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[EwmaReport] = {
    import events.sparkSession.implicits._
    val d = 0.75
    closeOnWatermark[Double, Vector[Double], EwmaDay, EwmaReport](events,
        doubleValue, dayMs, watermark, idleTimeout, Vector.empty) {
      (ring, day, t) =>
        // current value is tap j=0, ring carries taps 1..7
        val vals = t.v +: ring
        var num = 0.0; var den = 0.0; var j = 0
        while (j < vals.length) {
          val w = math.pow(d, j)
          num += vals(j) * w; den += w; j += 1
        }
        val e = round6(num / den)
        val eMicros = math.rint(e * 1e6).toLong
        (vals.take(7), day match {
          case None => EwmaDay(t.ordKey, e, eMicros, 1L)
          case Some(p) =>
            val (mk, cl) =
              if (t.ordKey > p.maxKey) (t.ordKey, e) else (p.maxKey, p.close)
            EwmaDay(mk, cl, p.sumMicros + eMicros, p.n + 1L)
        })
    } { (key, k, ring, a) =>
      // the batch twin's DECIMAL(18,6) sum cast to double, / count
      val mean = java.math.BigDecimal.valueOf(a.sumMicros, 6)
        .doubleValue() / a.n
      (ring, Some(EwmaReport(key, utcDay(k), a.close, mean)))
    }
  }

  final case class FunnelWinState(t1: Long, t2: Long, t3: Long)
  final case class FunnelWinHit(user_id: Long, step: Int, stage: String,
      ts_us: Long)

  /** STREAMING WINDOWED FUNNEL — [[funnelStages]]'s sibling with the
    * 7-day CONVERSION BUDGET and full-µs grain: the live twin of the
    * oracle-checked `funnel_window` batch query (funnelStages twins the
    * unwindowed `funnel`). Same semantics: each step is the FIRST qualifying
    * event strictly after the previous step's time and within its 7-day
    * conversion window ([[graft.ops.EventOps.funnelWinUs]] — ONE shared
    * constant, two runtimes). Under the in-order feed convention
    * (per-batch full-µs sort, [[emitInOrder]]) the forward pass IS
    * min-after-min: the first qualifying event in time order is the
    * min, so the emitted set equals the batch frame row for row.
    * Step completions are monotone — never retracted — so hits emit
    * immediately, no watermark wait. State per user is three longs, kept
    * for the life of the query: a lapsed user's return never re-emits
    * step 1. */
  def funnelWindowStream(events: DataFrame,
      watermark: String = "2 hours"): Dataset[FunnelWinHit] = {
    import events.sparkSession.implicits._
    val winUs = graft.ops.EventOps.funnelWinUs
    emitInOrder[Long, String, FunnelWinState, FunnelWinHit](events,
        col("user_id"), col("event_id"), col("ts"), col("event_type"),
        watermark, FunnelWinState(-1L, -1L, -1L)) { (uid, s, t) =>
      t.v match {
        case "signup" if s.t1 < 0 =>
          (s.copy(t1 = t.us), Some(FunnelWinHit(uid, 1, "signup", t.us)))
        case "view" if s.t1 >= 0 && s.t2 < 0 &&
            t.us > s.t1 && t.us <= s.t1 + winUs =>
          (s.copy(t2 = t.us), Some(FunnelWinHit(uid, 2, "view", t.us)))
        case "purchase" if s.t2 >= 0 && s.t3 < 0 &&
            t.us > s.t2 && t.us <= s.t2 + winUs =>
          (s.copy(t3 = t.us), Some(FunnelWinHit(uid, 3, "purchase", t.us)))
        case _ => (s, None)
      }
    }
  }

  /** A day's close candidate: the value at the largest packed order key. */
  final case class DayClose(maxKey: Long, close: Double)
  final case class BollReport(event_type: String, day: String, close: Double,
      n: Long, ma: Double, sd: Double, upper: Double, lower: Double,
      breach: Int)

  /** The row step of the twins that read only the day close: the batch
    * twins' max_by(value, packed key). */
  private def lastClose[C](carry: C, day: Option[DayClose],
      t: Tick[Double]): (C, DayClose) =
    (carry, day.filter(_.maxKey >= t.ordKey)
      .getOrElse(DayClose(t.ordKey, t.v)))

  /** STREAMING BOLLINGER BANDS — the mean-reversion alert live, per
    * (type, UTC day): trailing-5-day mean ± 2σ on the daily close with
    * the breach flag, each day emitted exactly once when the watermark
    * closes it. The live twin of the oracle-checked `ta_bollinger` batch
    * query (ONE definition, two runtimes).
    *
    * Bit-exactness with the batch twin: the day close is picked by the
    * SAME packed (µs-in-day, id mod 2²⁰) ordering key; closes quantize
    * to integer cents with the same floor(x·100+0.5); the window sums
    * (Σc, Σc²) are exact longs over the last ≤5 POSITION-ordered days
    * (the batch rowsBetween(-4,0) frame — a missing calendar day still
    * counts the previous present days, exactly as a row frame does); and
    * the band arithmetic replays the identical IEEE tree (sx/n/100,
    * sample σ via n·Σc²−(Σc)², max(…,0) guard, ±2σ, 1e-6 floor-round).
    * Warm-up days (n<2) emit nothing in both runtimes. State per key:
    * a 4-long cents ring + O(open days) close candidates. */
  def bollingerStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[BollReport] = {
    import events.sparkSession.implicits._
    closeOnWatermark[Double, Vector[Long], DayClose, BollReport](events,
        doubleValue, dayMs, watermark, idleTimeout, Vector.empty)(lastClose) {
      (key, k, ring, day) =>
        val close = day.close
        val c = toCents(close)
        val win = ring.takeRight(4) :+ c
        val n = win.size
        val rep =
          if (n < 2) None
          else {
            val sx = win.sum.toDouble
            val sxx = win.map(x => x * x).sum.toDouble
            val nd = n.toDouble
            val ma = sx / nd / 100.0
            val sd = math.sqrt(math.max(
              (sxx * nd - sx * sx) / (nd * (nd - 1.0)), 0.0)) / 100.0
            Some(BollReport(key, utcDay(k), close, n.toLong, round6(ma),
              round6(sd), round6(ma + 2.0 * sd), round6(ma - 2.0 * sd),
              if (close > ma + 2.0 * sd || close < ma - 2.0 * sd) 1 else 0))
          }
        ((ring :+ c).takeRight(4), rep)
    }
  }

  final case class AtrDay(maxKey: Long, hi: Long, lo: Long, cl: Long)
  final case class AtrState(prevClose: Long, hasPrev: Boolean,
      ring: Vector[Long])
  final case class AtrReport(event_type: String, day: String, tr: Double,
      atr: Double)

  /** The row step of the range twins: the day's integer-cents hi, lo and
    * close candidate. Per-row cent quantization commutes with min/max
    * because floor is monotone (the documented ta_atr argument). */
  private def centsRange[C](carry: C, day: Option[AtrDay],
      t: Tick[Double]): (C, AtrDay) = {
    val c = toCents(t.v)
    (carry, day match {
      case None => AtrDay(t.ordKey, c, c, c)
      case Some(p) =>
        val (mk, cl) =
          if (t.ordKey > p.maxKey) (t.ordKey, c) else (p.maxKey, p.cl)
        AtrDay(mk, math.max(p.hi, c), math.min(p.lo, c), cl)
    })
  }

  /** STREAMING AVERAGE TRUE RANGE — the position-sizing volatility unit
    * live, per (type, UTC day): TR = max(hi−lo, |hi−prev_cl|, |lo−prev_cl|)
    * with its trailing-7-day simple mean, each day emitted exactly once at
    * watermark close. Live twin of the oracle-checked `ta_atr`. All state
    * is integer CENTS: the open day's (hi, lo, packed-key close
    * candidate), the previous CLOSED day's close (first day coalesces to
    * its own close — the batch convention), and a 6-long TR ring; the
    * mean replays the batch tree (Σtr/n/100, 1e-6 floor-round). */
  def atrStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[AtrReport] = {
    import events.sparkSession.implicits._
    closeOnWatermark[Double, AtrState, AtrDay, AtrReport](events,
        doubleValue, dayMs, watermark, idleTimeout,
        AtrState(0L, hasPrev = false, Vector.empty))(centsRange) {
      (key, k, s, a) =>
        val pc = if (s.hasPrev) s.prevClose else a.cl
        val tr = math.max(a.hi - a.lo,
          math.max(math.abs(a.hi - pc), math.abs(a.lo - pc)))
        val win = s.ring.takeRight(6) :+ tr
        (AtrState(a.cl, hasPrev = true, (s.ring :+ tr).takeRight(6)),
          Some(AtrReport(key, utcDay(k), tr.toDouble / 100.0,
            round6(win.sum.toDouble / win.size.toDouble / 100.0))))
    }
  }

  final case class RsiState(prevClose: Long, hasPrev: Boolean,
      deltas: Vector[Long])
  final case class RsiReport(event_type: String, day: String,
      gain7: Long, loss7: Long, rsi: Option[Double])

  /** STREAMING RSI-7 — the momentum oscillator live, per (type, UTC day):
    * Cutler's SMA form, 100·Σgain/(Σgain+Σloss) over the trailing 7
    * close-to-close moves, each day emitted exactly once at watermark
    * close. Live twin of the oracle-checked `ta_rsi`. Bit-exactness: the
    * day close is picked by the SAME packed (µs-in-day, id mod 2²⁰) key;
    * deltas are exact cent integers; warm-up matches the batch position
    * semantics (the first day has no delta; emission starts at the 7th
    * delta); a flat week (Σ = 0) is None in both runtimes (batch nullif).
    * State per key: prev close + a ≤7-long delta ring + O(open days). */
  def rsiStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[RsiReport] = {
    import events.sparkSession.implicits._
    closeOnWatermark[Double, RsiState, DayClose, RsiReport](events,
        doubleValue, dayMs, watermark, idleTimeout,
        RsiState(0L, hasPrev = false, Vector.empty))(lastClose) {
      (key, k, s, day) =>
        val c = toCents(day.close)
        val win =
          if (s.hasPrev) (s.deltas :+ (c - s.prevClose)).takeRight(7)
          else s.deltas
        val rep =
          if (win.size < 7) None
          else {
            val gain = win.map(d => math.max(d, 0L)).sum
            val loss = win.map(d => math.max(-d, 0L)).sum
            Some(RsiReport(key, utcDay(k), gain, loss,
              if (gain + loss == 0L) None
              else Some(round6(100.0 * gain.toDouble /
                (gain + loss).toDouble))))
          }
        (RsiState(c, hasPrev = true, win), rep)
    }
  }

  final case class MacdState(closes: Vector[Double], macds: Vector[Double])
  final case class MacdReport(event_type: String, day: String,
      ema_fast: Double, ema_slow: Double, macd: Double, signal: Double,
      hist: Double)

  /** STREAMING MACD — trend momentum live, per (type, UTC day): fast EMA
    * (decay 3/4, 8 taps) − slow EMA (decay 15/16, 16 taps), 4-tap signal
    * (decay 1/2) over the QUANTIZED MACD, and the histogram; each day
    * emitted exactly once at watermark close. Live twin of the
    * oracle-checked `ta_macd`.
    *
    * Bit-exactness with the batch twin: the bounded-tap EMAs are the
    * same fixed expression trees — weights are the identical
    * `math.pow(d, j)` dyadic rationals, terms added in ascending-j order
    * (the batch `reduce` fold; a missing head tap contributes exactly
    * 0.0 to num and den, the coalesce identity), num/den divided once,
    * [[graft.ops.roundD]]'s floor(x·1e6+0.5)/1e6 applied at the same
    * three points (fast, slow, macd → signal input, hist). Day closes
    * are raw doubles picked by the same packed key, so both runtimes
    * feed bit-identical inputs through an identical IEEE tree. State per
    * key: 16 closes + 4 quantized MACDs + O(open days). */
  def macdStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[MacdReport] = {
    import events.sparkSession.implicits._
    import graft.ops.MarketOps.{macdFastD, macdSlowD, macdSigD,
      macdFastK, macdSlowK, macdSigK}
    // lag(src, j) over the day sequence = ring(size-1-j); ascending-j
    // accumulation replays the batch emaTaps addition order exactly
    def ema(ring: Vector[Double], k: Int, d: Double): Double = {
      var num = 0.0; var den = 0.0; var j = 0
      while (j < k) {
        val idx = ring.size - 1 - j
        if (idx >= 0) {
          num += ring(idx) * math.pow(d, j)
          den += math.pow(d, j)
        }
        j += 1
      }
      num / den
    }
    closeOnWatermark[Double, MacdState, DayClose, MacdReport](events,
        doubleValue, dayMs, watermark, idleTimeout,
        MacdState(Vector.empty, Vector.empty))(lastClose) {
      (key, k, s, day) =>
        val closes = (s.closes :+ day.close).takeRight(macdSlowK)
        val fast = round6(ema(closes, macdFastK, macdFastD))
        val slow = round6(ema(closes, macdSlowK, macdSlowD))
        val macd = round6(fast - slow)
        val macds = (s.macds :+ macd).takeRight(macdSigK)
        val signal = round6(ema(macds, macdSigK, macdSigD))
        (MacdState(closes, macds), Some(MacdReport(key, utcDay(k),
          fast, slow, macd, signal, round6(macd - signal))))
    }
  }

  final case class StochBar(hi: Long, lo: Long)
  final case class StochReport(event_type: String, day: String,
      close: Double, pct_k: Option[Double])

  /** STREAMING STOCHASTIC %K — the range-position oscillator live, per
    * (type, UTC day): 100·(close−L7)/(H7−L7) over the trailing 7 days'
    * hi/lo envelope, each day emitted exactly once at watermark close.
    * Live twin of the oracle-checked `ta_stoch`; it shares
    * [[atrStream]]'s integer-cents day fold. Emits from the first day
    * (the batch rowsBetween(-6,0) frame has no warm-up filter); a flat
    * 7-day envelope (H7=L7) is None in both runtimes (batch nullif).
    * State per key: a ≤6-bar (hi,lo) ring + O(open days). */
  def stochStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[StochReport] = {
    import events.sparkSession.implicits._
    closeOnWatermark[Double, Vector[StochBar], AtrDay, StochReport](events,
        doubleValue, dayMs, watermark, idleTimeout, Vector.empty)(centsRange) {
      (key, k, ring, a) =>
        val bar = StochBar(a.hi, a.lo)
        val win = ring.takeRight(6) :+ bar
        val h7 = win.map(_.hi).max
        val l7 = win.map(_.lo).min
        val pct =
          if (h7 == l7) None
          else Some(round6(100.0 * (a.cl - l7).toDouble / (h7 - l7).toDouble))
        ((ring :+ bar).takeRight(6),
          Some(StochReport(key, utcDay(k), a.cl.toDouble / 100.0, pct)))
    }
  }

  final case class RvDay(hasPrev: Boolean, prev: Double, n: Long, ssq: Long)
  final case class RvReport(event_type: String, day: String, n_ret: Long,
      rv: Double)

  /** STREAMING REALIZED VOLATILITY — the intraday risk gauge live, per
    * (type, UTC day): √Σr² over TICK-to-tick simple returns quantized to
    * the 1e-6 ppm grid, emitted once at watermark close. Live twin of
    * the oracle-checked `ta_rv`. The batch twin's lag partitions by
    * (type, day) — nothing carries across days, so (like [[gapStream]])
    * an idle key is removed once its open days have flushed. The
    * (ts, id) row order replays the batch lag order; a zero previous tick
    * NULLs the return out of both count and sum in both runtimes. State
    * per key: one (prev, n, Σri²) triple per OPEN day — independent of
    * tick volume. */
  def rvStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[RvReport] = {
    import events.sparkSession.implicits._
    closeOnWatermark[Double, NoCarry, RvDay, RvReport](events, doubleValue,
        dayMs, watermark, idleTimeout, NoCarry()) { (nc, day, t) =>
      val d = day.getOrElse(RvDay(hasPrev = false, 0.0, 0L, 0L))
      (nc,
        if (!d.hasPrev || d.prev == 0.0) RvDay(hasPrev = true, t.v, d.n, d.ssq)
        else {
          val ri = math.floor((t.v / d.prev - 1.0) * 1e6 + 0.5).toLong
          RvDay(hasPrev = true, t.v, d.n + 1L, d.ssq + ri * ri)
        })
    } { (key, k, nc, d) =>
      (nc, Some(RvReport(key, utcDay(k), d.n,
        round6(math.sqrt(d.ssq.toDouble) / 1e6))))
    }
  }

  final case class CrossState(ring: Vector[Long], ppos: Long)
  final case class CrossAlert(event_type: String, day: String,
      cross_type: String)

  /** STREAMING MA-CROSS DETECTOR — golden/death crosses AS THEY CLOSE:
    * the 3-day close mean crossing the 7-day one, per (type, UTC day),
    * each signal emitted exactly once at watermark close. Live twin of
    * the oracle-checked `ta_sma_cross` — the alert layer the batch query
    * computes nightly, fired the moment the day's candle is final.
    * Same integer machinery: cent closes by the packed pick key, means
    * compared CROSS-MULTIPLIED (sf·ns vs ss·nf — no division ever), and
    * a cross is a flip of the LAST NONZERO relation, so the warm-up's
    * equal-windows days (rel = 0 by construction while w3 = w7) and
    * touch-and-continue through zero can't false-fire — the batch
    * last(nullif(rel,0), ignoreNulls) frame carried as one long.
    * State per key: ≤6-close ring + ppos + O(open days). */
  def smaCrossStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[CrossAlert] = {
    import events.sparkSession.implicits._
    closeOnWatermark[Double, CrossState, DayClose, CrossAlert](events,
        doubleValue, dayMs, watermark, idleTimeout,
        CrossState(Vector.empty, 0L))(lastClose) { (key, k, s, day) =>
      val c = toCents(day.close)
      val win7 = s.ring.takeRight(6) :+ c
      val win3 = win7.takeRight(3)
      val (sf, nf) = (win3.sum, win3.size.toLong)
      val (ss, ns) = (win7.sum, win7.size.toLong)
      val rel =
        if (sf * ns > ss * nf) 1L
        else if (sf * ns < ss * nf) -1L else 0L
      val fire = rel != 0L && s.ppos != 0L && s.ppos != rel
      (CrossState((s.ring :+ c).takeRight(6), if (rel != 0L) rel else s.ppos),
        if (fire) Some(CrossAlert(key, utcDay(k),
          if (rel == 1L) "golden" else "death"))
        else None)
    }
  }

  final case class ObvDay(maxKey: Long, cl: Long, qty: Long)
  final case class ObvState(prevClose: Long, hasPrev: Boolean, obv: Long)
  final case class ObvReport(event_type: String, day: String, qty: Long,
      obv: Long)

  /** STREAMING ON-BALANCE VOLUME — the volume-flow confirmation line
    * live, per (type, UTC day): the day's Σ props.k size signed by the
    * close-to-close direction, accumulated, emitted at watermark close.
    * Live twin of the oracle-checked `ta_obv` — ALL-integer exactly like
    * the batch query (three-way sign on cent closes, long sums, no
    * doubles anywhere). First day carries sign 0 in both engines. */
  def obvStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[ObvReport] = {
    import events.sparkSession.implicits._
    val valueAndSize = struct(doubleValue.as("_1"),
      get_json_object(col("props"), "$.k").cast("long").as("_2"))
    closeOnWatermark[(Double, Option[Long]), ObvState, ObvDay, ObvReport](
        events, valueAndSize, dayMs, watermark, idleTimeout,
        ObvState(0L, hasPrev = false, 0L)) { (s, day, t) =>
      val c = toCents(t.v._1)
      val q = t.v._2.getOrElse(0L)
      (s, day match {
        case None => ObvDay(t.ordKey, c, q)
        case Some(p) =>
          val (mk, cl) =
            if (t.ordKey > p.maxKey) (t.ordKey, c) else (p.maxKey, p.cl)
          ObvDay(mk, cl, p.qty + q)
      })
    } { (key, k, s, a) =>
      val sgn =
        if (!s.hasPrev) 0L
        else if (a.cl > s.prevClose) 1L
        else if (a.cl < s.prevClose) -1L else 0L
      val obv = s.obv + sgn * a.qty
      (ObvState(a.cl, hasPrev = true, obv),
        Some(ObvReport(key, utcDay(k), a.qty, obv)))
    }
  }

  final case class CalmarState(nDays: Long, cf: Long, peak: Long,
      maxDd: Option[Double])
  final case class CalmarReport(event_type: String, day: String,
      n_days: Long, ann_ret: Double, max_dd: Option[Double],
      calmar: Option[Double])

  /** STREAMING CALMAR RATIO — the recovery-adjusted performance line
    * live, per (type, UTC day): each closed day updates O(1) integer
    * carry state (first close, running peak, running max drawdown — the
    * [[obvStream]] cumulative-line state class) and emits the running
    * Calmar row as of that day; the LAST emitted row per type equals the
    * oracle-checked `ta_calmar` batch answer over the same prefix. Every
    * arithmetic step mirrors [[graft.ops.MarketOps.calmarOf]] exactly:
    * cent closes by the packed (µs-in-day, id) order key, per-day
    * dd = round6((peak−c)/peak) with a NULL (skipped) dd on a zero
    * peak, linear annualization ((cl/cf − 1)·252/n) on the same IEEE
    * tree, NULL calmar while the series is drawdown-free. */
  def calmarStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[CalmarReport] = {
    import events.sparkSession.implicits._
    closeOnWatermark[Double, CalmarState, DayClose, CalmarReport](events,
        doubleValue, dayMs, watermark, idleTimeout,
        CalmarState(0L, 0L, 0L, None))(lastClose) { (key, k, s, day) =>
      val c = toCents(day.close)
      val n = s.nDays + 1
      val cf = if (s.nDays == 0L) c else s.cf
      val peak = math.max(s.peak, c)
      // batch: dd = round6((peak − c)/peak), NULL when peak = 0
      // (max() then ignores it)
      val maxDd =
        if (peak == 0L) s.maxDd
        else {
          val dd = round6((peak - c).toDouble / peak.toDouble)
          Some(s.maxDd.fold(dd)(math.max(_, dd)))
        }
      val ann = (c.toDouble / cf.toDouble - 1.0) * 252.0 / n.toDouble
      (CalmarState(n, cf, peak, maxDd),
        Some(CalmarReport(key, utcDay(k), n, round6(ann), maxDd,
          maxDd.filter(_ != 0.0).map(d => round6(ann / d)))))
    }
  }

  /** STREAMING WEEKLY ACTIVITY HEATMAP — the (day-of-week × hour) volume
    * grid live: a plain watermarked `window(ts, 1 day)` count keyed by
    * the IDENTICAL dow/hour expressions as the oracle-checked
    * `win_heatmap` batch query (calendar-arithmetic weekday — engine
    * dayofweek() numbering never enters; [[sessionStream]]'s
    * shared-definition convention, no custom state code). Each (day,
    * hour) cell emits exactly once when the watermark closes its day;
    * summing emitted cells per (dow, hour) reproduces the batch grid's
    * counts, and the global share_pm re-derives from those sums — a
    * running global total is deliberately NOT streamed (an all-history
    * denominator in append mode would re-emit every cell on every
    * update; the dashboard recomputes shares from its store instead). */
  def heatmapStream(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"),
        pmod(datediff(to_date(col("ts")), lit("1970-01-01")) + 4, lit(7))
          .cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("dow"), col("hour"), col("cnt"))

  final case class MonoHour(n: Long, inversions: Long)
  final case class MonoState(runmax: Long, hasMax: Boolean)
  final case class MonoReport(event_type: String, hour_ms: Long, n: Long,
      inversions: Long)

  /** STREAMING ORDERING AUDIT — [[graft.ops.DataQuality.dqMonotonic]]'s
    * id-vs-event-time inversion monitor run LIVE at hour grain per type:
    * an event id below the running maximum of everything earlier is a
    * replayed segment / interleaved backfill / producer clock skew,
    * surfaced while the data is in flight rather than at the nightly
    * audit. The running max is GLOBAL per key (the batch twin's
    * unbounded-preceding frame), counts bucket into the row's event-time
    * hour, and each hour emits exactly once at watermark close — so the
    * per-type sum over emitted hours equals the batch (n, inversions)
    * row exactly (spec-asserted). State per key: one long + O(open
    * hours). */
  def monotonicStream(events: DataFrame,
      watermark: String = "2 hours",
      idleTimeout: String = "60 days"): Dataset[MonoReport] = {
    import events.sparkSession.implicits._
    closeOnWatermark[Int, MonoState, MonoHour, MonoReport](events, lit(0),
        3600000L, watermark, idleTimeout,
        MonoState(Long.MinValue, hasMax = false)) { (s, hour, t) =>
      val c = hour.getOrElse(MonoHour(0L, 0L))
      val inv = if (s.hasMax && t.id < s.runmax) 1L else 0L
      (MonoState(math.max(s.runmax, t.id), hasMax = true),
        MonoHour(c.n + 1L, c.inversions + inv))
    } { (key, h, s, c) => (s, Some(MonoReport(key, h, c.n, c.inversions))) }
  }

  /** Shipped reference traffic profile for [[driftStream]] — the baseline
    * distribution the live mix is compared against (production broadcasts
    * yesterday's profile; a literal here, the model-artifact convention of
    * [[graft.ops.TextOps.encPieces]]). Traffic outside the profile falls
    * into an implicit `other` bucket whose baseline mass is zero — JSD
    * stays finite by construction, so an unknown event type registers as
    * drift instead of an error. */
  private[graft] val driftBaseline: Seq[(String, Double)] = Seq(
    "click" -> 0.25, "error" -> 0.05, "purchase" -> 0.20,
    "signup" -> 0.20, "view" -> 0.30)

  /** STREAMING DISTRIBUTION-DRIFT MONITOR — the in-flight twin of the
    * batch drift audits (`dq_drift`, `text_jsd`): per closed event-time
    * hour, the Jensen–Shannon divergence (base 2, ∈ [0, 1]) between the
    * hour's event-type mix and [[driftBaseline]] — the alarm a training-
    * data ingest keeps on its source mix, raised while the data is still
    * in flight rather than at the nightly audit. ONE windowed aggregate
    * (streaming-legal in append mode; emits when the watermark closes the
    * hour): the histogram is conditional counts over the profile's FIXED
    * symbol set plus the other-bucket remainder, so per-window state is
    * |profile|+1 longs no matter the traffic volume. */
  def driftStream(events: DataFrame,
      watermark: String = "30 minutes"): DataFrame =
    driftAgg(events.withWatermark("ts", watermark))

  /** The shared batch/stream drift aggregation — one definition, two
    * runtimes (the candles/topk parity convention). The JSD expression
    * tree is generated from [[driftBaseline]] in its fixed order over
    * INTEGER conditional counts, so the double arithmetic runs on
    * identical inputs in an identical shape in both runtimes. */
  private[graft] def driftAgg(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val counts = driftBaseline.zipWithIndex.map { case ((t, _), i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c$i")
    }
    val agged = events
      .select(col("ts"), col("event_type"))
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(counts.head, counts.tail :+ count(lit(1)).as("n"): _*)
    val nD = col("n").cast(DoubleType)
    // JS(p, q) = Σ [p·log2(p/m) + q·log2(q/m)] / 2 with m = (p+q)/2 and
    // the 0·log 0 = 0 convention — symmetric, finite, ≤ 1 in base 2
    def term(p: Column, q: Column): Column =
      when(p > 0.0, p * log2(p / ((p + q) / 2.0))).otherwise(lit(0.0))
    val pairs = driftBaseline.zipWithIndex.map { case ((_, qv), i) =>
      (col(s"c$i").cast(DoubleType) / nD, lit(qv))
    } :+ ((col("n") - driftBaseline.indices.map(i => col(s"c$i"))
      .reduce(_ + _)).cast(DoubleType) / nD, lit(0.0))
    val jsd = pairs.map { case (p, q) => (term(p, q) + term(q, p)) / 2.0 }
      .reduce(_ + _)
    agged.select(unix_millis(col("w.start")).as("hour_ms"), col("n"),
      jsd.as("jsd"))
  }

  /** STREAMING DRIFT LEADERBOARD — the "WHICH symbol moved" readout on
    * top of [[driftStream]]'s scalar alarm: per closed event-time hour,
    * every profile symbol (+ the other-bucket) ranked by its absolute
    * share deviation from [[driftBaseline]] in permille. The scalar JSD
    * says the mix changed; the first thing the on-call asks next is
    * which feed did it — this emits that answer in flight. Integer
    * permille end to end (share = c·1000 div n vs the baseline's exact
    * permille), ranked by (dev DESC, symbol) inside one array_sort, so
    * stream, batch, and any replay agree bit-for-bit. Same
    * streaming-legal shape as the other monitors: ONE windowed
    * aggregate, |profile|+1 longs of state per open window. */
  def driftTopStream(events: DataFrame,
      watermark: String = "30 minutes"): DataFrame =
    driftTopAgg(events.withWatermark("ts", watermark))

  /** The shared batch/stream leaderboard aggregation — one definition,
    * two runtimes (the [[driftAgg]]/[[entropyAgg]] convention). */
  private[graft] def driftTopAgg(events: DataFrame): DataFrame = {
    val counts = driftBaseline.zipWithIndex.map { case ((t, _), i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c$i")
    }
    val agged = events
      .select(col("ts"), col("event_type"))
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(counts.head, counts.tail :+ count(lit(1)).as("n"): _*)
    // (deviation_pm, symbol) per profile symbol + the other-bucket;
    // sort key = (-dev, symbol) so one ascending array_sort yields the
    // leaderboard with a deterministic tie-break
    val entries = driftBaseline.zipWithIndex.map { case ((t, qv), i) =>
      struct(
        (-abs(expr(s"c$i * 1000 div n") - lit(math.round(qv * 1000))))
          .as("negdev"),
        lit(t).as("sym"))
    } :+ {
      val other = s"(n - ${driftBaseline.indices.map(i => s"c$i").mkString(" - ")})"
      struct((-abs(expr(s"$other * 1000 div n"))).as("negdev"),
        lit("<other>").as("sym"))
    }
    agged.select(unix_millis(col("w.start")).as("hour_ms"), col("n"),
        array_sort(array(entries: _*)).as("ranked"))
      .select(col("hour_ms"), col("n"),
        expr("transform(ranked, x -> x.sym)").as("symbols"),
        expr("transform(ranked, x -> -x.negdev)").as("dev_pm"))
  }

  /** STREAMING SHANNON-ENTROPY MONITOR — the information-theoretic
    * companion to [[driftStream]] on the same fixed symbol set: per
    * closed event-time hour, the entropy (bits) of the hour's event-type
    * mix over [[driftBaseline]]'s symbols + the other-bucket. Entropy
    * and JSD alarm on different pathologies: a feed collapsing to ONE
    * event type craters entropy even when that type dominates the
    * baseline too (small JSD), while a novel-type injection moves JSD
    * first — together they bracket "the mix changed" vs "the mix
    * degenerated". Same streaming-legal shape as the drift monitor: ONE
    * windowed aggregate, per-window state of |profile|+1 longs. */
  def entropyStream(events: DataFrame,
      watermark: String = "30 minutes"): DataFrame =
    entropyAgg(events.withWatermark("ts", watermark))

  /** The shared batch/stream entropy aggregation — one definition, two
    * runtimes (the [[driftAgg]] convention; the batch runtime is the
    * oracle-checked `dq_entropy` query). EXACT in the `text_jsd` sense:
    * H = (n·qlog2(n) − Σ c·qlog2(c)) / (n·10⁶) over integer conditional
    * counts on the 1e−6 log grid, one identical double tree at the end
    * (6 dp), so stream, batch, and the DuckDB oracle land bit-identical.
    * Each c·qlog2(c) term rides DECIMAL(38,0) (the `text_jsd` moment
    * convention), so the integer sum is exact at ANY per-hour volume —
    * no documented int64 envelope to outgrow. */
  private[graft] def entropyAgg(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val counts = driftBaseline.zipWithIndex.map { case ((t, _), i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c$i")
    }
    val agged = events
      .select(col("ts"), col("event_type"))
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(counts.head, counts.tail :+ count(lit(1)).as("n"): _*)
    def ql(c: Column): Column =
      floor(log2(c.cast(DoubleType)) * 1e6 + 0.5).cast(LongType)
    val other = col("n") -
      driftBaseline.indices.map(i => col(s"c$i")).reduce(_ + _)
    val cs = driftBaseline.indices.map(i => col(s"c$i")) :+ other
    val dec = DecimalType(38, 0)
    val sumC = cs.map(c => when(c > 0L,
        c.cast(dec) * ql(c).cast(dec)).otherwise(lit(0L).cast(dec)))
      .reduce(_ + _)
    val nD = col("n").cast(DoubleType)
    agged.select(unix_millis(col("w.start")).as("hour_ms"), col("n"),
      graft.ops.roundD(
        (nD * ql(col("n")).cast(DoubleType) - sumC.cast(DoubleType)) /
          (nD * 1e6), 6).as("entropy_bits"))
  }

  /** Streaming WINDOWED TOP-K — the live leaderboard: per (hour, type),
    * the 3 largest events by value, via the same bounded-heap
    * [[graft.functions.TopKStructs]] aggregate the batch `topk` query
    * runs. The heap IS the state-store entry: O(k) per open (window,
    * type) group, merged across micro-batches exactly like map-side
    * partials in batch (TypedImperativeAggregate serialize/merge), so a
    * window that sees a million events still holds 3 rows of state — the
    * window-function formulation (rank over the window's rows) is not
    * even expressible in append-mode streaming without buffering the
    * whole window. Watermark closes windows for append emission;
    * StreamingSpec asserts row-exact parity against the identical batch
    * aggregation across a checkpointed multi-batch feed. Descending
    * value is encoded by negating the cents field (TopKStructs keeps the
    * lexicographically smallest). */
  def topkStream(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    topkAgg(events.withWatermark("ts", watermark))

  /** The shared batch/stream top-k aggregation — one definition, two
    * runtimes. */
  private[graft] def topkAgg(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    events
      .select(col("event_type"), col("ts"),
        struct((col("value").cast(DecimalType(18, 2)) * lit(-100))
          .cast(LongType).as("nvc"), col("event_id")).as("s"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(graft.functions.TopKStructs(col("s"), 3).as("top"))
      .select(col("event_type"), unix_millis(col("w.start")).as("hour_ms"),
        expr("transform(top, t -> t.event_id)").as("top_ids"),
        expr("transform(top, t -> -t.nvc)").as("top_cents"))
  }

  /** Per-user last seen view (-1 = none yet): id + event-time MICROS
    * (micros, not millis — the batch query's gap is a µs-exact integer
    * division, and a ms truncation here would round a 999.8 ms gap the
    * other way). */
  final case class AttrState(viewId: Long, viewUs: Long)

  /** One attributed purchase (attrId/gapS = -1 for organic conversions —
    * the streaming row is non-nullable where the batch query used NULL). */
  final case class AttrTouch(user_id: Long, purchase_id: Long,
      attr_id: Long, gap_s: Long)

  /** Streaming last-touch attribution —
    * [[graft.ops.EventOps.attrLastTouch]]'s running-window semantics as
    * keyed state, emitting the credited view the moment a purchase
    * arrives (live campaign dashboards want the credit in seconds, not
    * after the nightly batch). Per-user state is ONE (view id, ts) pair —
    * the same O(1) the batch plan carries through its window frame — and
    * lives for the life of the query, since the batch twin attributes a
    * purchase to the last view at ANY lag. Rows are applied in event-time
    * order within each micro-batch ([[emitInOrder]]), and the view fold
    * is GUARDED on (ts_us, event_id) monotonicity — a late-but-in-
    * watermark view from a later micro-batch can never regress the state
    * to a temporally older touch (Spark drops only rows older than the
    * watermark).
    *
    * Contract: purchases emit the moment they arrive, credited to the
    * latest qualifying view SEEN SO FAR — append mode cannot retract, so a
    * view that arrives in a later micro-batch than a purchase it precedes
    * in event time is credit that batch replay would assign and the live
    * path already missed. ROW-EXACT batch parity therefore requires
    * event-time-ordered delivery ACROSS micro-batches (what StreamingSpec
    * feeds); under arbitrary in-watermark reordering the guarantee is the
    * weaker monotone one above. Exact parity under reordering needs the
    * [[candlesFilledStream]] buffer-until-watermark shape, at the price of
    * per-key event buffering and watermark-delayed emission — the wrong
    * trade for a seconds-latency campaign dashboard.
    *
    * Same-instant view/purchase pairs resolve by event_id order via the
    * (ts, id) sort: the view is credited iff its id sorts before the
    * purchase's — identical to the batch frame, whose ROWS `1 PRECEDING`
    * bound over the same (ts, id) ordering includes a same-timestamp view
    * with a smaller event_id. */
  def attrStream(events: DataFrame,
      watermark: String = "10 minutes"): Dataset[AttrTouch] = {
    import events.sparkSession.implicits._
    emitInOrder[Long, String, AttrState, AttrTouch](events,
        col("user_id").cast("long"), col("event_id"), col("ts"),
        col("event_type"), watermark, AttrState(-1L, -1L)) { (uid, s, t) =>
      t.v match {
        // monotone fold: an out-of-order view arriving after a newer one
        // (cross-batch) must not regress the state
        case "view" if t.us > s.viewUs || (t.us == s.viewUs && t.id > s.viewId) =>
          (AttrState(t.id, t.us), None)
        case "purchase" =>
          (s, Some(if (s.viewId >= 0L)
            AttrTouch(uid, t.id, s.viewId, (t.us - s.viewUs) / 1000000L)
          else AttrTouch(uid, t.id, -1L, -1L)))
        case _ => (s, None)
      }
    }
  }

  /** Per-user funnel progress (epoch-millis per stage; -1 = not reached). */
  final case class FunnelState(t1: Long, t2: Long, t3: Long)

  /** One stage advancement: user reached `stage` at event-time `ts_ms`. */
  final case class FunnelUpdate(user_id: Long, stage: Int, ts_ms: Long)

  /** Streaming funnel — [[graft.ops.EventOps.funnel]]'s strict
    * signup→view→purchase machine as keyed state, emitting an update the
    * moment a user ADVANCES a stage (the real-time form of the batch
    * conversion report: live activation dashboards, drop-off alerting).
    * Per-user state is three epoch-millis — O(1) per user regardless of
    * event volume, sharded by the state store like every keyed state here
    * (RocksDB for the 100 TB key counts — [[useRocksDbStateStore]]);
    * state lives for the life of the query, so a lapsed user's return
    * cannot re-emit a duplicate stage row (min-per-user parity with the
    * batch twin). Rows are applied in event-time order WITHIN each
    * micro-batch ([[emitInOrder]]); across batches the machine
    * is monotone, so parity with the batch funnel holds when delivery is
    * watermark-ordered — StreamingSpec feeds the real events table in ts
    * order and asserts stage counts match the batch query exactly. The
    * strict `>` comparisons mirror the batch min-after-min semantics
    * (same-instant events never advance two stages). */
  def funnelStages(events: DataFrame,
      watermark: String = "10 minutes"): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    emitInOrder[Long, String, FunnelState, FunnelUpdate](events,
        col("user_id").cast("long"), lit(0L), col("ts"), col("event_type"),
        watermark, FunnelState(-1L, -1L, -1L)) { (uid, s, t) =>
      t.v match {
        case "signup" if s.t1 < 0 =>
          (s.copy(t1 = t.ms), Some(FunnelUpdate(uid, 1, t.ms)))
        case "view" if s.t1 >= 0 && s.t2 < 0 && t.ms > s.t1 =>
          (s.copy(t2 = t.ms), Some(FunnelUpdate(uid, 2, t.ms)))
        case "purchase" if s.t2 >= 0 && s.t3 < 0 && t.ms > s.t2 =>
          (s.copy(t3 = t.ms), Some(FunnelUpdate(uid, 3, t.ms)))
        case _ => (s, None)
      }
    }
  }

  /** Switch the session's streaming state store to RocksDB and return the
    * previous provider setting (pass it back to restore).
    *
    * The default state store keeps every key's state as JVM objects on the
    * executor heap — fine for the fixture streams here, fatal at 100 TB
    * where a high-cardinality dedup/join/window key set (billions of tids)
    * outgrows executor memory. RocksDB keeps state off-heap and spills to
    * local disk, so state capacity scales with SSD, not heap; changelog
    * checkpointing ships per-batch deltas to the checkpoint location
    * instead of full snapshots, keeping commit latency flat as state
    * grows. Every stateful assembly in this object runs unchanged under
    * either provider (asserted in StreamingSpec). */
  def useRocksDbStateStore(spark: SparkSession): Option[String] = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    prev
  }

  /** One symbol's running VWAP accumulator state. */
  final case class VwapState(n: Long, sumNotional: Double, sumQty: Double)

  /** Per-batch VWAP update emitted by [[VwapProcessor]]. */
  final case class VwapUpdate(symbol: String, n: Long, vwap: Double)

  /** Per-symbol running VWAP on the transformWithState API (Spark 4's
    * successor to flatMapGroupsWithState, cf. [[emitInOrder]]): typed
    * state variables come from the handle instead of one opaque blob, and
    * state TTL is DECLARED (TTLConfig) rather than hand-rolled with
    * timeout callbacks — the store evicts idle symbols by itself, which is
    * the state-boundedness story at 100 TB key cardinalities. Requires the
    * RocksDB state store provider (multi-column-family support), i.e.
    * [[useRocksDbStateStore]] — that pairing is deliberate: this API
    * targets exactly the large-state deployments RocksDB exists for.
    *
    * TTL caveat, measured here: with a TTL the operator reports
    * shouldRunAnotherBatch every trigger (the eviction sweep), so the
    * query NEVER settles — processAllAvailable blocks and even
    * Trigger.AvailableNow keeps cycling empty batches. That is the right
    * behavior for a 24/7 deployment on a ProcessingTime trigger (the sweep
    * rides the trigger cadence) and wrong for bounded drains, which is why
    * `ttl` is opt-in rather than defaulted.
    *
    * Emits one update per symbol per micro-batch that touched it. */
  final class VwapProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Option[Double], Option[Double]), VwapUpdate] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
    @transient private var state: ValueState[VwapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[VwapState]("vwap",
        org.apache.spark.sql.Encoders.product[VwapState],
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: String,
        rows: Iterator[(String, Option[Double], Option[Double])],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[VwapUpdate] = {
      var s = if (state.exists()) state.get() else VwapState(0L, 0.0, 0.0)
      rows.foreach { case (_, notional, qty) =>
        s = VwapState(s.n + 1,
          s.sumNotional + notional.getOrElse(0.0),
          s.sumQty + qty.getOrElse(0.0))
      }
      state.update(s)
      Iterator.single(VwapUpdate(key, s.n,
        if (s.sumQty == 0.0) 0.0 else s.sumNotional / s.sumQty))
    }
  }

  /** Wire [[VwapProcessor]] over the unified stream: group by symbol;
    * pass a `ttl` (and run on a ProcessingTime trigger) to have the store
    * evict idle symbols — see the TTL caveat on [[VwapProcessor]]. */
  def vwapUpdates(unified: DataFrame,
      ttl: Option[java.time.Duration] = None): Dataset[VwapUpdate] = {
    import unified.sparkSession.implicits._
    val timeMode =
      if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
      else org.apache.spark.sql.streaming.TimeMode.None()
    unified
      .select(col("symbol"), col("notional"), col("qty"))
      .as[(String, Option[Double], Option[Double])]
      .groupByKey(_._1)
      .transformWithState(new VwapProcessor(ttl), timeMode, OutputMode.Append())
  }
}
