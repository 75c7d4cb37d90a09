package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Event-time window aggregations: tumbling, sliding, session.
  *
  * The reference's only time bucketing is the daily-rotated CSV file
  * (liq-stream `writer_csv.py:17-31`) — a tumbling 1-day window over ingest
  * time — and its CHANGELOG dashboards do "last 6h activity" style windowed
  * counts (`CHANGELOG.md:12-14`). Here they are proper event-time windows over
  * the `events` table; the streaming variants (with watermarks) reuse the same
  * expressions in graft.streaming.
  */
object TimeWindows {

  /** Tumbling 1-day window — the CSV daily-rotation semantics
    * (liq-stream `writer_csv.py:17-31`) as an event-time aggregate. Window
    * starts are epoch-aligned so results are partition-count independent. */
  def windowTumblingDaily(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("cnt"), sumMoney(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("cnt"), col("sum_value"))
      .orderBy("day")

  /** Sliding window: 6-hour windows advancing every hour ("last 6h activity",
    * liq-stream `CHANGELOG.md:14`). Each event lands in exactly 6 windows;
    * the expansion happens map-side before the keyed shuffle. */
  def windowSliding(spark: SparkSession, dir: String): DataFrame =
    slidingAggOf(table(spark, dir, "events")).orderBy("w_start")

  /** The ONE sliding aggregation behind the oracle-checked batch query
    * and [[graft.streaming.StreamAssembly.slidingStream]] — `window()` is
    * streaming-legal in append mode, so the identical expression tree
    * runs in both runtimes (the [[sessionAggOf]] convention). */
  private[graft] def slidingAggOf(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "6 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(tsStr(col("w.start")).as("w_start"), col("cnt"))

  /** Session window per user with an 8-hour inactivity gap — liquidation
    * cascade/burst detection. A new session starts only when the gap from
    * the previous event STRICTLY exceeds the timeout: Spark merges
    * touching session windows (proven by the [[cascades]] boundary spec),
    * so a gap of exactly 8h still extends the session. */
  def windowSession(spark: SparkSession, dir: String): DataFrame =
    sessionAggOf(table(spark, dir, "events"))
      .orderBy("user_id", "session_start")

  /** The ONE session aggregation behind the oracle-checked batch query and
    * [[graft.streaming.StreamAssembly.sessionStream]] — the `dq_entropy`/
    * `ts_cusum` shared-definition convention: `session_window` is
    * streaming-legal in append mode, so the identical expression tree runs
    * in both runtimes and the oracle pins the streaming arithmetic. */
  private[graft] def sessionAggOf(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "8 hours").as("w"))
      .agg(count(lit(1)).as("cnt"), sumMoney(col("value")).as("sum_value"))
      .select(
        col("user_id"), tsStr(col("w.start")).as("session_start"),
        col("cnt"), col("sum_value"))

  /** SESSION DEPTH DISTRIBUTION — how many events a session contains,
    * bucketed (1 / 2 / 3-5 / 6-10 / 11+): the engagement-shape histogram
    * read next to [[windowSession]]'s raw list (is traffic drive-by
    * singles or long cascades?). Reuses the ONE session aggregation
    * ([[sessionAggOf]] — same 8-hour strict-gap semantics the boundary
    * spec pins), so the bucket edges can never drift from the session
    * definition itself. The share is exact integer permille over the
    * session count; the final window runs over the 5-row bucket
    * aggregate — the documented dimension-bounded global-window class,
    * never raw events. */
  def sessionDepth(spark: SparkSession, dir: String): DataFrame = {
    val b = sessionAggOf(table(spark, dir, "events"))
      .select(when(col("cnt") === 1, 1).when(col("cnt") === 2, 2)
        .when(col("cnt") <= 5, 3).when(col("cnt") <= 10, 4)
        .otherwise(5).as("bucket_ord"))
      .groupBy("bucket_ord").agg(count(lit(1)).as("n_sessions"))
    b.select(col("bucket_ord"),
        when(col("bucket_ord") === 1, "1").when(col("bucket_ord") === 2, "2")
          .when(col("bucket_ord") === 3, "3-5")
          .when(col("bucket_ord") === 4, "6-10")
          .otherwise("11+").as("depth"),
        col("n_sessions"))
      .withColumn("sessions_pm",
        expr("n_sessions * 1000 div sum(n_sessions) over ()"))
      .orderBy("bucket_ord")
  }

  /** WEEKLY ACTIVITY HEATMAP — event counts on the (day-of-week × hour)
    * grid with exact permille shares: the ops-dashboard seasonality view
    * next to [[tsSeasonal]]'s per-weekday value levels (this one reads
    * VOLUME shape — when does traffic actually arrive?). Weekday is
    * computed arithmetically from CALENDAR day counts,
    * pmod(days_since_epoch + 4, 7) with 0 = Sunday (1970-01-01 was a
    * Thursday) — NOT the engines' dayofweek(), whose numbering
    * disagrees between Spark (1 = Sunday) and DuckDB (0 = Sunday), and
    * NOT `unix_micros div day` either: Spark's `div` truncates toward
    * zero while DuckDB's `//` floors, so pre-1970 rows would land on
    * different days (the ts_periodicity edge — datediff/DATE
    * subtraction floor correctly in both engines, as does calendar
    * hour()). ONE map-side-combined aggregate to ≤168 cells; the share
    * window runs over that bounded frame. */
  def winHeatmap(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(
        pmod(datediff(to_date(col("ts")), lit("1970-01-01")) + 4, lit(7))
          .cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("share_pm", expr("cnt * 1000 div sum(cnt) over ()"))
      .orderBy("dow", "hour")

  /** Hourly OHLCV candles per event type — THE liquidation-stream product
    * query (open/high/low/close + volume per symbol-hour, the shape every
    * downstream dashboard of the reference's feed aggregates; liq-stream
    * itself stops at raw rows, `writer_pg.py:23-36`). `min_by`/`max_by` over
    * a packed ordering key pick the first/last fill deterministically. The
    * key packs (µs-within-hour, event_id mod 2^31) into ONE BIGINT instead
    * of a (ts, event_id) struct: a struct ordering forces the aggregation
    * buffer out of Tungsten's fixed-width row and the whole query into
    * SortAggregate (observed via explain — every partition pays an
    * O(n log n) sort), while the packed long keeps min_by/max_by
    * HashAggregate-eligible with map-side partials, so the only work is one
    * hash pass plus the keyed exchange. µs-within-hour needs 32 bits, the
    * id residue 31 — the product stays under 2^63. The id mask only
    * matters for events in the same hour with IDENTICAL microsecond ts and
    * colliding id residues, where open/close would pick between equal-ts
    * fills arbitrarily. The streaming variant is the same expressions
    * behind a watermarked `window()` groupBy. */
  /** The packed ordering key and candle aggregates, shared verbatim by the
    * batch query and [[candlesStream]]. */
  private[graft] def candleAggs: Seq[Column] = {
    val order = (unix_micros(col("ts")) % 3600000000L) * 2147483648L +
      pmod(col("event_id"), lit(2147483648L))
    Seq(
      min_by(col("value"), order).as("open"),
      max(col("value")).as("high"),
      min(col("value")).as("low"),
      max_by(col("value"), order).as("close"),
      count(lit(1)).as("cnt"),
      sumMoney(col("value")).as("volume"))
  }

  def candles(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(candleAggs.head, candleAggs.tail: _*)
      .select(col("event_type"), tsStr(col("w.start")).as("hour"),
        col("open"), col("high"), col("low"), col("close"),
        col("cnt"), col("volume"))
      .orderBy("event_type", "hour")

  /** Daily OHLCV ROLLED UP from the hourly candles — the two-level
    * pre-aggregation pattern: at 100 TB the daily dashboard never re-scans
    * raw fills; it folds the already-materialized hourly level (24 rows
    * per symbol-day instead of millions of fills). The fold is exact, not
    * approximate: the day's open is its first hour's open (min_by over the
    * hour key; within-hour order came from the packed key), high/low are
    * max/min, cnt sums, and volume re-enters DECIMAL(18,2) — each hourly
    * volume is a 2-dp decimal that round-trips the double cast exactly, so
    * the daily sum equals the direct-from-raw decimal sum bit-for-bit.
    * The ORACLE is the direct daily aggregation over raw events with the
    * rollup's exact effective ordering — lexicographic (hour, within-hour
    * packed key) = (absolute µs, id mod 2^31), in HUGEINT — so the hash
    * compare IS the materialized-rollup correctness proof, tie cases
    * included. */
  /** The hourly→daily fold itself, shared verbatim by [[candlesDaily]]
    * and the streaming incremental rollup
    * ([[graft.streaming.StreamAssembly.candlesDailyStream]]). `keyCol`
    * names the hourly level's grouping column (`event_type` for the
    * batch events query, `symbol` for the liquidation stream). */
  private[graft] def dailyFold(hourly: DataFrame, keyCol: String): DataFrame =
    hourly
      // within a day, hour order IS hour-of-day — a fixed-width INT
      // ordering key keeps min_by/max_by in HashAggregate (the candles
      // packed-key rationale: a var-width string key forces SortAggregate,
      // observed via explain)
      .withColumn("h", substring(col("hour"), 12, 2).cast(IntegerType))
      .groupBy(col(keyCol), substring(col("hour"), 1, 10).as("day"))
      .agg(
        min_by(col("open"), col("h")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("h")).as("close"),
        sum(col("cnt")).as("cnt"),
        sumMoney(col("volume")).as("volume"))

  def candlesDaily(spark: SparkSession, dir: String): DataFrame =
    dailyFold(candles(spark, dir), "event_type")
      .orderBy("event_type", "day")

  /** Streaming OHLCV: the identical candle aggregates behind a watermarked
    * event-time window — late fills inside the watermark still update their
    * candle, and closed candles emit exactly once in append mode. min_by/
    * max_by are watermark-compatible (plain hash aggregates over streaming
    * state), so batch and stream share one expression set — the
    * batch/stream unification Structured Streaming exists for. */
  def candlesStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(candleAggs.head, candleAggs.tail: _*)
      .select(col("event_type"), tsStr(col("w.start")).as("hour"),
        col("open"), col("high"), col("low"), col("close"),
        col("cnt"), col("volume"))

  /** Batch analog of the daily-rotating CSV sink (liq-stream
    * `writer_csv.py:12-39`): write events partitioned by UTC day, read the
    * partitioned result back, count rows per partition. Exercises the
    * partitionBy write path + partition-pruned read (dynamic partition
    * discovery); the count-per-day must match a direct aggregation. */
  def sinkCsvDaily(spark: SparkSession, dir: String): DataFrame = {
    val out = tempDir("graft_csv_daily")
    table(spark, dir, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day")
      .option("header", "true").csv(out)
    spark.read.option("header", "true").csv(out)
      .groupBy(col("day").cast("string").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("day")
  }

  /** Time-series RESAMPLE + gap fill: snap each series (per event_type) to a
    * regular hourly grid and forward-fill missing hours with the last
    * observation (LOCF) — the step every downstream model/dashboard needs
    * before it can difference, lag, or join two feeds on time. The
    * liquidation stream is bursty by nature (cascades, then silence;
    * liq-stream `CHANGELOG.md:12-14`'s "last 6h" views hit exactly these
    * holes), so the raw feed has empty hours that a naive window join
    * would silently drop.
    *
    * Scale shape: the expensive input (raw events) is reduced FIRST by the
    * keyed hourly aggregate — everything after runs on |keys|·|hours| rows,
    * independent of raw volume. The grid is generated per key from its own
    * min/max hour (`sequence` + explode — map-side, no driver loop), the
    * grid⋈observed join shuffles on the same (key, hour) the aggregate
    * just produced, and the LOCF window sorts only each key's grid rows,
    * never raw events. Last-fill-wins within an hour uses the candles
    * packed ordering key so batch ties are deterministic. */
  def tsFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = (unix_micros(col("ts")) % 3600000000L) * 2147483648L +
      pmod(col("event_id"), lit(2147483648L))
    val obs = table(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(max_by(col("value"), ord).as("v"))
    val grid = obs.groupBy("event_type")
      .agg(min("h").as("lo"), max("h").as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("event_type", "h"), "left")
      .select(col("event_type"), tsStr(col("h")).as("hour"),
        last(col("v"), ignoreNulls = true).over(w).as("value"),
        col("v").isNull.cast(IntegerType).as("gap"))
      .orderBy("event_type", "hour")
  }

  /** Cascade parameters for [[cascades]] — a burst is ≥ [[cascadeMinN]]
    * fills with no internal silence ≥ the gap. Fixed shipped constants so
    * both engines segment identically; 10 min is scaled to the TEST
    * corpus's arrival density (one fill per ~2-20 min per type) exactly
    * as a real tick feed would run seconds — the segmentation is
    * density-relative, the plan identical. */
  private[graft] val cascadeGapUs = 600000000L
  private[graft] val cascadeMinN = 5L

  /** CASCADE DETECTION — THE liquidation-domain query over the
    * reference's feed: segment each type's stream into bursts separated
    * by ≥ 10 min of silence and keep only the real cascades (≥ 5 fills) with
    * their span, size, and exact notional — the event the product exists
    * to surface (liq-stream's README headline is cascade monitoring;
    * [[windowSession]] runs the same shape at user/8h behavior grain,
    * this at market/5s microstructure grain). Spark-native
    * `session_window` — Spark MERGES touching windows, so a burst splits
    * only when the silence strictly EXCEEDS the budget (a gap of exactly
    * 10 min still merges; pinned by spec); the DuckDB twin replays the
    * classic gaps-and-islands cumulative-sum segmentation with the same
    * strict boundary. One keyed session aggregate — map-side partial
    * session merge, shuffle ∝ sessions, never a per-event window. */
  def cascades(spark: SparkSession, dir: String): DataFrame =
    cascadesOf(table(spark, dir, "events"))

  /** Split out so the spec can drive closed-form bursts (a 4-fill flurry
    * must NOT surface; a 5-fill one must, with exact span/notional;
    * a boundary-exact gap must MERGE (Spark merges touching windows), one µs past it must split). */
  private[graft] def cascadesOf(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"),
        session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("notional"),
        min(unix_micros(col("ts"))).as("t0"),
        max(unix_micros(col("ts"))).as("t1"))
      .filter(col("n") >= cascadeMinN)
      .select(col("event_type"),
        tsStr(timestamp_micros(col("t0"))).as("cascade_start"),
        col("n"), col("notional"), (col("t1") - col("t0")).as("span_us"))
      .orderBy("event_type", "cascade_start")

  /** Bounded-window EWMA (k=8 taps, decay 0.75) per series — the standard
    * smoothing line under every candle chart, truncated to a FIXED number
    * of lags so it is expressible as a plain window aggregate. The exact
    * recursive EWMA needs unbounded running state (a scan, not a window);
    * with decay d the terms beyond lag k carry weight d^k/(1-d) ≤ 10% at
    * k=8 — the truncation is the classic bounded approximation and, unlike
    * the recursion, it parallelizes: one per-key sort, then every row's
    * smoothed value is a codegen'd fold over 8 `lag`s in ONE window frame
    * (no self-joins, no per-tap passes). Head-of-series rows normalize by
    * the weights actually present instead of padding with zeros.
    *
    * Output is folded to day grain (close + exact-decimal mean of the
    * rounded EWMA) so the check stays O(keys·days) while still covering
    * every per-row smoothed value through the hash. */
  def tsEwma(spark: SparkSession, dir: String): DataFrame =
    ewmaOf(table(spark, dir, "events"))

  /** The smoother over any (event_type, event_id, ts, value) frame —
    * split out so StreamIdleGapSpec can drive the cross-gap ring. */
  private[graft] def ewmaOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = 0.75
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val taps = 0 until 8
    val num = taps.map(j => coalesce(lag(col("value"), j).over(w), lit(0.0)) *
      lit(math.pow(d, j))).reduce(_ + _)
    val den = taps.map(j => when(lag(col("value"), j).over(w).isNotNull,
      lit(math.pow(d, j))).otherwise(lit(0.0))).reduce(_ + _)
    // day-grain packed key: µs-in-day needs 37 bits, so the id residue
    // shrinks to 20 (2^37 · 2^20 < 2^63 — the hour-grain key's 31-bit
    // residue would overflow at day scale)
    val ordDay = (unix_micros(col("ts")) % 86400000000L) * 1048576L +
      pmod(col("event_id"), lit(1048576L))
    events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("e", roundD(num / den, 6))
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(max_by(col("e"), ordDay).as("ewma_close"),
        (sum(col("e").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(org.apache.spark.sql.types.DoubleType) /
          count(lit(1))).as("ewma_mean"))
      .orderBy("event_type", "day")
  }

  /** AUTOCORRELATION at lags 1 and 2 per series — the memory/seasonality
    * diagnostic (is the next tick predicted by the last?) a time-series
    * catalog needs next to [[tsEwma]]'s smoother: Pearson r between the
    * series and its lag-shifted self over the (ts, event_id)-ordered
    * per-type stream.
    *
    * Cross-engine exactness: values quantize to DECIMAL(18,2) cents, the
    * six moment sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact
    * decimals (partition-order independent), and only the final r is
    * computed in double — the identical IEEE expression tree on
    * bit-identical inputs in both engines (the agg_skewkurt convention).
    * Both lags ride ONE window projection and ONE conditional aggregate
    * (no second scan); the tiny per-type frame then unpivots via stack.
    * The per-series ordered scan is the unavoidable shape for serial
    * correlation — state is the 2-row lag buffer, spill-backed, cost one
    * sort per type; a constant series has zero variance and yields NULL
    * (nullif both sides), never a NaN hash drift. */
  def tsAcf(spark: SparkSession, dir: String): DataFrame =
    acfOf(table(spark, dir, "events"))

  /** The lag-1/lag-2 Pearson machinery over any (event_type, ts, event_id,
    * value) frame — split out so the spec can drive hand-built series with
    * known correlations (alternating ⇒ r₁ = −1, r₂ = +1). */
  private[graft] def acfOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val lagged = events
      .select(col("event_type"), col("ts"), col("event_id"),
        col("value").cast(DecimalType(18, 2)).as("x"))
      .select(col("event_type"), col("x"),
        lag(col("x"), 1).over(w).as("y1"), lag(col("x"), 2).over(w).as("y2"))
    def side(y: Column) = Seq(
      count(y), sum(when(y.isNotNull, col("x"))), sum(y),
      sum(col("x") * y), sum(when(y.isNotNull, col("x") * col("x"))),
      sum(y * y))
    val aggs = (side(col("y1")) ++ side(col("y2"))).zipWithIndex
      .map { case (c, i) => c.as(s"a$i") }
    val per = lagged.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      .selectExpr("event_type",
        """stack(2,
             1, a0, a1, a2, a3, a4, a5,
             2, a6, a7, a8, a9, a10, a11
           ) AS (lag, n_pairs, sx, sy, sxy, sxx, syy)""")
    val (nd, sx, sy, sxy, sxx, syy) =
      (col("n_pairs").cast(DoubleType), col("sx").cast(DoubleType),
        col("sy").cast(DoubleType), col("sxy").cast(DoubleType),
        col("sxx").cast(DoubleType), col("syy").cast(DoubleType))
    val num = nd * sxy - sx * sy
    val den = sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)
    per.select(col("event_type"), col("lag"), col("n_pairs"),
        roundD(num / nullif(den, lit(0.0)), 6).as("acf"))
      .orderBy("event_type", "lag")
  }

  /** The 7 weekly DFT weights for [[tsPeriodicity]] — cos/sin(2πk/7),
    * k = day-index mod 7: computed ONCE here and interpolated into the
    * oracle SQL as literals, because DuckDB's libm cos() and the JVM's
    * are not guaranteed to agree to the last ulp (the [[saxBreak]]
    * shared-constant discipline, applied to trig). */
  private[graft] val week7Cos: Seq[Double] =
    (0 to 6).map(k => math.cos(2 * math.Pi * k / 7))
  private[graft] val week7Sin: Seq[Double] =
    (0 to 6).map(k => math.sin(2 * math.Pi * k / 7))

  /** WEEKLY PERIODICITY STRENGTH — the single-frequency periodogram at
    * period 7 per type's daily series: how much of the series' variance
    * sits in the weekly cycle ([[tsSeasonal]] reads the per-weekday
    * LEVELS; this reads the cycle's SHARE — one number an alerting rule
    * can threshold). weekly_share = 2·(A² + B²)/(n·Σdev²) with
    * A = Σ dev_d·cos(2πd/7), B the sine twin — 1.0 for a pure in-phase
    * weekly sinusoid over whole weeks, ~0 for white noise.
    *
    * Exactness: dev_d = n·y_d − S (exact integers, the [[saxOf]]
    * no-division trick), each dev·cos/sin term QUANTIZED to 1e−6 then
    * summed as DECIMAL(38,0) — a raw double Σ would be partition-order
    * dependent; trig weights are the 7 shared literals above; the final
    * share is one double tree on exact sums, 6 dp. Σdev² rides int64
    * (safe to |dev| < 3e9, i.e. daily cents × days < 3e9 — document-
    * scale series lift it to DECIMAL like text_jsd if ever needed).
    * Plan: one daily aggregate, broadcast moment join, one quantized
    * re-aggregate — |types|×days rows end to end. */
  def tsPeriodicity(spark: SparkSession, dir: String): DataFrame =
    periodicityOf(table(spark, dir, "events"))

  /** The periodogram over any (event_type, ts, value) frame — split out
    * so the spec can drive a pure 7-day square wave (share → 1-ish) and
    * flat/white series (share → 0 / NULL). */
  private[graft] def periodicityOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val dec = DecimalType(38, 0)
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("d"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("yc"))
    // per-type moments ride a FULL-PARTITION window over the daily frame
    // (guide §2.4) instead of a groupBy + broadcast self-join, which
    // re-planned the daily aggregate (and its events scan) a second time
    import org.apache.spark.sql.expressions.Window
    val wf = Window.partitionBy("event_type")
    def wsel(lits: Seq[Double]): Column =
      lits.zipWithIndex.tail.foldLeft(
        when(pmod(col("d"), lit(7)) === 0, lit(lits.head))) {
        case (acc, (v, k)) => acc.when(pmod(col("d"), lit(7)) === k, lit(v))
      }
    val devL = col("n") * col("yc") - col("s") // exact int64
    def q(x: Column): Column = floor(x * 1e6 + 0.5).cast(dec)
    val agg2 = daily
      .withColumn("n", count(lit(1)).over(wf))
      .withColumn("s", sum("yc").over(wf))
      .groupBy(col("event_type"), col("n"))
      .agg(sum(q(devL.cast(DoubleType) * wsel(week7Cos))).as("a"),
        sum(q(devL.cast(DoubleType) * wsel(week7Sin))).as("b"),
        sum((devL * devL).cast(dec)).as("tot"))
    val (aD, bD, nD, totD) = (col("a").cast(DoubleType),
      col("b").cast(DoubleType), col("n").cast(DoubleType),
      col("tot").cast(DoubleType))
    agg2.select(col("event_type"), col("n").as("n_days"),
        roundD(lit(2.0) * (aD * aD + bD * bD) / lit(1e12) /
          nullif(nD * totD, lit(0.0)), 6).as("weekly_share"))
      .orderBy("event_type")
  }

  /** EXACT HOURLY REACH — distinct users per event-time hour, the batch
    * runtime of [[graft.streaming.StreamAssembly.reachStream]] (one
    * definition, two runtimes — the `dq_entropy`/`ts_cusum` convention):
    * the dedup→count shape the stream executes is run exactly here, and
    * the DuckDB oracle verifies it against a plain COUNT(DISTINCT) — so
    * the oracle proves the streaming monitor's dedup grain counts the
    * same thing the SQL everyone trusts does. */
  def winReachHourly(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamAssembly.reachAgg(table(spark, dir, "events"))
      .orderBy("hour_ms")

  /** PARTIAL AUTOCORRELATION at lags 1-3 — [[tsAcf]]'s companion and the
    * AR-order diagnostic the Box-Jenkins recipe reads first: φ_kk is the
    * correlation between x_t and x_{t−k} AFTER the intermediate lags are
    * regressed out, so an AR(p) series' PACF cuts off sharply at p where
    * the raw ACF only decays. Computed by the Durbin–Levinson recursion
    * over the lag-1..3 Pearson correlations.
    *
    * Cross-engine exactness: the three ρ_k come from the SAME exact
    * decimal moment machinery as [[tsAcf]] and are QUANTIZED to the 1e−6
    * grid first — the DL recursion then runs in doubles on bit-identical
    * quantized inputs (identical IEEE trees both engines), and each φ_kk
    * rounds to 6 dp on emission. Degenerate denominators (|ρ₁| = 1, or a
    * zero-variance series) yield NULL via nullif, never NaN. Plan: ONE
    * window projection carrying three lags, ONE conditional aggregate
    * (18 moment sums), then scalar math on a |types|-row frame. */
  def tsPacf(spark: SparkSession, dir: String): DataFrame =
    pacfOf(table(spark, dir, "events"))

  /** The DL machinery over any (event_type, ts, event_id, value) frame —
    * split out so the spec can pin it against an independent in-test
    * Pearson+Durbin–Levinson evaluation of a fixed series. */
  private[graft] def pacfOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val lagged = events
      .select(col("event_type"), col("ts"), col("event_id"),
        col("value").cast(DecimalType(18, 2)).as("x"))
      .select(col("event_type"), col("x"),
        lag(col("x"), 1).over(w).as("y1"), lag(col("x"), 2).over(w).as("y2"),
        lag(col("x"), 3).over(w).as("y3"))
    def side(y: Column) = Seq(
      count(y), sum(when(y.isNotNull, col("x"))), sum(y),
      sum(col("x") * y), sum(when(y.isNotNull, col("x") * col("x"))),
      sum(y * y))
    val aggs = (side(col("y1")) ++ side(col("y2")) ++ side(col("y3")))
      .zipWithIndex.map { case (c, i) => c.as(s"a$i") }
    val per = lagged.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
    def rho(i: Int): Column = {
      val (nd, sx, sy, sxy, sxx, syy) =
        (col(s"a${6 * i}").cast(DoubleType), col(s"a${6 * i + 1}").cast(DoubleType),
          col(s"a${6 * i + 2}").cast(DoubleType), col(s"a${6 * i + 3}").cast(DoubleType),
          col(s"a${6 * i + 4}").cast(DoubleType), col(s"a${6 * i + 5}").cast(DoubleType))
      roundD((nd * sxy - sx * sy) /
        nullif(sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy),
          lit(0.0)), 6)
    }
    val base = per.select(col("event_type"), col("a12").as("n_pairs3"),
      rho(0).as("r1"), rho(1).as("r2"), rho(2).as("r3"))
    // Durbin–Levinson on the quantized correlations
    val p2 = (col("r2") - col("r1") * col("r1")) /
      nullif(lit(1.0) - col("r1") * col("r1"), lit(0.0))
    val dl = base.withColumn("p2", p2)
      .withColumn("p21", col("r1") - col("p2") * col("r1"))
    val p3 = (col("r3") - col("p21") * col("r2") - col("p2") * col("r1")) /
      nullif(lit(1.0) - col("p21") * col("r1") - col("p2") * col("r2"),
        lit(0.0))
    dl.select(col("event_type"), col("n_pairs3"),
        col("r1").as("pacf1"), roundD(col("p2"), 6).as("pacf2"),
        roundD(p3, 6).as("pacf3"))
      .orderBy("event_type")
  }

  /** ROLLING DISTINCT REACH — exact 7-day rolling distinct users per
    * day (the DAU/WAU denominator), the window aggregate Spark's
    * windows refuse outright (no COUNT(DISTINCT) over a frame) and a
    * naive per-day re-scan pays 7× for. Reference seed: the windowed
    * activity dashboards (`CHANGELOG.md:12-14`, `liq_simple.awk`
    * "counts by exchange, windowed or all-time") — this is their
    * distinct-entity counterpart. Shape: dedup to (user, day)
    * FIRST (event volume never enters), then each activity day
    * contributes itself to the 7 report days it can serve via one
    * `sequence` explode — an equi-shuffle of |user-days|·7 rows, exact
    * countDistinct per report day, and a complete day spine so silent
    * days report 0 instead of vanishing. At 100 TB the explode factor
    * is the window length (fixed), the shuffle key is the report day,
    * and no state beyond the hash aggregate exists. */
  def winRollingDistinct(spark: SparkSession, dir: String): DataFrame =
    rollingDistinctOf(table(spark, dir, "events"))

  /** The spine/fan-out machinery over any (user_id, ts) frame — split out
    * so the spec can drive hand-built activity with known reach (a user
    * active once serves exactly 7 report days; a silent day reports 0). */
  private[graft] def rollingDistinctOf(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("d"))
      .distinct()
    val spine = ud.agg(min("d").as("d0"), max("d").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("rd"))
    val hits = ud.select(col("user_id"), col("d"),
      explode(sequence(col("d"), col("d") + 6)).as("rd"))
    spine.join(hits, Seq("rd"), "left")
      .groupBy("rd")
      .agg(countDistinct(when(col("d") === col("rd"), col("user_id")))
          .as("users_1d"),
        countDistinct(col("user_id")).as("users_7d"))
      .select(expr("date_add(DATE '1970-01-01', cast(rd as int))")
          .cast("string").as("day"),
        col("users_1d"), col("users_7d"))
      .orderBy("day")
  }

  /** HAMPEL OUTLIER FILTER — the robust spike detector [[tsEwma]]'s mean
    * smoothing smears and [[graft.ops.Relational.zscore]]'s global
    * moments miss (one spike inflates its own yardstick): a point is an
    * outlier when it sits more than 3 local MADs from the LOCAL rolling
    * median of its centered 5-row window. Both the median and the MAD
    * are order statistics of the same 5-element frame — exact integer
    * cents end to end, no float enters any comparison. Edge rows without
    * a full frame are never judged (a 3-row "window" would make its own
    * endpoints outliers).
    *
    * Scale shape: the frame is four lag/lead offset columns over ONE
    * per-series ordered window pass (fixed width 5 — the winfn_median
    * bounded-frame class); both order statistics are a codegen'd
    * least/greatest median-of-5 network, so everything after the window
    * is expression-level long math and a keyed rollup. */
  def tsHampel(spark: SparkSession, dir: String): DataFrame =
    hampelOf(table(spark, dir, "events"))

  /** Split out so the spec can drive a planted spike (flagged) against a
    * level shift (NOT flagged — the median tracks a genuine regime
    * change, which is exactly Hampel's advantage over a global fence). */
  private[graft] def hampelOf(events: DataFrame): DataFrame =
    hampelFlags(events)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_outliers"), max("dev").as("max_dev_cents"))
      .orderBy("event_type")

  /** Median-of-3 by min/max: max(min(x,y), min(max(x,y), z)). */
  private[graft] def med3(x: Column, y: Column, z: Column): Column =
    greatest(least(x, y), least(greatest(x, y), z))

  /** MEDIAN-OF-5 NETWORK — the 3rd order statistic via least/greatest
    * only (classic selection network), so it whole-stage-codegens where
    * element_at(array_sort(array(...)), 3) would build and sort an array
    * per row with interpreted collection expressions. Exact for ALL
    * inputs including ties: AnalyticsOpsSpec enumerates every 5-tuple
    * over a 5-symbol alphabet against the sort-based median (min/max
    * networks are monotone, so those order types cover the general
    * case). */
  private[graft] def med5(a: Column, b: Column, c: Column,
      d: Column, e: Column): Column =
    med3(greatest(least(a, b), least(c, d)),
      least(greatest(a, b), greatest(c, d)), e)

  /** The row-level flags behind [[hampelOf]] — split out so the
    * streaming twin ([[graft.streaming.StreamAssembly.hampelStream]])
    * can assert row-exact parity. Returns one row per flagged event:
    * (event_type, event_id, cents, med, dev). */
  private[graft] def hampelFlags(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    // The centered 5-row frame rides four OFFSET window columns (lag/lead
    // over the one per-series sort) instead of a collect_list aggregate
    // frame, and both order statistics come from a least/greatest
    // MEDIAN-OF-5 NETWORK instead of element_at(array_sort(...)) — the
    // array path built three arrays per row and ran transform's lambda
    // INTERPRETED (HigherOrderFunction is CodegenFallback), which was the
    // measured hot task of the whole query (~0.9 s of the bench exec);
    // the network is pure codegen'd long min/max. Exactness: med5 below
    // is the 3rd order statistic for ALL inputs including ties —
    // HampelSpec proves it exhaustively over every 5-tuple of a 5-symbol
    // alphabet (min/max networks are monotone, so order types with ties
    // cover the general case) and pins batch output equality. The
    // edge-row rule is the old size(frame) === 5 (collect_list skips
    // NULLs): all five frame values must be present. cents is NULL when
    // a value overflows DECIMAL(18,2) with ANSI mode off, and least/
    // greatest skip NULL arguments, so a NULL anywhere in the frame
    // drops the frame rather than taking a median of fewer than 5.
    events
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100)
          .cast(LongType).as("cents"))
      .withColumn("m2", lag(col("cents"), 2).over(w))
      .withColumn("m1", lag(col("cents"), 1).over(w))
      .withColumn("p1", lead(col("cents"), 1).over(w))
      .withColumn("p2", lead(col("cents"), 2).over(w))
      .filter(col("m2").isNotNull && col("m1").isNotNull &&
        col("cents").isNotNull && col("p1").isNotNull && col("p2").isNotNull)
      // med and mad are PINNED ([[graft.ops.pinned]]): the dev > 3·mad
      // filter would otherwise be pushdown-substituted through both
      // aliases — med's network expanded 6x inside mad's, the whole tree
      // re-evaluated per row in the pushed predicate ON TOP of the
      // projection's own copy (A/B'd: 2.0 s vs 0.4 s warm exec at sf0.1)
      .withColumn("med", pinned(
        med5(col("m2"), col("m1"), col("cents"), col("p1"), col("p2"))))
      .withColumn("mad", pinned(med5(
        abs(col("m2") - col("med")), abs(col("m1") - col("med")),
        abs(col("cents") - col("med")), abs(col("p1") - col("med")),
        abs(col("p2") - col("med")))))
      .withColumn("dev", abs(col("cents") - col("med")))
      .filter(col("dev") > lit(3L) * col("mad"))
      .select("event_type", "event_id", "cents", "med", "dev")
  }

  /** MANN–KENDALL TREND TEST — the nonparametric "is this series
    * drifting" verdict next to [[tsAcf]] (which sees memory, not
    * direction) and [[tsHolt]] (which assumes the trend it measures):
    * S = Σ_{i<j} sign(y_j − y_i) over each hour-ordered count series,
    * with Kendall-style τ = S / (n(n−1)/2). Sign counting is immune to
    * outlier magnitude — the reason MK is the standard monotonic-drift
    * test on noisy ops series.
    *
    * Shape: the pair set is a per-series self-join of the HOURLY count
    * frame — calendar-bounded (n ≤ hours, pairs ≤ hours²/2 per series,
    * never event-volume-bounded), integer sign sums, τ as one double
    * division 6 dp. */
  def tsMkTrend(spark: SparkSession, dir: String): DataFrame =
    mkTrendOf(table(spark, dir, "events"))

  /** The sign-pair machinery over any (event_type, ts) frame — split out
    * so the spec can drive closed-form series (strictly increasing ⇒
    * τ = 1; alternating ⇒ τ near 0). */
  private[graft] def mkTrendOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val hourly = events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("y"))
    val pairs = hourly.select(col("event_type"), col("h").as("h1"),
        col("y").as("y1"))
      .join(hourly.select(col("event_type"), col("h").as("h2"),
        col("y").as("y2")), "event_type")
      .filter(col("h1") < col("h2"))
    pairs.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("y2") > col("y1"), 1L)
          .when(col("y2") < col("y1"), -1L).otherwise(0L)).as("s_stat"))
      .select(col("event_type"), col("n_pairs"), col("s_stat"),
        roundD(col("s_stat").cast(DoubleType) /
          col("n_pairs").cast(DoubleType), 6).as("tau"))
      .orderBy("event_type")
  }

  /** THEIL–SEN ROBUST SLOPE — the "how steep" beside [[tsMkTrend]]'s
    * "is it drifting": per series, the MEDIAN of all pairwise slopes
    * (y_j − y_i)/(d_j − d_i) over the DAILY count sequence. The median
    * of slopes has a 29.3% breakdown point — a traffic spike that drags
    * an OLS fit (and Holt's level) moves Sen's estimator not at all,
    * which is why it is the standard robust trend readout on ops
    * series. Daily grain deliberately (MK uses hourly): the slope
    * median needs a per-series SORT of the pair set, so the pair count
    * must stay calendar²-bounded at days, not hours — days²/2 pairs per
    * series (≤ ~11k here; a decade-scale series still fits one
    * partition, and past that you thin anchor points, not this plan).
    *
    * Exactness: counts and day indexes are exact longs, each slope is
    * one double division (identical both engines), the median picks
    * explicit row_number ranks ((m+1) div 2 and m div 2 + 1 — the same
    * row twice when m is odd) so no engine-native median/percentile
    * semantics are involved, and the even-m midpoint is one IEEE
    * add-divide. 6 dp. */
  def tsTheilSen(spark: SparkSession, dir: String): DataFrame =
    theilSenOf(table(spark, dir, "events"))

  /** The pairwise-slope machinery over any (event_type, ts) frame —
    * split out so the spec can drive closed-form series (a strictly
    * linear series yields its exact slope; one outlier day must not
    * move the median at all — the estimator's defining property). */
  private[graft] def theilSenOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DoubleType
    val daily = events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(count(lit(1)).as("y"))
    val pairs = daily.select(col("event_type"), col("d").as("d1"),
        col("y").as("y1"))
      .join(daily.select(col("event_type"), col("d").as("d2"),
        col("y").as("y2")), "event_type")
      .filter(col("d1") < col("d2"))
      .select(col("event_type"), col("d1"), col("d2"),
        ((col("y2") - col("y1")).cast(DoubleType) /
          (col("d2") - col("d1")).cast(DoubleType)).as("slope"))
    val ranked = pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("slope", "d1", "d2")))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy("event_type")))
    ranked
      .filter(col("rn") === expr("(m + 1) div 2") ||
        col("rn") === expr("m div 2 + 1"))
      .groupBy("event_type", "m")
      .agg((sum("slope") / count(lit(1))).as("mid"))
      .select(col("event_type"), col("m").as("n_pairs"),
        roundD(col("mid"), 6).as("sen_slope"))
      .orderBy("event_type")
  }

  /** HOLT LINEAR-TREND SMOOTHING — the forecasting primitive on top of
    * [[tsEwma]]'s level-only smoother: per series, the classic
    * two-equation recursion l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} over the hourly count sequence,
    * reporting the final level/trend and the 24-hour-ahead projection
    * l + 24b — the "where is this feed heading tomorrow" readout.
    * α = 1/2 and β = 1/4 are exact binary fractions; counts enter as
    * exact doubles, so both engines run the IDENTICAL IEEE recursion
    * (same expression tree per step — the ts_acf double-tree argument,
    * extended through a fold).
    *
    * The recursion is inherently serial per series, so it runs as ONE
    * `aggregate` (fold) over the hour-ordered count array — the array is
    * calendar-bounded (hours, never events; the [[graft.ops.Relational]]
    * winfn_median bounded-frame class), collected per series after the
    * corpus-sized work (the keyed hourly count) has already reduced the
    * data. Series shorter than 2 points have no defined trend and drop
    * in both engines. */
  def tsHolt(spark: SparkSession, dir: String): DataFrame =
    holtOf(table(spark, dir, "events"))

  /** The fold over any (event_type, ts) frame — split out so the spec
    * can drive closed-form series (a pure linear ramp is a fixed point:
    * level = last value, trend = slope, exactly). */
  private[graft] def holtOf(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("y"))
    hourly
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("h"), col("y")))).as("s"))
      .filter(size(col("s")) >= 2)
      .withColumn("st", expr("""
        aggregate(
          slice(s, 2, size(s) - 1),
          struct(CAST(element_at(s, 1).y AS DOUBLE) AS l,
                 CAST(element_at(s, 2).y AS DOUBLE)
                   - CAST(element_at(s, 1).y AS DOUBLE) AS b),
          (acc, x) -> struct(
            0.5D * CAST(x.y AS DOUBLE) + 0.5D * (acc.l + acc.b) AS l,
            0.25D * ((0.5D * CAST(x.y AS DOUBLE) + 0.5D * (acc.l + acc.b))
                     - acc.l) + 0.75D * acc.b AS b))"""))
      .select(col("event_type"), size(col("s")).cast("long").as("n_hours"),
        roundD(col("st.l"), 6).as("level"),
        roundD(col("st.b"), 6).as("trend"),
        roundD(col("st.l") + lit(24.0) * col("st.b"), 6).as("forecast_24h"))
      .orderBy("event_type")
  }

  /** HOLT-WINTERS (additive, weekly season) — the seasonal completer of
    * [[holtOf]]'s level+trend smoother: per type's DAILY series,
    * l_t = α(y_t − s_{t−7}) + (1−α)(l+b), b_t = β(l_t−l) + (1−β)b,
    * s_t = γ(y_t − l_t) + (1−γ)s_{t−7}, with α=0.5, β=γ=0.25 — all
    * exact binary fractions, so no literal-parse ulp risk in either
    * engine. Init is the textbook first-two-weeks scheme (l₀ = week-1
    * mean, b₀ = (week-2 − week-1 mean)/7, s₀ = week-1 deviations);
    * series shorter than 15 days are skipped. The fold carries
    * (l, b, s[7]) as ONE `aggregate` accumulator struct — the
    * [[holtOf]] in-plan-fold convention with a rolling seasonal ring —
    * and DuckDB replays the identical fold via `list_reduce` with a
    * struct accumulator, so the oracle pins every intermediate double.
    * Forecast_1d = l + b + s_next (the ring head IS next day's
    * seasonal). Per-type cost: one daily aggregate + one sorted fold —
    * the series grain, not the event grain. */
  def tsHoltWinters(spark: SparkSession, dir: String): DataFrame =
    holtWintersOf(table(spark, dir, "events"))

  /** Split out so the spec can drive a closed-form series (a pure
    * additive weekly pattern over a linear trend is a fixed point: the
    * remainder vanishes and forecast_1d is exact). */
  private[graft] def holtWintersOf(events: DataFrame): DataFrame = {
    val daily0 = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("d"))
      .agg(count(lit(1)).as("y"))
    // Densify onto the complete per-type day grid (missing days are real
    // zero counts): the fold indexes the weekly seasonal ring by series
    // POSITION, so an absent day would silently shift the weekly phase of
    // every subsequent day. Zero-fill anchors position ≡ calendar — the
    // same convention ts_seasonal/ts_periodicity get from d mod 7. The
    // grid is calendar-bounded (|types| × days), so the join input stays
    // tiny at any corpus size.
    val daily = daily0.groupBy("event_type")
      .agg(min("d").as("d0"), max("d").as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("d"))
      .join(daily0, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
        coalesce(col("y"), lit(0L)).as("y"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("d"), col("y")))).as("sd"))
      .filter(size(col("sd")) >= 15)
      .withColumn("ys", expr("transform(sd, p -> CAST(p.y AS DOUBLE))"))
      .withColumn("n", size(col("ys")))
      .withColumn("l0",
        expr("aggregate(slice(ys, 1, 7), 0D, (acc, x) -> acc + x) / 7.0D"))
      .withColumn("b0", expr(
        """(aggregate(slice(ys, 8, 7), 0D, (acc, x) -> acc + x) / 7.0D
           - aggregate(slice(ys, 1, 7), 0D, (acc, x) -> acc + x) / 7.0D)
           / 7.0D"""))
      .withColumn("s0", expr("transform(slice(ys, 1, 7), x -> x - l0)"))
      .withColumn("st", expr("""
        aggregate(slice(ys, 8, size(ys) - 7),
          named_struct('l', l0, 'b', b0, 's', s0),
          (acc, yv) -> named_struct(
            'l', 0.5D * (yv - element_at(acc.s, 1)) + 0.5D * (acc.l + acc.b),
            'b', 0.25D * ((0.5D * (yv - element_at(acc.s, 1))
                 + 0.5D * (acc.l + acc.b)) - acc.l) + 0.75D * acc.b,
            's', concat(slice(acc.s, 2, 6), array(
              0.25D * (yv - (0.5D * (yv - element_at(acc.s, 1))
                + 0.5D * (acc.l + acc.b))) + 0.75D * element_at(acc.s, 1)))))"""))
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        roundD(col("st.l"), 6).as("level"),
        roundD(col("st.b"), 6).as("trend"),
        roundD(expr("element_at(st.s, 1)"), 6).as("s_next"),
        roundD(col("st.l") + col("st.b") + expr("element_at(st.s, 1)"), 6)
          .as("forecast_1d"))
      .orderBy("event_type")
  }

  /** TRAILING ROLLING MEDIAN — the robust companion of [[tsEwma]]'s mean
    * smoother: per type, the exact median of the last 7 OBSERVED daily
    * totals (a level readout a single spike day cannot drag, where EWMA
    * and moving averages both move). Median convention is pinned
    * explicitly in both engines — sorted trailing list, element
    * (n+1) div 2 (the lower middle for even n) — rather than trusting
    * two engines' quantile defaults to agree. All integer cents; the
    * trailing frame is 7 values per row at the DAY grain, so the window
    * state is bounded and the expensive work stays the one keyed daily
    * aggregate over raw events. */
  def tsRollingMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("d"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("yc"))
    val w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-6, 0)
    daily
      .withColumn("n_trail", count(lit(1)).over(w))
      .withColumn("med_cents",
        element_at(sort_array(collect_list(col("yc")).over(w)),
          ((col("n_trail") + 1) / 2).cast(IntegerType)))
      .select(col("event_type"), col("d").cast(LongType).as("d"),
        col("yc"), col("n_trail"), col("med_cents"))
      .orderBy("event_type", "d")
  }

  /** WEEKDAY-CONDITIONED VOLUME ANOMALY — the seasonal-aware rung above a
    * global z-score: a quiet Sunday is NORMAL for a weekday-heavy feed
    * and a global test either misses weekday spikes or pages on every
    * weekend; here each day's total is judged against ITS OWN weekday's
    * distribution (per (type, dow) moments), the readout a volume monitor
    * with weekly shape actually needs. The 3σ test is the exact
    * cross-multiplied integer form (the `dq_drift` convention):
    * (n·y − S)² > 9·(n·Q − S²) over cents — no division, no float sums;
    * both engines compare identical integers (HUGEINT / DECIMAL(38,0)).
    * Weekday selector is pmod / ((d%7)+7)%7 on the respective sides (the
    * ts_periodicity convention). Days only flag once their weekday has
    * ≥ 4 observations. One daily aggregate + one broadcast join of the
    * |types|×7 moment frame — day grain end to end. */
  def tsDowAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}
    val dec = DecimalType(38, 0)
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("d"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("yc"))
    // per-(type, weekday) moments ride a FULL-PARTITION window over the
    // daily frame (guide §2.4) instead of a groupBy + broadcast
    // self-join, which re-planned the daily aggregate (and its events
    // scan) a second time
    import org.apache.spark.sql.expressions.Window
    val wf = Window.partitionBy("event_type", "dow")
    val dev = (col("n") * col("yc") - col("s")).cast(dec)
    daily
      .withColumn("dow", pmod(col("d"), lit(7)))
      .withColumn("n", count(lit(1)).over(wf))
      .withColumn("s", sum("yc").over(wf))
      .withColumn("q", sum(col("yc").cast(dec) * col("yc")).over(wf))
      .select(col("event_type"), col("d").cast(LongType).as("d"),
        col("dow").cast(LongType).as("dow"), col("yc"),
        col("n").as("n_dow"),
        (col("n") >= 4L &&
          dev * dev > lit(9) * (col("n") * col("q") -
            col("s").cast(dec) * col("s")))
          .cast(IntegerType).as("flagged"))
      .orderBy("event_type", "d")
  }

  /** LEAD/LAG CROSS-CORRELATION between two hourly count series — "does
    * view traffic predict purchase traffic, and by how many hours?": the
    * Pearson r between x_t (views/hour) and y_{t+k} (purchases k hours
    * later) for k ∈ −2..+2. The peak lag is the causal-direction readout
    * next to [[tsAcf]]'s self-memory diagnostic.
    *
    * Shape: both series densify onto ONE complete hour grid (missing
    * hours are real zeros — correlating only co-observed hours biases r
    * toward activity), then every (x_t, y_{t+k}) pair comes from a single
    * self-equi-join of the grid against its k-shifted key — no global
    * window, no per-lag pass; the grid is calendar-bounded (hours, not
    * events), so the join input is tiny at any corpus size and the
    * expensive part stays the one keyed count over raw events. Moment
    * sums are exact decimals; only the final r is a double (identical
    * IEEE tree both engines), 6 dp. */
  /** Unreachable-cell sentinel for [[tsDtw]] — far above any reachable
    * path cost (30 days × int-count L1 steps), far below BIGINT overflow
    * even after one addition. */
  private[graft] val dtwInf = 1000000000000000L

  /** DYNAMIC TIME WARPING distance between every pair of types' daily
    * activity series — the shape-similarity readout [[tsXcorr]]'s fixed
    * lag sweep cannot give: DTW aligns two series under monotone time
    * warping, so two feeds with the same burst PATTERN at drifting phase
    * read near-0 where a lagged Pearson at the wrong lag reads noise.
    * The classic O(n·m) DP — D(i,j) = |aᵢ−bⱼ| + min(D(i−1,j), D(i,j−1),
    * D(i−1,j−1)) — over zero-filled, GLOBALLY-aligned daily count grids.
    *
    * Exactness: counts are exact longs, the L1 cost keeps the whole DP
    * in BIGINT — the distance is exact in any partition order, no
    * doubles until the final path-length normalization. The DuckDB twin
    * replays the identical DP cell-by-cell in ONE recursive CTE.
    *
    * Scale shape: the corpus reduces to |types| day-indexed arrays
    * (calendar-bounded — the [[holtOf]] fold class) before any pairing;
    * the |types|²-bounded pair frame is the only non-equi join and both
    * its sides are metadata scale by construction (allowlisted in
    * PlanAudit with the sim_topk/dq_assoc class — the corpus itself
    * never enters it), and each pair's DP is one in-plan `aggregate`
    * fold, O(n·m) integer ops on one row. Decade series or thousands of
    * keys ⇒ band the DP (Sakoe-Chiba) and thin anchors — the
    * [[theilSenOf]] days²-bound argument. */
  def tsDtw(spark: SparkSession, dir: String): DataFrame =
    dtwOf(table(spark, dir, "events"))

  /** The DP machinery over any (event_type, ts) frame — split out so the
    * spec can drive closed-form series (identical series ⇒ 0; a constant
    * offset c over n aligned days ⇒ exactly n·c — the diagonal path). */
  private[graft] def dtwOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val d = expr("unix_micros(ts) div 86400000000")
    // global [lo, hi] day bounds as literals (the aggDecay one-row fold):
    // both series of a pair must sit on the SAME calendar grid or the
    // warping distance conflates shape with span
    val b = events.agg(min(d).as("lo"), max(d).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val daily = events.groupBy(col("event_type"), d.as("dd"))
      .agg(count(lit(1)).as("y"))
    val grid = daily.select("event_type").distinct()
      .select(col("event_type"), explode(sequence(lit(lo), lit(hi))).as("dd"))
    val filled = grid.join(daily, Seq("event_type", "dd"), "left")
      .select(col("event_type"), col("dd"),
        coalesce(col("y"), lit(0L)).as("y"))
    val series = filled.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("dd"), col("y")))).as("s"))
      .select(col("event_type"), expr("transform(s, x -> x.y)").as("ys"))
    // |types|-row frame against itself under ta < tb: a broadcast NLJ
    // over two METADATA-scale sides by construction (PlanAudit-allowlisted
    // with the sim_topk/dq_assoc class) — the corpus never enters a
    // non-equi join
    val pairs = series
      .select(col("event_type").as("ta"), col("ys").as("av"))
      .join(series.select(col("event_type").as("tb"), col("ys").as("bv")),
        col("ta") < col("tb"))
    // P = row i−1 (1-indexed, P[1] = D(i−1,0)); N grows left-to-right so
    // size(N) IS the j being produced: N[j] = D(i,j−1), P[j+1] = D(i−1,j),
    // P[j] = D(i−1,j−1)
    pairs.select(col("ta"), col("tb"),
        size(col("av")).cast(LongType).as("n"),
        expr(s"""
          element_at(
            aggregate(av,
              concat(array(0L), transform(bv, x -> ${dtwInf}L)),
              (P, a) -> aggregate(bv, array(${dtwInf}L),
                (N, x) -> concat(N, array(
                  abs(a - x) + least(
                    element_at(P, size(N) + 1),
                    element_at(N, size(N)),
                    element_at(P, size(N))))))),
            size(bv) + 1)""").as("dtw"))
      .select(col("ta"), col("tb"), col("n"), col("dtw"),
        roundD(col("dtw").cast(DoubleType) /
          (lit(2.0) * col("n").cast(DoubleType)), 6).as("dtw_norm"))
      .orderBy("ta", "tb")
  }

  /** BURSTINESS INDEX — Goh–Barabási B = (σ−μ)/(σ+μ) over each type's
    * inter-arrival gaps: −1 = metronome, 0 = Poisson, →1 = heavy bursts.
    * THE one-number characterization of a feed's arrival process (the
    * liquidation stream is bursty by construction — cascades, then
    * silence; liq-stream `CHANGELOG.md:12-14`'s "last 6h" views exist
    * because of it), read next to [[tsFill]]'s hole-patching and
    * `dq_heartbeat`'s worst-gap.
    *
    * Exactness: gaps are exact µs longs from one per-type lag window
    * (single-row state); n/Σg ride BIGINT and Σg² DECIMAL(38,0) (a
    * month-long gap is ~2.6e12 µs — squared leaves int64), all map-side
    * combined; μ, sample σ, and B are one double tree on the exact sums,
    * 6 dp. */
  def tsBurstiness(spark: SparkSession, dir: String): DataFrame =
    burstinessOf(table(spark, dir, "events"))

  /** Split out so the spec can drive closed-form processes (equal gaps
    * ⇒ σ = 0 ⇒ B reads exactly −1.0; one huge gap among tiny ones pushes
    * B toward +1). */
  private[graft] def burstinessOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val gaps = events
      .select(col("event_type"),
        (unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(w))).as("g"))
      .filter(col("g").isNotNull)
    val m = gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum(col("g").cast(DecimalType(18, 0)) *
          col("g").cast(DecimalType(18, 0))).as("sgg"))
      .filter(col("n") >= 2)
    val nd = col("n").cast(DoubleType)
    val mu = col("sg").cast(DoubleType) / nd
    val sd = sqrt(greatest((col("sgg").cast(DoubleType) * nd -
      col("sg").cast(DoubleType) * col("sg").cast(DoubleType)) /
      (nd * (nd - 1.0)), lit(0.0)))
    m.select(col("event_type"), col("n").as("n_gaps"),
        roundD(mu / 1e6, 6).as("mean_gap_s"),
        roundD((sd - mu) / nullif(sd + mu, lit(0.0)), 6).as("burstiness"))
      .orderBy("event_type")
  }

  def tsXcorr(spark: SparkSession, dir: String): DataFrame =
    xcorrOf(table(spark, dir, "events"), "view", "purchase")

  /** The lag-sweep machinery over any (event_type, ts) frame — split out
    * so the spec can drive hand-built series with a known planted shift
    * (y = x delayed by 1 hour ⇒ the k=+1 correlation is exactly 1). */
  private[graft] def xcorrOf(events: DataFrame,
      xType: String, yType: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val ev = events.select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("h"))
    val counts = ev.filter(col("event_type").isin(xType, yType))
      .groupBy("h")
      .agg(sum(when(col("event_type") === xType, 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === yType, 1L).otherwise(0L)).as("y"))
    val grid = ev.agg(min("h").as("h0"), max("h").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("h"))
      .join(counts, Seq("h"), "left")
      .select(col("h"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    val pairs = grid
      .select(col("h"), col("x"),
        explode(typedLit(Seq(-2, -1, 0, 1, 2))).as("lag"))
      .withColumn("hy", col("h") + col("lag"))
      .join(grid.select(col("h").as("hy"), col("y")), "hy")
    val dec = DecimalType(38, 0)
    val m = pairs.groupBy("lag").agg(count(lit(1)).as("n_pairs"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("y") * col("y")).cast(dec)).as("syy"))
    val (nd, sx, sy, sxy, sxx, syy) =
      (col("n_pairs").cast(DoubleType), col("sx").cast(DoubleType),
        col("sy").cast(DoubleType), col("sxy").cast(DoubleType),
        col("sxx").cast(DoubleType), col("syy").cast(DoubleType))
    m.select(col("lag"), col("n_pairs"),
        roundD((nd * sxy - sx * sy) /
          nullif(sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy),
            lit(0.0)), 6).as("xcorr"))
      .orderBy("lag")
  }

  /** PEAK CONCURRENCY — the interval-stacking sweep ("how many 5-minute
    * activity windows overlap at the worst moment, per type and day"):
    * every event opens an interval [ts, ts+5min); the sweep explodes
    * each into a +1/−1 delta pair, orders per type by (time, delta) —
    * ends sort BEFORE starts at the same instant, so touching intervals
    * never double-count — and takes the running sum's daily max. The
    * capacity-planning readout (peak concurrent sessions/connections)
    * that a plain windowed count under-reports whenever intervals
    * straddle bucket edges. 2 rows per event, one per-type ordered
    * scan (the sequential-sweep cost, same shape as [[tsAcf]]), exact
    * integers throughout. */
  def winConcurrency(spark: SparkSession, dir: String,
      holdUs: Long = 300000000L): DataFrame =
    concurrencyOf(table(spark, dir, "events"), holdUs)

  /** The sweep over any (event_type, ts) frame — split out so the spec
    * can drive known overlap patterns (three nested intervals peak at 3;
    * touching intervals never double-count). */
  private[graft] def concurrencyOf(events: DataFrame,
      holdUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events
      .select(col("event_type"), unix_micros(col("ts")).as("t"))
    val deltas = ev.select(col("event_type"), col("t"), lit(1L).as("d"))
      .unionByName(ev.select(col("event_type"),
        (col("t") + holdUs).as("t"), lit(-1L).as("d")))
    val w = Window.partitionBy("event_type").orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("cum", sum("d").over(w))
      .groupBy(col("event_type"),
        date_format(timestamp_micros(col("t")), "yyyy-MM-dd").as("day"))
      .agg(max("cum").as("max_concurrent"),
        sum(when(col("d") === 1L, 1L).otherwise(0L)).as("n_starts"))
      .orderBy("event_type", "day")
  }

  /** CUSUM CHANGEPOINT SCAN — "when did this series' level shift": per
    * event type, the point t maximizing the centered cumulative-sum
    * deviation |n·S_t − t·S_n| (the classic CUSUM statistic with the
    * mean folded out by cross-multiplication — S_t/t vs S_n/n compared
    * without a single division), plus the level on each side of the cut.
    * Everything up to the final two means is exact BIGINT cents, so the
    * argmax (ties: earliest (ts, id)) lands identically in both engines.
    * Two windows over the per-type stream (the cumsum and the argmax
    * rank) — the same per-series ordered-scan shape as [[tsAcf]]; the
    * rollup then emits ONE row per type. */
  def tsChangepoint(spark: SparkSession, dir: String): DataFrame =
    changepointOf(table(spark, dir, "events"))

  /** The CUSUM machinery over any (event_type, ts, event_id, value)
    * frame — split out so the spec can drive a hand-built level shift
    * with a known cut point. */
  private[graft] def changepointOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val wc = Window.partitionBy("event_type").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-type totals ride a FULL-PARTITION window over the same
    // event_type exchange the cumulative window already established
    // (guide §2.4: an aggregate keyed like the preceding window needs no
    // second shuffle) — before r16 they were a groupBy re-aggregate of
    // the whole windowed subtree broadcast-joined back, which planned a
    // SECOND events scan + sort + window + join (plans/r16/
    // ts_changepoint_{before,after}.txt: 3 Exchange/2 Scan → 2/1)
    val wf = Window.partitionBy("event_type")
    val base = events
      .select(col("event_type"), col("ts"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("vc"))
      .withColumn("t", count(lit(1)).over(wc))
      .withColumn("st", sum("vc").over(wc))
      .withColumn("n", count(lit(1)).over(wf))
      .withColumn("sn", sum("vc").over(wf))
    val wr = Window.partitionBy("event_type")
      .orderBy(col("d").desc, col("ts"), col("event_id"))
    base
      .withColumn("d", abs(col("n") * col("st") - col("t") * col("sn")))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n"), tsStr(col("ts")).as("cp_ts"),
        col("d").as("d_max"),
        roundD(col("st").cast(DoubleType) / col("t").cast(DoubleType) / 100.0, 6)
          .as("mean_before"),
        roundD((col("sn") - col("st")).cast(DoubleType) /
          nullif((col("n") - col("t")).cast(DoubleType), lit(0.0)) / 100.0, 6)
          .as("mean_after"))
      .orderBy("event_type")
  }

  /** SEQUENTIAL (ONLINE) CUSUM ALARM SCAN — "when would the live
    * detector have fired": the batch runtime of
    * [[graft.streaming.StreamAssembly.cusumStream]], the one-sided
    * CUSUM pair over a 64-event frozen reference (ONE definition, two
    * runtimes — the `dq_entropy` convention, so the DuckDB oracle that
    * verifies this query verifies the streaming detector's arithmetic).
    * Beside [[tsChangepoint]]'s retrospective argmax ("where was the
    * level cut, knowing the whole series") this is the sequential
    * question ("at which event does the slack-adjusted excess cross
    * h"), the form a monitor can actually run. All integer cents
    * cross-multiplied by the training length — no division, no doubles;
    * the max(0,·) recurrence becomes two stacked windows via the prefix
    * identity (see [[graft.streaming.StreamAssembly.cusumAgg]]). */
  def tsCusum(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamAssembly.cusumAgg(table(spark, dir, "events"))
      .orderBy("event_type", "side", "event_id")

  /** DAY-OF-WEEK SEASONALITY profile — the calendar-structure diagnostic
    * next to [[tsAcf]]'s serial correlation: per (event_type, weekday),
    * event count and mean value, plus the ratio of the weekday mean to
    * the type's overall mean (the "weekend dip" readout a capacity
    * planner keys on). One keyed aggregate over events (map-side
    * combined, shuffle ∝ |types|·7); the type-level fold re-aggregates
    * the 7-row partials and broadcasts back — the raw stream is scanned
    * once. Means divide exact decimal sums cast to double (identical
    * IEEE trees both engines); weekday 0 = Sunday (DuckDB's convention;
    * Spark's dayofweek()−1). */
  def tsSeasonal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // the type-level fold rides a FULL-PARTITION window over the 7-row
    // per-type profile (guide §2.4) instead of a groupBy + broadcast
    // self-join, which re-planned the keyed aggregate (and its events
    // scan) a second time
    import org.apache.spark.sql.expressions.Window
    val wf = Window.partitionBy("event_type")
    val per = table(spark, dir, "events")
      .groupBy(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).as("sx"))
    per
      .withColumn("cnt_t", sum("cnt").over(wf))
      .withColumn("sx_t", sum("sx").over(wf))
      .select(col("event_type"), col("dow"), col("cnt"),
        roundD(col("sx").cast(DoubleType) / col("cnt").cast(DoubleType), 6)
          .as("mean_value"),
        roundD((col("sx").cast(DoubleType) / col("cnt").cast(DoubleType)) /
          (col("sx_t").cast(DoubleType) / col("cnt_t").cast(DoubleType)), 6)
          .as("ratio_to_mean"))
      .orderBy("event_type", "dow")
  }

  /** STL-LITE DECOMPOSITION — the additive trend × weekday-seasonal ×
    * remainder split beside [[tsSeasonal]]'s profile and [[tsHolt]]'s
    * forecast: per (event_type, day), y = trend + seasonal(dow) +
    * remainder, with trend the ±3-day centered moving mean (RANGE frame
    * on the day index, so calendar gaps shrink the window instead of
    * sliding past them) and seasonal the per-weekday mean of the
    * detrended series — one pass of the classic STL inner loop, which is
    * the whole loop when the loess is a plain mean.
    *
    * Exactness: daily sums are DECIMAL(18,2) cents (exact BIGINT); the
    * trend mean is scaled by 420 = lcm(1..7), so sw·(420 div cw) is an
    * exact INTEGER for every window population cw ≤ 7 — no division
    * happens until the final display doubles, whose expression trees are
    * identical in both engines over identical integer inputs, then 6-dp
    * rounded. The per-weekday seasonal sum folds exact BIGINTs, so it is
    * partition-order independent.
    *
    * Plan: one keyed daily aggregate (map-side combined), one RANGE
    * window over day-count-sized partitions, a 7-row-per-type seasonal
    * fold broadcast back. Scales as the candles queries do — the only
    * per-row state is a ±3-day frame. */
  def tsStl(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val daily = table(spark, dir, "events")
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("yc"))
      .withColumn("d", datediff(to_date(col("day")), lit("1970-01-01")))
      .withColumn("dow", dayofweek(to_date(col("day"))) - 1)
    val w = Window.partitionBy("event_type").orderBy("d").rangeBetween(-3, 3)
    val tr = daily
      .withColumn("sw", sum("yc").over(w))
      .withColumn("cw", count(lit(1)).over(w))
      // 420 = lcm(1..7): the scaled trend is integer for any cw ≤ 7
      .withColumn("ts_scaled", expr("sw * (420 div cw)"))
      .withColumn("det", col("yc") * 420L - col("ts_scaled"))
    // the per-weekday seasonal fold rides a FULL-PARTITION window over
    // the detrended daily frame (guide §2.4) instead of a groupBy +
    // broadcast self-join, which re-planned the trend window (and its
    // events scan) a second time
    val wSeas = Window.partitionBy("event_type", "dow")
    tr
      .withColumn("s_sum", sum("det").over(wSeas))
      .withColumn("n_w", count(lit(1)).over(wSeas))
      .select(col("event_type"), col("day"),
        roundD(col("yc").cast(DoubleType) / 100.0, 6).as("y"),
        roundD(col("ts_scaled").cast(DoubleType) / 42000.0, 6).as("trend"),
        roundD(col("s_sum").cast(DoubleType) / col("n_w").cast(DoubleType)
          / 42000.0, 6).as("seasonal"),
        roundD(col("det").cast(DoubleType) / 42000.0 -
          col("s_sum").cast(DoubleType) / col("n_w").cast(DoubleType)
          / 42000.0, 6).as("remainder"))
      .orderBy("event_type", "day")
  }

  /** SAX breakpoint for the 4-letter alphabet: Φ⁻¹(0.75), the standard
    * normal's upper quartile — the Lin/Keogh SAX table's a=4 row.
    * Defined once and interpolated into the oracle SQL so both engines
    * compare against the bit-identical double. */
  val saxBreak = 0.6744897501960817

  /** SAX SYMBOLIZATION (Symbolic Aggregate approXimation, 4-letter
    * alphabet) — each type's daily series compressed to one word:
    * z-normalize the daily totals, bin by the standard-normal quartile
    * breakpoints (a: z<−0.674, b: <0, c: <0.674, d: rest), concatenate
    * in day order. The word is the index key of the classic SAX
    * pipeline — motif/discord mining and whole-series similarity run on
    * words, not doubles ([[tsChangepoint]] asks where one series broke;
    * SAX asks which series LOOK ALIKE). A σ=0 flat series reads
    * all-'c' by an explicit radicand guard.
    *
    * Exactness without ever dividing: z_d ≥ t ⇔ n·y_d − S ≥
    * t·√(nQ − S²) (multiply through by n·σ ≥ 0), with n, S and the
    * DECIMAL(38,0) moments exact integers — the comparison is between
    * two identically-built doubles in both engines, the [[tsStl]]
    * discipline. A constant series (σ = 0) reads all-'c' by the strict
    * `<` boundary chain, deterministically. Plan: one daily aggregate,
    * a broadcast one-row-per-type moment join, one sorted-array fold
    * per type (the [[holtOf]] shape) — scales as |types|×days. */
  def tsSax(spark: SparkSession, dir: String): DataFrame =
    saxOf(table(spark, dir, "events"))

  /** The symbolization over any (event_type, ts, value) frame — split
    * out so the spec can drive closed-form series (a two-level square
    * wave maps to alternating a/d; a constant series is all-'c'). */
  private[graft] def saxOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val dec = DecimalType(38, 0)
    val daily = events
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("yc"))
      .withColumn("d", datediff(to_date(col("day")), lit("1970-01-01")))
    // per-type moments ride a FULL-PARTITION window over the daily frame
    // (guide §2.4) instead of a groupBy + broadcast self-join, which
    // re-planned the daily aggregate (and its events scan) a second time
    import org.apache.spark.sql.expressions.Window
    val wf = Window.partitionBy("event_type")
    // the moments are exact decimals; the comparison tree is built in
    // doubles (identical IEEE tree both engines — a decimal n·q or s²
    // would overflow DECIMAL(38,0)'s width)
    val (nD, sD, qD) = (col("n").cast(DoubleType),
      col("s").cast(DoubleType), col("q").cast(DoubleType))
    val dev = nD * col("yc").cast(DoubleType) - sD
    val rad = nD * qD - sD * sD
    val r = sqrt(rad)
    daily
      .withColumn("n", count(lit(1)).over(wf))
      .withColumn("s", sum(col("yc").cast(dec)).over(wf))
      .withColumn("q", sum((col("yc") * col("yc")).cast(dec)).over(wf))
      .withColumn("sym",
        when(rad <= lit(0.0), "c") // σ = 0: a flat series is all-mid
          .when(dev < -lit(saxBreak) * r, "a")
          .when(dev < lit(0.0), "b")
          .when(dev < lit(saxBreak) * r, "c")
          .otherwise("d"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("d"), col("sym")))).as("w"))
      .select(col("event_type"), col("n_days"),
        expr("array_join(transform(w, x -> x.sym), '')").as("sax_word"))
      .orderBy("event_type")
  }

  /** TWAP — TIME-weighted average price per series-day, the execution-
    * quality benchmark next to VWAP (volume-weighted, the streaming CLI's
    * `--vwap`): each observation holds its value until the next one, so
    * the day's average integrates the piecewise-constant curve from first
    * to last tick and a 1-second spike no longer counts like an hour-long
    * level (the failure of the plain mean on irregular feeds).
    *
    * Exactness: each rectangle is value·Δµs in DECIMAL(18,2)·BIGINT — an
    * exact decimal product, summed exactly, so the integral is partition-
    * order independent; the single final division (integral/total-span)
    * happens in doubles on bit-identical inputs in both engines, then 6-dp
    * rounds. Plan: one `lead` window per (key, day) — per-group sorts of
    * day-sized slices, the same shuffle grain the candles queries use —
    * then a plain hash aggregate. Single-tick days fall back to the tick's
    * own value. */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = date_format(col("ts"), "yyyy-MM-dd")
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy("ts", "event_id")
    table(spark, dir, "events")
      .select(col("event_type"), day.as("day"), col("ts"), col("event_id"),
        col("value"))
      .withColumn("dur_us",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
          col("dur_us")).as("integral"),
        sum(col("dur_us")).as("span_us"),
        min(col("value")).as("first_fallback"))
      .select(col("event_type"), col("day"), col("n_ticks"),
        when(col("span_us") > 0L,
          roundD(col("integral").cast(org.apache.spark.sql.types.DoubleType) /
            col("span_us").cast(org.apache.spark.sql.types.DoubleType), 6))
          .otherwise(col("first_fallback")).as("twap"))
      .orderBy("event_type", "day")
  }

  /** TRENDING — top-2 event types per hour by exact decimal volume: the
    * live-dashboard leaderboard every feed product ships, composed from
    * two proven pieces: the hourly keyed aggregate (map-side partials)
    * and the bounded-heap [[graft.functions.TopKStructs]] per hour — the
    * shuffle after the hourly level carries ≤ 2 rows per (hour, task),
    * and nothing sorts beyond the heap (the winfnRank argument: a
    * row_number window would sort whole hours inside #hour reducer
    * partitions). Volume ties break by event type via the struct's
    * lexicographic order (negated volume leads — exact for doubles). */
  def trending(spark: SparkSession, dir: String): DataFrame = {
    // drop all-NULL-volume groups BEFORE the heap: the struct ordering is
    // nulls-first (rank 1) while SQL's volume DESC is nulls-last — a NULL
    // vol would rank oppositely in the two engines
    val hourly = table(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(sumMoney(col("value")).as("vol"))
      .filter(col("vol").isNotNull)
    val item = struct((-col("vol")).as("nv"), col("event_type").as("et"))
    hourly.groupBy("h")
      .agg(graft.functions.TopKStructs(item, 2).as("top"))
      .select(col("h"), posexplode(col("top")).as(Seq("p", "t")))
      .select(tsStr(col("h")).as("hour"), col("t.et").as("event_type"),
        (-col("t.nv")).as("volume"),
        (col("p") + 1).cast(org.apache.spark.sql.types.LongType).as("rk"))
      .orderBy("hour", "rk")
  }

  /** The DuckDB twin of [[tsEwma]], assembled from the same tap count and
    * decay so the two sides can never drift: each 0.75^j literal is a dyadic
    * rational (3^j/4^j — exactly representable), so the shortest-round-trip
    * decimal Scala prints parses back to the identical double in DuckDB. */
  private val ewmaOracle: String = {
    val over = "OVER (PARTITION BY event_type ORDER BY ts, event_id)"
    val num = (0 until 8).map(j =>
      s"coalesce(lag(value, $j) $over, 0.0) * ${math.pow(0.75, j)}")
      .mkString(" + ")
    val den = (0 until 8).map(j =>
      s"CASE WHEN lag(value, $j) $over IS NOT NULL THEN ${math.pow(0.75, j)} ELSE 0.0 END")
      .mkString(" + ")
    s"""WITH e AS (
          SELECT event_type, ts, event_id,
                 floor(($num) / ($den) * 1e6 + 0.5) / 1e6 AS e
          FROM events)
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               arg_max(e, (epoch_us(ts) % 86400000000) * 1048576
                          + (event_id % 1048576)) AS ewma_close,
               CAST(SUM(CAST(e AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                 AS ewma_mean
        FROM e GROUP BY 1, 2 ORDER BY event_type, day"""
  }

  val oracles: Map[String, String] = Map(
    // the heap must be invisible: plain row_number over the hourly level
    "trending" ->
      """WITH hv AS (
           SELECT date_trunc('hour', ts) AS h, event_type,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
           FROM events GROUP BY 1, 2),
         r AS (SELECT h, event_type, volume,
                      row_number() OVER (PARTITION BY h
                        ORDER BY volume DESC, event_type) AS rk
               FROM hv WHERE volume IS NOT NULL)
         SELECT strftime(h, '%Y-%m-%d %H:%M:%S.%f') AS hour, event_type,
                volume, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 2 ORDER BY hour, rk""",
    // identical rectangle integral: exact DECIMAL(18,2)·Δµs products, one
    // double division at the end on bit-identical inputs
    "twap" ->
      """WITH t AS (
           SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value,
                  epoch_us(lead(ts, 1) OVER (
                    PARTITION BY event_type, strftime(ts, '%Y-%m-%d')
                    ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
           FROM events)
         SELECT event_type, day, count(*) AS n_ticks,
                CASE WHEN sum(dur_us) > 0
                     THEN floor(CAST(SUM(CAST(value AS DECIMAL(18,2)) * dur_us)
                                     AS DOUBLE)
                                / CAST(sum(dur_us) AS DOUBLE) * 1e6 + 0.5) / 1e6
                     ELSE min(value) END AS twap
         FROM t GROUP BY 1, 2 ORDER BY event_type, day""",
    // same delta explode, same (t, d) sweep order (ends before starts),
    // same daily max — all integer
    "win_concurrency" -> """
      WITH ev AS (SELECT event_type, epoch_us(ts) AS t FROM events),
      deltas AS (
        SELECT event_type, t, 1 AS d FROM ev
        UNION ALL
        SELECT event_type, t + 300000000, -1 FROM ev),
      sweep AS (
        SELECT event_type, t, d,
               CAST(sum(d) OVER (PARTITION BY event_type ORDER BY t, d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
        FROM deltas)
      SELECT event_type,
             strftime(make_timestamp(t), '%Y-%m-%d') AS day,
             max(cum) AS max_concurrent,
             CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_starts
      FROM sweep GROUP BY 1, 2 ORDER BY event_type, day""",
    // identical integer cumsum/cross-multiplication; the argmax rank uses
    // the same (d DESC, ts, id) order both engines sort identically
    "ts_changepoint" -> """
      WITH b AS (
        SELECT event_type, ts, event_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
               count(*) OVER w AS t,
               CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    OVER w AS BIGINT) AS st
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      g AS (SELECT event_type, max(t) AS n,
                   CAST(sum(vc) AS BIGINT) AS sn
            FROM b GROUP BY 1),
      r AS (
        SELECT b.event_type, b.ts, n, t, st, sn,
               abs(n * st - t * sn) AS d,
               row_number() OVER (PARTITION BY b.event_type
                 ORDER BY abs(n * st - t * sn) DESC, b.ts, b.event_id) AS rk
        FROM b JOIN g USING (event_type))
      SELECT event_type, n,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS cp_ts, d AS d_max,
             floor(st::DOUBLE / t::DOUBLE / 100.0 * 1e6 + 0.5) / 1e6
               AS mean_before,
             floor((sn - st)::DOUBLE / nullif((n - t)::DOUBLE, 0.0) / 100.0
                   * 1e6 + 0.5) / 1e6 AS mean_after
      FROM r WHERE rk = 1 ORDER BY event_type""",
    // the identical fold replayed by a recursive CTE carrying (l, b,
    // seasonal 7-ring as a LIST): same init scheme, same exact
    // binary-fraction coefficients, same textual double trees. (A
    // list_reduce struct accumulator evaluated the same subexpression
    // to different values across fields — probed and rejected.)
    "ts_holt_winters" -> """
      WITH RECURSIVE daily0 AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      -- zero-fill the per-type day grid (Spark side densifies identically):
      -- the fold indexes the seasonal ring by series position, so a missing
      -- day would de-phase every subsequent day
      grid AS (SELECT event_type, unnest(generate_series(min(d), max(d))) AS d
               FROM daily0 GROUP BY event_type),
      daily AS (SELECT g.event_type, g.d, coalesce(y, 0) AS y
                FROM grid g LEFT JOIN daily0 USING (event_type, d)),
      idx AS (SELECT event_type,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY d) AS i,
                     y::DOUBLE AS y
              FROM daily),
      ysl AS (SELECT event_type, list(y ORDER BY i) AS ys
              FROM idx GROUP BY 1),
      ini AS (
        SELECT event_type, ys, len(ys) AS n,
               list_reduce(list_concat([0.0::DOUBLE], ys[1:7]),
                 (acc, x) -> acc + x) / 7.0 AS l0,
               (list_reduce(list_concat([0.0::DOUBLE], ys[8:14]),
                  (acc, x) -> acc + x) / 7.0
                - list_reduce(list_concat([0.0::DOUBLE], ys[1:7]),
                    (acc, x) -> acc + x) / 7.0) / 7.0 AS b0
        FROM ysl WHERE len(ys) >= 15),
      ini2 AS (SELECT *, list_transform(ys[1:7], x -> x - l0) AS s0
               FROM ini),
      hw AS (
        SELECT event_type, 7 AS i, l0 AS l, b0 AS b, s0 AS s, n FROM ini2
        UNION ALL
        SELECT h.event_type, h.i + 1,
               0.5 * (x.y - h.s[1]) + 0.5 * (h.l + h.b),
               0.25 * ((0.5 * (x.y - h.s[1]) + 0.5 * (h.l + h.b)) - h.l)
                 + 0.75 * h.b,
               list_append(h.s[2:7],
                 0.25 * (x.y - (0.5 * (x.y - h.s[1]) + 0.5 * (h.l + h.b)))
                   + 0.75 * h.s[1]),
               h.n
        FROM hw h JOIN idx x
          ON x.event_type = h.event_type AND x.i = h.i + 1)
      SELECT event_type, CAST(n AS BIGINT) AS n_days,
             floor(l * 1e6 + 0.5) / 1e6 AS level,
             floor(b * 1e6 + 0.5) / 1e6 AS trend,
             floor(s[1] * 1e6 + 0.5) / 1e6 AS s_next,
             floor((l + b + s[1]) * 1e6 + 0.5) / 1e6 AS forecast_1d
      FROM hw WHERE i = n ORDER BY event_type""",
    // the trusted-SQL form of the streaming dedup->count grain
    "win_reach_hourly" -> """
      SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
             CAST(count(DISTINCT user_id) AS BIGINT) AS reach
      FROM events GROUP BY 1 ORDER BY hour_ms""",
    // same integer dev = n*yc - s, same interpolated trig literals (libm
    // cos is NOT trusted to match the JVM's — only shared literals are),
    // same per-term 1e-6 quantize then exact decimal sum
    "ts_periodicity" -> {
      // ((d % 7) + 7) % 7, not plain d % 7: the Spark side selects weights
      // with pmod (always 0..6) while DuckDB's % keeps the sign — for a
      // pre-1970 day (d < 0) the plain form would fall through every CASE
      // arm to NULL and silently diverge the engines.
      def cse(lits: Seq[Double]) = lits.zipWithIndex.map { case (v, k) =>
        s"WHEN $k THEN CAST($v AS DOUBLE)" }
        .mkString("CASE ((d % 7) + 7) % 7 ", " ", " END")
      s"""
      WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS d,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        FROM events GROUP BY 1, 2),
      mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(yc) AS BIGINT) AS s
              FROM daily GROUP BY 1),
      t AS (
        SELECT daily.event_type, m.n, daily.d,
               CAST(floor((m.n * daily.yc - m.s)::DOUBLE * (${cse(week7Cos)})
                          * 1e6 + 0.5) AS DECIMAL(38,0)) AS qa,
               CAST(floor((m.n * daily.yc - m.s)::DOUBLE * (${cse(week7Sin)})
                          * 1e6 + 0.5) AS DECIMAL(38,0)) AS qb,
               CAST((m.n * daily.yc - m.s) * (m.n * daily.yc - m.s)
                    AS DECIMAL(38,0)) AS dv2
        FROM daily JOIN mom m USING (event_type)),
      g AS (SELECT event_type, n,
                   CAST(sum(qa) AS DECIMAL(38,0)) AS a,
                   CAST(sum(qb) AS DECIMAL(38,0)) AS b,
                   CAST(sum(dv2) AS DECIMAL(38,0)) AS tot
            FROM t GROUP BY 1, 2)
      SELECT event_type, n AS n_days,
             floor((2.0 * (a::DOUBLE * a::DOUBLE + b::DOUBLE * b::DOUBLE)
                    / 1e12 / nullif(n::DOUBLE * tot::DOUBLE, 0.0))
                   * 1e6 + 0.5) / 1e6 AS weekly_share
      FROM g ORDER BY event_type"""
    },
    // same exact decimal moments as ts_acf extended to lag 3, each rho
    // quantized to the 1e-6 grid BEFORE the Durbin-Levinson doubles, so
    // the recursion runs on bit-identical inputs in both engines
    "ts_pacf" -> """
      WITH b AS (
        SELECT event_type, ts, event_id, CAST(value AS DECIMAL(18,2)) AS x
        FROM events),
      l AS (
        SELECT event_type, x,
               lag(x, 1) OVER w AS y1, lag(x, 2) OVER w AS y2,
               lag(x, 3) OVER w AS y3
        FROM b
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
      a AS (
        SELECT event_type,
          count(y1) AS n1, sum(CASE WHEN y1 IS NOT NULL THEN x END) AS sx1,
          sum(y1) AS sy1, sum(x * y1) AS sxy1,
          sum(CASE WHEN y1 IS NOT NULL THEN x * x END) AS sxx1,
          sum(y1 * y1) AS syy1,
          count(y2) AS n2, sum(CASE WHEN y2 IS NOT NULL THEN x END) AS sx2,
          sum(y2) AS sy2, sum(x * y2) AS sxy2,
          sum(CASE WHEN y2 IS NOT NULL THEN x * x END) AS sxx2,
          sum(y2 * y2) AS syy2,
          count(y3) AS n3, sum(CASE WHEN y3 IS NOT NULL THEN x END) AS sx3,
          sum(y3) AS sy3, sum(x * y3) AS sxy3,
          sum(CASE WHEN y3 IS NOT NULL THEN x * x END) AS sxx3,
          sum(y3 * y3) AS syy3
        FROM l GROUP BY 1),
      r AS (
        SELECT event_type, n3 AS n_pairs3,
          floor((n1::DOUBLE * sxy1::DOUBLE - sx1::DOUBLE * sy1::DOUBLE)
            / nullif(sqrt(n1::DOUBLE * sxx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE)
                     * sqrt(n1::DOUBLE * syy1::DOUBLE - sy1::DOUBLE * sy1::DOUBLE),
                     0.0) * 1e6 + 0.5) / 1e6 AS r1,
          floor((n2::DOUBLE * sxy2::DOUBLE - sx2::DOUBLE * sy2::DOUBLE)
            / nullif(sqrt(n2::DOUBLE * sxx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE)
                     * sqrt(n2::DOUBLE * syy2::DOUBLE - sy2::DOUBLE * sy2::DOUBLE),
                     0.0) * 1e6 + 0.5) / 1e6 AS r2,
          floor((n3::DOUBLE * sxy3::DOUBLE - sx3::DOUBLE * sy3::DOUBLE)
            / nullif(sqrt(n3::DOUBLE * sxx3::DOUBLE - sx3::DOUBLE * sx3::DOUBLE)
                     * sqrt(n3::DOUBLE * syy3::DOUBLE - sy3::DOUBLE * sy3::DOUBLE),
                     0.0) * 1e6 + 0.5) / 1e6 AS r3
        FROM a),
      d AS (SELECT *, (r2 - r1 * r1) / nullif(1.0 - r1 * r1, 0.0) AS p2
            FROM r),
      e AS (SELECT *, r1 - p2 * r1 AS p21 FROM d)
      SELECT event_type, n_pairs3, r1 AS pacf1,
             floor(p2 * 1e6 + 0.5) / 1e6 AS pacf2,
             floor((r3 - p21 * r2 - p2 * r1)
                   / nullif(1.0 - p21 * r1 - p2 * r2, 0.0) * 1e6 + 0.5) / 1e6
               AS pacf3
      FROM e ORDER BY event_type""",
    // same daily integer cents, same exact decimal moments, same double
    // comparison tree against the interpolated quartile breakpoint, same
    // strict-< boundary chain; the word concatenates in day order
    "ts_sax" -> s"""
      WITH daily AS (
        SELECT event_type,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc,
               date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS d
        FROM events GROUP BY 1, 3),
      mom AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DECIMAL(38,0))
                       AS s,
                     CAST(sum(CAST(yc * yc AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS q
              FROM daily GROUP BY 1),
      sym AS (
        SELECT d.event_type, d.d,
               CASE
                 WHEN m.n::DOUBLE * m.q::DOUBLE - m.s::DOUBLE * m.s::DOUBLE
                      <= 0.0
                   THEN 'c'
                 WHEN m.n::DOUBLE * d.yc::DOUBLE - m.s::DOUBLE
                      < -$saxBreak * sqrt(m.n::DOUBLE * m.q::DOUBLE
                                          - m.s::DOUBLE * m.s::DOUBLE)
                   THEN 'a'
                 WHEN m.n::DOUBLE * d.yc::DOUBLE - m.s::DOUBLE < 0.0
                   THEN 'b'
                 WHEN m.n::DOUBLE * d.yc::DOUBLE - m.s::DOUBLE
                      < $saxBreak * sqrt(m.n::DOUBLE * m.q::DOUBLE
                                         - m.s::DOUBLE * m.s::DOUBLE)
                   THEN 'c'
                 ELSE 'd' END AS sym
        FROM daily d JOIN mom m USING (event_type))
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             string_agg(sym, '' ORDER BY d) AS sax_word
      FROM sym GROUP BY 1 ORDER BY event_type""",
    // the streaming CUSUM detector's recurrence replayed via the prefix
    // identity S = P - min(0, running-min P): same frozen 64-event
    // reference, same integer cross-multiplication, same permille div
    "ts_cusum" -> {
      import graft.streaming.StreamAssembly.{cusumSlackPm, cusumThreshX, cusumTrainN}
      s"""
      WITH base AS (
        SELECT event_type, event_id,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
               row_number() OVER w AS i,
               CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    OVER w AS BIGINT) AS cum
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      sref AS (SELECT event_type, cum AS sref FROM base
               WHERE i = $cusumTrainN),
      mon AS (
        SELECT b.event_type, b.event_id, b.i, s.sref,
               $cusumSlackPm * s.sref // 1000 AS kp,
               $cusumThreshX * s.sref AS h,
               $cusumTrainN * b.vc - s.sref AS xp
        FROM base b JOIN sref s USING (event_type)
        WHERE b.i > $cusumTrainN),
      acc AS (
        SELECT *, CAST(sum(xp - kp) OVER w2 AS BIGINT) AS pu,
                  CAST(sum(-xp - kp) OVER w2 AS BIGINT) AS pd
        FROM mon
        WINDOW w2 AS (PARTITION BY event_type ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      s AS (
        SELECT *, pu - least(min(pu) OVER w3, 0) AS sp,
                  pd - least(min(pd) OVER w3, 0) AS sm
        FROM acc
        WINDOW w3 AS (PARTITION BY event_type ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      o AS (
        SELECT *, COALESCE(lag(sp) OVER w4, 0) AS psp,
                  COALESCE(lag(sm) OVER w4, 0) AS psm
        FROM s
        WINDOW w4 AS (PARTITION BY event_type ORDER BY i))
      SELECT * FROM (
        SELECT event_type, event_id, 'up' AS side,
               (sp - h) * 1000 // h AS exc_pm
        FROM o WHERE h > 0 AND sp > h AND psp <= h
        UNION ALL
        SELECT event_type, event_id, 'down', (sm - h) * 1000 // h
        FROM o WHERE h > 0 AND sm > h AND psm <= h)
      ORDER BY event_type, side, event_id"""
    },
    // identical decimal sums; the two means and their ratio are the same
    // IEEE division tree on bit-identical inputs
    // identical integer scaling (420 = lcm(1..7)) and display-double trees
    "ts_stl" -> """
      WITH daily AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc,
               date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS d,
               dayofweek(CAST(date_trunc('day', ts) AS DATE)) AS dow
        FROM events GROUP BY 1, 2, 4, 5),
      tr0 AS (
        SELECT *, sum(yc) OVER w AS sw, count(*) OVER w AS cw
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
                     RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      tr AS (
        SELECT *, sw * (420 // cw) AS ts_scaled,
               yc * 420 - sw * (420 // cw) AS det
        FROM tr0),
      seas AS (
        SELECT event_type, dow, CAST(sum(det) AS BIGINT) AS s_sum,
               count(*) AS n_w
        FROM tr GROUP BY 1, 2)
      SELECT t.event_type, t.day,
             floor(yc::DOUBLE / 100 * 1e6 + 0.5) / 1e6 AS y,
             floor(ts_scaled::DOUBLE / 42000 * 1e6 + 0.5) / 1e6 AS trend,
             floor(s_sum::DOUBLE / n_w::DOUBLE / 42000 * 1e6 + 0.5) / 1e6
               AS seasonal,
             floor((det::DOUBLE / 42000
                    - s_sum::DOUBLE / n_w::DOUBLE / 42000) * 1e6 + 0.5) / 1e6
               AS remainder
      FROM tr t JOIN seas s
        ON t.event_type = s.event_type AND t.dow = s.dow
      ORDER BY t.event_type, t.day""",
    "ts_seasonal" -> """
      WITH p AS (
        SELECT event_type, dayofweek(ts) AS dow, count(*) AS cnt,
               sum(CAST(value AS DECIMAL(18,2))) AS sx
        FROM events GROUP BY 1, 2),
      t AS (
        SELECT event_type, CAST(sum(cnt) AS BIGINT) AS cnt_t,
               sum(sx) AS sx_t
        FROM p GROUP BY 1)
      SELECT p.event_type, p.dow::INT AS dow, p.cnt,
             floor(sx::DOUBLE / cnt::DOUBLE * 1e6 + 0.5) / 1e6 AS mean_value,
             floor((sx::DOUBLE / cnt::DOUBLE) / (sx_t::DOUBLE / cnt_t::DOUBLE)
                   * 1e6 + 0.5) / 1e6 AS ratio_to_mean
      FROM p JOIN t USING (event_type)
      ORDER BY event_type, dow""",
    // the same dedup-first + 7-day contribution fan-out, range-joined in
    // SQL where Spark explodes an equi key
    "win_rolling_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id,
                            date_diff('day', DATE '1970-01-01',
                                      CAST(date_trunc('day', ts) AS DATE))
                              AS d
                     FROM events),
         b AS (SELECT min(d) AS d0, max(d) AS d1 FROM ud),
         spine AS (SELECT unnest(generate_series(d0, d1)) AS rd FROM b),
         hits AS (SELECT s.rd, ud.user_id, ud.d
                  FROM spine s LEFT JOIN ud
                    ON ud.d BETWEEN s.rd - 6 AND s.rd)
         SELECT CAST(DATE '1970-01-01' + rd::INT AS STRING) AS day,
                count(DISTINCT CASE WHEN d = rd THEN user_id END)
                  AS users_1d,
                count(DISTINCT user_id) AS users_7d
         FROM hits GROUP BY rd ORDER BY day""",
    // identical collected 5-frames, order statistics, and integer fence
    "ts_hampel" ->
      """WITH src AS (
           SELECT event_type, ts, event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events WHERE value IS NOT NULL),
         w AS (
           SELECT event_type, cents,
                  list(cents) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN 2 PRECEDING
                                             AND 2 FOLLOWING) AS fr
           FROM src),
         m AS (
           SELECT event_type, cents, fr, list_sort(fr)[3] AS med
           FROM w WHERE len(fr) = 5),
         d AS (
           SELECT event_type, abs(cents - med) AS dev,
                  list_sort(list_transform(fr, e -> abs(e - med)))[3] AS mad
           FROM m)
         SELECT event_type, count(*) AS n_outliers,
                max(dev) AS max_dev_cents
         FROM d WHERE dev > 3 * mad
         GROUP BY 1 ORDER BY event_type""",
    // the identical per-series pair self-join and integer sign sum
    "ts_mk_trend" ->
      """WITH hourly AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS y
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT a.event_type,
                  CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
           FROM hourly a JOIN hourly b
             ON a.event_type = b.event_type AND a.h < b.h)
         SELECT event_type, count(*) AS n_pairs,
                CAST(sum(sgn) AS BIGINT) AS s_stat,
                floor(CAST(sum(sgn) AS BIGINT)::DOUBLE / count(*)::DOUBLE
                      * 1e6 + 0.5) / 1e6 AS tau
         FROM p GROUP BY 1 ORDER BY event_type""",
    // the identical pair frame at the DAILY grain, slopes as one double
    // division, median via explicit row_number ranks (no native median)
    "ts_theil_sen" ->
      """WITH daily AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS d, count(*) AS y
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT a.event_type, a.d AS d1, b.d AS d2,
                  (b.y - a.y)::DOUBLE / (b.d - a.d)::DOUBLE AS slope
           FROM daily a JOIN daily b
             ON a.event_type = b.event_type AND a.d < b.d),
         r AS (
           SELECT event_type, slope,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY slope, d1, d2) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS m
           FROM p)
         SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
                floor(sum(slope) / count(*) * 1e6 + 0.5) / 1e6 AS sen_slope
         FROM r WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
         GROUP BY event_type, m ORDER BY event_type""",
    // the identical per-step IEEE recursion, replayed as a recursive CTE
    // stepping the hour-ordered index
    "ts_holt" ->
      """WITH RECURSIVE hourly AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS y
           FROM events GROUP BY 1, 2),
         idx AS (
           SELECT event_type,
                  row_number() OVER (PARTITION BY event_type ORDER BY h)
                    AS i,
                  y::DOUBLE AS y
           FROM hourly),
         n AS (SELECT event_type, max(i) AS n FROM idx GROUP BY 1),
         holt AS (
           SELECT i1.event_type, 1 AS i, i1.y AS l, i2.y - i1.y AS b
           FROM idx i1 JOIN idx i2
             ON i1.event_type = i2.event_type AND i1.i = 1 AND i2.i = 2
           UNION ALL
           SELECT h.event_type, h.i + 1,
                  0.5 * x.y + 0.5 * (h.l + h.b),
                  0.25 * ((0.5 * x.y + 0.5 * (h.l + h.b)) - h.l)
                    + 0.75 * h.b
           FROM holt h JOIN idx x
             ON x.event_type = h.event_type AND x.i = h.i + 1)
         SELECT event_type, n AS n_hours,
                floor(l * 1e6 + 0.5) / 1e6 AS level,
                floor(b * 1e6 + 0.5) / 1e6 AS trend,
                floor((l + 24.0 * b) * 1e6 + 0.5) / 1e6 AS forecast_24h
         FROM holt JOIN n USING (event_type)
         WHERE i = n ORDER BY event_type""",
    // the same complete hour grid, shifted-key pair join, decimal moment
    // sums, and final double tree
    "ts_xcorr" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h
                     FROM events),
         c AS (SELECT h,
                      sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS x,
                      sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS y
               FROM ev WHERE event_type IN ('view', 'purchase') GROUP BY 1),
         b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
         g AS (SELECT gs.h, COALESCE(c.x, 0) AS x, COALESCE(c.y, 0) AS y
               FROM (SELECT unnest(generate_series(h0, h1)) AS h FROM b) gs
               LEFT JOIN c USING (h)),
         p AS (SELECT k.lag, a.x, bb.y
               FROM g a
               JOIN (SELECT unnest([-2, -1, 0, 1, 2]) AS lag) k ON TRUE
               JOIN g bb ON bb.h = a.h + k.lag),
         m AS (SELECT lag::INT AS lag, count(*) AS n_pairs,
                      CAST(sum(x) AS DECIMAL(38,0))::DOUBLE AS sx,
                      CAST(sum(y) AS DECIMAL(38,0))::DOUBLE AS sy,
                      CAST(sum(CAST(x * y AS DECIMAL(38,0)))
                        AS DECIMAL(38,0))::DOUBLE AS sxy,
                      CAST(sum(CAST(x * x AS DECIMAL(38,0)))
                        AS DECIMAL(38,0))::DOUBLE AS sxx,
                      CAST(sum(CAST(y * y AS DECIMAL(38,0)))
                        AS DECIMAL(38,0))::DOUBLE AS syy
               FROM p GROUP BY 1)
         SELECT lag, n_pairs,
                floor((n_pairs::DOUBLE * sxy - sx * sy)
                      / nullif(sqrt(n_pairs::DOUBLE * sxx - sx * sx)
                               * sqrt(n_pairs::DOUBLE * syy - sy * sy), 0.0)
                      * 1e6 + 0.5) / 1e6 AS xcorr
         FROM m ORDER BY lag""",
    // identical moment sums in exact decimal, identical final double tree
    "ts_acf" ->
      """WITH b AS (
           SELECT event_type, ts, event_id, CAST(value AS DECIMAL(18,2)) AS x
           FROM events),
         l AS (
           SELECT event_type, x,
                  lag(x, 1) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS y1,
                  lag(x, 2) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS y2
           FROM b),
         a AS (
           SELECT event_type,
                  count(y1) AS n1, sum(CASE WHEN y1 IS NOT NULL THEN x END) AS sx1,
                  sum(y1) AS sy1, sum(x * y1) AS sxy1,
                  sum(CASE WHEN y1 IS NOT NULL THEN x * x END) AS sxx1,
                  sum(y1 * y1) AS syy1,
                  count(y2) AS n2, sum(CASE WHEN y2 IS NOT NULL THEN x END) AS sx2,
                  sum(y2) AS sy2, sum(x * y2) AS sxy2,
                  sum(CASE WHEN y2 IS NOT NULL THEN x * x END) AS sxx2,
                  sum(y2 * y2) AS syy2
           FROM l GROUP BY 1),
         u AS (
           SELECT event_type, 1 AS lag, n1 AS n_pairs, sx1::DOUBLE AS sx,
                  sy1::DOUBLE AS sy, sxy1::DOUBLE AS sxy, sxx1::DOUBLE AS sxx,
                  syy1::DOUBLE AS syy FROM a
           UNION ALL
           SELECT event_type, 2, n2, sx2::DOUBLE, sy2::DOUBLE, sxy2::DOUBLE,
                  sxx2::DOUBLE, syy2::DOUBLE FROM a)
         SELECT event_type, lag, n_pairs,
                floor((n_pairs::DOUBLE * sxy - sx * sy)
                      / nullif(sqrt(n_pairs::DOUBLE * sxx - sx * sx)
                               * sqrt(n_pairs::DOUBLE * syy - sy * sy), 0.0)
                      * 1e6 + 0.5) / 1e6 AS acf
         FROM u ORDER BY event_type, lag""",
    "ts_fill" ->
      """WITH obs AS (
           SELECT event_type, date_trunc('hour', ts) AS h,
                  arg_max(value, (epoch_us(ts) % 3600000000) * 2147483648
                                 + (event_id % 2147483648)) AS v
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT event_type, min(h) AS lo, max(h) AS hi
                    FROM obs GROUP BY 1),
         grid AS (SELECT event_type,
                         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
                  FROM bounds),
         f AS (SELECT g.event_type, g.h, o.v
               FROM grid g LEFT JOIN obs o
                 ON g.event_type = o.event_type AND g.h = o.h)
         SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S.%f') AS hour,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
                CAST(v IS NULL AS INTEGER) AS gap
         FROM f ORDER BY event_type, hour""",
    "ts_ewma" -> ewmaOracle,
    // gaps-and-islands with the same STRICT boundary (a gap of exactly
    // the budget merges — Spark merges touching session windows), same
    // >= 5 fills filter, exact notional
    "cascades" -> s"""
      WITH g AS (
        SELECT event_type, event_id, value, epoch_us(ts) AS t,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
                        PARTITION BY event_type ORDER BY ts, event_id)
                        > $cascadeGapUs
                    THEN 1 ELSE 0 END AS brk
        FROM events),
      -- the island cumsum MUST accumulate in the same (t, id) order the
      -- breaks were computed in, or a same-µs tie can land in the wrong
      -- island
      isl AS (SELECT event_type, value, t,
                     CAST(sum(brk) OVER (PARTITION BY event_type
                       ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS grp
              FROM g),
      c AS (SELECT event_type, grp, count(*)::BIGINT AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS notional,
                   min(t) AS t0, max(t) AS t1
            FROM isl GROUP BY 1, 2)
      SELECT event_type,
             strftime(make_timestamp(t0), '%Y-%m-%d %H:%M:%S.%f')
               AS cascade_start,
             n, notional, t1 - t0 AS span_us
      FROM c WHERE n >= $cascadeMinN
      ORDER BY event_type, cascade_start""",
    // same exact-µs gaps, BIGINT/HUGEINT moments, one double tree
    "ts_burstiness" -> """
      WITH g AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(lag(ts, 1) OVER (
                 PARTITION BY event_type ORDER BY ts, event_id)) AS g
        FROM events),
      m AS (SELECT event_type, count(*)::BIGINT AS n,
                   CAST(sum(g) AS BIGINT) AS sg,
                   sum(g::HUGEINT * g) AS sgg
            FROM g WHERE g IS NOT NULL GROUP BY 1 HAVING count(*) >= 2)
      SELECT event_type, n AS n_gaps,
             floor(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 * 1e6 + 0.5)
               / 1e6 AS mean_gap_s,
             floor((sqrt(greatest((CAST(sgg AS DOUBLE) * CAST(n AS DOUBLE)
                                   - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                                  / (CAST(n AS DOUBLE)
                                     * (CAST(n AS DOUBLE) - 1.0)), 0.0))
                    - CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
                   / nullif(sqrt(greatest((CAST(sgg AS DOUBLE)
                                           * CAST(n AS DOUBLE)
                                   - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                                  / (CAST(n AS DOUBLE)
                                     * (CAST(n AS DOUBLE) - 1.0)), 0.0))
                            + CAST(sg AS DOUBLE) / CAST(n AS DOUBLE), 0.0)
                   * 1e6 + 0.5) / 1e6 AS burstiness
      FROM m ORDER BY event_type""",
    // the identical integer DP replayed cell-by-cell: one recursive CTE
    // advances (i, j) in row-major order carrying (prev row, growing cur
    // row) lists; same INF sentinel, same global zero-filled day grid
    "ts_dtw" -> s"""
      WITH RECURSIVE bnd AS (
        SELECT min(epoch_us(ts) // 86400000000) AS lo,
               max(epoch_us(ts) // 86400000000) AS hi FROM events),
      daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
                       count(*)::BIGINT AS y
                FROM events GROUP BY 1, 2),
      grid AS (SELECT event_type,
                      unnest(generate_series((SELECT lo FROM bnd),
                                             (SELECT hi FROM bnd))) AS d
               FROM (SELECT DISTINCT event_type FROM daily) t),
      filled AS (SELECT g.event_type, g.d, coalesce(y, 0::BIGINT) AS y
                 FROM grid g LEFT JOIN daily USING (event_type, d)),
      series AS (SELECT event_type, list(y ORDER BY d) AS ys
                 FROM filled GROUP BY 1),
      pairs AS (SELECT a.event_type AS ta, b2.event_type AS tb,
                       a.ys AS av, b2.ys AS bv
                FROM series a JOIN series b2
                  ON a.event_type < b2.event_type),
      dp AS (
        SELECT ta, tb, av, bv, 1 AS i, 1 AS j,
               list_concat([0::BIGINT],
                 list_transform(bv, x -> ${dtwInf}::BIGINT)) AS prev,
               [${dtwInf}::BIGINT] AS cur
        FROM pairs
        UNION ALL
        SELECT ta, tb, av, bv,
               CASE WHEN j < len(bv) THEN i ELSE i + 1 END,
               CASE WHEN j < len(bv) THEN j + 1 ELSE 1 END,
               CASE WHEN j < len(bv) THEN prev
                    ELSE list_append(cur, abs(av[i] - bv[j])
                           + least(prev[j + 1], cur[j], prev[j])) END,
               CASE WHEN j < len(bv)
                    THEN list_append(cur, abs(av[i] - bv[j])
                           + least(prev[j + 1], cur[j], prev[j]))
                    ELSE [${dtwInf}::BIGINT] END
        FROM dp WHERE i <= len(av))
      SELECT ta, tb, CAST(len(av) AS BIGINT) AS n,
             prev[len(bv) + 1] AS dtw,
             floor(prev[len(bv) + 1]::DOUBLE
                   / (2.0e0 * CAST(len(av) AS BIGINT)::DOUBLE)
                   * 1e6 + 0.5) / 1e6 AS dtw_norm
      FROM dp WHERE i = len(av) + 1
      ORDER BY ta, tb""",
    // same daily cents aggregate, same pmod weekday selector, same exact
    // cross-multiplied 3-sigma integers (HUGEINT both sides of the compare)
    "ts_dow_anomaly" -> """
      WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS d,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        FROM events GROUP BY 1, 2),
      base AS (
        SELECT event_type, ((d % 7) + 7) % 7 AS dow,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(yc) AS BIGINT) AS s,
               CAST(sum(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS q
        FROM daily GROUP BY 1, 2)
      SELECT dl.event_type, CAST(dl.d AS BIGINT) AS d,
             CAST(((dl.d % 7) + 7) % 7 AS BIGINT) AS dow,
             dl.yc, b.n AS n_dow,
             CAST(b.n >= 4 AND
                  CAST(b.n * dl.yc - b.s AS HUGEINT)
                    * CAST(b.n * dl.yc - b.s AS HUGEINT)
                  > 9 * (b.n * b.q - CAST(b.s AS HUGEINT) * b.s)
                  AS INTEGER) AS flagged
      FROM daily dl JOIN base b
        ON b.event_type = dl.event_type AND b.dow = ((dl.d % 7) + 7) % 7
      ORDER BY dl.event_type, dl.d""",
    // same daily cents aggregate, same pinned median convention: sorted
    // trailing-7 list, element (n+1) div 2
    "ts_rolling_med" -> """
      WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS d,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
        FROM events GROUP BY 1, 2)
      SELECT event_type, CAST(d AS BIGINT) AS d, yc,
             CAST(count(*) OVER w AS BIGINT) AS n_trail,
             CAST(list_sort(list(yc) OVER w)[
               CAST((count(*) OVER w + 1) // 2 AS INT)] AS BIGINT)
               AS med_cents
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY event_type, d""",
    "win_daily" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY day""",
    "window_sliding" ->
      """SELECT strftime(date_trunc('hour', ts) - k * INTERVAL 1 HOUR,
                         '%Y-%m-%d %H:%M:%S.%f') AS w_start,
                count(*) AS cnt
         FROM events, unnest(range(0, 6)) t(k)
         GROUP BY 1 ORDER BY w_start""",
    // same arithmetic weekday from CALENDAR day counts (0=Sunday; DATE
    // subtraction floors pre-1970 like Spark datediff; the +7 wrap
    // handles DuckDB's sign-of-dividend %), same calendar hour(), same
    // integer permille over the <=168-cell frame
    "win_heatmap" -> """
      WITH g AS (
        SELECT CAST(((CAST(ts AS DATE) - DATE '1970-01-01' + 4) % 7 + 7)
                    % 7 AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hour,
               count(*) AS cnt
        FROM events GROUP BY 1, 2)
      SELECT dow, hour, cnt,
             cnt * 1000 // CAST(sum(cnt) OVER () AS BIGINT) AS share_pm
      FROM g ORDER BY dow, hour""",
    // same session CTE as window_session, bucketed; permille over the
    // total session count via a window on the 5-row bucket aggregate
    "session_depth" ->
      """WITH g AS (
           SELECT user_id, ts,
                  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 8 HOUR OR
                            lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       THEN 1 ELSE 0 END AS new_session
           FROM events),
         s AS (
           SELECT user_id,
                  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g),
         d AS (SELECT count(*) AS cnt FROM s GROUP BY user_id, sid),
         b AS (
           SELECT CASE WHEN cnt = 1 THEN 1 WHEN cnt = 2 THEN 2
                       WHEN cnt <= 5 THEN 3 WHEN cnt <= 10 THEN 4
                       ELSE 5 END AS bucket_ord,
                  count(*) AS n_sessions
           FROM d GROUP BY 1)
         SELECT bucket_ord,
                CASE bucket_ord WHEN 1 THEN '1' WHEN 2 THEN '2'
                     WHEN 3 THEN '3-5' WHEN 4 THEN '6-10'
                     ELSE '11+' END AS depth,
                n_sessions,
                n_sessions * 1000
                  // CAST(sum(n_sessions) OVER () AS BIGINT) AS sessions_pm
         FROM b ORDER BY bucket_ord""",
    "window_session" ->
      """WITH g AS (
           SELECT user_id, ts, value,
                  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 8 HOUR OR
                            lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       THEN 1 ELSE 0 END AS new_session
           FROM events),
         s AS (
           SELECT user_id, ts, value,
                  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT user_id,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "sink_csv_daily" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                count(*) AS cnt
         FROM events GROUP BY 1 ORDER BY day""",
    // arg_min/arg_max over the same packed ordering key the Spark side
    // builds; open/high/low/close are raw parquet doubles (bit-identical in
    // both engines), volume goes through the exact DECIMAL sum
    "candles" ->
      """WITH b AS (
           SELECT event_type, date_trunc('hour', ts) AS h, value,
                  (epoch_us(ts) % 3600000000) * 2147483648
                    + (event_id % 2147483648) AS ord
           FROM events)
         SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S.%f') AS hour,
                arg_min(value, ord) AS open,
                max(value) AS high, min(value) AS low,
                arg_max(value, ord) AS close,
                count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
         FROM b GROUP BY 1, 2 ORDER BY event_type, hour""",
    // the DIRECT daily aggregation over raw events — the Spark side rolls
    // up from hourly, so a hash match proves the two levels agree exactly.
    // Tie semantics are IDENTICAL by construction, not assumed away: the
    // rollup's effective daily order is lexicographic (hour, within-hour
    // packed key) = (absolute µs, event_id % 2^31), and the oracle uses
    // exactly that key — HUGEINT (int128) arithmetic, since µs × 2^31
    // overflows BIGINT at day scale
    "candles_daily" ->
      """WITH b AS (
           SELECT event_type, date_trunc('day', ts) AS d, value,
                  epoch_us(ts)::HUGEINT * 2147483648
                    + (event_id % 2147483648) AS ord
           FROM events)
         SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
                arg_min(value, ord) AS open,
                max(value) AS high, min(value) AS low,
                arg_max(value, ord) AS close,
                count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
         FROM b GROUP BY 1, 2 ORDER BY event_type, day""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_daily" -> windowTumblingDaily _,
    "window_sliding" -> windowSliding _,
    "window_session" -> windowSession _,
    "session_depth" -> sessionDepth _,
    "win_heatmap" -> winHeatmap _,
    "sink_csv_daily" -> sinkCsvDaily _,
    "candles" -> candles _,
    "candles_daily" -> candlesDaily _,
    "ts_fill" -> tsFill _,
    "ts_ewma" -> tsEwma _,
    "ts_rolling_med" -> tsRollingMedian _,
    "ts_dow_anomaly" -> tsDowAnomaly _,
    "ts_acf" -> tsAcf _,
    "ts_xcorr" -> tsXcorr _,
    "ts_dtw" -> tsDtw _,
    "ts_burstiness" -> tsBurstiness _,
    "cascades" -> cascades _,
    "ts_holt" -> tsHolt _,
    "win_rolling_distinct" -> winRollingDistinct _,
    "ts_mk_trend" -> tsMkTrend _,
    "ts_theil_sen" -> tsTheilSen _,
    "ts_hampel" -> tsHampel _,
    "ts_seasonal" -> tsSeasonal _,
    "ts_stl" -> tsStl _,
    "ts_changepoint" -> tsChangepoint _,
    "ts_cusum" -> tsCusum _,
    "ts_sax" -> tsSax _,
    "ts_pacf" -> tsPacf _,
    "ts_periodicity" -> tsPeriodicity _,
    "win_reach_hourly" -> winReachHourly _,
    "ts_holt_winters" -> tsHoltWinters _,
    "win_concurrency" -> ((s, d) => winConcurrency(s, d)),
    "twap" -> twap _,
    "trending" -> trending _,
  )
}
