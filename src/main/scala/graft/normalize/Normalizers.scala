package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas

/** The five exchange normalizers — the reference engine's core competency
  * (liq-stream `adapters/`), re-expressed as pure `DataFrame => DataFrame`
  * projection pipelines over `from_json`.
  *
  * Input contract: a DataFrame with a StringType `raw` column, one upstream
  * frame/line per row (a WebSocket frame or a node-log line). Output: the
  * unified 10-column schema ([[graft.model.Schemas.unified]]). Everything is
  * Catalyst expressions — PERMISSIVE parsing makes malformed rows null and a
  * filter drops them, replicating the reference's per-row try/except dead-
  * letter tolerance (`binance_adapter.py:93-94` etc.) without breaking
  * whole-stage codegen.
  *
  * The same functions serve batch (testing, replay of recorded frames) and
  * Structured Streaming (applied over `readStream` — see graft.streaming).
  */
object Normalizers {

  /** Lenient string→double: garbage/absent → 0.0 — parity with the
    * reference's `_to_float` (`bybit_adapter.py:17-21`). */
  private def toFloat0(c: Column): Column =
    coalesce(c.try_cast(DoubleType), lit(0.0))

  /** First non-empty string of the or-chain — Python `a or b or "0"` over
    * string fields treats "" as falsy (`binance_adapter.py:73-74`). */
  private def firstNonEmpty(cs: Column*): Column =
    coalesce(cs.map(c => when(c.isNotNull && c =!= "", c)) :+ lit("0"): _*)

  /** Seconds-vs-milliseconds heuristic + ISO-8601 fallback — liq-stream
    * `hyperliquid_adapter.py:14-36` `_to_ms`: numeric < 1e12 means seconds,
    * else ms; non-numeric strings parse as ISO timestamps. */
  def toMs(c: Column): Column = {
    val num = c.try_cast(DoubleType)
    when(num.isNotNull,
      when(num < 1e12, (num * 1000).cast(LongType)).otherwise(num.cast(LongType)))
      .otherwise(unix_millis(c.try_cast(TimestampType)))
  }

  /** Project to the exact unified schema (order + types). */
  private def finish(df: DataFrame): DataFrame =
    df.select(
      col("exchange").cast(StringType),
      col("market").cast(StringType),
      col("symbol").cast(StringType),
      col("side").cast(StringType),
      col("qty").cast(DoubleType),
      col("price").cast(DoubleType),
      col("notional").cast(DoubleType),
      col("ts_exch_ms").cast(LongType),
      col("ts_ingest_ms").cast(LongType),
      col("raw").cast(StringType))

  /** Binance / Aster `!forceOrder@arr` normalizer (liq-stream
    * `binance_adapter.py:41-94`, `aster_adapter.py:34-89` — the two are
    * byte-for-byte the same shape). The payload may be one event object or an
    * array of them (`:60-61`): single objects are wrapped into a 1-element
    * array before the explode so one plan covers both.
    *
    * Field semantics (`:62-94`): side BUY→short / SELL→long (`:16-23` — the
    * side that *got liquidated*); price = first non-empty of `o.ap`,`o.p`;
    * qty = `o.l`,`o.z`,`o.q`; ts = `E` else `o.T`, 0 coerced to null
    * (`:67-71`); notional = price*qty when both non-zero else null (`:78`).
    * Rows with unparseable numerics are dropped (the reference's per-event
    * try/except, `:62,93-94`).
    */
  def binance(rawDf: DataFrame, market: String, ingestMs: Column = defaultIngest,
      exchange: String = "binance"): DataFrame = {
    val asArray = when(ltrim(col("raw")).startsWith("["),
        from_json(col("raw"), ArrayType(Schemas.binanceEvent)))
      .otherwise(array(from_json(col("raw"), Schemas.binanceEvent)))
    val events = rawDf
      .select(explode(asArray).as("ev"))
      .filter(col("ev").isNotNull && col("ev.o").isNotNull)
    val price = firstNonEmpty(col("ev.o.ap"), col("ev.o.p")).try_cast(DoubleType)
    val qty = firstNonEmpty(col("ev.o.l"), col("ev.o.z"), col("ev.o.q")).try_cast(DoubleType)
    finish(events
      .select(
        lit(exchange).as("exchange"),
        lit(market).as("market"),
        coalesce(col("ev.o.s"), lit("")).as("symbol"),
        when(upper(col("ev.o.S")) === "BUY", "short")
          .when(upper(col("ev.o.S")) === "SELL", "long").as("side"),
        qty.as("qty"),
        price.as("price"),
        nullif(coalesce(col("ev.E"), col("ev.o.T"), lit(0L)), lit(0L)).as("ts_exch_ms"),
        ingestMs.as("ts_ingest_ms"),
        to_json(col("ev")).as("raw"))
      .filter(col("price").isNotNull && col("qty").isNotNull)
      .withColumn("notional",
        when(col("price") =!= 0 && col("qty") =!= 0, col("price") * col("qty"))))
  }

  /** Aster is Binance-shaped (liq-stream `aster_adapter.py`). */
  def aster(rawDf: DataFrame, market: String, ingestMs: Column = defaultIngest): DataFrame =
    binance(rawDf, market, ingestMs, exchange = "aster")

  /** Bybit v5 normalizer (liq-stream `bybit_adapter.py:145-227`): frames are
    * routed by topic prefix — `allLiquidation.SYM` (new schema `{T,s,S,v,p}`)
    * vs legacy `liquidation.SYM` (`{updatedTimeE6,symbol,side,size,price}`);
    * anything else is dropped (`:145-170`). Numerics go through `_to_float`
    * (garbage→0.0, `:17-21`); side decodes lowercased Sell→long / Buy→short
    * (`:188-192`); legacy timestamps are µs and convert with /1000, falling
    * back to the envelope `ts` (`:199-206`); notional is 0.0 (not null) when
    * either factor is falsy (`:197`).
    */
  def bybit(rawDf: DataFrame, market: String, ingestMs: Column = defaultIngest): DataFrame = {
    val env = rawDf.select(from_json(col("raw"), Schemas.bybitEnvelope).as("env"))
      .filter(col("env").isNotNull && col("env.topic").isNotNull &&
        (col("env.topic").startsWith("allLiquidation.") ||
         col("env.topic").startsWith("liquidation.")))
    // data may be a list (new topic) or a bare dict (legacy, :160-169): it is
    // captured as raw JSON text by the envelope schema and array-wrapped here.
    val dataArr = when(ltrim(col("env.data")).startsWith("["),
        from_json(col("env.data"), ArrayType(Schemas.bybitRow)))
      .otherwise(array(from_json(col("env.data"), Schemas.bybitRow)))
    val rows = env.select(
      col("env.topic").as("topic"), col("env.ts").as("env_ts"),
      explode(dataArr).as("d"))
      .filter(col("d").isNotNull)
    val topicSym = substring_index(col("topic"), ".", -1)
    val isNew = col("topic").startsWith("allLiquidation.")
    val sideRaw = lower(when(isNew, col("d.S")).otherwise(col("d.side")))
    val price = toFloat0(when(isNew, col("d.p")).otherwise(col("d.price")))
    val qty = toFloat0(when(isNew, col("d.v"))
      .otherwise(firstNonEmpty(col("d.size"), col("d.qty"))))
    val ts = coalesce(
      col("d.T"),
      (col("d.updatedTimeE6").try_cast(LongType) / 1000).cast(LongType),
      col("env_ts"))
    finish(rows
      .select(
        lit("bybit").as("exchange"),
        lit(market).as("market"),
        coalesce(when(isNew, col("d.s")).otherwise(col("d.symbol")), topicSym).as("symbol"),
        when(sideRaw === "sell", "long").when(sideRaw === "buy", "short").as("side"),
        qty.as("qty"),
        price.as("price"),
        when(col("price") =!= 0 && col("qty") =!= 0, col("price") * col("qty"))
          .otherwise(lit(0.0)).as("notional"),
        ts.as("ts_exch_ms"),
        ingestMs.as("ts_ingest_ms"),
        to_json(col("d")).as("raw")))
  }

  /** OKX `liquidation-orders` normalizer (liq-stream `okx_adapter.py:43-107`):
    * channel guard (`:60-65`), two-level explode `data[] → details[]`
    * (`:68-77`), market filter on instId suffix (`:15-21,70-73`), side =
    * posSide passthrough when ∈ {long,short} (`:82-83`), price = `fillPx`
    * else `bkPx` (`:85`), notional null unless both factors truthy.
    */
  def okx(rawDf: DataFrame, market: String, ingestMs: Column = defaultIngest): DataFrame =
    okxOf(rawDf, Seq(market), ingestMs)

  private def okxSuffix(market: String): String = market match {
    case "usdt" => "-USDT-SWAP"
    case "usdc" => "-USDC-SWAP"
    case _      => "-USD-SWAP"
  }

  /** [[okx]] over the instruments of every market in `markets`, each row
    * labelled `markets.head`. */
  private def okxOf(rawDf: DataFrame, markets: Seq[String],
      ingestMs: Column = defaultIngest): DataFrame = {
    val env = rawDf.select(from_json(col("raw"), Schemas.okxEnvelope).as("env"))
      .filter(col("env").isNotNull && col("env.arg.channel") === "liquidation-orders")
    val inst = env.select(explode(col("env.data")).as("inst"))
      .filter(markets.map(m => col("inst.instId").endsWith(okxSuffix(m))).reduce(_ || _))
    val det = inst.select(col("inst.instId").as("instId"),
      explode(col("inst.details")).as("d"))
    val price = firstNonEmpty(col("d.fillPx"), col("d.bkPx")).try_cast(DoubleType)
    finish(det
      .select(
        lit("okx").as("exchange"),
        lit(markets.head).as("market"),
        col("instId").as("symbol"),
        when(col("d.posSide").isin("long", "short"), col("d.posSide")).as("side"),
        toFloat0(col("d.sz")).as("qty"),
        price.as("price"),
        col("d.ts").try_cast(LongType).as("ts_exch_ms"),
        ingestMs.as("ts_ingest_ms"),
        to_json(col("d")).as("raw"))
      .filter(col("price").isNotNull)
      .withColumn("notional",
        when(col("price") =!= 0 && col("qty") =!= 0, col("price") * col("qty"))))
  }

  /** One capture's rows for every requested market, from one parse of it
    * (`stream.py:93-99` runs one adapter per pair; here the pairs that
    * read one capture share it). Binance, Aster and Bybit rows differ only
    * in `market`; OKX keeps each instrument for every requested market
    * whose instId suffix it carries. A market listed twice yields its rows
    * twice, as two adapters would. */
  def forMarkets(exchange: String, rawDf: DataFrame, markets: Seq[String]): DataFrame =
    exchange match {
      case "binance" => withMarkets(binance(rawDf, markets.head), markets)
      case "aster" => withMarkets(aster(rawDf, markets.head), markets)
      case "bybit" => withMarkets(bybit(rawDf, markets.head), markets)
      case "okx" => withMarkets(okxOf(rawDf, markets), markets,
        m => col("symbol").endsWith(okxSuffix(m)))
      case other => throw new IllegalArgumentException(s"unknown exchange: $other")
    }

  /** `normalized` (labelled `markets.head`) once per market in `markets`
    * whose `keep` holds for the row, labelled with that market. One market
    * returns `normalized` itself, so a single pair keeps its plan. */
  private[graft] def withMarkets(normalized: DataFrame, markets: Seq[String],
      keep: String => Column = _ => lit(true)): DataFrame =
    if (markets.size == 1) normalized
    else normalized
      .select(col("*"), explode(array(markets.map(m =>
        struct(lit(m).as("name"), keep(m).as("keep"))): _*)).as("mk"))
      .filter(col("mk.keep"))
      .select(normalized.columns.toIndexedSeq.map(c =>
        if (c == "market") col("mk.name").as(c) else col(c)): _*)

  /** Hyperliquid node-fill normalizer (liq-stream
    * `hyperliquid_adapter.py:166-257`). Each line holds `events` as an array
    * of heterogeneous `[taker_address, fill_object]` pairs; the parser keeps
    * the fill as raw JSON text inside an `array<array<string>>` slot and
    * re-parses it, so the whole pipeline stays in Catalyst (see
    * [[graft.model.Schemas.hyperliquidLine]]).
    *
    * Pipeline, in reference order: substring prefilter before the JSON parse
    * (`:266-267`); keep only fills carrying a `liquidation` object whose
    * `liquidatedUser` equals the taker (self-liquidation rule, `:181-188`);
    * min-size threshold on |sz| (`:190-192`); exact dedup on
    * (tid, liquidatedUser, coin) — the reference approximates this with a
    * 50k-entry FIFO ring (`:148-164`); batch Spark does it exactly, streaming
    * uses dropDuplicatesWithinWatermark. Symbol synthesizes as
    * upper(coin)+"USDC" (`:222-224`); side decodes from `dir` text else
    * A→long / B→short (`:50-60`); ts prefers block_time over local_time
    * through the seconds-vs-ms heuristic (`:14-36,220`).
    */
  def hyperliquid(rawDf: DataFrame, market: String = "usdc",
      minAbsSz: Double = 0.0, ingestMs: Column = defaultIngest): DataFrame = {
    // Exact dedup on the reference's ring key tid|liquidatedUser|coin
    // (hyperliquid_adapter.py:153-154). The ring keeps the FIRST occurrence
    // (the file is processed in time order), so the earliest event time
    // survives — a deterministic keyed window, not dropDuplicates (which
    // keeps an arbitrary row and would flap across partition layouts).
    // Batch-only (window fn); the streaming path uses
    // dropDuplicatesWithinWatermark instead (graft.streaming).
    val pairs = hyperliquidPairs(rawDf, minAbsSz)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("tid"), col("taker"), col("coin"))
          .orderBy(col("ts_ms"))))
      .filter(col("rn") === 1)
    hyperliquidUnified(pairs, market, ingestMs)
  }

  /** Deduplicated Hyperliquid pairs → the unified schema: the projection
    * shared by the batch normalizer and the streaming assembly. */
  private[graft] def hyperliquidUnified(pairs: DataFrame, market: String,
      ingestMs: Column = defaultIngest): DataFrame = {
    val dirLower = lower(col("fill.dir"))
    val price = toFloat0(col("fill.px"))
    val qty = abs(toFloat0(col("fill.sz")))
    // one select in unified column order: the optimizer folds it and
    // finish's no-op casts into a single projection over the pairs
    finish(pairs.select(
      lit("hyperliquid").as("exchange"),
      lit(market).as("market"),
      concat(upper(col("coin")), lit("USDC")).as("symbol"),
      when(dirLower.contains("close long"), "long")
        .when(dirLower.contains("close short"), "short")
        .when(upper(col("fill.side")) === "A", "long")
        .when(upper(col("fill.side")) === "B", "short").as("side"),
      qty.as("qty"),
      price.as("price"),
      when(price =!= 0 && qty =!= 0, price * qty).as("notional"),
      col("ts_ms").as("ts_exch_ms"),
      ingestMs.as("ts_ingest_ms"),
      col("fill_raw").as("raw")))
  }

  /** Shared Hyperliquid pair-extraction stage: prefilter → parse → explode →
    * self-liquidation filter → size threshold, with the dedup key columns
    * (tid, taker, coin) and event-time ts_ms exposed. Used by the batch
    * normalizer (window dedup on top) and the streaming assembly
    * (dropDuplicatesWithinWatermark on top). */
  def hyperliquidPairs(rawDf: DataFrame, minAbsSz: Double = 0.0): DataFrame = {
    val parsed = rawDf
      .filter(col("raw").contains("liquidation")) // cheap prefilter before parse
      .select(from_json(col("raw"), Schemas.hyperliquidLine).as("line"))
      // the reference LOGS each skipped line (hyperliquid_adapter.py:167-170);
      // the Spark analog is an observed metric — per-(micro-)batch counts of
      // parsed vs dead-lettered lines, surfaced in StreamingQueryProgress
      // .observedMetrics / QueryExecutionListener without a second pass or
      // any caching (CollectMetrics is a streaming pass-through)
      .observe("hl_parse",
        count(lit(1)).as("lines"),
        count(when(col("line").isNull || col("line.events").isNull, lit(1)))
          .as("dead_letters"))
    val lines = parsed
      .filter(col("line").isNotNull && col("line.events").isNotNull)
    lines.select(
      col("line.local_time").as("local_time"),
      col("line.block_time").as("block_time"),
      explode(col("line.events")).as("pair"))
      .filter(size(col("pair")) >= 2)
      .select(
        col("local_time"), col("block_time"),
        lower(col("pair").getItem(0)).as("taker"),
        col("pair").getItem(1).as("fill_raw"))
      .withColumn("fill", from_json(col("fill_raw"), Schemas.hyperliquidFill))
      .filter(col("fill").isNotNull && col("fill.liquidation").isNotNull)
      .filter(lower(col("fill.liquidation.liquidatedUser")) === col("taker"))
      .filter(abs(col("fill.sz").try_cast(DoubleType)) >= minAbsSz)
      .withColumn("ts_ms",
        coalesce(toMs(col("block_time")), toMs(col("local_time"))))
      .withColumn("tid", col("fill.tid"))
      .withColumn("coin", col("fill.coin"))
  }

  /** Union of heterogeneous normalized streams into one — the reference fans
    * 8 streams into one shared sink (liq-stream `stream.py:169-188`). */
  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_ unionByName _)

  private def defaultIngest: Column = unix_millis(current_timestamp())
}
