package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator surface: scans, filters, projections, aggregations,
  * joins, window functions, top-k, set ops.
  *
  * The reference engine (liquidation-labs/liq-stream) has filters/projections
  * only (SURVEY.md §2.2); everything else here is the analytical closure the
  * driver mandates (SURVEY.md §2.6). All ops are declarative DataFrame plans —
  * Catalyst handles pushdown, pruning, join strategy selection, and AQE
  * re-planning; nothing here hand-schedules execution.
  */
object Relational {

  // ── scans ────────────────────────────────────────────────────────────────

  /** Projection + filter pushed down to the parquet scan. At 100 TB the scan
    * reads only 4 of 11 columns and skips row groups via min/max stats on
    * l_quantity (explain shows PushedFilters + pruned ReadSchema). */
  def scanLineitem(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .filter(col("l_quantity") >= 45)
      // (l_orderkey, l_linenumber) is NOT unique in the corpus (~20% dup
      // pairs with differing values) — every ORDER BY must be total
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** Analog of the reference's file-tail scan over event rows
    * (liq-stream `hyperliquid_adapter.py:259-274`), batch form. */
  def scanEvents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
      .filter(col("event_type") === "purchase")
      .orderBy("event_id")

  // ── filters / projections (reference §2.2 shapes on driver tables) ──────

  /** Fixed-schema projection with null-fill for a missing column — the
    * reference projects every row to exactly its 10 known columns and blanks
    * the rest (liq-stream `writer_csv.py:36`, `writer_pg.py:145`). */
  def projectSchema(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(
        col("event_id"), col("event_type"), col("value"),
        lit(null).cast(StringType).as("missing_col"))
      .orderBy("event_id")

  /** Suffix filter — the reference keeps OKX instruments by instId suffix
    * (liq-stream `okx_adapter.py:15-21,70-73`). */
  def filterSuffix(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .filter(col("c_name").endsWith("7"))
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Prefix filter — Bybit routes frames by topic prefix
    * (liq-stream `bybit_adapter.py:145-170`). */
  def filterPrefix(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part")
      .filter(col("p_brand").startsWith("Brand#1"))
      .select("p_partkey", "p_brand")
      .orderBy("p_partkey")

  /** Substring prefilter — the reference skips lines without "liquidation"
    * before paying for the JSON parse (liq-stream
    * `hyperliquid_adapter.py:266-267`). Cheap predicate ordered before
    * expensive work; here it prunes the parquet scan itself. */
  def filterContains(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter(col("text").contains("spark vector"))
      .select("doc_id", "n_chars")
      .orderBy("doc_id")

  /** Threshold filter on absolute size (liq-stream
    * `hyperliquid_adapter.py:190-192`). */
  def filterThreshold(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .filter(abs(col("value")) >= 15)
      .select("event_id", "value")
      .orderBy("event_id")

  /** Column-equality filter (liq-stream `hyperliquid_adapter.py:185-188`:
    * keep fill only when taker == liquidatedUser). */
  def filterEqCols(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .filter(col("l_quantity") === (col("l_linenumber") * 7).cast(DoubleType))
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  /** CASE-based enum decode — the reference maps exchange side codes to
    * long/short (liq-stream `binance_adapter.py:16-23`, `bybit_adapter.py:
    * 188-192`, `hyperliquid_adapter.py:50-60`). */
  def caseSideDecode(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(
        col("event_id"),
        when(col("event_type").isin("purchase", "signup"), "long")
          .when(col("event_type").isin("click", "view"), "short")
          .otherwise(lit(null).cast(StringType)).as("side"))
      .orderBy("event_id")

  /** Derived column with null-guard — notional = price*qty when both truthy
    * (liq-stream `binance_adapter.py:78`). */
  def deriveNotional(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_extendedprice") > 0 && col("l_quantity") > 0,
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
          .otherwise(lit(null).cast(DoubleType)).as("notional"))
      .orderBy("l_orderkey", "l_linenumber", "notional")

  /** Keyed dedup keeping the earliest row — the reference's bounded dedup
    * ring made exact and deterministic (liq-stream
    * `hyperliquid_adapter.py:148-164`): first occurrence per key survives,
    * picked by a per-key window instead of dropDuplicates (which keeps an
    * arbitrary row). */
  def dedupKeys(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    table(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        tsStr(col("ts")).as("ts"))
      .orderBy("event_id")
  }

  /** Symbol synthesis — HL builds `upper(coin) + "USDC"` (liq-stream
    * `hyperliquid_adapter.py:222-224`). */
  def stringConcatUpper(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        concat(upper(col("lang")), lit("-"), col("source")).as("tag"))
      .orderBy("doc_id")

  // ── aggregations ─────────────────────────────────────────────────────────

  /** Hash aggregate by key — "counts by exchange" dashboards
    * (liq-stream `CHANGELOG.md:13`). Map-side partial agg + single shuffle on
    * the group keys; sums go through DECIMAL so they are exact regardless of
    * partition order (safe under AQE re-plans at scale). */
  def aggByKey(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumMoney(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_base"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** ROLLUP over the exchange×market-style hierarchy. */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        sumMoney(col("l_quantity")).as("sum_qty"))
      .select(
        col("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("cnt"), col("sum_qty"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  /** ROLLUP over the TIME hierarchy — the OLAP dashboard's serving shape:
    * day, month, and grand totals materialized in ONE pass (each input
    * row expands into its prefix grouping sets map-side; one shuffle
    * serves every zoom level), instead of three queries or a re-scan per
    * drill-out. Month/day are emitted as strings with 'ALL' sentinels so
    * the three levels coexist in one frame; gid disambiguates a real
    * 'ALL' from the rolled-up one. This is [[aggRollup]]'s pattern turned
    * onto the hierarchy every time-series dashboard actually drills:
    * year→month→day over event time. */
  def aggTimeRollup(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM").as("month"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .rollup("month", "day")
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        sumMoney(col("value")).as("sum_value"))
      .select(col("gid"),
        coalesce(col("month"), lit("ALL")).as("month"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("cnt"), col("sum_value"))
      .orderBy("gid", "month", "day")

  /** WEIGHTED percentile — the distribution question where each row
    * counts `weight` times: the quantity-weighted median price treats a
    * 50-unit line as 50 observations of its price, which is the
    * shipment-level (not line-level) median a pricing report wants.
    * Spark's exact `percentile` takes the frequency inline — one pass, no
    * expansion; the ORACLE proves the semantics by literally expanding
    * each row `weight` times in DuckDB and taking the plain interpolated
    * quantile over the multiset — the definitional twin computed the
    * expensive way (fine at oracle scale, the thing the frequency
    * argument exists to avoid at 100 TB). */
  def aggWeightedPercentile(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, 0.5, CAST(l_quantity AS INT))")
          .as("p50"),
        expr("percentile(l_extendedprice, 0.9, CAST(l_quantity AS INT))")
          .as("p90"),
        sum(col("l_quantity").cast(LongType)).as("total_weight"))
      .select(col("l_returnflag"), roundD(col("p50"), 6).as("wp50"),
        roundD(col("p90"), 6).as("wp90"), col("total_weight"))
      .orderBy("l_returnflag")

  /** CUBE over both grouping dimensions — all 4 grouping sets in one pass
    * (expand + single keyed shuffle). */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        sumMoney(col("l_quantity")).as("sum_qty"))
      .select(
        col("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("cnt"), col("sum_qty"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  /** Boolean/conditional aggregates per user: count_if + bool_and/bool_or —
    * the predicate-summary shapes (error ratios, "did every event
    * convert") that otherwise get written as sum(case when...). Map-side
    * partial like any hash aggregate. */
  def aggBool(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy("user_id")
      .agg(
        count_if(col("event_type") === "error").as("n_errors"),
        bool_and(col("value") >= 0.0).as("all_nonneg"),
        bool_or(col("event_type") === "purchase").as("any_purchase"))
      .orderBy("user_id")

  /** Statistical aggregates — mean/variance/stddev/correlation — computed
    * cross-engine-exact: the five moment sums (Σx, Σy, Σx², Σy², Σxy) are
    * EXACT decimal aggregations (one keyed shuffle with map-side partials,
    * like any hash agg), and the variance/correlation combinations are
    * then a fixed sequence of IEEE double ops both engines evaluate
    * identically (each mul/sub/div/sqrt is correctly rounded, so identical
    * inputs + identical expression tree = identical bits — the
    * mm_audio_stats pattern). Spark's own var_samp/corr stream Welford-
    * style partials whose double accumulation is partition-order-
    * dependent — fine in production, but it would flap a hash-compare
    * oracle; the moment-sum form is also the one that scales (no second
    * pass, no sort). */
  /** HIGHER-MOMENT shape statistics — skewness and excess kurtosis per
    * group, completing [[aggStats]]'s mean/var/corr family with the
    * distribution-shape axes a feature-quality audit reads (asymmetric
    * tails, outlier mass). Same exact-moment decomposition: one pass
    * accumulates Σx..Σx⁴ as EXACT decimals (operands at DECIMAL(7,2) so
    * the 4th power stays inside 38 digits of precision in both engines),
    * map-side combined; the shape stats then derive in identical double
    * arithmetic and round 6 dp (absorbing DuckDB's decimal→double
    * double-rounding, the aggStats note). Moment-method (population)
    * form: g1 = √n·M3/M2^1.5, g2 = n·M4/M2² − 3 over central sums
    * expanded from the raw moments. */
  def aggSkewKurt(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast(DecimalType(7, 2))
    val s = table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    val (n, s1, s2, s3, s4) =
      (col("n").cast(DoubleType), col("s1").cast(DoubleType),
        col("s2").cast(DoubleType), col("s3").cast(DoubleType),
        col("s4").cast(DoubleType))
    val m2 = s2 - s1 * s1 / n
    val m3 = s3 - lit(3.0) * s1 * s2 / n + lit(2.0) * s1 * s1 * s1 / (n * n)
    val m4 = s4 - lit(4.0) * s1 * s3 / n +
      lit(6.0) * s1 * s1 * s2 / (n * n) -
      lit(3.0) * s1 * s1 * s1 * s1 / (n * n * n)
    s.select(col("l_returnflag"), col("n"),
        roundD(sqrt(n) * m3 / sqrt(m2 * m2 * m2), 6).as("skew_qty"),
        roundD(n * m4 / (m2 * m2) - lit(3.0), 6).as("kurt_qty"))
      .orderBy("l_returnflag")
  }

  /** FLAGSHIP STAR-JOIN ANALYTIC (TPC-H Q5 shape) — revenue from LOCAL
    * supply chains (customer and supplier in the same nation) per region
    * and nation: the canonical multi-join + aggregate every warehouse
    * query optimizer is judged on, and a deliberate end-to-end exercise
    * of the planner: the two DIMENSION chains (nation⋈region, twice) are
    * explicitly broadcast; the two FACT-side joins (lineitem⋈orders on
    * orderkey, orders⋈customer on custkey) shuffle on their keys; the
    * equality `c_nationkey = s_nationkey` prunes before the aggregate;
    * revenue sums exactly in decimal cents. Column pruning + filter
    * pushdown reach the scans (only 2 of lineitem's 11 columns are
    * read). At 100 TB this is the plan shape to check first: dims
    * broadcast (no shuffle), facts shuffle exactly twice, aggregation is
    * map-side partial. */
  def starRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
            col("l_discount").cast(DecimalType(18, 2)))).as("rev"))
    val nations = table(spark, dir, "nation")
      .join(broadcast(table(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    val supp = table(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("rev")).cast(DoubleType).as("revenue"))
      .orderBy("region", "nation")
  }

  def aggStats(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast(DecimalType(18, 2))
    val y = col("l_extendedprice").cast(DecimalType(18, 2))
    val s = table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    val (n, sx, sy, sxx, syy, sxy) =
      (col("n").cast(DoubleType), col("sx").cast(DoubleType),
        col("sy").cast(DoubleType), col("sxx").cast(DoubleType),
        col("syy").cast(DoubleType), col("sxy").cast(DoubleType))
    // the derived stats are rounded (6/9 dp, same half-up formula in the
    // oracle): DuckDB's DECIMAL(38,x)->DOUBLE cast goes through an int128
    // split that can double-round, so the combination inputs may differ
    // from Spark's correctly-rounded cast by one ulp — rounding the
    // outputs absorbs that without giving up the exact-moment shape
    s.select(col("l_returnflag"), col("n"),
        roundD(sx / n, 6).as("mean_qty"),
        roundD((n * sxx - sx * sx) / (n * (n - lit(1.0))), 6).as("var_qty"),
        roundD(sqrt((n * sxx - sx * sx) / (n * (n - lit(1.0)))), 6).as("std_qty"),
        roundD((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9).as("corr_qp"))
      .orderBy("l_returnflag")
  }

  /** Irregular GROUPING SETS — the grouping-set shapes ROLLUP/CUBE can't
    * express (here: the full pair, linestatus alone, and the grand total,
    * skipping returnflag-alone). Same single-pass expand + one keyed
    * shuffle as rollup/cube; same ALL/gid output convention. */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        sumMoney(col("l_quantity")).as("sum_qty"))
      .select(
        col("gid"),
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("cnt"), col("sum_qty"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  /** Approximate distinct (HLL++) — symbol-cardinality at 100 TB where exact
    * distinct would shuffle every key. The oracle is DuckDB's EXACT
    * count(DISTINCT); the match holds because per-group cardinality is ≤5
    * (event types) and those few values happen to land in distinct HLL
    * registers, so linear counting returns the exact count. This is a
    * property of this corpus, not of the algorithm — Spark's HLL++ has no
    * sparse/exact mode, and a register collision (possible as soon as new
    * event_type values appear) would break the equivalence. The spec below
    * (LlmOpsSpec "approx_distinct stays in its exact regime") guards the
    * assumption explicitly rather than letting the oracle drift silently. */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy("user_id")
      .agg(approx_count_distinct(col("event_type")).as("n_types"))
      .orderBy("user_id")

  /** MERGEABLE-sketch pre-aggregation — the pattern that makes "distinct
    * users per week/month/quarter" answerable at 100 TB without ever
    * re-scanning raw data: materialize one Datasketches HLL sketch per day
    * (`hll_sketch_agg`, a few KB each), then answer ANY coarser grain by
    * UNIONING the stored sketches (`hll_union_agg`) — the union costs
    * O(days·4KB), not O(raw rows), and unlike exact `count(DISTINCT)` the
    * daily level is re-aggregable (exact distinct counts do not add across
    * days; register-wise max does). This is the lake analog of serving the
    * reference feed's "unique liquidated accounts this week" without a
    * weekly raw scan.
    *
    * The oracle checks the exact weekly distinct + row counts; the sketch
    * columns are Spark-internal invariants surfaced as flags — `merged_ok`
    * (union-of-daily estimate within 5% of exact) and `direct_ok` (one-shot
    * weekly sketch within 5%) — constant-true columns the hash compare
    * still covers. LlmOpsSpec additionally asserts the merged and direct
    * estimates agree with each other (sketch mergeability). */
  def aggHllMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val daily = ev
      .groupBy(date_trunc("week", col("ts")).as("wk"),
        date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
    val merged = daily.groupBy("wk")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("merged"))
    val direct = ev.groupBy(date_trunc("week", col("ts")).as("wk"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("direct"),
        count_distinct(col("user_id")).as("exact"),
        count(lit(1)).as("n_rows"))
    direct.join(broadcast(merged), "wk")
      .select(date_format(col("wk"), "yyyy-MM-dd").as("week"),
        col("exact"), col("n_rows"),
        (abs(col("merged") - col("exact")) <= col("exact") * 0.05)
          .cast(IntegerType).as("merged_ok"),
        (abs(col("direct") - col("exact")) <= col("exact") * 0.05)
          .cast(IntegerType).as("direct_ok"))
      .orderBy("week")
  }

  /** Sketch-based SET INTERSECTION — [[aggHllMerge]] extended to the
    * question unions can't answer directly: "how many users were active
    * in BOTH consecutive weeks?" (retention's distinct-count form).
    * HLL sketches support only union natively; the intersection comes
    * from inclusion–exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B) —
    * computed entirely from the per-week sketches, so week-over-week
    * overlap for ANY pair costs two stored 4KB sketches and one scalar
    * `hll_union`, never a raw re-scan or an exact-distinct self-join.
    * The known cost: I–E differences error bounds ADD, so the estimate
    * flag uses a wider tolerance (20% of the union or ±8 absolute) than
    * the single-sketch 5%; the exact overlap (the oracle-checked column)
    * comes from the distinct (week, user) frame's self-join on
    * consecutive weeks. */
  def aggHllIntersect(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val wk = ev.select(date_trunc("week", col("ts")).as("wk"), col("user_id"))
      .distinct().materialized
    val sk = wk.groupBy("wk")
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
    // consecutive-week pairing as an EQUI join (w2 = w1 + 7d computed on
    // the build side) — a datediff predicate would plan as a nested loop
    val pairs = sk.select(col("wk").as("w1"), col("sk").as("s1"),
        (col("wk") + expr("INTERVAL 7 DAY")).as("wnext"))
      .join(sk.select(col("wk").as("w2"), col("sk").as("s2")),
        col("wnext") === col("w2"))
      .select(col("w1"), col("w2"),
        (hll_sketch_estimate(col("s1")) + hll_sketch_estimate(col("s2")) -
          hll_sketch_estimate(hll_union(col("s1"), col("s2"))))
          .as("est_ix"),
        hll_sketch_estimate(hll_union(col("s1"), col("s2"))).as("est_u"))
    val exact = wk.select(col("wk").as("w1"), col("user_id"))
      .join(wk.select(col("wk").as("w2"), col("user_id")), "user_id")
      .filter(datediff(col("w2"), col("w1")) === 7)
      .groupBy("w1", "w2").agg(count(lit(1)).as("exact_ix"))
    exact.join(broadcast(pairs), Seq("w1", "w2"))
      .select(date_format(col("w1"), "yyyy-MM-dd").as("week1"),
        date_format(col("w2"), "yyyy-MM-dd").as("week2"),
        col("exact_ix"),
        (abs(col("est_ix") - col("exact_ix")) <=
          greatest(col("est_u") * 0.2, lit(8.0)))
          .cast(IntegerType).as("ix_ok"))
      .orderBy("week1")
  }

  /** COUNT-MIN SKETCH point-frequency estimates (Cormode/Muthukrishnan,
    * 2005) — the other mergeable frequency summary next to
    * [[aggHllMerge]]'s HLL: a d×w counter grid answers "how often did key
    * x occur?" in O(d) lookups with one-sided error (estimate ≥ truth,
    * always — each of x's d cells counts every one of x's occurrences
    * plus collisions). The grid is built RELATIONALLY so the whole thing
    * is plans, not driver state: explode each row into its d (row,
    * bucket) cells map-side, then one keyed count — the grid (d·w rows,
    * constant in data size) is the only shuffle output, and grids from
    * different days/partitions merge by cell-wise addition, which is
    * exactly what the count aggregate already does. Probes are 5
    * data-derived keys (min/quartiles/max — the tiny driver bootstrap,
    * same shape as [[Formats.scanBloomPlan]]); estimate = min over the
    * probe's d cells, checked against the exact count and the ≥ guarantee.
    * Hashes are [[DedupOps.polyHash]] with a per-row salt, replayed
    * byte-for-byte by the oracle. */
  def freqCms(spark: SparkSession, dir: String): DataFrame = {
    val depth = 4
    val width = 256L
    def cell(id: org.apache.spark.sql.Column, j: Int): org.apache.spark.sql.Column =
      struct(lit(j).as("j"),
      (DedupOps.polyHash(concat(id.cast(StringType), lit(s"#cms$j"))) %
        width).as("b"))
    val ev = table(spark, dir, "events").select(col("user_id"))
    val cells = ev
      .select(explode(array((0 until depth).map(j =>
        cell(col("user_id"), j)): _*)).as("c"))
      .groupBy(col("c.j").as("j"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = ev.agg(min("user_id"), max("user_id")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val probes = (0 to 4).map(k => lo + (hi - lo) * k / 4).distinct
    import spark.implicits._
    val probeDf = probes.toDF("user_id")
    val est = probeDf
      .select(col("user_id"), explode(array((0 until depth).map(j =>
        cell(col("user_id"), j)): _*)).as("c"))
      .select(col("user_id"), col("c.j").as("j"), col("c.b").as("b"))
      .join(cells, Seq("j", "b"), "left")
      .groupBy("user_id")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
    val exact = probeDf
      .join(ev.filter(col("user_id").isin(probes: _*))
        .groupBy("user_id").agg(count(lit(1)).as("x")), Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("x"), lit(0L)).as("exact"))
    exact.join(est, "user_id")
      .select(col("user_id"), col("exact"), col("est"),
        (col("est") >= col("exact")).cast(IntegerType).as("over_ok"))
      .orderBy("user_id")
  }

  // ── joins ────────────────────────────────────────────────────────────────

  /** Equi hash join fact⋈dim, aggregated. Catalyst broadcasts the dim side
    * when it fits (autoBroadcastJoinThreshold); at 100 TB with a large dim it
    * degrades gracefully to shuffled hash join on the key. */
  def joinHash(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .join(table(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), sumMoney(col("o_totalprice")).as("sum_price"))
      .orderBy("c_mktsegment")

  /** Explicit broadcast join through the nation→region snowflake — small dims
    * are shipped to every executor; zero shuffle of the big side. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(broadcast(table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("r_name", "n_name")

  /** Left outer join preserving customers with zero orders. */
  def joinLeft(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(sumMoney(col("o_totalprice")), lit(0.0)).as("sum_price"))
      .orderBy("c_custkey")

  /** Full outer join: the reconciliation shape (rows surviving from either
    * side with nulls for the absent one) — here, high-balance customers vs
    * per-customer order totals, keeping customers with no orders AND order
    * groups whose customer misses the balance gate. Both sides are
    * pre-aggregated/filtered to one row per key, so the outer join itself
    * is a keyed shuffle of two slim frames (never row-level fanout). */
  def joinFull(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sumMoney(col("o_totalprice")).as("sum_orders"))
    val c = table(spark, dir, "customer")
      .filter(col("c_acctbal") > 5000.0)
      .select(col("c_custkey"), roundD(col("c_acctbal"), 2).as("acctbal"))
    o.join(c, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(
        coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        col("sum_orders"), col("acctbal"))
      .orderBy("custkey")
  }

  /** Left-semi join (EXISTS): customers having at least one order. Semi joins
    * ship only the join key of the right side — at scale this is the cheap
    * form of the EXISTS predicate. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Left-anti join (NOT EXISTS): customers with no orders — orphan
    * detection. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .join(table(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Range join: equi key + time-band predicate. The equi component keeps the
    * shuffle keyed (no cartesian); the band is evaluated post-match. */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    val l = table(spark, dir, "lineitem")
    val o = table(spark, dir, "orders")
    l.join(o,
        l("l_orderkey") === o("o_orderkey") &&
        l("l_shipdate") >= o("o_orderdate") &&
        l("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** As-of join: each event matched to the most recent order of the same
    * user at or before the event time.
    *
    * NOT composed as equi-join + rank: that fans out to O(orders-per-user)
    * candidate rows per event before the rank-1 filter — quadratic in the
    * per-key history, a blowup at 100 TB. Instead both sides are unioned
    * into one (user, time)-ordered stream and a running
    * `last_value(ignoreNulls)` carries the latest order forward to each
    * event row — one shuffle on user, one linear sort, zero fanout.
    *
    * Ordering details: at equal time, order rows sort before event rows
    * (kind 0 < 1) so an order dated exactly at the event time is visible
    * (inclusive <=); among orders with equal (user, date) the ascending
    * orderkey sort makes the *running last* the max orderkey — identical to
    * the rank-1 pick under ORDER BY o_orderdate DESC, o_orderkey DESC. The
    * (date, key) pair travels as one struct so both outputs come from the
    * same matched row. */
  def joinAsof(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(
        col("user_id").as("u"), col("ts").as("t"), lit(1).as("kind"),
        col("event_id"),
        lit(null).cast(StructType(Seq(
          StructField("d", TimestampType), StructField("k", LongType))))
          .as("ord"))
    val o = table(spark, dir, "orders")
      .select(
        col("o_custkey").as("u"),
        col("o_orderdate").cast(TimestampType).as("t"), lit(0).as("kind"),
        lit(null).cast(LongType).as("event_id"),
        struct(
          col("o_orderdate").cast(TimestampType).as("d"),
          col("o_orderkey").as("k")).as("ord"))
    val w = Window.partitionBy(col("u"))
      .orderBy(col("t"), col("kind"), col("ord.k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionByName(e)
      .withColumn("asof", last(col("ord"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("asof").isNotNull)
      .select(
        col("event_id"), col("u").as("user_id"), col("asof.k").as("o_orderkey"),
        tsStr(col("asof.d")).as("asof_orderdate"))
      .orderBy("event_id")
  }

  /** Staleness tolerance for [[joinAsofTol]] — 7 days in µs. */
  private val asofTolUs = 7L * 86400000000L

  /** TOLERANCE-BOUNDED as-of join — [[joinAsof]] with a max-staleness
    * budget (pandas merge_asof's `tolerance`, kdb wj's window): a prior
    * order older than 7 days is EXPIRED state, not context — serving
    * features from it would be feature leakage across a staleness SLA.
    * LEFT semantics: every event emits exactly one row; the matched key
    * NULLs out when the match is stale or absent, the gap stays reported
    * (the diagnostic), and `fresh` carries the SLA verdict. Same
    * union-merge LOCF shape as [[joinAsof]] — one shuffle, one linear
    * sort, zero candidate fanout; the tolerance is a per-row predicate
    * AFTER the O(1) carry, never a range-join probe. */
  def joinAsofTol(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "events")
      .select(
        col("user_id").as("u"), col("ts").as("t"), lit(1).as("kind"),
        col("event_id"),
        lit(null).cast(StructType(Seq(
          StructField("d", TimestampType), StructField("k", LongType))))
          .as("ord"))
    val o = table(spark, dir, "orders")
      .select(
        col("o_custkey").as("u"),
        col("o_orderdate").cast(TimestampType).as("t"), lit(0).as("kind"),
        lit(null).cast(LongType).as("event_id"),
        struct(
          col("o_orderdate").cast(TimestampType).as("d"),
          col("o_orderkey").as("k")).as("ord"))
    val w = Window.partitionBy(col("u"))
      .orderBy(col("t"), col("kind"), col("ord.k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = unix_micros(col("t")) - unix_micros(col("asof.d"))
    val fresh = col("asof").isNotNull && gapUs <= asofTolUs
    o.unionByName(e)
      .withColumn("asof", last(col("ord"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(
        col("event_id"), col("u").as("user_id"),
        when(fresh, col("asof.k")).as("o_orderkey"),
        when(col("asof").isNotNull, expr(
          "(unix_micros(t) - unix_micros(asof.d)) div 86400000000"))
          .as("gap_d"),
        fresh.cast(IntegerType).as("fresh"))
      .orderBy("event_id")
  }

  /** NEAREST-event join — [[joinAsof]]'s bidirectional completion: match
    * each event to the temporally CLOSEST order of the same user, looking
    * BOTH ways (the prior-only as-of answers "state at the time"; nearest
    * answers "which order does this event belong to" — attribution when
    * the event can precede its cause by clock skew or pipeline lag).
    * Same union-merge shape, run twice: one ascending LOCF pass carries
    * the latest prior order onto each event, one DESCENDING pass carries
    * the earliest following order, then a pure per-row arbitration picks
    * the smaller µs gap (ties to prior). Two window sorts per user
    * partition and nothing else — never a per-event range probe. */
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ordType = StructType(Seq(
      StructField("d", TimestampType), StructField("k", LongType)))
    val e = table(spark, dir, "events")
      .select(col("user_id").as("u"), col("ts").as("t"), lit(1).as("kind"),
        col("event_id"), lit(null).cast(ordType).as("ord"))
    val o = table(spark, dir, "orders")
      .select(col("o_custkey").as("u"),
        col("o_orderdate").cast(TimestampType).as("t"), lit(0).as("kind"),
        lit(null).cast(LongType).as("event_id"),
        struct(col("o_orderdate").cast(TimestampType).as("d"),
          col("o_orderkey").as("k")).as("ord"))
    val frame = o.unionByName(e)
    val wAsc = Window.partitionBy(col("u"))
      .orderBy(col("t").asc, col("kind").asc, col("ord.k").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy(col("u"))
      .orderBy(col("t").desc, col("kind").desc, col("ord.k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gp = unix_micros(col("t")) - unix_micros(col("prior.d"))
    val gn = unix_micros(col("next.d")) - unix_micros(col("t"))
    frame
      .withColumn("prior", last(col("ord"), ignoreNulls = true).over(wAsc))
      .withColumn("next", last(col("ord"), ignoreNulls = true).over(wDesc))
      .filter(col("kind") === 1 &&
        (col("prior").isNotNull || col("next").isNotNull))
      .select(col("event_id"), col("u").as("user_id"),
        when(col("prior").isNull, col("next.k"))
          .when(col("next").isNull, col("prior.k"))
          .when(gn < gp, col("next.k")).otherwise(col("prior.k"))
          .as("o_orderkey"),
        when(col("prior").isNull, lit("next"))
          .when(col("next").isNull, lit("prior"))
          .when(gn < gp, lit("next")).otherwise(lit("prior"))
          .as("side"),
        expr("""CAST(least(
            coalesce(unix_micros(t) - unix_micros(prior.d), 9223372036854775807),
            coalesce(unix_micros(next.d) - unix_micros(t), 9223372036854775807))
          div 1000000 AS BIGINT)""").as("gap_s"))
      .orderBy("event_id")
  }

  /** Manually salted skew join — the technique AQE's skew-join handles
    * reactively, written out proactively for the case where one hot key
    * (a BTCUSDT-style symbol carrying half the feed) would otherwise pin a
    * single reducer: the fact side gets a deterministic salt in [0, 8), the
    * dim side explodes 8x, and the join key becomes (key, salt) so the hot
    * key's rows spread across 8 reducers. The `shuffle_hash` hint keeps the
    * demo honest — without it Catalyst would broadcast the small dim and no
    * salting would be observable. Salting multiplies the DIM side only
    * (8x a small table), never the fact side; the oracle is the plain
    * unsalted join, proving salt-and-explode is semantics-preserving.
    * PlanSpec locks the shuffled-hash + explode shape. */
  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    val salts = 8
    val fact = table(spark, dir, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey"), lit(salts.toLong)))
    val dim = table(spark, dir, "supplier")
      .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
    fact.join(dim.hint("shuffle_hash"),
        fact("l_suppkey") === dim("s_suppkey") && fact("salt") === dim("salt"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("cnt"), sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy("s_name")
  }

  /** Fuzzy (edit-distance) self-join via q-gram blocking — entity
    * resolution's workhorse: find name pairs within Levenshtein distance 2
    * WITHOUT the all-pairs compare. The blocking theorem makes it exact:
    * an edit operation destroys at most q positional q-grams, so two
    * strings with min length ≥ 6 and lev ≤ 2 (k·q = 4 < 5 surviving
    * bigrams) MUST share at least one bigram — the equi-join on exploded
    * bigrams is therefore a lossless candidate generator, and the cheap
    * `levenshtein` verify runs only on candidates. The oracle is the
    * brute-force all-pairs lev join over the same (distinct, length ≥ 6)
    * names, proving blocking loses nothing.
    *
    * Scale shape: `distinct` FIRST (names dedupe map-side before any
    * pairwise work — the 2000-row part table carries 64 distinct names;
    * a web-scale entity table dedupes similarly); the only shuffles are
    * the distincts and the bigram equi-join — never a CartesianProduct
    * (PlanSpec-locked). A hot bigram ("sm" in every 'small …' name) makes
    * one join key quadratic at 100 TB; production mitigation is positional
    * prefix-filtering (keep each string's rarest grams, ordered by global
    * df — same heavy-hitter move as dedup_jac's df-cap), noted here and
    * applied there. */
  def joinFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val names = table(spark, dir, "part")
      .select(col("p_name").as("name"))
      .filter(length(col("name")) >= 6).distinct()
    // exploded positional bigrams, deduped per name (sharing ANY positional
    // bigram implies sharing a distinct one, so distinct grams suffice)
    val grams = names.select(col("name"), explode(expr(
      "transform(sequence(1, length(name) - 1), i -> substring(name, i, 2))"
    )).as("g")).distinct()
    val cand = grams.as("a")
      .join(grams.as("b"), col("a.g") === col("b.g") &&
        col("a.name") < col("b.name"))
      .select(col("a.name").as("a_name"), col("b.name").as("b_name"))
      .distinct()
    cand.withColumn("dist",
        levenshtein(col("a_name"), col("b_name")).cast(LongType))
      .filter(col("dist") <= 2L)
      .orderBy("a_name", "b_name")
  }

  /** Interval-overlap join via grid bucketing — the two-sided
    * generalization of [[joinRange]] (point-in-interval): find all pairs
    * of intervals that overlap, WITHOUT the quadratic theta-join. Both
    * sides map each interval to the grid cells it touches (cell width =
    * the max interval width, so an interval touches ≤ 2 cells); the join
    * is then an EQUI join on the cell with the exact overlap predicate as
    * the residual. Duplicate pairs (two intervals can share two cells)
    * are eliminated for free by the canonical-cell rule: a pair is
    * reported only from the cell containing the overlap's START
    * (`cell == floor(max(lo_a, lo_b) / W)`) — no distinct, no second
    * shuffle. This is how spatial/temporal engines do interval joins at
    * scale: shuffle is keyed on O(domain/W) cells, each cell joins only
    * its local intervals, and skew follows the data's temporal density
    * (a hot cell salts like any hot key). The oracle is the brute-force
    * theta-join — bucketing must be invisible. Intervals here: half-open
    * account-balance bands [bal, bal+50) from the supplier and customer
    * dims; DOUBLE endpoints on purpose (the grid floor-divides doubles,
    * the residual compares them exactly — both engines agree bitwise). */
  def joinInterval(spark: SparkSession, dir: String): DataFrame = {
    val w = 50.0
    def side(df: DataFrame, key: String, bal: String): DataFrame = df
      .select(col(key), col(bal).as("lo"), (col(bal) + w).as("hi"))
      .withColumn("cell", explode(sequence(
        floor(col("lo") / w).cast(LongType),
        floor(col("hi") / w).cast(LongType))))
    val a = side(table(spark, dir, "supplier"), "s_suppkey", "s_acctbal")
      .withColumnsRenamed(Map("lo" -> "a_lo", "hi" -> "a_hi"))
    val b = side(table(spark, dir, "customer"), "c_custkey", "c_acctbal")
      .withColumnsRenamed(Map("lo" -> "b_lo", "hi" -> "b_hi"))
    a.join(b, "cell")
      .filter(col("a_lo") < col("b_hi") && col("b_lo") < col("a_hi"))
      .filter(col("cell") ===
        floor(greatest(col("a_lo"), col("b_lo")) / w).cast(LongType))
      .select("s_suppkey", "c_custkey")
      .orderBy("s_suppkey", "c_custkey")
  }

  /** 2-D SPATIAL RADIUS JOIN via grid bucketing — the planar analog of
    * [[joinInterval]]'s 1-D cell join: for every supplier point, the
    * customers within Euclidean radius r, without the quadratic
    * distance-theta cross join. Coordinates are derived deterministically
    * from the keys (affine hash onto a 10000x10000 integer grid — the
    * same arithmetic in the DuckDB twin), standing in for any (lon, lat)
    * or embedding-projection pair.
    *
    * Plan: cell width = r, so any two points within r land in the same
    * or ADJACENT cells; the small side (suppliers) explodes to its 3x3
    * cell neighborhood (9 rows each) and BROADCASTS; the probe side
    * stays a single map-side pass - each customer hashes to its one cell
    * and tests the exact integer d^2 <= r^2 residual against the <=
    * handful of co-bucketed suppliers. Pairs are emitted at most once
    * (a customer's single cell meets each supplier's neighborhood at
    * most once), so no distinct pass. At 100 TB with BOTH sides big the
    * same plan shuffles on the cell key instead of broadcasting, and
    * density skew (cities) is AQE-splittable because the key is the
    * cell, not the point. Zero-match suppliers are kept by the final
    * left join (count 0, null distance) - the dashboard row "no coverage
    * in radius" is data, not absence. */
  def joinSpatial(spark: SparkSession, dir: String): DataFrame = {
    val r = 400L
    def px(k: org.apache.spark.sql.Column) = (k * lit(7919L)) % lit(10000L)
    def py(k: org.apache.spark.sql.Column) = (k * lit(104729L)) % lit(10000L)
    val cust = table(spark, dir, "customer")
      .select(col("c_custkey"), px(col("c_custkey")).as("x"),
        py(col("c_custkey")).as("y"), col("c_acctbal"))
    val supp = table(spark, dir, "supplier")
      .select(col("s_suppkey"), px(col("s_suppkey")).as("sx"),
        py(col("s_suppkey")).as("sy"))
    val suppCells = supp.select(col("s_suppkey"), col("sx"), col("sy"),
      explode(expr(s"flatten(transform(sequence(-1, 1), dx -> " +
        s"transform(sequence(-1, 1), dy -> " +
        s"named_struct('cx', sx div $r + dx, 'cy', sy div $r + dy))))")).as("c"))
      .select(col("s_suppkey"), col("sx"), col("sy"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
    val d2 = (col("x") - col("sx")) * (col("x") - col("sx")) +
      (col("y") - col("sy")) * (col("y") - col("sy"))
    val pairs = cust
      .withColumn("cx", expr(s"x div $r")).withColumn("cy", expr(s"y div $r"))
      .join(broadcast(suppCells), Seq("cx", "cy"))
      .filter(d2 <= lit(r * r))
      .select(col("s_suppkey"), d2.as("d2"), col("c_acctbal"))
    val per = pairs.groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_within"), min(col("d2")).as("d2_min"),
        sumMoney(col("c_acctbal")).as("sum_bal"))
    supp.select("s_suppkey")
      .join(per, Seq("s_suppkey"), "left")
      .select(col("s_suppkey"),
        coalesce(col("n_within"), lit(0L)).as("n_within"),
        col("d2_min"),
        coalesce(col("sum_bal"), lit(0.0)).as("sum_bal"))
      .orderBy("s_suppkey")
  }

  /** MERGE / upsert — the incremental-refresh primitive (SCD type 1): apply
    * a change batch of updates (U), inserts (I), and delete tombstones (D)
    * to a base table. The naive encoding is a FULL OUTER join on the key —
    * but full outer cannot broadcast (the unmatched side of a broadcast
    * build is unenumerable), so it sort-merges BOTH sides at any scale
    * (explain-verified). Because SCD1 change rows carry complete rows, the
    * merge decomposes instead into: base ANTI-JOIN change-keys (keep every
    * untouched base row) ∪ non-tombstone change rows — and an anti join
    * broadcasts happily, so the base table NEVER shuffles; the only moved
    * bytes are the change batch (tiny by definition) and the presentation
    * sort. Table formats (Delta/Iceberg MERGE) add file-level pruning on
    * top of exactly this plan. The change batch is synthesized
    * deterministically from the base (op classes by disjoint key residues)
    * so the DuckDB oracle rebuilds the identical merge as a FULL OUTER —
    * proving the decomposition equivalent. */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
    // the change batch carries its own column names (cname/nbal) — it is
    // derived from base, and a USING self-join with shared names would be
    // ambiguous to resolve
    val changes = base.select(col("k"), col("name"), col("bal"),
        when(col("k") % 31 === 0, "D")
          .when(col("k") % 10 === 0, "U")
          .otherwise("-").as("op"))
      .filter(col("op") =!= "-")
      .select(col("k"), col("name").as("cname"),
        (col("bal") + 100.0).as("nbal"), col("op"))
      .unionByName(
        base.filter(col("k") % 97 === 0)
          .select((col("k") + 1000000L).as("k"),
            concat(col("name"), lit("+new")).as("cname"),
            col("bal").as("nbal"), lit("I").as("op")))
    base.join(broadcast(changes.select("k")), Seq("k"), "left_anti")
      .unionByName(changes.filter(col("op") =!= "D")
        .select(col("k"), col("cname").as("name"), col("nbal").as("bal")))
      .orderBy("k")
  }

  /** Runtime bloom-filter join — Catalyst's InjectRuntimeFilter feature,
    * the shuffle-reducing big-big join shape: when one side of a shuffle
    * join carries a selective filter, the optimizer builds a bloom filter
    * of its join keys at runtime and pushes a `might_contain` predicate
    * into the OTHER side's scan, so rows that cannot match are dropped
    * BEFORE they pay the shuffle. At 100 TB this is the difference between
    * shuffling the whole fact table and shuffling the ~1% that survives
    * the semi-join — and it happens with default confs there (the
    * application side exceeds the 10 GB scan threshold naturally).
    *
    * At fixture scale the feature would be invisible: the dim side is
    * broadcast-small and the probe side under every threshold. The query
    * therefore runs in a conf-pinned CHILD session (`newSession` — own
    * conf, shared context and catalog; the pipeline-scoped-conf pattern) that
    * disables broadcast and zeroes the application-side threshold, pinning
    * the big-big regime so the injected filter is observable and
    * plan-locked (PlanSpec asserts `might_contain` on the probe side).
    * Semantics are conf-independent: the oracle is the plain join.
    *
    * The child session comes from the memoized
    * [[graft.ops.childSession]] (a SessionState is not free —
    * building one per invocation would grow unbounded with bench
    * passes). */
  def joinBloom(spark: SparkSession, dir: String): DataFrame = {
    val s = childSession(spark, Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val li = table(s, dir, "lineitem")
    val sel = table(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
    li.join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** MERGE / upsert, SCD type 2 — the HISTORY-preserving merge: applying a
    * change batch never rewrites an attribute in place; it CLOSES the
    * current version row (valid_to = batch id, is_current = false) and —
    * for updates and inserts — opens a new version. Deletes close without
    * replacement. This is how a warehouse dim table keeps
    * point-in-time-correct joins ("what was this customer's balance when
    * the order shipped").
    *
    * Plan shape: the base table is scanned ONCE on the big-table path and
    * never shuffled — a single broadcast LEFT join against the (tiny by
    * definition) change batch classifies every base row as untouched
    * (stays current) or closed (valid_to stamped), and the new versions
    * are a union of the change rows themselves; the only sort is
    * presentation. Same change-batch synthesis as [[upsert]] (disjoint
    * key-residue op classes), so the DuckDB oracle rebuilds the identical
    * history with a LEFT JOIN + UNION ALL. */
  def upsertScd2(spark: SparkSession, dir: String): DataFrame =
    scd2History(spark, dir).orderBy("k", "valid_from")

  /** The unordered SCD2 history frame behind [[upsertScd2]] — split out so
    * [[joinPit]] can re-join facts against the same versioned dim. */
  private def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
    val changes = base.select(col("k"), col("name"), col("bal"),
        when(col("k") % 31 === 0, "D")
          .when(col("k") % 10 === 0, "U")
          .otherwise("-").as("op"))
      .filter(col("op") =!= "-")
      .select(col("k"), col("name").as("cname"),
        (col("bal") + 100.0).as("nbal"), col("op"))
      .unionByName(
        base.filter(col("k") % 97 === 0)
          .select((col("k") + 1000000L).as("k"),
            concat(col("name"), lit("+new")).as("cname"),
            col("bal").as("nbal"), lit("I").as("op")))
    val hist = base.join(broadcast(changes.select(col("k"), col("op"))),
        Seq("k"), "left")
      .select(col("k"), col("name"), col("bal"),
        lit(0L).as("valid_from"),
        when(col("op").isNull, lit(null).cast(LongType))
          .otherwise(lit(1L)).as("valid_to"),
        col("op").isNull.as("is_current"))
    hist.unionByName(changes.filter(col("op") =!= "D")
        .select(col("k"), col("cname").as("name"), col("nbal").as("bal"),
          lit(1L).as("valid_from"), lit(null).cast(LongType).as("valid_to"),
          lit(true).as("is_current")))
  }

  /** POINT-IN-TIME (as-was) JOIN — facts joined to the dim version that
    * was valid WHEN THE FACT HAPPENED, not the current one: each order
    * carries an as-of epoch and matches the [[scd2History]] row whose
    * [valid_from, valid_to) interval contains it. This is the query SCD2
    * exists for ("what was this customer's balance when the order was
    * placed"), and the one a plain current-row join silently gets wrong.
    * Epoch-1 orders of DELETED customers match nothing — the
    * point-in-time miss — so the result is rolled up by (epoch, matched)
    * with exact balance cents.
    *
    * Plan shape: an equi-join on the customer key with the interval
    * predicate as a post-join filter — a key has AT MOST two versions,
    * so the pre-filter blowup is ≤2× and the non-equi part never drives
    * the join (no range/cartesian machinery). No broadcast hint: dim
    * history scales with the dim ([[dqAudit]]'s AQE argument). The
    * rollup is a tiny hash aggregate (≤ epochs × 2 rows). */
  def joinPit(spark: SparkSession, dir: String): DataFrame = {
    val hist = scd2History(spark, dir)
    val o = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderkey") % 2).cast(LongType).as("epoch"))
    o.join(hist,
        col("o_custkey") === col("k") &&
          col("valid_from") <= col("epoch") &&
          (col("valid_to").isNull || col("epoch") < col("valid_to")),
        "left")
      .groupBy(col("epoch"), col("k").isNotNull.as("matched"))
      .agg(count(lit(1)).as("n_orders"),
        sum(coalesce((col("bal").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType), lit(0L))).as("bal_cents"))
      .orderBy("epoch", "matched")
  }

  /** NULL-SAFE JOIN (`<=>` / IS NOT DISTINCT FROM) — the join variant
    * every "match on an optional attribute" pipeline eventually needs:
    * plain equality silently DROPS every null-keyed row from both sides,
    * while the null-safe operator pairs the null buckets like any other
    * key. Demonstrated as a full-outer null-safe join of two KEYED
    * AGGREGATES (views vs purchases bucketed by a nullable derived key):
    * aggregating BEFORE the join is the load-bearing scale move — the
    * null bucket is the canonical skew bomb (every null lands on one
    * reducer), so at 100 TB you reduce each side to its key-grain counts
    * first and the join touches |key-domain| rows, never the corpus. */
  def joinNullsafe(spark: SparkSession, dir: String): DataFrame = {
    def slice(t: String) = table(spark, dir, "events")
      .filter(col("event_type") === t)
      .select(when(col("value") >= 50.0,
        floor(col("value")).cast(LongType) % 7L).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    slice("view").select(col("k").as("ka"), col("n").as("n_views"))
      .join(slice("purchase").select(col("k").as("kb"),
        col("n").as("n_purchases")), col("ka") <=> col("kb"), "full")
      .select(coalesce(coalesce(col("ka"), col("kb")).cast(StringType),
          lit("<null>")).as("key"),
        coalesce(col("n_views"), lit(0L)).as("n_views"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy("key")
  }

  /** Two-pass anomaly detection: per-group exact moment sums (the
    * [[aggStats]] DECIMAL technique) broadcast back onto the stream, rows
    * more than 3 sigma from their group mean flagged. This is the 100 TB
    * outlier-scan shape — pass 1 is a tiny keyed aggregate (5 groups), pass
    * 2 re-scans with a broadcast join, so the fact table never shuffles.
    * The z threshold compares doubles derived from exact decimal sums: both
    * engines evaluate the identical expression tree on identical inputs, and
    * the sf0.01/sf0.1 corpora keep a >1e-4 |z|-gap around the 3.0 cut
    * (checked at build time), so a last-ulp divergence cannot flip
    * membership. Reported z is rounded (4 dp) like all derived doubles. */
  def anomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val x = col("value").cast(DecimalType(18, 2))
    val st = table(spark, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("nL"), sum(x).as("sxD"), sum(x * x).as("sxxD"))
      .select(col("event_type"), col("nL").cast(DoubleType).as("n"),
        col("sxD").cast(DoubleType).as("sx"), col("sxxD").cast(DoubleType).as("sxx"))
    val mean = col("sx") / col("n")
    val std = sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
      (col("n") * (col("n") - lit(1.0))))
    table(spark, dir, "events")
      .join(broadcast(st), "event_type")
      .filter(abs(col("value") - mean) > lit(3.0) * std)
      .select(col("event_id"), col("event_type"), col("value"),
        roundD((col("value") - mean) / std, 4).as("z"))
      .orderBy("event_id")
  }

  /** Robust anomaly detection via MEDIAN + MAD — the heavy-tail companion
    * to [[anomalyZscore]]: a liquidation cascade drags the mean and
    * inflates sigma enough to mask its own outliers (the z-score's known
    * failure mode), while the median and the median-absolute-deviation
    * are 50%-breakdown estimators the cascade cannot move. Flags rows with
    * |x − med| > 3·1.4826·MAD (1.4826 rescales MAD to sigma under
    * normality).
    *
    * Shape at scale: two tiny keyed aggregates (exact `median` — a
    * per-group single-pass selection, grouped on the low-cardinality key)
    * each broadcast back onto the stream — the fact table itself never
    * shuffles, same contract as zscore. Absolute deviations are rounded
    * to 6 dp before the MAD pass so both engines feed bit-identical
    * inputs into the second median. */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events").select("event_type", "value")
    val med = ev.groupBy("event_type").agg(median(col("value")).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("ad", roundD(abs(col("value") - col("med")), 6))
    val mad = dev.groupBy("event_type").agg(median(col("ad")).as("madv"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("ad") > lit(3.0 * 1.4826) * col("madv"), 1L)
          .otherwise(0L)).as("outliers"),
        roundD(max(col("med")), 6).as("med"),
        roundD(max(col("madv")), 6).as("mad"))
      .orderBy("event_type")
  }

  /** 2-D SKYLINE (pareto frontier): the parts no other part beats on BOTH
    * price (lower better) and size (higher better) — the multi-objective
    * "best tradeoffs" query (Börzsönyi et al., ICDE'01). The naive
    * formulation is an O(n²) dominance anti-join (the oracle runs exactly
    * that); this plan is the sort-based linear scan: collapse to distinct
    * (price, size) points, keep only the max size per price (anything else
    * is dominated at its own price), then one ordered pass — a point
    * survives iff its size exceeds the running max over all cheaper
    * points. Equal-price/equal-size ties collapse into one frontier point
    * carrying its part count, and strictness is exact: the per-price max
    * removes same-price dominance, the strict `>` removes cheaper-or-equal
    * dominance.
    *
    * Scale: the two keyed aggregates shuffle on price (map-side partials);
    * then the classic DISTRIBUTED skyline two-phase merge (Börzsönyi's
    * partition-then-merge): (1) each task prunes its partition to its
    * LOCAL frontier — one in-task sort of |distinct prices|/tasks rows,
    * no shuffle, and exact: any locally-dropped point is dominated by a
    * locally-KEPT cheaper point (the running max is always achieved by a
    * kept row), which dominates it globally too; (2) the surviving local
    * frontiers — ≤ frontier-size per task, not |distinct prices| —
    * REPARTITION (shuffle) into one partition for the final merge pass.
    * The shuffle matters: `coalesce(1)` would fuse phase 1 into the single
    * merge task (CoalesceExec computes all parent partitions inside it),
    * serializing the local prunes; the tiny exchange of the pruned
    * frontiers keeps phase 1 genuinely parallel across tasks.
    * Both passes are the same O(sorted scan, running max) fold; the
    * final one is imperative (mapPartitions) rather than a global-ORDER BY
    * window precisely because its input is bounded by construction — no
    * WindowExec, no "no partition defined" planning hazard. PlanSpec locks
    * the two-phase shape and the prune's measured effect. */
  /** TPC-H Q1 pricing summary shared by [[sqlQ1]] and its DuckDB twin —
    * ONE SQL string, two engines: the text itself is the cross-engine
    * contract (decimal-exact sums, explicit ORDER BY). */
  private[graft] val q1Sql = """
    SELECT l_returnflag, l_linestatus,
           count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_base,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS sum_disc,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2))) *
                    (CAST(1 AS DECIMAL(18,2))
                     + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
             AS sum_charge
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** SQL ENTRY SURFACE — the full TPC-H-Q1 pricing summary driven
    * entirely through `spark.sql()` over a registered view: the
    * DataFrame ops everywhere else in this library and the SQL text here
    * compile to the SAME Catalyst plan (scan → pushed filter → partial
    * HashAggregate → exchange → final aggregate → sort), which is the
    * point — a user of the reference can bring raw ANSI SQL to this
    * engine and get the identical optimized execution, custom
    * expressions included ([[graft.functions.GraftExtensions]] registers
    * the native function family for exactly this path). The oracle IS
    * the same string run by DuckDB — one contract, two engines. */
  def sqlQ1(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(q1Sql)
  }

  private[graft] val q3Sql = """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2))
                     - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           CAST(o_orderdate AS STRING) AS orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10"""

  /** ONE text, both engines: Q6's whole point is predicate pushdown, and
    * the exact DECIMAL product keeps the one-row sum engine-exact. */
  private[graft] val q6Sql = """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24"""

  /** TPC-H Q6 (forecasting revenue change) through the raw-SQL entry —
    * the PUSHDOWN witness of the SQL surface: a single-table scan whose
    * entire selectivity lives in the WHERE clause, so the plan must show
    * every predicate in PushedFilters and read two value columns
    * (PlanSpec locks this). [[sqlQ1]] proves aggregation, [[sqlQ3]] join
    * reorder; Q6 proves the scan never reads what the query doesn't. */
  def sqlQ6(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(q6Sql)
  }

  /** The TPC-H-Q3 shipping-priority shape through the same raw-SQL entry
    * as [[sqlQ1]] — here because Q3 exercises what Q1 cannot: a
    * three-table join written as comma-list + WHERE equi-predicates,
    * which Catalyst must recognize, reorder (the selective BUILDING
    * filter drives), and shuffle-plan, plus a top-k that must compile to
    * TakeOrdered, never a global sort. One SQL string, two engines. */
  def sqlQ3(spark: SparkSession, dir: String): DataFrame = {
    table(spark, dir, "customer").createOrReplaceTempView("customer")
    table(spark, dir, "orders").createOrReplaceTempView("orders")
    table(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(q3Sql)
  }

  /** ABC / PARETO CLASSIFICATION — suppliers ranked by revenue, classed
    * A/B/C at the 80%/95% cumulative-share cuts: the inventory-
    * prioritization query every procurement dashboard ships ("which 20%
    * of suppliers carry 80% of spend"). Revenue folds to exact integer
    * cents in ONE fact-table aggregate (map-side combined, shuffle ∝
    * suppliers); the running share then runs over the AGGREGATED
    * |suppliers| frame — a dimension-bounded window (the dq_volume days-
    * frame argument), never over lineitem. The class cuts compare
    * cum·1000 ≤ total·k in exact BIGINTs (ties on revenue break by
    * suppkey, mirrored in the oracle).
    *
    * DIM-TABLE CONTRACT: unlike the other global-window sites (whose
    * frames are constants — ≤168 heatmap cells, 5 depth buckets, |days|),
    * this window's bound is the CARDINALITY OF A DIMENSION TABLE
    * (supplier: ~10k/SF in this lake, ≤ millions in any real one — a
    * single task handles it). Pointing this op at a FACT-grain key
    * (order, user, document id) voids the bound and makes the global
    * running sum a straggler; the scale-out rewrite is the standard
    * two-pass partial-prefix: per-partition partial sums, a tiny
    * partition-offset frame, then cum = offset + local prefix — adopt it
    * before reusing this shape on an unbounded key, don't widen the
    * window. PlanAudit allowlists exactly this site under that reading. */
  def abcClass(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = table(spark, dir, "lineitem")
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2))) * 100)
        .cast(LongType).as("rev_cents"))
    val w = Window.orderBy(col("rev_cents").desc, col("s_suppkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .crossJoin(broadcast(rev.agg(sum("rev_cents").cast(LongType).as("tot"))))
      .withColumn("cum", sum("rev_cents").over(w))
      .select(col("s_suppkey"), col("rev_cents"),
        expr("cum * 1000 div tot").as("cum_pm"),
        when(col("cum") * 1000 <= col("tot") * 800, "A")
          .when(col("cum") * 1000 <= col("tot") * 950, "B")
          .otherwise("C").as("abc"))
      .orderBy("s_suppkey")
  }

  def skyline(spark: SparkSession, dir: String): DataFrame =
    skylineMerge(skylineLocal(spark, dir))

  /** Phase 1: per-price reduction + partition-local frontier prune. */
  private[graft] def skylineLocal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = table(spark, dir, "part")
      .groupBy(col("p_retailprice").as("price"), col("p_size").as("size"))
      .agg(count(lit(1)).as("n_parts"))
    val perPrice = pairs.groupBy("price")
      .agg(max_by(col("n_parts"), col("size")).as("n_parts"),
        max(col("size")).as("size"))
    perPrice.select(col("price"), col("size"), col("n_parts"))
      .as[(Double, Int, Long)]
      .mapPartitions(it => frontierPass(it))
      .toDF("price", "size", "n_parts")
  }

  /** Phase 2: merge the local frontiers in one explicit partition —
    * `repartition(1)`, not `coalesce(1)`, so the phase-1 tasks stay
    * independent (see the two-phase note on [[skyline]]). */
  private[graft] def skylineMerge(local: DataFrame): DataFrame = {
    import local.sparkSession.implicits._
    local.as[(Double, Int, Long)]
      .repartition(1)
      .mapPartitions(it => frontierPass(it))
      .toDF("price", "size", "n_parts")
      .orderBy("price")
  }

  /** One frontier fold: sort by price, keep a row iff its size strictly
    * beats the running max over cheaper rows (prices are distinct here —
    * the per-price reduction ran first). */
  private def frontierPass(
      it: Iterator[(Double, Int, Long)]): Iterator[(Double, Int, Long)] = {
    val sorted = it.toArray.sortBy(_._1)
    var mx = Int.MinValue
    sorted.iterator.filter { case (_, size, _) =>
      if (size > mx) { mx = size; true } else false
    }
  }

  // ── window functions ─────────────────────────────────────────────────────

  /** Ranking window: top-3 line items per return flag by price.
    *
    * Aggregation-shaped top-k via the custom bounded-heap aggregate
    * [[graft.functions.TopKStructs]]: each task keeps a size-3 heap per
    * flag (map-side partial aggregation), the shuffle carries at most
    * 3 rows per (flag, partition), and NOTHING is ever sorted beyond 3
    * elements. This supersedes two window formulations: the naive
    * `row_number().over(partitionBy(flag).orderBy(...))` sorts the whole
    * table inside 3 reducer partitions (l_returnflag has 3 values — a
    * scale-killer at 100 TB), and round 1's salted two-phase variant still
    * fully sorted every input partition locally. The rank()/row_number()
    * semantics are recovered on the ≤9 surviving rows: any global top-3
    * row is in every heap that saw it, and its rank depends only on rows
    * ordered above it — all of which also survive.
    *
    * Descending price is encoded by negating the leading struct field
    * (exact for doubles); the struct's natural ascending lexicographic
    * order then matches (price desc, orderkey, linenumber). */
  def winfnRank(spark: SparkSession, dir: String): DataFrame = {
    val item = struct(
      (-col("l_extendedprice")).as("np"),
      col("l_orderkey").as("ok"),
      col("l_linenumber").as("ln"))
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("t.np"), col("t.ok"), col("t.ln"))
    table(spark, dir, "lineitem")
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      .groupBy("l_returnflag")
      .agg(graft.functions.TopKStructs(item, 3).as("top"))
      .select(col("l_returnflag"), posexplode(col("top")).as(Seq("p", "t")))
      .select(
        col("l_returnflag"),
        col("t.ok").as("l_orderkey"),
        col("t.ln").as("l_linenumber"),
        (-col("t.np")).as("l_extendedprice"),
        (col("p") + 1).cast(LongType).as("rn"),
        rank().over(wG).cast(LongType).as("rnk"))
      .orderBy("l_returnflag", "rn")
  }

  /** Analytic window: per-user previous value (lag) + running sum — deltas
    * between consecutive liquidations (SURVEY.md §2.6). */
  def winfnLagRunsum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    table(spark, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        sum(col("value").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType).as("run_sum"))
      .orderBy("event_id")
  }

  /** Value-position window functions: each user's first/last/second event
    * value over the full partition frame — session boundary attribution.
    * One keyed shuffle; the unbounded frame is a single partition pass. */
  def winfnFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    table(spark, dir, "events")
      .filter(col("event_id") < 2000)
      .select(
        col("event_id"), col("user_id"),
        roundD(first(col("value")).over(w), 2).as("first_value"),
        roundD(last(col("value")).over(w), 2).as("last_value"),
        roundD(nth_value(col("value"), 2).over(w), 2).as("second_value"))
      .orderBy("event_id")
  }

  /** Distribution-position window functions — percent_rank / cume_dist
    * per event_type, the analytic pair [[winfnFirstLast]] doesn't cover
    * (where does this event sit in its type's value distribution — the
    * percentile-feature move in feature engineering). ANSI tie semantics
    * are identical in both engines: ties share a rank, so double-valued
    * ties stay deterministic; the (rank-1)/(n-1) and rows/n divisions are
    * single IEEE ops on identical integers. One user-invisible shuffle on
    * event_type; the output is thinned AFTER the window (every row still
    * ranks against the full partition) to keep the compare surface small. */
  def winfnCumeDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    table(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .filter(col("event_id") % 97 === 0)
      .select(col("event_id"), col("event_type"), col("value"),
        roundD(col("pr"), 8).as("pr"), roundD(col("cd"), 8).as("cd"))
      .orderBy("event_id")
  }

  /** Rolling ORDER-STATISTIC window: the 5-row trailing median of each
    * user's event value — the robust de-noising smoother a monitoring
    * dashboard runs where a trailing mean would chase every spike (one
    * outlier moves a 5-row mean by a fifth of its magnitude; the median
    * ignores it entirely until it's the majority).
    *
    * Scale shape: the frame is BOUNDED (ROWS 4 PRECEDING) and the window
    * partitions on user_id, so WindowExec holds ≤5 values per in-flight
    * frame and streams each user's ordered run — state O(frame), not
    * O(partition); the sort is the per-user (ts, id) sort any windowed
    * per-entity analytic pays, spill-backed and key-parallel. Values go
    * through exact integer CENTS (2-dp decimal × 100) so the even-count
    * midpoint average is a half-integer both engines represent exactly in
    * a double — no float-sum drift for the hash compare. */
  def winfnMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-4, Window.currentRow)
    // Spark's median/percentile aggregates reject window FRAMES
    // (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the order statistic
    // is taken explicitly: collect the <=5-element frame, array_sort
    // (codegen'd), midpoint. The array is frame-bounded by construction -
    // exactly why this stays O(1) per row where a collect-the-partition
    // formulation would not.
    val arr = array_sort(collect_list(col("vc")).over(w))
    val n = size(arr)
    // odd n: both indices hit the middle element; even: the two middles
    val m1 = element_at(arr, ((n + lit(1)) / lit(2)).cast(IntegerType))
    val m2 = element_at(arr, (n / lit(2)).cast(IntegerType) + lit(1))
    table(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        (col("value").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("vc"))
      .select(col("event_id"), col("user_id"),
        ((m1 + m2).cast(DoubleType) / lit(2.0)).as("roll_med"))
      .orderBy("event_id")
  }

  /** Exact per-group mode (most frequent value, tie → smallest) written
    * declaratively: count per (group, value), per-group max count, then
    * min value among the tied — three hash aggregates and one equi-join,
    * every stage map-side-combinable, nothing sorts, nothing buffers a
    * group in memory (the naive collect-and-scan UDAF shape would).
    * This "argmax by join-back" decomposition is the same scale move as
    * [[joinBloom]]'s two-phase shape: at 100 TB the (group, value) count
    * frame is the only large intermediate and it reduces before the
    * tiny per-group max frame joins back. */
  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "events")
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
    val m = c.groupBy("event_type").agg(max("cnt").as("mx"))
    c.join(m, "event_type").filter(col("cnt") === col("mx"))
      .groupBy("event_type")
      .agg(min("user_id").as("mode_user"), max("cnt").as("cnt"))
      .orderBy("event_type")
  }

  /** Top-k with deterministic tiebreak — "largest liquidations". TakeOrdered
    * physical op: per-partition top-k then merge, never a full global sort at
    * scale. */
  def topk(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** Set ops over the customer/supplier nation universes: intersect, except
    * (both directions), tagged into one result. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
    val s = table(spark, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
    c.intersect(s).withColumn("tag", lit("both"))
      .unionByName(c.except(s).withColumn("tag", lit("cust_only")))
      .unionByName(s.except(c).withColumn("tag", lit("supp_only")))
      .select("tag", "nationkey")
      .orderBy("tag", "nationkey")
  }

  /** Multi-stream union into one sink — the reference fans 8 concurrent
    * streams into one shared writer (liq-stream `stream.py:169-188`).
    *
    * In the reference each stream is a *distinct source* (one per exchange),
    * so union-of-sources is inherent; its batch analog over one table is
    * N per-type filter branches unioned. Spark does NOT merge identical
    * scans across union branches, so that shape reads the fact table N
    * times — N full passes at 100 TB. Because the branch predicates are
    * disjoint selections of one source, the union is exactly equivalent to
    * a single isin scan, which is the plan written here (PlanSpec asserts
    * exactly one file scan). Union-of-*different*-sources stays exercised by
    * `normalize_union` / `set_ops` / the streaming fan-in, where it is the
    * honest shape. */
  def unionAllStreams(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .filter(col("event_type").isin("click", "view", "purchase"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sumMoney(col("value")).as("sum_value"))
      .orderBy("event_type")

  // ── oracle SQL (DuckDB twins, same column names) ─────────────────────────

  val oracles: Map[String, String] = Map(
    "scan_lineitem" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem WHERE l_quantity >= 45
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""",
    "scan_events" ->
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_type = 'purchase' ORDER BY event_id""",
    "project_schema" ->
      """SELECT event_id, event_type, value, CAST(NULL AS VARCHAR) AS missing_col
         FROM events ORDER BY event_id""",
    "filter_suffix" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_name LIKE '%7' ORDER BY c_custkey""",
    "filter_prefix" ->
      """SELECT p_partkey, p_brand FROM part
         WHERE p_brand LIKE 'Brand#1%' ORDER BY p_partkey""",
    "filter_contains" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE text LIKE '%spark vector%' ORDER BY doc_id""",
    "filter_threshold" ->
      """SELECT event_id, value FROM events
         WHERE abs(value) >= 15 ORDER BY event_id""",
    "filter_eq_cols" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity = l_linenumber * 7 ORDER BY l_orderkey, l_linenumber""",
    "dedup_keys" ->
      """SELECT event_id, user_id, event_type,
                strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS rn FROM events)
         WHERE rn = 1 ORDER BY event_id""",
    "str_concat" ->
      """SELECT doc_id, upper(lang) || '-' || source AS tag
         FROM documents ORDER BY doc_id""",
    "case_side_decode" ->
      """SELECT event_id,
                CASE WHEN event_type IN ('purchase','signup') THEN 'long'
                     WHEN event_type IN ('click','view') THEN 'short'
                     ELSE NULL END AS side
         FROM events ORDER BY event_id""",
    "derive_notional" ->
      """SELECT l_orderkey, l_linenumber,
                CASE WHEN l_extendedprice > 0 AND l_quantity > 0
                     THEN round(l_extendedprice * (1.0 - l_discount), 4)
                     ELSE NULL END AS notional
         FROM lineitem ORDER BY l_orderkey, l_linenumber, notional""",
    "agg_by_key" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "agg_rollup" ->
      """SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
                COALESCE(l_returnflag, 'ALL') AS l_returnflag,
                COALESCE(l_linestatus, 'ALL') AS l_linestatus,
                count(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag, l_linestatus""",
    "agg_time_rollup" ->
      """SELECT GROUPING(month, day) AS gid,
                COALESCE(month, 'ALL') AS month,
                COALESCE(day, 'ALL') AS day,
                count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM (SELECT strftime(ts, '%Y-%m') AS month,
                      strftime(ts, '%Y-%m-%d') AS day, value FROM events)
         GROUP BY ROLLUP(month, day)
         ORDER BY gid, month, day""",
    // the definitional twin: expand each line l_quantity times, then the
    // plain interpolated quantile over the multiset
    "agg_wpercentile" ->
      """WITH e AS (
           SELECT x.l_returnflag, x.l_extendedprice
           FROM (SELECT l_returnflag, l_extendedprice,
                        CAST(l_quantity AS BIGINT) AS w FROM lineitem) x,
                unnest(range(0, x.w)) t(i))
         SELECT l_returnflag,
                floor(quantile_cont(l_extendedprice, 0.5) * 1e6 + 0.5) / 1e6
                  AS wp50,
                floor(quantile_cont(l_extendedprice, 0.9) * 1e6 + 0.5) / 1e6
                  AS wp90,
                count(*) AS total_weight
         FROM e GROUP BY 1 ORDER BY l_returnflag""",
    "agg_cube" ->
      """SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
                COALESCE(l_returnflag, 'ALL') AS l_returnflag,
                COALESCE(l_linestatus, 'ALL') AS l_linestatus,
                count(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag, l_linestatus""",
    "star_q5" ->
      """SELECT r_name AS region, n_name AS nation, count(*) AS n_items,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE c_nationkey = s_nationkey
         GROUP BY r_name, n_name
         ORDER BY region, nation""",
    "agg_skewkurt" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
                sum(CAST(l_quantity AS DECIMAL(7,2))) AS s1,
                sum(CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))) AS s2,
                sum(CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))
                    * CAST(l_quantity AS DECIMAL(7,2))) AS s3,
                sum(CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))
                    * CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))) AS s4
         FROM lineitem GROUP BY l_returnflag),
         d AS (SELECT l_returnflag, n,
                      n::DOUBLE AS nd, s1::DOUBLE AS d1, s2::DOUBLE AS d2,
                      s3::DOUBLE AS d3, s4::DOUBLE AS d4
               FROM s),
         m AS (SELECT l_returnflag, n, nd,
                      d2 - d1 * d1 / nd AS m2,
                      d3 - 3.0 * d1 * d2 / nd + 2.0 * d1 * d1 * d1 / (nd * nd) AS m3,
                      d4 - 4.0 * d1 * d3 / nd + 6.0 * d1 * d1 * d2 / (nd * nd)
                         - 3.0 * d1 * d1 * d1 * d1 / (nd * nd * nd) AS m4
               FROM d)
         SELECT l_returnflag, n,
                floor(sqrt(nd) * m3 / sqrt(m2 * m2 * m2) * 1e6 + 0.5) / 1e6 AS skew_qty,
                floor((nd * m4 / (m2 * m2) - 3.0) * 1e6 + 0.5) / 1e6 AS kurt_qty
         FROM m ORDER BY l_returnflag""",
    "agg_stats" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
                sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
                sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
                sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
                sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
                sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
         FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
                floor(sx::DOUBLE / n::DOUBLE * 1e6 + 0.5) / 1e6 AS mean_qty,
                floor((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                  / (n::DOUBLE * (n::DOUBLE - 1.0)) * 1e6 + 0.5) / 1e6 AS var_qty,
                floor(sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                  / (n::DOUBLE * (n::DOUBLE - 1.0))) * 1e6 + 0.5) / 1e6 AS std_qty,
                floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                  / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                     * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
                  * 1e9 + 0.5) / 1e9 AS corr_qp
         FROM s ORDER BY l_returnflag""",
    "agg_bool" ->
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'error') AS n_errors,
                bool_and(value >= 0.0) AS all_nonneg,
                bool_or(event_type = 'purchase') AS any_purchase
         FROM events GROUP BY user_id ORDER BY user_id""",
    "gsets" ->
      """SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
                COALESCE(l_returnflag, 'ALL') AS l_returnflag,
                COALESCE(l_linestatus, 'ALL') AS l_linestatus,
                count(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
         ORDER BY gid, l_returnflag, l_linestatus""",
    "agg_approx" ->
      """SELECT user_id, count(DISTINCT event_type) AS n_types
         FROM events GROUP BY user_id ORDER BY user_id""",
    "join_hash" ->
      """SELECT c_mktsegment, count(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS cnt
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
                COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS sum_price
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "join_full" ->
      """WITH o AS (SELECT o_custkey,
                           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_orders
                    FROM orders GROUP BY o_custkey),
         c AS (SELECT c_custkey,
                      floor(c_acctbal * 1e2 + 0.5) / 1e2 AS acctbal
               FROM customer WHERE c_acctbal > 5000.0)
         SELECT COALESCE(o_custkey, c_custkey) AS custkey, sum_orders, acctbal
         FROM o FULL OUTER JOIN c ON o_custkey = c_custkey
         ORDER BY custkey""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
         ORDER BY c_custkey""",
    "join_range" ->
      """SELECT o_orderpriority, count(*) AS cnt,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           AND l_shipdate >= o_orderdate
           AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // same rank-1 pick; the tolerance is a CASE after the match, LEFT
    // join keeps every event; boolean-AND-NULL collapses to FALSE in
    // both engines' 3VL, so absent matches read fresh=0, never NULL
    "join_asof_tol" ->
      """WITH m AS (
           SELECT e.event_id, e.user_id, e.ts, o.o_orderkey,
                  CAST(o.o_orderdate AS TIMESTAMP) AS od,
                  row_number() OVER (PARTITION BY e.event_id
                    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
           FROM events e JOIN orders o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts),
         best AS (SELECT * FROM m WHERE rn = 1)
         SELECT e.event_id, e.user_id,
                CASE WHEN b.o_orderkey IS NOT NULL
                          AND epoch_us(e.ts) - epoch_us(b.od) <= 604800000000
                     THEN b.o_orderkey END AS o_orderkey,
                CASE WHEN b.o_orderkey IS NOT NULL
                     THEN (epoch_us(e.ts) - epoch_us(b.od)) // 86400000000
                END AS gap_d,
                CAST(coalesce(b.o_orderkey IS NOT NULL
                      AND epoch_us(e.ts) - epoch_us(b.od) <= 604800000000,
                      FALSE) AS INTEGER) AS fresh
         FROM events e LEFT JOIN best b ON b.event_id = e.event_id
         ORDER BY e.event_id""",
    "join_asof" ->
      """SELECT event_id, user_id, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS asof_orderdate
         FROM (
           SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
                  row_number() OVER (PARTITION BY e.event_id
                    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
           FROM events e JOIN orders o
             ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
         WHERE rn = 1 ORDER BY event_id""",
    "winfn_rank" ->
      """SELECT * FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                  row_number() OVER w AS rn, rank() OVER w AS rnk
           FROM lineitem
           WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber))
         WHERE rn <= 3 ORDER BY l_returnflag, rn""",
    "winfn_median" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
              FROM events)
         SELECT event_id, user_id,
                median(vc) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                  AS roll_med
         FROM e ORDER BY event_id""",
    "winfn_cume" ->
      """WITH w AS (SELECT event_id, event_type, value,
                percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pr,
                cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
              FROM events)
         SELECT event_id, event_type, value,
                floor(pr * 1e8 + 0.5) / 1e8 AS pr,
                floor(cd * 1e8 + 0.5) / 1e8 AS cd
         FROM w WHERE event_id % 97 = 0 ORDER BY event_id""",
    "agg_mode" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
                    FROM events GROUP BY 1, 2),
              m AS (SELECT event_type, max(cnt) AS mx FROM c GROUP BY 1)
         SELECT c.event_type AS event_type,
                min(c.user_id) AS mode_user, max(c.cnt) AS cnt
         FROM c JOIN m ON c.event_type = m.event_type AND c.cnt = m.mx
         GROUP BY c.event_type ORDER BY event_type""",
    "winfn_lag_runsum" ->
      """SELECT event_id, user_id,
                lag(value, 1) OVER w AS prev_value,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS run_sum
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY event_id""",
    "winfn_nth" ->
      """SELECT event_id, user_id,
                floor(first_value(value) OVER w * 1e2 + 0.5) / 1e2 AS first_value,
                floor(last_value(value) OVER w * 1e2 + 0.5) / 1e2 AS last_value,
                floor(nth_value(value, 2) OVER w * 1e2 + 0.5) / 1e2 AS second_value
         FROM events WHERE event_id < 2000
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY event_id""",
    "topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""",
    "set_ops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
              s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
         SELECT 'both' AS tag, nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
         UNION ALL
         SELECT 'cust_only' AS tag, nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
         UNION ALL
         SELECT 'supp_only' AS tag, nationkey FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)
         ORDER BY tag, nationkey""",
    "union_all" ->
      """SELECT event_type, count(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events WHERE event_type IN ('click','view','purchase')
         GROUP BY event_type ORDER BY event_type""",
    // the same change-batch synthesis + FULL OUTER merge arithmetic
    "upsert" ->
      """WITH base AS (
           SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
           FROM customer),
         ch AS (
           SELECT k, name, bal + 100.0 AS nbal,
                  CASE WHEN k % 31 = 0 THEN 'D' ELSE 'U' END AS op
           FROM base WHERE k % 31 = 0 OR k % 10 = 0
           UNION ALL
           SELECT k + 1000000, name || '+new', bal, 'I'
           FROM base WHERE k % 97 = 0)
         SELECT COALESCE(b.k, c.k) AS k,
                COALESCE(c.name, b.name) AS name,
                COALESCE(c.nbal, b.bal) AS bal
         FROM base b FULL OUTER JOIN ch c ON b.k = c.k
         WHERE COALESCE(c.op, '') <> 'D'
         ORDER BY k""",
    // the bloom filter is a pure pruning optimization — the oracle is the
    // plain selective join
    "join_bloom" ->
      """SELECT o.o_orderpriority, count(*) AS cnt,
                CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_totalprice > 400000.0
         GROUP BY 1 ORDER BY o_orderpriority""",
    // same change-batch synthesis; history = base LEFT JOIN changes
    // (close-or-keep) UNION ALL the new versions
    "upsert_scd2" ->
      """WITH base AS (
           SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
           FROM customer),
         ch AS (
           SELECT k, name AS cname, bal + 100.0 AS nbal,
                  CASE WHEN k % 31 = 0 THEN 'D' ELSE 'U' END AS op
           FROM base WHERE k % 31 = 0 OR k % 10 = 0
           UNION ALL
           SELECT k + 1000000, name || '+new', bal, 'I'
           FROM base WHERE k % 97 = 0)
         SELECT b.k, b.name, b.bal, 0::BIGINT AS valid_from,
                (CASE WHEN c.op IS NULL THEN NULL ELSE 1 END)::BIGINT AS valid_to,
                c.op IS NULL AS is_current
         FROM base b LEFT JOIN ch c ON b.k = c.k
         UNION ALL
         SELECT k, cname, nbal, 1::BIGINT, NULL::BIGINT, TRUE
         FROM ch WHERE op <> 'D'
         ORDER BY k, valid_from""",
    // the same keyed aggregates, paired with IS NOT DISTINCT FROM
    "join_nullsafe" ->
      """WITH s AS (SELECT event_type,
                           CASE WHEN value >= 50.0
                                THEN CAST(floor(value) AS BIGINT) % 7
                           END AS k
                    FROM events
                    WHERE event_type IN ('view', 'purchase')),
         a AS (SELECT k, count(*) AS n_views FROM s
               WHERE event_type = 'view' GROUP BY 1),
         b AS (SELECT k, count(*) AS n_purchases FROM s
               WHERE event_type = 'purchase' GROUP BY 1)
         SELECT COALESCE(CAST(COALESCE(a.k, b.k) AS STRING), '<null>') AS key,
                COALESCE(n_views, 0) AS n_views,
                COALESCE(n_purchases, 0) AS n_purchases
         FROM a FULL JOIN b ON a.k IS NOT DISTINCT FROM b.k
         ORDER BY key""",
    // the same change-batch CTEs as upsert_scd2, re-joined as-of each
    // order's epoch — the interval predicate replayed verbatim
    "join_pit" ->
      """WITH base AS (
           SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
           FROM customer),
         ch AS (
           SELECT k, name AS cname, bal + 100.0 AS nbal,
                  CASE WHEN k % 31 = 0 THEN 'D' ELSE 'U' END AS op
           FROM base WHERE k % 31 = 0 OR k % 10 = 0
           UNION ALL
           SELECT k + 1000000, name || '+new', bal, 'I'
           FROM base WHERE k % 97 = 0),
         hist AS (
           SELECT b.k, b.bal, 0::BIGINT AS valid_from,
                  (CASE WHEN c.op IS NULL THEN NULL
                        ELSE 1 END)::BIGINT AS valid_to
           FROM base b LEFT JOIN ch c ON b.k = c.k
           UNION ALL
           SELECT k, nbal, 1::BIGINT, NULL::BIGINT FROM ch WHERE op <> 'D'),
         o AS (SELECT o_orderkey, o_custkey,
                      (o_orderkey % 2)::BIGINT AS epoch FROM orders)
         SELECT epoch, h.k IS NOT NULL AS matched, count(*) AS n_orders,
                CAST(sum(COALESCE(
                  CAST(CAST(h.bal AS DECIMAL(18,2)) * 100 AS BIGINT), 0))
                  AS BIGINT) AS bal_cents
         FROM o LEFT JOIN hist h ON o.o_custkey = h.k
            AND h.valid_from <= o.epoch
            AND (h.valid_to IS NULL OR o.epoch < h.valid_to)
         GROUP BY 1, 2 ORDER BY epoch, matched""",
    // the oracle is the PLAIN join — salting must be invisible in the result
    "join_salt" ->
      """SELECT s.s_name AS s_name, count(*) AS cnt,
                CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         GROUP BY 1 ORDER BY s_name""",
    // the brute-force theta-join: grid bucketing must be invisible
    "join_spatial" ->
      """WITH c AS (SELECT c_custkey, (c_custkey * 7919) % 10000 AS x,
                           (c_custkey * 104729) % 10000 AS y, c_acctbal
                    FROM customer),
              s AS (SELECT s_suppkey, (s_suppkey * 7919) % 10000 AS sx,
                           (s_suppkey * 104729) % 10000 AS sy
                    FROM supplier),
              p AS (SELECT s_suppkey,
                           (x - sx) * (x - sx) + (y - sy) * (y - sy) AS d2,
                           c_acctbal
                    FROM s JOIN c
                      ON (x - sx) * (x - sx) + (y - sy) * (y - sy) <= 160000),
              a AS (SELECT s_suppkey, count(*) AS n_within,
                           min(d2) AS d2_min,
                           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                             AS DOUBLE) AS sum_bal
                    FROM p GROUP BY s_suppkey)
         SELECT s.s_suppkey, COALESCE(a.n_within, 0) AS n_within,
                a.d2_min AS d2_min, COALESCE(a.sum_bal, 0.0) AS sum_bal
         FROM s LEFT JOIN a USING (s_suppkey)
         ORDER BY s.s_suppkey""",
    "join_interval" ->
      """SELECT s.s_suppkey, c.c_custkey
         FROM supplier s JOIN customer c
           ON s.s_acctbal < c.c_acctbal + 50
          AND c.c_acctbal < s.s_acctbal + 50
         ORDER BY s_suppkey, c_custkey""",
    // brute-force all-pairs over the same distinct names: q-gram blocking
    // must be invisible in the result (the losslessness proof)
    "join_fuzzy" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part
                    WHERE length(p_name) >= 6)
         SELECT a.name AS a_name, b.name AS b_name,
                CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
         FROM n a JOIN n b ON a.name < b.name
         WHERE levenshtein(a.name, b.name) <= 2
         ORDER BY a_name, b_name""",
    // same exact-decimal moment sums as agg_stats; the 3-sigma filter and z
    // reuse the identical double expression tree the Spark side evaluates
    "zscore" ->
      """WITH st AS (
           SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                  CAST(SUM(CAST(value AS DECIMAL(18,2)) *
                           CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
           FROM events GROUP BY 1)
         SELECT e.event_id, e.event_type, e.value,
                floor(((e.value - st.sx / st.n) /
                       sqrt((st.n * st.sxx - st.sx * st.sx) /
                            (st.n * (st.n - 1.0)))) * 1e4 + 0.5) / 1e4 AS z
         FROM events e JOIN st USING (event_type)
         WHERE abs(e.value - st.sx / st.n) >
               3.0 * sqrt((st.n * st.sxx - st.sx * st.sx) /
                          (st.n * (st.n - 1.0)))
         ORDER BY event_id""",
    // the same two LOCF passes (asc prior / desc next) + per-row
    // arbitration; d and k come from the same carried row because both
    // last_value calls share one window ordering
    "join_asof_nearest" ->
      """WITH f AS (
           SELECT user_id AS u, ts AS t, 1 AS kind, event_id,
                  NULL::TIMESTAMP AS od, NULL::BIGINT AS ok FROM events
           UNION ALL
           SELECT o_custkey, o_orderdate, 0, NULL, o_orderdate, o_orderkey
           FROM orders),
         w AS (
           SELECT *,
             last_value(od IGNORE NULLS) OVER (PARTITION BY u
               ORDER BY t ASC, kind ASC, ok ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             last_value(ok IGNORE NULLS) OVER (PARTITION BY u
               ORDER BY t ASC, kind ASC, ok ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk,
             last_value(od IGNORE NULLS) OVER (PARTITION BY u
               ORDER BY t DESC, kind DESC, ok DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nd,
             last_value(ok IGNORE NULLS) OVER (PARTITION BY u
               ORDER BY t DESC, kind DESC, ok DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nk
           FROM f)
         SELECT event_id, u AS user_id,
                CASE WHEN pd IS NULL THEN nk
                     WHEN nd IS NULL THEN pk
                     WHEN epoch_us(nd) - epoch_us(t)
                          < epoch_us(t) - epoch_us(pd) THEN nk
                     ELSE pk END AS o_orderkey,
                CASE WHEN pd IS NULL THEN 'next'
                     WHEN nd IS NULL THEN 'prior'
                     WHEN epoch_us(nd) - epoch_us(t)
                          < epoch_us(t) - epoch_us(pd) THEN 'next'
                     ELSE 'prior' END AS side,
                CAST(least(
                  coalesce(epoch_us(t) - epoch_us(pd), 9223372036854775807),
                  coalesce(epoch_us(nd) - epoch_us(t), 9223372036854775807))
                  // 1000000 AS BIGINT) AS gap_s
         FROM w
         WHERE kind = 1 AND (pd IS NOT NULL OR nd IS NOT NULL)
         ORDER BY event_id""",
    // medians interpolate identically (lower + (upper-lower)·frac in both
    // engines); deviations are 6-dp rounded before the MAD pass so the
    // second median sees bit-identical inputs
    "anomaly_mad" ->
      """WITH med AS (
           SELECT event_type, median(value) AS med FROM events GROUP BY 1),
         dev AS (
           SELECT e.event_type,
                  floor(abs(e.value - m.med) * 1e6 + 0.5) / 1e6 AS ad,
                  m.med
           FROM events e JOIN med m USING (event_type)),
         mad AS (
           SELECT event_type, median(ad) AS madv FROM dev GROUP BY 1)
         SELECT d.event_type, count(*) AS n,
                CAST(SUM(CASE WHEN d.ad > (3.0 * 1.4826) * m.madv
                              THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
                floor(max(d.med) * 1e6 + 0.5) / 1e6 AS med,
                floor(max(m.madv) * 1e6 + 0.5) / 1e6 AS mad
         FROM dev d JOIN mad m USING (event_type)
         GROUP BY 1 ORDER BY event_type""",
    // the O(n²) dominance definition verbatim — a frontier point is one no
    // other point weakly beats on both axes with a strict win somewhere;
    // the Spark side's sort-scan must reproduce it exactly
    // the SAME string the Spark side executes — one contract, two engines
    "sql_q1" -> q1Sql,
    "sql_q6" -> q6Sql,
    "sql_q3" -> q3Sql,
    // identical cents aggregate, identical cumulative cross-multiplied cuts
    "abc_class" ->
      """WITH r AS (SELECT l_suppkey AS s_suppkey,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                       AS BIGINT) AS rev_cents
           FROM lineitem GROUP BY 1),
         t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS tot FROM r),
         c AS (SELECT s_suppkey, rev_cents,
                      CAST(sum(rev_cents) OVER (
                        ORDER BY rev_cents DESC, s_suppkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
               FROM r)
         SELECT s_suppkey, rev_cents, (cum * 1000) // t.tot AS cum_pm,
                CASE WHEN cum * 1000 <= t.tot * 800 THEN 'A'
                     WHEN cum * 1000 <= t.tot * 950 THEN 'B'
                     ELSE 'C' END AS abc
         FROM c, t ORDER BY s_suppkey""",
    "skyline" ->
"""WITH pairs AS (
           SELECT p_retailprice AS price, p_size AS size,
                  count(*) AS n_parts
           FROM part GROUP BY 1, 2)
         SELECT p.price, p.size, p.n_parts
         FROM pairs p
         WHERE NOT EXISTS (
           SELECT 1 FROM pairs q
           WHERE q.price <= p.price AND q.size >= p.size
             AND (q.price < p.price OR q.size > p.size))
         ORDER BY price""",
    // exact weekly distincts + row counts; the sketch columns are
    // Spark-side invariants surfaced as constant-true flags
    "agg_hll_merge" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
                count(DISTINCT user_id) AS exact, count(*) AS n_rows,
                1 AS merged_ok, 1 AS direct_ok
         FROM events GROUP BY 1 ORDER BY week""",
    // exact consecutive-week overlaps; the sketch estimate enters as its
    // tolerance flag
    "agg_hll_ix" ->
      """WITH wk AS (SELECT DISTINCT date_trunc('week', ts) AS wk, user_id
                     FROM events)
         SELECT strftime(a.wk, '%Y-%m-%d') AS week1,
                strftime(b.wk, '%Y-%m-%d') AS week2,
                count(*) AS exact_ix, 1 AS ix_ok
         FROM wk a JOIN wk b
           ON a.user_id = b.user_id AND date_diff('day', a.wk, b.wk) = 7
         GROUP BY 1, 2 ORDER BY week1""",
    // the full CMS build + probe replayed relationally: the same salted
    // acc*31+byte (mod 1e9+7) hash, the same d=4 / w=256 grid
    "freq_cms" -> {
      def poly(e: String) =
        s"""list_reduce(list_concat([0::BIGINT],
             list_transform(range(1, length($e) + 1),
               i -> ascii(($e)[i:i]))),
             (acc, c) -> (acc * 31 + c) % 1000000007)"""
      s"""WITH b AS (SELECT min(user_id) AS lo, max(user_id) AS hi
                     FROM events),
          probes AS (SELECT DISTINCT lo + ((hi - lo) * k) // 4 AS user_id
                     FROM b, unnest(range(0, 5)) t(k)),
          cellsrc AS (SELECT t.j,
                             (user_id::VARCHAR || '#cms' || t.j::VARCHAR) AS s
                      FROM events, unnest(range(0, 4)) t(j)),
          cells AS (SELECT j, ${poly("s")} % 256 AS b2, count(*) AS cnt
                    FROM cellsrc GROUP BY 1, 2),
          pjsrc AS (SELECT p.user_id, t.j,
                           (p.user_id::VARCHAR || '#cms' || t.j::VARCHAR) AS s
                    FROM probes p, unnest(range(0, 4)) t(j)),
          pj AS (SELECT user_id, j, ${poly("s")} % 256 AS b2 FROM pjsrc),
          est AS (SELECT pj.user_id,
                         CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
                  FROM pj LEFT JOIN cells c ON c.j = pj.j AND c.b2 = pj.b2
                  GROUP BY 1),
          ex AS (SELECT p.user_id, count(e.user_id) AS exact
                 FROM probes p LEFT JOIN events e ON e.user_id = p.user_id
                 GROUP BY 1)
          SELECT ex.user_id, ex.exact, est.est,
                 CAST(est.est >= ex.exact AS INTEGER) AS over_ok
          FROM ex JOIN est USING (user_id) ORDER BY user_id"""
    },
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_lineitem" -> scanLineitem _,
    "scan_events" -> scanEvents _,
    "project_schema" -> projectSchema _,
    "filter_suffix" -> filterSuffix _,
    "filter_prefix" -> filterPrefix _,
    "filter_contains" -> filterContains _,
    "filter_threshold" -> filterThreshold _,
    "filter_eq_cols" -> filterEqCols _,
    "dedup_keys" -> dedupKeys _,
    "str_concat" -> stringConcatUpper _,
    "case_side_decode" -> caseSideDecode _,
    "derive_notional" -> deriveNotional _,
    "agg_by_key" -> aggByKey _,
    "agg_rollup" -> aggRollup _,
    "agg_time_rollup" -> aggTimeRollup _,
    "agg_wpercentile" -> aggWeightedPercentile _,
    "agg_cube" -> aggCube _,
    "gsets" -> aggGroupingSets _,
    "agg_bool" -> aggBool _,
    "agg_stats" -> aggStats _,
    "agg_skewkurt" -> aggSkewKurt _,
    "star_q5" -> starRevenue _,
    "agg_approx" -> aggApproxDistinct _,
    "join_hash" -> joinHash _,
    "join_broadcast" -> joinBroadcast _,
    "join_left" -> joinLeft _,
    "join_full" -> joinFull _,
    "join_semi" -> joinSemi _,
    "join_anti" -> joinAnti _,
    "join_range" -> joinRange _,
    "join_asof" -> joinAsof _,
    "join_asof_tol" -> joinAsofTol _,
    "join_asof_nearest" -> joinAsofNearest _,
    "winfn_rank" -> winfnRank _,
    "winfn_lag_runsum" -> winfnLagRunsum _,
    "winfn_nth" -> winfnFirstLast _,
    "winfn_cume" -> winfnCumeDist _,
    "winfn_median" -> winfnMedian _,
    "agg_mode" -> aggMode _,
    "join_salt" -> joinSalted _,
    "join_fuzzy" -> joinFuzzy _,
    "join_interval" -> joinInterval _,
    "join_spatial" -> joinSpatial _,
    "zscore" -> anomalyZscore _,
    "anomaly_mad" -> anomalyMad _,
    "skyline" -> skyline _,
    "abc_class" -> abcClass _,
    "sql_q1" -> sqlQ1 _,
    "sql_q6" -> sqlQ6 _,
    "sql_q3" -> sqlQ3 _,
    "agg_hll_merge" -> aggHllMerge _,
    "agg_hll_ix" -> aggHllIntersect _,
    "freq_cms" -> freqCms _,
    "upsert" -> upsert _,
    "upsert_scd2" -> upsertScd2 _,
    "join_pit" -> joinPit _,
    "join_nullsafe" -> joinNullsafe _,
    "join_bloom" -> joinBloom _,
    "topk" -> topk _,
    "set_ops" -> setOps _,
    "union_all" -> unionAllStreams _,
  )
}
