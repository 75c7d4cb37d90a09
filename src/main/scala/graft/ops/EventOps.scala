package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-sequence analytics over the `events` stream — the questions a
  * product/ops team asks of the same firehose the reference ingests
  * (liq-stream's unified rows are exactly such an event stream:
  * `stream.py:24-36` fans every exchange into one (ts, key, payload)
  * shape): ordered funnel conversion and cohort retention.
  *
  * Both are implemented as aggregate→join chains keyed on `user_id`
  * rather than as one giant per-user window:
  *   - each funnel step is a conditional MIN — partial aggregation makes
  *     the shuffle carry at most one row per (user, map task), so the
  *     shuffled bytes are proportional to #users, not #events;
  *   - a WindowExec over `partitionBy(user_id)` would buffer every event
  *     of a user in executor memory — a power user with 10^7 events is an
  *     OOM at 100 TB, while the agg chain never holds more than a running
  *     min per user;
  *   - every step's shuffle is keyed on the same `user_id`, so AQE/
  *     exchange reuse lines the steps up without re-partitioning, and the
  *     per-step `event_type` filter is pushed into the parquet scan
  *     (PushedFilters), so each pass reads only its slice.
  */
object EventOps {

  /** Strictly-ordered 3-step funnel (signup → view → purchase): a user
    * counts for step N only with an event of that type strictly LATER
    * than their step-N-1 time (min-after-min semantics — the standard
    * definition, robust to users who viewed before ever signing up).
    * Returns one row per stage with the surviving-user count. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(table(spark, dir, "events").select("user_id", "event_type", "ts"))

  /** [[funnel]] over any (user_id, event_type, ts) frame — split out so the
    * ordering edge cases (purchase-before-view must not count) are
    * spec-testable on hand-built inputs. */
  private[graft] def funnelOf(ev: DataFrame): DataFrame = {
    // step 1: first signup per user. Filter pushes to the scan; the agg's
    // map-side partial min means the shuffle is ≤ one row per user per task.
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    // step 2: first view strictly after t1. Shuffle join keyed user_id —
    // the same key as s1's agg, so the s1 side is already partitioned.
    val s2 = ev.filter(col("event_type") === "view")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    // step 3: first purchase strictly after t2.
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    def stage(df: DataFrame, step: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("users"))
        .select(lit(step).as("step"), lit(name).as("stage"), col("users"))
    stage(s1, 1, "signup")
      .unionByName(stage(s2, 2, "view"))
      .unionByName(stage(s3, 3, "purchase"))
      .orderBy("step")
  }

  /** Conversion window for [[funnelWindow]] — 7 days, in microseconds
    * (shared with [[graft.streaming.StreamAssembly.funnelWindowStream]], its
    * live twin). */
  private[graft] val funnelWinUs = 7L * 86400000000L

  /** TIME-BOUNDED FUNNEL — [[funnel]] with a conversion window: each step
    * counts only within [[funnelWinUs]] (7 days) of the PREVIOUS step's
    * time (the marketing attribution convention: a purchase eleven
    * months after the view is not that view's conversion). Same
    * min-after-min aggregate-join chain — the bound is one more pushed
    * predicate on the already-keyed join, exact in microseconds; the
    * plan and its shuffle-∝-users scale argument are unchanged. */
  def funnelWindow(spark: SparkSession, dir: String): DataFrame =
    funnelWindowOf(
      table(spark, dir, "events").select("user_id", "event_type", "ts"))

  private[graft] def funnelWindowOf(ev: DataFrame): DataFrame = {
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "view")
      .join(s1, "user_id")
      .filter(col("ts") > col("t1") &&
        unix_micros(col("ts")) <= unix_micros(col("t1")) + funnelWinUs)
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts") > col("t2") &&
        unix_micros(col("ts")) <= unix_micros(col("t2")) + funnelWinUs)
      .groupBy("user_id").agg(min("ts").as("t3"))
    def stage(df: DataFrame, step: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("users"))
        .select(lit(step).as("step"), lit(name).as("stage"), col("users"))
    stage(s1, 1, "signup")
      .unionByName(stage(s2, 2, "view"))
      .unionByName(stage(s3, 3, "purchase"))
      .orderBy("step")
  }

  /** FUNNEL STEP LATENCY — how long converting users take between steps
    * (the metric that decides where the product bleeds: a fast
    * signup→view but day-long view→purchase is a checkout problem):
    * per stage transition, converting-user count, the MEDIAN gap (GK
    * sketch in the exact regime == DuckDB `quantile_disc`) and the
    * exact-integer mean. The gap frame is a SINGLE global group, so the
    * sketch runs at [[Extended.binsAccuracy]] — the same widened lossless
    * bound the global histogram ops use; at `pctlAccuracy` a group past
    * ~accuracy/2 rows lets the GK edges drift a rank off the oracle.
    * Built on [[funnel]]'s min-after-min times — same aggregate-join
    * chain, same shuffle ∝ users. */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame =
    funnelLatencyOf(
      table(spark, dir, "events").select("user_id", "event_type", "ts"))

  /** Split out so the spec can drive hand-built sequences with known
    * gaps (and lock the carried-t1/t2 two-join plan shape). */
  private[graft] def funnelLatencyOf(ev: DataFrame): DataFrame = {
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    // t1/t2 are CARRIED through the next step's aggregate (min of a
    // per-user constant == the constant) instead of re-joined back on:
    // the oracle's g1 = s2 ⋈ s1 / g2 = s3 ⋈ s2 frames are row- and
    // value-identical, but the plan drops two hash joins AND the
    // duplicated re-execution of the s1/s2 subtrees those joins forced
    // (guide §2.4: shuffles you can simply not do) — 11 Spark jobs → 7,
    // and shuffle bytes ∝ users once per step instead of twice.
    val s2 = ev.filter(col("event_type") === "view")
      .join(s1, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"), min("t1").as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2.select("user_id", "t2"), "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"), min("t2").as("t2"))
    def stage(df: DataFrame, from: String, gap: Column, step: Int): DataFrame =
      df.select(gap.as("gap_us"))
        .agg(count(lit(1)).as("n_users"),
          expr(s"approx_percentile(gap_us, 0.5D, ${Extended.binsAccuracy})")
            .as("p50_gap_us"),
          (sum(col("gap_us").cast(DecimalType(38, 0))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType) / 1e6).as("mean0"))
        .select(lit(step).as("step"), lit(from).as("transition"),
          col("n_users"), col("p50_gap_us"),
          roundD(col("mean0"), 6).as("mean_gap_s"))
    stage(s2, "signup->view",
        unix_micros(col("t2")) - unix_micros(col("t1")), 1)
      .unionByName(stage(s3, "view->purchase",
        unix_micros(col("t3")) - unix_micros(col("t2")), 2))
      .orderBy("step")
  }

  /** Cohort retention: users are cohorted by their first-active day; the
    * cell (cohort, offset) counts users of that cohort active `offset`
    * days later. The (user, day) activity set is `distinct`-ed FIRST —
    * map-side partial dedup shrinks the shuffle from #events rows to
    * #user-days rows before the cohort join ever runs. Each user
    * contributes at most one row per (cohort, offset) by construction
    * (offset is a function of day for a fixed user), so the final count
    * needs no second distinct. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val act = ev.distinct()
    val cohort = act.groupBy("user_id").agg(min("day").as("cohort_day"))
    act.join(cohort, "user_id")
      .select(
        date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        datediff(col("day"), col("cohort_day")).cast(LongType).as("offset"))
      .groupBy("cohort", "offset")
      .agg(count(lit(1)).as("active_users"))
      .orderBy("cohort", "offset")
  }

  /** COHORT LTV — the revenue companion to [[retention]]: users cohorted
    * by first-active day, purchase value accumulated per cohort by WEEK
    * offset, reported as the running (cumulative) lifetime value curve —
    * "how much has the Jan-3 cohort spent by week 4". The curve every
    * growth team plots next to the retention triangle.
    *
    * Plan shape: the cohort frame is one keyed min over (user, day) —
    * shuffle ∝ users; the purchase slice filters at the scan and joins on
    * the SAME user_id key; cells are a hash aggregate at (cohort, week)
    * grain. Only then does a window run — the cumulative sum partitions
    * by cohort over its WEEKS, a frame bounded by calendar tenure (the
    * [[streaks]] argument), never by event volume. Money is exact integer
    * cents end to end. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = table(spark, dir, "events")
    val cohort = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id").agg(min("day").as("cohort_day"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        (col("value").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("cents"))
    val cells = buys.join(cohort, "user_id")
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        expr("cast(datediff(day, cohort_day) as bigint) div 7").as("week"))
      .agg(count(lit(1)).as("n_buys"), sum("cents").as("cents"))
    val w = Window.partitionBy("cohort").orderBy("week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.select(col("cohort"), col("week"), col("n_buys"),
        sum(col("cents")).over(w).as("cum_cents"))
      .orderBy("cohort", "week")
  }

  /** LAST-TOUCH attribution: credit every purchase to the user's most
    * recent STRICTLY-PRIOR view — the standard marketing-attribution
    * query, and the in-sequence as-of join [[graft.ops.Relational.joinAsOf]]
    * solves across two tables. Unlike the funnel (pure aggregates), this
    * genuinely needs sequence context, so it is the one EventOps query
    * that runs a per-user window — but the frame is a running
    * `last(ignoreNulls)` over `(UNBOUNDED PRECEDING, 1 PRECEDING)`: the
    * carried state is ONE (event_id, ts) pair per user, rows stream
    * through WindowExec's spill-backed buffer (a power user spills to
    * disk, never OOMs), and the strictly-prior frame + the (ts, event_id)
    * tie-break make a same-timestamp view/purchase pair deterministic.
    * Output is one row per purchase: the attributed view (nullable — a
    * purchase with no prior view is an organic conversion) and the
    * click-to-buy gap in whole seconds. */
  def attrLastTouch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    table(spark, dir, "events")
      .select("user_id", "event_id", "event_type", "ts")
      .withColumn("attr_id",
        last(when(col("event_type") === "view", col("event_id")),
          ignoreNulls = true).over(w))
      .withColumn("attr_ts",
        last(when(col("event_type") === "view", col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("attr_id"),
        expr("(unix_micros(ts) - unix_micros(attr_ts)) div 1000000")
          .as("gap_s"))
      .orderBy("purchase_id")
  }

  /** POSITION-BASED (U-SHAPED) MULTI-TOUCH ATTRIBUTION — the standard
    * 40/20/40 split [[attrLastTouch]]'s single-credit model refuses:
    * every purchase's credit is distributed over ALL its prior touches
    * (views and clicks since the user's previous purchase) — first and
    * last touch get 400‰ each, the middles split the remaining 200‰; a
    * solo touch takes 1000‰, a pair splits 500/500. Credit is integer
    * permille with `div` (the sub-permille remainder of the middle split
    * is dropped — documented, replayed identically by the oracle),
    * rolled up by (touch type, position class).
    *
    * Plan shape — NO interval join: a running strictly-prior purchase
    * count per user (O(1) window state, the [[attrLastTouch]] frame)
    * stamps every event with its conversion-segment id, so "the touches
    * of purchase #k" is simply the group (user, seg=k−1); position and
    * size come from one window over that group, whose partition is a
    * single conversion path — bounded by touches-per-conversion, never
    * the user's history — and unconverted trailing touches drop via the
    * group's has-purchase flag. Everything after is a tiny hash rollup. */
  def attrPosition(spark: SparkSession, dir: String): DataFrame =
    attrPositionOf(table(spark, dir, "events"))

  /** The segment/position machinery over any (user_id, event_id,
    * event_type, ts) frame — split out so the spec can drive hand-built
    * journeys with known splits (3 touches ⇒ 400/200/400; trailing
    * touches after the last purchase earn nothing). */
  private[graft] def attrPositionOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSeg = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = events
      .select("user_id", "event_id", "event_type", "ts")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withColumn("seg", coalesce(sum(
        when(col("event_type") === "purchase", 1L)).over(wSeg), lit(0L)))
    val wg = Window.partitionBy("user_id", "seg")
    val touches = ev
      .withColumn("has_p", max(when(col("event_type") === "purchase", 1)
        .otherwise(0)).over(wg))
      .withColumn("rn", row_number().over(wg.orderBy("ts", "event_id")))
      .withColumn("n_all", count(lit(1)).over(wg))
      .filter(col("event_type") =!= "purchase" && col("has_p") === 1)
      .withColumn("nt", col("n_all") - 1)
    touches
      .select(col("event_type").as("touch_type"),
        when(col("nt") === 1, "solo")
          .when(col("rn") === 1, "first")
          .when(col("rn") === col("nt"), "last")
          .otherwise("middle").as("position"),
        when(col("nt") === 1, 1000L)
          .when(col("nt") === 2, 500L)
          .when(col("rn") === 1 || col("rn") === col("nt"), 400L)
          .otherwise(expr("200 div (nt - 2)")).as("w"))
      .groupBy("touch_type", "position")
      .agg(count(lit(1)).as("n_touches"),
        sum("w").as("credit_permille"))
      .orderBy("touch_type", "position")
  }

  /** LINEAR (EVEN-CREDIT) MULTI-TOUCH ATTRIBUTION — the equal-split
    * model completing the family ([[attrLastTouch]] single-credit,
    * [[attrPosition]] U-shaped, [[attrMarkov]] removal-effect, and
    * [[attrDecay]] recency-weighted): every touch on a converting path
    * earns 1000 div n_touches permille (the sub-permille remainder is
    * dropped — the [[attrPosition]] middle-split convention, replayed
    * identically by the oracle), rolled up by touch type. Same
    * segment machinery, same plan shape: running strictly-prior
    * purchase count stamps segments, ONE window over each bounded
    * conversion path, then a tiny hash rollup. */
  def attrLinear(spark: SparkSession, dir: String): DataFrame =
    attrLinearOf(table(spark, dir, "events"))

  private[graft] def attrLinearOf(events: DataFrame): DataFrame =
    convertingTouches(events)
      .select(col("event_type").as("touch_type"),
        expr("1000 div nt").as("w"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        sum("w").as("credit_permille"))
      .orderBy("touch_type")

  /** TIME-DECAY MULTI-TOUCH ATTRIBUTION — recency-weighted credit: a
    * touch's raw weight halves for every 3 full days between it and its
    * conversion (the dyadic ladder 1000, 500, 250, …, 1 — explicit
    * integer literals, so both engines share the exact table and no
    * floating-point pow enters the credit path), then each conversion's
    * weights normalize to permille with integer `div` (remainder
    * dropped, the family convention). The model every "last week's
    * campaign" debate reaches for: recent touches dominate without the
    * cliff of last-touch. Same segment machinery as [[attrPosition]];
    * the purchase timestamp rides the same path-bounded window that
    * already carries position, so the age is one extra column, not an
    * interval join. */
  def attrDecay(spark: SparkSession, dir: String): DataFrame =
    attrDecayOf(table(spark, dir, "events"))

  /** 1000 div 2^k for k = age_days div 3, capped at the 1‰ floor. */
  private[graft] val decayLadder: Seq[Long] =
    Seq(1000L, 500L, 250L, 125L, 62L, 31L, 15L, 7L, 3L, 1L)

  private[graft] def attrDecayOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wg = Window.partitionBy("user_id", "seg")
    val aged = convertingTouches(events)
      .withColumn("age_days",
        expr("(p_us - unix_micros(ts)) div 86400000000"))
      .withColumn("k", least(expr("age_days div 3"),
        lit((decayLadder.size - 1).toLong)))
      .withColumn("w", decayLadder.zipWithIndex.tail.foldLeft(
        when(col("k") === 0L, lit(decayLadder.head))) {
        case (acc, (v, i)) => acc.when(col("k") === i.toLong, lit(v))
      })
    aged
      .withColumn("sw", sum("w").over(wg))
      .select(col("event_type").as("touch_type"),
        expr("w * 1000 div sw").as("credit"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_touches"),
        sum("credit").as("credit_permille"))
      .orderBy("touch_type")
  }

  /** The shared converting-path frame behind [[attrLinearOf]] and
    * [[attrDecayOf]]: every non-purchase touch of a segment that
    * converted, with the path size `nt` and the conversion's µs
    * timestamp `p_us` ([[attrPositionOf]]'s machinery, plus the
    * purchase-time column the decay model needs). */
  private def convertingTouches(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSeg = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = events
      .select("user_id", "event_id", "event_type", "ts")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withColumn("seg", coalesce(sum(
        when(col("event_type") === "purchase", 1L)).over(wSeg), lit(0L)))
    val wg = Window.partitionBy("user_id", "seg")
    ev
      .withColumn("has_p", max(when(col("event_type") === "purchase", 1)
        .otherwise(0)).over(wg))
      .withColumn("p_us", max(when(col("event_type") === "purchase",
        unix_micros(col("ts")))).over(wg))
      .withColumn("n_all", count(lit(1)).over(wg))
      .filter(col("event_type") =!= "purchase" && col("has_p") === 1)
      .withColumn("nt", col("n_all") - 1)
  }

  /** USER STICKINESS — the DAU/MAU engagement ratio per (type, month):
    * avg daily active users over monthly active users, in integer
    * permille — THE habit metric product reviews track (300‰ ≈ the
    * classic "good" bar). Exact integer form: Σ daily-distinct · 1000
    * div (n_days · monthly-distinct), so no float average enters the
    * compare. Plan: ONE distinct projection at (type, day, user) grain
    * feeds the daily counts AND (re-deduped at month grain) the MAU —
    * two map-side-combined aggregates over user-keyed shuffles, no
    * window, no per-user state. */
  def userStickiness(spark: SparkSession, dir: String): DataFrame = {
    val base = table(spark, dir, "events")
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM").as("month"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id"))
      .distinct()
    val daily = base.groupBy("event_type", "month", "day")
      .agg(count(lit(1)).as("dau"))
      .groupBy("event_type", "month")
      .agg(count(lit(1)).as("n_days"), sum("dau").as("sum_dau"))
    val mau = base.select("event_type", "month", "user_id").distinct()
      .groupBy("event_type", "month")
      .agg(count(lit(1)).as("mau"))
    daily.join(mau, Seq("event_type", "month"))
      .select(col("event_type"), col("month"), col("n_days"),
        col("sum_dau"), col("mau"),
        expr("sum_dau * 1000 div (n_days * mau)").as("stickiness_pm"))
      .orderBy("event_type", "month")
  }

  /** WELCH T-TEST READOUT — the continuous-metric companion to
    * [[abTest]]'s proportion z²: arms compare on MEAN SPEND PER USER
    * (the revenue metric experiments actually ship on), with the
    * unequal-variance t statistic and Welch–Satterthwaite df. Same
    * user-grain hashing (unit of randomization = user), same one-pass
    * shape: per-user cents, then ONE global aggregate carrying both
    * arms' exact integer moments (n, Σx, Σx²), then t and df derive in
    * a single scalar double tree (identical both engines — the ts_acf
    * convention; Σx² of cents brushes 2⁶³ at corpus scale, so the
    * moments ride DECIMAL(38,0)). */
  def abTtest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}
    val arm = when(conv(substring(md5(concat(col("user_id")
      .cast(StringType), lit("#ab"))), 1, 8), 16, 10)
      .cast(LongType) % 2L === 0L, "A").otherwise("B")
    val perUser = table(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType))
        .otherwise(0L)).as("cents"))
      .select(arm.as("arm"), coalesce(col("cents"), lit(0L)).as("x"))
    val dec = DecimalType(38, 0)
    val m = perUser.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "A", col("x").cast(dec))).as("sa"),
      sum(when(col("arm") === "A", (col("x") * col("x")).cast(dec))).as("qa"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === "B", col("x").cast(dec))).as("sb"),
      sum(when(col("arm") === "B", (col("x") * col("x")).cast(dec))).as("qb"))
    def d(c: String) = col(c).cast(DoubleType)
    val va = (d("qa") - d("sa") * d("sa") / d("na")) / (d("na") - 1.0) / d("na")
    val vb = (d("qb") - d("sb") * d("sb") / d("nb")) / (d("nb") - 1.0) / d("nb")
    m.select(col("na").as("users_a"), col("nb").as("users_b"),
      roundD(d("sa") / d("na") / 100.0, 6).as("mean_a"),
      roundD(d("sb") / d("nb") / 100.0, 6).as("mean_b"),
      roundD((d("sa") / d("na") - d("sb") / d("nb")) /
        sqrt(va + vb), 6).as("t_stat"),
      roundD((va + vb) * (va + vb) /
        (va * va / (d("na") - 1.0) + vb * vb / (d("nb") - 1.0)), 6)
        .as("welch_df"))
  }

  /** POST-HOC POWER READOUT (minimum detectable effect) — the "could this
    * experiment even have seen anything?" audit run BEFORE trusting a
    * null [[abTtest]]: at α=5% two-sided and 80% power, the smallest
    * absolute/relative lift the observed arm sizes and variances could
    * detect, MDE = (z₀.₉₇₅+z₀.₈)·√(s²_A/n_A + s²_B/n_B). Same user-grain
    * hash split and DECIMAL(38,0) cents moments as the t-test (one
    * aggregate, no second pass); the z quantiles are shared double
    * LITERALS (exponent-suffixed in the oracle so DuckDB lexes DOUBLE),
    * and the whole readout is one scalar IEEE tree — NULL (never NaN)
    * when an arm is empty or constant. */
  def abPower(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}
    val arm = when(conv(substring(md5(concat(col("user_id")
      .cast(StringType), lit("#ab"))), 1, 8), 16, 10)
      .cast(LongType) % 2L === 0L, "A").otherwise("B")
    val perUser = table(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType))
        .otherwise(0L)).as("cents"))
      .select(arm.as("arm"), coalesce(col("cents"), lit(0L)).as("x"))
    val dec = DecimalType(38, 0)
    val m = perUser.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "A", col("x").cast(dec))).as("sa"),
      sum(when(col("arm") === "A", (col("x") * col("x")).cast(dec))).as("qa"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === "B", col("x").cast(dec))).as("sb"),
      sum(when(col("arm") === "B", (col("x") * col("x")).cast(dec))).as("qb"))
    def d(c: String) = col(c).cast(DoubleType)
    // va/vb are variances OF THE MEAN (s²/n) — the t-test denominators
    val va = (d("qa") - d("sa") * d("sa") / d("na")) /
      (d("na") - 1.0) / d("na")
    val vb = (d("qb") - d("sb") * d("sb") / d("nb")) /
      (d("nb") - 1.0) / d("nb")
    val z = lit(1.959963984540054) + lit(0.8416212335729143)
    val mdeCents = z * sqrt(va + vb)
    m.select(col("na").as("users_a"), col("nb").as("users_b"),
      roundD(mdeCents / 100.0, 6).as("mde_abs"),
      roundD(mdeCents / nullif(d("sa") / d("na"), lit(0.0)), 6)
        .as("mde_rel"))
  }

  /** AUDIENCE OVERLAP — the Jaccard between every pair of event types'
    * USER SETS ("do clickers also purchase"): the cross-product planning
    * readout behind funnels and attribution. Dedup to (type, user)
    * first (event volume never enters), one self-equi-join on user with
    * the a < b canonicalization, margins broadcast back; exact integer
    * permille. At most |types|² output rows. */
  def userOverlap(spark: SparkSession, dir: String): DataFrame = {
    val tu = table(spark, dir, "events")
      .select(col("event_type").as("t"), col("user_id")).distinct()
    val both = tu.select(col("t").as("ta"), col("user_id"))
      .join(tu.select(col("t").as("tb"), col("user_id")), "user_id")
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_both"))
    val m = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
    both
      .join(broadcast(m.select(col("t").as("ta"), col("n").as("n_a"))), "ta")
      .join(broadcast(m.select(col("t").as("tb"), col("n").as("n_b"))), "tb")
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"), col("n_both"),
        expr("n_both * 1000 div (n_a + n_b - n_both)").as("jaccard_pm"))
      .orderBy("ta", "tb")
  }

  /** PATH TRANSITIONS — the first-order Markov view of user behavior:
    * count every consecutive (from → to) event-type pair within a user's
    * timeline, plus each edge's permille share of its from-state's
    * outgoing mass (integer-exact, so the "transition matrix" is
    * hash-comparable). This is "what do users do right before/after X" —
    * the navigation question funnels answer only for one fixed path.
    *
    * Plan: ONE `lead` window per user (the carried state is a single
    * column, rows stream through the spill-backed buffer like
    * [[attrLastTouch]]) feeding a hash aggregate on the (from, to) pair —
    * at most |types|² output rows — then the from-state margin rides a
    * full-partition window over that bounded frame (no join, no second
    * pass over events). */
  def pathTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val edges = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("transitions"))
    // the from-state margin rides a FULL-PARTITION window over the
    // ≤|types|² edge frame (guide §2.4) instead of a groupBy + broadcast
    // self-join, which re-planned the per-user lead window (and its
    // events scan) a second time
    edges
      .withColumn("out_total",
        sum("transitions").over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), col("transitions"),
        expr("transitions * 1000 div out_total").as("share_permille"))
      .orderBy("from_type", "to_type")
  }

  /** Iterations / value scale for [[attrMarkov]] — fixed, so both engines
    * run the identical integer absorption recursion. */
  val markovIters = 12
  val markovScale = 1000000L

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION — the data-driven multi-touch
    * model that completes the attribution family ([[attrLastTouch]]'s
    * single credit, [[attrPosition]]'s fixed 40/20/40 split): journeys
    * are each user's pre-first-purchase touch sequence, fitted as a
    * first-order Markov chain (START → touches → CONV/NULL), and a
    * channel's credit is its REMOVAL EFFECT — how much the chain's
    * START→CONV absorption probability drops when that channel's
    * incoming mass is redirected to NULL (Anderl et al. 2016's framework;
    * the standard alternative to position heuristics).
    *
    * Cross-engine exactness: absorption probabilities are NOT solved
    * (matrix inversion has no deterministic SQL twin) but iterated a
    * FIXED [[markovIters]] Jacobi rounds in pure integer arithmetic —
    * value(s) in micro-units, each round `Σ n(s,t)·value(t) div out(s)`
    * with 128-bit products (BigInt here, HUGEINT in the oracle) — so
    * both engines walk bit-identical states; the oracle unrolls the same
    * rounds as chained CTEs over the same (scenario, from, to, n) frame.
    *
    * Plan at 100 TB: the DATA-sized work — the first-purchase aggregate,
    * the pre-purchase filter, one lead/row_number window per user, and
    * the (from, to) hash rollup — is all distributed ([[pathTransitions]]'
    * shuffle shape, ∝ touches). What reaches the driver is the transition
    * MATRIX: at most (|channels|+1)·(|channels|+2) rows regardless of
    * corpus size (the [[graft.ops.TextOps]] metadata-scale-fold
    * convention), and the scenario fold is |channels|+1 reruns of a
    * |states|²-cost loop on those counts. */
  def attrMarkov(spark: SparkSession, dir: String): DataFrame =
    attrMarkovOf(table(spark, dir, "events"))

  /** The journey build + absorption fold over any (user_id, event_type,
    * ts, event_id) frame — split out so the spec can drive hand-built
    * journeys whose removal effects are known in closed form. */
  private[graft] def attrMarkovOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = events.sparkSession
    val ev = events.select("user_id", "event_type", "ts", "event_id")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // first purchase per user — stamped by a full-partition window on the
    // SAME (partition, order) spec as the sequence windows below, so the
    // whole journey build costs ONE user_id exchange (a join against a
    // first-purchase aggregate would add a second)
    val wFull = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val stamped = ev.withColumn("p",
      min(when(col("event_type") === "purchase",
        struct(col("ts"), col("event_id")))).over(wFull))
    val touches = stamped.filter(col("event_type") =!= "purchase" &&
      (col("p").isNull || struct(col("ts"), col("event_id")) < col("p")))
    // ONE more window pass (same spec — no re-exchange) emits every
    // transition the row owns: its outgoing edge, plus the START edge
    // when it opens the journey
    val seq = touches
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .withColumn("rn", row_number().over(w))
    val ownEdge = struct(col("event_type").as("f"),
      coalesce(col("nxt"),
        when(col("p").isNotNull, lit("CONV")).otherwise(lit("NULL"))).as("t"))
    val startEdge = struct(lit("START").as("f"), col("event_type").as("t"))
    val edges = seq.select(explode(
        when(col("rn") === 1, array(startEdge, ownEdge))
          .otherwise(array(ownEdge))).as("e"))
      .select(col("e.f").as("f"), col("e.t").as("t"))
    // converters who never touched before buying: START → CONV directly —
    // one keyed aggregate (first purchase vs first touch per user), no join
    val organic = ev.groupBy("user_id")
      .agg(min(when(col("event_type") === "purchase",
          struct(col("ts"), col("event_id")))).as("p"),
        min(when(col("event_type") =!= "purchase",
          struct(col("ts"), col("event_id")))).as("t0"))
      .filter(col("p").isNotNull &&
        (col("t0").isNull || !(col("t0") < col("p"))))
      .select(lit("START").as("f"), lit("CONV").as("t"))
    // one merged rollup → ONE collect job for the whole |states|² matrix
    val matrix = edges.unionByName(organic)
      .groupBy("f", "t").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> BigInt(r.getLong(2)))
      .toMap
    // ---- driver fold over the |states|^2 matrix (never data-sized) ----
    val scale = BigInt(markovScale)
    def absorb(n: Map[(String, String), BigInt]): BigInt = {
      val outs = n.toSeq.groupBy(_._1._1)
        .map { case (s, rows) => s -> rows.map(_._2).sum }
      var pq = Map.empty[String, BigInt].withDefaultValue(BigInt(0))
      for (_ <- 1 to markovIters) {
        val prev = pq // Jacobi: every state reads the PREVIOUS round
        pq = outs.map { case (s, out) =>
          val acc = n.iterator.collect { case ((`s`, t), c) =>
            c * (t match {
              case "CONV" => scale
              case "NULL" => BigInt(0)
              case other  => prev(other)
            })
          }.sum
          s -> acc / out
        }.withDefaultValue(BigInt(0))
      }
      pq("START")
    }
    def removed(c: String): Map[(String, String), BigInt] =
      matrix.toSeq.collect { case ((s, t), v) if s != c =>
        (s, if (t == c) "NULL" else t) -> v
      }.groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).sum }
    val base = absorb(matrix)
    val channels = matrix.keys.map(_._1).filter(_ != "START").toSeq.sorted
    val deltas = channels.map(c => c -> (base - absorb(removed(c))))
    val totalDelta = deltas.map(_._2).sum
    val rows = deltas.map { case (c, d) =>
      val effect = if (base == 0) BigInt(0) else d * 1000 / base
      val share = if (totalDelta == 0) BigInt(0) else d * 1000 / totalDelta
      (c, effect.toLong, share.toLong)
    }
    import spark.implicits._
    rows.toDF("channel", "removal_effect_pm", "attr_pm").orderBy("channel")
  }

  /** LONGEST ACTIVITY STREAK per user — the gaps-and-islands engagement
    * metric (consecutive active DAYS): distinct (user, day), then the
    * island key day − row_number(per-user day order) is constant exactly
    * within a consecutive run, so streaks fall out of one keyed count and
    * a per-user max. Scale shape: the window's partition input is each
    * user's DISTINCT DAYS — bounded by calendar tenure, not event volume
    * (the raw stream never enters a window); everything else is hash
    * aggregation. */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("d")
    val days = table(spark, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("d"))
      .distinct()
    days
      .withColumn("grp", col("d") - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max("len").as("max_streak"), sum("len").as("n_active_days"))
      .orderBy("user_id")
  }

  /** A/B EXPERIMENT READOUT — the product-analytics closer on top of
    * [[graft.ops.Curation.splitHash]]'s deterministic assignment: users
    * hash 50/50 into arms, conversion = did the user ever purchase, and
    * the readout is per-arm (users, converters, permille rate) plus one
    * pooled z²-style contrast statistic — computed IN EXACT INTEGER
    * ARITHMETIC (the dq_drift convention: numerator and denominator of
    * (pa−pb)² / (p(1−p)(1/na+1/nb)) cross-multiplied into BIGINTs, scaled
    * ×1000) so both engines agree bit-for-bit and no float CLT formula
    * has to round-trip. Assignment hashes the USER (not the event), so
    * every event of a user lands in one arm — the unit-of-randomization
    * rule A/B systems get wrong first. Conversion = a big purchase
    * (value > 90 — plain purchases are universal in this corpus, which
    * would zero the pooled-variance denominator). One aggregate over
    * events to the user grain, one tiny per-arm rollup; nothing shuffles
    * twice. Integer envelope: the cross-multiplied z² numerator is
    * ~(c·u)²·(2u)·1000 — past sf0.1 that leaves int64 (~3e18), where
    * non-ANSI Spark would wrap silently while DuckDB raises, so the
    * factors are lifted to 128-bit integers on BOTH engines
    * (DECIMAL(38,0) here, HUGEINT in the oracle — the ab_ttest moment
    * convention) and only the ≤1e5-ish quotient lands back in BIGINT.
    *
    * THE 128-BIT ENVELOPE IS ITSELF BOUNDED (precision 38 ≈ 1e38): with
    * u users per arm and c ≤ u converters, the numerator is at most
    * (c·u)²·(2u)·1000 ≤ 2000·u⁵, which stays under 1e38 while
    * u < ~8.7e6 per arm (~1.7e7 total users; this generator makes
    * 15,000 users per SF and ~90% convert, so the envelope holds to
    * SF ≈ 1.2e3 ≈ 1.2e9 events). Past it the two engines diverge IN
    * FAILURE MODE, not value: non-ANSI Spark's decimal overflow yields
    * NULL silently while DuckDB's HUGEINT raises (both overflow near the
    * same magnitude — HUGEINT caps at 1.7e38). A corpus beyond that user
    * count needs the z² factored down first (divide (ua+ub−ca−cb)·ua·ub
    * into the squared term before multiplying — loses bit-exactness) or
    * `spark.sql.ansi.enabled=true` so Spark fails as loudly as the
    * oracle. The same reasoning bounds [[abTtest]]'s spend moments,
    * whose x⁴-scale products cross 1e38 around the same SF. */
  /** WILSON CONFIDENCE INTERVAL on the daily conversion rate — the
    * proportion readout beside [[abTtest]]'s mean comparison: per day,
    * purchases/events with the 95% Wilson score interval (the interval
    * that behaves at small n and extreme p̂, where the naive Wald CI
    * collapses or leaves [0,1] — the standard dashboard bound). One
    * conditional-count aggregate (two exact integers per day); the
    * closed-form bound is a single shared double tree on (k, n) with
    * z = 1.96 as a literal, so both engines land the same 6-dp interval.
    */
  def abWilson(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val m = table(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("k"))
    val (nD, kD) = (col("n").cast(DoubleType), col("k").cast(DoubleType))
    val z = lit(1.96); val z2 = lit(1.96 * 1.96)
    val ph = kD / nD
    val denom = lit(1.0) + z2 / nD
    val center = (ph + z2 / (lit(2.0) * nD)) / denom
    val half = z * sqrt(ph * (lit(1.0) - ph) / nD +
      z2 / (lit(4.0) * nD * nD)) / denom
    m.select(col("day"), col("n"), col("k"),
        roundD(ph, 6).as("rate"),
        roundD(center - half, 6).as("wilson_lo"),
        roundD(center + half, 6).as("wilson_hi"))
      .orderBy("day")
  }

  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val arm = when(conv(substring(md5(concat(col("user_id")
      .cast(StringType), lit("#ab"))), 1, 8), 16, 10)
      .cast(LongType) % 2L === 0L, "A").otherwise("B")
    val perUser = table(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          col("value") > 90.0, 1L).otherwise(0L)).as("converted"))
      .select(arm.as("arm"), col("converted"))
    // ONE global aggregate carries both arms' counts (conditional sums,
    // map-side combined), the scalar z2 derives in the same row, and the
    // per-arm rows explode back out — no join, no window, three narrow
    // stages total
    val one = perUser.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("ua"),
      sum(when(col("arm") === "A", col("converted")).otherwise(0L)).as("ca"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("ub"),
      sum(when(col("arm") === "B", col("converted")).otherwise(0L)).as("cb"))
    one
      .select(explode(array(
        struct(lit("A").as("arm"), col("ua").as("users"),
          col("ca").as("converters")),
        struct(lit("B").as("arm"), col("ub").as("users"),
          col("cb").as("converters")))).as("r"),
        // z^2 cross-multiplied to integers:
        //   (ca*ub - cb*ua)^2 * (ua+ub) * 1000
        //   ----------------------------------
        //   (ca+cb)(ua+ub-ca-cb) * ua * ub
        expr("""CAST(
              ((CAST(ca AS DECIMAL(38,0)) * ub - CAST(cb AS DECIMAL(38,0)) * ua)
               * (CAST(ca AS DECIMAL(38,0)) * ub - CAST(cb AS DECIMAL(38,0)) * ua)
               * (ua + ub) * 1000)
              div ((CAST(ca AS DECIMAL(38,0)) + cb)
                   * (ua + ub - ca - cb) * ua * ub)
            AS BIGINT)""")
          .as("z2_x1000"))
      .select(col("r.arm").as("arm"), col("r.users").as("users"),
        col("r.converters").as("converters"),
        expr("r.converters * 1000 div r.users").as("conv_pm"),
        col("z2_x1000"))
      .orderBy("arm")
  }

  /** SAMPLE-RATIO MISMATCH audit — the assignment-health check that must
    * pass BEFORE [[abTest]]'s outcome readout means anything: a 50/50
    * hash split whose realized arm counts drift (a logging bug, a bot
    * filter hitting one arm) silently biases every downstream metric, so
    * the standard experimentation pipeline gates on this χ² first. Same
    * md5 arm assignment as ab_test; χ² for two equal-expectation cells
    * collapses to (ua−ub)²/(ua+ub), carried cross-multiplied in
    * DECIMAL(38,0) (the ab_test 128-bit discipline — at 10⁹ users the
    * numerator leaves int64). One per-user aggregate + one global row,
    * exploded back to per-arm rows: no join, no window. */
  def abSrm(spark: SparkSession, dir: String): DataFrame = {
    val arm = when(conv(substring(md5(concat(col("user_id")
      .cast(StringType), lit("#ab"))), 1, 8), 16, 10)
      .cast(LongType) % 2L === 0L, "A").otherwise("B")
    val perUser = table(spark, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("ev"))
      .select(arm.as("arm"))
    perUser.agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("ua"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("ub"))
      .select(explode(array(
          struct(lit("A").as("arm"), col("ua").as("users")),
          struct(lit("B").as("arm"), col("ub").as("users")))).as("r"),
        expr("""CAST((CAST(ua - ub AS DECIMAL(38,0)) * (ua - ub) * 1000)
                     div (ua + ub) AS BIGINT)""").as("srm_x1000"),
        expr("ua * 1000 div (ua + ub)").as("share_a_pm"))
      .select(col("r.arm").as("arm"), col("r.users").as("users"),
        col("share_a_pm"), col("srm_x1000"))
      .orderBy("arm")
  }

  /** CUPED-ADJUSTED EXPERIMENT READOUT — variance reduction using
    * pre-period behavior as the control covariate (the standard trick
    * that cuts an A/B test's required sample size): split the corpus at
    * its temporal midpoint (first 15 days = pre-period X, rest = post Y,
    * anchored to the measured min day, never a hardcoded date), compute
    * θ = cov(X,Y)/var(X) over users, and report each arm's raw and
    * adjusted post-period spend mean — adjustment is linear, so the arm
    * mean adjusts by θ·(x̄_arm − x̄) directly from per-arm sums: no
    * second per-user pass.
    *
    * Exactness: per-user half-sums are exact integer cents (DECIMAL sum
    * ·100); the five moment sums ride BIGINT/DECIMAL(38,0) (order-free,
    * map-side combined — cents² products leave int64 at whale users);
    * θ and the means are one shared double tree on those exact values
    * ([[abTtest]]'s convention), 6 dp. Two aggregates total: per-user,
    * then one global row exploded to per-arm rows. */
  def abCuped(spark: SparkSession, dir: String): DataFrame =
    abCupedOf(table(spark, dir, "events"))

  /** The moment pipeline over any (user_id, ts, value) frame — split out
    * so the spec can drive a closed-form corpus (post ≡ c·pre per user ⇒
    * θ = c exactly and BOTH arms' adjusted means collapse to c·x̄ — the
    * estimator's defining property). */
  private[graft] def abCupedOf(ev: DataFrame): DataFrame = {
    val arm = when(conv(substring(md5(concat(col("user_id")
      .cast(StringType), lit("#ab"))), 1, 8), 16, 10)
      .cast(LongType) % 2L === 0L, "A").otherwise("B")
    val d = expr("unix_micros(ts) div 86400000000")
    // one-row bounded frame folded in as a literal (the aggDecay move)
    val dmin = ev.agg(min(d)).head().getLong(0)
    val vc = col("value").cast(DecimalType(18, 2))
    val zero = lit(0).cast(DecimalType(18, 2))
    val perUser = ev
      .select(col("user_id"), d.as("d"), vc.as("v"))
      .groupBy("user_id")
      .agg((sum(when(col("d") < lit(dmin + 15L), col("v")).otherwise(zero))
          * 100).cast(LongType).as("x"),
        (sum(when(col("d") >= lit(dmin + 15L), col("v")).otherwise(zero))
          * 100).cast(LongType).as("y"))
      .select(arm.as("arm"), col("x"), col("y"))
    val one = perUser.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast(DecimalType(18, 0)) *
        col("y").cast(DecimalType(18, 0))).as("sxy"),
      sum(col("x").cast(DecimalType(18, 0)) *
        col("x").cast(DecimalType(18, 0))).as("sxx"),
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "A", col("x")).otherwise(0L)).as("sxa"),
      sum(when(col("arm") === "A", col("y")).otherwise(0L)).as("sya"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === "B", col("x")).otherwise(0L)).as("sxb"),
      sum(when(col("arm") === "B", col("y")).otherwise(0L)).as("syb"))
    val nD = col("n").cast(DoubleType)
    val theta = (nD * col("sxy").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
      nullif(nD * col("sxx").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sx").cast(DoubleType), lit(0.0))
    val xbar = col("sx").cast(DoubleType) / nD
    def armRow(a: String, na: Column, sxa: Column, sya: Column) = {
      val naD = na.cast(DoubleType)
      val rawMean = sya.cast(DoubleType) / naD / 100.0
      val adjMean = rawMean - theta *
        (sxa.cast(DoubleType) / naD - xbar) / 100.0
      struct(lit(a).as("arm"), na.as("users"),
        roundD(rawMean, 6).as("mean_post"), roundD(adjMean, 6).as("mean_adj"))
    }
    one.select(explode(array(
          armRow("A", col("na"), col("sxa"), col("sya")),
          armRow("B", col("nb"), col("sxb"), col("syb")))).as("r"),
        roundD(theta, 6).as("theta"))
      .select(col("r.arm").as("arm"), col("r.users").as("users"),
        col("r.mean_post").as("mean_post"), col("r.mean_adj").as("mean_adj"),
        col("theta"))
      .orderBy("arm")
  }

  /** TIME-DECAYED ENGAGEMENT SCORE — recency weighting with half-life =
    * one day: score(user) = Σ value·2^(−age_days). The trick that keeps
    * it EXACT across engines: ages are whole days and the decay base is
    * 2, so every term is value_cents · 2^(maxage−age) in one BIGINT —
    * the sum is pure integer arithmetic (order-independent, no float
    * drift), and the reported double = scaled / 2^maxage divides by a
    * power of two, which binary floating point represents exactly. One
    * keyed aggregate with map-side partials; the anchor (max day) is a
    * one-row bounded frame folded in as a literal. */
  def aggDecay(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(col("user_id"),
        (col("value").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("vc"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast(LongType).as("day"))
    val maxDay = ev.agg(max("day")).head().getLong(0)
    val horizon = 40L // ages past the horizon round to zero weight
    val age = least(lit(maxDay) - col("day"), lit(horizon))
    ev.withColumn("sh", (lit(horizon) - age).cast(IntegerType))
      .groupBy("user_id")
      .agg(sum(col("vc") * expr("shiftleft(CAST(1 AS BIGINT), sh)"))
        .as("scaled"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"), col("scaled"),
        (col("scaled").cast(DoubleType) /
          lit(math.pow(2.0, horizon.toDouble))).as("score"))
      .orderBy("user_id")
  }

  /** V-SHAPE PATTERN SCAN — the MATCH_RECOGNIZE-lite sequential pattern
    * (a strict local minimum: prev > cur < next over the per-type
    * (ts, event_id)-ordered stream), rolled up per (type, day) with the
    * deepest V's rebound size — the "flash dip" detector a liquidation
    * feed scans for ([[graft.ops.Relational.zscore]] flags LEVELS; this
    * flags the SHAPE, which a symmetric outlier test misses when the dip
    * stays inside 3σ). Values compare as exact integer cents (the
    * decimal-string cast convention), so the strict inequalities land
    * identically in both engines. One window projection (lag+lead share
    * the frame, O(1) carried state), one keyed rollup; at 100 TB the
    * per-type sort is the unavoidable sequential-pattern cost, the same
    * shape as [[attrLastTouch]]. */
  def patternVshape(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val pts = table(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("vc"))
      .select(col("event_type"), col("ts"), col("vc"),
        lag(col("vc"), 1).over(w).as("pv"),
        lead(col("vc"), 1).over(w).as("nv"))
    pts
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("pv") > col("vc") && col("nv") > col("vc"), 1L)
          .otherwise(0L)).as("n_vbottoms"),
        max(when(col("pv") > col("vc") && col("nv") > col("vc"),
          least(col("pv"), col("nv")) - col("vc"))).as("max_depth_cents"))
      .orderBy("event_type", "day")
  }

  /** RFM SEGMENTATION — the classic customer-value cube: per purchaser,
    * Recency (days since last purchase, against the corpus max), Frequency
    * (purchase count) and Monetary (exact integer cents), each scored into
    * quintiles, then rolled to the ≤125 (r, f, m) cells with user counts
    * and monetary mass. The marketing-segmentation query every event
    * warehouse ships (champions = 555, at-risk = 1xx...).
    *
    * Plan at 100 TB: ONE keyed aggregate builds the per-user frame
    * (shuffle ∝ purchasers, never events — map-side combined); quintile
    * edges come from one bounded-state GK pass over that frame
    * ([[Extended.binsAccuracy]] — the widened single-group bound, since
    * the quintile pass aggregates ALL purchasers in one global group;
    * exact == DuckDB `quantile_disc` in the lossless regime) and
    * broadcast back; a
    * per-user global rank window would single-partition a billion
    * purchasers for exactly the same cells. Scores compare against the
    * broadcast edges (ties land identically in both engines on the
    * discrete values), and the final rollup is a ≤125-row aggregate. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val users = materialize(table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("f"),
        (sum(col("value").cast(DecimalType(18, 2))) * lit(100))
          .cast(LongType).as("m_cents")))
    val withRec = users
      .crossJoin(broadcast(users.agg(max("last_us").as("now_us"))))
      .select(col("user_id"), col("f"), col("m_cents"),
        expr("(now_us - last_us) div 86400000000").as("rec_days"))
    def quints(c: String) = expr(
      s"approx_percentile($c, array(0.2D, 0.4D, 0.6D, 0.8D), " +
        s"${Extended.binsAccuracy})")
    val edges = withRec.agg(quints("rec_days").as("qr"),
      quints("f").as("qf"), quints("m_cents").as("qm"))
    def above(c: Column, q: String) = (1 to 4)
      .map(i => when(c > element_at(col(q), i), 1).otherwise(0))
      .reduce(_ + _)
    withRec.crossJoin(broadcast(edges))
      .select(
        (lit(5) - above(col("rec_days"), "qr")).as("r_score"),
        (lit(1) + above(col("f"), "qf")).as("f_score"),
        (lit(1) + above(col("m_cents"), "qm")).as("m_score"),
        col("m_cents"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"), sum("m_cents").as("m_cents_sum"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** One unrolled Jacobi round of the [[attrMarkov]] absorption iteration
    * as a DuckDB CTE — every round reads ONLY the previous round's frame
    * (the `pp` left join), exactly like the Scala fold's `prev`. */
  private def markovIterCte(k: Int): String = s"""
      p$k AS (
        SELECT st.rm, st.f AS s,
               sum(st.n * CASE WHEN st.t = 'CONV' THEN $markovScale::HUGEINT
                               WHEN st.t = 'NULL' THEN 0::HUGEINT
                               ELSE coalesce(pp.pq, 0::HUGEINT) END)
                 // min(o.outn) AS pq
        FROM st JOIN outs o ON o.rm = st.rm AND o.f = st.f
        LEFT JOIN p${k - 1} pp ON pp.rm = st.rm AND pp.s = st.t
        GROUP BY st.rm, st.f)"""

  val oracles: Map[String, String] = Map(
    // same md5 hash split; χ² cross-multiplied in HUGEINT (= Spark's
    // DECIMAL(38,0)) — integer end to end
    "ab_srm" -> """
      WITH pu AS (
        SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || '#ab'),
                          1, 8))::BIGINT % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm
        FROM events GROUP BY user_id),
      w AS (SELECT sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS ua,
                   sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS ub
            FROM pu),
      arms AS (SELECT 'A' AS arm, ua AS users FROM w
               UNION ALL SELECT 'B', ub FROM w)
      SELECT arm, users, ua * 1000 // (ua + ub) AS share_a_pm,
             (((ua - ub)::HUGEINT * (ua - ub) * 1000) // (ua + ub))::BIGINT
               AS srm_x1000
      FROM arms, w ORDER BY arm""",
    // identical temporal split (measured min day + 15), identical integer
    // cent half-sums, HUGEINT moment sums, one shared double tree for
    // theta and the adjusted means
    "ab_cuped" -> """
      WITH b AS (SELECT min(epoch_us(ts) // 86400000000) + 15 AS cut
                 FROM events),
      pu0 AS (
        SELECT user_id,
               CAST(sum(CASE WHEN epoch_us(ts) // 86400000000
                                  < (SELECT cut FROM b)
                        THEN CAST(value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT)
                 AS x,
               CAST(sum(CASE WHEN epoch_us(ts) // 86400000000
                                  >= (SELECT cut FROM b)
                        THEN CAST(value AS DECIMAL(18,2))
                        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT)
                 AS y
        FROM events GROUP BY user_id),
      pu AS (SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || '#ab'),
                               1, 8))::BIGINT % 2 = 0
                         THEN 'A' ELSE 'B' END AS arm, x, y
             FROM pu0),
      w AS (SELECT count(*)::BIGINT AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx,
                   sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS na,
                   CAST(sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS BIGINT)
                     AS sxa,
                   CAST(sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT)
                     AS sya,
                   sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS nb,
                   CAST(sum(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS BIGINT)
                     AS sxb,
                   CAST(sum(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS BIGINT)
                     AS syb
            FROM pu),
      arms AS (SELECT 'A' AS arm, na AS users, sxa AS sxarm, sya AS syarm
               FROM w
               UNION ALL SELECT 'B', nb, sxb, syb FROM w)
      SELECT arm, users,
             floor(syarm::DOUBLE / users::DOUBLE / 100.0 * 1e6 + 0.5) / 1e6
               AS mean_post,
             floor((syarm::DOUBLE / users::DOUBLE / 100.0
                    - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                       / nullif(n::DOUBLE * sxx::DOUBLE
                                - sx::DOUBLE * sx::DOUBLE, 0.0))
                      * (sxarm::DOUBLE / users::DOUBLE - sx::DOUBLE / n::DOUBLE)
                      / 100.0) * 1e6 + 0.5) / 1e6 AS mean_adj,
             floor(((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                    / nullif(n::DOUBLE * sxx::DOUBLE
                             - sx::DOUBLE * sx::DOUBLE, 0.0))
                   * 1e6 + 0.5) / 1e6 AS theta
      FROM arms, w ORDER BY arm""",
    // the identical journey build (first-purchase cut, lead/row_number
    // windows, START/CONV/NULL framing), then the identical fixed-round
    // integer absorption recursion, unrolled one CTE per round; HUGEINT
    // == the Scala fold's BigInt (the ab_test 128-bit-lift convention)
    "attr_markov" -> s"""
      WITH fp AS (
        SELECT user_id, ts AS p_ts, event_id AS p_eid FROM (
          SELECT user_id, ts, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events WHERE event_type = 'purchase') WHERE rn = 1),
      touches AS (
        SELECT e.user_id, e.event_type, e.ts, e.event_id,
               p.user_id IS NOT NULL AS cv
        FROM events e LEFT JOIN fp p ON e.user_id = p.user_id
        WHERE e.event_type <> 'purchase'
          AND (p.user_id IS NULL OR (e.ts, e.event_id) < (p.p_ts, p.p_eid))),
      sq AS (
        SELECT user_id, event_type, cv,
               lead(event_type) OVER w AS nxt,
               row_number() OVER w AS rn
        FROM touches
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      tr0 AS (
        SELECT event_type AS f, nxt AS t FROM sq WHERE nxt IS NOT NULL
        UNION ALL
        SELECT 'START', event_type FROM sq WHERE rn = 1
        UNION ALL
        SELECT event_type, CASE WHEN cv THEN 'CONV' ELSE 'NULL' END
        FROM sq WHERE nxt IS NULL
        UNION ALL
        SELECT 'START', 'CONV' FROM fp
        WHERE user_id NOT IN (SELECT user_id FROM touches)),
      tr AS (SELECT f, t, count(*)::HUGEINT AS n FROM tr0 GROUP BY 1, 2),
      scen AS (SELECT 'BASE' AS rm
               UNION ALL SELECT DISTINCT f FROM tr WHERE f <> 'START'),
      st AS (SELECT s.rm, tr.f,
                    CASE WHEN tr.t = s.rm THEN 'NULL' ELSE tr.t END AS t,
                    sum(tr.n) AS n
             FROM scen s CROSS JOIN tr WHERE tr.f <> s.rm GROUP BY 1, 2, 3),
      outs AS (SELECT rm, f, sum(n) AS outn FROM st GROUP BY 1, 2),
      p0 AS (SELECT rm, f AS s, 0::HUGEINT AS pq FROM outs),
      ${(1 to markovIters).map(markovIterCte).mkString(",")},
      res AS (SELECT rm, pq FROM p$markovIters WHERE s = 'START'),
      base AS (SELECT pq AS bq FROM res WHERE rm = 'BASE'),
      eff AS (SELECT rm AS channel, bq - pq AS d, bq
              FROM res CROSS JOIN base WHERE rm <> 'BASE')
      SELECT channel,
             (CASE WHEN bq = 0 THEN 0::HUGEINT
                   ELSE d * 1000 // bq END)::BIGINT AS removal_effect_pm,
             (CASE WHEN sum(d) OVER () = 0 THEN 0::HUGEINT
                   ELSE d * 1000 // sum(d) OVER () END)::BIGINT AS attr_pm
      FROM eff ORDER BY channel""",
    "pattern_vshape" -> """
      WITH p AS (
        SELECT event_type, ts,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
               lag(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 1)
                 OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pv,
               lead(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 1)
                 OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nv
        FROM events)
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             count(*) AS n_points,
             CAST(sum(CASE WHEN pv > vc AND nv > vc THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_vbottoms,
             max(CASE WHEN pv > vc AND nv > vc
                      THEN least(pv, nv) - vc END) AS max_depth_cents
      FROM p GROUP BY 1, 2 ORDER BY event_type, day""",
    "rfm" -> """
      WITH p AS (
        SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS f,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                 AS m_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      u AS (
        SELECT user_id, f, m_cents,
               ((SELECT max(last_us) FROM p) - last_us) // 86400000000
                 AS rec_days
        FROM p),
      q AS (
        SELECT quantile_disc(rec_days, 0.2) AS r1, quantile_disc(rec_days, 0.4) AS r2,
               quantile_disc(rec_days, 0.6) AS r3, quantile_disc(rec_days, 0.8) AS r4,
               quantile_disc(f, 0.2) AS f1, quantile_disc(f, 0.4) AS f2,
               quantile_disc(f, 0.6) AS f3, quantile_disc(f, 0.8) AS f4,
               quantile_disc(m_cents, 0.2) AS m1, quantile_disc(m_cents, 0.4) AS m2,
               quantile_disc(m_cents, 0.6) AS m3, quantile_disc(m_cents, 0.8) AS m4
        FROM u),
      s AS (
        SELECT 5 - ((rec_days > q.r1)::INT + (rec_days > q.r2)::INT
                    + (rec_days > q.r3)::INT + (rec_days > q.r4)::INT) AS r_score,
               1 + ((f > q.f1)::INT + (f > q.f2)::INT
                    + (f > q.f3)::INT + (f > q.f4)::INT) AS f_score,
               1 + ((m_cents > q.m1)::INT + (m_cents > q.m2)::INT
                    + (m_cents > q.m3)::INT + (m_cents > q.m4)::INT) AS m_score,
               m_cents
        FROM u, q)
      SELECT r_score, f_score, m_score, count(*) AS n_users,
             CAST(sum(m_cents) AS BIGINT) AS m_cents_sum
      FROM s GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""",
    "agg_decay" -> """
      WITH e AS (SELECT user_id,
                        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                          AS vc,
                        date_diff('day', DATE '1970-01-01', ts::DATE) AS day
                 FROM events),
      m AS (SELECT max(day) AS maxday FROM e),
      w AS (SELECT user_id, vc,
                   least(maxday - day, 40) AS age
            FROM e, m)
      SELECT user_id, count(*) AS n_events,
             sum(vc * (1::BIGINT << (40 - age)::INT))::BIGINT AS scaled,
             sum(vc * (1::BIGINT << (40 - age)::INT))::DOUBLE
               / 1099511627776.0 AS score
      FROM w GROUP BY user_id ORDER BY user_id""",
    // identical md5 arms, exact decimal moments, identical double tree
    // same integer (k, n) per day, same z=1.96 literal, same Wilson tree
    "ab_wilson" -> """
      WITH m AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM events GROUP BY 1)
      SELECT day, n, k,
             floor((k::DOUBLE / n::DOUBLE) * 1e6 + 0.5) / 1e6 AS rate,
             floor(((k::DOUBLE / n::DOUBLE + (1.96 * 1.96) / (2.0 * n::DOUBLE))
                    / (1.0 + (1.96 * 1.96) / n::DOUBLE)
                    - 1.96 * sqrt(k::DOUBLE / n::DOUBLE
                        * (1.0 - k::DOUBLE / n::DOUBLE) / n::DOUBLE
                        + (1.96 * 1.96) / (4.0 * n::DOUBLE * n::DOUBLE))
                      / (1.0 + (1.96 * 1.96) / n::DOUBLE)) * 1e6 + 0.5) / 1e6
               AS wilson_lo,
             floor(((k::DOUBLE / n::DOUBLE + (1.96 * 1.96) / (2.0 * n::DOUBLE))
                    / (1.0 + (1.96 * 1.96) / n::DOUBLE)
                    + 1.96 * sqrt(k::DOUBLE / n::DOUBLE
                        * (1.0 - k::DOUBLE / n::DOUBLE) / n::DOUBLE
                        + (1.96 * 1.96) / (4.0 * n::DOUBLE * n::DOUBLE))
                      / (1.0 + (1.96 * 1.96) / n::DOUBLE)) * 1e6 + 0.5) / 1e6
               AS wilson_hi
      FROM m ORDER BY day""",
    // same moments as ab_ttest; z quantiles are exponent-suffixed double
    // literals; MDE = (z975+z80)*sqrt(va+vb), one scalar tree
    "ab_power" ->
      """WITH pu AS (
           SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || '#ab'), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
                  COALESCE(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    ELSE 0 END), 0) AS x
           FROM events GROUP BY user_id),
         m AS (
           SELECT sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS na,
                  sum(CASE WHEN arm = 'A' THEN CAST(x AS DECIMAL(38,0)) END)
                    AS sa,
                  sum(CASE WHEN arm = 'A'
                    THEN CAST(x * x AS DECIMAL(38,0)) END) AS qa,
                  sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS nb,
                  sum(CASE WHEN arm = 'B' THEN CAST(x AS DECIMAL(38,0)) END)
                    AS sb,
                  sum(CASE WHEN arm = 'B'
                    THEN CAST(x * x AS DECIMAL(38,0)) END) AS qb
           FROM pu),
         v AS (
           SELECT na, nb, sa::DOUBLE AS sa,
                  (qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na::DOUBLE)
                    / (na::DOUBLE - 1.0) / na::DOUBLE AS va,
                  (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb::DOUBLE)
                    / (nb::DOUBLE - 1.0) / nb::DOUBLE AS vb
           FROM m)
         SELECT na AS users_a, nb AS users_b,
                floor((1.959963984540054e0 + 0.8416212335729143e0)
                      * sqrt(va + vb) / 100.0 * 1e6 + 0.5) / 1e6 AS mde_abs,
                floor((1.959963984540054e0 + 0.8416212335729143e0)
                      * sqrt(va + vb)
                      / nullif(sa / na::DOUBLE, 0e0) * 1e6 + 0.5) / 1e6
                  AS mde_rel
         FROM v""",
    "ab_ttest" ->
      """WITH pu AS (
           SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)
                    || '#ab'), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
                  COALESCE(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                    ELSE 0 END), 0) AS x
           FROM events GROUP BY user_id),
         m AS (
           SELECT sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)::BIGINT AS na,
                  sum(CASE WHEN arm = 'A' THEN CAST(x AS DECIMAL(38,0)) END)
                    AS sa,
                  sum(CASE WHEN arm = 'A'
                    THEN CAST(x * x AS DECIMAL(38,0)) END) AS qa,
                  sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)::BIGINT AS nb,
                  sum(CASE WHEN arm = 'B' THEN CAST(x AS DECIMAL(38,0)) END)
                    AS sb,
                  sum(CASE WHEN arm = 'B'
                    THEN CAST(x * x AS DECIMAL(38,0)) END) AS qb
           FROM pu),
         v AS (
           SELECT na, nb, sa::DOUBLE AS sa, qa::DOUBLE AS qa,
                  sb::DOUBLE AS sb, qb::DOUBLE AS qb,
                  (qa::DOUBLE - sa::DOUBLE * sa::DOUBLE / na::DOUBLE)
                    / (na::DOUBLE - 1.0) / na::DOUBLE AS va,
                  (qb::DOUBLE - sb::DOUBLE * sb::DOUBLE / nb::DOUBLE)
                    / (nb::DOUBLE - 1.0) / nb::DOUBLE AS vb
           FROM m)
         SELECT na AS users_a, nb AS users_b,
                floor(sa / na::DOUBLE / 100.0 * 1e6 + 0.5) / 1e6 AS mean_a,
                floor(sb / nb::DOUBLE / 100.0 * 1e6 + 0.5) / 1e6 AS mean_b,
                floor((sa / na::DOUBLE - sb / nb::DOUBLE) / sqrt(va + vb)
                      * 1e6 + 0.5) / 1e6 AS t_stat,
                floor((va + vb) * (va + vb)
                      / (va * va / (na::DOUBLE - 1.0)
                         + vb * vb / (nb::DOUBLE - 1.0)) * 1e6 + 0.5) / 1e6
                  AS welch_df
         FROM v""",
    // the same dedup-first pair join and integer permille
    "user_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id FROM events),
         both_c AS (
           SELECT a.t AS ta, b.t AS tb, count(*) AS n_both
           FROM tu a JOIN tu b
             ON a.user_id = b.user_id AND a.t < b.t
           GROUP BY 1, 2),
         m AS (SELECT t, count(*) AS n FROM tu GROUP BY 1)
         SELECT ta, tb, ma.n AS n_a, mb.n AS n_b, n_both,
                n_both * 1000 // (ma.n + mb.n - n_both) AS jaccard_pm
         FROM both_c JOIN m ma ON ma.t = ta JOIN m mb ON mb.t = tb
         ORDER BY ta, tb""",
    "ab_test" -> """
      WITH pu AS (
        SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || '#ab'),
                          1, 8))::BIGINT % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               max(CASE WHEN event_type = 'purchase' AND value > 90
                   THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id),
      arms AS (SELECT arm, count(*) AS users,
                      sum(converted)::BIGINT AS converters
               FROM pu GROUP BY arm),
      w AS (SELECT max(CASE WHEN arm = 'A' THEN users END) AS ua,
                   max(CASE WHEN arm = 'A' THEN converters END) AS ca,
                   max(CASE WHEN arm = 'B' THEN users END) AS ub,
                   max(CASE WHEN arm = 'B' THEN converters END) AS cb
            FROM arms)
      SELECT arm, users, converters, (converters * 1000) // users AS conv_pm,
             -- 128-bit lift (HUGEINT == Spark's DECIMAL(38,0) here): past
             -- sf0.1 the cross-multiplied numerator leaves int64, where
             -- DuckDB would raise and non-ANSI Spark would wrap
             (((ca::HUGEINT * ub - cb::HUGEINT * ua)
               * (ca::HUGEINT * ub - cb::HUGEINT * ua) * (ua + ub) * 1000)
               // ((ca::HUGEINT + cb) * (ua + ub - ca - cb) * ua * ub)
             )::BIGINT AS z2_x1000
      FROM arms, w ORDER BY arm""",
    "streaks" -> """
      WITH days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
      g AS (SELECT user_id,
                   date_diff('day', DATE '1970-01-01', day)
                     - row_number() OVER (PARTITION BY user_id
                                          ORDER BY day) AS grp
            FROM days),
      st AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
      SELECT user_id, max(len) AS max_streak,
             sum(len)::BIGINT AS n_active_days
      FROM st GROUP BY user_id ORDER BY user_id""",
    "path_transitions" ->
      """WITH e AS (
           SELECT user_id, event_type AS from_type,
                  lead(event_type, 1) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           FROM events),
         t AS (SELECT from_type, to_type, count(*) AS transitions
               FROM e WHERE to_type IS NOT NULL GROUP BY 1, 2),
         m AS (SELECT from_type, CAST(sum(transitions) AS BIGINT) AS out_total
               FROM t GROUP BY 1)
         SELECT t.from_type, t.to_type, t.transitions,
                (t.transitions * 1000) // m.out_total AS share_permille
         FROM t JOIN m USING (from_type)
         ORDER BY from_type, to_type""",
    "attr_last_touch" ->
      """WITH a AS (
           SELECT user_id, event_id, event_type, ts,
                  last_value(CASE WHEN event_type = 'view'
                                  THEN event_id END IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS attr_id,
                  last_value(CASE WHEN event_type = 'view'
                                  THEN ts END IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS attr_ts
           FROM events)
         SELECT user_id, event_id AS purchase_id, attr_id,
                (epoch_us(ts) - epoch_us(attr_ts)) // 1000000 AS gap_s
         FROM a WHERE event_type = 'purchase' ORDER BY purchase_id""",
    // same min-after-min chain as the Spark plan, as explicit CTE steps
    "funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
              s2 AS (SELECT e.user_id, min(e.ts) AS t2
                     FROM events e JOIN s1 USING (user_id)
                     WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
              s3 AS (SELECT e.user_id, min(e.ts) AS t3
                     FROM events e JOIN s2 USING (user_id)
                     WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
         SELECT 1 AS step, 'signup' AS stage, count(*) AS users FROM s1
         UNION ALL
         SELECT 2 AS step, 'view' AS stage, count(*) AS users FROM s2
         UNION ALL
         SELECT 3 AS step, 'purchase' AS stage, count(*) AS users FROM s3
         ORDER BY step""",
    "funnel_latency" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
              s2 AS (SELECT e.user_id, min(e.ts) AS t2
                     FROM events e JOIN s1 USING (user_id)
                     WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
              s3 AS (SELECT e.user_id, min(e.ts) AS t3
                     FROM events e JOIN s2 USING (user_id)
                     WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                     GROUP BY 1),
              g1 AS (SELECT epoch_us(t2) - epoch_us(t1) AS gap_us
                     FROM s2 JOIN s1 USING (user_id)),
              g2 AS (SELECT epoch_us(t3) - epoch_us(t2) AS gap_us
                     FROM s3 JOIN s2 USING (user_id))
         SELECT 1 AS step, 'signup->view' AS transition,
                count(*) AS n_users,
                quantile_disc(gap_us, 0.5) AS p50_gap_us,
                floor(CAST(sum(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE)
                      / count(*)::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6
                  AS mean_gap_s
         FROM g1
         UNION ALL
         SELECT 2, 'view->purchase', count(*),
                quantile_disc(gap_us, 0.5),
                floor(CAST(sum(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE)
                      / count(*)::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6
         FROM g2
         ORDER BY step""",
    "funnel_window" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
              s2 AS (SELECT e.user_id, min(e.ts) AS t2
                     FROM events e JOIN s1 USING (user_id)
                     WHERE e.event_type = 'view' AND e.ts > s1.t1
                       AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                     GROUP BY 1),
              s3 AS (SELECT e.user_id, min(e.ts) AS t3
                     FROM events e JOIN s2 USING (user_id)
                     WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                       AND epoch_us(e.ts) <= epoch_us(s2.t2) + 604800000000
                     GROUP BY 1)
         SELECT 1 AS step, 'signup' AS stage, count(*) AS users FROM s1
         UNION ALL
         SELECT 2 AS step, 'view' AS stage, count(*) AS users FROM s2
         UNION ALL
         SELECT 3 AS step, 'purchase' AS stage, count(*) AS users FROM s3
         ORDER BY step""",
    "cohort_ltv" ->
      """WITH act AS (SELECT user_id,
                             CAST(date_trunc('day', ts) AS DATE) AS day
                      FROM events),
              c AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1),
              b AS (SELECT user_id,
                           CAST(date_trunc('day', ts) AS DATE) AS day,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                             AS cents
                    FROM events WHERE event_type = 'purchase'),
              cells AS (SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
                               date_diff('day', cohort_day, day) // 7 AS week,
                               count(*) AS n_buys,
                               CAST(sum(cents) AS BIGINT) AS cents
                        FROM b JOIN c USING (user_id) GROUP BY 1, 2)
         SELECT cohort, week, n_buys,
                CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY week
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_cents
         FROM cells ORDER BY cohort, week""",
    // identical segment stamping, group windows, and integer-permille split
    // same segment CTE as attr_position; even 1000 // nt split, remainder
    // dropped in both engines
    "attr_linear" ->
      """WITH ev AS (
           SELECT user_id, event_id, event_type, ts,
                  COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS seg
           FROM events
           WHERE event_type IN ('view', 'click', 'purchase')),
         g AS (
           SELECT *,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id, seg) AS has_p,
                  count(*) OVER (PARTITION BY user_id, seg) AS n_all
           FROM ev),
         t AS (
           SELECT event_type AS touch_type, n_all - 1 AS nt
           FROM g WHERE event_type <> 'purchase' AND has_p = 1)
         SELECT touch_type, count(*) AS n_touches,
                CAST(sum(1000 // nt) AS BIGINT) AS credit_permille
         FROM t GROUP BY 1 ORDER BY touch_type""",
    // same segment CTE; the dyadic decay ladder is the same literal CASE
    // table (no pow), normalization is integer // per conversion
    "attr_decay" ->
      """WITH ev AS (
           SELECT user_id, event_id, event_type, ts,
                  COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS seg
           FROM events
           WHERE event_type IN ('view', 'click', 'purchase')),
         g AS (
           SELECT *,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id, seg) AS has_p,
                  max(CASE WHEN event_type = 'purchase'
                           THEN epoch_us(ts) END)
                    OVER (PARTITION BY user_id, seg) AS p_us
           FROM ev),
         t AS (
           SELECT user_id, seg, event_type AS touch_type,
                  CASE least((p_us - epoch_us(ts)) // 86400000000 // 3, 9)
                       WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250
                       WHEN 3 THEN 125 WHEN 4 THEN 62 WHEN 5 THEN 31
                       WHEN 6 THEN 15 WHEN 7 THEN 7 WHEN 8 THEN 3
                       ELSE 1 END AS w
           FROM g WHERE event_type <> 'purchase' AND has_p = 1),
         n AS (
           SELECT touch_type,
                  w * 1000 // sum(w) OVER (PARTITION BY user_id, seg)
                    AS credit
           FROM t)
         SELECT touch_type, count(*) AS n_touches,
                CAST(sum(credit) AS BIGINT) AS credit_permille
         FROM n GROUP BY 1 ORDER BY touch_type""",
    // one (type, month, day, user) distinct projection feeds both counts;
    // the ratio is exact integer permille in both engines
    "user_stickiness" ->
      """WITH base AS (
           SELECT DISTINCT event_type, strftime(ts, '%Y-%m') AS month,
                  strftime(ts, '%Y-%m-%d') AS day, user_id
           FROM events),
         d AS (
           SELECT event_type, month, count(*) AS n_days,
                  CAST(sum(dau) AS BIGINT) AS sum_dau
           FROM (SELECT event_type, month, day, count(*) AS dau
                 FROM base GROUP BY 1, 2, 3)
           GROUP BY 1, 2),
         m AS (
           SELECT event_type, month, count(*) AS mau
           FROM (SELECT DISTINCT event_type, month, user_id FROM base)
           GROUP BY 1, 2)
         SELECT d.event_type, d.month, d.n_days, d.sum_dau, m.mau,
                d.sum_dau * 1000 // (d.n_days * m.mau) AS stickiness_pm
         FROM d JOIN m ON d.event_type = m.event_type AND d.month = m.month
         ORDER BY d.event_type, d.month""",
    "attr_position" ->
      """WITH ev AS (
           SELECT user_id, event_id, event_type, ts,
                  COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS seg
           FROM events
           WHERE event_type IN ('view', 'click', 'purchase')),
         g AS (
           SELECT *,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id, seg) AS has_p,
                  row_number() OVER (PARTITION BY user_id, seg
                                     ORDER BY ts, event_id) AS rn,
                  count(*) OVER (PARTITION BY user_id, seg) AS n_all
           FROM ev),
         t AS (
           SELECT event_type AS touch_type, rn, n_all - 1 AS nt
           FROM g WHERE event_type <> 'purchase' AND has_p = 1)
         SELECT touch_type,
                CASE WHEN nt = 1 THEN 'solo'
                     WHEN rn = 1 THEN 'first'
                     WHEN rn = nt THEN 'last'
                     ELSE 'middle' END AS position,
                count(*) AS n_touches,
                CAST(sum(CASE WHEN nt = 1 THEN 1000
                              WHEN nt = 2 THEN 500
                              WHEN rn = 1 OR rn = nt THEN 400
                              ELSE 200 // (nt - 2) END) AS BIGINT)
                  AS credit_permille
         FROM t GROUP BY 1, 2 ORDER BY touch_type, position""",
    "retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
                             CAST(date_trunc('day', ts) AS DATE) AS day
                      FROM events),
              c AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1)
         SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
                date_diff('day', cohort_day, day) AS "offset",
                count(*) AS active_users
         FROM act JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort, "offset"""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "streaks" -> streaks _,
    "ab_test" -> abTest _,
    "agg_decay" -> aggDecay _,
    "funnel" -> funnel _,
    "retention" -> retention _,
    "attr_last_touch" -> attrLastTouch _,
    "path_transitions" -> pathTransitions _,
    "rfm" -> rfm _,
    "pattern_vshape" -> patternVshape _,
    "funnel_window" -> funnelWindow _,
    "funnel_latency" -> funnelLatency _,
    "cohort_ltv" -> cohortLtv _,
    "attr_position" -> attrPosition _,
    "attr_linear" -> attrLinear _,
    "attr_decay" -> attrDecay _,
    "user_stickiness" -> userStickiness _,
    "ab_ttest" -> abTtest _,
    "ab_power" -> abPower _,
    "ab_wilson" -> abWilson _,
    "ab_srm" -> abSrm _,
    "ab_cuped" -> abCuped _,
    "user_overlap" -> userOverlap _,
    "attr_markov" -> attrMarkov _,
  )
}
