package graft.ops

import graft.SparkSpec
import java.sql.Timestamp

/** Funnel/retention semantics the oracle can't isolate: the strict
  * min-after-min ordering on hand-built event sequences, and the
  * cohort-diagonal invariants on the real table. */
class EventOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def ts(s: Int) = Timestamp.from(java.time.Instant.ofEpochSecond(s))

  test("funnel: strict ordering — out-of-order steps never count") {
    import spark.implicits._
    // u1 completes in order; u2 purchased BEFORE viewing (no step 3);
    // u3 viewed before signing up and never after (stops at step 1);
    // u4 never signed up (counts nowhere).
    val ev = Seq(
      (1L, "signup", ts(10)), (1L, "view", ts(20)), (1L, "purchase", ts(30)),
      (2L, "signup", ts(10)), (2L, "purchase", ts(15)), (2L, "view", ts(20)),
      (3L, "view", ts(5)), (3L, "signup", ts(10)),
      (4L, "view", ts(1)), (4L, "purchase", ts(2)),
    ).toDF("user_id", "event_type", "ts")
    val got = EventOps.funnelOf(ev).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1, "signup", 3L), (2, "view", 2L), (3, "purchase", 1L)))
  }

  test("funnel: equal timestamps are NOT strictly after (boundary)") {
    import spark.implicits._
    val ev = Seq(
      (1L, "signup", ts(10)), (1L, "view", ts(10)), // same instant: no view
    ).toDF("user_id", "event_type", "ts")
    val got = EventOps.funnelOf(ev).collect().map(_.getLong(2)).toSeq
    assert(got == Seq(1L, 0L, 0L))
  }

  test("funnel: stage counts are monotone non-increasing on real data") {
    val counts = EventOps.funnel(spark, dir).collect().map(_.getLong(2))
    assert(counts.length == 3)
    assert(counts.sliding(2).forall(p => p(0) >= p(1)),
      s"funnel widened downstream: ${counts.toSeq}")
  }

  test("retention: offset-0 diagonal equals cohort size, offsets bounded") {
    val rows = EventOps.retention(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every user is active on their own first day, so each cohort has an
    // offset-0 cell and it is the cohort's max (retention never exceeds it)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, cells) =>
      val day0 = cells.find(_._2 == 0L)
      assert(day0.isDefined, s"cohort $c missing its offset-0 cell")
      assert(cells.forall(_._3 <= day0.get._3),
        s"cohort $c has a retention cell above its own size")
    }
    assert(rows.forall(_._2 >= 0L), "negative day offset")
  }

  test("funnel_window: conversions outside the 7-day window never count") {
    import spark.implicits._
    val week = 7 * 86400
    val ev = Seq(
      // user 1: converts fully inside the windows
      (1L, "signup", ts(0)), (1L, "view", ts(3600)),
      (1L, "purchase", ts(7200)),
      // user 2: view lands 8 days after signup - step 2 must not count
      (2L, "signup", ts(0)), (2L, "view", ts(week + 86400)),
      (2L, "purchase", ts(week + 90000)),
      // user 3: view in-window, purchase 8 days after the view - step 3 out
      (3L, "signup", ts(0)), (3L, "view", ts(1000)),
      (3L, "purchase", ts(1000 + week + 1)),
      // user 4: view lands exactly AT the window edge - inclusive bound
      (4L, "signup", ts(0)), (4L, "view", ts(week))
    ).toDF("user_id", "event_type", "ts")
    val got = EventOps.funnelWindowOf(ev).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    // step 2: users 1, 3, 4 (user 2's view is a day late); step 3: user 1
    // only (user 3's purchase is outside ITS view's window)
    assert(got == Map(1 -> 4L, 2 -> 3L, 3 -> 1L),
      s"windowed stages diverged: $got")
    // windowing can only shrink the unbounded funnel
    val unbounded = EventOps.funnelOf(ev).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    got.foreach { case (step, users) =>
      assert(users <= unbounded(step), s"step $step grew under the window")
    }
  }

  test("rfm: scores bounded 1..5, user mass conserved, monetary axis orders") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val cells = EventOps.rfm(spark, d).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    assert(cells.nonEmpty)
    cells.foreach { case (r, f, m, n, _) =>
      assert(r >= 1 && r <= 5 && f >= 1 && f <= 5 && m >= 1 && m <= 5,
        s"score outside quintile range: ($r,$f,$m)")
      assert(n > 0L)
    }
    val purchasers = graft.ops.table(spark, d, "events")
      .filter(col("event_type") === "purchase")
      .select("user_id").distinct().count()
    assert(cells.map(_._4).sum == purchasers,
      "cells must partition the purchaser set")
    // monetary score must order monetary mass per user: the m=5 stratum's
    // per-user average strictly exceeds the m=1 stratum's
    def avgCents(mScore: Int): Double = {
      val s = cells.filter(_._3 == mScore)
      s.map(_._5).sum.toDouble / s.map(_._4).sum
    }
    assert(avgCents(5) > avgCents(1),
      "m=5 users must out-spend m=1 users on average")
  }

  test("ab_ttest: arms partition the users; the statistic is finite and df is sane") {
    val users = spark.read.parquet(s"$dir/events.parquet")
      .select("user_id").distinct().count()
    val r = EventOps.abTtest(spark, dir).collect()(0)
    assert(r.getLong(0) + r.getLong(1) == users, s"$r")
    assert(r.getDouble(2) > 0 && r.getDouble(3) > 0, s"means: $r")
    assert(!r.getDouble(4).isNaN && !r.getDouble(5).isNaN, s"$r")
    assert(r.getDouble(5) > 1.0 && r.getDouble(5) < users.toDouble, s"df: $r")
  }

  test("user_overlap: every type pair reported once with a valid Jaccard") {
    val got = EventOps.userOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.length == 10, s"C(5,2) pairs expected: ${got.length}")
    got.foreach { case (a, b, na, nb, both, j) =>
      assert(a < b && both <= math.min(na, nb) && j >= 0 && j <= 1000,
        s"invalid pair row: ($a,$b,$na,$nb,$both,$j)")
    }
  }

  test("attr_position: U-shaped splits per journey shape; trailing touches earn nothing") {
    import spark.implicits._
    // u1: view,click,view -> purchase (nt=3: 400/200/400)
    // u2: click -> purchase (solo 1000), then a trailing view (no credit)
    // u3: view,click -> purchase (nt=2 pair: 500/500)
    // u4: purchase only (organic - no touch rows at all)
    val ev = Seq(
      (1L, 10L, "view", ts(100)), (1L, 11L, "click", ts(200)),
      (1L, 12L, "view", ts(300)), (1L, 13L, "purchase", ts(400)),
      (2L, 20L, "click", ts(100)), (2L, 21L, "purchase", ts(200)),
      (2L, 22L, "view", ts(300)),
      (3L, 30L, "view", ts(100)), (3L, 31L, "click", ts(200)),
      (3L, 32L, "purchase", ts(300)),
      (4L, 40L, "purchase", ts(100)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = EventOps.attrPositionOf(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got(("view", "first")) == ((2L, 900L)), s"$got")   // u1 400 + u3 500
    assert(got(("view", "last")) == ((1L, 400L)), s"$got")    // u1 last
    assert(got(("click", "middle")) == ((1L, 200L)), s"$got") // u1 middle
    assert(got(("click", "solo")) == ((1L, 1000L)), s"$got")  // u2
    assert(got(("click", "last")) == ((1L, 500L)), s"$got")   // u3 pair half
    assert(got.size == 5, s"trailing view must earn nothing: $got")
    assert(got.values.map(_._2).sum == 3000L,
      s"every converted journey distributes exactly 1000 permille: $got")
  }

  test("attr_markov: removal effects match the closed-form chain") {
    import spark.implicits._
    // u1 view→CONV, u2 click→CONV, u3 view→NULL, u4 organic (no touches):
    //   START out=4: view 2, click 1, CONV 1 (organic)
    //   p(view) = (1·1e6 + 1·0)/2 = 500000; p(click) = 1e6
    //   base = (2·500000 + 1e6 + 1e6)/4 = 750000
    //   remove view:  (2·0 + 1e6 + 1e6)/4 = 500000 → Δ 250000 → 333‰
    //   remove click: (2·500000 + 0 + 1e6)/4 = 500000 → Δ 250000 → 333‰
    //   shares: 250000·1000 div 500000 = 500‰ each
    val ev = Seq(
      (1L, "view", ts(10), 10L), (1L, "purchase", ts(20), 11L),
      (2L, "click", ts(10), 20L), (2L, "purchase", ts(20), 21L),
      (3L, "view", ts(10), 30L),
      (4L, "purchase", ts(10), 40L),
    ).toDF("user_id", "event_type", "ts", "event_id")
    val got = EventOps.attrMarkovOf(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq("click" -> ((333L, 500L)), "view" -> ((333L, 500L))),
      s"$got")
  }

  test("attr_markov: post-purchase touches never enter a journey") {
    import spark.implicits._
    // u1's only touch is AFTER the first purchase: the journey is organic
    // (START→CONV) and the touch channel earns zero — no channel rows at
    // all, since 'view' never appears as a journey state.
    val ev = Seq(
      (1L, "purchase", ts(10), 10L), (1L, "view", ts(20), 11L),
    ).toDF("user_id", "event_type", "ts", "event_id")
    assert(EventOps.attrMarkovOf(ev).collect().isEmpty)
  }

  test("attr_markov: real-data effects and shares are bounded permille") {
    val rows = EventOps.attrMarkov(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted)
    rows.foreach { case (c, eff, share) =>
      assert(eff >= 0L && eff <= 1000L, s"$c effect $eff out of [0,1000]")
      assert(share >= 0L && share <= 1000L, s"$c share $share out of [0,1000]")
    }
    // floor division loses at most 1‰ per channel
    val total = rows.map(_._3).sum
    assert(total <= 1000L && total >= 1000L - rows.length,
      s"attribution shares must partition (up to floor loss): $total")
  }

  test("ab_srm: arm counts cover the population; chi2 recomputes from the counts") {
    val rows = EventOps.abSrm(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("A", "B"))
    val (ua, shareA, srm) = rows("A")
    val (ub, shareB, srm2) = rows("B")
    assert(srm == srm2, "srm statistic must be arm-invariant")
    assert(shareA == shareB, "share_a_pm is a property of the split")
    val users = graft.ops.table(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(ua + ub == users, s"arms must partition the users: $ua+$ub vs $users")
    assert(shareA == ua * 1000L / (ua + ub))
    assert(srm == (ua - ub) * (ua - ub) * 1000L / (ua + ub),
      "chi2 must recompute from the arm counts")
  }

  test("ab_cuped: a perfectly-correlated covariate reads theta=c and equalizes the arms") {
    import spark.implicits._
    import java.sql.Timestamp
    val day0 = 1700006400000L // epoch-day-aligned
    // user i spends i.00 in the pre half (day 0) and exactly 2i.00 in the
    // post half (day 20): theta must be exactly 2 and the adjusted means
    // of BOTH arms must collapse to 2*mean(pre) — CUPED's defining
    // property (the hash split decides arms, the invariant holds for any)
    val rows = (1 to 40).flatMap { i =>
      Seq((i.toLong, new Timestamp(day0), i.toDouble),
        (i.toLong, new Timestamp(day0 + 20L * 86400000L), 2.0 * i))
    }
    val got = EventOps.abCupedOf(rows.toDF("user_id", "ts", "value"))
      .collect()
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getDouble(4) == 2.0, s"theta must be exactly 2: $r")
    }
    val adjA = got(0).getDouble(3)
    val adjB = got(1).getDouble(3)
    assert(adjA == adjB,
      s"adjusted means must equalize under perfect correlation: $adjA vs $adjB")
    // 2 * mean(pre) = 2 * mean(1..40) = 41.0
    assert(adjA == 41.0, s"adjusted mean must be 2*mean(pre): $adjA")
  }

  test("ab_power: MDE is consistent with the t-test's own SE on real data") {
    val dir = "/root/testdata/sf0.01"
    val t = EventOps.abTtest(spark, dir).collect().head
    val p = EventOps.abPower(spark, dir).collect().head
    assert(p.getLong(0) == t.getLong(0) && p.getLong(1) == t.getLong(1),
      "arm sizes must match the t-test's (same hash split)")
    val mde = p.getDouble(2)
    assert(mde > 0.0, s"$p")
    // SE = (mean_a - mean_b) / t_stat, so MDE must equal z * SE; both
    // readouts quantize at 1e-6, so allow only that much slack
    val se = (t.getDouble(2) - t.getDouble(3)) / t.getDouble(4)
    val z = 1.959963984540054 + 0.8416212335729143
    assert(math.abs(mde - z * se) < 1e-4,
      s"MDE ${mde} inconsistent with t-test SE ${se}")
    // relative MDE sanity: positive, and tiny for 1e4+ users per arm
    assert(p.getDouble(3) > 0.0 && p.getDouble(3) < 1.0, s"$p")
  }

  test("attr_linear: even split, remainder dropped, trailing touches earn nothing") {
    import spark.implicits._
    // u1: view,click,view -> purchase (3 touches, 333 each, 999 total)
    // u2: click -> purchase (solo, 1000)
    // u3: view after its purchase (trailing, earns nothing)
    val ev = Seq(
      (1L, 10L, "view", ts(10)), (1L, 11L, "click", ts(20)),
      (1L, 12L, "view", ts(30)), (1L, 13L, "purchase", ts(40)),
      (2L, 20L, "click", ts(10)), (2L, 21L, "purchase", ts(20)),
      (3L, 30L, "purchase", ts(10)), (3L, 31L, "view", ts(20)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = EventOps.attrLinearOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("view") == ((2L, 666L)), s"$got")   // u1's two views, 333 each
    assert(got("click") == ((2L, 1333L)), s"$got") // u1 333 + u2 solo 1000
    assert(got.size == 2, s"u3's trailing view must be absent: $got")
  }

  test("attr_decay: dyadic ladder by age, per-conversion normalization") {
    import spark.implicits._
    def atDay(d: Int) = new Timestamp(1700006400000L + d * 86400000L)
    // u1 converts on day 10: touches at day 10 (age 0 -> w 1000), day 6
    // (age 4 -> k=1 -> w 500), day 0 (age 10 -> k=3 -> w 125).
    // sw = 1625 -> credits 1000000/1625=615, 500000/1625=307, 125000/1625=76
    val ev = Seq(
      (1L, 10L, "view", atDay(0)), (1L, 11L, "click", atDay(6)),
      (1L, 12L, "view", atDay(10)), (1L, 13L, "purchase", atDay(10)))
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = EventOps.attrDecayOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // views: day-10 (615) + day-0 (76) = 691; click: 307
    assert(got("view") == ((2L, 691L)), s"$got")
    assert(got("click") == ((1L, 307L)), s"$got")
    // normalization never exceeds 1000 permille per conversion
    assert(got.values.map(_._2).sum <= 1000L, s"$got")
  }

  test("user_stickiness: exact DAU/MAU permille on a hand-built month") {
    import spark.implicits._
    def atDay(d: Int, u: Long) =
      (u, new Timestamp(1700006400000L + d * 86400000L), "click")
    // 4 active days; user 1 every day, user 2 on two days ->
    // sum_dau = 4 + 2 = 6, mau = 2, stickiness = 6000 div (4*2) = 750
    val ev = (Seq(atDay(0, 1L), atDay(1, 1L), atDay(2, 1L), atDay(3, 1L),
      atDay(1, 2L), atDay(3, 2L)) ++
      Seq((1L, new Timestamp(1700006400000L + 3 * 86400000L + 3600000L),
        "click"))) // same user+day dup: distinct() must collapse it
      .toDF("user_id", "ts", "event_type")
    val tmp = tempDir("stick")
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = EventOps.userStickiness(spark, tmp).collect()
    assert(got.length == 1, s"${got.toSeq}")
    val r = got.head
    assert(r.getLong(2) == 4L && r.getLong(3) == 6L && r.getLong(4) == 2L &&
      r.getLong(5) == 750L, s"$r")
  }

  test("funnel_latency: exact gaps under strict ordering; carried-t1 two-join plan") {
    import spark.implicits._
    // u1: signup@10 -> first view@20 (gap 10s) -> first purchase@35
    //     (gap 15s); a later view@40 must not move t2.
    // u2: signup@100 -> view@160 (gap 60s); purchase@150 BEFORE the view
    //     is not strictly after t2 and must not convert.
    // u3: purchase-only user counts nowhere.
    val ev = Seq(
      (1L, "signup", ts(10)), (1L, "view", ts(20)), (1L, "view", ts(40)),
      (1L, "purchase", ts(35)),
      (2L, "signup", ts(100)), (2L, "purchase", ts(150)),
      (2L, "view", ts(160)),
      (3L, "purchase", ts(5)),
    ).toDF("user_id", "event_type", "ts")
    val df = EventOps.funnelLatencyOf(ev)
    val got = df.collect().map(r => (r.getInt(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    // step 1: u1 gap 10s, u2 gap 60s -> n=2, median 10s (quantile_disc
    // lower-of-two), mean 35s; step 2: u1 only -> 15s across the board
    assert(got == Seq(
      (1, "signup->view", 2L, 10000000L, 35.0),
      (2, "view->purchase", 1L, 15000000L, 15.0)), s"$got")
    // plan lock for the r15 restructure: t1/t2 are carried through the
    // step aggregates (min of a per-user constant), so the tree holds
    // exactly THREE join nodes — s2's events⋈s1 (instantiated in both
    // the step-1 branch and inside s3) and s3's events⋈s2. The
    // pre-optimization shape re-joined s2⋈s1 and s3⋈s2 on top and
    // planned SIX join nodes (re-running the s1/s2 subtrees once more
    // each); AQE's runtime stage reuse then dedupes the shared s2
    // exchange, so execution pays each step's shuffle once.
    val joins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.size
    assert(joins == 3, s"funnel_latency must plan exactly 3 joins, saw $joins")
  }
}
