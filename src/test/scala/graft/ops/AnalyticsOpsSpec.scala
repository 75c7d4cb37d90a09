package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Property probes for the analytics additions: time-series resample/EWMA,
  * robust outliers, the skyline scan, priority sampling, and mergeable-
  * sketch pre-aggregation. The oracle gate proves each query's values; the
  * probes here assert the CLAIMS behind the plans — the invariants a hash
  * compare alone cannot express (dominance, bias direction, sketch
  * mergeability, grid completeness). */
class AnalyticsOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("ts_fill: grid is complete per key, LOCF fills every gap, real hours survive") {
    val f = TimeWindows.tsFill(spark, dir).cache()
    try {
      // no hole on the filled grid: every row carries a value
      assert(f.filter(col("value").isNull).count() == 0L,
        "LOCF left a null on the grid")
      // per key the grid is contiguous: row count == span-in-hours + 1
      val spans = f.groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("hour").as("lo"), max("hour").as("hi"))
        .withColumn("want",
          (unix_seconds(to_timestamp(col("hi"))) -
            unix_seconds(to_timestamp(col("lo")))) / 3600L + 1L)
      assert(spans.filter(col("n") =!= col("want")).count() == 0L,
        "hourly grid has holes or duplicates")
      // observed hours agree with the raw hourly aggregate count
      val observed = f.filter(col("gap") === 0).count()
      val raw = table(spark, dir, "events")
        .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .distinct().count()
      assert(observed == raw, s"observed-hour count drifted: $observed vs $raw")
    } finally f.unpersist()
  }

  test("ts_ewma: smoothing stays inside the window's value envelope") {
    // the EWMA is a convex combination of the last 8 observations, so every
    // smoothed value must lie within the per-key global [min,max] envelope
    val e = TimeWindows.tsEwma(spark, dir)
    val env = table(spark, dir, "events").groupBy("event_type")
      .agg(min("value").as("lo"), max("value").as("hi"))
    val out = e.join(env, "event_type")
      .filter(col("ewma_close") < col("lo") - 1e-6 ||
        col("ewma_close") > col("hi") + 1e-6 ||
        col("ewma_mean") < col("lo") - 1e-6 ||
        col("ewma_mean") > col("hi") + 1e-6)
    assert(out.count() == 0L, "EWMA escaped the observed value envelope")
  }

  test("anomaly_mad: flags are a subset of generous-z candidates and MAD is robust") {
    val m = Relational.anomalyMad(spark, dir).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val (n, outliers) = (r.getAs[Long]("n"), r.getAs[Long]("outliers"))
      // a 50%-breakdown estimator can never flag the majority
      assert(outliers * 2 <= n, s"${r.getString(0)}: MAD flagged a majority")
      assert(r.getAs[Double]("mad") >= 0.0)
    }
  }

  test("skyline: sort-scan output is exactly the brute-force pareto frontier") {
    val sky = Relational.skyline(spark, dir)
      .select("price", "size").collect().map(r => (r.getDouble(0), r.getInt(1))).toSet
    val pts = table(spark, dir, "part")
      .select(col("p_retailprice"), col("p_size"))
      .collect().map(r => (r.getDouble(0), r.getInt(1))).toSet
    def dominated(p: (Double, Int)) = pts.exists(q =>
      q._1 <= p._1 && q._2 >= p._2 && (q._1 < p._1 || q._2 > p._2))
    val brute = pts.filterNot(dominated)
    assert(sky == brute,
      s"skyline mismatch: scan=${sky.size} brute=${brute.size}")
  }

  test("skyline: two-phase merge — no WindowExec, and the local prune really prunes") {
    // shape lock: the distributed form must be the partition-local
    // frontier + single-partition merge, never a global-ORDER BY window
    val plan = Relational.skyline(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "skyline regressed to a global window pass")
    assert(plan.contains("MapPartitions"),
      "skyline lost its mapPartitions frontier passes")
    // measured effect: the merge-phase input (union of local frontiers)
    // must not exceed the per-price frame, and must contain the answer
    val perPriceRows = table(spark, dir, "part")
      .select("p_retailprice").distinct().count()
    val localRows = Relational.skylineLocal(spark, dir).count()
    val finalRows = Relational.skyline(spark, dir).count()
    assert(localRows <= perPriceRows,
      s"local prune grew the frame: $localRows > $perPriceRows")
    assert(finalRows <= localRows && finalRows > 0)
  }

  test("sample_weighted: priority sampling is length-biased and deterministic") {
    val s1 = Curation.samplePriority(spark, dir).collect()
    val s2 = Curation.samplePriority(spark, dir).collect()
    assert(s1.toSeq == s2.toSeq, "weighted sample not reproducible")
    // bias direction: the weight IS n_chars, so the sample's mean length
    // must exceed the corpus mean (the whole point of weighting)
    val sampleMean = s1.map(_.getAs[Long]("n_chars")).sum.toDouble / s1.length
    val corpusMean = table(spark, dir, "documents")
      .agg(avg("n_chars")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      f"no length bias: sample $sampleMean%.0f vs corpus $corpusMean%.0f")
    // regime guard: the integer priority w·2^40 must fit a signed 64-bit
    // product (Spark wraps silently past it, DuckDB errors — divergence)
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val maxW = table(spark, d, "documents")
        .agg(max("n_chars")).head().getLong(0)
      assert(maxW < (1L << 23),
        s"doc of $maxW chars in $d exceeds the 2^23 priority bound")
    }
  }

  test("freq_cms: estimates never under-count, any key, and the grid is tiny") {
    // rebuild the grid and probe EVERY user: the one-sided error guarantee
    // (est >= exact) must hold for all keys, not just the query's 5 probes
    val depth = 4
    val width = 256L
    def cellArr(id: org.apache.spark.sql.Column) = array((0 until depth).map(j =>
      struct(lit(j).as("j"),
        (graft.ops.DedupOps.polyHash(concat(id.cast("string"),
          lit(s"#cms$j"))) % width).as("b"))): _*)
    val ev = table(spark, dir, "events").select("user_id")
    val cells = ev.select(explode(cellArr(col("user_id"))).as("c"))
      .groupBy(col("c.j").as("j"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    assert(cells.count() <= depth * width, "grid exceeded its fixed size")
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
    val est = exact.select(col("user_id"), col("exact"),
        explode(cellArr(col("user_id"))).as("c"))
      .select(col("user_id"), col("exact"),
        col("c.j").as("j"), col("c.b").as("b"))
      .join(cells, Seq("j", "b"), "left")
      .groupBy("user_id", "exact")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
    assert(est.filter(col("est") < col("exact")).count() == 0L,
      "CMS under-counted — the one-sided guarantee is broken")
  }

  test("attr_last_touch: attribution is the latest prior view, gaps non-negative") {
    val a = EventOps.attrLastTouch(spark, dir).cache()
    try {
      assert(a.count() > 0L)
      // every attributed pair must be real: (user, attr_id) is a view of
      // that user strictly before the purchase, with no later view between
      val ev = table(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      val joined = a.filter(col("attr_id").isNotNull)
        .join(ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("attr_id"),
            col("ts").as("vts")), Seq("user_id", "attr_id"))
        .join(ev.select(col("event_id").as("purchase_id"),
          col("ts").as("pts")), "purchase_id")
      assert(joined.count() ==
        a.filter(col("attr_id").isNotNull).count(),
        "an attributed id is not a view of that user")
      assert(joined.filter(col("vts") > col("pts")).count() == 0L,
        "attributed a view AFTER the purchase")
      assert(a.filter(col("gap_s") < 0L).count() == 0L, "negative gap")
      // no view of the same user sits strictly between attr and purchase
      val between = joined.join(
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("bts")), "user_id")
        .filter(col("bts") > col("vts") && col("bts") < col("pts"))
      assert(between.count() == 0L, "attribution is not the LATEST prior view")
    } finally a.unpersist()
  }

  test("dq_skew: permille shares are consistent and a synthetic hot key trips the flag") {
    val out = DataQuality.dqSkew(spark, dir).collect()
    assert(out.length == 4)
    out.foreach { r =>
      val (t1, t10) = (r.getAs[Long]("top1_permille"),
        r.getAs[Long]("top10_permille"))
      assert(t1 >= 0 && t1 <= 1000 && t10 >= t1 && t10 <= 1000,
        s"${r.getString(0)}: inconsistent shares $t1/$t10")
    }
    // a deliberately skewed frame (half the rows on one key) must flag
    import spark.implicits._
    val hot = (Seq.fill(500)(1L) ++ (2L to 501L)).toDF("k")
    val counts = hot.groupBy("k").agg(count(lit(1)).as("c"))
    val st = counts.agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"),
      max("c").as("top1")).head()
    assert(st.getAs[Long]("top1") * st.getAs[Long]("n_keys") >
      10L * st.getAs[Long]("n_rows"),
      "the flag formula failed to trip on a 50%-hot key")
  }

  test("twap: integral average stays inside each day's value envelope") {
    val t = TimeWindows.twap(spark, dir)
    val env = table(spark, dir, "events")
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(min("value").as("lo"), max("value").as("hi"))
    val out = t.join(env, Seq("event_type", "day"))
      .filter(col("twap") < col("lo") - 1e-6 || col("twap") > col("hi") + 1e-6)
    assert(out.count() == 0L, "TWAP escaped the day's observed range")
    assert(t.filter(col("n_ticks") <= 0L).count() == 0L)
  }

  test("path_transitions: edges conserve mass and shares sum to ~1000 permille") {
    val p = EventOps.pathTransitions(spark, dir).cache()
    try {
      // every non-final event contributes exactly one outgoing edge
      val totalEdges = p.agg(sum("transitions")).head().getLong(0)
      val ev = table(spark, dir, "events")
      val want = ev.count() - ev.select("user_id").distinct().count()
      assert(totalEdges == want,
        s"edge mass $totalEdges != events-minus-chains $want")
      // integer shares: per from-state they sum to 1000 minus division dust
      val shares = p.groupBy("from_type")
        .agg(sum("share_permille").as("s"), count(lit(1)).as("k")).collect()
      shares.foreach { r =>
        val (s, k) = (r.getAs[Long]("s"), r.getAs[Long]("k"))
        assert(s <= 1000L && s > 1000L - k,
          s"${r.getString(0)}: share sum $s outside (1000-$k, 1000]")
      }
    } finally p.unpersist()
  }

  test("dq_cardinality: the estimate IS the exact join output size") {
    val est = DataQuality.dqCardinality(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("out_rows")).toMap
    val li = table(spark, dir, "lineitem")
    val ord = table(spark, dir, "orders")
    val actual = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
    assert(est("lineitem*orders.orderkey") == actual,
      s"estimate ${est("lineitem*orders.orderkey")} != actual join $actual")
    val ev = table(spark, dir, "events")
    val selfActual = ev.select("user_id")
      .join(ev.select(col("user_id")), "user_id").count()
    assert(est("events*events.user_id") == selfActual)
  }

  test("lm_kn: probabilities are a proper conditional distribution per context") {
    // sum over emitted w of P(w|v) <= 1 for any v, and every P in (0, 1]
    val rows = TextOps.lmKneserNey(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val p = r.getAs[Double]("p_kn")
      assert(p > 0.0 && p <= 1.0, s"P out of range: $r")
    }
    // discount sanity: a bigram's KN prob never exceeds its raw MLE + the
    // full backoff mass (d * n1_v/c_v <= 1)
    rows.foreach { r =>
      val mle = r.getAs[Long]("c_vw").toDouble / r.getAs[Long]("c_v")
      assert(r.getAs[Double]("p_kn") <= mle + 1.0, s"mass blowup: $r")
    }
  }

  test("curate_budget: every shard respects its slice and picks richest-first") {
    val out = Curation.curateBudget(spark, dir).collect()
    assert(out.nonEmpty)
    val byShard = out.groupBy(_.getAs[Long]("shard"))
    byShard.foreach { case (s, rows) =>
      assert(rows.map(_.getAs[Long]("n_tokens")).sum <= 500L,
        s"shard $s blew its token slice")
      // greedy order: richness is non-increasing along the admission order
      val rich = rows.sortBy(_.getAs[Long]("cum")).map(_.getAs[Long]("richness"))
      assert(rich.zip(rich.tail).forall { case (a, b) => a >= b },
        s"shard $s admitted a richer doc after a poorer one")
    }
  }

  test("analyze_stats: stats agree with directly-computed ground truth") {
    val st = DataQuality.analyzeStats(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(st.size == 7)
    val li = table(spark, dir, "lineitem")
    val okNdv = li.select("l_orderkey").distinct().count()
    assert(st("l_orderkey").getAs[Long]("ndv") == okNdv)
    assert(st("l_linenumber").getAs[Long]("nulls") == 0L)
    val qMin = li.agg(min("l_quantity")).head().getDouble(0)
    assert(st("l_quantity").getAs[Double]("min_v") == qMin)
    st.values.foreach(r =>
      assert(r.getAs[Double]("min_v") <= r.getAs[Double]("max_v")))
  }

  test("dq_drift: chi-square is non-negative, bounded, and zero on identical days") {
    val rows = DataQuality.dqDrift(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val chi2 = r.getAs[Double]("chi2")
      // chi-square distance over distributions lies in [0, 2)
      assert(chi2 >= 0.0 && chi2 < 2.0, s"chi2 out of range: $r")
    }
    // definitional zero: a day compared against itself must score 0
    // (replicate the shares arithmetic on one histogram)
    val anyDay = rows.head.getString(0)
    assert(rows.forall(r => r.getString(0) != r.getString(1)),
      "drift compared a day to itself")
    assert(anyDay.nonEmpty)
  }

  test("dedup_multi: image verdict attaches iff both docs carry images") {
    val rows = DedupOps.dedupMultiModal(spark, dir).collect()
    assert(rows.nonEmpty, "no text candidates to score")
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val bothImages = a % 3 == 0 && b % 3 == 0
      assert(r.isNullAt(2) != bothImages,
        s"($a,$b): img_hamming nullability disagrees with the media mapping")
      assert(r.isNullAt(3) == r.isNullAt(2), "agree flag out of sync")
      if (!r.isNullAt(2)) {
        val h = r.getLong(2)
        assert(h >= 0L && h <= 64L)
        assert((r.getInt(3) == 1) == (h <= 3L), "agree threshold wrong")
      }
    }
  }

  test("agg_hll_merge: union-of-daily sketches equals the one-shot weekly sketch") {
    val ev = table(spark, dir, "events")
    val daily = ev
      .groupBy(date_trunc("week", col("ts")).as("wk"),
        date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
    val merged = daily.groupBy("wk")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("m"))
    val direct = ev.groupBy(date_trunc("week", col("ts")).as("wk"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("d"),
        count_distinct(col("user_id")).as("exact"))
    val rows = direct.join(merged, "wk").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, d, exact) = (r.getAs[Long]("m"), r.getAs[Long]("d"),
        r.getAs[Long]("exact"))
      // mergeability: union-of-parts must estimate like the whole
      assert(m == d, s"merged $m != direct $d — sketch union drifted")
      assert(math.abs(m - exact) <= exact * 0.05,
        s"estimate $m strayed >5% from exact $exact")
    }
  }

  test("winfn_median: frame midpoint equals the brute-force rolling median") {
    val got = Relational.winfnMedian(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // brute force: per user, sort by (ts, id), median of the trailing 5
    val ev = table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long").as("vc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    ev.groupBy(_._2).foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._1))
      ordered.indices.foreach { i =>
        val frame = ordered.slice(math.max(0, i - 4), i + 1).map(_._4).sorted
        val n = frame.length
        val med = (frame((n - 1) / 2) + frame(n / 2)) / 2.0
        assert(got(ordered(i)._1) == med,
          s"event ${ordered(i)._1}: got ${got(ordered(i)._1)} want $med")
      }
    }
  }

  test("join_spatial: grid candidates reproduce the brute-force radius join") {
    val r = 400L
    val got = Relational.joinSpatial(spark, "/root/testdata/sf0.001")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    def px(k: Long) = (k * 7919L) % 10000L
    def py(k: Long) = (k * 104729L) % 10000L
    val cs = table(spark, "/root/testdata/sf0.001", "customer")
      .select("c_custkey").collect().map(_.getLong(0))
    val ss = table(spark, "/root/testdata/sf0.001", "supplier")
      .select("s_suppkey").collect().map(_.getLong(0))
    assert(ss.nonEmpty && cs.nonEmpty)
    val brute = ss.map { sk =>
      sk -> cs.count { ck =>
        val (dx, dy) = (px(ck) - px(sk), py(ck) - py(sk))
        dx * dx + dy * dy <= r * r
      }.toLong
    }.toMap
    assert(got == brute,
      s"grid join diverged from brute force: ${got.toSeq.diff(brute.toSeq)}")
    // and some supplier actually has neighbors, or the probe proves nothing
    assert(brute.values.sum > 0, "radius too small: all-empty fixture")
  }

  test("streaks: island arithmetic equals a brute-force scan per user") {
    val got = EventOps.streaks(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val days = table(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .groupBy(_._1)
    days.foreach { case (u, rows) =>
      val ds = rows.map(_._2.toEpochDay).sorted.toSeq
      var best = 1L; var cur = 1L
      ds.zip(ds.drop(1)).foreach { case (a, b) =>
        if (b == a + 1) { cur += 1; best = math.max(best, cur) }
        else cur = 1
      }
      assert(got(u) == (math.max(best, 1L), ds.length.toLong),
        s"user $u: got ${got(u)} want (${best}, ${ds.length})")
    }
  }

  test("assoc_rules: confidence bounded, supports consistent, lift symmetric in nab") {
    val rows = Extended.assocRules(spark, dir).collect()
    assert(rows.nonEmpty, "no rules at min-support 3 - fixture degenerate")
    rows.foreach { r =>
      val (nab, na, nb, conf) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nab <= na && nab <= nb, s"pair support exceeds item support: $r")
      assert(conf >= 0 && conf <= 1000, s"confidence out of permille range: $r")
    }
    // both directions of every pair are present with the same nab
    val byPair = rows.groupBy(r => Set(r.getString(0), r.getString(1)))
    byPair.values.foreach { dirs =>
      assert(dirs.length == 2 && dirs.map(_.getLong(2)).distinct.length == 1,
        s"directed pair asymmetry: ${dirs.toSeq}")
    }
  }

  test("dq_ref: clean edges pass, the stale-dimension edge fires") {
    val rows = DataQuality.dqReferential(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    val clean = rows.filterKeys(!_.contains("stale"))
    assert(clean.nonEmpty && clean.values.forall(v => v._2 == 0 && v._3),
      s"clean FK edges reported orphans: $rows")
    val (nChild, nOrph, ok) = rows("lineitem->part[stale:size<=25]")
    assert(!ok && nOrph > 0 && nOrph < nChild,
      s"stale-dim edge must fire partially: $nOrph of $nChild")
  }

  test("dq_volume: trailing window replays a driver-side scan; flags agree") {
    val rows = DataQuality.dqVolume(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).sortBy(_._1)
    assert(rows.nonEmpty)
    val cnts = rows.map(_._2)
    rows.zipWithIndex.foreach { case ((day, cnt, ts, nt, dropped), i) =>
      val lo = math.max(0, i - 7)
      val want = cnts.slice(lo, i)
      assert(ts == want.sum && nt == want.length.toLong,
        s"$day trailing window wrong: $ts/$nt vs ${want.sum}/${want.length}")
      assert(dropped == (nt > 0 && cnt * nt * 2 < ts),
        s"$day flag inconsistent")
    }
  }

  test("ts_seasonal: dows bounded, mass-weighted means rebuild the type totals") {
    val rows = TimeWindows.tsSeasonal(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, dow, _, _, _) => dow >= 0 && dow <= 6 })
    val direct = graft.ops.table(spark, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    rows.groupBy(_._1).foreach { case (tpe, dows) =>
      val (n, sx) = direct(tpe)
      assert(dows.map(_._3).sum == n, s"$tpe counts must partition the type")
      val rebuilt = dows.map { case (_, _, cnt, mean, _) => cnt * mean }.sum
      assert(math.abs(rebuilt - sx) <= 1e-4 * math.max(1.0, math.abs(sx)),
        s"$tpe weighted means diverge from the direct sum: $rebuilt vs $sx")
      // ratios average to 1 under count weights (same tolerance)
      val rsum = dows.map { case (_, _, cnt, _, r) => cnt * r }.sum
      assert(math.abs(rsum / n - 1.0) <= 1e-4, s"$tpe ratio mass: ${rsum / n}")
    }
  }

  test("ts_stl: components rebuild y exactly; seasonal mass is zero per weekday") {
    val rows = TimeWindows.tsStl(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    // additive identity: y = trend + seasonal + remainder (each component
    // is 6-dp rounded, so the rebuild is exact to a few ulps of 1e-6)
    rows.foreach { case (tpe, day, y, t, s, r) =>
      assert(math.abs(y - (t + s + r)) <= 3e-6,
        s"$tpe $day: $y != $t + $s + $r")
    }
    // the seasonal is the weekday MEAN of the detrended series, so the
    // detrended-minus-seasonal remainders sum to ~0 within each
    // (type, weekday) cell — the defining normalization of the split
    val byDow = rows.groupBy { case (tpe, day, _, _, _, _) =>
      (tpe, java.time.LocalDate.parse(day).getDayOfWeek)
    }
    byDow.foreach { case (cell, rs) =>
      val m = rs.map(_._6).sum / rs.size
      assert(math.abs(m) <= 1e-5, s"$cell remainder mean must vanish: $m")
    }
    // weekday seasonal is constant within a (type, dow) cell
    byDow.foreach { case (cell, rs) =>
      assert(rs.map(_._5).distinct.size == 1, s"$cell seasonal not constant")
    }
  }

  test("win_concurrency: nested intervals stack, touching intervals do not") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    // hold = 10s. Three starts inside one window -> peak 3; then a start
    // exactly at a prior end (touching) -> stays at 1
    val df = Seq(
      ("x", t(0)), ("x", t(2)), ("x", t(4)),   // nested: peak 3
      ("y", t(0)), ("y", t(10))                // touching: peak 1
    ).toDF("event_type", "ts")
    val got = TimeWindows.concurrencyOf(df, holdUs = 10000000L).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map("x" -> 3L, "y" -> 1L), s"sweep peaks wrong: $got")
  }

  test("ts_changepoint: a clean level shift is cut exactly at the boundary") {
    import spark.implicits._
    import java.sql.Timestamp
    val rows = (0 until 40).map { i =>
      ("shift", new Timestamp(1700000000000L + i * 1000L), i.toLong,
        if (i < 20) 10.0 else 50.0)
    }
    val df = rows.toDF("event_type", "ts", "event_id", "value")
    val got = TimeWindows.changepointOf(df).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).head
    // argmax of |n·S_t − t·S_n| for a two-level series is the boundary
    // point t=20 (the last low point)
    assert(got._2 == 40L)
    assert(got._3.startsWith("2023-11-14 22:13:39"),
      s"cut at wrong point: ${got._3}")
    assert(got._5 == 10.0 && got._6 == 50.0,
      s"side means wrong: ${got._5} / ${got._6}")
  }

  test("ts_sax: a square wave reads alternating a/d; a constant series is all c") {
    import spark.implicits._
    import java.sql.Timestamp
    def day(i: Int) = new Timestamp(86400000L * (19000 + i))
    // square: daily totals alternate 10.00 / 30.00 -> z = ∓1 on both
    // sides of the ±0.674 quartile breakpoints -> 'a'/'d' alternating;
    // flat: σ = 0, the strict-< boundary chain lands every day on 'c'
    val ev = (0 until 8).flatMap { i =>
      Seq(("square", day(i), if (i % 2 == 0) 10.0 else 30.0),
        ("flat", day(i), 20.0))
    }.toDF("event_type", "ts", "value")
    val got = TimeWindows.saxOf(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got("square") == ((8L, "adadadad")), s"$got")
    assert(got("flat") == ((8L, "cccccccc")), s"$got")
  }

  test("ab_wilson: the interval brackets the rate inside [0,1] at every day") {
    val rows = EventOps.abWilson(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, k) = (r.getLong(1), r.getLong(2))
      val (rate, lo, hi) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(k <= n && math.abs(rate - k.toDouble / n) < 1e-5, s"$r")
      // Wilson's whole point: bounded to [0,1] and bracketing, even at
      // small n where the Wald interval escapes the unit range
      assert(lo >= 0.0 && hi <= 1.0 && lo <= rate && rate <= hi, s"$r")
      assert(hi - lo > 0.0, s"degenerate interval: $r")
    }
  }

  test("dq_heartbeat: a planted half-hour hole is the day's max gap") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = 1700000000000L // within one UTC day
    val ts = Seq(0L, 60000L, 120000L, 120000L + 1800000L, 120000L + 1860000L)
    val df = ts.zipWithIndex.map { case (off, i) =>
      ("feed", new Timestamp(t0 + off), i.toLong) }
      .toDF("event_type", "ts", "event_id")
      .withColumn("value", lit(1.0)).withColumn("user_id", lit(1L))
    val out = tempDir("hb")
    df.write.mode("overwrite").parquet(s"$out/events.parquet")
    val r = DataQuality.dqHeartbeat(spark, out).collect()
    assert(r.length == 1 && r.head.getLong(2) == 5L)
    assert(r.head.getLong(3) == 1800000L,
      s"the planted 30-minute hole must be the max gap: ${r.head}")
  }

  test("dq_gaps: a dense id sequence audits clean at every day") {
    val rows = DataQuality.dqGaps(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // the synthetic generator assigns dense day-ordered ids: zero in-day
    // holes, zero boundary gaps — exactly the clean-ingest baseline the
    // audit exists to verify (a dropped batch would show up in both)
    rows.foreach { r =>
      assert(r.getLong(4) == 0L, s"in-day hole: $r")
      assert(r.getLong(5) == 0L, s"boundary gap: $r")
      assert(r.getLong(2) - r.getLong(1) + 1 == r.getLong(3), s"span: $r")
    }
  }

  test("text_code: a code body flags as code, prose does not, empty text survives") {
    import spark.implicits._
    val code =
      """object Main {
        |  def run(xs: Seq[Int]): Int = {
        |    val total = xs.map(x => x * 2).sum;
        |    return total;
        |  }
        |}""".stripMargin
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders home across the quiet field before the rain arrives"
    val got = TextOps.codeSignalsOf(
      Seq((1L, code), (2L, prose), (3L, "")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(5), r.getInt(6)))).toMap
    assert(got(1L)._2 == 1 && got(1L)._1 >= 300L, s"code must flag: $got")
    assert(got(2L)._2 == 0 && got(2L)._1 < 100L, s"prose must not: $got")
    assert(got(3L)._2 == 0, s"empty text must not divide by zero: $got")
  }

  test("ts_holt_winters: a pure weekly pattern is a fixed point of the recursion") {
    import spark.implicits._
    import java.sql.Timestamp
    // y_i = 20 + w[(i-1) mod 7], sum(w) = 0: init lands exactly on
    // (l=20, b=0, s=w) and every update reproduces it — level/trend/
    // seasonal read off closed-form
    val w = Seq(3, -1, 0, 2, -2, 1, -3)
    val rows = for {
      i <- 1 to 21
      k <- 1 to 20 + w((i - 1) % 7)
    } yield ("feed", new Timestamp(86400000L * (19000 + i) + k * 1000L))
    val df = rows.toDF("event_type", "ts")
    val r = TimeWindows.holtWintersOf(df).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 21L)
    assert(row.getDouble(2) == 20.0, s"level: $row")
    assert(row.getDouble(3) == 0.0, s"trend: $row")
    // next day is i=22 -> w[(22-1) mod 7] = w[0] = 3
    assert(row.getDouble(4) == 3.0, s"s_next: $row")
    assert(row.getDouble(5) == 23.0, s"forecast: $row")
    // short series are skipped, not garbage-forecast
    val short = (1 to 10).map(i =>
      ("feed", new Timestamp(86400000L * (19000 + i))))
      .toDF("event_type", "ts")
    assert(TimeWindows.holtWintersOf(short).count() == 0L)
  }

  test("ts_periodicity: weekly sinusoid captures ~all variance, period-2 none, flat NULL") {
    import spark.implicits._
    import java.sql.Timestamp
    def day(i: Int) = new Timestamp(86400000L * (19000 + i))
    val ev = (0 until 28).flatMap { d =>
      Seq(
        ("weekly", day(d), 100.0 + 50.0 * math.cos(2 * math.Pi * d / 7)),
        ("alt", day(d), if (d % 2 == 0) 50.0 else 150.0),
        ("flat", day(d), 100.0))
    }.toDF("event_type", "ts", "value")
    val got = TimeWindows.periodicityOf(ev).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got("weekly").exists(_ > 0.95), s"pure weekly cycle: $got")
    assert(got("alt").exists(_ < 0.1), s"period-2 has no weekly power: $got")
    assert(got("flat").isEmpty, s"zero variance must be NULL: $got")
  }

  test("ts_pacf: matches an independent Pearson + Durbin-Levinson evaluation") {
    import spark.implicits._
    import java.sql.Timestamp
    // multiples of 0.5 only: every product/sum below is exactly
    // representable in double, so this independent evaluation is
    // bit-identical to the op's exact-decimal moment path
    val xs = Seq(10.0, 12.0, 11.0, 14.0, 13.5, 15.0, 14.0, 16.5, 15.5,
      17.0, 16.0, 18.5, 17.5, 19.0, 18.0, 20.5, 19.5, 21.0, 20.0, 22.5)
    val df = xs.zipWithIndex.map { case (v, i) =>
      ("s", new Timestamp(1700000000000L + i * 1000L), i.toLong, v)
    }.toDF("event_type", "ts", "event_id", "value")
    val got = TimeWindows.pacfOf(df).collect().head
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def rho(k: Int): Double = {
      val p = xs.drop(k).zip(xs.dropRight(k))
      val n = p.size.toDouble
      val (sx, sy) = (p.map(_._1).sum, p.map(_._2).sum)
      val sxy = p.map(t => t._1 * t._2).sum
      val (sxx, syy) = (p.map(t => t._1 * t._1).sum, p.map(t => t._2 * t._2).sum)
      q6((n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)))
    }
    val (r1, r2, r3) = (rho(1), rho(2), rho(3))
    val p2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    val p21 = r1 - p2 * r1
    val p3 = (r3 - p21 * r2 - p2 * r1) / (1.0 - p21 * r1 - p2 * r2)
    assert(got.getLong(1) == 17L, s"n_pairs3: $got")
    assert(got.getDouble(2) == r1, s"pacf1: $got vs $r1")
    assert(math.abs(got.getDouble(3) - q6(p2)) < 1e-12, s"pacf2: $got vs ${q6(p2)}")
    assert(math.abs(got.getDouble(4) - q6(p3)) < 1e-12, s"pacf3: $got vs ${q6(p3)}")
    // the zig-zag ramp is serially anti-correlated around its trend at
    // lag 1 once lag-1 structure is removed: pacf2 must differ from the
    // raw r2 (the whole point of partialling out)
    assert(got.getDouble(3) != r2)
  }

  test("ts_acf: alternating series gives r1 = -1, r2 = +1; trend is positive") {
    import spark.implicits._
    import java.sql.Timestamp
    def series(tpe: String, vals: Seq[Double]) = vals.zipWithIndex.map {
      case (v, i) => (tpe, new Timestamp(1700000000000L + i * 1000L),
        i.toLong, v)
    }
    val df = (series("alt", Seq.tabulate(40)(i => if (i % 2 == 0) 1.0 else 3.0))
      ++ series("ramp", Seq.tabulate(40)(i => i.toDouble))
      ++ series("flat", Seq.fill(40)(7.0)))
      .toDF("event_type", "ts", "event_id", "value")
    val rows = TimeWindows.acfOf(df).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(rows(("alt", 1))._2.contains(-1.0), s"alternating lag-1: $rows")
    assert(rows(("alt", 2))._2.contains(1.0), s"alternating lag-2: $rows")
    assert(rows(("ramp", 1))._2.exists(_ > 0.99), s"ramp lag-1: $rows")
    // constant series: zero variance -> NULL, never NaN
    assert(rows(("flat", 1))._2.isEmpty && rows(("flat", 2))._2.isEmpty,
      s"flat series must yield NULL acf: $rows")
    // pair counts: n-1 and n-2
    assert(rows(("alt", 1))._1 == 39L && rows(("alt", 2))._1 == 38L)
  }

  test("ts_xcorr: a planted 1-hour shift puts the perfect correlation at lag +1") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = 1700000000000L
    val rows = for {
      h <- 0 until 40
      c = h % 5 + 1
      j <- 0 until c
      (t, tpe) <- Seq((h, "view"), (h + 1, "purchase"))
    } yield (tpe, new Timestamp(base + t * 3600000L), (h * 100 + j).toLong)
    val df = rows.toDF("event_type", "ts", "event_id")
    val got = TimeWindows.xcorrOf(df, "view", "purchase").collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(got(1)._2.contains(1.0), s"lag +1 must be exactly 1: $got")
    assert(got(1)._1 == 40L, s"40 shifted pairs expected: $got")
    // the un-shifted and doubly-shifted lags see a permuted series, never
    // the planted alignment
    assert(got(0)._2.exists(_ < 1.0) && got(2)._2.exists(_ < 1.0),
      s"only the planted lag may be perfect: $got")
    assert(got.keySet == Set(-2, -1, 0, 1, 2))
  }

  test("join_nullsafe: the null buckets pair up and no row is dropped") {
    val dir = "/root/testdata/sf0.001"
    val got = Relational.joinNullsafe(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.contains("<null>"),
      s"null-safe join must keep the null bucket: $got")
    import org.apache.spark.sql.functions.col
    val ev = spark.read.parquet(s"$dir/events.parquet")
    def n(t: String) = ev.filter(col("event_type") === t).count()
    assert(got.values.map(_._1).sum == n("view"), s"views conserve: $got")
    assert(got.values.map(_._2).sum == n("purchase"),
      s"purchases conserve: $got")
  }

  test("text_ttr: types, hapax, and ratios stay inside their identities") {
    val got = TextOps.textTtr(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    got.foreach { case (s, ty, to, ha, ttr, hpm) =>
      assert(ty <= to && ha <= ty, s"identity broken: $s")
      assert(ttr == ty * 1000 / to && hpm == ha * 1000 / ty, s"ratio: $s")
    }
  }

  test("dq_assoc: the contingency geometry and effect-size bounds hold") {
    val r = DataQuality.dqAssoc(spark, "/root/testdata/sf0.001").collect()(0)
    val total = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .count()
    assert(r.getLong(0) == total, s"$r")
    assert(r.getLong(2) == 24L, s"5 types x 7 weekdays -> dof 24: $r")
    assert(r.getDouble(3) >= 0.0, s"$r")
    val v = r.getDouble(4)
    assert(v >= 0.0 && v <= 1.0, s"Cramer's V out of range: $r")
  }

  test("dq_benford: digit frame complete, permilles consistent, uniform prices flagged") {
    val rows = DataQuality.dqBenford(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 18, "2 audited columns x 9 digits, absent digits included")
    val byCol = rows.groupBy(_.getString(0))
    assert(byCol.keySet ==
      Set("lineitem.l_extendedprice", "orders.o_totalprice"))
    byCol.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 9), s"digits: ${rs.toSeq}")
      // Benford's expected permilles are the canonical 301..46 profile
      assert(rs.sortBy(_.getInt(1)).map(_.getInt(4)).toSeq ==
        Seq(301, 176, 125, 97, 79, 67, 58, 51, 46))
      val n = rs.map(_.getLong(2)).sum
      rs.foreach { r =>
        assert(r.getLong(3) == r.getLong(2) * 1000 / n, s"obs_pm: $r")
        assert(r.getDouble(5) >= 0.0, s"chi2: $r")
      }
      // one chi2 per column, repeated across its 9 rows
      assert(rs.map(_.getDouble(5)).distinct.length == 1)
      // the synthetic corpus draws prices ~uniformly, which Benford's
      // screen exists to flag: far from conforming (chi2/n near zero)
      assert(rs.head.getDouble(5) / n.toDouble > 0.05,
        s"uniform generator must fail the screen: chi2=${rs.head.getDouble(5)} n=$n")
    }
  }

  test("dq_fd: key and hierarchy dependencies hold, behavioral candidates fail") {
    val rows = DataQuality.dqFd(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    assert(rows("orders.o_orderkey->o_custkey") == ((0L, true)), s"$rows")
    assert(rows("nation.n_nationkey->n_regionkey") == ((0L, true)), s"$rows")
    assert(!rows("orders.o_custkey->o_orderpriority")._2 &&
      rows("orders.o_custkey->o_orderpriority")._1 > 0, s"$rows")
    assert(!rows("customer.c_nationkey->c_mktsegment")._2, s"$rows")
    assert(rows.size == 5)
  }

  test("text_zipf: the frequency curve fits with a negative slope over the whole head") {
    val r = TextOps.textZipf(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 1)
    // sf0.001 vocabulary is smaller than the fit depth - every token ranks
    assert(r(0).getLong(0) == 31L, s"head size: ${r(0)}")
    assert(r(0).getDouble(1) < 0.0, s"Zipf slope must be negative: ${r(0)}")
  }

  test("win_rolling_distinct: one activity serves 7 report days; silent days report 0") {
    import spark.implicits._
    import java.sql.Timestamp
    def day(d: Int) = new Timestamp(86400000L * (19000 + d))
    // u1 active day 0 only; u2 active days 0 and 10; span forces a silent
    // stretch days 7..9
    val ev = Seq((1L, day(0)), (2L, day(0)), (2L, day(10)))
      .toDF("user_id", "ts")
    val got = TimeWindows.rollingDistinctOf(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 11, s"complete spine expected: ${got.toSeq}")
    val d0 = got.head._1
    assert(got.head == ((d0, 2L, 2L)), s"day 0 reach: ${got.toSeq}")
    // days 1..6 still carry day-0 activity in the trailing window
    assert(got(6)._3 == 2L && got(6)._2 == 0L, s"trailing reach: ${got.toSeq}")
    assert(got(7)._3 == 0L && got(8)._3 == 0L && got(9)._3 == 0L,
      s"silent stretch must report 0: ${got.toSeq}")
    assert(got(10) == ((got(10)._1, 1L, 1L)), s"day 10: ${got.toSeq}")
  }

  test("ts_hampel: a planted spike is flagged; a level shift is not") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = 1700000000000L
    def series(tpe: String, vals: Seq[Double]) = vals.zipWithIndex.map {
      case (v, i) => (tpe, new Timestamp(base + i * 1000L), i.toLong, v)
    }
    // 'spike': flat 10s with one 500 at position 5 (deviation 490 vs MAD 0
    // -> flagged); 'shift': 10,10,10,10,10 then 50s - a genuine regime
    // change the rolling median follows, so nothing may be flagged
    val df = (series("spike", Seq(10, 10, 10, 10, 10, 500, 10, 10, 10, 10))
      ++ series("shift", Seq(10, 10, 10, 10, 10, 50, 50, 50, 50, 50)))
      .toDF("event_type", "ts", "event_id", "value")
    val got = TimeWindows.hampelOf(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.get("spike").contains((1L, 49000L)), s"$got")
    assert(!got.contains("shift"),
      s"a level shift must not be flagged: $got")
  }

  test("ts_hampel: an overflow-to-NULL value drops every frame it sits in") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = 1700000000000L
    // 1e17 overflows DECIMAL(18,2): with ANSI mode off its cents is NULL.
    // The 700 spike's frame holds that NULL, so only the 500 and 900
    // spikes have five values and are flagged.
    val vals = Seq(10, 10, 500, 10, 10, 10, 700, 1e17, 10, 10, 900, 10, 10, 10)
      .map(_.toDouble)
    val df = vals.zipWithIndex.map { case (v, i) =>
      ("s", new Timestamp(base + i * 1000L), i.toLong, v)
    }.toDF("event_type", "ts", "event_id", "value")
    // the collect_list formulation it replaced: NULLs are skipped and a
    // frame counts only with all five values
    val cents = vals.map(v => if (math.abs(v) >= 1e16) None else Some(math.round(v * 100)))
    val want = (2 until vals.size - 2).flatMap { i =>
      val frame = (i - 2 to i + 2).flatMap(cents(_))
      if (frame.size < 5) None
      else {
        val med = frame.sorted.apply(2)
        val mad = frame.map(c => math.abs(c - med)).sorted.apply(2)
        val dev = math.abs(frame(2) - med)
        if (dev > 3 * mad) Some((i.toLong, frame(2), med, dev)) else None
      }
    }.toSet
    assert(want.map(_._1) == Set(2L, 10L), s"reference: $want")
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val got = TimeWindows.hampelFlags(df).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(got == want)
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("ts_mk_trend: monotone series hits tau = 1, alternating stays near 0") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = 1700000000000L
    // 'up': hour t carries t events (strictly increasing counts);
    // 'alt': counts alternate 1,2,1,2 (taus cancel to ~0)
    val rows =
      (for { t <- 1 to 10; j <- 1 to t }
        yield ("up", new Timestamp(base + t * 3600000L), 0L)) ++
      (for { t <- 1 to 10; j <- 1 to (if (t % 2 == 0) 2 else 1) }
        yield ("alt", new Timestamp(base + t * 3600000L), 0L))
    val got = TimeWindows.mkTrendOf(rows.toDF("event_type", "ts", "value"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got("up") == ((45L, 45L, 1.0)), s"$got")
    // alternating: 15 up-pairs vs 10 down-pairs out of 45 -> tau = 1/9
    assert(math.abs(got("alt")._3) < 0.2, s"$got")
  }

  test("ts_theil_sen: linear series yields its exact slope; one outlier day moves nothing") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = 1700000000000L
    val day = 86400000L
    // 'lin': day t carries 2t events — every pairwise slope is exactly
    // 2.0, so the median is 2.0 regardless of pair count (m = C(10,2))
    val lin = for { t <- 1 to 10; _ <- 1 to 2 * t }
      yield ("lin", new Timestamp(base + t * day), 0L)
    // 'spiked': the same series with day 5 blown up 50x — an OLS fit
    // (and the mean of slopes) moves, the MEDIAN of slopes must not
    val spiked = for {
      t <- 1 to 10
      n = if (t == 5) 500 else 2 * t
      _ <- 1 to n
    } yield ("spiked", new Timestamp(base + t * day), 0L)
    val got = TimeWindows.theilSenOf(
        (lin ++ spiked).toDF("event_type", "ts", "value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got("lin") == ((45L, 2.0)), s"$got")
    assert(got("spiked") == ((45L, 2.0)),
      s"one outlier day moved the Sen slope: $got")
  }

  test("join_asof_tol: left-total, fresh rows obey the SLA, stale rows NULL the key but keep the gap") {
    val events = table(spark, dir, "events")
    val got = Relational.joinAsofTol(spark, dir).cache()
    try {
      assert(got.count() == events.count(), "tolerance join must be left-total")
      assert(got.filter(col("fresh") === 1 &&
        (col("o_orderkey").isNull || col("gap_d") > 7L)).count() == 0L,
        "a fresh row must carry a key within the 7-day budget")
      assert(got.filter(col("fresh") === 0 && col("o_orderkey").isNotNull)
        .count() == 0L, "a stale/absent row must NULL the key")
      assert(got.filter(col("fresh") === 0 && col("gap_d").isNotNull &&
        col("gap_d") <= 7L).count() == 0L,
        "a within-budget match may never read stale")
      // where fresh, the pick agrees with the unbounded as-of join
      val asof = Relational.joinAsof(spark, dir)
        .select(col("event_id"), col("o_orderkey").as("k0"))
      assert(got.filter(col("fresh") === 1).join(asof, "event_id")
        .filter(col("o_orderkey") =!= col("k0")).count() == 0L,
        "the tolerance filter must not change the matched order")
    } finally { got.unpersist(); () }
  }

  test("cascades: the size gate bites; touching bursts merge, one µs past the budget splits") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = 1700006400000L
    def burst(t: String, start: Long, n: Int, id0: Long) =
      (0 until n).map(i => (t, new Timestamp(start + i * 1000L),
        id0 + i, 2.5))
    val rows =
      // 5-fill burst ...
      burst("a", t0, 5, 1L) ++
      // ... then EXACTLY the 10-min budget later, a 4-fill flurry: Spark
      // MERGES touching session windows, so this is ONE 9-fill cascade
      // (the strict-boundary semantic the oracle must replay) ...
      burst("a", t0 + 4000L + 600000000L / 1000L, 4, 10L) ++
      // ... while one µs PAST the budget splits, leaving a 4-fill flurry
      // that the n >= 5 gate silences
      burst("c", t0, 5, 30L) ++
      burst("c", t0 + 4000L + 600000000L / 1000L + 1L, 4, 40L) ++
      // a lone small type never surfaces
      burst("b", t0, 3, 20L)
    val got = TimeWindows.cascadesOf(
        rows.toDF("event_type", "ts", "event_id", "value")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("a", "c"), s"$got")
    val a = got("a")
    assert(a.getLong(2) == 9L, s"touching bursts must merge: $a")
    assert(a.getDouble(3) == 22.5, s"exact notional: $a")
    val c = got("c")
    assert(c.getLong(2) == 5L, s"a gap one ms past the budget must split: $c")
    assert(c.getDouble(3) == 12.5 && c.getLong(4) == 4000000L, s"$c")
  }

  test("ts_burstiness: a metronome reads exactly -1; one huge gap pushes positive") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = 1700006400000L
    val metro = (0 until 20).map(i =>
      ("m", new Timestamp(t0 + i * 1000L), i.toLong))
    // 19 tiny 1ms gaps and one day-long gap: sd >> mu -> B near +1
    val bursty = ((0 until 20).map(i =>
      ("b", new Timestamp(t0 + i), i.toLong)) :+
      (("b", new Timestamp(t0 + 86400000L), 99L)))
    val got = TimeWindows.burstinessOf(
        (metro ++ bursty).toDF("event_type", "ts", "event_id"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got("m") == -1.0, s"equal gaps must read exactly -1: $got")
    assert(got("b") > 0.5, s"a planted burst must push B positive: $got")
  }

  test("dq_monotonic: a planted replay segment is counted; in-order feeds read zero") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = 1700006400000L
    // type "ok": ids ride with time. type "replay": ids 10,11,12 then a
    // replayed 3,4 arrive later in time — two inversions
    val rows = Seq(
      ("ok", 1L, 0), ("ok", 2L, 1), ("ok", 3L, 2),
      ("replay", 10L, 0), ("replay", 11L, 1), ("replay", 12L, 2),
      ("replay", 3L, 3), ("replay", 4L, 4))
      .map { case (t, id, s) => (t, id, new Timestamp(t0 + s * 1000L)) }
      .toDF("event_type", "event_id", "ts")
    val got = DataQuality.monotonicOf(rows).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got("ok") == ((3L, 0L, 0L)), s"$got")
    assert(got("replay") == ((5L, 2L, 400L)), s"$got")
  }

  test("dq_bounce: a planted 500ms double-fire is counted; spaced events are not") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = 1700006400000L
    val rows = Seq(
      // user 1: double-fire 500ms apart -> exactly one bounced row
      (1L, "x", new Timestamp(t0), 1L),
      (1L, "x", new Timestamp(t0 + 500L), 2L),
      // user 1 again, 10s later: outside the budget
      (1L, "x", new Timestamp(t0 + 10500L), 3L),
      // user 2 at the same instant as user 1: different key, never a bounce
      (2L, "x", new Timestamp(t0 + 100L), 4L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = DataQuality.bounceOf(rows).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 1L, s"$r")
    assert(r.getLong(3) == 250L, s"1/4 in permille: $r")
  }

  test("dq_schema_drift: a collapsed second-half column trips the distinct drift") {
    import spark.implicits._
    import java.sql.Timestamp
    val day0 = 1700006400000L
    // first half: 40 users; second half: every event defaults to user 0 —
    // the upstream-defaulting regression this audit exists to catch
    val rows = (1 to 40).map(i => (new Timestamp(day0 + i * 3600000L),
        i.toLong, "click", 1.0, s"""{"k": $i}""")) ++
      (1 to 40).map(i => (new Timestamp(day0 + 20L * 86400000L + i * 3600000L),
        0L, "click", 1.0, s"""{"k": $i}"""))
    val got = DataQuality.schemaDriftOf(
        rows.toDF("ts", "user_id", "event_type", "value", "props"))
      .collect().map(r => r.getString(0) -> r).toMap
    val u = got("user_id")
    assert(u.getAs[Long]("nd1") == 40L && u.getAs[Long]("nd2") == 1L, s"$u")
    assert(u.getAs[Long]("dist_drift_pm") == 975L, s"|40-1|*1000/40: $u")
    val t = got("event_type")
    assert(t.getAs[Long]("dist_drift_pm") == 0L, s"stable column drifted: $t")
    assert(got("value").getAs[Long]("null_pm1") == 0L)
    assert(got.size == 4)
  }

  test("ts_dtw: identical shapes read 0, constant offsets ride the diagonal, warping beats lockstep on a shifted burst") {
    import spark.implicits._
    import java.sql.Timestamp
    val day0 = 1700006400000L // epoch-day-aligned
    def series(t: String, counts: Seq[Int]): Seq[(String, Timestamp)] =
      counts.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c)((t, new Timestamp(day0 + d * 86400000L)))
      }
    // a: flat 2/day; b: same shape (DTW 0 despite different name);
    // c: flat 5/day (offset 3 -> diagonal path = 10 days * 3 = 30);
    // d: one 10-burst on day 3 over flat 2 — vs e's identical burst on
    // day 4: lockstep L1 = 20, DTW warps the burst into alignment
    val burst3 = Seq(2, 2, 2, 12, 2, 2, 2, 2, 2, 2)
    val burst4 = Seq(2, 2, 2, 2, 12, 2, 2, 2, 2, 2)
    val ev = series("a", Seq.fill(10)(2)) ++ series("b", Seq.fill(10)(2)) ++
      series("c", Seq.fill(10)(5)) ++ series("d", burst3) ++
      series("e", burst4)
    val got = TimeWindows.dtwOf(ev.toDF("event_type", "ts"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3))
      .toMap
    assert(got(("a", "b")) == 0L, s"identical series must read 0: $got")
    assert(got(("a", "c")) == 30L, s"constant offset rides the diagonal: $got")
    // warping absorbs the 1-day phase shift: the burst aligns with the
    // burst, paying only the off-diagonal step costs (= 0 here, flats
    // match flats), so DTW(d,e) must be far below the lockstep L1 of 20
    assert(got(("d", "e")) < 20L, s"DTW must beat lockstep on a shift: $got")
    assert(got(("d", "e")) == 0L, s"pure phase shift of one burst warps to 0: $got")
  }

  test("ts_holt: a pure linear ramp is a fixed point - level rides the line, trend is the slope") {
    import spark.implicits._
    import java.sql.Timestamp
    val base = 1700000000000L
    // hour t carries exactly t events: y_t = t, so with l1=1, b1=1 every
    // step lands exactly on the line (l_t = t, b_t = 1)
    val rows = for { t <- 1 to 20; j <- 1 to t }
      yield ("ramp", new Timestamp(base + t * 3600000L), (t * 100 + j).toLong)
    val got = TimeWindows.holtOf(rows.toDF("event_type", "ts", "event_id"))
      .collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(1) == 20L, s"n_hours: $r")
    assert(r.getDouble(2) == 20.0, s"level must be the last value: $r")
    assert(r.getDouble(3) == 1.0, s"trend must be the slope: $r")
    assert(r.getDouble(4) == 44.0, s"24h projection rides the line: $r")
  }

  test("sql_q3: the raw-SQL join compiles to a TakeOrdered top-k, never a global sort") {
    val df = Relational.sqlQ3(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(df.count() <= 10)
  }

  test("curate_kanon: every released group clears k; mass is conserved") {
    val dir = "/root/testdata/sf0.001"
    val got = Curation.curateKanon(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val (supp, pub) = got.partition(r => r._1 == "*")
    assert(pub.forall(_._3 >= Curation.kAnonK),
      s"released groups must clear k: ${pub.toSeq}")
    assert(pub.forall(_._4 == 1L), "released groups stay at full fidelity")
    assert(supp.length <= 1, "all suppressed mass folds into one bucket")
    // a suppressed bucket only exists if some group was < k, and then every
    // contributing group was
    supp.headOption.foreach { s =>
      assert(s._2 == "*" && s._3 < s._4 * Curation.kAnonK,
        s"suppressed bucket must be built from sub-k groups: $s")
    }
    val total = spark.read.parquet(s"$dir/customer.parquet").count()
    assert(got.map(_._3).sum == total, "k-anonymization must conserve rows")
  }

  test("dq_recon: statuses tie out against the drift rules; checksum flags exactly the divergence") {
    val dir = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val n = ev.count()
    val recon = DataQuality.dqRecon(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // the synthetic drift is replayable row arithmetic: every %97 key is
    // only_a, every %101 clone is only_b, every surviving %31 key with a
    // NON-NULL value is changed (null + 1.0 stays null -> same)
    import org.apache.spark.sql.functions.col
    val dropped = ev.filter(col("event_id") % 97 === 0).count()
    val cloned = ev.filter(col("event_id") % 101 === 0).count()
    val changed = ev.filter(col("event_id") % 31 === 0 &&
      col("event_id") % 97 =!= 0 && col("value").isNotNull).count()
    assert(recon.getOrElse("only_a", 0L) == dropped, s"$recon vs $dropped")
    assert(recon.getOrElse("only_b", 0L) == cloned, s"$recon vs $cloned")
    assert(recon.getOrElse("changed", 0L) == changed, s"$recon vs $changed")
    // |A ∪ B| by key: every A key appears (dropped ones as only_a) plus
    // the clones' fresh ids
    assert(recon.values.sum == n + cloned, s"$recon must cover A∪B")
    // checksum: identical input -> identical frame; any single-row change
    // must flip exactly that day's checksum and nothing else
    val c1 = DataQuality.dqChecksum(spark, dir).collect()
    val c2 = DataQuality.dqChecksum(spark, dir).collect()
    assert(c1.toSeq == c2.toSeq, "checksum must be deterministic")
  }

  test("ts_periodicity: pre-1970 days keep the weekday selector exact (pmod edge)") {
    import spark.implicits._
    import java.sql.Timestamp
    // day -700..-673: datediff from 1970-01-01 is NEGATIVE, so a truncating
    // `% 7` would scramble the weekday classes; pmod must keep the pure
    // weekly sinusoid's power at ~1 exactly as it does post-1970 (the
    // formerly-latent oracle edge, fixed in r13 — this pins it)
    def day(i: Int) = new Timestamp(86400000L * (-700 + i))
    val ev = (0 until 28).flatMap { d =>
      Seq(
        ("weekly", day(d), 100.0 + 50.0 * math.cos(2 * math.Pi * d / 7)),
        ("alt", day(d), if (d % 2 == 0) 50.0 else 150.0))
    }.toDF("event_type", "ts", "value")
    val got = TimeWindows.periodicityOf(ev).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("weekly") > 0.95, s"pre-epoch weekly cycle lost power: $got")
    assert(got("alt") < 0.1, s"pre-epoch period-2 gained weekly power: $got")
  }

  test("session_depth: buckets partition the window_session count exactly") {
    val sessions = TimeWindows.windowSession(spark, dir)
    val total = sessions.count()
    val got = TimeWindows.sessionDepth(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // buckets are disjoint + exhaustive over the SAME session definition
    assert(got.map(_._3).sum == total,
      s"buckets must partition the session count: ${got.toSeq} vs $total")
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
    val labels = got.map(t => t._1 -> t._2).toMap
    assert(Set(1 -> "1", 2 -> "2", 3 -> "3-5", 4 -> "6-10", 5 -> "11+")
      .filter(kv => labels.contains(kv._1)).forall(kv => labels(kv._1) == kv._2),
      s"$labels")
    // permilles from the emitted counts, never > 1000 in total
    got.foreach { case (_, _, n, pm) => assert(pm == n * 1000 / total) }
    // depth-1 sessions dominate nothing structurally — just sanity > 0
    assert(got.map(_._3).forall(_ > 0L) || got.nonEmpty)
  }

  test("dq_conformance: a planted violation of each rule is counted once") {
    import spark.implicits._
    val base = 1700006400000L
    def t(i: Int) = new java.sql.Timestamp(base + i * 1000L)
    val rows = Seq(
      (1L, t(0), 10L, "click", 5.0, """{"k":1}"""),      // clean
      (2L, t(1), 11L, "bogus", 5.0, """{"k":1}"""),      // unknown type
      (3L, t(2), 12L, "view", -1.0, """{"k":1}"""),      // negative value
      (4L, t(3), 0L, "view", 5.0, """{"k":1}"""),        // user_id 0
      (5L, t(4), 13L, "view", 5.0, "not-json"),          // malformed props
      (6L, new java.sql.Timestamp(949363200000L),        // year 2000
        14L, "view", 5.0, """{"k":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = DataQuality.conformanceOf(rows).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "event_type_known" -> ((6L, 1L)), "props_json_object" -> ((6L, 1L)),
      "ts_in_range" -> ((6L, 1L)), "user_id_positive" -> ((6L, 1L)),
      "value_nonneg" -> ((6L, 1L))), s"$got")
  }

  test("text_burstiness: clumped term has Fano >> 1, evenly spread term ~ Poisson") {
    import spark.implicits._
    // 10 docs; 'even' once in every doc (variance 0 -> fano 0);
    // 'clump' 10 times in ONE doc (tf 10, sc2 100, N 10 ->
    // (10*100 - 100) / (10*10) = 9.0)
    val docs = (0 until 10).map { i =>
      val words = if (i == 0) Seq.fill(10)("clump") ++ Seq("even")
        else Seq("even")
      (i.toLong, words.mkString(" "), "en", "s", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = tempDir("burst")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.textBurstiness(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got("even") == ((10L, 10L, 0.0)), s"$got")
    assert(got("clump") == ((10L, 1L, 9.0)), s"$got")
  }

  test("win_heatmap: arithmetic weekday (0=Sunday), exact cells and permilles") {
    import spark.implicits._
    // epoch day 0 = Thursday 1970-01-01 -> dow (0+4)%7 = 4;
    // epoch day 3 = Sunday -> dow 0. Pre-1970 day -7 is also Thursday.
    def t(day: Long, hour: Int) =
      new java.sql.Timestamp(day * 86400000L + hour * 3600000L)
    val ev = (Seq.fill(3)((1L, t(0, 0), 10L, "click", 1.0, "{}")) ++
      Seq((2L, t(3, 23), 11L, "view", 1.0, "{}"),
        (3L, t(-7, 5), 12L, "view", 1.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = tempDir("heat")
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = TimeWindows.winHeatmap(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      (4L, 0L) -> ((3L, 600L)),   // Thursday 00h: 3 of 5 events
      (0L, 23L) -> ((1L, 200L)),  // Sunday 23h
      (4L, 5L) -> ((1L, 200L))),  // pre-epoch Thursday via pmod
      s"$got")
  }

  test("tok_oov: mass outside the deterministic top-1000 vocab, per source") {
    import spark.implicits._
    // 1200 singleton tokens w0000..w1199 (sources a: first 600, b: rest)
    // plus 'common' x3 in a. Vocab = top-1000 by (freq desc, token asc)
    // = {common, w0000..w0998} -> OOV mass = w0999..w1199, all in b
    val docs = ((0 until 1200).map { i =>
      val src = if (i < 600) "a" else "b"
      (i.toLong, f"w$i%04d", "en", src, 5L)
    } :+ (9999L, "common common common", "en", "a", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = tempDir("oov")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.tokOov(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got("a") == ((603L, 0L, 0L)), s"$got")
    assert(got("b") == ((600L, 201L, 335L)), s"$got")
  }

  test("dq_benford: sub-cent rows leave both the frame and the denominator") {
    import spark.implicits._
    // 0.004 rounds to 0 cents (digit 0 — outside the 1..9 frame, dropped);
    // 0.005 HALF_UPs to 1 cent; negatives and zero are out via value > 0
    val vals = Seq(0.004, 0.005, 0.01, 1.23, 9.99, 0.0, -5.0)
      .toDF("price")
    val digits = DataQuality.benfordDigits(vals, "price")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(digits == Seq(1, 1, 1, 9),
      s"sub-cent/zero/negative filtering drifted: $digits")
  }

  test("dq_benford: division-chain leading digit equals the string form at every magnitude") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, StringType}
    // every leading digit at every cents magnitude the decimal(18,2) cast
    // admits, each with three offsets (low edge, interior, high edge of
    // the digit's band); the probe prices are cents/100, and BOTH paths
    // consume the identical cents expression, so any double-representation
    // drift on the way in cancels out of the comparison
    val longs: Seq[Long] = for {
      k <- 0 to 15; d <- 1L to 9L
      p = math.pow(10, k).toLong
      c <- Seq(d * p, d * p + p / 3, d * p + p - 1)
    } yield c
    val df = longs.map(c => c / 100.0).toDF("price")
    val got = DataQuality.benfordDigits(df, "price")
      .collect().map(_.getInt(0)).sorted.toSeq
    val cents = (col("price").cast(DecimalType(18, 2)) * 100).cast(LongType)
    val want = df.where(col("price") > 0)
      .select(substring(cents.cast(StringType), 1, 1)
        .cast(IntegerType).as("digit"))
      .where(col("digit") >= 1)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == want, s"digit chain diverged from the string form")
  }

  test("ts_hampel: med5 network equals the sort-based median for every order type") {
    import spark.implicits._
    // exhaustive over a 5-symbol alphabet: min/max networks are monotone,
    // so these 3125 tuples cover every order type with ties — the general
    // case follows (the 0-1-principle argument for selection networks)
    val tuples = for {
      a <- 0L to 4L; b <- 0L to 4L; c <- 0L to 4L; d <- 0L to 4L; e <- 0L to 4L
    } yield (a, b, c, d, e)
    val df = tuples.toDF("a", "b", "c", "d", "e")
    val bad = df.select(
        TimeWindows.med5(col("a"), col("b"), col("c"), col("d"), col("e"))
          .as("net"),
        expr("element_at(array_sort(array(a, b, c, d, e)), 3)").as("ref"))
      .filter(col("net") =!= col("ref")).count()
    assert(bad == 0L, s"$bad of ${tuples.size} tuples diverged")
  }
}
