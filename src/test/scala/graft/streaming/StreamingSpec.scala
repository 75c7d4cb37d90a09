package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.SparkSpec
import graft.normalize.{Fixtures, Normalizers}

/** End-to-end Structured Streaming specs: file-tail ingest (the Hyperliquid
  * adapter's backfill+tail), watermark-bounded dedup across micro-batches,
  * the quarantine split, and the streaming twins of the batch queries. */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String) = graft.ops.tempDir(prefix)

  test("file-tail stream: backfill + new-file rollover, dedup across batches") {
    val root = tmp("hl_root")
    val outDir = tmp("hl_out")
    val ckpt = tmp("hl_ckpt")
    // phase 1 backfill: first two fixture lines already present
    Files.write(java.nio.file.Paths.get(s"$root/hour1.json"),
      Fixtures.hyperliquid.take(2).mkString("", "\n", "\n").getBytes)

    val unified = StreamAssembly.hyperliquidNormalizedStream(
      StreamAssembly.hyperliquidFileStream(spark, root))
    val q = unified.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()
    q.awaitTermination(60000)

    val afterBackfill = spark.read.parquet(outDir).count()
    assert(afterBackfill == 1)    // line 1 has the only self-liq fill; line 2 mismatch

    // phase 2 "tail": a new hour file arrives containing a duplicate of the
    // line-1 fill (same tid|user|coin) plus the rest of the fixtures
    Files.write(java.nio.file.Paths.get(s"$root/hour2.json"),
      Fixtures.hyperliquid.drop(2).mkString("", "\n", "\n").getBytes)
    val q2 = unified.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()
    q2.awaitTermination(60000)

    val out = spark.read.parquet(outDir)
    // dup suppressed by dropDuplicatesWithinWatermark state across batches
    assert(out.count() == 3)
    assert(out.select("symbol").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("DOGEUSDC", "ETHUSDC", "SOLUSDC"))
  }

  test("quarantine split: invalid rows carry a reason, nothing is ever dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val goodDir = tmp("q_good"); val badDir = tmp("q_bad"); val ckpt = tmp("q_ckpt")
    val mem = MemoryStream[String]
    def ev(sym: String, qty: String, px: String, i: Int) =
      s"""{"e":"forceOrder","E":${1710000000000L + i},"o":{"s":"$sym","S":"SELL","q":"$qty","p":"$px","l":"$qty","T":${1710000000000L + i}}}"""
    // 3 valid fills + one zero-qty + one negative-price — two dead-letter
    // classes that SURVIVE the normalizer's parse tolerance (an unparsable
    // price is already dropped there; the quarantine guards domain
    // violations the parser can't see)
    mem.addData(ev("BTCUSDT", "1", "100", 1), ev("ETHUSDT", "2", "50", 2),
      ev("BTCUSDT", "3", "99", 3), ev("DOGEUSDT", "0", "1", 4),
      ev("SOLUSDT", "1", "-5", 5))
    val unified = Normalizers.binance(
      mem.toDF().withColumnRenamed("value", "raw"), "usdt")
    val valid = col("qty") > 0.0 && col("price") > 0.0
    val q = StreamAssembly.quarantineSinks(unified, goodDir, badDir, ckpt,
      valid,
      org.apache.spark.sql.functions.when(!(col("qty") > 0.0), "nonpositive_qty")
        .otherwise("bad_price"),
      triggerMs = 100L)
    try q.processAllAvailable() finally q.stop()
    val good = spark.read.parquet(goodDir)
    val bad = spark.read.parquet(badDir)
    assert(good.count() == 3, s"good=${good.count()}")
    assert(bad.count() == 2, s"bad=${bad.count()}")
    // conservation: good ∪ quarantined = input
    assert(good.count() + bad.count() == 5)
    val reasons = bad.select("symbol", "reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reasons("DOGEUSDT") == "nonpositive_qty")
    assert(reasons("SOLUSDT") == "bad_price")
  }

  test("stream-stream interval join: long->short flips within a minute per symbol") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val unified = Normalizers.binance(mem.toDF().withColumnRenamed("value", "raw"), "usdt")
    val joined = StreamAssembly.flipJoin(unified)
    val q = joined.writeStream.format("memory").queryName("flips")
      .outputMode("append").start()
    try {
      // BTCUSDT: long at t0, short 30s later (match), short 2min later (no match)
      def ev(sym: String, side: String, ts: Long) = {
        val s = if (side == "long") "SELL" else "BUY"
        s"""{"e":"forceOrder","E":$ts,"o":{"s":"$sym","S":"$s","q":"1","p":"100","l":"1","T":$ts}}"""
      }
      mem.addData(
        ev("BTCUSDT", "long", 1710000000000L),
        ev("BTCUSDT", "short", 1710000030000L),
        ev("BTCUSDT", "short", 1710000180000L),
        ev("ETHUSDT", "short", 1710000030000L)) // different symbol: no match
      q.processAllAvailable()
      // advance both watermarks past everything to flush join state
      mem.addData(ev("ZZZUSDT", "long", 1710009999000L),
        ev("ZZZUSDT", "short", 1710009999000L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT l_symbol, s_ts FROM flips").collect()
      val btc = rows.filter(_.getString(0) == "BTCUSDT")
      assert(btc.length == 1)  // only the 30s-later short joins the long
    } finally q.stop()
  }

  test("left-outer interval join: unmatched long emits exactly once, only after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val unified = Normalizers.binance(mem.toDF().withColumnRenamed("value", "raw"), "usdt")
    val joined = StreamAssembly.flipJoinOuter(unified)
    val q = joined.writeStream.format("memory").queryName("flips_outer")
      .outputMode("append").start()
    try {
      def ev(sym: String, side: String, ts: Long) = {
        val s = if (side == "long") "SELL" else "BUY"
        s"""{"e":"forceOrder","E":$ts,"o":{"s":"$sym","S":"$s","q":"1","p":"100","l":"1","T":$ts}}"""
      }
      // BTC long with NO short inside its minute; ETH short can't match it
      mem.addData(
        ev("BTCUSDT", "long", 1710000000000L),
        ev("ETHUSDT", "short", 1710000030000L))
      q.processAllAvailable()
      def btcRows() = spark.sql(
        "SELECT s_symbol FROM flips_outer WHERE l_symbol = 'BTCUSDT'").collect()
      // watermark (30s - 2min delay) hasn't passed t0+1min: no emission yet
      assert(btcRows().isEmpty,
        "outer row must not emit while a match could still arrive")
      // advance BOTH sides' watermarks far past interval end + delay
      Seq(1710000600000L, 1710001200000L).foreach { t =>
        mem.addData(ev("ZZZUSDT", "long", t), ev("ZZZUSDT", "short", t))
        q.processAllAvailable()
      }
      val btc = btcRows()
      assert(btc.length == 1, s"expected exactly one outer emission, got ${btc.length}")
      assert(btc.head.isNullAt(0), "unmatched long must carry null short columns")
    } finally q.stop()
  }

  test("full-outer interval join: both unmatched sides emit null-padded, exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val unified = Normalizers.binance(mem.toDF().withColumnRenamed("value", "raw"), "usdt")
    val joined = StreamAssembly.flipJoinFullOuter(unified)
    val q = joined.writeStream.format("memory").queryName("flips_full")
      .outputMode("append").start()
    try {
      def ev(sym: String, side: String, ts: Long) = {
        val s = if (side == "long") "SELL" else "BUY"
        s"""{"e":"forceOrder","E":$ts,"o":{"s":"$sym","S":"$s","q":"1","p":"100","l":"1","T":$ts}}"""
      }
      // BTC long with no short; SOL short with no long; ETH matched pair
      mem.addData(
        ev("BTCUSDT", "long", 1710000000000L),
        ev("SOLUSDT", "short", 1710000010000L),
        ev("ETHUSDT", "long", 1710000000000L),
        ev("ETHUSDT", "short", 1710000020000L))
      q.processAllAvailable()
      // push both watermarks far past every interval end + delay
      Seq(1710000600000L, 1710001200000L).foreach { t =>
        mem.addData(ev("ZZZUSDT", "long", t), ev("ZZZUSDT", "short", t))
        q.processAllAvailable()
      }
      val rows = spark.sql(
        """SELECT l_symbol, s_symbol FROM flips_full
           WHERE 'BTCUSDT' IN (l_symbol, s_symbol)
              OR 'SOLUSDT' IN (l_symbol, s_symbol)
              OR 'ETHUSDT' IN (l_symbol, s_symbol)""").collect()
      val btc = rows.filter(r => !r.isNullAt(0) && r.getString(0) == "BTCUSDT")
      val sol = rows.filter(r => !r.isNullAt(1) && r.getString(1) == "SOLUSDT")
      val eth = rows.filter(r => !r.isNullAt(0) && r.getString(0) == "ETHUSDT")
      assert(btc.length == 1 && btc.head.isNullAt(1),
        s"unmatched long: want one null-short row, got ${btc.toSeq}")
      assert(sol.length == 1 && sol.head.isNullAt(0),
        s"unmatched short: want one null-long row, got ${sol.toSeq}")
      assert(eth.length == 1 && !eth.head.isNullAt(1),
        s"matched pair must emit exactly once, joined: ${eth.toSeq}")
    } finally q.stop()
  }

  test("flatMapGroupsWithState: cascade detector fires at threshold then resets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val unified = Normalizers.binance(mem.toDF().withColumnRenamed("value", "raw"), "usdt")
    val alerts = StreamAssembly.cascadeAlerts(unified, threshold = 3)
    val q = alerts.toDF().writeStream.format("memory").queryName("cascades")
      .outputMode("append").start()
    try {
      def ev(sym: String, i: Int) =
        s"""{"e":"forceOrder","E":${1710000000000L + i * 1000},"o":{"s":"$sym","S":"SELL","q":"1","p":"100","l":"1","T":${1710000000000L + i * 1000}}}"""
      // 7 BTC events -> alerts at the 3rd and 6th; 2 ETH events -> none
      mem.addData((1 to 7).map(i => ev("BTCUSDT", i)) ++ Seq(ev("ETHUSDT", 1), ev("ETHUSDT", 2)): _*)
      q.processAllAvailable()
      val rows = spark.sql("SELECT symbol, count FROM cascades").collect()
      assert(rows.count(_.getString(0) == "BTCUSDT") == 2)
      assert(rows.forall(_.getLong(1) == 3))
      assert(!rows.exists(_.getString(0) == "ETHUSDT"))
    } finally q.stop()
  }

  test("cascade detector: a reversed micro-batch gives the in-order alerts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1710000000000L
    // prices differ per event, so an arrival-order fold would move the
    // alert sums as well as firstTsMs/lastTsMs
    def ev(i: Int) =
      s"""{"e":"forceOrder","E":${t0 + i * 1000},"o":{"s":"BTCUSDT","S":"SELL","q":"1","p":"${100 + i}","l":"1","T":${t0 + i * 1000}}}"""
    def alerts(name: String, feed: Seq[String]) = {
      val mem = MemoryStream[String]
      val unified = Normalizers.binance(mem.toDF().withColumnRenamed("value", "raw"), "usdt")
      val q = StreamAssembly.cascadeAlerts(unified, threshold = 3).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        mem.addData(feed: _*); q.processAllAvailable()
        spark.sql(s"SELECT * FROM $name").collect().map(_.toSeq.toList).toSet
      } finally q.stop()
    }
    val events = (1 to 7).map(ev)
    val inOrder = alerts("cascades_in_order", events)
    assert(inOrder == Set(
      List("BTCUSDT", 3L, 306.0, t0 + 1000L, t0 + 3000L),
      List("BTCUSDT", 3L, 315.0, t0 + 4000L, t0 + 6000L)), inOrder)
    val reversed = alerts("cascades_reversed", events.reverse)
    assert(reversed == inOrder, s"arrival order moved the alerts: $reversed")
  }

  test("cascade detector: a symbol idle past its 30-minute horizon starts over") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1710000000000L
    def ev(sym: String, ms: Long) =
      s"""{"e":"forceOrder","E":$ms,"o":{"s":"$sym","S":"SELL","q":"1","p":"100","l":"1","T":$ms}}"""
    val mem = MemoryStream[String]
    val unified = Normalizers.binance(mem.toDF().withColumnRenamed("value", "raw"), "usdt")
    val q = StreamAssembly.cascadeAlerts(unified, threshold = 3).toDF()
      .writeStream.format("memory").queryName("cascade_expiry")
      .outputMode("append").start()
    def stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    try {
      mem.addData(ev("BTCUSDT", t0), ev("BTCUSDT", t0 + 1000L))
      q.processAllAvailable()
      assert(stateRows == 1)
      // another symbol moves the watermark (10-minute delay) to 35 minutes
      // past BTC's last event: BTC's 30-minute horizon has passed
      mem.addData(ev("ETHUSDT", t0 + 1000L + 45L * 60000L))
      q.processAllAvailable()
      assert(stateRows == 1, "the idle BTC key outlived its horizon")
      // a third BTC event inside the watermark counts from one again
      mem.addData(ev("BTCUSDT", t0 + 1000L + 40L * 60000L))
      q.processAllAvailable()
      assert(stateRows == 2)
      val fired = spark.sql("SELECT * FROM cascade_expiry").collect()
      assert(fired.isEmpty, s"an expired count carried over: ${fired.toSeq}")
    } finally q.stop()
  }

  test("per-event detectors: a row older than the watermark neither emits nor moves later verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1710000000000L
    // one row a minute around 100.00, a spike at 40 and 100, and a level
    // shift to 200.00 from row 81: every detector has verdicts to move
    def row(i: Int) = ("k", i.toLong, new java.sql.Timestamp(t0 + i * 60000L),
      if (i == 40 || i == 100) 500.0
      else if (i <= 80) 100.0 + (i % 5) * 0.25 else 200.0 + (i % 5) * 0.25)
    // by the late row's batch the watermark is past t0 + 50 min; the late
    // row at t0 (huge, so any detector that applied it would react) sits
    // below it
    val late = ("k", 999L, new java.sql.Timestamp(t0), 5000.0)
    val phases = Seq((1 to 60).map(row), (61 to 62).map(row), Seq(late),
      (63 to 120).map(row))
    val clean = (1 to 120).map(row).toDF("event_type", "event_id", "ts", "value")
    val family: Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      ("anomaly", StreamAssembly.anomalyStream(_), StreamAssembly.anomalyAgg(_)),
      ("cusum", StreamAssembly.cusumStream(_), StreamAssembly.cusumAgg(_)),
      ("hampel", StreamAssembly.hampelStream(_),
        graft.ops.TimeWindows.hampelFlags(_)))
    family.foreach { case (name, stream, batch) =>
      val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
      val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
      val q = stream(events).writeStream.format("memory")
        .queryName(s"late_$name").outputMode("append").start()
      try {
        phases.foreach { p => mem.addData(p); q.processAllAvailable() }
        val got = spark.sql(s"SELECT * FROM late_$name").collect()
          .map(_.toSeq.toList).toSet
        val want = batch(clean).collect().map(_.toSeq.toList).toSet
        assert(want.nonEmpty, s"$name: the clean feed raises nothing")
        assert(got == want, s"$name: the late row moved the verdicts:\n " +
          s"stream-only: ${got diff want}\n batch-only: ${want diff got}")
      } finally q.stop()
    }
  }

  test("transformWithState: VWAP state survives across batches AND restarts") {
    // TTL off (see the VwapProcessor caveat: the TTL sweep re-batches
    // forever, which only makes sense on a real ProcessingTime trigger).
    // Each phase runs Trigger.AvailableNow to completion and the second
    // phase REUSES the checkpoint: the assertion proves the ValueState came
    // back from RocksDB across a full query restart, not just across
    // micro-batches.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = StreamAssembly.useRocksDbStateStore(spark) // tws requires RocksDB
    try {
      val root = tmp("vwap_src"); val outDir = tmp("vwap_out"); val ckpt = tmp("vwap_ckpt")
      def ev(sym: String, qty: Int, px: Int) =
        s"""{"e":"forceOrder","E":1710000000000,"o":{"s":"$sym","S":"SELL","q":"$qty","p":"$px","l":"$qty","T":1710000000000}}"""
      def runOnce(): Unit = {
        val raw = spark.readStream.format("text").load(root)
          .withColumnRenamed("value", "raw")
        val q = StreamAssembly.vwapUpdates(Normalizers.binance(raw, "usdt"))
          .toDF().writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .format("parquet").option("path", outDir)
          .start()
        q.awaitTermination(120000)
      }
      // phase 1: BTC 1@100 + 3@200 -> vwap 175
      Files.write(java.nio.file.Paths.get(s"$root/b1.txt"),
        (ev("BTCUSDT", 1, 100) + "\n" + ev("BTCUSDT", 3, 200) + "\n").getBytes)
      runOnce()
      // phase 2 (fresh query, same checkpoint): +4@50 -> running vwap 112.5
      Files.write(java.nio.file.Paths.get(s"$root/b2.txt"),
        (ev("BTCUSDT", 4, 50) + "\n").getBytes)
      runOnce()
      val rows = spark.read.parquet(outDir)
        .select("n", "vwap").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(rows == Seq((2L, 175.0), (3L, 112.5)), s"got $rows")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dead-letter metrics: parse drops are observable, the stream continues") {
    val root = tmp("hl_dead"); val outDir = tmp("hl_dead_out"); val ckpt = tmp("hl_dead_ckpt")
    // one good line + one malformed line that passes the substring prefilter
    // but fails the JSON parse (the reference's log-and-skip case,
    // hyperliquid_adapter.py:167-170)
    Files.write(java.nio.file.Paths.get(s"$root/hour1.json"),
      (Fixtures.hyperliquid.head + "\n" + """{"liquidation": broken""" + "\n").getBytes)
    val unified = StreamAssembly.hyperliquidNormalizedStream(
      StreamAssembly.hyperliquidFileStream(spark, root))
    val q = unified.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", outDir)
      .start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(outDir).count() == 1) // good line survived
    // sum across micro-batches (the trailing AvailableNow batch is empty)
    val rows = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("hl_parse")))
    assert(rows.nonEmpty, "hl_parse metrics not observed")
    assert(rows.map(_.getAs[Long]("lines")).sum == 2)
    assert(rows.map(_.getAs[Long]("dead_letters")).sum == 1)
  }

  test("RocksDB state store: stateful dedup runs unchanged on the scale provider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = StreamAssembly.useRocksDbStateStore(spark)
    try {
      // same file-tail + watermark-dedup pipeline as the default-provider
      // test above — the state (dedup keys) now lives in RocksDB
      val root = tmp("hl_rocks"); val outDir = tmp("hl_rocks_out"); val ckpt = tmp("hl_rocks_ckpt")
      Files.write(java.nio.file.Paths.get(s"$root/hour1.json"),
        Fixtures.hyperliquid.mkString("", "\n", "\n").getBytes)
      val unified = StreamAssembly.hyperliquidNormalizedStream(
        StreamAssembly.hyperliquidFileStream(spark, root))
      val q = unified.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", outDir)
        .start()
      q.awaitTermination(60000)
      // identical output to the default provider: 3 unique fills survive dedup
      val out = spark.read.parquet(outDir)
      assert(out.count() == 3)
      assert(out.select("symbol").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("DOGEUSDC", "ETHUSDC", "SOLUSDC"))
      // the state operator really ran on RocksDB, not the default HDFS map
      val sp = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
        .lastProgress.stateOperators
      assert(sp.nonEmpty)
      assert(sp.head.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")),
        s"no rocksdb metrics in ${sp.head.customMetrics.keySet}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming dashboard: windowed notional aggregate emits after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val unified = Normalizers.binance(mem.toDF().withColumnRenamed("value", "raw"), "usdt")
    val dash = StreamAssembly.notionalDashboard(unified, watermark = "1 minute")
    val q = dash.writeStream.format("memory").queryName("dash")
      .outputMode("append").start()
    try {
      mem.addData(Fixtures.binance: _*)
      q.processAllAvailable()
      // push the watermark far past the fixture event times to close windows
      mem.addData("""{"e":"forceOrder","E":1710999999000,"o":{"s":"ZZZUSDT","S":"SELL","q":"1","p":"1","l":"1","T":1710999999000}}""")
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM dash").collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getLong(3) >= 1))  // cnt per (minute, exchange, symbol)
    } finally q.stop()
  }

  test("stream-static enrichment: dim metadata joins in-flight, misses pass through") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val unified = Normalizers.binance(mem.toDF().withColumnRenamed("value", "raw"), "usdt")
    val dim = Seq(("binance", "BTCUSDT", "majors"), ("binance", "ETHUSDT", "majors"))
      .toDF("exchange", "symbol", "tier")
    val q = StreamAssembly.enrichJoin(unified, dim)
      .select("symbol", "tier")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      mem.addData(Fixtures.binance: _*)
      q.processAllAvailable()
      val rows = spark.sql("SELECT symbol, tier FROM enriched").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(rows("BTCUSDT").contains("majors"))
      // fixtures carry symbols beyond the dim — they must survive with null
      val misses = rows.filterNot { case (s, _) => s == "BTCUSDT" || s == "ETHUSDT" }
      assert(misses.nonEmpty && misses.values.forall(_.isEmpty))
    } finally q.stop()
  }

  test("streaming dedup probe: stream flags exactly the docs the batch probe flags") {
    // the online ingest filter: the %5==0 slice of the real sf0.001
    // documents arrives as a 3-micro-batch stream and is probed against
    // the band index of the REST of the corpus; the flagged set must equal
    // the batch formulation's (computed inner-join+distinct — an
    // independent plan over the same index), and carry no duplicate flags
    // even though a doc can match in up to 4 bands across batches
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ops.table(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val fresh = docs.filter(_._1 % 5 == 0)
    val storedIdx = graft.ops.DedupOps.bandIndexOldSlice(spark, dir)
    val mem = MemoryStream[(Long, String)]
    val q = graft.ops.DedupOps.dedupStreamProbe(
        mem.toDF().toDF("doc_id", "text"), storedIdx)
      .writeStream.format("memory").queryName("dedup_probe_stream")
      .outputMode("append").start()
    try {
      fresh.grouped(math.max(1, fresh.length / 3)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val flagged = spark.table("dedup_probe_stream")
        .collect().map(_.getLong(0)).toSeq
      assert(flagged.distinct.size == flagged.size, "duplicate flags emitted")
      val expected = graft.ops.DedupOps.streamProbeExpected(spark, dir)
        .collect().map(_.getLong(0)).toSet
      assert(flagged.toSet == expected,
        s"stream/batch flag sets diverged: stream-only=${flagged.toSet -- expected} batch-only=${expected -- flagged.toSet}")
      assert(expected.nonEmpty, "no duplicates in fixture - parity is vacuous")
    } finally q.stop()
  }

  test("streaming dedup probe: checkpoint restart neither loses nor re-flags docs") {
    // the ingest filter's exactly-once claim, measured across a real
    // stop/restart: day-1 files are drained to completion (AvailableNow,
    // one file per micro-batch), the query STOPS, day-2 files arrive, and
    // a restarted query with the same checkpoint must process only the new
    // files — the final flagged set equals the batch formulation's over
    // the whole corpus, with no doc flagged twice across the restart
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val docsDir = tmp("dedup_probe_docs")
    val outDir = tmp("dedup_probe_out")
    val ckpt = tmp("dedup_probe_ckpt")
    // day split is constructed, not sampled: day 2 MUST contain at least
    // one doc the batch formulation flags, or the progress assertion
    // below would report a phantom regression on a regenerated corpus
    // whose few near-dups all landed day-1 by chance
    val expected = graft.ops.DedupOps.streamProbeExpected(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(expected.size >= 2, "fixture has <2 near-dup docs - split is degenerate")
    val freshRows = graft.ops.table(spark, dir, "documents")
      .select("doc_id", "text").filter(col("doc_id") % 5 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (flaggedRows, plainRows) = freshRows.partition(r => expected(r._1))
    import spark.implicits._
    // half the flagged docs (at least one) and half the rest per day
    val day1 = (flaggedRows.take(flaggedRows.length / 2) ++
      plainRows.take(plainRows.length / 2)).toSeq.toDF("doc_id", "text")
    val day2 = (flaggedRows.drop(flaggedRows.length / 2) ++
      plainRows.drop(plainRows.length / 2)).toSeq.toDF("doc_id", "text")
    val storedIdx = graft.ops.DedupOps.bandIndexOldSlice(spark, dir)
    def drain(): Unit = {
      val sch = spark.read.parquet(docsDir).schema
      val q = graft.ops.DedupOps.dedupStreamProbe(
          spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1").parquet(docsDir),
          storedIdx)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", outDir).start()
      assert(q.awaitTermination(120000),
        "AvailableNow drain timed out - query still running")
    }
    day1.repartition(3).write.mode("append").parquet(docsDir)
    drain()
    val afterDay1 = spark.read.parquet(outDir).count()
    day2.repartition(3).write.mode("append").parquet(docsDir)
    drain()
    val flagged = spark.read.parquet(outDir)
      .collect().map(_.getLong(0)).toSeq
    assert(flagged.size > afterDay1, "restart processed no new files")
    assert(flagged.distinct.size == flagged.size,
      "a doc was re-flagged across the restart")
    assert(flagged.toSet == expected,
      s"restart lost or invented flags: missing=${expected -- flagged.toSet} extra=${flagged.toSet -- expected}")
  }

  test("streaming candles: batch and stream emit identical OHLCV per closed hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (event_id, ts, event_type, value): two fills in hour 10, an OUT-OF-ORDER
    // third fill arriving late but inside the watermark, one fill in hour 11
    val h10 = java.sql.Timestamp.valueOf("2024-03-01 10:00:05")
    val h10b = java.sql.Timestamp.valueOf("2024-03-01 10:59:59")
    val h10late = java.sql.Timestamp.valueOf("2024-03-01 10:30:00")
    val h11 = java.sql.Timestamp.valueOf("2024-03-01 11:00:01")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = graft.ops.TimeWindows.candlesStream(events, watermark = "30 minutes")
      .writeStream.format("memory").queryName("candles_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, h10, "liq", 100.0), (2L, h10b, "liq", 50.0))
      q.processAllAvailable()
      mem.addData((3L, h10late, "liq", 200.0), (4L, h11, "liq", 75.0))
      q.processAllAvailable()
      // advance the watermark far past hour 11 so both candles close
      mem.addData((9L, java.sql.Timestamp.valueOf("2024-03-01 23:00:00"), "zz", 1.0))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT hour, open, high, low, close, cnt, volume
           FROM candles_stream WHERE event_type = 'liq' ORDER BY hour""").collect()
      assert(got.length == 2, got.mkString("; "))
      // hour 10: open=first fill (100), close=last-by-ts (50), late 200 is high
      assert(got(0).getString(0) == "2024-03-01 10:00:00.000000")
      assert((got(0).getDouble(1), got(0).getDouble(2), got(0).getDouble(3),
        got(0).getDouble(4), got(0).getLong(5), got(0).getDouble(6)) ==
        ((100.0, 200.0, 50.0, 50.0, 3L, 350.0)))
      assert((got(1).getDouble(1), got(1).getLong(5)) == ((75.0, 1L)))
    } finally q.stop()
  }

  test("streaming drift monitor: JSD per closed hour, exact zero on the baseline mix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // hour 10 replays the baseline mix EXACTLY (20 events at the profile's
    // proportions) → p == q → every JSD term is p·log2(1) = 0.0, exactly;
    // hour 11 is all-error plus an off-profile type → heavy drift
    val baselineMix = StreamAssembly.driftBaseline.flatMap { case (t, q) =>
      Seq.fill((q * 20).round.toInt)(t)
    }
    val h10 = baselineMix.zipWithIndex.map { case (t, i) =>
      (i.toLong, ts(f"2024-03-01 10:00:${i % 60}%02d"), t, 1.0)
    }
    val h11 = Seq(
      (100L, ts("2024-03-01 11:00:01"), "error", 1.0),
      (101L, ts("2024-03-01 11:00:02"), "error", 1.0),
      (102L, ts("2024-03-01 11:00:03"), "gift_card", 1.0)) // off-profile
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamAssembly.driftStream(events)
      .writeStream.format("memory").queryName("drift_stream")
      .outputMode("append").start()
    try {
      mem.addData(h10); q.processAllAvailable()
      mem.addData(h11); q.processAllAvailable()
      // advance the watermark far past hour 11 so both hours close
      mem.addData((999L, ts("2024-03-01 23:00:00"), "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("drift_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      assert(got.length == 2, got.mkString("; "))
      assert(got(0)._2 == 20L && got(0)._3 == 0.0,
        s"baseline-mix hour must score exactly zero drift: ${got(0)}")
      assert(got(1)._2 == 3L && got(1)._3 > 0.5 && got(1)._3 <= 1.0,
        s"all-error + off-profile hour must score heavy drift: ${got(1)}")
      // batch parity: the shared aggregation over the same rows yields the
      // identical bits for the closed hours (one definition, two runtimes)
      val batch = StreamAssembly.driftAgg(
          (h10 ++ h11).toDF("event_id", "ts", "event_type", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      assert(batch.toSeq == got.toSeq,
        s"stream/batch drift diverged: batch=${batch.toSeq} stream=${got.toSeq}")
    } finally q.stop()
  }

  test("streaming drift leaderboard: symbols ranked by exact permille deviation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val baselineMix = StreamAssembly.driftBaseline.flatMap { case (t, q) =>
      Seq.fill((q * 20).round.toInt)(t)
    }
    val h10 = baselineMix.zipWithIndex.map { case (t, i) =>
      (i.toLong, ts(f"2024-03-01 10:00:${i % 60}%02d"), t, 1.0)
    }
    // 2/3 error (share 666‰ vs baseline 50‰ → dev 616) + 1/3 off-profile
    val h11 = Seq(
      (100L, ts("2024-03-01 11:00:01"), "error", 1.0),
      (101L, ts("2024-03-01 11:00:02"), "error", 1.0),
      (102L, ts("2024-03-01 11:00:03"), "gift_card", 1.0))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamAssembly.driftTopStream(events)
      .writeStream.format("memory").queryName("drift_top_stream")
      .outputMode("append").start()
    try {
      mem.addData(h10); q.processAllAvailable()
      mem.addData(h11); q.processAllAvailable()
      mem.addData((999L, ts("2024-03-01 23:00:00"), "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("drift_top_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[String](2).toList, r.getSeq[Long](3).toList))
        .sortBy(_._1)
      assert(got.length == 2, got.mkString("; "))
      // baseline-mix hour: every deviation exactly 0, symbol-asc order
      assert(got(0)._3 == List("<other>", "click", "error", "purchase",
        "signup", "view") && got(0)._4.forall(_ == 0L),
        s"baseline hour must rank all-zero: ${got(0)}")
      // error hour: the culprit leads with its exact permille deviation
      assert(got(1)._3 == List("error", "<other>", "view", "click",
        "purchase", "signup"), s"leaderboard order wrong: ${got(1)}")
      assert(got(1)._4 == List(616L, 333L, 300L, 250L, 200L, 200L),
        s"deviation permille wrong: ${got(1)}")
      // batch parity: one definition, two runtimes
      val batch = StreamAssembly.driftTopAgg(
          (h10 ++ h11).toDF("event_id", "ts", "event_type", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[String](2).toList, r.getSeq[Long](3).toList))
        .sortBy(_._1)
      assert(batch.toSeq == got.toSeq,
        s"stream/batch leaderboard diverged: batch=${batch.toSeq} stream=${got.toSeq}")
    } finally q.stop()
  }

  test("streaming entropy monitor: bits per closed hour, exact zero on a degenerate mix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // hour 10: the baseline mix (diverse) — entropy well above zero;
    // hour 11: ONE event type only — H = (n·ql(n) − n·ql(n))/(n·1e6),
    // exactly 0.0 bits (the degeneracy alarm JSD-vs-baseline undersells:
    // this hour's JSD is small because 'view' dominates the profile too);
    // hour 12: off-profile traffic exercises the other-bucket
    val baselineMix = StreamAssembly.driftBaseline.flatMap { case (t, q) =>
      Seq.fill((q * 20).round.toInt)(t)
    }
    val h10 = baselineMix.zipWithIndex.map { case (t, i) =>
      (i.toLong, ts(f"2024-03-01 10:00:${i % 60}%02d"), t, 1.0)
    }
    val h11 = (0 to 3).map(i =>
      (200L + i, ts(s"2024-03-01 11:00:0$i"), "view", 1.0))
    val h12 = Seq(
      (300L, ts("2024-03-01 12:00:01"), "gift_card", 1.0), // off-profile
      (301L, ts("2024-03-01 12:00:02"), "gift_card", 1.0),
      (302L, ts("2024-03-01 12:00:03"), "click", 1.0))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamAssembly.entropyStream(events)
      .writeStream.format("memory").queryName("entropy_stream")
      .outputMode("append").start()
    try {
      mem.addData(h10); q.processAllAvailable()
      mem.addData(h11); q.processAllAvailable()
      mem.addData(h12); q.processAllAvailable()
      mem.addData((999L, ts("2024-03-01 23:00:00"), "view", 1.0))
      q.processAllAvailable()
      val got = spark.table("entropy_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      assert(got.length == 3, got.mkString("; "))
      assert(got(0)._2 == 20L && got(0)._3 > 2.0 && got(0)._3 < 2.33,
        s"baseline mix must score near its ~2.23-bit entropy: ${got(0)}")
      assert(got(1)._2 == 4L && got(1)._3 == 0.0,
        s"a one-type hour must score exactly zero bits: ${got(1)}")
      // 2 of 3 in the other-bucket + 1 click = H(1/3, 2/3) ≈ 0.918 bits
      assert(got(2)._2 == 3L && got(2)._3 > 0.9 && got(2)._3 < 0.93,
        s"other-bucket hour entropy off: ${got(2)}")
      // batch parity: the shared aggregation over the same rows yields
      // identical bits (one definition, two runtimes — and the batch
      // runtime is the oracle-checked dq_entropy query, so the DuckDB
      // oracle transitively verifies the streaming monitor's arithmetic)
      val batch = StreamAssembly.entropyAgg(
          (h10 ++ h11 ++ h12).toDF("event_id", "ts", "event_type", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      assert(batch.toSeq == got.toSeq,
        s"stream/batch entropy diverged: batch=${batch.toSeq} stream=${got.toSeq}")
    } finally q.stop()
  }

  test("stream-static enrichment: every feed row decorated, new listings survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("signup", "tier1"), ("view", "tier2"), ("purchase", "tier1"))
      .toDF("event_type", "tier")
    val src = graft.ops.table(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "event_type")
      .as[(Long, String)].collect().toIndexedSeq
    val mem = MemoryStream[(Long, String)]
    val events = mem.toDF().toDF("event_id", "event_type")
    val q = StreamAssembly.enrichStream(events, dim, Seq("event_type"))
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode("append").start()
    try {
      mem.addData(src); q.processAllAvailable()
      val got = spark.sql(
        """SELECT coalesce(tier, 'unknown') AS tier, count(*) AS cnt
           FROM enrich_stream GROUP BY 1 ORDER BY tier""").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // batch truth: same left join over the static table
      val want = graft.ops.table(spark, "/root/testdata/sf0.001", "events")
        .join(dim, Seq("event_type"), "left")
        .groupBy(coalesce(col("tier"), lit("unknown")).as("tier"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want, s"enrichment drifted: $got vs $want")
      // left-join contract: unmatched types (the 'unknown' bucket) survive
      assert(got.values.sum == src.length, "enrichment dropped feed rows")
    } finally q.stop()
  }

  test("streaming session windows: emitted sessions equal the batch query row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("user_id", "ts", "value")
      .as[(Long, java.sql.Timestamp, Double)]
      .collect().sortBy(_._2.getTime).toIndexedSeq
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "value")
    val q = StreamAssembly.sessionsStream(events)
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      // a far-future sentinel advances the watermark past every real
      // session's end + gap so append mode flushes them all
      val lastTs = src.map(_._2.getTime).max
      mem.addData((-1L, new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT user_id, session_start, cnt, sum_value
           FROM sessions_stream WHERE user_id >= 0
           ORDER BY user_id, session_start""").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      val want = graft.ops.TimeWindows.windowSession(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.length == want.length,
        s"session count drifted: stream ${got.length} vs batch ${want.length}")
      assert(got.toSeq == want.toSeq,
        "streaming sessions diverged from the batch session_window query")
    } finally q.stop()
  }

  test("streaming gap-filled candles: real hours match batch candles, gaps carry the close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._2)).toIndexedSeq
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.candlesFilledStream(events)
      .toDF().writeStream.format("memory").queryName("filled_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      // emission is watermark-driven: a far-future sentinel (its own key,
      // excluded below) closes every real hour
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM filled_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getLong(6), r.getDouble(7), r.getInt(8))).toMap
      // batch truth: with the watermark fully advanced, EVERY hour in each
      // key's [first, last] range must emit exactly once
      val batch = graft.ops.TimeWindows.candles(spark, dir).collect()
        .map(r => (r.getString(0),
          java.time.Instant.parse(r.getString(1).replace(" ", "T") + "Z")
            .toEpochMilli) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getLong(6), r.getDouble(7))).toMap
      val keys = batch.keys.map(_._1).toSet
      var checked = 0
      keys.foreach { k =>
        val hours = batch.keys.filter(_._1 == k).map(_._2)
        val (lo, hi) = (hours.min, hours.max)
        var close = Double.NaN
        var h = lo
        while (h <= hi) {
          val g = got.getOrElse((k, h),
            fail(s"stream missing hour $h for $k"))
          batch.get((k, h)) match {
            case Some(b6) =>
              assert(g == (b6._1, b6._2, b6._3, b6._4, b6._5, b6._6, 0),
                s"real candle diverged at ($k, $h): $g vs $b6")
              close = b6._4
            case None =>
              assert(g == (close, close, close, close, 0L, 0.0, 1),
                s"gap candle at ($k, $h) does not carry the close: $g")
          }
          checked += 1
          h += 3600000L
        }
      }
      assert(got.size == checked,
        s"stream emitted ${got.size} candles beyond the ${checked} expected")
      assert(checked > 50, s"parity walk too small: $checked hours")
      assert(got.values.exists(_._7 == 1), "no gap hour exercised")
    } finally q.stop()
  }

  test("gap-filled candles: a late-but-in-watermark row folds into its buffered hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val h0 = (1700000000000L / 3600000L) * 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.candlesFilledStream(events) // 2h watermark
      .toDF().writeStream.format("memory").queryName("late_fill")
      .outputMode("append").start()
    try {
      // batch 1: hour h0 and hour h0+2h — the frontier passes h0+1h with
      // no data, but the watermark (maxTs − 2h) has NOT closed it yet
      mem.addData(("k", 1L, ts(h0 + 600000L), 10.0),
        ("k", 2L, ts(h0 + 2L * 3600000L + 300000L), 30.0))
      q.processAllAvailable()
      // batch 2: a LATE row for the silent middle hour — legal under the
      // 2h watermark; the old frontier-driven fold silently dropped it
      mem.addData(("k", 3L, ts(h0 + 3600000L + 1200000L), 20.0))
      q.processAllAvailable()
      mem.addData(("zz", 0L, ts(h0 + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT hour_ms, close, cnt, gap FROM late_fill
           WHERE event_type = 'k' ORDER BY hour_ms""").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
      assert(got.toSeq == Seq(
        (h0, 10.0, 1L, 0),
        (h0 + 3600000L, 20.0, 1L, 0), // REAL candle from the late row
        (h0 + 2L * 3600000L, 30.0, 1L, 0)),
        s"late row not folded: ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming quantiles: hourly p50/p99 match the identical batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "ts", "value")
      .as[(String, java.sql.Timestamp, Double)]
      .collect().sortBy(_._2.getTime).toIndexedSeq
    val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "ts", "value")
    val q = StreamAssembly.quantilesStream(events)
      .writeStream.format("memory").queryName("q_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      // close every window with a far-future sentinel (own type, excluded)
      mem.addData(("zz_sentinel",
        new java.sql.Timestamp(src.map(_._2.getTime).max + 365L * 86400000L),
        0.0))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT event_type, hour_ms, n, p50, p99 FROM q_stream
           WHERE event_type <> 'zz_sentinel'
           ORDER BY event_type, hour_ms""").collect().toSeq
      val want = StreamAssembly.quantilesAgg(
        graft.ops.table(spark, dir, "events"))
        .orderBy("event_type", "hour_ms").collect().toSeq
      assert(got.nonEmpty && got == want,
        s"streaming quantiles diverged: ${got.size} vs ${want.size} rows")
    } finally q.stop()
  }

  test("streaming anomaly detector: flags match the batch cumulative twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._2)).toIndexedSeq
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.anomalyStream(events)
      .writeStream.format("memory").queryName("anom_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val got = spark.sql(
        """SELECT event_type, event_id, vc, n_prior FROM anom_stream
           ORDER BY event_type, event_id""").collect().toSeq
      val want = StreamAssembly.anomalyAgg(
        graft.ops.table(spark, dir, "events"))
        .orderBy("event_type", "event_id").collect().toSeq
      assert(want.nonEmpty, "batch twin flagged nothing - fixture degenerate")
      assert(got == want,
        s"streaming anomalies diverged: ${got.size} vs ${want.size} rows")
    } finally q.stop()
  }

  test("streaming exact reach: dedup->count chain matches COUNT(DISTINCT) per closed hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .collect().sortBy(_._2.getTime).toIndexedSeq
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "ts")
    val q = StreamAssembly.reachStream(events)
      .writeStream.format("memory").queryName("reach_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      // close every hour with a far-future sentinel user
      mem.addData((-1L,
        new java.sql.Timestamp(src.map(_._2.getTime).max + 365L * 86400000L)))
      q.processAllAvailable()
      // the sentinel's own window never closes (nothing follows it), so
      // the emitted set is exactly the real hours — no exclusion needed
      val got = spark.sql(
        """SELECT hour_ms, reach FROM reach_stream
           ORDER BY hour_ms""").collect().toSeq
      val want = StreamAssembly.reachAgg(
        graft.ops.table(spark, dir, "events"))
        .orderBy("hour_ms").collect().toSeq
      assert(want.nonEmpty && got == want,
        s"streaming reach diverged: ${got.size} vs ${want.size} rows")
    } finally q.stop()
  }

  test("streaming CUSUM: onsets match the batch prefix-identity twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01" // sf0.001 has too few events to alarm
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._2)).toIndexedSeq
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.cusumStream(events)
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode("append").start()
    try {
      // three uneven batches: training, accumulators, AND onset memory all
      // cross micro-batch boundaries
      val (a, rest) = src.splitAt(src.length / 3)
      val (b, c) = rest.splitAt(rest.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      mem.addData(c); q.processAllAvailable()
      val got = spark.sql(
        """SELECT event_type, event_id, side, exc_pm FROM cusum_stream
           ORDER BY event_type, side, event_id""").collect().toSeq
      val want = StreamAssembly.cusumAgg(
        graft.ops.table(spark, dir, "events"))
        .orderBy("event_type", "side", "event_id").collect().toSeq
      assert(want.nonEmpty, "batch twin alarmed nothing - fixture degenerate")
      assert(got == want,
        s"streaming CUSUM diverged: ${got.size} vs ${want.size} rows")
    } finally q.stop()
  }

  test("CUSUM hand-check: a 2x level shift onsets at exactly the 13th shifted event") {
    import spark.implicits._
    // 64 training events at 100.00 freeze Sref = 64·10000; a 2x shift adds
    // Sref/2 per step after slack (k' = Sref/2), so S+ crosses h = 6·Sref
    // strictly at step 13 — and only ONE onset fires for the whole
    // sustained excursion
    val t0 = 1710000000000L
    val rows = (1 to 84).map { i =>
      (("purchase"), i.toLong, new java.sql.Timestamp(t0 + i * 1000L),
        if (i <= 64) 100.0 else 200.0)
    }
    val df = rows.toDF("event_type", "event_id", "ts", "value")
    val got = StreamAssembly.cusumAgg(df).collect()
    assert(got.length == 1, s"one onset for one excursion: ${got.toSeq}")
    val r = got.head
    assert(r.getString(0) == "purchase" && r.getString(2) == "up")
    assert(r.getLong(1) == 77L, s"onset at the 13th shifted event (id 64+13): $r")
    // sp at onset = 6.5·Sref -> excess permille = 500/6 = 83 (integer div)
    assert(r.getLong(3) == 83L, s"exc_pm: $r")
    // a series that never leaves the reference level never alarms
    val flat = (1 to 84).map(i => ("view", i.toLong,
      new java.sql.Timestamp(t0 + i * 1000L), 100.0))
      .toDF("event_type", "event_id", "ts", "value")
    assert(StreamAssembly.cusumAgg(flat).count() == 0L)
  }

  test("streaming hampel alarm: flags match the batch centered-window twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._2)).toIndexedSeq
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.hampelStream(events)
      .writeStream.format("memory").queryName("hampel_stream")
      .outputMode("append").start()
    try {
      // three uneven batches so ring state crosses micro-batch boundaries
      val (a, rest) = src.splitAt(src.length / 3)
      val (b, c) = rest.splitAt(rest.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      mem.addData(c); q.processAllAvailable()
      val got = spark.sql(
        """SELECT event_type, event_id, cents, med, dev FROM hampel_stream
           ORDER BY event_type, event_id""").collect().toSeq
      val want = graft.ops.TimeWindows.hampelFlags(
        graft.ops.table(spark, dir, "events"))
        .orderBy("event_type", "event_id").collect().toSeq
      assert(want.nonEmpty, "batch twin flagged nothing - fixture degenerate")
      assert(got == want,
        s"streaming hampel diverged: ${got.size} vs ${want.size} rows")
    } finally q.stop()
  }

  test("streaming top-k: hourly leaderboard matches the identical batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(_._3.getTime).toIndexedSeq
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.topkStream(events)
      .writeStream.format("memory").queryName("topk_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      mem.addData(("zz_sentinel", -1L,
        new java.sql.Timestamp(src.map(_._3.getTime).max + 365L * 86400000L),
        0.0))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT event_type, hour_ms, top_ids, top_cents FROM topk_stream
           WHERE event_type <> 'zz_sentinel'
           ORDER BY event_type, hour_ms""").collect().toSeq
      val want = StreamAssembly.topkAgg(
        graft.ops.table(spark, dir, "events"))
        .orderBy("event_type", "hour_ms").collect().toSeq
      assert(got.nonEmpty && got == want,
        s"streaming top-k diverged: ${got.size} vs ${want.size} rows")
      // the heap really bounds the emission: never more than 3 per window
      assert(got.forall(_.getSeq[Long](2).length <= 3),
        "a window emitted more than k rows")
    } finally q.stop()
  }

  test("gap-filled candles: 3-decimal volumes round like the batch DECIMAL cast") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val h0 = (1700000000000L / 3600000L) * 3600000L
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.candlesFilledStream(events)
      .toDF().writeStream.format("memory").queryName("cents_fill")
      .outputMode("append").start()
    try {
      // 0.615*100 is the binary double 61.4999…: math.round gave 61, the
      // batch DECIMAL(18,2) cast on the decimal string gives 62 — three
      // values whose half-cent behavior only the string path reproduces
      mem.addData(("k", 1L, ts(h0 + 1000L), 0.615),
        ("k", 2L, ts(h0 + 2000L), 0.125),
        ("k", 3L, ts(h0 + 3000L), 2.005))
      mem.addData(("zz", 0L, ts(h0 + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val vol = spark.sql(
        "SELECT volume FROM cents_fill WHERE event_type = 'k'").collect()
      // Spark/DuckDB DECIMAL casts: 0.62 + 0.13 + 2.01 = 2.76
      assert(vol.map(_.getDouble(0)).toSeq == Seq(2.76),
        s"stream cents diverged from the DECIMAL path: ${vol.toSeq}")
    } finally q.stop()
  }

  test("streaming attribution: an out-of-order older view never regresses the state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val t0 = 1700000000000L
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "event_id", "event_type", "ts")
    val q = StreamAssembly.attrStream(events, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("attr_ooo")
      .outputMode("append").start()
    try {
      // batch 1: the NEWER view arrives first
      mem.addData((7L, 2L, "view", ts(t0 + 60000L)))
      q.processAllAvailable()
      // batch 2: an OLDER view, late but inside the 10-minute watermark —
      // the unguarded fold would overwrite state with this stale touch
      mem.addData((7L, 1L, "view", ts(t0)))
      q.processAllAvailable()
      // batch 3: the purchase — credit must go to view 2, gap 60s
      mem.addData((7L, 3L, "purchase", ts(t0 + 120000L)))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT attr_id, gap_s FROM attr_ooo").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((2L, 60L)),
        s"late older view regressed the attribution state: $got")
    } finally q.stop()
  }

  test("streaming attribution: row-exact parity with the batch last-touch query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("user_id", "event_id", "event_type", "ts")
      .as[(Long, Long, String, java.sql.Timestamp)]
      .collect().sortBy(r => (r._4.getTime, r._2)).toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "event_id", "event_type", "ts")
    val q = StreamAssembly.attrStream(events)
      .toDF().writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val got = spark.sql(
        """SELECT user_id, purchase_id, attr_id, gap_s
           FROM attr_stream ORDER BY purchase_id""").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // batch result with the stream's -1 encoding for organic purchases
      val want = graft.ops.EventOps.attrLastTouch(spark, dir).collect()
        .map { r =>
          val attr = if (r.isNullAt(2)) -1L else r.getLong(2)
          val gap = if (r.isNullAt(3)) -1L else r.getLong(3)
          (r.getLong(0), r.getLong(1), attr, gap)
        }
      assert(got.length == want.length,
        s"purchase count drifted: stream ${got.length} vs batch ${want.length}")
      assert(got.toSeq == want.toSeq,
        "streaming attribution diverged from the batch window query")
    } finally q.stop()
  }

  test("streaming funnel: stage counts match the batch funnel on the real table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the SAME rows the batch funnel reads, delivered in event-time order
    // across two micro-batches (mid-stream cut)
    val rows = graft.ops.table(spark, dir, "events")
      .select("user_id", "event_type", "ts")
      .as[(Long, String, java.sql.Timestamp)]
      .collect().sortBy(_._3.getTime).toIndexedSeq
    assert(rows.length > 100)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "event_type", "ts")
    val q = StreamAssembly
      .funnelStages(events, watermark = "10 minutes")
      .toDF().writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      // each stage fires at most once per user, so user counts per stage
      // are direct; they must equal the batch aggregate-join chain exactly
      val got = spark.sql(
        """SELECT stage, count(DISTINCT user_id) AS users
           FROM funnel_stream GROUP BY stage ORDER BY stage""").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = graft.ops.EventOps.funnel(spark, dir).collect()
        .map(r => r.getInt(0) -> r.getLong(2)).toMap
      assert(got == want.filter(_._2 > 0L),
        s"stream stages $got diverged from batch funnel $want")
    } finally q.stop()
  }

  test("streaming rate monitor: row-exact parity with the batch grid, gaps flagged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "ts")
      .as[(String, java.sql.Timestamp)]
      .collect().sortBy(_._2.getTime).toIndexedSeq
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("event_type", "ts")
    val q = StreamAssembly.rateStream(events)
      .toDF().writeStream.format("memory").queryName("rate_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._2.getTime).max
      mem.addData(("zz_sentinel",
        new java.sql.Timestamp(lastTs + 365L * 86400000L)))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM rate_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
      val want = StreamAssembly.rateAgg(
        graft.ops.table(spark, dir, "events")).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
      assert(got == want,
        s"stream/batch rate rows diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      // the detector's reason to exist: silent hours emit with cnt 0 and
      // (with a warm trail) fire
      assert(got.values.exists(v => v._1 == 0L && v._4),
        "no zero-count hour was flagged - the gap path never ran")
      assert(got.size > 1000, s"parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("streaming session windows: row-exact parity with window_session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("user_id", "ts", "value")
      .as[(Long, java.sql.Timestamp, Double)]
      .collect().sortBy(_._2.getTime).toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "value")
    val q = StreamAssembly.sessionStream(events)
      .writeStream.format("memory").queryName("session_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      // far-future sentinel: watermark passes every real session's close
      val lastTs = src.map(_._2.getTime).max
      mem.addData((-1L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM session_stream WHERE user_id >= 0").collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      val want = graft.ops.TimeWindows.windowSession(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      assert(got == want,
        s"stream/batch session rows diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      // sessions actually merge: at least one session spans >1 event
      assert(got.values.exists(_._1 > 1L), "no multi-event session formed")
    } finally q.stop()
  }

  test("streaming sliding windows: row-exact parity with window_sliding") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("ts")
      .as[java.sql.Timestamp]
      .collect().sortBy(_.getTime).toIndexedSeq
    val mem = MemoryStream[java.sql.Timestamp]
    val events = mem.toDF().toDF("ts")
    val q = StreamAssembly.slidingStream(events)
      .writeStream.format("memory").queryName("sliding_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_.getTime).max
      mem.addData(new java.sql.Timestamp(lastTs + 365L * 86400000L))
      q.processAllAvailable()
      // drop the sentinel's own 6 windows (they start ~a year out); the
      // w_start string format is lexicographically ordered
      val cut = java.time.Instant.ofEpochMilli(lastTs + 30L * 86400000L)
        .toString.substring(0, 10)
      val got = spark.sql(
        s"SELECT * FROM sliding_stream WHERE w_start < '$cut'")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = graft.ops.TimeWindows.windowSliding(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want,
        s"stream/batch sliding rows diverged: ${got.size} vs ${want.size}")
      assert(got.size > 50, s"parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("streaming EWMA smoother: row-exact parity with ts_ewma") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.ewmaStream(events)
      .toDF().writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM ewma_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getDouble(2), r.getDouble(3))).toMap
      val want = graft.ops.TimeWindows.tsEwma(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getDouble(2), r.getDouble(3))).toMap
      assert(got == want,
        s"stream/batch ewma diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("streaming heartbeat monitor: row-exact parity with dq_heartbeat") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts")
      .as[(String, Long, java.sql.Timestamp)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts")
    val q = StreamAssembly.gapStream(events)
      .toDF().writeStream.format("memory").queryName("gap_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      // a far-future sentinel advances the watermark past every real day,
      // closing them all — the batch twin covers the whole corpus
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L)))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM gap_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val want = graft.ops.DataQuality.dqHeartbeat(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(got == want,
        s"stream/batch heartbeat diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      // the monitor's reason to exist: at least one real silent gap
      assert(got.values.exists(_._2 > 0L), "no nonzero max gap surfaced")
      // single-event days (if any) and first-events report gap 0 via the
      // batch twin's coalesce convention — spot-check totals line up
      assert(got.values.map(_._1).sum == src.length.toLong,
        "closed-day event counts do not cover the corpus")
    } finally q.stop()
  }

  test("streaming windowed funnel: per-step tallies match funnel_window; windows and order enforced") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("user_id", "event_id", "ts", "event_type")
      .as[(Long, Long, java.sql.Timestamp, String)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("user_id", "event_id", "ts", "event_type")
    val q = StreamAssembly.funnelWindowStream(events)
      .toDF().writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val got = spark.sql(
        "SELECT step, count(*) AS users FROM funnel_stream GROUP BY step")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = graft.ops.EventOps.funnelWindow(spark, dir).collect()
        .map(r => r.getInt(0) -> r.getLong(2)).toMap
      assert(got == want,
        s"stream/batch funnel tallies diverged: $got vs $want")
      assert(got(1) > 0 && got.getOrElse(3, 0L) <= got(2) &&
        got(2) <= got(1), s"funnel must narrow: $got")
      // closed-form edges on fresh synthetic users (ids far above the
      // corpus): a view outside the 7-day window never converts; a
      // purchase BEFORE the view never counts
      val t0 = src.map(_._3.getTime).max + 86400000L
      mem.addData(Seq(
        (900001L, 1L, new java.sql.Timestamp(t0), "signup"),
        (900001L, 2L, new java.sql.Timestamp(t0 + 8L * 86400000L), "view"),
        (900002L, 3L, new java.sql.Timestamp(t0), "signup"),
        (900002L, 4L, new java.sql.Timestamp(t0 + 1000L), "purchase"),
        (900002L, 5L, new java.sql.Timestamp(t0 + 2000L), "view"),
        (900002L, 6L, new java.sql.Timestamp(t0 + 3000L), "purchase")))
      q.processAllAvailable()
      val synth = spark.sql(
        "SELECT user_id, step FROM funnel_stream WHERE user_id >= 900000")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(synth == Set((900001L, 1), (900002L, 1), (900002L, 2),
        (900002L, 3)), s"window/order edges broken: $synth")
    } finally q.stop()
  }

  test("streaming Bollinger bands: row-exact parity with ta_bollinger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.bollingerStream(events)
      .toDF().writeStream.format("memory").queryName("boll_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM boll_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6), r.getDouble(7), r.getInt(8)))).toMap
      val want = graft.ops.MarketOps.taBollinger(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6), r.getDouble(7), r.getInt(8)))).toMap
      assert(got == want,
        s"stream/batch bollinger diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      assert(got.size > 50, s"parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("streaming ATR: row-exact parity with ta_atr") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.atrStream(events)
      .toDF().writeStream.format("memory").queryName("atr_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM atr_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getDouble(2), r.getDouble(3)))).toMap
      val want = graft.ops.MarketOps.taAtr(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getDouble(2), r.getDouble(3)))).toMap
      assert(got == want,
        s"stream/batch ATR diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      assert(got.size > 50, s"parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("streaming daily VWAP: row-exact parity with ta_vwap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "ts", "value", "props")
      .as[(String, java.sql.Timestamp, Double, String)]
      .collect().sortBy(_._2.getTime).toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, java.sql.Timestamp, Double, String)]
    val events = mem.toDF().toDF("event_type", "ts", "value", "props")
    val q = StreamAssembly.vwapStream(events)
      .writeStream.format("memory").queryName("vwap_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._2.getTime).max
      mem.addData(("zz_sentinel",
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0, "{}"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM vwap_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
      val want = graft.ops.MarketOps.taVwap(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
      assert(got == want,
        s"stream/batch vwap diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      assert(got.size > 50, s"parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("streaming RSI-7: row-exact parity with ta_rsi") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.rsiStream(events)
      .toDF().writeStream.format("memory").queryName("rsi_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM rsi_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
      val want = graft.ops.MarketOps.taRsi(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
      assert(got == want,
        s"stream/batch RSI diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      assert(got.size > 50, s"parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("streaming MACD: row-exact parity with ta_macd") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.macdStream(events)
      .toDF().writeStream.format("memory").queryName("macd_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM macd_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6)))).toMap
      val want = graft.ops.MarketOps.taMacd(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getDouble(6)))).toMap
      assert(got == want,
        s"stream/batch MACD diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      assert(got.size > 50, s"parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("streaming stochastic %K: row-exact parity with ta_stoch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.stochStream(events)
      .toDF().writeStream.format("memory").queryName("stoch_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      def keyed(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getDouble(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      val got = keyed(spark.sql(
        "SELECT * FROM stoch_stream WHERE event_type <> 'zz_sentinel'")
        .collect())
      val want = keyed(graft.ops.MarketOps.taStoch(spark, dir).collect())
      assert(got == want,
        s"stream/batch stochastic diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      assert(got.size > 50, s"parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("streaming realized volatility: row-exact parity with ta_rv") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.rvStream(events)
      .toDF().writeStream.format("memory").queryName("rv_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM rv_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      val want = graft.ops.MarketOps.taRv(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      assert(got == want,
        s"stream/batch RV diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      assert(got.size > 50, s"parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("streaming MA-cross: emitted signals equal ta_sma_cross row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.smaCrossStream(events)
      .toDF().writeStream.format("memory").queryName("cross_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM cross_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val want = graft.ops.MarketOps.taSmaCross(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == want,
        s"stream/batch MA-cross diverged: ${got.size} vs ${want.size}; " +
          s"diff: ${(got diff want).take(3)} / ${(want diff got).take(3)}")
      assert(want.nonEmpty,
        "corpus produced zero crossings — parity would be vacuous")
    } finally q.stop()
  }

  test("streaming OBV: row-exact parity with ta_obv") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value", "props")
      .as[(String, Long, java.sql.Timestamp, Double, String)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double, String)]
    val events = mem.toDF()
      .toDF("event_type", "event_id", "ts", "value", "props")
    val q = StreamAssembly.obvStream(events)
      .toDF().writeStream.format("memory").queryName("obv_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0, "{}"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT * FROM obv_stream WHERE event_type <> 'zz_sentinel'")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      val want = graft.ops.MarketOps.taObv(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      assert(got == want,
        s"stream/batch OBV diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      assert(got.size > 50, s"parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("streaming ordering audit: per-type hour sums equal dq_monotonic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts")
      .as[(String, Long, java.sql.Timestamp)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts")
    val q = StreamAssembly.monotonicStream(events)
      .toDF().writeStream.format("memory").queryName("mono_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L)))
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT event_type, sum(n) AS n, sum(inversions) AS inv
           FROM mono_stream WHERE event_type <> 'zz_sentinel'
           GROUP BY event_type""")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      val want = graft.ops.DataQuality.dqMonotonic(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == want, s"stream/batch ordering audit diverged: " +
        s"$got vs $want")
      // the corpus ships id-in-ts-order (0 inversions everywhere), so
      // parity alone is vacuous for the inversion counter — drive it
      // closed-form on a fresh key past the sentinel watermark: ids
      // 100, 50 (inv), then next hour 200, 10 (inv) — and the running
      // max must CROSS the hour boundary (10 < 200)
      val t0 = lastTs + 366L * 86400000L
      def at(ms: Long) = new java.sql.Timestamp(ms)
      mem.addData(Seq(
        ("zz_probe", 100L, at(t0)),
        ("zz_probe", 50L, at(t0 + 60000L)),
        ("zz_probe", 200L, at(t0 + 3600000L)),
        ("zz_probe", 10L, at(t0 + 3660000L))))
      q.processAllAvailable()
      mem.addData(("zz_sentinel", 1L,
        new java.sql.Timestamp(t0 + 365L * 86400000L)))
      q.processAllAvailable()
      val probe = spark.sql(
        """SELECT hour_ms, n, inversions FROM mono_stream
           WHERE event_type = 'zz_probe' ORDER BY hour_ms""")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val h0 = math.floorDiv(t0, 3600000L) * 3600000L
      assert(probe == Seq((h0, 2L, 1L), (h0 + 3600000L, 2L, 1L)),
        s"closed-form inversion count drifted: $probe")
    } finally q.stop()
  }

  test("streaming Calmar: last running row per type equals ta_calmar") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.calmarStream(events)
      .toDF().writeStream.format("memory").queryName("calmar_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      mem.addData(("zz_sentinel", 0L,
        new java.sql.Timestamp(lastTs + 365L * 86400000L), 0.0))
      q.processAllAvailable()
      // the stream emits the RUNNING Calmar row per closed day; its last
      // row per type is the batch answer over the same prefix
      val got = spark.sql(
        """SELECT event_type, n_days, ann_ret, max_dd, calmar
           FROM calmar_stream s
           WHERE event_type <> 'zz_sentinel'
             AND day = (SELECT max(day) FROM calmar_stream
                        WHERE event_type = s.event_type)""")
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
      val want = graft.ops.MarketOps.taCalmar(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
      assert(got == want,
        s"stream/batch Calmar diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      assert(got.size >= 3, s"parity surface too small: ${got.size}")
      // and the stream surfaced a real per-day trajectory, not one row
      val trail = spark.sql(
        "SELECT count(*) FROM calmar_stream WHERE event_type <> 'zz_sentinel'")
        .head().getLong(0)
      assert(trail > got.size, s"no per-day trajectory: $trail rows")
    } finally q.stop()
  }

  test("streaming heatmap: summed day cells equal the win_heatmap grid") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val src = graft.ops.table(spark, dir, "events")
      .select("event_type", "event_id", "ts", "value")
      .as[(String, Long, java.sql.Timestamp, Double)]
      .collect().sortBy(r => (r._3.getTime, r._3.getNanos, r._2))
      .toIndexedSeq
    assert(src.length > 100)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.heatmapStream(events)
      .writeStream.format("memory").queryName("heatmap_stream")
      .outputMode("append").start()
    try {
      val (a, b) = src.splitAt(src.length / 2)
      mem.addData(a); q.processAllAvailable()
      mem.addData(b); q.processAllAvailable()
      val lastTs = src.map(_._3.getTime).max
      val sentinelTs = new java.sql.Timestamp(lastTs + 365L * 86400000L)
      mem.addData(("zz_sentinel", 0L, sentinelTs, 0.0))
      q.processAllAvailable()
      // cells emitted per (day, hour); the batch grid is their sum per
      // (dow, hour), and share_pm re-derives from the summed counts
      val sentinelDay = new java.text.SimpleDateFormat("yyyy-MM-dd") {
        setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      }.format(sentinelTs)
      val cells = spark.sql(
        s"""SELECT dow, hour, sum(cnt) AS cnt FROM heatmap_stream
            WHERE day <> '$sentinelDay' GROUP BY dow, hour""")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val total = cells.values.sum
      val got = cells.map { case (k, c) => k -> ((c, c * 1000 / total)) }
      val want = graft.ops.TimeWindows.winHeatmap(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      assert(got == want,
        s"stream/batch heatmap diverged: ${got.size} vs ${want.size}; " +
          s"sample diff: ${(got.toSet diff want.toSet).take(3)} / " +
          s"${(want.toSet diff got.toSet).take(3)}")
      assert(got.size > 20, s"grid too small: ${got.size}")
    } finally q.stop()
  }
}
