package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Regression pins for the idle-gap retention rules of the streaming
  * folds, so a key that resumes after a long-silent gap still matches its
  * batch twin row for row:
  *  - a close-on-watermark fold (day or hour buckets) keeps its carry
  *    (prevClose/rings/trail) when the key's idle timeout fires, and
  *    removes the key only when nothing is open and nothing is carried;
  *  - an in-order emit fold (attribution, windowed funnel) keeps its
  *    carry for the life of the query.
  * Each test drives the silence for real: a second key advances the
  * watermark past the 60-day horizon while the key under test is silent
  * (hasTimedOut is only delivered to keys with no rows in the batch),
  * then the silent key resumes. The tests:
  *  - ATR, Bollinger and EWMA against their batch twins. Under the
  *    pre-r14 remove-on-timeout behavior these fail: ATR coalesces
  *    prev-close to the post-gap day's own close, and Bollinger forgets
  *    the pre-gap closes in its ±2σ window;
  *  - the rate monitor's zero-count gap hours, the attribution carry and
  *    the windowed funnel, which would re-emit a duplicate step-1 row for
  *    a lapsed user;
  *  - the other side of the rule: an rv key, which carries nothing
  *    across days, is removed once its open days flush, and still
  *    matches its batch twin after it resumes.
  * The RocksDB runs of the same scenario live in [[RocksDbCarryStateSpec]]. */
class StreamIdleGapSpec extends SparkSpec {

  private val base = 1700000000000L // 2023-11-14T22:13:20Z
  private def day(i: Int) = new java.sql.Timestamp(base + i * 86400000L)

  // key under test: closes 10.00, 11.00, ... on days 0..4, then a
  // 100-day silence, then days 104..106. "wm_pump" only exists to push
  // the watermark past day 4 + 60d while "k" is idle.
  private def taRows: (Seq[(String, Long, java.sql.Timestamp, Double)],
      Seq[(String, Long, java.sql.Timestamp, Double)],
      Seq[(String, Long, java.sql.Timestamp, Double)]) = {
    val before = (0 to 4).map(i =>
      ("k", i.toLong, day(i), 10.0 + i))
    val pump = Seq(("wm_pump", 100L, day(80), 1.0))
    val after = (104 to 106).map(i =>
      ("k", i.toLong, day(i), 20.0 + (i - 104)))
    (before, pump, after)
  }

  private def taParity(name: String,
      stream: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[_],
      batch: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (before, pump, after) = taRows
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = stream(events).toDF().writeStream.format("memory")
      .queryName(s"idlegap_$name").outputMode("append").start()
    try {
      mem.addData(before); q.processAllAvailable() // days 0..4 buffered
      mem.addData(pump); q.processAllAvailable()   // timeout fires for "k"
      mem.addData(after); q.processAllAvailable()  // "k" resumes post-gap
      mem.addData(("zz_sentinel", 0L, day(500), 0.0))
      q.processAllAvailable()                      // flush everything
      val got = spark.sql(s"SELECT * FROM idlegap_$name " +
        "WHERE event_type = 'k'").collect()
        .map(r => r.toSeq.toList).toSet
      val want = batch((before ++ pump ++ after)
        .toDF("event_type", "event_id", "ts", "value"))
        .filter($"event_type" === "k").collect()
        .map(r => r.toSeq.toList).toSet
      assert(got == want,
        s"$name diverged across the idle gap:\n stream-only: " +
          s"${(got diff want).take(3)}\n batch-only: ${(want diff got).take(3)}")
      assert(got.size >= 7, s"$name parity surface too small: ${got.size}")
    } finally q.stop()
  }

  test("atrStream: prevClose + TR ring survive a 100-day idle timeout") {
    taParity("atr", StreamAssembly.atrStream(_),
      graft.ops.MarketOps.atrOf)
  }

  test("bollingerStream: the cents ring survives a 100-day idle timeout") {
    taParity("boll", StreamAssembly.bollingerStream(_),
      graft.ops.MarketOps.bollingerOf)
  }

  test("ewmaStream: the trailing-close ring survives a 100-day idle timeout") {
    taParity("ewma", StreamAssembly.ewmaStream(_),
      graft.ops.TimeWindows.ewmaOf)
  }

  test("rateStream: the trail and grid carry survive the timeout — gap hours zero-emit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("event_type", "ts")
    def hr(i: Int) = new java.sql.Timestamp(base + i * 3600000L)
    val q = StreamAssembly.rateStream(events)
      .toDF().writeStream.format("memory").queryName("idlegap_rate")
      .outputMode("append").start()
    try {
      // key "k": 3 busy hours, then silence
      mem.addData((0 until 3).flatMap(h =>
        Seq.fill(4)(("k", hr(h)))) :+ (("wm_pump", hr(0))))
      q.processAllAvailable()
      // another key pushes the watermark 90 days out -> timeout fires
      // for "k" (its open hours flush; emittedUpTo + trail must survive)
      mem.addData(Seq(("wm_pump", new java.sql.Timestamp(
        base + 90L * 86400000L))))
      q.processAllAvailable()
      // "k" resumes: the recovery emits every silent hour at count 0
      // (that zero-emission is exactly what the retained emittedUpTo
      // buys — removal would silently skip the dead stretch)
      mem.addData(Seq(("k", new java.sql.Timestamp(
        base + 91L * 86400000L))))
      // the resume re-armed the timeout to day 91 + 60d, so the closing
      // pump must pass day 151 for the flush to fire
      mem.addData(Seq(("wm_pump", new java.sql.Timestamp(
        base + 160L * 86400000L))))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT hour_ms, cnt, dropped FROM idlegap_rate
           WHERE event_type = 'k' ORDER BY hour_ms""").collect()
      val perHour = rows.map(r => (r.getLong(0), r.getLong(1))).toMap
      // busy hours intact (base is NOT hour-aligned; bucket to its hour)
      val h0 = base / 3600000L * 3600000L
      (0 until 3).foreach(h => assert(perHour(h0 + h * 3600000L) == 4L))
      // the silent stretch is PRESENT as zero-count hours, contiguous
      val silent = rows.filter(_.getLong(1) == 0L)
      assert(silent.length == 91 * 24 - 3,
        s"gap hours must zero-emit across the timeout: ${silent.length}")
      // and the first zero hour after the busy ones is flagged a drop
      // (trail avg 4 vs count 0 -> 2*0*3 < 12)
      assert(silent.head.getBoolean(2), "volume drop must flag")
    } finally q.stop()
  }

  test("attrStream: the last-view carry survives the timeout — late conversions attribute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("user_id", "event_id", "event_type", "ts")
    val q = StreamAssembly.attrStream(events)
      .toDF().writeStream.format("memory").queryName("idlegap_attr")
      .outputMode("append").start()
    try {
      mem.addData(Seq((7L, 1L, "view", day(0))))
      q.processAllAvailable()
      // watermark pumped 80 days out by another user while 7 is silent
      mem.addData(Seq((8L, 2L, "view", day(80))))
      q.processAllAvailable()
      // user 7 converts 100 days after the view: the batch twin
      // attributes at ANY lag, so the carry must still be there
      mem.addData(Seq((7L, 3L, "purchase", day(100))))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT attr_id, gap_s FROM idlegap_attr WHERE user_id = 7")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 100L * 86400L)),
        s"late conversion went organic across the idle gap: $got")
    } finally q.stop()
  }

  test("rvStream: a timed-out key with nothing to carry is removed, then resumes exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // three ticks a minute apart each day, so every day has returns
    def ticks(days: Range, v0: Double) = days.flatMap(i => (0 until 3).map(j =>
      ("k", i * 3L + j, new java.sql.Timestamp(day(i).getTime + j * 60000L),
        v0 + (i - days.head) + 0.25 * j)))
    val before = ticks(0 to 4, 10.0)
    val pump = Seq(("wm_pump", 1000L, day(80), 1.0))
    val after = ticks(104 to 106, 20.0)
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val q = StreamAssembly.rvStream(events).toDF().writeStream
      .format("memory").queryName("idlegap_rv").outputMode("append").start()
    try {
      mem.addData(before); q.processAllAvailable()
      mem.addData(pump); q.processAllAvailable()
      // the timeout flushed days 0..4 and, with no open day and nothing
      // carried, removed "k": only the pump key is left in state
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1,
        "the silent rv key kept its state across the timeout")
      mem.addData(after); q.processAllAvailable()
      mem.addData(("zz_sentinel", 0L, day(500), 0.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM idlegap_rv WHERE event_type = 'k'")
        .collect().map(_.toSeq.toList).toSet
      val want = graft.ops.MarketOps.rvOf((before ++ pump ++ after)
        .toDF("event_type", "event_id", "ts", "value"))
        .filter($"event_type" === "k").collect().map(_.toSeq.toList).toSet
      assert(got == want, s"rv diverged after the removal:\n stream-only: " +
        s"${(got diff want).take(3)}\n batch-only: ${(want diff got).take(3)}")
      assert(got.size == 8, s"expected 8 closed days, got ${got.size}")
    } finally q.stop()
  }

  test("funnelWindowStream: a lapsed user's return does not re-emit step 1") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("user_id", "event_id", "ts", "event_type")
    val q = StreamAssembly.funnelWindowStream(events)
      .toDF().writeStream.format("memory").queryName("idlegap_funnel")
      .outputMode("append").start()
    try {
      // user 7 signs up on day 0, goes silent
      mem.addData(Seq((7L, 1L, day(0), "signup")))
      q.processAllAvailable()
      // another user pushes the watermark 80 days out
      mem.addData(Seq((8L, 2L, day(80), "view")))
      q.processAllAvailable()
      // the lapsed user returns: signs up AGAIN, then converts in-window
      mem.addData(Seq(
        (7L, 3L, day(100), "signup"),
        (7L, 4L, day(101), "view"),
        (7L, 5L, day(102), "purchase")))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT step, ts_us FROM idlegap_funnel WHERE user_id = 7")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      // min-per-user semantics: step 1 is the DAY-0 signup (never the
      // day-100 duplicate), and steps 2/3 hang off the day-100 return
      // only if within 7 days of the ORIGINAL signup — they are not, so
      // exactly one row total, matching the batch twin
      val want = graft.ops.EventOps.funnelWindowOf(Seq(
        (7L, 1L, day(0), "signup"), (8L, 2L, day(80), "view"),
        (7L, 3L, day(100), "signup"), (7L, 4L, day(101), "view"),
        (7L, 5L, day(102), "purchase"))
        .toDF("user_id", "event_id", "ts", "event_type"))
      assert(got == Set((1, base * 1000L)),
        s"duplicate/late steps leaked across the idle gap: $got")
      // and the batch twin agrees: one step-1 user (7; 8 never signs up),
      // no step 2/3 — the day-100 events sit outside day-0's 7-day window
      val batchSteps = want.collect().map(r => r.getInt(0) -> r.getLong(2))
        .toMap
      assert(batchSteps == Map(1 -> 1L, 2 -> 0L, 3 -> 0L),
        s"batch twin drifted: $batchSteps")
    } finally q.stop()
  }
}
