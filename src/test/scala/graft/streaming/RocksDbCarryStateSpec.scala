package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import scala.jdk.CollectionConverters._

/** r14 proved ONE carry-state twin (macdStream) round-trips its state
  * through RocksDB without moving an ULP; this spec parameterizes that
  * proof over the whole carry-state family (r14 verdict item 3 → r15).
  * Every twin here owns ring/carry state classes (trailing-close rings,
  * prevClose, OBV cumulative line, EMA carries, funnel progress) that at
  * 100 TB live in `RocksDBStateStoreProvider`, where state crosses a
  * JVM-heap ↔ serialized-bytes boundary every micro-batch — the exact
  * place an Encoder/serialization asymmetry would corrupt a Double or
  * drop a ring slot. The tests:
  *  - `rocksParity` (atr, bollinger, rsi, stoch, ewma, macd) and the OBV
  *    case replay the [[StreamIdleGapSpec]] idle-gap scenario (buffered
  *    days, a watermark pump past the 60-day horizon, a post-gap resume —
  *    so the state ALSO survives a timeout round-trip under RocksDB),
  *    demand row-set equality with the oracle-checked batch twin, then
  *    assert the state operator really ran on RocksDB via its custom
  *    metrics;
  *  - the funnel case pins the lapsed-user carry on RocksDB;
  *  - the restart cases stop each twin mid-feed — the day-grain folds
  *    after the pre-gap batch with a day still open in state; hampel,
  *    cusum and the rate monitor inside cusum's training prefix with open
  *    hours — and finish the feed in a new query on the same checkpoint,
  *    against the batch twin. */
class RocksDbCarryStateSpec extends SparkSpec {

  private val base = 1700000000000L // 2023-11-14T22:13:20Z
  private def day(i: Int) = new java.sql.Timestamp(base + i * 86400000L)

  // the StreamIdleGapSpec corpus, lengthened so the slowest-warming twin
  // (RSI-7 needs 7 prior closes before its first row) still yields a
  // ≥7-row parity surface: closes on days 0..14, a ~90-day silence
  // bridged by a watermark pump, a resume on days 104..110
  private def taRows: (Seq[(String, Long, java.sql.Timestamp, Double)],
      Seq[(String, Long, java.sql.Timestamp, Double)],
      Seq[(String, Long, java.sql.Timestamp, Double)]) = {
    val before = (0 to 14).map(i => ("k", i.toLong, day(i), 10.0 + i))
    val pump = Seq(("wm_pump", 100L, day(80), 1.0))
    val after = (104 to 110).map(i => ("k", i.toLong, day(i), 20.0 + (i - 104)))
    (before, pump, after)
  }

  private def withRocksDb(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = StreamAssembly.useRocksDbStateStore(spark)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def assertOnRocksDb(q: org.apache.spark.sql.streaming.StreamingQuery,
      name: String): Unit = {
    val sp = q.lastProgress.stateOperators
    assert(sp.nonEmpty && sp.head.customMetrics.keySet.asScala
      .exists(_.startsWith("rocksdb")), s"$name state did not run on RocksDB")
  }

  /** One family member: drive the idle-gap scenario on RocksDB, compare
    * whole-row sets against the batch twin on the identical input. */
  private def rocksParity(name: String,
      stream: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[_],
      batch: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Unit =
    test(s"${name}Stream: bit-exact parity holds unchanged on RocksDB") {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      withRocksDb {
        val (before, pump, after) = taRows
        val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double)]
        val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
        val q = stream(events).toDF().writeStream.format("memory")
          .queryName(s"rocks_$name").outputMode("append").start()
        try {
          mem.addData(before); q.processAllAvailable()
          mem.addData(pump); q.processAllAvailable()
          mem.addData(after); q.processAllAvailable()
          mem.addData(("zz_sentinel", 0L, day(500), 0.0))
          q.processAllAvailable()
          val got = spark.sql(s"SELECT * FROM rocks_$name " +
            "WHERE event_type = 'k'").collect()
            .map(r => r.toSeq.toList).toSet
          val want = batch((before ++ pump ++ after)
            .toDF("event_type", "event_id", "ts", "value"))
            .filter($"event_type" === "k").collect()
            .map(r => r.toSeq.toList).toSet
          assert(got == want, s"$name diverged on RocksDB:\n stream-only: " +
            s"${(got diff want).take(3)}\n batch-only: ${(want diff got).take(3)}")
          assert(got.size >= 7, s"$name parity surface too small: ${got.size}")
          assertOnRocksDb(q, name)
        } finally q.stop()
      }
    }

  rocksParity("atr", StreamAssembly.atrStream(_), graft.ops.MarketOps.atrOf)
  rocksParity("bollinger", StreamAssembly.bollingerStream(_),
    graft.ops.MarketOps.bollingerOf)
  rocksParity("rsi", StreamAssembly.rsiStream(_), graft.ops.MarketOps.rsiOf)
  rocksParity("stoch", StreamAssembly.stochStream(_),
    graft.ops.MarketOps.stochOf)
  rocksParity("ewma", StreamAssembly.ewmaStream(_),
    graft.ops.TimeWindows.ewmaOf)
  rocksParity("macd", StreamAssembly.macdStream(_),
    graft.ops.MarketOps.macdOf)

  private type Row4 = (String, Long, java.sql.Timestamp, Double)

  /** Run `stream` over `first` in one query, stop it, feed each of `rest`
    * to a new query on the same checkpoint, and compare key "k"'s written
    * rows with `batch` over the whole feed. */
  private def restartParity(name: String, stream: DataFrame => Dataset[_],
      batch: DataFrame => DataFrame, first: Seq[Row4],
      rest: Seq[Seq[Row4]]): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Path.of(graft.ops.tempDir(s"restart_$name"))
    val out = dir.resolve("out").toString
    val mem = MemoryStream[Row4]
    val events = mem.toDF().toDF("event_type", "event_id", "ts", "value")
    val schema = stream(events).schema
    def start() = stream(events).toDF().writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    def written = spark.read.schema(schema).parquet(out)
      .filter($"event_type" === "k").collect().map(_.toSeq.toList).toSet
    val q1 = start()
    try { mem.addData(first); q1.processAllAvailable() }
    finally q1.stop()
    val beforeStop = written
    val q2 = start()
    try rest.foreach { rows => mem.addData(rows); q2.processAllAvailable() }
    finally q2.stop()
    val got = written
    val want = batch((first ++ rest.flatten)
      .toDF("event_type", "event_id", "ts", "value"))
      .filter($"event_type" === "k").collect()
      .map(_.toSeq.toList).toSet
    assert(got == want, s"$name diverged across the restart:\n " +
      s"stream-only: ${(got diff want).take(3)}\n " +
      s"batch-only: ${(want diff got).take(3)}")
    assert(got.nonEmpty, s"$name restart parity is vacuous")
    assert(beforeStop.subsetOf(got) && beforeStop != got,
      s"$name: the first query already wrote every row")
  }

  test("fold twins: a restart from checkpoint with a day open matches the batch twin") {
    val family: Seq[(String, DataFrame => Dataset[_], DataFrame => DataFrame)] =
      Seq(
        ("atr", StreamAssembly.atrStream(_), graft.ops.MarketOps.atrOf),
        ("bollinger", StreamAssembly.bollingerStream(_),
          graft.ops.MarketOps.bollingerOf),
        ("rsi", StreamAssembly.rsiStream(_), graft.ops.MarketOps.rsiOf),
        ("stoch", StreamAssembly.stochStream(_), graft.ops.MarketOps.stochOf),
        ("macd", StreamAssembly.macdStream(_), graft.ops.MarketOps.macdOf),
        ("ewma", StreamAssembly.ewmaStream(_), graft.ops.TimeWindows.ewmaOf),
        ("smaCross", StreamAssembly.smaCrossStream(_),
          graft.ops.MarketOps.smaCrossOf))
    withRocksDb {
      val (before, pump, after) = taRows
      val sentinel = ("zz_sentinel", 0L, day(500), 0.0)
      // the watermark after the pre-gap batch stops inside day 14, so
      // that day is still open in state when the first query stops
      family.foreach { case (name, stream, batch) =>
        restartParity(name, stream, batch, before,
          Seq(pump, after, Seq(sentinel)))
      }
    }
  }

  test("per-event and hour-grain twins: a restart from checkpoint mid-feed matches the batch twin") {
    // 148 rows ten minutes apart (six an hour) around 100.00, spikes at
    // rows 20, 50 and 120, a level shift to 200.00 from row 90, and rows
    // 100..111 missing, so the rate monitor zero-fills two silent hours.
    // The restart after row 40 lands inside cusum's 64-row training
    // prefix, with a hampel ring and open rate hours in state.
    def row(i: Int): Row4 = ("k", i.toLong,
      new java.sql.Timestamp(base + i * 600000L),
      if (i == 20 || i == 50 || i == 120) 500.0
      else (if (i < 90) 100.0 else 200.0) + (i % 5) * 0.25)
    val (first, rest) = (1 to 160).filterNot(i => i >= 100 && i < 112)
      .map(row).splitAt(40)
    val sentinel = ("zz_sentinel", 0L, day(500), 0.0)
    val family: Seq[(String, DataFrame => Dataset[_], DataFrame => DataFrame)] =
      Seq(
        ("hampel", StreamAssembly.hampelStream(_),
          graft.ops.TimeWindows.hampelFlags),
        ("cusum", StreamAssembly.cusumStream(_), StreamAssembly.cusumAgg),
        ("rate", StreamAssembly.rateStream(_), StreamAssembly.rateAgg))
    withRocksDb {
      family.foreach { case (name, stream, batch) =>
        restartParity(name, stream, batch, first, Seq(rest, Seq(sentinel)))
      }
    }
  }

  test("obvStream: the cumulative OBV line round-trips RocksDB") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      // OBV reads volume from the props JSON — 5-column input, volume
      // i+1 so each day moves the cumulative line by a distinct amount
      val (b0, p0, a0) = taRows
      def vol(r: (String, Long, java.sql.Timestamp, Double)) =
        (r._1, r._2, r._3, r._4, s"""{"k":${r._2 + 1}}""")
      val (before, pump, after) = (b0.map(vol), p0.map(vol), a0.map(vol))
      val mem = MemoryStream[(String, Long, java.sql.Timestamp, Double, String)]
      val events = mem.toDF()
        .toDF("event_type", "event_id", "ts", "value", "props")
      val q = StreamAssembly.obvStream(events).toDF().writeStream
        .format("memory").queryName("rocks_obv").outputMode("append").start()
      try {
        mem.addData(before); q.processAllAvailable()
        mem.addData(pump); q.processAllAvailable()
        mem.addData(after); q.processAllAvailable()
        mem.addData(("zz_sentinel", 0L, day(500), 0.0, "{}"))
        q.processAllAvailable()
        val got = spark.sql("SELECT * FROM rocks_obv " +
          "WHERE event_type = 'k'").collect().map(_.toSeq.toList).toSet
        val want = graft.ops.MarketOps.obvOf((before ++ pump ++ after)
          .toDF("event_type", "event_id", "ts", "value", "props"))
          .filter($"event_type" === "k").collect().map(_.toSeq.toList).toSet
        assert(got == want, s"obv diverged on RocksDB:\n stream-only: " +
          s"${(got diff want).take(3)}\n batch-only: ${(want diff got).take(3)}")
        assert(got.size >= 7, s"obv parity surface too small: ${got.size}")
        assertOnRocksDb(q, "obv")
      } finally q.stop()
    }
  }

  test("funnelWindowStream: funnel progress carry round-trips RocksDB") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    withRocksDb {
      val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
      val events = mem.toDF().toDF("user_id", "event_id", "ts", "event_type")
      val q = StreamAssembly.funnelWindowStream(events)
        .toDF().writeStream.format("memory").queryName("rocks_funnel")
        .outputMode("append").start()
      try {
        // the StreamIdleGapSpec lapsed-user scenario, now with the
        // progress carry crossing the RocksDB serialization boundary
        mem.addData(Seq((7L, 1L, day(0), "signup")))
        q.processAllAvailable()
        mem.addData(Seq((8L, 2L, day(80), "view")))
        q.processAllAvailable()
        mem.addData(Seq(
          (7L, 3L, day(100), "signup"),
          (7L, 4L, day(101), "view"),
          (7L, 5L, day(102), "purchase")))
        q.processAllAvailable()
        val got = spark.sql(
          "SELECT step, ts_us FROM rocks_funnel WHERE user_id = 7")
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
        assert(got == Set((1, base * 1000L)),
          s"funnel carry corrupted across RocksDB: $got")
        assertOnRocksDb(q, "funnelWindow")
      } finally q.stop()
    }
  }
}
