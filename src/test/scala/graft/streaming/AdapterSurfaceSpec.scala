package graft.streaming

import org.apache.spark.sql.functions.lit

import graft.SparkSpec
import graft.normalize.{Fixtures, Normalizers}
import graft.sources.SymbolDiscovery

/** Specs for the remaining adapter-surface pieces: Bybit REST symbol
  * discovery → chunked subscription frames (liq-stream
  * `bybit_adapter.py:108-143`) and the color-coded console line format
  * (`stream.py:64-78`). */
class AdapterSurfaceSpec extends SparkSpec {

  private val restFixture =
    """{"retCode":0,"result":{"category":"linear","list":[
      {"symbol":"BTCUSDT","status":"Trading"},
      {"symbol":"ETHUSDT","status":"Trading"},
      {"symbol":"","status":"Trading"},
      {"status":"Trading"},
      {"symbol":"SOLUSDT","status":"Trading"}]}}""".replaceAll("\n\\s*", "")

  test("bybit discovery: result.list[].symbol, empty/missing skipped, order kept") {
    val syms = SymbolDiscovery.parseInstruments(spark, restFixture)
    assert(syms == Seq("BTCUSDT", "ETHUSDT", "SOLUSDT"))
  }

  test("bybit subscribe: chunked frames with allLiquidation/legacy prefixes") {
    val syms = (1 to 5).map(i => s"SYM$i")
    val frames = SymbolDiscovery.subscribeFrames(syms, chunk = 2)
    assert(frames.size == 3)     // 2 + 2 + 1
    assert(frames.head ==
      """{"op":"subscribe","args":["allLiquidation.SYM1","allLiquidation.SYM2"]}""")
    assert(frames.last == """{"op":"subscribe","args":["allLiquidation.SYM5"]}""")
    // legacy topic prefix via use_all=False (bybit_adapter.py:47,126)
    val legacy = SymbolDiscovery.subscribeFrames(Seq("BTCUSDT"), useAll = false)
    assert(legacy == Seq("""{"op":"subscribe","args":["liquidation.BTCUSDT"]}"""))
    // chunk floor of 1 (bybit_adapter.py:52)
    assert(SymbolDiscovery.subscribeFrames(syms, chunk = 0).size == 5)
  }

  test("http seam: discovery through the transport equals the direct parse path") {
    import graft.sources.RecordedHttpTransport
    val http = new RecordedHttpTransport(
      Map(SymbolDiscovery.instrumentsUrl("linear") -> restFixture))
    val frames = SymbolDiscovery.discover(spark, http, chunk = 2)
    // no behavior change: the seam yields exactly what the direct
    // parse + chunk path yields
    val direct = SymbolDiscovery.subscribeFrames(
      SymbolDiscovery.parseInstruments(spark, restFixture), chunk = 2)
    assert(frames == direct && frames.size == 2)
    // and the request that went through the seam is the reference's GET
    assert(http.requested ==
      Seq("https://api.bybit.com/v5/market/instruments-info?category=linear"))
  }

  test("ws seam: transport pumps into the capture file the replay source serves") {
    import java.nio.file.{Files, Paths}
    import graft.sources.{RecordedWsTransport, WsTransport}
    val dir = graft.ops.tempDir("ws_seam")
    val capture = s"$dir/bybit.jsonl"
    val dataFrames = Seq(
      """{"topic":"allLiquidation.BTCUSDT","ts":1739502302929,"data":[{"T":1739502302929,"s":"BTCUSDT","S":"Sell","v":"2","p":"30000"}]}""",
      """{"op":"pong"}""",
      """{"topic":"allLiquidation.ETHUSDT","ts":1739502302930,"data":[{"T":1739502302930,"s":"ETHUSDT","S":"Buy","v":"1","p":"2000"}]}""")
    val subs = SymbolDiscovery.subscribeFrames(Seq("BTCUSDT", "ETHUSDT"))
    val ws = new RecordedWsTransport(dataFrames)
    val n = WsTransport.pumpTo(ws, "wss://stream.bybit.com/v5/public/linear",
      subs, capture)
    assert(n == 3, "every received frame lands in the capture")
    // the handshake went through the seam exactly once, subscribe frames intact
    assert(ws.connections ==
      Seq(("wss://stream.bybit.com/v5/public/linear", subs)))
    // the capture is byte-compatible with the replay source's line framing
    assert(Files.readAllLines(Paths.get(capture)).size() == 3)
    // drive the index + reader directly (the same machinery the stream
    // uses), confirming control frames drop and data frames survive
    val idx = graft.sources.WsReplay.indexFor(capture)
    assert(idx.refresh() == 3)
    val reader = new graft.sources.WsReplayReader(capture, 0L, 3L,
      idx.byteOf(0L), idx.byteOf(3L))
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    while (reader.next()) rows += reader.get().getUTF8String(1).toString
    reader.close()
    assert(rows.size == 2 && rows.forall(_.contains("allLiquidation")),
      "pong dropped in the source, both data frames replayed")
  }

  test("console line: colors by side, dim notional, ansi strip for --no-color") {
    import spark.implicits._
    val unified = Normalizers.binance(Fixtures.binance.toDF("raw"), "usdt", lit(0L))
    val colored = unified.select(ConsoleSink.line(colors = true).as("l"))
      .collect().map(_.getString(0))
    val plain = unified.select(ConsoleSink.line(colors = false).as("l"))
      .collect().map(_.getString(0))
    assert(colored.nonEmpty && colored.length == plain.length)
    // every colored long/short line carries the right ANSI code
    colored.foreach { l =>
      if (l.contains("| \u001b[31m")) assert(l.contains("\u001b[31mlong\u001b[0m"))
      if (l.contains("| \u001b[32m")) assert(l.contains("\u001b[32mshort\u001b[0m"))
      assert(l.contains("(\u001b[2mnotional="))
    }
    // --no-color output is the colored output minus ANSI, shaped like the
    // reference's f-string
    assert(plain.forall(!_.contains("\u001b")))
    plain.foreach { l =>
      assert(l.matches("""\[binance/usdt\] \S+ \| (long|short)? \| qty=\S+ @ \S+ \(notional=\S+\)"""), l)
    }
    // the strip really is colored-minus-ansi
    assert(plain.toSeq == colored.toSeq.map(_.replaceAll("\u001b\\[[0-9;]*m", "")))
  }
}
