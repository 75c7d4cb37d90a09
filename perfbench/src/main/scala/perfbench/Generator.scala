package perfbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

/** Seeded capture generator for the ingest workload.
  *
  * Frames are the golden payload shapes of `graft.normalize.Fixtures` with
  * seeded symbols, sides, sizes and ids, and with every exchange timestamp
  * set to the millisecond the frame is written (`stampMs`). The four WS
  * captures (`<root>/<exchange>.jsonl`) are appended in place, which the
  * replay source's frame index tails; Hyperliquid lines land in
  * `<root>/hyperliquid/` as whole files moved in by an atomic rename, the
  * way a node rolls its hour files.
  *
  * Fixed shares per frame: 3% ping/pong control frames and 2% malformed
  * lines on the WS captures, 2% malformed lines and 5% re-delivered
  * (byte-identical) fills on the Hyperliquid side. Symbols come from a
  * seeded Zipf(1.1) draw over a 64-name roster, so key skew and state size
  * are fixed by the seed. These shares, the skew and the exchange weights
  * below are assumptions, not taken from a real capture: they fix the
  * traffic so runs compare, but they do not claim to be production's.
  *
  * `frame` also returns the unified rows a frame yields under `--all`:
  * binance and bybit feed two pairs each (usdt and coin read the same
  * capture), OKX splits by instrument suffix, aster and hyperliquid feed
  * one pair each, and control frames, malformed lines and re-delivered
  * fills yield nothing. The generator paces on that count.
  */
final class Generator(root: File, seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private val hlDir = new File(root, "hyperliquid")
  private val staging = new File(root, ".staging")
  private val out: Map[String, FileOutputStream] = {
    hlDir.mkdirs(); staging.mkdirs()
    Generator.wsExchanges.map(e => e -> new FileOutputStream(new File(root, s"$e.jsonl"), true)).toMap
  }
  private var hlFiles = 0
  private var tid = 1000000000L + seed % 1000 * 1000000L
  private val recentHl = mutable.ArrayBuffer.empty[String]

  /** Unified rows written so far (the pacing count). */
  var rows = 0L

  private val roster: IndexedSeq[String] =
    (Seq("BTC", "ETH", "SOL", "XRP", "DOGE", "BNB", "SUI", "PEPE") ++
      (0 until 56).map(i => f"C$i%02d")).toIndexedSeq
  private val basePx: IndexedSeq[Double] =
    roster.indices.map(_ => math.pow(10, rnd.nextInt(9) - 3) * (1 + rnd.nextInt(900) / 100.0))
  private val zipfCdf: Array[Double] = {
    val w = roster.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val order = rnd.shuffle(roster.indices.toVector)

  private def symbol(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    order(math.min(if (i >= 0) i else -i - 1, roster.size - 1))
  }
  private def fmt(pattern: String, v: Any): String =
    String.format(java.util.Locale.ROOT, pattern, v.asInstanceOf[AnyRef])
  private def px(s: Int): String =
    fmt("%.6f", basePx(s) * (0.95 + rnd.nextDouble() * 0.1))
  private def sz(): String = fmt("%.3f", 0.001 + rnd.nextInt(100000) / 1000.0)
  private def user(): String = fmt("0x%06x", rnd.nextInt(1 << 24))

  /** One frame for `exchange`, with its unified-row yield. */
  def frame(exchange: String, ts: Long): (String, Int) = {
    val d = rnd.nextDouble()
    val hl = exchange == "hyperliquid"
    if (!hl && d < 0.03)
      (Seq("ping", "pong", """{"op":"pong"}""", """{"event":"pong"}""")(rnd.nextInt(4)), 0)
    else if (if (hl) d < 0.02 else d < 0.05) (exchange match {
      case "hyperliquid" =>
        s"""{"local_time":"x","block_time":$ts,"events":[["0xabc",{"liquidation":{"""
      case "okx" => """{"arg":{"channel":"liquidation-orders"},"data":[{"instId""""
      case "bybit" => s"""{"topic":"allLiquidation.BTCUSDT","ts":${ts / 10}"""
      case _ => s"""{"e":"forceOrder","E":${ts / 100000}"""
    }, 0)
    else exchange match {
      case "binance" | "aster" =>
        val k = if (exchange == "binance") 2 else 1
        def ev(): String = {
          val s = symbol(); val p = px(s); val q = sz()
          val sd = if (rnd.nextBoolean()) "SELL" else "BUY"
          if (rnd.nextBoolean())
            s"""{"e":"forceOrder","E":$ts,"o":{"s":"${roster(s)}USDT","S":"$sd","o":"LIMIT","f":"IOC","q":"$q","p":"$p","ap":"$p","X":"FILLED","l":"$q","z":"$q","T":$ts}}"""
          else
            s"""{"e":"forceOrder","E":$ts,"o":{"s":"${roster(s)}USDT","S":"$sd","q":"$q","p":"$p","z":"$q","T":$ts}}"""
        }
        if (rnd.nextInt(4) == 0) (s"[${ev()},${ev()}]", 2 * k) else (ev(), k)
      case "bybit" =>
        val s = symbol(); val p = px(s); val q = sz()
        if (rnd.nextInt(3) == 0)
          (s"""{"topic":"liquidation.${roster(s)}USDT","ts":$ts,"data":{"updatedTimeE6":"${ts * 1000}","symbol":"${roster(s)}USDT","side":"${if (rnd.nextBoolean()) "Buy" else "Sell"}","size":"$q","price":"$p"}}""", 2)
        else {
          val n = 1 + rnd.nextInt(2)
          val rows = (1 to n).map(_ => s"""{"T":$ts,"s":"${roster(s)}USDT","S":"${if (rnd.nextBoolean()) "Buy" else "Sell"}","v":"${sz()}","p":"${px(s)}"}""")
          (s"""{"topic":"allLiquidation.${roster(s)}USDT","ts":$ts,"data":[${rows.mkString(",")}]}""", 2 * n)
        }
      case "okx" =>
        val s = symbol(); val p = px(s)
        val inst = s"${roster(s)}-${if (rnd.nextInt(3) == 0) "USD" else "USDT"}-SWAP"
        val (ps, sd) = if (rnd.nextBoolean()) ("long", "sell") else ("short", "buy")
        val fill = if (rnd.nextBoolean()) s""","fillPx":"${px(s)}"""" else ""
        (s"""{"arg":{"channel":"liquidation-orders","instType":"SWAP"},"data":[{"instType":"SWAP","instId":"$inst","details":[{"posSide":"$ps","side":"$sd","bkPx":"$p"$fill,"sz":"${sz()}","ts":"$ts"}]}]}""", 1)
      case "hyperliquid" =>
        if (recentHl.nonEmpty && d < 0.07) (recentHl(rnd.nextInt(recentHl.size)), 0)
        else {
          val s = symbol(); val u = user(); tid += 1
          val (dir, side) = if (rnd.nextBoolean()) ("Close Long", "A") else ("Close Short", "B")
          val sign = if (side == "A") "-" else ""
          val iso = java.time.Instant.ofEpochMilli(ts).toString
          val line = s"""{"local_time":"$iso","block_time":$ts,"block_number":${tid / 7},"events":[["$u",{"coin":"${roster(s)}","px":"${px(s)}","sz":"$sign${sz()}","dir":"$dir","side":"$side","fee":"0.1","feeToken":"USDC","hash":"0x${tid.toHexString}","tid":$tid,"liquidation":{"liquidatedUser":"$u","markPx":"${px(s)}","method":"market"}}],["0xother",{"coin":"${roster(s)}","px":"${px(s)}","sz":"0.5","dir":"Open Long","side":"B","tid":${tid + 1}}]]}"""
          tid += 1
          if (recentHl.size >= 256) recentHl.remove(0)
          recentHl += line
          (line, 1)
        }
    }
  }

  private val weights = Seq("binance" -> 0.30, "aster" -> 0.10, "bybit" -> 0.20,
    "okx" -> 0.15, "hyperliquid" -> 0.25)

  private def pick(): String = {
    var u = rnd.nextDouble()
    weights.find { case (_, w) => u -= w; u < 0 }.map(_._1).getOrElse("hyperliquid")
  }

  /** Append frames stamped `stampMs` until at least `n` more unified rows
    * are written; returns the rows written. */
  def append(n: Long, stampMs: Long): Long = {
    val buf = mutable.Map.empty[String, java.lang.StringBuilder]
    var made = 0L
    while (made < n) {
      val ex = pick()
      val (line, r) = frame(ex, stampMs)
      buf.getOrElseUpdate(ex, new java.lang.StringBuilder).append(line).append('\n')
      made += r
    }
    buf.foreach {
      case ("hyperliquid", sb) =>
        hlFiles += 1
        val name = f"node_fills_$hlFiles%06d.jsonl"
        val tmp = new File(staging, name)
        Files.write(tmp.toPath, sb.toString.getBytes(UTF_8))
        Files.move(tmp.toPath, new File(hlDir, name).toPath,
          StandardCopyOption.ATOMIC_MOVE)
      case (ex, sb) =>
        val o = out(ex); o.write(sb.toString.getBytes(UTF_8)); o.flush()
    }
    rows += made
    made
  }

  def close(): Unit = out.values.foreach(_.close())
}

object Generator {
  val wsExchanges: Seq[String] = Seq("binance", "aster", "bybit", "okx")

  /** Every byte of a capture tree, keyed by relative path. */
  def snapshot(root: File): Map[String, Seq[Byte]] = {
    def walk(f: File, rel: String): Seq[(String, Seq[Byte])] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
          .flatMap(c => walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else Seq(rel -> Files.readAllBytes(f.toPath).toSeq)
    walk(root, "")
  }.toMap

  /** Generates the same seeded schedule twice under a fixed clock and
    * reports whether the two capture trees are byte-identical. */
  def deterministic(dir: File, seed: Long, ticks: Int, rowsPerTick: Int): Boolean = {
    val trees = Seq("a", "b").map { n =>
      val root = new File(dir, n)
      val g = new Generator(root, seed)
      try (1 to ticks).foreach(t => g.append(rowsPerTick, 1700000000000L + t * 100L))
      finally g.close()
      snapshot(root)
    }
    trees.head.nonEmpty && trees.head == trees(1)
  }
}
