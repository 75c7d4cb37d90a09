package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.normalize.Normalizers
import graft.sources.WsReplay

/** End-to-end spec for the WebSocket-shaped replay source
  * ([[graft.sources.WsReplayProvider]]): admission-controlled micro-batches,
  * control-frame dropping, and exactly-once delivery across a checkpoint
  * restart mid-stream — the source-contract analog of the reference
  * adapters' reconnect loop (liq-stream `binance_adapter.py:96-129`). */
class WsReplaySpec extends SparkSpec {

  private def tmp(prefix: String) = graft.ops.tempDir(prefix)

  /** Every row of one planned batch `[s, e)`, as (frame id, frame). */
  private def readBatch(stream: graft.sources.WsReplayMicroBatchStream,
      s: Long, e: Long): Seq[(Long, String)] = {
    import graft.sources.WsOffset
    val factory = new graft.sources.WsReplayReaderFactory
    stream.planInputPartitions(WsOffset(s), WsOffset(e)).toSeq.flatMap { p =>
      val r = factory.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      while (r.next()) out += ((r.get().getLong(0), r.get().getUTF8String(1).toString))
      r.close()
      out
    }
  }

  private def frame(sym: String, ts: Long): String =
    s"""{"e":"forceOrder","E":$ts,"o":{"s":"$sym","S":"SELL","q":"2","p":"10","l":"2","T":$ts}}"""

  test("control-frame classifier matches the reference's ping/pong handling") {
    assert(WsReplay.isControlFrame("ping"))                      // okx string ping
    assert(WsReplay.isControlFrame(" pong \n"))
    assert(WsReplay.isControlFrame("""{"op":"ping"}"""))         // bybit heartbeat
    assert(WsReplay.isControlFrame("""{"event":"pong"}"""))      // okx json pong
    assert(WsReplay.isControlFrame("""{"op":"pong","success":true,"ret_msg":"pong"}"""))
    assert(!WsReplay.isControlFrame(frame("BTCUSDT", 1L)))       // data frame
    assert(!WsReplay.isControlFrame("""{"op":"subscribe","args":["ping-topic"]}"""))
    // exact shapes only: a subscribe ack with a topic literally named
    // "ping", or ping/pong below the top level, is DATA, not a heartbeat
    assert(!WsReplay.isControlFrame("""{"op":"subscribe","args":["ping"]}"""))
    assert(!WsReplay.isControlFrame("""{"data":{"event":"ping"}}"""))
    assert(!WsReplay.isControlFrame("""{"event":"subscribe","arg":{"channel":"ping"}}"""))
    assert(!WsReplay.isControlFrame("""not json with "op" and "ping" words"""))
  }

  test("frame index: appended bytes are scanned once, old bytes never re-read") {
    import java.nio.file.StandardOpenOption.APPEND
    val file = s"${tmp("ws_idx")}/frames.jsonl"
    val first = (1 to 4).map(i => frame(s"IDX${i}USDT", i.toLong)).mkString("\n")
    Files.write(Paths.get(file), first.getBytes)
    val fi = new graft.sources.FrameIndex(file)
    assert(fi.refresh() == 4)
    val len1 = Paths.get(file).toFile.length
    assert(fi.bytesScanned == len1, "first refresh scans the whole file once")
    assert(fi.refresh() == 4 && fi.bytesScanned == len1, "idle refresh reads nothing")
    assert(fi.byteOf(0) == 0 && fi.byteOf(4) == len1)
    val more = "\n" + (5 to 7).map(i => frame(s"IDX${i}USDT", i.toLong)).mkString("\n")
    Files.write(Paths.get(file), more.getBytes, APPEND)
    val len2 = Paths.get(file).toFile.length
    assert(fi.refresh() == 7)
    assert(fi.bytesScanned == len2,
      s"append must cost only the appended bytes: scanned ${fi.bytesScanned}, file $len2")
    // in-place truncation starts a NEW GENERATION (the reference tail's
    // reopen, hyperliquid_adapter.py:96-101): ids stay monotonic — the 7
    // old ids freeze as a lost (byteless) range, the rewritten file's 4
    // frames continue the sequence as ids 7..10, and no id ever points at
    // different bytes than it was committed against
    Files.write(Paths.get(file), first.getBytes)
    assert(fi.refresh() == 11, "4 new-generation frames continue after 7 old ids")
    assert(fi.rotations == 1 && fi.liveFloor == 7)
    assert(fi.byteOf(0) == 0 && fi.byteOf(7) == 0,
      "lost ids clamp to empty extents; the new generation starts at byte 0")
    assert(fi.byteOf(11) == len1)
    assert(fi.bytesScanned == len2 + len1,
      "the new generation is scanned once, old generations never re-read")
  }

  test("generation state survives a driver restart: same inode resumes the id space") {
    val file = s"${tmp("ws_gen_same")}/frames.jsonl"
    Files.write(Paths.get(file),
      (1 to 4).map(i => frame(s"A${i}USDT", i.toLong)).mkString("\n").getBytes)
    val fi1 = new graft.sources.FrameIndex(file)
    assert(fi1.refresh() == 4)
    // in-place truncation (same inode): rebase to base=4, total=7
    Files.write(Paths.get(file),
      (1 to 3).map(i => frame(s"B${i}USDT", i.toLong)).mkString("\n").getBytes)
    assert(fi1.refresh() == 7 && fi1.liveFloor == 4)
    // "driver restart": a FRESH index on the same path must restore the
    // rebase from the sidecar, not restart ids at 0 — committed offsets
    // (4..7) keep naming exactly the bytes they were committed against
    val fi2 = new graft.sources.FrameIndex(file)
    assert(fi2.refresh() == 7, "restored index must continue the id space")
    assert(fi2.liveFloor == 4 && fi2.rotations == 0)
    assert(fi2.byteOf(4) == 0 && fi2.byteOf(7) == fi1.byteOf(7),
      "restored ids map to the same bytes as before the restart")
  }

  test("rotation across a driver restart rebases past every previously-assigned id") {
    val file = s"${tmp("ws_gen_rot")}/frames.jsonl"
    Files.write(Paths.get(file),
      (1 to 4).map(i => frame(s"A${i}USDT", i.toLong)).mkString("\n").getBytes)
    assert(new graft.sources.FrameIndex(file).refresh() == 4)
    // rotation WHILE THE DRIVER IS DOWN: delete + recreate (new inode)
    Files.delete(Paths.get(file))
    Files.write(Paths.get(file),
      (1 to 2).map(i => frame(s"N${i}USDT", i.toLong)).mkString("\n").getBytes)
    val fi2 = new graft.sources.FrameIndex(file)
    // without the sidecar this would report 2 frames with ids 0..2 — ids
    // a previous life already committed against DIFFERENT bytes
    assert(fi2.refresh() == 6,
      "new generation must continue past the persisted id high-water")
    assert(fi2.liveFloor == 4 && fi2.rotations == 1)
    assert(fi2.byteOf(3) == 0 && fi2.byteOf(4) == 0,
      "the lost generation's ids clamp to empty extents")
  }

  test("restart fingerprint: an in-place content swap to a LONGER file is a new generation") {
    val file = s"${tmp("ws_gen_fp")}/frames.jsonl"
    Files.write(Paths.get(file),
      (1 to 3).map(i => frame(s"A${i}USDT", i.toLong)).mkString("\n").getBytes)
    assert(new graft.sources.FrameIndex(file).refresh() == 3)
    // rotation WHILE DOWN that defeats the inode+length heuristic: the
    // replacement reuses the same path AND inode (in-place truncating
    // overwrite) and is LONGER than the persisted scan point, so only the
    // persisted head fingerprint can tell the bytes changed — without it
    // the old id space would silently resume over different bytes
    Files.write(Paths.get(file),
      (1 to 4).map(i => frame(s"LONGER${i}USDT", i.toLong)).mkString("\n").getBytes)
    val fi2 = new graft.sources.FrameIndex(file)
    assert(fi2.refresh() == 7,
      "different head bytes must rebase past the persisted id high-water")
    assert(fi2.liveFloor == 3 && fi2.rotations == 1)
    // and the resumed-generation path still works when the head REALLY is
    // the same bytes (append-only growth while down)
    import java.nio.file.StandardOpenOption.APPEND
    Files.write(Paths.get(file),
      ("\n" + frame("APPENDUSDT", 9L)).getBytes, APPEND)
    val fi3 = new graft.sources.FrameIndex(file)
    assert(fi3.refresh() == 8 && fi3.liveFloor == 3 && fi3.rotations == 0,
      "an appended-to capture with the same head resumes, not rebases")
  }

  test("a batch splits into seekable range partitions covering the slice exactly") {
    import graft.sources.{WsOffset, WsReplayMicroBatchStream, WsReplayPartition, WsReplayReaderFactory}
    val file = s"${tmp("ws_parts")}/frames.jsonl"
    val lines = (1 to 10).map(i => frame(f"PRT$i%02dUSDT", i.toLong))
    Files.write(Paths.get(file), lines.mkString("\n").getBytes)
    val stream = new WsReplayMicroBatchStream(file, 100, framesPerPartition = 3)
    val partitions = stream.planInputPartitions(WsOffset(0L), WsOffset(10L))
    // one file: each partition is one (file, byte range) slice
    val slices = partitions.map(_.asInstanceOf[WsReplayPartition].slices)
    assert(slices.forall(_.size == 1))
    val parts = slices.map(_.head)
    assert(parts.map(p => p.end - p.start).toSeq == Seq(3L, 3L, 3L, 1L))
    assert(parts.head.startByte == 0L)
    assert(parts.last.endByte == Paths.get(file).toFile.length)
    parts.sliding(2).foreach { case Array(a, b) =>
      assert(a.endByte == b.startByte, "byte extents must tile the slice")
    }
    // each reader yields exactly its slice, ids contiguous across readers
    val factory = new WsReplayReaderFactory
    val rows = partitions.flatMap { p =>
      val r = factory.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      while (r.next()) out += ((r.get().getLong(0), r.get().getUTF8String(1).toString))
      r.close()
      out
    }
    assert(rows.map(_._1).toSeq == (0L until 10L))
    assert(rows.map(_._2).toSeq == lines)
  }

  test("ws-replay: paced batches, ping/pong dropped, exactly-once across restart") {
    val framesFile = s"${tmp("ws_frames")}/frames.jsonl"
    // 40 data frames with a ping/pong heartbeat every 10th — control frames
    // advance the offset but must emit no rows
    val lines = (1 to 40).flatMap { i =>
      val f = frame(f"SYM$i%03dUSDT", 1710000000000L + i * 1000L)
      if (i % 10 == 0) Seq("""{"op":"ping"}""", f) else Seq(f)
    }
    Files.write(Paths.get(framesFile), lines.mkString("", "\n", "\n").getBytes)

    val outDir = tmp("ws_out"); val ckpt = tmp("ws_ckpt")
    def start() = {
      val raw = spark.readStream
        .format("graft.sources.WsReplayProvider")
        .option("path", framesFile)
        .option("framesPerBatch", 2)
        .option("framesPerPartition", 1) // exercise multi-partition batches
        .load()
      Normalizers.binance(raw.select(col("raw")), "usdt")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(100L))
        .format("parquet").option("path", outDir)
        .start()
    }

    // phase 1: stop mid-stream, shortly after the first committed batch
    val q1 = start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (q1.recentProgress.map(_.numInputRows).sum == 0 &&
          System.currentTimeMillis() < deadline) Thread.sleep(25)
    } finally q1.stop()
    val mid = spark.read.parquet(outDir).count()
    assert(mid > 0, "phase 1 should commit at least one micro-batch")
    assert(mid < 40, s"phase 1 should stop mid-stream, saw $mid rows")

    // phase 2: restart from the checkpoint, drain the rest
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir)
    // exactly-once: all 40 data frames, none duplicated, pings gone
    assert(out.count() == 40)
    assert(out.select("symbol").distinct().count() == 40)
    assert(out.select("qty").collect().forall(_.getDouble(0) == 2.0))
  }

  test("frames appended to the capture file flow into later micro-batches") {
    import java.nio.file.StandardOpenOption.APPEND
    val framesFile = s"${tmp("ws_live")}/frames.jsonl"
    Files.write(Paths.get(framesFile),
      (1 to 4).map(i => frame(s"AAA${i}USDT", 1710000000000L + i))
        .mkString("", "\n", "\n").getBytes)
    val outDir = tmp("ws_live_out"); val ckpt = tmp("ws_live_ckpt")
    val raw = spark.readStream
      .format("graft.sources.WsReplayProvider")
      .option("path", framesFile)
      .option("framesPerBatch", 10)
      .load()
    val q = Normalizers.binance(raw.select(col("raw")), "usdt")
      .writeStream
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 4)
      // a live capture process appends more frames — the next trigger's
      // recount must pick them up
      Files.write(Paths.get(framesFile),
        (5 to 7).map(i => frame(s"AAA${i}USDT", 1710000000000L + i))
          .mkString("", "\n", "\n").getBytes, APPEND)
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 7)
    } finally q.stop()
  }

  /** The composed rotation-across-restart integration the `.gen` sidecar
    * exists for (the reference's rotation-surviving tail,
    * `hyperliquid_adapter.py:96-101` + `:307-312`, straddling a process
    * restart): a running checkpointed query is KILLED mid-capture, the
    * capture rotates while the driver is down, and a restart from the SAME
    * Spark checkpoint must (a) never reuse a committed frame id for
    * different bytes, (b) drop the lost generation's unread slice as empty
    * (the reference's "frames during the outage are lost" contract), and
    * (c) deliver every new-generation frame exactly once with ids past the
    * persisted high-water. `rotate` swaps the capture while "down";
    * the driver-restart analog is evicting the cached index so a FRESH
    * FrameIndex must restore from the sidecar, as a new JVM would. */
  private def restartRotationCase(tag: String)(rotate: (String, Seq[String]) => Unit): Unit = {
    val framesFile = s"${tmp(s"ws_rr_$tag")}/frames.jsonl"
    val oldLines = (1 to 40).map(i => frame(f"OLD$i%03dUSDT", 1710000000000L + i))
    Files.write(Paths.get(framesFile), oldLines.mkString("", "\n", "\n").getBytes)
    val outDir = tmp(s"ws_rr_${tag}_out"); val ckpt = tmp(s"ws_rr_${tag}_ckpt")
    def start() = spark.readStream
      .format("graft.sources.WsReplayProvider")
      .option("path", framesFile)
      .option("framesPerBatch", 2) // paced: the kill lands mid-capture
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(100L))
      .format("parquet").option("path", outDir)
      .start()

    // phase 1: kill mid-capture, after at least one committed batch
    val q1 = start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (q1.recentProgress.map(_.numInputRows).sum == 0 &&
          System.currentTimeMillis() < deadline) Thread.sleep(25)
    } finally q1.stop()
    val phase1 = spark.read.parquet(outDir)
      .select("frame_id").collect().map(_.getLong(0)).sorted
    assert(phase1.nonEmpty, "phase 1 should commit at least one micro-batch")
    assert(phase1.length < 40, s"the kill must land mid-capture, saw ${phase1.length} rows")

    // driver down: rotate the capture, then evict the cached index so the
    // restart builds a fresh one that can only know the old generation's
    // id space through the sidecar
    val newLines = (1 to 5).map(i => frame(f"NEW$i%03dUSDT", 1710000100000L + i))
    rotate(framesFile, newLines)
    graft.sources.WsReplay.evictIndex(framesFile)

    // phase 2: restart from the SAME checkpoint
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir).select("frame_id", "raw")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ids = out.map(_._1)
    assert(ids.distinct.length == ids.length,
      "no frame id may ever be emitted twice across the restart+rotation")
    // every id names the same bytes it was committed against: phase-1 ids
    // still carry OLD content, and no OLD row beyond phase 1's commits
    // exists (the lost generation's unread slice yielded nothing)
    val oldRows = out.filter(_._2.contains("OLD"))
    assert(oldRows.map(_._1).sorted.toSeq == phase1.toSeq,
      "old-generation rows must be exactly phase 1's committed slice")
    // the new generation rebased past the persisted id high-water (40
    // frames were indexed before the kill even if fewer were committed)
    val newRows = out.filter(_._2.contains("NEW"))
    assert(newRows.length == 5, "every new-generation frame arrives exactly once")
    assert(newRows.map(_._1).min >= 40,
      s"new-generation ids must start past the persisted high-water, got ${newRows.map(_._1).min}")
    assert(out.length == phase1.length + 5)
  }

  test("checkpointed restart across delete+recreate rotation while down (new inode)") {
    restartRotationCase("inode") { (file, lines) =>
      Files.delete(Paths.get(file))
      Files.write(Paths.get(file), lines.mkString("", "\n", "\n").getBytes): Unit
    }
  }

  test("checkpointed restart across in-place truncation while down (same inode, shorter)") {
    restartRotationCase("trunc") { (file, lines) =>
      // truncating overwrite keeps the inode: only the persisted
      // scanned-length (and head fingerprint) can tell the bytes changed
      Files.write(Paths.get(file), lines.mkString("", "\n", "\n").getBytes): Unit
    }
  }

  test("in-place truncation mid-stream: the stream resumes, no duplicates, no crash") {
    val framesFile = s"${tmp("ws_rot")}/frames.jsonl"
    Files.write(Paths.get(framesFile),
      (1 to 4).map(i => frame(s"OLD${i}USDT", 1710000000000L + i))
        .mkString("", "\n", "\n").getBytes)
    val outDir = tmp("ws_rot_out"); val ckpt = tmp("ws_rot_ckpt")
    val raw = spark.readStream
      .format("graft.sources.WsReplayProvider")
      .option("path", framesFile)
      .option("framesPerBatch", 10)
      .load()
    val q = Normalizers.binance(raw.select(col("raw")), "usdt")
      .writeStream
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 4)
      // the capture is truncated IN PLACE (a log rotation that reuses the
      // path, hyperliquid_adapter.py:96-101): the source must detect the
      // shrink, rebase to the new generation, and keep streaming — the old
      // behavior errored the stream here
      Files.write(Paths.get(framesFile),
        (1 to 2).map(i => frame(s"NEW${i}USDT", 1710000001000L + i))
          .mkString("", "\n", "\n").getBytes)
      q.processAllAvailable()
      val out = spark.read.parquet(outDir)
      assert(out.count() == 6, "2 new-generation frames after the 4 old ones")
      assert(out.select("symbol").distinct().count() == 6,
        "no frame may be emitted twice across the rotation")
    } finally q.stop()
  }

  test("a trigger that lands mid-line leaves that frame whole for a later trigger") {
    import java.nio.file.StandardOpenOption.APPEND
    val framesFile = s"${tmp("ws_midline")}/frames.jsonl"
    val Seq(a, b, c, d) = Seq("AAA", "BBB", "CCC", "DDD").map(s => frame(s"${s}USDT", 1L))
    // two whole frames and the first half of a third: the capture process
    // has not written CCC's newline yet
    Files.write(Paths.get(framesFile),
      s"$a\n$b\n${c.take(c.length / 2)}".getBytes)
    val outDir = tmp("ws_midline_out"); val ckpt = tmp("ws_midline_ckpt")
    val q = Normalizers.binance(spark.readStream
        .format("graft.sources.WsReplayProvider")
        .option("path", framesFile)
        .load().select(col("raw")), "usdt")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(100L))
      .format("parquet").option("path", outDir)
      .start()
    def symbols() = spark.read.parquet(outDir).select("symbol")
      .collect().map(_.getString(0)).sorted.toSeq
    try {
      q.processAllAvailable()
      assert(symbols() == Seq("AAAUSDT", "BBBUSDT"))
      Files.write(Paths.get(framesFile),
        s"${c.drop(c.length / 2)}\n$d\n".getBytes, APPEND)
      q.processAllAvailable()
      assert(symbols() == Seq("AAAUSDT", "BBBUSDT", "CCCUSDT", "DDDUSDT"))
    } finally q.stop()
    // AvailableNow (ReadAllAvailable) reads a final line without a newline
    val last = s"${tmp("ws_midline_now")}/frames.jsonl"
    Files.write(Paths.get(last), s"$a\n$b".getBytes)
    val now = spark.readStream.format("graft.sources.WsReplayProvider")
      .option("path", last).load()
      .writeStream.option("checkpointLocation", tmp("ws_midline_now_ckpt"))
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("ws_midline_now").start()
    now.awaitTermination(60000)
    assert(spark.table("ws_midline_now").count() == 2)
  }

  test("directory mode: one id sequence over the hour files, newest tailed, restartable") {
    import java.nio.file.StandardOpenOption.APPEND
    import graft.sources.{HourFileIndex, WsOffset, WsReplayMicroBatchStream}
    val dir = tmp("ws_hours")
    def write(name: String, body: String, opts: java.nio.file.OpenOption*) =
      Files.write(Paths.get(s"$dir/$name"), body.getBytes, opts: _*)
    // numeric order: hour 9 before hour 10, though "10" < "9" as text
    assert(Seq("h10.json", "h9.json", "h2.json").sorted(HourFileIndex.order) ==
      Seq("h2.json", "h9.json", "h10.json"))
    write("h10.json", "c1\nc2\n")
    write("h9.json", "b1\nb2\nb3") // frozen by h10: its last line counts
    val idx = new HourFileIndex(dir)
    assert(idx.refresh() == 5 && idx.wholeFrames == 5)
    assert(idx.segments.map(s => (s.first, s.end)) == Seq((0L, 3L), (3L, Long.MaxValue)))
    // the tailed file grows; a frozen one's appended lines are never read
    write("h10.json", "c3\nc", APPEND)
    write("h9.json", "\nlate\n", APPEND)
    assert(idx.refresh() == 7 && idx.wholeFrames == 6)
    // a newer hour freezes h10 with its open line; a file sorting before
    // the tail arrives too late
    write("h11.json", "d1\n")
    write("h3.json", "x\n")
    assert(idx.refresh() == 8 && idx.segments.map(_.first) == Seq(0L, 3L, 7L))
    // every piece of a batch across three files, each line under its id
    val stream = new WsReplayMicroBatchStream(dir, 100, framesPerPartition = 4)
    val all = Seq("b1", "b2", "b3", "c1", "c2", "c3", "c", "d1")
    assert(readBatch(stream, 0L, 8L) == all.indices.map(_.toLong).zip(all))
    assert(stream.planInputPartitions(WsOffset(0L), WsOffset(8L)).length == 2)
    // a restarted driver restores the same files and ids from the hidden
    // sidecar, and only hidden files were added beside the hour files
    val again = new HourFileIndex(dir)
    def ranges(i: HourFileIndex) = i.segments.map(s => (s.path, s.first, s.end))
    assert(again.refresh() == 8 && ranges(again) == ranges(idx))
    assert(spark.read.text(dir).count() == 4 + 4 + 1 + 1)
    // --hl-no-catchup: start at the first file within an hour of the newest
    val hourAgo = System.currentTimeMillis() - 2 * 3600 * 1000L
    Seq("h9.json", "h10.json").foreach(n => new java.io.File(s"$dir/$n").setLastModified(hourAgo))
    assert(again.latestHourStart == 7L)
  }

  test("directory mode: a commit drops frozen files' indexes, a restart indexes lazily") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{HourFileIndex, WsOffset, WsReplayMicroBatchStream}
    val dir = tmp("ws_hours_held")
    Seq("h1.json" -> "a1\na2\n", "h2.json" -> "b1\n", "h3.json" -> "c1\nc2\n").foreach {
      case (name, body) => Files.write(Paths.get(s"$dir/$name"), body.getBytes)
    }
    def files(names: String*) = names.map(n => s"$dir/$n").toSet
    val stream = new WsReplayMicroBatchStream(dir, 100)
    val idx = WsReplay.hourFilesFor(dir)
    assert(stream.latestOffset(WsOffset(0L), ReadLimit.maxRows(100)) == WsOffset(5L))
    assert(idx.heldFiles == files("h1.json", "h2.json", "h3.json"))
    // a commit inside h2 keeps its index; one past its last id drops it;
    // the tailed file keeps its index
    stream.commit(WsOffset(2L))
    assert(idx.heldFiles == files("h2.json", "h3.json"))
    stream.commit(WsOffset(5L))
    assert(idx.heldFiles == files("h3.json"))
    // a batch planned over dropped files indexes them again, same ids
    val all = Seq("a1", "a2", "b1", "c1", "c2")
    assert(readBatch(stream, 0L, 5L) == all.indices.map(_.toLong).zip(all))
    assert(idx.heldFiles == files("h1.json", "h2.json", "h3.json"))
    // a restarted driver indexes the tailed file only
    val again = new HourFileIndex(dir)
    assert(again.heldFiles.isEmpty)
    assert(again.refresh() == 5 && again.heldFiles == files("h3.json"))
    assert(again.indexed(2L, 3L).map(_._1.path) == Seq(s"$dir/h2.json"))
    assert(again.heldFiles == files("h2.json", "h3.json"))
    // catchUp = false means a directory; a capture file rejects it
    intercept[IllegalArgumentException](
      new WsReplayMicroBatchStream(s"$dir/h1.json", 100, catchUp = false))
  }
}
