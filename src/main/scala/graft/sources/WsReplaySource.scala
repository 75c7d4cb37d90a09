package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** WebSocket-shaped streaming source: replays recorded frames through the
  * DataSource v2 `MicroBatchStream` contract.
  *
  * The reference's WS adapters (liq-stream `binance_adapter.py:96-129`,
  * `bybit_adapter.py:66-104`, `okx_adapter.py:109-129`,
  * `aster_adapter.py:91-124`) own three concerns beyond normalization:
  * a frame feed, protocol control frames (ping/pong), and reconnect with
  * backoff. This source maps each onto Spark's streaming contract:
  *
  *   - **frame feed** — a recorded-frames file (one frame per line, the
  *     docstring fixtures or captured traffic), consumed through monotonic
  *     per-frame offsets. New frames appended to the file are picked up on
  *     the next trigger, so a live capture process can feed a running query.
  *     A per-file [[FrameIndex]] maps frame index → byte offset: the driver
  *     scans only appended bytes per trigger (O(appended), not O(file)) and
  *     readers seek straight to their slice instead of rescanning from
  *     line 0. A `path` that is a directory is read as a directory of hour
  *     files served as one frame sequence ([[HourFileIndex]]): the
  *     Hyperliquid node's file tail.
  *   - **ping/pong** — dropped inside the source, exactly where the
  *     reference handles them (`okx_adapter.py:119-124` whole-string "ping"
  *     and parsed `event == "pong"`): a frame is control only when the whole
  *     trimmed frame is ping/pong or a parsed JSON object's top-level
  *     `op`/`event` field equals ping/pong — a subscribe ack mentioning a
  *     topic literally named "ping" is data. Control frames advance the
  *     offset but emit no rows.
  *   - **reconnect ≈ task retry** — the partition reader is a pure function
  *     of its `[start, end)` slice, so a failed read (the analog of a
  *     dropped connection) is simply re-executed by Spark's task retry; the
  *     checkpointed offset log gives restart-without-replay across query
  *     restarts, which is *stronger* than the reference's reconnect (the
  *     WS feed has no server-side cursor — frames during an outage are
  *     lost; `binance_adapter.py:126-129` just reconnects and moves on).
  *   - **truncation / rotation recovery** — a capture shrunk in place or
  *     rotated to a new inode under the same path starts a new
  *     [[FrameIndex]] generation (the reference's tail reopen,
  *     `hyperliquid_adapter.py:96-101`, `:307-312`): frame ids stay
  *     monotonic across generations, the lost generation's unread slice
  *     yields zero rows (never a crash, never an id reused for different
  *     bytes), and new frames flow on the next trigger. The rebase state
  *     persists in a `<capture>.gen` sidecar beside the capture, so the
  *     no-reuse invariant survives DRIVER RESTARTS too: a rotation that
  *     straddles a restart rebases past the persisted id high-water
  *     instead of reinterpreting committed offsets against the new file.
  *
  * Offsets are frame indexes. A paced trigger admits every whole frame
  * available, so a backlog (a restart after downtime, a Hyperliquid
  * catch-up) is one micro-batch: the reference forwards each row as it
  * arrives, and its writer's batch is whatever has queued (SURVEY §2.4,
  * "batch size = natural micro-batch"). The `framesPerBatch` cap is
  * opt-in: when set, a micro-batch admits at most that many frames. Each
  * batch splits into `framesPerPartition`-sized input partitions (1000 by
  * default) so a wide batch scans in parallel. Usage:
  *
  * {{{
  * spark.readStream
  *   .format("graft.sources.WsReplayProvider")
  *   .option("path", framesFile)
  *   .option("framesPerBatch", 100)
  *   .option("framesPerPartition", 25)
  *   .load()                       // schema: frame_id LONG, raw STRING
  * }}}
  *
  * A directory `path` takes one more option, `.option("catchUp", false)`,
  * to skip the backlog older than the newest hour (`--hl-no-catchup`); on
  * a capture file it is rejected.
  */
class WsReplayProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WsReplay.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WsReplayTable(new CaseInsensitiveStringMap(properties))
}

/** Byte-offset side index of a line-framed capture file: `starts(i)` is the
  * first byte of frame i. `refresh()` scans only `[scanned, len)` for
  * newlines, so a steady trigger loop over a growing capture costs
  * O(appended bytes) per trigger instead of O(file) — the previous
  * implementation re-counted every line each trigger, O(n²) over a long
  * replay. A trailing unterminated line counts in [[refresh]]'s total but
  * not in [[wholeFrames]]: a capture process writes the newline last, so
  * the stream admits that line only under `ReadAllAvailable` (see
  * [[WsReplayMicroBatchStream.latestOffset]]).
  *
  * Memory: 8 bytes per frame on the driver (an Int-indexed in-memory
  * array); a multi-billion-frame production capture would page the index
  * to disk — offsets and frame ids stay Long end to end so only this
  * array, not the protocol, bounds capture size.
  */
final class FrameIndex(path: String, genPath: String) extends FrameLog {
  def this(path: String) = this(path, path + ".gen")

  private val starts = new scala.collection.mutable.ArrayBuffer[Long]()
  private var scanned = 0L      // bytes consumed by the scanner so far
  private var lineOpen = false  // byte at `scanned` continues an indexed line
  private var scannedTotal = 0L // lifetime bytes scanned (spec: no re-reads)
  private var baseCount = 0L    // frame ids below this rotated away (empty)
  private var fileKey: AnyRef = _ // inode identity of the current generation
  private var rotationCount = 0L  // generations consumed (probe/telemetry)
  private var restoredState = false // sidecar consulted (once, first refresh)
  private var persisted: String = null // sidecar line on disk (dedup)

  private def currentKey(): AnyRef =
    try java.nio.file.Files
      .readAttributes(java.nio.file.Paths.get(path),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      .fileKey()
    catch { case _: Exception => null }

  /* GENERATION STATE SIDECAR (`genPath`, `<capture>.gen`) — the rebase state
    * (generation inode key, live floor, id high-water, scanned bytes)
    * persisted beside the capture so the no-id-reuse invariant holds ACROSS DRIVER
    * RESTARTS, not just within one JVM: a fresh index restoring from the
    * sidecar either resumes the same generation's id space (same inode →
    * same baseCount, so committed offsets keep meaning the same bytes) or
    * — when the file rotated while the driver was down — rebases past
    * every id the previous life ever assigned, so the new file's frames
    * continue the sequence instead of silently reusing committed ids for
    * different bytes. Best-effort I/O: an unwritable capture dir degrades
    * to the in-JVM-only guarantee (documented below), never to an error.
    * The write is tmp + atomic-move and happens only when the state line
    * actually changed. On filesystems that expose no inode identity the
    * sidecar stores `-` for the key and the restart check falls back to
    * length PLUS the head fingerprint below — a rotation-while-down to a
    * same-length-or-longer file is still detected as a new generation
    * because its first bytes hash differently. Directory mode keeps it
    * hidden (`.<file>.gen`, [[HourFileIndex]]). */

  /** Content fingerprint of the generation's HEAD (first
    * min(scanned, 4 KB) bytes, SHA-1): the cheap identity check that
    * survives filesystems with no inode identity (savedKey `-`), where
    * the inode+length heuristic alone would let a rotation-while-down to
    * a file LONGER than the persisted scan point silently resume the old
    * id space over different bytes. The head is immutable for an
    * append-only capture, so once `scanned` passes 4 KB the fingerprint
    * is stable and costs nothing to maintain. */
  private val fpMax = 4096L
  private var fpLen = 0L
  private var fpHash = ""

  private def hashHead(n: Long): String =
    if (n <= 0L) ""
    else try {
      val in = new java.io.FileInputStream(path)
      try {
        val md = java.security.MessageDigest.getInstance("SHA-1")
        val buf = new Array[Byte](8192)
        var left = n
        while (left > 0L) {
          val r = in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
          if (r <= 0) left = 0L
          else { md.update(buf, 0, r); left -= r }
        }
        md.digest().map("%02x".format(_)).mkString
      } finally in.close()
    } catch { case _: Exception => "" }

  private def readSidecar(): Option[(String, Long, Long, Long, Long, String)] =
    try {
      persisted = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(genPath)),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val parts = persisted.split('\t')
      if (parts.length == 6)
        Some((parts(0), parts(1).toLong, parts(2).toLong, parts(3).toLong,
          parts(4).toLong, parts(5)))
      else if (parts.length == 4) // pre-fingerprint sidecar: no head hash
        Some((parts(0), parts(1).toLong, parts(2).toLong, parts(3).toLong,
          0L, ""))
      else None
    } catch { case _: Exception => None }

  private def persistSidecar(key: AnyRef): Unit = {
    val line = s"${if (key == null) "-" else key.toString}" +
      s"\t$baseCount\t${baseCount + starts.size}\t$scanned" +
      s"\t$fpLen\t${if (fpHash.isEmpty) "-" else fpHash}"
    if (line != persisted) try {
      val tmp = java.nio.file.Paths.get(genPath + ".tmp")
      java.nio.file.Files.write(tmp,
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(genPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      persisted = line
    } catch { case _: Exception => } // best-effort: degrade to in-JVM state
  }

  /** First refresh of a fresh index: restore the persisted generation
    * state. Same inode as persisted → same id space (resume). Different
    * (or vanished) inode → the capture rotated while this driver was
    * down: rebase past the persisted high-water so no previously-assigned
    * id can name the new generation's bytes. */
  private def restoreState(key: AnyRef, len: Long): Unit = {
    restoredState = true
    readSidecar().foreach {
      case (savedKey, savedBase, savedTotal, savedScanned, savedFpLen, fp) =>
        val savedFp = if (fp == "-") "" else fp
        // same generation = same inode AND the file did not shrink below
        // what the previous life had scanned (delete+recreate can REUSE an
        // inode number, so the length heuristic backs the identity check —
        // the same pairing the live `len < scanned` rotation test uses)
        // AND, when the sidecar carries a head fingerprint, the current
        // file's first savedFpLen bytes still hash to it — the check that
        // catches a same-length-or-longer replacement file on filesystems
        // with no inode identity (and an inode-number reuse elsewhere)
        val keyOk = if (savedKey == "-") key == null
          else key != null && key.toString == savedKey
        val fpOk = savedFpLen <= 0L || savedFp.isEmpty ||
          hashHead(savedFpLen) == savedFp
        val sameGen = keyOk && len >= savedScanned && fpOk
        if (sameGen) {
          baseCount = savedBase
          // the restored head is this generation's: keep the stable
          // fingerprint instead of re-deriving it on the next refresh
          if (savedFpLen > 0L && savedFp.nonEmpty) {
            fpLen = savedFpLen; fpHash = savedFp
          }
        }
        else { baseCount = savedTotal; rotationCount += 1 }
    }
  }

  /** Index any appended bytes; returns the frame count. O(appended).
    *
    * TRUNCATION / ROTATION RECOVERY — the reference's tail behavior
    * (liq-stream `hyperliquid_adapter.py:96-101` detects a shrink,
    * `:307-312` an inode change, and reopens): a capture that shrank in
    * place or was rotated (new inode under the same path) starts a NEW
    * GENERATION. The scanner rebases — already-assigned frame ids are
    * frozen below `baseCount` and the new file's lines continue the id
    * sequence after them, so committed offsets stay monotonic and no id
    * is ever reused for different bytes. Ids of the lost generation map
    * to EMPTY byte extents: a batch (or task retry) that still spans
    * them yields zero rows instead of crashing — exactly the reference's
    * "frames during the outage are lost; reopen and move on" contract,
    * with the downstream dedup ring (`hyperliquid_adapter.py:153-154`'s
    * analog in the normalize pipeline) absorbing any boundary overlap.
    * The rebase state persists in the generation sidecar (above), so the
    * recovery — and the no-reuse invariant — also holds across driver
    * restarts, not just within one JVM. */
  def refresh(): Long = synchronized {
    val len = new java.io.File(path).length()
    val key = currentKey()
    if (!restoredState) restoreState(key, len)
    if (fileKey == null) fileKey = key
    val rotated = key != null && fileKey != null && key != fileKey
    if (rotated || len < scanned) {
      baseCount += starts.size
      starts.clear()
      scanned = 0L
      lineOpen = false
      fileKey = key
      rotationCount += 1
      fpLen = 0L; fpHash = "" // the new generation gets its own head hash
    }
    if (len > scanned) {
      val in = new java.io.FileInputStream(path)
      try {
        val ch = in.getChannel
        ch.position(scanned)
        val buf = java.nio.ByteBuffer.allocate(1 << 16)
        var pos = scanned
        var n = ch.read(buf)
        while (n > 0 && pos < len) {
          buf.flip()
          while (buf.hasRemaining && pos < len) {
            val b = buf.get()
            if (!lineOpen) { starts += pos; lineOpen = true }
            if (b == '\n') lineOpen = false
            pos += 1
          }
          buf.clear()
          n = if (pos < len) ch.read(buf) else 0
        }
        scannedTotal += pos - scanned
        scanned = pos
      } finally in.close()
    }
    // grow the head fingerprint until it covers the first 4 KB, then it
    // is immutable for the rest of the generation (append-only capture)
    if (fpLen < fpMax && scanned > fpLen) {
      fpLen = math.min(scanned, fpMax)
      fpHash = hashHead(fpLen)
    }
    persistSidecar(fileKey)
    baseCount + starts.size
  }

  /** Frames whose newline has been scanned: [[refresh]]'s count less an
    * open last line. */
  def wholeFrames: Long = synchronized(baseCount + starts.size - (if (lineOpen) 1 else 0))

  def indexed(s: Long, e: Long): Seq[(Segment, FrameIndex)] =
    Seq((Segment(path, 0L, Long.MaxValue), this))

  /** Generations consumed so far (0 = the original file, untouched). */
  def rotations: Long = synchronized(rotationCount)

  /** First frame id with readable bytes — ids below it rotated away. */
  def liveFloor: Long = synchronized(baseCount)

  /** Stable string form of the current generation's inode identity (null
    * when the filesystem exposes none). Shipped inside each planned
    * partition so an executor-side reader can detect that the file
    * rotated AFTER planning — its byte extents then describe bytes that
    * no longer exist, and it must yield nothing rather than read the new
    * generation's bytes under the old ids. */
  def generationKey: String = synchronized {
    if (fileKey == null) null else fileKey.toString
  }

  /** Start byte of frame i IN THE CURRENT GENERATION; the scanned end for
    * i == frames (so a frame range `[s, e)` spans bytes
    * `[byteOf(s), byteOf(e))`). Ids below `baseCount` belong to a
    * rotated-away generation — they clamp to byte 0, so any slice lying
    * entirely in the lost range is empty and a slice straddling the
    * rotation reads only the surviving new-generation bytes. */
  def byteOf(i: Long): Long = synchronized {
    val j = i - baseCount
    if (j <= 0L) 0L
    else if (j >= starts.size) scanned
    else starts(j.toInt)
  }

  /** Lifetime bytes scanned — equals the file length when no byte was ever
    * read twice (asserted in WsReplaySpec). */
  def bytesScanned: Long = synchronized(scannedTotal)
}

/** One file of a frame sequence: its frames carry the global ids
  * `[first, end)`, and global id `first + i` is its local frame `i`. A
  * tailed file is open-ended (`end = Long.MaxValue`). */
final case class Segment(path: String, first: Long, end: Long)

/** The frame sequence a [[WsReplayMicroBatchStream]] serves: one capture
  * file ([[FrameIndex]]) or a directory of hour files ([[HourFileIndex]]). */
trait FrameLog {
  /** Index appended bytes (and, for a directory, new files); returns the
    * frame count, an open last line included. */
  def refresh(): Long
  /** Frames up to the last newline of the tailed file. */
  def wholeFrames: Long
  /** The files that hold ids `[s, e)`, in id order, each with its index. */
  def indexed(s: Long, e: Long): Seq[(Segment, FrameIndex)]
  /** Ids below `end` are committed and will not be planned again. */
  def commit(end: Long): Unit = ()
}

/** Directory mode: the hour files of a Hyperliquid node directory as one
  * frame sequence — the reference's backfill-then-tail
  * (`hyperliquid_adapter.py:68-82,276-339`).
  *
  *  - Files join in the reference's numeric order ([[HourFileIndex.order]]),
  *    and frame ids run on across them.
  *  - Only the newest file is tailed. A newer file freezes it at the frames
  *    indexed then, its last line included even without a newline (the
  *    reference's rollover); a file that sorts before the tailed one
  *    arrives too late and is never read.
  *  - Each file keeps its own [[FrameIndex]], with the same rotation and
  *    generation logic as a single capture, and its sidecar is hidden
  *    (`.<file>.gen`).
  *  - The file list with each file's id range persists in the hidden
  *    `.frames` sidecar, so a restarted driver maps committed ids to the
  *    same lines. Hidden names keep `spark.read.text(dir)`, the batch twin,
  *    on exactly the data lines.
  *  - Driver memory is the tailed file's index plus a few words per file:
  *    a frozen file is indexed only while a planned batch still needs it.
  *    A commit past its last id drops its index, and a restarted driver
  *    indexes a recorded file only when a batch plans over its ids. A
  *    catch-up batch spans the whole backlog, so it holds every backlog
  *    file's index (8 bytes a line) until it commits. */
final class HourFileIndex(dir: String) extends FrameLog {
  private val segs = scala.collection.mutable.ArrayBuffer[Segment]()
  private val held = scala.collection.mutable.HashMap[String, FrameIndex]()
  private val statePath = java.nio.file.Paths.get(dir, ".frames")

  private def indexOf(seg: Segment): FrameIndex = held.getOrElseUpdate(seg.path, {
    val index = new FrameIndex(seg.path,
      s"$dir/.${new java.io.File(seg.path).getName}.gen")
    index.refresh()
    index
  })

  // restart: the recorded files, indexed when a batch first needs them
  try java.nio.file.Files.readAllLines(statePath).asScala.foreach { line =>
    val Array(name, first, end) = line.split('\t')
    segs += Segment(s"$dir/$name", first.toLong, end.toLong)
  } catch { case _: java.io.IOException => } // no sidecar yet: a new directory

  private def persist(): Unit = try {
    val tmp = java.nio.file.Paths.get(dir, ".frames.tmp")
    java.nio.file.Files.write(tmp, segs.map { s =>
      s"${new java.io.File(s.path).getName}\t${s.first}\t${s.end}" }.asJava)
    java.nio.file.Files.move(tmp, statePath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  } catch { case _: java.io.IOException => } // best-effort, as FrameIndex's sidecar

  def refresh(): Long = synchronized {
    val last = segs.lastOption.map(s => new java.io.File(s.path).getName)
    val fresh = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.getName).filter(n => last.forall(HourFileIndex.order.gt(n, _)))
      .sorted(HourFileIndex.order)
    fresh.foreach { name =>
      val first = segs.lastOption.fold(0L) { t =>
        val end = t.first + indexOf(t).refresh()
        segs(segs.size - 1) = t.copy(end = end)
        end
      }
      segs += Segment(s"$dir/$name", first, Long.MaxValue)
    }
    if (fresh.nonEmpty) persist()
    segs.lastOption.fold(0L)(t => t.first + indexOf(t).refresh())
  }

  def wholeFrames: Long =
    synchronized(segs.lastOption.fold(0L)(t => t.first + indexOf(t).wholeFrames))

  def indexed(s: Long, e: Long): Seq[(Segment, FrameIndex)] = synchronized {
    segs.toSeq.filter(g => g.first < e && g.end > s).map(g => (g, indexOf(g)))
  }

  override def commit(end: Long): Unit = synchronized {
    segs.foreach(g => if (g.end <= end) held.remove(g.path))
  }

  def segments: Seq[Segment] = synchronized(segs.toSeq)

  /** The files whose index is in memory. */
  def heldFiles: Set[String] = synchronized(held.keySet.toSet)

  /** `--hl-no-catchup`'s start (`hyperliquid_adapter.py:341-347`): the
    * first frame of the first file modified within an hour of the newest
    * one. */
  def latestHourStart: Long = synchronized {
    val total = refresh()
    val mtimes = segs.map(s => new java.io.File(s.path).lastModified)
    val newest = mtimes.maxOption.getOrElse(0L)
    segs.indices.find(i => mtimes(i) >= newest - 3600 * 1000L)
      .fold(total)(segs(_).first)
  }
}

object HourFileIndex {
  /** The reference's numeric file order (`hyperliquid_adapter.py:68-82`):
    * names compare by their digit runs as numbers, then as text. */
  val order: Ordering[String] = {
    import Ordering.Implicits._
    Ordering.by((n: String) => ("\\d+".r.findAllIn(n).map(BigInt(_)).toList, n))
  }
}

object WsReplay {
  val schema: StructType = StructType(Seq(
    StructField("frame_id", LongType, nullable = false),
    StructField("raw", StringType, nullable = true)))

  /** One index per capture path (and per hour directory), shared across
    * stream instances on the driver (a restarted query re-scans once,
    * then stays incremental). */
  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[String, FrameIndex]()
  private val hourDirs =
    new java.util.concurrent.ConcurrentHashMap[String, HourFileIndex]()
  def indexFor(path: String): FrameIndex =
    indexes.computeIfAbsent(path, p => new FrameIndex(p))
  def hourFilesFor(dir: String): HourFileIndex =
    hourDirs.computeIfAbsent(dir, d => new HourFileIndex(d))

  /** TEST SEAM — drop the cached driver-side index for `path`, simulating a
    * driver restart: a fresh JVM starts with an empty cache, so the next
    * `indexFor` builds a new [[FrameIndex]] that must restore generation
    * state from the `.gen` sidecar (exactly the cross-restart invariant the
    * sidecar exists for). Production code never calls this — within one
    * driver life the cached index IS the generation state. */
  private[graft] def evictIndex(path: String): Unit = {
    indexes.remove(path)
    hourDirs.remove(path): Unit
  }

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  /** App-layer control frame, matched against the exact shapes the reference
    * handles: the whole trimmed frame is "ping"/"pong" (OKX,
    * `okx_adapter.py:119-121`), or the frame parses as a JSON object whose
    * top-level `op` or `event` field equals ping/pong (Bybit heartbeat,
    * OKX JSON pong `okx_adapter.py:122-124`). Substring heuristics are
    * explicitly NOT used — a subscribe ack whose args mention a topic
    * literally named "ping" is a data frame. The JSON parse only runs on
    * frames that pass a cheap `"op"`/`"event"` substring prescreen, so the
    * hot data path never pays it. */
  def isControlFrame(line: String): Boolean = {
    val t = line.trim
    if (t.equalsIgnoreCase("ping") || t.equalsIgnoreCase("pong")) true
    else if (t.startsWith("{") &&
        (t.contains("\"op\"") || t.contains("\"event\""))) {
      try {
        val node = mapper.readTree(t)
        Seq("op", "event").exists { k =>
          val v = node.get(k)
          v != null && v.isTextual && {
            val s = v.asText().toLowerCase
            s == "ping" || s == "pong"
          }
        }
      } catch { case _: Exception => false }
    } else false
  }
}

class WsReplayTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val path = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("ws-replay source requires option 'path'"))
  private val framesPerBatch = options.getLong("framesPerBatch", Long.MaxValue)
  private val framesPerPartition = options.getInt("framesPerPartition", 1000)
  private val catchUp = options.getBoolean("catchUp", true)

  override def name(): String = s"ws-replay($path)"
  override def schema(): StructType = WsReplay.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = WsReplay.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new WsReplayMicroBatchStream(path, framesPerBatch, framesPerPartition,
            catchUp)
      }
    }
}

/** Offset = number of frames fully consumed (frame index of the next frame
  * to read). */
case class WsOffset(frame: Long) extends Offset {
  override def json: String = frame.toString
}

/** A `path` that is a directory when the stream starts is served as hour
  * files ([[HourFileIndex]]); there `catchUp = false` starts at
  * [[HourFileIndex.latestHourStart]] instead of frame 0. A capture file
  * rejects `catchUp = false`. `framesPerBatch = Long.MaxValue` sets no cap. */
class WsReplayMicroBatchStream(path: String, framesPerBatch: Long,
    framesPerPartition: Int = 1000, catchUp: Boolean = true)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val log: FrameLog =
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
      WsReplay.hourFilesFor(path)
    else WsReplay.indexFor(path)
  require(catchUp || log.isInstanceOf[HourFileIndex],
    s"ws-replay: catchUp = false needs an hour-file directory, not the file $path")

  override def initialOffset(): Offset = log match {
    case hours: HourFileIndex if !catchUp => WsOffset(hours.latestHourStart)
    case _ => WsOffset(0L)
  }

  override def deserializeOffset(json: String): Offset = WsOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(framesPerBatch)

  /** Admission control: a paced trigger admits every whole frame, or at
    * most `framesPerBatch` of them when that cap is set (Trigger.Once's
    * ReadAllAvailable takes everything). The index refresh scans only
    * bytes appended since the last trigger.
    *
    * Whole-line admission: a paced trigger admits only frames whose
    * newline has been written. A trigger that lands while a capture
    * process is mid-line leaves that frame for a later trigger; admitting
    * it would commit its id over half its bytes and lose the rest (the
    * reference buffers a partial line the same way,
    * `hyperliquid_adapter.py:314-334`). Only `ReadAllAvailable`
    * (AvailableNow, Once) also takes a final unterminated line. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[WsOffset].frame
    val total = log.refresh()
    // `from + cap` would overflow for no cap, so the cap bounds the gap
    val end = limit match {
      case _: ReadAllAvailable => total
      case rows: ReadMaxRows => from + math.min(rows.maxRows(), log.wholeFrames - from)
      case _ => from + math.min(framesPerBatch, log.wholeFrames - from)
    }
    WsOffset(math.max(from, end))
  }

  override def reportLatestOffset(): Offset = WsOffset(log.refresh())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** Range-split partitions: the batch's frame slice divides into
    * `framesPerPartition`-sized ranges, each mapped onto the (file, byte
    * range) slices that hold it, so wide batches (Trigger.Once over a long
    * capture) scan in parallel, every reader seeks instead of rescanning
    * from line 0, and a directory's many small hour files share
    * partitions instead of taking one task each. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WsOffset].frame
    val e = end.asInstanceOf[WsOffset].frame
    log.refresh() // restart case: a fresh index scans the file once here
    val parts = scala.collection.mutable.ArrayBuffer[InputPartition]()
    var slices = Vector.empty[FrameSlice]
    var room = framesPerPartition.toLong
    for ((seg, index) <- log.indexed(s, e)) {
      // rotation recovery: ids below the live floor have no bytes anymore
      // — clamp the slice so surviving frames keep their true ids and the
      // lost range contributes nothing (never crashes, never duplicates)
      var f = math.max(s, seg.first + index.liveFloor)
      val hi = math.min(e, seg.end)
      while (f < hi) {
        val g = math.min(f + room, hi)
        slices :+= FrameSlice(seg.path, f, g, index.byteOf(f - seg.first),
          index.byteOf(g - seg.first), index.generationKey)
        room -= g - f
        f = g
        if (room == 0) {
          parts += WsReplayPartition(slices)
          slices = Vector.empty; room = framesPerPartition
        }
      }
    }
    if (slices.nonEmpty) parts += WsReplayPartition(slices)
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WsReplayReaderFactory

  override def commit(end: Offset): Unit = log.commit(end.asInstanceOf[WsOffset].frame)
  override def stop(): Unit = ()
}

/** Frames `[start, end)` of one file, at bytes `[startByte, endByte)`. */
case class FrameSlice(path: String, start: Long, end: Long,
    startByte: Long, endByte: Long, genKey: String = null)

case class WsReplayPartition(slices: Seq[FrameSlice]) extends InputPartition

class WsReplayReaderFactory extends PartitionReaderFactory {
  /** The partition's slices read in order, one open file at a time. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val readers = partition.asInstanceOf[WsReplayPartition].slices.iterator
        .map(p => new WsReplayReader(p.path, p.start, p.end, p.startByte, p.endByte, p.genKey))
      private var cur: WsReplayReader = _
      override def next(): Boolean = {
        while (cur == null || !cur.next()) {
          if (cur != null) cur.close()
          if (!readers.hasNext) { cur = null; return false }
          cur = readers.next()
        }
        true
      }
      override def get(): InternalRow = cur.get()
      override def close(): Unit = if (cur != null) cur.close()
    }
}
/** Deterministic replay of the frame slice `[start, end)` — idempotent under
  * task retry (the reconnect analog). The reader seeks to its byte extent
  * and reads only `[startByte, endByte)`; it never touches bytes outside
  * its slice. Control frames consume an offset but emit no row. Long frame
  * indexes end to end — offsets must survive multi-billion-frame captures. */
class WsReplayReader(path: String, start: Long, end: Long,
    startByte: Long, endByte: Long, genKey: String = null)
    extends PartitionReader[InternalRow] {

  /** Rotation guard: if the file's inode changed between planning and
    * execution, the byte extents describe a dead generation — reading the
    * NEW file's bytes at those offsets would emit wrong content under the
    * planned ids. The reference's tail has the same window and resolves it
    * the same way: the lost slice yields nothing and the stream moves on
    * (`hyperliquid_adapter.py:307-312`). */
  private val generationLive: Boolean = genKey == null || {
    val now =
      try java.nio.file.Files
        .readAttributes(java.nio.file.Paths.get(path),
          classOf[java.nio.file.attribute.BasicFileAttributes])
        .fileKey()
      catch { case _: Exception => null }
    now != null && now.toString == genKey
  }

  /** InputStream view of the byte slice — readLine() cannot run past the
    * partition boundary (frame `end`'s bytes belong to the next reader). */
  private final class SliceStream(in: java.io.InputStream, private var remaining: Long)
      extends java.io.InputStream {
    override def read(): Int =
      if (remaining <= 0) -1
      else { val b = in.read(); if (b >= 0) remaining -= 1; b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int =
      if (remaining <= 0) -1
      else {
        val n = in.read(buf, off, math.min(len.toLong, remaining).toInt)
        if (n > 0) remaining -= n
        n
      }
    override def close(): Unit = in.close()
  }

  private val fin = new java.io.FileInputStream(path)
  fin.getChannel.position(startByte)
  private val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
    new SliceStream(fin, endByte - startByte), java.nio.charset.StandardCharsets.UTF_8))

  private var idx = start
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!generationLive) return false // file rotated after planning: slice lost
    while (idx < end) {
      val line = reader.readLine()
      if (line == null) return false // capture truncated under our feet
      val i = idx
      idx += 1
      if (!WsReplay.isControlFrame(line)) {
        current = InternalRow(i, UTF8String.fromString(line))
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
