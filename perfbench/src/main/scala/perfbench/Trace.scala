package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: name, start and end (ns since the tracer started), and
  * the id of the enclosing span (-1 at top level). */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int) {
  def ms: Double = (end - start) / 1e6
}

/** Spans around the benchmark's calls into the program's modules, kept in
  * memory and written out once at the end. Off, `span` only runs its body,
  * so an untraced run records nothing. Used from the harness thread only. */
final class Tracer(val on: Boolean) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, name, 0L, 0L, parent)
      open = id :: open
      val start = System.nanoTime() - origin
      try body
      finally {
        spans(id) = Span(id, name, start, System.nanoTime() - origin, parent)
        open = open.tail
      }
    }

  /** Total milliseconds of the spans named `name`. */
  def ms(name: String): Double = spans.filter(_.name == name).map(_.ms).sum

  def write(file: File): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent}}"""
    }
    Files.write(file.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Job, stage and task totals per tag, read from Spark's public listener
  * events. A job's tag is the `perfbench.tag` local property set on the
  * thread that submitted it; its stages and tasks inherit the tag. */
final class JobListener extends SparkListener {
  final class Totals {
    @volatile var jobs, stages, tasks, taskRunMs, shuffleRead, shuffleWrite, spill = 0L
  }
  private val byTag = new ConcurrentHashMap[String, Totals]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val ended = ConcurrentHashMap.newKeySet[Int]()

  def totals(tag: String): Totals = byTag.computeIfAbsent(tag, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.Key))).foreach { tag =>
      val t = totals(tag)
      t.synchronized { t.jobs += 1; t.stages += e.stageIds.size }
      e.stageIds.foreach(stageTag.put(_, tag))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      val t = totals(tag)
      Option(e.taskMetrics).foreach { m =>
        t.synchronized {
          t.tasks += 1
          t.taskRunMs += m.executorRunTime
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Runs one job and waits until this listener has seen it end, so every
    * event posted before it has been delivered too (the bus is ordered). */
  def drain(sc: SparkContext): Unit = {
    val before = sc.statusTracker.getJobIdsForGroup(null).toSet
    sc.parallelize(Seq(1), 1).count()
    val ids = sc.statusTracker.getJobIdsForGroup(null).toSet -- before
    val deadline = System.currentTimeMillis() + 10000
    while (!ids.forall(i => ended.contains(i)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

object JobListener {
  val Key = "perfbench.tag"

  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** Ordered metric set, printed as the result's `metrics` object. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def json: String = m.map { case (k, (v, u)) =>
    s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
  }.mkString("{", ",", "}")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v) match {
      case s if s.endsWith(".0") => s.dropRight(2)
      case s => s
    }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default) of `xs`; 0 when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Harrell-Davis estimate of the p-th percentile of `xs`: the mean of all
    * order statistics, weighted by a Beta((n+1)p, (n+1)(1-p)) density.
    * Over a query mix whose latencies cluster, one or two order statistics
    * jump from one cluster to the next when a few queries trade places;
    * this weighted mean moves smoothly. 0 when empty. */
  def hd(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size; val q = p / 100.0
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
    }
}
