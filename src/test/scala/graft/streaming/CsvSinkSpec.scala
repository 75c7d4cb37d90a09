package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{date_format, lit, timestamp_millis}

import graft.SparkSpec
import graft.model.Schemas
import graft.normalize.{Fixtures, Normalizers}

/** The collected-rows CSV sink against Spark's own CSV writer: the same
  * bytes for the same rows, the same partition day, and one file per
  * batch that a replay replaces. */
class CsvSinkSpec extends SparkSpec {

  private def files(dir: Path, suffix: String): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(suffix)).toSeq

  test("writeBatch writes the bytes Spark's CSV writer writes, header included") {
    import spark.implicits._
    val normalized = Normalizers.binance(Fixtures.binance.toDF("raw"), "usdt",
      ingestMs = lit(1710000000000L)).collect().toSeq
    // quotes, commas, a line break, an empty string and nulls
    val edge = Row("okx", "usdt", "A,B", "", null, 1.0E-7, null, 1L, 2L,
      "{\"a\":\"x,y\"}\nline \"two\"")
    val rows = normalized :+ edge
    val dir = Path.of(graft.ops.tempDir("csvsink"))
    val ours = CsvSink.writeBatch(rows, Schemas.unified, dir.resolve("ours").toString,
      7L, "2024-03-09", "UTC")
    assert(ours == dir.resolve("ours/day=2024-03-09/part-7.csv"))
    spark.createDataFrame(rows.asJava, Schemas.unified).coalesce(1)
      .write.option("header", "true").csv(dir.resolve("spark").toString)
    val Seq(theirs) = files(dir.resolve("spark"), ".csv")
    assert(new String(Files.readAllBytes(ours), "UTF-8") ==
      new String(Files.readAllBytes(theirs), "UTF-8"))
    // nothing but the final file is left behind
    assert(Files.list(ours.getParent).iterator().asScala.toSeq == Seq(ours))
  }

  test("a replayed batch replaces its file; another batch adds one") {
    val dir = graft.ops.tempDir("csvsink_replay")
    val row = Row("bybit", "usdt", "BTCUSDT", "long", 1.0, 2.0, 2.0, 1L, 2L, "{}")
    CsvSink.writeBatch(Seq(row, row), Schemas.unified, dir, 3L, "2024-03-09", "UTC")
    CsvSink.writeBatch(Seq(row), Schemas.unified, dir, 3L, "2024-03-09", "UTC")
    assert(spark.read.option("header", "true").csv(dir).count() == 1)
    CsvSink.writeBatch(Seq(row), Schemas.unified, dir, 4L, "2024-03-09", "UTC")
    assert(spark.read.option("header", "true").csv(dir).count() == 2)
    assert(files(java.nio.file.Paths.get(dir), ".csv").size == 2)
  }

  test("day is date_format's yyyy-MM-dd of the stamp in the session time zone") {
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    // around midnight UTC, which is still the previous day in Los Angeles
    val stamps = Seq(1710028799999L, 1710028800000L, 1710057600000L)
    try Seq("UTC", "America/Los_Angeles", "Asia/Kolkata").foreach { tz =>
      spark.conf.set(key, tz)
      stamps.foreach { ms =>
        val want = spark.range(1)
          .select(date_format(timestamp_millis(lit(ms)), "yyyy-MM-dd")).head().getString(0)
        assert(CsvSink.day(ms, tz) == want, s"$ms in $tz")
      }
    } finally spark.conf.set(key, prev)
  }
}
