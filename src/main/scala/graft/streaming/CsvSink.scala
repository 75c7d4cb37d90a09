package graft.streaming

import java.io.OutputStreamWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.StructType

/** Daily-rotated CSV sink — the reference's CSVWriter (liq-stream
  * `writer_csv.py:12-39`: one file set per UTC day, header first), written
  * from rows already collected, with no Spark job.
  *
  * One micro-batch is one file, `<dir>/day=<yyyy-MM-dd>/part-<batchId>.csv`:
  * the directory layout of Spark's `partitionBy("day")` CSV writer, so
  * `spark.read.csv(dir)` reads the `day` column back. The bytes are the
  * ones Spark's CSV writer writes for the same rows with `header=true`,
  * because the same generator formats them. The file is written under a
  * hidden name (Spark's readers skip it) and moved onto its final name in
  * one atomic rename, so a replayed batch on the same day replaces its own
  * file instead of adding a second one.
  */
object CsvSink {

  /** The partition day of `ms` in `timeZone`, as
    * `date_format(timestamp_millis(ms), "yyyy-MM-dd")` computes it. */
  def day(ms: Long, timeZone: String): String =
    LocalDate.ofInstant(Instant.ofEpochMilli(ms), DateTimeUtils.getZoneId(timeZone)).toString

  /** Write one batch's `rows` (in `schema`'s column order) as its day's
    * file; returns the final path. */
  def writeBatch(rows: Seq[Row], schema: StructType, dir: String, batchId: Long,
      day: String, timeZone: String): Path = {
    val dayDir = Files.createDirectories(Paths.get(dir, s"day=$day"))
    val tmp = dayDir.resolve(s".part-$batchId.csv.tmp")
    val gen = new UnivocityGenerator(schema,
      new OutputStreamWriter(Files.newOutputStream(tmp), StandardCharsets.UTF_8),
      new CSVOptions(Map("header" -> "true"), columnPruning = true, timeZone))
    try {
      gen.writeHeaders()
      val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
      rows.foreach(r => gen.write(toInternal(r).asInstanceOf[InternalRow]))
    } finally gen.close()
    Files.move(tmp, dayDir.resolve(s"part-$batchId.csv"), StandardCopyOption.ATOMIC_MOVE)
  }
}
