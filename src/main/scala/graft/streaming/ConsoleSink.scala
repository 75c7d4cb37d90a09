package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Console sink — the reference's color-coded terminal print
  * (liq-stream `stream.py:64-78`): red for liquidated longs, green for
  * shorts, dim notional, and the `--no-color` path stripping ANSI with the
  * same regex (`stream.py:77`). Line formatting is a pure Catalyst
  * expression (codegen'd concat/when), so it also serves as a projection
  * for any text sink. */
object ConsoleSink {

  private val Red = "\u001b[31m"
  private val Green = "\u001b[32m"
  private val Dim = "\u001b[2m"
  private val Rst = "\u001b[0m"

  /** Python prints None for missing numerics (`stream.py:72-73`
    * f-strings); Spark's double→string cast matches Python's repr for the
    * plain magnitudes the feeds carry. */
  private def numStr(c: Column): Column =
    coalesce(c.cast(StringType), lit("None"))

  /** One formatted line per row:
    * `[exchange/market] SYMBOL | side | qty=Q @ P (notional=N)` with ANSI
    * color wrapping — the WriterShim format string verbatim. */
  def line(colors: Boolean = true): Column = {
    val side = col("side")
    val coloredSide =
      when(lower(side) === "long", concat(lit(Red), side, lit(Rst)))
        .when(lower(side) === "short", concat(lit(Green), side, lit(Rst)))
        .otherwise(coalesce(side, lit("")))
    val colored = concat(
      lit("["), col("exchange"), lit("/"), col("market"), lit("] "),
      col("symbol"), lit(" | "), coloredSide,
      lit(" | qty="), numStr(col("qty")),
      lit(" @ "), numStr(col("price")),
      lit(" ("), lit(Dim), lit("notional="), numStr(col("notional")),
      lit(Rst), lit(")"))
    // --no-color formats WITH colors then strips, exactly like the
    // reference (stream.py:75-77)
    if (colors) colored
    else regexp_replace(colored, "\u001b\\[[0-9;]*m", "")
  }
}
