package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's polynomial rolling hash:
  * fold over bytes of `acc * 31 + byte (mod 1e9+7)`, the deterministic
  * signature primitive shared with the DuckDB oracles (see
  * [[graft.ops.DedupOps]]).
  *
  * Exists because the expression-level formulation
  * (`aggregate(split(s,""), …)`) is an interpreted higher-order lambda —
  * per-character closure dispatch plus a one-char UTF8String allocation per
  * step. This version participates in whole-stage codegen: the generated
  * Java is a tight loop over the UTF8String's bytes. Same values for ASCII
  * input (the oracle corpus; `ascii()` in both engines reads the first
  * byte/codepoint, and this hash consumes bytes).
  *
  * Custom-operator preference order per SURVEY.md §7: built-in composition
  * first (the interpreted form above), then a native `Expression` with
  * `doGenCode` — this class — before any UDF; a UDF would box every row and
  * break codegen.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  private val M = 1000000007L

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"poly_hash requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31 + (bytes(i) & 0xff)) % M
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $acc = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $acc = ($acc * 31L + ($bytes[$i] & 0xff)) % ${M}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  /** Column-level entry point: `poly_hash(c)`. */
  def apply(c: Column): Column =
    Bridge.column(PolyHash(Bridge.expression(c)))
}
