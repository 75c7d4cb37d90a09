package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{GenericArrayData, QuantileSummaries}
import org.apache.spark.sql.catalyst.util.QuantileSummaries.Stats
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** MERGEABLE quantile sketch family — the percentile analog of the stored
  * HLL pattern ([[graft.ops.Relational.aggHllMerge]]): materialize one
  * Greenwald–Khanna summary per fine grain (day), answer ANY coarser grain
  * (week/month/quarter) by MERGING the stored summaries — O(days · sketch
  * bytes), never a raw re-scan. Exact `percentile()` cannot do this: exact
  * per-day percentiles are not re-aggregable (the p99 of daily p99s is not
  * the weekly p99); the sketch's rank-error summaries merge losslessly
  * within their error budget.
  *
  * Three members, composing as `q_sketch_agg → store → q_merge_agg →
  * q_sketch_values`:
  *   - [[QSketchAgg]]: aggregate `double → binary` building a GK summary
  *     with rank error ≤ n/accuracy (the engine Spark's own
  *     `approx_percentile` runs on — `catalyst.util.QuantileSummaries` —
  *     reused here so the rank convention is IDENTICAL to the already
  *     oracle-verified `agg_percentile_approx`);
  *   - [[QMergeAgg]]: aggregate `binary → binary` unioning stored summaries;
  *   - [[QSketchValues]]: scalar `(binary) → array<double>` querying fixed
  *     percentiles out of a summary (CodegenFallback — it runs once per
  *     GROUP after aggregation, i.e. on |groups| rows, never on raw data,
  *     so codegen would buy nothing on the hot path).
  *
  * Exactness contract (the oracle argument, same as `agg_percentile_approx`,
  * `ops/Extended.scala`): while every summary's count n stays below
  * accuracy/2, GK's compression threshold 2·n/accuracy < 1 means NO sample
  * is ever collapsed — insert AND merge are lossless — and `query(p)`
  * returns exactly the element at rank ceil(p·n), which is DuckDB's
  * `quantile_disc` (rank convention verified against DuckDB across n and p).
  * LlmOpsSpec guards the regime bound; at production scale the accuracy
  * knob trades that exactness for GK's O((1/ε)·log(εn)) sample bound per
  * group — sub-linear in data volume (ScaleProbeSpec measures 100k rows →
  * ~1.6k samples at accuracy 100, inside the rank-error guarantee).
  *
  * Reference seed: liq-stream's windowed percentile views
  * (CHANGELOG.md:12-14) recompute from raw on every dashboard refresh; the
  * stored-sketch shape answers them from per-day bytes.
  */
object QuantileSketch {

  /** Wire format: relativeError, count, then (value, g, delta) per sample.
    * The summary is always compressed (headSampled drained) before
    * serialization, so deserialize never needs a compress pass. */
  private[functions] def toBytes(s0: QuantileSummaries): Array[Byte] = {
    val s = s0.compress()
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeDouble(s.relativeError)
    out.writeLong(s.count)
    out.writeInt(s.sampled.length)
    s.sampled.foreach { st =>
      out.writeDouble(st.value); out.writeLong(st.g); out.writeLong(st.delta)
    }
    out.flush()
    bos.toByteArray
  }

  private[functions] def fromBytes(bytes: Array[Byte]): QuantileSummaries = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val relErr = in.readDouble()
    val count = in.readLong()
    val n = in.readInt()
    val sampled = new Array[Stats](n)
    var i = 0
    while (i < n) {
      sampled(i) = Stats(in.readDouble(), in.readLong(), in.readLong())
      i += 1
    }
    new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold, relErr, sampled, count,
      compressed = true)
  }

  /** `merge` requires both sides drained of their insert head-buffer; a
    * compress() on an ALREADY-compressed summary still re-runs the whole
    * O(sampled) compression pass and re-allocates — on the merge-heavy
    * rollup path (one stored sketch per input row) that was O(rows ×
    * sketch size) pure churn. Merge outputs and deserialized sketches are
    * always compressed, so the flag check makes the no-op free. */
  private[functions] def ensureCompressed(
      s: QuantileSummaries): QuantileSummaries =
    if (s.compressed) s else s.compress()

  /** Aggregate column: GK summary of `c` with rank error ≤ n/accuracy. */
  def sketch(c: Column, accuracy: Long): Column =
    Bridge.column(
      QSketchAgg(Bridge.expression(c), accuracy).toAggregateExpression())

  /** Aggregate column: union of stored summaries (binary column). */
  def merge(c: Column): Column =
    Bridge.column(QMergeAgg(Bridge.expression(c)).toAggregateExpression())

  /** Scalar column: percentile values out of a summary, one per `ps`. */
  def values(c: Column, ps: Seq[Double]): Column =
    Bridge.column(QSketchValues(Bridge.expression(c), ps))

  private def nonFoldableArg(
      name: String, param: String, tpe: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName" -> s"`$name`", "paramName" -> s"`$param`",
        "paramType" -> tpe))

  /** SQL builders — constant arguments (accuracy, the percentile array)
    * extracted at resolution time; installed by [[GraftExtensions]]. Each
    * arity-correct-but-invalid shape gets its OWN analysis error
    * (non-foldable / NULL / out-of-range accuracy) instead of a confusing
    * "expected 2, got 2" WRONG_NUM_ARGS fallthrough. */
  private[functions] val sketchBuilder: Seq[Expression] => Expression = {
    case Seq(c, org.apache.spark.sql.catalyst.expressions
      .Literal(acc, LongType | IntegerType | ShortType | ByteType))
      if acc != null && acc.toString.toLong > 0 =>
      QSketchAgg(c, acc.toString.toLong)
    case Seq(_, org.apache.spark.sql.catalyst.expressions
      .Literal(acc, LongType | IntegerType | ShortType | ByteType))
      if acc != null => // right type, but <= 0: range error, not a require()
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE",
        messageParameters = Map(
          "sqlExpr" -> "\"q_sketch_agg(x, accuracy)\"",
          "exprName" -> "`accuracy`",
          "valueRange" -> s"[1, ${Long.MaxValue}]",
          "currentValue" -> acc.toString))
    case Seq(_, _) => // arity 2, but non-literal / NULL / non-integral
      nonFoldableArg("q_sketch_agg", "accuracy", "\"BIGINT\"")
    case other => GraftExtensions.wrongArgs("q_sketch_agg", 2, other.size)
  }

  private[functions] val mergeBuilder: Seq[Expression] => Expression = {
    case Seq(c) => QMergeAgg(c)
    case other => GraftExtensions.wrongArgs("q_merge_agg", 1, other.size)
  }

  private[functions] val valuesBuilder: Seq[Expression] => Expression = {
    // array(…) of foldable percentiles, pre- or post-constant-folding
    case Seq(c, org.apache.spark.sql.catalyst.expressions
      .CreateArray(elems, _)) if elems.forall(_.foldable) =>
      QSketchValues(c, elems.map(_.eval(null).toString.toDouble))
    case Seq(c, org.apache.spark.sql.catalyst.expressions
      .Literal(arr: org.apache.spark.sql.catalyst.util.ArrayData,
        ArrayType(DoubleType, _))) =>
      QSketchValues(c, arr.toDoubleArray().toSeq)
    case Seq(_, _) => // arity 2, but not a constant double array
      nonFoldableArg("q_sketch_values", "percentiles", "\"ARRAY<DOUBLE>\"")
    case other => GraftExtensions.wrongArgs("q_sketch_values", 2, other.size)
  }
}

/** `q_sketch_agg(x, accuracy)` — builds a serialized GK quantile summary.
  * Runs under ObjectHashAggregate (TypedImperativeAggregate): map-side
  * partial summaries per group, merged across the exchange — the shuffle
  * carries O(accuracy)-bounded sketch bytes per (group, partition), never
  * raw values. */
case class QSketchAgg(
    child: Expression,
    accuracy: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[QuantileSummaries] {

  require(accuracy > 0, s"q_sketch_agg needs accuracy > 0, got $accuracy")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"q_sketch_agg requires a numeric argument, got $other")
  }

  private lazy val toDouble: Any => Double = child.dataType match {
    case DoubleType => v => v.asInstanceOf[Double]
    case FloatType => v => v.asInstanceOf[Float].toDouble
    case LongType => v => v.asInstanceOf[Long].toDouble
    case IntegerType => v => v.asInstanceOf[Int].toDouble
    case ShortType => v => v.asInstanceOf[Short].toDouble
    case ByteType => v => v.asInstanceOf[Byte].toDouble
    case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "q_sketch_agg"

  override def createAggregationBuffer(): QuantileSummaries =
    new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold, 1.0d / accuracy)

  override def update(
      buf: QuantileSummaries, input: InternalRow): QuantileSummaries = {
    val v = child.eval(input)
    if (v == null) buf else buf.insert(toDouble(v))
  }

  override def merge(
      buf: QuantileSummaries, other: QuantileSummaries): QuantileSummaries =
    QuantileSketch.ensureCompressed(buf)
      .merge(QuantileSketch.ensureCompressed(other))

  override def eval(buf: QuantileSummaries): Any =
    QuantileSketch.toBytes(buf)

  override def serialize(buf: QuantileSummaries): Array[Byte] =
    QuantileSketch.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): QuantileSummaries =
    QuantileSketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): QSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QSketchAgg =
    copy(child = newChildren.head)
}

/** `q_merge_agg(sketch)` — unions serialized GK summaries. The rollup that
  * makes the daily grain re-aggregable: merging K stored sketches costs
  * O(K · sketch size) regardless of how many raw rows they summarize. */
case class QMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[QuantileSummaries] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"q_merge_agg requires a binary sketch argument, got $other")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "q_merge_agg"

  override def createAggregationBuffer(): QuantileSummaries =
    new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold,
      QuantileSummaries.defaultRelativeError)

  override def update(
      buf: QuantileSummaries, input: InternalRow): QuantileSummaries = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val other = QuantileSketch.fromBytes(v.asInstanceOf[Array[Byte]])
      // an empty buffer adopts the first sketch's relativeError via merge's
      // count==0 short-circuit; non-empty merges take the looser (max) of
      // the two errors — correct direction for the accuracy guarantee.
      // The buffer only ever holds merge outputs (never inserts), so the
      // ensureCompressed check is a free no-op after the first row —
      // dropping the former per-row compress() re-allocation.
      QuantileSketch.ensureCompressed(buf).merge(other)
    }
  }

  override def merge(
      buf: QuantileSummaries, other: QuantileSummaries): QuantileSummaries =
    QuantileSketch.ensureCompressed(buf)
      .merge(QuantileSketch.ensureCompressed(other))

  override def eval(buf: QuantileSummaries): Any =
    QuantileSketch.toBytes(buf)

  override def serialize(buf: QuantileSummaries): Array[Byte] =
    QuantileSketch.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): QuantileSummaries =
    QuantileSketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): QMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QMergeAgg =
    copy(child = newChildren.head)
}

/** `q_sketch_values(sketch)` — queries fixed percentiles out of a stored
  * summary; NULL for an empty sketch. Post-aggregation scalar (|groups|
  * rows), so CodegenFallback costs nothing on the raw-data path. */
case class QSketchValues(child: Expression, percentiles: Seq[Double])
    extends UnaryExpression with CodegenFallback {

  require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 1),
    s"percentiles must be in [0,1], got $percentiles")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"q_sketch_values requires a binary sketch argument, got $other")
  }

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "q_sketch_values"

  override protected def nullSafeEval(input: Any): Any = {
    val s = QuantileSketch.fromBytes(input.asInstanceOf[Array[Byte]])
    if (s.count == 0) null
    else new GenericArrayData(
      percentiles.map(p => s.query(p).get).toArray[Any])
  }

  override protected def withNewChildInternal(
      newChild: Expression): QSketchValues = copy(child = newChild)
}
