package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions installer for the engine's native SQL functions.
  * [[graft.GraftSession.local]] installs it in every session it builds;
  * outside that factory it ships in a session from construction via
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   // or: .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * so SQL text, views, and thrift-served queries all resolve `poly_hash`,
  * `dot_product`, `shingle_hashes`, `cdc_boundaries`, and the mergeable
  * quantile-sketch family (`q_sketch_agg`, `q_merge_agg`,
  * `q_sketch_values` — constant arguments extracted at resolution time,
  * non-constant ones rejected with the standard analysis error). On a
  * cluster the config string is the only wiring needed. (MinHashSig /
  * SimHashBits take Scala-level parameters — permutation constants, bit
  * width — and stay Column-API-only.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions.wrongArgs

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, cls: Class[_])(
        builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction(
        (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    inject("poly_hash", classOf[PolyHash]) {
      case Seq(e) => PolyHash(e)
      case other => wrongArgs("poly_hash", 1, other.size)
    }
    inject("dot_product", classOf[DotProduct]) {
      case Seq(a, b) => DotProduct(a, b)
      case other => wrongArgs("dot_product", 2, other.size)
    }
    inject("shingle_hashes", classOf[ShingleHashes]) {
      case Seq(e) => ShingleHashes(e)
      case other => wrongArgs("shingle_hashes", 1, other.size)
    }
    inject("cdc_boundaries", classOf[CdcBoundaries]) {
      case Seq(e) => CdcBoundaries(e)
      case other => wrongArgs("cdc_boundaries", 1, other.size)
    }
    inject("q_sketch_agg", classOf[QSketchAgg])(QuantileSketch.sketchBuilder)
    inject("q_merge_agg", classOf[QMergeAgg])(QuantileSketch.mergeBuilder)
    inject("q_sketch_values", classOf[QSketchValues])(QuantileSketch.valuesBuilder)
  }
}

object GraftExtensions {
  /** The standard analysis error for a wrong argument count: raised while
    * the SQL text resolves, not as a crash at plan time. */
  private[functions] def wrongArgs(name: String, expected: Int, actual: Int): Nothing =
    throw new AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`", "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString, "docroot" -> "-"))
}
