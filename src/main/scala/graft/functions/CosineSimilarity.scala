package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Fused cosine similarity over two `array<float>` columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Why custom (SURVEY §2.11): the composable form
  * (`aggregate(zip_with(...))` + two norm aggregates) is built from
  * higher-order functions, which are CodegenFallback — every row pays
  * interpreted lambda dispatch and array allocation. This expression
  * runs a single fused loop (one pass: dot + both norms), keeping
  * the kNN/near-dup kernels inside WholeStageCodegen.
  *
  * Numerics are identical to the composable form and the DuckDB
  * oracle: float → double per element (exact), sequential left-to-right
  * double accumulation, `dot / (sqrt(na) * sqrt(nb))`.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // nullable regardless of child nullability: length mismatch => NULL
  // (also keeps ev.isNull a real variable in generated code)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  /** array<float> ONLY: the fused loop reads float slots, so an
    * array<double> input would silently read garbage (4 bytes of each
    * 8-byte element) instead of failing — enforce at analysis time.
    */
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects two array<float> inputs, got ${l.sql} and ${r.sql}")
    }
  }

  /** Mismatched lengths yield NULL (matching the composable
    * `zip_with` form, whose null padding nulls the whole sum) rather
    * than a silently-truncated prefix similarity. Elements must be
    * non-null floats (embedding columns; enforced upstream).
    */
  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosineOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      KernelCode.nullable(ev, s"${classOf[CosineSimilarity].getName}.cosineOf($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** The kernel, shared by eval and generated code: one pass for the
    * dot product and both norms, null on a length mismatch. */
  def cosineOf(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))
}
