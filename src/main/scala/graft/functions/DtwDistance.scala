package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Dynamic-time-warping distance of two `array<double>` series with
  * the classic unconstrained step pattern and L1 local cost:
  * dp(i,j) = |a_i − b_j| + min(dp(i−1,j), dp(i,j−1), dp(i−1,j−1)).
  *
  * Why custom (SURVEY §2.11, the [[SortedIntersectCount]] argument):
  * the DP needs an O(n·m) loop with two rolling rows — inexpressible
  * as a composition of higher-order array functions without building
  * per-cell intermediate arrays (an `aggregate`-in-`aggregate` that
  * allocates O(n·m) and falls out of codegen). Here it is one
  * allocation-light loop that stays inside WholeStageCodegen.
  *
  * Determinism: the accumulation order is FIXED by the recurrence
  * (row-major, `cost + min3`), so both engines (and any partitioning)
  * produce bit-identical doubles; the DuckDB oracle twin is the same
  * recurrence unrolled as lateral-alias column chains.
  */
case class DtwDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dtw_distance"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.ArrayType
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<double> inputs, got ${l.sql} and ${r.sql}")
    }
  }

  // an empty side => NULL regardless of child nullability
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    DtwDistance.dtwOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      KernelCode.nullable(ev, s"${classOf[DtwDistance].getName}.dtwOf($a, $b)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DtwDistance =
    copy(left = newLeft, right = newRight)
}

object DtwDistance {

  /** The kernel, shared by eval and generated code: two rolling
    * `double[m]` rows per call, null when either side is empty. */
  def dtwOf(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements(); val m = y.numElements()
    if (n == 0 || m == 0) return null
    val prev = new Array[Double](m)
    val cur = new Array[Double](m)
    var j = 0
    while (j < m) {
      val c = math.abs(x.getDouble(0) - y.getDouble(j))
      prev(j) = if (j == 0) c else c + prev(j - 1)
      j += 1
    }
    var i = 1
    while (i < n) {
      cur(0) = math.abs(x.getDouble(i) - y.getDouble(0)) + prev(0)
      j = 1
      while (j < m) {
        val c = math.abs(x.getDouble(i) - y.getDouble(j))
        val m3 = math.min(prev(j), math.min(prev(j - 1), cur(j - 1)))
        cur(j) = c + m3
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m)
      i += 1
    }
    prev(m - 1)
  }

  def dtw(a: Column, b: Column): Column =
    column(DtwDistance(expression(a), expression(b)))
}
