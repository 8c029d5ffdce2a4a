package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** |A ∩ B| of two SORTED `array<bigint>` columns as one codegen'd
  * merge walk — the triangle-closing kernel (q115) and any
  * sorted-adjacency intersection.
  *
  * Why custom (SURVEY §2.11, the [[CosineSimilarity]] argument):
  * `size(array_intersect(a, b))` builds a hash set of one side and
  * MATERIALIZES the intersection array per row just to take its
  * length; the merge walk is O(|A|+|B|), allocation-free, and stays
  * inside WholeStageCodegen. Inputs MUST be ascending-sorted
  * (producers use `array_sort(collect_list(...))`); duplicates are
  * counted min(multiplicity) times, identical to `array_intersect`
  * on duplicate-free inputs — adjacency lists are sets by
  * construction.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.ArrayType
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<bigint> inputs, got ${l.sql} and ${r.sql}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCount.mergeCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"${classOf[SortedIntersectCount].getName}.mergeCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {

  /** The kernel, shared by eval and generated code: the merge walk. */
  def mergeCount(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  def intersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
}
