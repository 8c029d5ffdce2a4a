package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Floor index into a SORTED `array<bigint>`: the LARGEST i with
  * `arr[i] <= t`, or -1 when every element is greater (or the array
  * is empty) — one codegen'd binary search, O(log n) per row,
  * allocation-free, inside WholeStageCodegen.
  *
  * This is the probe kernel of the BROADCAST as-of join
  * ([[graft.plans.AsofJoinOps.asofJoinBroadcast]]): the right side
  * collapses to per-key sorted time arrays that ride a broadcast
  * hash join, and each left row resolves its backward as-of match
  * with this search — the big side is never shuffled or sorted.
  * Why custom (SURVEY §2.11, the [[SortedIntersectCount]] argument):
  * the composable form `size(filter(arr, x -> x <= t))` scans all n
  * elements and allocates a filtered array per row just to take its
  * length; this is the same answer at O(log n) with zero allocation.
  * Ties (duplicate times) resolve to the LAST duplicate — the
  * backward as-of discipline.
  */
case class SortedFloorIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_floor_index"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.ArrayType
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<bigint>, bigint), got ${l.sql} and ${r.sql}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedFloorIndex.floorOf(a.asInstanceOf[ArrayData], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"${classOf[SortedFloorIndex].getName}.floorOf($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedFloorIndex =
    copy(left = newLeft, right = newRight)
}

object SortedFloorIndex {

  /** The kernel, shared by eval and generated code: the binary search. */
  def floorOf(arr: ArrayData, t: Long): Int = {
    var lo = 0
    var hi = arr.numElements() - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (arr.getLong(mid) <= t) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    ans
  }

  def floorIndex(arr: Column, t: Column): Column =
    column(SortedFloorIndex(expression(arr), expression(t)))
}
