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

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val t = b.asInstanceOf[Long]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid"); val ans = ctx.freshName("ans")
      s"""
         |int $lo = 0;
         |int $hi = $a.numElements() - 1;
         |int $ans = -1;
         |while ($lo <= $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($a.getLong($mid) <= $b) { $ans = $mid; $lo = $mid + 1; }
         |  else { $hi = $mid - 1; }
         |}
         |${ev.value} = $ans;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedFloorIndex =
    copy(left = newLeft, right = newRight)
}

object SortedFloorIndex {
  def floorIndex(arr: Column, t: Column): Column =
    column(SortedFloorIndex(expression(arr), expression(t)))
}
