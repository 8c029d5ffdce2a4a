package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Maximum multiplicity of any element in an `array<string>` column
  * (the count of the mode), as a native codegen'd expression. NULL for
  * an empty array — "no elements" has no mode, and the repetition
  * fractions built on it must NULL-propagate, not divide by zero.
  *
  * Why custom (SURVEY §2.11): with this, per-document n-gram
  * statistics (q55) become a PURE MAP — the explode + two keyed
  * aggregations they would otherwise need all carry doc_id, so at
  * 100 TB they shuffle the whole exploded corpus just to count within
  * each row's own array. One per-row hash count removes the shuffle
  * entirely.
  */
case class ArrayMaxFreq(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  // NULL on empty input regardless of child nullability
  override def nullable: Boolean = true
  override def prettyName: String = "graft_array_max_freq"

  override def nullSafeEval(input: Any): Any =
    ArrayMaxFreq.modeCount(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      KernelCode.nullable(ev, s"${classOf[ArrayMaxFreq].getName}.modeCount($c)"))

  override protected def withNewChildInternal(newChild: Expression): ArrayMaxFreq =
    copy(child = newChild)
}

object ArrayMaxFreq {

  /** The kernel, shared by eval and generated code: the largest element
    * count, null for an empty array. */
  def modeCount(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new java.util.HashMap[UTF8String, java.lang.Long](n * 2)
    var best = 0L
    var i = 0
    while (i < n) {
      val k = arr.getUTF8String(i)
      val cur = counts.get(k)
      val v = if (cur == null) 1L else cur.longValue + 1L
      counts.put(k, v)
      if (v > best) best = v
      i += 1
    }
    best
  }

  def maxFreq(arr: Column): Column = column(ArrayMaxFreq(expression(arr)))
}
