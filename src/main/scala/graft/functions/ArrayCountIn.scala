package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of elements of an `array<string>` column that belong to a
  * fixed word set, as a native codegen'd expression (one hash-set
  * probe per token, set built once at plan time).
  *
  * Why custom (SURVEY §2.11): the composable forms are either
  * `size(filter(arr, t -> t IN (...)))` — a CodegenFallback
  * higher-order function with a linear IN chain — or an explode +
  * conditional-sum aggregation, which shuffles the exploded corpus by
  * doc just to count within each row (the round-3 q22 shape). This
  * keeps language-ID at scan speed with zero shuffles.
  */
case class ArrayCountIn(child: Expression, words: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_array_count_in"

  private val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    ArrayCountIn.countMembers(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => {
      val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
      s"${classOf[ArrayCountIn].getName}.countMembers($c, $setRef)"
    })

  override protected def withNewChildInternal(newChild: Expression): ArrayCountIn =
    copy(child = newChild)
}

object ArrayCountIn {

  /** The kernel, shared by eval and generated code: elements in `set`. */
  def countMembers(arr: ArrayData, set: java.util.HashSet[UTF8String]): Long = {
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  def countIn(arr: Column, words: Seq[String]): Column =
    column(ArrayCountIn(expression(arr), words))
}
