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

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $n = $c.numElements();
         |long $cnt = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($setRef.contains($c.getUTF8String($i))) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArrayCountIn =
    copy(child = newChild)
}

object ArrayCountIn {
  def countIn(arr: Column, words: Seq[String]): Column =
    column(ArrayCountIn(expression(arr), words))
}
