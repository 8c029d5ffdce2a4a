package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Space-joined word n-grams over an `array<string>` column as a
  * native Catalyst expression with whole-stage codegen.
  *
  * Why custom (SURVEY §2.11): the composable form
  * `transform(sequence(0, len - n), i -> concat_ws(' ', toks[i], ...))`
  * is a higher-order function — CodegenFallback, per-row lambda
  * dispatch plus a `sequence` array allocation — sitting in the
  * hottest text paths (shingles for q26/q27/q54, bigrams for q55/q56,
  * trigrams for q61). This runs one fused loop building the
  * output array directly.
  *
  * Semantics are identical to the composable form for n >= 1 on
  * non-null token arrays: fewer than n tokens => empty array (callers
  * additionally pre-filter, matching the oracle CTEs). `concatWs`
  * skips nulls exactly like `concat_ws`; `tokens()` never yields null
  * elements.
  */
case class WordNGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  override def nullSafeEval(input: Any): Any =
    WordNGrams.grams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${classOf[WordNGrams].getName}.grams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNGrams =
    copy(child = newChild)
}

object WordNGrams {

  private val Space = UTF8String.fromString(" ")

  /** The kernel, shared by eval and generated code: the n-grams,
    * reusing one `parts` array for the row. */
  def grams(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements() - n + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](m)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  def ngrams(toks: Column, n: Int): Column = column(WordNGrams(expression(toks), n))
}
