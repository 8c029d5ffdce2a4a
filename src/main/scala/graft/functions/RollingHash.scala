package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused Rabin-Karp-style rolling hash over a token array as a native
  * codegen'd expression: h = (h*131 + (numChars(t)*31 + firstCP(t)))
  * mod 1e9+7, left to right.
  *
  * Why custom (SURVEY §2.11): the composable form
  * (`aggregate(tokens, ...)` in TextFunctions.rollingFingerprintHof)
  * is a higher-order function — CodegenFallback, interpreted lambda
  * dispatch per token in q24's hot path. This expression runs one
  * fused loop. Semantics are IDENTICAL to the HOF form (asserted
  * bit-for-bit in PipelineSpec, unicode included): `length` = code
  * point count = UTF8String.numChars, `ascii` = first code point
  * (supplementary-safe, read via a 1-codepoint substring — no
  * full-token String copy) with 0 for the empty string. A null token
  * nulls the whole fold, like the HOF's null propagation. Modular
  * arithmetic keeps every intermediate < 2^38 — exact on the JVM and
  * in the DuckDB oracle alike (q24's oracle is unchanged).
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  // nullable regardless of child nullability: a null ELEMENT nulls the
  // fold (and keeps ev.isNull a real variable in generated code)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_rolling_hash"

  // analysis-time input validation (a wrong-typed call must be an
  // AnalysisException, not a runtime cast error or silent garbage)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    RollingHash.foldTokens(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      KernelCode.nullable(ev, s"${classOf[RollingHash].getName}.foldTokens($arr)"))

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  /** Fold modulus: keeps h*131 + code < 2^38 (exact in any engine). */
  val Modulus: Long = 1000000007L

  /** The kernel, shared by eval and generated code: the fold over the
    * tokens left to right, null at the first null token. */
  def foldTokens(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var h = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      h = step(h, arr.getUTF8String(i))
      i += 1
    }
    h
  }

  /** One fold step. numChars counts code points (= Spark `length`);
    * the first code point is read through a one-codepoint substring
    * (<= 4 bytes copied — same shape as Spark's own Ascii), matching
    * `ascii` incl. supplementary planes; empty token contributes
    * code 0.
    */
  private def step(h: Long, t: UTF8String): Long = {
    val chars = t.numChars().toLong
    val code =
      if (chars == 0) 0L else t.substring(0, 1).toString.codePointAt(0).toLong
    (h * 131L + (chars * 31L + code)) % Modulus
  }

  def rollingHash(tokens: Column): Column = column(RollingHash(expression(tokens)))
}
