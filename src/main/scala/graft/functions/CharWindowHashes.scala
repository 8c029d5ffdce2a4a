package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All length-L byte-window hashes of a string in ONE pass: the
  * Rabin–Karp rolling polynomial hash (base 131, modulus the Mersenne
  * prime 2⁶¹−1, branch-free multiply-high reduction) emitted as
  * `array<long>` with one element per window start.
  *
  * Why custom (SURVEY §2.11): this is q307's 100 TB scale kernel. The
  * graded md5 form materializes an L-byte substring AND a 16-byte
  * digest per POSITION — O(n·L) bytes of work and allocation per
  * document; the rolling form is O(n) with zero per-window
  * allocation, and the 61-bit modulus keeps the corpus-wide collision
  * expectation negligible (n²/2⁶² pairs). Byte-level (UTF-8) window
  * positions: identical to character positions on ASCII corpora —
  * SpansSpec pins the fast path to the graded md5 path row-for-row.
  */
case class CharWindowHashes(child: Expression, l: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_window_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType =>
      if (l >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName window must be >= 1")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    CharWindowHashes.hashes(input.asInstanceOf[UTF8String], l)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"${classOf[CharWindowHashes].getName}.hashes($s, $l)")

  override protected def withNewChildInternal(newChild: Expression): CharWindowHashes =
    copy(child = newChild)
}

object CharWindowHashes {

  private val M = (1L << 61) - 1 // Mersenne prime 2^61 - 1
  private val P = 131L

  /** (a*b) mod M for a, b in [0, M): split the 122-bit product with
    * multiplyHigh; 2^64 ≡ 8 and 2^61 ≡ 1 (mod M) fold it to three
    * sub-2^61 terms.
    */
  private def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (hi << 3) + (lo >>> 61) + (lo & M)
    while (r >= M) r -= M
    r
  }

  /** The kernel, shared by eval and generated code. Returns the
    * (numBytes - l + 1) window hashes, empty when the string is
    * shorter than l.
    */
  def hashes(s: UTF8String, l: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < l) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](n - l + 1)
    // P^(l-1) mod M for the outgoing byte's weight
    var pl = 1L
    var i = 0
    while (i < l - 1) { pl = mulmod(pl, P); i += 1 }
    var h = 0L
    i = 0
    while (i < l) {
      h = mulmod(h, P) + (bytes(i) & 0xFFL)
      if (h >= M) h -= M
      i += 1
    }
    out(0) = h
    i = 1
    while (i <= n - l) {
      var t = h - mulmod(bytes(i - 1) & 0xFFL, pl)
      if (t < 0) t += M
      h = mulmod(t, P) + (bytes(i + l - 1) & 0xFFL)
      if (h >= M) h -= M
      out(i) = h
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def windowHashes(text: Column, l: Int): Column =
    column(CharWindowHashes(expression(text), l))
}
