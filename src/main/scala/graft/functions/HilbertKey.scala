package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Hilbert-curve distance of a 2-D point as a native codegen'd
  * expression: the classic xy→d conversion (per-level quadrant pick +
  * frame rotation, the public-domain algorithm) over the low `bits`
  * of two non-negative integral columns.
  *
  * Why custom (SURVEY §2.11): unlike the Morton key — a flat bit
  * interleave [[graft.operators.Layout.zorderKey]] composes from
  * shift/and/or Columns — the Hilbert walk carries STATE across bit
  * levels (each level may flip and swap the remaining coordinate
  * frame), so a Column composition either explodes the expression
  * tree (each level re-nests both coordinates) or falls back to a
  * HOF fold. One generated loop keeps it whole-stage-codegen'd.
  * Locality: consecutive keys are always grid-neighbors (LayoutSpec
  * pins this for the full 8×8 walk), which Morton cannot promise —
  * the reason Hilbert-clustered layouts prune tighter at the same
  * cell budget.
  */
case class HilbertKey(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert"

  private def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (l, r) if integral(l) && integral(r) =>
        if (bits >= 1 && bits <= 31) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName bits must be in [1, 31], got $bits")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires integral columns, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(x: Any, y: Any): Any =
    HilbertKey.key(
      x.asInstanceOf[Number].longValue(),
      y.asInstanceOf[Number].longValue(), bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"${classOf[HilbertKey].getName}.key((long)$x, (long)$y, $bits)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertKey =
    copy(left = newLeft, right = newRight)
}

object HilbertKey {

  /** xy→d: walk bit levels high to low; at each level pick the
    * quadrant (Gray-coded: (3·rx)⊕ry) and rotate/flip the frame for
    * the levels below. The kernel, shared by eval and generated code.
    */
  def key(xIn: Long, yIn: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1
    var x = xIn & mask
    var y = yIn & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  def hilbertKey(x: Column, y: Column, bits: Int = 16): Column =
    column(HilbertKey(expression(x), expression(y), bits))

  /** Unrolled DuckDB twin: one CTE level per bit (the loop-carried
    * x/y/d as materialized columns — the same reason the Spark side
    * is a generated loop, solved the only way SQL can).
    */
  def hilbertKeySqlCtes(x: String, y: String, bits: Int,
                        src: String): String = {
    val mask = (1L << bits) - 1
    val lvl0 =
      s"""h0 AS (
         |  SELECT *, CAST(($x & $mask) AS BIGINT) AS hx,
         |    CAST(($y & $mask) AS BIGINT) AS hy,
         |    CAST(0 AS BIGINT) AS hd
         |  FROM $src
         |)""".stripMargin
    val levels = (0 until bits).map { i =>
      val s = 1L << (bits - 1 - i)
      val rx = s"(CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)"
      val xr = s"(CASE WHEN $ry = 0 AND $rx = 1 THEN ${s - 1} - hx ELSE hx END)"
      val yr = s"(CASE WHEN $ry = 0 AND $rx = 1 THEN ${s - 1} - hy ELSE hy END)"
      s"""h${i + 1} AS (
         |  SELECT * REPLACE (
         |    (CASE WHEN $ry = 0 THEN $yr ELSE $xr END) AS hx,
         |    (CASE WHEN $ry = 0 THEN $xr ELSE $yr END) AS hy,
         |    hd + $s * $s * xor(3 * $rx, $ry) AS hd)
         |  FROM h$i
         |)""".stripMargin
    }
    (lvl0 +: levels).mkString(",\n")
  }
}
