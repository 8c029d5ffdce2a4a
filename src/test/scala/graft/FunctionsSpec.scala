package graft

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** The row-level custom expressions answer the same interpreted and
  * generated. Both forms run on graded traffic: a local frame or a
  * higher-order lambda evaluates `eval`, a Parquet-fed stage runs the
  * generated code — sometimes in one query (q37's cosine). Inputs are
  * UnsafeRows, as a scan hands them to either form.
  */
class FunctionsSpec extends AnyFunSuite {

  private val strs = ArrayType(StringType)
  private val floats = ArrayType(FloatType)
  private val doubles = ArrayType(DoubleType)
  private val longs = ArrayType(LongType)

  /** NULL, an empty array, one element, a null element, a non-ASCII
    * and a supplementary-plane token, and a repeated token. */
  private val tokenArrays: Seq[Seq[Any]] = Seq(null, Seq(), Seq("the"),
    Seq("a", null), Seq(null, null), Seq("café", "😀", "the", "😀", ""),
    Seq("x", "y", "x", "x"))
    .map(Seq(_))

  /** Two-array cases: empty, length mismatch, a null element, one
    * element, all-zero, and a plain pair. */
  private def pairs(v: Double => Any): Seq[Seq[Any]] = Seq(
    Seq(null, Seq(v(1))), Seq(Seq(), Seq()), Seq(Seq(), Seq(v(1))),
    Seq(Seq(v(1)), Seq(v(1), v(2))), Seq(Seq(null, v(1)), Seq(v(1), v(1))),
    Seq(Seq(v(-2)), Seq(v(3))), Seq(Seq(v(0), v(0)), Seq(v(0), v(0))),
    Seq(Seq(v(1), v(-2), v(3.5)), Seq(v(0.25), v(2), v(-1))))

  /** Each input tuple where `eval` and the generated projection of
    * `build(bound inputs)` differ. Doubles compare bit for bit. */
  private def disagreements(build: Seq[Expression] => Expression,
      types: Seq[DataType], inputs: Seq[Seq[Any]]): Seq[String] = {
    val e = build(types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })
    val generated = GenerateUnsafeProjection.generate(Seq(e))
    val toUnsafe = UnsafeProjection.create(types.toArray)
    inputs.flatMap { in =>
      val row = toUnsafe(new GenericInternalRow(
        in.map(CatalystTypeConverters.convertToCatalyst).toArray)).copy()
      val out = generated(row)
      val interpreted = plain(e.eval(row), e.dataType)
      val compiled = if (out.isNullAt(0)) null else plain(out.get(0, e.dataType), e.dataType)
      if (java.util.Objects.equals(interpreted, compiled)) Nil
      else Seq(s"${e.prettyName}${in.mkString("(", ", ", ")")}: " +
        s"eval $interpreted, generated $compiled")
    }
  }

  private def plain(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (a: ArrayData, ArrayType(et, _)) => a.toSeq[Any](et).map(plain(_, et)).toList
    case (s: UTF8String, _) => s.toString
    case _ => v
  }

  test("every row-level expression: eval equals generated code on edge inputs") {
    val problems = Seq(
      disagreements(c => ArrayCountIn(c(0), Seq("the", "café", "😀", "")),
        Seq(strs), tokenArrays),
      disagreements(c => ArrayMaxFreq(c(0)), Seq(strs), tokenArrays),
      disagreements(c => CharWindowHashes(c(0), 3), Seq(StringType),
        Seq(null, "", "ab", "abc", "héllo 😀", "aaaa").map(Seq(_))),
      disagreements(c => CosineSimilarity(c(0), c(1)), Seq(floats, floats),
        pairs(_.toFloat)),
      disagreements(c => DtwDistance(c(0), c(1)), Seq(doubles, doubles),
        pairs(identity)),
      disagreements(c => HilbertKey(c(0), c(1), 4), Seq(LongType, LongType),
        Seq(Seq(null, 1L), Seq(0L, 0L), Seq(3L, 5L), Seq(15L, 15L), Seq(-1L, 7L))),
      disagreements(c => NfcNormalize(c(0)), Seq(StringType),
        Seq(null, "", "café", "café", "😀x", "ẛ̣").map(Seq(_))),
      disagreements(c => RollingHash(c(0)), Seq(strs), tokenArrays),
      disagreements(c => SignHamming(c(0), c(1)), Seq(floats, floats),
        pairs(_.toFloat)),
      disagreements(c => SortedFloorIndex(c(0), c(1)), Seq(longs, LongType),
        Seq(Seq(Seq(), 5L), Seq(Seq(5L), 5L), Seq(Seq(5L), 4L), Seq(null, 1L),
          Seq(Seq(1L), null), Seq(Seq(1L, 2L, 2L, 2L, 3L), 2L),
          Seq(Seq(1L, 2L, 2L, 2L, 3L), 9L), Seq(Seq(1L, 2L), 0L),
          Seq(Seq(null, 4L), 4L))),
      disagreements(c => SortedIntersectCount(c(0), c(1)), Seq(longs, longs),
        pairs(_.toLong)),
      disagreements(c => WordNGrams(c(0), 3), Seq(strs),
        tokenArrays ++ Seq(Seq(Seq("a", "b")), Seq(Seq("a", "b", "c", "d"))))
    ).flatten
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
