package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature sketch as a TypedImperativeAggregate (SURVEY
  * §2.11's sketch-aggregate candidate): one pass over a group's
  * shingles produces the full `numHashes`-slot signature
  * `h_i = min over shingles of (A_i * x + B_i) mod p` where
  * x = md5word(shingle) mod p and (A_i, B_i) are deterministic
  * per-slot constants ([[PortableHash.slotConstants]]) — the textbook
  * universal hash family, so slots are independent and the LSH band
  * recall model (P(candidate) = 1-(1-j^r)^b) actually holds. (An
  * earlier draft used the modulus-free ladder a + i*b, whose slots
  * are strongly correlated — higher slots degenerate toward argmin-b.)
  *
  * Why custom: the composable form is `numHashes` independent
  * `min(hash_i(col))` aggregates — numHashes aggregation buffers per
  * group. This sketch keeps one mutable long-array buffer per group
  * and ONE md5 digest per input row, merges partials elementwise
  * (map-side combine works as usual).
  *
  * Why md5 (round 2): xxhash64 has no DuckDB twin, which left the
  * LSH queries rows-only in CORRECTNESS_r01. DuckDB reproduces the
  * family bit-for-bit:
  * `MIN((a * (CAST(('0x'||substr(md5(s),1,8)) AS BIGINT) % p) + b) % p)`
  * with the same (a, b) literals — asserted equal to this aggregate
  * (and to the Spark Column form) in PipelineSpec. x, A, B < p = 2^31-1
  * keeps A*x + B < 2^62: exact on both engines.
  */
case class MinHashSketch(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  @transient private lazy val slotAB: Array[(Long, Long)] =
    PortableHash.slotConstants(numHashes)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = PortableHash.md5PairJvm(v.asInstanceOf[UTF8String].getBytes)._1 %
        PortableHash.P31
      var i = 0
      while (i < numHashes) {
        val (a, b) = slotAB(i)
        val h = (a * x + b) % PortableHash.P31
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): MinHashSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MinHashSketch =
    copy(child = c.head)
}

object MinHashSketch {
  /** Aggregate Column: array<bigint> MinHash signature of the group. */
  def minhash(shingle: Column, numHashes: Int): Column =
    column(MinHashSketch(expression(shingle), numHashes).toAggregateExpression())
}
