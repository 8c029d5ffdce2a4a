package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters sketch as a TypedImperativeAggregate —
  * the bounded-state frequent-items primitive a 100 TB token scan
  * needs (an exact (token, count) aggregate shuffles the full
  * vocabulary; this keeps ≤ k counters per partial buffer, merges
  * associatively, and map-side combines like any aggregate).
  *
  * Guarantees (the classic MG bounds, spec-asserted against the exact
  * counts): with capacity k over N items, every item with true
  * frequency > N/(k+1) is PRESENT in the sketch, and each reported
  * estimate undercounts by at most N/(k+1). The merge (sum counters,
  * then decrement-all by the (k+1)-th largest excess) preserves both
  * bounds (Agarwal et al., "Mergeable Summaries").
  *
  * Not oracle-graded: sketch contents depend on arrival/merge order —
  * the EXACT top-k stays the graded twin (q36's vocabulary); this is
  * the benched scale path (x04), the same split as the HLL/quantile
  * twins.
  */
case class HeavyHitters(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType, LongType)
  override def prettyName: String = "graft_heavy_hitters"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  /** MG decrement step: drop every counter by the smallest amount
    * that brings the table back to ≤ k entries (the (k+1)-th largest
    * count when overfull), evicting zeros.
    */
  private def shrink(buf: mutable.HashMap[String, Long]): Unit = {
    if (buf.size > k) {
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val dec = counts(counts.length - (k + 1)) // (k+1)-th largest
      val dead = mutable.ArrayBuffer.empty[String]
      buf.keysIterator.foreach { key =>
        val c = buf(key) - dec
        if (c <= 0) dead += key else buf(key) = c
      }
      dead.foreach(buf.remove)
    }
  }

  override def update(buf: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      buf.updateWith(s) { case Some(c) => Some(c + 1); case None => Some(1L) }
      shrink(buf)
    }
    buf
  }

  override def merge(a: mutable.HashMap[String, Long],
                     b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (key, c) =>
      a.updateWith(key) { case Some(c0) => Some(c0 + c); case None => Some(c) }
    }
    shrink(a)
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    // deterministic rendering: entries sorted by (count desc, item)
    val entries = buf.toArray.sortBy { case (s, c) => (-c, s) }
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => UTF8String.fromString(e._1))),
      new GenericArrayData(entries.map(e => Long.box(e._2))))
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val items = buf.toArray
    val bytes = items.map(_._1.getBytes(StandardCharsets.UTF_8))
    val size = 4 + bytes.map(b => 4 + b.length + 8).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(items.length)
    items.indices.foreach { i =>
      bb.putInt(bytes(i).length); bb.put(bytes(i)); bb.putLong(items(i)._2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = bb.getInt
      val sb = new Array[Byte](len); bb.get(sb)
      buf(new String(sb, StandardCharsets.UTF_8)) = bb.getLong
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): HeavyHitters =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HeavyHitters =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HeavyHitters =
    copy(child = c.head)
}

object HeavyHitters {
  /** Aggregate Column: map<item, estimate> of ≤ k heavy hitters. */
  def heavyHitters(item: Column, k: Int): Column =
    column(HeavyHitters(expression(item), k).toAggregateExpression())
}
