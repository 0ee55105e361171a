package graft.operators

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst aggregate: Misra–Gries heavy-hitters sketch — the
  * bounded-memory answer to "which tokens dominate this corpus" when
  * the exact groupBy's key space is too large to hold.
  *
  * The buffer is AT MOST k counters regardless of input size. Classic
  * update: known key → increment; free slot → insert; full → decrement
  * every counter (an arrival "cancels" k distinct others), dropping
  * zeros. Merge (mergeable-summaries form): sum counters, and if more
  * than k survive, subtract the (k+1)-th largest count from all and
  * truncate. Guarantees, regardless of partitioning/merge order, with N
  * = total count: every estimate is an UNDERCOUNT by at most N/(k+1) ≤
  * N/k, and any item with true count > N/(k+1) is guaranteed present.
  * When the number of distinct keys never exceeds k, no decrement ever
  * fires anywhere, so the sketch is EXACTLY the true counts — the
  * regime q80's hash oracle pins; the eviction regime's bounds are
  * spec-asserted on skewed data (MisraGriesAggSpec).
  *
  * Scale: constant-size buffer per group, partial aggregation map-side,
  * merge cost O(k log k) — the shuffle carries k counters per
  * partition, never the token stream.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k > 0, "k must be positive")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buffer: mutable.HashMap[String, Long],
                      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      buffer.get(s) match {
        case Some(c) => buffer.update(s, c + 1)
        case None if buffer.size < k => buffer.update(s, 1L)
        case None =>
          // decrement-all: drop zeros in place
          val dead = mutable.ArrayBuffer.empty[String]
          buffer.keysIterator.foreach { key =>
            val c = buffer(key) - 1
            if (c == 0) dead += key else buffer.update(key, c)
          }
          dead.foreach(buffer.remove)
      }
    }
    buffer
  }

  override def merge(buffer: mutable.HashMap[String, Long],
                     other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (s, c) =>
      buffer.update(s, buffer.getOrElse(s, 0L) + c)
    }
    if (buffer.size > k) {
      // subtract the (k+1)-th largest count from every counter
      val d = buffer.values.toArray.sorted(Ordering[Long].reverse)(k)
      val dead = mutable.ArrayBuffer.empty[String]
      buffer.keysIterator.foreach { key =>
        val c = buffer(key) - d
        if (c <= 0) dead += key else buffer.update(key, c)
      }
      dead.foreach(buffer.remove)
    }
    buffer
  }

  override def eval(buffer: mutable.HashMap[String, Long]): Any = {
    // deterministic key order inside the map value (hash-map iteration
    // order is not)
    val entries = buffer.toArray.sortBy(_._1)
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => UTF8String.fromString(e._1))),
      new GenericArrayData(entries.map(_._2)))
  }

  override def serialize(buffer: mutable.HashMap[String, Long]): Array[Byte] = {
    val entries = buffer.toArray
    val byteArrays = entries.map(_._1.getBytes(StandardCharsets.UTF_8))
    val size = 4 + entries.indices.map(i => 4 + byteArrays(i).length + 8).sum
    val bb = ByteBuffer.allocate(size)
    bb.putInt(entries.length)
    entries.indices.foreach { i =>
      bb.putInt(byteArrays(i).length)
      bb.put(byteArrays(i))
      bb.putLong(entries(i)._2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val len = bb.getInt
      val sb = new Array[Byte](len)
      bb.get(sb)
      m.update(new String(sb, StandardCharsets.UTF_8), bb.getLong)
    }
    m
  }

  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "misra_gries"

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MisraGriesAgg {

  /** Aggregate Column: map<token, estimated count> with at most `k`
    * entries. */
  def misra_gries(token: Column, k: Int): Column =
    column(MisraGriesAgg(expression(token), k).toAggregateExpression())
}
