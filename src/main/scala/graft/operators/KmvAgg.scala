package graft.operators

import java.nio.ByteBuffer
import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Custom Catalyst aggregate form of the [[Kmv]] k-minimum-values
  * distinct sketch — the same (k_used, kth_hash) summary as
  * [[Kmv.sketch]], but as a mergeable aggregation buffer instead of a
  * distinct + rank-window plan, which is what lets it run INSIDE a
  * Structured Streaming windowed aggregation with bounded state
  * (see [[graft.streaming.SketchStreams.kmvStream]]): one ≤k-pair
  * buffer per open window, evicted at the watermark, where an exact
  * streaming distinct-count would hold one state row per distinct key
  * per window.
  *
  * Buffer = the k lexicographically-smallest (hash, key) pairs seen —
  * (hash, key) pairs, not hashes alone, so hash collisions cannot make
  * the k-th value order-dependent (same tie-break as [[Kmv.sketch]]).
  * Insert dedupes identical keys by construction (equal pairs), so no
  * upstream distinct is needed. Merge = set union truncated back to k
  * — associative and order-independent, so partial buffers from any
  * partitioning or micro-batch slicing combine to the same bits
  * (KmvAggSpec proves batch ≡ [[Kmv.sketch]] ≡ streaming).
  * Second form kept on purpose: this buffer serves the streaming state
  * ([[graft.streaming.SketchStreams.windowedKmv]], q176); the batch
  * query q162 runs [[Kmv.sketch]].
  *
  * The hash is [[Kmv.hash32]]'s two-round masked-xorshift chain
  * evaluated on the JVM ([[Kmv.hash32Jvm]]); KmvSpec asserts the JVM
  * and Column forms agree, so a DuckDB oracle can still rebuild the
  * identical sketch in SQL (q176).
  */
case class KmvAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[(Long, Long)]] {

  require(k >= 2 && k <= 65536, "k: 2..65536")

  override def createAggregationBuffer(): mutable.TreeSet[(Long, Long)] =
    mutable.TreeSet.empty[(Long, Long)]

  override def update(buffer: mutable.TreeSet[(Long, Long)],
                      input: InternalRow): mutable.TreeSet[(Long, Long)] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[Long]
      buffer.add((Kmv.hash32Jvm(key), key))
      if (buffer.size > k) buffer.remove(buffer.max)
    }
    buffer
  }

  override def merge(buffer: mutable.TreeSet[(Long, Long)],
                     other: mutable.TreeSet[(Long, Long)]): mutable.TreeSet[(Long, Long)] = {
    other.foreach(buffer.add)
    while (buffer.size > k) buffer.remove(buffer.max)
    buffer
  }

  override def eval(buffer: mutable.TreeSet[(Long, Long)]): Any =
    new GenericInternalRow(Array[Any](
      buffer.size.toLong,
      if (buffer.isEmpty) 0L else buffer.max._1))

  override def serialize(buffer: mutable.TreeSet[(Long, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 16)
    bb.putInt(buffer.size)
    buffer.foreach { case (h, key) => bb.putLong(h); bb.putLong(key) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[(Long, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = mutable.TreeSet.empty[(Long, Long)]
    (0 until n).foreach(_ => s.add((bb.getLong, bb.getLong)))
    s
  }

  override def dataType: DataType = StructType(Seq(
    StructField("k_used", LongType, nullable = false),
    StructField("kth_hash", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "kmv_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object KmvAgg {

  /** Aggregate Column: struct(k_used, kth_hash) over a LONG key column
    * (cast upstream). Bit-identical to [[Kmv.sketch]] per group. */
  def kmv_sketch(key: Column, k: Int): Column =
    column(KmvAgg(expression(key), k).toAggregateExpression())
}
