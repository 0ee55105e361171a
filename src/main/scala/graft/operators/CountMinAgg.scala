package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Aggregation-buffer form of the [[CountMin]] sketch — the same d×w
  * counter grid as [[CountMin.sketch]]'s plan-level build, but carried
  * as a [[TypedImperativeAggregate]] buffer so it can run INSIDE a
  * Structured Streaming windowed aggregation (see
  * [[graft.streaming.SketchStreams.countMinStream]]): one d·w-long
  * buffer per open window, evicted at the watermark, where the
  * plan-level build is batch-only and an exact per-key count keeps one
  * state row per distinct key per window.
  *
  * Output = point-query estimates for a FIXED probe-key list (est(p) =
  * min over rows of p's cell — ≥ true count, the classic CMS bound),
  * so a window's summary is |probes| longs, not the d·w grid.
  *
  * Merge is cell-wise addition — associative AND commutative with no
  * truncation, so unlike every bounded-buffer sketch in this family the
  * merged grid is IDENTICAL under any partitioning or micro-batch
  * slicing, bit-for-bit. Hashes are [[CountMin.bucketJvm]], asserted ≡
  * the Column chain, so the q199 oracle rebuilds the per-window grid in
  * SQL exactly as q109 does for the batch sketch.
  * Second form kept on purpose: this buffer serves the streaming state
  * ([[graft.streaming.SketchStreams.windowedCountMin]], q199); the batch
  * queries q109 and q289 run [[CountMin.sketch]].
  */
case class CountMinAgg(
    child: Expression,
    w: Int,
    probes: Seq[Long],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(w > 0 && (w & (w - 1)) == 0 && w <= 65536, "w: power of 2 ≤ 65536")
  require(probes.nonEmpty && probes.size <= 4096, "probes: 1..4096 keys")

  private val d = CountMin.seeds.size
  // buffer layout: [n, cell(0,0)..cell(0,w-1), cell(1,0)...]
  override def createAggregationBuffer(): Array[Long] = new Array[Long](1 + d * w)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[Long]
      var r = 0
      while (r < d) {
        buffer(1 + r * w + CountMin.bucketJvm(key, CountMin.seeds(r), w)) += 1L
        r += 1
      }
      buffer(0) += 1L
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = {
    val ests = probes.toArray.map { p =>
      var est = Long.MaxValue
      var r = 0
      while (r < d) {
        val c = buffer(1 + r * w + CountMin.bucketJvm(p, CountMin.seeds(r), w))
        if (c < est) est = c
        r += 1
      }
      est
    }
    new GenericInternalRow(Array[Any](buffer(0), new GenericArrayData(ests)))
  }

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buffer.length * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("est", ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "countmin"

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object CountMinAgg {

  /** Aggregate Column: struct(n, est[...]) — CMS point estimates of the
    * probe keys over a LONG key column. */
  def countmin(key: Column, w: Int, probes: Seq[Long]): Column =
    column(CountMinAgg(expression(key), w, probes).toAggregateExpression())
}
