package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Aggregation-buffer form of the [[Hll]] register sketch: one 2^p-byte
  * buffer per group — CONSTANT state regardless of cardinality, the
  * property that makes HLL the default distinct sketch at warehouse
  * scale (vs [[KmvAgg]]'s k·16-byte pair buffer, which HLL beats ~50×
  * at equal accuracy). update = register max (idempotent — duplicates
  * free), merge = elementwise max — associative, commutative,
  * order-independent, so any partitioning or micro-batch slicing yields
  * the same bytes (HllSpec proves agg ≡ registers folded on the driver
  * from [[Hll.idxRankJvm]] ≡ streaming via
  * [[graft.streaming.SketchStreams.windowedHll]]).
  *
  * eval emits the FULL register vector (2^p longs); q214 gates it
  * against a DuckDB oracle rebuilding the identical registers in SQL
  * ([[Kmv.hash32]] chain + `length(bin())` rank — see [[Hll]]). The
  * float estimate stays out of relational outputs (avg-class rule).
  */
case class HllAgg(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(p >= 4 && p <= 16, "p: 4..16")
  private val m = 1 << p

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val (idx, rank) = Hll.idxRankJvm(v.asInstanceOf[Long], p)
      if (rank > buffer(idx)) buffer(idx) = rank.toByte
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any =
    new GenericArrayData(buffer.map(_.toLong))

  // clone both directions: the returned bytes may be retained by the
  // row buffer while this aggregate keeps mutating its live array
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer.clone()

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "hll_registers"

  override def withNewMutableAggBufferOffset(newOffset: Int): HllAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object HllAgg {

  /** Aggregate Column: the 2^p-long register vector over a LONG key
    * column (cast upstream). */
  def hll_registers(key: Column, p: Int): Column =
    column(HllAgg(expression(key), p).toAggregateExpression())
}
