package graft.operators

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Custom Catalyst aggregate: elementwise-min union of row-level MinHash
  * signatures → ONE signature per group.
  *
  * MinHash signatures are unionable: min(sigA[i], sigB[i]) is exactly the
  * signature of set(A) ∪ set(B). Aggregating per-document signatures by
  * source therefore yields each source's corpus-level signature in one
  * pass, and `estimatedJaccard` between two group signatures estimates
  * content overlap between whole sources — the sketch a training-data
  * pipeline uses to answer "how much of source X duplicates source Y"
  * without any pairwise document comparison.
  *
  * Scale: the buffer is a fixed Array[Long] (numHashes × 8 bytes) per
  * group — partial aggregation map-side, constant-size merge, no shuffle
  * of document contents at all.
  */
case class MinHashUnionAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(numHashes, arr.numElements())
      var i = 0
      while (i < n) {
        val x = arr.getLong(i)
        if (x < buffer(i)) buffer(i) = x
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      if (other(i) < buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(numHashes * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "minhash_union"

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MinHashUnionAgg {

  /** Aggregate Column: group-level union signature from row signatures
    * (produce row signatures with [[Dedup.minhashSigUdf]]). */
  def minhash_union(sig: Column, numHashes: Int = 64): Column =
    column(MinHashUnionAgg(expression(sig), numHashes).toAggregateExpression())

  /** Estimated Jaccard between two union signatures: fraction of equal
    * components. */
  def estimatedJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(a)
}
