package graft.operators

import java.nio.ByteBuffer
import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Mergeable quantile sketch — a deterministic q-digest (Shrivastava,
  * Buragohain, Agrawal, Suri, "Medians and Beyond", SenSys'04) as a
  * [[TypedImperativeAggregate]], completing the sketch family next to
  * KMV / CountMin / Misra–Gries / top-k: the standard pipeline summary
  * for "p50/p95 per group" that merges across partitions, micro-batches
  * and days without re-reading data.
  *
  * Universe: longs in [0, 2^levels). Buffer = dyadic-tree node → count
  * (node ids: root 1, children 2x/2x+1, leaves [2^levels, 2^{levels+1})).
  *
  * Exact regime (the oracle discipline of q80/q109/q176): compression
  * only TRIGGERS when the buffer exceeds 3k nodes, so while a group
  * holds ≤ 3k distinct values the buffer is literally the exact
  * value histogram — merge is map-sum, associative and commutative, and
  * the reported quantiles are the textbook "smallest v with
  * cumulative count ≥ rank", which a SQL oracle recomputes verbatim
  * (q198). Past 3k distinct values the classic q-digest compaction
  * (merge child+sibling into parent while the triple ≤ ⌊n/k⌋) bounds
  * the buffer at O(k) nodes with rank error ≤ levels·n/k
  * (QDigestAggSpec property-tests both regimes).
  *
  * Probes are integer per-mille ranks: quantile p‰ = the value at rank
  * ⌈n·p/1000⌉ computed in integer arithmetic — (n·p + 999) div 1000 —
  * so the target rank is cross-engine exact (no float ceil boundary).
  */
case class QDigestAgg(
    child: Expression,
    k: Int,
    levels: Int,
    probesPerMille: Seq[Int],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QDigestAgg.Digest] {

  require(k >= 8 && k <= 65536, "k: 8..65536")
  require(levels >= 1 && levels <= 56, "levels: 1..56")
  require(probesPerMille.nonEmpty &&
    probesPerMille.forall(p => p >= 1 && p <= 1000), "probes: 1..1000 per-mille")

  private val leafBase: Long = 1L << levels

  override def createAggregationBuffer(): QDigestAgg.Digest =
    new QDigestAgg.Digest(mutable.LongMap.empty[Long], 0L)

  override def update(buffer: QDigestAgg.Digest, input: InternalRow): QDigestAgg.Digest = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      require(x >= 0 && x < leafBase,
        s"qdigest value $x outside universe [0, $leafBase)")
      val leaf = leafBase + x
      buffer.nodes(leaf) = buffer.nodes.getOrElse(leaf, 0L) + 1L
      buffer.n += 1L
      if (buffer.nodes.size > 3 * k) QDigestAgg.compress(buffer, k, levels)
    }
    buffer
  }

  override def merge(buffer: QDigestAgg.Digest, other: QDigestAgg.Digest): QDigestAgg.Digest = {
    other.nodes.foreach { case (id, c) =>
      buffer.nodes(id) = buffer.nodes.getOrElse(id, 0L) + c
    }
    buffer.n += other.n
    if (buffer.nodes.size > 3 * k) QDigestAgg.compress(buffer, k, levels)
    buffer
  }

  override def eval(buffer: QDigestAgg.Digest): Any = {
    val qs = QDigestAgg.quantiles(buffer, levels, probesPerMille)
    new GenericInternalRow(Array[Any](buffer.n, new GenericArrayData(qs)))
  }

  override def serialize(buffer: QDigestAgg.Digest): Array[Byte] = {
    val bb = ByteBuffer.allocate(12 + buffer.nodes.size * 16)
    bb.putLong(buffer.n)
    bb.putInt(buffer.nodes.size)
    buffer.nodes.foreach { case (id, c) => bb.putLong(id); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): QDigestAgg.Digest = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getLong
    val sz = bb.getInt
    val m = mutable.LongMap.empty[Long]
    (0 until sz).foreach(_ => m(bb.getLong) = bb.getLong)
    new QDigestAgg.Digest(m, n)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("qs", ArrayType(LongType, containsNull = false), nullable = false)))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "qdigest"

  override def withNewMutableAggBufferOffset(newOffset: Int): QDigestAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QDigestAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object QDigestAgg {

  /** node→count map + total weight. Leaf count semantics: exact value
    * multiplicity; internal-node counts are compaction residue whose
    * true values lie somewhere in the node's range. */
  final class Digest(val nodes: mutable.LongMap[Long], var n: Long)

  /** Classic q-digest compaction, made deterministic for a given map by
    * processing node ids in descending sorted order (deepest, rightmost
    * first): fold id's count into its parent while
    * count(id) + count(sibling) + count(parent) ≤ ⌊n/k⌋. Runs only when
    * the buffer outgrows 3k nodes (the exact-regime guarantee). */
  def compress(d: Digest, k: Int, levels: Int): Unit = {
    val t = d.n / k
    if (t <= 0) return
    var changed = true
    while (d.nodes.size > 3 * k && changed) {
      changed = false
      val ids = d.nodes.keys.toArray
      java.util.Arrays.sort(ids)
      var i = ids.length - 1
      while (i >= 0) {
        val id = ids(i)
        // skip root (never folds) and ids already consumed as a sibling
        if (id > 1 && d.nodes.contains(id)) {
          val sib = id ^ 1L
          val par = id >>> 1
          val c = d.nodes(id)
          val cs = d.nodes.getOrElse(sib, 0L)
          val cp = d.nodes.getOrElse(par, 0L)
          if (c + cs + cp <= t) {
            d.nodes(par) = cp + c + cs
            d.nodes.remove(id)
            d.nodes.remove(sib)
            changed = true
          }
        }
        i -= 1
      }
    }
  }

  /** Quantile walk: nodes sorted by (upper bound, range width) ascending —
    * the standard q-digest post-order — accumulate counts; the value at
    * rank r is the upper bound of the first node reaching r. In the
    * exact regime every node is a leaf, so this is exactly "smallest v
    * with cum ≥ r". */
  def quantiles(d: Digest, levels: Int, probesPerMille: Seq[Int]): Array[Long] = {
    val leafBase = 1L << levels
    def bounds(id: Long): (Long, Long) = {
      var lo = id
      var width = 1L
      while (lo < leafBase) { lo <<= 1; width <<= 1 }
      (lo - leafBase, lo - leafBase + width - 1) // value-space lb, ub
    }
    val entries = d.nodes.toArray.map { case (id, c) =>
      val (lb, ub) = bounds(id)
      (ub, ub - lb, c)
    }
    java.util.Arrays.sort(entries, Ordering.by[(Long, Long, Long), (Long, Long)](e => (e._1, e._2)))
    probesPerMille.toArray.map { p =>
      if (d.n == 0) 0L
      else {
        val rank = (d.n * p + 999L) / 1000L
        var cum = 0L
        var i = 0
        var out = entries.lastOption.map(_._1).getOrElse(0L)
        var found = false
        while (i < entries.length && !found) {
          cum += entries(i)._3
          if (cum >= rank) { out = entries(i)._1; found = true }
          i += 1
        }
        out
      }
    }
  }

  /** Aggregate Column: struct(n, qs[...]) of per-mille quantiles over a
    * LONG value column in [0, 2^levels). */
  def qdigest(value: Column, k: Int, levels: Int, probesPerMille: Seq[Int]): Column =
    column(QDigestAgg(expression(value), k, levels, probesPerMille).toAggregateExpression())
}
