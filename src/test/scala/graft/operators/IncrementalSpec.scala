package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IncrementalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("merge of split states equals state of the union, for ANY split") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val rows = (1 to 500).map(i =>
      ("k" + rnd.nextInt(5), math.round(rnd.nextDouble() * 10000) / 100.0))
    val df = rows.toDF("k", "v")
    val whole = Incremental.finish(
      Incremental.aggState(df, Seq("k"), "v"), Seq("k"))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    for (mod <- Seq(2, 3, 7)) {
      val base = df.filter(xxhash64(col("v")) % mod === 0)
      val delta = df.filter(xxhash64(col("v")) % mod =!= 0)
      val merged = Incremental.finish(Incremental.mergeStates(
        Incremental.aggState(base, Seq("k"), "v"),
        Incremental.aggState(delta, Seq("k"), "v"), Seq("k")), Seq("k"))
        .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(merged == whole, s"split mod=$mod") // bit-identical, incl. avg
    }
  }

  test("keys present in only one side survive the merge") {
    import spark.implicits._
    val a = Incremental.aggState(Seq(("x", 1.0), ("y", 2.0)).toDF("k", "v"), Seq("k"), "v")
    val b = Incremental.aggState(Seq(("y", 4.0), ("z", 8.0)).toDF("k", "v"), Seq("k"), "v")
    val m = Incremental.finish(Incremental.mergeStates(a, b, Seq("k")), Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(m == Set(("x", 1L, 1.0), ("y", 2L, 6.0), ("z", 1L, 8.0)))
  }

  test("joinDelta: base view ∪ delta ≡ rescan join, as multisets, across splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x1D)
    val left = (1 to 200).map(i => (rnd.nextInt(40).toLong, s"l$i"))
      .toDF("k", "lv")
    val right = (1 to 300).map(i => (rnd.nextInt(40).toLong, i.toLong))
      .toDF("k", "rv")
    def bag(df: org.apache.spark.sql.DataFrame): Map[(Long, String, Long), Int] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .groupBy(identity).map { case (k, v) => k -> v.size }
    val rescan = bag(left.join(right, Seq("k")))
    for (mod <- Seq(2, 5)) {
      val a  = left.filter(xxhash64(col("lv")) % mod =!= 0)
      val dA = left.filter(xxhash64(col("lv")) % mod === 0)
      val b  = right.filter(xxhash64(col("rv")) % mod =!= 0)
      val dB = right.filter(xxhash64(col("rv")) % mod === 0)
      val maintained = bag(a.join(b, Seq("k")).unionByName(
        Incremental.joinDelta(a, dA, b, dB, Seq("k"))))
      assert(maintained === rescan, s"mod=$mod")
    }
  }

  test("joinDelta: empty deltas contribute nothing") {
    import spark.implicits._
    val left = Seq((1L, "a")).toDF("k", "lv")
    val right = Seq((1L, 9L)).toDF("k", "rv")
    val empty = left.limit(0)
    val emptyR = right.limit(0)
    assert(Incremental.joinDelta(left, empty, right, emptyR, Seq("k")).count() === 0L)
  }

  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("ccDelta ≡ from-scratch CC over the union, on random graph growth") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val all = (1 to 120).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    (1 to 3).foreach { trial =>
      val (old, fresh) = rnd.shuffle(all).splitAt(60 + trial * 10)
      val oldC = ccMap(old)
      val incr = Incremental.ccDelta(
          oldC.toSeq.toDF("id", "comp"), fresh.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(incr === ccMap(old ++ fresh), s"trial=$trial")
      graft.Caches.releaseAll(spark)
    }
  }

  test("ccDelta: delta-only nodes, bridging edge, and empty delta") {
    import spark.implicits._
    // old: {1-2}, {5-6}; delta bridges 2-5 and adds a brand-new pair 8-9
    val oldC = ccMap(Seq((1L, 2L), (5L, 6L)))
    assert(oldC === Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    val got = Incremental.ccDelta(oldC.toSeq.toDF("id", "comp"),
        Seq((2L, 5L), (8L, 9L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,
      8L -> 8L, 9L -> 8L))
    // empty delta: the old map comes back unchanged
    val same = Incremental.ccDelta(oldC.toSeq.toDF("id", "comp"),
        Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(same === oldC)
    graft.Caches.releaseAll(spark)
  }
}
