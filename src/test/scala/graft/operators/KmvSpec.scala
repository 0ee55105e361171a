package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KmvSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def hashRef(k: Long, seed: Long): Long = {
    val M32 = 4294967295L
    def round(in: Long): Long = {
      val x1 = in ^ ((in << 13) & M32)
      val x2 = x1 ^ (x1 >> 17)
      x2 ^ ((x2 << 5) & M32)
    }
    round(round((k & M32) ^ seed) ^ 2246822507L)
  }

  test("sketch: small group is exact — k_used = distinct count, kth = max hash") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 7L)).toDF("grp", "key")
    val Array(r) = Kmv.sketch(df, "grp", "key", k = 256).collect()
    val hashes = Seq(1L, 2L, 7L).map(hashRef(_, 2654435769L))
    assert(r.getString(0) === "a")
    assert(r.getLong(1) === 3L)
    assert(r.getLong(2) === hashes.max)
  }

  test("sketch: kth_hash is the k-th smallest hash of the distinct keys") {
    import spark.implicits._
    val rnd = new scala.util.Random(101)
    val keys = Seq.fill(500)(rnd.nextInt(10000).toLong).distinct
    val df = keys.map(("g", _)).toDF("grp", "key")
    val k = 32
    val Array(r) = Kmv.sketch(df, "grp", "key", k).collect()
    val expect = keys.map(hashRef(_, 2654435769L)).sorted.take(k)
    assert(r.getLong(1) === k.toLong)
    assert(r.getLong(2) === expect.last)
  }

  test("sketch merges: union of two halves ≡ sketch of the whole") {
    import spark.implicits._
    // mergeability on the VALUE level: k smallest of (k smallest of A ∪
    // k smallest of B) = k smallest of A ∪ B — verified via the driver
    val rnd = new scala.util.Random(7)
    val all = Seq.fill(400)(rnd.nextInt(100000).toLong).distinct
    val (a, b) = all.splitAt(all.size / 2)
    val k = 16
    def mins(keys: Seq[Long]) =
      keys.distinct.map(hashRef(_, 2654435769L)).sorted.take(k)
    val merged = (mins(a) ++ mins(b.diff(a))).sorted.take(k)
    assert(merged === mins(all))
    val Array(r) = Kmv.sketch(all.map(("g", _)).toDF("grp", "key"), "grp",
      "key", k).collect()
    assert(r.getLong(2) === merged.last)
  }

  test("sketch estimate quality: (k-1)*2^32/kth within 30% on 5k distinct") {
    import spark.implicits._
    val keys = (1L to 5000L).map(("g", _))
    val k = 128
    val Array(r) = Kmv.sketch(keys.toDF("grp", "key"), "grp", "key", k).collect()
    val est = (k - 1).toDouble * 4294967296.0 / r.getLong(2)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.3, s"est=$est")
  }
}
