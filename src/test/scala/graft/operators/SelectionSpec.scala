package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SelectionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("rankValues ≡ sorted reference on random data (negatives, dups)") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    // duplicates (small range) + negatives + a wide outlier tail, so
    // targets land in different buckets and bucket 0 spans both signs
    val vals = Seq.fill(5000)(rnd.nextInt(20000).toLong - 10000L) ++
      Seq.fill(50)(rnd.nextInt(100000000).toLong)
    val sorted = vals.sorted
    val n = vals.size.toLong
    val targets = Seq(1L, (n + 1) / 2, (9 * n + 9) / 10, n)
    val (gotN, picks) = Selection.rankValues(
      rnd.shuffle(vals).toDF("v").repartition(7), "v", _ => targets,
      shift = 12)
    assert(gotN === n)
    targets.foreach { r =>
      assert(picks(r) === sorted((r - 1).toInt), s"rank $r")
    }
    // out-of-range ranks are dropped, not mispicked
    val (_, p2) = Selection.rankValues(vals.toDF("v"), "v",
      _ => Seq(0L, n + 1, 2L), shift = 12)
    assert(p2.keySet === Set(2L) && p2(2L) === sorted(1))
  }

  test("globalProfile: 1-row exact (n, p50, p90, vmax); empty input zeros") {
    import spark.implicits._
    val vals = (1L to 100L) // p50 = rank 50 → 50; p90 = rank 90 → 90
    val row = Selection.globalProfile(spark, vals.toDF("v"), "v").head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      === ((100L, 50L, 90L, 100L)))
    val empty = Selection.globalProfile(spark,
      Seq.empty[Long].toDF("v"), "v").head()
    assert((empty.getLong(0), empty.getLong(1)) === ((0L, 0L)))
  }

  test("a rank inside a dup run picks the tie-invariant value") {
    import spark.implicits._
    val vals = Seq(5L, 5L, 5L, 5L, 1L) // ranks 2..5 are all value 5
    val (_, picks) = Selection.rankValues(vals.toDF("v"), "v",
      _ => Seq(1L, 3L, 5L), shift = 2)
    assert(picks === Map(1L -> 1L, 3L -> 5L, 5L -> 5L))
  }
}
