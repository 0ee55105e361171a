package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Randomized equivalence: the distributed as-of and range joins vs
  * naive brute-force references, over seeded random inputs dense in ts
  * collisions and key skew — the corners a fixed oracle dataset can
  * miss. */
class JoinRandomSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("asofMatch ≡ brute force on random inputs (ties, skew, unmatched)") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xA50F)
    (1 to 5).foreach { trial =>
      // few keys + tiny ts range → heavy collisions on (key, ts); ids
      // unique by construction (positional) so the expected map is total
      val left = Seq.tabulate(150)(i =>
        (rnd.nextInt(6).toLong, rnd.nextInt(40).toLong, 1000L + i))
      val right = Seq.tabulate(150)(i =>
        (rnd.nextInt(6).toLong, rnd.nextInt(40).toLong, 2000000L + i))
      val expected = left.flatMap { case (k, ts, lid) =>
        val cands = right.filter(r => r._1 == k && r._2 <= ts)
        if (cands.isEmpty) None
        else {
          val maxTs = cands.map(_._2).max
          Some(lid -> cands.filter(_._2 == maxTs).map(_._3).max)
        }
      }.toMap

      val out = AsofJoin.asofMatch(
          left.toDF("k", "ts", "id"), right.toDF("k", "ts", "id"),
          "k", "ts", "ts", "id", "id")
        .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
      assert(out == expected, s"trial $trial")
    }
  }

  test("pointInInterval ≡ brute force on random intervals (multi-chunk, ties)") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x4A9E)
    (1 to 5).foreach { trial =>
      val points = Seq.tabulate(120)(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
      val intervals = Seq.tabulate(60) { i =>
        val s = rnd.nextInt(1000).toLong
        (rnd.nextInt(5).toLong, s, s + rnd.nextInt(300), 1000L + i)
      }
      val expected = (for {
        (pk, ts, pid) <- points
        (ik, s, e, iid) <- intervals
        if pk == ik && ts >= s && ts <= e
      } yield (pid, iid)).toSet

      val out = RangeJoin.pointInInterval(
          points.toDF("k", "ts", "pid"), intervals.toDF("k", "s", "e", "iid"),
          "k", "ts", "s", "e", chunkWidth = 100L)
        .select("pid", "iid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out == expected, s"trial $trial")
    }
  }
}
