package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class KeyGapsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(keys: Seq[Long], blockSize: Long): Set[(Long, Long, Long)] = {
    import spark.implicits._
    KeyGaps.gaps(keys.toDF("k"), "k", blockSize)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def brute(keys: Seq[Long]): Set[(Long, Long, Long)] = {
    val s = keys.distinct.sorted
    s.zip(s.drop(1)).collect {
      case (a, b) if b - a > 1 => (a + 1, b - 1, b - a - 1)
    }.toSet
  }

  test("gaps: in-block, block-spanning, and empty-block-crossing gaps") {
    // blockSize 10: blocks [0,10), [10,20), [20,30), [30,40)
    val keys = Seq[Long](1, 2, 5, 9, 12, 35) // gaps 3-4 and 6-8 in-block;
    // 10-11 spans a boundary; 13-34 crosses two entirely empty blocks
    val expect = Set((3L, 4L, 2L), (6L, 8L, 3L), (10L, 11L, 2L), (13L, 34L, 22L))
    assert(run(keys, 10) === expect)
    assert(brute(keys) === expect)
  }

  test("gaps: dense set and single key produce no gaps") {
    assert(run(Seq(4L, 5L, 6L, 7L), 4) === Set.empty)
    assert(run(Seq(42L), 16) === Set.empty)
  }

  test("gaps: duplicates collapse before the scan") {
    assert(run(Seq(1L, 1L, 1L, 4L, 4L), 2) === Set((2L, 3L, 2L)))
  }

  test("gaps matches brute force on random key sets across block sizes") {
    val rnd = new scala.util.Random(57)
    for (trial <- 1 to 3; bs <- Seq(2L, 7L, 64L)) {
      val keys = Seq.fill(150)(rnd.nextInt(600).toLong)
      assert(run(keys, bs) === brute(keys), s"trial=$trial bs=$bs")
    }
  }

  test("gaps plan: the per-key window is block-partitioned, never global") {
    import spark.implicits._
    val df = KeyGaps.gaps(Seq(1L, 5L).toDF("k"), "k", 16)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }
}
