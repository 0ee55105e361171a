package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class CompactionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  test("plan: boundary-crossing file closes its bin; partitions independent") {
    val files = Seq(
      // part p: 60+50 → first crosses 100 at file 2 (cum_before 60)
      ("p", 1L, 60L), ("p", 2L, 50L), ("p", 3L, 10L),
      // cum_before: 0, 60, 110 → bins 0, 0, 1
      ("q", 1L, 300L)) // single oversized file → its own bin 0
      .toDF("part", "id", "bytes")
    val got = Compaction.plan(files, "part", "id", "bytes", targetBytes = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      ("p", 0L) -> ((2L, 110L)),
      ("p", 1L) -> ((1L, 10L)),
      ("q", 0L) -> ((1L, 300L))))
  }

  test("plan: bins partition the files exactly (nothing lost or doubled)") {
    val rnd = new scala.util.Random(71)
    val files = for (p <- 0 until 5; i <- 0 until 200)
      yield (s"p$p", i.toLong, (rnd.nextInt(5000) + 1).toLong)
    val out = Compaction.plan(files.toDF("part", "id", "bytes"),
      "part", "id", "bytes", targetBytes = 20000L).collect()
    assert(out.map(_.getLong(2)).sum === files.size.toLong)
    assert(out.map(_.getLong(3)).sum === files.map(_._3).sum)
    // every non-final bin holds at least the target (it only closes
    // once the running total crosses the boundary)
    val byPart = out.groupBy(_.getString(0))
    byPart.foreach { case (_, bins) =>
      val sorted = bins.sortBy(_.getLong(1))
      sorted.dropRight(1).foreach { b =>
        assert(b.getLong(3) >= 20000L - 5000L) // ≥ target − maxFile
      }
    }
  }
}
