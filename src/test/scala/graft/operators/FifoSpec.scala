package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class FifoSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(receipts: Seq[(String, Long, Long)],
                  consumed: Seq[(String, Long)]): Map[(String, Long), Long] = {
    import spark.implicits._
    Fifo.remainingByReceipt(
        receipts.toDF("k", "i", "qty"),
        consumed.toDF("k", "qty"),
        "k", Seq("i"), "qty")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
  }

  /** Sequential oldest-first eater. */
  private def brute(qtys: Seq[Long], c: Long): Seq[Long] = {
    var left = c
    qtys.map { q =>
      val eaten = math.min(q, math.max(0L, left))
      left -= eaten
      q - eaten
    }
  }

  test("remainingByReceipt: hand case — partial receipt at the frontier") {
    // receipts 10, 5, 8; consume 12 → 0, 3, 8
    val got = run(Seq(("a", 1L, 10L), ("a", 2L, 5L), ("a", 3L, 8L)),
      Seq(("a", 12L)))
    assert(got === Map(("a", 1L) -> 0L, ("a", 2L) -> 3L, ("a", 3L) -> 8L))
  }

  test("remainingByReceipt: no consumption rows leave receipts whole (left join)") {
    val got = run(Seq(("a", 1L, 7L)), Seq(("b", 99L)))
    assert(got === Map(("a", 1L) -> 7L))
  }

  test("remainingByReceipt: over-consumption empties the shelf, never negative") {
    val got = run(Seq(("a", 1L, 3L), ("a", 2L, 4L)), Seq(("a", 100L)))
    assert(got === Map(("a", 1L) -> 0L, ("a", 2L) -> 0L))
  }

  test("remainingByReceipt ≡ the sequential eater on random ledgers") {
    val rnd = new scala.util.Random(0xF1)
    val receipts = for {
      k <- Seq("a", "b", "c", "d")
      i <- 1 to (5 + rnd.nextInt(30))
    } yield (k, i.toLong, 1L + rnd.nextInt(20).toLong)
    val consumed = for {
      k <- Seq("a", "b", "c") // d never consumed
      _ <- 1 to (1 + rnd.nextInt(5))
    } yield (k, rnd.nextInt(60).toLong)
    val cTot = consumed.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).sum }
    val expect = receipts.groupBy(_._1).flatMap { case (k, rs) =>
      val ordered = rs.sortBy(_._2)
      ordered.map(_._2).zip(brute(ordered.map(_._3), cTot.getOrElse(k, 0L)))
        .map { case (i, rem) => (k, i) -> rem }
    }
    assert(run(receipts, consumed) === expect)
  }
}
