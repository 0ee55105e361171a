package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.time.{DayOfWeek, LocalDate}

class BusinessDaysSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def busdays(a: String, b: String): Long = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(BusinessDays.busdaysBetween(to_date(col("a")), to_date(col("b")))
        .as("bd"))
      .collect().head.getLong(0)
  }

  private def brute(a: String, b: String): Long = {
    val (s, e) = (LocalDate.parse(a), LocalDate.parse(b))
    def weekdaysIn(from: LocalDate, until: LocalDate): Long =
      Iterator.iterate(from)(_.plusDays(1)).takeWhile(_.isBefore(until))
        .count(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
          d.getDayOfWeek != DayOfWeek.SUNDAY).toLong
    if (!e.isBefore(s)) weekdaysIn(s, e) else -weekdaysIn(e, s)
  }

  test("busdaysBetween: known spans") {
    assert(busdays("2026-08-10", "2026-08-14") === 4L) // Mon → Fri
    assert(busdays("2026-08-14", "2026-08-17") === 1L) // Fri → Mon: only Fri
    assert(busdays("2026-08-15", "2026-08-16") === 0L) // Sat → Sun
    assert(busdays("2026-08-10", "2026-08-17") === 5L) // one full week
    assert(busdays("2026-08-10", "2026-08-10") === 0L) // empty range
    assert(busdays("2026-08-17", "2026-08-10") === -5L) // reversed
  }

  test("busdaysBetween matches a day-walk brute force on random ranges") {
    val rnd = new scala.util.Random(19)
    for (_ <- 1 to 40) {
      val a = LocalDate.of(1970 + rnd.nextInt(80), 1 + rnd.nextInt(12),
        1 + rnd.nextInt(28))
      val b = a.plusDays(rnd.nextInt(400) - 100)
      if (!a.isBefore(LocalDate.parse("1970-01-01")) &&
          !b.isBefore(LocalDate.parse("1970-01-01")))
        assert(busdays(a.toString, b.toString) === brute(a.toString, b.toString),
          s"$a → $b")
    }
  }
}
