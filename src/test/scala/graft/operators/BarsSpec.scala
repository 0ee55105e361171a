package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BarsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(ms)

  test("ohlc: open/close follow (ts, event_id) order, high/low/vol exact") {
    // one series, one hourly bucket; two ticks share ts=1000ms so the
    // event_id tie-break decides open
    val df = Seq(
      ("A", ts(1000L), 2L, 5.00),  // tied ts, higher id
      ("A", ts(1000L), 1L, 7.25),  // tied ts, lower id -> open
      ("A", ts(2000L), 3L, 1.50),  // low
      ("A", ts(3000L), 4L, 9.75),  // high + close
      ("B", ts(3600000L + 5L), 5L, 2.00)) // different series, next hour
      .toDF("event_type", "ts", "event_id", "value")
    val out = Bars.ohlc(df, bucketMinutes = 60)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    assert(out(("A", 0L)) === ((725L, 975L, 150L, 975L, 4L, 2350L)))
    assert(out(("B", 3600000L)) === ((200L, 200L, 200L, 200L, 1L, 200L)))
  }

  test("ohlc: bars agree with a driver-side reference on random ticks") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 500).map { i =>
      (s"s${rnd.nextInt(3)}", ts(rnd.nextInt(4 * 3600000).toLong),
        i.toLong, rnd.nextInt(100000) / 100.0)
    }
    val expect = rows.groupBy(r => (r._1, r._2.getTime / 3600000 * 3600000))
      .map { case (k, ticks) =>
        val sorted = ticks.sortBy(t => (t._2.getTime, t._3))
        val cents = sorted.map(t => math.round(t._4 * 100))
        k -> ((cents.head, cents.max, cents.min, cents.last,
          cents.size.toLong, cents.sum))
      }
    val got = Bars.ohlc(rows.toDF("event_type", "ts", "event_id", "value"),
        bucketMinutes = 60)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    assert(got === expect)
  }
}
