package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class AnomalyStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  import EventStreams.Event
  import AnomalyStreams.Alarm

  private val T0 = 1700000000000L
  private val Ref = 100L  // cents
  private val H = 250L

  private def ev(id: Long, user: Long, msOff: Long, cents: Long) =
    Event(id, new Timestamp(T0 + msOff), user, "m", cents / 100.0, "")

  private def batchAlarms(events: Seq[Event]): Set[(Long, Long, Long, Long)] = {
    import spark.implicits._
    graft.operators.Changepoint.cusumAlarms(
        events.toDF()
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"),
            (col("value").cast("decimal(18,2)") * 100).cast("long").as("v")),
        "user_id", "us", "event_id", "v", Ref, H)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .toSet
  }

  private def streamAlarms(slices: Seq[Seq[Event]],
                           name: String): Set[(Long, Long, Long, Long)] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = AnomalyStreams.cusumAlarmStream(ms.toDS(), Ref, H)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      slices.foreach { s => ms.addData(s: _*); q.processAllAvailable() }
      spark.table(name).as[Alarm].collect()
        .map(a => (a.user_id, a.us, a.event_id, a.gap)).toSet
    } finally q.stop()
  }

  private val fixture = Seq(
    // user 1: drifts up and alarms twice
    ev(1, 1, 0, 300), ev(2, 1, 100, 300), ev(3, 1, 200, 50),
    ev(4, 1, 300, 400),
    // user 2: stays at the reference, never alarms
    ev(5, 2, 0, 100), ev(6, 2, 100, 90), ev(7, 2, 200, 110),
    // user 3: dips first (baseline below zero), then spikes past h
    ev(8, 3, 0, 0), ev(9, 3, 100, 350), ev(10, 3, 200, 200))

  test("streaming alarms ≡ batch cusumAlarms on one micro-batch") {
    val b = batchAlarms(fixture)
    assert(streamAlarms(Seq(fixture), "cusum_one") === b)
    assert(b.map(_._1) === Set(1L, 3L)) // user 2 quiet
  }

  test("streaming ≡ batch across event-time-ordered micro-batch slices") {
    val ordered = fixture.sortBy(e => (e.ts.getTime, e.event_id))
    assert(streamAlarms(ordered.grouped(3).toSeq, "cusum_sliced") ===
      batchAlarms(fixture))
  }

  test("a crossing that spans micro-batches fires from carried state") {
    val evs = Seq(ev(1, 7, 0, 300), ev(2, 7, 100, 300))
    val got = streamAlarms(Seq(evs.take(1), evs.drop(1)), "cusum_cross")
    assert(got === batchAlarms(evs))
    assert(got.map(_._3) === Set(2L)) // fires on the second event only
  }

  test("same-µs events replay in ID order, not sub-µs-nanos order " +
      "(the µs-truncated sort key — r11 ADVICE pin)") {
    // two events in the SAME microsecond whose sub-µs nanos order is
    // the REVERSE of their id order; values chosen so which event
    // carries the alarm depends on replay order (first +200 → gap 200
    // < h, then +150 → gap 350 ≥ h on the SECOND-processed event).
    // Catalyst encoding µs-truncates the Timestamp before the state
    // function sees it, so the sub-µs tail cannot reach the sort today
    // — this pins the (µs, id) replay CONTRACT so any future path
    // where nanos survive (e.g. a ns-typed source) stays batch-equal.
    def subUs(id: Long, nanosTail: Int, cents: Long) = {
      val t = new Timestamp(T0 + 500)
      t.setNanos(500000000 + nanosTail) // same µs, different sub-µs
      Event(id, t, 11L, "m", cents / 100.0, "")
    }
    val evs = Seq(subUs(1, 900, 300), subUs(2, 100, 250))
    val got = streamAlarms(Seq(evs), "cusum_subus")
    assert(got === batchAlarms(evs))
    assert(got.map(_._3) === Set(2L),
      "alarm must land on id 2 (id order), not id 1 (ns order)")
  }

  test("idle key keeps its detector state (no TTL — the batch semantics)") {
    // one hour of silence between the drift and the final push; the
    // watermark (10 min) passes far beyond the idle key's last event
    val evs = Seq(ev(1, 8, 0, 300), ev(2, 8, 100, 200),
      ev(3, 9, 0, 100), ev(4, 9, 3600000, 100), // user 9 drives watermark
      ev(5, 8, 3600100, 200))
    val slices = Seq(evs.take(3), Seq(evs(3)), Seq(evs(4)))
    assert(streamAlarms(slices, "cusum_idle") === batchAlarms(evs))
    assert(batchAlarms(evs).map(_._3).contains(5L)) // the late push alarms
  }
}
