package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class SessionStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  import EventStreams.Event

  private val T0 = 1700000000000L
  private val Min = 60000L
  private val Flush = 99L // sentinel user whose far-future event closes
                          // all real sessions (watermark is global)

  private def ev(id: Long, user: Long, minOff: Long, value: Double) =
    Event(id, new Timestamp(T0 + minOff * Min), user, "view", value, "")

  private type SessRow = (Long, Long, Long, Long, Double)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[SessRow] =
    df.filter(col("user_id") =!= Flush)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toSet

  private def streamSessions(slices: Seq[Seq[Event]],
                             name: String): Set[SessRow] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = SessionStreams.sessionAgg(ms.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      slices.foreach { s =>
        ms.addData(s: _*)
        q.processAllAvailable()
      }
      assert(q.lastProgress.stateOperators.nonEmpty) // session state by design
      rowsOf(spark.table(name))
    } finally q.stop()
  }

  private val fixture = Seq(
    ev(1, 1, 0, 1.5), ev(2, 1, 10, 2.25),  // user 1 session A (merge ≤ gap)
    ev(3, 1, 60, 4.0),                     // user 1 session B (gap > 30)
    ev(4, 2, 5, 8.5),                      // user 2 single-event session
    ev(9, Flush, 600, 0.0))                // sentinel: closes all sessions

  private def batchSessions(events: Seq[Event]): Set[SessRow] = {
    import spark.implicits._
    rowsOf(SessionStreams.sessionAgg(events.toDF(), gapMinutes = 30))
  }

  test("batch session_window: merged sessions, end = last event + gap") {
    val got = batchSessions(fixture)
    assert(got === Set(
      (1L, T0, T0 + 10 * Min + 30 * Min, 2L, 3.75),
      (1L, T0 + 60 * Min, T0 + 90 * Min, 1L, 4.0),
      (2L, T0 + 5 * Min, T0 + 35 * Min, 1L, 8.5)))
  }

  test("exact-gap boundary: events exactly `gap` apart MERGE (pins the " +
      "oracle's strict > break test)") {
    // event windows [t, t+gap) and [t+gap, t+2gap) TOUCH: session_window
    // merges them — so the q279 oracle's `diff > gap` (strict) break
    // convention is the engine's, and a one-µs-wider gap splits
    val exact = Seq(ev(1, 8, 0, 1.0), ev(2, 8, 30, 2.0),
      ev(9, Flush, 600, 0.0))
    assert(batchSessions(exact) ===
      Set((8L, T0, T0 + 60 * Min, 2L, 3.0)))
  }

  test("streaming ≡ batch on one micro-batch") {
    assert(streamSessions(Seq(fixture), "sess_one") === batchSessions(fixture))
  }

  test("streaming ≡ batch when a session MERGES across micro-batches") {
    // user 1's two session-A events arrive in separate batches; the
    // open session must extend, not split
    val slices = Seq(
      Seq(ev(1, 1, 0, 1.5), ev(4, 2, 5, 8.5)),
      Seq(ev(2, 1, 10, 2.25)),
      Seq(ev(3, 1, 60, 4.0)),
      Seq(ev(9, Flush, 600, 0.0)))
    assert(streamSessions(slices, "sess_merge") === batchSessions(fixture))
  }

  test("a session SPANS three micro-batches (r10 VERDICT item 5)") {
    // one event per batch, each ≤ gap after the previous: the open
    // session must extend through batch 1 → 2 → 3 into ONE window,
    // then a fourth batch's sentinel closes it
    val all = Seq(ev(1, 5, 0, 1.0), ev(2, 5, 20, 2.0), ev(3, 5, 40, 4.0),
      ev(9, Flush, 600, 0.0))
    val slices = all.map(Seq(_))
    val got = streamSessions(slices, "sess_span3")
    assert(got === Set((5L, T0, T0 + 70 * Min, 3L, 7.0)))
    assert(got === batchSessions(all))
  }

  test("reordered late rows within the watermark merge exactly like batch") {
    // delivery order is the REVERSE of event time (40 → 20 → 0 min,
    // one per micro-batch; all within the 1 h watermark because the
    // global watermark never passes 40 min − 1 h until the sentinel):
    // the 20 min row BRIDGES 0 and 40 into one session — session_window
    // state merges on late data, unlike the first-seen-wins modules
    // (CurationStreams/AttributionStreams) where reorder degrades
    val all = Seq(ev(1, 6, 40, 1.0), ev(2, 6, 20, 2.0), ev(3, 6, 0, 4.0),
      ev(9, Flush, 600, 0.0))
    val slices = all.map(Seq(_))
    val got = streamSessions(slices, "sess_reorder")
    assert(got === Set((6L, T0, T0 + 70 * Min, 3L, 7.0)))
    assert(got === batchSessions(all))
  }

  test("a bridging event joins two previously-separate windows") {
    // 0min and 50min are separate sessions until a 25min event bridges
    // them into ONE 0..50+gap session — the merging-window property the
    // lag-islands batch twin also produces on the full data
    val all = Seq(ev(1, 7, 0, 1.0), ev(2, 7, 50, 2.0), ev(3, 7, 25, 4.0),
      ev(9, Flush, 600, 0.0))
    val slices = Seq(all.take(2), Seq(all(2)), Seq(all(3)))
    val got = streamSessions(slices, "sess_bridge")
    assert(got === Set((7L, T0, T0 + 80 * Min, 3L, 7.0)))
  }
}
