package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

import graft.operators.Attribution

class AttributionStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  import AttributionStreams.{Credit, Ev}

  private val T0 = 1700000000000L
  private val Horizon = 10000L

  /** (event_id, ms-offset, user, type) fixture shared with the batch op. */
  private val fixture = Seq(
    (1L, 0L, 1L, "click"), (2L, 5000L, 1L, "view"),
    (3L, 9999L, 1L, "signup"), (100L, 10000L, 1L, "purchase"),
    (4L, 12000L, 1L, "click"), (200L, 15000L, 1L, "purchase"),
    (5L, 1000L, 2L, "view"), (300L, 2000L, 2L, "purchase"),
    (6L, 3000L, 2L, "error"), (400L, 20000L, 2L, "purchase"))

  private def evOf(t: (Long, Long, Long, String)) =
    Ev(t._1, new Timestamp(T0 + t._2), t._3, t._4)

  private def batchCredits(rows: Seq[(Long, Long, Long, String)]) = {
    import spark.implicits._
    Attribution.positionCredits(
        rows.toDF("event_id", "off", "user_id", "event_type")
          .select(col("event_id"), timestamp_millis(lit(T0) + col("off")).as("ts"),
            col("user_id"), col("event_type")),
        horizonMs = Horizon)
      .collect()
      .map(r => Credit(r.getLong(0), r.getLong(1), r.getString(2),
        r.getInt(4), r.getLong(5), r.getLong(6)))
      .toSet
  }

  private def streamCredits(slices: Seq[Seq[(Long, Long, Long, String)]],
                            name: String,
                            horizonMs: Long = Horizon): Set[Credit] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = AttributionStreams.creditStream(ms.toDS(), horizonMs = horizonMs)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      slices.foreach { s =>
        ms.addData(s.map(evOf): _*)
        q.processAllAvailable()
      }
      assert(q.lastProgress.stateOperators.nonEmpty) // stateful by design
      spark.table(name).as[Credit].collect().toSet
    } finally q.stop()
  }

  test("streaming ≡ batch on one micro-batch") {
    assert(streamCredits(Seq(fixture), "attr_one") === batchCredits(fixture))
  }

  test("streaming ≡ batch across event-time-ordered micro-batch slices") {
    val ordered = fixture.sortBy(t => (t._2, t._1))
    val slices = ordered.grouped(3).toSeq
    assert(streamCredits(slices, "attr_sliced") === batchCredits(fixture))
  }

  test("cross-batch state: batch-1 touches credit a batch-3 conversion") {
    val got = streamCredits(Seq(
      Seq((1L, 0L, 9L, "click")),
      Seq((2L, 2000L, 9L, "view")),
      Seq((900L, 4000L, 9L, "purchase"))), "attr_cross")
    assert(got === Set(
      Credit(900L, 1L, "click", 1, 2L, 500L),
      Credit(900L, 2L, "view", 2, 2L, 500L)))
  }

  test("reordered delivery: a late touch earns no retroactive credit") {
    // conversion arrives first; its in-window touch arrives one batch
    // later — first-seen-wins: the conversion was already emitted
    // against an empty buffer and is NOT retracted or re-credited
    val got = streamCredits(Seq(
      Seq((900L, 5000L, 9L, "purchase")),
      Seq((1L, 1000L, 9L, "click")),
      Seq((901L, 6000L, 9L, "purchase"))), "attr_reorder")
    // the late touch DOES credit the next conversion it precedes
    assert(got === Set(Credit(901L, 1L, "click", 1, 1L, 1000L)))
  }

  test("idle user's touches survive the full horizon while other users " +
      "advance the watermark past last touch + watermark delay") {
    // horizon (7 days) >> watermark delay (10 min, the creditStream
    // default). User 9 touches at t=0 and goes idle; user 8's events push
    // the global watermark far past t=0 + 10 min — with the old
    // TTL (last activity + watermark delay) user 9's state timed out and
    // the in-horizon conversion at t=60 min emitted nothing.
    val sevenDays = 7L * 24 * 3600 * 1000
    val got = streamCredits(Seq(
      Seq((1L, 0L, 9L, "click")),
      Seq((50L, 1500000L, 8L, "click")),  // watermark → 15 min
      Seq((51L, 3000000L, 8L, "click")),  // extra batch: lets any pending
                                          // event-time timeout actually fire
      Seq((900L, 3600000L, 9L, "purchase"))), "attr_idle_horizon",
      horizonMs = sevenDays)
    assert(got === Set(Credit(900L, 1L, "click", 1, 1L, 1000L)))
  }

  test("touches beyond the horizon are evicted and never credited") {
    val got = streamCredits(Seq(
      Seq((1L, 0L, 9L, "click")),
      Seq((2L, 20000L, 9L, "view")), // advances maxTs: evicts touch 1
      Seq((900L, 25000L, 9L, "purchase"))), "attr_evict")
    assert(got === Set(Credit(900L, 2L, "view", 1, 1L, 1000L)))
  }
}
