package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class TransitionStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  import EventStreams.Event
  import TransitionStreams.Trans

  private val T0 = 1700000000000L

  private def ev(id: Long, user: Long, msOff: Long, typ: String) =
    Event(id, new Timestamp(T0 + msOff), user, typ, 1.0, "")

  /** Multiset of (prev, next) pairs. */
  private def multiset(xs: Seq[(String, String)]): Map[(String, String), Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  private def batchPairs(events: Seq[Event]): Map[(String, String), Int] = {
    import spark.implicits._
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    multiset(events.toDF()
      .select(coalesce(lag(col("event_type"), 1).over(byUser),
        lit("(start)")).as("p"), col("event_type").as("n"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq)
  }

  private def streamPairs(slices: Seq[Seq[Event]],
                          name: String): Map[(String, String), Int] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = TransitionStreams.transitionStream(ms.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      slices.foreach { s =>
        ms.addData(s: _*)
        q.processAllAvailable()
      }
      assert(q.lastProgress.stateOperators.nonEmpty) // stateful by design
      multiset(spark.table(name).as[Trans].collect()
        .map(t => (t.prev_type, t.next_type)).toSeq)
    } finally q.stop()
  }

  private val fixture = Seq(
    ev(1, 1, 0, "view"), ev(2, 1, 100, "click"), ev(3, 1, 200, "click"),
    ev(4, 1, 300, "purchase"),
    ev(5, 2, 50, "signup"), ev(6, 2, 150, "view"),
    ev(7, 3, 10, "error"))

  test("streaming ≡ batch lag on one micro-batch (incl. start sentinel)") {
    assert(streamPairs(Seq(fixture), "trans_one") === batchPairs(fixture))
    assert(batchPairs(fixture)(("(start)", "view")) === 1)
  }

  test("streaming ≡ batch across event-time-ordered micro-batch slices") {
    val ordered = fixture.sortBy(e => (e.ts.getTime, e.event_id))
    assert(streamPairs(ordered.grouped(2).toSeq, "trans_sliced") ===
      batchPairs(fixture))
  }

  test("cross-batch state: the pair spans two micro-batches") {
    val got = streamPairs(Seq(
      Seq(ev(1, 9, 0, "view")),
      Seq(ev(2, 9, 100, "purchase"))), "trans_cross")
    assert(got === Map(("(start)", "view") -> 1, ("view", "purchase") -> 1))
  }

  test("same-timestamp events order by event_id, matching batch") {
    val ties = Seq(ev(2, 9, 0, "b_second"), ev(1, 9, 0, "a_first"),
      ev(3, 9, 100, "purchase"))
    assert(streamPairs(Seq(ties), "trans_ties") === batchPairs(ties))
  }

  test("cross-batch reorder: pairs follow arrival order (first-seen-wins)") {
    // event-time order is view(0) → click(100) → purchase(200), but the
    // click arrives one batch LATE: emitted pairs follow arrival —
    // (start)→view, view→purchase, then purchase→click; the batch lag
    // would emit view→click, click→purchase instead. Pinned, not fixed:
    // an emitted pair is never retracted.
    val got = streamPairs(Seq(
      Seq(ev(1, 9, 0, "view"), ev(3, 9, 200, "purchase")),
      Seq(ev(2, 9, 100, "click"))), "trans_reorder")
    assert(got === Map(("(start)", "view") -> 1, ("view", "purchase") -> 1,
      ("purchase", "click") -> 1))
  }
}
