package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class UrlStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  import UrlStreams.{Admit, CanonEvent, UrlEvent}

  private val T0 = 1700000000000L
  private def ue(id: Long, url: String) =
    UrlEvent(id, new Timestamp(T0 + id), url)

  // three surface forms of one page + two distinct pages
  private val fixture = Seq(
    ue(1, "http://www.ex.com/a?b=2&a=1"),
    ue(2, "https://ex.com/a/?a=1&b=2"),
    ue(3, "http://ex.com/a?a=1&b=2"),
    ue(4, "http://ex.com/other"),
    ue(5, "https://ex.com/other2/"))

  private def runStream(slices: Seq[Seq[UrlEvent]],
                        name: String): Seq[Admit] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UrlEvent]
    val q = UrlStreams.firstWinsStream(UrlStreams.canonEvents(ms.toDS()))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      slices.foreach { s => ms.addData(s: _*); q.processAllAvailable() }
      assert(q.lastProgress.stateOperators.nonEmpty) // stateful by design
      spark.table(name).as[Admit].collect().toSeq
    } finally q.stop()
  }

  private def batchFlags(events: Seq[UrlEvent]): Map[Long, Boolean] = {
    import spark.implicits._
    UrlStreams.firstWinsBatch(
        events.map(e => (e.doc_id, e.url)).toDF("doc_id", "url"),
        "url", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
  }

  test("streaming ≡ batch survivor flags on one micro-batch") {
    val got = runStream(Seq(fixture), "url_one")
      .map(a => a.doc_id -> a.admitted).toMap
    assert(got == batchFlags(fixture))
    assert(got(1) && !got(2) && !got(3) && got(4) && got(5))
  }

  test("streaming ≡ batch across id-ordered micro-batch slices " +
      "(cross-batch canon state carried)") {
    val slices = Seq(fixture.take(1), fixture.slice(1, 3), fixture.drop(3))
    val got = runStream(slices, "url_sliced")
      .map(a => a.doc_id -> a.admitted).toMap
    assert(got == batchFlags(fixture))
  }

  test("reorder pin: first-SEEN wins across batches — an emitted " +
      "admission is never retracted") {
    // id 3 arrives in batch 1, id 1 (smaller, same canon) in batch 2:
    // the stream admits 3 and rejects 1; batch min-id would keep 1
    val slices = Seq(Seq(fixture(2)), Seq(fixture(0), fixture(1)))
    val got = runStream(slices, "url_reorder")
      .map(a => a.doc_id -> a.admitted).toMap
    assert(got(3) && !got(1) && !got(2))
  }

  test("canon kernel is the batch kernel (shared Column fn)") {
    import spark.implicits._
    val c = UrlStreams.canonEvents(
        spark.createDataset(fixture)(implicitly)).collect()
      .map(e => e.doc_id -> e.canon).toMap
    assert(c(1) == "ex.com/a?a=1&b=2" && c(2) == c(1) && c(3) == c(1))
    assert(c(4) == "ex.com/other" && c(5) == "ex.com/other2")
  }

  test("same-batch ties replay in id order (smallest id wins)") {
    // reversed arrival inside ONE batch still admits the smallest id
    val got = runStream(Seq(fixture.reverse), "url_tie")
      .map(a => a.doc_id -> a.admitted).toMap
    assert(got == batchFlags(fixture))
  }
}
