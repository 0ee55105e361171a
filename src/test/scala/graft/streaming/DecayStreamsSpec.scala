package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class DecayStreamsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  import DecayStreams.{DecayHist, Keyed}

  private val T0 = 1700000000000L
  private val BucketUs = 60000000L // 1-minute buckets keep fixtures small
  private val Cap = 34             // 10^9 < 2^34 → zero floor weight
  private val Scale = graft.operators.Decay.Scale

  private def ev(key: String, msOff: Long) =
    Keyed(new Timestamp(T0 + msOff), key)

  private def runStream(slices: Seq[Seq[Keyed]], name: String): Seq[DecayHist] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Keyed]
    val q = DecayStreams.decayHistStream(ms.toDS(), BucketUs, Cap, Scale,
        horizon = "30 seconds")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      slices.foreach { s => ms.addData(s: _*); q.processAllAvailable() }
      spark.table(name).as[DecayHist].collect().toSeq
    } finally q.stop()
  }

  private def totals(hist: Seq[DecayHist], all: Seq[Keyed]): Map[String, Long] = {
    import spark.implicits._
    val refBucket = all.map(e =>
      Math.floorDiv(e.ts.getTime * 1000L, BucketUs)).max
    DecayStreams.decayedTotals(hist.toDF(), refBucket, Scale, Cap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def batchTotals(all: Seq[Keyed]): Map[String, Long] = {
    import spark.implicits._
    DecayStreams.calendarDecayedBatch(all.toDF(), "key", BucketUs, Cap, Scale)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private val fixture = Seq(
    ev("a", 0), ev("a", 1000), ev("a", 61000),   // buckets b, b, b+1
    ev("b", 0), ev("b", 180000),                  // b, b+3
    ev("c", 120000))                              // b+2

  test("stream + finisher ≡ calendar batch on one micro-batch") {
    assert(totals(runStream(Seq(fixture), "decay_one"), fixture) ===
      batchTotals(fixture))
  }

  test("stream ≡ batch across event-time-ordered micro-batch slices") {
    val ordered = fixture.sortBy(_.ts.getTime)
    assert(totals(runStream(ordered.grouped(2).toSeq, "decay_sliced"), fixture)
      === batchTotals(fixture))
  }

  test("cross-batch state: same bucket split across micro-batches merges") {
    val evs = Seq(ev("k", 0), ev("k", 500), ev("k", 1000))
    val got = runStream(Seq(evs.take(1), evs.drop(1)), "decay_merge")
    // latest histogram for k must hold ONE bucket with count 3
    val latest = got.filter(_.key == "k")
      .filter(h => h.asof_bucket == got.map(_.asof_bucket).max)
    // re-emissions under the same asof: the bucket's latest snapshot is
    // the max (counts are cumulative) — exactly what decayedTotals takes
    val perBucket = latest.groupBy(_.bucket).view
      .mapValues(_.map(_.cnt).max).toMap
    assert(perBucket.values.toSeq === Seq(3L))
    assert(totals(got, evs) === batchTotals(evs))
  }

  test("idle key past the watermark delay but inside the decay horizon keeps state") {
    // key "idle" is silent for 5 buckets while "driver" advances the
    // watermark far past idle's last event + the 30 s delay; idle's
    // weight at the final ref must still count — the AttributionStreams
    // TTL lesson (state lives to last activity + cap·bucket)
    val evs = Seq(ev("idle", 0), ev("driver", 0), ev("driver", 300000),
      ev("driver", 301000))
    val got = runStream(Seq(
      Seq(ev("idle", 0), ev("driver", 0)),
      Seq(ev("driver", 300000)),
      Seq(ev("driver", 301000))), "decay_idle")
    val t = totals(got, evs)
    assert(t === batchTotals(evs))
    // 5 buckets of age → Scale div 32, not zero and not full
    assert(t("idle") === Scale / 32)
  }

  test("reorder within the watermark: totals are arrival-order-invariant") {
    val evs = Seq(ev("r", 0), ev("r", 5000), ev("r", 10000))
    val inOrder = runStream(Seq(evs.take(2), evs.drop(2)), "decay_ord")
    val reordered = runStream(Seq(
      Seq(evs(2)), Seq(evs(0), evs(1))), "decay_reord")
    assert(totals(inOrder, evs) === totals(reordered, evs))
  }

  test("stale refBucket clamps to age 0 (full weight), never a negative " +
      "shift count (r11 ADVICE pin)") {
    import spark.implicits._
    // a stored bucket NEWER than the caller's ref: age would be −1 and
    // Java shiftleft masks the count (& 63) → garbage weight; the clamp
    // makes it a full-weight bucket instead
    val hist = Seq(DecayHist("k", 10L, 10L, 3L)).toDF()
    val got = DecayStreams.decayedTotals(hist, refBucket = 9L, Scale, Cap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("k" -> 3L * Scale))
  }

  test("buckets older than the cap are pruned from state (weight is exactly 0)") {
    val evs = Seq(ev("p", 0), ev("p", (Cap + 2L) * 60000L))
    val got = runStream(Seq(evs.take(1), evs.drop(1)), "decay_prune")
    val latest = got.filter(h => h.asof_bucket == got.map(_.asof_bucket).max)
    assert(latest.size === 1 && latest.head.cnt === 1L) // old bucket gone
    assert(totals(got, evs) === batchTotals(evs)) // and the total agrees
  }
}
