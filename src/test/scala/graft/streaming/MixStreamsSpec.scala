package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class MixStreamsSpec extends AnyFunSuite {
  import MixStreams.{MixDoc, SlotAssign}

  lazy val spark: SparkSession = graft.LocalSession(4)

  // one group, two sources: a alloc 2, b alloc 3, epoch T=10
  private val alloc = Map(("g", "a") -> 2L, ("g", "b") -> 3L)
  private val docs = Seq(
    MixDoc(1, "g", "a"), MixDoc(2, "g", "b"), MixDoc(3, "g", "a"),
    MixDoc(4, "g", "b"), MixDoc(5, "g", "a"), MixDoc(6, "g", "b"),
    MixDoc(7, "g", "b"))

  /** Batch reference via the production operator. */
  private def batchExpected: Set[(String, Long, String, Long, Long)] = {
    import spark.implicits._
    val a = alloc.toSeq.map { case ((g, s), v) => (g, s, v) }
      .toDF("grp", "src", "alloc")
    graft.operators.Mixing.interleave(
        docs.toDF().select(col("grp"), col("source").as("src"),
          col("doc_id").as("id")),
        a, "grp", "src", "id", "alloc", 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
  }

  private def collect(name: String): Set[(String, Long, String, Long, Long)] =
    spark.sql(s"SELECT grp, slot, source, doc_id, r FROM $name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet

  test("single micro-batch ≡ the batch interleave schedule") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MixDoc]
    val q = MixStreams.scheduleStream(ms.toDS(), alloc, total = 10)
      .writeStream.format("memory").queryName("mix_one")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(docs: _*)
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.nonEmpty) // stateful by design
      assert(collect("mix_one") == batchExpected)
    } finally q.stop()
  }

  test("pick counter carries across micro-batches (id-ordered delivery " +
      "≡ batch)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MixDoc]
    val q = MixStreams.scheduleStream(ms.toDS(), alloc, total = 10)
      .writeStream.format("memory").queryName("mix_multi")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(docs(0), docs(1), docs(2)) // ids 1,2,3
      q.processAllAvailable()
      ms.addData(docs(3), docs(4), docs(5), docs(6)) // ids 4..7
      q.processAllAvailable()
      // delivery respects id order, so the stream equals the batch
      // schedule; without cross-batch state, batch 2 would restart
      // r at 1 and re-emit slot 1 for source b
      assert(collect("mix_multi") == batchExpected)
    } finally q.stop()
  }

  test("cross-batch reordering degrades to first-seen-wins (documented)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MixDoc]
    val q = MixStreams.scheduleStream(ms.toDS(), alloc, total = 10)
      .writeStream.format("memory").queryName("mix_reorder")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(MixDoc(5, "g", "a"), MixDoc(3, "g", "a")) // high a ids first
      q.processAllAvailable()
      ms.addData(MixDoc(1, "g", "a"), MixDoc(2, "g", "b"))
      q.processAllAvailable()
      val got = collect("mix_reorder")
      // a's 2 slots went to first-seen 3 and 5 (sorted within batch 1);
      // the late smaller id 1 is dropped; b schedules its first pick
      assert(got == Set(("g", 2L, "a", 3L, 1L), ("g", 7L, "a", 5L, 2L),
        ("g", 1L, "b", 2L, 1L)))
    } finally q.stop()
  }

  test("sources missing from the plan are dropped") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MixDoc]
    val q = MixStreams.scheduleStream(ms.toDS(), alloc, total = 10)
      .writeStream.format("memory").queryName("mix_unknown")
      .outputMode(OutputMode.Append).start()
    try {
      ms.addData(MixDoc(1, "g", "zz"), MixDoc(2, "g", "a"))
      q.processAllAvailable()
      assert(collect("mix_unknown") == Set(("g", 2L, "a", 2L, 1L)))
    } finally q.stop()
  }
}
