package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TableSyncSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def table(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("k", "v1", "v2")
  }

  private val keyH = TableSync.rowHash(Seq(col("k")))
  private val rowH = TableSync.rowHash(Seq(col("k"), col("v1"), col("v2")))

  /** (bucket, old side digest, new side digest) per bucket. */
  private def digests(oldRows: Seq[(Long, Long, Long)], newDf: DataFrame,
                      buckets: Int) =
    TableSync.bucketDigests(table(oldRows), newDf, keyH, rowH, buckets)
      .collect().map(r => r.getLong(0) ->
        (((r.getLong(1), r.getLong(2), r.getLong(3)),
          (r.getLong(4), r.getLong(5), r.getLong(6))))).toMap

  test("digest is order- and partitioning-independent") {
    val rows = (1L to 500L).map(k => (k, k * 3, k % 17))
    val d = digests(rows,
      table(scala.util.Random.shuffle(rows)).repartition(7), 16)
    assert(d.size == 16)
    d.foreach { case (bucket, (o, n)) => assert(o == n, s"bucket $bucket") }
  }

  test("limb sums reconstruct the full-width hash sum exactly") {
    // the r12 digest optimization replaced sum(h) as DECIMAL(38,0) with
    // two BIGINT limb sums; h_lo + 2^16 * h_hi must equal the old sum
    // bit-for-bit, so detection power is unchanged
    val rows = (1L to 500L).map(k => (k, k * 3, k % 17))
    val full = table(rows)
      .select(pmod(keyH, lit(16L)).as("bucket"), rowH.as("h"))
      .groupBy("bucket").agg(sum(col("h")).as("hsum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val limbs = digests(rows, table(rows), 16)
      .map { case (bucket, ((_, lo, hi), _)) => bucket -> (lo + 65536L * hi) }
    assert(limbs == full)
  }

  test("a single changed row dirties exactly one bucket") {
    val rows = (1L to 500L).map(k => (k, k * 3, k % 17))
    val edited = rows.map { case (k, v1, v2) =>
      if (k == 137L) (k, v1 + 1, v2) else (k, v1, v2)
    }
    val dirty = TableSync.dirtyBuckets(TableSync.bucketDigests(
      table(rows), table(edited), keyH, rowH, 16)).collect()
    assert(dirty.length == 1)
  }

  test("syncDiff equals the full unpruned snapshotDiff on random edits") {
    val rnd = new scala.util.Random(114)
    for (trial <- 1 to 3) {
      val oldRows = (1L to 400L).map(k => (k, rnd.nextInt(1000).toLong, k % 23))
      val newRows = oldRows.flatMap { case (k, v1, v2) =>
        rnd.nextInt(10) match {
          case 0 => None                      // delete
          case 1 => Some((k, v1 + 7, v2))     // update
          case _ => Some((k, v1, v2))
        }
      } ++ (1L to 20L).map(i => (10000L + i, i, i)) // inserts
      val expect = ChangeCapture
        .snapshotDiff(table(oldRows), table(newRows), Seq("k"), Seq("v1", "v2"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val got = TableSync
        .syncDiff(table(oldRows), table(newRows), keyH, rowH, 16,
          Seq("k"), Seq("v1", "v2"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("syncDiff: a NULL-keyed row on both sides becomes one U or no row") {
    import spark.implicits._
    // the documented contract for NULL keys (the row recovery groups by
    // the key, which unifies NULLs): never the D + I pair a SQL full
    // outer join on `=` would give
    def snap(rows: Seq[(Option[Long], Long, Long)]) = rows.toDF("k", "v1", "v2")
    val oldRows = Seq((None, 1L, 1L), (Some(1L), 1L, 1L), (Some(2L), 2L, 2L))
    for (nullPayload <- Seq((1L, 1L), (5L, 1L))) {
      val newRows = Seq((None, nullPayload._1, nullPayload._2),
        (Some(1L), 9L, 1L), (Some(2L), 2L, 2L))
      val got = TableSync.syncDiff(snap(oldRows), snap(newRows), keyH, rowH, 4,
          Seq("k"), Seq("v1", "v2"))
        .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getString(1))
      val nullRows = got.filter(_._1.isEmpty).map(_._2)
      assert(nullRows.length <= 1 && nullRows.forall(_ == "U"),
        s"payload $nullPayload: ${got.mkString(", ")}")
      assert(got.filter(_._1.nonEmpty).toSet === Set(Some(1L) -> "U"))
    }
  }

  test("identical snapshots: no dirty buckets, empty diff") {
    val rows = (1L to 300L).map(k => (k, k, k))
    assert(TableSync.dirtyBuckets(TableSync.bucketDigests(
      table(rows), table(rows), keyH, rowH, 8)).isEmpty)
    assert(TableSync.syncDiff(table(rows), table(rows), keyH, rowH, 8,
      Seq("k"), Seq("v1", "v2")).isEmpty)
  }

  test("negative values hash without ANSI overflow (arithmetic-shift halves)") {
    val rows = Seq((-5L, -1000000000000L, Long.MinValue + 3), (2L, 0L, -1L))
    val d = digests(rows, table(rows), 4)
    assert(d.values.map { case ((nOld, _, _), (nNew, _, _)) => nOld + nNew }.sum == 4L)
  }
}
