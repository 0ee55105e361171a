package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class ZOrderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val GridBits = 3 // 8×8 = 64 cells

  // 4000 uniform points in [0,100)², stored z-ordered once for the suite
  private lazy val (df, path) = {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val data = (1 to 4000)
      .map(i => (i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("id", "x", "y")
    val p = Files.createTempDirectory("graft-zorder").toString + "/store"
    ZOrder.store(data, "x", "y", GridBits, p)
    (data, p)
  }

  test("box query ≡ brute-force filter on randomized boxes") {
    val rnd = new scala.util.Random(77)
    (1 to 8).foreach { _ =>
      val (x1, x2) = { val a = rnd.nextDouble() * 100; val b = rnd.nextDouble() * 100
        (math.min(a, b), math.max(a, b)) }
      val (y1, y2) = { val a = rnd.nextDouble() * 100; val b = rnd.nextDouble() * 100
        (math.min(a, b), math.max(a, b)) }
      val expected = df.filter(col("x") >= x1 && col("x") <= x2 &&
          col("y") >= y1 && col("y") <= y2)
        .collect().map(_.getLong(0)).sorted.toSeq
      val got = ZOrder.boxQuery(spark, path, GridBits, "x", x1, x2, "y", y1, y2)
        .collect().map(r => r.getAs[Long]("id")).sorted.toSeq
      assert(got == expected, s"box [$x1,$x2]×[$y1,$y2] diverged")
    }
  }

  test("bound-edge rows (exact min/max of a dim) are clamped, not lost") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft-zorder-edge").toString + "/store"
    val edge = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0), (3L, 10.0, 0.0),
      (4L, 5.0, 5.0)).toDF("id", "x", "y")
    ZOrder.store(edge, "x", "y", GridBits, p)
    val all = ZOrder.boxQuery(spark, p, GridBits, "x", 0.0, 10.0, "y", 0.0, 10.0)
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(all == Seq(1L, 2L, 3L, 4L))
  }

  test("a small box scans only its covering cells' files (partition pruning)") {
    val total = graft.sources.StructureStore.filesScanned(
      spark.read.parquet(path), "zorder")
    // an eighth×eighth box touches at most 4 of the 64 cells
    val pruned = graft.sources.StructureStore.filesScanned(
      ZOrder.boxQuery(spark, path, GridBits, "x", 10.0, 20.0, "y", 10.0, 20.0),
      "zorder")
    assert(pruned >= 1, "box query read no files — cover enumeration broken")
    assert(pruned <= 4, s"box over ≤4 cells scanned $pruned files")
    assert(total >= 32, s"store unexpectedly sparse: $total files")
  }

  test("store is write-once per session and content-stamped on disk") {
    val p = java.nio.file.Paths.get(path)
    val stamp = p.resolveSibling(p.getFileName.toString + "._stamp")
    assert(Files.exists(stamp))
    val before = Files.getLastModifiedTime(stamp)
    ZOrder.store(df, "x", "y", GridBits, path) // second call: no rewrite
    assert(Files.getLastModifiedTime(stamp) == before)
  }
}
