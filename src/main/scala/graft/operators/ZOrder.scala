package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout: cluster a table on the interleaved
  * bits of two dimensions so that a 2-D box predicate touches only the
  * files whose z-cells intersect the box — multi-dimensional scan
  * pruning, the layout technique behind Delta/Iceberg `OPTIMIZE
  * ZORDER BY`, expressed with vanilla Spark + parquet.
  *
  * Layout: each row's dims are quantized onto a 2^gridBits × 2^gridBits
  * grid, the two cell coordinates are bit-interleaved into one `zb`
  * cell id, and the table is written `partitionBy("zb")` after a
  * `repartition(zb)` (one file per occupied cell). A box query
  * enumerates the covering cell ids ON THE DRIVER (≤ 4^gridBits ints —
  * metadata, not data), filters `zb IN (cover)` — which Spark turns
  * into PARTITION pruning, so non-intersecting files are never opened —
  * and re-applies the exact box residual to the survivors.
  *
  * Exactness does NOT depend on float behavior: quantization is
  * monotone per dim, so the [cellOf(lo) .. cellOf(hi)] cell ranges
  * cover every cell any matching row can live in (the cover is a
  * superset; the residual makes the result exact). The q93 oracle is
  * the same box predicate over the RAW table — a hash match proves the
  * layout changes nothing but the scan cost; ZOrderSpec additionally
  * asserts filesScanned(small box) ≪ total files via the executed
  * scan's numFiles metric.
  *
  * At 100 TB: gridBits picks the file-count granularity (10 bits → 1M
  * cells); the cover enumeration stays driver-trivial because it is
  * bounded by the QUERY box's cell area, not the table. Writes scale as
  * one shuffle on zb. The reference's 2-D (pressure, temperature) /
  * (surface_area, heat) scan patterns (mofdbsql_database/mofdb_test/
  * test.py:98-177) are the motivating query shape.
  *
  * Cache ownership: persists internal frames the returned (lazy)
  * result depends on; the CALLER releases after materializing —
  * graft.Caches.releaseAll(spark) (docs/CACHE_POLICY.md rule 1).
  */
object ZOrder {

  /** Bit-interleave two gridBits-bit cell coordinates (x even bits,
    * y odd bits). */
  def morton(x: Column, y: Column, gridBits: Int): Column =
    (0 until gridBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Quantize `v` onto [0, cells) over [lo, hi], clamped (values at or
    * beyond the bounds land in the edge cells). Monotone in `v`. */
  def cellOf(v: Column, lo: Double, hi: Double, cells: Int): Column =
    least(greatest(
      floor((v.cast("double") - lit(lo)) / lit(hi - lo) * lit(cells)).cast("long"),
      lit(0L)), lit(cells - 1L))

  /** Driver-side morton id of integer cell coords. */
  private def mortonId(cx: Long, cy: Long, gridBits: Int): Long =
    (0 until gridBits).foldLeft(0L) { (acc, i) =>
      acc | (((cx >> i) & 1L) << (2 * i)) | (((cy >> i) & 1L) << (2 * i + 1))
    }

  private def boundsOf(df: DataFrame, xCol: String, yCol: String): (Double, Double, Double, Double) = {
    val r = df.agg(min(col(xCol).cast("double")), max(col(xCol).cast("double")),
      min(col(yCol).cast("double")), max(col(yCol).cast("double"))).collect().head
    (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }

  private def boundsFile(path: String) = java.nio.file.Paths.get(s"$path._zbounds")

  /** Write `df` z-ordered on (xCol, yCol) at `path` through the
    * write-once store [[graft.Aux.writeFrameOnce]] (stamp: the content
    * fingerprint and `gridBits`). Data-derived dim bounds are persisted
    * in a `_zbounds` sidecar next to the dir so later sessions query
    * with the exact write-time grid. Returns `path`. */
  def store(df: DataFrame, xCol: String, yCol: String,
            gridBits: Int, path: String): String = {
    val bounds = boundsFile(path)
    graft.Aux.writeFrameOnce(df, path,
        java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")) &&
          java.nio.file.Files.exists(bounds), salt = s"-g$gridBits") { df =>
      val (xLo, xHi, yLo, yHi) = boundsOf(df, xCol, yCol)
      require(xHi > xLo && yHi > yLo,
        s"ZOrder.store needs spread on both dims ($xCol: [$xLo,$xHi], " +
          s"$yCol: [$yLo,$yHi]) — a constant dim quantizes to NULL cells")
      val cells = 1 << gridBits
      val zb = morton(cellOf(col(xCol), xLo, xHi, cells),
        cellOf(col(yCol), yLo, yHi, cells), gridBits)
      df.withColumn("zb", zb)
        .repartition(col("zb")) // one writer (→ one file) per cell
        .write.mode("overwrite").partitionBy("zb").parquet(path)
      java.nio.file.Files.writeString(bounds, s"$xLo $xHi $yLo $yHi")
    }
    path
  }

  /** Exact box query over a [[store]]: prune to the covering z-cells
    * (partition pruning — pruned files are never opened), then apply
    * the exact residual. */
  def boxQuery(spark: SparkSession, path: String, gridBits: Int,
               xCol: String, xLo: Double, xHi: Double,
               yCol: String, yLo: Double, yHi: Double): DataFrame = {
    val Array(bxLo, bxHi, byLo, byHi) = java.nio.file.Files
      .readString(boundsFile(path)).trim.split(" ").map(_.toDouble)
    val cells = 1 << gridBits
    def cellIdx(v: Double, lo: Double, hi: Double): Long =
      math.min(cells - 1L, math.max(0L,
        math.floor((v - lo) / (hi - lo) * cells).toLong))
    val cover = for {
      cx <- cellIdx(xLo, bxLo, bxHi) to cellIdx(xHi, bxLo, bxHi)
      cy <- cellIdx(yLo, byLo, byHi) to cellIdx(yHi, byLo, byHi)
    } yield mortonId(cx, cy, gridBits)
    val base = spark.read.parquet(path)
    // a near-full-table box prunes nothing — skip the IN list rather
    // than ship half the grid as a predicate (at gridBits=10 a full
    // box would be a 1M-element isin; a production z-index would use
    // litmax/bigmin z-range intervals instead of cell enumeration)
    val pruned =
      if (cover.size * 2 > cells.toLong * cells) base
      else base.filter(col("zb").isin(cover: _*))
    pruned.filter(col(xCol) >= xLo && col(xCol) <= xHi &&
      col(yCol) >= yLo && col(yCol) <= yHi)
  }
}
