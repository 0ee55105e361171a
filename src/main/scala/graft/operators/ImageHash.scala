package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Perceptual image near-dup detection via average hash (aHash) — the
  * classic 8×8 mean-threshold fingerprint (the cheap member of the
  * pHash family), built integer-exact: per-image luma block sums are
  * integers (luma scaled ×1000: 299r+587g+114b), and the "block above
  * image mean" bit is the CROSS-MULTIPLIED compare
  * bsum·totCnt ≥ totSum·bcnt — no float mean, no rounding boundary, so
  * everything downstream of the decode is SQL-derivable and the q216
  * oracle rebuilds bits → segments → candidate pairs → Hamming
  * distances from the shared block-sum parquet independently.
  *
  * Near-dup search is the SimHash pigeonhole (Dedup.simhash's device on
  * image bits): 64 bits split into maxHamming+1 equal segments — two
  * fingerprints within Hamming t must agree on ≥ 1 whole segment — so
  * candidates come from an equi self-join on (segment, value), never an
  * all-pairs scan, and the exact Hamming check runs only on candidates.
  *
  * Scale design: decode is row-local mapPartitions (one pass per image,
  * no shuffle); the bits frame is 64 small integers per image; the
  * candidate join is bucketed by 16-bit segment value. Grid means are
  * size-invariant, so re-encoded/resized near-duplicates of the same
  * frame still collide — which raw-byte dedup (q301's payload md5) can
  * never do.
  *
  * Cache ownership: persists internal frames the returned (lazy)
  * result depends on; the CALLER releases after materializing —
  * graft.Caches.releaseAll(spark) (docs/CACHE_POLICY.md rule 1).
  */
object ImageHash {

  /** Per-image luma block sums over a grid×grid partition of the
    * raster: rows (media_id, block, bsum, bcnt) — ALL grid² blocks,
    * including empty ones (an image shorter than the grid leaves rows
    * with bcnt = 0; their bit is defined 0). Block of pixel (x, y) is
    * (y·grid div h)·grid + (x·grid div w). Input rows must be P6 PPMs
    * (Multimodal.syntheticMedia's image kind, or any decoded frame). */
  def blockSums(media: DataFrame, idCol: String = "media_id",
                contentCol: String = "content", grid: Int = 8): DataFrame = {
    require(grid >= 2 && grid <= 16, "grid: 2..16")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val (w, h, _, pos) = Multimodal.PpmCodec.parseHeader(bytes)
          val sums = new Array[Long](grid * grid)
          val cnts = new Array[Long](grid * grid)
          var y = 0
          while (y < h) {
            val by = y * grid / h
            var x = 0
            while (x < w) {
              val b = by * grid + x * grid / w
              val o = pos + (y * w + x) * 3
              sums(b) += 299L * (bytes(o) & 0xff) +
                587L * (bytes(o + 1) & 0xff) + 114L * (bytes(o + 2) & 0xff)
              cnts(b) += 1
              x += 1
            }
            y += 1
          }
          (0 until grid * grid).iterator.map(b => (id, b.toLong, sums(b), cnts(b)))
        }
      }.toDF("media_id", "block", "bsum", "bcnt")
  }

  /** aHash bits from a block-sum frame: (media_id, block, bit) with
    * bit = 1 iff the block is non-empty and its mean luma ≥ the image
    * mean (cross-multiplied — integer-exact). */
  def bitsOf(blocks: DataFrame): DataFrame = {
    val tot = blocks.groupBy("media_id")
      .agg(sum("bsum").as("tsum"), sum("bcnt").as("tcnt"))
    blocks.join(tot, "media_id")
      .select(col("media_id"), col("block"),
        when(col("bcnt") > 0L &&
          col("bsum") * col("tcnt") >= col("tsum") * col("bcnt"), 1L)
          .otherwise(0L).as("bit"))
  }

  /** Near-dup image pairs (id_a < id_b, hamming ≤ maxHamming) from a
    * block-sum frame with grid² = 64 blocks. Pigeonhole-complete: with
    * maxHamming+1 segments a qualifying pair always shares a segment,
    * so the candidate join is lossless (ImageHashSpec proves ≡ the
    * all-pairs scan). */
  def nearDupPairs(blocks: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 7, "maxHamming: 1..7")
    val nSegs = maxHamming + 1
    val bits = bitsOf(blocks).persist() // feeds segments + the two exact-check probes
    val segW = 64 / nSegs + (if (64 % nSegs == 0) 0 else 1)
    val segs = bits.groupBy(col("media_id"),
        expr(s"block div $segW").as("seg"))
      .agg(sum(expr(s"shiftleft(bit, CAST(block % $segW AS INT))")).as("segval"))
    val cand = segs.as("x").join(segs.as("y"),
        col("x.seg") === col("y.seg") && col("x.segval") === col("y.segval") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id_a"), col("y.media_id").as("id_b"))
      .distinct()
    cand.join(bits.as("ba"), col("id_a") === col("ba.media_id"))
      .join(bits.as("bb"),
        col("id_b") === col("bb.media_id") && col("ba.block") === col("bb.block"))
      .groupBy("id_a", "id_b")
      .agg(sum(abs(col("ba.bit") - col("bb.bit"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
