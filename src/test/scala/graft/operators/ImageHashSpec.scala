package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ImageHashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def img(w: Int, h: Int)(px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      val o = (y * w + x) * 3
      rgb(o) = r.toByte; rgb(o + 1) = g.toByte; rgb(o + 2) = b.toByte
    }
    Multimodal.PpmCodec.encode(w, h, rgb)
  }

  private def df(rows: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    rows.toDF("media_id", "content")
  }

  /** Driver-side reference: block sums → bits → all-pairs hamming. */
  private def refBits(bytes: Array[Byte], grid: Int = 8): Seq[Long] = {
    val (w, h, _, pos) = Multimodal.PpmCodec.parseHeader(bytes)
    val sums = new Array[Long](grid * grid); val cnts = new Array[Long](grid * grid)
    for (y <- 0 until h; x <- 0 until w) {
      val b = (y * grid / h) * grid + x * grid / w
      val o = pos + (y * w + x) * 3
      sums(b) += 299L * (bytes(o) & 0xff) + 587L * (bytes(o + 1) & 0xff) +
        114L * (bytes(o + 2) & 0xff)
      cnts(b) += 1
    }
    val ts = sums.sum; val tc = cnts.sum
    (0 until grid * grid).map(b =>
      if (cnts(b) > 0 && sums(b) * tc >= ts * cnts(b)) 1L else 0L)
  }

  test("blockSums partitions every pixel exactly once; empty blocks present") {
    val im = img(16, 4)((x, y) => (x * 10, y * 40, 7)) // h=4 < grid → empty rows
    val got = ImageHash.blockSums(df(Seq((1L, im))))
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 64)
    assert(got.values.map(_._2).sum == 16L * 4L)
    // grid rows 1,3,5,7 are empty (by = y*8/4 ∈ {0,2,4,6})
    val emptyRows = got.filter { case (b, (_, c)) => c == 0L }.keys.map(_ / 8).toSet
    assert(emptyRows == Set(1L, 3L, 5L, 7L))
  }

  test("bitsOf ≡ the cross-multiplied reference; empty block bit = 0") {
    val im = img(16, 4)((x, y) => (x * 15, 255 - x * 15, (y * 60) % 256))
    val got = ImageHash.bitsOf(ImageHash.blockSums(df(Seq((9L, im)))))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val ref = refBits(im)
    (0 until 64).foreach(b => assert(got(b.toLong) == ref(b), s"block $b"))
    assert((1 to 7 by 2).forall(r => (0 until 8).forall(c => got((r * 8 + c).toLong) == 0L)))
  }

  test("identical rasters at different sizes collide (the point of grid means)") {
    val a = img(16, 16)((x, y) => if (x < 8) (250, 250, 250) else (5, 5, 5))
    val b = img(32, 32)((x, y) => if (x < 16) (250, 250, 250) else (5, 5, 5))
    val pairs = ImageHash.nearDupPairs(ImageHash.blockSums(df(Seq((1L, a), (2L, b)))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("nearDupPairs ≡ brute-force all-pairs (pigeonhole losslessness)") {
    val rnd = new scala.util.Random(0x31)
    // clusters of near-identical images + noise images
    val base = Array.tabulate(3)(c => img(16, 16)((x, y) =>
      ((x * 16 + c) % 256, (y * 16) % 256, (x * y + c * 3) % 256)))
    val rows: Seq[(Long, Array[Byte])] = (0 until 24).map { i =>
      if (i < 12) {
        // perturb a cluster base by one pixel
        val b = base(i % 3).clone()
        val o = b.length - 1 - rnd.nextInt(100) * 3
        b(o) = ((b(o) + rnd.nextInt(8)) % 256).toByte
        (i.toLong, b)
      } else (i.toLong, img(16, 16)((x, y) =>
        (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))))
    }
    val got = ImageHash.nearDupPairs(ImageHash.blockSums(df(rows)), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bits = rows.map { case (id, b) => id -> refBits(b) }.toMap
    val brute = (for {
      i <- rows.indices; j <- (i + 1) until rows.length
      a = rows(i)._1; b = rows(j)._1
      h = bits(a).zip(bits(b)).count { case (x, y) => x != y }.toLong
      if h <= 3L
    } yield (a, b, h)).toSet
    assert(got == brute)
    assert(brute.nonEmpty, "fixture should contain near-dups")
  }
}
