package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  // ids with weights 1..n shuffled into arrival order
  private def fixture(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((1 to n).toList)
      .map(i => (i.toLong, ((i * 31 + seed) % 100 + 1).toLong))
      .toDF("id", "w")
  }

  /** Driver-side reference: walk ids in order, count step boundaries
    * inside each doc's (cum, cum+w] interval. */
  private def reference(rows: Seq[(Long, Long)], target: Int) = {
    val tot = rows.map(_._2).sum
    val step = tot / target
    var cum = 0L
    rows.sortBy(_._1).flatMap { case (id, w) =>
      val k = (cum + w) / step - cum / step
      val first = cum / step + 1
      cum += w
      if (k >= 1) Some((id, w, cum - w, k, first)) else None
    }
  }

  test("pick counts match the boundary-walk reference, Σk = tot div step") {
    val df = fixture(400, 3)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expect = reference(rows, target = 64)
    val got = Sampling.ppsSystematic(df, "id", "w", target = 64, chunkWidth = 50L)
      .select("id", "w", "cum_before", "k_picks", "first_slot")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(got === expect)
    val tot = rows.map(_._2).sum
    assert(got.map(_._4).sum === tot / (tot / 64))
  }

  test("a document heavier than one step is picked multiple times") {
    val df = (Seq((1L, 5L), (2L, 100L), (3L, 5L), (4L, 5L), (5L, 5L)))
      .toDF("id", "w")
    // tot=120, target=10 -> step=12; doc 2 spans (5,105]: boundaries
    // 12,24,...,96 -> 8 picks
    val got = Sampling.ppsSystematic(df, "id", "w", target = 10, chunkWidth = 2L)
      .select("id", "k_picks").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(2L) === 8L)
  }

  test("sample is invariant under repartitioning") {
    val df = fixture(300, 9)
    def run(in: org.apache.spark.sql.DataFrame) =
      Sampling.ppsSystematic(in, "id", "w", target = 32, chunkWidth = 64L)
        .select("id", "k_picks", "first_slot")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    assert(run(df.repartition(1)) === run(df.repartition(11)))
  }

  test("rejects a target larger than the total weight") {
    val df = Seq((1L, 3L), (2L, 4L)).toDF("id", "w")
    assertThrows[IllegalArgumentException] {
      Sampling.ppsSystematic(df, "id", "w", target = 100, chunkWidth = 1L)
    }
  }

  private def neymanFixture(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val rows = for {
      (g, strata) <- Seq("G1" -> Seq("a", "b", "c"), "G2" -> Seq("a", "d"))
      st <- strata
      i <- 1 to (15 + rnd.nextInt(25))
    } yield (g, st, rnd.nextLong(100000).abs + 1, rnd.nextInt(2000).toLong - 400)
    rows.map { case (g, st, id, x) => (g, st, id, x) }
  }

  test("neymanSelect: Σ alloc = seats per group; quotas filled exactly") {
    val rows = neymanFixture(0x11)
    val got = Sampling.neymanSelect(rows.toDF("g", "st", "id", "x"),
        "g", "st", "id", "x", seatsPerGrp = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    val perGrp = got.groupBy(_._1._1).view
      .mapValues(_.values.map(_._3).sum).toMap
    assert(perGrp === Map("G1" -> 10L, "G2" -> 10L))
    got.foreach { case ((g, st), (nH, w, alloc, selN, _)) =>
      assert(selN === math.min(alloc, nH), s"($g,$st)")
      assert(w >= 0L && alloc >= 0L)
    }
  }

  test("neymanSelect: σ-weight matches the direct N·σ formula") {
    val rows = neymanFixture(0x22)
    val got = Sampling.neymanSelect(rows.toDF("g", "st", "id", "x"),
        "g", "st", "id", "x", seatsPerGrp = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    rows.groupBy(r => (r._1, r._2)).foreach { case (k, rs) =>
      val n = rs.size.toLong
      val sx = rs.map(_._4).map(BigInt(_)).sum
      val sxx = rs.map(_._4).map(x => BigInt(x) * BigInt(x)).sum
      val w = math.floor(math.sqrt((n * sxx - sx * sx).toDouble)).toLong
      assert(got(k) === w, s"stratum $k")
    }
  }

  test("neymanSelect: stratum names reused across groups stay separate") {
    // stratum "a" exists in both G1 and G2 (the quantileNormalize
    // compound-key lesson) — per-(group,stratum) rows must not merge
    val rows = neymanFixture(0x33)
    val got = Sampling.neymanSelect(rows.toDF("g", "st", "id", "x"),
      "g", "st", "id", "x", seatsPerGrp = 10).collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).distinct.length
      === got.length)
    assert(got.count(_.getString(1) == "a") === 2)
    // selection is deterministic: same input → same id sums
    val again = Sampling.neymanSelect(rows.toDF("g", "st", "id", "x"),
      "g", "st", "id", "x", seatsPerGrp = 10).collect()
    assert(got.map(_.getLong(6)).sorted.toSeq ===
      again.map(_.getLong(6)).sorted.toSeq)
  }
}
