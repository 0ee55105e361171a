package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class PrivacySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def run(rows: Seq[(String, Long)]): Map[String, (Long, BigInt, BigInt)] =
    Privacy.tClosenessEmd(rows.toDF("cls", "band"), Seq("cls"), "band")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), BigInt(r.getString(2)), BigInt(r.getString(3))))).toMap

  /** Driver EMD over the global band grid, cross-multiplied. */
  private def brute(rows: Seq[(String, Long)]): Map[String, (Long, BigInt, BigInt)] = {
    val n = rows.size.toLong
    val bands = rows.map(_._2).distinct.sorted
    rows.groupBy(_._1).map { case (cls, rs) =>
      val nc = rs.size.toLong
      var gcum = 0L; var ccum = 0L; var num = BigInt(0)
      bands.foreach { b =>
        gcum += rows.count(_._2 == b)
        ccum += rs.count(_._2 == b)
        num += (BigInt(ccum) * n - BigInt(gcum) * nc).abs
      }
      cls -> ((nc, num, BigInt(nc) * n * (bands.size - 1)))
    }
  }

  test("tClosenessEmd ≡ driver EMD on random banded data") {
    val rnd = new scala.util.Random(0x51)
    val rows = for {
      cls <- Seq("a", "b", "c", "d")
      _ <- 1 to (10 + rnd.nextInt(40))
    } yield (cls, rnd.nextInt(8).toLong)
    assert(run(rows) === brute(rows))
  }

  test("a class matching the global distribution has EMD 0; a point mass is extreme") {
    // global: two classes; "same" mirrors the global band mix exactly
    // per proportion, "mass" sits in one band only
    val rows = Seq.fill(6)(("same", 1L)) ++ Seq.fill(6)(("same", 2L)) ++
      Seq.fill(6)(("mass", 1L))
    val got = run(rows)
    // global: band1 = 12, band2 = 6 → mass(1.0, 0) vs global(2/3, 1)
    val (_, numSame, denSame) = got("same")
    val (_, numMass, denMass) = got("mass")
    assert(numMass * denSame > numSame * denMass) // mass leaks more
    // exact hand values: same → |6·18−12·12| + 0 = 36 over 12·18·1;
    // mass → |6·18−12·6| + 0 = 36 over 6·18·1 → t = 1/6 vs 1/3
    assert((numSame, denSame) === ((BigInt(36), BigInt(216))))
    assert((numMass, denMass) === ((BigInt(36), BigInt(108))))
  }

  test("NULL bands are excluded") {
    val df = Seq(("a", Some(1L)), ("a", None), ("b", Some(2L))).toDF("cls", "band")
    val got = Privacy.tClosenessEmd(df, Seq("cls"), "band")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 1L, "b" -> 1L))
  }
}
