package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MisraGriesAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def sketchOf(tokens: org.apache.spark.sql.DataFrame, k: Int): Map[String, Long] =
    tokens.agg(MisraGriesAgg.misra_gries(col("token"), k).as("s"))
      .collect().head.getMap[String, Long](0).toMap

  test("exact regime: distinct keys < k ⇒ sketch IS the true counts, any partitioning") {
    import spark.implicits._
    val tokens = (1 to 1000).map(i => s"tok${i % 20}").toDF("token")
    val exact = tokens.groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketchOf(tokens.repartition(1), 64) == exact)
    assert(sketchOf(tokens.repartition(7), 64) == exact)
  }

  test("eviction regime: MG bounds hold on skewed data under any partitioning") {
    import spark.implicits._
    // hot: 3000, mids: 10 × 100, cold tail: 300 singletons; N = 4300
    val raw = Seq.fill(3000)("hot") ++
      (1 to 10).flatMap(i => Seq.fill(100)(s"mid$i")) ++
      (1 to 300).map(i => s"cold$i")
    val n = raw.size.toLong
    val k = 8
    val trueCounts = raw.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
    for (parts <- Seq(1, 4, 9)) {
      // deterministic interleave so partitions see mixed key order
      val tokens = raw.zipWithIndex.sortBy { case (_, i) => (i * 2654435761L) % n }
        .map(_._1).toDF("token").repartition(parts)
      val sk = sketchOf(tokens, k)
      assert(sk.size <= k, s"sketch exceeded $k counters: ${sk.size}")
      sk.foreach { case (s, est) =>
        assert(est <= trueCounts(s), s"$s overestimated: $est > ${trueCounts(s)}")
        assert(trueCounts(s) - est <= n / k,
          s"$s undercount beyond N/k: est=$est true=${trueCounts(s)}")
      }
      // every item with true count > N/k must be present ("hot" at 3000
      // and every mid at 100 > 4300/8 is false for mids — only hot)
      trueCounts.filter(_._2 > n / k).keys.foreach { s =>
        assert(sk.contains(s), s"guaranteed heavy hitter $s missing")
      }
    }
  }
}
