package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MinHashUnionAggSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private val N = 64

  private def sourceSigs(rows: Seq[(String, String)]) = {
    import spark.implicits._
    rows.toDF("source", "text")
      .withColumn("sig", Dedup.minhashSigUdf(2, N)(col("text")))
      .groupBy("source")
      .agg(MinHashUnionAgg.minhash_union(col("sig"), N).as("usig"))
  }

  test("union signature equals the signature of the concatenated set") {
    // two docs in one group vs their shingle union computed directly
    val docs = Seq(("s", "a b c d e"), ("s", "f g h i j"))
    val grouped = sourceSigs(docs).collect().head.getSeq[Long](1)
    val shingles = (Dedup.shinglesOf("a b c d e", 2) ++ Dedup.shinglesOf("f g h i j", 2))
    val direct = (0 until N).map { i =>
      shingles.map(s => Dedup.minhashSigOf(s, 2, N)(i)).min
    }
    assert(grouped.toSeq == direct)
  }

  test("identical sources → estimated jaccard 1; disjoint sources → near 0") {
    val common = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val df = sourceSigs(Seq(
      ("a", common), ("b", common), ("c", other)))
    val a = df.filter(col("source") === "a").select("usig")
    val pairs = df.as("x").crossJoin(df.as("y"))
      .filter(col("x.source") < col("y.source"))
      .select(col("x.source"), col("y.source"),
        MinHashUnionAgg.estimatedJaccard(col("x.usig"), col("y.usig")).as("j"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    val jAB = pairs.find(p => p._1 == "a" && p._2 == "b").get._3
    val jAC = pairs.find(p => p._1 == "a" && p._2 == "c").get._3
    assert(jAB == 1.0)
    assert(jAC < 0.2, s"disjoint sources estimated at $jAC")
  }

  test("estimate tracks true overlap within sketch tolerance") {
    // source p and q share half their shingle space
    val shared = (1 to 30).map(i => s"s$i").mkString(" ")
    val pOnly = (200 to 229).map(i => s"p$i").mkString(" ")
    val qOnly = (300 to 329).map(i => s"q$i").mkString(" ")
    val df = sourceSigs(Seq(("p", shared), ("p", pOnly), ("q", shared), ("q", qOnly)))
    val est = df.as("x").crossJoin(df.as("y"))
      .filter(col("x.source") === "p" && col("y.source") === "q")
      .select(MinHashUnionAgg.estimatedJaccard(col("x.usig"), col("y.usig")))
      .collect().head.getDouble(0)
    // true jaccard of the shingle sets
    val p = (Dedup.shinglesOf(shared, 2) ++ Dedup.shinglesOf(pOnly, 2)).toSet
    val q = (Dedup.shinglesOf(shared, 2) ++ Dedup.shinglesOf(qOnly, 2)).toSet
    val truth = (p & q).size.toDouble / (p | q).size
    assert(math.abs(est - truth) <= 0.15, s"est $est vs truth $truth")
  }

  test("partial aggregation across partitions is exact (merge path)") {
    import spark.implicits._
    val rows = (1 to 200).map(i => ("s", s"tok$i tok${i + 1} tok${i + 2} tail"))
    val one = sourceSigs(rows).collect().head.getSeq[Long](1)
    val many = rows.toDF("source", "text").repartition(7)
      .withColumn("sig", Dedup.minhashSigUdf(2, N)(col("text")))
      .groupBy("source")
      .agg(MinHashUnionAgg.minhash_union(col("sig"), N).as("usig"))
      .collect().head.getSeq[Long](1)
    assert(one.toSeq == many.toSeq)
  }
}
