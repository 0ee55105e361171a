package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FuzzySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("fuzzyJoin: hand-checked matches at maxDist=1") {
    import spark.implicits._
    val l = Seq((1L, "kitten"), (2L, "abc")).toDF("lid", "lname")
    val r = Seq((10L, "mitten"), (11L, "kitten"), (12L, "abcd"),
                (13L, "xyz"), (14L, "ab")).toDF("rid", "rname")
    val got = Fuzzy.fuzzyJoin(l, r, "lname", "rname", 1)
      .select("lid", "rid", "dist")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(got == Set((1L, 10L, 1), (1L, 11L, 0), (2L, 12L, 1), (2L, 14L, 1)))
  }

  test("fuzzyJoin: blocking is lossless and duplicate-free vs cross join") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // lengths 1..12 so strings straddle many length buckets
    def word() = Seq.fill(1 + rnd.nextInt(12))(('a' + rnd.nextInt(3)).toChar).mkString
    val l = (0L until 60L).map(i => (i, word())).toDF("lid", "lname")
    val r = (0L until 60L).map(i => (i, word())).toDF("rid", "rname")
    val got = Fuzzy.fuzzyJoin(l, r, "lname", "rname", 2)
      .select("lid", "rid", "dist").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toList
    val ref = l.crossJoin(r)
      .withColumn("dist", levenshtein(col("lname"), col("rname")))
      .filter(col("dist") <= 2)
      .select("lid", "rid", "dist").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toList
    assert(got.sorted == ref.sorted) // sorted LIST equality: no dup pairs
    assert(ref.nonEmpty)
  }
}
