package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BloomJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("bloom-pruned semi join ≡ plain semi join on randomized key sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // fact keys over a wide range; dim keys a sparse subset plus some
    // keys absent from the fact side
    val fact = (1 to 5000)
      .map(i => (rnd.nextInt(2000).toLong, s"row$i")).toDF("fk", "payload")
    val dim = (1 to 300)
      .map(_ => (rnd.nextInt(3000).toLong, "d")).toDF("dk", "attr")

    val plain = fact.join(dim.select(col("dk")),
        fact("fk") === col("dk"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val pruned = BloomJoin.semiPruned(fact, "fk", dim, "dk",
        expectedItems = 1000L, fpp = 0.05)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(pruned == plain)
    assert(plain.nonEmpty) // the comparison is not vacuous
  }

  test("the bloom prefilter keeps every true match (no false negatives)") {
    import spark.implicits._
    val dim = (1L to 500L).map(k => (k * 7, "d")).toDF("dk", "attr")
    val bytes = BloomJoin.buildFilter(dim, "dk", expectedItems = 500L, fpp = 0.01)
    val fact = (1L to 500L).map(k => Tuple1(k * 7)).toDF("fk")
    val kept = fact
      .filter(BloomJoin.mightContain(bytes, col("fk").cast("long"))).count()
    assert(kept == 500L)
  }

  test("the bloom prefilter actually prunes non-matching fact rows") {
    import spark.implicits._
    // dim keys 0..99; fact keys 100..9999 — zero true matches, so
    // anything surviving the probe is a false positive (≲ fpp share)
    val dim = (0L until 100L).map(Tuple1(_)).toDF("dk")
    val fact = (100L until 10000L).map(Tuple1(_)).toDF("fk")
    val bytes = BloomJoin.buildFilter(dim, "dk", expectedItems = 100L, fpp = 0.01)
    val survivors = fact
      .filter(BloomJoin.mightContain(bytes, col("fk").cast("long"))).count()
    assert(survivors < 500L, s"bloom pruned almost nothing: $survivors of 9900")
  }

  test("null fact keys are dropped, matching semi-join semantics") {
    import spark.implicits._
    val fact = Seq(Some(1L), None, Some(2L), Some(99L))
      .toDF("fk")
    val dim = Seq(1L, 2L).toDF("dk")
    val out = BloomJoin.semiPruned(fact, "fk", dim, "dk",
        expectedItems = 10L, fpp = 0.01)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L))
  }
}
