package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class MixingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  private def docs(counts: Map[String, Int]) =
    counts.toSeq.flatMap { case (src, n) =>
      (0 until n).map(i => ("g", src, (src.hashCode.abs % 97) * 1000L + i))
    }.toDF("grp", "src", "id")

  test("midpoint slots on a hand example") {
    // T=10: alloc 2 -> slots (1*10)div4=2, (3*10)div4=7;
    //       alloc 3 -> (10)div6=1, (30)div6=5, (50)div6=8
    val d = docs(Map("a" -> 5, "b" -> 5))
    val alloc = Seq(("g", "a", 2L), ("g", "b", 3L)).toDF("grp", "src", "alloc")
    val got = Mixing.interleave(d, alloc, "grp", "src", "id", "alloc", 10)
      .collect().map(r => (r.getString(2), r.getLong(4), r.getLong(1))).toSet
    assert(got === Set(("a", 1L, 2L), ("a", 2L, 7L),
      ("b", 1L, 1L), ("b", 2L, 5L), ("b", 3L, 8L)))
  }

  test("every schedule prefix is within one doc of proportional") {
    val d = docs(Map("a" -> 100, "b" -> 100, "c" -> 100))
    val alloc = Seq(("g", "a", 50L), ("g", "b", 30L), ("g", "c", 20L))
      .toDF("grp", "src", "alloc")
    val total = 100
    val rows = Mixing.interleave(d, alloc, "grp", "src", "id", "alloc", total)
      .select("src", "slot").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length === 100)
    assert(rows.forall { case (_, s) => s >= 0 && s < total })
    val allocOf = Map("a" -> 50L, "b" -> 30L, "c" -> 20L)
    for (x <- 1 to total; (src, a) <- allocOf) {
      val got = rows.count { case (s, slot) => s == src && slot < x }
      val ideal = a.toDouble * x / total
      assert(math.abs(got - ideal) <= 1.0,
        s"prefix $x of $src: $got picks vs ideal $ideal")
    }
  }

  test("rank filter caps at the doc count and drops zero allocs") {
    val d = docs(Map("a" -> 2, "b" -> 4))
    val alloc = Seq(("g", "a", 5L), ("g", "b", 0L)).toDF("grp", "src", "alloc")
    val got = Mixing.interleave(d, alloc, "grp", "src", "id", "alloc", 10)
      .collect()
    assert(got.length === 2) // a has only 2 docs; b allocated none
    assert(got.forall(_.getString(2) == "a"))
  }

  test("schedule is invariant under input repartitioning") {
    val d = docs(Map("a" -> 40, "b" -> 25))
    val alloc = Seq(("g", "a", 7L), ("g", "b", 5L)).toDF("grp", "src", "alloc")
    def run(in: org.apache.spark.sql.DataFrame) =
      Mixing.interleave(in, alloc, "grp", "src", "id", "alloc", 64)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).sortBy(t => (t._2, t._3, t._4)).toSeq
    assert(run(d.repartition(1)) === run(d.repartition(7)))
  }

  test("slot column survives a plan audit: no global window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val d = docs(Map("a" -> 10))
    val alloc = Seq(("g", "a", 3L)).toDF("grp", "src", "alloc")
    val plan = Mixing.interleave(d, alloc, "grp", "src", "id", "alloc", 10)
      .queryExecution.optimizedPlan
    val globals = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(globals.isEmpty,
      "interleave must never plan an unpartitioned window")
  }
}
