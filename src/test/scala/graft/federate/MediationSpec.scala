package graft.federate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MediationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("dropAttrs removes bulky fields, ignores absent ones (P1)") {
    import spark.implicits._
    val df = Seq(("a", "big", 1)).toDF("id", "species", "nelements")
    val out = Mediation.dropAttrs(df)
    assert(out.columns.toSeq == Seq("id", "nelements"))
  }

  test("combineFilters (F6)") {
    assert(Mediation.combineFilters(None, None).isEmpty)
    import spark.implicits._
    val df = Seq((1, 2), (3, 4), (5, 1)).toDF("a", "b")
    val c = Mediation.combineFilters(Some(col("a") > 1), Some(col("b") > 1)).get
    assert(df.filter(c).count() == 1)
    assert(df.filter(Mediation.combineFilters(Some(col("a") > 1), None).get).count() == 2)
  }

  test("pageAfter: keyset pages tile the table, no Window in the plan (S5)") {
    import spark.implicits._
    val df = (1 to 25).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    val p1 = Mediation.pageAfter(df, "k", None, 10)
    val k1 = p1.select("k").collect().map(_.getLong(0))
    val k2 = Mediation.pageAfter(df, "k", Some(k1.last), 10)
      .select("k").collect().map(_.getLong(0))
    val k3 = Mediation.pageAfter(df, "k", Some(k2.last), 10)
      .select("k").collect().map(_.getLong(0))
    assert(k1.toSeq == (1L to 10L) && k2.toSeq == (11L to 20L) && k3.toSeq == (21L to 25L))
    // the round-1 offset form planned a single-partition Window Exchange;
    // keyset pages must plan as a distributed top-k with no Window at all
    val plan = p1.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected Window in plan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("pageAll drives the nextStartId loop to exhaustion (S5)") {
    import spark.implicits._
    val df = (1 to 23).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    val pages = Mediation.pageAll(df, "k", 10).toSeq
    assert(pages.size == 3)
    assert(pages.flatMap(_.select("k").collect().map(_.getLong(0))) == (1L to 23L))
  }

  test("orderedDistinct keeps first-occurrence order (D2)") {
    assert(Mediation.orderedDistinct(Seq("b", "a", "b", "c", "a")) == Seq("b", "a", "c"))
  }
}
