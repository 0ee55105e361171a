package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ErasureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)
  import spark.implicits._

  test("purgeCounts splits a table into purge/keep by tombstone key") {
    val t = Seq(2L, 4L).toDF("key")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (4L, "e"))
      .toDF("k", "v")
    val got = Erasure.purgeCounts("t", df, "k", t).collect().head
    assert((got.getString(0), got.getLong(1), got.getLong(2)) === (("t", 3L, 2L)))
  }

  test("purgeCounts: empty tombstones purge nothing; duplicate keys dedupe") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val none = Erasure.purgeCounts("t", df, "k",
      Seq.empty[Long].toDF("key")).collect().head
    assert((none.getLong(1), none.getLong(2)) === ((0L, 2L)))
    // tombstone 1 listed twice must not double-count row matches
    val dup = Erasure.purgeCounts("t", df, "k",
      Seq(1L, 1L).toDF("key")).collect().head
    assert((dup.getLong(1), dup.getLong(2)) === ((1L, 1L)))
  }

  test("derivedTombstones yields distinct child keys of purged parents") {
    // orders: (custkey, orderkey); customers 5 purged -> orders 100, 101
    val orders = Seq((5L, 100L), (5L, 101L), (5L, 101L), (6L, 200L))
      .toDF("cust", "ord")
    val got = Erasure.derivedTombstones(orders, "cust", "ord",
        Seq(5L).toDF("key"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(100L, 101L))
  }

  test("two-level cascade matches a driver-side reference") {
    val rnd = new scala.util.Random(971)
    val custs = (1L to 30L)
    val orders = (1L to 120L).map(o => (o, custs(rnd.nextInt(custs.size) max 0)))
    val items = (1L to 400L).map(i => (i, orders(rnd.nextInt(orders.size))._1))
    val tombSet = custs.filter(_ % 7 == 0).toSet
    val purgedOrders = orders.filter(o => tombSet(o._2)).map(_._1).toSet
    val expect = Map(
      "orders" -> ((orders.count(o => tombSet(o._2)).toLong,
        orders.count(o => !tombSet(o._2)).toLong)),
      "items" -> ((items.count(i => purgedOrders(i._2)).toLong,
        items.count(i => !purgedOrders(i._2)).toLong)))
    val tomb = tombSet.toSeq.toDF("key")
    val odf = orders.toDF("ord", "cust")
    val idf = items.toDF("item", "ord")
    val oCounts = Erasure.purgeCounts("orders", odf, "cust", tomb)
    val iCounts = Erasure.purgeCounts("items", idf, "ord",
      Erasure.derivedTombstones(odf, "cust", "ord", tomb))
    val got = oCounts.unionByName(iCounts).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expect)
  }
}
