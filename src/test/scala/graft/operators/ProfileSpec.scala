package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("profile: hand-checked nulls/distinct/min/max over mixed types") {
    import spark.implicits._
    val df = Seq(
      (Some(3L), Some("b")),
      (Some(1L), None),
      (None, Some("a")),
      (Some(3L), Some("c")),
      (Some(7L), None)
    ).toDF("k", "s")
    val rows = Profile.profile(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(rows("k") == ((1L, 3L, "1", "7")))
    assert(rows("s") == ((2L, 3L, "a", "c")))
  }

  test("profile: approx mode returns plausible distinct counts on the same pass") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, (i % 13).toString)).toDF("k", "s")
    val rows = Profile.profile(df, Seq("k", "s"), exact = false).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(math.abs(rows("k") - 1000L) <= 50L) // HLL ~2% error
    assert(math.abs(rows("s") - 13L) <= 2L)
    // nulls/min/max identical to the exact pass
    val exact = Profile.profile(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(3), r.getString(4)))).toMap
    val approx = Profile.profile(df, Seq("k", "s"), exact = false).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(3), r.getString(4)))).toMap
    assert(exact == approx)
  }

  test("fdDiscovery ≡ driver brute force on random data (incl. nulls)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows: Seq[(java.lang.Long, java.lang.Long, java.lang.Long)] =
      (1 to 300).map { i =>
        (java.lang.Long.valueOf(i.toLong),       // key: determines all
         if (rnd.nextInt(20) == 0) null
         else java.lang.Long.valueOf(rnd.nextInt(10).toLong),
         java.lang.Long.valueOf(rnd.nextInt(4).toLong))
      }
    val cols = Seq("a", "b", "c")
    val got = Profile.fdDiscovery(rows.toDF("a", "b", "c"), cols)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def cell(t: (java.lang.Long, java.lang.Long, java.lang.Long), c: String) =
      c match { case "a" => t._1; case "b" => t._2; case _ => t._3 }
    cols.foreach { det => cols.filterNot(_ == det).foreach { dep =>
      val groups = rows.groupBy(cell(_, det))
      val nDet = groups.keys.count(_ != null).toLong
      // NULL dep counts as a distinct value: {NULL, x} violates (the
      // oracle's DISTINCT-combo semantics)
      val nViol = groups.values.count(
        _.map(cell(_, dep)).distinct.size > 1).toLong
      assert(got((det, dep)) === ((nDet, nViol, if (nViol == 0) 1L else 0L)),
        s"$det -> $dep")
    }}
    // the key column determines everything
    assert(got(("a", "b"))._3 === 1L && got(("a", "c"))._3 === 1L)
    assert(got(("c", "a"))._3 === 0L)
  }

  test("keyDiscovery: singles, pairs, minimality, and NULL disqualification") {
    import spark.implicits._
    // id unique; (grp, seq) composite-unique with neither member unique;
    // nul has a NULL (never a key even though non-null values are distinct)
    val df = Seq(
      (1L, "a", 1L, Some(10L)), (2L, "a", 2L, Some(20L)),
      (3L, "b", 1L, Some(30L)), (4L, "b", 2L, None))
      .toDF("id", "grp", "seq", "nul")
    val got = Profile.keyDiscovery(df, Seq("id", "grp", "seq", "nul"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got.size === 4 + 6)
    assert(got("id") === ((1L, 4L, 4L, 1L, 1L)))
    assert(got("grp") === ((1L, 2L, 4L, 0L, 0L)))
    assert(got("nul") === ((1L, 3L, 4L, 0L, 0L))) // NULL drops the count
    // (grp, seq) is a MINIMAL composite key
    assert(got("grp+seq") === ((2L, 4L, 4L, 1L, 1L)))
    // (id, grp) is a key but NOT minimal (id already keys the table)
    assert(got("id+grp") === ((2L, 4L, 4L, 1L, 0L)))
    // (grp, nul): the NULL field makes a distinct struct value — both
    // engines count it, and here the pair happens to be a minimal key
    assert(got("grp+nul") === ((2L, 4L, 4L, 1L, 1L)))
  }
}
