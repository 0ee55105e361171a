package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class KmvOverlapSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(rows: Seq[(String, Long)], k: Int)
      : Map[(String, String), (Long, Long, Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    Kmv.overlapComponents(rows.toDF("g", "key"), "g", "key", k)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8))))
      .toMap
  }

  /** Driver-side reference: full KMV pipeline via hash32Jvm. */
  private def reference(sets: Map[String, Set[Long]], k: Int)
      : Map[(String, String), (Long, Long, Long, Long, Long, Long, Long)] = {
    def kept(s: Set[Long]): Seq[(Long, Long)] =
      s.toSeq.map(key => (Kmv.hash32Jvm(key), key)).sorted.take(k)
    val keptMap = sets.map { case (g, s) => g -> kept(s) }
    val gs = sets.keys.toSeq.sorted
    (for {
      i <- gs.indices; j <- (i + 1) until gs.length
      ga = gs(i); gb = gs(j)
    } yield {
      val a = keptMap(ga); val b = keptMap(gb)
      val union = (a ++ b).distinct.sorted.take(k)
      val aSet = a.toSet; val bSet = b.toSet
      val m = union.count(hk => aSet.contains(hk) && bSet.contains(hk))
      (ga, gb) -> ((a.size.toLong, a.last._1, b.size.toLong, b.last._1,
        union.size.toLong, union.last._1, m.toLong))
    }).toMap
  }

  test("exact regime: k above all set sizes makes every component exact") {
    val rows = Seq("a" -> Set(1L, 2L, 3L, 4L), "b" -> Set(3L, 4L, 5L),
      "c" -> Set(9L, 10L))
    val flat = rows.flatMap { case (g, s) => s.map(g -> _) }
    val got = run(flat, k = 64)
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    val (kaU, _, kbU, _, kuU, _, m) = got(("a", "b"))
    assert((kaU, kbU, kuU, m) == ((4L, 3L, 5L, 2L)))  // |A∪B|=5, |A∩B|=2
    assert(got(("a", "c"))._7 == 0L)
    assert(got == reference(rows.toMap, 64))
  }

  test("sketch regime ≡ driver reference on random sets (k < set sizes)") {
    val rnd = new scala.util.Random(5)
    for (trial <- 1 to 5) {
      val universe = (1L to 400L).map(_ => rnd.nextInt(100000).toLong).distinct
      val sets = Map(
        "p" -> universe.filter(_ => rnd.nextBoolean()).toSet,
        "q" -> universe.filter(_ => rnd.nextBoolean()).toSet,
        "r" -> universe.filter(_ => rnd.nextInt(4) == 0).toSet)
      val flat = sets.toSeq.flatMap { case (g, s) => s.map(g -> _) }
      // duplicates must not matter
      assert(run(flat ++ flat.take(20), k = 32) == reference(sets, 32),
        s"trial $trial")
    }
  }

  test("null keys are excluded; match has no false negatives vs true intersection") {
    import spark.implicits._
    val rows = Seq(("a", Some(1L)), ("a", None), ("b", Some(1L)), ("b", None),
      ("a", Some(2L)), ("b", Some(3L)))
    val df = rows.toDF("g", "key")
    val got = Kmv.overlapComponents(df, "g", "key", k = 16).collect()
    assert(got.length == 1)
    // A={1,2}, B={1,3}: union 3, match exactly the true intersection {1}
    assert(got.head.getLong(6) == 3L && got.head.getLong(8) == 1L)
  }
}
