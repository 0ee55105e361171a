package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SetSimJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def run(sets: Map[Long, Set[String]], tNum: Int, tDen: Int) = {
    import spark.implicits._
    val toks = sets.toSeq.flatMap { case (id, ts) => ts.map(id -> _) }
      .toDF("id", "tok")
    SetSimJoin.jaccardJoin(toks, tNum, tDen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }

  private def brute(sets: Map[Long, Set[String]], tNum: Int, tDen: Int) = {
    val ids = sets.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      (a, b) = (ids(i), ids(j))
      inter = (sets(a) & sets(b)).size.toLong
      uni = (sets(a) | sets(b)).size.toLong
      if inter * tDen >= uni * tNum
    } yield (a, b) -> (inter, uni)).toMap
  }

  test("hand case: near-dup pair found, disjoint pair not") {
    val sets = Map(
      1L -> Set("a", "b", "c", "d"),
      2L -> Set("a", "b", "c", "e"), // J = 3/5 ≥ 1/2
      3L -> Set("x", "y", "z"))
    assert(run(sets, 1, 2) == Map((1L, 2L) -> (3L, 5L)))
  }

  test("identical sets survive threshold 1/1; anything less does not") {
    val sets = Map(
      1L -> Set("p", "q", "r"),
      2L -> Set("p", "q", "r"),
      3L -> Set("p", "q", "s")) // J vs 1/2 = 2/4
    assert(run(sets, 1, 1) == Map((1L, 2L) -> (3L, 3L)))
  }

  test("random corpora match driver-side brute force at several thresholds") {
    val rnd = new scala.util.Random(113)
    val vocab = (0 until 40).map(i => s"w$i")
    for (trial <- 1 to 3) {
      val sets = (1L to 60L).map { id =>
        id -> rnd.shuffle(vocab).take(3 + rnd.nextInt(8)).toSet
      }.toMap
      for ((tNum, tDen) <- Seq((1, 2), (2, 3), (3, 10))) {
        assert(run(sets, tNum, tDen) == brute(sets, tNum, tDen),
          s"trial=$trial t=$tNum/$tDen")
      }
    }
  }

  test("singleton-token records: prefix is the whole set, exact matches only at 1/1") {
    val sets = Map(1L -> Set("only"), 2L -> Set("only"), 3L -> Set("other"))
    assert(run(sets, 1, 1) == Map((1L, 2L) -> (1L, 1L)))
    assert(run(sets, 9, 10) == Map((1L, 2L) -> (1L, 1L)))
  }

  private def runContain(sets: Map[Long, Set[String]], tNum: Int, tDen: Int) = {
    import spark.implicits._
    val toks = sets.toSeq.flatMap { case (id, ts) => ts.map(id -> _) }
      .toDF("id", "tok")
    SetSimJoin.containmentJoin(toks, tNum, tDen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }

  private def bruteContain(sets: Map[Long, Set[String]], tNum: Int, tDen: Int) = {
    val ids = sets.keys.toSeq
    (for {
      a <- ids; b <- ids; if a != b
      inter = (sets(a) & sets(b)).size.toLong
      if inter * tDen >= sets(a).size.toLong * tNum
    } yield (a, b) -> (inter, sets(a).size.toLong)).toMap
  }

  test("containment: subset found in both orientations asymmetrically") {
    val sets = Map(
      1L -> Set("a", "b"),            // fully inside 2
      2L -> Set("a", "b", "c", "d", "e"),
      3L -> Set("x", "y"))
    // a=1 contained in b=2 at 2/2; 2 in 1 only 2/5 < 4/5
    assert(runContain(sets, 4, 5) == Map((1L, 2L) -> (2L, 2L)))
  }

  test("containment: random corpora match driver-side brute force") {
    val rnd = new scala.util.Random(211)
    val vocab = (0 until 30).map(i => s"w$i")
    for (trial <- 1 to 3) {
      val sets = (1L to 50L).map { id =>
        id -> rnd.shuffle(vocab).take(2 + rnd.nextInt(8)).toSet
      }.toMap
      for ((tNum, tDen) <- Seq((1, 2), (4, 5), (1, 1))) {
        assert(runContain(sets, tNum, tDen) == bruteContain(sets, tNum, tDen),
          s"trial=$trial t=$tNum/$tDen")
      }
    }
  }
}
