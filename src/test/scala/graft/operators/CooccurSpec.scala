package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class CooccurSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("frequentPairs: hand-checked supports; repeats within a doc count once") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),
      (2L, "a b a b"),   // repeated pair still support 1 from this doc
      (3L, "a c"),
      (4L, "b c a"),     // order inside the doc is irrelevant
      (5L, "a")
    ).toDF("doc_id", "text")
    val got = Cooccur.frequentPairs(docs, "doc_id", "text", 10, 1L)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == Map(("a", "b") -> 3L, ("a", "c") -> 3L, ("b", "c") -> 2L))
    // support threshold filters
    val top = Cooccur.frequentPairs(docs, "doc_id", "text", 10, 3L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(top == Set(("a", "b"), ("a", "c")))
  }

  test("frequentPairs: vocabulary cap excludes low-df terms from pairs") {
    import spark.implicits._
    // df: a=3, b=3, z=1 → vocabSize=2 keeps {a,b}; z never pairs
    val docs = Seq((1L, "a b z"), (2L, "a b"), (3L, "b a")).toDF("doc_id", "text")
    val pairs = Cooccur.frequentPairs(docs, "doc_id", "text", 2, 1L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("a", "b")))
  }

  test("frequentPairs: matches a brute-force driver-side reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("s", "t", "u", "v", "w", "x", "y", "z")
    val raw = (0L until 80L).map { i =>
      (i, Seq.fill(6)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = Cooccur.frequentPairs(raw.toDF("doc_id", "text"), "doc_id", "text", 8, 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val expected = raw
      .flatMap { case (_, t) =>
        val items = t.split(" ").distinct.sorted
        for (i <- items.indices; j <- (i + 1) until items.length)
          yield (items(i), items(j))
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 2L)
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("associationRules: marginals and basket total are exact") {
    import spark.implicits._
    // baskets: {a,b} ×2, {a} ×1, {b,c} ×1 → sup_a=3, sup_b=3, sup_ab=2
    val docs = Seq((1L, "a b"), (2L, "b a a"), (3L, "a"), (4L, "b c"))
      .toDF("doc_id", "text")
    val got = Cooccur.associationRules(docs, "doc_id", "text", 8, 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == Map(("a", "b") -> ((2L, 3L, 3L, 4L))))
  }

  test("associationRules: components match frequentPairs + driver marginals") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Vector("s", "t", "u", "v", "w", "x")
    val raw = (0L until 60L).map { i =>
      (i, Seq.fill(5)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = Cooccur.associationRules(raw.toDF("doc_id", "text"), "doc_id", "text", 6, 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val sup = raw.flatMap(_._2.split(" ").distinct)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val expected = raw
      .flatMap { case (_, t) =>
        val items = t.split(" ").distinct.sorted
        for (i <- items.indices; j <- (i + 1) until items.length)
          yield (items(i), items(j))
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 2L)
      .map { case ((a, b), s) => (a, b) -> ((s, sup(a), sup(b), 60L)) }
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("frequentTriples: hand case — duplicates collapse, order canonical") {
    import spark.implicits._
    val items = Seq((1L, 3L), (1L, 1L), (1L, 2L), (1L, 2L), // basket 1: {1,2,3}
      (2L, 1L), (2L, 2L), (2L, 3L), (2L, 4L),               // basket 2: {1,2,3,4}
      (3L, 1L), (3L, 2L))                                   // basket 3: pair only
      .toDF("bk", "it")
    val got = Cooccur.frequentTriples(items, "bk", "it", minSupport = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(got === Map((1L, 2L, 3L) -> 2L)) // only triple in both baskets
  }

  test("frequentTriples ≡ driver-side combinations on random baskets") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x33)
    val rows = for {
      bk <- 1L to 60L
      _ <- 1 to (2 + rnd.nextInt(6))
    } yield (bk, rnd.nextInt(9).toLong)
    val expect = rows.groupBy(_._1).toSeq
      .flatMap { case (_, rs) =>
        rs.map(_._2).distinct.sorted.combinations(3).map {
          case Seq(a, b, c) => (a, b, c)
        }
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 3L)
    val got = Cooccur.frequentTriples(rows.toDF("bk", "it"), "bk", "it", 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(got === expect)
    assert(expect.nonEmpty)
  }
}
