package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
      (3L, "completely different content about spark catalyst optimizer internals"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
      (5L, "another unrelated document mentioning parquet columnar storage format"))
      .toDF("doc_id", "text")
  }

  // The pipelines as the queries run them: a materialized row-local
  // stage (q37 sigs, q38 bits, q69 postings, q41 buckets) feeding the
  // relational core.
  private def minhashPairs(df: DataFrame, threshold: Double) =
    Dedup.minhashNearDupsFromSigs(Dedup.minhashSigs(df, "doc_id", "text"),
      threshold, bands = 16, rowsPerBand = 4)

  private def ngramPairs(df: DataFrame, threshold: Double, maxDf: Long) =
    Dedup.ngramJaccardNearDupsFromPostings(
      Dedup.ngramPostings(df, "doc_id", "text", k = 3), threshold, maxDf,
      assumeDistinct = true)

  private def simhashPairs(df: DataFrame, maxHamming: Int) =
    Dedup.simhashNearDupsFromBits(
      df.select(col("doc_id").as("id"), Dedup.simhashUdf(col("text")).as("bits")),
      maxHamming)

  /** Min-id survivor per connected component of the near-dup pair graph:
    * the connectedComponents + anti-join tail. */
  private def survivors(df: DataFrame, pairs: DataFrame) = {
    val losers = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    df.join(losers, Seq("doc_id"), "left_anti")
  }

  private def minhashSurvivors(df: DataFrame, threshold: Double) =
    survivors(df, minhashPairs(df, threshold))

  test("exact dedup: min-id survivor per identical text") {
    val surv = Dedup.exactSurvivors(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 2L, 3L, 5L)) // 4 collapsed into 1
    val groups = Dedup.exactGroups(docs, "text", "doc_id")
      .filter(col("n_copies") > 1).collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("survivor_id") == 1L
      && groups.head.getAs[Long]("n_copies") == 2L)
  }

  test("word shingles") {
    import spark.implicits._
    // the shingling UDF q37's signatures and q69's postings run
    val sh = Seq(("a b c d")).toDF("t")
      .select(Dedup.shinglesUdf(2)(col("t")).as("sh"))
      .collect().head.getSeq[String](0)
    assert(sh == Seq("a b", "b c", "c d"))
    // short text falls back to whole-string shingle
    val short = Seq(("a b")).toDF("t")
      .select(Dedup.shinglesUdf(3)(col("t")).as("sh"))
      .collect().head.getSeq[String](0)
    assert(short == Seq("a b"))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    val pairs = minhashPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairSet.contains((1L, 2L)) && pairSet.contains((2L, 4L))) // near-dup
    assert(!pairSet.exists { case (a, b) => Set(a, b).contains(3L) || Set(a, b).contains(5L) })
    val j14 = pairs.find(p => p._1 == 1L && p._2 == 4L).get._3
    assert(j14 == 1.0)
  }

  test("ngram Jaccard posting-list pairs match brute-force all-pairs Jaccard") {
    val got = ngramPairs(docs, threshold = 0.5, maxDf = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // brute force: every pair, exact set Jaccard over the same shingles
    val sh = docs.select(col("doc_id"),
      Dedup.shinglesUdf(3)(col("text")).as("sh"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val want = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("j", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b", "j")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == want)
    assert(got.contains((1L, 4L)) && got((1L, 4L)) == 1.0) // exact dup pair found
  }

  test("ngram Jaccard from postings: duplicated (id, shingle) rows are defused by default") {
    val postings = Dedup.ngramPostings(docs, "doc_id", "text", k = 3)
    // raw postings with every row tripled — what an external caller with a
    // non-distinct posting list would feed in
    val tripled = postings.union(postings).union(postings)
    val clean = Dedup.ngramJaccardNearDupsFromPostings(postings,
        threshold = 0.5, maxDf = 4, assumeDistinct = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val defended = Dedup.ngramJaccardNearDupsFromPostings(tripled,
        threshold = 0.5, maxDf = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(defended == clean) // default distinct() makes duplicates harmless
    // and the hazard being defended against is real: trusting tripled
    // postings inflates df past the cap and skews set sizes
    val trusted = Dedup.ngramJaccardNearDupsFromPostings(tripled,
        threshold = 0.5, maxDf = 4, assumeDistinct = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(trusted != clean)
  }

  test("ngram survivors keep one doc per near-dup component") {
    val surv = survivors(docs, ngramPairs(docs, threshold = 0.5, maxDf = 4))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 3L, 5L)) // {1,2,4} collapse to min id 1
  }

  test("ngram Jaccard df cap drops candidates from stopword-like shingles only") {
    // with maxDf = 1 every shared shingle is over-cap → no candidates at all
    val none = ngramPairs(docs, threshold = 0.5, maxDf = 1)
    assert(none.count() == 0)
  }

  test("minhash survivors drop later near-dups") {
    val surv = minhashSurvivors(docs, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 3L, 5L))
  }

  test("simhash: identical text → hamming 0 and found via block buckets") {
    // NB: simhash hamming for a one-token edit on a ~13-token doc is large
    // (each vote is a sum of few ±1s), so only the exact pair is asserted;
    // the near-dup use case needs MinHash (above) for short docs.
    val pairs = simhashPairs(docs, maxHamming = 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 4L)) == 0)
    val tight = simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.contains((1L, 4L)))
    assert(!tight.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("simhash hamming is small for long docs with small edits") {
    import spark.implicits._
    val base = (1 to 80).map(i => s"tok$i").mkString(" ")
    val edited = base.replace("tok40", "changed")
    val ldocs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val h = simhashPairs(ldocs, maxHamming = 64)
      .collect().map(r => r.getInt(2)).headOption
    // one token of 80 changed → few vote flips expected; assert generous bound
    h.foreach(d => assert(d <= 20, s"hamming $d unexpectedly large"))
  }

  test("embedding near-dup finds planted copies via sign-LSH buckets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0 until 50).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val copies = base.take(3).map { case (id, v) => (id + 1000L, v.clone()) }
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupsFromBuckets(
        Dedup.embeddingBuckets(df, "vec_id", "embedding", bits = 6, dim = 16),
        threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 1000L), (1L, 1001L), (2L, 1002L)).subsetOf(pairs))
  }

  test("jaccard column function") {
    import spark.implicits._
    val j = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("x", "y").select(Dedup.jaccard(col("x"), col("y"))).collect().head.getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12)
  }

  /** Brute-force union-find reference for CC. */
  private def ufComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    ids.map(i => i -> find(i)).toMap
  }

  private def sparkCC(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connected components: chain collapses to one min-labeled component") {
    // a-b-c-d-e chain: the one-pass approximation kept interior nodes;
    // the fixpoint must label everything with the chain min
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(sparkCC(chain) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("connected components: diamond + disjoint clique") {
    val g = Seq((10L, 20L), (10L, 30L), (20L, 40L), (30L, 40L), // diamond
                (7L, 8L), (8L, 9L), (7L, 9L))                   // clique
    assert(sparkCC(g) == ufComponents(g))
  }

  test("connected components: random pair graphs match brute-force union-find") {
    val rnd = new scala.util.Random(0xCC)
    (1 to 5).foreach { trial =>
      val n = 30 + trial * 10
      val pairs = Seq.fill(n) {
        val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
        if (a == b) (a, b + 40L) else (math.min(a, b), math.max(a, b))
      }.distinct
      assert(sparkCC(pairs) == ufComponents(pairs), s"trial $trial")
    }
  }

  test("connected components: a 120-node path converges within default maxIter") {
    // label shortcutting (comp ← comp(comp)) must collapse a
    // diameter-119 path in far fewer than 119 rounds: plain min-label
    // propagation would blow the default maxIter=25 and throw, so this
    // passing at the default IS the shortcut regression test. Min id
    // planted at the far end (descending path) — the worst case for
    // propagation distance.
    val path = (1L until 120L).map(k => (k, k + 1)).map(p => (p._2, p._1))
    assert(sparkCC(path) == (1L to 120L).map(_ -> 1L).toMap)
  }

  test("minhashSurvivors keeps exactly one doc per transitive near-dup chain") {
    import spark.implicits._
    // b is a near-dup of a, c a near-dup of b, but c vs a is below the
    // threshold — a transitive chain where the fixpoint keeps only a
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val mid = base.replace("w15 ", "x15 ").replace("w30 ", "x30 ")
    val far = mid.replace("w40 ", "x40 ").replace("w50 ", "x50 ")
    val chain = Seq((1L, base), (2L, mid), (3L, far),
      (9L, "totally different text about nothing in particular at all here"))
      .toDF("doc_id", "text")
    val pairs = minhashPairs(chain, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)) &&
      !pairs.contains((1L, 3L)),
      s"fixture did not produce the open chain (pairs=$pairs)")
    val surv = minhashSurvivors(chain, threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expectedLosers = pairs.flatMap(p => Seq(p._1, p._2)) --
      ufComponents(pairs.toSeq).values.toSet
    assert(surv == Set(1L, 2L, 3L, 9L) -- expectedLosers)
  }

  test("admissionFlags: corpus dup, in-batch dup, both, and fresh") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha"),  // dup vs corpus only
      (11L, "gamma"),  // fresh, first of its hash
      (12L, "gamma"),  // in-batch dup of 11
      (13L, "beta"),   // dup vs corpus AND (first of its batch hash)
      (14L, "beta"),   // dup vs corpus AND in-batch dup
      (15L, "delta"))  // fresh
      .toDF("doc_id", "text")
    val got = Dedup.admissionFlags(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      10L -> ((1L, 0L)), 11L -> ((0L, 0L)), 12L -> ((0L, 1L)),
      13L -> ((1L, 0L)), 14L -> ((1L, 1L)), 15L -> ((0L, 0L))))
  }

  test("admissionFlags: null text gets a verdict and hashes as empty string") {
    import spark.implicits._
    // corpus holds one EMPTY doc; batch has two null-text rows and one
    // empty-text row — all three must receive verdicts (no silent drop
    // through a null join key), null ≡ '' for dedup purposes
    val corpus = Seq((1L, Some("alpha")), (2L, Some(""))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, None: Option[String]), // null → dup vs corpus '' doc
      (11L, None: Option[String]), // null → also in-batch dup of 10
      (12L, Some("")),             // '' → corpus dup + in-batch dup of 10
      (13L, Some("fresh")))
      .toDF("doc_id", "text")
    val got = Dedup.admissionFlags(corpus, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      10L -> ((1L, 0L)), 11L -> ((1L, 1L)), 12L -> ((1L, 1L)),
      13L -> ((0L, 0L))))
  }

  test("minhashCalibration matches a brute-force recomputation per m") {
    val sigs = Dedup.minhashSigs(docs, "doc_id", "text").persist()
    val local = sigs.collect().map(r => (r.getLong(0),
      r.getSeq[Long](1).toIndexedSeq, r.getSeq[String](2).toSet)).toSeq
    // brute force: candidates = pairs sharing any band slice
    val bands = 16; val rpb = 4
    def bandKeys(sig: IndexedSeq[Long]) =
      (0 until bands).map(b => (b, sig.slice(b * rpb, b * rpb + rpb)))
    val expect = (for {
      (ia, sa, ha) <- local; (ib, sb, hb) <- local
      if ia < ib && bandKeys(sa).toSet.intersect(bandKeys(sb).toSet).nonEmpty
    } yield {
      val m = sa.zip(sb).count { case (x, y) => x == y }.toLong
      (m, (ha & hb).size.toLong, (ha | hb).size.toLong)
    }).groupBy(_._1).map { case (m, ps) =>
      m -> (ps.size.toLong, ps.map(_._2).sum, ps.map(_._3).sum,
        ps.map(_._2).min, ps.map(_._3).max)
    }
    val got = Dedup.minhashCalibration(sigs, bands, rpb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    sigs.unpersist()
    assert(got == expect)
    assert(got.nonEmpty) // docs fixture plants exact + near dups
  }
}
