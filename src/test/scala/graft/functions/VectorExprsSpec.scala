package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class VectorExprsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def randVecs(n: Int, dim: Int, seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (1 to n).map(i => (i.toLong,
        Seq.fill(dim)(rnd.nextGaussian() * (if (rnd.nextBoolean()) 100 else 0.01)),
        Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("id", "a", "b")
  }

  test("native cosine is bit-identical to the composed HOF fold") {
    val df = randVecs(500, 64, seed = 7)
    val both = df.select(
      Dedup.cosine(col("a"), col("b")).as("native"),
      graft.operators.DedupTestAccess.cosineHof(col("a"), col("b")).as("hof"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native sign_bucket is bit-identical to the composed HOF form") {
    val planes = Dedup.hyperplanes(16, 8)
    val df = randVecs(300, 16, seed = 11)
    val both = df.select(
      Dedup.signBucket(col("a"), planes).as("native"),
      graft.operators.DedupTestAccess.signBucketHof(col("a"), planes).as("hof"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("cosine null semantics: null input, length mismatch, null element") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, 2.0), Seq(1.0, 2.0)),         // ok
      (2L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)))     // length mismatch
      .toDF("id", "a", "b")
    val out = df.select(col("id"), Dedup.cosine(col("a"), col("b")).as("c"))
      .orderBy("id").collect()
    assert(!out(0).isNullAt(1) && math.abs(out(0).getDouble(1) - 1.0) < 1e-12)
    assert(out(1).isNullAt(1))
    // null array input → null
    val nullIn = df.select(Dedup.cosine(lit(null).cast("array<double>"), col("b")))
      .collect()
    assert(nullIn.forall(_.isNullAt(0)))
    // null ELEMENT poisons the fold → null (mirrors zip_with/aggregate)
    val withNullElem = spark.sql(
      "SELECT array(1.0D, NULL, 3.0D) AS a, array(1.0D, 2.0D, 3.0D) AS b")
    assert(withNullElem.select(Dedup.cosine(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("native hamming_dist and simhash_blocks match the HOF forms") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val df = (1 to 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextInt(2)), Seq.fill(64)(rnd.nextInt(2)))
    }.toDF("id", "a", "b")
    val rows = df.select(
      Dedup.hamming(col("a"), col("b")).as("nh"),
      graft.operators.DedupTestAccess.hammingHof(col("a"), col("b")).as("hh"),
      Dedup.simhashBlocks(col("a")).as("nb"),
      graft.operators.DedupTestAccess.simhashBlocksHof(col("a")).as("hb"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(1))
      assert(r.getSeq[Long](2) == r.getSeq[Long](3))
    }
    // short bit array: blocks beyond the data fold to null, like the HOF
    val shortBits = Seq((1L, Seq.fill(20)(1))).toDF("id", "a")
    val sr = shortBits.select(
      Dedup.simhashBlocks(col("a")).as("nb"),
      graft.operators.DedupTestAccess.simhashBlocksHof(col("a")).as("hb"))
      .collect().head
    assert(sr.getSeq[Any](0) == sr.getSeq[Any](1))
    assert(sr.getSeq[Any](0).count(_ == null) == 3) // only block 0 complete
  }

  test("native lsh_bands matches the HOF banding bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = (1 to 200).map(i => (i.toLong, Seq.fill(64)(rnd.nextLong())))
      .toDF("id", "sig")
    val rows = df.select(
      Dedup.lshBuckets(col("sig"), 16, 4).as("native"),
      graft.operators.DedupTestAccess.lshBucketsHof(col("sig"), 16, 4).as("hof"))
      .collect()
    rows.foreach { r =>
      val n = r.getSeq[org.apache.spark.sql.Row](0)
      val h = r.getSeq[org.apache.spark.sql.Row](1)
      assert(n.map(x => (x.getInt(0), x.getLong(1))) ==
             h.map(x => (x.getInt(0), x.getLong(1))))
    }
    // short signature: trailing bands hash the clamped (possibly empty)
    // slice, identically in both forms
    val short = Seq((1L, Seq(1L, 2L, 3L, 4L, 5L))).toDF("id", "sig")
    val sr = short.select(
      Dedup.lshBuckets(col("sig"), 4, 4).as("native"),
      graft.operators.DedupTestAccess.lshBucketsHof(col("sig"), 4, 4).as("hof"))
      .collect().head
    assert(sr.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getInt(0), x.getLong(1))) ==
           sr.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getLong(1))))
  }

  test("native stopword_hits matches the HOF filter count") {
    import spark.implicits._
    import graft.operators.{TextAnalysis => TA}
    val texts = Seq(
      "the cat and the dog in the house",
      "no matches here whatsoever",
      "the the the", "", "der und das the")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    Seq("en", "de", "zh").foreach { lang =>
      val rows = texts.select(
        TA.stopwordHits(col("text"), TA.Stopwords(lang)).as("native"),
        graft.operators.TextAnalysisTestAccess
          .stopwordHitsHof(col("text"), TA.Stopwords(lang)).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    }
  }

  test("expressions survive both codegen and interpreted eval paths") {
    val df = randVecs(50, 8, seed = 3)
    val planes = Dedup.hyperplanes(8, 4)
    val codegen = df.select(Dedup.cosine(col("a"), col("b")).as("c"),
      Dedup.signBucket(col("a"), planes).as("s")).collect()
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(Dedup.cosine(col("a"), col("b")).as("c"),
        Dedup.signBucket(col("a"), planes).as("s")).collect()
      codegen.zip(interp).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x.getDouble(0)) ==
               java.lang.Double.doubleToLongBits(y.getDouble(0)))
        assert(x.getLong(1) == y.getLong(1))
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None    => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("null-input pins: hamming null array → null; sign_bucket null vec → null") {
    import spark.implicits._
    val df = Seq((1L, Seq(1, 0, 1))).toDF("id", "bits")
      .withColumn("nullbits", lit(null).cast("array<int>"))
    val h = df.select(Dedup.hamming(col("nullbits"), col("bits"))).collect().head
    assert(h.isNullAt(0)) // like size(null) in the HOF form
    val planes = Dedup.hyperplanes(3, 2)
    val v = df.select(Dedup.signBucket(lit(null).cast("array<double>"), planes))
      .collect().head
    assert(v.isNullAt(0)) // documented divergence: HOF folds null vec to 0L
  }

  test("native sig_agree matches the HOF zip_with fold, incl. edge cases") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // small value range forces plenty of agreements
    val df = (1 to 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextInt(4).toLong),
        Seq.fill(64)(rnd.nextInt(4).toLong))
    }.toDF("id", "a", "b")
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    df.select(GraftFunctions.sig_agree(col("a"), col("b")).as("n"),
        hof.as("h")).collect()
      .foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // identical arrays agree everywhere; disjoint agree nowhere
    val pin = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), Seq(7L, 8L, 9L)))
      .toDF("a", "b", "c")
    val pr = pin.select(
      GraftFunctions.sig_agree(col("a"), col("b")),
      GraftFunctions.sig_agree(col("a"), col("c")),
      GraftFunctions.sig_agree(col("a"), lit(null).cast("array<bigint>")))
      .collect().head
    assert(pr.getInt(0) == 3 && pr.getInt(1) == 0 && pr.isNullAt(2))
  }

  test("int_dot / int_sqdist match the exploded join-on-d aggregates") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // null elements (skip), one all-null side (empty-set sum → NULL),
    // and length mismatches (pair over the common prefix)
    def vec(dim: Int, allNull: Boolean): Seq[java.lang.Long] =
      Seq.fill(dim)(
        if (allNull || rnd.nextInt(10) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(2000001).toLong - 1000000L))
    val rows = (1 to 300).map { i =>
      (i.toLong, vec(8, allNull = i == 7), vec(8 + rnd.nextInt(3), allNull = false))
    }
    val df = rows.toDF("id", "a", "b")
    def cell(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val kern = df.select(col("id"),
        GraftFunctions.int_dot(col("a"), col("b")).as("dot"),
        GraftFunctions.int_sqdist(col("a"), col("b")).as("d2"))
      .collect().map(r => r.getLong(0) -> ((cell(r, 1), cell(r, 2)))).toMap
    val ea = df.select(col("id"), posexplode(col("a")).as(Seq("d", "qa")))
    val eb = df.select(col("id"), posexplode(col("b")).as(Seq("d", "qb")))
    val ref = ea.join(eb, Seq("id", "d"))
      .groupBy("id")
      .agg(sum(col("qa") * col("qb")).as("dot"),
        sum((col("qa") - col("qb")) * (col("qa") - col("qb"))).as("d2"))
      .collect().map(r => r.getLong(0) -> ((cell(r, 1), cell(r, 2)))).toMap
    assert(kern.keySet === ref.keySet)
    assert(kern === ref)
    assert(kern(7L) === ((None, None))) // all-null side → NULL, never 0
    // null ARRAY input → null (nullSafeEval), matching sum-over-nothing
    val ni = df.limit(1).select(
        GraftFunctions.int_dot(lit(null).cast("array<bigint>"), col("b")),
        GraftFunctions.int_sqdist(col("a"), lit(null).cast("array<bigint>")))
      .collect().head
    assert(ni.isNullAt(0) && ni.isNullAt(1))
  }
}
