package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Every graft-native Column (the Hill expression, the vector kernels,
  * the bloom probe and the sketch aggregates) is built straight from its
  * Catalyst expression: building and running one leaves the session's
  * function registry as it found it, and two parameterizations of one
  * aggregate in a single `agg` cannot be confused with each other. */
class NativeColumnsSpec extends AnyFunSuite {

  // a fresh session: its own function registry, nothing pre-registered
  // by other specs sharing the JVM
  lazy val spark: SparkSession = graft.LocalSession(4)
    .newSession()

  private def registryNames: Set[String] =
    spark.sessionState.functionRegistry.listFunction().map(_.funcName).toSet

  private def keys: DataFrame = spark.range(1, 201).select(
    col("id").as("k"), (col("id") % 7).as("g"), (col("id") % 13).cast("string").as("tok"))

  test("every native Column runs without touching the function registry") {
    val before = registryNames

    val row = spark.sql(
      """SELECT 'TiO2' AS f,
        |       array(1.0D, 0.0D) AS va, array(1.0D, 0.0D) AS vb,
        |       array(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS planes,
        |       array(1, 0, 1) AS ia, array(1, 1, 1) AS ib,
        |       array_repeat(1, 64) AS bits,
        |       array('a', 'the', 'x') AS toks, array('the', 'a') AS stop,
        |       array(1L, 2L, 3L, 4L) AS sig, array(1L, 5L, 3L, 4L) AS sig2,
        |       array(1L, 2L) AS qa, array(3L, 4L) AS qb""".stripMargin)
      .select(
        GraftFunctions.hill_formula(col("f")),
        GraftFunctions.cosine_sim(col("va"), col("vb")),
        GraftFunctions.sign_bucket(col("va"), col("planes")),
        GraftFunctions.hamming_dist(col("ia"), col("ib")),
        size(GraftFunctions.simhash_blocks(col("bits"))),
        GraftFunctions.stopword_hits(col("toks"), col("stop")),
        size(GraftFunctions.lsh_bands(col("sig"), 2, 2)),
        GraftFunctions.sig_agree(col("sig"), col("sig2")),
        GraftFunctions.int_dot(col("qa"), col("qb")),
        GraftFunctions.int_sqdist(col("qa"), col("qb")))
      .collect().head
    assert(row.getString(0) == "O2Ti")
    assert(row.getDouble(1) == 1.0)
    assert(!row.isNullAt(2))
    assert(row.getInt(3) == 1)
    assert(row.getInt(4) == 4)
    assert(row.getInt(5) == 2)
    assert(row.getInt(6) == 2)
    assert(row.getInt(7) == 3)
    assert(row.getLong(8) == 11L)
    assert(row.getLong(9) == 8L)

    val bloom = BloomJoin.buildFilter(keys.filter(col("k") <= 50), "k", 1000L, 0.01)
    assert(keys.filter(BloomJoin.mightContain(bloom, col("k"))).count() >= 50)

    val agg = keys
      .withColumn("msig", array(col("k"), col("k") + 1))
      .agg(
        KmvAgg.kmv_sketch(col("k"), 16),
        HllAgg.hll_registers(col("k"), 4),
        QDigestAgg.qdigest(col("k"), 64, 8, Seq(500)),
        MisraGriesAgg.misra_gries(col("tok"), 4),
        CountMinAgg.countmin(col("k"), 64, Seq(1L, 2L)),
        TopKAgg.topKExpr(3, col("k"), col("k")),
        MinHashUnionAgg.minhash_union(col("msig"), 2))
      .collect().head
    assert(agg.getStruct(0).getLong(0) == 16L)
    assert(agg.getSeq[Long](1).size == 16)
    assert(agg.getStruct(2).getLong(0) == 200L)
    assert(agg.getMap[String, Long](3).size <= 4)
    assert(agg.getStruct(4).getLong(0) == 200L)
    assert(agg.getSeq[Row](5).map(_.getAs[Long]("v")) == Seq(200L, 199L, 198L))
    assert(agg.getSeq[Long](6) == Seq(1L, 2L))

    assert(registryNames == before)
  }

  test("two parameterizations of one aggregate in one agg stay distinct") {
    def one(c: org.apache.spark.sql.Column): Row =
      keys.groupBy("g").agg(c.as("s")).orderBy("g").select("s").collect().head

    val kmv = keys.groupBy("g")
      .agg(KmvAgg.kmv_sketch(col("k"), 16).as("a"), KmvAgg.kmv_sketch(col("k"), 64).as("b"))
      .orderBy("g").collect().head
    assert(kmv.getStruct(1) == one(KmvAgg.kmv_sketch(col("k"), 16)).getStruct(0))
    assert(kmv.getStruct(2) == one(KmvAgg.kmv_sketch(col("k"), 64)).getStruct(0))
    assert(kmv.getStruct(1) != kmv.getStruct(2))

    val lo = Seq(100, 500)
    val hi = Seq(900, 990)
    val qd = keys.groupBy("g")
      .agg(QDigestAgg.qdigest(col("k"), 64, 8, lo).as("a"),
        QDigestAgg.qdigest(col("k"), 64, 8, hi).as("b"))
      .orderBy("g").collect().head
    assert(qd.getStruct(1) == one(QDigestAgg.qdigest(col("k"), 64, 8, lo)).getStruct(0))
    assert(qd.getStruct(2) == one(QDigestAgg.qdigest(col("k"), 64, 8, hi)).getStruct(0))
    assert(qd.getStruct(1) != qd.getStruct(2))
  }
}
