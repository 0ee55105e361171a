package graft.federate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class FederationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  import Federation._

  private def src(provider: String, url: String, ids: Seq[String],
                  extra: Option[String] = None): Source =
    Source(provider, url, () => {
      import spark.implicits._
      val base = ids.map(id => (id, s"$provider-data")).toDF("id", "payload")
      extra.fold(base)(c => base.withColumn(c, lit(1)))
    })

  test("fan-out unions heterogeneous sources and tolerates failures (O1/O2/U1)") {
    val boom = Source("bad", "u", () => throw new RuntimeException("connection refused"))
    val res = fanOut(spark, Seq(
      src("p1", "u1", Seq("a", "b")),
      boom,
      src("p2", "u2", Seq("c"), extra = Some("extra_col"))))
    assert(res.failures == Seq(("bad@u", "connection refused")))
    val rows = res.data.orderBy("id").collect()
    assert(rows.length == 3)
    // p1 rows get null for p2's extra column (allowMissingColumns)
    assert(res.data.columns.contains("extra_col"))
    assert(rows.head.getAs[Any]("extra_col") == null)
  }

  test("stats + plan + quota application (A7 + Q1)") {
    val sources = Seq(
      src("p1", "u1", (1 to 8).map(i => s"a$i")),
      src("p2", "u2", (1 to 3).map(i => s"b$i")))
    val st = stats(fanOut(spark, sources).data)
    assert(st.toMap == Map("p1" -> Seq("u1" -> 8), "p2" -> Seq("u2" -> 3)))
    val fr = federatedQuery(spark, sources, filter = None, nResults = 8,
      idCol = "id", orderCol = "id")
    assert(fr.stats == st)
    // p2 capacity-bound at 3 → p1 water-fills to 5
    assert(fr.plan.toMap == Map("p1" -> Seq("u1" -> 5), "p2" -> Seq("u2" -> 3)))
    val rows = fr.data.collect()
    val byProv = rows.groupBy(_.getAs[String]("provider")).view.mapValues(_.length).toMap
    assert(byProv == Map("p1" -> 5, "p2" -> 3))
    // the quota keeps the FIRST rows by order column
    val p1ids = rows.filter(_.getAs[String]("provider") == "p1").map(_.getAs[String]("id"))
    assert(p1ids.toSet == Set("a1", "a2", "a3", "a4", "a5"))
  }

  test("stats orders providers by precedence, not alphabetically (A7)") {
    // 'zeta' is registered FIRST: it must lead the stats even though
    // 'alpha' sorts before it — the planner walks providers in order
    val res = fanOut(spark, Seq(
      src("zeta", "u1", Seq("a", "b", "c")),
      src("alpha", "u2", Seq("d"))))
    assert(stats(res.data).map(_._1) == Seq("zeta", "alpha"))
    assert(stats(res.data) == Seq("zeta" -> Seq("u1" -> 3), "alpha" -> Seq("u2" -> 1)))
  }

  test("probeSources quarantines sources that fail at EXECUTION time (O2)") {
    import spark.implicits._
    val execBoom = Source("rboom", "u9", () => {
      val boomUdf = udf((i: Long) => {
        if (i >= 0) throw new RuntimeException("exec fail"); i
      })
      spark.range(3).select(boomUdf(col("id")).cast("string").as("id"),
        lit("x").as("payload"))
    })
    // without the probe the bad source passes analysis and would fail the
    // whole union job at run time
    val lazyRes = fanOut(spark, Seq(src("p1", "u1", Seq("a")), execBoom))
    assert(lazyRes.failures.isEmpty)
    assertThrows[Exception](lazyRes.data.collect())
    // with the probe it lands in failures and the union executes
    val res = fanOut(spark, Seq(src("p1", "u1", Seq("a")), execBoom),
      probeSources = true)
    assert(res.failures.map(_._1) == Seq("rboom@u9"))
    assert(res.data.select("provider").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("p1"))
  }

  test("ordered dedup: first provider wins (D1)") {
    val fr = federatedQuery(spark, Seq(
      src("p1", "u1", Seq("x", "y")),
      src("p2", "u2", Seq("y", "z"))),
      filter = None, nResults = 4, idCol = "id", orderCol = "id")
    val winners = fr.data.select("id", "provider").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(winners == Map("x" -> "p1", "y" -> "p1", "z" -> "p2"))
  }

  /** The distributed form federatedQuery replaced, kept as its reference:
    * row_number per (provider, url) ≤ quota, a first-provider dedup
    * window, then order and limit. */
  private def windowedReference(sources: Seq[Source], nResults: Int,
                                idCol: String, orderCol: String,
                                maxReturned: Int): (DataFrame, QuotaPlanner.Plan) = {
    import spark.implicits._
    val fo = fanOut(spark, sources, perSourceLimit = Some(nResults),
      orderCol = Some(orderCol))
    val plan = QuotaPlanner.distributeQuotaFair(stats(fo.data, Some(nResults)), nResults)
    val quota = plan.flatMap { case (p, us) => us.map { case (u, q) => (p, u, q) } }
      .toDF("provider", "provider_url", "quota")
    val perSource = Window.partitionBy("provider", "provider_url").orderBy(col(orderCol))
    val perId = Window.partitionBy(col(idCol)).orderBy(col("provider_rank"), col(orderCol))
    val out = fo.data.withColumn("__rank", row_number().over(perSource))
      .join(quota, Seq("provider", "provider_url"))
      .filter(col("__rank") <= col("quota"))
      .drop("__rank", "quota")
      .withColumn("__dd", row_number().over(perId))
      .filter(col("__dd") === 1)
      .drop("__dd")
      .orderBy(col("provider_rank"), col(orderCol))
      .limit(maxReturned)
    (out, plan)
  }

  test("federatedQuery equals the windowed reference pipeline") {
    import spark.implicits._
    // `ord` is unique across all rows, so both sides are deterministic;
    // ids overlap across providers and some are null
    def rows(provider: String, url: String, base: Long,
             ids: Seq[String]): Source =
      Source(provider, url, () => ids.zipWithIndex
        .map { case (id, i) => (id, base + i, s"$provider@$url") }
        .toDF("id", "ord", "payload"))
    val ids = (1 to 12).map(i => if (i % 5 == 0) null else s"s${i % 7}")
    val sources = Seq(
      rows("p1", "u1", 100, ids),
      rows("p2", "u2", 200, ids.reverse),              // overlapping ids
      rows("p2", "u3", 300, Seq("s1", null, "t1")),    // capacity-bound
      rows("p3", "u4", 400, Seq.empty),                // empty source
      rows("p1", "u1", 500, Seq("s3", "t2", null)),    // (p1, u1) again, rank 4
      rows("p4", "u5", 50, Seq("s2", "s6", "t3", "t4")))
    for ((n, maxRet) <- Seq((0, 30), (1, 30), (4, 30), (10, 30), (10, 5), (40, 7))) {
      val fr = federatedQuery(spark, sources, filter = None, nResults = n,
        idCol = "id", orderCol = "ord", maxReturned = maxRet)
      val (ref, refPlan) = windowedReference(sources, n, "id", "ord", maxRet)
      assert(fr.plan == refPlan, s"n=$n")
      assert(fr.data.columns.toSeq == ref.columns.toSeq, s"n=$n")
      assert(fr.data.collect().toSeq == ref.collect().toSeq, s"n=$n maxReturned=$maxRet")
    }
    // the cases above reach the quota, the dedup and the truncation
    val fr = federatedQuery(spark, sources, filter = None, nResults = 10,
      idCol = "id", orderCol = "ord", maxReturned = 5)
    assert(QuotaPlannerSpec.planTotal(fr.plan) == 10)
    assert(fr.data.count() == 5)
    val all = federatedQuery(spark, sources, filter = None, nResults = 40,
      idCol = "id", orderCol = "ord", maxReturned = 100).data.collect()
    val allIds = all.map(_.getAs[String]("id"))
    assert(allIds.count(_ == null) == 1)
    assert(allIds.distinct.length == allIds.length)
  }

  test("federatedQuery rejects ids that are neither strings nor integers") {
    import spark.implicits._
    def one(df: => DataFrame) = Seq(Source("p1", "u1", () => df))
    for (bad <- Seq(one(Seq((1.5, "x")).toDF("id", "payload")),
                    one(Seq((Array[Byte](1), "x")).toDF("id", "payload")))) {
      val e = intercept[IllegalArgumentException](federatedQuery(spark, bad,
        filter = None, nResults = 5, idCol = "id", orderCol = "payload"))
      assert(e.getMessage.contains("string or integral"))
    }
    val ok = federatedQuery(spark, one(Seq((7L, "x")).toDF("id", "payload")),
      filter = None, nResults = 5, idCol = "id", orderCol = "id")
    assert(ok.data.collect().map(_.getAs[Long]("id")).toSeq == Seq(7L))
  }

  test("federatedQuery end-to-end with truncation (T3)") {
    val sources = Seq(
      src("p1", "u1", (1 to 40).map(i => f"s$i%03d")),
      src("p2", "u2", (1 to 40).map(i => f"s$i%03d")), // full overlap → deduped
      src("p3", "u3", (1 to 5).map(i => f"t$i%03d")))
    val fr = federatedQuery(spark, sources,
      filter = None, nResults = 60, idCol = "id", orderCol = "id", maxReturned = 30)
    val df = fr.data
    assert(fr.failures.isEmpty)
    // p3 capacity-bound at 5; remaining 15 water-fills p1/p2 → 28+27+5
    assert(QuotaPlannerSpec.planTotal(fr.plan) == 60)
    val rows = df.collect()
    assert(rows.length == 30)
    // dedup: overlapping ids resolved to the earlier provider
    val byId = df.select("id", "provider").collect()
      .map(r => r.getString(0) -> r.getString(1))
    byId.filter(_._1.startsWith("s")).foreach { case (_, p) => assert(p == "p1") }
  }

  test("manifest + cif writer round trip") {
    import spark.implicits._
    val structures = Seq(
      ("s1",
       Seq(Seq(4.0, 0.0, 0.0), Seq(0.0, 4.0, 0.0), Seq(0.0, 0.0, 4.0)),
       Seq("Na", "Cl"),
       Seq(Seq(0.0, 0.0, 0.0), Seq(2.0, 2.0, 2.0))))
      .toDF("id", "lattice_vectors", "species_at_sites", "cartesian_site_positions")
    val dir = Files.createTempDirectory("graft-cif")
    val (files, warnings) = graft.result.CifWriter.writeStructures(structures, dir.toString)
    assert(warnings.isEmpty && files.size == 1)
    val cif = Files.readString(java.nio.file.Paths.get(files.head))
    assert(cif.contains("data_s1"))
    assert(cif.contains("_cell_length_a 4.000000"))
    assert(cif.contains("_cell_angle_alpha 90.0000"))
    // cartesian (2,2,2) in a 4Å cube → fractional 0.5
    assert(cif.contains("Cl Cl1 0.500000 0.500000 0.500000"))

    val st: QuotaPlanner.Stats = Seq("p1" -> Seq("u1" -> 1))
    val mf = graft.result.Manifest.write(dir, """elements HAS "Na"""",
      st, QuotaPlanner.distributeQuotaFair(st, 1), files, Seq.empty)
    val json = Files.readString(mf)
    assert(json.contains("\"filter\"") && json.contains("\"plan\"") &&
           json.contains("\"mode\": \"raw_filter\""))
  }

  test("S8 manifest golden: byte-identical to the reference's summary.json") {
    // expected bytes generated by EXECUTING the reference writer shape
    // (Optimade_Server/server.py:175-188): the manifest dict built with
    // the reference's own distribute_quota_fair output for these stats,
    // serialized with json.dumps(manifest, indent=2) — same technique as
    // the QuotaPlanner goldens. Any divergence in key set, key order,
    // escaping, indentation or separators fails here.
    val golden =
      """{
        |  "mode": "raw_filter",
        |  "filter": "elements HAS \"Na\" AND nelements<5",
        |  "providers_requested": [
        |    "alexandria",
        |    "odbx"
        |  ],
        |  "providers_seen": [
        |    "alexandria"
        |  ],
        |  "files": [
        |    "out/alexandria_1.cif",
        |    "out/alexandria_2.cif"
        |  ],
        |  "warnings": [
        |    "Source file not found: x.cif for a_3",
        |    "odbx@https://optimade.odbx.science: timeout"
        |  ],
        |  "format": "cif",
        |  "n_results": 10,
        |  "stats": {
        |    "alexandria": {
        |      "https://alexandria.icams.rub.de/pbe": 7
        |    },
        |    "odbx": {
        |      "https://optimade.odbx.science": 0
        |    }
        |  },
        |  "plan": {
        |    "alexandria": {
        |      "https://alexandria.icams.rub.de/pbe": 7
        |    },
        |    "odbx": {
        |      "https://optimade.odbx.science": 0
        |    }
        |  },
        |  "n_found": 7
        |}""".stripMargin
    val st: QuotaPlanner.Stats = Seq(
      "alexandria" -> Seq("https://alexandria.icams.rub.de/pbe" -> 7),
      "odbx" -> Seq("https://optimade.odbx.science" -> 0))
    val dir = Files.createTempDirectory("graft-manifest")
    val mf = graft.result.Manifest.write(
      dir, """elements HAS "Na" AND nelements<5""",
      st, QuotaPlanner.distributeQuotaFair(st, 10),
      files = Seq("out/alexandria_1.cif", "out/alexandria_2.cif"),
      failures = Seq("odbx@https://optimade.odbx.science" -> "timeout"),
      nResults = 10,
      providersSeen = Some(Seq("alexandria")),
      warnings = Seq("Source file not found: x.cif for a_3"),
      nFound = Some(7L))
    assert(Files.readString(mf) == golden)
  }
}
