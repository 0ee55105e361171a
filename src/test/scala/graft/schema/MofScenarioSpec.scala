package graft.schema

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.MofScenarioQueries

class MofScenarioSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("shred: 10 star tables with FK integrity") {
    val star = MofSchema.shred(MofFixtures.nested(spark))
    assert(star.keySet == MofSchema.TableNames.toSet)
    val mofs = star("mofs"); val iso = star("isotherms")
    val isoData = star("isotherm_data"); val isoSpec = star("isotherm_species_data")
    assert(mofs.count() == MofFixtures.nestedDocs.size)
    // FK chains resolve completely
    assert(iso.join(mofs, iso("mof_id") === mofs("id")).count() == iso.count())
    assert(isoData.join(iso, isoData("isotherm_id") === iso("id")).count() == isoData.count())
    assert(isoSpec.join(isoData, isoSpec("isotherm_data_id") === isoData("id")).count() == isoSpec.count())
    assert(isoSpec.join(star("adsorbates"),
      isoSpec("adsorbate_id") === star("adsorbates")("id")).count() == isoSpec.count())
    // m1..m6 have exactly 2 adsorbates each
    val ma = star("mof_adsorbates").groupBy("mof_id").count()
      .filter(col("mof_id") <= 6).collect()
    assert(ma.length == 6 && ma.forall(_.getLong(1) == 2L))
  }

  test("scenario 1: CO2/H2 selectivity for the six dual-gas mofs") {
    val r = MofScenarioQueries.run(spark, "q46_mof_selectivity").collect()
    assert(r.length == 6)
    assert(r.map(_.getString(0)).toSet == (1 to 6).map(i => s"MOF-$i").toSet)
    // selectivity = co2_avg / h2_avg, positive and finite
    r.foreach(row => assert(row.getDouble(4) > 0))
  }

  test("scenario 2: per-database top-5% are the engineered winners") {
    val r = MofScenarioQueries.run(spark, "q47_mof_top_percentile").collect()
    assert(r.nonEmpty)
    val names = r.map(_.getString(0)).toSet
    // all survivors have vf > 0.5 and rank 1 in their database
    r.foreach { row =>
      assert(row.getDouble(3) > 0.5)
      assert(row.getInt(5) == 1)
    }
    assert(names.contains("TWIN-B") || names.contains("HEAT-14"))
  }

  test("scenario 3: identical-composition twin pair with >50% SA gap found") {
    val r = MofScenarioQueries.run(spark, "q48_mof_twins", nResults = 100).collect()
    val pairs = r.map(row => (row.getString(0), row.getString(4))).toSet
    assert(pairs.contains(("TWIN-A", "TWIN-B")) || pairs.contains(("TWIN-B", "TWIN-A")))
    // every surviving pair satisfies both thresholds
    r.foreach { row =>
      assert(row.getDouble(8) < 10.0)
      assert(row.getDouble(9) > 50.0)
    }
  }

  test("scenario 4: multi-temperature mofs ranked by sensitivity") {
    val r = MofScenarioQueries.run(spark, "q49_mof_temp_sensitivity").collect()
    assert(r.map(_.getString(0)).toSet == (1 to 4).map(i => s"MOF-$i").toSet)
    r.foreach { row =>
      assert(row.getLong(2) == 2) // temp_count: 298 + 313
      assert(row.getDouble(3) == 298.0 && row.getDouble(4) == 313.0)
    }
  }

  test("scenario 5: heat outlier HEAT-14 (planted SA 9000) detected") {
    val r = MofScenarioQueries.run(spark, "q50_mof_heat_outliers").collect()
    assert(r.nonEmpty)
    assert(r.map(_.getString(0)).contains("HEAT-14"))
    val heat14 = r.find(_.getString(0) == "HEAT-14").get
    assert(heat14.getDouble(5) > 0.5) // sa_normalized_diff
  }

  test("scenario 6: adsorption profile + selectivity matrix for dual-gas mofs") {
    val r = MofScenarioQueries.run(spark, "q51_mof_selectivity_matrix").collect()
    assert(r.length == 6)
    val top = r.head
    assert(top.getString(0) == "MOF-6") // highest co2/h2 ratio by construction
    r.foreach { row =>
      assert(row.getLong(2) == 2)
      val profile = row.getString(3)
      assert(profile.contains("CarbonDioxide:") && profile.contains("Hydrogen:"))
      assert(row.getDouble(7) > 1.0)
    }
  }

  test("scenario SQL runs through the read-only guard with LIMIT injection") {
    // n_results=2 truncates scenario 1 to 2 rows (reference LIMIT policy)
    val r = MofScenarioQueries.run(spark, "q46_mof_selectivity", nResults = 2)
    assert(r.count() == 2)
  }
}
