package graft.query

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class ParametricSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def crystals = {
    import spark.implicits._
    Seq(
      (1L, "Fe2O3", -40.2, Timestamp.valueOf("2024-03-01 00:00:00"), "a"),
      (2L, "Fe2O3", -35.0, Timestamp.valueOf("2025-01-15 12:00:00"), "b"),
      (3L, "NaCl", -7.1, Timestamp.valueOf("2023-06-01 00:00:00"), "a"),
      (4L, "LiFePO4", -91.3, Timestamp.valueOf("2024-08-20 08:30:00"), "c"))
      .toDF("id", "formula", "energy", "submission_time", "provider")
  }

  test("openlam query: formula + energy range + time window (server.py:60-132)") {
    val q = Parametric.openlamQuery(
      formula = Some("Fe₂O₃"), // unicode normalized at the boundary
      minEnergy = Some(-50), maxEnergy = Some(-36),
      minSubmissionTime = Some("2024-01-01 00:00:00"))
    val got = q.run(crystals).select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L))
  }

  test("open-ended ranges") {
    val q = Parametric.Query(Seq(Parametric.NumRange("energy", None, Some(-30))))
    assert(q.run(crystals).count() == 3)
    val q2 = Parametric.Query(Seq(Parametric.NumRange("energy", Some(-8), None)))
    assert(q2.run(crystals).count() == 1)
  }

  test("bohrium range auto-completion (server.py:126-142)") {
    assert(Parametric.completeRange(Seq("1.5", "3")) == (Some(1.5), Some(3.0)))
    assert(Parametric.completeRange(Seq("2")) == (Some(2.0), Some(100.0)))
    assert(Parametric.completeRange(Seq("", "4")) == (Some(0.0), Some(4.0)))
    assert(Parametric.completeRange(Nil) == (None, None))
    assert(Parametric.completeRange(Seq("junk", "4")) == (Some(0.0), Some(4.0)))
  }

  test("bohrium query: fuzzy vs exact keyword, implicit sort, spg symbol") {
    import spark.implicits._
    val bohrium = Seq(
      ("b1", "TiO2", "P4₂/mnm", 6, -3.1, 3.0),
      ("b2", "TiO2 rutile", "P4₂/mnm", 6, -3.5, 3.0),
      ("b3", "NaCl", "Fm3̅m", 8, -2.0, 5.9))
      .toDF("id", "formula", "space_symbol", "atom_count",
            "predicted_formation_energy", "band_gap")

    val exact = Parametric.bohriumQuery(formula = Some("TiO2"), matchMode = 1)
    assert(exact.run(bohrium).select("id").collect().map(_.getString(0)).toSeq == Seq("b1"))

    val fuzzy = Parametric.bohriumQuery(formula = Some("TiO2"), matchMode = 0)
    // implicit formation-energy ascending sort (server.py:144-145)
    assert(fuzzy.run(bohrium).select("id").collect().map(_.getString(0)).toSeq ==
      Seq("b2", "b1"))

    val bySpg = Parametric.bohriumQuery(spacegroupNumber = Some(225)) // Fm-3m
    assert(bySpg.run(bohrium).select("id").collect().map(_.getString(0)).toSeq == Seq("b3"))

    val byGap = Parametric.bohriumQuery(bandGapRange = Seq("5"))
    assert(byGap.run(bohrium).select("id").collect().map(_.getString(0)).toSeq == Seq("b3"))
  }

  test("mof query: equality + property ranges (Mofdb_Server/server.py:58-76)") {
    import spark.implicits._
    val mofs = Seq(
      ("m1", "HKUST-1", "CSD", 0.72, 1200.0),
      ("m2", "MOF-5", "hMOF", 0.85, 3500.0),
      ("m3", "ZIF-8", "CSD", 0.48, 1100.0))
      .toDF("mofid", "name", "database", "void_fraction", "surface_area_m2g")
    val q = Parametric.mofQuery(database = Some("CSD"), vf = (Some(0.5), None))
    assert(q.run(mofs).select("mofid").collect().map(_.getString(0)).toSeq == Seq("m1"))
  }
}
