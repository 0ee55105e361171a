package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Domain scalar functions (SURVEY §2.7) run through Catalyst and pinned
  * against hand-verified golden values in the DuckDB oracle (literal VALUES
  * tables). This makes the function library part of the graded correctness
  * surface, not just unit-tested code.
  *
  * The queries ignore the sf dir on purpose — inputs are fixed golden
  * corpora (reference examples from optimade_test/hill_formula.py,
  * Optimade_Server/utils.py:662-682, Optimade_Agent/agent.py:146-147).
  */
object FunctionQueries {

  private val hillCases = Seq(
    // (input, expected hill) — expectations live in the oracle SQL below
    "TiO2", "SiO2", "Al2O3", "MgO", "NaCl", "ZrO", "Zr2O2", "CH4N2O",
    "C2H5OH", "HCN", "H2O", "NH3", "Ca(OH)2", "K4[Fe(CN)6]", "SrTiO₃",
    "Fe₂O₃", "Li0.5CoO2", "CH3COOH", "C60", "Mg3(Si2O5)2(OH)2")

  private val spgCases = Seq(1, 2, 4, 14, 19, 62, 81, 90, 93, 113, 123,
    148, 166, 186, 194, 198, 205, 216, 221, 225, 227, 229, 230)

  val defs: Seq[QueryDef] = Seq(

    QueryDef.sql("q21_fn_hill",
      """SELECT * FROM (VALUES
        |  ('TiO2','O2Ti'), ('SiO2','O2Si'), ('Al2O3','Al2O3'), ('MgO','MgO'),
        |  ('NaCl','ClNa'), ('ZrO','OZr'), ('Zr2O2','O2Zr2'), ('CH4N2O','CH4N2O'),
        |  ('C2H5OH','C2H6O'), ('HCN','CHN'), ('H2O','H2O'), ('NH3','H3N'),
        |  ('Ca(OH)2','CaH2O2'), ('K4[Fe(CN)6]','C6FeK4N6'),
        |  ('SrTiO₃','O3SrTi'), ('Fe₂O₃','Fe2O3'), ('Li0.5CoO2','CoLi0.5O2'),
        |  ('CH3COOH','C2H4O2'), ('C60','C60'), ('Mg3(Si2O5)2(OH)2','H2Mg3O12Si4')
        |) AS t(formula, hill) ORDER BY formula""".stripMargin) { (s, _) =>
      import s.implicits._
      hillCases.toDF("formula")
        .withColumn("hill", hill_formula(col("formula")))
        .orderBy("formula")
    },

    QueryDef.sql("q22_fn_spg",
      """SELECT * FROM (VALUES
        |  (1,'P1','P 1'), (2,'P-1','P -1'), (4,'P21','P 21'), (14,'P21/c','P 21/c'),
        |  (19,'P212121','P 212121'), (62,'Pnma','P n m a'), (81,'P-4','P -4'),
        |  (90,'P4212','P 4212'), (93,'P4222','P 4222'), (113,'P-421m','P -421 m'),
        |  (123,'P4/mmm','P 4/m m m'), (148,'R-3','R -3'), (166,'R-3m','R -3 m'),
        |  (186,'P63mc','P 63 m c'), (194,'P63/mmc','P 63/m m c'),
        |  (198,'P213','P 213'), (205,'Pa-3','P a -3'), (216,'F-43m','F -43 m'),
        |  (221,'Pm-3m','P m -3 m'), (225,'Fm-3m','F m -3 m'),
        |  (227,'Fd-3m','F d -3 m'), (229,'Im-3m','I m -3 m'), (230,'Ia-3d','I a -3 d')
        |) AS t(spg, hm, tcod) ORDER BY spg""".stripMargin) { (s, _) =>
      import s.implicits._
      spgCases.toDF("spg")
        .withColumn("hm", spg_short_hm(col("spg")))
        .withColumn("tcod", spg_tcod(spg_short_hm(col("spg"))))
        .orderBy("spg")
    },

    QueryDef.sql("q23_fn_eform",
      // identical IEEE arithmetic on both sides — the oracle mirrors the
      // engine's left-fold add order over sites; unknown element → NULL
      // CAST(0.0 AS DOUBLE) seeds the fold so every add is IEEE double
      // (bare literals are DECIMAL in DuckDB and would aggregate exactly)
      """SELECT * FROM (VALUES
        |  ('fe2o3', (CAST(-40.0 AS DOUBLE) - (((((CAST(0.0 AS DOUBLE) + -8.47) + -8.47) + -4.9467) + -4.9467) + -4.9467)) / 5),
        |  ('nacl',  (CAST(-7.5 AS DOUBLE)  - ((CAST(0.0 AS DOUBLE) + -1.3225) + -1.8485)) / 2),
        |  ('srtio3',(CAST(-38.2 AS DOUBLE) - (((((CAST(0.0 AS DOUBLE) + -1.6895) + -7.8955) + -4.9467) + -4.9467) + -4.9467)) / 5),
        |  ('unknown', CAST(NULL AS DOUBLE))
        |) AS t(name, e_form) ORDER BY name""".stripMargin) { (s, _) =>
      import s.implicits._
      Seq(
        ("fe2o3", Seq("Fe", "Fe", "O", "O", "O"), -40.0),
        ("nacl", Seq("Na", "Cl"), -7.5),
        ("srtio3", Seq("Sr", "Ti", "O", "O", "O"), -38.2),
        ("unknown", Seq("Xx", "O"), -5.0))
        .toDF("name", "species", "energy")
        .select(col("name"), e_form_per_atom(col("species"), col("energy")).as("e_form"))
        .orderBy("name")
    },

    // F14 — e-above-hull (openlam utils.py:139-190). The graded path is
    // a binary phase diagram where the hull is the lower segment
    // envelope, so BOTH engines state the identical interpolation
    // arithmetic (a.e + (b.e-a.e)*(x-a.x)/(b.x-a.x) — mirrored ops are
    // bit-identical, CLAUDE.md rule); the general k-element LP
    // (PhaseHull.eAboveHull) is pinned against this same fixture plus
    // ternary hand cases in PhaseHullSpec. Fixture: two binary systems
    // with pure-element anchors, on-hull and above-hull references.
    QueryDef.sql("q66_e_above_hull",
      """WITH refs AS (SELECT * FROM read_parquet('__AUX__/q66_refs/*.parquet')),
        |cands AS (SELECT * FROM read_parquet('__AUX__/q66_cands/*.parquet')),
        |exact AS (
        |  SELECT c.system, c.id, r.e AS hull_val
        |  FROM cands c JOIN refs r ON c.system = r.system AND r.x = c.cx),
        |interp AS (
        |  SELECT c.system, c.id,
        |    a.e + (b.e - a.e) * (c.cx - a.x) / (b.x - a.x) AS hull_val
        |  FROM cands c
        |  JOIN refs a ON c.system = a.system
        |  JOIN refs b ON c.system = b.system
        |  WHERE a.x < b.x AND a.x <= c.cx AND c.cx <= b.x),
        |hull AS (
        |  SELECT system, id, min(hull_val) AS hull_e
        |  FROM (SELECT * FROM exact UNION ALL SELECT * FROM interp)
        |  GROUP BY system, id)
        |SELECT c.system, c.id, h.hull_e, c.ce - h.hull_e AS e_above_hull
        |FROM cands c JOIN hull h ON c.system = h.system AND c.id = h.id
        |ORDER BY c.system, c.id""".stripMargin) { (s, d) =>
      import s.implicits._
      val refs = graft.Aux.share(Seq(
        ("A-B", 0.0, 0.0), ("A-B", 1.0, 0.0), ("A-B", 0.5, -0.3),
        ("A-B", 0.25, -0.2), ("A-B", 0.75, -0.1), ("A-B", 0.5, 0.2),
        ("A-C", 0.0, 0.0), ("A-C", 1.0, 0.0), ("A-C", 0.4, -0.16))
        .toDF("system", "x", "e"), d, "q66_refs")
      val cands = graft.Aux.share(Seq(
        ("A-B", 1L, 0.5, -0.25), ("A-B", 2L, 0.375, -0.3),
        ("A-B", 3L, 0.125, -0.05), ("A-B", 4L, 0.9, -0.02),
        ("A-C", 5L, 0.2, -0.1), ("A-C", 6L, 0.7, -0.05))
        .toDF("system", "id", "cx", "ce"), d, "q66_cands")
      val hull = graft.operators.PhaseHull.binaryHullEnergy(refs, cands)
      cands.join(hull, Seq("system", "id"))
        .select(col("system"), col("id"), col("hull_e"),
          (col("ce") - col("hull_e")).as("e_above_hull"))
        .orderBy("system", "id")
    },

    QueryDef.sql("q24_fn_normalize",
      """SELECT * FROM (VALUES
        |  ('SrTiO₃','SrTiO3'), ('H₂O','H2O'), ('Fe₂O₃','Fe2O3'),
        |  ('H²O','H2O'), ('NaCl','NaCl'), ('Ｌｉ２Ｏ','Ｌｉ2Ｏ')
        |) AS t(raw, norm) ORDER BY raw""".stripMargin) { (s, _) =>
      import s.implicits._
      Seq("SrTiO₃", "H₂O", "Fe₂O₃", "H²O", "NaCl", "Ｌｉ２Ｏ").toDF("raw")
        .withColumn("norm", normalize_formula(col("raw")))
        .orderBy("raw")
    }
  )
}
