package graft.api

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import graft.federate.Federation.Source

class ToolsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def structureSources: Seq[Source] = {
    import spark.implicits._
    def mk(provider: String, rows: Seq[(String, Seq[String], Int, String, Int, Double)]) =
      Source(provider, s"https://$provider.example", () =>
        rows.toDF("id", "elements", "nelements", "chemical_formula_reduced",
          "space_group_number", "band_gap"))
    Seq(
      mk("alexandria", Seq(
        ("a1", Seq("Si", "O"), 2, "O2Si", 221, 1.1),
        ("a2", Seq("Na", "Cl"), 2, "ClNa", 225, 5.9),
        ("a3", Seq("Fe", "O"), 2, "Fe2O3", 167, 2.0))),
      mk("oqmd", Seq(
        ("a1", Seq("Si", "O"), 2, "O2Si", 221, 1.2), // overlaps alexandria
        ("b2", Seq("Si"), 1, "Si", 227, 0.6))))
  }

  test("fetch_structures_with_filter: Hill rewrite + dedup + envelope + manifest") {
    val dir = Files.createTempDirectory("tools-filter").toString
    val out = Tools.fetchStructuresWithFilter(spark, structureSources,
      """chemical_formula_reduced="SiO2" OR elements HAS "Na"""",
      nResults = 10, outputDir = Some(dir))
    assert(out.result.code == 0)
    assert(out.result.nFound == 2) // a1 (deduped, alexandria wins) + a2
    val ids = out.result.cleanedStructures.map(_("id")).toSet
    assert(ids == Set("a1", "a2"))
    assert(out.result.cleanedStructures.forall(_("provider") == "alexandria"))
    val manifest = Files.readString(Paths.get(dir, "summary.json"))
    assert(manifest.contains("O2Si")) // canonicalized filter recorded
    assert(manifest.contains("\"plan\""))
    assert(out.files.nonEmpty) // one json per structure
  }

  test("filter tool CIF export: one CIF per returned id, no site columns in the envelope") {
    import spark.implicits._
    val cube = Seq(Seq(4.0, 0.0, 0.0), Seq(0.0, 4.0, 0.0), Seq(0.0, 0.0, 4.0))
    val src = Source("alexandria", "https://alexandria.example", () => Seq(
      ("c1", Seq("Na", "Cl"), cube, Seq("Na", "Cl"),
        Seq(Seq(0.0, 0.0, 0.0), Seq(2.0, 2.0, 2.0))),
      ("c2", Seq("Si"), cube, Seq("Si"), Seq(Seq(1.0, 1.0, 1.0))))
      .toDF("id", "elements", "lattice_vectors", "species_at_sites",
        "cartesian_site_positions"))
    val dir = Files.createTempDirectory("tools-cif").toString
    val out = Tools.fetchStructuresWithFilter(spark, Seq(src),
      """elements HAS "Na" OR elements HAS "Si"""", outputDir = Some(dir), asCif = true)
    assert(out.result.code == 0, out.result.message)
    val ids = out.result.cleanedStructures.map(_("id").toString)
    assert(ids.toSet == Set("c1", "c2"))
    assert(out.files.map(f => Paths.get(f).getFileName.toString).toSet ==
      ids.map(id => s"$id.cif").toSet)
    ids.foreach { id =>
      assert(Files.readString(Paths.get(dir, s"$id.cif")).startsWith(s"data_$id\n"))
    }
    assert(out.result.cleanedStructures.forall(m =>
      !m.contains("species_at_sites") && !m.contains("cartesian_site_positions")))
    val manifest = Files.readString(Paths.get(dir, "summary.json"))
    assert(!manifest.contains("failed to save"), manifest)
  }

  test("fetch_structures_with_spg and _with_bandgap over mediated columns") {
    val spg = Tools.fetchStructuresWithSpg(spark, structureSources, 221)
    assert(spg.result.code == 0)
    assert(spg.result.cleanedStructures.map(_("id")).toSet == Set("a1"))
    assert(Tools.fetchStructuresWithSpg(spark, structureSources, 999).result.code == -1)

    val bg = Tools.fetchStructuresWithBandgap(spark, structureSources,
      Some(1.0), Some(3.0))
    assert(bg.result.code == 0)
    assert(bg.result.cleanedStructures.map(_("id")).toSet == Set("a1", "a3"))
  }

  test("fetch_openlam_structures end-to-end (§7 minimum slice)") {
    import spark.implicits._
    val crystals = Seq(
      (1L, "Fe2O3", -40.2, Timestamp.valueOf("2024-03-01 00:00:00")),
      (2L, "Fe2O3", -35.0, Timestamp.valueOf("2025-01-15 12:00:00")),
      (3L, "NaCl", -7.1, Timestamp.valueOf("2023-06-01 00:00:00")))
      .toDF("id", "formula", "energy", "submission_time")
    val out = Tools.fetchOpenlamStructures(spark, crystals,
      formula = Some("Fe₂O₃"), maxEnergy = Some(-36),
      minSubmissionTime = Some("2024-01-01 00:00:00"))
    assert(out.result.code == 0 && out.result.nFound == 1)
    assert(out.result.cleanedStructures.head("id") == 1L)
  }

  /** `f`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val (a, tally) = graft.Tally.of(spark)(f)
    (a, tally.jobs)
  }

  test("writing files does not run the tool's query a second time") {
    import spark.implicits._
    // repartitioned so the query runs as Spark jobs, not as a local
    // relation collected without one
    val crystals = Seq(
      (1L, "Fe2O3", -40.2, Timestamp.valueOf("2024-03-01 00:00:00")),
      (2L, "NaCl", -7.1, Timestamp.valueOf("2023-06-01 00:00:00")))
      .toDF("id", "formula", "energy", "submission_time").repartition(2)
    def jobsOf(outputDir: Option[String]): Int = {
      val (out, jobs) = jobsDuring(Tools.fetchOpenlamStructures(spark, crystals,
        formula = Some("Fe2O3"), outputDir = outputDir))
      assert(out.result.code == 0 && out.result.nFound == 1)
      assert(out.files.size == (if (outputDir.isDefined) 1 else 0))
      jobs
    }
    val without = jobsOf(None)
    val withFiles = jobsOf(Some(Files.createTempDirectory("tools-jobs").toString))
    assert(without > 0)
    assert(withFiles == without, s"with outputDir: $withFiles jobs, without: $without")
  }

  test("each OPTIMADE tool call runs one Spark job, with or without files") {
    // parquet-backed, so every source is a file scan that runs as Spark
    // jobs, not a local relation collected without one; each frame is
    // read once, as a server holds its registered sources
    val root = Files.createTempDirectory("tools-sources").toString
    val sources = structureSources.map { s =>
      val path = s"$root/${s.provider}"
      s.load().write.parquet(path)
      val frame = spark.read.parquet(path)
      s.copy(load = () => frame)
    }
    val calls: Seq[(String, Option[String] => Tools.ToolOutput)] = Seq(
      "filter" -> (d => Tools.fetchStructuresWithFilter(spark, sources,
        """elements HAS "Si"""", outputDir = d)),
      "spg" -> (d => Tools.fetchStructuresWithSpg(spark, sources, 221, outputDir = d)),
      "bandgap" -> (d => Tools.fetchStructuresWithBandgap(spark, sources,
        Some(0.5), Some(3.0), outputDir = d)))
    for ((tool, call) <- calls;
         dir <- Seq(None, Some(Files.createTempDirectory(s"tools-$tool").toString))) {
      val (out, jobs) = jobsDuring(call(dir))
      assert(out.result.code == 0, s"$tool: ${out.result.message}")
      assert(out.files.nonEmpty == dir.isDefined)
      assert(jobs == 1, s"$tool outputDir=${dir.isDefined}: $jobs jobs")
    }
  }

  test("envelope codes: -9999 on empty success, -1 on query error") {
    import spark.implicits._
    val crystals = Seq(
      (1L, "Fe2O3", -40.2, Timestamp.valueOf("2024-03-01 00:00:00")))
      .toDF("id", "formula", "energy", "submission_time")
    // empty SUCCESS → -9999, the reference's n_found==0 branch
    // (openlam server.py:199; same line in all five servers)
    val empty = Tools.fetchOpenlamStructures(spark, crystals,
      formula = Some("NaCl"))
    assert(empty.result.code == -9999 && empty.result.nFound == 0)
    // malformed ISO bound → ANSI parse error → -1 error envelope
    // (openlam server.py:133-141)
    val bad = Tools.fetchOpenlamStructures(spark, crystals,
      minSubmissionTime = Some("not-a-timestamp"))
    assert(bad.result.code == -1 && bad.result.nFound == 0)
  }

  test("filter guard: empty → reference message; malformed → parse envelope") {
    // empty/blank filter → the reference's EXACT envelope
    // (Optimade_Server/server.py:97-100), before any provider touch
    val empty = Tools.fetchStructuresWithFilter(spark, structureSources, "   ")
    assert(empty.result.code == -1 && empty.result.nFound == 0)
    assert(empty.result.message == "Empty filter string")
    // non-empty malformed filter → locally-owned grammar raises → same
    // −1 envelope carrying the parser's message (q256's oracle pins
    // the shape; CLAUDE.md ground rule records the judgment call)
    val bad = Tools.fetchStructuresWithFilter(spark, structureSources,
      "elements HAS ALL")
    assert(bad.result.code == -1 && bad.result.nFound == 0)
    assert(bad.result.message.nonEmpty &&
      bad.result.message != "Empty filter string")
  }

  test("fetch_bohrium_crystals and fetch_mofs parametric tools") {
    import spark.implicits._
    val bohrium = Seq(
      ("b1", "TiO2", "P4₂/mnm", 6, -3.1, 3.0),
      ("b2", "NaCl", "Fm3̅m", 8, -2.0, 5.9))
      .toDF("id", "formula", "space_symbol", "atom_count",
        "predicted_formation_energy", "band_gap")
    val outB = Tools.fetchBohriumCrystals(spark, bohrium, spacegroupNumber = Some(225))
    assert(outB.result.code == 0 && outB.result.nFound == 1)
    assert(outB.result.cleanedStructures.head("id") == "b2")

    val mofs = Seq(
      ("m1", "HKUST-1", "CSD", 0.72, 1200.0),
      ("m2", "MOF-5", "hMOF", 0.85, 3500.0))
      .toDF("mofid", "name", "database", "void_fraction", "surface_area_m2g")
    val outM = Tools.fetchMofs(spark, mofs, database = Some("CSD"))
    assert(outM.result.code == 0 && outM.result.nFound == 1)
  }

  test("fetch_mofs_sql: guarded, limited, and rejecting writes with -1 envelope") {
    graft.schema.MofFixtures.registerStar(spark)
    val ok = Tools.fetchMofsSql(spark,
      "SELECT id, name FROM mofs ORDER BY id", nResults = 5)
    assert(ok.result.code == 0 && ok.result.nFound == 5)
    val bad = Tools.fetchMofsSql(spark, "DROP TABLE mofs")
    assert(bad.result.code == -1)
    assert(bad.result.message.contains("SQL security check failed"))
  }

  test("fetch_mofs_sql copy variant (S6): cif_path copy, db-mapped path, JSON fallback") {
    import spark.implicits._
    // fixture corpus laid out like the reference's base_data_dir
    val base = Files.createTempDirectory("mof-corpus")
    Files.createDirectories(base.resolve("store"))
    Files.createDirectories(base.resolve("core2014"))
    Files.writeString(base.resolve("store/HKUST-1.cif"), "data_HKUST-1\n_cell_length_a 26.3\n")
    Files.writeString(base.resolve("store/HKUST-1.json"), """{"name":"HKUST-1","lcd":6.6}""")
    Files.writeString(base.resolve("core2014/ABAVIJ.cif"), "data_ABAVIJ\n_cell_length_a 11.1\n")
    val mofs = Seq(
      // explicit cif_path → both files copied
      ("m1", "HKUST-1", "CSD", "store/HKUST-1.cif"),
      // no cif_path, mapped database + name → constructed core2014/ path
      ("m2", "ABAVIJ", "CoREMOF 2014", null),
      // nothing usable → query-result JSON + requested-CIF warning
      ("m3", "idx-less", "UnknownDB", null))
      .toDF("mofid", "name", "database", "cif_path")
    mofs.createOrReplaceTempView("mofs_copy")
    val dir = Files.createTempDirectory("mof-out").toString
    val out = Tools.fetchMofsSql(spark,
      "SELECT mofid, name, database, cif_path FROM mofs_copy ORDER BY mofid",
      nResults = 10, outputDir = Some(dir), baseDataDir = Some(base.toString))
    assert(out.result.code == 0 && out.result.nFound == 3)
    val names = out.files.map(f => Paths.get(f).getFileName.toString).toSet
    assert(names.contains("CSD_HKUST-1_0.cif"))
    assert(names.contains("CSD_HKUST-1_0.json"))
    assert(names.contains("CoREMOF_2014_ABAVIJ_1.cif"))
    assert(names.contains("UnknownDB_idx-less_2.json"))
    // copied bytes are the originals, json pretty-printed but value-identical
    assert(Files.readString(Paths.get(dir, "CSD_HKUST-1_0.cif"))
      .contains("_cell_length_a 26.3"))
    assert(Files.readString(Paths.get(dir, "CSD_HKUST-1_0.json"))
      .replaceAll("\\s", "") == """{"name":"HKUST-1","lcd":6.6}""")
    assert(Files.readString(Paths.get(dir, "CoREMOF_2014_ABAVIJ_1.cif"))
      .contains("data_ABAVIJ"))
    // reference warning texts: missing sibling json for m2, no-cif for m3
    assert(out.result.message.contains("warning"))
    val manifest = Files.readString(Paths.get(dir, "summary.json"))
    assert(manifest.contains("Source file not found"))
    assert(manifest.contains("User requested CIF format but no cif_path found"))
  }

  test("pricing parity (F15)") {
    assert(Tools.price("fetch_structures_with_filter", 10) == Right((0.176, 18L)))
    assert(Tools.price("unknown_tool", 1).isLeft)
  }
}
