package graft.api

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.federate.{Federation, Mediation, QuotaPlanner}
import graft.filter.OptimadeCompiler
import graft.functions.{DomainFunctions, Formulas, SpaceGroups}
import graft.query.Parametric
import graft.result.{CifWriter, FetchResult, Manifest, MofSaver}
import graft.sql.SqlGuard

/** The reference's seven tool entry points, composed end-to-end: query →
  * truncation to MAX_RETURNED_STRUCTS → cleaned structures (P1 drop) →
  * manifest + optional per-structure CIF/JSON files → [[FetchResult]]
  * envelope (code 0 success / -1 failure with message, like every
  * reference server).
  *
  * A user of the reference can switch surface-for-surface:
  *  - fetch_structures_with_filter / _with_spg / _with_bandgap
  *    (optimade_database/Optimade_Server/server.py:59,203,358)
  *  - fetch_bohrium_crystals (bohriumpublic .../server.py:61)
  *  - fetch_openlam_structures (openlam .../server.py:60)
  *  - fetch_mofs (mofdb .../server.py:58)
  *  - fetch_mofs_sql (mofdbsql .../server.py:57)
  */
object Tools {

  final case class ToolOutput(result: FetchResult,
                              plan: QuotaPlanner.Plan,
                              files: Seq[String])

  private def finish(df: DataFrame, outputDir: Option[String],
                     filterDesc: String,
                     stats: QuotaPlanner.Stats = Seq.empty,
                     plan: QuotaPlanner.Plan = Seq.empty,
                     failures: Seq[(String, String)] = Seq.empty,
                     writeCif: Boolean = false,
                     nResults: Int = FetchResult.MaxReturnedStructs): ToolOutput = {
    val rows = df.limit(FetchResult.MaxReturnedStructs).collect()
    val cleaned = rows.map { r =>
      r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap
    }.toSeq
    val (dir, files) = outputDir match {
      case Some(d) =>
        val p = Paths.get(d)
        Files.createDirectories(p)
        val (fs, ws) = CifWriter.writeRows(rows.toSeq, d, asCif = writeCif)
        Manifest.write(p, filterDesc, stats, plan, fs, failures,
          format = if (writeCif) "cif" else "json",
          nResults = nResults, warnings = ws,
          nFound = Some(rows.length.toLong))
        (d, fs)
      case None => ("", Seq.empty[String])
    }
    ToolOutput(
      // Every reference server distinguishes an empty success from a
      // populated one: `"code": -9999 if n_found == 0 else 0`
      // (optimade server.py:196/352/510, bohriumpublic server.py:223,
      // openlam server.py:199, mofdbsql server.py:200).
      FetchResult(dir, rows.length.toLong, cleaned,
        if (rows.isEmpty) -9999 else 0, "success"),
      plan, files)
  }

  private def failure(msg: String): ToolOutput =
    // the envelope contract is a NON-null message — consumers inspect
    // its shape (q256, ToolsSpec), so never let a null through
    ToolOutput(FetchResult("", 0, Seq.empty, -1,
      Option(msg).getOrElse("error")), Seq.empty, Seq.empty)

  /** getMessage can be null (e.g. a bare NPE from plumbing); fall back
    * to the exception class name so the envelope stays diagnostic. */
  private def failure(e: Exception): ToolOutput =
    failure(Option(e.getMessage).getOrElse(e.getClass.getName))

  /** OPTIMADE raw-filter federation (§3.2 lifecycle).
    *
    * Negative paths mirror the reference's filter guard
    * (optimade_database/Optimade_Server/server.py:97-100): an
    * empty/blank filter short-circuits to the −1 envelope with the
    * reference's exact "Empty filter string" message before any
    * normalization. A NON-empty malformed filter is where the rebuild
    * owns what the reference delegates: the reference forwards the
    * string verbatim to remote providers (each then errors remotely);
    * here the grammar is evaluated locally, so the compiler's parse
    * error surfaces as the same −1 envelope with the parse message —
    * the API-forwarding analog, oracle-pinned by q256 (the q241
    * judgment-call pattern, CLAUDE.md ground rule). */
  def fetchStructuresWithFilter(spark: SparkSession,
                                sources: Seq[Federation.Source],
                                filter: String,
                                nResults: Int = 10,
                                idCol: String = "id",
                                outputDir: Option[String] = None,
                                asCif: Boolean = false): ToolOutput =
    try {
      if (filter == null || filter.trim.isEmpty)
        // reference: `if not filt: return {..., "code": -1,
        //   "message": "Empty filter string"}` (server.py:97-100)
        failure("Empty filter string")
      else {
        val canonical = Formulas.normalizeCfrInFilter(filter)
        val pred = OptimadeCompiler.compileOrThrow(canonical)
        val fr = Federation.federatedQuery(
          spark, sources, Some(pred), nResults, idCol, idCol)
        // Files are written from the full rows (a CIF needs the site
        // columns); the P1 drop applies only to the envelope's cleaned
        // copies, the reference's order (Optimade_Server/utils.py:387-485).
        val out = finish(fr.data, outputDir, canonical,
          fr.stats, fr.plan, fr.failures, writeCif = asCif,
          nResults = nResults)
        out.copy(result = out.result.copy(cleanedStructures =
          out.result.cleanedStructures.map(_ -- Mediation.OptimadeDropAttrs)))
      }
    } catch { case e: Exception => failure(e) }

  /** Space-group tool: canonical space_group_number predicate (mediated
    * per-source, F5) AND an optional base filter. */
  def fetchStructuresWithSpg(spark: SparkSession,
                             sources: Seq[Federation.Source],
                             spgNumber: Int,
                             baseFilter: Option[String] = None,
                             nResults: Int = 10,
                             idCol: String = "id",
                             outputDir: Option[String] = None): ToolOutput =
    try {
      if (spgNumber < 1 || spgNumber > 230)
        failure(s"space group number out of range: $spgNumber")
      else {
        val spgPred = col("space_group_number") === spgNumber
        val pred = Mediation.combineFilters(
          baseFilter.map(f => OptimadeCompiler.compileOrThrow(
            Formulas.normalizeCfrInFilter(f))),
          Some(spgPred)).get
        val fr = Federation.federatedQuery(
          spark, sources, Some(pred), nResults, idCol, idCol)
        finish(fr.data, outputDir,
          s"spg=$spgNumber (${SpaceGroups.fromNumber(spgNumber).getOrElse("?")})" +
            baseFilter.fold("")(f => s" AND ($f)"),
          fr.stats, fr.plan, fr.failures, nResults = nResults)
      }
    } catch { case e: Exception => failure(e) }

  /** Band-gap tool: canonical band_gap range (mediated per-source). */
  def fetchStructuresWithBandgap(spark: SparkSession,
                                 sources: Seq[Federation.Source],
                                 minBg: Option[Double], maxBg: Option[Double],
                                 baseFilter: Option[String] = None,
                                 nResults: Int = 10,
                                 idCol: String = "id",
                                 outputDir: Option[String] = None): ToolOutput =
    try {
      val range = Parametric.NumRange("band_gap", minBg, maxBg).toColumn &&
        col("band_gap").isNotNull
      val pred = Mediation.combineFilters(
        baseFilter.map(f => OptimadeCompiler.compileOrThrow(
          Formulas.normalizeCfrInFilter(f))),
        Some(range)).get
      val fr = Federation.federatedQuery(
        spark, sources, Some(pred), nResults, idCol, idCol)
      finish(fr.data, outputDir,
        SpaceGroups.rangeClause("band_gap", minBg, maxBg) +
          baseFilter.fold("")(f => s" AND ($f)"),
        fr.stats, fr.plan, fr.failures, nResults = nResults)
    } catch { case e: Exception => failure(e) }

  /** OpenLAM parametric tool over a crystals table. */
  def fetchOpenlamStructures(spark: SparkSession, crystals: DataFrame,
                             formula: Option[String] = None,
                             minEnergy: Option[Double] = None,
                             maxEnergy: Option[Double] = None,
                             minSubmissionTime: Option[String] = None,
                             maxSubmissionTime: Option[String] = None,
                             nResults: Int = 10,
                             outputDir: Option[String] = None): ToolOutput =
    try {
      val q = Parametric.openlamQuery(formula, minEnergy, maxEnergy,
        minSubmissionTime, maxSubmissionTime, nResults = nResults)
      finish(q.run(crystals), outputDir,
        s"openlam formula=$formula energy=[$minEnergy,$maxEnergy] " +
          s"time=[$minSubmissionTime,$maxSubmissionTime]",
        nResults = nResults)
    } catch { case e: Exception => failure(e) }

  /** Bohrium parametric tool over a bohrium_crystals table. */
  def fetchBohriumCrystals(spark: SparkSession, crystals: DataFrame,
                           formula: Option[String] = None,
                           matchMode: Int = 1,
                           spacegroupNumber: Option[Int] = None,
                           atomCountRange: Seq[String] = Nil,
                           formationEnergyRange: Seq[String] = Nil,
                           bandGapRange: Seq[String] = Nil,
                           nResults: Int = 10,
                           outputDir: Option[String] = None): ToolOutput =
    try {
      val q = Parametric.bohriumQuery(formula, matchMode, spacegroupNumber,
        atomCountRange, formationEnergyRange, bandGapRange, nResults)
      finish(q.run(crystals), outputDir,
        s"bohrium formula=$formula spg=$spacegroupNumber",
        nResults = nResults)
    } catch { case e: Exception => failure(e) }

  /** MOFdb parametric tool over a mofs table. */
  def fetchMofs(spark: SparkSession, mofs: DataFrame,
                mofid: Option[String] = None, mofkey: Option[String] = None,
                name: Option[String] = None, database: Option[String] = None,
                vf: (Option[Double], Option[Double]) = (None, None),
                lcd: (Option[Double], Option[Double]) = (None, None),
                pld: (Option[Double], Option[Double]) = (None, None),
                saM2g: (Option[Double], Option[Double]) = (None, None),
                nResults: Int = 10,
                outputDir: Option[String] = None): ToolOutput =
    try {
      val q = Parametric.mofQuery(mofid, mofkey, name, database,
        vf, lcd, pld, saM2g, nResults = nResults)
      finish(q.run(mofs), outputDir, s"mofs database=$database name=$name",
        nResults = nResults)
    } catch { case e: Exception => failure(e) }

  /** SQL pass-through tool (guard + LIMIT injection, §3.1).
    *
    * When `baseDataDir` is given, files are saved via the reference's
    * COPY path (S6 copy variant, [[graft.result.MofSaver]] —
    * mofdbsql_database/Mofdb_Server/utils.py:135-265): `cif_path` rows
    * copy the original CIF + pretty sibling JSON out of the corpus,
    * path-less rows fall back to query-result JSON with the reference's
    * warning text. Without it, the reconstruct/JSON writer is used as
    * before. */
  def fetchMofsSql(spark: SparkSession, sql: String, nResults: Int = 10,
                   outputDir: Option[String] = None,
                   baseDataDir: Option[String] = None,
                   outputFormats: Seq[String] = Seq("cif", "json")): ToolOutput =
    try {
      val df = SqlGuard.fetchSql(spark, sql, nResults)
      (outputDir, baseDataDir) match {
        case (Some(d), Some(base)) =>
          val truncated = df.limit(FetchResult.MaxReturnedStructs)
          val rows = truncated.collect().toSeq
          val cleaned = rows.map { r =>
            r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap
          }
          val p = Paths.get(d)
          Files.createDirectories(p)
          val saved = MofSaver.saveMofs(rows, d, base, outputFormats)
          Manifest.write(p, sql, Seq.empty, Seq.empty, saved.files,
            saved.warnings.map(("mofdbsql", _)))
          ToolOutput(
            FetchResult(d, rows.length.toLong, cleaned,
              if (rows.isEmpty) -9999 else 0, // mofdbsql server.py:200
              if (saved.warnings.isEmpty) "success"
              else s"success with ${saved.warnings.size} warning(s)"),
            Seq.empty, saved.files)
        case _ => finish(df, outputDir, sql)
      }
    } catch {
      case e: SqlGuard.GuardError => failure(s"SQL security check failed: ${e.message}")
      case e: Exception => failure(e)
    }

  /** Photon pricing for a tool invocation (F15). */
  def price(toolName: String, nResults: Int): Either[String, (Double, Long)] =
    DomainFunctions.photonCost(toolName, nResults)
}
