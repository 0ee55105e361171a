package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.api.Tools
import graft.federate.{Federation, Mediation, QuotaPlanner}
import graft.filter.OptimadeCompiler
import graft.functions.Formulas
import graft.query.Parametric
import graft.result.{CifWriter, FetchResult, Manifest}
import graft.sql.SqlGuard
import graft.tables.Tables

/** The inputs of the seven tool entry points: the OPTIMADE provider
  * registry, the three single-source views and the SQL surface's tables. */
final class Inputs(spark: SparkSession, data: String, providers: Seq[String],
                   failProvider: Option[String]) {
  private def read(name: String): DataFrame = spark.read.parquet(s"$data/$name.parquet")

  Tables.registerAll(spark, data)
  val bohrium: DataFrame = read("bohrium")
  val openlam: DataFrame = read("openlam")
  val mofs: DataFrame = read("mofs")

  // Each provider's frame is read once, as a server holds its registered sources.
  private val registry: Map[String, Federation.Source] = providers.map { p =>
    val frame = read(s"optimade_$p")
    p -> Federation.Source(p, s"https://optimade.$p.example/v1", () =>
      if (failProvider.contains(p)) throw new IllegalStateException(s"provider $p is unreachable")
      else frame)
  }.toMap

  def sources(names: Seq[String]): Seq[Federation.Source] = names.map(registry)
}

/** Runs tool calls from a script, records each envelope and, when traced,
  * the per-layer record of each call. */
final class ToolRun(spark: SparkSession, in: Inputs, work: String, rec: Records) {

  private def predicate(op: Op): Column = {
    def compile(f: String) = OptimadeCompiler.compileOrThrow(Formulas.normalizeCfrInFilter(f))
    op.tool match {
      case "filter" => compile(op.str("filter"))
      case "spg" =>
        Mediation.combineFilters(op.optStr("base").map(compile),
          Some(col("space_group_number") === op.int("spg"))).get
      case "bandgap" =>
        val (lo, hi) = op.range("band_gap")
        Mediation.combineFilters(op.optStr("base").map(compile),
          Some(Parametric.NumRange("band_gap", lo, hi).toColumn && col("band_gap").isNotNull)).get
    }
  }

  private def parametric(op: Op): (Parametric.Query, DataFrame) = op.tool match {
    case "bohrium" =>
      (Parametric.bohriumQuery(op.optStr("formula"), op.int("match_mode"), None,
        op.strs("atom_count"), op.strs("formation_energy"), op.strs("band_gap"), op.int("n")),
        in.bohrium)
    case "openlam" =>
      val (lo, hi) = op.range("energy")
      (Parametric.openlamQuery(op.optStr("formula"), lo, hi, op.optStr("min_time"),
        op.optStr("max_time"), nResults = op.int("n")), in.openlam)
    case "mofs" =>
      (Parametric.mofQuery(database = op.optStr("database"), vf = op.range("void_fraction"),
        lcd = op.range("lcd"), pld = op.range("pld"), saM2g = op.range("surface_area_m2g"),
        nResults = op.int("n")), in.mofs)
  }

  def call(op: Op, outDir: Option[String]): Tools.ToolOutput = {
    val n = op.int("n")
    lazy val srcs = in.sources(op.strs("providers"))
    op.tool match {
      case "filter" =>
        Tools.fetchStructuresWithFilter(spark, srcs, op.str("filter"), n,
          outputDir = outDir, asCif = outDir.isDefined)
      case "spg" =>
        Tools.fetchStructuresWithSpg(spark, srcs, op.int("spg"), op.optStr("base"), n,
          outputDir = outDir)
      case "bandgap" =>
        val (lo, hi) = op.range("band_gap")
        Tools.fetchStructuresWithBandgap(spark, srcs, lo, hi, op.optStr("base"), n,
          outputDir = outDir)
      case "bohrium" =>
        Tools.fetchBohriumCrystals(spark, in.bohrium, op.optStr("formula"), op.int("match_mode"),
          None, op.strs("atom_count"), op.strs("formation_energy"), op.strs("band_gap"), n, outDir)
      case "openlam" =>
        val (lo, hi) = op.range("energy")
        Tools.fetchOpenlamStructures(spark, in.openlam, op.optStr("formula"), lo, hi,
          op.optStr("min_time"), op.optStr("max_time"), n, outDir)
      case "mofs" =>
        Tools.fetchMofs(spark, in.mofs, database = op.optStr("database"),
          vf = op.range("void_fraction"), lcd = op.range("lcd"), pld = op.range("pld"),
          saM2g = op.range("surface_area_m2g"), nResults = n, outputDir = outDir)
      case "mofs_sql" =>
        Tools.fetchMofsSql(spark, op.str("sql"), n, outDir)
    }
  }

  private def federated(op: Op) = Set("filter", "spg", "bandgap").contains(op.tool)

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }

  /** Names and total size of the files a call left in `dir`; removes them. */
  private def collectFiles(dir: Option[String]): (Seq[String], Long) = dir match {
    case Some(d) if Files.isDirectory(Paths.get(d)) =>
      val p = Paths.get(d)
      val files = Files.list(p).iterator().asScala.toSeq.filter(Files.isRegularFile(_))
      val out = (files.map(_.getFileName.toString).sorted, files.map(Files.size).sum)
      deleteTree(p)
      out
    case _ => (Nil, 0L)
  }

  /** Executes one call and records its envelope; returns the call's wall ms. */
  def run(op: Op, key: String, phase: String, trace: Option[Trace] = None): Double = {
    val outDir = if (op.flag("export")) Some(s"$work/out/$key") else None
    def exec() = try Right(call(op, outDir)) catch { case NonFatal(e) => Left(e) }
    val (res, ms) = Clock.ms(trace.fold(exec())(_.within(key)(exec())))
    val (files, bytes) = collectFiles(outDir)
    res match {
      case Right(o) =>
        rec.write("phase" -> phase, "key" -> key, "tool" -> op.tool, "ms" -> ms,
          "code" -> o.result.code, "n_found" -> o.result.nFound, "message" -> o.result.message,
          "ids" -> o.result.cleanedStructures.map(_.get("id").map(_.toString).orNull),
          "files" -> files, "bytes" -> bytes, "error" -> null)
      case Left(e) =>
        rec.write("phase" -> phase, "key" -> key, "tool" -> op.tool, "ms" -> ms,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
    trace.foreach { t =>
      val layers = try layersOf(op, outDir.isDefined, key) catch {
        case NonFatal(e) => Map("layer_error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      rec.write((Seq("phase" -> "layers", "key" -> key, "tool" -> op.tool, "ms" -> ms,
        "rows_returned" -> res.fold(_ => 0L, _.result.nFound),
        "files_written" -> files.size, "bytes_written" -> bytes,
        "storage_bytes" -> graft.Caches.storageBytes(spark)) ++
        t.totalsOf(key).toSeq ++ layers.toSeq): _*)
    }
    ms
  }

  /** Per-layer spans of one call, replayed: each layer's public functions
    * are called again with the call's arguments, composed here as Tools
    * composes them today, so a change in that composition does not show.
    * Spark work done here runs under its own job group, so it is not
    * attributed to the call. */
  private def layersOf(op: Op, export: Boolean, key: String): Map[String, Any] = {
    spark.sparkContext.setJobGroup(s"$key.layers", "layer spans", interruptOnCancel = false)
    try {
      val n = op.int("n")
      var out = Map.empty[String, Any]
      val finalFrame: DataFrame =
        if (federated(op)) {
          val (pred, compileMs) = Clock.ms(predicate(op))
          val srcs = in.sources(op.strs("providers"))
          val (fo, fanMs) = Clock.ms(Federation.fanOut(spark, srcs, Some(pred), Some(n), Some("id")))
          val (st, statsMs) = Clock.ms(
            if (fo.data.columns.isEmpty) Seq.empty else Federation.stats(fo.data, Some(n)))
          val (_, quotaMs) = Clock.ms(QuotaPlanner.distributeQuotaFair(st, n))
          out ++= Map("filter_compile_ms" -> compileMs, "fanout_build_ms" -> fanMs,
            "stats_ms" -> statsMs, "quota_ms" -> quotaMs, "sources_failed" -> fo.failures.size)
          if (!export || fo.data.columns.isEmpty) null
          else {
            val d = Federation.federatedQuery(spark, srcs, Some(pred), n, "id", "id").data
            if (op.tool == "filter") Mediation.dropAttrs(d) else d
          }
        } else if (op.tool == "mofs_sql") {
          val (_, guardMs) = Clock.ms(SqlGuard.validate(spark, op.str("sql")))
          val (df, buildMs) = Clock.ms(SqlGuard.fetchSql(spark, op.str("sql"), n))
          out ++= Map("sql_guard_ms" -> guardMs, "query_build_ms" -> buildMs)
          df
        } else {
          val ((q, view), qMs) = Clock.ms(parametric(op))
          val (df, runMs) = Clock.ms(q.run(view))
          out ++= Map("query_build_ms" -> (qMs + runMs))
          df
        }
      if (export && finalFrame != null) {
        val rows = finalFrame.limit(FetchResult.MaxReturnedStructs).collect()
        val local = spark.createDataFrame(rows.toSeq.asJava, finalFrame.schema)
        val dir = Paths.get(s"$work/replay/$key")
        val (_, writeMs) = Clock.ms {
          val asCif = op.tool == "filter"
          val (fs, ws) = CifWriter.writeStructures(local, dir.toString, asCif = asCif)
          Manifest.write(dir, op.tool, Seq.empty, Seq.empty, fs, Seq.empty,
            format = if (asCif) "cif" else "json", warnings = ws)
        }
        deleteTree(dir)
        out += ("write_ms" -> writeMs)
      }
      out
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Which providers fail to load, by name. */
  def audit(providers: Seq[String]): Map[String, String] =
    in.sources(providers).flatMap { s =>
      try { s.load(); None }
      catch { case NonFatal(e) => Some(s.provider -> s"${e.getClass.getName}: ${e.getMessage}") }
    }.toMap
}
