package graft.result

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import graft.federate.QuotaPlanner

/** The universal result envelope + manifest every reference server returns
  * (optimade_database/Optimade_Server/server.py:44-49,175-198 — identical
  * shape in all five modules).
  */
final case class FetchResult(
    outputDir: String,
    nFound: Long,
    cleanedStructures: Seq[Map[String, Any]],
    code: Int,
    message: String)

object FetchResult {
  /** MAX_RETURNED_STRUCTS — server.py:21, same constant in all 5 servers. */
  val MaxReturnedStructs = 30
}

/** Driver-side JSON emission (tiny payloads: manifests, plans, stats). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def any(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d == math.rint(d) && !d.isInfinite) d.toLong.toString else d.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => arr(xs)
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${any(v)}" }.mkString("{", ", ", "}")

  def arr(xs: Seq[Any]): String = xs.map(any).mkString("[", ", ", "]")

  /** An insertion-ordered JSON object value for [[pretty]] (Map would lose
    * key order, and order is part of the reference's manifest bytes). */
  final case class JObj(fields: Seq[(String, Any)])

  /** Python-escaped string: [[str]] plus non-ASCII → \\uXXXX, matching
    * json.dumps' default ensure_ascii=True. */
  def strAscii(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Byte-identical to Python's `json.dumps(v, indent=2)` (default
    * separators (',', ': '), ensure_ascii) for the value types manifests
    * carry — golden-tested in FederationSpec against an output generated
    * by executing the reference's manifest writer. */
  def pretty(v: Any, level: Int = 0): String = {
    val pad = "  " * (level + 1)
    val close = "  " * level
    v match {
      case JObj(fields) if fields.isEmpty => "{}"
      case JObj(fields) =>
        fields.map { case (k, x) => s"$pad${strAscii(k)}: ${pretty(x, level + 1)}" }
          .mkString("{\n", ",\n", s"\n$close}")
      case xs: Seq[_] if xs.isEmpty => "[]"
      case xs: Seq[_] =>
        xs.map(x => pad + pretty(x, level + 1)).mkString("[\n", ",\n", s"\n$close]")
      case null => "null"
      case s: String => strAscii(s)
      case b: Boolean => b.toString
      case i: Int => i.toString
      case l: Long => l.toString
      case d: Double =>
        if (d == math.rint(d) && !d.isInfinite) s"${d.toLong}.0" else d.toString
      case other => strAscii(other.toString)
    }
  }
}

/** Query manifest — the summary.json artifact (S8,
  * Optimade_Server/server.py:175-188): the reference's exact key set in
  * its exact order (mode, filter, providers_requested sorted,
  * providers_seen in first-seen order, files, warnings, format,
  * n_results, stats, plan, n_found), serialized byte-identically to its
  * `json.dumps(manifest, indent=2)`. Fan-out failures fold into
  * `warnings` as "provider@url: message" lines — the reference records
  * per-provider fetch errors the same way. Parity is golden-tested in
  * FederationSpec against bytes generated by EXECUTING the reference
  * writer shape (the quota-goldens technique). */
object Manifest {
  def write(dir: Path, filter: String, stats: QuotaPlanner.Stats,
            plan: QuotaPlanner.Plan, files: Seq[String],
            failures: Seq[(String, String)],
            mode: String = "raw_filter",
            format: String = "cif",
            nResults: Int = FetchResult.MaxReturnedStructs,
            providersSeen: Option[Seq[String]] = None,
            warnings: Seq[String] = Seq.empty,
            nFound: Option[Long] = None): Path = {
    Files.createDirectories(dir)
    def nested(xs: Seq[(String, Seq[(String, Int)])]): Json.JObj =
      Json.JObj(xs.map { case (c, us) =>
        c -> (Json.JObj(us.map { case (u, n) => u -> (n: Any) }): Any) })
    val json = Json.pretty(Json.JObj(Seq(
      "mode" -> mode,
      "filter" -> filter,
      "providers_requested" -> stats.map(_._1).sorted,
      "providers_seen" -> providersSeen.getOrElse(stats.map(_._1)),
      "files" -> files,
      "warnings" -> (warnings ++ failures.map { case (s, m) => s"$s: $m" }),
      "format" -> format,
      "n_results" -> nResults,
      "stats" -> nested(stats),
      "plan" -> nested(plan),
      "n_found" -> nFound.getOrElse(files.size.toLong))))
    val out = dir.resolve("summary.json")
    Files.writeString(out, json)
    out
  }
}

/** Structure file writers (S6/S7): one CIF and/or JSON per structure row.
  *
  * The reference reconstructs CIF via pymatgen from lattice + species +
  * cartesian positions (Optimade_Server/utils.py:439-449). Here the CIF
  * text is produced by [[CifWriter.cifText]] — minimal P1 cell with
  * fractional coordinates derived by inverting the lattice matrix.
  *
  * Writing N small files is a per-row side effect, not a relational
  * operator: rows are collected AFTER the plan has truncated to
  * MAX_RETURNED_STRUCTS (≤30), so this never pulls a large result to the
  * driver. For bulk export the relational path is `df.write.parquet/json`.
  */
object CifWriter {

  /** a,b,c,α,β,γ from 3×3 lattice row vectors. */
  def cellParams(lat: Seq[Seq[Double]]): (Double, Double, Double, Double, Double, Double) = {
    def norm(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    def angle(a: Seq[Double], b: Seq[Double]) =
      math.toDegrees(math.acos(dot(a, b) / (norm(a) * norm(b))))
    val Seq(va, vb, vc) = lat
    (norm(va), norm(vb), norm(vc), angle(vb, vc), angle(va, vc), angle(va, vb))
  }

  /** Invert a 3×3 matrix (for cartesian → fractional conversion). */
  def invert3(m: Seq[Seq[Double]]): Array[Array[Double]] = {
    val a = m.map(_.toArray).toArray
    val det =
      a(0)(0) * (a(1)(1) * a(2)(2) - a(1)(2) * a(2)(1)) -
      a(0)(1) * (a(1)(0) * a(2)(2) - a(1)(2) * a(2)(0)) +
      a(0)(2) * (a(1)(0) * a(2)(1) - a(1)(1) * a(2)(0))
    require(math.abs(det) > 1e-12, "singular lattice")
    val inv = Array.ofDim[Double](3, 3)
    inv(0)(0) = (a(1)(1) * a(2)(2) - a(1)(2) * a(2)(1)) / det
    inv(0)(1) = (a(0)(2) * a(2)(1) - a(0)(1) * a(2)(2)) / det
    inv(0)(2) = (a(0)(1) * a(1)(2) - a(0)(2) * a(1)(1)) / det
    inv(1)(0) = (a(1)(2) * a(2)(0) - a(1)(0) * a(2)(2)) / det
    inv(1)(1) = (a(0)(0) * a(2)(2) - a(0)(2) * a(2)(0)) / det
    inv(1)(2) = (a(0)(2) * a(1)(0) - a(0)(0) * a(1)(2)) / det
    inv(2)(0) = (a(1)(0) * a(2)(1) - a(1)(1) * a(2)(0)) / det
    inv(2)(1) = (a(0)(1) * a(2)(0) - a(0)(0) * a(2)(1)) / det
    inv(2)(2) = (a(0)(0) * a(1)(1) - a(0)(1) * a(1)(0)) / det
    inv
  }

  /** Minimal P1 CIF from (id, lattice row vectors, per-site species,
    * cartesian positions) — the lattice+species+positions round-trip scope
    * recorded as the fidelity goal in SURVEY §7 non-goals. */
  def cifText(id: String, lattice: Seq[Seq[Double]], species: Seq[String],
              cartesian: Seq[Seq[Double]]): String = {
    val (a, b, c, al, be, ga) = cellParams(lattice)
    val inv = invert3(lattice)
    // row-vector convention: frac = cart · L⁻¹
    def frac(p: Seq[Double]): Seq[Double] =
      (0 until 3).map(j => p(0) * inv(0)(j) + p(1) * inv(1)(j) + p(2) * inv(2)(j))
    val sb = new StringBuilder
    sb.append(s"data_$id\n")
    sb.append(f"_cell_length_a $a%.6f\n_cell_length_b $b%.6f\n_cell_length_c $c%.6f\n")
    sb.append(f"_cell_angle_alpha $al%.4f\n_cell_angle_beta $be%.4f\n_cell_angle_gamma $ga%.4f\n")
    sb.append("_symmetry_space_group_name_H-M 'P 1'\n_symmetry_Int_Tables_number 1\n")
    sb.append("loop_\n _atom_site_type_symbol\n _atom_site_label\n")
    sb.append(" _atom_site_fract_x\n _atom_site_fract_y\n _atom_site_fract_z\n")
    species.zip(cartesian).zipWithIndex.foreach { case ((sp, pos), i) =>
      val f = frac(pos)
      sb.append(f" $sp $sp${i}%d ${f(0)}%.6f ${f(1)}%.6f ${f(2)}%.6f\n")
    }
    sb.toString
  }

  /** Write one CIF or one JSON per row of a (small, already truncated)
    * result, named by its `id`. A CIF reads the OPTIMADE columns
    * `lattice_vectors`, `species_at_sites` and `cartesian_site_positions`.
    * Failed writes are reported, not fatal, and do not claim the id (O4
    * retry semantics belong to the caller's dedup). */
  def writeStructures(df: DataFrame, outDir: String,
                      asCif: Boolean = true): (Seq[String], Seq[String]) =
    // ≤ MaxReturnedStructs rows by contract
    writeRows(df.collect().toSeq, outDir, asCif)

  /** [[writeStructures]] over rows the caller has already collected, so a
    * tool call that returns the rows and writes them runs its query once. */
  def writeRows(rows: Seq[Row], outDir: String,
                asCif: Boolean = true): (Seq[String], Seq[String]) = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    val files = Seq.newBuilder[String]
    val warnings = Seq.newBuilder[String]
    rows.foreach { row =>
      val id = row.getAs[Any]("id").toString
      try {
        if (asCif) {
          // Spark hands back mutable ArraySeq; normalize to immutable
          val lat = row.getSeq[scala.collection.Seq[Double]](row.fieldIndex("lattice_vectors"))
            .map(_.toSeq).toSeq
          val sp = row.getSeq[String](row.fieldIndex("species_at_sites")).toSeq
          val pos = row.getSeq[scala.collection.Seq[Double]](row.fieldIndex("cartesian_site_positions"))
            .map(_.toSeq).toSeq
          val p = dir.resolve(s"$id.cif")
          Files.writeString(p, cifText(id, lat, sp, pos))
          files += p.toString
        } else {
          val p = dir.resolve(s"$id.json")
          Files.writeString(p, rowJson(row))
          files += p.toString
        }
      } catch {
        case e: Exception => warnings += s"failed to save $id: ${e.getMessage}"
      }
    }
    (files.result(), warnings.result())
  }

  private[result] def rowJson(row: Row): String =
    Json.obj(row.schema.fieldNames.toSeq.map { f =>
      f -> (row.getAs[Any](f) match {
        case s: collection.Seq[_] => s.toSeq
        case m: collection.Map[_, _] => m.toMap.map { case (k, v) => k.toString -> v }
        case other => other
      })
    })
}
