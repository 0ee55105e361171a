package graft.result

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.Row

/** S6 "copy" save variant — the mofdbsql per-result file materializer
  * (reference semantics: mofdbsql_database/Mofdb_Server/utils.py:135-265).
  *
  * Where [[CifWriter]] RECONSTRUCTS a CIF from lattice + species +
  * positions (the OPTIMADE servers' path), MOF rows carry a `cif_path`
  * into an on-disk corpus instead, and the reference COPIES the original
  * files:
  *
  *  - stem = safe(provider) + "_" + safe(identifier) + "_" + index, where
  *    identifier prefers name → mofkey → mofid → id → "idx{i}"
  *    (utils.py:113-124) and provider is the database tag (utils.py:127-132).
  *  - row has `cif_path`  → copy baseDataDir/cif_path as stem.cif; the
  *    sibling .json is re-serialized pretty (utils.py:153-186).
  *  - no `cif_path` but a recognized database + real name → CONSTRUCT the
  *    path via the database→subdir mapping (utils.py:194-207):
  *    "CoREMOF 2014"→core2014, "CoREMOF 2019"→core2019, "hMOF"→hmof,
  *    "IZA"→iza, "Tobacco"→tobacco, "PCOD-syn"→pcod.
  *  - neither → save the query row itself as JSON; if the caller asked for
  *    CIF, record the reference's warning text and fall back to JSON
  *    (utils.py:241-262).
  *  - any missing source file → "Source file not found: …" warning, never
  *    fatal (utils.py:183-186).
  *
  * Driver-side by contract: rows arrive AFTER truncation to
  * MAX_RETURNED_STRUCTS (≤30), so this never materializes a large result.
  */
object MofSaver {

  /** Database → corpus subdirectory (utils.py:196-207, same match order —
    * `contains`, first hit wins). */
  private val DbSubdirs: Seq[(String, String)] = Seq(
    "CoREMOF 2014" -> "core2014",
    "CoREMOF 2019" -> "core2019",
    "hMOF"         -> "hmof",
    "IZA"          -> "iza",
    "Tobacco"      -> "tobacco",
    "PCOD-syn"     -> "pcod")

  /** utils.py:98-110 — safe, short filename stem. */
  def safeBasename(text: String, maxLen: Int = 80): String = {
    val t0 = Option(text).getOrElse("mof")
    val t1 = t0.replace("/", "_").replace("\\", "_").replace(" ", "_")
    val t2 = t1.replaceAll("[^A-Za-z0-9._-]", "_")
    val t3 = t2.replaceAll("_+", "_").stripPrefix("_").stripSuffix("_")
    val cut = t3.take(maxLen)
    if (cut.isEmpty) "mof" else cut
  }

  private def strField(row: Row, name: String): Option[String] =
    if (row.schema.fieldNames.contains(name))
      Option(row.getAs[Any](name)).map(_.toString).filter(_.nonEmpty)
    else None

  /** utils.py:113-124 — name → mofkey → mofid → id → idx{i}. */
  def pickIdentifier(row: Row, idx: Int): String =
    safeBasename(
      strField(row, "name")
        .orElse(strField(row, "mofkey"))
        .orElse(strField(row, "mofid"))
        .orElse(strField(row, "id"))
        .getOrElse(s"idx$idx"),
      maxLen = 20)

  final case class Saved(files: Seq[String], warnings: Seq[String])

  /** Copy-or-fallback save of already-truncated result rows. Mirrors
    * save_mofs(items, output_dir, output_formats) row-for-row. */
  def saveMofs(rows: Seq[Row], outputDir: String, baseDataDir: String,
               formats: Seq[String] = Seq("cif", "json")): Saved = {
    val out = Paths.get(outputDir)
    Files.createDirectories(out)
    val base = Paths.get(baseDataDir).toAbsolutePath.normalize()
    val files = Seq.newBuilder[String]
    val warnings = Seq.newBuilder[String]

    // cif_path comes from query-result DATA — resolve it inside the corpus
    // only (a row carrying '../..' must not read outside baseDataDir; the
    // escape degrades to the reference's "Source file not found" warning)
    def resolveContained(rel: String, ident: String): Option[Path] = {
      val p = base.resolve(rel).normalize()
      if (p.startsWith(base)) Some(p)
      else { warnings += s"Source file not found: $rel for $ident"; None }
    }

    def copyPair(fullCif: Path, stem: String, ident: String): Unit =
      formats.foreach {
        case "cif" =>
          copyOne(fullCif, out.resolve(s"$stem.cif"), pretty = false,
            ident, "cif", files, warnings)
        case "json" =>
          val sibling = fullCif.resolveSibling(
            fullCif.getFileName.toString.replaceAll("\\.[^.]*$", "") + ".json")
          copyOne(sibling, out.resolve(s"$stem.json"), pretty = true,
            ident, "json", files, warnings)
        case _ => ()
      }

    rows.zipWithIndex.foreach { case (row, i) =>
      val prov = safeBasename(strField(row, "database").getOrElse("mofdb"))
      val ident = pickIdentifier(row, i)
      val stem = safeBasename(s"${prov}_${ident}_$i")
      strField(row, "cif_path") match {
        case Some(rel) =>
          resolveContained(rel, ident).foreach(copyPair(_, stem, ident))
        case None =>
          val database = strField(row, "database").getOrElse("")
          val name = strField(row, "name").getOrElse("")
          val constructed =
            if (name.nonEmpty && !name.startsWith("idx") && database.nonEmpty)
              DbSubdirs.collectFirst {
                case (tag, sub) if database.contains(tag) => s"$sub/$name.cif"
              }
            else None
          constructed match {
            case Some(rel) =>
              resolveContained(rel, ident).foreach(copyPair(_, stem, ident))
            case None =>
              // no path construction possible → query-result JSON
              // (+ the reference's requested-CIF warning, utils.py:251-255)
              if (formats.contains("cif")) warnings +=
                s"Result $i ($ident): User requested CIF format but no cif_path found in query result"
              if (formats.contains("cif") || formats.contains("json")) {
                val p = out.resolve(s"$stem.json")
                try { Files.writeString(p, CifWriter.rowJson(row)); files += p.toString }
                catch { case e: Exception =>
                  warnings += s"Failed to save JSON file for $ident: ${e.getMessage}" }
              }
          }
      }
    }
    Saved(files.result(), warnings.result())
  }

  private def copyOne(src: Path, dst: Path, pretty: Boolean, ident: String,
                      kind: String, files: scala.collection.mutable.Builder[String, Seq[String]],
                      warnings: scala.collection.mutable.Builder[String, Seq[String]]): Unit =
    if (Files.exists(src)) {
      try {
        if (pretty) Files.writeString(dst, prettyJson(Files.readString(src)))
        else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
        files += dst.toString
      } catch { case e: Exception =>
        warnings += s"Failed to copy $kind file for $ident: ${e.getMessage}" }
    } else warnings += s"Source file not found: $src for $ident"

  /** Re-indent a JSON document (the reference round-trips through
    * json.load/json.dump(indent=2); here a minimal whitespace-normalizing
    * reprint that leaves values byte-identical). */
  def prettyJson(text: String): String = {
    val sb = new StringBuilder
    var depth = 0
    var inStr = false
    var esc = false
    def nl(): Unit = { sb.append('\n'); sb.append("  " * depth) }
    text.foreach { c =>
      if (inStr) {
        sb.append(c)
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true; sb.append(c)
        case '{' | '[' => sb.append(c); depth += 1; nl()
        case '}' | ']' => depth -= 1; nl(); sb.append(c)
        case ',' => sb.append(c); nl()
        case ':' => sb.append(": ")
        case w if w.isWhitespace => ()
        case other => sb.append(other)
      }
    }
    sb.toString
  }
}
