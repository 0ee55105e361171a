package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard against second public forms that nothing runs: every public
  * `def` in `src/main/scala/graft/{operators,functions,federate}` must be
  * referenced somewhere in `src/main` or `perfbench/src` outside its own
  * definition, or sit on [[OrphanDefSpec.AllowList]] with the reference
  * function it ports cited as `file:line` (the citation must also appear
  * in the defining file, i.e. in the def's scaladoc).
  *
  * Comments are stripped before counting, so a scaladoc link does not
  * count as a caller; string literals are kept, so a SQL text calling a
  * registered function does. Only members at object level (indent ≤ 4)
  * are checked; `private`, `protected` and `override` defs are skipped.
  *
  * The match is by NAME, not by symbol. A name declared once counts as
  * used when it occurs anywhere beyond its declaration. A name declared
  * more than once (in any scanned or caller file) would keep each
  * same-named def alive, so such a def counts as used only when a caller
  * writes it as `Owner.name` (its enclosing object, class or trait) or
  * its own file uses the bare name beyond its declarations. An
  * overload in the same object, or an imported bare call from another
  * file, is therefore seen only through `Owner.name`. The guard catches
  * the common case cheaply; it is not a call graph.
  */
class OrphanDefSpec extends AnyFunSuite {

  import OrphanDefSpec._

  private lazy val root: Path = {
    val here = Paths.get(sys.props("user.dir")).toAbsolutePath
    Iterator.iterate(here)(_.getParent).takeWhile(_ != null)
      .find(p => Files.isDirectory(p.resolve("src/main/scala/graft")))
      .getOrElse(fail(s"no src/main/scala/graft above $here"))
  }

  private def sources(dir: String): Map[String, String] = {
    val d = root.resolve(dir)
    if (!Files.isDirectory(d)) Map.empty
    else {
      val s = Files.walk(d)
      try s.iterator.asScala
        .filter(p => p.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
      finally s.close()
    }
  }

  private lazy val mainSources = sources("src/main/scala")
  private lazy val callerSources = mainSources ++ sources("perfbench/src")
  private lazy val scanned = mainSources.filter { case (p, _) => ScannedDirs.exists(p.startsWith) }

  test("every public def in operators/functions/federate has a caller or a cited reason") {
    assert(scanned.size > 50, s"scan found only ${scanned.size} files under $root")
    val flagged = orphans(scanned, callerSources.values.toSeq)
    val unexplained = flagged.keySet -- AllowList.keySet
    assert(unexplained.isEmpty,
      "public defs with no caller in src/main or perfbench/src: " +
        unexplained.toSeq.sorted.map(n => s"$n (${flagged(n)})").mkString(", ") +
        " — delete them, or allow-list a reference port with its citation")
  }

  test("every allow-list entry is still an orphan and cites its reference in its file") {
    val flagged = orphans(scanned, callerSources.values.toSeq)
    AllowList.foreach { case (name, citation) =>
      assert(Citation.matches(citation), s"$name: '$citation' is not a file:line citation")
      val file = flagged.getOrElse(name,
        fail(s"$name has a caller now (or is gone): drop it from the allow-list"))
      val cited = scanned(file).contains(citation)
      assert(cited, s"$name: $file does not cite $citation")
    }
  }

  test("a planted orphan in a synthetic source is flagged") {
    val planted =
      """package graft.operators
        |
        |/** Mentions [[plantedOrphan]] in a comment only. */
        |object Planted {
        |  def plantedOrphan(x: Int): Int = x + 1 // plantedOrphan
        |  def used(): Int = 1
        |  private def hidden: Int = 2
        |  override def toString: String = "Planted"
        |  object Nested {
        |    def nestedOrphan: Int = 3
        |  }
        |  def iter: Iterator[Int] =
        |    new Iterator[Int] {
        |      def hasNext: Boolean = false
        |      def next(): Int = 0
        |    }
        |}
        |""".stripMargin
    val caller = "object Caller { val y = graft.operators.Planted.used() + Planted.iter.size }"
    val src = Map("src/main/scala/graft/operators/Planted.scala" -> planted)
    assert(orphans(src, Seq(planted, caller)).keySet == Set("plantedOrphan", "nestedOrphan"))
    // the same scan over the real tree plus the plant flags the plant
    val all = orphans(scanned ++ src, callerSources.values.toSeq :+ planted)
    assert(all.keySet.contains("plantedOrphan"))
  }

  test("a def named twice counts only calls through its owner or in its own file") {
    val a =
      """package graft.operators
        |object Alpha {
        |  def twice(x: Int): Int = x
        |  def local(x: Int): Int = x
        |  def viaLocal: Int = local(1)
        |}
        |""".stripMargin
    val b =
      """package graft.functions
        |object Beta {
        |  def twice(x: Int): Int = x
        |  def local(x: Int): Int = x
        |}
        |""".stripMargin
    val caller = "object Caller { val y = Alpha.twice(1) + Alpha.viaLocal }"
    val src = Map("src/main/scala/graft/operators/Alpha.scala" -> a,
      "src/main/scala/graft/functions/Beta.scala" -> b)
    // Beta.twice is kept alive by name only (Alpha.twice is the call);
    // Beta.local likewise (Alpha's own file calls its own local)
    assert(orphans(src, Seq(a, b, caller)).keySet == Set("twice", "local"))
    assert(orphans(src, Seq(a, b, caller)).values.toSet == Set("src/main/scala/graft/functions/Beta.scala"))
  }
}

object OrphanDefSpec {

  val ScannedDirs: Seq[String] = Seq("operators", "functions", "federate")
    .map(d => s"src/main/scala/graft/$d/")

  /** Orphans kept on purpose: each ports a function of the Mr-Dice
    * reference code (SURVEY.md §2) that no query runs. */
  val AllowList: Map[String, String] = Map(
    "filterToTag" -> "optimade_database/Optimade_Server/utils.py:488-518",
    "shortenId" -> "optimade_database/Optimade_Server/utils.py:208-226",
    "providerNameFromUrl" -> "optimade_database/Optimade_Server/utils.py:208-214",
    "validatePressureUnit" -> "mofdb_database/mofdb_client/main.py:8-31",
    "validateLoadingUnit" -> "mofdb_database/mofdb_client/main.py:8-31",
    "spgFilterMap" -> "optimade_database/Optimade_Server/utils.py:550-573",
    "bandgapFilterMap" -> "optimade_database/Optimade_Server/utils.py:585-613",
    "run_id" -> "optimade_database/Optimade_Server/server.py:137",
    "eAboveHull" -> "openlam_database/openlam/lam_optimize/utils.py:139-190",
    "eFormPerAtom" -> "openlam_database/openlam/lam_optimize/utils.py:107-115")

  private val Citation = """[\w./-]+\.\w+:\d+(-\d+)?""".r

  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r

  private val Hidden = """\b(private|protected|override)\b""".r

  private val PublicDef =
    """(?m)^([ \t]*)((?:[a-z]+(?:\[\w+\])?[ \t]+)*)def[ \t]+([A-Za-z_][A-Za-z0-9_]*)""".r

  private val OwnerDecl =
    """(?m)^([ \t]*)(?:[a-z]+(?:\[\w+\])?[ \t]+)*(?:object|class|trait)[ \t]+([A-Za-z_][A-Za-z0-9_]*)""".r

  private def counts(names: Iterator[String]): Map[String, Int] =
    names.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Name → defining file of every public object-level def in `defFiles`
    * that has no use by the rule in the scaladoc above. */
  def orphans(defFiles: Map[String, String], callers: Seq[String]): Map[String, String] = {
    val code = callers.map(stripComments)
    val uses = counts(code.iterator.flatMap(c => Ident.findAllIn(c)))
    val decls = counts(code.iterator.flatMap(c => PublicDef.findAllMatchIn(c).map(_.group(3))))
    defFiles.toSeq.flatMap { case (file, src) =>
      val own = stripComments(src)
      val owners = OwnerDecl.findAllMatchIn(own).toSeq
      def used(m: scala.util.matching.Regex.Match): Boolean = {
        val name = m.group(3)
        val declared = decls.getOrElse(name, 0) max 1
        if (declared == 1) uses.getOrElse(name, 0) > declared
        else {
          val owner = owners.filter(o => o.start < m.start && o.group(1).length < m.group(1).length)
            .lastOption.map(_.group(2))
          val qualified = owner.exists { o =>
            val call = s"\\b$o\\s*\\.\\s*$name\\b".r
            code.exists(c => call.findFirstIn(c).isDefined)
          }
          val ownUses = counts(Ident.findAllIn(own)).getOrElse(name, 0)
          val ownDecls = ("""\bdef\s+""" + name + """\b""").r.findAllIn(own).size
          qualified || ownUses > ownDecls
        }
      }
      PublicDef.findAllMatchIn(own).collect {
        case m if m.group(1).length <= 4 && Hidden.findFirstIn(m.group(2)).isEmpty && !used(m) =>
          m.group(3) -> file
      }
    }.toMap
  }

  /** Scala source with `//` and (nested) `/* */` comments blanked out;
    * string and char literals are kept verbatim. */
  def stripComments(src: String): String = {
    // Java's builder: append(s, start, end) takes an end index
    val out = new java.lang.StringBuilder(src.length)
    var i = 0
    val n = src.length
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src.charAt(j) == '"') j += 1
        out.append(src, i, j); i = j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out.append(src, i, j); i = j
      } else if (src.charAt(i) == '\'' && i + 3 < n &&
          (src.charAt(i + 2) == '\'' || src.charAt(i + 1) == '\\')) {
        // a char literal: 'x' or an escape such as '\'' / '\n'
        val close = if (src.charAt(i + 1) == '\\') src.indexOf('\'', i + 3) else i + 2
        val j = if (close < 0) n else close + 1
        out.append(src, i, j); i = j
      } else if (src.startsWith("//", i)) {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else { if (src.charAt(j) == '\n') out.append('\n'); j += 1 }
        }
        i = j
      } else { out.append(src.charAt(i)); i += 1 }
    }
    out.toString
  }
}
