package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract itself: entry() smoke, name uniqueness (a
  * duplicate QueryDef name would silently vanish in the Map), and
  * oracle keys ⊆ query keys.
  */
class SparkEntrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("entry() returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query names are unique and oracle keys all resolve") {
    val names = SparkEntry.queries.keys.toSeq
    // Map construction dedupes silently — catch collisions over the
    // very list `queries` maps
    val defs = SparkEntry.allDefs
    assert(defs.map(_.name).distinct.size == defs.size,
      s"duplicate query names: ${defs.map(_.name).diff(defs.map(_.name).distinct)}")
    assert(names.size == defs.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // every oracle string is non-empty and references no backticks that
    // DuckDB can't parse
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, k)
      assert(!sql.contains("`"), s"$k oracle contains backticks")
    }
  }

  test("no nested comment openers in source (the round-2 compile break)") {
    // Scala block comments NEST: a glob like <dir>/*.parquet inside a
    // scaladoc opens a second comment level; if unclosed it kills the
    // build, if accidentally balanced it swallows code. Flag any depth-2
    // opener. (Process rule stays: run the verify loop before every
    // commit — this test is the cheap insurance layer.)
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = files.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      var depth = 0; var i = 0; var line = 1
      var bad: Option[Int] = None
      while (i < text.length && bad.isEmpty) {
        val c = text.charAt(i)
        if (c == '\n') { line += 1; i += 1 }
        else if (depth == 0 && c == '\'' && i + 2 < text.length &&
                 (text.charAt(i + 1) != '\\' && text.charAt(i + 2) == '\'')) i += 3
        else if (depth == 0 && c == '\'' && i + 3 < text.length &&
                 text.charAt(i + 1) == '\\' && text.charAt(i + 3) == '\'') i += 4
        else if (depth == 0 && text.startsWith("\"\"\"", i)) {
          val end = text.indexOf("\"\"\"", i + 3)
          val nl = text.slice(i, if (end < 0) text.length else end + 3).count(_ == '\n')
          line += nl; i = if (end < 0) text.length else end + 3
        } else if (depth == 0 && c == '"') {
          i += 1
          while (i < text.length && text.charAt(i) != '"') {
            if (text.charAt(i) == '\\') i += 1
            i += 1
          }
          i += 1
        } else if (depth == 0 && text.startsWith("//", i)) {
          while (i < text.length && text.charAt(i) != '\n') i += 1
        } else if (text.startsWith("/*", i)) {
          depth += 1; if (depth >= 2) bad = Some(line); i += 2
        } else if (text.startsWith("*/", i)) { depth -= 1; i += 2 }
        else i += 1
      }
      bad.map(l => s"$p:$l")
    }
    assert(offenders.isEmpty,
      s"nested comment opener (scaladoc glob trap) at: ${offenders.mkString(", ")}")
  }

  test("specs take their session from graft.LocalSession(4), not their own builder") {
    // Specs share one forked JVM, where getOrCreate() returns the first
    // session built, so a spec's own builder is dead text. The needle is
    // split so that this file does not match itself.
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    val needle = "SparkSession" + ".builder"
    val offenders = Files.walk(Paths.get("src/test/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftExtensionsSpec.scala") // tests a fresh session
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"${offenders.size} specs build their own session: ${offenders.mkString(", ")}")
  }

  test("every plans/ file cited in OPTIMIZATION_r*.md exists") {
    // A citation may brace-list alternatives (q_{before,after}.txt) and
    // wrap across lines inside the braces; <q>-style placeholders are
    // prose, not citations, and never match.
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    def expand(s: String): Seq[String] = {
      val open = s.indexOf('{')
      if (open < 0) Seq(s)
      else {
        val close = s.indexOf('}', open)
        s.substring(open + 1, close).split(',').toSeq.flatMap(alt =>
          expand(s.substring(0, open) + alt.trim + s.substring(close + 1)))
      }
    }
    val cite = """plans/(?:[\w./-]|\{[^{}<>]*\})+\.txt""".r
    val docs = Files.list(Paths.get(".")).iterator().asScala
      .filter(_.getFileName.toString.matches("OPTIMIZATION_r.*\\.md")).toSeq.sortBy(_.toString)
    assert(docs.nonEmpty)
    val missing = for {
      doc <- docs
      m <- cite.findAllIn(Files.readString(doc)).toSeq
      path <- expand(m)
      if !Files.exists(Paths.get(path))
    } yield s"${doc.getFileName}: $path"
    assert(missing.isEmpty, s"cited plan files missing: ${missing.mkString(", ")}")
  }
}
