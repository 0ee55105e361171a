package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  /** Run `f` on a FRESH SparkSession so a function can only come from the
    * extension (a reused suite session might carry a temp registration).
    * Clears the active/default session, builds with the extension
    * (reusing any existing SparkContext is fine — extensions apply per
    * session), and restores afterwards; never stop() here, the context
    * is shared with the other suites. */
  private def withExtensionSession(f: SparkSession => Unit): Unit = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate())
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("hill_formula resolves in plain SQL on an extension-built session") {
    withExtensionSession { spark =>
      val got = spark.sql("""SELECT hill_formula('O2Si1') AS h,
                            |       hill_formula('ClNa') AS salt,
                            |       hill_formula(NULL) AS n""".stripMargin)
        .collect().head
      assert(got.getString(0) == "O2Si")
      assert(got.getString(1) == "ClNa")
      assert(got.isNullAt(2))
      // the native expression shows up in the physical plan by name
      val plan = spark.sql("SELECT hill_formula(CAST(id AS STRING)) FROM range(10)")
        .queryExecution.executedPlan.toString
      assert(plan.contains("hill_formula"), plan)
    }
  }

  test("SQL registration: hill_formula callable from spark.sql") {
    withExtensionSession { spark =>
      val r = spark.sql(
        "SELECT hill_formula('NaCl') AS a, hill_formula('ZrO') AS b, hill_formula('!!') AS c")
        .collect().head
      assert(r.getString(0) == "ClNa" && r.getString(1) == "OZr" && r.isNullAt(2))
    }
  }
}
