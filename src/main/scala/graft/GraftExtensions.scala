package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.HillFormulaExpr

/** SparkSessionExtensions injection point — the supported way to ship
  * graft's native expressions to a cluster where the session is built by
  * the platform, not by application code:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Injected functions land in the session's catalog at build time, so
  * plain SQL texts like `SELECT hill_formula(f) FROM t` resolve on every
  * session built with the extension. SQL names are the only thing the
  * catalog is for: the Column API (`GraftFunctions.hill_formula`) builds
  * the expression directly through `ExpressionBridge` and needs no
  * registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("hill_formula"),
      new ExpressionInfo(classOf[HillFormulaExpr].getName, "hill_formula"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "hill_formula takes exactly one argument")
        HillFormulaExpr(exprs.head)
      }))
  }
}
