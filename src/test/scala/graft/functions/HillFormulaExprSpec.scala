package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HillFormulaExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("native expression matches the pure function incl. nulls") {
    import spark.implicits._
    val inputs = Seq("TiO2", "SiO2", "Ca(OH)2", "SrTiO₃", "garbage!!", null)
    val got = inputs.toDF("f")
      .select(GraftFunctions.hill_formula(col("f")).as("h"))
      .collect().map(r => Option(r.getString(0)))
    val want = inputs.map(s => Option(Formulas.hillFormulaOrNull(s)))
    assert(got.toSeq == want)
  }

  test("expression participates in whole-stage codegen (no UDF node)") {
    // non-foldable input (range-derived) so the projection cannot be
    // constant-folded away and actually runs through generated code
    val df = spark.range(2, 4)
      .select(GraftFunctions.hill_formula(
        concat(lit("TiO"), col("id").cast("string"))).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    // the "*(n)" stage prefix marks whole-stage-codegen'd operators
    assert(plan.contains("*(1) Project"), plan)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("O2Ti", "O3Ti"))
  }
}
