package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.functions._

/** Column-level API for the domain function library (SURVEY §2.7 F1-F13).
  *
  * Spark-first design: everything expressible with built-in (codegen'd)
  * functions is — `translate` for unicode digit normalization, map literals
  * + `element_at` for space-group lookups, `aggregate`/`transform` for
  * formation energy. Only genuine string-parsing (Hill formula, TCOD
  * respacing) drops to a UDF.
  */
object GraftFunctions {

  // F1 — unicode digit normalization, pure built-in translate (codegen'd)
  def normalize_formula(c: Column): Column =
    translate(c, Formulas.TranslateFrom, Formulas.TranslateTo)

  // F2 — Hill canonicalization via the native codegen'd expression
  // (HillFormulaExpr); stays inside whole-stage codegen unlike a UDF.
  // Spark 4's Column API hides catalyst Expressions, so every native
  // expression here reaches its Column through ExpressionBridge — no
  // session registry lookup, so it works on any session.
  def hill_formula(c: Column): Column = column(HillFormulaExpr(expression(c)))

  // Vector kernels (similarity/ANN hot path) — native one-pass codegen'd
  // expressions; see VectorExprs scaladoc for the bit-compatibility
  // contract with the composed higher-order-function forms.
  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))

  def sign_bucket(vec: Column, planes: Column): Column =
    column(SignBucketExpr(expression(vec), expression(planes)))

  def hamming_dist(a: Column, b: Column): Column =
    column(HammingDistExpr(expression(a), expression(b)))

  def simhash_blocks(bits: Column): Column =
    column(SimhashBlocksExpr(expression(bits)))

  def stopword_hits(tokens: Column, set: Column): Column =
    column(StopwordHitsExpr(expression(tokens), expression(set)))

  def lsh_bands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    column(LshBandsExpr(expression(sig), bands, rowsPerBand))

  def sig_agree(a: Column, b: Column): Column =
    column(SigAgreeExpr(expression(a), expression(b)))

  def int_dot(a: Column, b: Column): Column =
    column(IntDotExpr(expression(a), expression(b)))

  def int_sqdist(a: Column, b: Column): Column =
    column(IntSqdistExpr(expression(a), expression(b)))

  // F4 — space-group number → short HM symbol via a map literal
  private lazy val shortHMCol: Column =
    typedlit(SpaceGroups.shortHM.zipWithIndex.map { case (s, i) => (i + 1) -> s }.toMap)

  def spg_short_hm(n: Column): Column = element_at(shortHMCol, n.cast("int"))

  private val tcodUdf = udf((s: String) =>
    if (s == null) null else SpaceGroups.toTcodFormat(s))
  def spg_tcod(hm: Column): Column = tcodUdf(hm)

  // F13 — formation energy per atom, pure built-ins:
  // (energy − Σ ref[site]) / natoms; null when a site element is unknown
  // (element_at yields null which propagates through the fold) or the site
  // list is empty.
  private lazy val energyRefCol: Column = typedlit(DomainFunctions.EnergyRef)
  def e_form_per_atom(speciesAtSites: Column, energy: Column): Column =
    when(speciesAtSites.isNull || size(speciesAtSites) === 0, lit(null))
      .otherwise(
        (energy - aggregate(
          transform(speciesAtSites, e => element_at(energyRefCol, e)),
          lit(0.0), (acc, x) => acc + x)) / size(speciesAtSites))

  /** F11 — stable run ids: sha1(filter)[:8], a port of the reference's
    * run-id hash (optimade_database/Optimade_Server/server.py:137). */
  def run_id(c: Column): Column = substring(sha1(c), 1, 8)
}
