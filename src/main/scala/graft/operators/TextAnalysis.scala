package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: tokenization,
  * token statistics, language ID, quality scoring, fingerprinting.
  *
  * Everything on the hot path is pure Catalyst (split / regexp / filter /
  * aggregate higher-order functions) so it stays inside whole-stage
  * codegen and distributes trivially — no Scala closures per row, no
  * collect. The only UDF is the rolling-hash fingerprint (bit mixing not
  * expressible with built-ins), and it is a cheap long-returning UDF.
  */
object TextAnalysis {

  /** Whitespace tokenization (single-space convention of the corpus). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Characters that are neither alphanumeric nor space, as a fraction of
    * all characters. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).cast("double") /
      length(text)

  /** Mean token length assuming single-space separation:
    * (chars − (n−1)) / n — integer inputs, so the double division is
    * bit-identical across engines. */
  def meanTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    (length(text) - n + 1).cast("double") / n
  }

  /** Per-language stopword sets (top function words; public linguistic
    * data). Small on purpose: they are broadcast as literals into codegen. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as", "at", "this", "by", "be", "are"),
    "de" -> Seq("der", "die", "das", "und", "oder", "von", "zu", "in", "ist",
      "es", "dass", "für", "auf", "mit", "als", "bei", "ein", "eine", "sind", "im"),
    "es" -> Seq("el", "la", "los", "las", "y", "o", "de", "a", "en", "es",
      "que", "para", "con", "como", "por", "un", "una", "son", "del", "se"),
    "fr" -> Seq("le", "la", "les", "et", "ou", "de", "à", "en", "est", "que",
      "pour", "avec", "comme", "par", "un", "une", "sont", "du", "des", "il"),
    "zh" -> Seq("的", "了", "和", "是", "在", "有", "我", "他", "这", "中",
      "大", "来", "上", "国", "个", "到", "说", "们", "为", "子"))

  /** Composed HOF hit count — interpreted reference implementation. */
  private[operators] def stopwordHitsHof(text: Column, set: Seq[String]): Column =
    size(filter(tokens(text), t => array_contains(typedlit(set), t)))

  /** Count of tokens (with multiplicity) found in `set` — native
    * codegen'd kernel ([[graft.functions.StopwordHitsExpr]]), identical
    * counts to [[stopwordHitsHof]]; language ID runs this once per
    * language over every document, so it's a corpus-scale inner loop. */
  def stopwordHits(text: Column, set: Seq[String]): Column =
    graft.functions.GraftFunctions.stopword_hits(tokens(text), typedlit(set))

  def stopwordRatio(text: Column, lang: String = "en"): Column =
    stopwordHits(text, Stopwords(lang)).cast("double") / tokenCount(text)

  /** Language ID: argmax of per-language stopword hit counts, ties broken
    * by the fixed chain order en→de→es→fr→zh. Returns the score columns
    * too so callers (and the oracle) can audit the vote. */
  def langScores(text: Column): Map[String, Column] =
    Stopwords.map { case (lang, set) => lang -> stopwordHits(text, set) }

  def langId(text: Column): Column = {
    val s = langScores(text)
    when(s("en") >= s("de") && s("en") >= s("es") && s("en") >= s("fr") && s("en") >= s("zh"), "en")
      .when(s("de") >= s("es") && s("de") >= s("fr") && s("de") >= s("zh"), "de")
      .when(s("es") >= s("fr") && s("es") >= s("zh"), "es")
      .when(s("fr") >= s("zh"), "fr")
      .otherwise("zh")
  }

  /** Composite quality score in [0,1]:
    * 0.4·stopword-ratio + 0.3·(1 − punct-ratio) + 0.3·min(meanLen/8, 1).
    * Mirrors the length/punct/stopword-ratio heuristics of pipeline
    * quality filters; arithmetic kept in a fixed order for oracle parity.
    * NOT rounded: the mirrored IEEE arithmetic is bit-identical across
    * engines, while round() is NOT (engines break exact .5 ties
    * differently — observed at a doc scoring exactly 0.5103125). */
  def qualityScore(text: Column, lang: String = "en"): Column =
    stopwordRatio(text, lang) * 0.4 +
      (lit(1.0) - punctRatio(text)) * 0.3 +
      least(meanTokenLen(text) / 8.0, lit(1.0)) * 0.3

  /** Canonical normalization for fingerprinting: lowercase, strip
    * non-alphanumerics (keeping spaces), collapse whitespace, trim. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Content fingerprint = md5 of the normalized text (exact-dup key that
    * survives case/punctuation edits). */
  def fingerprintMd5(text: Column): Column = md5(normalized(text))

  /** Polynomial rolling hash over a string: h = Σ h·B + c mod 2⁶¹−1.
    * Deterministic document fingerprint; also the building block for
    * k-gram winnowing. Pure function + cheap UDF. */
  val RollBase = 131L
  val RollMod = (1L << 61) - 1
  /** (a*b) mod (2⁶¹−1) without 128-bit wrap: Math.multiplyHigh gives the
    * full product hi:lo, and 2⁶⁴ ≡ 8 (mod p) folds the halves — the
    * earlier split-multiply shifted a 61-bit partial left 32, silently
    * wrapping the signed Long for large h. */
  private def mulModP(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b) // a,b < 2^61 → hi < 2^58
    val lo = a * b                   // low 64 bits
    var r = (lo & RollMod) + (lo >>> 61) + (hi << 3)
    while (r >= RollMod) r -= RollMod
    r
  }
  def rollingHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = mulModP(h, RollBase) + s.charAt(i).toLong
      if (h >= RollMod) h -= RollMod
      i += 1
    }
    h
  }
  val rollingHashUdf = udf((s: String) => if (s == null) null else Long.box(rollingHash(s)))

  /** Winnowing-style fingerprint: min rolling hash over all character
    * k-grams of the normalized text. */
  def kgramMinHash(s: String, k: Int = 8): Long = {
    if (s == null || s.isEmpty) 0L
    else if (s.length <= k) rollingHash(s)
    else (0 to s.length - k).map(i => rollingHash(s.substring(i, i + k))).min
  }
  def kgramMinHashUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => if (s == null) null else Long.box(kgramMinHash(s, k)))
}
