package graft.functions

/** The 230 crystallographic space groups: number ↔ Hermann–Mauguin symbol
  * maps plus the TCOD spaced format.
  *
  * The symbol data is standard International Tables crystallography; the
  * reference embeds it as a 230-entry literal at
  * bohriumpublic_database/Bohriumpublic_Server/utils.py:210-441 (with a few
  * typos — bar attached to the lattice letter in nos. 81/82/111-122/147/148/
  * 162-167/174/187-190, missing screw subscripts in 113/114 — corrected
  * here to the standard forms). The short-HM → TCOD spacing transform is at
  * optimade_database/Optimade_Server/utils.py:530-548.
  */
object SpaceGroups {

  // Short Hermann–Mauguin symbols, index 0 = space group 1.
  private val shortHMData: String =
    "P1,P-1,P2,P21,C2,Pm,Pc,Cm,Cc,P2/m," +
    "P21/m,C2/m,P2/c,P21/c,C2/c,P222,P2221,P21212,P212121,C2221," +
    "C222,F222,I222,I212121,Pmm2,Pmc21,Pcc2,Pma2,Pca21,Pnc2," +
    "Pmn21,Pba2,Pna21,Pnn2,Cmm2,Cmc21,Ccc2,Amm2,Aem2,Ama2," +
    "Aea2,Fmm2,Fdd2,Imm2,Iba2,Ima2,Pmmm,Pnnn,Pccm,Pban," +
    "Pmma,Pnna,Pmna,Pcca,Pbam,Pccn,Pbcm,Pnnm,Pmmn,Pbcn," +
    "Pbca,Pnma,Cmcm,Cmce,Cmmm,Cccm,Cmme,Ccce,Fmmm,Fddd," +
    "Immm,Ibam,Ibca,Imma,P4,P41,P42,P43,I4,I41," +
    "P-4,I-4,P4/m,P42/m,P4/n,P42/n,I4/m,I41/a,P422,P4212," +
    "P4122,P41212,P4222,P42212,P4322,P43212,I422,I4122,P4mm,P4bm," +
    "P42cm,P42nm,P4cc,P4nc,P42mc,P42bc,I4mm,I4cm,I41md,I41cd," +
    "P-42m,P-42c,P-421m,P-421c,P-4m2,P-4c2,P-4b2,P-4n2,I-4m2,I-4c2," +
    "I-42m,I-42d,P4/mmm,P4/mcc,P4/nbm,P4/nnc,P4/mbm,P4/mnc,P4/nmm,P4/ncc," +
    "P42/mmc,P42/mcm,P42/nbc,P42/nnm,P42/mbc,P42/mnm,P42/nmc,P42/ncm,I4/mmm,I4/mcm," +
    "I41/amd,I41/acd,P3,P31,P32,R3,P-3,R-3,P312,P321," +
    "P3112,P3121,P3212,P3221,R32,P3m1,P31m,P3c1,P31c,R3m," +
    "R3c,P-31m,P-31c,P-3m1,P-3c1,R-3m,R-3c,P6,P61,P65," +
    "P62,P64,P63,P-6,P6/m,P63/m,P622,P6122,P6522,P6222," +
    "P6422,P6322,P6mm,P6cc,P63cm,P63mc,P-6m2,P-6c2,P-62m,P-62c," +
    "P6/mmm,P6/mcc,P63/mcm,P63/mmc,P23,F23,I23,P213,I213,Pm-3," +
    "Pn-3,Fm-3,Fd-3,Im-3,Pa-3,Ia-3,P432,P4232,F432,F4132," +
    "I432,P4332,P4132,I4132,P-43m,F-43m,I-43m,P-43n,F-43c,I-43d," +
    "Pm-3m,Pn-3n,Pm-3n,Pn-3m,Fm-3m,Fm-3c,Fd-3m,Fd-3c,Im-3m,Ia-3d"

  /** number (1-230) → short HM symbol, e.g. 221 → "Pm-3m". */
  val shortHM: Vector[String] = shortHMData.split(',').toVector
  require(shortHM.length == 230)

  private val sub: Map[Char, Char] =
    Map('0' -> '₀', '1' -> '₁', '2' -> '₂', '3' -> '₃', '4' -> '₄',
        '5' -> '₅', '6' -> '₆', '7' -> '₇', '8' -> '₈', '9' -> '₉')

  // Unicode display symbols (overbar U+0305 on the barred axis, subscript
  // screw digits). Screw-subscript placement is not derivable from the
  // ASCII form (no. 90 P4212 = P42₁2 but no. 93 P4222 = P4₂2₂), so this is
  // its own 230-entry table, index 0 = space group 1.
  private val unicodeData: String =
    "P1,P1̅,P2,P2₁,C2,Pm,Pc,Cm,Cc,P2/m," +
    "P2₁/m,C2/m,P2/c,P2₁/c,C2/c,P222,P222₁,P2₁2₁2,P2₁2₁2₁,C222₁," +
    "C222,F222,I222,I2₁2₁2₁,Pmm2,Pmc2₁,Pcc2,Pma2,Pca2₁,Pnc2," +
    "Pmn2₁,Pba2,Pna2₁,Pnn2,Cmm2,Cmc2₁,Ccc2,Amm2,Aem2,Ama2," +
    "Aea2,Fmm2,Fdd2,Imm2,Iba2,Ima2,Pmmm,Pnnn,Pccm,Pban," +
    "Pmma,Pnna,Pmna,Pcca,Pbam,Pccn,Pbcm,Pnnm,Pmmn,Pbcn," +
    "Pbca,Pnma,Cmcm,Cmce,Cmmm,Cccm,Cmme,Ccce,Fmmm,Fddd," +
    "Immm,Ibam,Ibca,Imma,P4,P4₁,P4₂,P4₃,I4,I4₁," +
    "P4̅,I4̅,P4/m,P4₂/m,P4/n,P4₂/n,I4/m,I4₁/a,P422,P42₁2," +
    "P4₁2₂,P4₁2₁2,P4₂2₂,P4₂2₁2,P4₃2₂,P4₃2₁2,I422,I4₁22,P4mm,P4bm," +
    "P4₂cm,P4₂nm,P4cc,P4nc,P4₂mc,P4₂bc,I4mm,I4cm,I4₁md,I4₁cd," +
    "P4̅2m,P4̅2c,P4̅2₁m,P4̅2₁c,P4̅m2,P4̅c2,P4̅b2,P4̅n2,I4̅m2,I4̅c2," +
    "I4̅2m,I4̅2d,P4/mmm,P4/mcc,P4/nbm,P4/nnc,P4/mbm,P4/mnc,P4/nmm,P4/ncc," +
    "P4₂/mmc,P4₂/mcm,P4₂/nbc,P4₂/nnm,P4₂/mbc,P4₂/mnm,P4₂/nmc,P4₂/ncm,I4/mmm,I4/mcm," +
    "I4₁/amd,I4₁/acd,P3,P3₁,P3₂,R3,P3̅,R3̅,P312,P321," +
    "P3₁12,P3₁21,P3₂12,P3₂21,R32,P3m1,P31m,P3c1,P31c,R3m," +
    "R3c,P3̅1m,P3̅1c,P3̅m1,P3̅c1,R3̅m,R3̅c,P6,P6₁,P6₅," +
    "P6₂,P6₄,P6₃,P6̅,P6/m,P6₃/m,P622,P6₁22,P6₅22,P6₂22," +
    "P6₄22,P6₃22,P6mm,P6cc,P6₃cm,P6₃mc,P6̅m2,P6̅c2,P6̅2m,P6̅2c," +
    "P6/mmm,P6/mcc,P6₃/mcm,P6₃/mmc,P23,F23,I23,P2₁3,I2₁3,Pm3̅," +
    "Pn3̅,Fm3̅,Fd3̅,Im3̅,Pa3̅,Ia3̅,P432,P4₂32,F432,F4₁32," +
    "I432,P4₃32,P4₁32,I4₁32,P4̅3m,F4̅3m,I4̅3m,P4̅3n,F4̅3c,I4̅3d," +
    "Pm3̅m,Pn3̅n,Pm3̅n,Pn3̅m,Fm3̅m,Fm3̅c,Fd3̅m,Fd3̅c,Im3̅m,Ia3̅d"

  /** number (1-230) → Unicode display symbol, e.g. 14 → "P2₁/c". */
  val unicodeSymbol: Map[Int, String] = {
    val v = unicodeData.split(',').toVector
    require(v.length == 230)
    (1 to 230).map(n => n -> v(n - 1)).toMap
  }

  /** ASCII ↔ Unicode consistency: translating subscripts back to digits and
    * "N̅" back to "-N" must reproduce the short HM symbol. */
  private def unicodeToAscii(s: String): String = {
    val out = new StringBuilder
    s.foreach {
      case c if sub.values.exists(_ == c) =>
        out.append(sub.find(_._2 == c).get._1)
      case '̅' => val p = out.last; out.setLength(out.length - 1); out.append('-').append(p)
      case c => out.append(c)
    }
    out.toString
  }
  require((1 to 230).forall(n => unicodeToAscii(unicodeSymbol(n)) == shortHM(n - 1)),
    "space-group tables out of sync")

  /** short HM number lookup, e.g. "Pm-3m" → Some(221). */
  val numberOfShortHM: Map[String, Int] =
    shortHM.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap

  def fromNumber(n: Int): Option[String] =
    if (n >= 1 && n <= 230) Some(shortHM(n - 1)) else None

  /** Short HM → TCOD spaced format: "Pm-3m" → "P m -3 m",
    * "P4/mmm" → "P 4/m m m", "Fd-3m" → "F d -3 m"
    * (reference optimade_database/Optimade_Server/utils.py:530-548). */
  def toTcodFormat(hm: String): String = {
    var s = hm.trim
    // expand letter groups after '/': "/mmm" → "/m m m"
    s = """/([A-Za-z]+)""".r.replaceAllIn(s, m => "/" + m.group(1).mkString(" "))
    // space between any two consecutive letters
    s = s.replaceAll("(?<=[A-Za-z])(?=[A-Za-z])", " ")
    // space at letter↔digit transitions
    s = s.replaceAll("(?<=[A-Za-z])(?=\\d)|(?<=\\d)(?=[A-Za-z])", " ")
    // attach '-' to the number, space before it
    s = s.replaceAll("\\s*-\\s*(?=\\d)", " -")
    s.split("\\s+").filter(_.nonEmpty).mkString(" ")
  }

  /** Per-provider space-group clause templates
    * (reference optimade_database/Optimade_Server/utils.py:550-573).
    * Kept as a port of a reference function (no query builds these
    * clause strings); the filter compiler's `Context.resolve` is where
    * the engine would map provider property names (SURVEY F5).
    */
  def spgFilterMap(spgNumber: Int, providers: Iterable[String]): Map[String, String] = {
    val hm = fromNumber(spgNumber)
    providers.flatMap { p =>
      val clause = p match {
        case "alexandria" => Some(s"_alexandria_space_group=$spgNumber")
        case "nmd"        => Some(s"_nmd_dft_spacegroup=$spgNumber")
        case "mpdd"       => Some(s"_mpdd_spacegroupn=$spgNumber")
        case "odbx"       => Some(s"_gnome_space_group_it_number=$spgNumber")
        case "oqmd"       => hm.map(h => s"""_oqmd_spacegroup="$h"""")
        case "tcod"       => hm.map(h => s"""_tcod_sg="${toTcodFormat(h)}"""")
        case "cod"        => hm.map(h => s"""_cod_sg="${toTcodFormat(h)}"""")
        case _            => None
      }
      clause.map(p -> _)
    }.toMap
  }

  /** Per-provider band-gap range clauses
    * (reference optimade_database/Optimade_Server/utils.py:585-613). */
  def bandgapFilterMap(minBg: Option[Double], maxBg: Option[Double],
                       providers: Iterable[String]): Map[String, String] = {
    val props = Map(
      "alexandria"    -> "_alexandria_band_gap",
      "odbx"          -> "_gnome_bandgap",
      "oqmd"          -> "_oqmd_band_gap",
      "mcloudarchive" -> "_mcloudarchive_band_gap",
      "twodmatpedia"  -> "_twodmatpedia_band_gap")
    providers.flatMap { p =>
      props.get(p).flatMap { prop =>
        val clause = rangeClause(prop, minBg, maxBg)
        if (clause.isEmpty) None else Some(p -> clause)
      }
    }.toMap
  }

  /** "prop>=a AND prop<=b" with open ends
    * (reference optimade_database/Optimade_Server/utils.py:576-583). */
  def rangeClause(prop: String, min: Option[Double], max: Option[Double]): String =
    (min.map(v => s"$prop>=$v").toSeq ++ max.map(v => s"$prop<=$v").toSeq)
      .mkString(" AND ")
}
