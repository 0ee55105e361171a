package graft.functions

/** Materials-domain scalar functions beyond formulas and space groups.
  * Pure Scala logic; Column wrappers live in [[GraftFunctions]].
  */
object DomainFunctions {

  /** Per-element reference energies (eV/atom) for formation-energy
    * computation — data table from
    * openlam_database/openlam/lam_optimize/utils.py:16-115.
    */
  val EnergyRef: Map[String, Double] = Map(
    "H" -> -3.3927, "He" -> -0.0091, "Li" -> -1.9089, "Be" -> -3.7394,
    "B" -> -6.6794, "C" -> -9.2287, "N" -> -8.3365, "O" -> -4.9467,
    "F" -> -1.9115, "Ne" -> -0.0259, "Na" -> -1.3225, "Mg" -> -1.6003,
    "Al" -> -3.7456, "Si" -> -5.4253, "P" -> -5.4133, "S" -> -4.1364,
    "Cl" -> -1.8485, "Ar" -> -0.0688, "K" -> -1.1104, "Ca" -> -2.0056,
    "Sc" -> -6.3325, "Ti" -> -7.8955, "V" -> -9.0839, "Cr" -> -9.653,
    "Mn" -> -9.162, "Fe" -> -8.47, "Co" -> -7.1083, "Ni" -> -5.7801,
    "Cu" -> -4.0992, "Zn" -> -1.2597, "Ga" -> -3.0281, "Ge" -> -4.623,
    "As" -> -4.6591, "Se" -> -3.4959, "Br" -> -1.553, "Kr" -> -0.0567,
    "Rb" -> -0.9805, "Sr" -> -1.6895, "Y" -> -6.4665, "Zr" -> -8.5477,
    "Nb" -> -10.1013, "Mo" -> -10.8457, "Tc" -> -10.3606, "Ru" -> -9.2744,
    "Rh" -> -7.3643, "Pd" -> -5.1799, "Ag" -> -2.8326, "Cd" -> -0.9229,
    "In" -> -2.7517, "Sn" -> -4.0096, "Sb" -> -4.129, "Te" -> -3.1433,
    "I" -> -1.4734, "Xe" -> -0.0362, "Cs" -> -0.8954, "Ba" -> -1.919,
    "La" -> -4.936, "Ce" -> -5.9331, "Pr" -> -4.7809, "Nd" -> -4.7681,
    "Pm" -> -4.7505, "Sm" -> -4.7186, "Eu" -> -10.257, "Gd" -> -14.0761,
    "Tb" -> -4.6344, "Dy" -> -4.6068, "Ho" -> -4.5824, "Er" -> -4.5677,
    "Tm" -> -4.4758, "Yb" -> -1.5396, "Lu" -> -4.521, "Hf" -> -9.9572,
    "Ta" -> -11.8578, "W" -> -12.9581, "Re" -> -12.4445, "Os" -> -11.2274,
    "Ir" -> -8.8384, "Pt" -> -6.0711, "Au" -> -3.2739, "Hg" -> -0.3037,
    "Tl" -> -2.3626, "Pb" -> -3.7126, "Bi" -> -3.8405, "Ac" -> -4.1212,
    "Th" -> -7.4139, "Pa" -> -9.5147, "U" -> -11.2914, "Np" -> -12.9478,
    "Pu" -> -14.2678)

  /** Formation energy per atom: (E − Σ ref[site element]) / natoms, over the
    * per-site species list (openlam_database/openlam/lam_optimize/utils.py:107-115).
    * None if any element lacks a reference energy or the site list is
    * empty. No query calls this JVM port; q23 runs the Column form,
    * GraftFunctions.e_form_per_atom. */
  def eFormPerAtom(speciesAtSites: Seq[String], energy: Double): Option[Double] =
    if (speciesAtSites == null || speciesAtSites.isEmpty) None
    else {
      val refs = speciesAtSites.map(EnergyRef.get)
      if (refs.exists(_.isEmpty)) None
      else Some((energy - refs.flatten.sum) / speciesAtSites.size)
    }

  /** Query pricing (reference quota_test.py:7-51): cost = base + n·per_item
    * RMB; photons = ceil(cost / 0.01). */
  final case class Pricing(base: Double, perItem: Double)
  val PricingRules: Map[String, Pricing] = Map(
    "optimade"      -> Pricing(0.088, 0.0088),
    "bohriumpublic" -> Pricing(0.068, 0.0068),
    "openlam"       -> Pricing(0.058, 0.0058))

  private val toolFamily: Map[String, String] = Map(
    "fetch_structures_with_filter"  -> "optimade",
    "fetch_structures_with_spg"     -> "optimade",
    "fetch_structures_with_bandgap" -> "optimade",
    "fetch_bohrium_crystals"        -> "bohriumpublic",
    "fetch_openlam_structures"      -> "openlam")

  /** (cost RMB, photons) for a tool invocation; error for unknown tools. */
  def photonCost(toolName: String, nResults: Int): Either[String, (Double, Long)] =
    toolFamily.get(toolName).map(PricingRules) match {
      case None => Left(s"Unsupported tool for pricing: $toolName")
      case Some(rule) =>
        val cost = rule.base + nResults * rule.perItem
        Right((cost, math.ceil(cost / 0.01).toLong))
    }

  /** Filter string → filesystem-safe tag
    * (reference optimade_database/Optimade_Server/utils.py:488-518):
    * strip quotes, spaces→_, commas→-, '=' removed, keep [alnum_-], ≤30
    * chars, fallback "filter". */
  def filterToTag(filterStr: String, maxLen: Int = 30): String = {
    val t = filterStr.trim
      .replace("\"", "").replace("'", "")
      .replace(" ", "_").replace(",", "-").replace("=", "")
      .filter(c => c.isLetterOrDigit || c == '_' || c == '-')
    val cut = if (t.length > maxLen) t.substring(0, maxLen) else t
    if (cut.isEmpty) "filter" else cut
  }

  /** Long-id display shortening (reference
    * optimade_database/Optimade_Server/utils.py:208-226):
    * 'abcdef...xyz' when longer than minLen. */
  def shortenId(id: String, head: Int = 6, tail: Int = 3, minLen: Int = 12): String =
    if (id == null || id.isEmpty || id.length <= minLen) id
    else id.substring(0, head) + "..." + id.substring(id.length - tail)

  /** Provider URL → filesystem-safe name (reference
    * optimade_database/Optimade_Server/utils.py:208-214). */
  def providerNameFromUrl(url: String): String = {
    val u = java.net.URI.create(url)
    val netloc = Option(u.getAuthority).getOrElse("").replace(".", "_")
    val path = Option(u.getPath).getOrElse("").stripPrefix("/").stripSuffix("/")
      .replace("/", "_")
    val name = if (path.nonEmpty) s"${netloc}_$path" else netloc
    val stripped = name.dropWhile(_ == '_').reverse.dropWhile(_ == '_').reverse
    if (stripped.isEmpty) "provider" else stripped
  }

  /** Unit-name validation against a static classification list (the
    * reference fetches this from the MOFdb API at
    * mofdb_database/mofdb_client/main.py:8-31; conversion itself is
    * provider-side there, so here validation is the analytics-relevant
    * part). */
  val PressureUnits: Set[String] = Set("atm", "bar", "Pa", "kPa", "mbar", "psi", "Torr")
  val LoadingUnits: Set[String] = Set(
    "cm3(STP)/g", "cm3(STP)/cm3", "g/l", "mg/g", "mmol/g", "mol/kg", "wt%")

  /** Pressure-unit check (mofdb_database/mofdb_client/main.py:8-31). */
  def validatePressureUnit(u: String): Either[String, String] =
    if (u == null || PressureUnits.contains(u)) Right(u)
    else Left(s"'$u' is not a valid unit for pressure. Valid pressure units are: ${PressureUnits.toSeq.sorted.mkString(", ")}")

  /** Loading-unit check (mofdb_database/mofdb_client/main.py:8-31). */
  def validateLoadingUnit(u: String): Either[String, String] =
    if (u == null || LoadingUnits.contains(u)) Right(u)
    else Left(s"'$u' is not a valid unit for loading. Valid loading units are: ${LoadingUnits.toSeq.sorted.mkString(", ")}")
}
