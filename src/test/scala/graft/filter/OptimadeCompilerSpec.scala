package graft.filter

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class OptimadeCompilerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def structures = {
    import spark.implicits._
    Seq(
      // id, elements, nelements, chemical_formula_reduced, band_gap
      ("s1", Seq("Si", "O"), 2, "O2Si", Some(1.1)),
      ("s2", Seq("Na", "Cl"), 2, "ClNa", Some(5.9)),
      ("s3", Seq("Fe", "Al", "O"), 3, "AlFeO3", None),
      ("s4", Seq("Si"), 1, "Si", Some(0.6)),
      ("s5", Seq("Al", "Mg", "O", "Si"), 4, "Al2MgO6Si2", Some(3.2)))
      .toDF("id", "elements", "nelements", "chemical_formula_reduced", "band_gap")
  }

  private def ids(filter: String): Set[String] =
    OptimadeCompiler.where(structures, filter)
      .select("id").collect().map(_.getString(0)).toSet

  test("HAS ALL / ANY / ONLY semantics") {
    assert(ids("""elements HAS ALL "Si","O"""") == Set("s1", "s5"))
    assert(ids("""elements HAS ANY "Na","Mg"""") == Set("s2", "s5"))
    // HAS ONLY: subset semantics — s4 {Si} ⊆ {Si,O}
    assert(ids("""elements HAS ONLY "Si","O"""") == Set("s1", "s4"))
    assert(ids("""elements HAS "Si"""") == Set("s1", "s4", "s5"))
    // exact-set idiom from the agent prompt: HAS ALL + nelements
    assert(ids("""elements HAS ALL "Si","O" AND nelements=2""") == Set("s1"))
  }

  test("boolean algebra + NOT") {
    assert(ids("""elements HAS ALL "Si","O" AND NOT (elements HAS ANY "Mg")""") == Set("s1"))
    assert(ids("""nelements=1 OR nelements=4""") == Set("s4", "s5"))
    assert(ids("""NOT nelements=2""") == Set("s3", "s4", "s5"))
  }

  test("formula literal is Hill-canonicalized at compile time") {
    assert(ids("""chemical_formula_reduced="SiO2"""") == Set("s1"))
    assert(ids("""chemical_formula_reduced="NaCl"""") == Set("s2"))
    // already-Hill literal unchanged
    assert(ids("""chemical_formula_reduced="O2Si"""") == Set("s1"))
  }

  test("IS KNOWN / UNKNOWN on nullable column") {
    assert(ids("""band_gap IS UNKNOWN""") == Set("s3"))
    assert(ids("""band_gap IS KNOWN AND band_gap>=1.0 AND band_gap<=4.0""") == Set("s1", "s5"))
  }

  test("LENGTH and HAS <op>") {
    assert(ids("""elements LENGTH 2""") == Set("s1", "s2"))
    assert(ids("""elements LENGTH >= 3""") == Set("s3", "s5"))
    import spark.implicits._
    val nums = Seq(("n1", Seq(1, 5)), ("n2", Seq(7, 9))).toDF("id", "xs")
    val got = OptimadeCompiler.where(nums, """xs HAS < 3""")
      .select("id").collect().map(_.getString(0)).toSet
    assert(got == Set("n1"))
  }

  test("constant-first comparison") {
    assert(ids("""2 <= nelements AND 3 >= nelements""") == Set("s1", "s2", "s3"))
  }

  test("compile error on malformed filter") {
    assert(OptimadeCompiler.compile("x = ").isLeft)
    assertThrows[IllegalArgumentException](
      OptimadeCompiler.where(structures, "x AND"))
  }

  test("correlated set-zip: elements:ratios HAS with per-component operators") {
    import spark.implicits._
    val zipped = Seq(
      ("z1", Seq("Si", "O"), Seq(0.33, 0.67)),
      ("z2", Seq("Si", "C"), Seq(0.5, 0.5)),
      ("z3", Seq("Al", "O"), Seq(0.4, 0.6))).toDF("id", "elements", "ratios")
    def zids(f: String) = OptimadeCompiler.where(zipped, f)
      .select("id").collect().map(_.getString(0)).toSet
    // correlated: the O-ratio specifically, not any ratio
    assert(zids("""elements:ratios HAS "O":>0.65""") == Set("z1"))
    assert(zids("""elements:ratios HAS "O":>0.5""") == Set("z1", "z3"))
    // equality defaults; both components must hit the SAME index
    assert(zids("""elements:ratios HAS "Si":0.5""") == Set("z2"))
    assert(zids("""elements:ratios HAS "Si":0.67""") == Set.empty)
    // ALL = every tuple finds an index; ANY = at least one does
    assert(zids("""elements:ratios HAS ALL "Si":>0.3, "O":>0.6""") == Set("z1"))
    assert(zids("""elements:ratios HAS ANY "Si":>0.4, "Al":>0.3""") == Set("z2", "z3"))
    // ONLY: every index matches one of the listed tuples
    assert(zids("""elements:ratios HAS ONLY "Si":<0.4, "O":>0.6""") == Set("z1"))
    // composes with the boolean algebra
    assert(zids("""elements LENGTH 2 AND NOT elements:ratios HAS "O":>0.1""") == Set("z2"))
  }

  test("set-zip arity mismatch is a parse error") {
    assert(OptimadeFilter.parse("""a:b HAS "x":1:2""").isLeft)
    assert(OptimadeFilter.parse("""a:b:c HAS "x":1""").isLeft)
  }
}
