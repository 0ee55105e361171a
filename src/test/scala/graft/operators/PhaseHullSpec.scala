package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PhaseHullSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def bin(x: Double): Array[Double] = Array(1 - x, x)

  // binary A-B: pure elements at 0, stable mid-phases
  private val binaryRefs: Seq[(Array[Double], Double)] = Seq(
    (bin(0.0), 0.0), (bin(1.0), 0.0), (bin(0.5), -0.3),
    (bin(0.25), -0.2), (bin(0.75), -0.1),
    (bin(0.5), 0.2)) // above-hull duplicate composition — must not matter

  test("binary hull: vertices, interpolation, above-hull refs ignored") {
    // on-hull vertex
    assert(math.abs(PhaseHull.hullEnergyAt(binaryRefs, bin(0.5)).get - (-0.3)) < 1e-12)
    assert(math.abs(PhaseHull.hullEnergyAt(binaryRefs, bin(0.25)).get - (-0.2)) < 1e-12)
    // between (0.5,-0.3) and (1.0,0.0): at 0.75 the segment gives -0.15,
    // below the -0.1 reference point there
    assert(math.abs(PhaseHull.hullEnergyAt(binaryRefs, bin(0.75)).get - (-0.15)) < 1e-12)
    // between (0.25,-0.2) and (0.5,-0.3): midpoint 0.375 → -0.25
    assert(math.abs(PhaseHull.hullEnergyAt(binaryRefs, bin(0.375)).get - (-0.25)) < 1e-12)
    // pure element
    assert(math.abs(PhaseHull.hullEnergyAt(binaryRefs, bin(0.0)).get) < 1e-12)
  }

  test("e_above_hull: candidate above, on, and below the hull; no-decomposition → 0.0") {
    assert(math.abs(PhaseHull.eAboveHull(binaryRefs, bin(0.5), -0.25) - 0.05) < 1e-12)
    assert(math.abs(PhaseHull.eAboveHull(binaryRefs, bin(0.5), -0.3)) < 1e-12)
    // below the hull: a newly-found stable phase → negative
    assert(PhaseHull.eAboveHull(binaryRefs, bin(0.375), -0.4) < 0)
    // span without pure elements: x outside [0.25, 0.75] has no decomposition
    val noPure = binaryRefs.filter { case (f, _) => f(1) >= 0.25 && f(1) <= 0.75 }
    assert(PhaseHull.hullEnergyAt(noPure, bin(0.9)).isEmpty)
    assert(PhaseHull.eAboveHull(noPure, bin(0.9), -0.5) == 0.0)
  }

  test("ternary hull: 2- and 3-phase decompositions") {
    def t(a: Double, b: Double, c: Double) = Array(a, b, c)
    val refs: Seq[(Array[Double], Double)] = Seq(
      (t(1, 0, 0), 0.0), (t(0, 1, 0), 0.0), (t(0, 0, 1), 0.0),
      (t(1.0 / 3, 1.0 / 3, 1.0 / 3), -0.3))
    // between the mid phase and pure C
    val got = PhaseHull.hullEnergyAt(refs, t(1.0 / 6, 1.0 / 6, 4.0 / 6)).get
    assert(math.abs(got - (-0.15)) < 1e-9)
    // 3-phase region: between pure A, pure B, mid → plane through them
    val g2 = PhaseHull.hullEnergyAt(refs, t(0.5, 0.3, 0.2)).get
    // decomposition: λ_mid = 0.6 (c-fraction 0.2 / (1/3)), rest pure A/B
    assert(math.abs(g2 - (-0.18)) < 1e-9)
  }

  test("general LP agrees with the binary segment-envelope on random diagrams") {
    val rnd = new scala.util.Random(0xF14)
    (1 to 10).foreach { trial =>
      val xs = (Seq(0.0, 1.0) ++ Seq.fill(4)(rnd.nextInt(19).toDouble / 20 + 0.05)).distinct
      val refs = xs.map(x => (bin(x), math.floor(rnd.nextDouble() * -40) / 100))
      val queries = Seq.fill(5)(rnd.nextInt(21).toDouble / 20)
      queries.foreach { q =>
        val lp = PhaseHull.hullEnergyAt(refs, bin(q)).get
        // brute-force segment envelope
        val pts = refs.map { case (f, e) => (f(1), e) }
        val exact = pts.filter(_._1 == q).map(_._2)
        val interp = for {
          (ax, ae) <- pts; (bx, be) <- pts
          if ax < bx && ax <= q && q <= bx
        } yield ae + (be - ae) * (q - ax) / (bx - ax)
        val expected = (exact ++ interp).min
        assert(math.abs(lp - expected) < 1e-9,
          s"trial $trial x=$q lp=$lp expected=$expected refs=$pts")
      }
    }
  }
}
