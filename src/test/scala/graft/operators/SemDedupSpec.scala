package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SemDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private def df(vs: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    vs.toDF("vec_id", "embedding")
  }

  test("hand case: assignment, threshold, and smallest-id survivor") {
    // seeds (k=2) are vec 0 = (1,0) and vec 1 = (0,1).
    // vec 2 = (0.9, 0.1): nearer seed 0; cos(2,0) = 0.9/sqrt(0.82) ≈ 0.994
    // vec 3 = (-1, 0):    nearer seed 0 (dist 4 vs 2... no: to seed0 (−2)²=4,
    //                     to seed1 1+1=2 → cluster 1); cos vs seed1 = 0 → kept
    // vec 4 = (0.1, 0.95): cluster 1; cos(4,1) ≈ 0.9945 → dropped
    val got = SemDedup.report(df(Seq(
        0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f),
        2L -> Seq(0.9f, 0.1f), 3L -> Seq(-1f, 0f), 4L -> Seq(0.1f, 0.95f))),
      k = 2, tauNum = 9, tauDen = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(0L -> ((2L, 1L, 2L)), 1L -> ((3L, 1L, 4L))))
  }

  test("assignment tie goes to the smaller seed id") {
    // vec 2 is equidistant from both seeds
    import spark.implicits._
    val got = SemDedup.report(df(Seq(
        0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f), 2L -> Seq(0.5f, 0.5f))),
      k = 2, tauNum = 99, tauDen = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 1L))
  }

  test("hardNegatives: nearest other-label in-cluster, ties to min id") {
    val rnd = new scala.util.Random(31)
    val vs = (0L until 60L).map { i =>
      (i, Seq.fill(4)((rnd.nextDouble() - 0.5).toFloat), (i % 3).toInt)
    }
    val k = 4
    val q = vs.map { case (id, e, _) =>
      id -> e.map(x => math.floor(x.toDouble * SemDedup.Scale).toLong)
    }.toMap
    val lbl = vs.map(v => v._1 -> v._3).toMap
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seeds = (0L until k.toLong)
    val cl = q.map { case (id, e) => id -> seeds.minBy(s => (d2(e, q(s)), s)) }
    val expected = q.keys.flatMap { a =>
      val cands = q.keys.filter(b =>
        b != a && cl(b) == cl(a) && lbl(b) != lbl(a))
      if (cands.isEmpty) None
      else {
        val best = cands.map(b => (d2(q(a), q(b)), b)).min
        Some(a -> ((best._2, best._1)))
      }
    }.toMap
    import spark.implicits._
    val got = SemDedup.hardNegatives(
        vs.toDF("vec_id", "embedding", "label"), k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("knnLabelAgreement: nearest any-label in-cluster, per-label agg") {
    val rnd = new scala.util.Random(37)
    val vs = (0L until 60L).map { i =>
      (i, Seq.fill(4)((rnd.nextDouble() - 0.5).toFloat), (i % 3).toInt)
    }
    val k = 4
    val q = vs.map { case (id, e, _) =>
      id -> e.map(x => math.floor(x.toDouble * SemDedup.Scale).toLong)
    }.toMap
    val lbl = vs.map(v => v._1 -> v._3).toMap
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seeds = (0L until k.toLong)
    val cl = q.map { case (id, e) => id -> seeds.minBy(s => (d2(e, q(s)), s)) }
    val nn = q.keys.flatMap { a =>
      val cands = q.keys.filter(b => b != a && cl(b) == cl(a))
      if (cands.isEmpty) None
      else Some(a -> cands.minBy(b => (d2(q(a), q(b)), b)))
    }.toMap
    val expected = nn.toSeq.groupBy { case (a, _) => lbl(a) }
      .map { case (l, ps) =>
        l.toLong -> ((ps.size.toLong,
          ps.count { case (a, b) => lbl(a) == lbl(b) }.toLong))
      }
    import spark.implicits._
    val got = SemDedup.knnLabelAgreement(
        vs.toDF("vec_id", "embedding", "label"), k)
      .collect().map(r => r.getInt(0).toLong -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("kmeansTwoRounds matches a driver-side integer Lloyd") {
    val rnd = new scala.util.Random(23)
    val vs = (0L until 50L).map { i =>
      i -> Seq.fill(5)((rnd.nextDouble() - 0.5).toFloat)
    }
    val k = 3
    // brute force with the identical shifted quantization + floor div
    val q = vs.map { case (id, e) =>
      id -> e.map(x =>
        math.floor(x.toDouble * SemDedup.Scale).toLong + SemDedup.Scale)
    }.toMap
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seeds = (0L until k.toLong)
    val a1 = q.map { case (id, e) => id -> seeds.minBy(s => (d2(e, q(s)), s)) }
    val cent = a1.groupBy(_._2).map { case (c, m) =>
      val members = m.keys.toSeq.map(q)
      c -> (0 until 5).map(dim =>
        members.map(_(dim)).sum / members.size) // all operands ≥ 0
    }
    val cids = cent.keys.toSeq.sorted
    val a2 = q.map { case (id, e) => id -> cids.minBy(s => (d2(e, cent(s)), s)) }
    val expected = a2.groupBy(_._2).map { case (c, m) =>
      val ids = m.keys.toSeq
      c -> ((ids.size.toLong, ids.count(i => a1(i) != c).toLong, ids.sum))
    }
    import spark.implicits._
    val got = SemDedup.kmeansTwoRounds(vs.toDF("vec_id", "embedding"), k)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
  }

  test("random vectors match a driver-side brute force") {
    val rnd = new scala.util.Random(11)
    val vs = (0L until 60L).map { i =>
      i -> Seq.fill(6)((rnd.nextDouble() - 0.5).toFloat)
    }
    val k = 4
    val (tauNum, tauDen) = (8L, 10L)
    // brute force on the identical quantization
    val q = vs.map { case (id, e) =>
      id -> e.map(x => math.floor(x.toDouble * SemDedup.Scale).toLong)
    }.toMap
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val seeds = (0L until k.toLong)
    val cluster = q.map { case (id, e) =>
      id -> seeds.minBy(s => (d2(e, q(s)), s))
    }
    val nrm = q.map { case (id, e) => id -> e.map(x => x * x).sum }
    val dropped = q.keys.filter { b =>
      q.keys.exists { a =>
        a < b && cluster(a) == cluster(b) && {
          val dot = q(a).zip(q(b)).map { case (x, y) => x * y }.sum
          dot > 0 && BigInt(tauDen * tauDen) * BigInt(dot) * BigInt(dot) >=
            BigInt(tauNum * tauNum) * BigInt(nrm(a)) * BigInt(nrm(b))
        }
      }
    }.toSet
    val expected = cluster.groupBy(_._2).map { case (c, m) =>
      val ids = m.keys.toSeq
      val drp = ids.filter(dropped)
      c -> ((ids.size.toLong, drp.size.toLong, drp.sum))
    }
    val got = SemDedup.report(df(vs), k, tauNum, tauDen)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
  }

  test("kernel pair stage ≡ the exploded join-on-d formulation " +
      "(report / hardNegatives / knnLabelAgreement, incl. null elements)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(53)
    // null elements exercise the null-skip edge; vec 7 is ALL-null so its
    // pairs have NULL dot/d2 (excluded from near-dup and argmin on both
    // formulations — the exploded form emits null sums for it too, since
    // posexplode keeps null elements as join rows with null q)
    val vs: Seq[(Long, Seq[java.lang.Float], Int)] = (0L until 70L).map { i =>
      (i, Seq.fill(6)(
        if (i == 7L || rnd.nextInt(12) == 0) null
        else java.lang.Float.valueOf((rnd.nextDouble() - 0.5).toFloat)),
        (i % 3).toInt)
    }
    val emb = vs.toDF("vec_id", "embedding", "label")
    val k = 4
    val (tauNum, tauDen) = (8L, 10L)

    // the pre-round-11 exploded pipeline, rebuilt inline
    val qv = SemDedup.quantized(emb)
    val assign = SemDedup.assignments(emb, k)
    val norms = qv.groupBy("vec_id").agg(sum(col("q") * col("q")).as("nrm"))
    val avN = qv.join(assign, "vec_id").join(norms, "vec_id")
    val oldDots = avN.as("a").join(avN.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.d") === col("b.d") &&
          col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.cluster").as("cluster"), col("a.vec_id").as("va"),
        col("b.vec_id").as("vb"), col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .agg(sum(col("a.q") * col("b.q")).as("dot"))
    val dotDec = col("dot").cast("decimal(38,0)")
    val oldDroppedIds = oldDots.filter(col("dot") > 0 &&
        lit(tauDen * tauDen) * dotDec * dotDec >=
          lit(tauNum * tauNum) * col("na").cast("decimal(38,0)") *
            col("nb").cast("decimal(38,0)"))
      .select(col("vb").as("vec_id")).distinct()
    val oldDropAgg = oldDroppedIds.join(assign, "vec_id").groupBy("cluster")
      .agg(count(lit(1)).as("n_dropped"), sum("vec_id").as("idsum"))
    val oldReport = assign.groupBy("cluster").agg(count(lit(1)).as("n_members"))
      .join(oldDropAgg, Seq("cluster"), "left")
      .select(col("cluster"), col("n_members"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("idsum"), lit(0L)).as("dropped_idsum"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val newReport = SemDedup.report(emb, k, tauNum, tauDen)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(newReport === oldReport)

    val avL = qv.join(assign, "vec_id")
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    val oldCdHn = avL.as("a").join(avL.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.d") === col("b.d") &&
          col("a.vec_id") =!= col("b.vec_id") &&
          col("a.label") =!= col("b.label"))
      .groupBy(col("a.vec_id").as("anchor"), col("b.vec_id").as("cand"))
      .agg(sum((col("a.q") - col("b.q")) * (col("a.q") - col("b.q"))).as("d2"))
    val oldMn = oldCdHn.groupBy("anchor").agg(min("d2").as("m"))
    val oldHn = oldCdHn.join(oldMn, Seq("anchor"))
      .filter(col("d2") === col("m"))
      .groupBy("anchor", "d2").agg(min("cand").as("negative"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(1)))).toMap
    val newHn = SemDedup.hardNegatives(emb, k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(newHn === oldHn)
    assert(newHn.nonEmpty && !newHn.contains(7L)) // all-null vec excluded

    val oldCdKnn = avL.as("a").join(avL.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.d") === col("b.d") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .groupBy(col("a.vec_id").as("anchor"), col("a.label").as("la"),
        col("b.vec_id").as("cand"), col("b.label").as("lb"))
      .agg(sum((col("a.q") - col("b.q")) * (col("a.q") - col("b.q"))).as("d2"))
    val oldMn2 = oldCdKnn.groupBy("anchor").agg(min("d2").as("m"))
    val oldNn = oldCdKnn.join(oldMn2, Seq("anchor"))
      .filter(col("d2") === col("m"))
      .groupBy("anchor", "la").agg(min("cand").as("nnid"))
    val oldKnn = oldNn.join(
        oldCdKnn.select(col("anchor"), col("cand").as("nnid"), col("lb")),
        Seq("anchor", "nnid"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_same"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val newKnn = SemDedup.knnLabelAgreement(emb, k)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(newKnn === oldKnn)
    assert(newKnn.nonEmpty)
    graft.Caches.releaseAll(spark)
  }

  test("clusterDrift matches a driver-side occupancy reference") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(47)
    val vs = (0L until 80L).map { i =>
      (i, Seq.fill(4)((rnd.nextDouble() - 0.5).toFloat))
    }
    val k = 4
    val q = vs.map { case (id, e) =>
      id -> e.map(x => math.floor(x.toDouble * SemDedup.Scale).toLong)
    }.toMap
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val cl = q.map { case (id, e) =>
      id -> (0L until k.toLong).minBy(s => (d2(e, q(s)), s))
    }
    val cells = cl.groupBy(_._2).map { case (c, m) =>
      val ids = m.keys.toSeq
      c -> ((ids.count(_ % 2 == 0).toLong, ids.count(_ % 2 == 1).toLong))
    }
    val (na, nb) = (cells.values.map(_._1).sum, cells.values.map(_._2).sum)
    val expected = cells.map { case (c, (a, b)) =>
      c -> ((a, b, a * 1000 / na, b * 1000 / nb,
        (BigInt(a) * nb - BigInt(b) * na).abs.toString))
    }
    val got = SemDedup.clusterDrift(df(vs), k, col("vec_id") % 2 === 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    graft.Caches.releaseAll(spark)
    assert(got == expected)
  }
}
