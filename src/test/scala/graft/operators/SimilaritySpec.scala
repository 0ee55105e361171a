package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private lazy val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("brute-force top-k: self is rank 1 with sim 1.0; k rows per query") {
    val topk = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 3), emb, "vec_id", "vec_id", "embedding", k = 5)
      .collect()
    assert(topk.length == 15)
    (0L until 3L).foreach { q =>
      val r1 = topk.find(r => r.getLong(0) == q && r.getInt(3) == 1).get
      assert(r1.getLong(1) == q, "self must be nearest")
      assert(r1.getDouble(2) == 1.0)
    }
    // ranks are 1..5 without gaps
    assert(topk.filter(_.getLong(0) == 0L).map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
  }

  /** Sign-LSH top-k as q40 runs it: bucket the corpus, probe each
    * query's [[Similarity.multiprobe]] list, rank the candidates. */
  private def lshTopK(queries: DataFrame, k: Int, bits: Int): Set[(Long, Long)] = {
    val planes = Dedup.hyperplanes(64, bits)
    val corpus = emb.select(col("vec_id").as("corpus_id"),
        col("embedding").cast("array<double>").as("cv"))
      .withColumn("bucket", Dedup.signBucket(col("cv"), planes))
    val probes = queries.select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("qbucket", Dedup.signBucket(col("qv"), planes))
      .withColumn("probe", explode(Similarity.multiprobe(col("qbucket"), bits)))
    Similarity.rankTopK(
        corpus.join(broadcast(probes), col("bucket") === col("probe"))
          .select(col("query_id"), col("qv"), col("corpus_id"), col("cv")), k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("LSH ANN recall vs exact baseline; recall rises with fewer bits") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(bits: Int): Double =
      (exact & lshTopK(queries, 5, bits)).size.toDouble / exact.size
    // random 64-d vectors are near-orthogonal — the hardest case for
    // sign-LSH; coarse buckets must still beat fine ones and clear a floor
    val r4 = recallAt(4)
    val r8 = recallAt(8)
    assert(r4 >= 0.5, s"recall@4bits too low: $r4")
    assert(r4 >= r8, s"coarser buckets should not lose recall: $r4 < $r8")
    // self-match always survives (identical vector → identical bucket)
    val ann4 = lshTopK(queries, 5, bits = 4)
    (0L until 10L).foreach(q => assert(ann4.contains((q, q))))
  }

  test("knn majority prediction is deterministic and labeled from corpus") {
    // rankTopK + majorityVote, the tail q42 runs (exact retrieval here)
    def predict() = {
      val corpus = emb.filter(col("vec_id") >= 5)
      val topk = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5),
        corpus, "vec_id", "vec_id", "embedding", k = 9)
      Similarity.majorityVote(topk,
          corpus.select(col("vec_id").as("corpus_id"), col("label")))
        .collect()
    }
    val pred = predict()
    assert(pred.length == 5)
    pred.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(1) <= 9)
      assert(r.getLong(2) >= 1 && r.getLong(2) <= 9)
    }
    // determinism: second run identical
    val pred2 = predict()
    assert(pred.map(_.toString).toSeq == pred2.map(_.toString).toSeq)
  }

  test("maxSim ≡ brute-force per-entity per-query max dot; score sums") {
    import spark.implicits._
    val rnd = new scala.util.Random(0x7A)
    val vs = (0L until 30L).map(i =>
      (i, Seq.fill(5)(rnd.nextFloat() * 2f - 1f), (i % 4).toInt))
    val df = vs.toDF("vec_id", "embedding", "label")
    def quant(e: Seq[Float]): Seq[Long] =
      e.map(x => math.floor(x.toDouble * 1000000L).toLong)
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val queries = vs.filter(_._1 < 2).map(v => (v._1, quant(v._2)))
    val expect = (for {
      (ent, members) <- vs.groupBy(_._3 .toLong).toSeq
      (qid, qqa) <- queries
    } yield {
      val dots = members.map(m => (dot(quant(m._2), qqa), m._1))
      val best = dots.maxBy { case (d, id) => (d, -id) }
      (ent, qid) -> ((best._1, best._2))
    }).toMap
    val got = Similarity.maxSim(df, "label", col("vec_id") < 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (k, (md, bv, score)) =>
      assert((md, bv) === expect(k), s"entity/query $k")
      val entTotal = expect.collect { case ((e, _), (d, _)) if e == k._1 => d }.sum
      assert(score === entTotal, s"entity_score ${k._1}")
    }
  }
}
