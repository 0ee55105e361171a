package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** docs/CACHE_POLICY.md guarantees: a composed persist-heavy pipeline
  * leaves a BOUNDED number of cached frames in the storage pool, and
  * [[Caches.releaseAll]] returns the registry (and, blocking, the pool
  * bytes) to zero. */
class CachesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  test("composed pipeline: bounded cached frames; releaseAll drains to zero") {
    import spark.implicits._
    Caches.releaseAll(spark, blocking = true) // isolate from other suites
    assert(Caches.cachedFrames(spark) == 0)

    // q226-style composition: curation-ish dedup over documents plus an
    // embedding-quality eval — three persist-carrying operators in ONE
    // session, results materialized the way a notebook consumer would.
    val docs = (0L until 60L).map(i =>
        (i, s"doc ${i % 20} body token${i % 20} tail word${i % 20}"))
      .toDF("doc_id", "text")
    val emb = (0L until 40L).map { i =>
      val a = ((i % 7).toFloat - 3f) / 3f
      (i, Seq(a, 1f - a, a * a), (i % 3).toString)
    }.toDF("vec_id", "embedding", "label")

    val nearDups = operators.Dedup.minhashNearDupsFromSigs(
      operators.Dedup.minhashSigs(docs, "doc_id", "text"),
      threshold = 0.5, bands = 16, rowsPerBand = 4).count()
    val knn = operators.SemDedup.knnLabelAgreement(emb, k = 4).count()
    val negs = operators.SemDedup.hardNegatives(emb, k = 4).count()
    assert(nearDups >= 0 && knn >= 0 && negs >= 0)

    // Bounded: each operator registers a FIXED number of internal
    // frames per call (knnLabelAgreement 3, hardNegatives 3, the dedup
    // chain ≤ 2) — #frames tracks #operator-calls, never data size.
    val frames = Caches.cachedFrames(spark)
    assert(frames > 0, "fixture should exercise persisting operators")
    assert(frames <= 10, s"composed pipeline left $frames cached frames")

    Caches.releaseAll(spark, blocking = true)
    assert(Caches.cachedFrames(spark) == 0)
    assert(Caches.storageBytes(spark) == 0L)
  }
}
