package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.LocalSession(4)

  private lazy val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("IVF: self-match survives, recall beats 0.5 at nprobe=4/nlist=8, and grows with nprobe") {
    val queries = emb.filter(col("vec_id") < 10)
    val index = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    // every corpus row landed in exactly one of nlist cells
    assert(index.assigned.count() == emb.count())
    assert(index.assigned.select("cell").distinct().count() <= 8)

    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nprobe: Int): (Double, Set[(Long, Long)]) = {
      val got = IvfIndex.topK(index, queries, "vec_id", "embedding", k = 5, nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ((exact & got).size.toDouble / exact.size, got)
    }
    val (r4, got4) = recallAt(4)
    val (r8, _) = recallAt(8) // probing all cells = exhaustive
    assert(r4 >= 0.5, s"IVF recall@nprobe=4 too low: $r4")
    assert(r8 == 1.0, s"probing every cell must be exact: $r8")
    // a query's own vector shares its cell → always retrieved
    (0L until 10L).foreach(q => assert(got4.contains((q, q))))
  }

  test("IVF is deterministic for a fixed seed") {
    val i1 = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    val i2 = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    assert(i1.centroids.map(_.toSeq).toSeq == i2.centroids.map(_.toSeq).toSeq)
  }

  test("persisted per-cell layout: probes prune files at the scan") {
    val path = java.nio.file.Files.createTempDirectory("test-ivf-store").toString
    val index = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    IvfIndex.write(index, path)

    val loaded = IvfIndex.load(spark, path)
    assert(loaded.centroids.map(_.toSeq).toSeq == index.centroids.map(_.toSeq).toSeq)

    val queries = emb.filter(col("vec_id") < 3)
    val nprobe = 2
    // the probe list + search over the loaded store, as q54 runs them
    val probes = IvfIndex.probes(loaded, queries, "vec_id", "embedding", nprobe)
    val stored = IvfIndex.topKStoredWithProbes(loaded, probes, k = 5)
    // same results as searching the in-memory index
    val inMem = IvfIndex.topK(index, queries, "vec_id", "embedding", k = 5, nprobe = nprobe)
      .select("query_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromDisk = stored.select("query_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromDisk == inMem)

    // the pruning assertion: the probed search reads only the probed
    // cells' files, a full scan of the assigned corpus reads them all
    val assigned = spark.read.parquet(s"$path/assigned")
    val totalFiles = graft.sources.StructureStore.filesScanned(assigned, "test-ivf-store")
    val probedCells = probes.select("cell").distinct().count()
    val scanned = graft.sources.StructureStore.filesScanned(
      IvfIndex.topKStoredWithProbes(loaded, probes, k = 5), "test-ivf-store")
    assert(probedCells < 8, s"fixture degenerate: all cells probed")
    assert(scanned > 0 && scanned < totalFiles,
      s"scan not pruned: $scanned of $totalFiles files for $probedCells/8 cells")
  }

  test("incremental: assignToCentroids reproduces the model's own " +
      "assignment (frozen-quantizer routing rule)") {
    val base = emb.filter(col("vec_id") % 10 =!= 9)
    val index = IvfIndex.build(base, "vec_id", "embedding", nlist = 8)
    val own = index.assigned.select("corpus_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val re = IvfIndex.assignToCentroids(index, base, "vec_id", "embedding")
      .select("corpus_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(re == own,
      s"argmin rule diverges from KMeans.transform on ${
        re.count { case (k, v) => own(k) != v }} of ${own.size} rows")
  }

  test("incremental: base store + delta segment ≡ one-pass assignment " +
      "over the union, and the segment lands cell-partitioned") {
    val base = emb.filter(col("vec_id") % 10 =!= 9)
    val delta = emb.filter(col("vec_id") % 10 === 9)
    val index = IvfIndex.build(base, "vec_id", "embedding", nlist = 8)
    val deltaAssigned = IvfIndex.assignToCentroids(index, delta, "vec_id", "embedding")

    val basePath = java.nio.file.Files.createTempDirectory("test-ivf-incr-base").toString
    val segPath = java.nio.file.Files.createTempDirectory("test-ivf-incr-seg").toString
    IvfIndex.write(index, basePath)
    graft.sources.StructureStore.writePartitioned(
      deltaAssigned, s"$segPath/assigned", "cell")

    // the segment read-back is exactly the delta assignment (cell dirs
    // round-trip the partition column)
    val backRows = spark.read.parquet(s"$segPath/assigned")
      .select("corpus_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val deltaRows = deltaAssigned.select("corpus_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(backRows == deltaRows)
    assert(deltaRows.nonEmpty)

    // search over base-store ∪ segment ≡ search over a one-pass
    // assignment of the full corpus through the SAME frozen quantizer
    val queries = emb.filter(col("vec_id") < 3)
    val probes = IvfIndex.probes(index, queries, "vec_id", "embedding", nprobe = 3)
    def search(assigned: org.apache.spark.sql.DataFrame) =
      Similarity.rankTopK(
          assigned.join(broadcast(probes), Seq("cell"))
            .select(col("query_id"), col("qv"), col("corpus_id"), col("cv")),
          k = 5)
        .select("query_id", "corpus_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val segmented = search(
      spark.read.parquet(s"$basePath/assigned")
        .select("corpus_id", "cv", "cell")
        .unionByName(spark.read.parquet(s"$segPath/assigned")
          .select("corpus_id", "cv", "cell")))
    val onePass = search(
      IvfIndex.assignToCentroids(index, emb, "vec_id", "embedding"))
    assert(segmented == onePass)
    assert(segmented.nonEmpty)
    // delta vectors are actually retrievable through the probed search
    val allCells = deltaRows.values.toSet
    assert(allCells.nonEmpty && allCells.size <= 8)
  }
}
