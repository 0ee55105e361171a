package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF (inverted-file) approximate nearest neighbor — the classic
  * scale path next to sign-LSH ([[Similarity.multiprobe]]): a k-means
  * coarse quantizer partitions the corpus into nlist cells; a query
  * probes only its nprobe nearest cells.
  *
  * Spark mapping: the quantizer is Spark ML KMeans (seeded,
  * deterministic for fixed input); cell assignment is a model.transform
  * over the corpus (one pass, partition-parallel); centroids are tiny
  * and broadcast as literals into the query-side probe expression; the
  * search is a (cell-id) equi-join — shuffle on cell id, cost per query
  * = occupancy of nprobe cells, not corpus size. On a real cluster the
  * assigned corpus would be written partitioned by cell
  * (StructureStore.writePartitioned) so probes prune at the scan.
  */
object IvfIndex {

  final case class Index(centroids: Array[Array[Double]], assigned: DataFrame)

  /** Session-scoped index memo: an IVF index is a persistent artifact in
    * production (the quantizer is fit once and queried for days — cf. the
    * persisted per-cell layout below), so repeated queries against the
    * same corpus should not re-fit k-means. The fit is seeded and the
    * corpus deterministic, so a cache hit is bit-identical to a rebuild
    * (asserted by the determinism spec). */
  private val buildCache =
    new java.util.concurrent.ConcurrentHashMap[String, Index]()

  def buildCached(key: String, corpus: DataFrame, idCol: String,
                  vecCol: String, nlist: Int, seed: Long = 42L): Index =
    buildCache.compute(key, (_, cached) =>
      // a hit whose DataFrame belongs to a stopped SparkContext (session
      // torn down and rebuilt in the same JVM) must rebuild, not return
      // a frame that fails on first action
      if (cached != null &&
          !cached.assigned.sparkSession.sparkContext.isStopped) cached
      else build(corpus, idCol, vecCol, nlist, seed))

  /** Build the index: fit k-means on the (double-cast) vectors and
    * assign every corpus row to its cell. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            nlist: Int, seed: Long = 42L): Index = {
    val vecs = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("features", array_to_vector(col("cv")))
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(vecs)
    val assigned = model.transform(vecs).select("corpus_id", "cv", "cell")
    Index(model.clusterCenters.map(_.toArray), assigned)
  }

  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Incremental maintenance: assign a DELTA batch of vectors to
    * the EXISTING centroids (frozen coarse quantizer — the standard IVF
    * maintenance regime: new vectors are routed by the trained
    * quantizer; refitting would invalidate every stored cell). Output
    * shape matches [[Index.assigned]]: (corpus_id, cv, cell).
    *
    * Assignment = argmin over the centroid literal by (squared distance,
    * cell) — ties to the lowest cell id, which is Spark ML KMeans'
    * first-minimal-index rule, so `assignToCentroids(index, base) ≡
    * index.assigned` (asserted in IvfIndexSpec). Row-local codegen over
    * an nlist-sized literal: no join, no shuffle — a delta batch
    * appends at scan speed regardless of corpus size. */
  def assignToCentroids(index: Index, delta: DataFrame, idCol: String,
                        vecCol: String): DataFrame = {
    val centroidsLit = typedlit(index.centroids.map(_.toSeq).toSeq)
    // the lambdas capture ONLY the raw vector ATTRIBUTE (element-wise
    // casts live inside the lambda) — capturing cast(vec) would be a
    // computed-array capture that the interpreted HOF re-evaluates per
    // element (CLAUDE.md ground rule; machine-checked by the plan audit)
    val raw = col(vecCol)
    def d2(c: Column): Column = aggregate(
      zip_with(raw, c,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, x) => acc + x)
    delta.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"),
      element_at(array_sort(
        zip_with(transform(centroidsLit, c => d2(c)),
          sequence(lit(0), lit(index.centroids.length - 1)),
          (d, i) => struct(d.as("d"), i.as("cell")))), 1)
        .getField("cell").cast("int").as("cell"))
  }

  /** (query_id, qv, cell): the per-query probe list — nprobe nearest
    * centroids by squared distance (ranked by (distance, cell) and
    * sliced), one row per probed cell. Materialized to aux parquet by the
    * oracle-gated queries so the downstream cell join + ranking can be
    * re-derived in SQL. */
  def probes(index: Index, queries: DataFrame, queryIdCol: String,
             vecCol: String, nprobe: Int): DataFrame = {
    val centroidsLit = typedlit(index.centroids.map(_.toSeq).toSeq)
    queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cellDists",
        transform(centroidsLit, c => sqDist(col("qv"), c)))
      .withColumn("probe", explode(slice(
        array_sort(
          zip_with(col("cellDists"),
            sequence(lit(0), lit(index.centroids.length - 1)),
            (d, i) => struct(d.as("d"), i.as("cell")))),
        1, nprobe)))
      .select(col("query_id"), col("qv"), col("probe.cell").as("cell"))
  }

  /** Top-k cosine search probing the nprobe nearest cells per query.
    * Output shape matches [[Similarity.bruteForceTopK]]. */
  def topK(index: Index, queries: DataFrame, queryIdCol: String,
           vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val q = broadcast(probes(index, queries, queryIdCol, vecCol, nprobe))
    Similarity.rankTopK(
      index.assigned.join(q, Seq("cell"))
        .select(col("query_id"), col("qv"), col("corpus_id"), col("cv")), k)
  }

  // ---------- persisted per-cell layout (the 100 TB path) ----------

  /** Persist the index with the assigned corpus PARTITIONED BY CELL
    * (hive-style `cell=N/` dirs) plus a tiny centroid sidecar. At scale
    * this is the layout that makes nprobe real: a probe touches only its
    * cells' files instead of scanning the whole corpus. */
  def write(index: Index, path: String): Unit = {
    graft.sources.StructureStore.writePartitioned(
      index.assigned, s"$path/assigned", "cell")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load a persisted index. The centroid sidecar is nlist rows — a
    * metadata-scale driver read, like fetching any model. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val centroids = spark.read.parquet(s"$path/centroids").orderBy("cell")
      .collect().map(_.getSeq[Double](1).toArray)
    Index(centroids, spark.read.parquet(s"$path/assigned"))
  }

  /** Content stamp of an index: centroid hash (deterministic k-means
    * output, driver-resident) + the assigned frame's multiset
    * fingerprint. Equal stamps ⇔ the persisted store already holds this
    * exact index. */
  private def storeStamp(index: Index): String = {
    val centroidHash = scala.util.hashing.MurmurHash3.orderedHash(
      index.centroids.iterator.map(_.toSeq))
    s"c$centroidHash-${graft.Aux.fingerprint(index.assigned)}"
  }

  /** Persist `index` at `path` and return the path, through the
    * write-once store [[graft.Aux.writeOnce]] stamped by [[storeStamp]];
    * complete once the centroid sidecar, which [[write]] writes last,
    * has its `_SUCCESS`. */
  def storeCached(index: Index, path: String): String = {
    graft.Aux.writeOnce(path, storeStamp(index), java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, "centroids", "_SUCCESS")))(write(index, path))
    path
  }

  /** Top-k over a [[load]]ed PERSISTED index with scan-level partition
    * pruning: the distinct probed cell ids (≤ nQueries × nprobe ints —
    * metadata, not data) drive an `isin` partition filter, so the
    * parquet scan reads only the probed `cell=N/` directories;
    * [[graft.sources.StructureStore.filesScanned]] proves it in
    * IvfIndexSpec. The broadcast probe join then pairs each query with
    * exactly its own cells' rows. The caller supplies the [[probes]]
    * list: the oracle-gated queries materialize it to aux parquet
    * first, so the same frame feeds both the Spark search and the
    * DuckDB re-derivation. */
  def topKStoredWithProbes(index: Index, probes: DataFrame, k: Int): DataFrame = {
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val pruned = index.assigned.filter(col("cell").isin(cells: _*))
    Similarity.rankTopK(
      pruned.join(broadcast(probes), Seq("cell"))
        .select(col("query_id"), col("qv"), col("corpus_id"), col("cv")), k)
  }
}
