package graft.federate

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-source federation: fan-out, per-source limits, heterogeneous
  * union, stats, fair-quota application, and ordered dedup.
  *
  * Reference lifecycle (SURVEY §3.2, Optimade_Server/server.py:97-198):
  * per-provider fetch with max_results_per_provider → gather with
  * exception tolerance → stats per (clause, url) → quota plan →
  * first-provider-wins dedup by id → truncation.
  *
  * Spark mapping / scale design:
  *  - each source is a DataFrame; "fan-out" is one unionByName plan, so all
  *    sources scan in parallel across the cluster (no driver-side loop);
  *  - per-source failure tolerance substitutes an empty frame (O1/O2)
  *    without failing the query;
  *  - every source is limited to nResults in the plan (T4), so a federated
  *    query's whole input is at most sources × nResults rows: it executes
  *    once, as one ordered top-k collect (TakeOrderedAndProject), and
  *    stats, the quota plan, its application and the dedup run on those
  *    driver rows — one Spark job per query, the reference's gather-then-
  *    plan shape (server.py:150-198) over a bounded gather;
  *  - ordered dedup is deterministic "first provider wins" (D1): the row
  *    with the lowest precedence rank, then the lowest order value.
  */
object Federation {

  /** A federated source: precedence = position in the registry. */
  final case class Source(provider: String, url: String, load: () => DataFrame)

  final case class FanOutResult(data: DataFrame, failures: Seq[(String, String)])

  /** Fan out over sources, tolerating per-source failures; each source is
    * tagged with provider/url/precedence columns and per-source limited
    * (limit pushdown ≡ max_results_per_provider, T4). When `orderCol` is
    * given the limit is an ordered top-k (TakeOrderedAndProject per
    * source) — deterministic, unlike a bare limit's arbitrary rows.
    *
    * Failure tolerance layers: load()/analysis errors are always caught
    * per source. With `probeSources = true`, each source additionally
    * runs a 1-row execution probe, so sources that analyze fine but die
    * at RUNTIME (corrupt file, dead connection) are also quarantined
    * into `failures` instead of failing the whole union job later — the
    * reference's per-provider fetch tolerance
    * (Optimade_Server/server.py:130-147). Cost: one tiny Spark job per
    * source; leave it off when sources are trusted local parquet and the
    * single-plan scan parallelism matters more. */
  def fanOut(spark: SparkSession, sources: Seq[Source],
             filter: Option[Column] = None,
             perSourceLimit: Option[Int] = None,
             orderCol: Option[String] = None,
             probeSources: Boolean = false): FanOutResult = {
    val failures = Seq.newBuilder[(String, String)]
    val frames = sources.zipWithIndex.flatMap { case (s, rank) =>
      try {
        val base = s.load()
        if (probeSources) base.limit(1).collect()
        val filtered = filter.fold(base)(base.filter)
        val ordered = orderCol.filter(_ => perSourceLimit.isDefined)
          .fold(filtered)(c => filtered.orderBy(col(c)))
        val limited = perSourceLimit.fold(ordered)(ordered.limit)
        Some(limited.withColumns(ListMap(
          "provider" -> lit(s.provider),
          "provider_url" -> lit(s.url),
          "provider_rank" -> lit(rank))))
      } catch {
        case e: Exception =>
          failures += ((s"${s.provider}@${s.url}", e.getMessage))
          None
      }
    }
    val unioned = frames.reduceLeftOption(
      (a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse(spark.emptyDataFrame)
    FanOutResult(unioned, failures.result())
  }

  /** A7: observed counts per (provider, url) — the input to the planner.
    * Counts are capped at `capPerUrl` when given, matching the reference's
    * stats which observe at most max_results_per_provider rows per URL.
    * Providers are ordered by PRECEDENCE (min provider_rank, the registry
    * order fanOut stamped), not alphabetically — the quota planner's
    * leftover-distribution walks providers in order, so alphabetical
    * ordering silently re-prioritized sources. */
  def stats(df: DataFrame, capPerUrl: Option[Int] = None): QuotaPlanner.Stats = {
    require(df.columns.contains("provider_rank"),
      "stats expects a fanOut-tagged frame (provider_rank column)")
    val rows = df.groupBy("provider", "provider_url")
      .agg(count(lit(1)), min(col("provider_rank")))
      .collect()
    statsOf(rows.toSeq.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))), capPerUrl)
  }

  /** Stats from (provider, url, count, min rank) groups: providers in
    * precedence order, counts capped at `capPerUrl`. A rank names one
    * registered source, so the (rank, url) order is total. */
  private def statsOf(groups: Seq[(String, String, Long, Int)],
                      capPerUrl: Option[Int]): QuotaPlanner.Stats = {
    val byProvider = mutable.LinkedHashMap.empty[String, Vector[(String, Int)]]
    groups.sortBy { case (_, u, _, rank) => (rank, u) }.foreach { case (p, u, n, _) =>
      val capped = u -> capPerUrl.fold(n.toInt)(math.min(n.toInt, _))
      byProvider.updateWith(p) {
        case Some(us) => Some(us :+ capped)
        case None     => Some(Vector(capped))
      }
    }
    byProvider.toSeq.map { case (p, us) => p -> us.toSeq }
  }

  final case class FederatedResult(data: DataFrame, stats: QuotaPlanner.Stats,
                                   plan: QuotaPlanner.Plan,
                                   failures: Seq[(String, String)])

  /** Full federated query: fan-out → stats → fair plan → quota
    * application → ordered dedup → global truncation (T3).
    *
    * The fan-out executes once: every source is limited to `nResults`,
    * so one ordered collect of at most sources × nResults rows holds all
    * of it, and the rest runs on those rows:
    *  - stats count the rows per (provider, url), capped at `nResults`;
    *  - each (provider, url) keeps its first `quota` rows by `orderCol`;
    *  - per id, the row of the lowest precedence rank wins (then the
    *    lowest `orderCol`); null ids are one group;
    *  - the first `maxReturned` rows by (precedence rank, `orderCol`)
    *    are returned as a local frame, so reading it runs no job.
    * Output columns: provider, provider_url, the sources' columns,
    * provider_rank. `idCol` must be a string or integral column, so ids
    * compare by value. */
  def federatedQuery(spark: SparkSession, sources: Seq[Source],
                     filter: Option[Column], nResults: Int,
                     idCol: String, orderCol: String,
                     maxReturned: Int = 30): FederatedResult = {
    val fo = fanOut(spark, sources, filter,
      perSourceLimit = Some(nResults), orderCol = Some(orderCol))
    if (fo.data.columns.isEmpty)
      return FederatedResult(fo.data, Seq.empty, Seq.empty, fo.failures)
    val idType = fo.data.schema(idCol).dataType
    require(idType match {
      case _: StringType | ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }, s"id column $idCol must be a string or integral type, not ${idType.simpleString}")
    val tags = Seq("provider", "provider_url", "provider_rank")
    val data = fo.data.select((Seq("provider", "provider_url") ++
      fo.data.columns.filterNot(tags.contains) :+ "provider_rank").map(col): _*)
    val rows = data.orderBy(col(orderCol)).limit(sources.size * nResults).collect()
    val Seq(pI, uI, rI, idI) = (tags :+ idCol).map(data.schema.fieldIndex)
    def source(r: Row) = (r.getString(pI), r.getString(uI))

    val st = statsOf(rows.groupBy(source).toSeq.map { case ((p, u), rs) =>
      (p, u, rs.length.toLong, rs.map(_.getInt(rI)).min) }, Some(nResults))
    val plan = QuotaPlanner.distributeQuotaFair(st, nResults)
    val left = mutable.Map.from(
      plan.flatMap { case (p, us) => us.map { case (u, q) => (p, u) -> q } })
    val planned = rows.filter { r =>
      val q = left.getOrElse(source(r), 0)
      if (q > 0) left(source(r)) = q - 1
      q > 0
    }
    val seen = mutable.HashSet.empty[Option[Any]]
    val kept = planned.sortBy(_.getInt(rI)) // stable: orderCol order within a rank
      .filter(r => seen.add(Option(r.get(idI))))
      .take(maxReturned)
    FederatedResult(spark.createDataFrame(kept.toSeq.asJava, data.schema),
      st, plan, fo.failures)
  }
}
