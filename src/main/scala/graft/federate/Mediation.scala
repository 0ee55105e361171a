package graft.federate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Small federation utilities rounding out the SURVEY §2 inventory: P1
  * attribute drop, F6 filter composition, S5 keyset pagination, D2
  * ordered distinct. (F5's per-provider clause templates are ported as
  * [[graft.functions.SpaceGroups.spgFilterMap]] and
  * [[graft.functions.SpaceGroups.bandgapFilterMap]].)
  */
object Mediation {

  /** P1 — the reference's negative projections (bulky fields removed from
    * every cleaned result): DROP_ATTRS at
    * optimade_database/Optimade_Server/utils.py:109-125, CRYSTAL_DROP_ATTRS
    * at bohriumpublic .../utils.py:51-55, MOFDB_DROP_ATTRS at
    * mofdb_database/Mofdb_Server/utils.py:9-16. Over a lazy frame Catalyst
    * prunes the dropped columns at the scan; over a federated result (a
    * local frame of collected rows) it is the reference's post-transfer
    * strip. */
  val OptimadeDropAttrs: Seq[String] = Seq(
    "cartesian_site_positions", "species_at_sites", "species", "immutable_id",
    "_alexandria_charges", "_alexandria_magnetic_moments", "_alexandria_forces",
    "_alexandria_scan_forces", "_alexandria_scan_charges",
    "_alexandria_scan_magnetic_moments", "_nmd_dft_quantities", "_nmd_files",
    "_nmd_dft_geometries", "_mpdd_descriptors", "_mpdd_poscar")

  def dropAttrs(df: DataFrame, attrs: Seq[String] = OptimadeDropAttrs): DataFrame =
    df.drop(attrs: _*)

  /** F6 — combine a base predicate with a per-source clause:
    * (base) AND (clause) (Optimade_Server/utils.py:615-636). */
  def combineFilters(base: Option[Column], source: Option[Column]): Option[Column] =
    (base, source) match {
      case (Some(b), Some(s)) => Some(b && s)
      case (b, s) => b.orElse(s)
    }

  /** S5 — keyset pagination, the reference's actual iterate shape
    * (`next_start_id` loop, openlam_database/openlam/lam_optimize/
    * db.py:44-104): a page is the first `limit` rows with key strictly
    * after `afterKey`, in key order. Plans as TakeOrderedAndProject
    * (per-partition top-k heaps + driver merge of `limit` rows) and the
    * key predicate pushes down to the scan — no single-partition Window
    * Exchange, and later pages scan less. Replaces the earlier
    * offset+global-row_number form, which serialized the whole table
    * through one partition. */
  def pageAfter(df: DataFrame, keyCol: String, afterKey: Option[Long],
                limit: Int): DataFrame = {
    val base = afterKey.fold(df)(k => df.filter(col(keyCol) > k))
    base.orderBy(col(keyCol)).limit(limit)
  }

  /** Drive [[pageAfter]] to exhaustion, mirroring the reference's
    * while-loop: each page runs its top-k job ONCE (localCheckpoint
    * materializes it; the cursor probe and the caller's actions reuse
    * the checkpointed partitions), and pages are fetched lazily — no
    * work for page N+1 until the caller asks. Key must be unique for
    * lossless tiling. */
  def pageAll(df: DataFrame, keyCol: String, limit: Int): Iterator[DataFrame] =
    new Iterator[DataFrame] {
      private var cursor: Option[Long] = None
      private var done = false
      private var pending: Option[DataFrame] = None
      private def advance(): Unit = if (!done && pending.isEmpty) {
        val p = pageAfter(df, keyCol, cursor, limit).localCheckpoint()
        val maxKey = p.agg(org.apache.spark.sql.functions.max(col(keyCol)))
          .collect().head
        if (maxKey.isNullAt(0)) done = true
        else { cursor = Some(maxKey.getLong(0)); pending = Some(p) }
      }
      def hasNext: Boolean = { advance(); pending.isDefined }
      def next(): DataFrame = {
        advance()
        val p = pending.getOrElse(throw new NoSuchElementException("no more pages"))
        pending = None
        p
      }
    }

  /** D2 — ordered distinct (first occurrence wins), the
    * list(dict.fromkeys(...)) idiom (Optimade_Server/server.py:164). */
  def orderedDistinct[A](xs: Seq[A]): Seq[A] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[A]
    xs.foreach(seen.add)
    seen.toSeq
  }
}
