package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose key distribution has heavy hitters —
  * the manual complement to AQE's skew-join splitting (which only fires
  * on sort-merge joins above size thresholds).
  *
  * [[saltedJoin]]: the big (skewed) side gets a deterministic salt in
  * [0, n) derived from a hash of the whole row; the small side is
  * replicated n times (one copy per salt). The join key becomes
  * (key, salt), splitting each hot key's rows across n reducers. Result
  * multiset is identical to the unsalted join (each big-side row meets
  * exactly one replica of every matching small-side row).
  *
  * Cost model: small side inflates n×; use only when the hot keys
  * dominate a reducer (rule of thumb: max key share × input ≫ target
  * partition size). The salt is deterministic (xxhash64 of the row), so
  * reruns produce identical partitioning — no rand() nondeterminism.
  */
object Skew {

  /** Join types where the small-side replication is semantics-preserving:
    * every emitted row is witnessed by a big-side row, which carries
    * exactly one salt. right/full outer would emit each UNMATCHED
    * small-side row once per replica (`salts` duplicates) — rejected;
    * swap the sides (salt the other input) instead. */
  private val SafeJoinTypes =
    Set("inner", "cross", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti")

  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 1, "salts must be > 1")
    require(SafeJoinTypes.contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin: '$joinType' would duplicate unmatched small-side rows " +
        "(one per salt replica); swap the inputs so the preserved side is the salted one")
    val bigSalted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(salts)).cast("int"))
    val smallSalted = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigSalted.join(smallSalted, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
