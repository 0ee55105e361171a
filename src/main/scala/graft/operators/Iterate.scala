package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Lineage AND statistics hygiene for iterative DataFrame algorithms.
  *
  * `localCheckpoint` cuts the RDD lineage but PRESERVES the plan's
  * estimated `sizeInBytes` as the checkpointed relation's stats — and a
  * join's estimate is the PRODUCT of its children's. An iterative
  * SELF-join therefore squares the carried estimate every round: the
  * BigInt's bit-length doubles per round, and by round ~18 the stats
  * computation inside the next checkpoint is multiplying million-bit
  * integers (Karatsuba/Toom-Cook frames on the driver, observed as a
  * silent 18 s driver stall with all Spark jobs at milliseconds —
  * q112's connected components was 35 s/query before this fix, 2 s
  * after). Round-linear state (BFS's visited set) only ADDS bits per
  * round, which is why the non-self-join loops never showed it.
  *
  * [[materialize]] is the round boundary that prevents both failure
  * modes: localCheckpoint (cut lineage, cache partitions), then rebuild
  * the frame from the checkpointed RDD so the carried stats reset to
  * the session default. The rebuilt frame pays one row-codec pass per
  * consumer over the cached blocks — linear, partition-parallel, and
  * noise next to the joins it sits between; AQE re-plans joins from
  * REAL runtime sizes, so losing the (exploded) estimate costs nothing.
  *
  * The same reset is why AQE cannot size a node-sized table that
  * changes every round (a frontier, a rank or label table, a pointer
  * set): its LogicalRDD carries only default stats, so the join would
  * exchange and sort the big side every round. [[broadcastIfSmall]] is
  * the one place the iterative operators decide to broadcast such a
  * table, from a row count the loop already holds.
  */
object Iterate {

  /** Checkpoint one iteration's state and reset its carried statistics.
    * Use as the per-round boundary of every iterative join loop; for a
    * SELF-joining loop it is mandatory (see scaladoc). Count the result
    * with `.rdd.count()`: one job over the cached blocks, where
    * `Dataset.count()` under AQE runs a map-stage job plus a final one. */
  def materialize(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** Ceiling for [[broadcastIfSmall]]: a table above this many rows
    * takes the shuffled join instead of being collected to the driver.
    * Size it by the widest frame under it: `Hierarchy.rootAndDepth`'s
    * hop row (anc, anc2, d2) carries three longs. A broadcast hash
    * relation holds such a row as a 32-byte UnsafeRow (null word +
    * three longs) plus roughly 16 bytes of hash-index entry, ≈ 48 B,
    * so 10M rows is ≈ 480 MB per built relation — held on the driver
    * while it builds and again on every executor. That is still under
    * the 8 GB / 512M-row broadcast cap; results are identical on either
    * path (each operator's spec pins the hint-free form). */
  val BroadcastMaxRows = 10000000L

  /** `df` with a broadcast hint when `rows <= BroadcastMaxRows`, else
    * `df` unchanged (AQE then plans the join from runtime sizes).
    * `rows` must be an upper bound on the row count of `df` — a count
    * the loop already takes, never a fresh job per round. */
  def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastMaxRows) broadcast(df) else df

}
