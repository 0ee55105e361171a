package graft.operators

/** HyperLogLog register computation — the industry-standard mergeable
  * distinct sketch (Flajolet et al. 2007, and the HLL surveyed in
  * Heule/Nunkesser/Hall "HyperLogLog in Practice", VLDB 2013), built so
  * the REGISTERS are cross-engine reproducible: the hash is
  * [[Kmv.hash32]]'s two-round masked-xorshift chain and the leading-run
  * rank is integer bit-length arithmetic (`length(bin(w))`, the q187
  * device) — no float log2, so a DuckDB oracle rebuilds the identical
  * register vector in SQL.
  *
  * Layout for 2^p registers: idx = low p bits of the 32-bit hash,
  * w = the remaining 32−p bits, rank = (32−p)+1 − bitlen(w) (w = 0 →
  * (32−p)+1) — the 1-based position of w's highest set bit counted from
  * the MSB side. A register holds the MAX rank seen: idempotent, so no
  * upstream distinct is needed, and two sketches merge by elementwise
  * max — associative, commutative, order-independent.
  *
  * The float estimate (alpha_m·m²/Σ2^−reg + small/large-range
  * corrections) is left OUT of the relational output per the avg-class
  * ground rule; no query folds the registers to a float, and HllSpec
  * carries the estimator that checks their accuracy.
  *
  * Scale design: [[HllAgg]] keeps the sketch as one 2^p-byte
  * aggregation buffer per group (q225's rollup and the streaming state
  * both run it); its update is [[idxRankJvm]].
  */
object Hll {

  /** Register index and rank of a LONG key: the low p bits of
    * [[Kmv.hash32Jvm]] and the leading-run rank of the rest. q225's
    * oracle rebuilds both from the same hash chain in SQL. */
  def idxRankJvm(key: Long, p: Int): (Int, Int) = {
    val h = Kmv.hash32Jvm(key)
    val idx = (h & ((1L << p) - 1L)).toInt
    val w = h >>> p
    val bitlen = if (w == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(w)
    (idx, 32 - p + 1 - bitlen)
  }
}
