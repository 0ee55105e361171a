package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.MisraGriesAgg

/** Streaming heavy-hitters: the [[graft.operators.MisraGriesAgg]]
  * sketch inside a Structured Streaming event-time window — "which
  * tokens dominate the live ingest, per window" with bounded memory.
  *
  * Why this composition is the scale answer: an exact streaming
  * `groupBy(window, token).count()` keeps one state row per DISTINCT
  * TOKEN per open window — unbounded on open-vocabulary streams (the
  * exact failure the sketch exists for). Here state is one aggregation
  * buffer of AT MOST k counters per open window, the partial/merge
  * machinery of TypedImperativeAggregate does map-side combining inside
  * each micro-batch, and the watermark both closes windows and evicts
  * their buffers. Misra–Gries merge is associative with order-
  * independent guarantees (and EXACT while distinct ≤ k), so the
  * incremental per-micro-batch merge sequence — however the trigger
  * slices the stream — yields the same sketch as one batch pass
  * (SketchStreamsSpec proves batch ≡ streaming across micro-batch
  * splits; q83 gates the batch twin against the DuckDB oracle).
  *
  * The same code runs unchanged in batch (window() is an ordinary
  * grouping expression there), which is what q83 executes.
  */
object SketchStreams {

  /** Per-event-time-window Misra–Gries sketch of `tokenCol`. For a
    * streaming input, pair with `withWatermark` upstream (see
    * [[heavyHittersStream]]); output rows carry the window start and
    * the (token → estimated count) map. */
  def windowedSketch(events: DataFrame, tsCol: String, tokenCol: String,
                     k: Int, windowDur: String): DataFrame =
    events
      .groupBy(window(col(tsCol), windowDur).as("win"))
      .agg(MisraGriesAgg.misra_gries(col(tokenCol), k).as("sketch"))
      .select(col("win.start").as("window_start"), col("sketch"))

  /** Streaming entry: watermark-bounded windowed sketch. State = one
    * ≤k-counter buffer per open window; closed windows are evicted at
    * watermark + windowDur. */
  def heavyHittersStream(events: DataFrame, tsCol: String, tokenCol: String,
                         k: Int, windowDur: String = "5 minutes",
                         watermark: String = "10 minutes"): DataFrame =
    windowedSketch(events.withWatermark(tsCol, watermark),
      tsCol, tokenCol, k, windowDur)

  /** Per-event-time-window KMV distinct sketch ([[graft.operators.KmvAgg]]):
    * "how many distinct keys per window", with a summary that is
    * EXACTLY reproducible (q176's oracle rebuilds it in SQL) and
    * mergeable — so the streaming state is one ≤k-pair buffer per open
    * window instead of one row per distinct key per window, and
    * micro-batch slicing cannot change the answer (union-truncate is
    * associative and order-independent; KmvAggSpec proves streaming ≡
    * batch ≡ the [[graft.operators.Kmv.sketch]] plan form). Same code
    * runs in batch, which is what q176 executes. */
  def windowedKmv(events: DataFrame, tsCol: String, keyCol: String,
                  k: Int, windowDur: String): DataFrame =
    events
      .groupBy(window(col(tsCol), windowDur).as("win"))
      .agg(graft.operators.KmvAgg.kmv_sketch(col(keyCol).cast("long"), k)
        .as("sk"))
      .select(unix_millis(col("win.start")).as("window_start_ms"),
        col("sk.k_used").as("k_used"), col("sk.kth_hash").as("kth_hash"))

  /** Streaming entry for [[windowedKmv]]: watermark bounds the open-
    * window set, hence the total state. */
  def kmvStream(events: DataFrame, tsCol: String, keyCol: String,
                k: Int, windowDur: String = "5 minutes",
                watermark: String = "10 minutes"): DataFrame =
    windowedKmv(events.withWatermark(tsCol, watermark),
      tsCol, keyCol, k, windowDur)

  /** Per-event-time-window CountMin point estimates
    * ([[graft.operators.CountMinAgg]]): "how often did each watched key
    * occur per window" with one d·w-counter buffer per open window —
    * the streaming twin of q109's batch sketch. Cell-wise-sum merge is
    * exactly order-independent (no truncation), so micro-batch slicing
    * can never change a cell (CountMinAggSpec proves batch ≡ streaming
    * ≡ the plan-level [[graft.operators.CountMin.sketch]]); q199 gates
    * the batch frame against a DuckDB oracle that rebuilds the grid. */
  def windowedCountMin(events: DataFrame, tsCol: String, keyCol: String,
                       w: Int, probes: Seq[Long], windowDur: String): DataFrame =
    events
      .groupBy(window(col(tsCol), windowDur).as("win"))
      .agg(graft.operators.CountMinAgg.countmin(col(keyCol).cast("long"), w, probes)
        .as("sk"))
      .select(unix_millis(col("win.start")).as("window_start_ms"),
        col("sk.n").as("n"), col("sk.est").as("est"))

  /** Streaming entry for [[windowedCountMin]]: watermark bounds the
    * open-window set, hence the total state (d·w longs per window). */
  def countMinStream(events: DataFrame, tsCol: String, keyCol: String,
                     w: Int, probes: Seq[Long],
                     windowDur: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    windowedCountMin(events.withWatermark(tsCol, watermark),
      tsCol, keyCol, w, probes, windowDur)

  /** Per-event-time-window quantile sketch
    * ([[graft.operators.QDigestAgg]]): per-mille latency/value quantiles
    * per window from one ≤3k-node q-digest buffer per open window. In
    * the exact regime (≤3k distinct values per window) the digest is the
    * exact histogram and merge is map-sum — order-independent — so
    * micro-batch slicing cannot change the answer (QDigestAggSpec);
    * q198 gates the batch frame against a DuckDB oracle computing the
    * identical integer ranks. */
  def windowedQuantiles(events: DataFrame, tsCol: String, valueCol: String,
                        k: Int, levels: Int, probesPerMille: Seq[Int],
                        windowDur: String): DataFrame =
    events
      .groupBy(window(col(tsCol), windowDur).as("win"))
      .agg(graft.operators.QDigestAgg.qdigest(col(valueCol).cast("long"),
        k, levels, probesPerMille).as("sk"))
      .select(unix_millis(col("win.start")).as("window_start_ms"),
        col("sk.n").as("n"), col("sk.qs").as("qs"))

  /** Streaming entry for [[windowedQuantiles]]. */
  def quantileStream(events: DataFrame, tsCol: String, valueCol: String,
                     k: Int, levels: Int, probesPerMille: Seq[Int],
                     windowDur: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    windowedQuantiles(events.withWatermark(tsCol, watermark),
      tsCol, valueCol, k, levels, probesPerMille, windowDur)

  /** Per-event-time-window HyperLogLog registers
    * ([[graft.operators.HllAgg]]): distinct-per-window with ONE
    * 2^p-byte buffer per open window — constant state independent of
    * window cardinality, the cheapest of the distinct sketches (vs
    * [[windowedKmv]]'s k·16-byte pair buffer). Register merge is
    * elementwise max — idempotent AND order-independent, so duplicates,
    * partitioning and micro-batch slicing all yield identical bytes
    * (HllSpec proves streaming ≡ batch, and batch ≡ registers folded on
    * the driver from [[graft.operators.Hll.idxRankJvm]]); q214 gates the batch frame against a DuckDB oracle
    * rebuilding the registers in SQL. Emits the nonzero registers as
    * rows. */
  def windowedHll(events: DataFrame, tsCol: String, keyCol: String,
                  p: Int, windowDur: String): DataFrame =
    events
      .groupBy(window(col(tsCol), windowDur).as("win"))
      .agg(graft.operators.HllAgg.hll_registers(col(keyCol).cast("long"), p)
        .as("regs"))
      .select(unix_millis(col("win.start")).as("window_start_ms"),
        posexplode(col("regs")).as(Seq("idx", "reg")))
      .filter(col("reg") > 0L)
      .select(col("window_start_ms"), col("idx").cast("long").as("idx"),
        col("reg"))

  /** Streaming entry for [[windowedHll]]: watermark bounds the open-
    * window set, hence the total state (2^p bytes per window). */
  def hllStream(events: DataFrame, tsCol: String, keyCol: String,
                p: Int, windowDur: String = "5 minutes",
                watermark: String = "10 minutes"): DataFrame =
    windowedHll(events.withWatermark(tsCol, watermark),
      tsCol, keyCol, p, windowDur)
}
