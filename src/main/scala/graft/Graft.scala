package graft

import org.apache.spark.sql.SparkSession

/** Single entry point for library users.
  *
  * Session setup: a SparkSession.Builder preconfigured the way graft's
  * operators expect (AQE + skew-join handling on, UTC session time,
  * nanos-as-long parquet timestamps, graft SQL functions installed).
  *
  * {{{
  * val spark = Graft.builder().master("local[*]").getOrCreate()
  * Graft.install(spark) // or: on an existing session
  *
  * import graft.axes.Regular
  * import org.apache.spark.sql.functions.col
  * val h = Graft.hist.histogram(df, col("x"), Regular("x", 25, 0.0, 50.0))
  * Graft.stats.median(h, ...)
  * Graft.dedup.nearDupKeep(docs)
  * }}}
  *
  * The members below are the operator families — vals referencing each
  * module object, so IDE discovery can start from `Graft.` without every
  * signature being duplicated here. Axes live in [[graft.axes]]
  * (Regular, Variable, IntegerAxis, IntCategory, StrCategory, Circular;
  * transforms LogT/SqrtT/PowT).
  */
object Graft {

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .withExtensions(new GraftExtensions)

  /** Register graft's SQL functions on an already-built session. */
  def install(spark: SparkSession): Unit = GraftExtensions.register(spark)

  // ---- Histogram engine ---------------------------------------------------

  /** N-D histograms over DataFrame columns: `histogram`, `histogram2d`,
    * `histogramdd`, auto-ranged axes, weights / density / flow / dense
    * options (reference core.py), and `profile` (per-bin mean/std of a
    * second variable). */
  val hist: _root_.graft.operators.Histogram.type = _root_.graft.operators.Histogram

  /** Alias kept for the former fast count kernels: `histogram1d` /
    * `histogram2d` are `hist`'s dense form, which runs the same dense
    * kernel. */
  val fastHist: _root_.graft.operators.FastHist.type = _root_.graft.operators.FastHist

  /** Equal-frequency (quantile) axes: exact rank edges below a row
    * threshold, GK-sketch edges above it. */
  val quantileBins: _root_.graft.operators.QuantileBins.type =
    _root_.graft.operators.QuantileBins

  /** Histogram statistics accessor: mean/var/std/median/ppf/cdf/moment/
    * interval, normalize/normalizeOver, removeFlow, scaleBins,
    * applyToBins, binsTable/areasTable, add, cumulative, marginalize,
    * rebin/coarsened. */
  val stats: _root_.graft.stats.HistStats.type = _root_.graft.stats.HistStats

  // ---- Training-data pipeline ---------------------------------------------

  /** Deduplication: exact/normalized, MinHash+LSH near-dup (pairs / keep
    * verdicts / cross-corpus), SimHash, PPJoin n-gram jaccard, span-level
    * boilerplate removal, benchmark decontamination (boolean and
    * contamination-fraction forms), duplicate-graph connected
    * components with lowest-id or quality-elected canonical copies. */
  val dedup: _root_.graft.pipeline.Dedup.type = _root_.graft.pipeline.Dedup

  /** Embedding similarity: blocked near-dup, brute-force / LSH / IVF ANN,
    * k-means corpus clustering, SemDeDup within-cell semantic dedup,
    * per-vector outlier QA, per-label centroid drift between
    * snapshots. */
  val similarity: _root_.graft.pipeline.Similarity.type =
    _root_.graft.pipeline.Similarity

  /** Text analysis: language id, quality scores, token counts (regex and
    * true-BPE), fingerprints, repetition stats, pattern counts / PII
    * redaction, corpus stats, tf-idf / SpaceSaving top terms, unigram /
    * bigram LM quality scores, token entropy, stride chunking, per-doc
    * tf-idf keywords, PMI collocations, OOV-rate domain-shift probe,
    * BM25 scoring and retrieval. */
  val text: _root_.graft.pipeline.TextAnalysis.type =
    _root_.graft.pipeline.TextAnalysis

  /** Deterministic sampling: hash-threshold domain mixing (fixed-rate
    * and temperature-based), exact-N per-group reservoirs, token-budget
    * and cluster-balanced sampling, concat-and-chunk sequence packing. */
  val sampling: _root_.graft.pipeline.Sampling.type = _root_.graft.pipeline.Sampling

  /** The composed end-to-end curation chain as one declarative plan —
    * plus score normalization (percentile / z-score / robust
    * median-MAD), winsorize and trimmed means, multi-signal percentile
    * blending, the LM perplexity-gate filter, and per-doc curation
    * EXPLAIN. */
  val curation: _root_.graft.pipeline.Curation.type = _root_.graft.pipeline.Curation

  /** Conversion funnels (plain and horizon-windowed), retention
    * cohorts, rolling active users (DAU/WAU/MAU), the exact key-skew
    * probe (pre-flight salting/AQE diagnostics), the two-sided
    * coincidence interval join, and per-key-day rate limiting over
    * event streams. */
  val funnel: _root_.graft.pipeline.Funnel.type = _root_.graft.pipeline.Funnel

  /** As-of join (latest right row at-or-before each left row, per key)
    * as a union + running window — one exchange, no join operator. */
  val asOf: _root_.graft.pipeline.AsOf.type = _root_.graft.pipeline.AsOf

  /** Binary media columns: real PNG/JPEG/GIF/WAV/AVI container
    * parsing, batched decode plumbing, frame sampling, thumbnails. */
  val multimodal: _root_.graft.pipeline.Multimodal.type =
    _root_.graft.pipeline.Multimodal

  /** Structured Streaming: watermarked windowed histograms, stateful
    * dedup (optional TTL), gap-based sessionization, capacity-bounded
    * per-window frequent terms (SpaceSaving), live as-of/anomaly/
    * quantiles/transitions/burst-collapse/funnel/rate-limit feeds,
    * per-window distinct, the windowed PSI drift monitor, and the
    * live coincidence join (native watermarked stream-stream range
    * join). */
  val streaming: _root_.graft.streaming.StreamingHist.type =
    _root_.graft.streaming.StreamingHist

  /** Sketch error-bound contracts (GK rank bounds, SpaceSaving
    * brackets, percentile_approx, HLL distinct, count-min point
    * queries, ANN recall) — the QA gates that pin every approximate
    * knob's accuracy on real data. */
  val contracts: _root_.graft.pipeline.Contracts.type =
    _root_.graft.pipeline.Contracts

  /** Rank statistics and ML evaluation: ROC AUC (global and per-group)
    * via exact distributed midranks, Mann–Whitney U, calibration
    * reliability/ECE, thresholded confusion/P/R/F1, A/B power (MDE /
    * required n), Benford first-digit audit, and Kaplan–Meier
    * survival with censoring + median/RMST summary. */
  val rankStats: _root_.graft.pipeline.RankStats.type =
    _root_.graft.pipeline.RankStats

  /** Distributed 2-D skyline (Pareto frontier): per-partition local
    * frontiers, broadcast-merged candidate filter. */
  val skyline: _root_.graft.pipeline.Skyline.type = _root_.graft.pipeline.Skyline

  /** Bucketed-table sinks: pay the join/group shuffle once at write
    * time; co-located equi-joins then plan with zero exchanges. */
  val sinks: _root_.graft.sources.Sinks.type = _root_.graft.sources.Sinks
}
