package graft

import graft.axes._
import graft.operators.{HistOptions, Histogram}
import graft.oracle.{Oracle, PipelineOracle}
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.stats.HistStats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every queries() entry pairs a Spark plan with a DuckDB oracle generated
  * from the SAME axis objects (graft.oracle.Oracle), so bin semantics are
  * defined exactly once.
  */
object SparkEntry {

  // Memoized per (session, path): queries re-use one logical scan instead
  // of re-listing the same parquet 45 times per run, and a new session's
  // first read of a path passes the schema Tables inferred for the same
  // files, so it starts no job. An alias whose files moved is read afresh.
  // LRU-bounded (the RelCache discipline): a long-lived driver sweeping
  // many sf dirs/sessions would otherwise hold every scan for the session
  // lifetime. The cached relation behind a path is ONE CacheManager entry
  // shared by every session's alias of that path, so only the path's last
  // alias to leave releases it, with the path's memoized schema and pin
  // record.
  private[graft] val TableCacheMax = 32
  private type Files = Seq[(String, Long, Long)]
  private val tableCache =
    new java.util.LinkedHashMap[(SparkSession, String), (Files, DataFrame)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), (Files, DataFrame)]): Boolean = {
        val evict = size() > TableCacheMax
        val path = e.getKey._2
        if (evict && !keySet.stream.anyMatch(k => k != e.getKey && k._2 == path)) {
          e.getValue._2.unpersist()
          graft.sources.Tables.forget(path)
          pinned.remove(path)
        }
        evict
      }
    }
  private[graft] def t(dir: String, name: String)(implicit s: SparkSession): DataFrame = {
    val key = (s, s"$dir/$name.parquet")
    val files = graft.sources.Tables.fingerprint(s, key._2)
    tableCache.synchronized(tableCache.get(key) match {
      case (`files`, df) => df
      case _ =>
        // NOTE (r14, measured): bench-scale inputs are single-row-group
        // parquet files that scan as 1–3 splits. Spreading them across
        // the cores here (repartition to 8/32 before the cacheTables
        // pin) was tried and REJECTED: back-to-back concurrent walls
        // measured 41.6 s unspread vs 46.1 s at 8 and 52.5 s at 32 —
        // under the bench's 16-way query concurrency the cores are
        // already saturated, so extra tasks are pure scheduling
        // overhead, and solo tails regressed ×1.6. See
        // OPTIMIZATION_r14.md §5.
        val df = graft.sources.Tables.table(s, dir, name)
        tableCache.put(key, (files, df))
        df
    })
  }
  private[graft] def tableCacheSize: Int =
    tableCache.synchronized(tableCache.size())

  // path -> (the files it was pinned from, the pinned relation)
  private val pinned = new java.util.concurrent.ConcurrentHashMap[String, (Files, DataFrame)]()
  private val logger = org.slf4j.LoggerFactory.getLogger("graft.SparkEntry")

  /** Pin the benchmark inputs in memory (the reference computes over
    * in-memory numpy/dask arrays, so the comparable starting state is
    * cached tables, not per-query parquet decode). Benchmark-scale only —
    * at 100 TB inputs stream from storage and this is simply not called.
    *
    * Idempotent: an input whose relation the CacheManager already holds
    * loaded is not pinned again, so once the inputs are pinned and their
    * schemas known, a new session's call starts no Spark job. An input
    * rewritten on disk since it was pinned (its file fingerprint moved) is
    * unpersisted and pinned again from the new files (t() reads them
    * afresh), with one WARN line naming its path. */
  def cacheTables(s: SparkSession, dir: String): Unit = {
    implicit val sp: SparkSession = s
    Seq("lineitem", "orders", "customer", "part", "events",
        "documents", "embeddings").foreach { n =>
      val path = s"$dir/$n.parquet"
      val files = graft.sources.Tables.fingerprint(s, path)
      pinned.get(path) match {
        case (was, stale) if was != files =>
          logger.warn(s"cacheTables: $path changed on disk since it was pinned; re-pinning it")
          stale.unpersist(blocking = true)
        case _ => ()
      }
      val df = t(dir, n)
      val loaded = s.sharedState.cacheManager
        .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
      if (!loaded) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY).count()
      pinned.put(path, (files, df))
    }
  }

  /** Flagship: per-returnflag histogram of l_quantity on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    implicit val s: SparkSession = spark
    val li = t("/root/testdata/sf0.001", "lineitem")
    Histogram.histogram(li, col("l_quantity"),
      Regular("l_quantity", 25, 0.0, 50.0), dims = Seq("l_returnflag"))
  }

  // ---- Axes: one definition drives both engines ------------------------
  private val axQty = Regular("l_quantity", 25, 0.0, 50.0)
  private val axQty10 = Regular("l_quantity", 10, 0.0, 50.0)
  private val axDisc = Regular("l_discount", 11, 0.0, 0.11)
  private val axTax = Regular("l_tax", 9, 0.0, 0.09)
  private val axPriceLog = Regular("o_totalprice", 20, 1000.0, 500000.0, transform = LogT)
  private val axAcctVar = Variable("c_acctbal",
    Array(-1000.0, -500.0, 0.0, 250.0, 500.0, 1000.0, 2500.0, 5000.0, 7500.0, 10000.0))
  private val axSize = IntegerAxis("p_size", 1, 51)
  private val axLineNo = IntCategory("l_linenumber", Seq(1L, 2L, 3L, 4L, 7L))
  private val axFlag = StrCategory("l_returnflag", Seq("A", "N"))
  private val axQtyNarrow = Regular("l_quantity", 10, 10.0, 40.0) // populated flow bins
  private val axDiscNarrow = Regular("l_discount", 5, 0.02, 0.08) // populated flow bins
  private val axHourCirc = Circular("ev_hour", 12, 0.0, 24.0)
  private val axValue = Regular("value", 16, 0.0, 512.0)
  private val axLatency = Regular("latency_s", 24, 0.0, 604800.0)
  private val axGap = Regular("gap_s", 24, 0.0, 86400.0)
  private val axDim0 = Regular("dim0", 16, -0.4, 0.4)
  private val axJaccard = Regular("jaccard", 10, 0.0, 1.0)
  private val axValueSqrt = Regular("value", 16, 0.0, 512.0, transform = SqrtT)
  private val axQtyPow2 = Regular("l_quantity", 12, 0.0, 50.0, transform = PowT(2.0))

  private val axCluster = IntegerAxis("c", 1L, 9L)
  private val axTokens = Regular("ws_tokens", 20, 0.0, 500.0)
  private val axPropsK = Regular("k", 20, 0.0, 100.0)
  private val axSessDur = Regular("dur_s", 24, 0.0, 86400.0)
  private val axFert = Regular("fertility", 16, 1.0, 3.0)

  /** Training-mix rates for q58: oversample low-index sources. */
  private val mixRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" ->
      (if (i < 5) 0.9 else if (i < 12) 0.5 else 0.15)).toMap

  private def hist(dir: String, table: String, x: Column, ax: BinAxis,
      dims: Seq[String] = Nil, opts: HistOptions = HistOptions())(
      implicit s: SparkSession): DataFrame =
    Histogram.histogram(t(dir, table), x, ax, dims, opts)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_hist_regular" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_quantity"), axQty)
    },
    "q02_hist_auto_range" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val li = t(dir, "lineitem")
      Histogram.histogram(li, col("l_tax"),
        Histogram.autoRegular(li, col("l_tax"), "l_tax", 10))
    },
    "q03_hist_weighted" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_quantity"), axQty,
        opts = HistOptions(weight = Some(col("l_extendedprice"))))
    },
    "q04_hist_density" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_quantity"), axQty, opts = HistOptions(density = true))
    },
    "q05_hist_dims" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_quantity"), axQty10, dims = Seq("l_returnflag", "l_linestatus"))
    },
    "q06_hist2d" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Histogram.histogramdd(t(dir, "lineitem"),
        Seq(col("l_quantity") -> axQty10, col("l_discount") -> axDisc))
    },
    "q07_hist_dd3" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Histogram.histogramdd(t(dir, "lineitem"),
        Seq(col("l_quantity") -> axQty10, col("l_discount") -> axDisc, col("l_tax") -> axTax))
    },
    "q08_hist_log" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "orders", col("o_totalprice"), axPriceLog)
    },
    "q55_hist_sqrt" -> { (s, dir) =>
      // Regular axis with boost transform.sqrt: bins equal in sqrt space
      implicit val sp: SparkSession = s
      hist(dir, "events", col("value"), axValueSqrt)
    },
    "q56_hist_pow" -> { (s, dir) =>
      // Regular axis with boost transform.Pow(2): bins equal in x^2 space
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_quantity"), axQtyPow2)
    },
    "q09_hist_variable" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "customer", col("c_acctbal"), axAcctVar)
    },
    "q59_hist_qbins" -> { (s, dir) =>
      // equal-frequency binning: Variable axis from exact rank-based
      // decile edges (distributed sort; sketchAxis is the 100 TB path)
      implicit val sp: SparkSession = s
      val li = t(dir, "lineitem")
      val ax = graft.operators.QuantileBins.quantileAxis(
        li, col("l_extendedprice"), "l_extendedprice", 10)
      Histogram.histogram(li, col("l_extendedprice"), ax)
    },
    "q10_hist_int" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "part", col("p_size"), axSize)
    },
    "q11_hist_intcat" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_linenumber"), axLineNo, opts = HistOptions(flow = true))
    },
    "q12_hist_strcat" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_returnflag"), axFlag, opts = HistOptions(flow = true))
    },
    "q13_hist_flow" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_quantity"), axQtyNarrow, opts = HistOptions(flow = true))
    },
    "q14_hist_circular" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      // ts is epoch-nanos (nanosAsLong); integer-div to hour-of-day (UTC).
      // +27h exercises the periodic wrap in both engines.
      hist(dir, "events",
        (expr("ts div 3600000000000") % 24).cast("double") + lit(27.0), axHourCirc)
    },
    "q15_hist_int_storage" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_quantity"), axQty, opts = HistOptions(intStorage = true))
    },
    "q16_hist_weighted_density" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_quantity"), axQty,
        opts = HistOptions(weight = Some(col("l_extendedprice")), density = true))
    },
    "q17_hist2d_dims_weighted" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Histogram.histogramdd(t(dir, "lineitem"),
        Seq(col("l_quantity") -> axQty10, col("l_discount") -> axDisc),
        dims = Seq("l_returnflag"),
        opts = HistOptions(weight = Some(col("l_extendedprice"))))
    },
    "q18_hist_dense" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      hist(dir, "events", col("value"), axValue, dims = Seq("event_type"),
        opts = HistOptions(dense = true))
    },
    "q19_hist_dense_vector" -> { (s, dir) =>
      // dense-vector TypedImperativeAggregate path: one Array[Double] per
      // (group, map task) through the shuffle instead of per-bin rows
      implicit val sp: SparkSession = s
      graft.operators.HistVectorAgg.histogram(
        t(dir, "events"), col("value"), axValue, Seq("event_type"))
    },
    "q67_hist_dense_vector_weighted" -> { (s, dir) =>
      // weighted dense-vector path: HistVectorDecAgg's DECIMAL(38,14)
      // buffers must match the sparse decimal path bit-for-bit
      implicit val sp: SparkSession = s
      graft.operators.HistVectorAgg.histogram(
        t(dir, "events"), col("value"), axValue, Seq("event_type"),
        weight = Some(col("value")))
    },
    "q20_stat_mean" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      HistStats.mean(t(dir, "lineitem"), col("l_quantity"), axQty, Seq("l_returnflag"))
    },
    "q21_stat_var" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      HistStats.variance(t(dir, "lineitem"), col("l_quantity"), axQty, Seq("l_returnflag"))
    },
    "q22_stat_std" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      HistStats.std(t(dir, "lineitem"), col("l_quantity"), axQty, Seq("l_returnflag"))
    },
    "q23_stat_median" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      HistStats.median(t(dir, "lineitem"), col("l_quantity"), axQty, Seq("l_returnflag"))
    },
    "q24_stat_ppf" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      HistStats.ppf(t(dir, "orders"), col("o_totalprice"), axPriceLog, Nil, 0.9)
    },
    "q25_stat_cdf" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      HistStats.cdf(t(dir, "lineitem"), col("l_quantity"), axQty, Seq("l_returnflag"), 25.0)
    },
    "q26_stat_moment" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      HistStats.moment(t(dir, "lineitem"), col("l_quantity"), axQty, Seq("l_returnflag"), 3)
    },
    "q27_stat_interval" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      HistStats.interval(t(dir, "lineitem"), col("l_quantity"), axQty, Seq("l_returnflag"), 0.9)
    },
    "q28_normalize" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val h = hist(dir, "events", col("value"), axValue, dims = Seq("event_type"))
      HistStats.normalize(h, axValue, Seq("event_type"))
    },
    "q29_remove_flow" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val h = hist(dir, "lineitem", col("l_quantity"), axQtyNarrow,
        opts = HistOptions(flow = true))
      HistStats.removeFlow(h, axQtyNarrow)
    },
    "q30_scale_bins" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val h = hist(dir, "lineitem", col("l_quantity"), axQty10)
      HistStats.scaleBins(h, axQty10, 2.5)
    },
    "q31_edges_centers_widths" -> { (s, dir) =>
      HistStats.binsTable(s, axAcctVar)
    },
    "q32_stat_weighted_mean" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      HistStats.mean(t(dir, "lineitem"), col("l_quantity"), axQty,
        Seq("l_returnflag"), weight = Some(col("l_extendedprice")))
    },
    "q33_stat_weighted_median" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      HistStats.median(t(dir, "lineitem"), col("l_quantity"), axQty,
        Seq("l_returnflag"), weight = Some(col("l_extendedprice")))
    },
    "q40_dedup_exact" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Dedup.exact(t(dir, "documents"))
    },
    "q41_dedup_minhash" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Dedup.minhashLsh(t(dir, "documents"))
    },
    "q42_dedup_simhash" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Dedup.simhashPairs(t(dir, "documents"))
    },
    "q43_ngram_jaccard" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Dedup.ngramJaccard(t(dir, "documents"))
    },
    "q44_embed_neardup" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Similarity.nearDup(t(dir, "embeddings"), 0.35)
    },
    "q45_ann_bruteforce" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
    },
    "q46_ann_lsh" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      Similarity.annLsh(emb, emb.filter(col("vec_id") < 10), 3)
    },
    "q47_langid" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      TextAnalysis.langId(t(dir, "documents"))
    },
    "q52_ann_ivf" -> { (s, dir) =>
      // trained coarse quantizer: 64 cells, 2 deterministic Lloyd rounds,
      // 8-probe queries (cell count ~ sqrt(N) is the scale rule; nprobe
      // picked from the measured recall curve — see SURVEY §6d "Trained IVF")
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      Similarity.annIvf(emb, emb.filter(col("vec_id") < 10), 3,
        nCells = 64, nprobe = 8)
    },
    "q54_neardup_pipeline" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Dedup.nearDupPairs(t(dir, "documents"))
    },
    "q53_windowed_hist" -> { (s, dir) =>
      // the streaming histogram operator run on batch input (identical
      // plan modulo watermark) — hourly event-time windows
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedHistogram(
          ev, "event_time", col("value"), axValue, "1 hour")
        .drop("window_end")
    },
    "q48_quality" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      TextAnalysis.quality(t(dir, "documents"))
    },
    "q49_tokens" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      TextAnalysis.tokens(t(dir, "documents"))
    },
    "q65_pattern_counts" -> { (s, dir) =>
      // email/URL/digit-run counts per doc (filtering & PII triage)
      implicit val sp: SparkSession = s
      TextAnalysis.patternCounts(t(dir, "documents"))
    },
    "q66_dedup_normalized" -> { (s, dir) =>
      // exact dedup on normalized text (lowercase, collapsed whitespace)
      implicit val sp: SparkSession = s
      Dedup.exactNormalized(t(dir, "documents"))
    },
    "q64_sample_exact_n" -> { (s, dir) =>
      // exact deterministic per-source reservoir: 7 docs per source by
      // smallest salted hash (bounded-heap aggregate, no window)
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.sampleExactPerSource(t(dir, "documents"), 7, "rsv1")
    },
    "q63_corpus_stats" -> { (s, dir) =>
      // per-source corpus profile (single shuffle, exact aggregates)
      implicit val sp: SparkSession = s
      TextAnalysis.corpusStats(t(dir, "documents"))
    },
    "q62_marginalize" -> { (s, dir) =>
      // boost h.project: marginalize the 2-D (qty x disc) histogram onto
      // qty; gated against the DIRECT 1-D histogram oracle — the sums
      // must agree bit-for-bit
      implicit val sp: SparkSession = s
      val h2 = Histogram.histogramdd(t(dir, "lineitem"),
        Seq(col("l_quantity") -> axQty10, col("l_discount") -> axDisc))
      HistStats.marginalize(h2, Seq(axQty10), Nil)
    },
    "q61_neardup_keep" -> { (s, dir) =>
      // near-dup dedup VERDICTS (linear output): docs surviving removal
      implicit val sp: SparkSession = s
      Dedup.nearDupKeep(t(dir, "documents"))
    },
    "q60_stat_weighted_var" -> { (s, dir) =>
      // variance of a weighted histogram distribution (accessor over
      // bh.storage-weighted counts)
      implicit val sp: SparkSession = s
      HistStats.variance(t(dir, "lineitem"), col("l_quantity"), axQty,
        Seq("l_returnflag"), weight = Some(col("l_extendedprice")))
    },
    "q57_repetition" -> { (s, dir) =>
      // Gopher-style repetition filters: dup-token / top-token /
      // top-bigram fractions, one map-only codegen'd pass per doc
      implicit val sp: SparkSession = s
      TextAnalysis.repetition(t(dir, "documents"))
    },
    "q58_sample_mix" -> { (s, dir) =>
      // deterministic domain-mixing subsample (hash-threshold filter)
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.sampleBySource(t(dir, "documents"),
        mixRates, defaultRate = 0.15, salt = "mix1")
    },
    "q50_fingerprint" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      TextAnalysis.fingerprint(t(dir, "documents"))
    },
    "q51_multimodal" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Multimodal.pipeline(t(dir, "documents"))
    },
    "q68_hist_add" -> { (s, dir) =>
      // boost h1 + h2: sum of two histograms over the same axis. Gated
      // self-validatingly: adding the per-linestatus histograms must equal
      // the direct histogram of the union (counts are integer-exact).
      implicit val sp: SparkSession = s
      val li = t(dir, "lineitem")
      val h1 = Histogram.histogram(li.filter(col("l_linestatus") === "F"),
        col("l_quantity"), axQty)
      val h2 = Histogram.histogram(li.filter(col("l_linestatus") === "O"),
        col("l_quantity"), axQty)
      HistStats.add(h1, h2, axQty, Nil)
    },
    "q69_hist_cumulative" -> { (s, dir) =>
      // running total along the bins axis per group (ECDF numerator)
      implicit val sp: SparkSession = s
      val h = hist(dir, "lineitem", col("l_quantity"), axQty, dims = Seq("l_returnflag"))
      HistStats.cumulative(h, axQty, Seq("l_returnflag"))
    },
    "q70_bins_flow" -> { (s, dir) =>
      // accessor bins/edges/centers/widths with flow=True: flow rows carry
      // the flow label as coordinate AND center, width 1
      HistStats.binsTable(s, axAcctVar, flow = true)
    },
    "q71_normalize_vars" -> { (s, dir) =>
      // accessor.normalize(variables=['l_quantity']) on the 2-D histogram:
      // the discount axis stays a loop dim
      implicit val sp: SparkSession = s
      val h2 = Histogram.histogramdd(t(dir, "lineitem"),
        Seq(col("l_quantity") -> axQty10, col("l_discount") -> axDisc))
      HistStats.normalizeOver(h2, Seq(axQty10, axDisc), Seq(axQty10), Nil)
    },
    "q72_stream_dedup" -> { (s, dir) =>
      // the flatMapGroupsWithState dedup operator run on batch input
      // (empty initial state; each hash group processed once) — same
      // oracle-able semantics as q53's batch-run streaming histogram
      implicit val sp: SparkSession = s
      import sp.implicits._
      val ev = t(dir, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"))
        .as[graft.streaming.StreamingHist.DocEvent]
      graft.streaming.StreamingHist.streamingDedup(ev).toDF()
    },
    "q73_dup_cluster_hist" -> { (s, dir) =>
      // dedup QA: histogram of duplicate-cluster sizes (docs per identical
      // content hash) — Dedup composed with the histogram engine
      implicit val sp: SparkSession = s
      val cs = t(dir, "documents")
        .groupBy(Dedup.contentHash(col("text")).as("h"))
        .agg(count(lit(1)).as("c"))
      Histogram.histogram(cs, col("c"), axCluster, opts = HistOptions(flow = true))
    },
    "q74_hist_tokens" -> { (s, dir) =>
      // corpus length distribution: histogram over the token counter's
      // output — TextAnalysis composed with the histogram engine
      implicit val sp: SparkSession = s
      Histogram.histogram(TextAnalysis.tokens(t(dir, "documents")),
        col("ws_tokens"), axTokens, opts = HistOptions(flow = true))
    },
    "q75_frame_sample" -> { (s, dir) =>
      // every-24th-frame sampling of REAL AVI containers: the frame count
      // comes from the parsed avih header and the sliced bytes from the
      // RIFF-walked movi chunk. Gated on md5(payload): the hash pins the
      // exact bytes while keeping the compared column engine-hashable
      // (raw binary breaks the driver's pandas comparator).
      implicit val sp: SparkSession = s
      Multimodal.sampleFrames(Multimodal.asMedia(t(dir, "documents"))).toDF()
        .select(col("doc_id"), col("frame_idx"), md5(col("payload")).as("payload_md5"))
    },
    "q76_thumbnail" -> { (s, dir) =>
      // aspect-preserving thumbnail plan from the REAL parsed dims
      // (integer-exact 128-box fit) + bounded body slice
      implicit val sp: SparkSession = s
      Multimodal.thumbnail(Multimodal.asMedia(t(dir, "documents"))).toDF()
        .select(col("doc_id"), col("media_type"), col("format"), col("width"),
          col("height"), col("thumb_w"), col("thumb_h"),
          md5(col("payload")).as("payload_md5"))
    },
    "q77_hist_density_flow" -> { (s, dir) =>
      // density + flow combined: flow bins ride along with area 1 but are
      // EXCLUDED from the normalizing total (core normalize semantics)
      implicit val sp: SparkSession = s
      hist(dir, "lineitem", col("l_quantity"), axQtyNarrow,
        opts = HistOptions(flow = true, density = true))
    },
    "q78_hist_fastpath" -> { (s, dir) =>
      // dense-array per-partition kernel (no shuffle, no per-row hash
      // lookup) — must be row-identical to the declarative dense path
      implicit val sp: SparkSession = s
      graft.operators.FastHist.histogram1d(t(dir, "lineitem"), col("l_quantity"), axQty)
    },
    "q79_apply_func" -> { (s, dir) =>
      // accessor.apply_func (accessor.py:355-380): arbitrary Column
      // function over the bins coordinate of a COMPUTED histogram —
      // gated with f = sqrt (correctly rounded in both engines)
      implicit val sp: SparkSession = s
      val h = hist(dir, "events", col("value"), axValue)
      HistStats.applyToBins(h, axValue, sqrt(_))
    },
    "q83_redact" -> { (s, dir) =>
      // PII rewrite with the q65-gated patterns (email -> URL -> digit
      // order); pure map-side scan rewrite
      implicit val sp: SparkSession = s
      TextAnalysis.redact(t(dir, "documents"))
    },
    "q84_sample_token_budget" -> { (s, dir) =>
      // data-derived keep rates: ~700 tokens per source (≈ half of each
      // sf0.01 source — real downsampling), deterministic
      // hash-threshold application (one agg + map filter, no shuffle of
      // the corpus)
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.sampleTokenBudget(t(dir, "documents"),
        budgetTokens = 700L, salt = "tb1")
    },
    "q82_decontaminate" -> { (s, dir) =>
      // benchmark decontamination: flag docs sharing any word 5-gram with
      // the "eval set" (doc_id < 20 slice); broadcast-semi-join shape
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      Dedup.decontaminate(docs, docs.filter(col("doc_id") < 20), n = 5)
    },
    "q81_hist2d_fastpath" -> { (s, dir) =>
      // 2-D dense-array kernel: the bin pair is one flat array offset —
      // must be row-identical to the declarative dense 2-D grid
      implicit val sp: SparkSession = s
      graft.operators.FastHist.histogram2d(t(dir, "lineitem"),
        col("l_quantity"), axQty10, col("l_discount"), axDisc)
    },
    "q80_remove_flow_vars" -> { (s, dir) =>
      // accessor.remove_flow(variables=[...]) N-D form: strip flow rows
      // across BOTH axes of a 2-D flow histogram in one predicate pass;
      // both narrow axes have populated under/overflow bins
      implicit val sp: SparkSession = s
      val h2 = Histogram.histogramdd(t(dir, "lineitem"),
        Seq(col("l_quantity") -> axQtyNarrow, col("l_discount") -> axDiscNarrow),
        opts = HistOptions(flow = true))
      HistStats.removeFlow(h2, Seq(axQtyNarrow, axDiscNarrow))
    },
    "q85_dup_components" -> { (s, dir) =>
      // transitive closure of the verified near-dup pair graph:
      // min-label propagation to a fixpoint, one canonical doc per
      // cluster (keep = is the cluster minimum)
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      Dedup.components(docs.select(col("doc_id")), Dedup.nearDupPairs(docs))
    },
    "q86_span_dedup" -> { (s, dir) =>
      // cross-doc boilerplate span removal (line-dedup generalized to
      // 8-token windows): spans in >1 doc are stripped; kept text pinned
      // by md5
      implicit val sp: SparkSession = s
      Dedup.spanDedup(t(dir, "documents"), spanWords = 8, maxDocs = 1)
    },
    "q87_sessionize" -> { (s, dir) =>
      // gap-based sessionization (session_window; the streaming operator
      // run on batch input): 6-hour inactivity gap over per-user events
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.sessionize(
        ev, "event_time", "user_id", "6 hours", col("value"))
    },
    "q88_top_terms" -> { (s, dir) =>
      // per-source distinctive terms: tf * N / df, top-5, deterministic
      // tie-break — keyword extraction for corpus triage
      implicit val sp: SparkSession = s
      TextAnalysis.topTerms(t(dir, "documents"), k = 5)
    },
    "q89_curate" -> { (s, dir) =>
      // the composed curation chain: token floor + canonical copy +
      // decontaminated + deterministic sample, one declarative plan
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.pipeline.Curation.curate(docs, docs.filter(col("doc_id") < 20))
    },
    "q90_cluster" -> { (s, dir) =>
      // corpus clustering (trained k-means assignment): 16 cells, the
      // IVF quantizer as a first-class mixture-balancing operator
      implicit val sp: SparkSession = s
      Similarity.cluster(t(dir, "embeddings"), nCells = 16)
    },
    "q91_cluster_sample" -> { (s, dir) =>
      // mixture balancing end-to-end: exactly 5 vectors per k-means cell
      // via the deterministic hash reservoir
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.clusterBalancedSample(
        t(dir, "embeddings"), nCells = 16, n = 5, salt = "cb1")
    },
    "q92_funnel" -> { (s, dir) =>
      // conversion funnel view -> click -> purchase per user: per-step
      // strict-after conditional mins, one co-partitioned join per step
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.funnel(ev, Seq("view", "click", "purchase"))
    },
    "q93_retention" -> { (s, dir) =>
      // day-grain retention triangle: distinct users per (cohort day,
      // offset) — activity deduped to user-days before any join
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.retention(ev)
    },
    "q94_top_terms_approx" -> { (s, dir) =>
      // SpaceSaving heavy hitters per source (bounded-memory top terms);
      // capacity 256 >> vocabulary, so the summary is provably exact here
      implicit val sp: SparkSession = s
      TextAnalysis.topTermsApprox(t(dir, "documents"), k = 5, capacity = 256)
    },
    "q95_cross_dedup" -> { (s, dir) =>
      // dedup-against-reference: pair each "new crawl" doc (doc_id < 100)
      // with its verified near-dups in the full reference corpus —
      // bipartite band join, never a self-join; bucketCap bounds any hot
      // band bucket's contribution to cap^2 pairs (mirrored in the oracle)
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      Dedup.crossNearDup(docs.filter(col("doc_id") < 100), docs,
        bucketCap = Some(20))
    },
    "q96_normalize_flow_vars" -> { (s, dir) =>
      // accessor.normalize(variables=['l_quantity']) on a 2-D histogram
      // with POPULATED flow bins on both axes: loop-axis (discount) flow
      // coordinates are dropped (reference xarray alignment), normalized-
      // axis (quantity) flow bins stay with area 1, excluded from totals —
      // the gate for normalizeOver's flow-on-loop-axis branch
      implicit val sp: SparkSession = s
      val h2 = Histogram.histogramdd(t(dir, "lineitem"),
        Seq(col("l_quantity") -> axQtyNarrow, col("l_discount") -> axDiscNarrow),
        opts = HistOptions(flow = true))
      HistStats.normalizeOver(h2, Seq(axQtyNarrow, axDiscNarrow), Seq(axQtyNarrow), Nil)
    },
    "q97_tokens_bpe" -> { (s, dir) =>
      // true-BPE token counts over the embedded deterministic merge table
      // — the oracle re-runs the merge loop as a recursive CTE, so this
      // gates the tokenizer algorithm itself, not a fixture
      implicit val sp: SparkSession = s
      TextAnalysis.bpeTokens(t(dir, "documents"))
    },
    "q98_funnel_window" -> { (s, dir) =>
      // windowed conversion funnel: steps 2..k must land within 48 h of
      // the user's first step-1 event — the horizon form product
      // analytics runs; same k-join shape, one extra integer-exact bound
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.funnel(ev, Seq("view", "click", "purchase"),
        horizonUs = Some(172800000000L))
    },
    "q99_contamination_score" -> { (s, dir) =>
      // per-doc contamination fraction vs the eval-set slice: map-only
      // sorted gram-hash arrays intersected with one broadcast benchmark
      // array — the GPT-3-style report behind q82's boolean flag
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      Dedup.contaminationScore(docs, docs.filter(col("doc_id") < 20), n = 5)
    },
    "q100_sample_bpe_budget" -> { (s, dir) =>
      // token-budget sampling billed in TRUE-BPE tokens (the counts
      // training actually pays for) — q84's shape with the q97 counter
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.sampleTokenBudget(t(dir, "documents"), 900L, "tb2",
        tokenCounter = Some(graft.functions.BpeCount.bpe_count(col("text"))))
    },
    "q101_stream_top_terms" -> { (s, dir) =>
      // windowed SpaceSaving top terms run on batch input (batch ==
      // streaming operator); capacity 64 >> the 5 event types, so the
      // summary is provably exact here — daily windows, top 3
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedTopTerms(
        ev, "event_time", col("event_type"), "1 day", k = 3, capacity = 64)
    },
    "q102_pack_sequences" -> { (s, dir) =>
      // concat-and-chunk packing into 512-token blocks over 8 shards
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.packSequences(t(dir, "documents"), 512L, 8, "pk1")
    },
    "q103_pack_bpe" -> { (s, dir) =>
      // the same packing layout billed in true-BPE tokens (q97's counter)
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.packSequences(t(dir, "documents"), 512L, 8, "pk1",
        tokenCounter = Some(graft.functions.BpeCount.bpe_count(col("text"))))
    },
    "q104_components_keep_by" -> { (s, dir) =>
      // quality-elected canonical docs: argmax(n_chars) per duplicate
      // cluster, ties to the lowest doc_id
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.pipeline.Dedup.componentsKeepBy(
        docs.select(col("doc_id"), col("n_chars").cast("long").as("score")),
        Dedup.nearDupPairs(docs))
    },
    "q105_sliding_hist" -> { (s, dir) =>
      // sliding event-time windows: 4-hour histograms every hour (each
      // event lands in duration/slide = 4 windows)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedHistogram(
        ev, "event_time", col("value"), axValue, "4 hours",
        slideDuration = Some("1 hour"))
    },
    "q106_top_fraction" -> { (s, dir) =>
      // keep each source's top 30% by length score
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.topFractionBySource(
        t(dir, "documents").withColumn("score", col("n_chars").cast("long")),
        0.3)
    },
    "q107_temperature_mix" -> { (s, dir) =>
      // temperature-based source mixing (p ∝ n^0.5): data-derived keep
      // rates broadcast back, map-side hash-threshold filter — alpha 0.5
      // is the provably cross-engine-exact sqrt path
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.sampleTemperature(
        t(dir, "documents"), totalDocs = 300L, alpha = 0.5, salt = "tm1")
    },
    "q108_active_users" -> { (s, dir) =>
      // rolling 7-day active users (WAU): user-day dedupe first, bounded
      // 7-way explode, exact distinct count per window-end day
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.activeUsers(ev, windowDays = 7)
    },
    "q109_profile_hist" -> { (s, dir) =>
      // profile histogram (TProfile / boost Mean storage): per-quantity-bin
      // count, mean and population std of extendedprice, by returnflag
      implicit val sp: SparkSession = s
      Histogram.profile(t(dir, "lineitem"), col("l_quantity"), axQty10,
        col("l_extendedprice"), dims = Seq("l_returnflag"))
    },
    "q110_rebin" -> { (s, dir) =>
      // UHI rebin: 25-bin quantity histogram merged 5-to-1; gated against
      // the directly-computed 5-bin histogram (bit-identical by design)
      implicit val sp: SparkSession = s
      HistStats.rebin(
        hist(dir, "lineitem", col("l_quantity"), axQty,
          dims = Seq("l_returnflag")),
        axQty, 5, dims = Seq("l_returnflag"))
    },
    "q111_semdedup" -> { (s, dir) =>
      // SemDeDup: k-means cells + within-cell cosine near-twin drop
      // (keep = lowest vec_id); full verdict relation
      implicit val sp: SparkSession = s
      Similarity.semDedup(t(dir, "embeddings"), nCells = 16, threshold = 0.35)
    },
    "q112_containment" -> { (s, dir) =>
      // directed near-superset pairs: |A∩B|/|A| >= 0.8 on 8-char grams —
      // catches excerpts/supersets that symmetric jaccard misses
      implicit val sp: SparkSession = s
      Dedup.containment(t(dir, "documents"), k = 8, threshold = 0.8)
    },
    "q113_hist_drift" -> { (s, dir) =>
      // distribution drift between two event-type value histograms:
      // TVD + symmetric chi-square, log-free (bit-exact cross-engine)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.drift(
        Histogram.histogram(ev.filter(col("event_type") === "view"),
          col("value"), axValue),
        Histogram.histogram(ev.filter(col("event_type") === "click"),
          col("value"), axValue),
        axValue)
    },
    "q114_windowed_drift" -> { (s, dir) =>
      // per-day drift vs the whole-corpus reference distribution — the
      // rolling data-quality monitor (which days look anomalous?)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("day", expr("(ts div 1000) div 86400000000"))
      HistStats.driftFrom(
        Histogram.histogram(ev, col("value"), axValue, dims = Seq("day")),
        Histogram.histogram(ev, col("value"), axValue),
        axValue, dims = Seq("day"))
    },
    "q115_session_paths" -> { (s, dir) =>
      // top-20 user-journey paths: 6-hour-gap sessions rendered as their
      // ordered event-type sequence, counted, TakeOrdered top-k
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.sessionPaths(ev, "6 hours", k = 20)
    },
    "q116_group_quantiles" -> { (s, dir) =>
      // exact p50/p95/p99 of value per event type — one pinned IEEE
      // interpolation sequence, not the engines' built-in percentile
      implicit val sp: SparkSession = s
      graft.operators.QuantileBins.groupQuantiles(
        t(dir, "events"), col("value"), Seq("event_type"),
        Seq(0.5, 0.95, 0.99))
    },
    "q117_group_corr" -> { (s, dir) =>
      // Pearson corr(quantity, extendedprice) per returnflag — one
      // map-combinable moment aggregate, decimal-exact sums
      implicit val sp: SparkSession = s
      HistStats.pearson(t(dir, "lineitem"), col("l_quantity"),
        col("l_extendedprice"), dims = Seq("l_returnflag"))
    },
    "q118_hist_efficiency" -> { (s, dir) =>
      // pass/total efficiency per quantity bin with Wilson 95% bounds:
      // one aggregate pass, k as a conditional count beside n
      implicit val sp: SparkSession = s
      Histogram.efficiency(t(dir, "lineitem"), col("l_quantity"), axQty10,
        col("l_returnflag") === lit("N"))
    },
    "q119_bpe_encode" -> { (s, dir) =>
      // full BPE tokenization: (doc, position, token) — the sequence
      // packing/training consume; map-only, oracle re-runs the merge
      // loop and the document-order flatten
      implicit val sp: SparkSession = s
      TextAnalysis.bpeEncode(t(dir, "documents").filter(col("doc_id") < 50))
    },
    "q120_asof_join" -> { (s, dir) =>
      // as-of enrichment: each purchase picks up the user's most recent
      // view at-or-before it (ties by event_id) — tagged-union running
      // window, one shuffle keyed by user, no join operator
      implicit val sp: SparkSession = s
      // micros, not raw nanos: DuckDB reads TIMESTAMP_NS at micro
      // precision, so the cross-engine contract is micro-epoch like every
      // other event oracle
      val ev = t(dir, "events").withColumn("ts", expr("ts div 1000"))
      graft.pipeline.AsOf.asOfJoin(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "view")
          .select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "event_id", Seq("ts", "value"), prefix = "view_")
    },
    "q121_ks_test" -> { (s, dir) =>
      // exact two-sample KS per linestatus: returned-flag prices vs the
      // rest — integer cross-product max, one double division at the end
      implicit val sp: SparkSession = s
      HistStats.ksTest(t(dir, "lineitem"), col("l_extendedprice"),
        col("l_returnflag") === lit("N"), dims = Seq("l_linestatus"))
    },
    "q122_novelty" -> { (s, dir) =>
      // incremental-crawl novelty: docs < 250 scored against the
      // reference corpus (>= 250) — distinct grams both sides, one
      // gram-keyed join, no broadcast (reference is corpus-sized)
      implicit val sp: SparkSession = s
      val d = t(dir, "documents")
      Dedup.novelty(d.filter(col("doc_id") < 250),
        d.filter(col("doc_id") >= 250), n = 5)
    },
    "q123_cluster_stats" -> { (s, dir) =>
      // quantizer QA: per-cell size, weakest/strongest member cosine and
      // quantized-exact mean cohesion for the trained 16-cell k-means
      implicit val sp: SparkSession = s
      Similarity.clusterStats(t(dir, "embeddings"), nCells = 16)
    },
    "q124_bpe_train" -> { (s, dir) =>
      // distributed BPE vocabulary training: 12 merge rules learned from
      // the corpus — one corpus pass, then vocabulary-sized rounds
      implicit val sp: SparkSession = s
      TextAnalysis.bpeTrain(t(dir, "documents").filter(col("doc_id") < 200),
        nMerges = 12)
    },
    "q125_bpe_encode_trained" -> { (s, dir) =>
      // the full tokenizer loop: train 12 merges on the corpus, tokenize
      // with the LEARNED table (driver holds only the 12-row merge list)
      implicit val sp: SparkSession = s
      val d = t(dir, "documents")
      val learned = TextAnalysis.bpeTrain(d.filter(col("doc_id") < 200), 12)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncodeWith(d.filter(col("doc_id") < 50), learned)
    },
    "q126_hist_pull" -> { (s, dir) =>
      // per-bin pull between the view/click value histograms — the
      // WHERE companion to q113's scalar drift metrics
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.pull(
        Histogram.histogram(ev.filter(col("event_type") === "view"),
          col("value"), axValue),
        Histogram.histogram(ev.filter(col("event_type") === "click"),
          col("value"), axValue),
        axValue)
    },
    "q127_stream_asof" -> { (s, dir) =>
      // the STREAMING as-of enrichment operator on batch input: one
      // state row per key; batch execution == the q120 oracle exactly
      implicit val sp: SparkSession = s
      import sp.implicits._
      val ev = t(dir, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull &&
          col("event_type").isin("purchase", "view"))
        .select(col("user_id"), expr("ts div 1000").as("us"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
          col("event_id"), col("value"))
        .as[graft.streaming.StreamingHist.AsOfEvent]
      graft.streaming.StreamingHist.streamingAsOf(ev)
        .toDF().select(col("event_id"), col("user_id"), col("us").as("ts"),
          col("match_id").as("view_event_id"), col("match_us").as("view_ts"),
          col("match_value").as("view_value"))
    },
    "q128_conversion_hist" -> { (s, dir) =>
      // time-to-convert distribution: view -> purchase latency in whole
      // seconds, histogrammed with flow (Funnel ∘ Histogram composition)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val f = graft.pipeline.Funnel.funnel(ev, Seq("view", "purchase"))
      val lat = f.filter(col("t2").isNotNull)
        .select(expr("(unix_micros(t2) - unix_micros(t1)) div 1000000")
          .cast("double").as("latency_s"))
      Histogram.histogram(lat, col("latency_s"), axLatency,
        opts = graft.operators.HistOptions(flow = true))
    },
    "q129_score_percentile" -> { (s, dir) =>
      // within-source percentile of a quality score — cross-source
      // normalization before any global threshold
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.percentileBySource(
        t(dir, "documents").withColumn("score", col("n_chars").cast("double")))
    },
    "q130_asof_tolerance" -> { (s, dir) =>
      // bounded-staleness as-of: views older than 1h don't enrich — the
      // same one-exchange window plan plus a per-row freshness predicate
      implicit val sp: SparkSession = s
      val ev = t(dir, "events").withColumn("ts", expr("ts div 1000"))
      graft.pipeline.AsOf.asOfJoin(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "view")
          .select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "event_id", Seq("ts", "value"), prefix = "view_",
        tolerance = Some(3600000000L))
    },
    "q131_session_funnel" -> { (s, dir) =>
      // conversion INSIDE one 6-hour-gap visit: first view -> first
      // strictly-later purchase per session, with latency
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.sessionFunnel(ev, "6 hours", "view", "purchase")
    },
    "q132_stratified_split" -> { (s, dir) =>
      // deterministic 10/10/80 val/test/train split, exact counts per
      // source — rank by salted hash within source
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.stratifiedSplit(
        t(dir, "documents"), fracVal = 0.1, fracTest = 0.1, salt = "sp1")
    },
    "q133_profile_table" -> { (s, dir) =>
      // per-column data-quality profile of lineitem: one scan, exact
      // null and distinct counts
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.profileTable(t(dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"))
    },
    "q134_lang_token_hist" -> { (s, dir) =>
      // corpus health per language: token-count distribution with the
      // detected language as the loop dim — ONE map-only projection
      // (langTokens), no doc-keyed join; flow bins catch beyond-axis docs
      implicit val sp: SparkSession = s
      Histogram.histogram(TextAnalysis.langTokens(t(dir, "documents")),
        col("ws_tokens"), axTokens, dims = Seq("lang"),
        opts = graft.operators.HistOptions(flow = true))
    },
    "q135_dedup_report" -> { (s, dir) =>
      // per-source duplication dashboard: full-corpus canonical election,
      // one source-keyed count, exact duplicate fraction
      implicit val sp: SparkSession = s
      Dedup.dedupReport(t(dir, "documents"))
    },
    "q136_embed_dim_hist" -> { (s, dir) =>
      // embedding-space QA: per-cluster-label distribution of one
      // embedding dimension (feature-drift view over vector data)
      implicit val sp: SparkSession = s
      val e = t(dir, "embeddings")
        .select(col("label"), col("embedding").getItem(0).cast("double").as("dim0"))
      Histogram.histogram(e, col("dim0"), axDim0, dims = Seq("label"),
        opts = graft.operators.HistOptions(flow = true))
    },
    "q137_similarity_hist" -> { (s, dir) =>
      // threshold-tuning view: jaccard distribution over ALL verified LSH
      // candidate pairs (threshold 0) — the half-open top bin pushes
      // exact duplicates (jaccard = 1.0) into the overflow bin, which is
      // exactly the "exact dup" bucket a tuning dashboard wants
      implicit val sp: SparkSession = s
      Histogram.histogram(
        Dedup.nearDupPairs(t(dir, "documents"), threshold = 0.0),
        col("jaccard"), axJaccard,
        opts = graft.operators.HistOptions(flow = true))
    },
    "q138_retention_rates" -> { (s, dir) =>
      // the retention triangle as rates: each cell over its cohort size
      // (offset-0 cell) — the form dashboards plot
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.retentionRates(ev)
    },
    "q139_cluster_pruned" -> { (s, dir) =>
      // the two-level PRUNED assignment — the sub-N^1.5 100 TB build
      // path — gated where pruned == exact BY CONSTRUCTION: nCells = 16
      // groups into round(sqrt(16)) = 4 super-centroids and superProbe=4
      // probes ALL of them, so level 2 scores every cell and the argmax
      // (same deterministic (score desc, id asc) aggregate) is identical
      // to the exact path's. The oracle is the exact-assignment SQL;
      // PipelineSpec pins agreement at tighter superProbe configs.
      implicit val sp: SparkSession = s
      Similarity.cluster(t(dir, "embeddings"), nCells = 16, superProbe = Some(4))
    },
    "q140_hist_qbins_sketch" -> { (s, dir) =>
      // the 100 TB quantile lever (GK sketch: ONE aggregation pass, no
      // global sort) gated in its provably-exact regime — at
      // relativeError = 0 the summary retains every sample, so edge j is
      // EXACTLY the value at 1-based rank ceil(j/nBins * n) (p=0 -> min,
      // p=1 -> max). The q94 SpaceSaving precedent: gate the exact
      // regime; QuantileSpec pins the |rank/n - j/nBins| <= relErr
      // contract at a realistic relErr on top.
      implicit val sp: SparkSession = s
      val ord = t(dir, "orders")
      val vals = ord.select(col("o_totalprice").cast("double").as("v"))
        .filter(col("v").isNotNull)
      val ax = graft.operators.QuantileBins.sketchAxis(
        vals, "v", "o_totalprice", 8, relativeError = 0.0)
      Histogram.histogram(ord, col("o_totalprice"), ax)
    },
    "q141_temperature_mix_a03" -> { (s, dir) =>
      // the alpha multilingual mixing actually uses (p ∝ n^0.3): pow()
      // is not correctly rounded, so the weight is floor-quantized at
      // 1e-9 on BOTH engines before the pinned-order fold sum — every
      // downstream bit (rate, 2^60 threshold) then computes from
      // identical inputs (the q123 mean_cos quantize-at-the-boundary
      // convention applied at the weight boundary)
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.sampleTemperature(
        t(dir, "documents"), totalDocs = 300L, alpha = 0.3, salt = "tm3")
    },
    "q142_top_fraction_sketch" -> { (s, dir) =>
      // the corpus-scale form of q106: per-source percentile_approx
      // threshold (ONE map-combinable aggregation pass — no per-source
      // rank sort), broadcast back, map-side compare. Gated in the
      // provably-exact regime: accuracy 2^20 >> 2·n per source, so the
      // GK summary retains every sample and the threshold is EXACTLY the
      // value at rank ceil(0.7·n) — the q94 SpaceSaving precedent.
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.topFractionBySourceSketch(
        t(dir, "documents").withColumn("score", col("n_chars").cast("long")),
        0.3)
    },
    "q143_winsorize" -> { (s, dir) =>
      // per-source outlier clipping into the [p05, p95] band — thresholds
      // from ONE two-quantile percentile_approx pass (exact regime, the
      // q142 rule), broadcast back, clipped map-side
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.winsorizeBySource(
        t(dir, "documents").withColumn("score", col("n_chars").cast("long")),
        0.05, 0.95)
    },
    "q144_event_rate_anomaly" -> { (s, dir) =>
      // pipeline monitoring: days whose per-type event count deviates
      // >2 sample stds from the trailing-7-day mean; integer window sums
      // + one fixed IEEE z-score tail (the q117 convention)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.eventRateAnomaly(ev, windowDays = 7, k = 2.0)
    },
    "q145_hard_negatives" -> { (s, dir) =>
      // contrastive-training negative mining: top-5 most-similar
      // DIFFERENT-label vectors per query — label exclusion is a join
      // predicate (not a post-filter that would under-fill the heap)
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), 5)
    },
    "q146_stream_anomaly" -> { (s, dir) =>
      // the STREAMING rate-anomaly operator on batch input (the q127
      // precedent): bounded per-type state, flushOpen makes batch
      // execution == the q144 oracle row-for-row
      implicit val sp: SparkSession = s
      import sp.implicits._
      val ev = t(dir, "events")
        .filter(col("ts").isNotNull)
        .select(col("event_type"), expr("ts div 1000").as("us"))
        .as[graft.streaming.StreamingHist.RateEvent]
      graft.streaming.StreamingHist
        .streamingRateAnomaly(ev, windowDays = 7, k = 2.0, flushOpen = true)
        .toDF()
    },
    "q147_hard_negatives_ivf" -> { (s, dir) =>
      // the IVF-composed mining path, gated where it equals brute force
      // by construction: nprobe = nCells probes every cell, so the
      // candidate set IS the different-label corpus (same oracle as q145)
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      Similarity.hardNegativesIvf(emb, emb.filter(col("vec_id") < 10), 5,
        nCells = 8, nprobe = 8)
    },
    "q148_props_stats" -> { (s, dir) =>
      // schema-on-read promotion of the JSON props blob: one codegen'd
      // parse in the scan project, corpus collapses to |types| rows in
      // one map-combinable aggregate
      implicit val sp: SparkSession = s
      graft.pipeline.Funnel.jsonFieldStats(t(dir, "events"), "k")
    },
    "q149_props_hist" -> { (s, dir) =>
      // the JSON field fed straight into the core histogram engine —
      // extraction composes with every histogram feature because it is
      // just a typed column
      implicit val sp: SparkSession = s
      // integral-regex guard before the cast — the engines' bare casts
      // disagree on '3.7' (Spark NULLs, DuckDB rounds); see
      // Funnel.jsonFieldStats
      val raw = get_json_object(col("props"), "$.k")
      val k = when(raw.rlike("^-?[0-9]+$"), raw.try_cast("long"))
      Histogram.histogram(t(dir, "events"), k, axPropsK,
        opts = HistOptions(flow = true))
    },
    "q150_embed_quantize" -> { (s, dir) =>
      // absmax int8 quantization — the 4x storage shrink for a 100 TB
      // embedding corpus; entirely map-side (scale is an array fold in
      // the projection), zero exchanges
      implicit val sp: SparkSession = s
      Similarity.quantizeInt8(t(dir, "embeddings"))
    },
    "q151_dedup_savings" -> { (s, dir) =>
      // token-denominated dedup savings: the budget number (docs removed
      // says little when duplicates skew short/long); same full-corpus
      // canonical election as q135, token counter in the same projection
      implicit val sp: SparkSession = s
      graft.pipeline.Dedup.dedupTokenSavings(t(dir, "documents"))
    },
    "q152_stream_quantiles" -> { (s, dir) =>
      // the streaming windowed-quantile operator on batch input (the q53
      // convention), gated in the provably-exact GK regime: accuracy 2^20
      // >> 2n per window, so quantile q is EXACTLY the value at rank
      // ceil(q*n) ascending per window (the q142 rule, per window)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedQuantiles(
          ev, "event_time", col("value"), "1 hour", Seq(0.5, 0.95))
        .drop("window_end")
    },
    "q153_score_standardize" -> { (s, dir) =>
      // per-source z-scores (the parametric complement to q129's rank
      // percentiles): one moment aggregate over exact integer sums,
      // broadcast back, fixed IEEE tail — corpus never shuffles
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.standardizeBySource(
        t(dir, "documents").withColumn("score", col("n_chars").cast("long")))
    },
    "q154_minhash_accuracy" -> { (s, dir) =>
      // sketch-accuracy QA: per LSH candidate pair, the signature-slot
      // agreement ESTIMATE beside the exact verified jaccard — the report
      // read before trusting an estimate-only threshold; reuses q41/q54's
      // memoized band join and gram sets
      implicit val sp: SparkSession = s
      graft.pipeline.Dedup.minhashAccuracy(t(dir, "documents"))
    },
    "q155_semantic_decontaminate" -> { (s, dir) =>
      // embedding-space decontamination (catches paraphrased benchmark
      // leakage that shares no exact grams): benchmark = vec_id < 10
      // broadcast, corpus = the rest scanned once, max-cos verdict
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      Similarity.semanticContamination(
        emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10), 0.8)
    },
    "q156_cluster_purity" -> { (s, dir) =>
      // quantizer QA against ground-truth labels: per-cell majority-label
      // fraction (log-free — the q113 rationale), broadcast assignment +
      // tiny (cell, label) aggregate + struct-max argmax
      implicit val sp: SparkSession = s
      Similarity.clusterPurity(t(dir, "embeddings"), nCells = 8)
    },
    "q162_group_quantiles_sketch" -> { (s, dir) =>
      // q116's documented 100 TB path as a gated operator: per-group GK
      // percentile_approx (map-combinable — no per-group rank window),
      // exact regime (accuracy 2^20 >> 2n per group), the q142/q152 rule
      implicit val sp: SparkSession = s
      graft.operators.QuantileBins.groupQuantilesSketch(
        t(dir, "events"), col("value"), Seq("event_type"),
        Seq(0.5, 0.95, 0.99))
    },
    "q163_ann_lsh_recall" -> { (s, dir) =>
      // LSH recall as a regression contract: 8 tables x 8 bits, hamming<=2
      // probes — the §6d config whose per-table catch stays meaningful on
      // this gapless synthetic corpus (q46's 4x16 default is tuned for
      // near-dup-regime gaps and measures ~0.1 here BY DESIGN — outside
      // LSH's contract, documented in SURVEY §6d). Measured 0.93-1.0
      // across sf0.001/0.01/0.1; pinned >= 0.8.
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      val qset = emb.filter(col("vec_id") < 10)
      graft.pipeline.Contracts.annRecallContract(
        Similarity.annLsh(emb, qset, 3, tables = 8, bits = 8, probeHamming = 2),
        Similarity.bruteForceTopK(emb, qset, 3), bound = 0.8)
    },
    "q164_ann_ivf_recall" -> { (s, dir) =>
      // the q52 (64-cell, 8-probe) recall contract vs exact top-k:
      // measured 0.53-0.8 across sf0.001/0.01/0.1 on this gapless
      // corpus (recall tracks probed-cell fraction — §6d); pinned >= 0.4
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      val qset = emb.filter(col("vec_id") < 10)
      graft.pipeline.Contracts.annRecallContract(
        Similarity.annIvf(emb, qset, 3, nCells = 64, nprobe = 8),
        Similarity.bruteForceTopK(emb, qset, 3), bound = 0.4)
    },
    "q161_metadata_roundtrip" -> { (s, dir) =>
      // the reference's attrs contract (accessor.py:34-52) end to end:
      // histogram -> parquet -> FRESH reload -> axis reconstructed from
      // the persisted column metadata ALONE -> accessor stat on it. The
      // gate (same SQL as q28) only matches if the round-tripped axis
      // drives normalize exactly like the original object — saved
      // histograms are self-describing.
      implicit val sp: SparkSession = s
      val h = hist(dir, "events", col("value"), axValue, dims = Seq("event_type"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q161_" +
        ProcessHandle.current().pid()
      h.write.mode("overwrite").parquet(path)
      val reloaded = s.read.parquet(path)
      val ax = graft.axes.AxisMetadata.axisOf(reloaded, "value_bins")
      require(ax == axValue,
        s"metadata round-trip reconstructed a different axis: $ax != $axValue")
      HistStats.normalize(reloaded, ax, Seq("event_type"))
    },
    "q157_gk_rank_contract" -> { (s, dir) =>
      // the GK sketch at a GENUINELY approximate relErr: the gate hashes
      // the per-edge rank-bound VERDICTS (a theorem of the sketch,
      // deterministic where the edge values are not) — any bound
      // violation on real data mismatches the oracle's TRUE rows
      implicit val sp: SparkSession = s
      graft.pipeline.Contracts.gkRankContract(
        t(dir, "orders"), col("o_totalprice"), nBins = 8, relErr = 0.01)
    },
    "q158_spacesaving_contract" -> { (s, dir) =>
      // SpaceSaving at capacity 16 << per-source vocabulary: bracket
      // (cnt-err <= tf <= cnt) and completeness (tf*cap > N => present)
      // verdicts per source, beside the exact token total
      implicit val sp: SparkSession = s
      graft.pipeline.Contracts.spaceSavingContract(
        t(dir, "documents"), capacity = 16)
    },
    "q159_papprox_contract" -> { (s, dir) =>
      // percentile_approx thresholds at accuracy 25 (rank error 4%):
      // per (source, p) rank-bound verdicts over n_chars scores
      implicit val sp: SparkSession = s
      graft.pipeline.Contracts.percentileApproxContract(
        t(dir, "documents").withColumn("score", col("n_chars").cast("long")),
        Seq(0.25, 0.5, 0.75), accuracy = 25)
    },
    "q160_window_gk_contract" -> { (s, dir) =>
      // the q152 knob at accuracy 20: per (hour window, q) rank-bound
      // verdicts — each window checks only its own rows
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Contracts.windowedQuantilesContract(
        ev, "event_time", col("value"), "1 hour", Seq(0.25, 0.5, 0.75),
        accuracy = 20)
    },
    "q165_transition_matrix" -> { (s, dir) =>
      // journey analytics: first-order Markov matrix over each user's
      // (time, id)-ordered stream — one user-keyed exchange, then the
      // |types|^2 relation carries the conditional probabilities
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.transitionMatrix(ev)
    },
    "q166_vocab_growth" -> { (s, dir) =>
      // Heaps'-law vocabulary growth per ingestion checkpoint: is the
      // crawl still discovering vocabulary, or saturating into dups?
      implicit val sp: SparkSession = s
      TextAnalysis.vocabGrowth(t(dir, "documents"), bucketSize = 100L)
    },
    "q167_hash_embed" -> { (s, dir) =>
      // the hashing-trick document embedding: fixed-dim signed token
      // counts with no learned vocabulary, emitted per-element
      implicit val sp: SparkSession = s
      TextAnalysis.hashEmbed(t(dir, "documents"), dim = 16)
    },
    "q168_interevent_hist" -> { (s, dir) =>
      // inter-event-gap distribution per event type (bot/instrumentation
      // QA): lag gaps in whole seconds -> the core histogram engine,
      // flow bins catching the beyond-a-day tail
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val gaps = graft.pipeline.Funnel.interEventGaps(ev)
        .select(col("event_type"),
          expr("gap_us div 1000000").cast("double").as("gap_s"))
      Histogram.histogram(gaps, col("gap_s"), axGap,
        dims = Seq("event_type"), opts = HistOptions(flow = true))
    },
    "q169_cohort_value" -> { (s, dir) =>
      // the LTV triangle: per (cohort day, age), event count and the
      // Dec-exact value sum — what each cohort is worth as it ages
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.cohortValue(ev)
    },
    "q170_hist2d_qbins" -> { (s, dir) =>
      // equal-mass 2D grid: BOTH axes data-derived through the SIZE
      // SWITCH (autoAxisTagged: exact rank edges below the row
      // threshold — the gated regime here — GK sketch edges above it,
      // logged; q313 gates the sketch branch itself), then one
      // histogramdd pass — the calibration-heatmap shape over skewed
      // marginals
      implicit val sp: SparkSession = s
      val li = t(dir, "lineitem")
      val ax = graft.operators.QuantileBins.autoAxisTagged(
        li, col("l_quantity"), "l_quantity", 4).axis
      val ay = graft.operators.QuantileBins.autoAxisTagged(
        li, col("l_extendedprice"), "l_extendedprice", 4).axis
      Histogram.histogramdd(li,
        Seq(col("l_quantity") -> ax, col("l_extendedprice") -> ay))
    },
    "q171_stream_transitions" -> { (s, dir) =>
      // the STREAMING transition feed on batch input (one state row per
      // user); counting its emitted pairs IS the q165 matrix — gated
      // against the SAME oracle SQL (the q127 convention)
      implicit val sp: SparkSession = s
      import sp.implicits._
      val ev = t(dir, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), expr("ts div 1000").as("us"),
          col("event_id"), col("event_type"))
        .as[graft.streaming.StreamingHist.TransEvent]
      val pairs = graft.streaming.StreamingHist.streamingTransitions(ev).toDF()
      val counts = pairs
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val wf = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
      counts
        .withColumn("p",
          col("n").cast("double") / sum(col("n")).over(wf).cast("double"))
        .select(col("from_type"), col("to_type"), col("n"), col("p"))
    },
    "q172_distinct_contract" -> { (s, dir) =>
      // the COUNT(DISTINCT) 100 TB knob: HLL++ at rsd=0.05 must land
      // within 15% of the exact per-type distinct-user count — the
      // estimate is merge-order-independent but engine-specific, so the
      // gate pins the contract verdict beside the exact count (q157
      // convention)
      implicit val sp: SparkSession = s
      graft.pipeline.Contracts.hllDistinctContract(
        t(dir, "events"), "event_type", col("user_id"),
        rsd = 0.05, bound = 0.15)
    },
    "q173_session_duration_hist" -> { (s, dir) =>
      // session-length distribution (engagement dashboard): the q87
      // sessions' active spans in whole seconds -> the core histogram
      // engine, flow catching beyond-a-day sessions
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val gapUs = 6L * 3600 * 1000000
      val dur = graft.streaming.StreamingHist.sessionize(
          ev, "event_time", "user_id", "6 hours", col("value"))
        .select(((unix_micros(col("session_end")) - lit(gapUs) -
          unix_micros(col("session_start"))) / lit(1000000L))
          .cast("long").cast("double").as("dur_s"))
      Histogram.histogram(dur, col("dur_s"), axSessDur,
        opts = HistOptions(flow = true))
    },
    "q174_score_blend" -> { (s, dir) =>
      // multi-signal quality rank fusion: mean of the within-source
      // percentiles of (n_chars, ws_tokens) — rank-normalize before
      // blending so no signal's scale dominates
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.blendPercentiles(t(dir, "documents"), Seq(
        "chars" -> col("n_chars").cast("double"),
        "tokens" -> regexp_count(col("text"), lit("\\S+")).cast("double")))
    },
    "q175_corpus_rollup" -> { (s, dir) =>
      // corpus dashboard with subtotals: docs/tokens per (source, lang),
      // per source, and the grand total in ONE aggregate pass (Spark
      // rollup == ANSI GROUP BY ROLLUP; exact longs)
      implicit val sp: SparkSession = s
      TextAnalysis.corpusRollup(t(dir, "documents"))
    },
    "q176_event_dedup" -> { (s, dir) =>
      // rapid-fire duplicate suppression (double fires / retry storms):
      // keep the first event of each (user, type) burst — one lag
      // window over the (us, id) total order, kept subset out
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.suppressRapidFire(ev, gapSec = 60L)
    },
    "q177_stream_distinct" -> { (s, dir) =>
      // windowed distinct users (the per-window DAU form): batch
      // execution of the streaming operator — exact count_distinct over
      // the integer window key; the streaming form chains watermarked
      // dropDuplicates into an additive count (StreamingSpec pins
      // streaming == batch across micro-batches)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedDistinct(
        ev, "event_time", "user_id", "1 hour")
    },
    "q178_embed_normalize" -> { (s, dir) =>
      // unit-L2 normalization: every downstream cosine becomes a plain
      // dot product, paid once per corpus — map-only (codegen vec_dot
      // fold in the projection), zero exchanges, per-element rendering
      implicit val sp: SparkSession = s
      Similarity.normalizeL2(t(dir, "embeddings"))
    },
    "q179_tokenizer_fertility" -> { (s, dir) =>
      // tokenizer fertility (tokens per whitespace word) per language:
      // one map-only projection (langId argmax + both token counts),
      // one IEEE division, then the histogram engine with flow
      implicit val sp: SparkSession = s
      Histogram.histogram(TextAnalysis.fertility(t(dir, "documents")),
        col("fertility"), axFert, dims = Seq("lang"),
        opts = HistOptions(flow = true))
    },
    "q180_curate_blend" -> { (s, dir) =>
      // the composed curation chain with a relative quality gate: the
      // q89 criteria plus q174's blended percentile >= 0.5, one plan
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.pipeline.Curation.curateBlend(docs,
        docs.filter(col("doc_id") < 20), Seq(
          "chars" -> col("n_chars").cast("double"),
          "tokens" -> regexp_count(col("text"), lit("\\S+")).cast("double")),
        minBlend = 0.5)
    },
    "q181_distinct_contract_tight" -> { (s, dir) =>
      // q172's knob at a SECOND rsd point (0.01, 16x the registers):
      // the 3x-rsd error margin must hold at both ends, pinning the
      // accuracy-vs-state curve the way q157-q160 pin GK/SpaceSaving
      implicit val sp: SparkSession = s
      graft.pipeline.Contracts.hllDistinctContract(
        t(dir, "events"), "event_type", col("user_id"),
        rsd = 0.01, bound = 0.03)
    },
    "q182_stream_event_dedup" -> { (s, dir) =>
      // the STREAMING burst-collapse feed on batch input (one state row
      // per (user, type)); batch execution equals q176's lag rule —
      // gated against the SAME oracle SQL (the q127 convention)
      implicit val sp: SparkSession = s
      import sp.implicits._
      val ev = t(dir, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull && col("event_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("ts div 1000").as("us"), col("value"))
        .as[graft.streaming.StreamingHist.RfEvent]
      graft.streaming.StreamingHist.streamingRapidFire(ev, gapSec = 60L)
        .toDF()
    },
    "q183_stream_funnel" -> { (s, dir) =>
      // the LIVE conversion funnel on batch input (one k-slot state
      // vector per user); batch execution equals q92's conditional-min
      // chain — gated against the SAME oracle SQL (the q127 convention)
      implicit val sp: SparkSession = s
      import sp.implicits._
      val ev = t(dir, "events")
        .filter(col("ts").isNotNull)
        .select(col("user_id"), expr("ts div 1000").as("us"),
          col("event_id"), col("event_type"))
        .as[graft.streaming.StreamingHist.FunnelEvent]
      graft.streaming.StreamingHist
        .streamingFunnel(ev, Seq("view", "click", "purchase")).toDF()
        .select(col("user_id"),
          timestamp_micros(col("ts")(0)).as("t1"),
          timestamp_micros(col("ts")(1)).as("t2"),
          timestamp_micros(col("ts")(2)).as("t3"),
          col("steps_completed"))
    },
    "q184_weighted_sample" -> { (s, dir) =>
      // PPS training-mix draw: expected 500 docs, inclusion probability
      // proportional to whitespace token count — exact DECIMAL(38,0)
      // keep predicate, one scalar aggregate, map-side filter
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.sampleByWeight(t(dir, "documents"), 500L,
        regexp_count(col("text"), lit("\\S+")).cast("long"), "pps")
    },
    "q185_bm25" -> { (s, dir) =>
      // BM25 retrieval scoring against a fixed probe query — corpus
      // shuffles only its matched (doc, term) rows; df and the corpus
      // stats broadcast; per-doc fold bounded by |query|
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.bm25(t(dir, "documents"),
        Seq("spark", "query", "fast"))
    },
    "q186_psi" -> { (s, dir) =>
      // Population Stability Index between the view and click value
      // distributions — the ln-weighted drift score monitoring
      // thresholds are published against (q113's log-free complement)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.psi(
        Histogram.histogram(ev.filter(col("event_type") === "view"),
          col("value"), axValue),
        Histogram.histogram(ev.filter(col("event_type") === "click"),
          col("value"), axValue),
        axValue)
    },
    "q187_windowed_psi" -> { (s, dir) =>
      // per-day PSI vs the whole-corpus reference — the rolling drift
      // monitor in its published form (alarm when a day's PSI > 0.25);
      // q114's windowed-drift shape with the ln-weighted score
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("day", expr("(ts div 1000) div 86400000000"))
      HistStats.psiFrom(
        Histogram.histogram(ev, col("value"), axValue, dims = Seq("day")),
        Histogram.histogram(ev, col("value"), axValue),
        axValue, dims = Seq("day"))
    },
    "q188_snapshot_diff" -> { (s, dir) =>
      // dataset-versioning diff: added/removed/changed/same per doc vs
      // a synthesized previous drop (every 7th doc new, every 5th
      // rewritten) — one doc_id-keyed full-outer join of hash scans
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      val old = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.pipeline.Dedup.snapshotDiff(docs, old)
    },
    "q189_embed_outliers" -> { (s, dir) =>
      // per-vector embedding outlier QA: cosine to the assigned
      // centroid z-scored within the cell (quantized moments, exact
      // integer sums), flagged below -2 sigma
      implicit val sp: SparkSession = s
      Similarity.embedOutliers(t(dir, "embeddings"), nCells = 16)
    },
    "q190_bm25_topk" -> { (s, dir) =>
      // the retrieval form: 25 most relevant docs for the probe query,
      // ranked — deterministic because the scores are bit-identical by
      // construction and ties break by doc_id
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.bm25TopK(t(dir, "documents"),
        Seq("spark", "query", "fast"), k = 25)
    },
    "q191_stream_psi" -> { (s, dir) =>
      // the LIVE drift monitor on batch input: hourly value-distribution
      // PSI vs the whole-corpus reference; batch execution == psiFrom
      // over the windowed histogram (streaming chains two stateful aggs)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val ref = Histogram.histogram(ev, col("value"), axValue)
      graft.streaming.StreamingHist.windowedPsi(
        ev, "event_time", col("value"), axValue, "1 hour", ref)
    },
    "q192_curate_explain" -> { (s, dir) =>
      // curation EXPLAIN: every criterion's verdict per doc over the
      // FULL corpus — the "why was my doc dropped" / loss-attribution
      // surface; three-valued logic intact for NULL text
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.pipeline.Curation.curateExplain(docs,
        docs.filter(col("doc_id") < 20), Seq(
          "chars" -> col("n_chars").cast("double"),
          "tokens" -> regexp_count(col("text"), lit("\\S+")).cast("double")),
        minBlend = 0.5)
    },
    "q193_lm_score" -> { (s, dir) =>
      // unigram LM quality score (the perplexity-style corpus filter):
      // mean token log-prob under the corpus's own unigram model —
      // vocabulary + tf aggregates, term-keyed join, doc-keyed fold
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.lmScore(t(dir, "documents"))
    },
    "q194_chunk_docs" -> { (s, dir) =>
      // stride chunking into fixed-token windows (context-bounded
      // training/embedding inputs) — purely narrow, zero exchanges
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.chunkDocs(t(dir, "documents"),
        window = 64, stride = 48)
    },
    "q195_tfidf_topk" -> { (s, dir) =>
      // per-doc keyword extraction: top-5 terms by tf·ln(N/df) —
      // doc-partitioned rank windows over vocabulary-joined tf
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.tfidfTopK(t(dir, "documents"), k = 5)
    },
    "q196_robust_standardize" -> { (s, dir) =>
      // per-source median/MAD robust z-score of doc length — the
      // outlier-immune quality gate; corpus never shuffles
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.robustStandardizeBySource(
        t(dir, "documents"), scoreCol = "n_chars")
    },
    "q197_lm_score_bigram" -> { (s, dir) =>
      // context-aware LM quality score: mean bigram log-prob under the
      // corpus's own counts — shuffled-boilerplate docs collapse here
      // while scoring high under q193's unigram model
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.lmScoreBigram(t(dir, "documents"))
    },
    "q198_centroid_shift" -> { (s, dir) =>
      // embedding-space drift: per-label L2 centroid shift vs a
      // synthesized previous snapshot (every 7th vector new, every 5th
      // reversed — a pure permutation, no float arithmetic)
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      val old = emb.filter(col("vec_id") % 7 =!= 0)
        .withColumn("embedding", when(col("vec_id") % 5 === 0,
          reverse(col("embedding"))).otherwise(col("embedding")))
      Similarity.centroidShift(emb, old)
    },
    "q199_key_skew" -> { (s, dir) =>
      // pre-flight join/groupBy skew probe: the 25 heaviest user keys
      // with exact counts and share of total event volume
      implicit val sp: SparkSession = s
      graft.pipeline.Funnel.keySkew(t(dir, "events"), "user_id", k = 25)
    },
    "q200_lm_filter" -> { (s, dir) =>
      // the composed perplexity-gate curation stage: keep each source's
      // least-surprising 70% by within-source LM-score percentile
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.lmFilter(t(dir, "documents"), minPctl = 0.3)
    },
    "q201_token_entropy" -> { (s, dir) =>
      // lexical diversity: per-doc token-distribution entropy — the
      // whole-distribution repetition signal; no corpus state at all
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.tokenEntropy(t(dir, "documents"))
    },
    "q202_trimmed_mean" -> { (s, dir) =>
      // robust per-source location: mean of doc lengths after dropping
      // the top/bottom 10% — the dashboard number outliers cannot move
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.trimmedMeanBySource(
        t(dir, "documents"), p = 0.1, scoreCol = "n_chars")
    },
    "q203_pmi_collocations" -> { (s, dir) =>
      // top-50 collocations by PMI with a count>=5 floor — set phrases
      // and template fragments; rank-k is TakeOrdered on the
      // bigram-vocabulary relation
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.pmiCollocations(t(dir, "documents"),
        k = 50, minCount = 5L)
    },
    "q204_oov_rate" -> { (s, dir) =>
      // per-doc out-of-vocabulary rate vs a 30% reference slice —
      // domain-shift probe; vocab-keyed left join, corpus never joins
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.pipeline.TextAnalysis.oovRate(docs,
        docs.filter(col("doc_id") % 10 < 3))
    },
    "q205_interval_join" -> { (s, dir) =>
      // two-sided coincidence join: every (view, click) pair of a user
      // within ±6 h — bucket-blocked equi-join, |Δ| filter map-side;
      // the oracle runs UNBLOCKED, re-proving blocking completeness
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.intervalJoin(ev, "view", "click",
        tolUs = 21600000000L)
    },
    "q206_rate_limit" -> { (s, dir) =>
      // per-(user, day) quota: keep each user's first 5 events a day —
      // the abuse throttle; one (key, day) exchange, rank, filter
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.rateLimit(ev, n = 5)
    },
    "q207_stream_rate_limit" -> { (s, dir) =>
      // the STREAMING quota feed on batch input (one counter row per
      // (user, day)); batch execution equals q206's rank rule — gated
      // against the SAME oracle SQL (the q127 convention)
      implicit val sp: SparkSession = s
      import sp.implicits._
      val ev = t(dir, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull &&
          col("event_id").isNotNull)
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"))
        .as[graft.streaming.StreamingHist.RlEvent]
      graft.streaming.StreamingHist.streamingRateLimit(ev, n = 5).toDF()
    },
    "q208_type_cooccurrence" -> { (s, dir) =>
      // behavior association mining: per event-type pair, users with
      // both and the lift — corpus collapses to distinct (user, type),
      // pair join bounded by the type vocabulary squared
      implicit val sp: SparkSession = s
      graft.pipeline.Funnel.typeCooccurrence(t(dir, "events"))
    },
    "q209_source_gini" -> { (s, dir) =>
      // corpus concentration: Gini of the source-size distribution —
      // exact integer sums over the |sources| relation, one division
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.sourceGini(t(dir, "documents"))
    },
    "q210_zipf_fit" -> { (s, dir) =>
      // Zipf slope + r² of the term-frequency curve — quantized-ln
      // integer moments, exact DECIMAL sums, fixed IEEE tail
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.zipfFit(t(dir, "documents"))
    },
    "q211_emd_drift" -> { (s, dir) =>
      // Wasserstein-1 between the view and click value distributions —
      // the drift metric WITH UNITS, joining TVD/χ² (q113) and PSI
      // (q186); exact cumulative-decimal CDFs, histogram-sized only
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.emd(
        Histogram.histogram(ev.filter(col("event_type") === "view"),
          col("value"), axValue),
        Histogram.histogram(ev.filter(col("event_type") === "click"),
          col("value"), axValue),
        axValue)
    },
    "q212_fk_audit" -> { (s, dir) =>
      // referential-integrity pre-flight on orders→customer with a
      // synthesized parent gap (every 10th customer missing): exact
      // orphan/null counts and match rate before anyone inner-joins
      implicit val sp: SparkSession = s
      graft.pipeline.Funnel.fkAudit(t(dir, "orders"),
        t(dir, "customer").filter(col("c_custkey") % 10 =!= 0),
        "o_custkey", "c_custkey")
    },
    "q213_event_trigrams" -> { (s, dir) =>
      // behavior-motif mining: the 25 most common three-step event
      // paths across users — one user-keyed exchange, TakeOrdered
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.eventTrigrams(ev, k = 25)
    },
    "q214_stream_interval_join" -> { (s, dir) =>
      // the LIVE coincidence join on batch input: Spark's native
      // stream-stream range join; batch execution == q205's blocked
      // batch operator — gated against the SAME oracle SQL
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.streamingIntervalJoin(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"), tolUs = 21600000000L)
    },
    "q215_emd_lifecycle" -> { (s, dir) =>
      // group-lifecycle drift: per-event-type EMD where side B drops
      // 'click' entirely — the dead group must yield NULL emd (no
      // comparison), not crash or an eps-vs-everything score; this is
      // the production day-over-day edge the zero-total guard exists for
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.emd(
        Histogram.histogram(ev, col("value"), axValue,
          dims = Seq("event_type")),
        Histogram.histogram(ev.filter(col("event_type") =!= "click"),
          col("value"), axValue, dims = Seq("event_type")),
        axValue, dims = Seq("event_type"))
    },
    "q216_psi_lifecycle" -> { (s, dir) =>
      // the same born/dead-group edge for PSI: per-event-type PSI with
      // side B missing 'click' — NULL psi for the dead group, real
      // scores for the live ones, oracle-pinned NULL semantics
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.psi(
        Histogram.histogram(ev, col("value"), axValue,
          dims = Seq("event_type")),
        Histogram.histogram(ev.filter(col("event_type") =!= "click"),
          col("value"), axValue, dims = Seq("event_type")),
        axValue, eps = 1e-6, dims = Seq("event_type"))
    },
    "q217_weighted_profile" -> { (s, dir) =>
      // bh WeightedMean storage: per-quantity-bin price-weighted mean
      // discount with the effective-count-corrected variance — the
      // weighted companion of q109's Mean-storage profile
      implicit val sp: SparkSession = s
      Histogram.weightedProfile(t(dir, "lineitem"), col("l_quantity"),
        axQty10, col("l_discount"), col("l_extendedprice"),
        dims = Seq("l_returnflag"))
    },
    "q218_lm_filter_sketch" -> { (s, dir) =>
      // mega-source-proof LM filter: per-source GK threshold instead of
      // the per-source rank window; gated on the sketch's two one-sided
      // rank-bound contract verdicts (q157-q160 discipline)
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.lmFilterSketch(t(dir, "documents"),
        minPctl = 0.5, accuracy = 25)
    },
    "q219_is_normalized" -> { (s, dir) =>
      // accessor.is_normalized (accessor.py:132) as a gated surface: the
      // schema-derived flag on the same histogram before and after
      // normalize, hashed against the oracle's TRUE/FALSE constants
      // beside each variant's (event_type, bin) row count
      implicit val sp: SparkSession = s
      import s.implicits._
      val h = hist(dir, "events", col("value"), axValue,
        dims = Seq("event_type"))
      val n = HistStats.normalize(h, axValue, Seq("event_type"))
      Seq(("raw", HistStats.isNormalized(h), h.count()),
        ("normalized", HistStats.isNormalized(n), n.count()))
        .toDF("state", "is_normalized", "n_rows")
    },
    "q220_dsir_weights" -> { (s, dir) =>
      // DSIR importance weights: candidate docs scored by hashed-unigram
      // likelihood ratio vs the src0-src2 target slice
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.dsirWeights(t(dir, "documents"),
        col("source").isin("src0", "src1", "src2"), buckets = 1024)
    },
    "q221_pq_encode" -> { (s, dir) =>
      // product-quantization codes: 4 subspaces x 16 codewords over the
      // 64-dim embeddings, trained L2 Lloyd, broadcast-encode
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.pqEncode(t(dir, "embeddings"),
        m = 4, k = 16, iters = 2)
    },
    "q222_pq_search_recall" -> { (s, dir) =>
      // PQ asymmetric-distance search (ADC + exact rerank of the top-100
      // shortlist) gated as a recall contract vs the exact L2 top-k (the
      // q163/q164 discipline). Measured recall@3: 1.0 / 1.0 / 0.67 / 1.0
      // at sf0.001/0.01/0.1/sf1 (sf0.1 is the hard gapless-random case;
      // sf1's planted near-twins rank first at any quantization) —
      // pinned >= 0.4.
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      val qset = emb.filter(col("vec_id") < 10)
      graft.pipeline.Contracts.annRecallContract(
        Similarity.pqSearch(emb, qset, 3, m = 8, codes = 64, rerank = 100),
        Similarity.bruteForceL2TopK(emb, qset, 3), bound = 0.4)
    },
    "q223_asof_forward" -> { (s, dir) =>
      // FORWARD as-of: each purchase picks up the user's NEXT view within
      // 1h (outcome attachment) — the q120 union-window plan traversed
      // descending, ties to the lowest view id
      implicit val sp: SparkSession = s
      val ev = t(dir, "events").withColumn("ts", expr("ts div 1000"))
      graft.pipeline.AsOf.asOfJoinForward(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "view")
          .select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "event_id", Seq("ts", "value"),
        prefix = "next_view_", tolerance = Some(3600000000L))
    },
    "q224_pq_error" -> { (s, dir) =>
      // PQ quantization-loss report: per-subspace mean/max assigned-
      // codeword d2 — the size-m/k-right check run BEFORE discarding
      // raw vectors
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.pqError(t(dir, "embeddings"),
        m = 4, k = 16, iters = 2)
    },
    "q225_decontaminate_bloom" -> { (s, dir) =>
      // q82's 100 TB form: Bloom-prefiltered decontamination — the
      // benchmark gram set rides as a ~1.2 B/gram filter instead of a
      // broadcast set; exact verify of the screened survivors makes the
      // output row-identical to q82, so the SAME oracle gates it (the
      // no-false-negative theorem is what the hash match re-proves)
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      Dedup.decontaminateBloom(docs, docs.filter(col("doc_id") < 20),
        n = 5, fpp = 0.01)
    },
    "q226_stream_emd" -> { (s, dir) =>
      // the LIVE drift monitor with UNITS on batch input: hourly EMD vs
      // the whole-corpus reference ("this hour's values sit N points
      // from the snapshot"); batch execution == emdFrom over the
      // windowed histogram (streaming chains two stateful aggs,
      // StreamingSpec pins streaming == batch bit-exactly)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val ref = Histogram.histogram(ev, col("value"), axValue)
      graft.streaming.StreamingHist.windowedEmd(
        ev, "event_time", col("value"), axValue, "1 hour", ref)
    },
    "q227_stream_ks" -> { (s, dir) =>
      // the drift family's third head on batch input: hourly binned KS
      // (largest CDF gap, the 0..1 alarm with published critical values)
      // vs the whole-corpus reference; batch execution == ksFrom over
      // the windowed histogram (streaming chains two stateful aggs,
      // StreamingSpec pins streaming == batch bit-exactly)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val ref = Histogram.histogram(ev, col("value"), axValue)
      graft.streaming.StreamingHist.windowedKs(
        ev, "event_time", col("value"), axValue, "1 hour", ref)
    },
    "q228_rrf_fusion" -> { (s, dir) =>
      // hybrid-retrieval rank fusion: the BM25 and tf-idf heads' top-50
      // lists fused by reciprocal rank (1/(60+r)), final top-25 — rank-
      // space ensemble, no score calibration between heads
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.rrfFusion(t(dir, "documents"),
        Seq("spark", "query", "fast"), k = 25, kList = 50)
    },
    "q229_ivfpq_recall" -> { (s, dir) =>
      // IVFADC-R (coarse cell pruning + residual PQ codes + exact
      // rerank) gated as a recall contract vs exact L2 top-k — the
      // production regime where even the codes relation is too big to
      // scan per query
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      val qset = emb.filter(col("vec_id") < 10)
      graft.pipeline.Contracts.annRecallContract(
        Similarity.ivfPqSearch(emb, qset, 3, nCells = 16, nprobe = 8,
          m = 8, codes = 64, rerank = 100),
        Similarity.bruteForceL2TopK(emb, qset, 3), bound = 0.3)
    },
    "q230_dup_ngram_rate" -> { (s, dir) =>
      // Lee-et-al-style corpus diagnostic: per source, the fraction of
      // word 8-gram instances duplicated anywhere in the corpus — the
      // dedup-is-it-worth-it / who-carries-the-boilerplate report
      implicit val sp: SparkSession = s
      Dedup.dupNgramRate(t(dir, "documents"), n = 8)
    },
    "q231_leak_free_split" -> { (s, dir) =>
      // leakage-free split: the verdict is decided per near-dup
      // COMPONENT and inherited by every member — a near-dup pair can
      // never straddle train and test
      implicit val sp: SparkSession = s
      Dedup.leakFreeSplit(t(dir, "documents"), fracVal = 0.1,
        fracTest = 0.1, salt = "lfs1")
    },
    "q232_stream_decontaminate" -> { (s, dir) =>
      // STATELESS live-ingest decontamination screen: row-local
      // arrays_overlap against the driver-collected eval-set grams —
      // exact batch parity by construction (one narrow projection),
      // gated on the SAME oracle as q82
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.streaming.StreamingHist.decontaminateStream(
        docs, docs.filter(col("doc_id") < 20), n = 5)
    },
    "q233_winnowing" -> { (s, dir) =>
      // MOSS-style winnowing: per-doc window-min fingerprints (any
      // shared w+k-1-token run shares a fingerprint), df-capped bucket
      // join, pair counts — LOCAL overlap detection where MinHash's
      // whole-doc Jaccard dilutes partial containment
      implicit val sp: SparkSession = s
      Dedup.winnowingPairs(t(dir, "documents"), k = 4, w = 4,
        dfCap = 20, minShared = 2)
    },
    "q234_mixed_lang" -> { (s, dir) =>
      // code-switching detector: chunk-level langid votes per doc — the
      // curation signal whole-doc argmax langid structurally cannot
      // produce (a half-and-half doc sails through a lang filter)
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.mixedLang(t(dir, "documents"), window = 16)
    },
    "q235_stream_pull" -> { (s, dir) =>
      // per-(window, bin) Poisson residuals vs the corpus reference —
      // the drill-down beside the scalar windowed drift alarms (WHICH
      // bins moved, by how many sigmas); batch == pullFrom over the
      // windowed histogram, streaming chains two stateful aggs
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val ref = Histogram.histogram(ev, col("value"), axValue)
      graft.streaming.StreamingHist.windowedPull(
        ev, "event_time", col("value"), axValue, "1 hour", ref)
    },
    "q236_burstiness" -> { (s, dir) =>
      // inter-event burstiness per user (Goh & Barabási): (σ−μ)/(σ+μ)
      // over microsecond gaps — the bot/scraper discriminator an event
      // count misses (cron scrapers -> −1, humans bursty -> > 0)
      implicit val sp: SparkSession = s
      graft.pipeline.Funnel.burstiness(t(dir, "events"))
    },
    "q237_attribution" -> { (s, dir) =>
      // U-shaped multi-touch attribution: each purchase splits credit
      // 40/20/40 over the user's views in the preceding hour — the
      // position-based model between last-touch (as-of) and linear;
      // bucket-blocked candidate join, oracle runs the unblocked range
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.attribution(ev, "purchase", "view",
        tolUs = 3600000000L)
    },
    "q238_winnowing_containment" -> { (s, dir) =>
      // the MOSS similarity report on the q233 candidates: containment
      // = shared/min(|A|,|B|) over each doc's TOTAL selected
      // fingerprints — the partial-overlap rank whole-doc Jaccard
      // cannot express
      implicit val sp: SparkSession = s
      Dedup.winnowingContainment(t(dir, "documents"), k = 4, w = 4,
        dfCap = 20, minShared = 2)
    },
    "q239_curriculum_mix" -> { (s, dir) =>
      // quality-temperature curriculum: per-source deciles by n_chars,
      // decile d kept at ((d+1)/10)^2 — concentrates on top quality
      // WITHOUT zeroing any decile (temperature beats a hard cutoff)
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.curriculumMix(t(dir, "documents"),
        col("n_chars").cast("double"), alpha = 2.0, salt = "cur1")
    },
    "q240_top_terms_churn" -> { (s, dir) =>
      // trending-term turnover per hour: jaccard churn between
      // consecutive windows' exact top-3 event-type sets — epoch-shift
      // equi-join, no lag window, no single-partition sort
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.topTermsChurn(ev, "event_time",
        col("event_type"), "1 hour", k = 3, capacity = 64)
    },
    "q241_stream_mixed_lang" -> { (s, dir) =>
      // the q234 detector in its ROW-LOCAL form: chunk votes computed
      // entirely inside the row (HOFs — no explode, no doc-keyed agg,
      // no state) — the live screen AND the wide-row batch scale shape;
      // gated on the SAME oracle as q234
      implicit val sp: SparkSession = s
      graft.streaming.StreamingHist.mixedLangStream(
        t(dir, "documents"), window = 16)
    },
    "q242_truncated_recall" -> { (s, dir) =>
      // adaptive retrieval for matryoshka-style embeddings: shortlist
      // scans the first 32 of 64 dims (half the bandwidth), exact
      // full-dim rerank on the |Q|x100 shortlist; recall contract vs
      // full exact L2 (measured 0.87/0.97/0.8/1.0, floor 0.4)
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      val qset = emb.filter(col("vec_id") < 10)
      graft.pipeline.Contracts.annRecallContract(
        Similarity.truncatedSearch(emb, qset, 3, dPrefix = 32, rerank = 100),
        Similarity.bruteForceL2TopK(emb, qset, 3), bound = 0.4)
    },
    "q243_windowed_profile" -> { (s, dir) =>
      // Deequ-style data-quality drift monitor: per hourly window and
      // column, exact row/NULL/distinct counts — catches "ingest broke
      // at 14:00" failures the global q133 profile averages away
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Curation.profileWindowed(ev,
        "event_time", "1 hour", Seq("user_id", "event_type", "value"))
    },
    "q244_retention_halflife" -> { (s, dir) =>
      // exponential half-life of each cohort's retention curve: OLS of
      // quantized ln(rate) on offset over the q138 triangle — the
      // scalar form of "how fast does this cohort decay?"
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.retentionHalfLife(ev)
    },
    "q245_skipgram_counts" -> { (s, dir) =>
      // word2vec/GloVe prep: ordered co-occurrence pairs within a ±3
      // token span (q203 sees only ADJACENT bigrams), global top-20
      // as TakeOrdered — never a single-partition rank window
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.skipgramCounts(
        t(dir, "documents"), window = 3, k = 20)
    },
    "q246_embed_covariance" -> { (s, dir) =>
      // the PCA/whitening input of a SemDeDup-style pipeline: exact
      // upper-triangle covariance, in-row pair terms, corpus never
      // shuffled (the only exchange is d²-bounded)
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.embedCovariance(t(dir, "embeddings"))
    },
    "q247_stream_profile" -> { (s, dir) =>
      // the q243 data-quality monitor in its LIVE form: batch execution
      // of the streaming operator (identical rows by delegation); the
      // streaming plan chains two stateful aggs — StreamingSpec pins
      // streaming == batch on closed windows
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.streamingProfile(ev,
        "event_time", "1 hour", Seq("user_id", "event_type", "value"))
    },
    "q248_pca_power" -> { (s, dir) =>
      // the PCA step itself: top principal component by quantized power
      // iteration over the q246 covariance — corpus work is the one
      // never-shuffled covariance pass; the d×d eigen math is
      // driver-bounded (the kmeans-Lloyd precedent)
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.pcaPower(t(dir, "embeddings"), iters = 12)
    },
    "q249_pca_project" -> { (s, dir) =>
      // the 1-D shadow stratified semantic dedup consumes: per-vector
      // score along the q248 component — a map-only codegen'd pass,
      // the component baked in as a literal
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.pcaProject(t(dir, "embeddings"), iters = 12)
    },
    "q250_profile_sketch" -> { (s, dir) =>
      // q243's sketch-distinct scale path: HLL++ registers instead of
      // per-window distinct-value state, accuracy pinned as a contract
      // verdict beside the exact count (q172 convention). Unlike
      // q172/q181's handful of groups, this gate has ~720 window rows
      // per column — a 3-sigma per-row bound WILL fail somewhere, so
      // the contract runs at 7.5 sigma (rsd 0.02, bound 0.15)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Curation.profileWindowedSketch(ev,
        "event_time", "1 hour", Seq("user_id", "event_type", "value"),
        rsd = 0.02, bound = 0.15)
    },
    "q251_mutual_info" -> { (s, dir) =>
      // the split/label leakage audit in one number: MI(lang; source)
      // with both marginal entropies — q208's per-pair lift summarized
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.mutualInfo(t(dir, "documents"), "lang", "source")
    },
    "q252_source_overlap" -> { (s, dir) =>
      // mirror detection: source-pair Jaccard of distinct-content sets
      // — q135 says how dirty each source is, this says WHERE the dirt
      // comes from; per-hash self-join bounded by |sources|²
      implicit val sp: SparkSession = s
      graft.pipeline.Dedup.sourceOverlap(t(dir, "documents"))
    },
    "q253_neg_sampling" -> { (s, dir) =>
      // the other half of word2vec prep beside q245: unigram^0.75
      // negative-sampling distribution, quantized pow, broadcast
      // normalizer
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.negSamplingTable(
        t(dir, "documents"), alpha = 0.75)
    },
    "q254_cvm_drift" -> { (s, dir) =>
      // the drift quartet's integrated-gap head (PSI/EMD/KS + CvM):
      // Σ(CDFa−CDFb)² — many moderate gaps that never trip KS's max;
      // same dense-grid decimal-exact plumbing as q211
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.cvm(
        Histogram.histogram(ev.filter(col("event_type") === "view"),
          col("value"), axValue),
        Histogram.histogram(ev.filter(col("event_type") === "click"),
          col("value"), axValue),
        axValue)
    },
    "q255_stream_cvm" -> { (s, dir) =>
      // the q254 integrated-gap head in its LIVE per-window form; batch
      // execution == cvmFrom over the windowed histogram (streaming
      // chains two stateful aggs, StreamingSpec pins bit-exact parity)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val ref = Histogram.histogram(ev, col("value"), axValue)
      graft.streaming.StreamingHist.windowedCvm(
        ev, "event_time", col("value"), axValue, "1 hour", ref)
    },
    "q256_stream_gini" -> { (s, dir) =>
      // the live diversity-collapse alarm beside q209: per hourly
      // window, Gini of the event-type mix; batch = the q209 formula
      // per window (streaming folds sorted cells with exact longs)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedGini(
        ev, "event_time", "event_type", "1 hour")
    },
    "q257_lexical_richness" -> { (s, dir) =>
      // corpus-linguistics QA: type-token ratio + hapax rate per source
      // (machine-generated text reads low-TTR; word-salad reads
      // high-hapax)
      implicit val sp: SparkSession = s
      graft.pipeline.TextAnalysis.lexicalRichness(t(dir, "documents"))
    },
    "q258_rolling_retention" -> { (s, dir) =>
      // the OTHER retention definition: active at offset t OR LATER —
      // churn's survival function, monotone by construction
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.rollingRetention(ev)
    },
    "q259_pca_deflate" -> { (s, dir) =>
      // the q248 eigen step continued one rank down by deflation: the
      // 2-D shadow embedding-cloud grids want; same quantized-iteration
      // bit-exact contract, corpus work still one covariance pass
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.pcaDeflate(t(dir, "embeddings"), iters = 12)
    },
    "q260_pca_project2d" -> { (s, dir) =>
      // the 2-D embedding-cloud map itself: coordinates in the q259
      // plane — two codegen'd literal-component dots, map-only
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.pcaProject2d(t(dir, "embeddings"), iters = 12)
    },
    "q318_pca_whiten" -> { (s, dir) =>
      // PCA + whitening (the retrieval/PQ preprocessing stage): the
      // q260 projections scaled to unit variance by 1/sqrt(lambda_c) —
      // one map-only corpus scan, both components as in-row literals
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.pcaWhiten(t(dir, "embeddings"), iters = 12)
    },
    "q261_session_perplexity" -> { (s, dir) =>
      // behavioral anomaly: each user's event sequence scored under the
      // corpus-trained first-order Markov model — a bot replaying an
      // impossible ORDER of common events scores low only here
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.sessionPerplexity(ev)
    },
    "q262_quantile_calibrate" -> { (s, dir) =>
      // equipercentile calibration: every doc keeps its within-source
      // percentile but is assigned the GLOBAL score at that percentile
      // — one common scale across per-source scorers
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.quantileCalibrate(t(dir, "documents"), "n_chars")
    },
    "q263_profile2d" -> { (s, dir) =>
      // TProfile2D / Mean storage on two axes: per (quantity, tax) cell,
      // count + mean/std of extendedprice — the heat-map whose cell is a
      // response mean, not a count
      implicit val sp: SparkSession = s
      Histogram.profile2d(t(dir, "lineitem"), col("l_quantity"), axQty10,
        col("l_tax"), axTax, col("l_extendedprice"))
    },
    "q264_remove_top_component" -> { (s, dir) =>
      // "all-but-the-top" (Mu & Viswanath 2018): strip each vector's
      // projection onto the dominant (frequency-noise) direction —
      // map-only, component baked in as a literal
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.removeTopComponent(
        t(dir, "embeddings"), iters = 12)
    },
    "q265_attribution_decay" -> { (s, dir) =>
      // time-decay attribution (third standard model beside last-touch
      // and q237's U-shape): weight 2^(-dt/30min), normalized per
      // conversion; quantized pow, exact long normalizer
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.attributionTimeDecay(ev, "purchase", "view",
        tolUs = 3600000000L, halfLifeUs = 1800000000L)
    },
    "q266_seasonality" -> { (s, dir) =>
      // the (dow × hour) traffic matrix every capacity plan / anomaly
      // baseline starts from; pure integer microsecond arithmetic
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.seasonality(ev)
    },
    "q267_seasonal_anomaly" -> { (s, dir) =>
      // "traffic is low FOR A TUESDAY 2PM": each hourly window z-scored
      // against its (dow, hour) seasonal cell — q144's alarm with
      // q266's baseline
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.seasonalAnomaly(ev)
    },
    "q268_welch_t" -> { (s, dir) =>
      // the drift family's mean-level significance head: did the MEAN
      // move more than sampling noise explains (unequal variances)?
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.welchT(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"), "value")
    },
    "q269_mean_shift_scan" -> { (s, dir) =>
      // the q268 test per event type between the observation span's
      // two time halves — "which types' value level shifted
      // significantly mid-period?"; one conditional-aggregate pass
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      HistStats.meanShiftScan(ev, "event_time", "event_type", "value")
    },
    "q270_cusum" -> { (s, dir) =>
      // the SEQUENTIAL drift head: two-sided CUSUM over hourly counts
      // (accumulates slow leaks the memoryless per-window alarms miss);
      // prefix-identity form — window functions, not a loop
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.cusum(ev, k = 5.0, h = 50.0)
    },
    "q271_stream_cusum" -> { (s, dir) =>
      // the live CUSUM chart against a TRAINED baseline: batch = the
      // q270 prefix identity with mu as a literal; the streaming
      // recursion carries two longs across micro-batches
      // (StreamingSpec pins bit-exact parity on closed hours)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.cusumFrom(ev, mu = 100.0, k = 5.0, h = 50.0)
    },
    "q272_skyline" -> { (s, dir) =>
      // the Skyline operator (Börzsönyi et al.): rows unbeaten on BOTH
      // price and discount — distributed staircase (partition-offset
      // running max), never O(n²), never a corpus-scale window
      implicit val sp: SparkSession = s
      graft.pipeline.Skyline.skyline2d(
          t(dir, "lineitem"), "l_extendedprice", "l_discount")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("double").as("price"),
          col("l_discount").cast("double").as("discount"))
    },
    "q273_blocking_report" -> { (s, dir) =>
      // the entity-resolution pre-flight: is the LSH banding pruning,
      // or is one hot bucket about to do m² work? — the pair join
      // itself never runs
      implicit val sp: SparkSession = s
      graft.pipeline.Dedup.blockingReport(t(dir, "documents"))
    },
    "q274_hist_smooth" -> { (s, dir) =>
      // binned KDE with a ±2 triangular INTEGER kernel: exact numerator
      // + truncated edge mass (no boundary dent) — pure long arithmetic
      implicit val sp: SparkSession = s
      val h = Histogram.histogram(t(dir, "events"), col("value"), axValue)
      HistStats.smooth(h, axValue, w = 2)
    },
    "q275_hist_peaks" -> { (s, dir) =>
      // "is the distribution bimodal?" as a query: dense-grid local
      // maxima, left-biased plateau rule, integer comparisons only
      implicit val sp: SparkSession = s
      val h = Histogram.histogram(t(dir, "events"), col("value"), axValue)
      HistStats.peaks(h, axValue)
    },
    "q276_ab_test" -> { (s, dir) =>
      // the experiment readout: pooled two-proportion z on user-level
      // conversion (arm = user parity, conversion = ever purchased)
      implicit val sp: SparkSession = s
      graft.pipeline.Funnel.abTest(t(dir, "events"),
        col("user_id") % 2 === 1, "purchase")
    },
    "q277_ab_trajectory" -> { (s, dir) =>
      // the peeking diagnostic: what the q276 readout would have said
      // at every hour — cumulative arms + pooled z per observed hour
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.abTrajectory(ev,
        col("user_id") % 2 === 1, "purchase")
    },
    "q278_pagerank" -> { (s, dir) =>
      // damped PageRank on the event-type transition graph — the q165
      // matrix's stationary view; |types|²-bounded, driver iteration
      // (kmeans/pcaPower precedent), q248 quantized bit-exact contract
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.pagerank(ev, damping = 0.85, iters = 20)
    },
    "q279_lorenz" -> { (s, dir) =>
      // the curve behind q209's Gini: "the bottom 80% of sources hold
      // x% of the corpus" — exact cumulative longs over source ranks
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.lorenzCurve(t(dir, "documents"))
    },
    "q280_hellinger" -> { (s, dir) =>
      // the drift family's bounded symmetric metric: BC = Σ√(p·q),
      // H = √(1−BC) — a true [0,1] distance, no epsilon floor (an
      // empty-on-one-side bin contributes exactly 0, not a clamped ln)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.hellinger(
        Histogram.histogram(ev.filter(col("event_type") === "view"),
          col("value"), axValue),
        Histogram.histogram(ev.filter(col("event_type") === "click"),
          col("value"), axValue),
        axValue)
    },
    "q281_rfm" -> { (s, dir) =>
      // the classic churn/LTV feature row: recency (vs the corpus' last
      // day), frequency (active days + events), monetary (exact sum)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.rfm(ev)
    },
    "q282_stream_hellinger" -> { (s, dir) =>
      // the bounded drift metric in its LIVE per-window form; batch ==
      // hellinger per window vs the whole-corpus reference (streaming
      // chains two stateful aggs, StreamingSpec pins bit-exact parity)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val ref = Histogram.histogram(ev, col("value"), axValue)
      graft.streaming.StreamingHist.windowedHellinger(
        ev, "event_time", col("value"), axValue, "1 hour", ref)
    },
    "q326_stream_js" -> { (s, dir) =>
      // JS divergence in its LIVE per-window form — the last drift
      // member windowed (symmetric, finite on empty bins, ln2-bounded);
      // batch == jsDivergence per window vs the whole-corpus reference
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      val ref = Histogram.histogram(ev, col("value"), axValue)
      graft.streaming.StreamingHist.windowedJs(
        ev, "event_time", col("value"), axValue, "1 hour", ref)
    },
    "q283_es_sample" -> { (s, dir) =>
      // Efraimidis-Spirakis: EXACTLY 200 docs without replacement,
      // long-doc-weighted — the exact-k complement of q184's Poisson
      // PPS; top-k as TakeOrdered
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.sampleWeightedExactK(t(dir, "documents"),
        200, regexp_count(col("text"), lit("\\S+")).cast("long"), "es")
    },
    "q284_hist_subtract" -> { (s, dir) =>
      // boost h1 -= h2, the UHI algebra's other half beside q68: the
      // snapshot DELTA (negative counts representable)
      implicit val sp: SparkSession = s
      val li = t(dir, "lineitem")
      val hAll = Histogram.histogram(li, col("l_quantity"), axQty)
      val hO = Histogram.histogram(li.filter(col("l_linestatus") === "O"),
        col("l_quantity"), axQty)
      HistStats.subtract(hAll, hO, axQty, Nil)
    },
    "q285_bootstrap_ci" -> { (s, dir) =>
      // Poisson bootstrap: the one-pass CI for a corpus mean at any
      // scale (classical resampling re-reads the corpus per replica);
      // 32 deterministic hash-weight replicas, ±2σ interval
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.bootstrapCi(t(dir, "documents"),
        col("n_chars"), b = 32, salt = "bs")
    },
    "q286_covariance_agg" -> { (s, dir) =>
      // q246's dense-buffer scale path: CovVectorAgg carries one
      // Array[Long] of exact moments per task — zero row fan-out (the
      // declarative path explodes 2080 pair rows per vector); output
      // BIT-identical, gated on the SAME oracle
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.embedCovarianceAgg(t(dir, "embeddings"))
    },
    "q287_media_qa" -> { (s, dir) =>
      // the asset-QA dashboard over the real container decode: per
      // (media_type, format) decode rate, bytes, decoded-only dims
      implicit val sp: SparkSession = s
      Multimodal.qaReport(t(dir, "documents"))
    },
    "q339_daily_acf1" -> { (s, dir) =>
      // do daily anomalies PERSIST? lag-1 autocorrelation of the daily
      // mean (near +1 drift, 0 noise, negative mean-reversion)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      HistStats.dailyAcf1(ev, "event_time", "value")
    },
    "q338_theil_sen_by_key" -> { (s, dir) =>
      // WHICH metric is trending: the q333 robust slope per event type
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      HistStats.theilSenByKey(ev, "event_time", "event_type", "value")
    },
    "q337_dsir_ess" -> { (s, dir) =>
      // the health check importance resampling requires before use:
      // ESS = (sum w)^2 / sum w^2 of the q220 weights (Kong 1992) -
      // ESS << n means a few outlier docs would dominate the resample
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.dsirEss(t(dir, "documents"),
        col("source").isin("src0", "src1", "src2"), buckets = 1024)
    },
    "q336_spearman" -> { (s, dir) =>
      // rank agreement between quantity and extended price: midrank
      // Spearman via the AUC prefix-sum machinery, no rank windows
      implicit val sp: SparkSession = s
      graft.pipeline.RankStats.spearman(t(dir, "lineitem"),
        "l_quantity", "l_extendedprice")
    },
    "q335_brier_decomposition" -> { (s, dir) =>
      // Murphy's accounting identity for the q290 calibration setup:
      // Brier ~ reliability - resolution + uncertainty over the binned
      // value/512 score predicting purchase
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("score", col("value") / lit(512.0))
      graft.pipeline.RankStats.brierDecomposition(ev, "score",
        col("event_type") === "purchase")
    },
    "q334_top_terms_rbo" -> { (s, dir) =>
      // rank-aware trending-term stability: truncated RBO between
      // consecutive hourly top-3 RANKINGS (churn treats top-k as a set;
      // RBO weights depth d by p^(d-1)/d so #1 instability dominates)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.Funnel.topTermsRbo(ev, "event_time",
        col("event_type"), "1 hour", k = 3, capacity = 64, p = 0.9)
    },
    "q333_theil_sen" -> { (s, dir) =>
      // robust daily trend: median of pairwise day-mean slopes (29%
      // breakdown point - one corrupted day can't fake or mask a trend)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      HistStats.theilSen(ev, "event_time", "value")
    },
    "q332_hist_cube" -> { (s, dir) =>
      // the q05 histogram at EVERY dim granularity in ONE pass: native
      // grouping sets (one Expand + one hash agg with map-side
      // partials, not 2^d scans); gid disambiguates cube NULLs
      implicit val sp: SparkSession = s
      graft.operators.Histogram.histogramCube(t(dir, "lineitem"),
        col("l_quantity"), axQty10, Seq("l_returnflag", "l_linestatus"))
    },
    "q331_zorder_qcells" -> { (s, dir) =>
      // BALANCED Z-order: equal-frequency cells from the q59 exact
      // quantile edges (autoAxisTagged - the size switch picks GK
      // sketch edges past the row threshold) + the q321 Morton key -
      // every z-cell holds ~n/64 rows, so the range-partitioned layout
      // gets balanced files on skewed marginals
      implicit val sp: SparkSession = s
      graft.sources.Layout.zorderQCells(t(dir, "lineitem"),
        "l_quantity", "l_extendedprice", 8)
    },
    "q330_stream_neardup" -> { (s, dir) =>
      // live fuzzy decontamination: arriving docs near-dup-matched
      // against a static benchmark slice (batch == crossNearDup, the
      // q95 semantics; streaming is one stream-static band join with
      // in-row signatures + gram verify, StreamingSpec pins parity)
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      graft.pipeline.Dedup.nearDupStream(docs,
        docs.filter(col("doc_id") < 50))
    },
    "q329_center_embeddings" -> { (s, dir) =>
      // mean-centering of the embedding cloud: the sign-LSH family's
      // assumed preprocessing and stage 1 of the Mu & Viswanath chain
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.centerEmbeddings(t(dir, "embeddings"))
    },
    "q328_auc_ci" -> { (s, dir) =>
      // the q288 AUC with its Hanley-McNeil standard error and 95%
      // interval - the error bar every AUC report should carry
      implicit val sp: SparkSession = s
      graft.pipeline.RankStats.aucCi(t(dir, "events"), "value",
        col("event_type") === "purchase")
    },
    "q288_auc" -> { (s, dir) =>
      // ML-eval head: does `value` rank purchases above everything
      // else? midrank ROC AUC via the exact integer 2U identity over
      // the distinct-score relation + distributed prefix sums
      implicit val sp: SparkSession = s
      graft.pipeline.RankStats.auc(t(dir, "events"), "value",
        col("event_type") === "purchase")
    },
    "q289_mann_whitney" -> { (s, dir) =>
      // the nonparametric two-sample test beside Welch's t (q268):
      // rank-sum U + tie-corrected normal z, same prefix-sum machinery
      implicit val sp: SparkSession = s
      graft.pipeline.RankStats.mannWhitney(t(dir, "events"), "value",
        col("event_type") === "purchase")
    },
    "q290_reliability" -> { (s, dir) =>
      // score-calibration reliability diagram + ECE over the clamped
      // value/512 score predicting purchase
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("score", col("value") / lit(512.0))
      graft.pipeline.RankStats.reliability(ev, "score",
        col("event_type") === "purchase")
    },
    "q291_km_survival" -> { (s, dir) =>
      // churn done right: Kaplan-Meier over per-user lifetimes with
      // end-of-window censoring; survival = pinned-order product
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.RankStats.kmSurvival(ev)
    },
    "q292_js_drift" -> { (s, dir) =>
      // the drift family's information-theoretic head: symmetric,
      // finite on empty bins, bounded by ln 2 - thresholds transfer
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.jsDivergence(
        Histogram.histogram(ev.filter(col("event_type") === "view"),
          col("value"), axValue),
        Histogram.histogram(ev.filter(col("event_type") === "click"),
          col("value"), axValue),
        axValue)
    },
    "q293_heaps_fit" -> { (s, dir) =>
      // is the vocabulary still growing like natural text? OLS of
      // ln(cum_types) on ln(cum_tokens) over the q166 growth curve
      implicit val sp: SparkSession = s
      TextAnalysis.heapsFit(t(dir, "documents"), bucketSize = 100L)
    },
    "q294_cms_contract" -> { (s, dir) =>
      // count-min sketch at a REAL squeeze (width 8 << vocabulary):
      // never-underestimate + epsilon-overshoot census, oracle-rebuilt
      implicit val sp: SparkSession = s
      graft.pipeline.Contracts.cmsContract(t(dir, "documents"),
        width = 8, depth = 4)
    },
    "q295_dup_triangles" -> { (s, dir) =>
      // dedup-graph QA: is near-duplication clique-like (safe to keep
      // one per component) or chain-like (components over-merge)?
      implicit val sp: SparkSession = s
      Dedup.dupGraphStats(t(dir, "documents"))
    },
    "q296_stream_ece" -> { (s, dir) =>
      // the q290 calibration scalar in its LIVE per-window form; batch
      // == streaming bit-exactly (same two aggs, StreamingSpec-pinned)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedEce(ev, "event_time",
        col("value") / lit(512.0), col("event_type") === "purchase",
        "1 hour")
    },
    "q297_grid_density" -> { (s, dir) =>
      // density clustering over an embedding-space slice: dense grid
      // cells connect into arbitrarily-shaped clusters, sparse = noise
      implicit val sp: SparkSession = s
      Similarity.gridDensityClusters(t(dir, "embeddings"),
        dimX = 1, dimY = 2, n = 16, minCount = 5L)
    },
    "q298_hist_regrid" -> { (s, dir) =>
      // flux-conserving rebin onto ARBITRARY irregular edges: counts
      // split proportionally by overlap, mass conserved where covered
      implicit val sp: SparkSession = s
      HistStats.regrid(
        Histogram.histogram(t(dir, "lineitem"), col("l_quantity"), axQty),
        axQty, Seq(0.0, 7.5, 20.0, 35.0, 51.0))
    },
    "q299_ndcg_ann" -> { (s, dir) =>
      // rank-AWARE ANN QA beside the recall contracts: where do the
      // true neighbors land in the approximate ranking?
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      Similarity.ndcgAnn(emb, emb.filter(col("vec_id") < 10), k = 5)
    },
    "q300_classifier_eval" -> { (s, dir) =>
      // the committed-threshold readout: confusion matrix + P/R/F1 for
      // "value >= 256 predicts purchase" (q288's AUC is threshold-free)
      implicit val sp: SparkSession = s
      graft.pipeline.RankStats.classifierEval(t(dir, "events"), "value",
        col("event_type") === "purchase", threshold = 256.0)
    },
    "q301_benford" -> { (s, dir) =>
      // fabrication/pipeline-bug tripwire: leading-digit distribution
      // of value vs Benford expectation, chi-square alongside
      implicit val sp: SparkSession = s
      graft.pipeline.RankStats.benfordAudit(t(dir, "events"), "value")
    },
    "q302_knn_classify" -> { (s, dir) =>
      // leave-one-out kNN label prediction: does the neighborhood
      // predict the label? (the local complement of q156's purity)
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      Similarity.knnClassify(emb, emb.filter(col("vec_id") < 10), k = 5)
    },
    "q303_ab_power" -> { (s, dir) =>
      // could the q276 test even have SEEN the effect? observed-arm
      // MDE at alpha=.05/power=.8 + required n for the observed delta
      implicit val sp: SparkSession = s
      graft.pipeline.RankStats.abPower(t(dir, "events"),
        col("user_id") % 2 === 1, "purchase")
    },
    "q304_daily_auc" -> { (s, dir) =>
      // the model-quality TREND: per-day AUC of value -> purchase
      // (cumsum window partitioned by day — distributed across days)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.RankStats.aucByGroup(ev,
        expr("unix_micros(event_time) div 86400000000"), "day",
        "value", col("event_type") === "purchase")
    },
    "q305_km_summary" -> { (s, dir) =>
      // the dashboard scalars off the q291 curve: median lifetime
      // (NULL under heavy censoring) + restricted mean survival time
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.pipeline.RankStats.kmSummary(ev)
    },
    "q306_best_threshold" -> { (s, dir) =>
      // the threshold SWEEP q300 reads one point of: F1-argmax
      // operating point over every observed score, one prefix-sum pass
      implicit val sp: SparkSession = s
      graft.pipeline.RankStats.bestThreshold(t(dir, "events"), "value",
        col("event_type") === "purchase")
    },
    "q307_hist_convolve" -> { (s, dir) =>
      // distribution of X+Y from the two marginals alone — histogram
      // algebra, never row-level pairs (the bins x bins join)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
      HistStats.convolve(
        Histogram.histogram(ev.filter(col("event_type") === "view"),
          col("value"), axValue),
        Histogram.histogram(ev.filter(col("event_type") === "click"),
          col("value"), axValue),
        axValue, axValue)
    },
    "q308_stream_benford" -> { (s, dir) =>
      // the q301 fabrication tripwire in its LIVE per-window form;
      // batch == streaming by construction (same two aggregations)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedBenford(ev, "event_time",
        "value", "1 hour")
    },
    "q309_pr_curve" -> { (s, dir) =>
      // the 11-point interpolated PR curve + average precision (VOC
      // convention): eleven conditional maxes over the q306 sweep
      implicit val sp: SparkSession = s
      graft.pipeline.RankStats.prCurve(t(dir, "events"), "value",
        col("event_type") === "purchase")
    },
    "q310_logistic_fit" -> { (s, dir) =>
      // TRAINS the calibrated P(purchase|value) in-engine: 8 unrolled
      // gradient rounds over the distinct-feature relation, oracle
      // replays every round bit-exactly (the q248 precedent)
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("x", col("value") / lit(512.0))
      graft.pipeline.RankStats.logisticFit(ev, "x",
        col("event_type") === "purchase")
    },
    "q311_stream_auc" -> { (s, dir) =>
      // the q304 ranking-power trend LIVE: per-window midrank AUC of
      // the 64-binned score; batch == streaming by construction
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedAuc(ev, "event_time",
        col("value") / lit(512.0), col("event_type") === "purchase",
        "1 hour")
    },
    "q312_calibrated_eval" -> { (s, dir) =>
      // the closed loop: q310's fit applied to every row, then the
      // q290 reliability of the CALIBRATED probabilities, one gate
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("x", col("value") / lit(512.0))
      graft.pipeline.RankStats.calibratedEval(ev, "x",
        col("event_type") === "purchase")
    },
    "q313_hist2d_qbins_sketch" -> { (s, dir) =>
      // the q170 grid on the 100 TB quantile lever: BOTH axes' edges
      // from the GK sketch (ONE aggregation pass per axis, no global
      // sort) gated in its provably-exact regime (q140 rule per axis:
      // at relativeError = 0 edge j is EXACTLY the value at 1-based
      // rank ceil(j/nBins * n))
      implicit val sp: SparkSession = s
      val li = t(dir, "lineitem")
      def sk(c: String) = graft.operators.QuantileBins.sketchAxis(
        li.select(col(c).cast("double").as("v")).filter(col("v").isNotNull),
        "v", c, 6, relativeError = 0.0)
      Histogram.histogramdd(li,
        Seq(col("l_quantity") -> sk("l_quantity"),
          col("l_extendedprice") -> sk("l_extendedprice")))
    },
    "q314_repeated_spans" -> { (s, dir) =>
      // exact-substring dedup (Lee et al. 2022): every MAXIMAL token
      // range inside any verbatim-repeated span of >= 8 tokens anywhere
      // in the corpus — the variable-length completion of q86's fixed
      // windows; sliding repeated-L-gram coverage merged per doc
      implicit val sp: SparkSession = s
      graft.pipeline.Dedup.repeatedSpans(t(dir, "documents"), 8)
    },
    "q315_knn_graph_recall" -> { (s, dir) =>
      // NN-Descent k-NN GRAPH (all-nodes ANN) recall contract vs exact
      // top-3 for the fixed query ids, at the AUTO rounds default
      // (budget max(4, ceil(log2 n / 4)) + <1% edge-churn early stop —
      // the scale-safe default q340 pins at 200k vectors): measured
      // 0.93/0.70/1.0 at sf0.01/sf0.3/sf1 and 0.23 on the organic
      // sf0.1 — the gapless uniform corpus is the algorithm's
      // published worst case (its clustered regime is pinned at recall
      // 1.0 in PipelineSpec) — bound 0.15 holds at every scale with
      // margin (q164 discipline)
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      graft.pipeline.Contracts.annRecallContract(
        Similarity.knnGraph(emb, 10)
          .filter(col("query_id") < 10),
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 3),
        bound = 0.15)
    },
    "q316_repeated_span_removal" -> { (s, dir) =>
      // the APPLY side of q314 — Lee et al. 2022's removal itself:
      // covered tokens dropped, per-doc kept-token md5 gates the whole
      // cleaned text (the q86 kept-hash convention); every doc appears
      implicit val sp: SparkSession = s
      graft.pipeline.Dedup.removeRepeatedSpans(t(dir, "documents"), 8)
    },
    "q317_graph_ann_search" -> { (s, dir) =>
      // the QUERY side of the q315 NN-Descent graph — synchronous beam
      // search (HNSW/NSG-style, level-synchronous batch form): LSH +
      // bucket-head + global entry seeds, graph-edge expansion rounds,
      // bounded-heap beam; recall contract vs exact top-3 over the
      // fixed query ids (q315 discipline; same 0.15 floor — measured
      // 1.0/0.967/0.467 at sf0.001/0.01/0.1; the clustered regime is
      // pinned at recall 1.0 rank-for-rank in PipelineSpec); the graph
      // build rides the AUTO rounds default, shared (memoized) with
      // q315/q327
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      graft.pipeline.Contracts.annRecallContract(
        Similarity.graphSearch(emb, queries, 3,
          Similarity.knnGraph(emb, 10), rounds = 2, beam = 8),
        Similarity.bruteForceTopK(emb, queries, 3),
        bound = 0.15)
    },
    "q319_cartography" -> { (s, dir) =>
      // dataset cartography (Swayamdipta et al. 2020): per-example
      // confidence/variability/correctness over the score trajectory +
      // easy/ambiguous/hard region map — one map-combinable aggregate;
      // thresholds sit at the corpus's per-user medians so all three
      // regions populate
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.cartography(t(dir, "events"),
        "user_id", "value", thr = 50.0, cHi = 49.0, vLo = 47.0)
    },
    "q320_excess_loss_select" -> { (s, dir) =>
      // RHO-loss-style learnability gate: excess = bigram minus unigram
      // per-token log-prob (context gain over the irreducible-loss
      // proxy), top 60% per source kept by the exact-rank discipline
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.excessLossSelect(t(dir, "documents"),
        minPctl = 0.4)
    },
    "q327_graph_diversify_search" -> { (s, dir) =>
      // the full Vamana-style stack: NN-Descent build -> RobustPrune
      // diversify (r=6 from k=10: 40% fewer edges) -> beam search;
      // recall contract vs exact top-3 — measured 1.0/0.967/0.467 at
      // sf0.001/0.01/0.1, IDENTICAL to the unpruned q317 graph (the
      // pruning's selling point), floor 0.15; AUTO-rounds build shared
      // (memoized) with q315/q317
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val g = Similarity.knnGraph(emb, 10)
      graft.pipeline.Contracts.annRecallContract(
        Similarity.graphSearch(emb, queries, 3,
          Similarity.diversifyGraph(emb, g, r = 6, alpha = 1.2),
          rounds = 2, beam = 8),
        Similarity.bruteForceTopK(emb, queries, 3),
        bound = 0.15)
    },
    "q325_jl_search_recall" -> { (s, dir) =>
      // two-stage ANN through the JL sketch (shortlist in 32-dim
      // reduced space + exact full-dim rerank, the q222 rerank
      // discipline): recall contract vs exact top-3, floor 0.15 —
      // measured 0.833/0.833/0.600 at sf0.001/0.01/0.1
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      graft.pipeline.Contracts.annRecallContract(
        Similarity.jlSearchTopK(emb, queries, 3, dims = 32, shortlist = 100),
        Similarity.bruteForceTopK(emb, queries, 3),
        bound = 0.15)
    },
    "q324_doremi_weights" -> { (s, dir) =>
      // one DoReMi/Group-DRO exponentiated-gradient step: domain
      // weights ∝ exp(eta · mean excess loss per source)
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.doremiWeights(t(dir, "documents"), eta = 1.0)
    },
    "q323_jl_project" -> { (s, dir) =>
      // Johnson-Lindenstrauss +-1 projection to 16 dims: the
      // no-training-pass reduction (pure map-side; deterministic
      // md5-parity hyperplanes baked in as plan literals)
      implicit val sp: SparkSession = s
      graft.pipeline.Similarity.jlProject(t(dir, "embeddings"), k = 16)
    },
    "q322_stream_novelty" -> { (s, dir) =>
      // per-window FIRST-EVER-SEEN key count (live Heaps growth: new
      // users per hour): batch execution of the streaming operator —
      // exact min-window per key, map-combinable, no window functions
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedNovelty(
        ev, "event_time", "user_id", "1 hour")
    },
    "q321_zorder_cells" -> { (s, dir) =>
      // the Z-order layout key cross-engine: per (cell_q, cell_p) the
      // Morton-interleaved zkey + row count — pins the quantizer AND
      // the bit interleave; the write side (range-partitioned
      // disjointness) is pinned in LayoutSpec
      implicit val sp: SparkSession = s
      val li = t(dir, "lineitem")
        .filter(col("l_quantity").isNotNull && col("l_extendedprice").isNotNull)
      val cq = graft.sources.Layout.cell(col("l_quantity"), 1.0, 51.0, 8)
      val cp = graft.sources.Layout.cell(col("l_extendedprice"), 900.0, 105000.0, 8)
      li.select(cq.as("cell_q"), cp.as("cell_p"),
          graft.sources.Layout.interleave(Seq(cq, cp), 8).as("zkey"))
        .groupBy(col("cell_q"), col("cell_p"), col("zkey"))
        .agg(count(lit(1)).as("cnt"))
    },
    "q340_knn_graph_scale" -> { (s, _) =>
      // the ≥200k-vector SCALE gate for the graph-ANN family's AUTO
      // rounds default (r11 verdict #1): NN-Descent at 200k
      // deterministic clustered vectors (analytic mate truth — exact
      // brute force at this n is quadratic), edge recall vs the n·k
      // true mate edges must clear 0.8 with NO caller-supplied rounds
      // (measured 1.0; the churn stop exits after round 1 on this
      // converged-init regime, and the budget max(4, ceil(log2 n / 4))
      // = 5 is logged). sf-independent by design — the corpus and the
      // verdict are pure functions of (n, dim, clusterSize)
      graft.pipeline.Contracts.graphEdgeRecallContract(
        Similarity.knnGraph(scaleCorpus(s), 4),
        clusterSize = 5, k = 4, nNodes = ScaleN, bound = 0.8)
    },
    "q341_graph_search_scale" -> { (s, _) =>
      // beam search over the (memoized) q340 graph at 200k: per-query
      // mate recall ≥ 0.8 over the 200 fixed probe queries — pins the
      // POSITION-LOCAL chain entry (a position-blind entry measured
      // 0.035 on this corpus: the per-cluster graph components are
      // unreachable from foreign seeds); measured 1.0
      val emb = scaleCorpus(s)
      graft.pipeline.Contracts.searchMateRecallContract(
        Similarity.graphSearch(emb, scaleQueries(emb), 4,
          Similarity.knnGraph(emb, 4), rounds = 2, beam = 8),
        clusterSize = 5, k = 4, nQueries = 200L, bound = 0.8)
    },
    "q342_ann_lsh_scale" -> { (s, _) =>
      // sign-LSH searcher recall floor at 200k (r11 verdict #4: the
      // measured recall curves lived only in SURVEY prose/dev tools):
      // the corpus is MIXED-SIGN (centered) by construction — the
      // regime the LSH family requires (the uncentered degeneracy is
      // the documented graphSearch caveat + the annLsh sign guard);
      // floor 0.9, measured 1.0
      val emb = scaleCorpus(s)
      graft.pipeline.Contracts.searchMateRecallContract(
        Similarity.annLsh(emb, scaleQueries(emb), 4),
        clusterSize = 5, k = 4, nQueries = 200L, bound = 0.9)
    },
    "q343_ann_ivf_scale" -> { (s, _) =>
      // IVF searcher recall floor at 200k, at a REAL cell grid
      // (nCells=64, nprobe=4 — not the exhaustive-probe exact regime
      // q52/q147 gate): floor 0.9, measured 1.0
      val emb = scaleCorpus(s)
      graft.pipeline.Contracts.searchMateRecallContract(
        Similarity.annIvf(emb, scaleQueries(emb), 4,
          nCells = 64, nprobe = 4),
        clusterSize = 5, k = 4, nQueries = 200L, bound = 0.9)
    },
    "q344_jl_search_scale" -> { (s, _) =>
      // JL two-stage searcher recall floor at 200k (64 dims -> 16-dim
      // shortlist of 64 + exact rerank): floor 0.9, measured 1.0
      val emb = scaleCorpus(s)
      graft.pipeline.Contracts.searchMateRecallContract(
        Similarity.jlSearchTopK(emb, scaleQueries(emb), 4,
          dims = 16, shortlist = 64),
        clusterSize = 5, k = 4, nQueries = 200L, bound = 0.9)
    },
    "q345_bucketed_dedup_join" -> { (s, dir) =>
      // Sinks.writeBucketed gated END-TO-END (r11 verdict #2 — the one
      // §2 component with no CORRECTNESS row): documents + their
      // exact-dup keeper verdicts are each written as doc_id-bucketed
      // tables, the downstream verdict join runs OFF THE BUCKETED
      // COPIES (merge-hinted so the small gate tables take the same
      // sort-merge path a 100 TB corpus would), and the per-source
      // rollup is value-gated against the same join over the FLAT
      // parquet in DuckDB. The plan pin rides INSIDE the gate: the
      // zero_exchange column is computed from the join's physical plan
      // (no ShuffleExchange anywhere — both sides' hash requirement is
      // satisfied by the bucketed SCAN), and the oracle says TRUE, so
      // a silently-reintroduced shuffle hash-mismatches the gate.
      implicit val sp: SparkSession = s
      val docs = t(dir, "documents")
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val dTab = s"graft_q345_docs_$sfx"
      val vTab = s"graft_q345_verd_$sfx"
      val nb = 8
      graft.sources.Sinks.writeBucketed(
        docs.select(col("doc_id"), col("source"), col("n_chars")),
        dTab, "doc_id", nb, Seq("doc_id"))
      // verdicts from the production operator (Dedup.exact — hash-
      // partitioned canonical election), not an ad-hoc window: the gate
      // should exercise the same derivation a 100 TB pipeline writes.
      // Keeper semantics identical to the oracle's MIN-per-md5-group
      // (row_number()==1 ordered by the unique doc_id == the min).
      graft.sources.Sinks.writeBucketed(
        graft.pipeline.Dedup.exact(docs)
          .select(col("doc_id"), col("keep").as("keeper")),
        vTab, "doc_id", nb, Seq("doc_id"))
      val joined = s.table(dTab).join(s.table(vTab).hint("merge"), "doc_id")
      val zeroEx = !joined.queryExecution.sparkPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
      joined.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keeper"), 1L).otherwise(0L)).as("n_keepers"),
          sum(when(col("keeper"), col("n_chars")).otherwise(0L)).as("kept_chars"))
        .withColumn("zero_exchange", lit(zeroEx))
    },
    "q346_novelty_bounded" -> { (s, dir) =>
      // BOUNDED-memory novelty (r11 verdict #3 — the one streaming
      // state with no bound and no knob): "first time within horizon"
      // semantics whose streaming state is watermark-EVICTED
      // (dropDuplicatesWithinWatermark) instead of ever-growing; batch
      // contract = per-key lag over the (key, ts)-collapsed relation,
      // novel iff no prior occurrence within 4 hours; q322 (the exact
      // all-time form) is unchanged
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      graft.streaming.StreamingHist.windowedNoveltyBounded(
        ev, "event_time", "user_id", "1 hour", "4 hours")
    },
    "q347_mmr_rerank" -> { (s, dir) =>
      // MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein
      // 1998) — the diversity-aware top-k between ANN candidates and
      // the context window: greedy lam*rel − (1−lam)*max-sim-to-
      // selected over the bounded candidate set, unrolled k−1 in-row
      // fold steps (the diversifyGraph discipline — no per-query
      // driver loop); oracle unrolls the same stages relationally
      implicit val sp: SparkSession = s
      val emb = t(dir, "embeddings")
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 10),
        k = 5, n = 10, lam = 0.7)
    },
    "q348_unimax" -> { (s, dir) =>
      // UniMax budget allocation (Chung et al. 2023): token budget
      // split as uniformly as the per-source epoch cap allows —
      // waterfilling over sources ascending by size, cap predicate in
      // DECIMAL(38,0) (overflows int64 at exactly the 100 TB regime),
      // ONE shared IEEE division for the uncapped share
      implicit val sp: SparkSession = s
      graft.pipeline.Sampling.unimax(t(dir, "documents"),
        budget = 50000L, epochCap = 2)
    },
    "q349_ivfpq_scale" -> { (s, _) =>
      // IVFADC(+rerank) recall floor at 200k — completes the ANN
      // family's scale gates (q342 LSH / q343 IVF / q344 JL): trained
      // coarse quantizer (64 cells, 4 probed) + 4×16 product codes +
      // exact rerank of 16; mate recall ≥ 0.8 (measured 0.9325 — the
      // PQ distortion is the real loss, which is the point of gating)
      val emb = scaleCorpus(s)
      graft.pipeline.Contracts.searchMateRecallContract(
        Similarity.ivfPqSearch(emb, scaleQueries(emb), 4,
          nCells = 64, nprobe = 4, m = 4, codes = 16, rerank = 16),
        clusterSize = 5, k = 4, nQueries = 200L, bound = 0.8)
    },
    "q350_matryoshka_scale" -> { (s, _) =>
      // MATRYOSHKA truncation audit at 200k (Kusupati et al. 2022):
      // recall of prefix-truncated search (8/16/32 of 64 dims) vs the
      // full-dim exact top-4 — the "how small can I store?" curve,
      // gated as per-dims floors (measured 0.99/1.0/1.0)
      val emb = scaleCorpus(s)
      val q = scaleQueries(emb)
      Similarity.matryoshkaRecall(emb, q, 4, Seq(8, 16, 32))
        .select(col("dims"), col("n_queries"),
          (col("n_queries") === 200L && col("recall") >=
            when(col("dims") === 8, 0.9).otherwise(0.95)).as("recall_ok"))
    },
    "q351_isotonic_calibrate" -> { (s, dir) =>
      // ISOTONIC calibration (Zadrozny & Elkan 2002) of the q290
      // score: the monotone fit of the per-bin purchase rate via the
      // MINIMAX identity — pure relational algebra on the collapsed
      // <= nBins relation, no sequential PAV loop in the plan
      implicit val sp: SparkSession = s
      val ev = t(dir, "events")
        .withColumn("score", col("value") / lit(512.0))
      graft.pipeline.RankStats.isotonicCalibrate(ev, "score",
        col("event_type") === "purchase", nBins = 50)
    },
    "q352_mrr_scale" -> { (s, _) =>
      // MEAN RECIPROCAL RANK floor at 200k — the rank-position
      // complement of q342's recall floor (mates at ranks 2..k keep
      // recall 1.0 but halve MRR): exact-rational lcm(1..k)/rank
      // numerators, ONE IEEE division; floor 0.9 (measured 1.0)
      val emb = scaleCorpus(s)
      graft.pipeline.Contracts.searchMateMrrContract(
        Similarity.annLsh(emb, scaleQueries(emb), 4),
        clusterSize = 5, k = 4, nQueries = 200L, bound = 0.9)
    },
    "q353_chi2_independence" -> { (s, dir) =>
      // chi-squared independence + Cramér's V over (source, lang) —
      // the significance companion to q251's mutual information;
      // dense grid from the marginals (absent cells contribute e),
      // DECIMAL(38,0)-exact marginal products, cell-ordered fold
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.chi2Independence(
        t(dir, "documents"), "source", "lang")
    },
    "q354_conformal_threshold" -> { (s, dir) =>
      // split-conformal per-source threshold at alpha=0.1 over the
      // n_chars nonconformity score: the ceil((n+1)(1-alpha))-th
      // order statistic of a deterministic 30% calibration slice —
      // the distribution-free filter cutoff; small groups report NULL
      // (no finite guarantee), never the max
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.conformalThreshold(
        t(dir, "documents"), "source", col("n_chars"), alpha = 0.1)
    },
    "q355_tail_index" -> { (s, dir) =>
      // Hill tail-index over event values (top-100 order statistics,
      // 1e-9-quantized logs folded in rank order): alpha-hat <= 2
      // means infinite variance — measure BEFORE trusting means
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.tailIndex(t(dir, "events"), col("value"))
    },
    "q356_conformal_coverage" -> { (s, dir) =>
      // the VALIDATION half of q354: empirical coverage of the
      // conformal threshold on the hash-complement holdout — the
      // theorem (>= 1-alpha expected) as a per-run number
      implicit val sp: SparkSession = s
      graft.pipeline.Curation.conformalCoverage(
        t(dir, "documents"), "source", col("n_chars"), alpha = 0.1)
    },
    "q357_semdedup_scale" -> { (s, _) =>
      // SEMANTIC-dedup removal gate at 200k — the brief's first-named
      // family gated at the searchers' scale (the organic sf gates top
      // out ~60k): 512 trained cells via the two-level PRUNED
      // assignment (the sub-N^1.5 build path, exercised at the one
      // scale where it matters), threshold 0.8 over clusters of
      // pairwise-cosine≈1 mates; ≥ 95% of the 160k removable
      // duplicates must drop (measured 0.967 — the ~12% of clusters
      // that straddle a Voronoi boundary keep one member per side, the
      // documented cell-local miss), every cluster keeps its min-id
      // member, none may vanish
      graft.pipeline.Contracts.semDedupScaleContract(
        Similarity.semDedup(scaleCorpus(s), nCells = 512, threshold = 0.8,
          superProbe = Some(2)),
        clusterSize = 5, nNodes = ScaleN, bound = 0.95)
    },
    "q358_neardup_scale" -> { (s, _) =>
      // embedding near-dup PAIR recall at 200k: 4 disjoint 16-bit
      // sign-LSH tables, no probes — mates differ only by sub-sign
      // noise, so every true pair must share all four exact buckets;
      // recall floor 0.99 over the 400k analytic mate pairs
      // (measured 1.0)
      graft.pipeline.Contracts.nearDupPairRecallContract(
        Similarity.nearDup(scaleCorpus(s).withColumn("label", lit(0)),
          threshold = 0.8, tables = 4, bits = 16, probe = false),
        clusterSize = 5, nNodes = ScaleN, bound = 0.99)
    },
    "q359_chunk_dedup" -> { (s, dir) =>
      // CCNet-style SUB-document dedup at 10-token chunk granularity:
      // first corpus occurrence keeps, repeats drop; per-doc retention
      // report (the curation threshold input)
      implicit val sp: SparkSession = s
      graft.pipeline.Dedup.chunkDedup(t(dir, "documents"), chunkTokens = 10)
    },
    "q360_chunk_dedup_hash" -> { (s, dir) =>
      // q359's 100 TB shuffle path made a gated row (the q140/q142
      // hash==value-by-construction pattern): the election shuffle key
      // is the chunk text's 128-bit md5 — constant-width rows instead
      // of arbitrary-length text — and the output must be row-identical
      // to q359 (both engines hash the same UTF-8 bytes; a collision
      // would need ~2^64 chunks)
      implicit val sp: SparkSession = s
      graft.pipeline.Dedup.chunkDedup(t(dir, "documents"), chunkTokens = 10,
        hashKey = true)
    },
    "q361_exactsubstr_minlen50" -> { (s, dir) =>
      // Lee et al. 2022's ExactSubstr at its PUBLISHED MinLen: the
      // windowed-hash composition gated at spanTokens=50 (q316 gates
      // the machinery at L=8; this row adjudicates that the same
      // sliding-window identity IS the suffix-array removal set at the
      // canonical 50-token threshold — the corpus has ~300 repeated
      // 50-grams at sf0.01, so the gate is not degenerate)
      implicit val sp: SparkSession = s
      graft.pipeline.Dedup.removeRepeatedSpans(t(dir, "documents"), 50)
    },
    "q362_exactsubstr_keepfirst" -> { (s, dir) =>
      // the ALL-BUT-FIRST election variant (the paper's "leave one
      // copy" wording): the corpus-earliest occurrence of each repeated
      // 50-token window survives, every later copy is cut — the
      // chunkDedup min(struct(doc_id, pos)) election at sliding-window
      // granularity
      implicit val sp: SparkSession = s
      graft.pipeline.Dedup.removeRepeatedSpansKeepFirst(t(dir, "documents"), 50)
    },
    "q363_mmr_scale" -> { (s, _) =>
      // MMR at 200k (r13 verdict #5's optional gate): the constant-size
      // fold reranking 8 candidates to k=4 over the clustered corpus —
      // λ=1 must EQUAL brute-force top-k rank-for-rank (tie-breaks
      // align by construction); λ=0.3 must keep the rank-1 relevance
      // pick (a mate) but displace ≥1 mate per query (≤ k−1) and keep
      // mean mates ≤ 3 where the relevance path carries 4 — strangers
      // are often one foreign cluster that self-penalizes, so
      // mate/foreign alternation is legitimate (see contract scaladoc)
      val emb = scaleCorpus(s)
      val q = scaleQueries(emb)
      graft.pipeline.Contracts.mmrScaleContract(
        Similarity.mmrRerank(emb, q, k = 4, n = 8, lam = 0.3),
        Similarity.mmrRerank(emb, q, k = 4, n = 8, lam = 1.0),
        Similarity.bruteForceTopK(emb, q, 8),
        clusterSize = 5, k = 4, nQueries = 200L, mateCeil = 3.0)
    }
  )

  /** Fixed shape of the ≥200k-vector scale gates (q340–q344): one
    * deterministic clustered corpus shared via the plan-keyed RelCache
    * (all five gates persist the SAME generator plan) and a fixed
    * 200-query probe set. sf-independent: these gates price the
    * ALGORITHMS' recall at a scale the organic test tables can't reach,
    * not the data. */
  private val ScaleN = 200000L
  private def scaleCorpus(s: SparkSession): DataFrame =
    graft.util.RelCache.persist(
      graft.pipeline.Contracts.clusteredCorpus(s, ScaleN, 64, 5))
  private def scaleQueries(emb: DataFrame): DataFrame =
    emb.filter(pmod(col("vec_id"), lit(1000L)) === 0L)

  def oracleSql: Map[String, String] = Map(
    "q01_hist_regular" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQty))),
    "q02_hist_auto_range" ->
      // auto-range: lo/hi from data (reference core.py:499-506); same
      // index/label formulas as Regular, with lo/hi as scalar subqueries.
      """WITH b AS (SELECT CAST(MIN(l_tax) AS DOUBLE) AS lo, CAST(MAX(l_tax) AS DOUBLE) AS hi FROM lineitem),
        | i0 AS (SELECT CASE WHEN l_tax IS NULL THEN NULL WHEN l_tax < lo THEN CAST(-1 AS BIGINT) WHEN l_tax >= hi THEN CAST(10 AS BIGINT)
        |   ELSE LEAST(CAST(FLOOR((l_tax - lo) / (hi - lo) * 10.0) AS BIGINT), CAST(9 AS BIGINT)) END AS i, lo, hi
        |   FROM lineitem CROSS JOIN b),
        | g AS (SELECT i, lo, hi, CAST(COUNT(*) AS DOUBLE) AS cnt FROM i0 WHERE i IS NOT NULL AND i >= 0 AND i <= 9 GROUP BY i, lo, hi)
        | SELECT lo + CAST(i AS DOUBLE) * ((hi - lo) / 10.0) AS l_tax_bins, cnt FROM g""".stripMargin.replaceAll("\n", ""),
    "q03_hist_weighted" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQty)),
      weightSql = Some("l_extendedprice")),
    "q04_hist_density" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQty)),
      density = true),
    "q05_hist_dims" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQty10)),
      dims = Seq("l_returnflag", "l_linestatus")),
    "q06_hist2d" -> Oracle.hist("lineitem",
      Seq(Oracle.Spec("l_quantity", axQty10), Oracle.Spec("l_discount", axDisc))),
    "q07_hist_dd3" -> Oracle.hist("lineitem",
      Seq(Oracle.Spec("l_quantity", axQty10), Oracle.Spec("l_discount", axDisc),
        Oracle.Spec("l_tax", axTax))),
    "q08_hist_log" -> Oracle.hist("orders", Seq(Oracle.Spec("o_totalprice", axPriceLog))),
    "q59_hist_qbins" ->
      // rank-based decile edges re-derived in SQL (same ceil/rank formulas
      // as QuantileBins.quantileAxis), then half-open Variable binning;
      // x == max -> overflow, dropped (flow=false), like q02's auto-range
      """WITH src AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
        | c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
        | rk AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM src),
        | tg AS (SELECT GREATEST(CAST(1 AS BIGINT), CAST(CEIL(CAST(j AS DOUBLE) / CAST(10 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)) AS r
        |   FROM (SELECT UNNEST(generate_series(1, 9)) AS j) CROSS JOIN c),
        | qe AS (SELECT DISTINCT rk.v FROM rk JOIN tg ON tg.r = rk.r),
        | mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM src),
        | ed AS (SELECT DISTINCT v FROM (SELECT lo AS v FROM mm UNION ALL SELECT v FROM qe UNION ALL SELECT hi AS v FROM mm)),
        | ec AS (SELECT CAST(COUNT(*) AS BIGINT) - 1 AS nb FROM ed),
        | er AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM ed),
        | ix AS (SELECT (SELECT COUNT(*) FROM ed WHERE ed.v <= src.v) - 1 AS i FROM src),
        | f AS (SELECT i FROM ix CROSS JOIN ec WHERE i >= 0 AND i <= nb - 1),
        | g AS (SELECT i, CAST(COUNT(*) AS DOUBLE) AS cnt FROM f GROUP BY i)
        | SELECT er.v AS l_extendedprice_bins, g.cnt FROM g JOIN er ON er.r = g.i + 1""".stripMargin.replaceAll("\n", ""),
    "q55_hist_sqrt" -> Oracle.hist("events", Seq(Oracle.Spec("value", axValueSqrt))),
    "q56_hist_pow" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQtyPow2))),
    "q09_hist_variable" -> Oracle.hist("customer", Seq(Oracle.Spec("c_acctbal", axAcctVar))),
    "q10_hist_int" -> Oracle.hist("part", Seq(Oracle.Spec("p_size", axSize))),
    "q11_hist_intcat" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_linenumber", axLineNo)),
      flow = true),
    "q12_hist_strcat" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_returnflag", axFlag)),
      flow = true),
    "q13_hist_flow" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQtyNarrow)),
      flow = true),
    "q14_hist_circular" -> Oracle.hist("events",
      Seq(Oracle.Spec("(CAST((epoch_ns(ts) // 3600000000000) % 24 AS DOUBLE) + CAST('27.0' AS DOUBLE))", axHourCirc))),
    "q15_hist_int_storage" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQty)),
      intStorage = true),
    "q16_hist_weighted_density" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQty)),
      weightSql = Some("l_extendedprice"), density = true),
    "q17_hist2d_dims_weighted" -> Oracle.hist("lineitem",
      Seq(Oracle.Spec("l_quantity", axQty10), Oracle.Spec("l_discount", axDisc)),
      dims = Seq("l_returnflag"), weightSql = Some("l_extendedprice")),
    "q18_hist_dense" -> Oracle.hist("events", Seq(Oracle.Spec("value", axValue)),
      dims = Seq("event_type"), dense = true),
    "q19_hist_dense_vector" -> Oracle.hist("events", Seq(Oracle.Spec("value", axValue)),
      dims = Seq("event_type"), dense = true),
    "q67_hist_dense_vector_weighted" -> Oracle.hist("events",
      Seq(Oracle.Spec("value", axValue)), dims = Seq("event_type"),
      weightSql = Some("value"), dense = true),
    "q20_stat_mean" -> Oracle.meanSql("lineitem", "l_quantity", axQty, Seq("l_returnflag")),
    "q21_stat_var" -> Oracle.varSql("lineitem", "l_quantity", axQty, Seq("l_returnflag")),
    "q22_stat_std" -> Oracle.stdSql("lineitem", "l_quantity", axQty, Seq("l_returnflag")),
    "q23_stat_median" -> Oracle.medianSql("lineitem", "l_quantity", axQty, Seq("l_returnflag")),
    "q24_stat_ppf" -> Oracle.ppfSql("orders", "o_totalprice", axPriceLog, Nil, 0.9),
    "q25_stat_cdf" -> Oracle.cdfSql("lineitem", "l_quantity", axQty, Seq("l_returnflag"), 25.0),
    "q26_stat_moment" -> Oracle.momentSql("lineitem", "l_quantity", axQty, Seq("l_returnflag"), 3),
    "q27_stat_interval" -> Oracle.intervalSql("lineitem", "l_quantity", axQty, Seq("l_returnflag"), 0.9),
    "q28_normalize" -> Oracle.hist("events", Seq(Oracle.Spec("value", axValue)),
      dims = Seq("event_type"), density = true),
    "q29_remove_flow" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQtyNarrow))),
    "q30_scale_bins" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQty10)),
      labelScale = Some(2.5)),
    "q31_edges_centers_widths" -> Oracle.binsTableSql(axAcctVar),
    "q32_stat_weighted_mean" -> Oracle.meanSql("lineitem", "l_quantity", axQty,
      Seq("l_returnflag"), weightSql = Some("l_extendedprice")),
    "q33_stat_weighted_median" -> Oracle.medianSql("lineitem", "l_quantity", axQty,
      Seq("l_returnflag"), weightSql = Some("l_extendedprice")),
    "q40_dedup_exact" -> PipelineOracle.dedupExact,
    "q41_dedup_minhash" -> PipelineOracle.minhashLsh(),
    "q42_dedup_simhash" -> PipelineOracle.simhashPairs(),
    "q43_ngram_jaccard" -> PipelineOracle.ngramJaccard(),
    "q44_embed_neardup" -> PipelineOracle.embedNearDup(0.35),
    "q45_ann_bruteforce" -> PipelineOracle.annBruteForce(5, 10),
    "q46_ann_lsh" -> PipelineOracle.annLsh(3, 10)
    // q47-q51 and the other pipeline oracles follow below
  ) ++ Map(
    "q47_langid" -> PipelineOracle.langId,
    "q52_ann_ivf" -> PipelineOracle.annIvf(3, 10, nCells = 64, nprobe = 8),
    "q54_neardup_pipeline" -> PipelineOracle.nearDupPairs(),
    "q53_windowed_hist" -> {
      val idx = axValue.indexSql("value")
      s"""WITH e AS (SELECT time_bucket(INTERVAL '1 hour', make_timestamp(epoch_ns(ts) // 1000)) AS window_start, $idx AS __i0 FROM events),
         | f AS (SELECT * FROM e WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${axValue.nBins - 1}),
         | g AS (SELECT window_start, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM f GROUP BY 1, 2)
         | SELECT CAST(window_start AS TIMESTAMP) AS window_start, ${axValue.labelSql("__i0")} AS value_bins, cnt FROM g""".stripMargin.replaceAll("\n", "")
    },
    "q154_minhash_accuracy" -> PipelineOracle.minhashAccuracy(),
    "q156_cluster_purity" ->
      // majority via min label among max-count labels (ties to LOWEST
      // label, matching the Spark struct-max over (c, -label))
      ("WITH a AS (" + PipelineOracle.clusterAssign(8) + "), " +
        "j AS (SELECT a.cell, e.label FROM a JOIN embeddings e USING (vec_id)), " +
        "c AS (SELECT cell, label, CAST(COUNT(*) AS BIGINT) AS c FROM j GROUP BY 1, 2), " +
        "n AS (SELECT cell, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1), " +
        "m AS (SELECT cell, label AS majority_label, c AS majority_n, " +
        "ROW_NUMBER() OVER (PARTITION BY cell ORDER BY c DESC, label) AS rn FROM c) " +
        "SELECT m.cell, n.n, CAST(m.majority_label AS INT) AS majority_label, m.majority_n, " +
        "CAST(m.majority_n AS DOUBLE) / CAST(n.n AS DOUBLE) AS purity " +
        "FROM m JOIN n USING (cell) WHERE m.rn = 1"),
    "q155_semantic_decontaminate" ->
      // same sequential-fold dot product CTEs as the ANN oracles; max of
      // identical doubles and one >= compare — engine-exact
      ("WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
        "el AS (SELECT vec_id, CAST(i AS INT) AS i, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v " +
        "FROM (SELECT vec_id, embedding, UNNEST(generate_series(1, len(embedding))) AS i FROM e)), " +
        "nrm AS (SELECT vec_id, SQRT(SUM(v * v ORDER BY i)) AS nrm FROM el GROUP BY vec_id), " +
        "d AS (SELECT c.vec_id AS cid, b.vec_id AS bid, SUM(ec.v * eb.v ORDER BY ec.i) AS dot " +
        "FROM e c JOIN e b ON c.vec_id >= 10 AND b.vec_id < 10 " +
        "JOIN el ec ON ec.vec_id = c.vec_id JOIN el eb ON eb.vec_id = b.vec_id AND eb.i = ec.i " +
        "GROUP BY 1, 2), " +
        "mx AS (SELECT cid AS vec_id, MAX(dot / (nc.nrm * nb.nrm)) AS max_cos " +
        "FROM d JOIN nrm nc ON nc.vec_id = cid JOIN nrm nb ON nb.vec_id = bid GROUP BY 1) " +
        "SELECT vec_id, max_cos, max_cos >= CAST('0.8' AS DOUBLE) AS contaminated FROM mx"),
    "q153_score_standardize" ->
      ("WITH s AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score FROM documents), " +
        "a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(score) AS BIGINT) AS sm, " +
        "CAST(SUM(score * score) AS BIGINT) AS ss FROM s GROUP BY source) " +
        "SELECT s.doc_id, s.source, s.score, " +
        "CASE WHEN a.n >= 2 AND SQRT(GREATEST(CAST(0.0 AS DOUBLE), CAST(a.n AS DOUBLE) * CAST(a.ss AS DOUBLE) - CAST(a.sm AS DOUBLE) * CAST(a.sm AS DOUBLE)) / (CAST(a.n AS DOUBLE) * CAST(a.n - 1 AS DOUBLE))) > CAST(0.0 AS DOUBLE) " +
        "THEN (CAST(s.score AS DOUBLE) - CAST(a.sm AS DOUBLE) / CAST(a.n AS DOUBLE)) / " +
        "SQRT(GREATEST(CAST(0.0 AS DOUBLE), CAST(a.n AS DOUBLE) * CAST(a.ss AS DOUBLE) - CAST(a.sm AS DOUBLE) * CAST(a.sm AS DOUBLE)) / (CAST(a.n AS DOUBLE) * CAST(a.n - 1 AS DOUBLE))) " +
        "END AS z FROM s JOIN a USING (source)"),
    "q152_stream_quantiles" ->
      """WITH e AS (SELECT time_bucket(INTERVAL '1 hour', make_timestamp(epoch_ns(ts) // 1000)) AS window_start, CAST(value AS DOUBLE) AS v FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        | n AS (SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
        | rk AS (SELECT window_start, v, ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY v) AS r FROM e),
        | qd AS (SELECT UNNEST([CAST('0.5' AS DOUBLE), CAST('0.95' AS DOUBLE)]) AS q),
        | t AS (SELECT n.window_start, qd.q, CAST(CEIL(qd.q * CAST(n.n AS DOUBLE)) AS BIGINT) AS tr FROM n CROSS JOIN qd)
        | SELECT CAST(t.window_start AS TIMESTAMP) AS window_start, t.q, rk.v AS quantile FROM t JOIN rk ON rk.window_start = t.window_start AND rk.r = t.tr""".stripMargin.replaceAll("\n", ""),
    "q48_quality" -> PipelineOracle.quality,
    "q49_tokens" -> PipelineOracle.tokens,
    "q50_fingerprint" -> PipelineOracle.fingerprint(),
    "q65_pattern_counts" -> PipelineOracle.patternCounts,
    "q66_dedup_normalized" -> PipelineOracle.dedupNormalized,
    "q64_sample_exact_n" -> PipelineOracle.sampleExactPerSource(7, "rsv1"),
    "q63_corpus_stats" -> PipelineOracle.corpusStats,
    "q62_marginalize" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQty10))),
    "q61_neardup_keep" -> PipelineOracle.nearDupKeep(),
    "q60_stat_weighted_var" -> Oracle.varSql("lineitem", "l_quantity", axQty,
      Seq("l_returnflag"), weightSql = Some("l_extendedprice")),
    "q57_repetition" -> PipelineOracle.repetition,
    "q58_sample_mix" -> PipelineOracle.sampleBySource(
      mixRates, defaultRate = 0.15, salt = "mix1"),
    // h1 + h2 over disjoint slices == direct histogram of the union (the
    // oracle is the DIRECT form — it independently proves add()'s algebra)
    "q68_hist_add" -> Oracle.hist("lineitem", Seq(Oracle.Spec("l_quantity", axQty)),
      where = Some("l_linestatus IN ('F', 'O')")),
    "q69_hist_cumulative" -> Oracle.cumulativeSql("lineitem", "l_quantity", axQty,
      Seq("l_returnflag")),
    "q70_bins_flow" -> Oracle.binsTableSql(axAcctVar, flow = true),
    "q71_normalize_vars" -> Oracle.normalizeOverSql("lineitem",
      Seq(Oracle.Spec("l_quantity", axQty10), Oracle.Spec("l_discount", axDisc)),
      overIdx = Seq(0), dims = Nil),
    "q96_normalize_flow_vars" -> Oracle.normalizeOverSql("lineitem",
      Seq(Oracle.Spec("l_quantity", axQtyNarrow), Oracle.Spec("l_discount", axDiscNarrow)),
      overIdx = Seq(0), dims = Nil, flow = true),
    "q97_tokens_bpe" -> PipelineOracle.bpeTokens,
    "q98_funnel_window" -> PipelineOracle.funnel(Seq("view", "click", "purchase"),
      horizonUs = Some(172800000000L)),
    "q99_contamination_score" -> PipelineOracle.contaminationScore(5, "doc_id < 20"),
    "q100_sample_bpe_budget" -> PipelineOracle.sampleTokenBudgetBpe(900L, "tb2"),
    "q101_stream_top_terms" -> PipelineOracle.windowedTopTerms(86400000000L, 3),
    "q102_pack_sequences" -> PipelineOracle.packSequences(512L, 8, "pk1"),
    "q103_pack_bpe" -> PipelineOracle.packSequencesBpe(512L, 8, "pk1"),
    "q104_components_keep_by" -> PipelineOracle.componentsKeepBy(),
    "q106_top_fraction" -> PipelineOracle.topFractionBySource(0.3),
    "q107_temperature_mix" -> PipelineOracle.sampleTemperature(300L, 0.5, "tm1"),
    "q141_temperature_mix_a03" -> PipelineOracle.sampleTemperature(300L, 0.3, "tm3"),
    "q142_top_fraction_sketch" -> PipelineOracle.topFractionBySourceSketch(0.3),
    "q143_winsorize" -> PipelineOracle.winsorizeBySource(0.05, 0.95),
    "q144_event_rate_anomaly" -> PipelineOracle.eventRateAnomaly(7, 2.0),
    "q145_hard_negatives" -> PipelineOracle.hardNegatives(5, 10),
    // the streaming operator is gated against the SAME SQL as batch q144
    // (the q120/q127 convention)
    "q146_stream_anomaly" -> PipelineOracle.eventRateAnomaly(7, 2.0),
    // full-probe IVF == brute force by construction: same oracle as q145
    "q147_hard_negatives_ivf" -> PipelineOracle.hardNegatives(5, 10),
    "q148_props_stats" ->
      // DuckDB's ->> returns the field as text; the integral-regex guard
      // mirrors the Spark side's (the engines' bare casts DISAGREE on
      // non-integral numerics: TRY_CAST('3.7' AS BIGINT) rounds to 4 in
      // DuckDB but NULLs in Spark's ANSI try_cast — the guard pins the
      // semantics once). json_valid guards malformed blobs: Spark's
      // get_json_object NULLs them silently where a bare ->> would ABORT
      // the whole oracle query
      ("WITH x AS (SELECT event_type, CASE WHEN regexp_matches(props->>'k', '^-?[0-9]+$') " +
        "THEN TRY_CAST(props->>'k' AS BIGINT) END AS k " +
        "FROM events WHERE props IS NOT NULL AND json_valid(props)) " +
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(k) AS BIGINT) AS k_sum, CAST(MIN(k) AS BIGINT) AS k_min, " +
        "CAST(MAX(k) AS BIGINT) AS k_max, " +
        "CAST(SUM(k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS k_mean " +
        "FROM x WHERE k IS NOT NULL GROUP BY event_type"),
    "q149_props_hist" -> Oracle.hist(
      "(SELECT CASE WHEN regexp_matches(props->>'k', '^-?[0-9]+$') " +
        "THEN TRY_CAST(props->>'k' AS BIGINT) END AS k FROM events " +
        "WHERE json_valid(props)) __pk",
      Seq(Oracle.Spec("k", axPropsK)), flow = true),
    "q150_embed_quantize" ->
      // same float->double casts, same left-associated v/scale*127, and
      // both engines' ROUND is half-away-from-zero
      ("WITH el AS (SELECT vec_id, CAST(i AS INT) AS i, " +
        "CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v " +
        "FROM (SELECT vec_id, embedding, UNNEST(generate_series(1, len(embedding))) AS i FROM embeddings)), " +
        "s AS (SELECT vec_id, MAX(ABS(v)) AS scale FROM el GROUP BY vec_id) " +
        "SELECT el.vec_id, el.i, s.scale, " +
        "CASE WHEN s.scale = CAST(0 AS DOUBLE) THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(ROUND(el.v / s.scale * CAST(127 AS DOUBLE)) AS BIGINT) END AS q " +
        "FROM el JOIN s USING (vec_id)"),
    "q108_active_users" -> PipelineOracle.activeUsers(7),
    "q109_profile_hist" -> Oracle.profile("lineitem",
      Oracle.Spec("l_quantity", axQty10), "l_extendedprice",
      dims = Seq("l_returnflag")),
    "q110_rebin" -> Oracle.hist("lineitem",
      Seq(Oracle.Spec("l_quantity", HistStats.coarsened(axQty, 5))),
      dims = Seq("l_returnflag")),
    "q111_semdedup" -> PipelineOracle.semDedup(16, 0.35),
    "q112_containment" -> PipelineOracle.containment(8, 0.8),
    "q113_hist_drift" -> Oracle.drift("events", Oracle.Spec("value", axValue),
      "event_type = 'view'", "event_type = 'click'"),
    "q114_windowed_drift" -> Oracle.driftByDim("events",
      Oracle.Spec("value", axValue), "(epoch_ns(ts) // 1000) // 86400000000", "day"),
    "q115_session_paths" -> PipelineOracle.sessionPaths(21600000000L, 20),
    "q116_group_quantiles" -> PipelineOracle.groupQuantiles(Seq(0.5, 0.95, 0.99)),
    "q117_group_corr" -> Oracle.pearson("lineitem", "l_quantity",
      "l_extendedprice", dims = Seq("l_returnflag")),
    "q118_hist_efficiency" -> Oracle.efficiency("lineitem",
      Oracle.Spec("l_quantity", axQty10), "l_returnflag = 'N'"),
    "q119_bpe_encode" -> PipelineOracle.bpeEncodeSeq("doc_id < 50"),
    "q120_asof_join" -> PipelineOracle.asOfJoin("purchase", "view"),
    "q121_ks_test" -> Oracle.ksTest("lineitem", "l_extendedprice",
      "l_returnflag = 'N'", dims = Seq("l_linestatus")),
    "q122_novelty" -> PipelineOracle.novelty(5, "doc_id < 250", "doc_id >= 250"),
    "q123_cluster_stats" -> PipelineOracle.clusterStats(nCells = 16),
    "q124_bpe_train" -> PipelineOracle.bpeTrain(12, "doc_id < 200"),
    "q125_bpe_encode_trained" -> PipelineOracle.bpeEncodeTrained(12,
      "doc_id < 200", "doc_id < 50"),
    "q126_hist_pull" -> Oracle.histPull("events", Oracle.Spec("value", axValue),
      "event_type = 'view'", "event_type = 'click'"),
    // the streaming operator's batch execution must equal the BATCH
    // as-of oracle verbatim — one SQL gates both operators' semantics
    "q127_stream_asof" -> PipelineOracle.asOfJoin("purchase", "view"),
    "q129_score_percentile" ->
      ("WITH s AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score FROM documents), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn, " +
        "COUNT(*) OVER (PARTITION BY source) AS n FROM s) " +
        "SELECT doc_id, source, score, CASE WHEN n = 1 THEN CAST(0.0 AS DOUBLE) " +
        "ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS pctl FROM r"),
    "q130_asof_tolerance" -> PipelineOracle.asOfJoin("purchase", "view",
      tolUs = Some(3600000000L)),
    "q131_session_funnel" -> PipelineOracle.sessionFunnel(21600000000L,
      "view", "purchase"),
    "q132_stratified_split" -> PipelineOracle.stratifiedSplit(0.1, 0.1, "sp1"),
    "q133_profile_table" -> PipelineOracle.profileTable("lineitem",
      Seq("l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus")),
    "q135_dedup_report" ->
      ("WITH k AS (SELECT doc_id, keep FROM (" + PipelineOracle.dedupExact + ")), " +
        "j AS (SELECT d.source, k.keep FROM documents d JOIN k USING (doc_id)) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical, " +
        "CAST(COUNT(*) - SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(COUNT(*) AS DOUBLE) AS dup_rate FROM j GROUP BY source"),
    "q151_dedup_savings" ->
      ("WITH k AS (SELECT doc_id, keep FROM (" + PipelineOracle.dedupExact + ")), " +
        "j AS (SELECT d.source, k.keep, " +
        "CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS tok " +
        "FROM documents d JOIN k USING (doc_id)) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(SUM(tok) AS BIGINT) AS tokens_total, " +
        "CAST(SUM(CASE WHEN keep THEN tok ELSE 0 END) AS BIGINT) AS tokens_kept, " +
        "CASE WHEN SUM(tok) > 0 THEN " +
        "CAST(SUM(tok) - SUM(CASE WHEN keep THEN tok ELSE 0 END) AS DOUBLE) / CAST(SUM(tok) AS DOUBLE) " +
        "END AS token_savings FROM j GROUP BY source"),
    "q136_embed_dim_hist" -> Oracle.hist(
      "(SELECT label, CAST(embedding[1] AS DOUBLE) AS dim0 FROM embeddings) __ed",
      Seq(Oracle.Spec("dim0", axDim0)), dims = Seq("label"), flow = true),
    "q138_retention_rates" ->
      (s"WITH r AS (${PipelineOracle.retention}) " +
        "SELECT r.cohort_day, r.offset_days, r.n_users, " +
        "CAST(r.n_users AS DOUBLE) / CAST(b.n_users AS DOUBLE) AS retention_rate " +
        "FROM r JOIN (SELECT cohort_day, n_users FROM r WHERE offset_days = 0) b " +
        "USING (cohort_day)"),
    "q137_similarity_hist" -> Oracle.hist(
      s"(${PipelineOracle.nearDupPairs(threshold = 0.0)}) __sp",
      Seq(Oracle.Spec("jaccard", axJaccard)), flow = true),
    "q134_lang_token_hist" -> Oracle.hist(
      s"(SELECT l.pred_lang AS lang, " +
        "CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS ws_tokens " +
        s"FROM (${PipelineOracle.langId}) l JOIN documents d USING (doc_id)) __lt",
      Seq(Oracle.Spec("ws_tokens", axTokens)), dims = Seq("lang"),
      flow = true),
    "q128_conversion_hist" -> Oracle.hist(
      s"(${PipelineOracle.funnel(Seq("view", "purchase"))}) __f",
      Seq(Oracle.Spec("(epoch_us(t2) - epoch_us(t1)) // 1000000", axLatency)),
      flow = true, where = Some("t2 IS NOT NULL")),
    "q105_sliding_hist" -> {
      // 4h windows sliding 1h: slide-aligned floor start minus 0..3
      // slides; integer-floor arithmetic identical to the batch branch
      val idx = axValue.indexSql("value")
      val slide = 3600000000L
      val dur = 4L * slide
      s"""WITH e AS (SELECT epoch_ns(ts) // 1000 AS us, $idx AS __i0 FROM events WHERE ts IS NOT NULL),
         | f AS (SELECT * FROM e WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${axValue.nBins - 1}),
         | w AS (SELECT (us // $slide) * $slide - i * $slide AS ws, __i0 FROM f, UNNEST(generate_series(0, 3)) AS t(i)),
         | g AS (SELECT ws, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM w GROUP BY 1, 2)
         | SELECT make_timestamp(ws) AS window_start, make_timestamp(ws + $dur) AS window_end, ${axValue.labelSql("__i0")} AS value_bins, cnt FROM g""".stripMargin.replaceAll("\n", "")
    },
    "q72_stream_dedup" -> PipelineOracle.streamDedup,
    // q51: the Spark side derives every field by PARSING real
    // PNG/JPEG/GIF/WAV/AVI container bytes; the oracle re-derives them
    // from the synthesis closed forms — a hash match proves the parsers
    // invert the writers (MediaCodecSpec separately pins the parsers
    // against hand-written spec fixtures)
    "q51_multimodal" -> PipelineOracle.multimodalMeta(),
    "q75_frame_sample" -> PipelineOracle.frameSample(),
    "q76_thumbnail" -> PipelineOracle.thumbnail(),
    "q77_hist_density_flow" -> Oracle.hist("lineitem",
      Seq(Oracle.Spec("l_quantity", axQtyNarrow)), flow = true, density = true),
    "q78_hist_fastpath" -> Oracle.hist("lineitem",
      Seq(Oracle.Spec("l_quantity", axQty)), dense = true),
    // apply_func: the transformed coordinate is re-derived by wrapping the
    // plain histogram oracle — SQRT is correctly rounded in both engines,
    // so the wrapped label is bit-identical
    "q79_apply_func" ->
      s"SELECT SQRT(value_bins) AS value_bins, cnt FROM (${Oracle.hist("events", Seq(Oracle.Spec("value", axValue)))}) __h",
    // remove_flow(variables=[qty, disc]) on the flow histogram == the
    // direct no-flow histogram: the oracle computes the INDEPENDENT form,
    // so the gate proves the N-D strip leaves exactly the interior grid
    "q80_remove_flow_vars" -> Oracle.hist("lineitem",
      Seq(Oracle.Spec("l_quantity", axQtyNarrow), Oracle.Spec("l_discount", axDiscNarrow))),
    "q81_hist2d_fastpath" -> Oracle.hist("lineitem",
      Seq(Oracle.Spec("l_quantity", axQty10), Oracle.Spec("l_discount", axDisc)),
      dense = true),
    "q82_decontaminate" -> PipelineOracle.decontaminate(5, "doc_id < 20"),
    "q83_redact" -> PipelineOracle.redact,
    "q84_sample_token_budget" -> PipelineOracle.sampleTokenBudget(700L, "tb1"),
    // components: the oracle's recursive-CTE walk is the closed-form
    // transitive closure, so the gate proves the propagation loop
    // converged to the true fixpoint
    "q85_dup_components" -> PipelineOracle.dupComponents(),
    "q86_span_dedup" -> PipelineOracle.spanDedup(8, 1),
    "q87_sessionize" -> PipelineOracle.sessionize(6L * 3600 * 1000000),
    "q88_top_terms" -> PipelineOracle.topTerms(5),
    "q89_curate" -> PipelineOracle.curate(40L, 5, "doc_id < 20", 0.8, "cur"),
    "q90_cluster" -> PipelineOracle.clusterAssign(nCells = 16),
    "q91_cluster_sample" -> PipelineOracle.clusterBalancedSample(16, 5, "cb1"),
    "q92_funnel" -> PipelineOracle.funnel(Seq("view", "click", "purchase")),
    "q93_retention" -> PipelineOracle.retention,
    // q94 runs SpaceSaving in its exact regime (capacity 256 >> the
    // per-source vocabulary), where the summary provably equals the
    // exact tf ranking; approximate-regime bounds are spec-pinned
    "q94_top_terms_approx" -> PipelineOracle.topTermsApprox(5),
    "q95_cross_dedup" -> PipelineOracle.crossNearDup("doc_id < 100", "TRUE",
      bucketCap = Some(20)),
    "q73_dup_cluster_hist" -> Oracle.hist(
      "(SELECT CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY md5(text)) __cs",
      Seq(Oracle.Spec("c", axCluster)), flow = true),
    "q74_hist_tokens" -> Oracle.hist(
      "(SELECT CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws_tokens FROM documents) __tk",
      Seq(Oracle.Spec("ws_tokens", axTokens)), flow = true),
    // pruned == exact by construction (superProbe covers every super), so
    // the oracle is the exact-assignment SQL — the same relation as q90
    "q139_cluster_pruned" -> PipelineOracle.clusterAssign(nCells = 16),
    "q140_hist_qbins_sketch" ->
      // the GK sketch at relativeError = 0: edge j = value at 1-based
      // rank ceil(j/nBins * n) (the sketch's own query rule with every
      // sample retained; p=0 -> min, p=1 -> max), then half-open Variable
      // binning exactly like q59
      """WITH src AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders WHERE o_totalprice IS NOT NULL),
        | c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
        | rk AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM src),
        | tg AS (SELECT CAST(CEIL(CAST(j AS DOUBLE) / CAST(8 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT) AS r
        |   FROM (SELECT UNNEST(generate_series(1, 7)) AS j) CROSS JOIN c),
        | qe AS (SELECT DISTINCT rk.v FROM rk JOIN tg ON tg.r = rk.r),
        | mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM src),
        | ed AS (SELECT DISTINCT v FROM (SELECT lo AS v FROM mm UNION ALL SELECT v FROM qe UNION ALL SELECT hi AS v FROM mm)),
        | ec AS (SELECT CAST(COUNT(*) AS BIGINT) - 1 AS nb FROM ed),
        | er AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM ed),
        | ix AS (SELECT (SELECT COUNT(*) FROM ed WHERE ed.v <= src.v) - 1 AS i FROM src),
        | f AS (SELECT i FROM ix CROSS JOIN ec WHERE i >= 0 AND i <= nb - 1),
        | g AS (SELECT i, CAST(COUNT(*) AS DOUBLE) AS cnt FROM f GROUP BY i)
        | SELECT er.v AS o_totalprice_bins, g.cnt FROM g JOIN er ON er.r = g.i + 1""".stripMargin.replaceAll("\n", ""),
    // ---- approximate-contract gates (q157-q160): the oracle emits the
    // CONTRACT — TRUE verdict rows over the same deterministic keys —
    // so any error-bound violation by the sketch on real data
    // hash-mismatches the gate even though the sketch outputs
    // themselves are partitioning-dependent at these settings
    // the exact-regime GK rank rule per group (the q142/q152 convention):
    // quantile q = value at 1-based rank ceil(q*n) ascending
    "q162_group_quantiles_sketch" ->
      ("WITH s AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events " +
        "WHERE value IS NOT NULL), " +
        "n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY event_type), " +
        "rk AS (SELECT event_type, v, ROW_NUMBER() OVER " +
        "(PARTITION BY event_type ORDER BY v) AS r FROM s), " +
        "qs AS (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE), " +
        "CAST(0.99 AS DOUBLE)]) AS q) " +
        "SELECT rk.event_type, qs.q, rk.v AS quantile " +
        "FROM rk JOIN n USING (event_type) CROSS JOIN qs " +
        "WHERE rk.r = CAST(CEIL(qs.q * CAST(n.n AS DOUBLE)) AS BIGINT)"),
    // recall contracts: the oracle pins the verdict (and the exact query
    // count); the deterministic candidate generators make recall a pure
    // function of the data, so a recall regression hash-mismatches
    "q163_ann_lsh_recall" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id < 10"),
    "q164_ann_ivf_recall" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id < 10"),
    // round-trip gate: the reloaded-histogram normalize must equal the
    // direct density histogram (the q28 SQL) — proves persisted metadata
    // alone reconstructs the axis
    "q161_metadata_roundtrip" -> Oracle.hist("events",
      Seq(Oracle.Spec("value", axValue)), dims = Seq("event_type"),
      density = true),
    "q157_gk_rank_contract" ->
      ("SELECT CAST(j AS INT) AS j, CAST(j AS DOUBLE) / 8 AS p, " +
        "TRUE AS within_bound FROM (SELECT UNNEST(generate_series(0, 8)) AS j)"),
    "q158_spacesaving_contract" ->
      ("SELECT source, CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS n_terms, " +
        "TRUE AS all_within_bounds, TRUE AS all_heavy_present " +
        "FROM documents GROUP BY source " +
        "HAVING SUM(len(regexp_extract_all(text, '\\S+'))) > 0"),
    "q159_papprox_contract" ->
      ("SELECT source, p, TRUE AS within_bound " +
        "FROM (SELECT DISTINCT source FROM documents WHERE n_chars IS NOT NULL) " +
        "CROSS JOIN (SELECT UNNEST([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE), " +
        "CAST(0.75 AS DOUBLE)]) AS p)"),
    "q160_window_gk_contract" ->
      // '//' (floor) alignment, NOT '- (x % dur)': DuckDB's % truncates
      // toward zero where the Spark side's pmod floors, and the two
      // diverge on pre-1970 event times
      ("WITH w AS (SELECT DISTINCT " +
        "((epoch_ns(ts) // 1000) // 3600000000) * 3600000000 AS ws FROM events " +
        "WHERE ts IS NOT NULL AND value IS NOT NULL) " +
        "SELECT make_timestamp(ws) AS window_start, p AS q, TRUE AS within_bound " +
        "FROM w CROSS JOIN (SELECT UNNEST([CAST(0.25 AS DOUBLE), " +
        "CAST(0.5 AS DOUBLE), CAST(0.75 AS DOUBLE)]) AS p)"),
    "q165_transition_matrix" -> PipelineOracle.transitionMatrix,
    // the streaming operator's batch execution equals the batch lag
    // unconditionally — gated against the SAME SQL (the q127 convention)
    "q171_stream_transitions" -> PipelineOracle.transitionMatrix,
    "q166_vocab_growth" -> PipelineOracle.vocabGrowth(100L),
    "q167_hash_embed" -> PipelineOracle.hashEmbed(16),
    "q168_interevent_hist" -> Oracle.hist(PipelineOracle.interEventGapsSrc,
      Seq(Oracle.Spec("gap_s", axGap)), dims = Seq("event_type"), flow = true),
    "q169_cohort_value" -> PipelineOracle.cohortValue,
    "q170_hist2d_qbins" ->
      // both axes' rank-based quantile edges re-derived in SQL (the q59
      // formulas per axis), then half-open 2D Variable binning; a NULL
      // on either axis indexes to -1/-… and drops (flow=false)
      """WITH sx AS (SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem WHERE l_quantity IS NOT NULL),
        | cx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sx),
        | rkx AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM sx),
        | tgx AS (SELECT GREATEST(CAST(1 AS BIGINT), CAST(CEIL(CAST(j AS DOUBLE) / CAST(4 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)) AS r
        |   FROM (SELECT UNNEST(generate_series(1, 3)) AS j) CROSS JOIN cx),
        | qex AS (SELECT DISTINCT rkx.v FROM rkx JOIN tgx ON tgx.r = rkx.r),
        | mmx AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM sx),
        | edx AS (SELECT DISTINCT v FROM (SELECT lo AS v FROM mmx UNION ALL SELECT v FROM qex UNION ALL SELECT hi AS v FROM mmx)),
        | ecx AS (SELECT CAST(COUNT(*) AS BIGINT) - 1 AS nb FROM edx),
        | erx AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM edx),
        | sy AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
        | cy AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sy),
        | rky AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM sy),
        | tgy AS (SELECT GREATEST(CAST(1 AS BIGINT), CAST(CEIL(CAST(j AS DOUBLE) / CAST(4 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)) AS r
        |   FROM (SELECT UNNEST(generate_series(1, 3)) AS j) CROSS JOIN cy),
        | qey AS (SELECT DISTINCT rky.v FROM rky JOIN tgy ON tgy.r = rky.r),
        | mmy AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM sy),
        | edy AS (SELECT DISTINCT v FROM (SELECT lo AS v FROM mmy UNION ALL SELECT v FROM qey UNION ALL SELECT hi AS v FROM mmy)),
        | ecy AS (SELECT CAST(COUNT(*) AS BIGINT) - 1 AS nb FROM edy),
        | ery AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM edy),
        | src AS (SELECT CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem),
        | ix AS (SELECT (SELECT COUNT(*) FROM edx WHERE edx.v <= src.x) - 1 AS i,
        |   (SELECT COUNT(*) FROM edy WHERE edy.v <= src.y) - 1 AS j FROM src),
        | f AS (SELECT i, j FROM ix CROSS JOIN ecx CROSS JOIN ecy WHERE i >= 0 AND i <= ecx.nb - 1 AND j >= 0 AND j <= ecy.nb - 1),
        | g AS (SELECT i, j, CAST(COUNT(*) AS DOUBLE) AS cnt FROM f GROUP BY i, j)
        | SELECT erx.v AS l_quantity_bins, ery.v AS l_extendedprice_bins, g.cnt
        | FROM g JOIN erx ON erx.r = g.i + 1 JOIN ery ON ery.r = g.j + 1""".stripMargin.replaceAll("\n", ""),
    // HLL++ estimates are engine-specific, so the gate pins the contract
    // verdict beside the exact distinct count (the q157 convention);
    // NULL values skip in both engines' distinct aggregates
    "q172_distinct_contract" ->
      ("SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact, " +
        "TRUE AS within_bound FROM events WHERE event_type IS NOT NULL " +
        "GROUP BY event_type"),
    "q173_session_duration_hist" -> Oracle.hist(
      PipelineOracle.sessionDurationSrc(21600000000L),
      Seq(Oracle.Spec("dur_s", axSessDur)), flow = true),
    "q174_score_blend" -> PipelineOracle.blendPercentiles,
    "q175_corpus_rollup" -> PipelineOracle.corpusRollup,
    "q176_event_dedup" -> PipelineOracle.suppressRapidFire(60L),
    "q177_stream_distinct" -> PipelineOracle.windowedDistinct(3600000000L),
    "q178_embed_normalize" -> PipelineOracle.normalizeL2,
    "q179_tokenizer_fertility" -> Oracle.hist(PipelineOracle.fertilitySrc,
      Seq(Oracle.Spec("fertility", axFert)), dims = Seq("lang"), flow = true),
    "q180_curate_blend" -> PipelineOracle.curateBlend(
      "0.5", 40L, 5, "doc_id < 20", 0.8, "cur"),
    // same pinned-verdict form as q172: the estimate is engine-specific,
    // the CONTRACT (|est - exact| <= 3*rsd*exact) is what both must agree on
    "q181_distinct_contract_tight" ->
      ("SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact, " +
        "TRUE AS within_bound FROM events WHERE event_type IS NOT NULL " +
        "GROUP BY event_type"),
    // batch execution of the streaming burst collapse == the q176 lag
    // rule, so it gates against the IDENTICAL SQL (the q127 convention)
    "q182_stream_event_dedup" -> PipelineOracle.suppressRapidFire(60L),
    // batch execution of the live funnel == the q92 conditional-min
    // chain, so it gates against the IDENTICAL SQL
    "q183_stream_funnel" -> PipelineOracle.funnel(Seq("view", "click", "purchase")),
    "q184_weighted_sample" -> PipelineOracle.sampleByWeight(500L, "pps"),
    "q185_bm25" -> PipelineOracle.bm25(Seq("spark", "query", "fast"), 1.2, 0.75),
    "q186_psi" -> Oracle.psi("events", Oracle.Spec("value", axValue),
      "event_type = 'view'", "event_type = 'click'", 1e-6),
    "q187_windowed_psi" -> Oracle.psiByDim("events",
      Oracle.Spec("value", axValue), "(epoch_ns(ts) // 1000) // 86400000000",
      "day", 1e-6),
    // || (not concat()) on the oracle side: DuckDB's concat skips NULLs
    // where Spark's propagates them; || propagates like Spark
    "q188_snapshot_diff" ->
      ("WITH nw AS (SELECT doc_id, md5(text) AS h FROM documents), " +
        "ol AS (SELECT doc_id, md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h " +
        "FROM documents WHERE doc_id % 7 <> 0) " +
        "SELECT COALESCE(nw.doc_id, ol.doc_id) AS doc_id, " +
        "CASE WHEN ol.doc_id IS NULL THEN 'added' " +
        "WHEN nw.doc_id IS NULL THEN 'removed' " +
        "WHEN nw.h IS NOT DISTINCT FROM ol.h THEN 'same' " +
        "ELSE 'changed' END AS status " +
        "FROM nw FULL OUTER JOIN ol ON ol.doc_id = nw.doc_id"),
    "q189_embed_outliers" -> PipelineOracle.embedOutliers(nCells = 16, k = 2.0),
    "q190_bm25_topk" -> PipelineOracle.bm25TopK(
      Seq("spark", "query", "fast"), 25, 1.2, 0.75),
    // the window dim drops NULL event times (Spark's TimeWindowing
    // inserts IsNotNull); the reference histogram keeps every row
    "q191_stream_psi" -> Oracle.psiByDim("events",
      Oracle.Spec("value", axValue),
      "make_timestamp(((epoch_ns(ts) // 1000) // 3600000000) * 3600000000)",
      "window_start", 1e-6, where = "ts IS NOT NULL"),
    "q192_curate_explain" -> PipelineOracle.curateExplain(
      "0.5", 40L, 5, "doc_id < 20", 0.8, "cur"),
    "q193_lm_score" -> PipelineOracle.lmScore,
    "q194_chunk_docs" -> PipelineOracle.chunkDocs(64, 48),
    "q195_tfidf_topk" -> PipelineOracle.tfidfTopK(5),
    "q196_robust_standardize" -> PipelineOracle.robustStandardize("n_chars"),
    "q197_lm_score_bigram" -> PipelineOracle.lmScoreBigram,
    "q198_centroid_shift" -> PipelineOracle.centroidShift,
    "q199_key_skew" -> PipelineOracle.keySkew("user_id", 25),
    "q200_lm_filter" -> PipelineOracle.lmFilter("CAST('0.3' AS DOUBLE)"),
    "q201_token_entropy" -> PipelineOracle.tokenEntropy,
    "q202_trimmed_mean" -> PipelineOracle.trimmedMean(0.1, "n_chars"),
    "q203_pmi_collocations" -> PipelineOracle.pmiCollocations(50, 5L),
    "q204_oov_rate" -> PipelineOracle.oovRate("doc_id % 10 < 3"),
    "q205_interval_join" -> PipelineOracle.intervalJoin("view", "click", 21600000000L),
    "q206_rate_limit" -> PipelineOracle.rateLimit(5),
    // batch execution of the live quota == the q206 rank rule, so it
    // gates against the IDENTICAL SQL
    "q207_stream_rate_limit" -> PipelineOracle.rateLimit(5),
    "q208_type_cooccurrence" -> PipelineOracle.typeCooccurrence,
    "q209_source_gini" -> PipelineOracle.sourceGini,
    "q210_zipf_fit" -> PipelineOracle.zipfFit,
    "q211_emd_drift" -> Oracle.emd("events", Oracle.Spec("value", axValue),
      "event_type = 'view'", "event_type = 'click'"),
    "q212_fk_audit" -> PipelineOracle.fkAudit("orders", "o_custkey",
      "customer", "c_custkey", "c_custkey % 10 <> 0"),
    "q213_event_trigrams" -> PipelineOracle.eventTrigrams(25),
    // batch execution of the live coincidence join == the q205 blocked
    // form, so it gates against the IDENTICAL SQL
    "q214_stream_interval_join" ->
      PipelineOracle.intervalJoin("view", "click", 21600000000L),
    // lifecycle gates: side B drops 'click', so the dead group's NULL
    // emd/psi is oracle-exercised, not just spec-exercised
    "q215_emd_lifecycle" -> Oracle.emdByDim("events",
      Oracle.Spec("value", axValue), "event_type", "event_type",
      "TRUE", "event_type <> 'click'"),
    "q216_psi_lifecycle" -> Oracle.psiGrouped("events",
      Oracle.Spec("value", axValue), "event_type", "event_type",
      "TRUE", "event_type <> 'click'", 1e-6),
    "q217_weighted_profile" -> Oracle.weightedProfile("lineitem",
      Oracle.Spec("l_quantity", axQty10), "l_discount", "l_extendedprice",
      dims = Seq("l_returnflag")),
    // contract gate (q157-q160 discipline): the oracle emits the TRUE
    // verdicts for every source with >= 1 scored doc; any rank-bound
    // violation of the sketch threshold on real data hash-mismatches
    "q218_lm_filter_sketch" ->
      ("SELECT source, CAST(COUNT(*) AS BIGINT) AS n, " +
        "TRUE AS lo_within_bound, TRUE AS hi_within_bound " +
        "FROM documents WHERE text IS NOT NULL " +
        "AND len(regexp_extract_all(text, '\\S+')) > 0 " +
        "GROUP BY source"),
    // the flag bits are the Spark side's isNormalized() verdicts; the
    // row counts re-derive from the q28 oracle pair
    "q219_is_normalized" ->
      ("SELECT 'raw' AS state, FALSE AS is_normalized, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rows FROM (" +
        Oracle.hist("events", Seq(Oracle.Spec("value", axValue)),
          dims = Seq("event_type")) + ") " +
        "UNION ALL SELECT 'normalized', TRUE, CAST(COUNT(*) AS BIGINT) FROM (" +
        Oracle.hist("events", Seq(Oracle.Spec("value", axValue)),
          dims = Seq("event_type"), density = true) + ")"),
    "q220_dsir_weights" -> PipelineOracle.dsirWeights(
      "source IN ('src0', 'src1', 'src2')", 1024),
    "q221_pq_encode" -> PipelineOracle.pqEncode(4, 16, iters = 2),
    // recall-contract gate (q163/q164 discipline): deterministic codes +
    // deterministic exact ranking make recall a pure function of the
    // data; a regression below the pinned floor hash-mismatches
    "q222_pq_search_recall" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id < 10"),
    "q223_asof_forward" -> PipelineOracle.asOfJoinForward("purchase",
      "view", tolUs = Some(3600000000L)),
    "q224_pq_error" -> PipelineOracle.pqError(4, 16, iters = 2),
    // same oracle as q82: the bloom screen + exact verify is
    // row-identical to the exact path (no-false-negative theorem)
    "q225_decontaminate_bloom" -> PipelineOracle.decontaminate(5, "doc_id < 20"),
    // the window dim drops NULL event times (Spark's TimeWindowing
    // inserts IsNotNull); the reference histogram keeps every row
    "q226_stream_emd" -> Oracle.emdFromByDim("events",
      Oracle.Spec("value", axValue),
      "make_timestamp(((epoch_ns(ts) // 1000) // 3600000000) * 3600000000)",
      "window_start", where = "ts IS NOT NULL"),
    // the window dim drops NULL event times (Spark's TimeWindowing
    // inserts IsNotNull); the reference histogram keeps every row
    "q227_stream_ks" -> Oracle.ksFromByDim("events",
      Oracle.Spec("value", axValue),
      "make_timestamp(((epoch_ns(ts) // 1000) // 3600000000) * 3600000000)",
      "window_start", where = "ts IS NOT NULL"),
    "q228_rrf_fusion" -> PipelineOracle.rrfFusion(
      Seq("spark", "query", "fast"), 25, 50, 60, 1.2, 0.75),
    // recall-contract gate (q163/q164/q222 discipline): deterministic
    // coarse assignment + residual codes + deterministic exact ranking
    // make recall a pure function of the data; a regression below the
    // pinned floor hash-mismatches
    "q229_ivfpq_recall" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id < 10"),
    "q230_dup_ngram_rate" -> PipelineOracle.dupNgramRate(8),
    "q231_leak_free_split" -> PipelineOracle.leakFreeSplit(0.1, 0.1, "lfs1"),
    // same oracle as q82: the stateless stream screen is row-identical
    // to the batch broadcast-semi-join by construction
    "q232_stream_decontaminate" -> PipelineOracle.decontaminate(5, "doc_id < 20"),
    "q233_winnowing" -> PipelineOracle.winnowingPairs(4, 4, 20, 2),
    "q234_mixed_lang" -> PipelineOracle.mixedLang(16),
    // the window dim drops NULL event times (Spark's TimeWindowing
    // inserts IsNotNull); the reference histogram keeps every row
    "q235_stream_pull" -> Oracle.pullFromByDim("events",
      Oracle.Spec("value", axValue),
      "make_timestamp(((epoch_ns(ts) // 1000) // 3600000000) * 3600000000)",
      "window_start", where = "ts IS NOT NULL"),
    "q236_burstiness" -> PipelineOracle.burstiness,
    "q237_attribution" -> PipelineOracle.attribution("purchase", "view",
      3600000000L),
    "q238_winnowing_containment" ->
      PipelineOracle.winnowingContainment(4, 4, 20, 2),
    "q239_curriculum_mix" -> PipelineOracle.curriculumMix(2.0, "cur1"),
    "q240_top_terms_churn" -> PipelineOracle.topTermsChurn(3600000000L, 3),
    // same oracle as q234: the row-local HOF form is row-identical to
    // the explode+groupBy batch operator by construction
    "q241_stream_mixed_lang" -> PipelineOracle.mixedLang(16),
    // recall-contract gate (q163/q164/q222/q229 discipline)
    "q242_truncated_recall" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id < 10"),
    "q243_windowed_profile" -> PipelineOracle.profileWindowed(
      3600000000L, Seq("user_id", "event_type", "value")),
    "q244_retention_halflife" -> PipelineOracle.retentionHalfLife,
    "q245_skipgram_counts" -> PipelineOracle.skipgramCounts(3, 20),
    "q246_embed_covariance" -> PipelineOracle.embedCovariance,
    // same oracle as q243: batch execution delegates to the batch
    // operator; the streaming plan is pinned by StreamingSpec
    "q247_stream_profile" -> PipelineOracle.profileWindowed(
      3600000000L, Seq("user_id", "event_type", "value")),
    "q248_pca_power" -> PipelineOracle.pcaPower(12),
    "q249_pca_project" -> PipelineOracle.pcaProject(12),
    "q250_profile_sketch" -> PipelineOracle.profileWindowedSketch(
      3600000000L, Seq("user_id", "event_type", "value")),
    "q251_mutual_info" -> PipelineOracle.mutualInfo(
      "documents", "lang", "source"),
    "q252_source_overlap" -> PipelineOracle.sourceOverlap,
    "q253_neg_sampling" -> PipelineOracle.negSamplingTable(0.75),
    "q254_cvm_drift" -> Oracle.cvm("events", Oracle.Spec("value", axValue),
      "event_type = 'view'", "event_type = 'click'"),
    "q255_stream_cvm" -> Oracle.cvmFromByDim("events",
      Oracle.Spec("value", axValue),
      "make_timestamp(((epoch_ns(ts) // 1000) // 3600000000) * 3600000000)",
      "window_start", where = "ts IS NOT NULL"),
    "q256_stream_gini" -> PipelineOracle.windowedGini(3600000000L),
    "q257_lexical_richness" -> PipelineOracle.lexicalRichness,
    "q258_rolling_retention" -> PipelineOracle.rollingRetention,
    "q259_pca_deflate" -> PipelineOracle.pcaDeflate(12),
    "q260_pca_project2d" -> PipelineOracle.pcaProject2d(12),
    "q318_pca_whiten" -> PipelineOracle.pcaWhiten(12),
    "q261_session_perplexity" -> PipelineOracle.sessionPerplexity,
    "q262_quantile_calibrate" -> PipelineOracle.quantileCalibrate,
    "q263_profile2d" -> Oracle.profile2d("lineitem",
      Oracle.Spec("l_quantity", axQty10), Oracle.Spec("l_tax", axTax),
      "l_extendedprice"),
    "q264_remove_top_component" -> PipelineOracle.removeTopComponent(12),
    "q265_attribution_decay" -> PipelineOracle.attributionTimeDecay(
      "purchase", "view", 3600000000L, 1800000000L),
    "q266_seasonality" -> PipelineOracle.seasonality,
    "q267_seasonal_anomaly" -> PipelineOracle.seasonalAnomaly,
    "q268_welch_t" -> Oracle.welchT("events", "value",
      "event_type = 'view'", "event_type = 'click'"),
    "q269_mean_shift_scan" -> Oracle.meanShiftScan("events",
      "epoch_ns(ts) // 1000", "event_type", "value", "event_type"),
    "q270_cusum" -> PipelineOracle.cusum(5.0, 50.0),
    "q271_stream_cusum" -> PipelineOracle.cusumFrom(100.0, 5.0, 50.0),
    "q272_skyline" -> PipelineOracle.skylineLineitem,
    "q273_blocking_report" -> PipelineOracle.blockingReport(),
    "q274_hist_smooth" -> Oracle.smooth("events",
      Oracle.Spec("value", axValue), 2),
    "q275_hist_peaks" -> Oracle.peaks("events",
      Oracle.Spec("value", axValue)),
    "q276_ab_test" -> PipelineOracle.abTest("purchase"),
    "q277_ab_trajectory" -> PipelineOracle.abTrajectory("purchase"),
    "q278_pagerank" -> PipelineOracle.pagerank(0.85, 20),
    "q279_lorenz" -> PipelineOracle.lorenzCurve,
    "q280_hellinger" -> Oracle.hellinger("events",
      Oracle.Spec("value", axValue),
      "event_type = 'view'", "event_type = 'click'"),
    "q281_rfm" -> PipelineOracle.rfm,
    "q282_stream_hellinger" -> Oracle.hellingerFromByDim("events",
      Oracle.Spec("value", axValue),
      "make_timestamp(((epoch_ns(ts) // 1000) // 3600000000) * 3600000000)",
      "window_start", where = "ts IS NOT NULL"),
    "q326_stream_js" -> Oracle.jsDivergenceByDim("events",
      Oracle.Spec("value", axValue),
      "make_timestamp(((epoch_ns(ts) // 1000) // 3600000000) * 3600000000)",
      "window_start", where = "ts IS NOT NULL"),
    "q283_es_sample" -> PipelineOracle.sampleWeightedExactK(200, "es"),
    "q284_hist_subtract" -> Oracle.histSubtract("lineitem",
      Oracle.Spec("l_quantity", axQty), "TRUE", "l_linestatus = 'O'"),
    "q285_bootstrap_ci" -> PipelineOracle.bootstrapCi(32, "bs"),
    // same oracle as q246: the aggregate path must be bit-identical
    "q286_covariance_agg" -> PipelineOracle.embedCovariance,
    "q287_media_qa" -> PipelineOracle.mediaQa(),
    "q288_auc" -> PipelineOracle.auc("event_type = 'purchase'"),
    "q328_auc_ci" ->
      PipelineOracle.aucCi("event_type = 'purchase'", 1.959963984540054),
    "q329_center_embeddings" -> PipelineOracle.centerEmbeddings,
    "q330_stream_neardup" -> PipelineOracle.crossNearDup("TRUE", "doc_id < 50"),
    "q331_zorder_qcells" -> PipelineOracle.zorderQCells(8, 3),
    "q333_theil_sen" -> PipelineOracle.theilSen,
    "q334_top_terms_rbo" -> PipelineOracle.topTermsRbo(3600000000L, 3, 0.9),
    "q335_brier_decomposition" ->
      PipelineOracle.brierDecomposition("event_type = 'purchase'"),
    "q336_spearman" -> PipelineOracle.spearman,
    "q338_theil_sen_by_key" -> PipelineOracle.theilSenByKey,
    "q339_daily_acf1" -> PipelineOracle.dailyAcf1,
    "q337_dsir_ess" -> PipelineOracle.dsirEss(
      "source IN ('src0', 'src1', 'src2')", 1024),
    "q332_hist_cube" -> Oracle.histCube("lineitem",
      Oracle.Spec("l_quantity", axQty10), Seq("l_returnflag", "l_linestatus")),
    "q289_mann_whitney" -> PipelineOracle.mannWhitney("event_type = 'purchase'"),
    "q290_reliability" -> PipelineOracle.reliability("event_type = 'purchase'"),
    "q291_km_survival" -> PipelineOracle.kmSurvival(2),
    "q292_js_drift" -> Oracle.jsDivergence("events",
      Oracle.Spec("value", axValue),
      "event_type = 'view'", "event_type = 'click'"),
    "q293_heaps_fit" -> PipelineOracle.heapsFit(100L),
    "q294_cms_contract" -> PipelineOracle.cmsContract(8, 4),
    "q295_dup_triangles" -> PipelineOracle.dupTriangles(),
    "q296_stream_ece" -> PipelineOracle.windowedEce("event_type = 'purchase'"),
    "q297_grid_density" -> PipelineOracle.gridDensity(16, 5L),
    "q298_hist_regrid" -> Oracle.regrid("lineitem",
      Oracle.Spec("l_quantity", axQty), Seq(0.0, 7.5, 20.0, 35.0, 51.0)),
    "q299_ndcg_ann" -> PipelineOracle.ndcgAnn(5, 10),
    "q300_classifier_eval" ->
      PipelineOracle.classifierEval("event_type = 'purchase'", 256.0),
    "q301_benford" -> PipelineOracle.benfordAudit(),
    "q302_knn_classify" -> PipelineOracle.knnClassify(5, 10),
    "q303_ab_power" -> PipelineOracle.abPower("purchase"),
    "q304_daily_auc" -> PipelineOracle.aucByDay("event_type = 'purchase'"),
    "q305_km_summary" -> PipelineOracle.kmSummary(2),
    "q306_best_threshold" ->
      PipelineOracle.bestThreshold("event_type = 'purchase'"),
    "q307_hist_convolve" -> Oracle.convolve("events",
      Oracle.Spec("value", axValue), Oracle.Spec("value", axValue),
      "event_type = 'view'", "event_type = 'click'", "value_value_sum_bins"),
    "q308_stream_benford" -> PipelineOracle.windowedBenford(),
    "q309_pr_curve" -> PipelineOracle.prCurve("event_type = 'purchase'"),
    "q310_logistic_fit" ->
      PipelineOracle.logisticFit("event_type = 'purchase'", 8, 1.0),
    "q311_stream_auc" ->
      PipelineOracle.windowedAuc("event_type = 'purchase'"),
    "q312_calibrated_eval" ->
      PipelineOracle.calibratedEval("event_type = 'purchase'", 8, 1.0),
    "q313_hist2d_qbins_sketch" ->
      // both axes' GK-exact-regime edges re-derived in SQL (the q140
      // rank rule per axis: edge j = value at 1-based rank
      // ceil(j/6 * n); p=0 -> min, p=1 -> max), then half-open 2D
      // Variable binning exactly like q170
      """WITH sx AS (SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem WHERE l_quantity IS NOT NULL),
        | cx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sx),
        | rkx AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM sx),
        | tgx AS (SELECT CAST(CEIL(CAST(j AS DOUBLE) / CAST(6 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT) AS r
        |   FROM (SELECT UNNEST(generate_series(1, 5)) AS j) CROSS JOIN cx),
        | qex AS (SELECT DISTINCT rkx.v FROM rkx JOIN tgx ON tgx.r = rkx.r),
        | mmx AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM sx),
        | edx AS (SELECT DISTINCT v FROM (SELECT lo AS v FROM mmx UNION ALL SELECT v FROM qex UNION ALL SELECT hi AS v FROM mmx)),
        | ecx AS (SELECT CAST(COUNT(*) AS BIGINT) - 1 AS nb FROM edx),
        | erx AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM edx),
        | sy AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem WHERE l_extendedprice IS NOT NULL),
        | cy AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sy),
        | rky AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM sy),
        | tgy AS (SELECT CAST(CEIL(CAST(j AS DOUBLE) / CAST(6 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT) AS r
        |   FROM (SELECT UNNEST(generate_series(1, 5)) AS j) CROSS JOIN cy),
        | qey AS (SELECT DISTINCT rky.v FROM rky JOIN tgy ON tgy.r = rky.r),
        | mmy AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM sy),
        | edy AS (SELECT DISTINCT v FROM (SELECT lo AS v FROM mmy UNION ALL SELECT v FROM qey UNION ALL SELECT hi AS v FROM mmy)),
        | ecy AS (SELECT CAST(COUNT(*) AS BIGINT) - 1 AS nb FROM edy),
        | ery AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM edy),
        | src AS (SELECT CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem),
        | ix AS (SELECT (SELECT COUNT(*) FROM edx WHERE edx.v <= src.x) - 1 AS i,
        |   (SELECT COUNT(*) FROM edy WHERE edy.v <= src.y) - 1 AS j FROM src),
        | f AS (SELECT i, j FROM ix CROSS JOIN ecx CROSS JOIN ecy WHERE i >= 0 AND i <= ecx.nb - 1 AND j >= 0 AND j <= ecy.nb - 1),
        | g AS (SELECT i, j, CAST(COUNT(*) AS DOUBLE) AS cnt FROM f GROUP BY i, j)
        | SELECT erx.v AS l_quantity_bins, ery.v AS l_extendedprice_bins, g.cnt
        | FROM g JOIN erx ON erx.r = g.i + 1 JOIN ery ON ery.r = g.j + 1""".stripMargin.replaceAll("\n", ""),
    "q314_repeated_spans" -> PipelineOracle.repeatedSpans(8),
    // contract gate (q157/q163 discipline): the oracle emits the TRUE
    // verdict rows over the deterministic query ids, so a recall-bound
    // violation on real data hash-mismatches
    "q315_knn_graph_recall" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id < 10"),
    "q316_repeated_span_removal" -> PipelineOracle.removeRepeatedSpans(8),
    // contract gate (q315 discipline): the oracle emits the TRUE verdict
    // rows over the deterministic query ids, so a recall-bound violation
    // on real data hash-mismatches
    "q317_graph_ann_search" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id < 10"),
    "q319_cartography" -> PipelineOracle.cartography(50.0, 49.0, 47.0),
    "q320_excess_loss_select" ->
      PipelineOracle.excessLossSelect("CAST('0.4' AS DOUBLE)"),
    "q321_zorder_cells" ->
      PipelineOracle.zorderCells(8, 1.0, 51.0, 900.0, 105000.0),
    "q322_stream_novelty" -> PipelineOracle.windowedNovelty(3600000000L),
    "q323_jl_project" -> PipelineOracle.jlProject(16),
    "q324_doremi_weights" -> PipelineOracle.doremiWeights(1.0),
    "q325_jl_search_recall" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id < 10"),
    "q327_graph_diversify_search" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id < 10"),
    // ≥200k-vector scale contracts (q315/q157 discipline at 100× the
    // organic scale): the corpus is synthetic and deterministic, the
    // ground truth analytic, so the oracle is the constant TRUE verdict
    // — any recall/completeness regression hash-mismatches
    "q340_knn_graph_scale" ->
      "SELECT CAST(200000 AS BIGINT) AS n_nodes, TRUE AS recall_ok",
    "q341_graph_search_scale" ->
      "SELECT CAST(200 AS BIGINT) AS n_queries, TRUE AS recall_ok",
    "q342_ann_lsh_scale" ->
      "SELECT CAST(200 AS BIGINT) AS n_queries, TRUE AS recall_ok",
    "q343_ann_ivf_scale" ->
      "SELECT CAST(200 AS BIGINT) AS n_queries, TRUE AS recall_ok",
    "q344_jl_search_scale" ->
      "SELECT CAST(200 AS BIGINT) AS n_queries, TRUE AS recall_ok",
    // the bucketed-layout sink gated end-to-end: the oracle runs the
    // SAME verdict join + rollup off the FLAT parquet; zero_exchange is
    // the Spark-side plan pin (TRUE constant here)
    "q345_bucketed_dedup_join" ->
      ("WITH keep AS (SELECT doc_id, source, n_chars, " +
        "CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) " +
        "THEN 1 ELSE 0 END AS k FROM documents) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(k) AS BIGINT) AS n_keepers, " +
        "CAST(SUM(CASE WHEN k = 1 THEN n_chars ELSE 0 END) AS BIGINT) " +
        "AS kept_chars, TRUE AS zero_exchange FROM keep GROUP BY source"),
    "q346_novelty_bounded" ->
      PipelineOracle.windowedNoveltyBounded(3600000000L, 14400000000L),
    "q347_mmr_rerank" -> PipelineOracle.mmrRerank(5, 10, 10L, 0.7),
    "q348_unimax" -> PipelineOracle.unimax(50000L, 2),
    "q349_ivfpq_scale" ->
      "SELECT CAST(200 AS BIGINT) AS n_queries, TRUE AS recall_ok",
    "q350_matryoshka_scale" ->
      ("SELECT * FROM (VALUES (8, CAST(200 AS BIGINT), TRUE), " +
        "(16, CAST(200 AS BIGINT), TRUE), (32, CAST(200 AS BIGINT), TRUE)) " +
        "t(dims, n_queries, recall_ok)"),
    "q351_isotonic_calibrate" -> PipelineOracle.isotonicCalibrate(50),
    "q352_mrr_scale" ->
      "SELECT CAST(200 AS BIGINT) AS n_queries, TRUE AS mrr_ok",
    "q353_chi2_independence" -> PipelineOracle.chi2Independence,
    "q354_conformal_threshold" ->
      PipelineOracle.conformalThreshold(0.1, 0.3, "conf"),
    "q355_tail_index" -> PipelineOracle.tailIndex(100),
    "q356_conformal_coverage" ->
      PipelineOracle.conformalCoverage(0.1, 0.3, "conf"),
    "q357_semdedup_scale" ->
      "SELECT CAST(40000 AS BIGINT) AS n_clusters, TRUE AS dedup_ok",
    "q358_neardup_scale" ->
      "SELECT CAST(400000 AS BIGINT) AS n_true_pairs, TRUE AS recall_ok",
    "q359_chunk_dedup" -> PipelineOracle.chunkDedup(10),
    "q360_chunk_dedup_hash" -> PipelineOracle.chunkDedup(10, hashKey = true),
    "q361_exactsubstr_minlen50" -> PipelineOracle.removeRepeatedSpans(50),
    "q362_exactsubstr_keepfirst" ->
      PipelineOracle.removeRepeatedSpansKeepFirst(50),
    "q363_mmr_scale" ->
      "SELECT CAST(200 AS BIGINT) AS n_queries, TRUE AS mmr_ok"
  )
}
