package graft.streaming

import graft.axes.BinAxis
import graft.stats.HistStats
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators.
  *
  * Streaming histogram = the same single-aggregation plan as the batch
  * operator (graft.operators.Histogram), keyed by (event-time window, bin
  * index) with a watermark bounding state. Spark's incremental HashAggregate
  * maintains per-(window, bin) partial counts — state size is
  * #windows x #bins, independent of event volume.
  */
object StreamingHist {

  /** Parse a fixed-length tumbling-window duration to microseconds —
    * the batch branches' integer window key. Calendar months are not
    * fixed-length and must use the streaming `window()` path. */
  private[graft] def fixedWindowUs(windowDuration: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String
        .fromString(windowDuration))
    require(iv.months == 0,
      "calendar-month windows are not fixed-length; use the window() path")
    val durUs = iv.days * 86400000000L + iv.microseconds
    require(durUs > 0, s"window duration must be positive: $windowDuration")
    durUs
  }

  /** Event-time windowed histogram: one histogram per tumbling window.
    * Works identically on a batch or streaming DataFrame.
    *
    * Streaming keeps the `window()` struct key — Spark's state eviction
    * needs the event-time window column. Batch execution uses plain
    * integer arithmetic on epoch micros instead: the same tumbling
    * assignment (`start = ts - ts mod duration`, Spark's own formula for
    * epoch-aligned windows) grouped by a LONG key rather than a
    * (start, end) struct — cheaper hashing/compare in the aggregate
    * hot path, identical rows out. */
  def windowedHistogram(df: DataFrame, tsCol: String, x: Column, ax: BinAxis,
      windowDuration: String, watermark: String = "10 seconds",
      slideDuration: Option[String] = None): DataFrame = {
    if (df.isStreaming) {
      windowBinCounts(df, tsCol, x, ax, windowDuration,
          slideDuration.getOrElse(windowDuration), watermark)
        .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
          ax.label(col("__i0")).as(ax.binsCol), col("cnt"))
    } else {
      val durUs = fixedWindowUs(windowDuration)
      val slideUs = slideDuration.map(fixedWindowUs).getOrElse(durUs)
      require(durUs % slideUs == 0,
        s"window duration must be a multiple of the slide: $windowDuration / " +
          slideDuration.getOrElse(windowDuration))
      // each event lands in duration/slide windows whose starts are the
      // slide-aligned floor and its nW-1 predecessors — the same window
      // set Spark's TimeWindowing generates (startTime 0); tumbling is
      // nW == 1 with zero extra work (explode of a 1-element array)
      val nW = durUs / slideUs
      val us = unix_micros(col(tsCol))
      // window() drops null timestamps (TimeWindowing inserts an
      // IsNotNull filter); mirror that so batch == streaming rows
      df.filter(col(tsCol).isNotNull &&
          ax.keepPred(x, includeUnder = false, includeOver = false))
        .select((us - pmod(us, lit(slideUs))).as("__w0"), ax.index(x).as("__i0"))
        .withColumn("__wi", explode(sequence(lit(0L), lit(nW - 1))))
        .select((col("__w0") - col("__wi") * lit(slideUs)).as("__ws"), col("__i0"))
        // a hash aggregate, not the keyed histogram kernel: on 4M pinned
        // rows (4 cpus) the kernel took 15-40% longer at 720 hourly
        // windows x 100 bins and at 1e5 sliding windows x 10 bins
        .groupBy(col("__ws"), col("__i0"))
        .agg(count(lit(1)).cast("double").as("cnt"))
        .select(timestamp_micros(col("__ws")).as("window_start"),
          timestamp_micros(col("__ws") + lit(durUs)).as("window_end"),
          ax.label(col("__i0")).as(ax.binsCol), col("cnt"))
    }
  }

  /** The streaming stateful aggregation under [[windowedHistogram]] and
    * the live monitors: watermarked in-range counts per (event-time
    * window struct `win`, bin index `__i0`) — state #windows×#bins,
    * independent of event volume. */
  private def windowBinCounts(df: DataFrame, tsCol: String, x: Column, ax: BinAxis,
      windowDuration: String, slideDuration: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .filter(ax.keepPred(x, includeUnder = false, includeOver = false))
      .select(window(col(tsCol), windowDuration, slideDuration).as("win"),
        ax.index(x).as("__i0"))
      .groupBy(col("win"), col("__i0"))
      .agg(count(lit(1)).cast("double").as("cnt"))

  /** One live monitor's streaming stage, built by [[monitor]]: the axis's
    * in-range (label, width) rows in ascending order (the fold order the
    * batch side sorts into), the driver-collected reference counts per
    * label, and `windows` — one row per closed event-time window with
    * its ≤ nBins (label, count) pairs in `__a`. All of it is bins-sized.
    *
    * Streaming == batch BIT-EXACTLY for every monitor, by construction:
    * window bin counts, their totals and running cumulatives are sums of
    * integer-valued doubles — exact below 2^53, so they equal the batch
    * side's DECIMAL-exact values after its one double cast; the reference
    * ratios and CDF are computed once driver-side from the same
    * integer-valued counts; each per-bin term is the batch side's IEEE
    * sequence on identical operands; terms fold left to right in
    * ascending label order, and the terms the batch side never sees (a
    * bin absent from both window and reference, or the 0.0 seed) add an
    * IEEE-neutral +0.0. StreamingSpec asserts the exact equality. */
  private final class Live(bins: Seq[(Double, Double)], ref: Map[Double, Double],
      windows: DataFrame) {
    val labels: Seq[Double] = bins.map(_._1)
    val widths: Seq[Double] = bins.map(_._2)
    val refCnt: Seq[Double] = labels.map(ref.getOrElse(_, 0.0))
    val refTot: Double = ref.values.sum // integer-valued doubles: exact
    def refCdf: Seq[Double] = refCnt.scanLeft(0.0)(_ + _).tail.map(_ / refTot)
    /** The window's count in bin `label`, 0 where it has none. */
    def cnt(label: Column): Column =
      coalesce(element_at(map_from_entries(col("__a")), label), lit(0.0))
    val cnts: Seq[Column] = labels.map(l => cnt(lit(l)))
    val total: Column = aggregate(col("__a"), lit(0.0), (acc, e) => acc + e.getField("cnt"))
    /** Running window-side cumulative: a Column chain over the static
      * ascending label list (a bins-sized expression tree). */
    def cums: Seq[Column] = cnts.scanLeft(lit(0.0))(_ + _).tail
    def select(cols: Column*): DataFrame =
      windows.select(col("__w2.start").as("window_start") +: cols: _*)
  }

  /** A live drift monitor: per event-time window, `batch` scores the batch
    * windowed histogram (dims `window_start`) against `ref` — the
    * oracle-gated configuration; a streaming input instead chains TWO
    * stateful aggregations (the q177 discipline) — [[windowBinCounts]],
    * then a per-window collect of its ≤ nBins closed rows keyed through
    * window_time so the chain stays append-legal — and `live` scores each
    * window's array map-side against the driver-collected reference. The
    * reference must carry only in-range axis labels (flow rows raise) and,
    * unless `emptyRefOk`, positive mass. A window with zero in-range
    * events emits no row on either path. */
  private def monitor(df: DataFrame, tsCol: String, x: Column, ax: BinAxis,
      windowDuration: String, ref: DataFrame, watermark: String,
      emptyRefOk: Boolean = false)(batch: DataFrame => DataFrame)(
      live: Live => DataFrame): DataFrame =
    if (!df.isStreaming) {
      batch(windowedHistogram(df, tsCol, x, ax, windowDuration)
        .select(col("window_start"), col(ax.binsCol), col("cnt")))
    } else {
      val bins = HistStats.binsTable(df.sparkSession, ax)
        .select(col("left_edge").cast("double"), col("width").cast("double"))
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toSeq
      val refRows = ref
        .select(col(ax.binsCol).cast("double"), col("cnt").cast("double"))
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      require(refRows.keySet.subsetOf(bins.map(_._1).toSet),
        "reference histogram carries bins outside the axis (flow rows?)")
      require(emptyRefOk || refRows.values.sum > 0.0, "reference histogram is empty")
      live(new Live(bins, refRows,
        windowBinCounts(df, tsCol, x, ax, windowDuration, windowDuration, watermark)
          .select(col("win"), ax.label(col("__i0")).cast("double").as("__b"), col("cnt"))
          .groupBy(window(window_time(col("win")), windowDuration).as("__w2"))
          .agg(collect_list(struct(col("__b"), col("cnt"))).as("__a"))))
    }

  /** Per-window Population Stability Index against a STATIC reference
    * histogram — the LIVE drift monitor ("alarm when this hour's
    * distribution drifts past 0.25 from the training snapshot"). Batch is
    * HistStats.psiFrom (q191); streaming is [[monitor]]'s and bit-exact by
    * [[Live]]'s argument — the batch fold covers only bins present in
    * window or reference, and an absent-in-both bin contributes exactly
    * (eps−eps)·qln(1) = +0.0. */
  def windowedPsi(df: DataFrame, tsCol: String, x: Column, ax: BinAxis,
      windowDuration: String, ref: DataFrame, eps: Double = 1e-6,
      watermark: String = "10 seconds"): DataFrame = {
    require(eps > 0.0, s"eps must be positive: $eps")
    monitor(df, tsCol, x, ax, windowDuration, ref, watermark)(
      HistStats.psiFrom(_, ref, ax, dims = Seq("window_start"), eps = eps)) { s =>
      val terms = s.cnts.lazyZip(s.refCnt).map { (c, r) =>
        val q = math.max(r / s.refTot, eps)
        val ph = greatest(c / s.total, lit(eps))
        (ph - lit(q)) * HistStats.qln(ph / lit(q))
      }
      s.select(terms.reduceLeft(_ + _).as("psi"))
    }
  }

  /** Per-window Earth Mover's Distance against a STATIC reference
    * histogram — the [[windowedPsi]] monitor with HistStats.emd's
    * units-carrying score ("this hour's scores sit ~12 points from the
    * training snapshot", not just "drifted"). Batch is HistStats.emdFrom;
    * streaming is [[monitor]]'s, with the per-bin |CDFa−CDFb|·width
    * term. Contracts are HistStats.emd's. */
  def windowedEmd(df: DataFrame, tsCol: String, x: Column, ax: BinAxis,
      windowDuration: String, ref: DataFrame,
      watermark: String = "10 seconds"): DataFrame =
    monitor(df, tsCol, x, ax, windowDuration, ref, watermark)(
      HistStats.emdFrom(_, ref, ax, dims = Seq("window_start"))) { s =>
      val terms = s.cums.lazyZip(s.refCdf).lazyZip(s.widths).map {
        (cum, q, w) => abs(cum / s.total - lit(q)) * lit(w)
      }
      s.select(terms.reduceLeft(_ + _).as("emd"))
    }

  /** Per-window binned Kolmogorov–Smirnov statistic against a STATIC
    * reference histogram — the classic 0..1 largest-CDF-gap alarm of the
    * live family. Batch is HistStats.ksFrom; streaming is [[monitor]]'s,
    * taking the gap MAX (order-free on both sides). Contracts are
    * HistStats.ks's. */
  def windowedKs(df: DataFrame, tsCol: String, x: Column, ax: BinAxis,
      windowDuration: String, ref: DataFrame,
      watermark: String = "10 seconds"): DataFrame =
    monitor(df, tsCol, x, ax, windowDuration, ref, watermark)(
      HistStats.ksFrom(_, ref, ax, dims = Seq("window_start"))) { s =>
      val gaps = s.cums.lazyZip(s.refCdf).map((cum, q) => abs(cum / s.total - lit(q)))
      s.select((if (gaps.size == 1) gaps.head else greatest(gaps: _*)).as("ks"))
    }

  /** Per-window binned Cramér–von Mises against a STATIC reference
    * histogram — the integrated-gap head of the live family (CvM sums
    * EVERY squared CDF gap, catching many moderate gaps that never trip
    * KS's max). Batch is HistStats.cvmFrom; streaming is [[monitor]]'s,
    * each term one division, one subtraction, one multiply (g·g).
    * Contracts are HistStats.cvm's. */
  def windowedCvm(df: DataFrame, tsCol: String, x: Column, ax: BinAxis,
      windowDuration: String, ref: DataFrame,
      watermark: String = "10 seconds"): DataFrame =
    monitor(df, tsCol, x, ax, windowDuration, ref, watermark)(
      HistStats.cvmFrom(_, ref, ax, dims = Seq("window_start"))) { s =>
      val terms = s.cums.lazyZip(s.refCdf).map { (cum, q) =>
        val g = cum / s.total - lit(q)
        g * g
      }
      s.select(terms.reduceLeft(_ + _).as("cvm"))
    }

  /** Per-window HELLINGER distance against a STATIC reference histogram
    * — the bounded symmetric metric of the live family (H ∈ [0,1], a
    * true metric, no epsilon floor). Batch is HistStats.hellinger over
    * the reference grid per window; streaming is [[monitor]]'s, each
    * term one division per side, one multiply and one correctly-rounded
    * sqrt, then the same H = √(max(0, 1−BC)) tail. Contracts are
    * HistStats.hellinger's. */
  def windowedHellinger(df: DataFrame, tsCol: String, x: Column,
      ax: BinAxis, windowDuration: String, ref: DataFrame,
      watermark: String = "10 seconds"): DataFrame =
    monitor(df, tsCol, x, ax, windowDuration, ref, watermark)(wh =>
      HistStats.hellinger(wh, HistStats.refGrid(wh, ref, ax, Seq("window_start")), ax,
        dims = Seq("window_start"))) { s =>
      val bc = s.cnts.lazyZip(s.refCnt).map((c, r) =>
        sqrt((c / s.total) * lit(r / s.refTot))).reduceLeft(_ + _)
      s.select(bc.as("bc"), sqrt(greatest(lit(0.0), lit(1.0) - bc)).as("hellinger"))
    }

  /** Per-window Jensen–Shannon divergence against a STATIC reference
    * histogram — the windowed form of HistStats.jsDivergence (q292):
    * symmetric, finite on empty bins (a bin empty on one side
    * contributes q·ln2, not an epsilon clamp), and bounded by ln 2, so
    * alert thresholds transfer across deployments. Batch is
    * HistStats.jsDivergence over the reference grid per window;
    * streaming is [[monitor]]'s, with the 1e-9-quantized ln on
    * bit-identical operands. */
  def windowedJs(df: DataFrame, tsCol: String, x: Column,
      ax: BinAxis, windowDuration: String, ref: DataFrame,
      watermark: String = "10 seconds"): DataFrame =
    monitor(df, tsCol, x, ax, windowDuration, ref, watermark)(wh =>
      HistStats.jsDivergence(wh, HistStats.refGrid(wh, ref, ax, Seq("window_start")), ax,
        dims = Seq("window_start"))) { s =>
      val terms = s.cnts.lazyZip(s.refCnt).map { (ca, r) =>
        val cb = lit(r)
        val p = ca / s.total
        val q = cb / lit(s.refTot)
        val m = (p + q) / lit(2.0)
        when(ca > lit(0.0), p * HistStats.qln(p / m)).otherwise(lit(0.0)) +
          when(cb > lit(0.0), q * HistStats.qln(q / m)).otherwise(lit(0.0))
      }
      s.select((terms.reduceLeft(_ + _) / lit(2.0)).as("js"))
    }

  /** Per-window per-bin PULL against a STATIC reference histogram — the
    * drill-down beside the scalar alarms: WHICH bins moved this hour,
    * and by how many Poisson sigmas. Batch is HistStats.pullFrom;
    * streaming is [[monitor]]'s, emitting a row for every bin the window
    * OR the reference occupies (the batch full-outer semantics), so a
    * bin that DISAPPEARED from live traffic still surfaces with
    * cnt_a = 0. No fold, no cumulative: the (a−b)/√(a+b) tail is one
    * fixed IEEE sequence per row. An empty reference is allowed. */
  def windowedPull(df: DataFrame, tsCol: String, x: Column, ax: BinAxis,
      windowDuration: String, ref: DataFrame,
      watermark: String = "10 seconds"): DataFrame =
    monitor(df, tsCol, x, ax, windowDuration, ref, watermark, emptyRefOk = true)(
      HistStats.pullFrom(_, ref, ax, dims = Seq("window_start"))) { s =>
      // every axis label rides as a literal (label, refCnt) struct; the
      // both-absent rows filter out, reproducing the batch full-outer
      val binArr = array(s.labels.lazyZip(s.refCnt).map((l, r) =>
        struct(lit(l).as("l"), lit(r).as("cb"))): _*)
      s.select(explode(binArr).as("__e"), col("__a"))
        .select(col("window_start"), col("__e.l").as(ax.binsCol),
          s.cnt(col("__e.l")).as("cnt_a"), col("__e.cb").as("cnt_b"))
        .filter(col("cnt_a") > 0.0 || col("cnt_b") > 0.0)
        .withColumn("pull",
          when(col("cnt_a") + col("cnt_b") > lit(0.0),
            (col("cnt_a") - col("cnt_b")) / sqrt(col("cnt_a") + col("cnt_b")))
            .otherwise(lit(null).cast("double")))
    }

  /** STATELESS streaming decontamination — the live-ingest screen for
    * Dedup.decontaminate's batch semantics: each arriving document is
    * flagged row-locally against the (static, eval-set-sized) benchmark
    * gram set, so the operator composes into any streaming pipeline
    * with NO state, no watermark, and exact batch parity (same rows on
    * the same input, batch or stream — it is one narrow projection).
    *
    * The benchmark's distinct word n-grams are collected ONCE
    * driver-side and ride as an array literal: eval sets are small by
    * nature (the same assumption Dedup.decontaminate's broadcast makes;
    * the corpus-scale-benchmark regime belongs to decontaminateBloom,
    * whose per-doc aggregation needs a batch pass). The per-row check
    * is arrays_overlap(doc grams, benchmark grams) — builtins only,
    * grams built with the same \\S+ tokenizer and space join as the
    * batch path. Docs with NULL text or fewer than n tokens are clean
    * by definition. */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame,
      n: Int = 13): DataFrame = {
    require(!benchmark.isStreaming,
      "the benchmark side is a static eval set")
    val bgRows = benchmark.filter(col("text").isNotNull)
      .select(expr("""regexp_extract_all(text, '\\S+', 0)""").as("__t"))
      .filter(size(col("__t")) >= n)
      .select(explode(expr(
        s"transform(sequence(1, size(__t) - ${n - 1}), " +
          s"i -> array_join(slice(__t, i, $n), ' '))")).as("g"))
      .distinct().collect().map(_.getString(0)).sorted
    val bg = typedLit(bgRows.toSeq)
    val grams = expr(
      s"transform(sequence(1, size(__t) - ${n - 1}), " +
        s"i -> array_join(slice(__t, i, $n), ' '))")
    docs.select(col("doc_id"),
        expr("""regexp_extract_all(text, '\\S+', 0)""").as("__t"))
      .select(col("doc_id"),
        when(col("__t").isNull || size(col("__t")) < n, lit(false))
          .otherwise(coalesce(arrays_overlap(grams, bg), lit(false)))
          .as("contaminated"))
  }

  /** STATELESS streaming mixed-language detector — the row-local form
    * of TextAnalysis.mixedLang (same semantics, gated on the SAME
    * oracle): each arriving doc's chunk votes are computed entirely
    * inside the row with higher-order array functions — chunk slicing,
    * per-chunk marker scores, the langId argmax, vote counts, the
    * lexically-smallest-majority rule, all with NO explode, NO doc-keyed
    * aggregation and NO state. That makes it simultaneously the live
    * screen (composes into any streaming pipeline) AND the better batch
    * scale shape for wide rows (the explode+groupBy form shuffles one
    * row per chunk; this shuffles nothing).
    *
    * Row-identical to the batch operator by construction: the chunk
    * starts are chunkDocs' rule at stride = window, per-chunk scores are
    * langId's marker counts, the argmax folds languages in the same
    * declaration order, majority ties break to the lexically smallest
    * language, and the majority fraction is the same single division. */
  def mixedLangStream(docs: DataFrame, window: Int = 32): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    val w = window
    def occ(p: String): String = {
      val esc = p.replace("'", "''")
      s"CAST((length(c) - length(replace(c, '$esc', ''))) / ${p.length} AS BIGINT)"
    }
    val markers = graft.pipeline.TextAnalysis.langMarkers
    val langs = markers.map(_._1)
    val scoreFields = markers.map { case (l, pats) =>
      s"${pats.map(occ).mkString(" + ")} AS $l"
    }.mkString(", ")
    // langId's argmax in declaration order, 'und' when all scores 0
    val pred = langs.map { l =>
      val isMax = langs.filter(_ != l).map(o => s"s.$l >= s.$o").mkString(" AND ")
      s"WHEN s.$l > 0 AND $isMax THEN '${l}'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    val allLangs = (langs :+ "und").sorted // lexical order for the tie rule
    val cnts = allLangs.map(l =>
      s"CAST(size(filter(__preds, p -> p = '$l')) AS BIGINT) AS $l")
      .mkString(", ")
    val majority = allLangs.init.map(l =>
      s"WHEN __c.$l = __m THEN '$l'").mkString(
      "CASE ", " ", s" ELSE '${allLangs.last}' END")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        expr("""regexp_extract_all(text, '\\S+', 0)""").as("__t"))
      .withColumn("__len", size(col("__t")).cast("long"))
      .filter(col("__len") > 0L)
      .withColumn("__maxStart", when(col("__len") <= w, lit(0L))
        .otherwise(expr(s"CAST(((__len - $w + $w - 1) div $w) AS BIGINT) * $w")))
      .withColumn("__chunks", expr(
        s"transform(sequence(CAST(0 AS BIGINT), __maxStart, CAST($w AS BIGINT)), " +
          s"st -> ' ' || array_join(slice(__t, CAST(st + 1 AS INT), $w), ' ') || ' ')"))
      .withColumn("__preds", expr(
        s"transform(transform(__chunks, c -> struct($scoreFields)), s -> $pred)"))
      .withColumn("__c", expr(s"struct($cnts)"))
      .withColumn("__m", expr(
        s"greatest(${allLangs.map(l => s"__c.$l").mkString(", ")})"))
      .select(col("doc_id"),
        size(col("__preds")).cast("long").as("n_chunks"),
        size(array_distinct(col("__preds"))).cast("long").as("n_langs"),
        expr(majority).as("majority_lang"),
        (col("__m").cast("double") /
          size(col("__preds")).cast("double")).as("majority_frac"),
        (size(array_distinct(col("__preds"))) > 1).as("mixed"))
  }

  case class DocEvent(doc_id: Long, content_hash: String)
  case class DedupVerdict(doc_id: Long, content_hash: String, first_seen: Boolean)

  /** Stateful streaming exact-dedup: first event per content hash passes,
    * later ones are flagged. State is one boolean per distinct hash, keyed
    * by hash — flatMapGroupsWithState (the custom-state path the batch
    * engine can't express).
    *
    * State grows with DISTINCT hashes: at 100 TB that is the corpus's
    * unique-document count, so production deployments BOUND it by passing
    * `stateTtl`: each hash's state then carries a ProcessingTimeTimeout
    * and is REMOVED once no duplicate arrives within the horizon — dedup
    * within a rolling window, state bounded by the horizon's distinct-hash
    * arrival rate instead of all-time cardinality. A hash whose state
    * expired is first_seen again, by design. The default (no TTL) keeps
    * the gated batch semantics exact (q72; timeouts never fire in batch
    * execution anyway). */
  def streamingDedup(events: Dataset[DocEvent],
      stateTtl: Option[String] = None): Dataset[DedupVerdict] = {
    import events.sparkSession.implicits._
    val timeout = stateTtl.fold(GroupStateTimeout.NoTimeout())(_ =>
      GroupStateTimeout.ProcessingTimeTimeout())
    events.groupByKey(_.content_hash)
      .flatMapGroupsWithState[Boolean, DedupVerdict](
        OutputMode.Append(), timeout) {
        (hash: String, it: Iterator[DocEvent], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            // no duplicate within the horizon: release the hash's state
            state.remove()
            Iterator.empty
          } else {
            val seenBefore = state.getOption.getOrElse(false)
            val batch = it.toSeq.sortBy(_.doc_id)
            state.update(true)
            stateTtl.foreach(state.setTimeoutDuration)
            batch.zipWithIndex.map { case (e, i) =>
              DedupVerdict(e.doc_id, hash, first_seen = !seenBefore && i == 0)
            }.iterator
          }
      }
  }

  /** Gap-based sessionization: consecutive events of one key belong to the
    * same session while each arrives within `gap` of the previous
    * (session end = last event + gap; an event at EXACTLY gap distance
    * still extends the session — Spark merges touching windows). Returns
    * one row per session: key, start, end, event count, exact value sum.
    *
    * One operator for both modes via Spark's native `session_window`:
    * batch runs it as an ordinary aggregation; a streaming input adds a
    * watermark so state for closed sessions (end < watermark) is evicted —
    * state size is the number of OPEN sessions, bounded by active keys,
    * not event volume. The value sum goes through DECIMAL(38,14)
    * (graft.util.Dec), so results are partitioning-independent and
    * oracle-exact. */
  def sessionize(df: DataFrame, tsCol: String, keyCol: String, gap: String,
      value: Column, watermark: String = "10 seconds"): DataFrame = {
    val base =
      if (df.isStreaming) df.withWatermark(tsCol, watermark)
      // streaming's SessionWindowing rule filters null timestamps; mirror
      // it in batch so both modes emit identical rows
      else df.filter(col(tsCol).isNotNull)
    base
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        graft.util.Dec.exactDouble(sum(graft.util.Dec.toDec(value))).as("sum_value"))
      .select(col(keyCol), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))
  }

  /** Event-time windowed top terms via the mergeable SpaceSaving
    * aggregate (graft.functions.HeavyHitters): per tumbling window, the
    * k most frequent terms with the usual cnt/err bracket. Streaming
    * state per window is the CAPACITY-bounded summary buffer — frequent
    * terms over an unbounded stream with bounded memory, the form exact
    * per-window tf cannot take; watermark evicts closed windows. Batch
    * execution uses the same integer window key as windowedHistogram
    * (identical rows, cheaper key). In the exact regime (capacity >= the
    * window's distinct terms) the output equals the exact tf ranking with
    * err = 0 — the oracle-gated configuration, like topTermsApprox. */
  def windowedTopTerms(df: DataFrame, tsCol: String, term: Column,
      windowDuration: String, k: Int, capacity: Int,
      watermark: String = "10 seconds"): DataFrame = {
    require(k >= 1 && capacity >= k, "need capacity >= k >= 1")
    val hh = graft.functions.HeavyHitters.heavy_hitters(col("__t"), capacity)
    def explodeTop(grouped: DataFrame, winStart: Column, winEnd: Column): DataFrame =
      grouped
        .select(winStart.as("window_start"), winEnd.as("window_end"),
          posexplode(slice(col("__s"), 1, k)).as(Seq("__p", "__e")))
        .select(col("window_start"), col("window_end"),
          col("__e.term").as("term"), col("__e.cnt").as("cnt"),
          col("__e.err").as("err"), (col("__p") + 1).cast("int").as("rank"))
    if (df.isStreaming) {
      val grouped = df.withWatermark(tsCol, watermark)
        .select(window(col(tsCol), windowDuration).as("win"), term.as("__t"))
        .groupBy(col("win")).agg(hh.as("__s"))
      explodeTop(grouped, col("win.start"), col("win.end"))
    } else {
      val durUs = fixedWindowUs(windowDuration)
      val us = unix_micros(col(tsCol))
      val grouped = df.filter(col(tsCol).isNotNull)
        .select((us - pmod(us, lit(durUs))).as("__ws"), term.as("__t"))
        .groupBy(col("__ws")).agg(hh.as("__s"))
      explodeTop(grouped,
        timestamp_micros(col("__ws")),
        timestamp_micros(col("__ws") + lit(durUs)))
    }
  }

  /** Event-time windowed quantiles (the latency/size-percentile dashboard
    * over a stream): per tumbling window, the requested quantiles of a
    * value column via the map-combinable GK percentile_approx aggregate —
    * bounded summary state per window where exact per-window ranks would
    * buffer the window's full volume. Batch takes the integer floor-key
    * route ([[windowedTopTerms]]'s dual form, same rows as window()).
    * The gate (q152) runs the batch form in the provably-exact regime
    * (accuracy ≫ 2·n per window retains every sample, so quantile q is
    * EXACTLY the value at rank ceil(q·n) — the q142 rule, per window);
    * at stream scale the same code runs with bounded accuracy under the
    * published ±relErr·n rank contract. */
  def windowedQuantiles(df: DataFrame, tsCol: String, value: Column,
      windowDuration: String, qs: Seq[Double], accuracy: Int = 1 << 20,
      watermark: String = "10 seconds"): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q < 1.0),
      "quantiles must lie strictly inside (0, 1)")
    val pa = percentile_approx(col("__v").cast("double"),
      array(qs.map(lit): _*), lit(accuracy)).as("__qs")
    def explodeQs(grouped: DataFrame, winStart: Column, winEnd: Column): DataFrame =
      grouped
        .select(winStart.as("window_start"), winEnd.as("window_end"),
          posexplode(col("__qs")).as(Seq("__p", "quantile")))
        .select(col("window_start"), col("window_end"),
          element_at(array(qs.map(lit): _*), col("__p") + 1).as("q"),
          col("quantile"))
    if (df.isStreaming) {
      val grouped = df.withWatermark(tsCol, watermark)
        .select(window(col(tsCol), windowDuration).as("win"), value.as("__v"))
        .filter(col("__v").isNotNull)
        .groupBy(col("win")).agg(pa)
      explodeQs(grouped, col("win.start"), col("win.end"))
    } else {
      val durUs = fixedWindowUs(windowDuration)
      val us = unix_micros(col(tsCol))
      val grouped = df.filter(col(tsCol).isNotNull)
        .select((us - pmod(us, lit(durUs))).as("__ws"), value.as("__v"))
        .filter(col("__v").isNotNull)
        .groupBy(col("__ws")).agg(pa)
      explodeQs(grouped,
        timestamp_micros(col("__ws")),
        timestamp_micros(col("__ws") + lit(durUs)))
    }
  }

  /** Event-time windowed distinct keys (the per-window DAU form over a
    * stream): per tumbling window, the EXACT number of distinct
    * `keyCol` values. Streaming chains two stateful operators: a
    * watermarked dropDuplicates on (window, key) — state is one row per
    * distinct key per open window, evicted with the watermark — feeding
    * an additive windowed count, so the count aggregate itself never
    * holds a set. Batch execution computes count_distinct over the
    * integer window key (the windowedHistogram convention), identical
    * rows. When per-window key cardinality itself is too large to
    * state, the HLL sketch is the bounded-state alternative — its error
    * contract is gated as q172. */
  def windowedDistinct(df: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, watermark: String = "10 seconds"): DataFrame = {
    if (df.isStreaming) {
      df.withWatermark(tsCol, watermark)
        .filter(col(keyCol).isNotNull)
        .select(window(col(tsCol), windowDuration).as("win"),
          col(keyCol).as("__k"))
        .dropDuplicates("win", "__k")
        .groupBy(col("win"))
        .agg(count(lit(1)).as("n_keys"))
        .select(col("win.start").as("window_start"), col("n_keys"))
    } else {
      val durUs = fixedWindowUs(windowDuration)
      val us = unix_micros(col(tsCol))
      df.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
        .select((us - pmod(us, lit(durUs))).as("__ws"), col(keyCol).as("__k"))
        .groupBy(col("__ws"))
        .agg(count_distinct(col("__k")).as("n_keys"))
        .select(timestamp_micros(col("__ws")).as("window_start"),
          col("n_keys"))
    }
  }

  /** Event-time windowed NOVELTY — per tumbling window, how many keys
    * appear for the FIRST TIME EVER (the Heaps'-law growth curve of
    * q166, live, with keys instead of token types: new-user rate,
    * new-document-hash rate — "is the stream still discovering, or
    * saturating into repeats?").
    *
    * Streaming chains an UNKEYED-window dropDuplicates on the key —
    * state is one row per ever-seen key, deliberately NOT
    * watermark-evicted (novelty is an all-time property; the eviction
    * variant would measure "not seen within the horizon", which is
    * [[streamingDedup]]'s TTL semantics — long-lived deployments whose
    * key domain outgrows memory use [[windowedNoveltyBounded]], the
    * horizon-semantics form with watermark-evicted state) — into an
    * additive windowed
    * count of the surviving first-occurrence rows. First occurrence is
    * by PROCESSING order, so a late out-of-order duplicate can credit
    * the wrong window; the batch form (and the gate) uses the exact
    * min-window per key, and StreamingSpec pins parity on in-order
    * feeds plus state carry across micro-batches.
    *
    * Batch/scale shape: ONE map-combinable key-keyed min aggregate
    * (Zipf-collapsed to key cardinality) + ONE window-keyed count of
    * that collapsed relation — never a window function, never a
    * corpus-sized second exchange. */
  def windowedNovelty(df: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, watermark: String = "10 seconds"): DataFrame = {
    if (df.isStreaming) {
      df.withWatermark(tsCol, watermark)
        .filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
        .select(col(tsCol), col(keyCol).as("__k"))
        .dropDuplicates("__k")
        .groupBy(window(col(tsCol), windowDuration))
        .agg(count(lit(1)).as("novel_keys"))
        .select(col("window.start").as("window_start"), col("novel_keys"))
    } else {
      val durUs = fixedWindowUs(windowDuration)
      val us = unix_micros(col(tsCol))
      df.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
        .select((us - pmod(us, lit(durUs))).as("__ws"), col(keyCol).as("__k"))
        .groupBy(col("__k"))
        .agg(min(col("__ws")).as("__fw"))
        .groupBy(col("__fw"))
        .agg(count(lit(1)).as("novel_keys"))
        .select(timestamp_micros(col("__fw")).as("window_start"),
          col("novel_keys"))
    }
  }

  /** BOUNDED-memory novelty — the operational valve for
    * [[windowedNovelty]], whose exact all-time semantics needs one
    * state row per key EVER SEEN (all-time novelty needs all-time
    * memory; at 100× the key domain that is the one unbounded
    * streaming state). This variant answers "first time within
    * `horizon`" instead: a key counts as novel again once `horizon`
    * has passed since its previous occurrence. State is
    * dropDuplicatesWithinWatermark keyed on the key — each key's row
    * is EVICTED once the watermark passes its event time + horizon, so
    * state is bounded by the horizon's distinct-key arrival rate, not
    * all-time cardinality.
    *
    * Batch form (the deterministic, ORACLE-GATED contract): ties at
    * one (key, ts) collapse first, then an occurrence is novel iff it
    * has no earlier same-key occurrence within `horizon` (strictly:
    * ts − prev ≤ horizon suppresses) — one lag window partitioned BY
    * KEY (never a global sort) over the (key, ts)-collapsed relation,
    * then the same additive windowed count.
    *
    * STREAMING SLACK IS TWO-SIDED. Streaming state is anchored at the
    * first KEPT occurrence (duplicates do not extend
    * dropDuplicatesWithinWatermark state) and eviction waits for the
    * watermark, so on feeds that CHAIN repeats across horizons the two
    * forms diverge in both directions: (a) a repeat landing in
    * (horizon, 2·horizon] of the anchor may still be suppressed —
    * state not yet evicted — so streaming can count LESS than batch;
    * (b) once that anchor IS evicted, a later repeat is re-counted
    * even when its gap to the previous OCCURRENCE is inside the
    * horizon (batch's lag anchors at the previous occurrence,
    * streaming's state at the previous KEPT one), so streaming can
    * also count MORE. Both directions are bounded by the watermark
    * delay (= horizon), and on a feed where each key's repeats all
    * arrive within one horizon of its first occurrence,
    * bounded == exact == streaming. StreamingSpec pins the parity
    * regime AND a chained-repeat feed exhibiting the re-count
    * divergence; treat the batch form as the contract and the
    * streaming form as its bounded-state approximation. */
  def windowedNoveltyBounded(df: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, horizon: String): DataFrame = {
    if (df.isStreaming) {
      df.withWatermark(tsCol, horizon)
        .filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
        .select(col(tsCol), col(keyCol).as("__k"))
        .dropDuplicatesWithinWatermark("__k")
        .groupBy(window(col(tsCol), windowDuration))
        .agg(count(lit(1)).as("novel_keys"))
        .select(col("window.start").as("window_start"), col("novel_keys"))
    } else {
      val durUs = fixedWindowUs(windowDuration)
      val horUs = fixedWindowUs(horizon)
      val us = unix_micros(col(tsCol))
      val occ = df.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
        .select(col(keyCol).as("__k"), us.as("__ts"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__k")).orderBy(col("__ts"))
      occ.withColumn("__prev", lag(col("__ts"), 1).over(w))
        .filter(col("__prev").isNull ||
          col("__ts") - col("__prev") > lit(horUs))
        .select((col("__ts") - pmod(col("__ts"), lit(durUs))).as("__ws"))
        .groupBy(col("__ws"))
        .agg(count(lit(1)).as("novel_keys"))
        .select(timestamp_micros(col("__ws")).as("window_start"),
          col("novel_keys"))
    }
  }

  /** STREAMING per-window data-quality profile — the live form of
    * Curation.profileWindowed (q243): per event-time window and
    * profiled column, exact row / NULL / distinct counts, emitted once
    * when the window closes. The monitor that pages on "ingest broke
    * at 14:00" DURING the 14:00 window's close, not at the nightly
    * batch run.
    *
    * Streaming plan: one long-format explode (window, column, value)
    * — values carried as canonical strings so heterogeneous columns
    * share one relation; distinctness is over that canonical form —
    * then TWO chained stateful aggregations in append mode (the q177
    * discipline): per-(window, column, value) counts, re-aggregated
    * per (window, column) into n = Σcnt, n_null = the NULL-value
    * group's cnt, n_distinct = non-NULL group count. State per window
    * is bounded by Σ per-column distinct values — the same bound the
    * batch operator's hash aggregate carries per window.
    *
    * Batch execution delegates to the batch operator (identical rows —
    * the gate runs that path; StreamingSpec pins streaming == batch on
    * the closed windows across micro-batches). */
  def streamingProfile(df: DataFrame, tsCol: String, windowDuration: String,
      cols: Seq[String], watermark: String = "10 seconds"): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(cols.distinct == cols, s"duplicate profiled columns: $cols")
    if (df.isStreaming) {
      val longDf = df.withWatermark(tsCol, watermark)
        .filter(col(tsCol).isNotNull)
        .select(window(col(tsCol), windowDuration).as("win"),
          explode(array(cols.map(c => struct(lit(c).as("column"),
            col(c).cast("string").as("__v"))): _*)).as("__p"))
        .select(col("win"), col("__p.column").as("column"),
          col("__p.__v").as("__v"))
      longDf.groupBy(col("win"), col("column"), col("__v"))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy(window(window_time(col("win")), windowDuration).as("__w2"),
          col("column"))
        .agg(sum(col("__cnt")).as("n"),
          sum(when(col("__v").isNull, col("__cnt")).otherwise(lit(0L))).as("n_null"),
          count(when(col("__v").isNotNull, lit(1))).as("n_distinct"))
        .select(col("__w2.start").as("window_start"), col("column"),
          col("n"), col("n_null"), col("n_distinct"))
    } else {
      graft.pipeline.Curation.profileWindowed(df, tsCol, windowDuration, cols)
    }
  }

  /** Per-window Gini of the key-mix — the live DIVERSITY-COLLAPSE
    * alarm beside q209's corpus-wide number ("this hour the feed
    * became one event type wearing twenty hats"): per event-time
    * window, the Gini coefficient of the per-key count distribution,
    * with the key count and total. 0 = perfectly even mix, →1 = one
    * key dominates.
    *
    * Batch execution: per-window counts, rank window PARTITIONED BY
    * the time window (the q209 formula G = (2Σi·xᵢ − (n+1)Σx)/(nΣx)
    * with DECIMAL-exact sums, one IEEE division). Streaming: the
    * chained two-stateful-agg shape — per-(window, key) counts
    * re-collected per window, then the SAME formula as an in-row fold
    * over the (count, key)-sorted cell array with exact LONG
    * accumulators. Streaming == batch BIT-exactly: both reach the
    * identical exact integers (Σi·x < 2^63 by the per-window key
    * bound; division operands < 2^53 documented), and the final
    * division is the same IEEE op. NULL keys and NULL timestamps
    * drop. */
  def windowedGini(df: DataFrame, tsCol: String, keyCol: String,
      windowDuration: String, watermark: String = "10 seconds"): DataFrame = {
    if (!df.isStreaming) {
      import org.apache.spark.sql.expressions.Window
      val durUs = fixedWindowUs(windowDuration)
      val us = unix_micros(col(tsCol))
      val counts = df.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
        .select((us - pmod(us, lit(durUs))).as("__ws"), col(keyCol).as("__k"))
        .groupBy(col("__ws"), col("__k")).agg(count(lit(1)).as("__x"))
      val ranked = counts.withColumn("__i",
        row_number().over(Window.partitionBy(col("__ws"))
          .orderBy(col("__x"), col("__k"))).cast("long"))
      ranked.groupBy(col("__ws"))
        .agg(count(lit(1)).as("n_keys"), sum(col("__x")).as("total_rows"),
          sum(col("__i").cast("decimal(38,0)") * col("__x").cast("decimal(38,0)"))
            .as("__six"))
        .select(timestamp_micros(col("__ws")).as("window_start"),
          col("n_keys"), col("total_rows"),
          ((lit(2).cast("decimal(38,0)") * col("__six") -
            (col("n_keys") + lit(1L)).cast("decimal(38,0)") *
              col("total_rows").cast("decimal(38,0)")).cast("double") /
            (col("n_keys").cast("decimal(38,0)") *
              col("total_rows").cast("decimal(38,0)")).cast("double")).as("gini"))
    } else {
      val agged = df.withWatermark(tsCol, watermark)
        .filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
        .select(window(col(tsCol), windowDuration).as("win"),
          col(keyCol).as("__k"))
        .groupBy(col("win"), col("__k"))
        .agg(count(lit(1)).as("__x"))
        .groupBy(window(window_time(col("win")), windowDuration).as("__w2"))
        .agg(sort_array(collect_list(struct(col("__x"), col("__k")))).as("__a"))
      // fold Σi·xᵢ over the (count, key)-sorted cells with exact longs
      val acc0 = struct(lit(0L).as("i"), lit(0L).as("six"), lit(0L).as("sx"))
      val folded = aggregate(col("__a"), acc0, (acc, e) =>
        struct((acc.getField("i") + lit(1L)).as("i"),
          (acc.getField("six") + (acc.getField("i") + lit(1L)) *
            e.getField("__x")).as("six"),
          (acc.getField("sx") + e.getField("__x")).as("sx")))
      agged.select(col("__w2.start").as("window_start"),
          size(col("__a")).cast("long").as("n_keys"),
          folded.as("__f"))
        .select(col("window_start"), col("n_keys"),
          col("__f.sx").as("total_rows"),
          ((lit(2L) * col("__f.six") - (col("n_keys") + lit(1L)) *
            col("__f.sx")).cast("double") /
            (col("n_keys") * col("__f.sx")).cast("double")).as("gini"))
    }
  }

  /** Per-window score-calibration monitor — the LIVE form of
    * RankStats.reliability's ECE scalar ("is the model drifting out of
    * calibration right now?" — the production alarm a daily batch
    * reliability table answers a day late): per event-time window,
    * ECE = Σ_b (n_b/N)·|conf_b − acc_b| over `nBins` clamped score
    * buckets, plus the window's row count.
    *
    * Batch and streaming execute the SAME two aggregations — per
    * (window, bin) counts/positives/DECIMAL score sum (map-combinable,
    * at most nBins rows per window), then a per-window pinned-bin-order
    * fold — so streaming == batch BIT-exactly: counts are exact longs,
    * the decimal sum is order-free, and the fold is the identical IEEE
    * sequence. Streaming chains the two stateful aggregations (the
    * windowedCvm shape); state per window is nBins bounded rows. */
  def windowedEce(df: DataFrame, tsCol: String, score: Column,
      isPos: Column, windowDuration: String, nBins: Int = 10,
      watermark: String = "10 seconds"): DataFrame = {
    val raw = score.cast("double")
    val s = least(greatest(raw, lit(0.0)), lit(1.0))
    val bin = least(floor(s * lit(nBins.toDouble)).cast("long"),
      lit(nBins.toLong - 1L))
    val src = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    val base = src
      .filter(col(tsCol).isNotNull && raw.isNotNull && !isnan(raw))
      .select(window(col(tsCol), windowDuration).as("win"),
        bin.as("__bin"), s.as("__s"),
        when(isPos, 1L).otherwise(0L).as("__y"))
    val perBin = base.groupBy(col("win"), col("__bin"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__pos"),
        sum(graft.util.Dec.toDec(col("__s"))).as("__ss"))
    val regroup = if (df.isStreaming)
      perBin.groupBy(window(window_time(col("win")), windowDuration).as("__w2"))
    else perBin.groupBy(col("win").as("__w2"))
    val agged = regroup.agg(sum(col("__n")).as("n"),
      sort_array(collect_list(struct(col("__bin").as("k"),
        col("__n").as("nb"), col("__pos").as("p"), col("__ss").as("ss"))))
        .as("__arr"))
    def conf(x: Column): Column =
      graft.util.Dec.exactDouble(x.getField("ss")) /
        x.getField("nb").cast("double")
    def acc(x: Column): Column =
      x.getField("p").cast("double") / x.getField("nb").cast("double")
    val ece = aggregate(col("__arr"), lit(0.0), (a, x) =>
      a + x.getField("nb").cast("double") / col("n").cast("double") *
        abs(conf(x) - acc(x)))
    agged.select(col("__w2.start").as("window_start"), col("n"),
      ece.as("ece"))
  }

  /** Per-window BENFORD χ² monitor — the live form of
    * RankStats.benfordAudit ("did a bot / a broken feed start injecting
    * fabricated amounts THIS hour?"): per event-time window, the
    * leading-digit distribution's χ² against the Benford expectation,
    * beside the window's row count. Same integer-space digit
    * extraction as the batch audit (·100, BIGINT decimal string — no
    * log/pow knife-edges); the dense 1–9 grid is applied in-row over
    * the collected digit cells, expectation literals identical in both
    * engines, terms added in digit order.
    *
    * Batch and streaming execute the same two aggregations (per-
    * (window, digit) counts, then the per-window fold) — parity by
    * construction; state per window ≤ 9 rows. */
  def windowedBenford(df: DataFrame, tsCol: String, valueCol: String,
      windowDuration: String, watermark: String = "10 seconds"): DataFrame = {
    val v = col(valueCol).cast("double")
    val digit = substring(round(v * lit(100.0)).cast("long")
      .cast("string"), 1, 1).cast("long")
    val src = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    // digit BETWEEN 1 AND 9, like the batch audit's dense 1-9 grid: a
    // 0 < v < 0.005 row rounds to leading digit 0 and must not inflate
    // the per-window n the chi-square expectations scale by
    val base = src
      .filter(col(tsCol).isNotNull && v.isNotNull && !isnan(v) && v > lit(0.0))
      .select(window(col(tsCol), windowDuration).as("win"), digit.as("__d"))
      .where(col("__d").between(lit(1L), lit(9L)))
    val perDigit = base.groupBy(col("win"), col("__d"))
      .agg(count(lit(1)).as("__c"))
    val regroup = if (df.isStreaming)
      perDigit.groupBy(window(window_time(col("win")), windowDuration).as("__w2"))
    else perDigit.groupBy(col("win").as("__w2"))
    val agged = regroup.agg(sum(col("__c")).as("n"),
      map_from_entries(collect_list(struct(col("__d"), col("__c"))))
        .as("__m"))
    val nD = col("n").cast("double")
    val terms = (1L to 9L).map { d =>
      val exp = lit(math.log10(1.0 + 1.0 / d))
      val cnt = coalesce(element_at(col("__m"), lit(d)), lit(0L))
      val en = exp * nD
      val diff = cnt.cast("double") - en
      diff * diff / en
    }
    agged.select(col("__w2.start").as("window_start"), col("n"),
      terms.reduceLeft(_ + _).as("chi2"))
  }

  /** Per-window BINNED AUC monitor — the live ranking-power trend
    * ("is the score still separating conversions THIS hour?"): scores
    * clamp-bucket into `nBins` bins (each bin is a tie group), and the
    * window's AUC is the exact midrank AUC of the BINNED score — a
    * well-defined statistic in its own right (the binning is the
    * operator's published quantization, not an unstated approximation
    * of the raw-score AUC; finer bins converge to it). Per window the
    * 2U identity folds over the ≤ nBins sorted cells with exact long
    * accumulators — the windowedGini in-row shape — then ONE IEEE
    * division. NULL AUC for a window with one class.
    *
    * Batch and streaming run the SAME two aggregations (per-(window,
    * bin) class counts, then the per-window fold): parity by
    * construction; state per window ≤ nBins rows. */
  def windowedAuc(df: DataFrame, tsCol: String, score: Column,
      isPos: Column, windowDuration: String, nBins: Int = 64,
      watermark: String = "10 seconds"): DataFrame = {
    val raw = score.cast("double")
    val s = least(greatest(raw, lit(0.0)), lit(1.0))
    val bin = least(floor(s * lit(nBins.toDouble)).cast("long"),
      lit(nBins.toLong - 1L))
    val src = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    val base = src
      .filter(col(tsCol).isNotNull && raw.isNotNull && !isnan(raw))
      .select(window(col(tsCol), windowDuration).as("win"),
        bin.as("__bin"), when(isPos, 1L).otherwise(0L).as("__y"))
    val perBin = base.groupBy(col("win"), col("__bin"))
      .agg(sum(col("__y")).as("__p"),
        sum(lit(1L) - col("__y")).as("__n"))
    val regroup = if (df.isStreaming)
      perBin.groupBy(window(window_time(col("win")), windowDuration).as("__w2"))
    else perBin.groupBy(col("win").as("__w2"))
    val agged = regroup.agg(sort_array(collect_list(struct(
      col("__bin").as("k"), col("__p").as("p"), col("__n").as("n"))))
      .as("__a"))
    // fold in bin order: cn = negatives strictly below; u2 += p*(2cn+n)
    val acc0 = struct(lit(0L).as("cn"), lit(0L).as("u2"),
      lit(0L).as("tp"), lit(0L).as("tn"))
    val folded = aggregate(col("__a"), acc0, (a, e) =>
      struct((a.getField("cn") + e.getField("n")).as("cn"),
        (a.getField("u2") + e.getField("p") *
          (a.getField("cn") * lit(2L) + e.getField("n"))).as("u2"),
        (a.getField("tp") + e.getField("p")).as("tp"),
        (a.getField("tn") + e.getField("n")).as("tn")))
    agged.select(col("__w2.start").as("window_start"), folded.as("__f"))
      .select(col("window_start"), col("__f.tp").as("n_pos"),
        col("__f.tn").as("n_neg"),
        when(col("__f.tp") === 0L || col("__f.tn") === 0L,
            lit(null).cast("double"))
          .otherwise(col("__f.u2").cast("double") /
            (lit(2.0) * col("__f.tp").cast("double") *
              col("__f.tn").cast("double"))).as("auc"))
  }

  case class RateEvent(event_type: String, us: Long)
  case class RateState(openDay: Long, openCnt: Long, closed: List[Long])
  case class RateVerdict(event_type: String, day: Long, n: Long,
    mean: Option[Double], std: Option[Double], is_anomaly: Option[Boolean])

  /** STREAMING event-rate anomaly: the live form of
    * Funnel.eventRateAnomaly — per event type, each day's count is
    * z-scored against the trailing `windowDays` CLOSED days and the
    * verdict emits when the day closes (the first event of a LATER day
    * arrives). State per type is one open (day, count) plus a bounded
    * deque of the last windowDays closed counts — capacity-bounded by
    * construction, independent of event volume (the q101 SpaceSaving
    * state discipline).
    *
    * The z-score tail is the SAME fixed IEEE sequence as the batch
    * operator (JVM doubles both sides), so a closed day's verdict is
    * bit-identical to the batch row. Exactness contract (the q127
    * precedent): equal to the batch operator on each key's closed-day
    * prefix when events arrive day-monotonically across micro-batches
    * (any order within a batch is fine); events for days BEFORE the open
    * day are late data and are dropped (the watermark analogue,
    * documented). `flushOpen` emits the still-open day's verdict at
    * iterator end — the batch-execution config (gated, q146: output ==
    * Funnel.eventRateAnomaly row-for-row); leave it false on a real
    * stream, where Append semantics forbid re-emitting a day. */
  def streamingRateAnomaly(events: Dataset[RateEvent], windowDays: Int,
      k: Double, flushOpen: Boolean,
      stateTtl: Option[String] = None): Dataset[RateVerdict] = {
    require(windowDays > 1, "windowDays must be > 1")
    import events.sparkSession.implicits._
    val timeout = stateTtl.fold(GroupStateTimeout.NoTimeout())(_ =>
      GroupStateTimeout.ProcessingTimeTimeout())
    val dayUs = 86400000000L
    def verdict(typ: String, day: Long, n: Long, closed: List[Long]): RateVerdict = {
      val w = closed.size
      if (w == windowDays) {
        // mirrors the batch column expressions op-for-op: casts first,
        // then multiply/subtract/clamp/divide/sqrt/compare
        val wd = w.toDouble
        val s = closed.sum
        val ss = closed.map(c => c * c).sum
        val mean = s.toDouble / wd
        val num = wd * ss.toDouble - s.toDouble * s.toDouble
        val v = math.max(0.0, num) / (wd * (w - 1).toDouble)
        val std = math.sqrt(v)
        RateVerdict(typ, day, n, Some(mean), Some(std),
          Some(math.abs(n.toDouble - mean) > k * std))
      } else RateVerdict(typ, day, n, None, None, None)
    }
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[RateState, RateVerdict](
        OutputMode.Append(), timeout) {
        (typ: String, it: Iterator[RateEvent], state: GroupState[RateState]) =>
          if (state.hasTimedOut) {
            // event_type went quiet past the horizon: drop its rolling
            // baseline — a reappearing type retrains from scratch, the
            // same contract as a first-seen type
            state.remove()
            Iterator.empty[RateVerdict]
          } else {
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[RateVerdict]
          it.toSeq.sortBy(_.us).foreach { e =>
            // FLOOR division, matching the batch operator's epochDay
            // (exact floor) and the oracle's `//` — pre-epoch events
            // bucket into the same day in all three places
            val d = Math.floorDiv(e.us, dayUs)
            st match {
              case None => st = Some(RateState(d, 1L, Nil))
              case Some(RateState(od, oc, cl)) =>
                if (d == od) st = Some(RateState(od, oc + 1L, cl))
                else if (d > od) {
                  out += verdict(typ, od, oc, cl)
                  st = Some(RateState(d, 1L, (cl :+ oc).takeRight(windowDays)))
                } // d < od: late beyond the open day — dropped (see scaladoc)
            }
          }
          if (flushOpen) st.foreach(s => out += verdict(typ, s.openDay, s.openCnt, s.closed))
          st.foreach(state.update)
          stateTtl.foreach(state.setTimeoutDuration)
          out.iterator
          }
      }
  }

  case class CusumEvent(us: Long, cnt: Long)
  case class CusumState(openWh: Long, openCnt: Long, sPos: Long, sNeg: Long)
  case class CusumPoint(wh: Long, n: Long, cusum_pos: Double,
    cusum_neg: Double, alarm: Boolean)

  /** STREAMING two-sided CUSUM against a trained baseline — the live
    * form of Funnel.cusumFrom: per closed hour, S⁺ ← max(0, S⁺ + dqp),
    * S⁻ ← max(0, S⁻ − dqm) with the SAME 1e6-quantized exact-long
    * deviations as the batch prefix identity, so a closed hour's row
    * is BIT-identical to the batch row (the recursion and the
    * prefix-minimum identity are equal in exact arithmetic). State is
    * one open (hour, count) plus two longs — constant, independent of
    * volume. Events carry a `cnt` weight so the upstream can feed
    * per-partition PARTIAL counts (the one-group shuffle then moves
    * #partitions rows per hour, never raw events — the documented
    * scale shape for a single-chart monitor). Exactness contract (the
    * q127/q146 convention): equal to batch on the closed-hour prefix
    * under hour-monotone arrival; late events for hours before the
    * open one drop. `flushOpen` emits the still-open hour (batch
    * execution; leave false on a real stream). */
  def streamingCusum(events: Dataset[CusumEvent], mu: Double, k: Double,
      h: Double, flushOpen: Boolean,
      stateTtl: Option[String] = None): Dataset[CusumPoint] = {
    require(k >= 0.0 && h > 0.0, s"need k >= 0 and h > 0: k=$k h=$h")
    import events.sparkSession.implicits._
    val timeout = stateTtl.fold(GroupStateTimeout.NoTimeout())(_ =>
      GroupStateTimeout.ProcessingTimeTimeout())
    val hourUs = 3600000000L
    def close(st: CusumState): (CusumState, CusumPoint) = {
      val dqp = math.floor((st.openCnt.toDouble - mu - k) * 1.0e6).toLong
      val dqm = math.floor((st.openCnt.toDouble - mu + k) * 1.0e6).toLong
      val sp = math.max(0L, st.sPos + dqp)
      val sn = math.max(0L, st.sNeg - dqm)
      val (cp, cn) = (sp.toDouble / 1.0e6, sn.toDouble / 1.0e6)
      (st.copy(sPos = sp, sNeg = sn),
        CusumPoint(st.openWh, st.openCnt, cp, cn, cp > h || cn > h))
    }
    events.groupByKey(_ => 0)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append(), timeout) {
        (_: Int, it: Iterator[CusumEvent], state: GroupState[CusumState]) =>
          if (state.hasTimedOut) {
            // chart went quiet past the horizon: reset the accumulators —
            // monitoring resumes from S=0 on the next event
            state.remove()
            Iterator.empty[CusumPoint]
          } else {
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumPoint]
          it.toSeq.sortBy(_.us).foreach { e =>
            val wh = Math.floorDiv(e.us, hourUs)
            st match {
              case None => st = Some(CusumState(wh, e.cnt, 0L, 0L))
              case Some(s) =>
                if (wh == s.openWh) st = Some(s.copy(openCnt = s.openCnt + e.cnt))
                else if (wh > s.openWh) {
                  val (closed, pt) = close(s)
                  out += pt
                  st = Some(closed.copy(openWh = wh, openCnt = e.cnt))
                } // wh < openWh: late beyond the open hour — dropped
            }
          }
          if (flushOpen) st.foreach(s => out += close(s)._2)
          st.foreach(state.update)
          stateTtl.foreach(state.setTimeoutDuration)
          out.iterator
          }
      }
  }

  case class AsOfEvent(user_id: Long, us: Long, side: Int, event_id: Long,
    value: Option[Double])
  case class AsOfEnriched(event_id: Long, user_id: Long, us: Long,
    match_id: Option[Long], match_us: Option[Long], match_value: Option[Double])

  /** STREAMING as-of enrichment: attach to each left event (side = 1)
    * the latest right event (side = 0) of the same key at-or-before it —
    * the stream-enrichment form of pipeline.AsOf.asOfJoin (attach the
    * last price tick / profile update to each trade as it arrives).
    *
    * State is ONE row per key (the best right seen so far: max (us, id))
    * — bounded by key cardinality, never event volume, and strictly
    * smaller than any buffering stream-stream join. Within a micro-batch
    * the group's rows are walked in (us, side, id) order (rights before
    * lefts at ties, exactly the batch operator's <= semantics).
    *
    * Exactness contract: equal to the batch as-of join when each key's
    * RIGHT events arrive event-time-monotonically across micro-batches
    * (any order within a batch is fine) — the state keeps only the
    * latest right, so an out-of-order right older than a previously
    * emitted left cannot retro-match (it is skipped for later lefts
    * only if still the best; a cross-batch newer-than-left right is
    * never used: the us <= left.us guard holds always). Batch execution
    * processes everything as one group pass and equals asOfJoin
    * unconditionally — the oracle-gated configuration (q127).
    *
    * @param stateTtl optional processing-time eviction horizon (e.g.
    *   "30 days"): user_id is the one UNBOUNDED key domain in the
    *   streaming family, so without a TTL the one-row-per-key state
    *   grows forever on a real user stream. A key quiet past the
    *   horizon forgets its last right; the next left of that key
    *   matches nothing (the first-seen contract) until a new right
    *   arrives. None (the gated batch configuration) keeps state
    *   indefinitely. */
  def streamingAsOf(events: Dataset[AsOfEvent],
      stateTtl: Option[String] = None): Dataset[AsOfEnriched] = {
    import events.sparkSession.implicits._
    val timeout = stateTtl.fold(GroupStateTimeout.NoTimeout())(_ =>
      GroupStateTimeout.ProcessingTimeTimeout())
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Option[Double]), AsOfEnriched](
        OutputMode.Append(), timeout) {
        (user: Long, it: Iterator[AsOfEvent],
         state: GroupState[(Long, Long, Option[Double])]) =>
          if (state.hasTimedOut) {
            // key went quiet for the horizon: forget its last right —
            // the next left matches nothing until a fresh right arrives,
            // the same contract as a first-seen key
            state.remove()
            Iterator.empty
          } else {
            var cur = state.getOption // (us, event_id, value) of best right
            val out = scala.collection.mutable.ArrayBuffer.empty[AsOfEnriched]
            it.toSeq.sortBy(e => (e.us, e.side, e.event_id)).foreach { e =>
              if (e.side == 0) {
                if (cur.forall(c => c._1 < e.us || (c._1 == e.us && c._2 < e.event_id)))
                  cur = Some((e.us, e.event_id, e.value))
              } else {
                val m = cur.filter(_._1 <= e.us)
                out += AsOfEnriched(e.event_id, user, e.us,
                  m.map(_._2), m.map(_._1), m.flatMap(_._3))
              }
            }
            cur.foreach(state.update)
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  case class TransEvent(user_id: Long, us: Long, event_id: Long,
    event_type: String)
  case class TransPair(user_id: Long, us: Long, event_id: Long,
    from_type: String, to_type: String)

  /** STREAMING journey transitions: emit, for each arriving event, the
    * (previous type -> this type) edge of its user's stream — the
    * incremental feed behind pipeline.Funnel.transitionMatrix's matrix
    * (counting the emitted pairs per (from, to) IS the batch matrix).
    *
    * State is ONE row per key (the latest (us, id, type) seen) — bounded
    * by key cardinality, never event volume (the q127 discipline).
    * Within a micro-batch the group's rows are walked in (us, id) order,
    * the exact total order the batch lag window uses. NOTE: that walk
    * materializes and sorts the key's rows for the CURRENT micro-batch
    * (or, under batch execution, the key's whole stream), so transient
    * per-task memory is bounded by the largest key's per-batch volume —
    * the persisted STATE stays one row. For batch jobs with very hot
    * keys, prefer pipeline.Funnel.transitionMatrix's lag window, which
    * sorts by spillable shuffle instead of an in-memory buffer.
    *
    * Exactness contract: equal to the batch lag when each key's events
    * arrive event-time-monotonically across micro-batches (any order
    * within a batch is fine); a cross-batch out-of-order event chains
    * onto the latest SEEN predecessor instead of its true one —
    * documented staleness, same contract as [[streamingAsOf]]. Batch
    * execution walks each key's whole stream in one sorted pass and
    * equals the batch operator unconditionally — the oracle-gated
    * configuration (q171). */
  def streamingTransitions(events: Dataset[TransEvent],
      stateTtl: Option[String] = None): Dataset[TransPair] = {
    import events.sparkSession.implicits._
    val timeout = stateTtl.fold(GroupStateTimeout.NoTimeout())(_ =>
      GroupStateTimeout.ProcessingTimeTimeout())
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, String), TransPair](
        OutputMode.Append(), timeout) {
        (user: Long, it: Iterator[TransEvent],
         state: GroupState[(Long, Long, String)]) =>
          if (state.hasTimedOut) {
            // key went quiet for the horizon: forget its predecessor —
            // the next event starts a fresh chain (emits no edge), the
            // same contract as a first-seen key
            state.remove()
            Iterator.empty
          } else {
            var prev = state.getOption // (us, event_id, type) latest seen
            val out = scala.collection.mutable.ArrayBuffer.empty[TransPair]
            it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
              prev match {
                case Some((pus, pid, ptype))
                    if pus < e.us || (pus == e.us && pid < e.event_id) =>
                  out += TransPair(user, e.us, e.event_id, ptype, e.event_type)
                  prev = Some((e.us, e.event_id, e.event_type))
                case None =>
                  prev = Some((e.us, e.event_id, e.event_type))
                case _ => // out-of-order vs state: not the latest; skip
              }
            }
            prev.foreach(state.update)
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  case class RfEvent(event_id: Long, user_id: Long, event_type: String,
    us: Long, value: Option[Double])

  /** STREAMING rapid-fire suppression: the live form of
    * pipeline.Funnel.suppressRapidFire — emit an arriving event iff it
    * is the first of its (user, type) stream or strictly more than
    * `gapSec` after its RAW predecessor (the idempotent burst-collapse
    * rule; the predecessor updates whether or not it was kept, so a
    * sustained burst stays collapsed to its opening event).
    *
    * State is ONE row per (user, type) — the latest (us, id) seen —
    * bounded by key cardinality (the q127 discipline). Within a
    * micro-batch the group walks in (us, id) order, the exact total
    * order of the batch lag window; the same transient per-batch
    * buffering note as [[streamingTransitions]] applies. Cross-batch
    * out-of-order events (older than the state) are dropped rather
    * than retro-kept — documented staleness, same contract as
    * [[streamingAsOf]]. Batch execution walks each key's whole stream
    * in one sorted pass and equals the batch operator unconditionally —
    * the oracle-gated configuration (q182, same SQL as q176). */
  case class FunnelEvent(user_id: Option[Long], us: Long,
    event_id: Option[Long], event_type: Option[String])
  case class FunnelRow(user_id: Option[Long], ts: Seq[Option[Long]],
    steps_completed: Long)

  /** STREAMING conversion funnel: the live form of
    * pipeline.Funnel.funnel — per user, the earliest strictly-ordered
    * completion chain t1 < t2 < ... < tk over `steps`, updated as
    * events arrive. Each micro-batch emits the user's CURRENT chain
    * when it changed (or on first sight), so the latest row per user
    * is the live funnel position and counting steps_completed over
    * those rows is the live conversion report.
    *
    * State is ONE k-slot vector per user (k = |steps|) — bounded by
    * key cardinality times funnel length, never event volume. The
    * ascending (us, id) walk reproduces the batch operator's
    * conditional-min semantics exactly: t1 is the running min of
    * step-1 events (final once any later event is processed), and the
    * first step-i event strictly after t_{i-1} in ascending order IS
    * the min the batch's per-step join selects; equal-timestamp events
    * cannot fill a slot (strict >), which also makes the walk
    * insensitive to id order among ties. Users whose events carry no
    * matching types still emit (ts all empty) — the batch operator's
    * all-users accumulator. Cross-batch out-of-order step-1 events
    * cannot lower an already-set t1 — documented staleness, the
    * [[streamingAsOf]] contract. Batch execution walks each user's
    * whole stream sorted and equals the batch operator unconditionally
    * — the oracle-gated configuration (q183, same SQL as q92). */
  def streamingFunnel(events: Dataset[FunnelEvent], steps: Seq[String],
      stateTtl: Option[String] = None): Dataset[FunnelRow] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    val k = steps.size
    val timeout = stateTtl.fold(GroupStateTimeout.NoTimeout())(_ =>
      GroupStateTimeout.ProcessingTimeTimeout())
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Option[Long]], FunnelRow](
        OutputMode.Append(), timeout) {
        (user: Option[Long], it: Iterator[FunnelEvent],
         state: GroupState[Seq[Option[Long]]]) =>
          if (state.hasTimedOut) {
            // user went quiet for the horizon: the last emitted row
            // remains their final funnel position; a post-eviction
            // event restarts the chain from scratch (abandoned-journey
            // semantics — the funnel window every published conversion
            // report bounds anyway)
            state.remove()
            Iterator.empty
          } else {
            val had = state.exists
            val ts = state.getOption.getOrElse(Seq.fill(k)(None))
              .toArray[Option[Long]]
            var changed = false
            it.toSeq.sortBy(e => (e.us, e.event_id.getOrElse(Long.MinValue)))
              .foreach { e =>
                val i = (0 until k).find(i => ts(i).isEmpty &&
                  e.event_type.contains(steps(i)) &&
                  (i == 0 || ts(i - 1).exists(_ < e.us)))
                i.foreach { i => ts(i) = Some(e.us); changed = true }
              }
            state.update(ts.toSeq)
            stateTtl.foreach(state.setTimeoutDuration)
            if (changed || !had)
              Iterator.single(FunnelRow(user, ts.toSeq,
                ts.takeWhile(_.isDefined).length.toLong))
            else Iterator.empty
          }
      }
  }

  /** STREAMING coincidence (interval) join — the one live operator in
    * this file where Spark's BUILT-IN machinery is exactly right
    * (preference-ladder rung (a)): a watermarked stream-stream inner
    * join with a time-range condition. Both sides carry event-time
    * watermarks; the ±tol range on the watermarked columns lets the
    * join's state store evict buffered rows once the other side's
    * watermark passes beyond reach, so state is bounded by
    * (watermark + tol) event volume per side, not the stream. Late
    * rows beyond the watermark drop (standard streaming contract).
    * Batch execution is the plain (key equi + range) join and equals
    * [[graft.pipeline.Funnel.intervalJoin]] unconditionally — the
    * oracle-gated configuration (q214, same SQL as q205; the batch
    * operator remains the SCALE path for bounded data, its bucket
    * blocking replacing the naive per-key pair filter). */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame, tolUs: Long,
      watermark: String = "1 hour", tsCol: String = "event_time",
      keyCol: String = "user_id", idCol: String = "event_id"): DataFrame = {
    require(tolUs > 0, s"tolUs must be positive: $tolUs")
    val l = left.select(col(keyCol), col(idCol).as("left_id"),
      col(tsCol).as("__lt")).withWatermark("__lt", watermark)
    val r = right.select(col(keyCol).as("__rk"), col(idCol).as("right_id"),
      col(tsCol).as("__rt")).withWatermark("__rt", watermark)
    val tol = expr(s"INTERVAL $tolUs MICROSECOND")
    l.join(r, col(keyCol) === col("__rk") &&
        col("__rt") >= col("__lt") - tol && col("__rt") <= col("__lt") + tol)
      .select(col(keyCol), col("left_id"), col("right_id"),
        (unix_micros(col("__rt")) - unix_micros(col("__lt"))).as("dt_us"))
  }

  case class RlEvent(event_id: Long, user_id: Long, us: Long)
  case class RlKept(user_id: Long, day: Long, event_id: Long, rn: Int)

  /** STREAMING per-(key, day) rate limiting: the live form of
    * pipeline.Funnel.rateLimit — emit an arriving event with its rank
    * iff fewer than `n` of its (user, day) have already been admitted;
    * the quota decision is made ON ARRIVAL, which is exactly what a
    * live abuse throttle needs (the batch form can only drop after the
    * fact). Day = exact floor division of event-time micros.
    *
    * State is ONE (count, lastUs, lastId) row per (user, day) — key ×
    * open-days bounded, never event volume; production deployments
    * BOUND it by passing `stateTtl`: each (user, day)'s state carries a
    * ProcessingTimeTimeout renewed on every arrival and is REMOVED once
    * the day goes quiet for the horizon (the count is final once the
    * day's events stop arriving; a pathological post-eviction straggler
    * re-opens the day with a fresh quota — documented staleness,
    * StreamingSpec-pinned as emission-invariant for quiet-day eviction).
    * Within a micro-batch the group walks in
    * (us, id) order — the batch rank's total order; cross-batch
    * out-of-order events older than the state are skipped, not
    * retro-ranked (documented staleness, the [[streamingAsOf]]
    * contract). Batch execution walks each key-day's whole stream in
    * one sorted pass and equals the batch operator unconditionally —
    * the oracle-gated configuration (q207, same SQL as q206). */
  def streamingRateLimit(events: Dataset[RlEvent], n: Int,
      stateTtl: Option[String] = None): Dataset[RlKept] = {
    require(n > 0, s"n must be positive: $n")
    import events.sparkSession.implicits._
    val dayUs = 86400000000L
    val timeout = stateTtl.fold(GroupStateTimeout.NoTimeout())(_ =>
      GroupStateTimeout.ProcessingTimeTimeout())
    events.groupByKey(e => (e.user_id, Math.floorDiv(e.us, dayUs)))
      .flatMapGroupsWithState[(Int, Long, Long), RlKept](
        OutputMode.Append(), timeout) {
        case ((user, day), it, state) =>
          if (state.hasTimedOut) {
            // day went quiet for the horizon: its quota count is final
            state.remove()
            Iterator.empty
          } else {
            var (cnt, lastUs, lastId) =
              state.getOption.getOrElse((0, Long.MinValue, Long.MinValue))
            val out = scala.collection.mutable.ArrayBuffer.empty[RlKept]
            it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
              val newer = e.us > lastUs || (e.us == lastUs && e.event_id > lastId)
              if (newer) {
                cnt += 1
                if (cnt <= n) out += RlKept(user, day, e.event_id, cnt)
                lastUs = e.us; lastId = e.event_id
              } // else: out-of-order vs state — skipped, not retro-ranked
            }
            state.update((cnt, lastUs, lastId))
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  def streamingRapidFire(events: Dataset[RfEvent],
      gapSec: Long): Dataset[RfEvent] = {
    require(gapSec > 0, s"gapSec must be positive: $gapSec")
    import events.sparkSession.implicits._
    val gapUs = gapSec * 1000000L
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[(Long, Long), RfEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Long, String), it: Iterator[RfEvent],
         state: GroupState[(Long, Long)]) =>
          var prev = state.getOption // (us, event_id) latest RAW seen
          val out = scala.collection.mutable.ArrayBuffer.empty[RfEvent]
          it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            prev match {
              case Some((pus, pid))
                  if pus < e.us || (pus == e.us && pid < e.event_id) =>
                if (e.us - pus > gapUs) out += e
                prev = Some((e.us, e.event_id))
              case None =>
                out += e
                prev = Some((e.us, e.event_id))
              case _ => // out-of-order vs state: not the latest; skip
            }
          }
          prev.foreach(state.update)
          out.iterator
      }
  }
}
