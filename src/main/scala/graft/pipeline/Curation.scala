package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composed filter chain a training-data
  * pipeline actually ships — the individually-gated operators wired
  * together into one declarative plan.
  *
  * A document survives when it
  *   1. meets the token floor (quality gate, map-only);
  *   2. is its content hash's canonical copy (exact dedup keep);
  *   3. shares no word n-gram with the benchmark corpus (decontamination,
  *      broadcast semi-join);
  *   4. passes the deterministic per-source sampling hash (map-only).
  *
  * Scale shape: every criterion yields a doc_id-keyed verdict; the final
  * intersection is a chain of equi-joins on doc_id that AQE co-partitions,
  * and two of the four criteria never shuffle the corpus at all. Order
  * matters only for the optimizer — the cheap map-side predicates (tokens,
  * sampling hash) are applied FIRST on the base relation so the dedup
  * shuffle and the gram explode see a pre-filtered corpus. Cheap-first
  * also changes no results: all four criteria are pure per-doc or
  * per-content verdicts, except dedup's canonical-copy election, which is
  * deliberately computed on the FULL corpus (dropping a canonical doc via
  * sampling must not resurrect its duplicates).
  */
object Curation {

  private val logger =
    org.slf4j.LoggerFactory.getLogger("graft.pipeline.Curation")
  private def logWarning(msg: => String): Unit = logger.warn(msg)

  def curate(docs: DataFrame, benchmark: DataFrame, minTokens: Long = 40L,
      ngram: Int = 5, rate: Double = 0.8, salt: String = "cur"): DataFrame = {
    // map-only predicates evaluated directly on the scan
    val cheap = docs
      .filter(regexp_count(col("text"), lit("\\S+")).cast("long") >= minTokens)
      .filter(Sampling.hash60(col("doc_id"), col("source"), salt)
        < lit(Sampling.threshold(rate)))
    // canonical-copy election over the FULL corpus (see scaladoc)
    val canonical = Dedup.exact(docs).filter(col("keep")).select("doc_id")
    val clean = Dedup.decontaminate(cheap, benchmark, ngram)
      .filter(!col("contaminated")).select("doc_id")
    cheap.select(col("doc_id"), col("source"))
      .join(canonical, "doc_id")
      .join(clean, "doc_id")
  }

  /** Relative quality filtering: keep each source's top `frac` fraction
    * of docs by score (rank <= ceil(frac * |source|), ordered score
    * desc with ties to the lowest doc_id) — "top 30% by quality per
    * domain", the curation step absolute thresholds can't express when
    * sources have different score distributions. Returns one verdict
    * row per doc: (doc_id, source, score, keep).
    *
    * Plan: ONE shuffle keyed by source feeding both windows (count +
    * row_number share the partitioning; the rank needs the in-partition
    * sort). This is the EXACT form — correct at any scale but each
    * source's volume flows through its rank sort; when approximate cuts
    * suffice, the cheap 100 TB path is a per-source quantile-sketch
    * threshold (percentile_approx, broadcast back, map-side filter)
    * at the cost of a rank-boundary error band. The cutoff arithmetic
    * (ceil of an IEEE double product) is bit-identical cross-engine. */
  def topFractionBySource(docs: DataFrame, frac: Double,
      scoreCol: String = "score"): DataFrame = {
    require(frac >= 0.0 && frac <= 1.0, s"frac must be in [0, 1]: $frac")
    import org.apache.spark.sql.expressions.Window
    val bySource = Window.partitionBy(col("source"))
    val ranked = Window.partitionBy(col("source"))
      .orderBy(col(scoreCol).desc, col("doc_id"))
    docs.select(col("doc_id"), col("source"), col(scoreCol))
      .withColumn("__n", count(lit(1)).over(bySource))
      .withColumn("__r", row_number().over(ranked))
      .select(col("doc_id"), col("source"), col(scoreCol),
        (col("__r") <= ceil(lit(frac) * col("__n").cast("double"))).as("keep"))
  }

  /** The corpus-scale (sketch) form of [[topFractionBySource]]: a
    * per-source score THRESHOLD from percentile_approx (Greenwald-Khanna,
    * map-combinable — ONE aggregation pass, no per-source rank sort),
    * broadcast back, map-side compare. keep = score >= the source's
    * (1−frac) quantile, so ties AT the threshold are all kept (a
    * rank-boundary band of at most the tie count + relativeError·n docs —
    * the documented difference vs the exact form's row_number cutoff).
    *
    * Exactness regime (how the gate pins it, q142): with accuracy chosen
    * so 2·n/accuracy < 1 for every source, the GK summary never merges
    * samples (merge threshold 2·relativeError·count stays below the
    * minimum sample weight 1) and inserted deltas floor to 0, so the
    * sketch holds every value at exact rank and the quantile query
    * returns EXACTLY the value at 1-based rank ceil(p·n) ascending —
    * a deterministic rule DuckDB reproduces with a window rank. At
    * corpus scale the same code runs with bounded accuracy and the
    * published ±relativeError·n rank-error contract. */
  def topFractionBySourceSketch(docs: DataFrame, frac: Double,
      scoreCol: String = "score", accuracy: Int = 1 << 20): DataFrame = {
    require(frac > 0.0 && frac < 1.0, s"frac must be in (0, 1): $frac")
    val p = 1.0 - frac
    val thr = docs.groupBy(col("source"))
      .agg(percentile_approx(col(scoreCol).cast("double"), lit(p),
        lit(accuracy)).as("__thr"))
    docs.select(col("doc_id"), col("source"), col(scoreCol))
      .join(broadcast(thr), "source")
      .select(col("doc_id"), col("source"), col(scoreCol),
        (col(scoreCol).cast("double") >= col("__thr")).as("keep"))
  }

  /** Per-source winsorization (outlier clipping): clip each doc's score
    * into [pLo, pHi] quantiles of its OWN source's distribution — the
    * standard robustification before scores from heterogeneous sources
    * feed a shared threshold or a weighted mixture (a crawler bug that
    * yields one absurd length must not dominate a mean). Thresholds come
    * from ONE percentile_approx aggregate (both quantiles in the same
    * pass), broadcast back, clipped map-side — the corpus never
    * shuffles; no rank window anywhere. Same exactness regime as
    * [[topFractionBySourceSketch]]: with accuracy ≫ 2n the GK summary
    * retains every sample and threshold q is EXACTLY the value at rank
    * ceil(q·n) ascending (the gate rule, q143); at corpus scale the
    * published ±relativeError·n rank band applies instead.
    * Output: (doc_id, source, score, clipped). */
  def winsorizeBySource(docs: DataFrame, pLo: Double, pHi: Double,
      scoreCol: String = "score", accuracy: Int = 1 << 20): DataFrame = {
    require(pLo > 0.0 && pHi < 1.0 && pLo < pHi,
      s"need 0 < pLo < pHi < 1: ($pLo, $pHi)")
    val thr = docs.groupBy(col("source"))
      .agg(percentile_approx(col(scoreCol).cast("double"),
        array(lit(pLo), lit(pHi)), lit(accuracy)).as("__q"))
      .select(col("source"), col("__q")(0).as("__lo"), col("__q")(1).as("__hi"))
    docs.select(col("doc_id"), col("source"), col(scoreCol))
      .join(broadcast(thr), "source")
      .select(col("doc_id"), col("source"), col(scoreCol),
        least(greatest(col(scoreCol).cast("double"), col("__lo")), col("__hi"))
          .as("clipped"))
  }

  /** Per-source z-score standardization of a quality score — the
    * parametric complement to [[percentileBySource]] (use ranks when the
    * distribution is unknown, z-scores when roughly bell-shaped scores
    * should keep their spread): z = (x − mean)/std with the source's own
    * sample mean/std. ONE count/sum/sum-of-squares aggregate (exact
    * integer sums over long scores), broadcast back, map-side arithmetic
    * — the corpus never shuffles. The tail (mean, the n·Σx²−(Σx)²
    * variance numerator, clamp, sqrt, the division) is a fixed IEEE
    * sequence mirrored verbatim in the oracle (the q117/q144
    * convention); z is NULL for sources with n < 2 or zero variance
    * rather than NaN/±inf. */
  def standardizeBySource(docs: DataFrame,
      scoreCol: String = "score"): DataFrame = {
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("__n"),
        sum(col(scoreCol).cast("long")).as("__s"),
        sum(col(scoreCol).cast("long") * col(scoreCol).cast("long")).as("__ss"))
    val num = col("__n").cast("double") * col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double")
    val varC = greatest(lit(0.0), num) /
      (col("__n").cast("double") * (col("__n") - lit(1L)).cast("double"))
    val stdC = sqrt(varC)
    val meanC = col("__s").cast("double") / col("__n").cast("double")
    docs.select(col("doc_id"), col("source"), col(scoreCol))
      .join(broadcast(stats), "source")
      .select(col("doc_id"), col("source"), col(scoreCol),
        when(col("__n") >= 2L && stdC > lit(0.0),
          (col(scoreCol).cast("double") - meanC) / stdC).as("z"))
  }

  /** Per-source MEDIAN/MAD robust standardization of a quality score —
    * the outlier-immune complement to [[standardizeBySource]] (one
    * pathological doc can drag a mean/std z-score arbitrarily; the
    * median and the median-absolute-deviation have 50% breakdown, so
    * robust-z based gates survive heavy-tailed quality scores):
    * rz = (x − median)/MAD, MAD = median(|x − median|), both within the
    * doc's own source. Scores are integral (cast long, the
    * [[standardizeBySource]] contract), so every interpolated median is
    * an exact multiple of 1/2, every deviation an exact multiple of
    * 1/2, the MAD an exact multiple of 1/4 — all bit-exact doubles in
    * both engines regardless of each engine's interpolation formula —
    * and rz is one IEEE division. rz is NULL when MAD = 0 (a
    * majority-constant source has no robust spread) rather than
    * NaN/±inf; NULL scores pass through with NULL rz.
    *
    * Scale shape: two exact per-source percentile aggregates (the
    * second over the broadcast-joined deviations), each buffering one
    * source's values per group — sources are few and the aggregate is
    * sort-free at the plan level; at trillion-row scale swap in the GK
    * sketch via [[topFractionBySourceSketch]]'s convention. The corpus
    * itself never shuffles: both stat relations broadcast back and the
    * final arithmetic is map-side. */
  def robustStandardizeBySource(docs: DataFrame,
      scoreCol: String = "score"): DataFrame = {
    val x = col(scoreCol).cast("long")
    val med = docs.groupBy(col("source"))
      .agg(percentile(x, lit(0.5)).as("med"))
    val mad = docs.select(col("source"), x.as("__x"))
      .join(broadcast(med), "source")
      .groupBy(col("source"))
      .agg(max(col("med")).as("med"),
        percentile(abs(col("__x").cast("double") - col("med")), lit(0.5)).as("mad"))
    docs.select(col("doc_id"), col("source"), col(scoreCol))
      .join(broadcast(mad), "source")
      .select(col("doc_id"), col("source"), col(scoreCol), col("med"), col("mad"),
        when(col("mad") > lit(0.0),
          (x.cast("double") - col("med")) / col("mad")).as("rz"))
  }

  /** Per-column data-quality profile of any relation: row count, null
    * count and exact distinct count per profiled column — the sanity
    * pass a pipeline runs before training on a new drop. ONE scan:
    * a single aggregate carries (count, count(col), countDistinct(col))
    * for every column (Catalyst's expand handles the multi-distinct),
    * then the one-row result unpivots to a row per column. Values are
    * counted, never rendered — no cross-engine string formatting of
    * doubles. */
  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(cols.distinct == cols, s"duplicate profiled columns: $cols")
    require(cols.forall(!_.contains(".")),
      "dotted column names would parse as struct access in the aliases")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"), countDistinct(col(c)).as(s"__nd_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"), col("__n").as("n"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"))): _*)).as("__p"))
      .select(col("__p.column"), col("__p.n"), col("__p.n_null"),
        col("__p.n_distinct"))
  }

  /** Within-source PERCENTILE of a quality score — the normalization
    * step before thresholding scores across heterogeneous sources (a
    * "0.8" from one heuristic and another are not comparable; their
    * within-source ranks are). pctl = (rank − 1)/(n − 1) ∈ [0, 1] with
    * rank = row_number over (score, doc_id) — the doc_id tie-break makes
    * the rank (and the percentile) deterministic under ties, unlike
    * percent_rank's gap semantics; a single-row source defines 0.0.
    * Exact: integer rank arithmetic, one IEEE division. One shuffle
    * keyed by source; both windows share the partitioning. */
  def percentileBySource(docs: DataFrame,
      scoreCol: String = "score"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = Window.partitionBy(col("source"))
    val ranked = Window.partitionBy(col("source"))
      .orderBy(col(scoreCol), col("doc_id"))
    docs.select(col("doc_id"), col("source"), col(scoreCol))
      .withColumn("__n", count(lit(1)).over(bySource))
      .withColumn("__r", row_number().over(ranked))
      .select(col("doc_id"), col("source"), col(scoreCol),
        when(col("__n") === 1L, lit(0.0))
          .otherwise((col("__r") - 1).cast("double") /
            (col("__n") - 1).cast("double")).as("pctl"))
  }

  /** Multi-signal quality blend: the mean of each doc's within-source
    * percentile ranks over several score signals — rank-normalizing
    * every signal before blending so no signal's scale dominates (the
    * rank-fusion complement to q153's parametric z-scores; the
    * multi-signal form of [[percentileBySource]]). Each percentile uses
    * the same deterministic (value, doc_id) row_number rule; the blend
    * is one left-associated IEEE sum over the percentiles divided by
    * the signal count, mirrored verbatim in the oracle.
    *
    * Scale shape: every rank window partitions by the SAME source key,
    * so all of them (and the count) share ONE source-keyed exchange —
    * Spark reuses the partitioning and only re-sorts per window. */
  def blendPercentiles(docs: DataFrame,
      scores: Seq[(String, Column)]): DataFrame = {
    require(scores.nonEmpty, "need at least one score signal")
    import org.apache.spark.sql.expressions.Window
    val bySource = Window.partitionBy(col("source"))
    val base = docs.select(col("doc_id") +: col("source") +:
      scores.map { case (n, c) => c.as(s"__s_$n") }: _*)
    val withP = scores.foldLeft(base.withColumn("__n", count(lit(1)).over(bySource))) {
      case (df, (n, _)) =>
        // asc_nulls_last: Spark's ASC default is NULLS FIRST where
        // DuckDB's is NULLS LAST — a NULL score (e.g. NULL text) must
        // rank identically in both engines or every rank shifts
        val ranked = Window.partitionBy(col("source"))
          .orderBy(col(s"__s_$n").asc_nulls_last, col("doc_id"))
        df.withColumn(s"pctl_$n",
          when(col("__n") === 1L, lit(0.0))
            .otherwise((row_number().over(ranked) - 1).cast("double") /
              (col("__n") - 1).cast("double")))
    }
    val blend = scores.map { case (n, _) => col(s"pctl_$n") }.reduce(_ + _) /
      lit(scores.size.toDouble)
    withP.select(col("doc_id") +: col("source") +:
      scores.map { case (n, _) => col(s"pctl_$n") } :+ blend.as("blend"): _*)
  }

  /** Curriculum / quality-temperature mix: rank docs by a quality score
    * into per-source DECILES (the [[blendPercentiles]] percentile
    * machinery) and keep each decile at rate ((d+1)/10)^alpha — alpha=0
    * keeps everything (uniform), alpha=1 keeps linearly-by-quality,
    * larger alpha concentrates the kept corpus on the top deciles while
    * NEVER zeroing a decile (the published data-mixing finding that
    * hard quality cutoffs hurt diversity; a temperature knob beats a
    * threshold). Emits the kept (doc_id, source, decile).
    *
    * Determinism: decile = LEAST(floor(pctl·10), 9) on the exact
    * rank-percentile; the keep decision is the integer-threshold
    * hash60 rule with the ten thresholds computed driver-side and
    * rendered as literals — no float knife-edges cross-engine. Scale
    * shape: the rank windows are source-partitioned (the q174/q180
    * family; the GK-sketch swap documented at q218 applies to
    * mega-sources), everything after is map-side. */
  def curriculumMix(docs: DataFrame, score: Column, alpha: Double,
      salt: String): DataFrame = {
    require(alpha >= 0.0, s"alpha must be non-negative: $alpha")
    val p = blendPercentiles(docs, Seq("s" -> score))
    val dec = least(floor(col("pctl_s") * lit(10.0)).cast("int"), lit(9))
    val thr = (0 to 9).map(d =>
      graft.pipeline.Sampling.threshold(math.pow((d + 1) / 10.0, alpha)))
    val thrCol = (0 to 9).foldRight(lit(0L): Column) { (d, els) =>
      when(col("decile") === d, lit(thr(d))).otherwise(els)
    }
    p.select(col("doc_id"), col("source"), dec.as("decile"))
      .filter(graft.pipeline.Sampling.hash60(
        col("doc_id"), col("source"), salt) < thrCol)
  }

  /** Per-WINDOW data-quality profile — [[profileTable]] with the time
    * dimension (the Deequ-style monitor that catches "ingest broke at
    * 14:00: a column went all-NULL / cardinality collapsed" — the
    * schema-drift class of failure the global profile averages away):
    * per tumbling event-time window and column, exact row/NULL/distinct
    * counts. Long format (window_start, column, n, n_null, n_distinct)
    * so new columns are rows, not schema changes.
    *
    * Scale shape: ONE window-keyed aggregation pass (map-combinable
    * counts; the exact distincts expand one pass per column — the
    * documented [[profileTable]] cost, per window here); rows with NULL
    * event time are excluded (no window to attribute data quality to —
    * ts-NULL-rate itself belongs to the global profile). */
  def profileWindowed(df: DataFrame, tsCol: String,
      windowDuration: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(cols.distinct == cols, s"duplicate profiled columns: $cols")
    require(cols.forall(!_.contains(".")),
      "dotted column names would parse as struct access in the aliases")
    val durUs = graft.streaming.StreamingHist.fixedWindowUs(windowDuration)
    val us = unix_micros(col(tsCol))
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"), countDistinct(col(c)).as(s"__nd_$c"))
    }
    df.filter(col(tsCol).isNotNull)
      .withColumn("__ws", us - pmod(us, lit(durUs)))
      .groupBy(col("__ws"))
      .agg(aggs.head, aggs.tail: _*)
      .select(timestamp_micros(col("__ws")).as("window_start"),
        explode(array(cols.map(c => struct(
          lit(c).as("column"), col("__n").as("n"),
          (col("__n") - col(s"__nn_$c")).as("n_null"),
          col(s"__nd_$c").as("n_distinct"))): _*)).as("__p"))
      .select(col("window_start"), col("__p.column"), col("__p.n"),
        col("__p.n_null"), col("__p.n_distinct"))
  }

  /** [[profileWindowed]]'s SKETCH-distinct scale path with a pinned
    * accuracy contract: per (window, column), exact row/NULL counts
    * plus an HLL++ distinct estimate checked against the exact
    * distinct (|est − exact| ≤ bound·exact, the q172 convention —
    * the estimate itself is engine-specific, the verdict is the
    * cross-engine contract). At 100 TB the exact distinct state per
    * window is Σ per-column distinct VALUES (unbounded for an id
    * column); the sketch caps state at a fixed register array per
    * (window, column) — this gate converts the accuracy claim into a
    * regression contract, the exact count staying in the output as
    * the gate-scale QA pass. The bound is relative-plus-additive
    * (|est − exact| ≤ bound·exact + slack): Spark's HLL++ has no
    * exact sparse mode, so a near-empty window's estimate can miss a
    * purely relative bound by a couple of registers while being
    * operationally perfect — the additive term absorbs that floor,
    * the relative term governs at scale. */
  def profileWindowedSketch(df: DataFrame, tsCol: String,
      windowDuration: String, cols: Seq[String], rsd: Double,
      bound: Double, slack: Double = 5.0): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(cols.distinct == cols, s"duplicate profiled columns: $cols")
    require(rsd > 0.0 && bound > 0.0, "rsd and bound must be positive")
    val durUs = graft.streaming.StreamingHist.fixedWindowUs(windowDuration)
    val us = unix_micros(col(tsCol))
    // One column-pruned pass per profiled column, each COLLAPSING to
    // the per-window distinct values FIRST (a map-combinable distinct:
    // the shuffle moves per-partition uniques, never raw rows), then
    // exact count + HLL over the collapsed relation — HLL registers
    // are max-merged, so the estimate over the distinct SET is
    // bit-identical to the estimate over the raw multiset. The
    // previous form asked one aggregate for every column's exact AND
    // approximate distinct together, which plans as a 7-way Expand of
    // the raw relation (rows x (2·cols+1) through the shuffle) —
    // measured 15 s -> 4 s at sf0.1 after the split.
    val base = df.filter(col(tsCol).isNotNull)
      .withColumn("__ws", us - pmod(us, lit(durUs)))
    val counts = base.groupBy(col("__ws"))
      .agg(count(lit(1)).as("__n"),
        cols.map(c => count(col(c)).as(s"__nn_$c")): _*)
    val perCol = cols.map { c =>
      base.select(col("__ws"), col(c).as("__v")).distinct()
        .groupBy(col("__ws"))
        .agg(count(col("__v")).as(s"__nd_$c"),
          approx_count_distinct(col("__v"), rsd).as(s"__est_$c"))
    }
    val joined = perCol.foldLeft(counts)((acc, d) =>
      acc.join(d, Seq("__ws"), "left"))
    joined
      .select(timestamp_micros(col("__ws")).as("window_start"),
        explode(array(cols.map(c => struct(
          lit(c).as("column"), col("__n").as("n"),
          (col("__n") - col(s"__nn_$c")).as("n_null"),
          coalesce(col(s"__nd_$c"), lit(0L)).as("n_distinct"),
          (abs(coalesce(col(s"__est_$c"), lit(0L)) -
              coalesce(col(s"__nd_$c"), lit(0L))).cast("double") <=
            lit(bound) * coalesce(col(s"__nd_$c"), lit(0L)).cast("double") +
              lit(slack))
            .as("within_bound"))): _*))
          .as("__p"))
      .select(col("window_start"), col("__p.column"), col("__p.n"),
        col("__p.n_null"), col("__p.n_distinct"), col("__p.within_bound"))
  }

  /** Per-source symmetric TRIMMED MEAN of a quality score — the robust
    * location estimate between [[winsorizeBySource]] (clip outliers to
    * the fence) and [[robustStandardizeBySource]] (median): drop the
    * lowest and highest k = floor(n·p) scores, average the rest. The
    * dashboard number that doesn't move when a crawler bug injects a
    * few million empty or giant docs. Deterministic: ranks use the
    * (score, doc_id) tie-break; k = floor(double multiply) is the same
    * IEEE op in both engines; NULL scores are excluded up front (a mean
    * over NULLs is undefined, not zero). Exact: integral scores sum in
    * DECIMAL(38,0); the mean is one division of exact operands. p < 0.5
    * guarantees a non-empty kept band for every n ≥ 1.
    *
    * Scale shape: one source-keyed exchange shared by the count and
    * rank windows, map-side band filter, then a map-combinable
    * per-source aggregate. For trillion-row sources swap the rank
    * windows for the GK-sketch band bounds (the
    * [[topFractionBySourceSketch]] convention). */
  def trimmedMeanBySource(docs: DataFrame, p: Double,
      scoreCol: String = "score"): DataFrame = {
    require(p >= 0.0 && p < 0.5, s"need 0 <= p < 0.5: $p")
    import org.apache.spark.sql.expressions.Window
    val bySource = Window.partitionBy(col("source"))
    val ranked = bySource.orderBy(col("__x"), col("doc_id"))
    docs.filter(col(scoreCol).isNotNull)
      .select(col("doc_id"), col("source"), col(scoreCol).cast("long").as("__x"))
      .withColumn("__n", count(lit(1)).over(bySource))
      .withColumn("__k", floor(col("__n").cast("double") * lit(p)))
      .withColumn("__r", row_number().over(ranked))
      .filter(col("__r") > col("__k") && col("__r") <= col("__n") - col("__k"))
      .groupBy(col("source"))
      .agg(max(col("__n")).as("n"), max(col("__k")).as("k_trimmed"),
        (sum(col("__x").cast("decimal(38,0)")).cast("double") /
          count(lit(1)).cast("double")).as("trimmed_mean"))
  }

  /** Gini coefficient of the corpus' source-size distribution — the
    * concentration number a mixture review leads with ("is the corpus
    * one domain wearing twenty hats?"): 0 = every source equally
    * sized, →1 = one source is the corpus. Computed from the
    * rank-sorted source sizes x₁≤…≤x_n as
    * G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) — every sum EXACT in
    * DECIMAL(38,0)/HUGEINT, ONE final IEEE division; no
    * transcendental anywhere, so the double is bit-identical
    * cross-engine. Ties rank deterministically by (size, source).
    *
    * Scale shape: the corpus collapses to the per-source count
    * aggregate (map-combinable); the rank window and the three sums
    * run on that |sources|-sized relation — the unpartitioned sort is
    * over sources, never rows. */
  def sourceGini(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("__x"))
    val ranked = counts.withColumn("__i",
      row_number().over(Window.orderBy(col("__x"), col("source"))).cast("long"))
    ranked.agg(count(lit(1)).as("n_sources"),
        sum(col("__x")).as("total_docs"),
        sum(col("__i").cast("decimal(38,0)") * col("__x").cast("decimal(38,0)"))
          .as("__six"))
      .select(col("n_sources"), col("total_docs"),
        ((lit(2).cast("decimal(38,0)") * col("__six") -
          (col("n_sources") + lit(1L)).cast("decimal(38,0)") *
            col("total_docs").cast("decimal(38,0)")).cast("double") /
          (col("n_sources").cast("decimal(38,0)") *
            col("total_docs").cast("decimal(38,0)")).cast("double")).as("gini"))
  }

  /** The LM-filter curation stage (the perplexity-gate step of the
    * classic crawl-cleaning recipe: score every doc under a language
    * model, keep the least-surprising fraction of each source):
    * [[graft.pipeline.TextAnalysis.lmScore]]'s mean token log-prob,
    * rank-normalized within source by the [[percentileBySource]] rule
    * ((rank−1)/(n−1), (score, doc_id) tie-break, single-row source =
    * 0.0), keeping docs at or above `minPctl`. Ranking the score is
    * safe cross-engine because the lm_score doubles are bit-identical
    * by construction. Docs that produce no LM score (NULL text, zero
    * tokens) have no rank and are dropped — unscoreable is not
    * "good enough". Ranks are computed over the full scored corpus
    * (the [[curateBlend]] rule: a gate must not shift other docs'
    * percentiles).
    *
    * Scale shape: the q193 plan (token explode, two map-combinable
    * aggregates, doc-keyed fold) + one doc_id equi-join to recover the
    * source + ONE source-keyed exchange both rank windows share; the
    * filter is map-side on the window output. */
  def lmFilter(docs: DataFrame, minPctl: Double): DataFrame = {
    require(minPctl >= 0.0 && minPctl <= 1.0, s"minPctl out of [0,1]: $minPctl")
    import org.apache.spark.sql.expressions.Window
    val scored = graft.pipeline.TextAnalysis.lmScore(docs)
      .select(col("doc_id"), col("lm_score"))
    val bySource = Window.partitionBy(col("source"))
    val ranked = bySource.orderBy(col("lm_score"), col("doc_id"))
    docs.select(col("doc_id"), col("source")).join(scored, "doc_id")
      .withColumn("__n", count(lit(1)).over(bySource))
      .withColumn("pctl",
        when(col("__n") === 1L, lit(0.0))
          .otherwise((row_number().over(ranked) - 1).cast("double") /
            (col("__n") - 1).cast("double")))
      .filter(col("pctl") >= minPctl)
      .select(col("doc_id"), col("source"), col("lm_score"), col("pctl"))
  }

  /** The 100 TB form of [[lmFilter]]'s per-source percentile gate —
    * mega-source hardening, generalizing the q202 straggler note:
    * lmFilter's exact rank is a per-source sort window, so ONE
    * pathological mega-source (a single crawl domain with 1e9 docs)
    * drags its whole partition through one reducer. Here the per-source
    * threshold comes from percentile_approx's map-combinable GK summary
    * — bounded state per source regardless of source size, no rank
    * window anywhere in the plan — and kept docs are a map-side
    * `lm_score >= threshold` against the broadcast thresholds.
    *
    * Gating follows the q157–q160 contract discipline: the sketch's
    * threshold VALUE is partitioning-dependent at approximate accuracy
    * (no value gate possible), but its error CONTRACT is a theorem —
    * the threshold's exact rank interval must intersect
    * [floor((p−e)·n), ceil((p+e)·n)] with e = 1/accuracy. Emitted as
    * TWO one-sided verdicts (threshold not ranked too high / too low)
    * so a violation pins which side broke. The exact ranks come from
    * one conditional-count aggregate per source — a scan, not a sort. */
  def lmFilterSketch(docs: DataFrame, minPctl: Double,
      accuracy: Int = 25): DataFrame = {
    require(minPctl >= 0.0 && minPctl <= 1.0, s"minPctl out of [0,1]: $minPctl")
    require(accuracy >= 2, s"accuracy must be >= 2: $accuracy")
    val scored = graft.pipeline.TextAnalysis.lmScore(docs)
      .select(col("doc_id"), col("lm_score"))
    val src = docs.select(col("doc_id"), col("source")).join(scored, "doc_id")
    val thr = src.groupBy(col("source"))
      .agg(percentile_approx(col("lm_score"), lit(minPctl),
        lit(accuracy)).as("__thr"))
    val e = 1.0 / accuracy
    val agg = src.join(broadcast(thr), "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        count(when(col("lm_score") < col("__thr"), lit(1))).as("__below"),
        count(when(col("lm_score") <= col("__thr"), lit(1))).as("__leq"))
    val nD = col("n").cast("double")
    agg.select(col("source"), col("n"),
      ((col("__below") + lit(1L)).cast("double") <=
        ceil((lit(minPctl) + lit(e)) * nD).cast("double")).as("lo_within_bound"),
      (col("__leq").cast("double") >=
        floor((lit(minPctl) - lit(e)) * nD).cast("double")).as("hi_within_bound"))
  }

  /** DSIR-style importance weights (published method: Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score each candidate document by how much more likely its
    * hashed-unigram features are under a small high-quality TARGET
    * slice's distribution than under the candidate pool's own —
    * log w(d) = Σ_tokens [ln p̂_t(b(tok)) − ln p̂_c(b(tok))], with
    * tokens hashed into `buckets` feature buckets (the [[TextAnalysis
    * .hashEmbed]] md5 convention) and Laplace +1 smoothing on both
    * estimates (every bucket ratio finite, no corpus-coverage
    * assumptions). Feed the weights to [[Sampling.weightedSample]] for
    * the resampling step. Emits (doc_id, log_weight) for candidate
    * (non-target) docs with ≥ 1 token.
    *
    * Cross-engine exactness: bucket counts and totals are exact
    * integers; each p̂ is ONE IEEE division; ln is 1e-9-floor-quantized
    * (the q141 convention) once per bucket×side; the per-doc sum folds
    * tf·(lnp_t − lnp_c) in bucket order (the sequential-sum contract).
    *
    * Scale shape: ONE corpus tokenize pass → the map-combinable
    * (doc, bucket) tf aggregate; the per-bucket ratio table is
    * `buckets`-sized and BROADCAST, so scoring is a map-side join +
    * a per-doc fold over ≤ distinct-buckets-per-doc entries. No rank
    * windows, no corpus-sized shuffle beyond the tf aggregate. */
  def dsirWeights(docs: DataFrame, isTarget: Column,
      buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), isTarget.as("__t"),
        explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("tok"))
      .select(col("doc_id"), col("__t"),
        (conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long")
          % buckets).as("__b"))
    val tf = toks.groupBy(col("doc_id"), col("__t"), col("__b"))
      .agg(count(lit(1)).as("__tf"))
    // buckets-sized side table: smoothed per-bucket log-ratio
    val bstats = tf.groupBy(col("__b"))
      .agg(sum(when(col("__t"), col("__tf")).otherwise(0L)).as("__ct"),
        sum(when(!col("__t"), col("__tf")).otherwise(0L)).as("__cc"))
    val totals = bstats.agg(sum(col("__ct")).as("__tt"),
      sum(col("__cc")).as("__tc"))
    def qln(c: Column): Column = floor(log(c) * lit(1.0e9)) / lit(1.0e9)
    val ratio = bstats.crossJoin(broadcast(totals))
      .select(col("__b"),
        (qln((col("__ct") + lit(1L)).cast("double") /
            (col("__tt") + lit(buckets.toLong)).cast("double")) -
          qln((col("__cc") + lit(1L)).cast("double") /
            (col("__tc") + lit(buckets.toLong)).cast("double"))).as("__r"))
    tf.filter(!col("__t"))
      .join(broadcast(ratio), "__b")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("__b"),
        (col("__tf").cast("double") * col("__r")).as("__w")))).as("__a"))
      .select(col("doc_id"), aggregate(col("__a"), lit(0.0),
        (acc, x) => acc + x.getField("__w")).as("log_weight"))
  }

  /** [[curate]] with a RELATIVE quality gate: a fifth criterion requiring
    * the doc's multi-signal blended percentile ([[blendPercentiles]]) to
    * reach `minBlend` — the quality-filter stage of a published curation
    * recipe, where "good enough" is defined against the doc's own
    * source distribution rather than an absolute threshold.
    *
    * The blend ranks are computed over the FULL corpus, like the
    * canonical-copy election: relative quality is a property of the
    * source's whole distribution, so the sampling/dedup gates must not
    * shift other docs' percentiles. Scale shape: the quality verdict
    * adds ONE source-keyed exchange (all its rank windows share it);
    * everything else is the [[curate]] plan, and the final intersection
    * stays a doc_id-keyed equi-join chain. Output: (doc_id, source,
    * blend) for the surviving docs. */
  def curateBlend(docs: DataFrame, benchmark: DataFrame,
      scores: Seq[(String, Column)], minBlend: Double = 0.5,
      minTokens: Long = 40L, ngram: Int = 5, rate: Double = 0.8,
      salt: String = "cur"): DataFrame = {
    val quality = blendPercentiles(docs, scores)
      .filter(col("blend") >= lit(minBlend))
      .select(col("doc_id"), col("blend"))
    curate(docs, benchmark, minTokens, ngram, rate, salt)
      .join(quality, "doc_id")
  }

  /** Curation EXPLAIN: one row per doc with every criterion's verdict —
    * the "why was my document dropped" debugging surface, and the input
    * to loss-attribution dashboards ("decontamination costs us 3% of
    * tokens, the quality gate 22%"). Unlike [[curate]]/[[curateBlend]]
    * (which emit only survivors and pre-filter cheaply), every verdict
    * here is computed over the FULL corpus so each flag is meaningful
    * per doc. A NULL-text doc carries NULL token/quality flags (SQL
    * three-valued logic) and `keep` follows AND's NULL rules — both
    * engines agree bitwise.
    *
    * Scale shape: four doc_id-keyed verdict relations intersected by
    * equi-join (AQE co-partitions); the blend adds its one source-keyed
    * exchange; everything else is the [[curate]] machinery. */
  /** Equipercentile cross-source score CALIBRATION — the fix for "every
    * source's scorer has its own scale" that [[percentileBySource]]'s
    * raw ranks only half-solve: each doc keeps its within-source
    * percentile but is assigned the GLOBAL score at that percentile
    * (the exact global order statistic of rank ⌊p·(N−1)⌋+1), so
    * calibrated values live on one common, interpretable scale. The
    * classic equating recipe, interpolation-free.
    *
    * Determinism: the percentile is the (score, doc_id) row_number
    * rule ((r−1)/(n−1), single-row source → 0); the global rank is
    * floor(p·(N−1))+1 — one IEEE multiply + floor on exact-in-double
    * operands; the lookup is an exact integer equi-join. NULL scores
    * drop.
    *
    * Scale shape: the per-source rank windows share ONE source-keyed
    * exchange (the q174 family; GK swap documented for mega-sources);
    * the global order statistics come from a DISTRIBUTED
    * range-partitioned sort + zipWithIndex (the q210 pattern — never a
    * global row_number window), and the lookup is a rank equi-join. */
  def quantileCalibrate(docs: DataFrame, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.filter(col(scoreCol).isNotNull)
      .select(col("doc_id"), col("source"), col(scoreCol).cast("double").as("__s"))
    val bySource = Window.partitionBy(col("source"))
    val ranked = Window.partitionBy(col("source"))
      .orderBy(col("__s"), col("doc_id"))
    val withP = base
      .withColumn("__n", count(lit(1)).over(bySource))
      .withColumn("__r", row_number().over(ranked))
      .select(col("doc_id"), col("source"), col("__s"),
        when(col("__n") === 1L, lit(0.0))
          .otherwise((col("__r") - 1).cast("double") /
            (col("__n") - 1).cast("double")).as("pctl"))
    // keyed memo: zipWithIndex runs its per-partition count job at
    // CONSTRUCTION time and the output is a LogicalRDD — every invocation
    // re-ran the global order-statistic sort
    val globalRanked = graft.util.RelCache.memo("quantileCalibrateRank", base)() {
      graft.util.RelCache.persist(base
        .select(struct(col("__s"), col("doc_id")).as("__k"))
        .orderBy(col("__k")).select(col("__k.__s")).as[Double].rdd
        .zipWithIndex().map { case (s, i) => (i + 1L, s) }
        .toDF("__rg", "__gs"))
    }
    val tot = base.agg(count(lit(1)).as("__N"))
    withP.crossJoin(broadcast(tot))
      .withColumn("__rg",
        (floor(col("pctl") * (col("__N") - 1L).cast("double")) + 1L).cast("long"))
      .join(globalRanked, "__rg")
      .select(col("doc_id"), col("source"), col("__s").as("score"),
        col("pctl"), col("__gs").as("calibrated"))
  }

  /** LORENZ CURVE of the source-size distribution — the curve behind
    * [[sourceGini]]'s scalar ("the bottom 80% of sources hold x% of
    * the corpus"): sources ranked by ascending size, each row the
    * cumulative fraction of sources and of documents up to that rank.
    * The diagonal is perfect equality; Gini = 2·(area between).
    * Exact long cumulatives (ties ranked by (size, source) — the
    * q209 order), two IEEE divisions per row. The one unpartitioned
    * sort is over SOURCES (the q209 convention). */
  def lorenzCurve(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("__x"))
    val w = Window.orderBy(col("__x"), col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = counts.agg(count(lit(1)).as("__ns"), sum(col("__x")).as("__nd"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("__x").as("n_docs"),
        row_number().over(Window.orderBy(col("__x"), col("source")))
          .cast("long").as("rank"),
        (sum(col("__x")).over(w)).as("__cd"), col("__ns"), col("__nd"))
      .select(col("source"), col("n_docs"), col("rank"),
        (col("rank").cast("double") / col("__ns").cast("double"))
          .as("cum_source_frac"),
        (col("__cd").cast("double") / col("__nd").cast("double"))
          .as("cum_doc_frac"))
  }

  /** Mutual information between two categorical columns — the leakage /
    * association audit ("is `lang` secretly a proxy for `source`? is a
    * supposedly-random split correlated with the label?") that the
    * per-pair lift of q208 can't summarize in one number:
    * MI = Σ_ij p_ij·ln(p_ij·N²/(n_i·n_j·N)) over the non-NULL cells,
    * plus both marginal entropies (so normalized variants are one
    * division away). MI ≥ 0 up to quantization; 0 ⇔ independent.
    *
    * Cross-engine bit-exactness: counts are exact longs; each ln is
    * 1e-9-quantized (the lmScore discipline — the ln ARGUMENT
    * n_ij·N/(n_i·n_j) is a quotient of exact-in-double longs, one IEEE
    * divide after two multiplies); the cell terms fold in (a, b) cell
    * order through one sorted-array aggregate (cells are
    * |A|·|B|-bounded, so the collect is bins-sized); entropies fold the
    * same way over each marginal. NULL in either column drops the row
    * (a missing category is not a category).
    *
    * Scale shape: one map-combinable (a, b) cell count, marginals and
    * the total derived FROM the cell relation (the corpus is read
    * once), everything after operates on the bounded cell table —
    * broadcast joins, one single-row fold. */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    def qln(x: Column): Column =
      floor(log(x) * lit(1.0e9)) / lit(1.0e9)
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__nab"))
    val ma = cells.groupBy(col("__a")).agg(sum(col("__nab")).as("__na"))
    val mb = cells.groupBy(col("__b")).agg(sum(col("__nab")).as("__nb"))
    val tot = cells.agg(coalesce(sum(col("__nab")), lit(0L)).as("__n"))
    // fold -Σ p·ln(p) in key order over the bounded marginal array
    def entropyFrame(m: DataFrame, keyCol: String, cnt: String,
        out: String): DataFrame =
      m.crossJoin(broadcast(tot))
        .agg(coalesce(max(col("__n")), lit(0L)).as("__n"),
          sort_array(collect_list(struct(col(keyCol), col(cnt)))).as("__m"))
        .select(aggregate(col("__m"), lit(0.0), (acc, x) =>
          acc - (x.getField(cnt).cast("double") / col("__n").cast("double")) *
            qln(x.getField(cnt).cast("double") / col("__n").cast("double")))
          .as(out))
    val mi = cells
      .join(broadcast(ma), "__a").join(broadcast(mb), "__b")
      .crossJoin(broadcast(tot))
      .agg(coalesce(max(col("__n")), lit(0L)).as("__n"),
        sort_array(collect_list(struct(col("__a"), col("__b"),
          col("__nab"), col("__na"), col("__nb")))).as("__cells"))
      .select(col("__n"),
        aggregate(col("__cells"), lit(0.0), (acc, x) =>
          acc + (x.getField("__nab").cast("double") / col("__n").cast("double")) *
            qln(x.getField("__nab").cast("double") * col("__n").cast("double") /
              (x.getField("__na").cast("double") * x.getField("__nb").cast("double"))))
          .as("mi"))
    mi.crossJoin(broadcast(entropyFrame(ma, "__a", "__na", "h_a")))
      .crossJoin(broadcast(entropyFrame(mb, "__b", "__nb", "h_b")))
      .select(col("__n").as("n_rows"), col("mi"), col("h_a"), col("h_b"))
  }

  /** CHI-SQUARED test of independence over a contingency table — the
    * significance companion to [[mutualInfo]] (MI says HOW associated;
    * χ² says whether the association exceeds sampling noise, and
    * Cramér's V normalizes it to [0,1] across table shapes): χ² =
    * Σ_ij (o_ij − e_ij)²/e_ij with e_ij = n_i·n_j/N, dof =
    * (r−1)(c−1), V = √(χ²/(N·(min(r,c)−1))). Absent cells (o = 0 for
    * a (row, col) pair both of whose marginals exist) CONTRIBUTE e_ij
    * — the full dense grid is enumerated from the marginals, not just
    * observed cells (dropping them understates χ²).
    *
    * Cross-engine bit-exactness: counts exact longs; each e is the
    * DECIMAL(38,0)-exact marginal product (n_i·n_j overflows int64 at
    * ~3e9-row marginals) converted once to double and divided by N
    * (both conversions correctly rounded single steps in either
    * engine); each term is subtract-square-divide in fixed order; the
    * sum folds in (row, col) cell order (sorted array + HOF fold ==
    * SUM ORDER BY); V is two more IEEE ops on the fold result. NULL
    * in either column drops the row (the mutualInfo convention).
    * Degenerate 1×c / r×1 tables: dof 0, χ² 0 up to quantization, V
    * NULL.
    *
    * Scale shape: ONE map-combinable cell count; the dense grid is
    * |A|·|B| rows built from two broadcast marginals — bounded by
    * category cardinalities, never data-sized. That bound only holds
    * for CATEGORICAL columns, so it is ENFORCED: `maxGridCells` caps
    * |A|·|B| via a RUNTIME guard folded into the plan (a 1-row
    * cardinality aggregate over the collapsed cell relation, raised
    * through raise_error the moment the marginals start producing
    * rows), so a high-cardinality pair (user_id × item_id) fails
    * before a data-sized marginal is broadcast, a data-sized grid is
    * densified, or the single collect_list row explodes — and the
    * operator stays LAZY: no eager job at construction time, no extra
    * input scan per chi2Independence() CALL (the r13 form ran an eager
    * head() per invocation; the guard aggregate now runs once per
    * ACTION, inside the query). The default (65,536 cells) is far
    * above any honest contingency test and far below the regime where
    * the single-row fold stops being driver-sized; a caller who truly
    * wants a wider table raises the budget explicitly. */
  def chi2Independence(df: DataFrame, aCol: String, bCol: String,
      maxGridCells: Long = 65536L): DataFrame = {
    require(maxGridCells > 0, s"bad grid budget: $maxGridCells")
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__nab"))
    // the guard relation: one broadcast row whose __ok is 1L under
    // budget and a raise_error above it; __ok MULTIPLIES into the row
    // marginal (1L is the identity) so no pruning rule can drop the
    // guard from the plan, and every path into the dense grid flows
    // through it
    val guard = cells
      .agg(count_distinct(col("__a")).as("__ca"),
        count_distinct(col("__b")).as("__cb"))
      .select(when(
          col("__ca").cast("decimal(38,0)") * col("__cb").cast("decimal(38,0)")
            <= lit(maxGridCells).cast("decimal(38,0)"), lit(1L))
        .otherwise(expr(
          s"""CAST(raise_error(concat(
             |  'chi2Independence: dense grid |$aCol|=', CAST(__ca AS STRING),
             |  ' x |$bCol|=', CAST(__cb AS STRING),
             |  ' cells exceeds maxGridCells=$maxGridCells — chi-squared is',
             |  ' a test for CATEGORICAL columns; collapse tail categories',
             |  ' first or raise maxGridCells explicitly')) AS BIGINT)"""
            .stripMargin.replaceAll("\n", " "))).as("__ok"))
    // BOTH marginals flow through the guard: mb's broadcast exchange is
    // built before the probe side runs, so an unguarded mb would
    // broadcast a data-sized marginal before ma's guard ever fired
    val ma = cells.groupBy(col("__a")).agg(sum(col("__nab")).as("__na"))
      .crossJoin(broadcast(guard))
      .select(col("__a"), (col("__na") * col("__ok")).as("__na"))
    val mb = cells.groupBy(col("__b")).agg(sum(col("__nab")).as("__nb"))
      .crossJoin(broadcast(guard))
      .select(col("__b"), (col("__nb") * col("__ok")).as("__nb"))
    val grid = ma.crossJoin(broadcast(mb))
      .join(cells, Seq("__a", "__b"), "left")
      .select(col("__a"), col("__b"), col("__na"), col("__nb"),
        coalesce(col("__nab"), lit(0L)).as("__o"))
    grid
      .agg(coalesce(sum(col("__o")), lit(0L)).as("__n"),
        count_distinct(col("__a")).as("__r"),
        count_distinct(col("__b")).as("__c"),
        sort_array(collect_list(struct(col("__a"), col("__b"),
          col("__o"), col("__na"), col("__nb")))).as("__g"))
      .select(col("__n").as("n_rows"), col("__r").as("n_a"),
        col("__c").as("n_b"),
        ((col("__r") - 1) * (col("__c") - 1)).as("dof"),
        aggregate(col("__g"), lit(0.0), (acc, x) => {
          val e = (x.getField("__na").cast("decimal(38,0)") *
            x.getField("__nb").cast("decimal(38,0)")).cast("double") /
            col("__n").cast("double")
          val d = x.getField("__o").cast("double") - e
          acc + d * d / e
        }).as("chi2"))
      .select(col("n_rows"), col("n_a"), col("n_b"), col("dof"),
        col("chi2"),
        when(col("dof") > 0 && col("n_rows") > 0,
          sqrt(col("chi2") / (col("n_rows").cast("double") *
            least(col("n_a") - 1, col("n_b") - 1).cast("double"))))
          .as("cramers_v"))
  }

  /** SPLIT-CONFORMAL threshold per group (Vovk et al.; Angelopoulos &
    * Bates 2023 tutorial form): over a deterministic hash-held-out
    * CALIBRATION slice, the ⌈(n+1)(1−α)⌉-th smallest nonconformity
    * score per group — the distribution-free cutoff such that a fresh
    * example's score falls below it with probability ≥ 1−α
    * (exchangeability is the only assumption; the +1 is the
    * finite-sample correction that makes the guarantee exact). The
    * production filter applies `score ≤ threshold` map-side; this
    * operator produces the per-group threshold table.
    *
    * Cross-engine exactness: the calibration membership is the
    * hash-split convention (md5-derived uniform < calFrac), the rank
    * is an exact integer, and the threshold is an ORDER STATISTIC of
    * the score VALUES (ties collapse to the same value, so tie order
    * cannot change the result — no interpolation, by construction).
    * A group whose calibration slice is too small for the corrected
    * rank (⌈(n+1)(1−α)⌉ > n) reports a NULL threshold — the honest
    * "no finite guarantee at this α" answer, never the max.
    *
    * Scale shape: the calibration slice is calFrac of the corpus,
    * filtered map-side; per-group rank via one window partitioned BY
    * GROUP (never a global sort); output is |groups| rows. */
  def conformalThreshold(df: DataFrame, groupCol: String, score: Column,
      alpha: Double, calFrac: Double = 0.3,
      salt: String = "conf"): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0 && calFrac > 0.0 && calFrac <= 1.0,
      s"bad conformal shape: alpha=$alpha calFrac=$calFrac")
    val cal = df
      .filter(Sampling.hash60(col("doc_id"), col(groupCol), salt) <
        lit(Sampling.threshold(calFrac)))
      .select(col(groupCol).as("group"), score.cast("double").as("__s"))
      .filter(col("__s").isNotNull && !isnan(col("__s")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col("__s"))
    cal
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("group"))))
      .withColumn("__need",
        ceil((col("__n") + 1).cast("double") * lit(1.0 - alpha)).cast("long"))
      .groupBy(col("group"))
      .agg(max(col("__n")).as("n_cal"),
        max(when(col("__r") === col("__need"), col("__s"))).as("threshold"))
  }

  /** Empirical COVERAGE of the [[conformalThreshold]] guarantee — the
    * validation half of split-conformal: on the HOLDOUT slice (the
    * complement of the calibration slice, same hash split), the
    * fraction of scores ≤ the group's threshold. Conformal theory
    * says expected coverage ≥ 1−α (and ≤ 1−α + 1/(n+1)) under
    * exchangeability; this operator turns that from a theorem into a
    * per-run, on-real-data number — the audit a production filter
    * reads before trusting its cutoff. Groups with a NULL threshold
    * (calibration too small) report NULL coverage, never 0.
    *
    * Cross-engine exactness: membership is the same hash60 split,
    * covered/total are exact longs, coverage is ONE IEEE division.
    * Scale shape: threshold table is |groups| rows broadcast back;
    * the holdout pass is one map-side filter + map-combinable group
    * aggregate. */
  def conformalCoverage(df: DataFrame, groupCol: String, score: Column,
      alpha: Double, calFrac: Double = 0.3,
      salt: String = "conf"): DataFrame = {
    val thr = conformalThreshold(df, groupCol, score, alpha, calFrac, salt)
    val holdout = df
      .filter(Sampling.hash60(col("doc_id"), col(groupCol), salt) >=
        lit(Sampling.threshold(calFrac)))
      .select(col(groupCol).as("group"), score.cast("double").as("__s"))
      .filter(col("__s").isNotNull && !isnan(col("__s")))
    holdout.join(broadcast(thr), Seq("group"), "left")
      .groupBy(col("group"))
      .agg(max(col("n_cal")).as("n_cal"),
        max(col("threshold")).as("threshold"),
        count(lit(1)).as("n_holdout"),
        sum(when(col("__s") <= col("threshold"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("group"), col("n_cal"), col("threshold"),
        col("n_holdout"),
        when(col("threshold").isNotNull,
          col("n_covered").cast("double") / col("n_holdout").cast("double"))
          .as("coverage"))
  }

  /** HILL tail-index estimator (Hill 1975) — how heavy is the upper
    * tail of a positive metric (doc lengths, user activity, purchase
    * values): over the k+1 largest values, α̂ = 1/(mean of
    * ln(x_(i)/x_(k+1))); α̂ ≤ 2 means infinite variance (mean-based
    * monitors are meaningless there — the operational reason to
    * measure it before trusting q20-style means at scale).
    *
    * Cross-engine exactness: the top-(k+1) order statistics come from
    * one exact sort-limit (ties by value only — the k-th VALUE is
    * well-defined); each ln is 1e-9-quantized (the lmScore
    * discipline) and the mean folds in rank order over the ≤ k-sized
    * array; the inverse is one IEEE division. Non-positive values
    * drop (log domain); fewer than k+1 positive values → NULL α̂.
    *
    * Scale shape: the global top-(k+1) of a 100 TB column is a
    * TakeOrdered (per-partition heaps, k+1 rows to the driver-side
    * merge) — never a global sort; everything after is on ≤ k+1
    * rows. */
  def tailIndex(df: DataFrame, value: Column, k: Int = 100): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    def qln(x: Column): Column = floor(log(x) * lit(1.0e9)) / lit(1.0e9)
    val top = df.select(value.cast("double").as("__x"))
      .filter(col("__x").isNotNull && !isnan(col("__x")) && col("__x") > 0.0)
      .orderBy(col("__x").desc)
      .limit(k + 1)
    // fold over ALL k+1 ranks: the (k+1)-th term is exactly 0, so the
    // sum equals Σ_{i≤k} (qln(x_i) − qln(x_{k+1})) in rank order;
    // try_element_at so a short array yields NULL (→ NULL guard), not
    // an ANSI out-of-range error
    val hillSum = aggregate(col("__xs"), lit(0.0), (acc, x) =>
      acc + (qln(x) - qln(try_element_at(col("__xs"), lit(k + 1)))))
    top
      .agg(count(lit(1)).as("__m"),
        sort_array(collect_list(col("__x")), asc = false).as("__xs"))
      .select(lit(k).as("k"), col("__m").as("n_top"),
        try_element_at(col("__xs"), lit(k + 1)).as("x_k1"),
        when(col("__m") === k + 1 && hillSum > 0.0,
          lit(k.toDouble) / hillSum).as("hill_alpha"))
  }

  def curateExplain(docs: DataFrame, benchmark: DataFrame,
      scores: Seq[(String, Column)], minBlend: Double = 0.5,
      minTokens: Long = 40L, ngram: Int = 5, rate: Double = 0.8,
      salt: String = "cur"): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      (regexp_count(col("text"), lit("\\S+")).cast("long") >= minTokens)
        .as("pass_tokens"),
      (Sampling.hash60(col("doc_id"), col("source"), salt) <
        lit(Sampling.threshold(rate))).as("pass_sample"))
    val canon = Dedup.exact(docs)
      .select(col("doc_id"), col("keep").as("is_canonical"))
    val clean = Dedup.decontaminate(docs, benchmark, ngram)
      .select(col("doc_id"), (!col("contaminated")).as("is_clean"))
    val quality = blendPercentiles(docs, scores)
      .select(col("doc_id"), (col("blend") >= lit(minBlend)).as("pass_quality"))
    base.join(canon, "doc_id").join(clean, "doc_id").join(quality, "doc_id")
      .withColumn("keep", col("pass_tokens") && col("pass_sample") &&
        col("is_canonical") && col("is_clean") && col("pass_quality"))
  }

  /** EXCESS-LOSS (learnability) selection — the RHO-LOSS idea
    * (Mindermann et al. 2022, "Prioritized Training on Points that are
    * Learnable, Worth Learning, and Not Yet Learnt", arXiv:2206.07137)
    * instantiated with the engine's two reference models: per document,
    * excess = lm2_score − lm_score, the per-token log-prob GAIN of the
    * in-corpus bigram model over the unigram "irreducible loss" proxy.
    * High excess = context makes the doc much more predictable =
    * structured, learnable text; low excess = word salad the bigram
    * model cannot compress, or pure stopword boilerplate. Keeps docs
    * whose excess sits at or above `minPctl` within their SOURCE (the
    * [[lmFilter]] rank discipline: exact (rank−1)/(n−1) percentile,
    * (excess, doc_id) tie-break, single-doc source = 0.0; unscoreable
    * docs are dropped, ranks run over the full scored corpus so the
    * gate never shifts other docs' percentiles).
    *
    * Cross-engine: both LM scores are bit-identical by construction
    * (quantized-ln per-token ordered folds), excess is ONE IEEE
    * subtract of those doubles, and the rank math is exact-integer.
    *
    * Scale shape: the q193 + q197 plans (one token pass each + map-
    * combinable aggregates; the bigram lag window is doc-bounded), one
    * doc_id equi-join, ONE source-keyed exchange shared by the two
    * rank windows, map-side filter. Mega-source hardening would follow
    * [[lmFilterSketch]]'s GK-threshold form. */
  def excessLossSelect(docs: DataFrame, minPctl: Double): DataFrame = {
    require(minPctl >= 0.0 && minPctl <= 1.0, s"minPctl out of [0,1]: $minPctl")
    import org.apache.spark.sql.expressions.Window
    val uni = graft.pipeline.TextAnalysis.lmScore(docs)
      .select(col("doc_id"), col("lm_score"))
    val big = graft.pipeline.TextAnalysis.lmScoreBigram(docs)
      .select(col("doc_id"), col("lm2_score"))
    val scored = uni.join(big, "doc_id")
      .select(col("doc_id"), (col("lm2_score") - col("lm_score")).as("excess"))
    val bySource = Window.partitionBy(col("source"))
    val ranked = bySource.orderBy(col("excess"), col("doc_id"))
    docs.select(col("doc_id"), col("source")).join(scored, "doc_id")
      .withColumn("__n", count(lit(1)).over(bySource))
      .withColumn("pctl",
        when(col("__n") === 1L, lit(0.0))
          .otherwise((row_number().over(ranked) - 1).cast("double") /
            (col("__n") - 1).cast("double")))
      .filter(col("pctl") >= minPctl)
      .select(col("doc_id"), col("source"), col("excess"), col("pctl"))
  }

  /** EFFECTIVE SAMPLE SIZE of the [[dsirWeights]] importance weights —
    * the health check importance resampling REQUIRES before use
    * (Kong 1992; the standard particle-filter degeneracy diagnostic):
    * ESS = (Σw)²/Σw². ESS ≈ n means the weights are nearly uniform
    * (resampling is safe but pointless); ESS ≪ n means a handful of
    * documents dominate — the resampled corpus would be near-duplicates
    * of a few outliers, and the right move is softer weights (more
    * hash buckets, temperature) not a bigger sample. One row:
    * (n_docs, ess, ess_frac = ESS/n); empty candidate set → NULL.
    *
    * Cross-engine: weights are scale-invariant in ESS, so each
    * log-weight is shifted by the corpus max (one scalar broadcast —
    * also the overflow guard) before exp; exp is 1e-9-floor-quantized
    * to exact longs (the q324 convention), and both Σq and Σq² sum
    * exactly in explicit-width DECIMAL, leaving ONE IEEE division.
    * Scale shape: the q220 plans + one single-row max broadcast + one
    * map-combinable moment aggregate. */
  def dsirEss(docs: DataFrame, isTarget: Column,
      buckets: Int = 1024): DataFrame = {
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val lw = dsirWeights(docs, isTarget, buckets)
      .select(col("log_weight"))
    val mx = lw.agg(max(col("log_weight")).as("__mx"))
    val q = floor(exp(col("log_weight") - col("__mx")) * lit(1.0e9))
      .cast("long")
    val t = lw.crossJoin(broadcast(mx))
      .select(q.as("__q"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__q")), lit(0L)).as("__s"),
        coalesce(sum((col("__q").cast(d19) * col("__q").cast(d19)).cast(d38)),
          lit(0L).cast(d38)).as("__s2"))
    val num = col("__s").cast(d19) * col("__s").cast(d19)
    val ess = num.cast("double") / col("__s2").cast("double")
    t.select(col("n_docs"),
      when(col("n_docs") === 0L, lit(null).cast("double")).otherwise(ess)
        .as("ess"),
      when(col("n_docs") === 0L, lit(null).cast("double"))
        .otherwise(ess / col("n_docs").cast("double")).as("ess_frac"))
  }

  /** DOMAIN MIXTURE WEIGHTS by one exponentiated-gradient step — the
    * DoReMi update rule (Xie et al. 2023, "DoReMi: Optimizing Data
    * Mixtures Speeds Up Language Model Pretraining", arXiv:2305.10429;
    * the underlying Group-DRO step is Sagawa et al. 2020): domains
    * whose EXCESS loss (here [[excessLossSelect]]'s bigram-over-unigram
    * gain as the proxy/reference pair) is highest get upweighted,
    * w_s ∝ exp(η · mean_excess_s), normalized over sources. One step of
    * the published iteration — the full DoReMi loop re-trains the proxy
    * between steps, which is the caller's outer loop.
    *
    * Cross-engine determinism: per-doc excess (bit-identical doubles)
    * is floor-quantized to 1e-9 longs, summed EXACTLY (order-free
    * integer sum; bound: |excess|·1e9·docs_per_source must fit int64 —
    * ~9e18, i.e. excess ≤ 30 supports 3e8 docs/source), mean is the
    * pinned CAST(sum)/1e9/n sequence, exp is 1e-9-floor-quantized (the
    * pow/ln convention — exp is not correctly rounded across libms),
    * and the softmax denominator folds the sources-sized relation in
    * source order (the sequential-sum contract).
    *
    * Scale shape: the q320 plans + ONE source-keyed map-combinable
    * aggregate; everything after runs on the sources-sized relation. */
  def doremiWeights(docs: DataFrame, eta: Double): DataFrame = {
    require(eta > 0.0, s"eta must be positive: $eta")
    val uni = graft.pipeline.TextAnalysis.lmScore(docs)
      .select(col("doc_id"), col("lm_score"))
    val big = graft.pipeline.TextAnalysis.lmScoreBigram(docs)
      .select(col("doc_id"), col("lm2_score"))
    val ex = uni.join(big, "doc_id")
      .select(col("doc_id"), (col("lm2_score") - col("lm_score")).as("__ex"))
    val per = docs.select(col("doc_id"), col("source")).join(ex, "doc_id")
      .select(col("source"),
        floor(col("__ex") * lit(1.0e9)).cast("long").as("__q"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__q")).as("__sq"))
      .withColumn("mean_excess",
        col("__sq").cast("double") / lit(1.0e9) / col("n_docs").cast("double"))
    val withW = per.withColumn("__w",
      floor(exp(lit(eta) * col("mean_excess")) * lit(1.0e9)) / lit(1.0e9))
    val wSum = withW
      .agg(sort_array(collect_list(struct(col("source"), col("__w")))).as("__a"))
      .select(aggregate(col("__a"), lit(0.0),
        (acc, x) => acc + x.getField("__w")).as("__ws"))
    withW.crossJoin(broadcast(wSum))
      .select(col("source"), col("n_docs"), col("mean_excess"),
        (col("__w") / col("__ws")).as("weight"))
  }

  /** DATASET CARTOGRAPHY (Swayamdipta et al. 2020, "Dataset Cartography:
    * Mapping and Diagnosing Datasets with Training Dynamics",
    * arXiv:2009.10795): per training example, summarize its score
    * trajectory across training steps into the paper's three map
    * coordinates — confidence (mean score), variability (population
    * std of the score), correctness (fraction of steps the score
    * cleared `thr`) — and classify the example into the paper's
    * regions: 'ambiguous' when variability ≥ vLo (the model keeps
    * changing its mind — the most informative examples), else 'easy'
    * (confidence ≥ cHi: consistently well-scored) or 'hard'
    * (consistently low — the label-error screening set). Here a key's
    * event stream IS its trajectory: (keyCol, scoreCol) rows, one per
    * observation.
    *
    * Cross-engine determinism: scores are 1e-6-floor-quantized to
    * exact longs and Σq / Σq² accumulate in DECIMAL(38,0) — exact and
    * order-free with NO double→string round-trip (a first draft summed
    * v² through the DECIMAL(38,14) string route and diverged in the
    * last ulp at sf0.3: squares of sub-unit scores need more than 14
    * fractional digits, the route's documented boundary). The ≤ 1e-6
    * moment quantization is the documented semantics (the q329/q246
    * convention; |score| ≤ ~3e6 fits the DECIMAL(13,0) square).
    * mean = (CAST(Σq)/1e6)/n, variability = √max(0, (CAST(Σq²)/1e12)/n
    * − mean·mean) — pinned IEEE sequences; correctness an exact-long
    * ratio; region thresholds compare those reproducible doubles.
    *
    * Scale shape: ONE map-combinable aggregate keyed by the example —
    * no windows, no self-joins, no sorting; the trajectory never
    * materializes per key. */
  def cartography(events: DataFrame, keyCol: String, scoreCol: String,
      thr: Double, cHi: Double, vLo: Double): DataFrame = {
    val v = col(scoreCol).cast("double")
    val q6 = floor(v * lit(1.0e6)).cast("long")
    val qd = q6.cast(org.apache.spark.sql.types.DecimalType(13, 0))
    val agg = events.filter(col(keyCol).isNotNull && v.isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(q6.cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("__s"),
        sum((qd * qd).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("__ss"),
        sum(when(v > lit(thr), 1L).otherwise(0L)).as("__c"))
    val mean = col("__s").cast("double") / lit(1.0e6) /
      col("n").cast("double")
    val variability = sqrt(greatest(lit(0.0),
      col("__ss").cast("double") / lit(1.0e12) / col("n").cast("double") -
        mean * mean))
    agg.select(col(keyCol), col("n"),
        mean.as("confidence"),
        variability.as("variability"),
        (col("__c").cast("double") / col("n").cast("double")).as("correctness"))
      .withColumn("region",
        when(col("variability") >= lit(vLo), lit("ambiguous"))
          .when(col("confidence") >= lit(cHi), lit("easy"))
          .otherwise(lit("hard")))
  }
}
