package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Rank-based evaluation statistics over raw value populations: ROC
  * AUC, the Mann–Whitney U test, score-calibration reliability (ECE),
  * and the Kaplan–Meier survival curve.
  *
  * These complete the engine's ML-evaluation surface next to the
  * distribution-drift family (PSI/KS/CvM/EMD/Hellinger say two
  * populations DIFFER; AUC/MWU say how well a score SEPARATES two
  * classes, and whether the separation beats chance), and the
  * churn/retention family (retention counts WHO came back; KM says how
  * long users SURVIVE, with censoring done right).
  *
  * Scale discipline shared by [[auc]] and [[mannWhitney]]: both need
  * ranks over the full score population — the textbook form is a
  * global sort of every row. Here the corpus first collapses to the
  * DISTINCT-SCORE relation (one map-combinable groupBy: score →
  * (pos_count, neg_count)), and the rank information is recovered from
  * an EXACT distributed prefix-sum over that collapsed relation:
  * RDD.sortBy (range partitioner frozen at construction, so every
  * job over the sorted RDD sees the same boundaries), one pass for
  * per-partition totals (driver state = numPartitions longs), one
  * pass adding broadcast offsets. No single-partition WindowExec
  * anywhere — the q210 zipf-rank fix generalized to cumulative sums. */
object RankStats {

  /** Collapse to the distinct-score relation and attach exact
    * strictly-below prefix sums: (score, p, n) → (__v, __p, __n,
    * __cp, __cn) where __cp/__cn are the pos/neg totals over scores
    * STRICTLY below __v. Two jobs over one sorted RDD (the shuffle
    * map output is reused; the range partitioner is constructed
    * eagerly by sortBy, so partition boundaries cannot drift between
    * the totals pass and the offset pass). */
  private[graft] def cumBeforeCounts(counts: DataFrame): DataFrame =
    // Keyed memo: the output is a LogicalRDD (toDF over the prefix-summed
    // RDD), and the build runs TWO eager RDD jobs + a collect — so
    // every AUC-family consumer of one (table, score, class) relation
    // (auc/aucCi/mannWhitney/bestThreshold/prCurve on the same counts,
    // and every repeated bench pass) re-ran the sort + offset passes.
    // One build per distinct counts plan; the pinned result relation is
    // distinct-score-sized (tiny next to its corpus).
    graft.util.RelCache.memo("cumBefore", counts)() {
      graft.util.RelCache.persist(cumBeforeCountsBuild(counts))
    }

  private def cumBeforeCountsBuild(counts: DataFrame): DataFrame = {
    val sp = counts.sparkSession
    import sp.implicits._
    val sorted = counts.as[(Double, Long, Long)].rdd.sortBy(_._1)
    val totals = sorted.mapPartitionsWithIndex { (i, it) =>
      var tp = 0L; var tn = 0L
      it.foreach { case (_, p, n) => tp += p; tn += n }
      Iterator((i, tp, tn))
    }.collect().sortBy(_._1)
    val offP = new Array[Long](totals.length + 1)
    val offN = new Array[Long](totals.length + 1)
    totals.foreach { case (i, tp, tn) =>
      offP(i + 1) = offP(i) + tp; offN(i + 1) = offN(i) + tn
    }
    val bp = sp.sparkContext.broadcast((offP, offN))
    val out = sorted.mapPartitionsWithIndex { (i, it) =>
      var cp = bp.value._1(i); var cn = bp.value._2(i)
      it.map { case (v, p, n) =>
        val r = (v, p, n, cp, cn); cp += p; cn += n; r
      }
    }
    out.toDF("__v", "__p", "__n", "__cp", "__cn")
  }

  private def scoreCounts(df: DataFrame, scoreCol: String,
      isPos: Column): DataFrame = {
    val v = col(scoreCol).cast("double")
    df.filter(v.isNotNull && !isnan(v))
      .groupBy(v.as("__v"))
      .agg(sum(when(isPos, 1L).otherwise(0L)).as("__p"),
        sum(when(isPos, 0L).otherwise(1L)).as("__n"))
  }

  /** ROC AUC of a numeric score predicting a binary condition — "does
    * the score rank positives above negatives?" (AUC = P(s⁺ > s⁻) +
    * ½·P(s⁺ = s⁻), the probabilistic/midrank form — ties count half,
    * the Hanley–McNeil convention every ML library implements).
    *
    * Exact arithmetic: 2U = Σ_v p(v)·(2·negBelow(v) + n(v)) is an
    * INTEGER identity over the distinct-score relation, summed as a
    * long (headroom 2·n⁺·n⁻ < 2⁶³ ≈ 9.2e18, i.e. ~2e9 rows per side;
    * past that swap the sum to DECIMAL(38,0)); AUC is then ONE IEEE
    * division of exact-cast doubles — bit-identical cross-engine.
    * NULL when either class is empty (the lifecycle convention). */
  def auc(df: DataFrame, scoreCol: String, isPos: Column): DataFrame = {
    val c = cumBeforeCounts(scoreCounts(df, scoreCol, isPos))
    val t = c.agg(
      coalesce(sum(col("__p")), lit(0L)).as("n_pos"),
      coalesce(sum(col("__n")), lit(0L)).as("n_neg"),
      coalesce(sum(col("__p") * (col("__cn") * lit(2L) + col("__n"))),
        lit(0L)).as("__u2"))
    t.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("double"))
        .otherwise(col("__u2").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double"))).as("auc"))
  }

  /** [[auc]] with its Hanley–McNeil confidence interval (Hanley &
    * McNeil 1982, "The meaning and use of the area under a receiver
    * operating characteristic curve"): the standard error every AUC
    * report should carry —
    * SE² = (A(1−A) + (n⁺−1)(Q₁−A²) + (n⁻−1)(Q₂−A²)) / (n⁺n⁻) with
    * Q₁ = A/(2−A), Q₂ = 2A²/(1+A) — and the z·SE interval (unclamped:
    * a bound outside [0,1] is the formula's own small-sample signal).
    * A degenerate AUC (one class empty) propagates NULL through
    * se/ci_lo/ci_hi.
    *
    * Cross-engine: A is [[auc]]'s exact-integer-derived double; the
    * tail is one fixed IEEE sequence on (A, n⁺, n⁻), mirrored verbatim
    * in the oracle. Scale shape: [[auc]]'s (distributed prefix sums on
    * the distinct-score relation) + a single-row tail. */
  def aucCi(df: DataFrame, scoreCol: String, isPos: Column,
      z: Double = 1.959963984540054): DataFrame = {
    val a = auc(df, scoreCol, isPos)
    val A = col("auc")
    val np = col("n_pos").cast("double")
    val nn = col("n_neg").cast("double")
    val q1 = A / (lit(2.0) - A)
    val q2 = lit(2.0) * A * A / (lit(1.0) + A)
    val se = sqrt((A * (lit(1.0) - A) +
      (np - lit(1.0)) * (q1 - A * A) +
      (nn - lit(1.0)) * (q2 - A * A)) / (np * nn))
    a.select(col("n_pos"), col("n_neg"), A, se.as("se"),
      (A - lit(z) * se).as("ci_lo"), (A + lit(z) * se).as("ci_hi"))
  }

  /** Mann–Whitney U test (Wilcoxon rank-sum) between the positive and
    * negative populations of a score — the NONPARAMETRIC two-sample
    * location test beside [[graft.stats.HistStats.welchT]] (Welch
    * assumes means are the story; MWU only assumes ranks, so a heavy
    * tail or an outlier burst can't fake or mask a shift). U is the
    * same integer statistic as [[auc]]'s (U = AUC·n⁺·n⁻); z is the
    * tie-corrected normal approximation
    * z = (U − n⁺n⁻/2) / √(σ²),
    * σ² = (n⁺n⁻/12)·[(T+1) − Σ(t³−t)/(T(T−1))] over tie groups t.
    *
    * Cross-engine: U from the exact long 2U; Σ(t³−t) in DECIMAL —
    * (12,0)·(12,0)·(12,0) products, so a tie group up to 1e12 rows
    * stays exact — then one pinned IEEE sequence for σ² and z,
    * mirrored verbatim in the oracle. NULL z when a class is empty
    * or every score is tied (σ² = 0: no rank information). */
  def mannWhitney(df: DataFrame, scoreCol: String,
      isPos: Column): DataFrame = {
    val c = cumBeforeCounts(scoreCounts(df, scoreCol, isPos))
    val tDec = (col("__p") + col("__n")).cast(DecimalType(12, 0))
    val t = c.agg(
      coalesce(sum(col("__p")), lit(0L)).as("n_pos"),
      coalesce(sum(col("__n")), lit(0L)).as("n_neg"),
      coalesce(sum(col("__p") * (col("__cn") * lit(2L) + col("__n"))),
        lit(0L)).as("__u2"),
      coalesce(sum(tDec * tDec * tDec - tDec),
        lit(0L).cast(DecimalType(38, 0))).as("__st3"))
    def d(name: String): Column = col(name).cast("double")
    val pd = d("n_pos"); val nd = d("n_neg")
    val td = pd + nd
    val sig2 = (pd * nd / lit(12.0)) *
      ((td + lit(1.0)) - d("__st3") / (td * (td - lit(1.0))))
    val degenerate = col("n_pos") === 0L || col("n_neg") === 0L ||
      col("n_pos") + col("n_neg") < 2L || sig2 <= lit(0.0)
    t.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("double"))
        .otherwise(d("__u2") / lit(2.0)).as("u"),
      when(degenerate, lit(null).cast("double"))
        .otherwise((d("__u2") - pd * nd) / (lit(2.0) * sqrt(sig2)))
        .as("z"))
  }

  /** Score-calibration RELIABILITY table + expected calibration error
    * — "when the score says 0.8, does the event happen 80% of the
    * time?": scores clamped to [0,1], bucketed into `nBins` equal
    * bins (the last bin closed so 1.0 lands in it), per-bin count,
    * positives, mean score (confidence) and positive rate (accuracy),
    * and ECE = Σ_b (n_b/N)·|conf_b − acc_b| repeated on every row.
    *
    * Cross-engine: the per-bin score sum takes the DECIMAL(38,14)
    * route, conf/acc are single IEEE divisions of exact values, and
    * the ECE fold runs in pinned bin order (sorted array + HOF fold
    * vs SUM ORDER BY). Scale shape: ONE map-combinable groupBy to an
    * nBins-sized relation; the total and the fold run on that bounded
    * table (the histogram convention — bounded by construction). */
  def reliability(df: DataFrame, scoreCol: String, isPos: Column,
      nBins: Int = 10): DataFrame = {
    val raw = col(scoreCol).cast("double")
    val s = least(greatest(raw, lit(0.0)), lit(1.0))
    val bin = least(floor(s * lit(nBins.toDouble)).cast("long"),
      lit(nBins.toLong - 1L))
    val perBin = df.filter(raw.isNotNull && !isnan(raw))
      .select(bin.as("bin"), s.as("__s"),
        when(isPos, 1L).otherwise(0L).as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("pos"),
        graft.util.Dec.sumDec(col("__s")).as("__ss"))
    val conf = col("__ss") / col("n").cast("double")
    val acc = col("pos").cast("double") / col("n").cast("double")
    val r = perBin.select(col("bin"), col("n"), col("pos"),
      conf.as("conf"), acc.as("acc"), abs(conf - acc).as("gap"))
    val total = r.agg(coalesce(sum(col("n")), lit(0L)).as("__tot"),
      sort_array(collect_list(struct(col("bin").as("k"),
        col("n").as("nb"), col("gap").as("g")))).as("__arr"))
    val ece = aggregate(col("__arr"), lit(0.0), (a, x) =>
      a + x.getField("nb").cast("double") / col("__tot").cast("double") *
        x.getField("g"))
    r.crossJoin(broadcast(total.select(ece.as("ece"))))
  }

  /** SPEARMAN rank correlation between two numeric columns — the
    * robust complement to the Pearson family (q117/q286): invariant to
    * monotone transforms and insensitive to outliers, the metric for
    * "do these two quality scores AGREE on ordering?" (scorer-vs-scorer
    * audits, judge-vs-heuristic agreement). Midrank (tie-averaged)
    * convention; ρ = Pearson over the rank vectors.
    *
    * Exact arithmetic: DOUBLED midranks are integers
    * (2r(v) = 2·countBelow + count + 1), computed from the [[auc]]
    * distributed prefix sum over the distinct-value relation — no rank
    * window; all five moments accumulate exactly in DECIMAL
    * ((13,0)·(13,0) per-row products, the mannWhitney pattern; the
    * n·Σab cross terms stay exact through explicit (13,0)×(25,0)
    * casts — headroom 4n³ < 1e25, i.e. ~1.3e8 rows; past that widen
    * the casts), and ρ is ONE IEEE tail over exact-cast doubles. A
    * constant column has zero rank variance → NULL (no ordering to
    * correlate). Output: one row (n, rho).
    *
    * Scale shape: two distinct-value prefix-sum passes + two equi-joins
    * of the row relation against the (Zipf-collapsed) rank relations +
    * ONE map-combinable moment aggregate. No windows over data-sized
    * relations. */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d13 = DecimalType(13, 0)
    val d19 = DecimalType(19, 0)
    val d25 = DecimalType(25, 0)
    val d38 = DecimalType(38, 0)
    val x = col(xCol).cast("double")
    val yv = col(yCol).cast("double")
    val base = graft.util.RelCache.persist(
      df.filter(x.isNotNull && !isnan(x) && yv.isNotNull && !isnan(yv))
        .select(x.as("__x"), yv.as("__y")))
    def ranks2(c: String): DataFrame = {
      val counts = base.groupBy(col(c).as("__v"))
        .agg(count(lit(1)).as("__p"), lit(0L).as("__n"))
      cumBeforeCounts(counts).select(col("__v").as(c),
        (col("__cp") * lit(2L) + col("__p") + lit(1L)).as(s"__r$c"))
    }
    val j = base.join(ranks2("__x"), "__x").join(ranks2("__y"), "__y")
      .select(col("__r__x").as("__a"), col("__r__y").as("__b"))
    def mom(p: Column, q: Column): Column =
      sum((p.cast(d13) * q.cast(d13)).cast(d38))
    val t = j.agg(count(lit(1)).as("n"),
      coalesce(sum(col("__a")), lit(0L)).as("__sa"),
      coalesce(sum(col("__b")), lit(0L)).as("__sb"),
      coalesce(mom(col("__a"), col("__b")), lit(0L).cast(d38)).as("__sab"),
      coalesce(mom(col("__a"), col("__a")), lit(0L).cast(d38)).as("__sa2"),
      coalesce(mom(col("__b"), col("__b")), lit(0L).cast(d38)).as("__sb2"))
    def crossTerm(m: Column, s1: Column, s2: Column): Column =
      col("n").cast(d13) * m.cast(d25) - s1.cast(d19) * s2.cast(d19)
    val num = crossTerm(col("__sab"), col("__sa"), col("__sb"))
    val da = crossTerm(col("__sa2"), col("__sa"), col("__sa"))
    val db = crossTerm(col("__sb2"), col("__sb"), col("__sb"))
    t.select(col("n"),
      when(col("n") === 0L || da === lit(0).cast(d38) ||
          db === lit(0).cast(d38), lit(null).cast("double"))
        .otherwise(num.cast("double") /
          sqrt(da.cast("double") * db.cast("double"))).as("rho"))
  }

  /** BRIER SCORE with Murphy's decomposition (Murphy 1973, "A new
    * vector partition of the probability score") — the calibration
    * family's accounting identity beside [[reliability]]'s ECE: over
    * the binned forecasts, Brier ≈ RELIABILITY − RESOLUTION +
    * UNCERTAINTY, splitting the error into "my probabilities are
    * miscalibrated" (REL = Σ n_k(f̄_k − o_k)²/N, smaller better),
    * "my forecasts actually separate outcomes" (RES = Σ n_k(o_k − ō)²/N,
    * larger better) and the irreducible base-rate noise
    * (UNC = ō(1 − ō)). The raw Brier is reported from the UNBINNED
    * per-row (s − y)², so the identity's binning residual is visible
    * rather than silently absorbed. One row: (n, base_rate, brier,
    * reliability, resolution, uncertainty); empty input → n = 0 with
    * NULL metrics.
    *
    * Cross-engine: scores and the per-row error are 1e-6-floor-
    * quantized exact longs with DECIMAL(38,0) sums (the q319/q329
    * moment convention — (s−y)² of sub-unit scores is exactly the
    * DECIMAL-string route's boundary case), per-bin means are pinned
    * CAST/1e6/n sequences, and the REL/RES terms fold over the
    * ≤ nBins sorted bins. Scale shape: ONE bin-keyed map-combinable
    * aggregate, then everything runs on the ≤ nBins relation. */
  def brierDecomposition(df: DataFrame, scoreCol: String, isPos: Column,
      nBins: Int = 10): DataFrame = {
    require(nBins > 0, s"nBins must be positive: $nBins")
    val d13 = DecimalType(13, 0)
    val d38 = DecimalType(38, 0)
    val raw = col(scoreCol).cast("double")
    val s = least(greatest(raw, lit(0.0)), lit(1.0))
    val bin = least(floor(s * lit(nBins.toDouble)).cast("long"),
      lit(nBins.toLong - 1L))
    val q = floor(s * lit(1.0e6)).cast("long")
    val y = when(isPos, 1L).otherwise(0L)
    val perBin = df.filter(raw.isNotNull && !isnan(raw))
      .select(bin.as("bin"), q.as("__q"), y.as("__y"),
        (q - y * lit(1000000L)).as("__e"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("pos"),
        sum(col("__q").cast(d38)).as("__sq"),
        sum((col("__e").cast(d13) * col("__e").cast(d13)).cast(d38))
          .as("__se2"))
    val conf = col("__sq").cast("double") / lit(1.0e6) / col("n").cast("double")
    val acc = col("pos").cast("double") / col("n").cast("double")
    val t = perBin.agg(coalesce(sum(col("n")), lit(0L)).as("__N"),
      coalesce(sum(col("pos")), lit(0L)).as("__P"),
      coalesce(sum(col("__se2")), lit(0L).cast(d38)).as("__SE2"),
      sort_array(collect_list(struct(col("bin").as("k"), col("n").as("nb"),
        conf.as("cf"), acc.as("ac")))).as("__a"))
    val nD = col("__N").cast("double")
    val baseRate = col("__P").cast("double") / nD
    def guarded(c: Column): Column =
      when(col("__N") === 0L, lit(null).cast("double")).otherwise(c)
    val rel = aggregate(col("__a"), lit(0.0), (a, x) =>
      a + x.getField("nb").cast("double") *
        ((x.getField("cf") - x.getField("ac")) *
          (x.getField("cf") - x.getField("ac")))) / nD
    val res = aggregate(col("__a"), lit(0.0), (a, x) =>
      a + x.getField("nb").cast("double") *
        ((x.getField("ac") - baseRate) * (x.getField("ac") - baseRate))) / nD
    t.select(col("__N").as("n"), guarded(baseRate).as("base_rate"),
      guarded(col("__SE2").cast("double") / lit(1.0e12) / nD).as("brier"),
      guarded(rel).as("reliability"), guarded(res).as("resolution"),
      guarded(baseRate * (lit(1.0) - baseRate)).as("uncertainty"))
  }

  /** Kaplan–Meier SUMMARY scalars — the two numbers a dashboard wants
    * from the [[kmSurvival]] curve: MEDIAN lifetime (the first
    * lifetime where survival drops to ≤ 0.5 — the discrete step
    * convention, NULL under heavy censoring when the curve never
    * crosses) and the RESTRICTED MEAN survival time
    * RMST = ∫₀^maxLife S(t)dt (S is a step function: 1 before the
    * first observed lifetime, then constant between steps), the
    * average lifetime credited only over the observed horizon — the
    * honest mean when censoring truncates the tail. Every term is one
    * IEEE product of exact-derived values, folded in lifetime order;
    * all relations stay bounded by distinct lifetimes. */
  def kmSummary(events: DataFrame, tsCol: String = "event_time",
      keyCol: String = "user_id", censorDays: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val km = kmSurvival(events, tsCol, keyCol, censorDays)
    val w = Window.orderBy(col("life"))
    val stepped = km.withColumn("__next", lead(col("life"), 1).over(w))
    val terms = stepped.filter(col("__next").isNotNull)
      .select(col("life"), (col("survival") *
        (col("__next") - col("life")).cast("double")).as("__t"))
    val fold = terms.agg(sort_array(collect_list(struct(
        col("life").as("k"), col("__t").as("t")))).as("__arr"))
      .select(aggregate(col("__arr"), lit(0.0),
        (a, x) => a + x.getField("t")).as("__tail"))
    val heads = km.agg(count(lit(1)).as("n_lifetimes"),
      min(col("life")).as("__lo"), max(col("life")).as("max_life"),
      min(when(col("survival") <= lit(0.5), col("life"))).as("median_life"))
    heads.crossJoin(broadcast(fold))
      .select(col("n_lifetimes"), col("max_life"), col("median_life"),
        when(col("n_lifetimes") === 0L, lit(null).cast("double"))
          .otherwise(col("__lo").cast("double") + col("__tail")).as("rmst"))
  }

  /** Thresholded-classifier evaluation — the confusion matrix and its
    * derived rates for "score ≥ t predicts the condition": exact
    * tp/fp/fn/tn longs from ONE map-combinable pass, then precision,
    * recall, F1 and accuracy as pinned IEEE sequences (each NULL when
    * its denominator is 0 — no 0/0 smuggled as 0 or 1). [[auc]] ranks
    * the score threshold-free; this is the committed-threshold readout
    * a deployed filter actually runs. */
  def classifierEval(df: DataFrame, scoreCol: String, isPos: Column,
      threshold: Double): DataFrame = {
    val v = col(scoreCol).cast("double")
    val pred = v >= lit(threshold)
    val t = df.filter(v.isNotNull && !isnan(v))
      .agg(
        coalesce(sum(when(pred && isPos, 1L).otherwise(0L)), lit(0L)).as("tp"),
        coalesce(sum(when(pred && !isPos, 1L).otherwise(0L)), lit(0L)).as("fp"),
        coalesce(sum(when(!pred && isPos, 1L).otherwise(0L)), lit(0L)).as("fn"),
        coalesce(sum(when(!pred && !isPos, 1L).otherwise(0L)), lit(0L)).as("tn"))
    def d(name: String): Column = col(name).cast("double")
    val prec = d("tp") / (d("tp") + d("fp"))
    val rec = d("tp") / (d("tp") + d("fn"))
    val total = col("tp") + col("fp") + col("fn") + col("tn")
    t.select(lit(threshold).as("threshold"),
      col("tp"), col("fp"), col("fn"), col("tn"),
      when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
        .otherwise(prec).as("precision"),
      when(col("tp") + col("fn") === 0L, lit(null).cast("double"))
        .otherwise(rec).as("recall"),
      when(col("tp") + col("fp") === 0L || col("tp") + col("fn") === 0L ||
          prec + rec === lit(0.0), lit(null).cast("double"))
        .otherwise(lit(2.0) * prec * rec / (prec + rec)).as("f1"),
      when(total === 0L, lit(null).cast("double"))
        .otherwise((col("tp") + col("tn")).cast("double") /
          total.cast("double")).as("accuracy"))
  }

  /** F1-OPTIMAL decision threshold — the sweep [[classifierEval]]
    * reads one point of: every observed distinct score is a candidate
    * threshold for "predict positive at score ≥ t"; the cumulative
    * class counts below each score (the [[auc]] prefix-sum machinery)
    * give tp/fp/fn at every candidate in one pass, and the emitted row
    * is the F1 argmax (ties → the smallest threshold — prefer the
    * higher-recall operating point). F1 ≡ 0 when tp = 0 (the sklearn
    * zero-division convention). Empty output when either class is
    * absent — there is no operating point to choose.
    *
    * Scale shape: the corpus collapses to the distinct-score relation
    * (pinned — it feeds the totals AND the sweep), prefix sums are the
    * distributed two-pass form, and the argmax is ONE struct-min
    * aggregate — never a sort or rank window over the sweep. */
  def bestThreshold(df: DataFrame, scoreCol: String,
      isPos: Column): DataFrame = {
    val counts = graft.util.RelCache.persist(
      scoreCounts(df, scoreCol, isPos))
    val c = cumBeforeCounts(counts)
    val tot = counts.agg(coalesce(sum(col("__p")), lit(0L)).as("__totp"),
      coalesce(sum(col("__n")), lit(0L)).as("__totn"))
    val r = c.crossJoin(broadcast(tot))
      .filter(col("__totp") > 0L && col("__totn") > 0L)
    val tp = col("__totp") - col("__cp")
    val fp = col("__totn") - col("__cn")
    val prec = tp.cast("double") / (tp + fp).cast("double")
    val rec = tp.cast("double") / col("__totp").cast("double")
    val f1 = when(tp === 0L, lit(0.0))
      .otherwise(lit(2.0) * prec * rec / (prec + rec))
    val sweep = r.select(col("__v"), tp.as("tp"), fp.as("fp"),
      col("__cp").as("fn"),
      when(tp === 0L, lit(null).cast("double")).otherwise(prec)
        .as("precision"),
      rec.as("recall"), f1.as("__f1"))
    sweep.agg(min(struct((-col("__f1")).as("nf"), col("__v").as("v"),
        col("tp").as("tp"), col("fp").as("fp"), col("fn").as("fn"),
        col("precision").as("precision"), col("recall").as("recall")))
        .as("__best"))
      .filter(col("__best").isNotNull)
      .select(col("__best.v").as("threshold"), col("__best.tp").as("tp"),
        col("__best.fp").as("fp"), col("__best.fn").as("fn"),
        col("__best.precision").as("precision"),
        col("__best.recall").as("recall"),
        (-col("__best.nf")).as("f1"))
  }

  /** 11-point interpolated PRECISION–RECALL curve + average precision
    * (the Pascal-VOC convention): at each recall level r ∈ {0, 0.1,
    * …, 1.0}, the interpolated precision max{prec(t) : recall(t) ≥ r}
    * over every candidate threshold, and AP = their mean. The
    * interpolation max is ELEVEN CONDITIONAL MAX AGGREGATES over the
    * threshold sweep (map-combinable — no suffix scan, no sort, no
    * window), the sweep itself is the [[bestThreshold]] prefix-sum
    * relation. Recall comparisons use the integer cross-multiplied
    * form tp·10 ≥ level·P — no float recall knife-edge at the grid
    * points. Empty output when either class is absent. */
  def prCurve(df: DataFrame, scoreCol: String, isPos: Column): DataFrame = {
    val counts = graft.util.RelCache.persist(
      scoreCounts(df, scoreCol, isPos))
    val c = cumBeforeCounts(counts)
    val tot = counts.agg(coalesce(sum(col("__p")), lit(0L)).as("__totp"),
      coalesce(sum(col("__n")), lit(0L)).as("__totn"))
    val r = c.crossJoin(broadcast(tot))
      .filter(col("__totp") > 0L && col("__totn") > 0L)
    val tp = col("__totp") - col("__cp")
    val fp = col("__totn") - col("__cn")
    val prec = tp.cast("double") / (tp + fp).cast("double")
    val maxes = (0 to 10).map { level =>
      max(when(tp * lit(10L) >= lit(level.toLong) * col("__totp"), prec))
        .as(s"__m$level")
    }
    val allAggs = count(lit(1)).as("__cnt") +: maxes
    val agged = r.agg(allAggs.head, allAggs.tail: _*)
    val spark = df.sparkSession
    import spark.implicits._
    val grid = (0 to 10).map(l => l.toDouble / 10.0).toDF("recall_level")
      .withColumn("__l", (col("recall_level") * lit(10.0)).cast("int"))
    val rows = grid.crossJoin(broadcast(agged))
      .filter(col("__cnt") > 0L)
    val precAt = (0 to 10).foldLeft(lit(null).cast("double")) {
      (acc, l) => when(col("__l") === l, col(s"__m$l")).otherwise(acc)
    }
    val curve = rows.select(col("recall_level"),
      coalesce(precAt, lit(0.0)).as("precision"))
    val ap = curve.agg(sort_array(collect_list(struct(
        col("recall_level").as("k"), col("precision").as("t")))).as("__arr"))
      .select((aggregate(col("__arr"), lit(0.0),
        (a, x) => a + x.getField("t")) / lit(11.0)).as("ap"))
    curve.crossJoin(broadcast(ap))
  }

  /** Per-group ROC AUC — [[auc]] with a partition key, for the daily
    * model-quality trend ("is the score's ranking power decaying?") or
    * per-segment fairness readouts: the same exact 2U identity per
    * group, with the strictly-below negative cumsum as a window
    * PARTITIONED BY the group (distributed across groups — each
    * group's distinct-score relation sorts within its own partition;
    * for a pathological mega-group swap in the two-pass prefix sum or
    * a GK-binned approximation, the q202 note). NULL AUC for a group
    * with one class. */
  def aucByGroup(df: DataFrame, groupCol: Column, groupName: String,
      scoreCol: String, isPos: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(scoreCol).cast("double")
    val counts = df.filter(v.isNotNull && !isnan(v) && groupCol.isNotNull)
      .groupBy(groupCol.as("__g"), v.as("__v"))
      .agg(sum(when(isPos, 1L).otherwise(0L)).as("__p"),
        sum(when(isPos, 0L).otherwise(1L)).as("__n"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = counts.withColumn("__cn", coalesce(sum(col("__n")).over(w), lit(0L)))
    c.groupBy(col("__g"))
      .agg(coalesce(sum(col("__p")), lit(0L)).as("n_pos"),
        coalesce(sum(col("__n")), lit(0L)).as("n_neg"),
        coalesce(sum(col("__p") * (col("__cn") * lit(2L) + col("__n"))),
          lit(0L)).as("__u2"))
      .select(col("__g").as(groupName), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0L || col("n_neg") === 0L,
            lit(null).cast("double"))
          .otherwise(col("__u2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") *
              col("n_neg").cast("double"))).as("auc"))
  }

  /** A/B POWER ANALYSIS — the pre-committal readout beside the q276
    * z-test ("the test says not significant — could it even have SEEN
    * the effect you care about?"): from the observed arms, the minimum
    * detectable absolute effect at α = 0.05 (two-sided) / power = 0.8,
    * MDE = (z_{0.975}+z_{0.8})·√(p̄(1−p̄)(1/n_a+1/n_b)), and the
    * per-arm sample size the OBSERVED effect would need,
    * n = (z_{0.975}+z_{0.8})²·2·p̄(1−p̄)/δ². The z quantiles are
    * literals injected identically into both engines (no erf anywhere);
    * everything else is exact counts + one pinned IEEE tail. NULL when
    * an arm is empty; required_n NULL when the observed δ is 0. */
  def abPower(events: DataFrame, groupExpr: Column, convType: String,
      keyCol: String = "user_id", typeCol: String = "event_type"): DataFrame = {
    val z = lit(1.959963984540054 + 0.8416212335729143)
    val users = events.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(max(groupExpr.cast("int")).as("__b"),
        max(when(col(typeCol) === convType, 1).otherwise(0)).as("__c"))
    val arms = users.agg(
      sum(when(col("__b") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__b") === 0 && col("__c") === 1, 1L).otherwise(0L)).as("conv_a"),
      sum(when(col("__b") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("__b") === 1 && col("__c") === 1, 1L).otherwise(0L)).as("conv_b"))
    def d(name: String): Column = col(name).cast("double")
    val pp = (d("conv_a") + d("conv_b")) / (d("n_a") + d("n_b"))
    val mde = z * sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / d("n_a") + lit(1.0) / d("n_b")))
    val delta = abs(d("conv_b") / d("n_b") - d("conv_a") / d("n_a"))
    val reqN = z * z * lit(2.0) * pp * (lit(1.0) - pp) / (delta * delta)
    val dead = col("n_a") === 0L || col("n_b") === 0L
    arms.select(col("n_a"), col("n_b"),
      when(dead, lit(null).cast("double")).otherwise(pp).as("pooled_rate"),
      when(dead, lit(null).cast("double")).otherwise(mde).as("mde"),
      when(dead || delta === lit(0.0), lit(null).cast("double"))
        .otherwise(reqN).as("required_n_per_arm"))
  }

  /** In-engine LOGISTIC REGRESSION (one feature + bias, fixed
    * gradient-ascent rounds) — the trained counterpart of the
    * evaluation family: [[auc]]/[[reliability]] SCORE a given model;
    * this FITS the calibrated probability P(y|x) = σ(wx+b) itself,
    * entirely inside the engine (the q248 power-iteration precedent:
    * a fixed-round iterative optimizer whose every round is replayed
    * bit-exactly by the oracle's unrolled materialized CTEs).
    *
    * Per round: residuals y−σ(wx+b) over the DISTINCT-FEATURE relation
    * (the corpus collapses once and is pinned — a round costs
    * |distinct x|, not |rows|), σ 1e-9-quantized (exp is the one libm
    * call engines disagree on), per-row gradient terms quantized to
    * 1e-6 INTEGERS and summed in DECIMAL (order-free exact), then one
    * identical IEEE update sequence on the driver. Emits one row:
    * class counts, w, b, and the final mean cross-entropy (quantized
    * lns, σ clamped away from 0/1). Empty input → empty output.
    * Driver state: two doubles; `iters` jobs over the pinned
    * relation. */
  def logisticFit(df: DataFrame, scoreCol: String, isPos: Column,
      iters: Int = 8, lr: Double = 1.0): DataFrame = {
    require(iters >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val counts = graft.util.RelCache.persist(
      scoreCounts(df, scoreCol, isPos))
    // Keyed memo over the fitted scalars: the gradient rounds are
    // `iters` SEQUENTIAL driver collects over the distinct-score
    // relation — ~10 blocking jobs per call that q310 (the fit gate)
    // and q312 (calibratedEval's inner fit) re-ran per invocation.
    // The distinct-score plan captures (df, scoreCol, isPos) exactly.
    graft.util.RelCache.memo("logisticFit", counts)(iters, lr) {
      logisticFitBuild(counts, iters, lr)
    }
  }

  private def logisticFitBuild(counts: DataFrame,
      iters: Int, lr: Double): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val tot = counts.agg(coalesce(sum(col("__p")), lit(0L)),
      coalesce(sum(col("__n")), lit(0L))).collect()(0)
    val (pTot, nTot) = (tot.getLong(0), tot.getLong(1))
    if (pTot + nTot == 0L)
      return Seq.empty[(Long, Long, Double, Double, Double)]
        .toDF("n_pos", "n_neg", "w", "b", "loss")
    val nD = (pTot + nTot).toDouble
    def qsig(z: Column): Column =
      floor(lit(1.0) / (lit(1.0) + exp(-z)) * lit(1.0e9)) / lit(1.0e9)
    var w = 0.0; var b = 0.0
    for (_ <- 1 to iters) {
      val z = lit(w) * col("__v") + lit(b)
      val s = qsig(z)
      val resid = col("__p").cast("double") -
        (col("__p") + col("__n")).cast("double") * s
      val g = counts.agg(
        sum(floor(resid * col("__v") * lit(1.0e6))
          .cast(DecimalType(38, 0))).as("__gw"),
        sum(floor(resid * lit(1.0e6))
          .cast(DecimalType(38, 0))).as("__gb")).collect()(0)
      val gw = g.getDecimal(0).doubleValue() / 1.0e6 / nD
      val gb = g.getDecimal(1).doubleValue() / 1.0e6 / nD
      w = w + lr * gw
      b = b + lr * gb
    }
    def qln(x: Column): Column =
      floor(log(x) * lit(1.0e9)) / lit(1.0e9)
    val zF = lit(w) * col("__v") + lit(b)
    val sC = least(greatest(qsig(zF), lit(1.0e-9)), lit(1.0 - 1.0e-9))
    val lterm = -(col("__p").cast("double") * qln(sC) +
      col("__n").cast("double") * qln(lit(1.0) - sC))
    val lsum = counts.agg(
      sum(floor(lterm * lit(1.0e6)).cast(DecimalType(38, 0))).as("__l"))
      .collect()(0).getDecimal(0).doubleValue()
    val loss = lsum / 1.0e6 / nD
    Seq((pTot, nTot, w, b, loss)).toDF("n_pos", "n_neg", "w", "b", "loss")
  }

  /** Train → apply → evaluate, all in-engine: fit the [[logisticFit]]
    * calibrator, score every row with the quantized
    * σ(w·x+b), and emit the [[reliability]] table + ECE of the
    * CALIBRATED probabilities — the closed loop a model pipeline runs
    * ("after calibration, does 0.8 mean 80%?"), with the fitted w/b
    * on every row so the gate pins the model AND its evaluation
    * together. Everything inherits the components' exactness
    * contracts; the oracle nests the full unrolled fit. */
  def calibratedEval(df: DataFrame, scoreCol: String, isPos: Column,
      iters: Int = 8, lr: Double = 1.0, nBins: Int = 10): DataFrame = {
    val fit = logisticFit(df, scoreCol, isPos, iters, lr).collect()
    if (fit.isEmpty) {
      val spark = df.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Double, Double, Double, Double,
        Double, Double)].toDF("bin", "n", "pos", "conf", "acc", "gap",
        "ece", "w", "b")
    }
    val (w, b) = (fit(0).getDouble(2), fit(0).getDouble(3))
    val z = lit(w) * col(scoreCol).cast("double") + lit(b)
    val calibrated = floor(lit(1.0) / (lit(1.0) + exp(-z)) * lit(1.0e9)) /
      lit(1.0e9)
    reliability(df.withColumn("__cal", calibrated), "__cal", isPos, nBins)
      .withColumn("w", lit(w)).withColumn("b", lit(b))
  }

  /** BENFORD'S-LAW audit of a positive 2-decimal numeric column — the
    * classic entry-fabrication / pipeline-bug tripwire (organically
    * generated magnitudes follow P(d) = log₁₀(1+1/d); uniform or
    * hand-entered values don't): per first-significant-digit observed
    * count and share beside the Benford expectation, plus the χ²
    * statistic (8 df) repeated on each row.
    *
    * Cross-engine: values scale into INTEGER space (·100, round —
    * unambiguous because inputs are 2-decimal), the leading digit
    * comes from the BIGINT's decimal string (engine-identical
    * formatting — no log/pow knife-edges), expectations are injected
    * as identical literals, and the χ² fold runs in digit order over
    * the dense 1–9 grid (an absent digit still contributes its full
    * expected term). ONE map-combinable groupBy to ≤ 9 rows. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val n = round(v * lit(100.0)).cast("long")
    val digit = substring(n.cast("string"), 1, 1).cast("long")
    val counts = df.filter(v.isNotNull && !isnan(v) && v > lit(0.0))
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
    val spark = df.sparkSession
    import spark.implicits._
    val grid = (1L to 9L).map(d => (d, math.log10(1.0 + 1.0 / d)))
      .toDF("digit", "exp_share")
    val dense = broadcast(grid).join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("cnt"))
    val total = dense.agg(coalesce(sum(col("cnt")), lit(0L)).as("__n"))
    val r = dense.crossJoin(broadcast(total))
    val en = col("exp_share") * col("__n").cast("double")
    val diff = col("cnt").cast("double") - en
    val withTerm = r.select(col("digit"), col("cnt"), col("exp_share"),
      when(col("__n") === 0L, lit(null).cast("double"))
        .otherwise(col("cnt").cast("double") / col("__n").cast("double"))
        .as("obs_share"),
      when(col("__n") === 0L, lit(null).cast("double"))
        .otherwise(diff * diff / en).as("__t"))
    val chi = withTerm.agg(sort_array(collect_list(struct(
        col("digit").as("k"), col("__t").as("t")))).as("__arr"))
      .select(aggregate(col("__arr"), lit(0.0),
        (a, x) => a + x.getField("t")).as("chi2"))
    withTerm.drop("__t").crossJoin(broadcast(chi))
  }

  /** Kaplan–Meier survival curve over per-key observation lifetimes —
    * the churn question retention tables can't answer ("how long does
    * a user last?") asked correctly: a user still active at the end
    * of the observation window is CENSORED (their lifetime is a lower
    * bound, not a death), and KM uses exactly the information each
    * lifetime carries. Lifetime = last-event day − first-event day; a
    * key whose last event falls within `censorDays` of the corpus'
    * last day is censored. Per distinct lifetime d: at_risk (keys with
    * lifetime ≥ d), deaths, censored, and
    * S(d) = Π_{d'≤d} (1 − deaths_{d'}/at_risk_{d'}).
    *
    * Cross-engine: every count is an exact long; each factor is one
    * IEEE division; the cumulative product folds in pinned lifetime
    * order (slice-fold over the sorted factor array vs an ordered
    * PRODUCT in a correlated subquery). Scale shape: one key-keyed
    * map-combinable collapse (min/max microseconds), one single-row
    * max broadcast, then ALL remaining relations are bounded by the
    * number of distinct lifetimes — calendar days, not data (the q209
    * convention: the one unpartitioned window runs over days). */
  def kmSurvival(events: DataFrame, tsCol: String = "event_time",
      keyCol: String = "user_id", censorDays: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val us = unix_micros(col(tsCol))
    // memoized (the RelCache artifact convention): per-key min/max is
    // the one corpus-scale shuffle here, and it feeds BOTH the corpus
    // end and the lifetimes — and kmSummary re-derives the whole curve
    // three more times (measured at 1e8 rows: 61 s -> 19 s once the
    // collapsed relations pin)
    val perKey = graft.util.RelCache.persist(
      events.filter(col(keyCol).isNotNull && us.isNotNull)
        .groupBy(col(keyCol))
        .agg(min(us).as("__lo"), max(us).as("__hi")))
    val corpus = perKey.agg(max(col("__hi")).as("__end"))
    val day = 86400000000L
    val lives = perKey.crossJoin(broadcast(corpus))
      .select(
        (expr(s"__hi div $day") - expr(s"__lo div $day")).as("life"),
        (expr(s"__hi div $day") >=
          expr(s"__end div $day") - lit(censorDays.toLong)).as("__cens"))
    val perLife = graft.util.RelCache.persist(
      lives.groupBy(col("life"))
        .agg(sum(when(col("__cens"), 0L).otherwise(1L)).as("deaths"),
          sum(when(col("__cens"), 1L).otherwise(0L)).as("censored")))
    // bounded by distinct lifetimes (calendar days): the window and the
    // fold below run over that bounded relation, never the corpus
    val w = Window.orderBy(col("life"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withRisk = perLife.withColumn("__gone",
        coalesce(sum(col("deaths") + col("censored")).over(w), lit(0L)))
      .crossJoin(broadcast(perLife.agg(
        coalesce(sum(col("deaths") + col("censored")), lit(0L))
          .as("__tot"))))
      .withColumn("at_risk", col("__tot") - col("__gone"))
    val factor = when(col("deaths") > 0L,
      lit(1.0) - col("deaths").cast("double") /
        col("at_risk").cast("double")).otherwise(lit(1.0))
    val facts = withRisk.select(col("life"), factor.as("__f"))
      .agg(sort_array(collect_list(struct(col("life").as("k"),
        col("__f").as("f")))).as("__facts"))
    val out = withRisk.crossJoin(broadcast(facts))
    val surv = aggregate(
      filter(col("__facts"), x => x.getField("k") <= col("life")),
      lit(1.0), (a, x) => a * x.getField("f"))
    out.select(col("life"), col("at_risk"), col("deaths"),
      col("censored"), surv.as("survival"))
  }

  /** ISOTONIC score calibration (Zadrozny & Elkan 2002 — the
    * non-parametric calibrator beside the q262/q312 parametric
    * families): the monotone-non-decreasing fit of the per-bin
    * positive rate that minimizes squared error, i.e. what
    * pool-adjacent-violators computes — evaluated here through the
    * MINIMAX identity iso(i) = max_{j≤i} min_{k≥i} mean(pos over
    * bins j..k), which is pure relational algebra: no sequential PAV
    * loop exists in the plan, so the fit distributes (PAV's
    * merge-while-violating stack walk has no bounded-depth relational
    * form; the identity is the textbook equivalent).
    *
    * Binning mirrors [[reliability]] (clamp to [0,1], nBins fixed
    * grid, observed bins only). Cross-engine exactness: per-bin n/pos
    * are exact longs, prefix sums exact, every interval mean is ONE
    * IEEE division of two exact longs, and min/max over those doubles
    * are order-free. Output: (bin, n, pos, rate, iso) — `iso` is the
    * calibrated probability for the bin, monotone in bin by
    * construction (spec-pinned).
    *
    * Scale shape: ONE map-combinable groupBy collapses the corpus to
    * ≤ nBins rows; the interval relation is ≤ nBins², the minimax
    * join ≤ nBins³ rows (125k at the default 50) — all on the
    * collapsed table, never data-sized (the histogram convention). An
    * O(nBins²) windowed suffix-min refinement exists if nBins must
    * grow past ~1000; at calibration granularity it never does. */
  def isotonicCalibrate(df: DataFrame, scoreCol: String, isPos: Column,
      nBins: Int = 50): DataFrame = {
    require(nBins > 0, s"nBins must be positive: $nBins")
    val raw = col(scoreCol).cast("double")
    val s = least(greatest(raw, lit(0.0)), lit(1.0))
    val bin = least(floor(s * lit(nBins.toDouble)).cast("long"),
      lit(nBins.toLong - 1L))
    val perBin = df.filter(raw.isNotNull && !isnan(raw))
      .select(bin.as("bin"), when(isPos, 1L).otherwise(0L).as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("pos"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
    val pref = perBin
      .withColumn("__i", row_number().over(w))
      .withColumn("__cn", sum(col("n")).over(w))
      .withColumn("__cp", sum(col("pos")).over(w))
    val jk = pref.as("a").join(pref.as("b"), col("a.__i") <= col("b.__i"))
      .select(col("a.__i").as("__j"), col("b.__i").as("__k"),
        ((col("b.__cp") - col("a.__cp") + col("a.pos")).cast("double") /
          (col("b.__cn") - col("a.__cn") + col("a.n")).cast("double"))
          .as("__m"))
    jk.join(pref.select(col("__i"), col("bin"), col("n"), col("pos")),
        col("__j") <= col("__i") && col("__i") <= col("__k"))
      .groupBy(col("__i"), col("bin"), col("n"), col("pos"), col("__j"))
      .agg(min(col("__m")).as("__minK"))
      .groupBy(col("__i"), col("bin"), col("n"), col("pos"))
      .agg(max(col("__minK")).as("iso"))
      .select(col("bin"), col("n"), col("pos"),
        (col("pos").cast("double") / col("n").cast("double")).as("rate"),
        col("iso"))
  }
}
