package graft

import graft.axes._
import graft.operators.{HistOptions, Histogram}
import graft.pipeline.{Dedup, Similarity, TextAnalysis}
import graft.stats.HistStats
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Operators must degrade gracefully on empty inputs (a 100 TB pipeline
  * routinely produces empty partitions/filters): no throws, sane shapes. */
class EmptyInputSpec extends SparkSpec {

  private val ax = Regular("x", 4, 0.0, 4.0)
  private def emptyNum = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("g", StringType), StructField("x", DoubleType))))
  private def emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType))))
  private def emptyEmb = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))

  test("histograms on empty input: empty output, correct schema") {
    assert(Histogram.histogram(emptyNum, col("x"), ax).count() == 0)
    assert(Histogram.histogram(emptyNum, col("x"), ax, Seq("g"),
      HistOptions(density = true)).count() == 0)
    // dense with no groups: grid exists only when dims empty
    assert(Histogram.histogram(emptyNum, col("x"), ax, Seq("g"),
      HistOptions(dense = true)).count() == 0)
  }

  test("stats on empty input: empty output, no division errors") {
    assert(HistStats.mean(emptyNum, col("x"), ax, Seq("g")).count() == 0)
    assert(HistStats.median(emptyNum, col("x"), ax, Seq("g")).count() == 0)
    assert(HistStats.interval(emptyNum, col("x"), ax, Seq("g"), 0.9).count() == 0)
  }

  test("dedup/text operators on empty corpus") {
    assert(Dedup.exact(emptyDocs).count() == 0)
    assert(Dedup.minhashLsh(emptyDocs).count() == 0)
    assert(Dedup.simhashPairs(emptyDocs).count() == 0)
    assert(Dedup.ngramJaccard(emptyDocs).count() == 0)
    assert(Dedup.nearDupPairs(emptyDocs).count() == 0)
    assert(TextAnalysis.langId(emptyDocs).count() == 0)
    assert(TextAnalysis.fingerprint(emptyDocs).count() == 0)
    assert(TextAnalysis.repetition(emptyDocs).count() == 0)
    assert(Dedup.nearDupKeep(emptyDocs).count() == 0)
    assert(graft.pipeline.Sampling.sampleBySource(
      emptyDocs, Map("s" -> 0.5), 0.1, "salt").count() == 0)
    // marginalizing an empty histogram stays empty
    val h2 = Histogram.histogramdd(emptyNum,
      Seq(col("x") -> ax, col("x") -> Regular("y", 2, 0.0, 2.0)))
    assert(HistStats.marginalize(h2, Seq(ax), Nil).count() == 0)
    // round-4 operators: empty corpus in, empty (or all-isolated) out
    assert(Dedup.spanDedup(emptyDocs).count() == 0)
    assert(TextAnalysis.topTerms(emptyDocs).count() == 0)
    assert(graft.pipeline.Curation.curate(emptyDocs, emptyDocs).count() == 0)
    assert(Dedup.components(emptyDocs.select(col("doc_id")),
      Dedup.nearDupPairs(emptyDocs)).count() == 0)
    // a pairless graph leaves every node its own canonical component
    val lone = Dedup.components(
      spark.range(3).select(col("id").as("doc_id")),
      Dedup.nearDupPairs(emptyDocs)).collect()
    assert(lone.length == 3 && lone.forall(_.getBoolean(2)))
    // sessionize on an empty frame keeps the schema, emits nothing
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_time", TimestampType), StructField("value", DoubleType))))
    assert(graft.streaming.StreamingHist.sessionize(
      emptyEv, "event_time", "user_id", "1 hour", col("value")).count() == 0)
    // round-6 operators
    assert(TextAnalysis.bpeTokens(emptyDocs).count() == 0)
    // empty benchmark: every doc scores 0 contaminated, nothing throws
    val someDocs = spark.range(2).select(col("id").as("doc_id"),
      lit("a b c").as("text"), lit("en").as("lang"), lit("s").as("source"))
    val cs = Dedup.contaminationScore(someDocs, emptyDocs, n = 2).collect()
    assert(cs.length == 2 && cs.forall(r => r.getLong(2) == 0L && r.getDouble(3) == 0.0))
    assert(Dedup.contaminationScore(emptyDocs, someDocs, n = 2).count() == 0)
    assert(Dedup.crossNearDup(emptyDocs, someDocs, bucketCap = Some(5)).count() == 0)
    // windowed funnel on an event-less frame: no users, no rows
    val emptyFn = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("event_time", TimestampType))))
    assert(graft.pipeline.Funnel.funnel(emptyFn, Seq("a", "b"),
      horizonUs = Some(1000L)).count() == 0)
    assert(graft.pipeline.Sampling.sampleTokenBudget(emptyDocs, 100L, "s",
      tokenCounter = Some(graft.functions.BpeCount.bpe_count(col("text")))).count() == 0)
    // round-6 continuation: packing and windowed top terms on empty input
    assert(graft.pipeline.Sampling.packSequences(emptyDocs, 128L, 4, "pk")
      .count() == 0)
    val emptyTt = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_time", TimestampType),
        StructField("term", StringType))))
    assert(graft.streaming.StreamingHist.windowedTopTerms(
      emptyTt, "event_time", col("term"), "10 seconds", k = 2, capacity = 4)
      .count() == 0)
    // NULL terms are skipped, not ranked (oracle parity)
    val nullTerms = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(new java.sql.Timestamp(1000L), "a"),
        org.apache.spark.sql.Row(new java.sql.Timestamp(2000L), null))),
      StructType(Seq(StructField("event_time", TimestampType),
        StructField("term", StringType))))
    val tt = graft.streaming.StreamingHist.windowedTopTerms(
      nullTerms, "event_time", col("term"), "10 seconds", k = 2, capacity = 4)
      .collect()
    assert(tt.length == 1 && tt.head.getString(2) == "a")
  }

  test("similarity operators on empty corpus") {
    assert(Similarity.nearDup(emptyEmb, 0.5).count() == 0)
    assert(Similarity.bruteForceTopK(emptyEmb, emptyEmb, 5).count() == 0)
    assert(Similarity.annIvf(emptyEmb, emptyEmb, 3).count() == 0)
    assert(Similarity.annLsh(emptyEmb, emptyEmb, 3).count() == 0)
  }

  test("round-6 operators on empty input") {
    assert(graft.pipeline.Sampling.sampleTemperature(
      emptyDocs, 10L, 0.5, "t").count() == 0)
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_time", TimestampType))))
    assert(graft.pipeline.Funnel.activeUsers(emptyEv, 7).count() == 0)
    assert(Histogram.profile(emptyNum, col("x"), ax, col("x")).count() == 0)
    val h = Histogram.histogram(emptyNum, col("x"), ax)
    assert(HistStats.rebin(h, ax, 2).count() == 0)
    assert(Similarity.semDedup(emptyEmb, nCells = 2, threshold = 0.9).count() == 0)
    assert(Dedup.containment(emptyDocs).count() == 0)
    // dims-less drift of two empty histograms: defined as zero drift
    val dr = HistStats.drift(h, h, ax).collect()
    assert(dr.length == 1 && dr.head.getDouble(0) == 0.0 && dr.head.getDouble(1) == 0.0)
    assert(HistStats.pearson(emptyNum, col("x"), col("x"), Seq("g")).count() == 0)
    assert(Histogram.efficiency(emptyNum, col("x"), ax, col("x") > 1.0).count() == 0)
    assert(graft.operators.QuantileBins.groupQuantiles(
      emptyNum, col("x"), Seq("g"), Seq(0.5)).count() == 0)
    val emptyTypedEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("event_time", TimestampType))))
    assert(graft.pipeline.Funnel.sessionPaths(emptyTypedEv, "1 hour", 3).count() == 0)
  }

  test("round-6 continuation operators on empty input") {
    // ksTest: empty → no groups at all (grouped) / no row (ungrouped has
    // no group keys either — grouped(agg) over empty yields one row only
    // for the dims-less global aggregate, where both sides are 0 → NULL)
    assert(HistStats.ksTest(emptyNum, col("x"), col("x") > 0.0, Seq("g")).count() == 0)
    assert(Dedup.novelty(emptyDocs, emptyDocs, n = 3).count() == 0)
    assert(graft.pipeline.TextAnalysis.bpeEncode(emptyDocs).count() == 0)
    assert(graft.pipeline.TextAnalysis.bpeTrain(emptyDocs, 4).count() == 0)
    assert(Similarity.clusterStats(emptyEmb, nCells = 2).count() == 0)
    val emptyEvId = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("ts", LongType))))
    assert(graft.pipeline.AsOf.asOfJoin(emptyEvId, emptyEvId,
      "user_id", "ts", "event_id", Seq("ts")).count() == 0)
  }

  test("late round-6 operators on empty input") {
    assert(graft.pipeline.Sampling.stratifiedSplit(
      emptyDocs, 0.1, 0.1, "s").count() == 0)
    assert(graft.pipeline.Curation.percentileBySource(
      emptyDocs.withColumn("score", length(col("text")).cast("double"))
        .select("doc_id", "source", "score")).count() == 0)
    // profileTable on an empty relation: one row per column, all zeros
    val prof = graft.pipeline.Curation.profileTable(emptyDocs, Seq("text", "lang"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(prof == Map("text" -> ((0L, 0L)), "lang" -> ((0L, 0L))))
    assert(graft.pipeline.TextAnalysis.langTokens(emptyDocs).count() == 0)
    val emptyTypedEv2 = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("event_time", TimestampType))))
    assert(graft.pipeline.Funnel.sessionFunnel(
      emptyTypedEv2, "1 hour", "view", "purchase").count() == 0)
  }

  test("round-7 operators on empty input: no throws, sane shapes") {
    val scored = emptyDocs.withColumn("score", lit(1L))
    assert(graft.pipeline.Curation.topFractionBySourceSketch(scored, 0.3).count() == 0)
    assert(graft.pipeline.Curation.winsorizeBySource(scored, 0.05, 0.95).count() == 0)
    assert(graft.pipeline.Curation.standardizeBySource(scored).count() == 0)
    assert(Dedup.dedupTokenSavings(emptyDocs).count() == 0)
    assert(Dedup.minhashAccuracy(emptyDocs).count() == 0)
    assert(Similarity.hardNegatives(emptyEmb, emptyEmb, 3).count() == 0)
    assert(Similarity.quantizeInt8(emptyEmb).count() == 0)
    assert(Similarity.semanticContamination(emptyEmb, emptyEmb, 0.8).count() == 0)
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_type", StringType),
        StructField("event_time", TimestampType),
        StructField("props", StringType))))
    assert(graft.pipeline.Funnel.eventRateAnomaly(emptyEv, 7, 2.0).count() == 0)
    assert(graft.pipeline.Funnel.jsonFieldStats(emptyEv, "k").count() == 0)
    assert(graft.streaming.StreamingHist.windowedQuantiles(
      emptyEv, "event_time", col("event_type").cast("double"), "1 hour",
      Seq(0.5)).count() == 0)
    import spark.implicits._
    assert(graft.streaming.StreamingHist.streamingRateAnomaly(
      spark.emptyDataset[graft.streaming.StreamingHist.RateEvent],
      7, 2.0, flushOpen = true).count() == 0)
  }

  test("round-8 operators on empty input: no throws, sane shapes") {
    import spark.implicits._
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("event_time", TimestampType),
        StructField("value", DoubleType))))
    assert(graft.pipeline.Funnel.transitionMatrix(emptyEv).count() == 0)
    assert(graft.pipeline.Funnel.interEventGaps(emptyEv).count() == 0)
    assert(graft.pipeline.Funnel.cohortValue(emptyEv).count() == 0)
    assert(TextAnalysis.vocabGrowth(emptyDocs, 100L).count() == 0)
    assert(TextAnalysis.hashEmbed(emptyDocs, 16).count() == 0)
    assert(graft.streaming.StreamingHist.streamingTransitions(
      spark.emptyDataset[graft.streaming.StreamingHist.TransEvent]).count() == 0)
  }

  test("round-9 operators on empty input: no throws, sane shapes") {
    import graft.pipeline.{Curation, Sampling, TextAnalysis}
    import spark.implicits._
    assert(Curation.blendPercentiles(emptyDocs,
      Seq("len" -> length(col("text")).cast("double"))).count() == 0)
    assert(Curation.curateBlend(emptyDocs, emptyDocs,
      Seq("len" -> length(col("text")).cast("double"))).count() == 0)
    assert(Sampling.sampleByWeight(emptyDocs, 5L,
      length(col("text")).cast("long"), "s").count() == 0)
    assert(TextAnalysis.bm25(emptyDocs, Seq("a")).count() == 0)
    assert(graft.pipeline.Dedup.snapshotDiff(emptyDocs, emptyDocs).count() == 0)
    // diff vs an empty old snapshot: everything is "added"
    val nw = Seq((1L, "x")).toDF("doc_id", "text")
    val d = graft.pipeline.Dedup.snapshotDiff(nw, emptyDocs).collect()
    assert(d.length == 1 && d.head.getString(1) == "added")
    // PSI of two empty histograms: no bins, empty result (not NaN rows)
    val he = Histogram.histogram(emptyNum, col("x"), ax)
    assert(HistStats.psi(he, he, ax).collect()
      .forall(r => r.isNullAt(0) || r.getDouble(0) == 0.0))
    assert(graft.streaming.StreamingHist.streamingRapidFire(
      spark.emptyDataset[graft.streaming.StreamingHist.RfEvent], 60L)
      .count() == 0)
    assert(graft.streaming.StreamingHist.streamingFunnel(
      spark.emptyDataset[graft.streaming.StreamingHist.FunnelEvent],
      Seq("view")).count() == 0)
  }

  test("round-9 session-3 operators on empty input: no throws, sane shapes") {
    import graft.pipeline.{Curation, Funnel}
    import spark.implicits._
    val emptyScored = emptyDocs.withColumn("score", col("doc_id"))
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("event_time", TimestampType))))
    // text/LM family: empty corpus -> empty output (no div-by-zero on
    // the empty model)
    assert(TextAnalysis.lmScore(emptyDocs).count() == 0)
    assert(TextAnalysis.lmScoreBigram(emptyDocs).count() == 0)
    assert(TextAnalysis.tokenEntropy(emptyDocs).count() == 0)
    assert(TextAnalysis.chunkDocs(emptyDocs, 4, 2).count() == 0)
    assert(TextAnalysis.tfidfTopK(emptyDocs).count() == 0)
    assert(TextAnalysis.pmiCollocations(emptyDocs, 5, 1L).count() == 0)
    assert(TextAnalysis.oovRate(emptyDocs, emptyDocs).count() == 0)
    // zipfFit on nothing: one NULL-slope row would be wrong — no terms,
    // no fit: the aggregate yields n_terms=0 with NULL slope/r2
    val z = TextAnalysis.zipfFit(emptyDocs).collect()
    assert(z.length == 1 && z(0).getLong(0) == 0L && z(0).isNullAt(1))
    // robust stats: empty source relation -> empty (never a NaN row)
    assert(Curation.robustStandardizeBySource(emptyScored).count() == 0)
    assert(Curation.trimmedMeanBySource(emptyScored, 0.1).count() == 0)
    assert(Curation.lmFilter(emptyDocs, 0.5).count() == 0)
    // gini of an empty corpus: one row, 0 sources, NULL gini (0/0 guard)
    val g = Curation.sourceGini(emptyDocs).collect()
    assert(g.length == 1 && g(0).getLong(0) == 0L)
    // events family
    assert(Funnel.keySkew(emptyEv, "user_id", 5).count() == 0)
    assert(Funnel.intervalJoin(emptyEv, "view", "click", 100L).count() == 0)
    assert(Funnel.rateLimit(emptyEv, 5).count() == 0)
    assert(Funnel.typeCooccurrence(emptyEv).count() == 0)
    assert(Funnel.eventTrigrams(emptyEv, 5).count() == 0)
    val fk = Funnel.fkAudit(emptyEv, emptyEv, "user_id", "user_id").collect()
    assert(fk.length == 1 && fk(0).getLong(0) == 0L && fk(0).isNullAt(3))
    // drift with units: two empty histograms -> dense grid of zero
    // terms on both sides -> NaN-free (0/0 -> NULL total propagates)
    val he2 = Histogram.histogram(emptyNum, col("x"), ax)
    assert(HistStats.emd(he2, he2, ax).collect()
      .forall(r => r.isNullAt(0) || !r.getDouble(0).isNaN))
    // streaming forms
    assert(graft.streaming.StreamingHist.streamingRateLimit(
      spark.emptyDataset[graft.streaming.StreamingHist.RlEvent], 5).count() == 0)
    assert(graft.streaming.StreamingHist.streamingIntervalJoin(
      emptyEv, emptyEv, 100L).count() == 0)
  }

  test("round-10 continuation operators on empty input: no throws, sane shapes") {
    import graft.pipeline.{Curation, Funnel}
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("event_time", TimestampType), StructField("ts", LongType))))
    val someDocs = spark.range(2).select(col("id").as("doc_id"),
      lit("a b c d e f g h i j").as("text"), lit("en").as("lang"),
      lit("s").as("source"), lit(10L).as("n_chars"))
    // bloom decontamination: empty docs -> empty; empty benchmark covered
    // by PipelineSpec (no crash on the zero-row filter aggregate)
    assert(Dedup.decontaminateBloom(emptyDocs, someDocs, n = 2).count() == 0)
    // gram diagnostics / fingerprints: nothing to hash, nothing emitted
    assert(Dedup.dupNgramRate(emptyDocs, n = 2).count() == 0)
    assert(Dedup.winnowingPairs(emptyDocs, k = 2, w = 2).count() == 0)
    assert(Dedup.winnowingContainment(emptyDocs, k = 2, w = 2).count() == 0)
    // component split over an empty graph: every doc its own singleton —
    // over an empty corpus: no rows
    assert(Dedup.leakFreeSplit(emptyDocs, 0.1, 0.1, "s").count() == 0)
    // retrieval / text: no docs, no heads, no votes
    assert(TextAnalysis.rrfFusion(emptyDocs, Seq("a", "b"), k = 3,
      kList = 5).count() == 0)
    assert(TextAnalysis.mixedLang(emptyDocs, window = 4).count() == 0)
    assert(Curation.curriculumMix(emptyDocs,
      col("doc_id").cast("double"), 2.0, "s").count() == 0)
    // events family: no gaps, no touches
    assert(Funnel.burstiness(emptyEv).count() == 0)
    assert(Funnel.attribution(emptyEv, "purchase", "view",
      tolUs = 1000L).count() == 0)
    // streaming heads on empty batch input: no windows, no rows (the
    // reference is non-empty by contract)
    val ax2 = Regular("value", 4, 0.0, 4.0)
    val ref = Histogram.histogram(
      spark.range(2).select((col("id") + lit(0.5)).cast("double").as("value")),
      col("value"), ax2)
    val emptyW = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_time", TimestampType),
        StructField("value", DoubleType))))
    assert(graft.streaming.StreamingHist.windowedEmd(
      emptyW, "event_time", col("value"), ax2, "1 hour", ref).count() == 0)
    assert(graft.streaming.StreamingHist.windowedKs(
      emptyW, "event_time", col("value"), ax2, "1 hour", ref).count() == 0)
    assert(graft.streaming.StreamingHist.windowedPull(
      emptyW, "event_time", col("value"), ax2, "1 hour", ref).count() == 0)
    assert(graft.streaming.StreamingHist.decontaminateStream(
      emptyDocs, someDocs, n = 2).count() == 0)
    // ks on two empty histograms: dense grid of zero totals -> NULL, no 0/0
    val he = Histogram.histogram(emptyNum, col("x"), ax)
    assert(HistStats.ks(he, he, ax).collect()
      .forall(r => r.isNullAt(0) || !r.getDouble(0).isNaN))
    // js divergence: zero-total lifecycle -> NULL, never -inf/NaN
    assert(HistStats.jsDivergence(he, he, ax).collect()
      .forall(r => r.isNullAt(0)))
    // ANN: empty corpus trains nothing and returns the empty relation
    assert(Similarity.ivfPqSearch(emptyEmb, emptyEmb, k = 2).count() == 0)
  }

  test("rank-statistics family on empty and one-class input") {
    import spark.implicits._
    import graft.pipeline.RankStats
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("s", DoubleType), StructField("y", BooleanType))))
    // AUC/MWU on empty input: counts 0, statistic NULL (never 0/0)
    val a = RankStats.auc(empty, "s", col("y")).collect()(0)
    assert(a.getLong(0) == 0L && a.getLong(1) == 0L && a.isNullAt(2))
    val m = RankStats.mannWhitney(empty, "s", col("y")).collect()(0)
    assert(m.isNullAt(2) && m.isNullAt(3))
    // one-class input: defined counts, NULL statistic
    val onePos = Seq((0.5, true), (0.7, true)).toDF("s", "y")
    val a1 = RankStats.auc(onePos, "s", col("y")).collect()(0)
    assert(a1.getLong(0) == 2L && a1.getLong(1) == 0L && a1.isNullAt(2))
    // reliability and KM on empty input: empty relations, no crash
    assert(RankStats.reliability(empty, "s", col("y")).count() == 0)
    assert(RankStats.bestThreshold(empty, "s", col("y")).count() == 0)
    assert(RankStats.prCurve(empty, "s", col("y")).count() == 0)
    assert(RankStats.logisticFit(empty, "s", col("y")).count() == 0)
    // benford on empty: the dense grid still emits its 9 rows, NULL stats
    val bf = RankStats.benfordAudit(empty
      .withColumnRenamed("s", "v"), "v").collect()
    assert(bf.length == 9 && bf.forall(r => r.getLong(1) == 0L &&
      r.isNullAt(3) && r.isNullAt(4)))
    val emptyTs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_time", TimestampType),
        StructField("s", DoubleType), StructField("y", BooleanType))))
    assert(graft.streaming.StreamingHist.windowedAuc(
      emptyTs, "event_time", col("s"), col("y"), "1 hour").count() == 0)
    assert(graft.streaming.StreamingHist.windowedEce(
      emptyTs, "event_time", col("s"), col("y"), "1 hour").count() == 0)
    assert(graft.streaming.StreamingHist.windowedBenford(
      emptyTs.withColumnRenamed("s", "value"), "event_time", "value",
      "1 hour").count() == 0)
    val emptyT = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_time", TimestampType))))
    assert(RankStats.kmSurvival(emptyT).count() == 0)
  }

  test("accessor arithmetic and multimodal on empty input") {
    val h = Histogram.histogram(emptyNum, col("x"), ax)
    assert(HistStats.add(h, h, ax, Nil).count() == 0)
    assert(HistStats.cumulative(h, ax, Nil).count() == 0)
    assert(HistStats.normalize(h, ax, Nil).count() == 0)
    val ay = Regular("y", 2, 0.0, 2.0)
    val h2 = Histogram.histogramdd(emptyNum, Seq(col("x") -> ax, col("x") -> ay))
    assert(HistStats.normalizeOver(h2, Seq(ax, ay), Seq(ax), Nil).count() == 0)
    // binsTable is metadata-only: flow variant adds exactly the flow rows
    assert(HistStats.binsTable(spark, ax, flow = true).count() == ax.nBins + 2)
    val media = graft.pipeline.Multimodal.asMedia(emptyDocs)
    assert(graft.pipeline.Multimodal.decodeMeta(media).count() == 0)
    assert(graft.pipeline.Multimodal.sampleFrames(media).count() == 0)
  }

  test("round-11 operators on empty inputs") {
    // reduction / postprocess family: empty in, empty out, right schema
    assert(Similarity.jlProject(emptyEmb, 4).count() == 0)
    assert(Similarity.jlPack(emptyEmb, 4).count() == 0)
    assert(Similarity.pcaWhiten(emptyEmb).count() == 0)
    assert(Similarity.centerEmbeddings(emptyEmb).count() == 0)
    // graph family: empty corpus gives an empty graph and empty searches
    val g = Similarity.knnGraph(emptyEmb, 3, rounds = 1)
    assert(g.count() == 0)
    assert(Similarity.diversifyGraph(emptyEmb, g, r = 2).count() == 0)
    assert(Similarity.graphSearch(emptyEmb, emptyEmb, 2, g).count() == 0)
    assert(Similarity.jlSearchTopK(emptyEmb, emptyEmb, 2, 4, 8).count() == 0)
    // curation/eval family
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_time", TimestampType),
        StructField("user_id", LongType), StructField("value", DoubleType))))
    assert(graft.pipeline.Curation.cartography(
      emptyEv, "user_id", "value", 1.0, 1.0, 1.0).count() == 0)
    assert(graft.pipeline.Curation.excessLossSelect(emptyDocs, 0.5).count() == 0)
    assert(graft.pipeline.Curation.doremiWeights(emptyDocs, 1.0).count() == 0)
    val ts = graft.stats.HistStats.theilSen(emptyEv, "event_time", "value")
      .collect()(0)
    assert(ts.getLong(0) == 0L && ts.getLong(1) == 0L && ts.isNullAt(2))
    val ci = graft.pipeline.RankStats.aucCi(emptyEv, "value",
      col("user_id") > 0L).collect()(0)
    assert(ci.isNullAt(2) && ci.isNullAt(3))
    // streaming-family batch forms and layout
    assert(graft.streaming.StreamingHist.windowedNovelty(
      emptyEv, "event_time", "user_id", "1 hour").count() == 0)
    assert(graft.pipeline.Dedup.nearDupStream(emptyDocs, emptyDocs).count() == 0)
    assert(graft.sources.Layout.zorderQCells _ != null) // needs data: guarded below
    intercept[IllegalArgumentException] {
      // quantile edges need data — the documented require, not a crash
      graft.sources.Layout.zorderQCells(emptyNum.withColumnRenamed("x", "a")
        .withColumn("b", col("a")), "a", "b", 4).count()
    }
  }

  test("round-13 operators on empty inputs") {
    assert(Dedup.chunkDedup(emptyDocs).count() == 0)
    // streaming restart collectors aside, the novelty/bounded pair
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_time", TimestampType),
        StructField("user_id", LongType))))
    assert(graft.streaming.StreamingHist.windowedNoveltyBounded(
      emptyEv, "event_time", "user_id", "1 hour", "4 hours").count() == 0)
    // chi2 guard on empty input: zero cells, zero grid — passes the
    // budget trivially and reports the degenerate row
    val chi = graft.pipeline.Curation.chi2Independence(
      emptyDocs, "lang", "source").collect()(0)
    assert(chi.getLong(0) == 0L && chi.getLong(1) == 0L, chi)
  }

  test("round-14 operators on empty inputs") {
    assert(Dedup.chunkDedup(emptyDocs, hashKey = true).count() == 0)
    assert(Dedup.removeRepeatedSpans(emptyDocs, 50).count() == 0)
    assert(Dedup.removeRepeatedSpansKeepFirst(emptyDocs, 50).count() == 0)
  }
}
