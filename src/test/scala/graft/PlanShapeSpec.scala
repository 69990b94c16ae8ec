package graft

import graft.pipeline.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Regression guards for the 100 TB plan shapes: the similarity/dedup
  * family must stay blocked equi-joins — a refactor that silently turns
  * one back into an all-pairs or cartesian plan is a scale regression even
  * when results stay correct at test scale. */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (1L to 30L).map(i =>
    (i, s"tok${i % 5} tok${i % 3} shared words for doc $i", "en", s"s${i % 2}"))
    .toDF("doc_id", "text", "lang", "source")

  private def emb = (1L to 40L).map(i =>
    (i, Array.tabulate(16)(j => ((i * 7 + j * 3) % 11 - 5).toFloat), (i % 3).toInt))
    .toDF("vec_id", "embedding", "label")

  private def executedPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("simhash pairs: chunk equi-join, no cartesian/all-pairs join") {
    val plan = executedPlan(Dedup.simhashPairs(docs))
    assert(!plan.contains("CartesianProduct"), plan)
    // the pair join is keyed by the pigeonhole chunk columns
    assert(plan.contains("ci#") && plan.contains("cv#"), plan)
  }

  test("embedding near-dup: (label, table, bucket) equi-join keys") {
    val plan = executedPlan(Similarity.nearDup(emb, 0.5))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("tbl#") && plan.contains("bucket#"), plan)
  }

  test("ANN LSH: bucket equi-join; probes only on the query side") {
    val plan = executedPlan(
      Similarity.annLsh(emb, emb.filter($"vec_id" <= 3), 2))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("pb#"), plan)
  }

  test("decontamination: benchmark grams broadcast, corpus never shuffled into the join") {
    val plan = executedPlan(
      Dedup.decontaminate(docs, docs.filter($"doc_id" <= 3), n = 3))
    assert(!plan.contains("CartesianProduct"), plan)
    // the gram-overlap join must be broadcast (benchmark side is small by
    // nature); a SortMergeJoin here would shuffle the exploded corpus grams
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("1-D histogram: raw-value filter, single index evaluation") {
    val ax = graft.axes.Regular("x", 8, 0.0, 8.0)
    val plan = executedPlan(
      graft.operators.Histogram.histogram(Seq(1.0, 2.0).toDF("x"), col("x"), ax))
    // keepPred keeps the filter to plain comparisons: the when/floor index
    // chain must not be duplicated into the filter condition
    val filterLine = plan.linesIterator.find(_.contains("Filter")).getOrElse("")
    assert(!filterLine.contains("FLOOR"), filterLine)
  }

  test("span dedup: AQE broadcasts the small boilerplate set at runtime") {
    val df = Dedup.spanDedup(docs, spanWords = 2)
    df.collect() // the broadcast decision is adaptive: made from MEASURED sizes
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // with a tiny above-threshold span set, AQE must have converted the
    // marking join to a broadcast — no second corpus-sized shuffle; a
    // FORCED broadcast hint is deliberately absent (a pathological corpus
    // can make the set vocabulary-sized)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("cluster assignment: centroid relation broadcast, corpus never shuffled") {
    val plan = executedPlan(Similarity.cluster(emb, nCells = 4))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    // no exchange keyed by anything but the per-vector aggregate
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("top terms: vocabulary-sized joins only, corpus count broadcast") {
    val plan = executedPlan(graft.pipeline.TextAnalysis.topTerms(docs, k = 2))
    assert(!plan.contains("CartesianProduct"), plan)
    // the single-row corpus count rides a broadcast nested-loop join, not
    // a shuffled cartesian
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bpe token counts: one map-only codegen pass, zero shuffles") {
    // spark.range source: a tiny LocalRelation would constant-fold to a
    // LocalTableScan and prove nothing about the executed shape
    val rangeDocs = spark.range(1, 31).select(col("id").as("doc_id"),
      concat(lit("some text tok"), (col("id") % 5).cast("string")).as("text"))
    val plan = executedPlan(graft.pipeline.TextAnalysis.bpeTokens(rangeDocs))
    assert(!plan.contains("Exchange"), plan)
    // "*(1)" prefixes = the project runs inside whole-stage codegen
    assert(plan.linesIterator.next().startsWith("*(1) Project"), plan)
  }

  test("windowed funnel: every exchange keyed by the user id") {
    val ev = Seq((1L, "view", new java.sql.Timestamp(1000L)),
        (1L, "click", new java.sql.Timestamp(2000L)))
      .toDF("user_id", "event_type", "event_time")
    val plan = executedPlan(graft.pipeline.Funnel.funnel(
      ev, Seq("view", "click"), horizonUs = Some(1000000L)))
    assert(!plan.contains("CartesianProduct"), plan)
    // all hash exchanges partition on user_id — AQE co-partitions the
    // whole step chain; anything else would reshuffle per step
    plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .foreach(l => assert(l.contains("user_id"), l))
  }

  test("contamination score: corpus map-only, benchmark set broadcast") {
    val plan = executedPlan(Dedup.contaminationScore(
      docs, docs.filter($"doc_id" <= 3), n = 2))
    assert(!plan.contains("CartesianProduct"), plan)
    // one single-row broadcast of the benchmark gram array; the corpus
    // side must not shuffle (no hash exchange on corpus columns)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("doc_id")), plan)
  }

  test("pack sequences: one shard-keyed exchange, in-partition sort only") {
    val plan = executedPlan(
      graft.pipeline.Sampling.packSequences(docs, 128L, 4, "pk"))
    // the window cumsum must run per shard: exactly one hash exchange,
    // keyed by shard — a range exchange would mean a global sort crept in
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("hashpartitioning")
      && exchanges.head.contains("shard"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("temperature mix: rates broadcast back, corpus never shuffled") {
    val plan = executedPlan(
      graft.pipeline.Sampling.sampleTemperature(docs, 10L, 0.5, "t"))
    assert(!plan.contains("CartesianProduct"), plan)
    // the per-source rate relation joins back via broadcast; the corpus
    // side must not hash-shuffle on doc_id/source for the filter
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("semDedup: pairwise stage is a cell equi-join, assignment broadcast") {
    val plan = executedPlan(Similarity.semDedup(emb, nCells = 4, threshold = 0.9))
    assert(!plan.contains("CartesianProduct"), plan)
    // the within-cell pair join is keyed by the cell column
    assert(plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("cell#")), plan)
  }

  test("rebin: label table broadcast, one aggregate exchange") {
    val ax = graft.axes.Regular("x", 8, 0.0, 8.0)
    val h = graft.operators.Histogram.histogram(
      spark.range(0, 100).select((col("id") % 8).cast("double").as("x")),
      col("x"), ax)
    val plan = executedPlan(graft.stats.HistStats.rebin(h, ax, 2))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("session paths: global top-k is TakeOrdered, not a full sort") {
    val ev = (1L to 50L).map(i =>
      (i % 7, s"t${i % 3}", new java.sql.Timestamp(i * 1000L)))
      .toDF("user_id", "event_type", "event_time")
    val plan = executedPlan(
      graft.pipeline.Funnel.sessionPaths(ev, "10 minutes", k = 5))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("moment-style aggregates: single exchange keyed by the group") {
    val li = (1L to 100L).map(i => (s"g${i % 3}", (i % 50).toDouble, i.toDouble))
      .toDF("g", "x", "y")
    for (df <- Seq(
        graft.stats.HistStats.pearson(li, col("x"), col("y"), Seq("g")),
        graft.operators.Histogram.profile(li, col("x"),
          graft.axes.Regular("x", 10, 0.0, 50.0), col("y"), Seq("g")),
        graft.operators.Histogram.efficiency(li, col("x"),
          graft.axes.Regular("x", 10, 0.0, 50.0), col("y") > 50.0, Seq("g")))) {
      val plan = executedPlan(df)
      val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.size == 1 && exchanges.head.contains("hashpartitioning"),
        plan)
    }
  }

  test("drift family: (group, bin) join keys, grid-only cross joins, windows over joins") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.stats.HistStats
    val ax = graft.axes.Regular("x", 4, 0.0, 4.0)
    val d = (1L to 40L).map(i => (s"d${i % 3}", (i % 4).toDouble)).toDF("g", "x")
    val a = graft.operators.Histogram.histogram(d, col("x"), ax, dims = Seq("g"))
    val ref = graft.operators.Histogram.histogram(d, col("x"), ax)
    val g = Seq("g")
    val family = Seq(
      "driftFrom" -> HistStats.driftFrom(a, ref, ax, g),
      "psiFrom" -> HistStats.psiFrom(a, ref, ax, g),
      "emdFrom" -> HistStats.emdFrom(a, ref, ax, g),
      "cvmFrom" -> HistStats.cvmFrom(a, ref, ax, g),
      "ksFrom" -> HistStats.ksFrom(a, ref, ax, g),
      "pullFrom" -> HistStats.pullFrom(a, ref, ax, g),
      "hellinger" -> HistStats.hellinger(a, HistStats.refGrid(a, ref, ax, g), ax, g),
      "jsDivergence" -> HistStats.jsDivergence(a, HistStats.refGrid(a, ref, ax, g), ax, g))
    def names(p: SparkPlan): Seq[String] = p.output.map(_.name)
    for ((name, df) <- family) {
      val plan = df.queryExecution.executedPlan match {
        case p: AdaptiveSparkPlanExec => p.inputPlan
        case p => p
      }
      val clue = s"$name:\n$plan"
      assert(plan.collect { case c: CartesianProductExec => c }.isEmpty, clue)
      // every equi-join (the metric join and the dense-grid fills) is
      // keyed by exactly (group, bin)
      val keys = plan.collect {
        case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
        case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
        case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
      }
      assert(keys.nonEmpty, clue)
      keys.foreach(k => assert(k.size == 4 &&
        k.flatMap(_.references.map(_.name)).toSet == Set("g", ax.binsCol), clue))
      // the only cross joins are the grids: the distinct groups × a
      // broadcast dims-free table (the reference, or the axis bins)
      val grids = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(grids.nonEmpty, clue)
      grids.foreach { j =>
        val (build, streamed) = if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
        assert(j.condition.isEmpty && names(streamed) == g && !names(build).contains("g"), clue)
      }
      // every window partitions by the group and runs above the join,
      // on the histogram-sized relation, never over a raw scan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty == (name != "pullFrom"), clue)
      windows.foreach { w =>
        assert(w.partitionSpec.flatMap(_.references.map(_.name)) == g, clue)
        assert(w.child.collectFirst { case j: BaseJoinExec => j }.isDefined, clue)
      }
    }
  }

  /** The plan a collected `df` ran: AQE's final plan, stages included. */
  private object Ran extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    def apply(df: DataFrame): org.apache.spark.sql.execution.SparkPlan = {
      df.collect()
      df.queryExecution.executedPlan
    }
  }

  test("histograms with dims: one kernel exec, no exchange, every window over its output") {
    import graft.operators.{DenseHistogramExec, HistOptions, Histogram}
    import graft.stats.HistStats
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    val ax = graft.axes.Regular("x", 4, 0.0, 4.0)
    val d = (1L to 40L).map(i => (s"d${i % 3}", (i % 5).toDouble)).toDF("g", "x")
    val g = Seq("g")
    for ((name, df) <- Seq(
        "median" -> HistStats.median(d, col("x"), ax, g),
        "mean" -> HistStats.mean(d, col("x"), ax, g),
        "density" -> Histogram.histogramdd(d, Seq(col("x") -> ax), g,
          HistOptions(density = true)))) {
      val plan = Ran(df)
      val clue = s"$name:\n$plan"
      assert(Ran.collect(plan) { case e: DenseHistogramExec => e }.size == 1, clue)
      assert(Ran.collect(plan) { case e: Exchange => e }.isEmpty, clue)
      val windows = Ran.collect(plan) { case w: WindowExec => w }
      assert(windows.nonEmpty == (name != "mean"), clue)
      windows.foreach(w =>
        assert(Ran.collectFirst(w.child) { case e: DenseHistogramExec => e }.isDefined, clue))
    }
  }

  test("z-order cells: one kernel exec, no aggregate for the count") {
    import graft.operators.DenseHistogramExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val ev = (0L until 60L).map(i => ((i % 9).toDouble, (i * 7 % 11).toDouble)).toDF("x", "y")
    val plan = Ran(graft.sources.Layout.zorderQCells(ev, "x", "y", 4))
    assert(Ran.collect(plan) { case e: DenseHistogramExec => e }.size == 1, plan)
    assert(Ran.collect(plan) { case a: BaseAggregateExec => a }.isEmpty, plan)
  }

  test("dims-free drift family: each unpartitioned window sits over the kernel or the join") {
    import graft.operators.{DenseHistogramExec, Histogram}
    import graft.stats.HistStats
    import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val ax = graft.axes.Regular("x", 4, 0.0, 4.0)
    val a = Histogram.histogram((1L to 40L).map(i => (i % 4).toDouble).toDF("x"), col("x"), ax)
    val b = Histogram.histogram((1L to 30L).map(i => (i % 3).toDouble).toDF("x"), col("x"), ax)
    val family = Seq(
      "drift" -> HistStats.drift(a, b, ax), "psi" -> HistStats.psi(a, b, ax),
      "pull" -> HistStats.pull(a, b, ax), "emd" -> HistStats.emd(a, b, ax),
      "cvm" -> HistStats.cvm(a, b, ax), "ks" -> HistStats.ks(a, b, ax),
      "hellinger" -> HistStats.hellinger(a, b, ax),
      "jsDivergence" -> HistStats.jsDivergence(a, b, ax))
    // the first node under a window that is not a pass-through unary node
    def source(p: SparkPlan): SparkPlan = p match {
      case k: DenseHistogramExec => k
      case q: QueryStageExec => source(q.plan)
      case u: UnaryExecNode => source(u.child)
      case other => other
    }
    for ((name, df) <- family) {
      val plan = Ran(df)
      val clue = s"$name:\n$plan"
      val windows = Ran.collect(plan) { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(windows.nonEmpty == (name != "pull"), clue)
      windows.foreach(w => assert(source(w.child) match {
        case _: DenseHistogramExec | _: BaseJoinExec => true
        case _ => false
      }, clue))
    }
  }

  test("normalizeOver with flow: width lookups stay broadcast joins") {
    val ax1 = graft.axes.Regular("x", 4, 0.0, 4.0)
    val ax2 = graft.axes.Regular("y", 4, 0.0, 4.0)
    val h = graft.operators.Histogram.histogramdd(
      Seq((1.0, 1.0), (9.0, -1.0)).toDF("x", "y"),
      Seq(col("x") -> ax1, col("y") -> ax2),
      opts = graft.operators.HistOptions(flow = true))
    val plan = executedPlan(
      graft.stats.HistStats.normalizeOver(h, Seq(ax1, ax2), Seq(ax1), Nil))
    assert(!plan.contains("CartesianProduct"), plan)
    // the bins-table width lookup must not sort-merge-shuffle the histogram
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("novelty: gram-keyed shuffle join after per-side distinct, no broadcast of the reference") {
    val plan = executedPlan(Dedup.novelty(docs.filter($"doc_id" <= 10),
      docs.filter($"doc_id" > 10), n = 2))
    assert(!plan.contains("CartesianProduct"), plan)
    // both sides reach the gram join pre-collapsed to distinct grams —
    // the HashAggregate pair below the join is the skew guard
    assert(plan.contains("HashAggregate"), plan)
  }

  test("bpe train round: pair argmax is TakeOrdered, not a global sort") {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val words = docs
      .select(explode(org.apache.spark.sql.functions.regexp_extract_all(
        coalesce($"text", lit("")),
        lit(graft.functions.BpeVocab.WordRe), lit(0))).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select(graft.functions.CodePoints.code_points($"w").as("toks"), $"cnt")
    val round = words.filter(size($"toks") >= 2)
      .select($"cnt", $"toks", explode(expr("sequence(0, size(toks) - 2)")).as("i"))
      .select($"cnt", expr("toks[i]").as("l"), expr("toks[i + 1]").as("r"))
      .groupBy($"l", $"r").agg(sum($"cnt").as("c"))
      .orderBy($"c".desc, $"l".asc, $"r".asc).limit(1)
    val plan = executedPlan(round)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("top-fraction sketch: thresholds broadcast back, corpus never shuffled") {
    val scored = docs.withColumn("score", length($"text").cast("long"))
    val plan = executedPlan(
      graft.pipeline.Curation.topFractionBySourceSketch(scored, 0.3))
    assert(!plan.contains("CartesianProduct"), plan)
    // the per-source threshold relation joins back via broadcast — the
    // corpus side must not shuffle on source, and (unlike the exact
    // form) there is NO rank window anywhere in the plan
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("pruned cluster assignment: centroid/super tables broadcast, corpus never shuffled") {
    val plan = executedPlan(
      Similarity.cluster(emb, nCells = 8, superProbe = Some(2)))
    // a non-broadcast cartesian would surface as CartesianProduct; the
    // deliberate tiny-side broadcast cross joins plan as BNLJ and are fine
    assert(!plan.contains("CartesianProduct"), plan)
    // both levels join the (tiny) centroid/super relations via broadcast;
    // the corpus is never hash-shuffled into a join
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
  }

  test("winsorize: one threshold aggregate broadcast back, no rank window") {
    val scored = docs.withColumn("score", length($"text").cast("long"))
    val plan = executedPlan(
      graft.pipeline.Curation.winsorizeBySource(scored, 0.05, 0.95))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("hard negatives: query side broadcast, corpus never shuffled to score") {
    val plan = executedPlan(
      Similarity.hardNegatives(emb, emb.filter($"vec_id" <= 3), 2))
    // the non-equi (id, label) exclusion predicate forces BNLJ — correct
    // here BECAUSE the broadcast side is the query set; the corpus side
    // must never sort-merge or hash-shuffle into the join
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("event-rate anomaly: corpus collapses in one aggregate before any window") {
    val ev = (1L to 50L).map(i => (i * 1000L, if (i % 2 == 0) "a" else "b"))
      .toDF("sec", "event_type")
      .withColumn("event_time", timestamp_seconds($"sec"))
    val plan = executedPlan(
      graft.pipeline.Funnel.eventRateAnomaly(ev, 7, 2.0))
    // the window must run on the aggregated (type, day) relation — a plan
    // where Window sits below the final HashAggregate pair would be
    // sorting raw events
    assert(plan.contains("Window"), plan)
    val winIdx = plan.indexOf("Window")
    assert(plan.substring(winIdx).contains("HashAggregate"), plan)
  }

  test("embed quantize: map-only — zero exchanges, no join, no window") {
    val plan = executedPlan(Similarity.quantizeInt8(emb))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("json props stats: one aggregate exchange keyed by event type") {
    val ev = Seq(("click", """{"k": 3}"""), ("view", """{"k": 5}"""))
      .toDF("event_type", "props")
    val plan = executedPlan(graft.pipeline.Funnel.jsonFieldStats(ev, "k"))
    assert(!plan.contains("Join"), plan)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, plan)
  }

  test("score standardize: moment aggregate broadcast back, no window") {
    val scored = docs.withColumn("score", length($"text").cast("long"))
    val plan = executedPlan(
      graft.pipeline.Curation.standardizeBySource(scored))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("asof join: one key exchange, a running window, zero join operators") {
    val left = Seq((100L, 1L, 50L)).toDF("event_id", "user_id", "ts")
    val right = Seq((1L, 1L, 20L, 1.0)).toDF("event_id", "user_id", "ts", "value")
    val plan = executedPlan(graft.pipeline.AsOf.asOfJoin(
      left, right, "user_id", "ts", "event_id", Seq("ts", "value")))
    // the whole point: no candidate-pair join of any kind, just the union
    // + window — a hot key costs its own row count, never L×R
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Window"), plan)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, plan) // exactly the one exchange keyed by user
  }

  test("transition matrix: one corpus-sized exchange (the lag window's)") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq((1L, 10L, "view", ts(1)), (1L, 11L, "click", ts(2)))
      .toDF("user_id", "event_id", "event_type", "event_time")
    val plan = executedPlan(graft.pipeline.Funnel.transitionMatrix(ev))
    assert(!plan.contains("Join"), plan)
    // user-keyed window exchange + the tiny post-aggregate exchanges; the
    // corpus feeds exactly ONE hashpartitioning keyed by user_id
    val userEx = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .count(_.contains("user_id"))
    assert(userEx == 1, plan)
  }

  test("hashEmbed: map-side combine before the one (doc, dim) exchange; no window/join") {
    val plan = executedPlan(graft.pipeline.TextAnalysis.hashEmbed(docs, 16))
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size == 1, plan)
    // partial aggregate below the exchange collapses token volume to
    // <= dim rows per doc before any data moves
    val agg = plan.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("partial_sum"))
    assert(agg >= 1, plan)
  }

  test("bucketed tables: co-located equi-join plans with ZERO exchanges") {
    import graft.sources.Sinks
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Sinks.writeBucketed(docs, "psb_docs", "doc_id", 4, Seq("doc_id"))
      Sinks.writeBucketed(docs.select($"doc_id", length($"text").as("len")),
        "psb_lens", "doc_id", 4, Seq("doc_id"))
      val j = spark.table("psb_docs").join(spark.table("psb_lens"), "doc_id")
      val plan = executedPlan(j)
      // the whole point of the bucketed layout: the join's required
      // hash partitioning is satisfied by the SCAN — no shuffle at all
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("Join"), plan)
      // and results are intact
      assert(j.count() == 30L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS psb_docs")
      spark.sql("DROP TABLE IF EXISTS psb_lens")
    }
  }

  test("writeBucketed: db-qualified names resolve through the catalog default path") {
    import graft.sources.Sinks
    // db.tbl lives under <warehouse>/db.db/tbl — the string-concat
    // orphan check would have looked at <warehouse>/db.tbl and missed
    // it; the SessionCatalog path must make BOTH the write and the
    // orphan-delete land on the same directory
    spark.sql("CREATE DATABASE IF NOT EXISTS psbdb")
    try {
      Sinks.writeBucketed(docs, "psbdb.psb_q", "doc_id", 4, Seq("doc_id"))
      assert(spark.table("psbdb.psb_q").count() == 30L)
      val loc = new java.net.URI(spark.sql("DESCRIBE TABLE EXTENDED psbdb.psb_q")
        .filter($"col_name" === "Location").select("data_type")
        .collect()(0).getString(0)).getPath
      assert(loc.endsWith("psbdb.db/psb_q"), loc)
      // orphan path: drop ONLY the catalog entry, keep the directory —
      // the next write must delete the orphan via the same resolved
      // location instead of failing LOCATION_ALREADY_EXISTS
      spark.sql("DROP TABLE psbdb.psb_q")
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(loc)) || {
        // managed DROP removes the dir; recreate an orphan to exercise
        // the guard deterministically
        fs.mkdirs(new org.apache.hadoop.fs.Path(loc)); true
      })
      fs.mkdirs(new org.apache.hadoop.fs.Path(loc))
      Sinks.writeBucketed(docs, "psbdb.psb_q", "doc_id", 4, Seq("doc_id"))
      assert(spark.table("psbdb.psb_q").count() == 30L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS psbdb.psb_q")
      spark.sql("DROP DATABASE IF EXISTS psbdb")
    }
  }

  test("chunkDocs: purely narrow — zero exchanges, codegen projection") {
    val rangeDocs = spark.range(1, 31).select(col("id").as("doc_id"),
      concat(lit("w1 w2 w3 w4 w5 w6 w7 tok"), (col("id") % 5).cast("string")).as("text"))
    val plan = executedPlan(graft.pipeline.TextAnalysis.chunkDocs(rangeDocs, 4, 2))
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate"), plan) // the one explode, still narrow
  }

  test("lmScore / tfidfTopK: term-keyed joins only; totals broadcast; rank window partitions by doc") {
    val lm = executedPlan(graft.pipeline.TextAnalysis.lmScore(docs))
    assert(lm.contains("BroadcastExchange"), lm) // the one-row total
    assert(!lm.contains("Cartesian"), lm)
    val tk = executedPlan(graft.pipeline.TextAnalysis.tfidfTopK(docs, 3))
    // per-doc rank window — never a global (empty-partition) sort
    val windowLines = tk.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, tk)
    assert(tk.contains("doc_id"), tk)
    assert(!tk.contains("Cartesian"), tk)
  }

  test("robustStandardize: both stat relations broadcast back, corpus never shuffled") {
    val plan = executedPlan(
      graft.pipeline.Curation.robustStandardizeBySource(
        docs.withColumn("score", length(col("text")).cast("long"))))
    // the doc-side join inputs are broadcasts; every hash exchange is the
    // source-keyed aggregate, none is doc-keyed
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .forall(l => l.contains("source") && !l.contains("doc_id")), plan)
  }

  test("vocabGrowth: cumulative windows run on the bucket relation, not the corpus") {
    val plan = executedPlan(graft.pipeline.TextAnalysis.vocabGrowth(docs, 10L))
    // the single window (the cumsum) sits above both aggregates — the
    // corpus-sized relations see only groupBy exchanges
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, plan)
    // the bucket relation carries no doc/token columns — a Window touching
    // doc_id would mean the cumsum slipped below the aggregates
    assert(windowLines.forall(l => !l.contains("doc_id")), plan)
  }

  test("repeatedSpans: no pair join, no cartesian; only per-doc windows") {
    val plan = executedPlan(graft.pipeline.Dedup.repeatedSpans(docs, 3))
    // the coverage identity keeps this linear: one hash-keyed count over
    // the window relation + an equi-join back — a doc x doc join here
    // would be the quadratic regime the operator exists to avoid
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // every window (the LAG island merge) is doc-partitioned — bounded
    // by doc length, never global
    val winLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("doc_id")), plan)
  }

  test("removeRepeatedSpans: no pair join; keep filter is in-row (no extra corpus shuffle)") {
    val plan = executedPlan(Dedup.removeRepeatedSpans(docs, 3))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the only window-shaped work is upstream of the covered-position
    // aggregate; the keep filter + hash are projections over array HOFs
    val winLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.forall(_.contains("doc_id")), plan)
    // the keep-first election variant adds only a min(struct) to the
    // same gram aggregate — still no pair join, no extra shuffle shape
    val kf = executedPlan(Dedup.removeRepeatedSpansKeepFirst(docs, 3))
    assert(!kf.contains("CartesianProduct"), kf)
    assert(!kf.contains("BroadcastNestedLoopJoin"), kf)
    assert(kf.contains("partial_min") || kf.contains("partial_"), kf)
  }

  test("bm25TopK: bounded-heap aggregate, no WindowExec anywhere") {
    val plan = executedPlan(
      graft.pipeline.TextAnalysis.bm25TopK(docs, Seq("shared", "tok1"), 5))
    // a global row_number window here would drag every matched doc
    // (corpus-scale for a common query term) through ONE partition;
    // TopKByScore does map-side partial top-k instead
    assert(!plan.contains("Window"), plan)
    assert(plan.toLowerCase.contains("topkbyscore"), plan)
  }

  test("keySkew: top-k is TakeOrderedAndProject, no WindowExec anywhere") {
    val plan = executedPlan(graft.pipeline.Funnel.keySkew(docs, "source", 3))
    // the distinct-key relation is corpus-scale for high-cardinality
    // keys — the rank-k must stay a distributed partial top-k
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("skipgramCounts: global top-k is TakeOrdered; only the doc-keyed lag window") {
    val plan = executedPlan(
      graft.pipeline.TextAnalysis.skipgramCounts(docs, window = 2, k = 5))
    // the pair relation is corpus-scale — its top-k must be a
    // distributed partial top-k, never a global rank window
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the ONLY window is the per-doc lag pass (partitioned by doc_id)
    val winLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("doc_id")), plan)
  }

  test("embedCovariance: marginals broadcast, no sort-merge join, no window") {
    val plan = executedPlan(Similarity.embedCovariance(emb))
    // the pair terms are generated in-row; the only joins attach the
    // d-row marginal relation — they must stay broadcast
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("zipfFit: no WindowExec — ranks come from the distributed sort") {
    // the rank stage is a range-partitioned sort + zipWithIndex on the
    // vocabulary RDD; the downstream moment plan must carry no window
    // (a global row_number over |V| rows would be one-partition at scale)
    val plan = executedPlan(graft.pipeline.TextAnalysis.zipfFit(docs))
    assert(!plan.contains("Window"), plan)
  }

  test("dsirWeights: bucket ratio table broadcast, no windows, corpus tokenized once") {
    val plan = executedPlan(graft.pipeline.Curation.dsirWeights(
      docs, col("source") === "s0", buckets = 64))
    assert(!plan.contains("Window"), plan)
    // scoring joins the broadcast buckets-sized ratio table map-side
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("pqEncode: broadcast codebook, partial-aggregated assignment, no windows/sorts") {
    val plan = executedPlan(Similarity.pqEncode(emb, m = 2, k = 4))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the m*k codebook joins broadcast; the corpus side never sort-merges
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("pqSearch: LUT broadcast, codes-relation scan, bounded-heap rank — no windows") {
    val plan = executedPlan(Similarity.pqSearch(
      emb, emb.filter($"vec_id" <= 3), 2, m = 2, codes = 4, rerank = 8))
    assert(!plan.contains("Window"), plan)
    assert(plan.toLowerCase.contains("topkbyscore"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("ivfPqSearch: combined table + LUT broadcast, corpus never sort-merged, no windows") {
    val plan = executedPlan(Similarity.ivfPqSearch(
      emb, emb.filter($"vec_id" <= 3), 2, nCells = 2, nprobe = 2,
      m = 2, codes = 4, rerank = 8))
    assert(!plan.contains("Window"), plan)
    assert(plan.toLowerCase.contains("topkbyscore"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dupNgramRate: instances collapse before any join; no doc-keyed shuffle of raw grams") {
    val plan = executedPlan(Dedup.dupNgramRate(docs, n = 2))
    // the instance explosion feeds a partial-aggregated (source, gram)
    // collapse; the only join is collapsed x collapsed on the gram key
    assert(plan.contains("partial_count") || plan.contains("partial_"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("chunkDedup hashKey: election shuffle carries the 16-byte md5 key, never the chunk text") {
    val plan = executedPlan(Dedup.chunkDedup(docs, chunkTokens = 3,
      hashKey = true))
    // q360's 100 TB contract: every exchange is keyed by __ckey (the
    // md5) or doc_id — the arbitrary-length __ctext column must be
    // projected away BEFORE any shuffle, so shuffle rows stay
    // constant-width whatever the chunk size
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, plan)
    assert(exchanges.forall(l => !l.contains("__ctext")), exchanges)
    assert(plan.contains("md5"), plan)
    // and the text-keyed default keeps its plan shape: one election
    // aggregate with map-side partials, no windows, no cartesian
    val tplan = executedPlan(Dedup.chunkDedup(docs, chunkTokens = 3))
    assert(tplan.contains("partial_min") || tplan.contains("partial_"), tplan)
    assert(!tplan.contains("CartesianProduct") && !tplan.contains("Window"), tplan)
  }

  test("attribution: one conversion-keyed exchange shared by both windows") {
    val ev = Seq((1L, 1L, "view", java.sql.Timestamp.valueOf("2026-01-01 00:00:01")),
      (2L, 1L, "purchase", java.sql.Timestamp.valueOf("2026-01-01 00:00:02")))
      .toDF("event_id", "user_id", "event_type", "event_time")
    val plan = executedPlan(graft.pipeline.Funnel.attribution(
      ev, "purchase", "view", tolUs = 60000000L))
    // position AND count run over the same conv_id partitioning: exactly
    // ONE hashpartitioning(conv_id...) exchange feeds both WindowExecs
    val convExchanges = "hashpartitioning\\(conv_id".r
      .findAllIn(plan).length
    assert(convExchanges == 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("lmFilterSketch: GK thresholds broadcast, no rank window anywhere") {
    val plan = executedPlan(graft.pipeline.Curation.lmFilterSketch(
      docs, minPctl = 0.5, accuracy = 25))
    // the exact lmFilter carries a per-source sort window by design; the
    // sketch form must not — that is its entire reason to exist
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("weightedProfile: one shuffle, map-side partial aggregation, no windows") {
    val ax = graft.axes.Regular("x", 8, 0.0, 8.0)
    val plan = executedPlan(graft.operators.Histogram.weightedProfile(
      Seq((1.0, 2.0, 3.0)).toDF("x", "y", "w"), col("x"), ax,
      col("y"), col("w")))
    assert(!plan.contains("Window"), plan)
    // partial_count/partial_sum before the exchange = map-side combine
    assert(plan.contains("partial_"), plan)
  }

  test("decontaminateBloom: map-side might_contain screen, no corpus broadcast of the gram set") {
    val plan = executedPlan(
      Dedup.decontaminateBloom(docs, docs.filter($"doc_id" <= 3L), n = 2))
    // the screen is the codegen'd bloom probe in a Filter, upstream of
    // the (survivor-sized) exact-verify join
    assert(plan.contains("might_contain"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("rrfFusion: no WindowExec anywhere — every rank-k is the bounded heap") {
    val plan = executedPlan(graft.pipeline.TextAnalysis.rrfFusion(
      docs, Seq("alpha", "beta"), k = 3, kList = 5))
    // head ranks AND the fused rank all run through TopKByScore; a
    // window formulation would drag every scored doc through one
    // reducer partition at corpus scale
    assert(!plan.contains("Window ["), plan)
    assert(plan.toLowerCase.contains("topkbyscore"), plan)
  }

  test("windowedEmd batch path: reference broadcast; windows partition by window_start only") {
    val ax = graft.axes.Regular("value", 8, 0.0, 8.0)
    val ev = Seq((java.sql.Timestamp.valueOf("2026-01-01 00:00:01"), 1.0))
      .toDF("event_time", "value")
    val ref = graft.operators.Histogram.histogram(ev, col("value"), ax)
    val plan = executedPlan(graft.streaming.StreamingHist.windowedEmd(
      ev, "event_time", col("value"), ax, "1 hour", ref))
    // the dims x bins grid rides a BROADCAST of the bins-sized reference;
    // the cumulative windows partition by window_start (histogram-sized
    // relation, no global single-partition sort)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window [") ||
      plan.contains("windowspecdefinition(window_start"), plan)
  }

  test("auc/mannWhitney: no WindowExec — ranks come from the distributed prefix sum") {
    val ev = (1L to 60L).map(i => (i.toDouble % 13, i % 3 == 0))
      .toDF("value", "y")
    for (df <- Seq(graft.pipeline.RankStats.auc(ev, "value", col("y")),
        graft.pipeline.RankStats.mannWhitney(ev, "value", col("y")))) {
      val plan = executedPlan(df)
      // the textbook rank form is a global row_number over every score —
      // corpus-scale through one partition; the two-pass RDD prefix sum
      // keeps the collapsed distinct-score relation range-partitioned
      assert(!plan.contains("Window"), plan)
    }
  }

  test("cmsContract: every bucket table joins broadcast; no corpus-side windows/sorts") {
    val plan = executedPlan(graft.pipeline.Contracts.cmsContract(docs,
      width = 8, depth = 4))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("windowedAuc/windowedBenford batch paths: two hash aggs, no WindowExec") {
    val ev = (1L to 40L).map(i =>
      (new java.sql.Timestamp(i * 1000L), i.toDouble / 40.0, i % 4 == 0))
      .toDF("event_time", "score", "y")
    val aucPlan = executedPlan(graft.streaming.StreamingHist.windowedAuc(
      ev, "event_time", col("score"), col("y"), "10 seconds"))
    assert(!aucPlan.contains("Window ["), aucPlan)
    assert(aucPlan.contains("HashAggregate"), aucPlan)
    val ben = ev.withColumn("value", col("score") * lit(100.0))
    val benPlan = executedPlan(graft.streaming.StreamingHist.windowedBenford(
      ben, "event_time", "value", "10 seconds"))
    assert(!benPlan.contains("Window ["), benPlan)
    assert(benPlan.contains("HashAggregate"), benPlan)
  }

  test("jlProject/jlPack/centerEmbeddings: map-only — zero exchanges, zero joins") {
    for (df <- Seq(Similarity.jlProject(emb, 8), Similarity.jlPack(emb, 8),
        Similarity.centerEmbeddings(emb))) {
      val plan = executedPlan(df)
      // the apply pass must stay a pure projection over the scan: the
      // hyperplanes/means are plan literals, not joined relations
      assert(!plan.contains("Exchange"), plan)
      assert(!plan.contains("Join"), plan)
      assert(!plan.contains("Window ["), plan)
    }
  }

  test("zorder cells: one hash aggregate, no joins/windows; key math in-row") {
    import graft.sources.Layout
    val li = (1L to 40L).map(i => (i.toDouble % 7, i.toDouble * 3))
      .toDF("l_quantity", "l_extendedprice")
    val cq = Layout.cell(col("l_quantity"), 0.0, 7.0, 4)
    val cp = Layout.cell(col("l_extendedprice"), 0.0, 120.0, 4)
    val plan = executedPlan(li
      .select(cq.as("cell_q"), cp.as("cell_p"),
        Layout.interleave(Seq(cq, cp), 4).as("zkey"))
      .groupBy("cell_q", "cell_p", "zkey").count())
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window ["), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("graphSearch: every join is an equi-join (hash or broadcast), no cartesian") {
    val g = Similarity.knnGraph(emb, 3, rounds = 1)
    val plan = executedPlan(Similarity.graphSearch(
      emb, emb.filter($"vec_id" <= 3), 2, g, rounds = 1, beam = 4))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("diversifyGraph: pair scoring is an equi-join; the greedy walk is in-row (no window)") {
    val g = Similarity.knnGraph(emb, 3, rounds = 1)
    val plan = executedPlan(Similarity.diversifyGraph(emb, g, r = 2))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window ["), plan)
  }

  test("windowedEce batch path: windows partition the per-bin relation, nothing global") {
    val ev = (1L to 40L).map(i =>
      (new java.sql.Timestamp(i * 1000L), i.toDouble / 40.0, i % 4 == 0))
      .toDF("event_time", "score", "y")
    val plan = executedPlan(graft.streaming.StreamingHist.windowedEce(
      ev, "event_time", col("score"), col("y"), "10 seconds"))
    // two hash aggregations; no WindowExec at all (the fold is in-row)
    assert(!plan.contains("Window ["), plan)
    assert(plan.contains("HashAggregate"), plan)
  }
}
