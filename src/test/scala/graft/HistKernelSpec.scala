package graft

import graft.axes._
import graft.operators.{DenseHistogramExec, HistOptions, Histogram}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The pre-kernel declarative histogram — filter on keepPred, project the
  * bin index, `groupBy(dims ++ binIdx).agg(sum(Dec.toDec(w)))`, densify by
  * a null-safe join, window density — kept as the reference the kernel
  * must reproduce bit for bit. */
object DeclarativeHistogram {
  import graft.util.Dec

  def histogramdd(df: DataFrame, specs: Seq[(Column, BinAxis)],
      dims: Seq[String] = Nil, opts: HistOptions = HistOptions()): DataFrame = {
    val idxNames = specs.indices.map(k => s"__i$k")
    val dimCols = dims.map(col)
    val keep = specs.map { case (c, ax) =>
      ax.keepPred(c, opts.flow && ax.underflow, opts.flow && ax.overflow)
    }.reduce(_ && _)
    val projected = df.filter(keep).select(
      dimCols ++
        specs.zipWithIndex.map { case ((c, ax), k) => ax.index(c).as(idxNames(k)) } ++
        opts.weight.map(w => Dec.toDec(w).as("__w")).toSeq: _*)
    val cntExpr = opts.weight match {
      case Some(_) => Dec.exactDouble(sum(col("__w")))
      case None if opts.intStorage => count(lit(1))
      case None => count(lit(1)).cast("double")
    }
    val sparse = projected.groupBy((dims ++ idxNames).map(col): _*).agg(cntExpr.as("cnt"))
    val grouped = if (!opts.dense) sparse else {
      val spark = df.sparkSession
      val grid = specs.zipWithIndex.map { case ((_, ax), k) =>
        val lo = if (opts.flow && ax.underflow) -1L else 0L
        val hi = if (opts.flow && ax.overflow) ax.nBins.toLong else ax.nBins - 1L
        spark.range(lo, hi + 1).select(col("id").as(idxNames(k)))
      }.reduce(_.crossJoin(_))
      val keys =
        if (dims.isEmpty) grid
        else df.select(dimCols: _*).distinct().crossJoin(grid)
      val zero = if (opts.intStorage) lit(0L) else lit(0.0)
      val on = (dims ++ idxNames).map(c => keys(c) <=> sparse(c)).reduce(_ && _)
      keys.join(sparse, on, "left")
        .select(keys.columns.map(keys(_)) :+ coalesce(sparse("cnt"), zero).as("cnt"): _*)
    }
    val valued =
      if (opts.density) {
        val anyFlow = specs.zipWithIndex.map { case ((_, ax), k) =>
          col(idxNames(k)) === -1 || col(idxNames(k)) === ax.nBins
        }.reduce(_ || _)
        val area = when(anyFlow, lit(1.0)).otherwise(
          specs.zipWithIndex.map { case ((_, ax), k) => ax.width(col(idxNames(k))) }
            .reduce(_ * _))
        val total = Dec.exactDouble(sum(Dec.toDec(
          when(anyFlow, lit(0.0)).otherwise(col("cnt")))).over(Window.partitionBy(dimCols: _*)))
        grouped.withColumn("pdf", col("cnt") / area / total).drop("cnt")
      } else grouped
    valued.select(dimCols ++
      specs.zipWithIndex.map { case ((_, ax), k) => ax.label(col(idxNames(k))).as(ax.binsCol) } :+
      col(if (opts.density) "pdf" else "cnt"): _*)
  }
}

/** The dense kernel against the pre-kernel declarative expression, over
  * every axis kind crossed with flow, dense and density, weighted and
  * not, on both fills (columnar parquet scan and codegen'd rows). */
class HistKernelSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Rows as sorted strings, doubles by their bits (NaN equal to NaN,
    * -0.0 distinct from 0.0). */
  private def bits(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case other => String.valueOf(other)
    }.mkString("|")).toSeq.sorted

  private def kernelExecs(df: DataFrame): Seq[DenseHistogramExec] =
    collect(df.queryExecution.executedPlan) { case e: DenseHistogramExec => e }

  private val tie = 2.5e-14          // HALF_UP at digit 14: rounds to 3e-14
  private val rows: Seq[(Option[Double], Option[Long], String, Option[Double], String)] = {
    val xs = Seq(-7.5, -1.0, -0.0, 0.0, 0.25, 0.5, 1.0, 1.5, 2.0, 2.999, 3.0, 3.5, 7.0, 12.0,
      1e300, -1e300, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).map(Some(_)) :+ None
    val ws = Seq(0.1, 0.2, 1e-15, tie, -tie, 1.000000000000005, -1.000000000000005, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 92233.72036854775, 5e5, 3.25,
      1e30, 0.12345678901234)
      .map(Some(_)) :+ None
    val strs = Seq("a", "b", "zz", null)
    for ((x, k) <- xs.zipWithIndex; j <- 0 until 3)
      yield (x, x.map(_ => (k % 6 - 1 + j).toLong), strs((k + j) % strs.size),
        ws((k * 3 + j) % ws.size), if (j == 0) "g0" else "g1")
  }
  // a bin (x in [5, 6)) whose weights are all NULL: its weighted cnt is NULL
  private val nullBin = Seq((Some(5.5), Some(1L), "a", None, "g0"),
    (Some(5.25), Some(2L), "b", None, "g1"))

  private lazy val local: DataFrame = (rows ++ nullBin).toDF("x", "i", "s", "w", "g")
  private lazy val parquet: DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("histkernel").resolve("t.parquet").toString
    local.repartition(3).write.parquet(path)
    spark.read.parquet(path)
  }

  private val axes: Seq[(String, Column, BinAxis)] = Seq(
    ("regular", col("x"), Regular("x", 8, 0.0, 8.0)),
    ("log", col("x"), Regular("x", 5, 0.1, 10.0, transform = LogT)),
    ("variable", col("x"), Variable("x", Array(-1.0, 0.0, 0.5, 3.0, 6.0))),
    ("integer", col("i"), IntegerAxis("i", 0, 4)),
    ("intcat", col("i"), IntCategory("i", Seq(3L, 0L, 1L))),
    ("strcat", col("s"), StrCategory("s", Seq("b", "a"))),
    ("circular", col("x"), Circular("x", 6, 0.0, 3.0)))

  private def check(df: DataFrame, specs: Seq[(Column, BinAxis)], dims: Seq[String],
      opts: HistOptions, label: String): Unit = {
    val got = Histogram.histogramdd(df, specs, dims, opts)
    val want = DeclarativeHistogram.histogramdd(df, specs, dims, opts)
    assert(bits(got) == bits(want), label)
    assert(kernelExecs(got).nonEmpty, s"$label: kernel planned")
  }

  for ((name, c, ax) <- axes) test(s"kernel equals the declarative expression: $name axis") {
    for (dims <- Seq(Nil, Seq("g")); flow <- Seq(false, true); dense <- Seq(false, true);
         density <- Seq(false, true); weight <- Seq(None, Some(col("w")))) {
      val opts = HistOptions(weight = weight, flow = flow, dense = dense, density = density)
      check(local, Seq(c -> ax), dims, opts, s"$name $dims $opts")
    }
    for (dims <- Seq(Nil, Seq("g"))) {
      check(parquet, Seq(c -> ax), dims, HistOptions(flow = true, weight = Some(col("w"))),
        s"$name $dims parquet")
      check(local, Seq(c -> ax), dims, HistOptions(intStorage = true, dense = true),
        s"$name $dims int")
    }
  }

  test("kernel equals the declarative expression: 2-D grids on both fills") {
    val regular = Regular("x", 8, 0.0, 8.0)
    for (df <- Seq(local, parquet); (_, c, ax) <- axes; flow <- Seq(false, true);
         dense <- Seq(false, true)) {
      val opts = HistOptions(weight = Some(col("w")), flow = flow, dense = dense)
      check(df, Seq(col("x") -> regular, c -> ax), Nil, opts, s"${ax.name} $opts")
    }
  }

  test("keyed kernel: multi-column and NULL keys, a key named n, keys off the grid") {
    val ax = Regular("x", 8, 0.0, 8.0)
    // s holds NULLs; g1 rows all fall outside the axis in half the rows
    val withOff = local.union(Seq((Some(100.0), Some(1L), "off", Some(1.0), "g9"),
      (None, None, "off", Some(2.0), "g9")).toDF("x", "i", "s", "w", "g"))
    for (df <- Seq(withOff, parquet); dense <- Seq(false, true); flow <- Seq(false, true);
         weight <- Seq(None, Some(col("w")))) {
      val opts = HistOptions(weight = weight, flow = flow, dense = dense)
      check(df, Seq(col("x") -> ax), Seq("g", "s"), opts, s"(g, s) $opts")
      check(df.withColumnRenamed("g", "n"), Seq(col("x") -> ax), Seq("n"), opts, s"n $opts")
    }
    // the group whose rows are all off the axis gets its zero grid, dense
    val g9 = Histogram.histogram(withOff, col("x"), ax, Seq("g"), HistOptions(dense = true))
      .filter(col("g") === "g9").collect()
    assert(g9.length == 8 && g9.forall(_.getDouble(2) == 0.0))
    assert(Histogram.histogram(withOff, col("x"), ax, Seq("g")).filter(col("g") === "g9")
      .count() == 0)
  }

  test("keyed kernel: double keys group as Spark groups them") {
    val ax = Regular("x", 4, 0.0, 4.0)
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    assert(nan2.isNaN && java.lang.Double.doubleToRawLongBits(nan2) !=
      java.lang.Double.doubleToRawLongBits(Double.NaN))
    val keys = Seq(-0.0, 0.0, Double.NaN, nan2, 1.5)
    val local = (for ((d, j) <- keys.zipWithIndex; x <- Seq(0.5, 1.5 + j, 9.0))
      yield (d, d.toFloat, x, j * 0.25)).toDF("d", "f", "x", "w")
    val path = java.nio.file.Files.createTempDirectory("histkeys").resolve("t.parquet").toString
    local.repartition(2).write.parquet(path)
    for (df <- Seq(local, spark.read.parquet(path)); dims <- Seq(Seq("d"), Seq("f"), Seq("d", "f"));
         dense <- Seq(false, true)) {
      val opts = HistOptions(weight = Some(col("w")), dense = dense)
      check(df, Seq(col("x") -> ax), dims, opts, s"$dims $dense")
      // three groups: 0.0, NaN and 1.5
      assert(Histogram.histogram(df, col("x"), ax, dims, opts).select(dims.map(col): _*)
        .distinct().count() == 3, s"$dims $dense")
    }
  }

  test("keyed kernel: empty input has no groups, sparse or dense") {
    val ax = Regular("x", 3, 0.0, 3.0)
    val empty = Seq.empty[(String, Double, Double)].toDF("g", "x", "w")
    for (dense <- Seq(false, true); weight <- Seq(None, Some(col("w")))) {
      val opts = HistOptions(weight = weight, dense = dense, flow = true)
      check(empty, Seq(col("x") -> ax), Seq("g"), opts, s"empty $opts")
      assert(Histogram.histogram(empty, col("x"), ax, Seq("g"), opts).count() == 0)
    }
  }

  test("keyed kernel: 5k groups x 102 slots in 3 partitions flush at the slot budget") {
    val ax = Regular("x", 100, 0.0, 100.0)
    val df = spark.range(0, 20000, 1, 3).select(
      (col("id") % 5000).as("g"),
      (col("id") * 37 % 103 - 1.5).as("x"),
      (col("id") % 7 * 0.1).as("w"))
    for (weight <- Seq(None, Some(col("w"))); dense <- Seq(false, true)) {
      val opts = HistOptions(weight = weight, flow = true, dense = dense)
      val h = Histogram.histogram(df, col("x"), ax, Seq("g"), opts)
      assert(bits(h) == bits(DeclarativeHistogram.histogramdd(df, Seq(col("x") -> ax),
        Seq("g"), opts)), s"$opts")
      assert(kernelExecs(h).map(_.metrics("flushes").value).sum > 0, s"$opts")
    }
  }

  test("keyed kernel: a collated-string key keeps the declarative plan") {
    val ax = Regular("x", 8, 0.0, 8.0)
    val df = local.select(collate(col("s"), "UTF8_LCASE").as("s"), col("x"), col("w"))
      .union(Seq(("A", 0.5, 1.0), ("B", 1.5, 2.0)).toDF("s", "x", "w")
        .select(collate(col("s"), "UTF8_LCASE").as("s"), col("x"), col("w")))
    val h = Histogram.histogram(df, col("x"), ax, Seq("s"), HistOptions(weight = Some(col("w"))))
    assert(bits(h) == bits(DeclarativeHistogram.histogramdd(df, Seq(col("x") -> ax), Seq("s"),
      HistOptions(weight = Some(col("w"))))))
    assert(kernelExecs(h).isEmpty)
  }

  test("a dims call is one job: the fill stage, then the keyed merge") {
    val ax = Regular("x", 8, 0.0, 8.0)
    val sc = spark.sparkContext
    for ((name, df) <- Seq(
        "histogram" -> Histogram.histogram(parquet, col("x"), ax, Seq("g"), HistOptions(flow = true)),
        "median" -> graft.stats.HistStats.median(parquet, col("x"), ax, Seq("g")))) {
      val group = s"kernel-dims-$name"
      sc.setJobGroup(group, group)
      try df.collect() finally sc.clearJobGroup()
      val stages = sc.statusTracker.getJobIdsForGroup(group).toSeq
        .flatMap(sc.statusTracker.getJobInfo(_)).map(_.stageIds.length)
      assert(stages == Seq(2), name)
    }
  }

  test("columnar fill engages on a bare parquet scan, weighted or not") {
    val ax = Regular("x", 8, 0.0, 8.0)
    val y = Regular("w", 4, -1.0, 3.0)
    for (opts <- Seq(HistOptions(), HistOptions(flow = true, weight = Some(col("w"))))) {
      val h = Histogram.histogramdd(parquet, Seq(col("x") -> ax, col("w") -> y), opts = opts)
      h.collect()
      assert(kernelExecs(h).map(_.metrics("columnarRows").value) == Seq(local.count()))
    }
    // a decimal-imaged weight (not a double) takes the row fill
    val hl = Histogram.histogram(parquet, col("x"), ax,
      opts = HistOptions(weight = Some(col("i"))))
    hl.collect()
    assert(kernelExecs(hl).map(_.metrics("columnarRows").value) == Seq(0L))
    assert(bits(hl) == bits(DeclarativeHistogram.histogramdd(parquet, Seq(col("x") -> ax),
      opts = HistOptions(weight = Some(col("i"))))))
  }

  test("exact sums: past 2^63 unscaled, and more distinct weights than the memo holds") {
    val ax = Regular("x", 4, 0.0, 4.0)
    val rnd = new scala.util.Random(11)
    // 100k distinct full-precision weights (more than the memo's 65,536
    // entries), many of them past a long's unscaled range (|w| >
    // 92233.72), in 7 partitions
    val df = (0 until 100000).map { k =>
      (rnd.nextDouble() * 4, (rnd.nextDouble() - 0.3) * (if (k % 3 == 0) 4e6 else 100.0))
    }.toDF("x", "w").repartition(7)
    for (opts <- Seq(HistOptions(weight = Some(col("w"))),
        HistOptions(weight = Some(col("w")), flow = true, dense = true, density = true)))
      check(df, Seq(col("x") -> ax), Nil, opts, s"$opts")
    check(df, Seq(col("x") -> ax), Seq("x"), HistOptions(weight = Some(col("w"))), "dims")
    // 2^63 unscaled = 92233.72036854775807: two such weights in one bin
    val big = Seq((0.5, 92233.72), (0.5, 92233.72), (0.5, 0.01), (1.5, -92233.72),
      (1.5, -92233.72)).toDF("x", "w")
    check(big, Seq(col("x") -> ax), Nil, HistOptions(weight = Some(col("w"))), "2^63")
    val sums = Histogram.histogram(big, col("x"), ax, opts = HistOptions(weight = Some(col("w"))))
      .orderBy(col("x_bins")).collect().map(_.getDouble(1))
    assert(math.abs(sums(0) - 184467.45) < 1e-9 && math.abs(sums(1) + 184467.44) < 1e-9)
  }

  test("exact sums: mixed-scale weights give the same bits at 1, 7 and 32 partitions") {
    val ax = Regular("x", 4, 0.0, 4.0)
    // 1e16- and 1e-7-scale addends, whose double sum depends on the order
    val rnd7 = new scala.util.Random(7)
    val mixed = (0 until 400).map { i =>
      val w = if (i % 29 == 0) 1.0e16 else rnd7.nextDouble() * 1e-7 + 0.1
      (rnd7.nextDouble() * 4.0, w)
    }.toDF("x", "w")
    val dense = HistOptions(weight = Some(col("w")), dense = true)
    val want = bits(DeclarativeHistogram.histogramdd(mixed.repartition(5), Seq(col("x") -> ax),
      opts = dense))
    for (parts <- Seq(1, 7, 32)) {
      val got = Histogram.histogram(mixed.repartition(parts), col("x"), ax, opts = dense)
      assert(bits(got) == want && kernelExecs(got).nonEmpty, s"$parts partitions")
    }
  }

  test("exact sums: bin sums that need all 14 fraction digits, with dims and without") {
    val one = Regular("x", 1, 0.0, 1.0)
    val d14 = Seq(("a", 0.5, 0.5), ("a", 0.5, 0.49999999999999),
      ("b", 0.5, -3.0), ("b", 0.5, -1.0e-14)).toDF("g", "x", "w")
    val weighted = HistOptions(weight = Some(col("w")))
    val want14 = Map("a" -> 0.99999999999999, "b" -> -3.0000000000000098)
    check(d14, Seq(col("x") -> one), Seq("g"), weighted, "14 digits, dims")
    assert(Histogram.histogram(d14, col("x"), one, Seq("g"), weighted).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap == want14)
    for ((g, v) <- want14) {
      val part = d14.filter(col("g") === g)
      check(part, Seq(col("x") -> one), Nil, weighted, s"14 digits, $g")
      assert(Histogram.histogram(part, col("x"), one, opts = weighted).collect()(0).getDouble(1) == v, g)
    }
  }

  test("partials past the driver-merge bound tree-merge on executors, spills included") {
    // 129 partitions x a 256x256 grid = 8.45M partition-slots, past the
    // 8M bound: the kernel's job gains the tree level's shuffle stage
    val axx = Regular("x", 256, 0.0, 256.0)
    val axy = Regular("y", 256, 0.0, 256.0)
    // the first two rows of each 200-row partition put 60000.5 each into
    // slot (0, 0): each partition's slot spills past a long, and so
    // does their merge
    val first = col("id") % 200 < 2
    val df = spark.range(0, 129 * 200, 1, 129).select(
      when(first, lit(0.5)).otherwise(col("id") * 7 % 256 + 0.25).as("x"),
      when(first, lit(0.5)).otherwise(col("id") / 256 % 256).as("y"),
      when(first, lit(60000.5)).otherwise(col("id") % 13 * 0.1 - 0.35).as("w"))
    val sc = spark.sparkContext
    for (weight <- Seq(None, Some(col("w")))) {
      val group = s"kernel-tree-merge-${weight.isDefined}"
      val h = Histogram.histogram2d(df, col("x"), axx, col("y"), axy,
        opts = HistOptions(weight = weight))
      sc.setJobGroup(group, group)
      val got = try bits(h) finally sc.clearJobGroup()
      val stages = sc.statusTracker.getJobIdsForGroup(group).toSeq
        .flatMap(sc.statusTracker.getJobInfo(_)).map(_.stageIds.length)
      assert(stages == Seq(2), "one job: the partial fills, then the tree level")
      assert(got == bits(DeclarativeHistogram.histogramdd(df,
        Seq(col("x") -> axx, col("y") -> axy), opts = HistOptions(weight = weight))))
    }
  }

  test("precision-38 overflow: an error under ANSI, NULL otherwise, as SUM") {
    val ax = Regular("x", 2, 0.0, 2.0)
    val df = Seq((0.5, 9e23), (0.5, 9e23), (1.5, 1.0)).toDF("x", "w")
    val opts = HistOptions(weight = Some(col("w")))
    val was = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      for (dims <- Seq(Nil, Seq("x"))) {
        def condition(t: Throwable) = t.asInstanceOf[org.apache.spark.SparkThrowable].getCondition
        val e = intercept[ArithmeticException](
          Histogram.histogramdd(df, Seq(col("x") -> ax), dims, opts).collect())
        val r = intercept[ArithmeticException](
          DeclarativeHistogram.histogramdd(df, Seq(col("x") -> ax), dims, opts).collect())
        assert(condition(e) == condition(r))
      }
      spark.conf.set("spark.sql.ansi.enabled", "false")
      for (dims <- Seq(Nil, Seq("x")); dense <- Seq(false, true))
        check(df, Seq(col("x") -> ax), dims, opts.copy(dense = dense), s"non-ANSI $dims $dense")
      assert(Histogram.histogram(df, col("x"), ax, opts = opts).collect()
        .map(r => r.getDouble(0) -> r.get(1)).toMap == Map(0.0 -> null, 1.0 -> 1.0))
    } finally spark.conf.set("spark.sql.ansi.enabled", was)
  }

  test("empty input: sparse is empty, dense is the zero grid") {
    val ax = Regular("x", 3, 0.0, 3.0)
    val empty = Seq.empty[(Double, Double)].toDF("x", "w")
    for (dense <- Seq(false, true); weight <- Seq(None, Some(col("w"))))
      check(empty, Seq(col("x") -> ax), Nil, HistOptions(weight = weight, dense = dense,
        flow = true), s"empty $dense $weight")
  }

  test("a streaming histogram without dims stays a stateful aggregate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Double]
    val h = Histogram.histogram(input.toDF().toDF("x"), col("x"), Regular("x", 2, 0.0, 2.0))
    val q = h.writeStream.format("memory").queryName("kernel_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(0.5, 1.5)
      q.processAllAvailable()
      input.addData(0.25, 7.0)
      q.processAllAvailable()
      assert(spark.table("kernel_stream").collect().map(r => r.getDouble(0) -> r.getDouble(1))
        .toMap == Map(0.0 -> 2.0, 1.0 -> 1.0))
    } finally q.stop()
  }

  test("a plain session's new session reads kernel nodes from global views, with dims or not") {
    val ax = Regular("x", 4, 0.0, 4.0)
    val df = spark.range(8).select(col("id").cast("double").as("x"), (col("id") % 2).as("g"))
    // the shared spec session is a plain SparkSession.builder() session
    Histogram.histogram(df, col("x"), ax).createOrReplaceGlobalTempView("plain_hist")
    Histogram.histogram(df, col("x"), ax, Seq("g")).createOrReplaceGlobalTempView("plain_hist_dims")
    val fresh = spark.newSession()
    try for (view <- Seq("plain_hist", "plain_hist_dims")) {
      val viewed = fresh.table(s"global_temp.$view")
      assert(viewed.collect().map(_.getAs[Double]("cnt")).sum == 4.0, view)
      assert(viewed.queryExecution.executedPlan.toString.contains("DenseHistogramExec"), view)
    } finally Seq("plain_hist", "plain_hist_dims").foreach(spark.catalog.dropGlobalTempView)
  }

  test("plan shape: the executed plan names the kernel in plain and Graft sessions") {
    import org.apache.spark.sql.SparkSession
    val ax = Regular("x", 4, 0.0, 4.0)
    def planned(s: SparkSession): String = {
      val df = s.createDataFrame(Seq(Tuple1(1.0), Tuple1(2.5))).toDF("x")
      val h = Histogram.histogram(df, col("x"), ax)
      assert(h.collect().map(_.getDouble(1)).sum == 2.0)
      h.queryExecution.executedPlan.toString
    }
    // the shared spec session is a plain SparkSession.builder() session
    assert(planned(spark).contains("DenseHistogramExec"))
    // a Graft.builder() session: the extension injects the strategy
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val graftSession = try Graft.builder().master("local[4]").getOrCreate() finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(graftSession ne spark)
    assert(planned(graftSession).contains("DenseHistogramExec"))
    // a new session reads a kernel node from a global view before any
    // Histogram call of its own: only the extension's strategy plans it
    Histogram.histogram(graftSession.range(4).select(col("id").cast("double").as("x")),
      col("x"), ax).createOrReplaceGlobalTempView("kernel_hist")
    val fresh = graftSession.newSession()
    try {
      val viewed = fresh.table("global_temp.kernel_hist")
      assert(viewed.collect().map(_.getDouble(1)).sum == 4.0)
      assert(viewed.queryExecution.executedPlan.toString.contains("DenseHistogramExec"))
    } finally fresh.catalog.dropGlobalTempView("kernel_hist")
  }
}
