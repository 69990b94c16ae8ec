package graft

import graft.axes.Regular
import graft.operators.{HistOptions, Histogram}
import graft.sources.Tables
import graft.streaming.StreamingHist
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class SourcesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("batch tables load with expected schemas") {
    val tables = Tables.all(spark, sfDir)
    assert(tables.keySet == Tables.tableNames.toSet)
    assert(tables("lineitem").columns.contains("l_quantity"))
    Tables.registerViews(spark, sfDir)
    assert(spark.sql("SELECT count(*) FROM lineitem").head().getLong(0) > 0)
  }

  test("events stream: file source -> windowed histogram end-to-end") {
    // file stream sources need a directory; stage the parquet into one
    val streamDir = java.nio.file.Files.createTempDirectory("graft_events").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))
    val stream = Tables.eventsStream(spark, streamDir)
    assert(stream.isStreaming)
    val hist = StreamingHist.windowedHistogram(stream, "event_time",
      col("value"), Regular("value", 8, 0.0, 512.0), "1 hour")
    val q = hist.writeStream.format("memory").queryName("src_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val n = spark.table("src_stream").count()
      assert(n > 0)
      val total = spark.table("src_stream").agg(sum("cnt")).head().getDouble(0)
      val expected = spark.read.parquet(s"$streamDir/events.parquet")
        .filter(col("value") >= 0 && col("value") < 512).count().toDouble
      assert(total == expected)
    } finally q.stop()
  }

  test("kernel and declarative dense paths agree at 8 and 512 bins") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 200.0), ("b", 513.0)).toDF("g", "x")
    val small = Regular("x", 8, 0.0, 512.0)
    val big = Regular("x", 512, 0.0, 512.0)
    for (ax <- Seq(small, big)) {
      def rows(h: org.apache.spark.sql.DataFrame) =
        h.collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      val got = rows(Histogram.histogram(df, col("x"), ax, Seq("g"), HistOptions(dense = true)))
      assert(got == rows(DeclarativeHistogram.histogramdd(df, Seq(col("x") -> ax), Seq("g"),
        HistOptions(dense = true))))
      assert(got.size == 2 * ax.nBins) // group b kept with all-zero histogram
      val binOf1 = ax.edges.reverse.find(_ <= 1.0).get
      assert(got(("a", binOf1)) == 1.0)
      assert(got.values.sum == 2.0) // 513.0 overflows, dropped
    }
  }

  test("zorder: interleave matches a reference Morton code; cells clamp; NULL stays NULL") {
    import graft.sources.Layout
    import spark.implicits._
    // reference Morton interleave in plain Scala
    def morton(cells: Seq[Long], bits: Int): Long =
      (for {
        (c, i) <- cells.zipWithIndex
        j <- 0 until bits
      } yield ((c >> j) & 1L) << (j * cells.size + i)).foldLeft(0L)(_ | _)
    val rnd = new scala.util.Random(11)
    val rows = (1 to 200).map(_ =>
      (rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val df = rows.toDF("a", "b")
    val got = df.select(col("a"), col("b"),
        Layout.interleave(Seq(col("a"), col("b")), 8).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { case (a, b) =>
      assert(got((a, b)) == morton(Seq(a, b), 8), s"($a, $b)")
    }
    // quantizer: in-range values hit their cell; out-of-range clamps;
    // NULL propagates
    val q = Seq(Some(0.0), Some(5.0), Some(9.999), Some(-3.0), Some(42.0),
        None: Option[Double]).toDF("v")
      .select(Layout.cell(col("v"), 0.0, 10.0, 4).as("c"))
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    assert(q.toSeq == Seq(Some(0L), Some(8L), Some(15L), Some(0L), Some(15L), None))
  }

  test("zorderQCells: equal-frequency cells balance a skewed marginal") {
    import graft.sources.Layout
    import spark.implicits._
    // x uniform, y heavily skewed (quadratic) — fixed-range cells would
    // pile y's mass into a few rows of the grid; quantile cells don't
    val df = (0 until 4096).map(i => (i.toDouble, (i.toDouble / 64) * (i / 64)))
      .toDF("x", "y")
    val cells = Layout.zorderQCells(df, "x", "y", 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // marginal masses per axis bin are ~n/8 despite the skew
    val perQ = cells.groupBy(_._1).view.mapValues(_.map(_._4).sum)
    val perP = cells.groupBy(_._2).view.mapValues(_.map(_._4).sum)
    assert(perQ.values.forall(c => c >= 256 && c <= 1024), perQ.toMap)
    assert(perP.values.forall(c => c >= 256 && c <= 1024), perP.toMap)
    // the zkey is the Morton code of the cell pair
    def morton(a: Long, b: Long): Long =
      (0 until 3).map(j => (((a >> j) & 1L) << (j * 2)) |
        (((b >> j) & 1L) << (j * 2 + 1))).foldLeft(0L)(_ | _)
    cells.foreach { case (q, p, z, _) => assert(z == morton(q, p)) }
  }

  test("writeZOrdered: files own disjoint zkey intervals (range partitioning)") {
    import graft.sources.Layout
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val df = (1 to 2000).map(_ =>
      (rnd.nextDouble() * 10.0, rnd.nextDouble() * 10.0)).toDF("x", "y")
    val zk = Layout.interleave(Seq(
      Layout.cell(col("x"), 0.0, 10.0, 8), Layout.cell(col("y"), 0.0, 10.0, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    Layout.writeZOrdered(df, dir, zk, nFiles = 4)
    // re-read per file: zkey intervals must not overlap across files
    val back = spark.read.parquet(dir)
      .select(input_file_name().as("f"), zk.as("z"))
      .groupBy(col("f")).agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(back.length > 1)
    back.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, back.toSeq)
      case _ =>
    }
  }
}
