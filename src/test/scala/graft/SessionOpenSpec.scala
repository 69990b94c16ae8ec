package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Opening a session over pinned inputs: cacheTables and t() start no
  * Spark job once the inputs are pinned and their schemas inferred, an
  * input rewritten in place is pinned again from its new files, and the
  * memoized schema follows the files and the parquet reader settings. */
class SessionOpenSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Jobs `f` starts on this thread. The listener bus delivers events in
    * order, so once a marker job's start arrives every job of `f` has. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).orNull match {
          case "run" => jobs.incrementAndGet()
          case "drain" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "run")
      try f finally sc.setLocalProperty(tag, "drain")
      sc.parallelize(Seq(0), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain in 60 s")
      jobs.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
  private def query(name: String, s: SparkSession, dir: String) =
    rows(SparkEntry.queries(name)(s, dir))

  private def copyDir(from: String): String = {
    val to = Files.createTempDirectory("graft_open")
    val src = Paths.get(from)
    Files.walk(src).forEach { (p: Path) =>
      val dst = to.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
    to.toString
  }

  private val inputs = Seq("lineitem", "orders", "customer", "part", "events",
    "documents", "embeddings")

  test("a fresh session over pinned inputs: cacheTables and t() start no job") {
    val first = spark.newSession()
    SparkEntry.cacheTables(first, sf)
    SparkEntry.t(sf, "nation")(first)
    val (q01, q41) = (query("q01_hist_regular", first, sf), query("q41_dedup_minhash", first, sf))

    val next = spark.newSession()
    assert(jobsOf(SparkEntry.cacheTables(next, sf)) == 0,
      "a fresh session's cacheTables started jobs over pinned inputs")
    // nation is not pinned: only its memoized schema saves the inference job
    assert(jobsOf(SparkEntry.t(sf, "nation")(next)) == 0,
      "t() inferred a schema it had already inferred for the same files")
    assert(query("q01_hist_regular", next, sf) == q01)
    assert(query("q41_dedup_minhash", next, sf) == q41)
  }

  test("cacheTables re-pins an input rewritten in place after clear()") {
    val dir = copyDir(sf)
    // the copy's lineitem as a directory of one part file, as writers lay it out
    val table = Paths.get(dir, "lineitem.parquet")
    Files.delete(table)
    Files.copy(Paths.get(sf, "lineitem.parquet"),
      Files.createDirectory(table).resolve("part-0.parquet"))
    // another writer replaces the part files with the rows that pass `keep`
    // (same schema, other rows; a write through this session would refresh
    // the cached plans itself); returns q01 over those rows
    def rewrite(keep: String, part: Int): Seq[String] = {
      val staged = Files.createTempDirectory("graft_open_new").resolve("lineitem.parquet")
      spark.read.parquet(s"$sf/lineitem.parquet").where(keep).coalesce(1)
        .write.parquet(staged.toString)
      val files = Files.list(staged).toArray.map(_.asInstanceOf[Path])
      Files.list(table).toArray.foreach(p => Files.delete(p.asInstanceOf[Path]))
      files.filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, table.resolve(s"part-$part.parquet")))
      query("q01_hist_regular", spark.newSession(), staged.getParent.toString)
    }
    try {
      val first = spark.newSession()
      SparkEntry.cacheTables(first, dir)
      val before = query("q01_hist_regular", first, dir)
      val expected = rewrite("l_quantity < 25", 1)
      assert(expected != before, "the rewrite did not change q01")
      graft.util.RelCache.clear()
      val next = spark.newSession()
      SparkEntry.cacheTables(next, dir)
      assert(query("q01_hist_regular", next, dir) == expected,
        "q01 read the blocks pinned before the rewrite")
      // the session that pinned the input reads the new files too
      val again = rewrite("l_quantity >= 25", 2)
      graft.util.RelCache.clear()
      SparkEntry.cacheTables(next, dir)
      assert(query("q01_hist_regular", next, dir) == again,
        "the pinning session kept its scan of the old files")
    } finally inputs.foreach(n => SparkEntry.t(dir, n)(spark.newSession()).unpersist(true))
  }

  test("a live session's alias of an unpinned table follows its replaced part file") {
    val dir = Files.createTempDirectory("graft_open_alias").toString
    val table = Files.createDirectory(Paths.get(dir, "nation.parquet"))
    Files.copy(Paths.get(sf, "nation.parquet"), table.resolve("part-0.parquet"))
    val s = spark.newSession()
    val all = rows(SparkEntry.t(dir, "nation")(s))
    // another writer replaces the part file with a copy holding other rows
    val staged = Files.createTempDirectory("graft_open_alias_new").resolve("nation.parquet")
    spark.read.parquet(s"$sf/nation.parquet").where("n_nationkey < 5").coalesce(1)
      .write.parquet(staged.toString)
    val part = Files.list(staged).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.delete(table.resolve("part-0.parquet"))
    Files.copy(part, table.resolve("part-1.parquet"))
    val expected = rows(spark.read.parquet(staged.toString))
    assert(expected.size == 5 && expected != all)
    assert(rows(SparkEntry.t(dir, "nation")(s)) == expected,
      "the session's alias kept the replaced file's listing")
  }

  test("the memoized schema follows the files: an added column reaches the next session") {
    val dir = Files.createTempDirectory("graft_open_cols").toString
    Seq((1L, "a")).toDF("id", "tag").write.parquet(s"$dir/probe.parquet")
    assert(SparkEntry.t(dir, "probe")(spark.newSession()).columns.toSeq == Seq("id", "tag"))
    Seq((2L, "b", 3.0)).toDF("id", "tag", "x").write.mode("overwrite")
      .parquet(s"$dir/probe.parquet")
    val df = SparkEntry.t(dir, "probe")(spark.newSession())
    assert(df.columns.toSeq == Seq("id", "tag", "x"), "a session read the old schema")
    assert(rows(df) == Seq("[2,b,3.0]"))
  }

  test("the memoized schema follows the parquet reader settings") {
    val dir = Files.createTempDirectory("graft_open_ntz").toString
    // o_orderdate is TIMESTAMP(us) not adjusted to UTC, in a file with no
    // Spark schema: its Spark type depends on the reader setting
    Files.copy(Paths.get(sf, "orders.parquet"), Paths.get(dir, "probe.parquet"))
    def tsType(inferNtz: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", inferNtz.toString)
      SparkEntry.t(dir, "probe")(s).schema("o_orderdate").dataType
    }
    assert(tsType(inferNtz = true) == TimestampNTZType)
    assert(tsType(inferNtz = false) == TimestampType, "a session reused another setting's schema")
    assert(tsType(inferNtz = true) == TimestampNTZType)
  }
}
