package graft

import graft.tools.Profile

/** graft.tools.Profile's records, and the rule that every dev tool takes
  * its session from the one shared definition. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val keys = Seq("query", "run", "rows", "plan.fn_s", "plan.fn_jobs",
    "catalyst.s", "catalyst.jobs", "exec.s", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "jvm.gc_ms", "storage.rdd_mb", "storage.broadcast_mb",
    "exec.top_stages")

  private def profile(name: String): Seq[Profile.Run] = {
    val runs = Profile.query(spark, sf, name)
    assert(runs.map(_.run) == Seq("cold", "warm"), s"$name runs")
    runs.foreach { r =>
      assert(r.query == name && r.error.isEmpty, s"$name ${r.run}: ${r.error}")
      assert(r.fields.map(_._1) == keys, s"$name ${r.run} fields")
      r.fields.collect { case (k, v: Int) => k -> v.toDouble
        case (k, v: Long) => k -> v.toDouble case (k, v: Double) => k -> v }
        .foreach { case (k, v) => assert(v >= 0, s"$name ${r.run} $k = $v") }
      assert(r.topStages.size <= 5 && r.topStages.forall(s => s.s >= 0 && s.tasks >= 0))
      assert(r.execJobs >= 1 && r.stages >= 1 && r.tasks >= 1, s"$name ${r.run} counted no work")
      assert(r.json.startsWith("{\"query\":\"" + name + "\"") && r.json.endsWith("]}"))
    }
    runs
  }

  test("Profile.query: one cold and one warm record per query, every field non-negative") {
    val Seq(cold, warm) = profile("q01_hist_regular")
    assert(cold.rows == warm.rows && cold.rows > 0)
    profile("q41_dedup_minhash")
  }

  test("Profile.query: q41's cold run starts the eager pin jobs its warm run hits") {
    val Seq(cold, warm) = profile("q41_dedup_minhash")
    assert(cold.fnJobs > warm.fnJobs, s"fn jobs cold ${cold.fnJobs} warm ${warm.fnJobs}")
    assert(cold.rows == warm.rows)
  }

  test("Profile.query: a failing query yields error records, not an exception") {
    val runs = Profile.query(spark, sf, "no_such_query")
    assert(runs.size == 2 && runs.forall(_.error.exists(_.contains("no_such_query"))))
    assert(runs.head.json.contains("\"error\":"))
  }

  test("dev tools: one session definition, no hard-coded local[n]") {
    val root = java.nio.file.Paths.get("src/main/scala/graft/tools")
    assert(java.nio.file.Files.isDirectory(root),
      s"run tests from the repo root (cwd=${System.getProperty("user.dir")})")
    val files = {
      val s = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      } finally s.close()
    }
    val text = files.map(p => p.getFileName.toString ->
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).toMap
    val builders = text.collect { case (f, t) if "\\.builder\\(".r.findFirstIn(t).isDefined => f }
    assert(builders.toSet == Set("DevSession.scala"), s"session builders: $builders")
    val hardCoded = text.collect { case (f, t) if "local\\[\\d+\\]".r.findFirstIn(t).isDefined => f }
    assert(hardCoded.isEmpty, s"hard-coded local[n] in $hardCoded")
  }
}
