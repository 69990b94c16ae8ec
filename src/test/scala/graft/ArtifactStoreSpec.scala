package graft

import graft.operators.QuantileBins
import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

/** Pins for the artifact store's contracts with its inputs: clear()
  * reaches every store, and input pins shared across sessions survive
  * the table LRU's eviction. And for what a pin holds: its own blocks,
  * none of its build's broadcasts, and the release contract of clear(). */
class ArtifactStoreSpec extends SparkSpec {
  import spark.implicits._

  test("RelCache.clear: values built before an in-place rewrite are rebuilt") {
    val path = java.nio.file.Files.createTempDirectory("graft_stale").toString +
      "/emb.parquet"
    def write(shift: Float): Unit = (0L until 40L).map { i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat + shift),
        (i % 9).toDouble + shift)
    }.toDF("vec_id", "embedding", "x").write.mode("overwrite").parquet(path)
    def centroids(s: org.apache.spark.sql.SparkSession) =
      Similarity.kmeansCentroids(s.read.parquet(path), 3, 2)
        .map { case (c, v) => (c, v.toSeq) }
    def edges(s: org.apache.spark.sql.SparkSession) =
      QuantileBins.quantileAxis(s.read.parquet(path), col("x"), "x", 4)
        .allEdges.toSeq
    write(0f)
    val (c0, e0) = (centroids(spark), edges(spark))
    write(5f)
    graft.util.RelCache.clear()
    // a fresh session keys every artifact anew: its answers are the truth
    val fresh = spark.newSession()
    val (c1, e1) = (centroids(fresh), edges(fresh))
    assert(c1 != c0 && e1 != e0, "the rewrite did not change the answers")
    assert(centroids(spark) == c1, "kmeansCentroids returned stale centroids")
    assert(edges(spark) == e1, "quantileAxis returned stale edges")
  }

  // a plan with an explicit broadcast join, and its rows computed in Scala
  private def joined(tag: String) = {
    val facts = (0L until 3000L).map(i => (i, (i % 17).toInt)).toDF("id", "k")
    val dims = (0 until 17).map(k => (k, s"$tag$k")).toDF("k", "name")
    facts.join(broadcast(dims), "k").where($"id" % 3 =!= 0).select("id", "name")
  }
  private def joinedRows(tag: String) =
    (0L until 3000L).filter(_ % 3 != 0).map(i => (i, s"$tag${i % 17}")).toSet
  // collect() on the Dataset itself: it reruns that Dataset's own plan
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def builderOf(df: org.apache.spark.sql.DataFrame) =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)

  test("RelCache.persist: a published pin owns its buffers and holds none of its build's broadcasts") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      BroadcastQueryStageExec, QueryStageExec}
    val pinned = graft.util.RelCache.persist(joined("p"))
    try {
      val builder = builderOf(pinned).getOrElse(fail("the pin has no cache entry"))
      val buffers = builder.cachedColumnBuffers
      assert(buffers.isCheckpointed, "the pin's column buffers keep their lineage")
      assert(buffers.dependencies.flatMap(_.rdd.dependencies).isEmpty,
        s"the buffers still reach the plan's RDDs:\n${buffers.toDebugString}")
      // the adaptive plan's stages are leaves: descend into each one
      def stages(p: SparkPlan): Seq[BroadcastQueryStageExec] = p.collect {
        case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
        case s: BroadcastQueryStageExec => Seq(s)
        case s: QueryStageExec => stages(s.plan)
      }.flatten
      val ids = stages(builder.cachedPlan).filter(_.isMaterialized)
        .map(_.broadcast.relationFuture.get().id).toSet
      assert(ids.nonEmpty, s"the build broadcast nothing:\n${builder.cachedPlan}")
      val bm = org.apache.spark.SparkEnv.get.blockManager
      val held = bm.getMatchingBlockIds {
        case org.apache.spark.storage.BroadcastBlockId(id, _) => ids(id)
        case _ => false
      }
      assert(held.isEmpty, s"the driver still holds $held")
      assert(rows(pinned) == joinedRows("p"))
    } finally graft.util.RelCache.clear()
  }

  test("RelCache.clear: pins rebuild, plans derived earlier stay correct, failed builds stay uncached") {
    val derivedLater = graft.util.RelCache.persist(joined("c")).where($"id" < 1000)
    val ranBefore = graft.util.RelCache.persist(joined("c")).where($"id" >= 1000)
    val ranRows = rows(ranBefore)
    assert(ranRows == joinedRows("c").filter(_._1 >= 1000))
    graft.util.RelCache.clear()
    assert(builderOf(joined("c")).isEmpty, "clear() left the pin cached")
    // its logical plan is intact: first executed now, it recomputes
    assert(rows(derivedLater) == joinedRows("c").filter(_._1 < 1000))
    // its physical plan read the released pin: same rows or an error
    scala.util.Try(rows(ranBefore)).foreach(r => assert(r == ranRows))
    val again = graft.util.RelCache.persist(joined("c"))
    try {
      assert(builderOf(again).exists(_.cachedColumnBuffers.isCheckpointed))
      assert(rows(again) == joinedRows("c"))
    } finally graft.util.RelCache.clear()

    val failing = spark.range(50).withColumn("ok", assert_true($"id" < 40))
    (1 to 2).foreach { _ =>
      intercept[Exception](graft.util.RelCache.persist(failing))
      assert(builderOf(failing).isEmpty, "a failed build left a cache entry")
    }
  }

  // the plans of every CacheManager entry (the listing is private[sql])
  private def cached = {
    import org.apache.spark.sql.execution.{CacheManager, CachedData}
    val field = classOf[CacheManager].getDeclaredField("cachedData")
    field.setAccessible(true)
    field.get(spark.sharedState.cacheManager).asInstanceOf[IndexedSeq[CachedData]].map(_.plan)
  }

  test("near-dup verification pins answers, not gram sets: rows equal a Scala jaccard") {
    import graft.pipeline.Dedup
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    graft.util.RelCache.clear()
    val before = cached.toSet
    type Pair = (Long, Long, Double)
    def triples(df: org.apache.spark.sql.DataFrame): Set[Pair] =
      df.select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      val near = triples(Dedup.nearDupPairs(docs))
      val qa = triples(Dedup.minhashAccuracy(docs))
      val ref = docs.where($"doc_id" < 100)
      val cross = triples(Dedup.crossNearDup(ref, docs))
      val grams = cached.filterNot(before).filter(_.output.exists(_.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }))
      assert(grams.isEmpty, s"cached relations with array<bigint> columns:\n${grams.mkString("\n")}")

      val sets = docs.select($"doc_id",
        graft.functions.GramHashes.gram_hashes($"text", lit("g"), 5)).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      def jaccard(a: Long, b: Long): Double = {
        val inter = (sets(a) & sets(b)).size
        inter.toDouble / (sets(a).size + sets(b).size - inter)
      }
      val cand = Dedup.minhashLsh(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
      val verified = cand.map { case (a, b) => (a, b, jaccard(a, b)) }.toSet
      assert(qa == verified, "minhashAccuracy's jaccard differs from the Scala reference")
      assert(near == verified.filter(_._3 >= 0.7),
        "nearDupPairs differs from the Scala reference")
      assert(near.nonEmpty && near.size < verified.size, "the threshold selects nothing")
      assert(cross.nonEmpty, "crossNearDup found no pair")
      cross.foreach { case (a, b, j) =>
        assert(a < 100 && a != b && j >= 0.7 && j == jaccard(a, b), s"crossNearDup row ($a, $b, $j)")
      }
    } finally graft.util.RelCache.clear()
  }

  test("componentsRun: a round that throws leaves no cache entry and no persisted RDD") {
    val sc = spark.sparkContext
    val (entries, rdds) = (cached, sc.getPersistentRDDs.keySet.toSet)
    val boom = udf { (i: Long) =>
      if (i == 7L) throw new IllegalStateException("boom") else i + 1 }
    val nodes = (1L to 16L).toDF("doc_id")
    // a range, not local rows: the optimizer would run the UDF over those
    val pairs = spark.range(1L, 16L).select($"id".as("doc_a"), boom($"id").as("doc_b"))
    val e = intercept[Exception](graft.pipeline.Dedup.componentsRun(nodes, pairs))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("boom")), e)
    assert(cached == entries, "the failed run left a cache entry")
    val left = sc.getPersistentRDDs.keySet.toSet -- rdds
    assert(left.isEmpty, s"the failed run left persisted RDDs: $left")
  }

  test("SparkEntry.tableCache eviction keeps inputs pinned by newer sessions") {
    val dir = "/root/testdata/sf0.001"
    val names = Seq("lineitem", "orders", "customer", "part", "events",
      "documents", "embeddings")
    // 6 sessions x 7 inputs = 42 aliases: evictions start at the fifth
    val sessions = (1 to 6).map(_ => spark.newSession())
    assert(sessions.size * names.size > SparkEntry.TableCacheMax)
    sessions.foreach(SparkEntry.cacheTables(_, dir))
    val newest = sessions.last
    try names.foreach { n =>
      val df = SparkEntry.t(dir, n)(newest)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      assert(newest.sharedState.cacheManager.lookupCachedData(df).isDefined,
        s"$n lost its cached relation to an older session's eviction")
    } finally names.foreach(n => SparkEntry.t(dir, n)(newest).unpersist(true))
  }
}
