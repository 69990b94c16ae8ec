package graft

import graft.operators.QuantileBins
import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

/** Pins for the artifact store's contracts with its inputs: clear()
  * reaches every store, and input pins shared across sessions survive
  * the table LRU's eviction. */
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
