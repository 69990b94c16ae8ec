package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL-facing registration of graft's native expressions. Registers on the
  * shared session (getOrCreate would return it anyway, ignoring
  * withExtensions — GraftExtensions.register covers that path too). */
class ExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSpec.session
    GraftExtensions.register(s)
    s
  }

  test("vec_dot / sorted_intersect_count / gram_hashes from SQL") {
    spark.sql(
      "SELECT CAST(array(1.0, 2.0) AS array<float>) AS a, CAST(array(3.0, 4.0) AS array<float>) AS b"
    ).createOrReplaceTempView("v")
    assert(spark.sql("SELECT vec_dot(a, b) FROM v").head().getDouble(0) == 11.0)

    assert(spark.sql(
      "SELECT sorted_intersect_count(array(1L, 3L, 5L), array(3L, 4L, 5L, 9L))"
    ).head().getLong(0) == 2L)

    val gh = spark.sql("SELECT gram_hashes('abcab', 'salt', 3)")
      .head().getSeq[Long](0)
    assert(gh.length == 3 && gh == gh.sorted) // abc, bca, cab distinct sorted

    // mismatched embedding lengths must fail loudly, not truncate
    val err = intercept[Exception] {
      spark.sql(
        "SELECT vec_dot(CAST(array(1.0, 2.0) AS array<float>), CAST(array(1.0) AS array<float>))"
      ).head()
    }
    assert(err.getMessage != null)

    assert(spark.sql("SELECT minhash_sig('abcdefgh', 5, 4)")
      .head().getSeq[Long](0).length == 4)
    assert(spark.sql("SELECT simhash_sig('a b c')").head().getLong(0) ==
      spark.sql("SELECT simhash_sig('c b a')").head().getLong(0)) // set semantics
    val rep = spark.sql("SELECT repetition_stats('a b a')").head().getStruct(0)
    assert(rep.getLong(0) == 3L && rep.getLong(1) == 2L && rep.getLong(2) == 2L)
  }

  test("Graft.install registers functions; entry() returns rows") {
    Graft.install(spark)
    assert(spark.sql("SELECT vec_dot(CAST(array(2.0) AS array<float>), CAST(array(3.0) AS array<float>))")
      .head().getDouble(0) == 6.0)
    assert(spark.sql("SELECT bpe_count('the the')").head().getLong(0) == 2L)
    assert(spark.sql("SELECT size(bpe_encode('the the'))").head().getInt(0) == 2)
    assert(spark.sql("SELECT code_points('ab')").head()
      .getSeq[String](0) == Seq("a", "b"))
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Graft facade exposes every operator family") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a facade alias IS the module object — one surface, no drift
    assert(Graft.hist eq graft.operators.Histogram)
    assert(Graft.stats eq graft.stats.HistStats)
    assert(Graft.dedup eq graft.pipeline.Dedup)
    assert(Graft.similarity eq graft.pipeline.Similarity)
    assert(Graft.text eq graft.pipeline.TextAnalysis)
    assert(Graft.sampling eq graft.pipeline.Sampling)
    assert(Graft.curation eq graft.pipeline.Curation)
    assert(Graft.funnel eq graft.pipeline.Funnel)
    assert(Graft.multimodal eq graft.pipeline.Multimodal)
    assert(Graft.streaming eq graft.streaming.StreamingHist)
    assert(Graft.fastHist eq graft.operators.FastHist)
    assert(Graft.quantileBins eq graft.operators.QuantileBins)
    // and it is callable end-to-end
    val df = Seq(0.5, 1.5, 1.6).toDF("x")
    val h = Graft.hist.histogram(df, col("x"), graft.axes.Regular("x", 2, 0.0, 2.0))
    assert(h.collect().map(_.getDouble(1)).sum == 3.0)
  }
}
