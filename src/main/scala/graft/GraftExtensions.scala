package graft

import graft.functions.{GramHashes, HeavyHitters, MinhashSig, RepetitionStats, SimhashSig, SortedIntersectCount, VecDot, VecDotFD}
import graft.operators.DenseHistogramStrategy
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions registering graft's native expressions for SQL
  * users:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   spark.sql("SELECT vec_dot(a.embedding, b.embedding) ...")
  *
  * Functions:
  *  - vec_dot(a, b)                      float-vector dot product (double)
  *  - sorted_intersect_count(a, b)       |A ∩ B| of sorted long arrays
  *  - gram_hashes(text, salt, k)         sorted distinct k-gram hash set
  *
  * It also injects [[graft.operators.DenseHistogramStrategy]], the planner
  * of `Histogram`'s dense kernel. `Histogram` installs that strategy on
  * any session it runs on, and in that session's extensions, so sessions
  * built without these extensions, and the sessions `newSession()` makes
  * from them, plan the kernel as well.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, usage, b) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), b))
    }
    e.injectPlannerStrategy(_ => DenseHistogramStrategy)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal (got $other)")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  private val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "vec_dot(a, b) - dot product of two float arrays, in double",
      args => VecDot(args(0), args(1))),
    ("sorted_intersect_count",
      "sorted_intersect_count(a, b) - intersection size of two sorted long arrays",
      args => SortedIntersectCount(args(0), args(1))),
    ("gram_hashes",
      "gram_hashes(text, salt, k) - sorted distinct hashes of character k-grams",
      args => GramHashes(args(0), args(1), intLit(args(2), "gram_hashes k"))),
    ("minhash_sig",
      "minhash_sig(text, k, numHashes) - per-doc MinHash signature array",
      args => MinhashSig(args(0), intLit(args(1), "minhash_sig k"),
        intLit(args(2), "minhash_sig numHashes"))),
    ("simhash_sig", "simhash_sig(text) - 64-bit SimHash of distinct tokens",
      args => SimhashSig(args(0))),
    ("vec_dot_fd",
      "vec_dot_fd(a, b) - dot of a float array with a double array (centroid assignment)",
      args => VecDotFD(args(0), args(1))),
    ("repetition_stats",
      "repetition_stats(text) - token/distinct counts and top token/bigram frequencies",
      args => RepetitionStats(args(0))),
    ("heavy_hitters",
      "heavy_hitters(term, m) - SpaceSaving bounded-memory frequent terms (term, cnt, err); O(log m) heap eviction, usable up to m ~ 10^6",
      args => HeavyHitters(args(0), intLit(args(1), "heavy_hitters m"))
        .toAggregateExpression()),
    ("bpe_count",
      "bpe_count(text) - BPE token count over the embedded merge table",
      args => graft.functions.BpeCount(args(0))),
    ("bpe_encode",
      "bpe_encode(text) - BPE token array over the embedded merge table",
      args => graft.functions.BpeEncode(args(0))),
    ("code_points",
      "code_points(text) - code-point symbols (surrogate pairs whole)",
      args => graft.functions.CodePoints(args(0))),
    ("word_gram_hashes",
      "word_gram_hashes(text, n) - sorted distinct hashes of word n-grams",
      args => graft.functions.WordGramHashes(args(0),
        intLit(args(1), "word_gram_hashes n"))))

  /** Register on an already-built session (e.g. spark-shell). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, _, b) =>
      org.apache.spark.sql.GraftShim.registerFunction(spark, name, b)
    }
}
