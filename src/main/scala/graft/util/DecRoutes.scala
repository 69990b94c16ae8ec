package graft.util

/** REGISTRY of the cross-engine exact-arithmetic routes and the source
  * files allowed to use each — the self-enforcing half of the
  * Dec-boundary property sweep (DecBoundarySpec).
  *
  * Four different operators hit the DECIMAL(38,14) 14-fractional-digit
  * boundary in round 11 (q319, q329, q335, q337) — each caught by an
  * sf0.3 gate hash, not by `sbt test`. The failure mode is always the
  * same: a value whose exact decimal expansion needs more than 14
  * fractional digits (a sub-unit square, a >2^53 integer product) rides
  * the double→string→DECIMAL(38,14) route, and the rounding at digit 14
  * diverges between engines by one quantum. The safe routes are the
  * quantize-to-integer-grid forms (exact longs / explicit-width decimal
  * ints), each with its own documented headroom.
  *
  * DecBoundarySpec (a) runs boundary inputs through EVERY route here,
  * asserting exactness against BigDecimal/BigInt truth AND asserting the
  * seeded regression (the naive double / dec14 form) actually diverges —
  * a gate that cannot go red gates nothing; and (b) scans src/main for
  * each route's marker regex and fails on any file using a route without
  * being registered — so the NEXT boundary consumer turns `sbt test` red
  * until it registers (and, if the route is new, adds its cases). */
object DecRoutes {

  /** One route: display name, the source marker locating its uses, the
    * files REGISTERED to use it, and the documented exactness scope. */
  case class Route(name: String, marker: scala.util.matching.Regex,
      files: Set[String], scope: String)

  /** All registered exact-arithmetic routes. File paths are relative to
    * src/main/scala. The oracle builders mirror every route in SQL and
    * are registered alongside their Spark twins. */
  val routes: Seq[Route] = Seq(
    Route(
      name = "dec38-14-string (Dec.toDec/sumDec/exactDouble)",
      marker = """Dec\.(sumDec|toDec|exactDouble|D\b)""".r,
      files = Set(
        "graft/stats/HistStats.scala",
        "graft/operators/Histogram.scala",
        "graft/operators/ExactSum.scala",
        "graft/operators/DenseHistogram.scala",
        "graft/streaming/StreamingHist.scala",
        "graft/pipeline/Similarity.scala",
        "graft/pipeline/Funnel.scala",
        "graft/pipeline/RankStats.scala",
        "graft/oracle/Oracle.scala",
        "graft/oracle/PipelineOracle.scala"),
      scope = "exact only for doubles determined by their first 14 " +
        "fractional digits (counts, prices, their sums); sub-unit " +
        "squares and full-precision ratios need a quantized route"),
    Route(
      name = "decimal(38,0) quantized-long sums",
      marker = """cast\("decimal\(38, ?0\)"\)""".r,
      files = Set(
        "graft/operators/Histogram.scala",
        "graft/streaming/StreamingHist.scala",
        "graft/stats/HistStats.scala",
        "graft/pipeline/Sampling.scala",
        "graft/pipeline/Similarity.scala",
        "graft/pipeline/TextAnalysis.scala",
        "graft/pipeline/Dedup.scala",
        "graft/pipeline/Curation.scala",
        "graft/pipeline/Funnel.scala",
        "graft/pipeline/RankStats.scala",
        "graft/SparkEntry.scala",
        "graft/oracle/Oracle.scala",
        "graft/oracle/PipelineOracle.scala"),
      scope = "exact integer sums past 2^53 (int128 in DuckDB); inputs " +
        "must already be exact integers (floor(v*grid) quantized longs)"),
    Route(
      name = "narrow-width decimal int arithmetic (products/cross terms)",
      marker = """cast\("decimal\(1[0-9], ?0\)"\)""".r,
      files = Set(
        "graft/stats/HistStats.scala",
        "graft/streaming/StreamingHist.scala",
        "graft/pipeline/Similarity.scala",
        "graft/pipeline/Curation.scala",
        "graft/pipeline/RankStats.scala",
        "graft/pipeline/Funnel.scala",
        "graft/SparkEntry.scala",
        "graft/oracle/Oracle.scala",
        "graft/oracle/PipelineOracle.scala"),
      scope = "exact products of counts past 2^53: operand widths must " +
        "sum <= 38, and (19,0)x(19,0) routes DuckDB to int128 (width " +
        "13 stayed on the int64 multiply and overflowed — the q337 fix)"))
}
