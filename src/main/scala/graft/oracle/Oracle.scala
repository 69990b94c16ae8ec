package graft.oracle

import graft.axes.BinAxis

/** DuckDB oracle-SQL generator mirroring [[graft.operators.Histogram]].
  *
  * Each histogram query's oracle is generated from the SAME BinAxis object
  * that drives the Spark plan, so bin semantics (half-open bins, flow
  * labels, literal edges) exist in exactly one place. Arithmetic is limited
  * to IEEE-pinned operations and DECIMAL(38,14) sums — identical bits in
  * both engines.
  */
object Oracle {

  /** One histogrammed variable: a SQL value expression + its axis. */
  final case class Spec(valueSql: String, axis: BinAxis)

  private def dbl(x: Double): String = s"CAST('${java.lang.Double.toString(x)}' AS DOUBLE)"

  /** Exact decimal -> double, bit-identical to graft.util.Dec.exactDouble
    * (DuckDB's own decimal->double cast double-rounds; the JVM's doesn't). */
  private[oracle] def exactDbl(e: String): String =
    s"(CAST(CAST(FLOOR($e) AS BIGINT) AS DOUBLE) + " +
      s"CAST(CAST(($e - FLOOR($e)) * 100000000000000 AS BIGINT) AS DOUBLE) / CAST('1.0E14' AS DOUBLE))"

  def hist(table: String, specs: Seq[Spec], dims: Seq[String] = Nil,
      weightSql: Option[String] = None, density: Boolean = false,
      flow: Boolean = false, dense: Boolean = false, intStorage: Boolean = false,
      where: Option[String] = None, labelScale: Option[Double] = None): String = {
    val idx = specs.indices.map(k => s"__i$k")
    val dimsSel = if (dims.isEmpty) "" else dims.mkString("", ", ", ", ")
    val idxExprs = specs.zipWithIndex
      .map { case (s, k) => s"${s.axis.indexSql(s.valueSql)} AS __i$k" }
      .mkString(", ")
    // TRY_CAST mirrors Dec.toDec: non-finite / overflow weights -> NULL
    // (skipped by SUM) in both engines
    val wSel = weightSql.map(w => s", TRY_CAST(CAST($w AS VARCHAR) AS DECIMAL(38,14)) AS __w").getOrElse("")
    val whereSql = where.map(w => s" WHERE $w").getOrElse("")

    val keep = specs.zipWithIndex.map { case (s, k) =>
      val lo = if (flow && s.axis.underflow) -1 else 0
      val hi = if (flow && s.axis.overflow) s.axis.nBins else s.axis.nBins - 1
      s"__i$k IS NOT NULL AND __i$k >= $lo AND __i$k <= $hi"
    }.mkString(" AND ")

    val cntExpr = weightSql match {
      case Some(_) => exactDbl("SUM(__w)")
      case None if intStorage => "COUNT(*)"
      case None => "CAST(COUNT(*) AS DOUBLE)"
    }
    val groupCols = (dims ++ idx).mkString(", ")

    val sb = new StringBuilder
    sb ++= s"WITH __idx AS (SELECT $dimsSel$idxExprs$wSel FROM $table$whereSql), "
    sb ++= s"__f AS (SELECT * FROM __idx WHERE $keep), "
    sb ++= s"__g0 AS (SELECT $groupCols, $cntExpr AS cnt FROM __f GROUP BY $groupCols)"

    var gTable = "__g0"
    if (dense) {
      val grids = specs.zipWithIndex.map { case (s, k) =>
        val lo = if (flow && s.axis.underflow) -1 else 0
        val hi = if (flow && s.axis.overflow) s.axis.nBins else s.axis.nBins - 1
        s"(SELECT CAST(UNNEST(generate_series($lo, $hi)) AS BIGINT) AS __i$k) __t$k"
      }
      val keySrc =
        if (dims.isEmpty) grids.mkString(" CROSS JOIN ")
        // group keys from the PRE-filter table: out-of-range groups keep an
        // all-zero histogram (mirrors Histogram.densify)
        else (s"(SELECT DISTINCT ${dims.mkString(", ")} FROM $table$whereSql) __d" +: grids)
          .mkString(" CROSS JOIN ")
      val zero = if (intStorage) "CAST(0 AS BIGINT)" else "CAST(0 AS DOUBLE)"
      // null-safe: a NULL dims key is a group of its own (Histogram.densify)
      val joinCond = (dims ++ idx).map(c => s"__k.$c IS NOT DISTINCT FROM __g0.$c").mkString(" AND ")
      sb ++= s", __k AS (SELECT * FROM $keySrc)"
      sb ++= s", __gd AS (SELECT ${(dims ++ idx).map(c => s"__k.$c").mkString(", ")}, " +
        s"COALESCE(__g0.cnt, $zero) AS cnt FROM __k LEFT JOIN __g0 ON $joinCond)"
      gTable = "__gd"
    }

    val valueName = if (density) "pdf" else "cnt"
    if (density) {
      val anyFlow = specs.zipWithIndex
        .map { case (s, k) => s"__i$k = -1 OR __i$k = ${s.axis.nBins}" }
        .mkString("(", ") OR (", ")")
      val areaProd = specs.zipWithIndex
        .map { case (s, k) => s"(${s.axis.widthSql(s"__i$k")})" }.mkString(" * ")
      val area = s"CASE WHEN $anyFlow THEN CAST(1.0 AS DOUBLE) ELSE $areaProd END"
      val part = if (dims.isEmpty) "" else s" PARTITION BY ${dims.mkString(", ")}"
      val total = exactDbl(s"SUM(CAST(CAST(CASE WHEN $anyFlow THEN 0.0 ELSE cnt END AS VARCHAR) AS DECIMAL(38,14))) OVER ($part)")
      sb ++= s", __p AS (SELECT $groupCols, cnt / ($area) / ($total) AS pdf FROM $gTable)"
      gTable = "__p"
    }

    val labels = specs.zipWithIndex
      .map { case (s, k) =>
        val l = s"(${s.axis.labelSql(s"__i$k")})"
        val scaled = labelScale.fold(l)(f => s"$l * ${dbl(f)}")
        s"$scaled AS ${s.axis.binsCol}"
      }
      .mkString(", ")
    sb ++= s" SELECT $dimsSel$labels, $valueName FROM $gTable"
    sb.toString
  }

  /** Mirrors Histogram.profile: same index chain and no-flow filter as
    * hist, COUNT + decimal-exact Σy / Σy² aggregates, then the identical
    * fixed sequence of IEEE ops for mean and clamped-variance std. */
  def profile(table: String, spec: Spec, ySql: String,
      dims: Seq[String] = Nil): String = {
    val dimsSel = if (dims.isEmpty) "" else dims.mkString("", ", ", ", ")
    val groupCols = (dims :+ "__i0").mkString(", ")
    val sy = exactDbl("SUM(TRY_CAST(CAST(__y AS VARCHAR) AS DECIMAL(38,14)))")
    val syy = exactDbl("SUM(TRY_CAST(CAST(__y * __y AS VARCHAR) AS DECIMAL(38,14)))")
    s"WITH __idx AS (SELECT $dimsSel${spec.axis.indexSql(spec.valueSql)} AS __i0, " +
      s"CAST($ySql AS DOUBLE) AS __y FROM $table), " +
      s"__f AS (SELECT * FROM __idx WHERE __i0 IS NOT NULL AND __i0 >= 0 " +
      s"AND __i0 <= ${spec.axis.nBins - 1} AND __y IS NOT NULL), " +
      s"__g AS (SELECT $groupCols, COUNT(*) AS cnt, $sy AS __sy, $syy AS __syy " +
      s"FROM __f GROUP BY $groupCols), " +
      "__m AS (SELECT *, __sy / CAST(cnt AS DOUBLE) AS mean_y FROM __g) " +
      s"SELECT $dimsSel(${spec.axis.labelSql("__i0")}) AS ${spec.axis.binsCol}, cnt, mean_y, " +
      "SQRT(GREATEST(CAST(0.0 AS DOUBLE), __syy / CAST(cnt AS DOUBLE) - mean_y * mean_y)) AS std_y " +
      "FROM __m"
  }

  /** Mirrors Histogram.profile2d: the [[profile]] chain with two index
    * columns, both-in-range filter, identical Σz/Σz² and IEEE tail. */
  def profile2d(table: String, specX: Spec, specY: Spec, zSql: String,
      dims: Seq[String] = Nil): String = {
    val dimsSel = if (dims.isEmpty) "" else dims.mkString("", ", ", ", ")
    val groupCols = (dims ++ Seq("__i0", "__i1")).mkString(", ")
    val sz = exactDbl("SUM(TRY_CAST(CAST(__z AS VARCHAR) AS DECIMAL(38,14)))")
    val szz = exactDbl("SUM(TRY_CAST(CAST(__z * __z AS VARCHAR) AS DECIMAL(38,14)))")
    s"WITH __idx AS (SELECT $dimsSel${specX.axis.indexSql(specX.valueSql)} AS __i0, " +
      s"${specY.axis.indexSql(specY.valueSql)} AS __i1, " +
      s"CAST($zSql AS DOUBLE) AS __z FROM $table), " +
      s"__f AS (SELECT * FROM __idx WHERE __i0 IS NOT NULL AND __i0 >= 0 " +
      s"AND __i0 <= ${specX.axis.nBins - 1} AND __i1 IS NOT NULL AND __i1 >= 0 " +
      s"AND __i1 <= ${specY.axis.nBins - 1} AND __z IS NOT NULL), " +
      s"__g AS (SELECT $groupCols, COUNT(*) AS cnt, $sz AS __sz, $szz AS __szz " +
      s"FROM __f GROUP BY $groupCols), " +
      "__m AS (SELECT *, __sz / CAST(cnt AS DOUBLE) AS mean_z FROM __g) " +
      s"SELECT $dimsSel(${specX.axis.labelSql("__i0")}) AS ${specX.axis.binsCol}, " +
      s"(${specY.axis.labelSql("__i1")}) AS ${specY.axis.binsCol}, cnt, mean_z, " +
      "SQRT(GREATEST(CAST(0.0 AS DOUBLE), __szz / CAST(cnt AS DOUBLE) - mean_z * mean_z)) AS std_z " +
      "FROM __m"
  }

  /** Mirrors Histogram.weightedProfile: the [[profile]] index chain with
    * a weight column; Σw decimal-exact via the string route, the product
    * moments (w², wy, wy²) via the q123/q189 floor-quantized-integer
    * route (identical doubles floor to identical integers; DECIMAL(38,0)
    * sums are exact; one final int-exact double cast + division); then
    * the identical fixed IEEE tail for the weighted mean and boost's
    * WeightedMean variance (guards mirrored: Σw=0 → NULL mean,
    * Σw−Σw²/Σw ≤ 0 → NULL variance). */
  def weightedProfile(table: String, spec: Spec, ySql: String, wSql: String,
      dims: Seq[String] = Nil): String = {
    val dimsSel = if (dims.isEmpty) "" else dims.mkString("", ", ", ", ")
    val groupCols = (dims :+ "__i0").mkString(", ")
    def ds(e: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14)))")
    def qs(e: String, q: Double): String =
      s"(CAST(SUM(CAST(FLOOR(($e) * ${dbl(q)}) AS DECIMAL(38,0))) AS DOUBLE) / ${dbl(q)})"
    s"WITH __idx AS (SELECT $dimsSel${spec.axis.indexSql(spec.valueSql)} AS __i0, " +
      s"CAST($ySql AS DOUBLE) AS __y, CAST($wSql AS DOUBLE) AS __w FROM $table), " +
      s"__f AS (SELECT * FROM __idx WHERE __i0 IS NOT NULL AND __i0 >= 0 " +
      s"AND __i0 <= ${spec.axis.nBins - 1} AND __y IS NOT NULL AND __w IS NOT NULL), " +
      s"__g AS (SELECT $groupCols, COUNT(*) AS cnt, ${ds("__w")} AS sum_w, " +
      s"${qs("__w * __w", 1.0)} AS sum_w2, ${qs("__w * __y", 1.0e6)} AS __swy, " +
      s"${qs("__w * __y * __y", 1.0e6)} AS __swyy FROM __f GROUP BY $groupCols), " +
      "__m AS (SELECT *, " +
      "CASE WHEN sum_w = CAST(0.0 AS DOUBLE) THEN CAST(NULL AS DOUBLE) ELSE __swy / sum_w END AS wmean_y, " +
      "CASE WHEN sum_w = CAST(0.0 AS DOUBLE) THEN CAST(NULL AS DOUBLE) ELSE sum_w - sum_w2 / sum_w END AS __neff " +
      "FROM __g) " +
      s"SELECT $dimsSel(${spec.axis.labelSql("__i0")}) AS ${spec.axis.binsCol}, " +
      "cnt, sum_w, sum_w2, wmean_y, " +
      "CASE WHEN __neff > CAST(0.0 AS DOUBLE) THEN " +
      "GREATEST(CAST(0.0 AS DOUBLE), __swyy - __swy * wmean_y) / __neff " +
      "ELSE CAST(NULL AS DOUBLE) END AS wvar_y FROM __m"
  }

  /** Mirrors HistStats.drift for two count histograms of `table` split by
    * whereA/whereB: same full-outer bin join, decimal-exact totals and
    * metric sums, identical IEEE tails. */
  def drift(table: String, spec: Spec, whereA: String, whereB: String): String = {
    def histCte(name: String, where: String): String =
      s"$name AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
        s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY __i0)"
    def dsum(e: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14)))")
    // totals are integer-valued counts -> decimal sums are exact; the
    // per-bin metric terms are full-precision ratios and are summed as a
    // SEQUENTIAL fold in bin order instead (SUM ORDER BY = Spark's sorted
    // array fold; the decimal route would round their 14th digit
    // differently per engine — see HistStats.drift)
    s"WITH ${histCte("ha", whereA)}, ${histCte("hb", whereB)}, " +
      "j AS (SELECT COALESCE(ha.__i0, hb.__i0) AS i, " +
      "COALESCE(ha.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM ha FULL OUTER JOIN hb ON hb.__i0 = ha.__i0), " +
      s"t AS (SELECT ${dsum("ca")} AS ta, ${dsum("cb")} AS tb FROM j), " +
      "p AS (SELECT i, ca / ta AS p, cb / tb AS q FROM j CROSS JOIN t) " +
      "SELECT SUM(ABS(p - q) ORDER BY i) * CAST('0.5' AS DOUBLE) AS tvd, " +
      "SUM(CASE WHEN p + q > 0 THEN (p - q) * (p - q) / (p + q) ELSE CAST(0 AS DOUBLE) END ORDER BY i) AS chisq " +
      "FROM p"
  }

  /** Mirrors HistStats.psi: the [[drift]] prologue (same histogram CTEs,
    * decimal-exact totals), then the eps-clamped 1e-9-quantized-LN PSI
    * term summed in bin order. */
  def psi(table: String, spec: Spec, whereA: String, whereB: String,
      eps: Double): String = {
    def histCte(name: String, where: String): String =
      s"$name AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
        s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY __i0)"
    def dsum(e: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14)))")
    val e = s"CAST('${java.lang.Double.toString(eps)}' AS DOUBLE)"
    val nine = "CAST('1.0E9' AS DOUBLE)"
    s"WITH ${histCte("ha", whereA)}, ${histCte("hb", whereB)}, " +
      "j AS (SELECT COALESCE(ha.__i0, hb.__i0) AS i, " +
      "COALESCE(ha.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM ha FULL OUTER JOIN hb ON hb.__i0 = ha.__i0), " +
      s"t AS (SELECT ${dsum("ca")} AS ta, ${dsum("cb")} AS tb FROM j), " +
      s"p AS (SELECT i, ta, tb, GREATEST(ca / ta, $e) AS ph, GREATEST(cb / tb, $e) AS qh " +
      "FROM j CROSS JOIN t) " +
      // empty-side lifecycle guard (mirror of HistStats.psi): zero total
      // mass on either side -> every term NULL -> SUM over all-NULL -> NULL
      "SELECT SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      s"ELSE (ph - qh) * (FLOOR(LN(ph / qh) * $nine) / $nine) END ORDER BY i) AS psi FROM p"
  }

  /** Mirrors HistStats.emd: the [[psi]] histogram CTEs, DECIMAL-exact
    * totals AND running cumulatives (one double cast each), the
    * |CDFa−CDFb|·width term per bin, SUM ORDER BY i. */
  def emd(table: String, spec: Spec, whereA: String,
      whereB: String): String = {
    def histCte(name: String, where: String): String =
      s"$name AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
        s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY __i0)"
    def dsum(e: String, over: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ($over)")
    val cum = "ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    s"WITH ${histCte("ha", whereA)}, ${histCte("hb", whereB)}, " +
      // dense bin grid: an empty bin still carries |CDFa-CDFb|*width
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, ${spec.axis.nBins}) t(r)), " +
      "j AS (SELECT bins.i, " +
      "COALESCE(ha.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM bins LEFT JOIN ha ON ha.__i0 = bins.i LEFT JOIN hb ON hb.__i0 = bins.i), " +
      s"c AS (SELECT i, ${dsum("ca", "")} AS ta, ${dsum("cb", "")} AS tb, " +
      s"${dsum("ca", cum)} AS cca, ${dsum("cb", cum)} AS ccb FROM j) " +
      // zero-total lifecycle guard (mirror of HistStats.emd): an empty
      // side has no CDF -> every term NULL -> SUM over all-NULL -> NULL
      "SELECT SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      s"ELSE ABS(cca / ta - ccb / tb) * (${spec.axis.widthSql("i")}) END ORDER BY i) AS emd FROM c"
  }

  /** Mirrors HistStats.welchT: DECIMAL-exact Σx/Σx² per side, n−1
    * sample variances clamped at 0, identical IEEE t / Welch df
    * tails, degenerate sides NULL. */
  def welchT(table: String, valueSql: String, whereA: String,
      whereB: String): String = {
    def sums(name: String, where: String, p: String): String = {
      val s = exactDbl("SUM(TRY_CAST(CAST(__v AS VARCHAR) AS DECIMAL(38,14)))")
      val ss = exactDbl("SUM(TRY_CAST(CAST(__v * __v AS VARCHAR) AS DECIMAL(38,14)))")
      s"$name AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_$p, $s AS s_$p, $ss AS ss_$p " +
        s"FROM (SELECT CAST($valueSql AS DOUBLE) AS __v FROM $table WHERE $where) " +
        "WHERE __v IS NOT NULL)"
    }
    def m(p: String) = s"(s_$p / CAST(n_$p AS DOUBLE))"
    def v(p: String) =
      s"GREATEST(CAST(0 AS DOUBLE), (ss_$p - s_$p * ${m(p)}) / CAST(n_$p - 1 AS DOUBLE))"
    val se2 = s"(${v("a")} / CAST(n_a AS DOUBLE) + ${v("b")} / CAST(n_b AS DOUBLE))"
    val dfDen = s"((${v("a")} / CAST(n_a AS DOUBLE)) * (${v("a")} / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) + " +
      s"(${v("b")} / CAST(n_b AS DOUBLE)) * (${v("b")} / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE))"
    val degenerate = s"(n_a < 2 OR n_b < 2 OR $se2 = CAST(0 AS DOUBLE))"
    s"WITH ${sums("sa", whereA, "a")}, ${sums("sb", whereB, "b")} " +
      s"SELECT n_a, n_b, ${m("a")} AS mean_a, ${m("b")} AS mean_b, " +
      s"CASE WHEN $degenerate THEN CAST(NULL AS DOUBLE) " +
      s"ELSE (${m("a")} - ${m("b")}) / SQRT($se2) END AS t_stat, " +
      s"CASE WHEN $degenerate THEN CAST(NULL AS DOUBLE) " +
      s"ELSE ($se2 * $se2) / $dfDen END AS df " +
      "FROM sa CROSS JOIN sb"
  }

  /** Mirrors HistStats.meanShiftScan over events: integer midpoint,
    * per-key conditional DECIMAL sums, the [[welchT]] tails. */
  def meanShiftScan(table: String, tsUsSql: String, keySql: String,
      valueSql: String, keyName: String): String = {
    def cs(cond: String, e: String): String =
      exactDbl(s"SUM(CASE WHEN $cond THEN TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14)) END)")
    def m(p: String) = s"(s_$p / CAST(n_$p AS DOUBLE))"
    def v(p: String) =
      s"GREATEST(CAST(0 AS DOUBLE), (ss_$p - s_$p * ${m(p)}) / CAST(n_$p - 1 AS DOUBLE))"
    val se2 = s"(${v("a")} / CAST(n_a AS DOUBLE) + ${v("b")} / CAST(n_b AS DOUBLE))"
    val dfDen = s"((${v("a")} / CAST(n_a AS DOUBLE)) * (${v("a")} / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) + " +
      s"(${v("b")} / CAST(n_b AS DOUBLE)) * (${v("b")} / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE))"
    val degenerate = s"(n_a < 2 OR n_b < 2 OR $se2 = CAST(0 AS DOUBLE))"
    s"WITH b AS (SELECT $keySql AS k, $tsUsSql AS us, CAST($valueSql AS DOUBLE) AS v " +
      s"FROM $table WHERE ($tsUsSql) IS NOT NULL AND ($keySql) IS NOT NULL " +
      s"AND ($valueSql) IS NOT NULL), " +
      "mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS m FROM b), " +
      "g AS (SELECT k, " +
      "CAST(SUM(CASE WHEN us <= m THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
      "CAST(SUM(CASE WHEN us > m THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
      s"${cs("us <= m", "v")} AS s_a, ${cs("us <= m", "v * v")} AS ss_a, " +
      s"${cs("us > m", "v")} AS s_b, ${cs("us > m", "v * v")} AS ss_b " +
      "FROM b CROSS JOIN mid GROUP BY k) " +
      s"SELECT k AS $keyName, n_a, n_b, ${m("a")} AS mean_a, ${m("b")} AS mean_b, " +
      s"CASE WHEN $degenerate THEN CAST(NULL AS DOUBLE) " +
      s"ELSE (${m("a")} - ${m("b")}) / SQRT($se2) END AS t_stat, " +
      s"CASE WHEN $degenerate THEN CAST(NULL AS DOUBLE) " +
      s"ELSE ($se2 * $se2) / $dfDen END AS df FROM g"
  }

  /** Mirrors HistStats.subtract over two filters of one table: per-bin
    * cnt_a − cnt_b via FULL OUTER over occupied bins (absent side 0;
    * bins occupied by neither are absent). */
  def histSubtract(table: String, spec: Spec, whereA: String,
      whereB: String): String = {
    def histCte(name: String, where: String): String =
      s"$name AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
        s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY __i0)"
    s"WITH ${histCte("ha", whereA)}, ${histCte("hb", whereB)} " +
      s"SELECT (${spec.axis.labelSql("COALESCE(ha.__i0, hb.__i0)")}) AS ${spec.axis.binsCol}, " +
      "COALESCE(ha.cnt, CAST(0 AS DOUBLE)) - COALESCE(hb.cnt, CAST(0 AS DOUBLE)) AS cnt " +
      "FROM ha FULL OUTER JOIN hb ON hb.__i0 = ha.__i0"
  }

  /** Mirrors HistStats.smooth: in-range counts, the ±w triangular
    * integer convolution, per-bin truncated kernel mass — exact longs
    * only. */
  def smooth(table: String, spec: Spec, w: Int, where: String = "TRUE"): String = {
    val nb = spec.axis.nBins
    s"WITH hx AS (SELECT __i0 AS i, CAST(COUNT(*) AS BIGINT) AS cnt FROM " +
      s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
      s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${nb - 1} GROUP BY __i0), " +
      s"ks AS (SELECT UNNEST(generate_series(-$w, $w)) AS d), " +
      "co AS (SELECT i + d AS j, " +
      s"CAST(SUM(cnt * ($w + 1 - ABS(d))) AS BIGINT) AS num " +
      s"FROM hx CROSS JOIN ks WHERE i + d BETWEEN 0 AND ${nb - 1} GROUP BY 1), " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, $nb) t(r)), " +
      s"ms AS (SELECT b.i AS j, CAST(SUM($w + 1 - ABS(d)) AS BIGINT) AS kernel_mass " +
      s"FROM bins b CROSS JOIN ks WHERE b.i + d BETWEEN 0 AND ${nb - 1} GROUP BY 1) " +
      s"SELECT (${spec.axis.labelSql("bins.i")}) AS ${spec.axis.binsCol}, " +
      "CAST(COALESCE(num, 0) AS BIGINT) AS smoothed_num, kernel_mass " +
      "FROM bins LEFT JOIN co ON co.j = bins.i JOIN ms ON ms.j = bins.i"
  }

  /** Mirrors HistStats.peaks: dense grid, lag/lead with virtual −1
    * outside, the left-biased plateau rule — integer comparisons
    * only. */
  def peaks(table: String, spec: Spec, where: String = "TRUE"): String = {
    val nb = spec.axis.nBins
    s"WITH hx AS (SELECT __i0 AS i, CAST(COUNT(*) AS BIGINT) AS cnt FROM " +
      s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
      s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${nb - 1} GROUP BY __i0), " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, $nb) t(r)), " +
      "j AS (SELECT bins.i, COALESCE(hx.cnt, 0) AS c FROM bins " +
      "LEFT JOIN hx ON hx.i = bins.i), " +
      "p AS (SELECT i, c, COALESCE(LAG(c) OVER (ORDER BY i), -1) AS l, " +
      "COALESCE(LEAD(c) OVER (ORDER BY i), -1) AS r FROM j) " +
      s"SELECT (${spec.axis.labelSql("i")}) AS ${spec.axis.binsCol}, " +
      "CAST(c AS BIGINT) AS cnt, (c > l AND c >= r) AS is_peak FROM p"
  }

  /** Mirrors HistStats.hellinger: the [[emd]] histogram CTEs, per-bin
    * √(p·q) (correctly-rounded SQRT, no quantization), SUM ORDER BY i,
    * H = √(max(0, 1−BC)), zero-total NULL. */
  def hellinger(table: String, spec: Spec, whereA: String,
      whereB: String): String = {
    def histCte(name: String, where: String): String =
      s"$name AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
        s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY __i0)"
    def dsum(e: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ()")
    s"WITH ${histCte("ha", whereA)}, ${histCte("hb", whereB)}, " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, ${spec.axis.nBins}) t(r)), " +
      "j AS (SELECT bins.i, " +
      "COALESCE(ha.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM bins LEFT JOIN ha ON ha.__i0 = bins.i LEFT JOIN hb ON hb.__i0 = bins.i), " +
      s"c AS (SELECT i, ca, cb, ${dsum("ca")} AS ta, ${dsum("cb")} AS tb FROM j), " +
      "m AS (SELECT SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      "ELSE SQRT((ca / ta) * (cb / tb)) END ORDER BY i) AS bc FROM c) " +
      "SELECT bc, CASE WHEN bc IS NULL THEN CAST(NULL AS DOUBLE) " +
      "ELSE SQRT(GREATEST(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - bc)) END AS hellinger FROM m"
  }

  /** Mirrors HistStats.regrid: the standard hist CTE, source bins with
    * label/width from the axis formulas, overlap fractions on exact
    * edge literals, SUM(cnt·frac ORDER BY source bin) per new bin. */
  def regrid(table: String, spec: Spec, newEdges: Seq[Double],
      where: String = "TRUE"): String = {
    val nb = spec.axis.nBins
    val dstRows = newEdges.init.zip(newEdges.tail).zipWithIndex.map {
      case ((l, r), i) => s"($i, ${dbl(l)}, ${dbl(r)})"
    }.mkString(", ")
    s"WITH hx AS (SELECT __i0 AS i, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
      s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${nb - 1} GROUP BY __i0), " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i, " +
      s"(${spec.axis.labelSql("CAST(r AS BIGINT)")}) AS l, " +
      s"(${spec.axis.widthSql("CAST(r AS BIGINT)")}) AS w FROM range(0, $nb) t(r)), " +
      s"dst AS (SELECT * FROM (VALUES $dstRows) v(di, dl, dr)), " +
      "ov AS (SELECT bins.i, dst.dl, " +
      "((LEAST(bins.l + bins.w, dst.dr) - GREATEST(bins.l, dst.dl)) / bins.w) AS frac " +
      "FROM bins CROSS JOIN dst " +
      "WHERE LEAST(bins.l + bins.w, dst.dr) > GREATEST(bins.l, dst.dl)) " +
      s"SELECT ov.dl AS ${spec.axis.name}_regrid_bins, " +
      "SUM(hx.cnt * ov.frac ORDER BY ov.i) AS cnt " +
      "FROM hx JOIN ov ON ov.i = hx.i GROUP BY ov.dl"
  }

  /** Mirrors HistStats.convolve: two hist CTEs, bins×bins cross join,
    * pair-mass products taken in DECIMAL(19,0) (exact past 2^53, where
    * a double product would round; 19,0 x 19,0 -> 38,0 is exact here
    * too), DECIMAL-summed per k = i+j, sum-axis labels from injected
    * literals. */
  def convolve(table: String, specA: Spec, specB: Spec, whereA: String,
      whereB: String, outCol: String): String = {
    def histCte(name: String, spec: Spec, where: String): String =
      s"$name AS (SELECT __i0, CAST(COUNT(*) AS BIGINT) AS cnt FROM " +
        s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY __i0)"
    val aA = specA.axis.asInstanceOf[graft.axes.Regular]
    val aB = specB.axis.asInstanceOf[graft.axes.Regular]
    val w = (aA.hi - aA.lo) / aA.nBins
    val loSum = aA.lo + aB.lo
    s"WITH ${histCte("ha", specA, whereA)}, ${histCte("hb", specB, whereB)}, " +
      "j AS (SELECT ha.__i0 + hb.__i0 AS k, " +
      "CAST(ha.cnt AS DECIMAL(19,0)) * CAST(hb.cnt AS DECIMAL(19,0)) AS m " +
      "FROM ha CROSS JOIN hb) " +
      s"SELECT ${dbl(loSum)} + CAST(k AS DOUBLE) * ${dbl(w)} AS $outCol, " +
      exactDbl("SUM(TRY_CAST(CAST(m AS VARCHAR) AS DECIMAL(38,14)))") +
      " AS cnt FROM j GROUP BY k"
  }

  /** Mirrors HistStats.jsDivergence: the [[hellinger]] CTEs, per-bin
    * ½-decomposed KL terms with 1e-9-quantized LN (the lmScore
    * discipline) and 0·ln0 ≡ 0, SUM ORDER BY i, final ÷2, the same
    * zero-total lifecycle NULL. */
  def jsDivergence(table: String, spec: Spec, whereA: String,
      whereB: String): String = {
    def histCte(name: String, where: String): String =
      s"$name AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
        s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY __i0)"
    def dsum(e: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ()")
    // outer parens are load-bearing: without them `p * qln / 1e9`
    // reassociates to `(p * floor) / 1e9`, off Spark's tree by an ulp
    def qln(x: String): String =
      s"(FLOOR(LN($x) * CAST('1.0E9' AS DOUBLE)) / CAST('1.0E9' AS DOUBLE))"
    val p = "(ca / ta)"; val q = "(cb / tb)"
    val m = s"(($p + $q) / CAST(2 AS DOUBLE))"
    val term =
      s"(CASE WHEN ca > CAST(0 AS DOUBLE) THEN $p * ${qln(s"$p / $m")} ELSE CAST(0 AS DOUBLE) END + " +
      s"CASE WHEN cb > CAST(0 AS DOUBLE) THEN $q * ${qln(s"$q / $m")} ELSE CAST(0 AS DOUBLE) END)"
    s"WITH ${histCte("ha", whereA)}, ${histCte("hb", whereB)}, " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, ${spec.axis.nBins}) t(r)), " +
      "j AS (SELECT bins.i, " +
      "COALESCE(ha.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM bins LEFT JOIN ha ON ha.__i0 = bins.i LEFT JOIN hb ON hb.__i0 = bins.i), " +
      s"c AS (SELECT i, ca, cb, ${dsum("ca")} AS ta, ${dsum("cb")} AS tb FROM j), " +
      "m AS (SELECT SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      s"ELSE $term END ORDER BY i) AS s FROM c) " +
      "SELECT s / CAST(2 AS DOUBLE) AS js FROM m"
  }

  /** Mirrors HistStats.cvm: the [[emd]] CTEs with the squared-gap term
    * (g·g after one subtraction, no width factor), SUM ORDER BY i, the
    * same zero-total lifecycle NULL. */
  def cvm(table: String, spec: Spec, whereA: String,
      whereB: String): String = {
    def histCte(name: String, where: String): String =
      s"$name AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
        s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY __i0)"
    def dsum(e: String, over: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ($over)")
    val cum = "ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    s"WITH ${histCte("ha", whereA)}, ${histCte("hb", whereB)}, " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, ${spec.axis.nBins}) t(r)), " +
      "j AS (SELECT bins.i, " +
      "COALESCE(ha.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM bins LEFT JOIN ha ON ha.__i0 = bins.i LEFT JOIN hb ON hb.__i0 = bins.i), " +
      s"c AS (SELECT i, ${dsum("ca", "")} AS ta, ${dsum("cb", "")} AS tb, " +
      s"${dsum("ca", cum)} AS cca, ${dsum("cb", cum)} AS ccb FROM j) " +
      "SELECT SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      "ELSE (cca / ta - ccb / tb) * (cca / ta - ccb / tb) END ORDER BY i) AS cvm FROM c"
  }

  /** Mirrors HistStats.emd with `dims`: per-dim side histograms, the
    * dense dim×bins grid over the UNION of keys from BOTH sides (so a
    * group born/dead on one side appears with an all-zero side), per-dim
    * DECIMAL-exact totals and cumulatives, and the lifecycle guard —
    * zero total on either side NULLs every term, so SUM over the
    * all-NULL group yields NULL emd, matching the Spark fold. */
  def emdByDim(table: String, spec: Spec, dimSql: String, dimName: String,
      whereA: String, whereB: String): String = {
    def histCte(name: String, where: String): String =
      s"$name AS (SELECT d, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
        s"(SELECT $dimSql AS d, ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY d, __i0)"
    def dsum(e: String, over: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ($over)")
    val cum = "PARTITION BY d ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    s"WITH ${histCte("ha", whereA)}, ${histCte("hb", whereB)}, " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, ${spec.axis.nBins}) t(r)), " +
      "ds AS (SELECT DISTINCT d FROM (SELECT d FROM ha UNION ALL SELECT d FROM hb)), " +
      "g AS (SELECT ds.d, bins.i FROM ds CROSS JOIN bins), " +
      "j AS (SELECT g.d, g.i, " +
      "COALESCE(ha.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM g LEFT JOIN ha ON ha.d = g.d AND ha.__i0 = g.i " +
      "LEFT JOIN hb ON hb.d = g.d AND hb.__i0 = g.i), " +
      s"c AS (SELECT d, i, ${dsum("ca", "PARTITION BY d")} AS ta, " +
      s"${dsum("cb", "PARTITION BY d")} AS tb, " +
      s"${dsum("ca", cum)} AS cca, ${dsum("cb", cum)} AS ccb FROM j) " +
      s"SELECT d AS $dimName, " +
      "SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      s"ELSE ABS(cca / ta - ccb / tb) * (${spec.axis.widthSql("i")}) END ORDER BY i) AS emd " +
      "FROM c GROUP BY d"
  }

  /** Mirrors HistStats.emdFrom over a single dim expression (and thereby
    * StreamingHist.windowedEmd's gated batch path): per-dim histograms
    * vs the dim×reference grid on the DENSE bin range, per-dim
    * DECIMAL-exact totals and running cumulatives, the |CDFa−CDFb|·width
    * term, SUM ORDER BY i per dim, and [[emdByDim]]'s zero-total
    * lifecycle guard. */
  def emdFromByDim(table: String, spec: Spec, dimSql: String,
      dimName: String, where: String = "TRUE",
      refWhere: String = "TRUE"): String = {
    def dsum(e: String, over: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ($over)")
    val idx = spec.axis.indexSql(spec.valueSql)
    val rng = s"__i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1}"
    val cum = "PARTITION BY d ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    s"WITH hx AS (SELECT d, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $dimSql AS d, $idx AS __i0 FROM $table WHERE $where) WHERE $rng GROUP BY d, __i0), " +
      s"hr AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $idx AS __i0 FROM $table WHERE $refWhere) WHERE $rng GROUP BY __i0), " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, ${spec.axis.nBins}) t(r)), " +
      "ds AS (SELECT DISTINCT d FROM hx), " +
      "g AS (SELECT ds.d, bins.i FROM ds CROSS JOIN bins), " +
      "j AS (SELECT g.d, g.i, " +
      "COALESCE(hx.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hr.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM g LEFT JOIN hx ON hx.d = g.d AND hx.__i0 = g.i " +
      "LEFT JOIN hr ON hr.__i0 = g.i), " +
      s"c AS (SELECT d, i, ${dsum("ca", "PARTITION BY d")} AS ta, " +
      s"${dsum("cb", "PARTITION BY d")} AS tb, " +
      s"${dsum("ca", cum)} AS cca, ${dsum("cb", cum)} AS ccb FROM j) " +
      s"SELECT d AS $dimName, " +
      "SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      s"ELSE ABS(cca / ta - ccb / tb) * (${spec.axis.widthSql("i")}) END ORDER BY i) AS emd " +
      "FROM c GROUP BY d"
  }

  /** Mirrors HistStats.ksFrom over a single dim expression (and thereby
    * StreamingHist.windowedKs's gated batch path): per-dim histograms
    * vs the dim×reference grid on the DENSE bin range, per-dim
    * DECIMAL-exact totals and running cumulatives, the |CDFa−CDFb| gap,
    * order-free MAX per dim, and the zero-total lifecycle guard. */
  def ksFromByDim(table: String, spec: Spec, dimSql: String,
      dimName: String, where: String = "TRUE",
      refWhere: String = "TRUE"): String = {
    def dsum(e: String, over: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ($over)")
    val idx = spec.axis.indexSql(spec.valueSql)
    val rng = s"__i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1}"
    val cum = "PARTITION BY d ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    s"WITH hx AS (SELECT d, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $dimSql AS d, $idx AS __i0 FROM $table WHERE $where) WHERE $rng GROUP BY d, __i0), " +
      s"hr AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $idx AS __i0 FROM $table WHERE $refWhere) WHERE $rng GROUP BY __i0), " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, ${spec.axis.nBins}) t(r)), " +
      "ds AS (SELECT DISTINCT d FROM hx), " +
      "g AS (SELECT ds.d, bins.i FROM ds CROSS JOIN bins), " +
      "j AS (SELECT g.d, g.i, " +
      "COALESCE(hx.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hr.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM g LEFT JOIN hx ON hx.d = g.d AND hx.__i0 = g.i " +
      "LEFT JOIN hr ON hr.__i0 = g.i), " +
      s"c AS (SELECT d, i, ${dsum("ca", "PARTITION BY d")} AS ta, " +
      s"${dsum("cb", "PARTITION BY d")} AS tb, " +
      s"${dsum("ca", cum)} AS cca, ${dsum("cb", cum)} AS ccb FROM j) " +
      s"SELECT d AS $dimName, " +
      "MAX(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      "ELSE ABS(cca / ta - ccb / tb) END) AS ks " +
      "FROM c GROUP BY d"
  }

  /** Mirrors HistStats.cvmFrom over a single dim expression (and
    * thereby StreamingHist.windowedCvm's gated batch path): the
    * [[ksFromByDim]] CTEs with the squared-gap term and SUM ORDER BY
    * i per dim — the fold contract the Spark sorted-array fold pins. */
  def cvmFromByDim(table: String, spec: Spec, dimSql: String,
      dimName: String, where: String = "TRUE",
      refWhere: String = "TRUE"): String = {
    def dsum(e: String, over: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ($over)")
    val idx = spec.axis.indexSql(spec.valueSql)
    val rng = s"__i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1}"
    val cum = "PARTITION BY d ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    s"WITH hx AS (SELECT d, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $dimSql AS d, $idx AS __i0 FROM $table WHERE $where) WHERE $rng GROUP BY d, __i0), " +
      s"hr AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $idx AS __i0 FROM $table WHERE $refWhere) WHERE $rng GROUP BY __i0), " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, ${spec.axis.nBins}) t(r)), " +
      "ds AS (SELECT DISTINCT d FROM hx), " +
      "g AS (SELECT ds.d, bins.i FROM ds CROSS JOIN bins), " +
      "j AS (SELECT g.d, g.i, " +
      "COALESCE(hx.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hr.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM g LEFT JOIN hx ON hx.d = g.d AND hx.__i0 = g.i " +
      "LEFT JOIN hr ON hr.__i0 = g.i), " +
      s"c AS (SELECT d, i, ${dsum("ca", "PARTITION BY d")} AS ta, " +
      s"${dsum("cb", "PARTITION BY d")} AS tb, " +
      s"${dsum("ca", cum)} AS cca, ${dsum("cb", cum)} AS ccb FROM j) " +
      s"SELECT d AS $dimName, " +
      "SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      "ELSE (cca / ta - ccb / tb) * (cca / ta - ccb / tb) END ORDER BY i) AS cvm " +
      "FROM c GROUP BY d"
  }

  /** Mirrors HistStats.hellinger per dim vs a shared reference (and
    * thereby StreamingHist.windowedHellinger's gated batch path): the
    * [[ksFromByDim]] CTEs with the √(p·q) term, SUM ORDER BY i per
    * dim, the √(max(0,1−BC)) tail. */
  def hellingerFromByDim(table: String, spec: Spec, dimSql: String,
      dimName: String, where: String = "TRUE",
      refWhere: String = "TRUE"): String = {
    def dsum(e: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER (PARTITION BY d)")
    val idx = spec.axis.indexSql(spec.valueSql)
    val rng = s"__i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1}"
    s"WITH hx AS (SELECT d, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $dimSql AS d, $idx AS __i0 FROM $table WHERE $where) WHERE $rng GROUP BY d, __i0), " +
      s"hr AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $idx AS __i0 FROM $table WHERE $refWhere) WHERE $rng GROUP BY __i0), " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, ${spec.axis.nBins}) t(r)), " +
      "ds AS (SELECT DISTINCT d FROM hx), " +
      "g AS (SELECT ds.d, bins.i FROM ds CROSS JOIN bins), " +
      "j AS (SELECT g.d, g.i, " +
      "COALESCE(hx.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hr.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM g LEFT JOIN hx ON hx.d = g.d AND hx.__i0 = g.i " +
      "LEFT JOIN hr ON hr.__i0 = g.i), " +
      s"c AS (SELECT d, i, ca, cb, ${dsum("ca")} AS ta, ${dsum("cb")} AS tb FROM j), " +
      "m AS (SELECT d, SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      "ELSE SQRT((ca / ta) * (cb / tb)) END ORDER BY i) AS bc FROM c GROUP BY d) " +
      s"SELECT d AS $dimName, bc, CASE WHEN bc IS NULL THEN CAST(NULL AS DOUBLE) " +
      "ELSE SQRT(GREATEST(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - bc)) END AS hellinger FROM m"
  }

  /** Mirrors Histogram.histogramCube: in-range bin indexes, GROUP BY
    * GROUPING SETS over every dim subset (each with the bin key), the
    * explicit first-dim-MSB grouping bitmask, exact counts in doubles. */
  def histCube(table: String, spec: Spec, dims: Seq[String]): String = {
    val idx = spec.axis.indexSql(spec.valueSql)
    val rng = s"__i IS NOT NULL AND __i >= 0 AND __i <= ${spec.axis.nBins - 1}"
    val gid = dims.zipWithIndex.map { case (d, j) =>
      s"CAST(GROUPING($d) AS BIGINT) * ${1L << (dims.size - 1 - j)}"
    }.mkString(" + ")
    val sets = (0 until (1 << dims.size)).map { m =>
      (dims.zipWithIndex.collect {
        case (d, j) if (m & (1 << j)) != 0 => d
      } :+ "__i").mkString("(", ", ", ")")
    }.mkString(", ")
    s"WITH b AS (SELECT ${dims.mkString(", ")}, $idx AS __i FROM $table), " +
      s"f AS (SELECT * FROM b WHERE $rng) " +
      s"SELECT ${dims.mkString(", ")}, $gid AS gid, " +
      s"${spec.axis.labelSql("__i")} AS ${spec.axis.binsCol}, " +
      s"CAST(COUNT(*) AS DOUBLE) AS cnt FROM f GROUP BY GROUPING SETS ($sets)"
  }

  /** Mirrors HistStats.jsDivergence with dims = one expression (and
    * thereby StreamingHist.windowedJs's gated batch path): per-dim
    * in-range histogram vs the shared reference on the dim×bins grid,
    * DECIMAL-exact per-dim totals, the 0·ln0-free JS term with the
    * 1e-9-quantized ln, SUM ORDER BY i, final /2. */
  def jsDivergenceByDim(table: String, spec: Spec, dimSql: String,
      dimName: String, where: String = "TRUE",
      refWhere: String = "TRUE"): String = {
    def dsum(e: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER (PARTITION BY d)")
    def qln(x: String): String =
      s"(FLOOR(LN($x) * CAST('1.0E9' AS DOUBLE)) / CAST('1.0E9' AS DOUBLE))"
    val idx = spec.axis.indexSql(spec.valueSql)
    val rng = s"__i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1}"
    val p = "(ca / ta)"; val q = "(cb / tb)"
    val m = s"(($p + $q) / CAST(2 AS DOUBLE))"
    val term =
      s"(CASE WHEN ca > CAST(0 AS DOUBLE) THEN $p * ${qln(s"$p / $m")} ELSE CAST(0 AS DOUBLE) END + " +
      s"CASE WHEN cb > CAST(0 AS DOUBLE) THEN $q * ${qln(s"$q / $m")} ELSE CAST(0 AS DOUBLE) END)"
    s"WITH hx AS (SELECT d, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $dimSql AS d, $idx AS __i0 FROM $table WHERE $where) WHERE $rng GROUP BY d, __i0), " +
      s"hr AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $idx AS __i0 FROM $table WHERE $refWhere) WHERE $rng GROUP BY __i0), " +
      s"bins AS (SELECT CAST(r AS BIGINT) AS i FROM range(0, ${spec.axis.nBins}) t(r)), " +
      "ds AS (SELECT DISTINCT d FROM hx), " +
      "g AS (SELECT ds.d, bins.i FROM ds CROSS JOIN bins), " +
      "j AS (SELECT g.d, g.i, " +
      "COALESCE(hx.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hr.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM g LEFT JOIN hx ON hx.d = g.d AND hx.__i0 = g.i " +
      "LEFT JOIN hr ON hr.__i0 = g.i), " +
      s"c AS (SELECT d, i, ca, cb, ${dsum("ca")} AS ta, ${dsum("cb")} AS tb FROM j), " +
      "m AS (SELECT d, SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      s"ELSE $term END ORDER BY i) AS s FROM c GROUP BY d) " +
      s"SELECT d AS $dimName, s / CAST(2 AS DOUBLE) AS js FROM m"
  }

  /** Mirrors HistStats.pullFrom over a single dim expression (and
    * thereby StreamingHist.windowedPull's gated batch path): per-dim
    * in-range histograms FULL OUTER the dim×reference sparse grid on
    * (dim, bin), absent sides 0, the (a−b)/√(a+b) Poisson-residual tail
    * per row — no cumulative, no fold contract. */
  def pullFromByDim(table: String, spec: Spec, dimSql: String,
      dimName: String, where: String = "TRUE",
      refWhere: String = "TRUE"): String = {
    val idx = spec.axis.indexSql(spec.valueSql)
    val rng = s"__i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1}"
    s"WITH hx AS (SELECT d, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $dimSql AS d, $idx AS __i0 FROM $table WHERE $where) WHERE $rng GROUP BY d, __i0), " +
      s"hr AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $idx AS __i0 FROM $table WHERE $refWhere) WHERE $rng GROUP BY __i0), " +
      "ds AS (SELECT DISTINCT d FROM hx), " +
      "g AS (SELECT ds.d, hr.__i0 AS i, hr.cnt FROM ds CROSS JOIN hr), " +
      "j AS (SELECT COALESCE(hx.d, g.d) AS d, COALESCE(hx.__i0, g.i) AS i, " +
      "COALESCE(hx.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(g.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM hx FULL OUTER JOIN g ON g.d = hx.d AND g.i = hx.__i0) " +
      s"SELECT d AS $dimName, (${spec.axis.labelSql("i")}) AS ${spec.axis.binsCol}, " +
      "ca AS cnt_a, cb AS cnt_b, " +
      "CASE WHEN ca + cb > 0 THEN (ca - cb) / SQRT(ca + cb) " +
      "ELSE CAST(NULL AS DOUBLE) END AS pull FROM j"
  }

  /** Mirrors HistStats.psi with `dims`: per-dim side histograms
    * full-outer-joined sparse (PSI's pointwise terms owe nothing to
    * empty bins), per-dim DECIMAL-exact totals, eps-clamped
    * quantized-ln terms, and the same lifecycle guard as [[emdByDim]]:
    * a side with zero total mass NULLs the group's psi. */
  def psiGrouped(table: String, spec: Spec, dimSql: String, dimName: String,
      whereA: String, whereB: String, eps: Double): String = {
    def histCte(name: String, where: String): String =
      s"$name AS (SELECT d, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
        s"(SELECT $dimSql AS d, ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY d, __i0)"
    def dsum(e: String, over: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ($over)")
    val e = s"CAST('${java.lang.Double.toString(eps)}' AS DOUBLE)"
    val nine = "CAST('1.0E9' AS DOUBLE)"
    s"WITH ${histCte("ha", whereA)}, ${histCte("hb", whereB)}, " +
      "j AS (SELECT COALESCE(ha.d, hb.d) AS d, COALESCE(ha.__i0, hb.__i0) AS i, " +
      "COALESCE(ha.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM ha FULL OUTER JOIN hb ON hb.d = ha.d AND hb.__i0 = ha.__i0), " +
      s"w AS (SELECT d, i, ${dsum("ca", "PARTITION BY d")} AS ta, " +
      s"${dsum("cb", "PARTITION BY d")} AS tb, ca, cb FROM j), " +
      s"p AS (SELECT d, i, ta, tb, GREATEST(ca / ta, $e) AS ph, " +
      s"GREATEST(cb / tb, $e) AS qh FROM w) " +
      s"SELECT d AS $dimName, " +
      "SUM(CASE WHEN ta = 0 OR tb = 0 THEN CAST(NULL AS DOUBLE) " +
      s"ELSE (ph - qh) * (FLOOR(LN(ph / qh) * $nine) / $nine) END ORDER BY i) AS psi " +
      "FROM p GROUP BY d"
  }

  /** Mirrors HistStats.pull: the same two histogram CTEs as [[drift]],
    * full-outer-joined per bin, then the fixed (a−b)/√(a+b) IEEE tail
    * per row (NULL when both sides are empty). */
  def histPull(table: String, spec: Spec, whereA: String,
      whereB: String): String = {
    def histCte(name: String, where: String): String =
      s"$name AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
        s"(SELECT ${spec.axis.indexSql(spec.valueSql)} AS __i0 FROM $table WHERE $where) " +
        s"WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1} " +
        "GROUP BY __i0)"
    s"WITH ${histCte("ha", whereA)}, ${histCte("hb", whereB)}, " +
      "j AS (SELECT COALESCE(ha.__i0, hb.__i0) AS i, " +
      "COALESCE(ha.cnt, CAST(0 AS DOUBLE)) AS ca, " +
      "COALESCE(hb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM ha FULL OUTER JOIN hb ON hb.__i0 = ha.__i0) " +
      s"SELECT (${spec.axis.labelSql("i")}) AS ${spec.axis.binsCol}, " +
      "ca AS cnt_a, cb AS cnt_b, " +
      "CASE WHEN ca + cb > 0 THEN (ca - cb) / SQRT(ca + cb) " +
      "ELSE CAST(NULL AS DOUBLE) END AS pull FROM j"
  }

  /** Mirrors HistStats.driftFrom over a single integer dim expression:
    * per-dim histograms full-outer-joined against the dim×reference grid,
    * decimal-exact per-dim totals, pinned-order metric folds. */
  def driftByDim(table: String, spec: Spec, dimSql: String,
      dimName: String): String = {
    def dsum(e: String, part: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ($part)")
    val idx = spec.axis.indexSql(spec.valueSql)
    val rng = s"__i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1}"
    s"WITH hx AS (SELECT d, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $dimSql AS d, $idx AS __i0 FROM $table) WHERE $rng GROUP BY d, __i0), " +
      s"hr AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $idx AS __i0 FROM $table) WHERE $rng GROUP BY __i0), " +
      "ds AS (SELECT DISTINCT d FROM hx), " +
      "rb AS (SELECT ds.d, hr.__i0, hr.cnt FROM ds CROSS JOIN hr), " +
      "j AS (SELECT COALESCE(hx.d, rb.d) AS d, COALESCE(hx.__i0, rb.__i0) AS i, " +
      "COALESCE(hx.cnt, CAST(0 AS DOUBLE)) AS ca, COALESCE(rb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM hx FULL OUTER JOIN rb ON rb.d = hx.d AND rb.__i0 = hx.__i0), " +
      s"w AS (SELECT d, i, ca, cb, ${dsum("ca", "PARTITION BY d")} AS ta, " +
      s"${dsum("cb", "PARTITION BY d")} AS tb FROM j), " +
      "p AS (SELECT d, i, ca / ta AS p, cb / tb AS q FROM w) " +
      s"SELECT d AS $dimName, SUM(ABS(p - q) ORDER BY i) * CAST('0.5' AS DOUBLE) AS tvd, " +
      "SUM(CASE WHEN p + q > 0 THEN (p - q) * (p - q) / (p + q) ELSE CAST(0 AS DOUBLE) END ORDER BY i) AS chisq " +
      "FROM p GROUP BY d"
  }

  /** Mirrors HistStats.psiFrom over a single integer dim expression:
    * the [[driftByDim]] prologue (per-dim histograms vs the dim×
    * reference grid, decimal-exact per-dim totals), then the
    * eps-clamped quantized-LN PSI term folded in bin order per dim. */
  def psiByDim(table: String, spec: Spec, dimSql: String,
      dimName: String, eps: Double, where: String = "TRUE",
      refWhere: String = "TRUE"): String = {
    def dsum(e: String, part: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14))) OVER ($part)")
    val idx = spec.axis.indexSql(spec.valueSql)
    val rng = s"__i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${spec.axis.nBins - 1}"
    val e = s"CAST('${java.lang.Double.toString(eps)}' AS DOUBLE)"
    val nine = "CAST('1.0E9' AS DOUBLE)"
    s"WITH hx AS (SELECT d, __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $dimSql AS d, $idx AS __i0 FROM $table WHERE $where) WHERE $rng GROUP BY d, __i0), " +
      s"hr AS (SELECT __i0, CAST(COUNT(*) AS DOUBLE) AS cnt FROM " +
      s"(SELECT $idx AS __i0 FROM $table WHERE $refWhere) WHERE $rng GROUP BY __i0), " +
      "ds AS (SELECT DISTINCT d FROM hx), " +
      "rb AS (SELECT ds.d, hr.__i0, hr.cnt FROM ds CROSS JOIN hr), " +
      "j AS (SELECT COALESCE(hx.d, rb.d) AS d, COALESCE(hx.__i0, rb.__i0) AS i, " +
      "COALESCE(hx.cnt, CAST(0 AS DOUBLE)) AS ca, COALESCE(rb.cnt, CAST(0 AS DOUBLE)) AS cb " +
      "FROM hx FULL OUTER JOIN rb ON rb.d = hx.d AND rb.__i0 = hx.__i0), " +
      s"w AS (SELECT d, i, ca, cb, ${dsum("ca", "PARTITION BY d")} AS ta, " +
      s"${dsum("cb", "PARTITION BY d")} AS tb FROM j), " +
      s"p AS (SELECT d, i, GREATEST(ca / ta, $e) AS ph, GREATEST(cb / tb, $e) AS qh FROM w) " +
      s"SELECT d AS $dimName, " +
      s"SUM((ph - qh) * (FLOOR(LN(ph / qh) * $nine) / $nine) ORDER BY i) AS psi " +
      "FROM p GROUP BY d"
  }

  /** Mirrors HistStats.pearson: decimal-exact moment sums, identical
    * textbook tail, NULL on zero variance. */
  def pearson(table: String, xSql: String, ySql: String,
      dims: Seq[String] = Nil): String = {
    val dimsSel = if (dims.isEmpty) "" else dims.mkString("", ", ", ", ")
    val grp = if (dims.isEmpty) "" else s" GROUP BY ${dims.mkString(", ")}"
    def dsum(e: String): String =
      exactDbl(s"SUM(TRY_CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14)))")
    s"WITH b AS (SELECT $dimsSel CAST($xSql AS DOUBLE) AS x, CAST($ySql AS DOUBLE) AS y " +
      s"FROM $table WHERE $xSql IS NOT NULL AND $ySql IS NOT NULL), " +
      s"a AS (SELECT $dimsSel CAST(COUNT(*) AS DOUBLE) AS n, ${dsum("x")} AS sx, " +
      s"${dsum("y")} AS sy, ${dsum("x * y")} AS sxy, ${dsum("x * x")} AS sxx, " +
      s"${dsum("y * y")} AS syy FROM b$grp) " +
      // GREATEST-clamp before SQRT mirrors the Spark-side clamp: DuckDB's
      // SQRT raises Out of Range on a tiny-negative variance term where
      // Spark would just yield NaN -> NULL
      s"SELECT $dimsSel CAST(n AS BIGINT) AS n, " +
      "CASE WHEN SQRT(GREATEST(CAST(0 AS DOUBLE), n * sxx - sx * sx)) * SQRT(GREATEST(CAST(0 AS DOUBLE), n * syy - sy * sy)) > 0 " +
      "THEN (n * sxy - sx * sy) / (SQRT(GREATEST(CAST(0 AS DOUBLE), n * sxx - sx * sx)) * SQRT(GREATEST(CAST(0 AS DOUBLE), n * syy - sy * sy))) " +
      "ELSE NULL END AS corr FROM a"
  }

  /** Mirrors HistStats.ksTest: per-(group, value) counts first, running
    * cumulative sums over the distinct-value relation, exact integer
    * cross products |cumA·nB − cumB·nA| in DECIMAL, one double division
    * at the end (NULL when a side is empty). */
  def ksTest(table: String, valueSql: String, inASql: String,
      dims: Seq[String] = Nil): String = {
    val dimsSel = if (dims.isEmpty) "" else dims.mkString("", ", ", ", ")
    val grpV = (dims :+ "v").mkString(", ")
    val part = if (dims.isEmpty) "" else s"PARTITION BY ${dims.mkString(", ")} "
    val grp = if (dims.isEmpty) "" else s" GROUP BY ${dims.mkString(", ")}"
    def dec(e: String): String = s"CAST($e AS DECIMAL(19,0))"
    s"WITH b AS (SELECT $dimsSel CAST($valueSql AS DOUBLE) AS v, " +
      s"CASE WHEN $inASql THEN 1 ELSE 0 END AS ia " +
      s"FROM $table WHERE $valueSql IS NOT NULL), " +
      s"pv AS (SELECT $dimsSel v, SUM(ia) AS da, COUNT(*) - SUM(ia) AS db FROM b GROUP BY $grpV), " +
      s"c AS (SELECT $dimsSel v, " +
      s"SUM(da) OVER (${part}ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca, " +
      s"SUM(db) OVER (${part}ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb, " +
      s"SUM(da) OVER ($part) AS na, SUM(db) OVER ($part) AS nb FROM pv) " +
      s"SELECT $dimsSel CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b, " +
      s"CAST(MAX(ABS(${dec("ca")} * ${dec("nb")} - ${dec("cb")} * ${dec("na")})) AS BIGINT) AS ks_num, " +
      "CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN " +
      s"CAST(MAX(ABS(${dec("ca")} * ${dec("nb")} - ${dec("cb")} * ${dec("na")})) AS DOUBLE) / " +
      "(CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)) ELSE NULL END AS ks " +
      s"FROM c$grp"
  }

  /** Mirrors Histogram.efficiency: same index chain, conditional count,
    * identical Wilson sequence (z and z² embedded as the same driver-side
    * double literals). */
  def efficiency(table: String, spec: Spec, passSql: String,
      dims: Seq[String] = Nil, z: Double = 1.96): String = {
    val dimsSel = if (dims.isEmpty) "" else dims.mkString("", ", ", ", ")
    val groupCols = (dims :+ "__i0").mkString(", ")
    val zL = dbl(z)
    val zzL = dbl(z * z)
    val phat = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
    val nD = "CAST(n AS DOUBLE)"
    val denom = s"(CAST('1.0' AS DOUBLE) + $zzL / $nD)"
    val center = s"(($phat + $zzL / (CAST('2.0' AS DOUBLE) * $nD)) / $denom)"
    val half = s"($zL * SQRT($phat * (CAST('1.0' AS DOUBLE) - $phat) / $nD + " +
      s"$zzL / (CAST('4.0' AS DOUBLE) * $nD * $nD)) / $denom)"
    s"WITH __idx AS (SELECT $dimsSel${spec.axis.indexSql(spec.valueSql)} AS __i0, " +
      s"CAST(($passSql) AS BOOLEAN) AS p FROM $table), " +
      s"__f AS (SELECT * FROM __idx WHERE __i0 IS NOT NULL AND __i0 >= 0 " +
      s"AND __i0 <= ${spec.axis.nBins - 1}), " +
      s"__g AS (SELECT $groupCols, COUNT(*) AS n, " +
      s"COUNT(CASE WHEN p THEN 1 END) AS k FROM __f GROUP BY $groupCols) " +
      s"SELECT $dimsSel(${spec.axis.labelSql("__i0")}) AS ${spec.axis.binsCol}, " +
      s"n, k, $phat AS eff, ($center - $half) AS eff_lo, ($center + $half) AS eff_hi " +
      "FROM __g"
  }

  // ---- Statistics (mirror of graft.stats.HistStats) ----------------------

  /** Shared prelude: no-flow indexed histogram + left edge l + width w. */
  private def statBase(table: String, valueSql: String, ax: BinAxis,
      dims: Seq[String], weightSql: Option[String] = None): String = {
    val dimsSel = if (dims.isEmpty) "" else dims.mkString("", ", ", ", ")
    val groupCols = (dims :+ "__i0").mkString(", ")
    val wSel = weightSql
      .map(w => s", TRY_CAST(CAST($w AS VARCHAR) AS DECIMAL(38,14)) AS __w").getOrElse("")
    val cnt = weightSql.map(_ => exactDbl("SUM(__w)")).getOrElse("CAST(COUNT(*) AS DOUBLE)")
    s"WITH __idx AS (SELECT $dimsSel${ax.indexSql(valueSql)} AS __i0$wSel FROM $table), " +
      s"__f AS (SELECT * FROM __idx WHERE __i0 IS NOT NULL AND __i0 >= 0 AND __i0 <= ${ax.nBins - 1}), " +
      s"__g0 AS (SELECT $groupCols, $cnt AS cnt FROM __f GROUP BY $groupCols), " +
      s"__b AS (SELECT *, ${ax.labelSql("__i0")} AS l, ${ax.widthSql("__i0")} AS w FROM __g0)"
  }

  private def dimsSel(dims: Seq[String]): String =
    if (dims.isEmpty) "" else dims.mkString("", ", ", ", ")
  private def groupBy(dims: Seq[String]): String =
    if (dims.isEmpty) "" else s" GROUP BY ${dims.mkString(", ")}"
  private def decSum(e: String): String =
    exactDbl(s"SUM(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,14)))")
  private val center = s"(l + w / ${dbl(2.0)})"

  def meanSql(table: String, valueSql: String, ax: BinAxis, dims: Seq[String],
      weightSql: Option[String] = None): String =
    s"${statBase(table, valueSql, ax, dims, weightSql)} SELECT ${dimsSel(dims)}" +
      s"${decSum(s"cnt * $center")} / ${decSum("cnt")} AS ${ax.name}_mean" +
      s" FROM __b${groupBy(dims)}"

  private def meanVarCte(table: String, valueSql: String, ax: BinAxis,
      dims: Seq[String], weightSql: Option[String] = None): String =
    s"${statBase(table, valueSql, ax, dims, weightSql)}, __a AS (SELECT ${dimsSel(dims)}" +
      s"${decSum(s"cnt * $center")} AS __sp, " +
      s"${decSum(s"cnt * ($center * $center + w * w / ${dbl(12.0)})")} AS __ss, " +
      s"${decSum("cnt")} AS __t FROM __b${groupBy(dims)})"

  def varSql(table: String, valueSql: String, ax: BinAxis, dims: Seq[String],
      weightSql: Option[String] = None): String =
    s"${meanVarCte(table, valueSql, ax, dims, weightSql)} SELECT ${dimsSel(dims)}" +
      s"__ss / __t - (__sp / __t) * (__sp / __t) AS ${ax.name}_var FROM __a"

  def stdSql(table: String, valueSql: String, ax: BinAxis, dims: Seq[String],
      weightSql: Option[String] = None): String =
    s"${meanVarCte(table, valueSql, ax, dims, weightSql)} SELECT ${dimsSel(dims)}" +
      s"SQRT(__ss / __t - (__sp / __t) * (__sp / __t)) AS ${ax.name}_std FROM __a"

  def cdfSql(table: String, valueSql: String, ax: BinAxis, dims: Seq[String],
      at: Double): String = {
    val contrib = s"cnt * LEAST(GREATEST((${dbl(at)} - l) / w, ${dbl(0.0)}), ${dbl(1.0)})"
    s"${statBase(table, valueSql, ax, dims)} SELECT ${dimsSel(dims)}" +
      s"${decSum(contrib)} / ${decSum("cnt")} AS ${ax.name}_cdf FROM __b${groupBy(dims)}"
  }

  /** CTE chain computing ppf(q) into __r$sfx(dims..., $outName). */
  private def ppfCtes(sfx: String, q: Double, dims: Seq[String], outName: String): String = {
    val part = if (dims.isEmpty) "" else s"PARTITION BY ${dims.mkString(", ")} "
    val partOnly = if (dims.isEmpty) "" else s"PARTITION BY ${dims.mkString(", ")}"
    s"__c$sfx AS (SELECT *, " +
      exactDbl(s"SUM(CAST(CAST(cnt AS VARCHAR) AS DECIMAL(38,14))) OVER (${part}ORDER BY __i0 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)") + " AS cumi, " +
      exactDbl(s"COALESCE(SUM(CAST(CAST(cnt AS VARCHAR) AS DECIMAL(38,14))) OVER (${part}ORDER BY __i0 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS DECIMAL(38,14)))") + " AS cume, " +
      exactDbl(s"SUM(CAST(CAST(cnt AS VARCHAR) AS DECIMAL(38,14))) OVER ($partOnly)") + " AS tot FROM __b), " +
      s"__q$sfx AS (SELECT *, ROW_NUMBER() OVER (${part}ORDER BY __i0) AS rn FROM __c$sfx WHERE cumi >= ${dbl(q)} * tot), " +
      s"__r$sfx AS (SELECT ${dimsSel(dims)}l + (${dbl(q)} * tot - cume) / cnt * w AS $outName FROM __q$sfx WHERE rn = 1)"
  }

  def ppfSql(table: String, valueSql: String, ax: BinAxis, dims: Seq[String],
      q: Double, outName: String = "", weightSql: Option[String] = None): String = {
    val name = if (outName.isEmpty) s"${ax.name}_ppf" else outName
    s"${statBase(table, valueSql, ax, dims, weightSql)}, ${ppfCtes("", q, dims, name)} SELECT * FROM __r"
  }

  def medianSql(table: String, valueSql: String, ax: BinAxis, dims: Seq[String],
      weightSql: Option[String] = None): String =
    ppfSql(table, valueSql, ax, dims, 0.5, s"${ax.name}_median", weightSql)

  def momentSql(table: String, valueSql: String, ax: BinAxis, dims: Seq[String],
      order: Int): String = {
    def powK1(x: String): String = (1 until order + 1).foldLeft(x)((acc, _) => s"($acc * $x)")
    val r = "(l + w)"
    val term = s"cnt * ((${powK1(r)} - ${powK1("l")}) / (w * ${dbl((order + 1).toDouble)}))"
    s"${statBase(table, valueSql, ax, dims)} SELECT ${dimsSel(dims)}" +
      s"${decSum(term)} / ${decSum("cnt")} AS ${ax.name}_moment FROM __b${groupBy(dims)}"
  }

  def intervalSql(table: String, valueSql: String, ax: BinAxis, dims: Seq[String],
      confidence: Double): String = {
    val p = (1 - confidence) / 2
    val join =
      if (dims.isEmpty) "__ra CROSS JOIN __rb"
      else s"__ra JOIN __rb ON ${dims.map(c => s"__ra.$c = __rb.$c").mkString(" AND ")}"
    val dimsA = if (dims.isEmpty) "" else dims.map(c => s"__ra.$c").mkString("", ", ", ", ")
    s"${statBase(table, valueSql, ax, dims)}, " +
      s"${ppfCtes("a", p, dims, "confidence_low")}, " +
      s"${ppfCtes("b", 1 - p, dims, "confidence_high")} " +
      s"SELECT ${dimsA}confidence_low, confidence_high FROM $join"
  }

  /** Static bins metadata table (accessor edges/centers/widths). */
  def binsTableSql(ax: BinAxis, flow: Boolean = false): String = {
    val lo = if (flow && ax.underflow) -1 else 0
    val hi = if (flow && ax.overflow) ax.nBins else ax.nBins - 1
    val center =
      if (flow)
        s"CASE WHEN i = -1 OR i = ${ax.nBins} THEN (${ax.labelSql("i")}) " +
          s"ELSE (${ax.labelSql("i")}) + (${ax.widthSql("i")}) / ${dbl(2.0)} END"
      else s"(${ax.labelSql("i")}) + (${ax.widthSql("i")}) / ${dbl(2.0)}"
    s"SELECT CAST(i AS BIGINT) AS idx, ${ax.labelSql("i")} AS left_edge, " +
      s"$center AS center, " +
      s"${ax.widthSql("i")} AS width " +
      s"FROM (SELECT UNNEST(generate_series($lo, $hi)) AS i)"
  }

  /** Mirrors HistStats.cumulative over a no-flow histogram: running total
    * of counts along the bins axis per group. Counts are integer-valued
    * doubles (< 2^53), so the running double SUM is exact and equals the
    * Spark side's decimal-exact accumulation. */
  def cumulativeSql(table: String, valueSql: String, ax: BinAxis,
      dims: Seq[String]): String = {
    val h = hist(table, Seq(Spec(valueSql, ax)), dims)
    val part = if (dims.isEmpty) "" else s"PARTITION BY ${dims.mkString(", ")} "
    s"WITH __h AS ($h) SELECT *, CAST(SUM(cnt) OVER ($part" +
      s"ORDER BY ${ax.binsCol} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "AS DOUBLE) AS cum_cnt FROM __h"
  }

  /** Mirrors HistStats.normalizeOver: pdf = (cnt / area(over)) / total,
    * the total summed along the normalized variables only (the other bin
    * axes stay loop dims). With `flow`, the histogram keeps
    * under/overflow bins; rows whose LOOP-axis coordinate is a flow bin
    * are dropped (the reference's xarray alignment — accessor.py:252-277),
    * flow bins along the NORMALIZED axes count area 1 and are excluded
    * from each partition's total. */
  def normalizeOverSql(table: String, specs: Seq[Spec], overIdx: Seq[Int],
      dims: Seq[String], flow: Boolean = false): String = {
    require(overIdx.nonEmpty && overIdx.forall(specs.indices.contains))
    val idx = specs.indices.map(k => s"__i$k")
    val dimsSel = if (dims.isEmpty) "" else dims.mkString("", ", ", ", ")
    val idxExprs = specs.zipWithIndex
      .map { case (s, k) => s"${s.axis.indexSql(s.valueSql)} AS __i$k" }
      .mkString(", ")
    def isFlow(k: Int) = s"__i$k = -1 OR __i$k = ${specs(k).axis.nBins}"
    val loopIdx = specs.indices.filterNot(overIdx.contains)
    val keep = specs.zipWithIndex.map { case (s, k) =>
      val lo = if (flow && s.axis.underflow) -1 else 0
      val hi = if (flow && s.axis.overflow) s.axis.nBins else s.axis.nBins - 1
      s"__i$k IS NOT NULL AND __i$k >= $lo AND __i$k <= $hi"
    }.mkString(" AND ") + (
      if (flow && loopIdx.nonEmpty)
        loopIdx.map(k => s" AND NOT (${isFlow(k)})").mkString
      else "")
    val groupCols = (dims ++ idx).mkString(", ")
    val loop = dims ++ loopIdx.map(k => s"__i$k")
    val part = if (loop.isEmpty) "" else s"PARTITION BY ${loop.mkString(", ")}"
    val anyFlow = specs.indices.map(isFlow).mkString("(", ") OR (", ")")
    val totalArg = if (flow) s"CASE WHEN $anyFlow THEN 0.0 ELSE cnt END" else "cnt"
    val total = exactDbl(s"SUM(CAST(CAST($totalArg AS VARCHAR) AS DECIMAL(38,14))) OVER ($part)")
    val area = overIdx.map { k =>
      val w = s"(${specs(k).axis.widthSql(s"__i$k")})"
      if (flow) s"(CASE WHEN ${isFlow(k)} THEN CAST(1.0 AS DOUBLE) ELSE $w END)" else w
    }.mkString(" * ")
    val labels = specs.zipWithIndex
      .map { case (s, k) => s"(${s.axis.labelSql(s"__i$k")}) AS ${s.axis.binsCol}" }
      .mkString(", ")
    s"WITH __idx AS (SELECT $dimsSel$idxExprs FROM $table), " +
      s"__f AS (SELECT * FROM __idx WHERE $keep), " +
      s"__g AS (SELECT $groupCols, CAST(COUNT(*) AS DOUBLE) AS cnt FROM __f GROUP BY $groupCols) " +
      s"SELECT $dimsSel$labels, cnt / ($area) / ($total) AS pdf FROM __g"
  }
}
