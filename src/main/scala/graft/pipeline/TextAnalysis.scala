package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis operators: language ID, quality scoring, token counting,
  * fingerprinting. Pure column algebra (no UDFs), each with an exact DuckDB
  * oracle. */
object TextAnalysis {

  /** Occurrences of a literal pattern via the length-replace identity —
    * integer-exact and portable across engines. */
  def occurrences(text: Column, pat: String): Column =
    ((length(text) - length(replace(text, lit(pat), lit("")))) / pat.length).cast("long")

  /** Stopword marker sets per language (scored against ' '-padded text). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " la "),
    "es" -> Seq(" el ", " los ", " que "))

  /** Heuristic language ID: stopword-marker hit counts per language,
    * argmax with deterministic tie-break (declaration order). */
  def langId(docs: DataFrame): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val scored = langMarkers.foldLeft(docs.select(col("doc_id"), col("text"))) {
      case (df, (lang, pats)) =>
        df.withColumn(s"s_$lang", pats.map(p => occurrences(padded, p)).reduce(_ + _))
    }
    val langs = langMarkers.map(_._1)
    val pred = langs.foldRight(lit("und")) { (lang, els) =>
      val isMax = langs.filter(_ != lang)
        .map(o => col(s"s_$lang") >= col(s"s_$o")).reduce(_ && _)
      when(col(s"s_$lang") > 0 && isMax, lit(lang)).otherwise(els)
    }
    scored.select(col("doc_id") +: langs.map(l => col(s"s_$l")) :+ pred.as("pred_lang"): _*)
  }

  /** [[langId]]'s prediction and the whitespace token count in ONE
    * map-only projection (doc_id, lang, ws_tokens) — the corpus-health
    * input (q134) without a second scan or a doc-keyed join; the score
    * subexpressions repeat across the when-chain, which whole-stage
    * codegen's common-subexpression elimination collapses. */
  def langTokens(docs: DataFrame, extra: Seq[String] = Nil): DataFrame =
    docs.select(Seq(col("doc_id"), langPred.as("lang"),
      regexp_count(col("text"), lit("\\S+")).cast("long").as("ws_tokens")) ++
      extra.map(col): _*)

  /** The [[langId]] argmax as one reusable Column (the score
    * subexpressions repeat across the when-chain; codegen's CSE
    * collapses them). */
  private def langPred: Column = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val scores: Map[String, Column] = langMarkers.map { case (l, pats) =>
      l -> pats.map(p => occurrences(padded, p)).reduce(_ + _)
    }.toMap
    val langs = langMarkers.map(_._1)
    langs.foldRight(lit("und")) { (lang, els) =>
      val isMax = langs.filter(_ != lang)
        .map(o => scores(lang) >= scores(o)).reduce(_ && _)
      when(scores(lang) > 0 && isMax, lit(lang)).otherwise(els)
    }
  }

  /** Corpus dashboard with subtotals: docs and whitespace tokens per
    * (source, language), per source, and the grand total in ONE
    * aggregate pass — Spark's `rollup` is ANSI GROUP BY ROLLUP, so the
    * subtotal semantics gate directly. Subtotal rows carry NULL group
    * keys; `lang` is never NULL ([[langId]] yields "und") and `source`
    * is a generated key, so NULLs unambiguously mark the rollup levels.
    * Exact long counts/sums only. Plan: one map-only projection (the
    * langId argmax + token count), one Expand (3 grouping sets), one
    * keyed exchange with map-side partial aggregation. */
  def corpusRollup(docs: DataFrame): DataFrame =
    langTokens(docs, Seq("source"))
      .rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws_tokens")).as("n_tokens"))

  /** Tokenizer fertility (tokens emitted per whitespace word) per
    * language — the corpus-health number behind "this tokenizer is
    * inefficient on language X" decisions. One map-only projection
    * computes the language argmax and BOTH token counts ([[tokens]]'
    * BPE-ish segmentation over [[langTokens]]' whitespace count); the
    * ratio is one IEEE division of exact longs; zero-word docs are
    * excluded (no 0/0). Feed the result to the histogram engine for the
    * per-language fertility distribution (q179). */
  def fertility(docs: DataFrame): DataFrame =
    docs.select(langPred.as("lang"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("__ws"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))
          .cast("long").as("__bpe"))
      .filter(col("__ws") > 0L)
      .select(col("lang"),
        (col("__bpe").cast("double") / col("__ws").cast("double"))
          .as("fertility"))

  /** English stopword markers for the quality stopword ratio (space-
    * delimited occurrence counting over ' '-padded text). */
  val qualityStopwords: Seq[String] =
    Seq(" the ", " a ", " of ", " and ", " to ", " in ")

  /** Quality scoring: word/punctuation/uppercase/stopword counts and
    * ratios plus a bucketed verdict (high/medium/low). */
  def quality(docs: DataFrame): DataFrame = {
    val words = regexp_count(col("text"), lit("[A-Za-z]+")).cast("long")
    val punct = regexp_count(col("text"), lit("[.!?]")).cast("long")
    val upper = regexp_count(col("text"), lit("[A-Z]")).cast("long")
    val padded = concat(lit(" "), col("text"), lit(" "))
    val stop = qualityStopwords.map(p => occurrences(padded, p)).reduce(_ + _)
    docs.select(col("doc_id"), words.as("n_words"), punct.as("n_punct"),
        upper.as("n_upper"), stop.as("n_stop"))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / greatest(col("n_words"), lit(1L)).cast("double"))
      .withColumn("upper_ratio",
        col("n_upper").cast("double") / greatest(col("n_words"), lit(1L)).cast("double"))
      .withColumn("stopword_ratio",
        col("n_stop").cast("double") / greatest(col("n_words"), lit(1L)).cast("double"))
      .withColumn("bucket",
        when(col("n_words") >= 40 && col("punct_ratio") < 0.1, lit("high"))
          .when(col("n_words") >= 15, lit("medium"))
          .otherwise(lit("low")))
  }

  /** Token counting: whitespace tokens and a BPE-ish segmentation
    * (letter runs | single digits | single other non-space chars). */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit("\\S+")).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))
        .cast("long").as("bpe_tokens"))

  /** TRUE-BPE token counts over the embedded merge table
    * (graft.functions.BpeVocab): the exact count a merge-table tokenizer
    * produces (>= `tokens`' pre-token count, which every merge-table
    * tokenizer refines). Map-only one-pass scan —
    * same 100 TB shape as the regex form; swap BpeVocab's merge list for
    * a published tokenizer's table to productionize. Token budgets
    * (Sampling.sampleTokenBudget) accept this column wherever they took
    * the regex count. */
  def bpeTokens(docs: DataFrame): DataFrame =
    // NULL text counts 0, matching the oracle's LEFT JOIN + COALESCE
    // (and keeping token-budget arithmetic total)
    docs.select(col("doc_id"),
      graft.functions.BpeCount.bpe_count(coalesce(col("text"), lit("")))
        .as("n_bpe_tokens"))

  /** Full BPE tokenization: one row per (doc, position, token) — the
    * sequence training/packing jobs consume, where [[bpeTokens]] is just
    * its length. Same one-pass codegen expression family and embedded
    * vocabulary; output volume is the corpus's token count (the operator
    * is map-only — explode, no shuffle). NULL text yields no rows. */
  def bpeEncode(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(graft.functions.BpeEncode.bpe_encode(col("text")))
          .as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))

  /** [[bpeEncode]] with a RUNTIME merge table — typically the output of
    * [[bpeTrain]] (train on the corpus, tokenize with what you learned:
    * the full tokenizer loop inside the engine). `merges` is
    * rank-ordered, driver-held, vocabulary-sized metadata (nMerges rows);
    * the operator itself stays one map-only codegen pass. */
  def bpeEncodeWith(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    docs.select(col("doc_id"),
        posexplode(graft.functions.BpeEncodeWith.bpe_encode_with(
          col("text"), merges)).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))

  /** DISTRIBUTED BPE vocabulary training: learn the top `nMerges` merge
    * rules from the corpus itself — the step that produces the table
    * [[bpeTokens]]/[[bpeEncode]] consume (BpeVocab.train is the same
    * algorithm driver-side over the embedded seed; this is its corpus-
    * scale form, and the determinism spec pins them equal).
    *
    * Algorithm (Sennrich et al. 2016, the standard trainer): count every
    * adjacent symbol pair over the word-frequency table, merge the
    * globally most frequent pair (ties to the lexicographically smallest)
    * left-to-right non-overlapping in every word, repeat.
    *
    * Scale shape: the CORPUS is touched exactly once — one map-combinable
    * word count (Zipf collapse; state is vocabulary-sized from then on).
    * Each ROUND then accepts a BATCH of up to `batchCap` merges from one
    * pair-count aggregate, so the number of sequential Spark rounds is
    * merges-per-round smaller than nMerges while the output is provably
    * the iterated-argmax (sequential) merge table — see [[acceptBatch]]
    * for the acceptance proof obligations. A round is: one pair-count
    * aggregate over the word table (pairs explode bounded by total symbol
    * count, map-side combined) collected as top-k candidates UNION
    * per-symbol adjacency maxima (driver data is top-k + vocabulary-sized
    * maxima — same boundedness class as the bins/boilerplate tables),
    * then ONE chained codegen MergePair projection applying the whole
    * accepted batch, localCheckpoint to truncate lineage with exact block
    * eviction (the components pattern). At a real 50k-merge scale the
    * word table is hashed across executors and every round stays
    * map-combine + one bounded collect.
    *
    * The learned merge table (driver data, nMerges rows) is MEMOIZED
    * per (corpus, nMerges, batchCap): the trainer and every
    * encode-with-learned-table consumer over one corpus share ONE
    * training loop — under the concurrent bench q124 and q125 were two
    * simultaneous full trainings of the same table. */
  def bpeTrain(docs: DataFrame, nMerges: Int, batchCap: Int = 16): DataFrame = {
    require(nMerges >= 1, "nMerges must be positive")
    require(batchCap >= 1, "batchCap must be positive")
    val spark = docs.sparkSession
    val trained = bpeMemo("bpeTrain", docs)(nMerges, batchCap)(
      bpeTrainRun(docs, nMerges, batchCap))
    import spark.implicits._
    trained.toDF("rank", "lhs", "rhs", "pair_count")
  }

  // merge tables are tiny (nMerges rows of strings); 32 corpora ×
  // parameterizations is far beyond any session's live set
  private val bpeMemo = new graft.util.RelCache.Store[Seq[(Int, String, String, Long)]](32)

  private def bpeTrainRun(docs: DataFrame, nMerges: Int,
      batchCap: Int): Seq[(Int, String, String, Long)] = {
    import graft.functions.{BpeVocab, CodePoints, MergePair}
    val spark = docs.sparkSession
    val sc = spark.sparkContext
    def evict(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectLeaves().foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          sc.getPersistentRDDs.get(l.rdd.id).foreach(_.unpersist(false))
        case _ => ()
      }
    var words = docs
      .select(explode(regexp_extract_all(coalesce(col("text"), lit("")),
        lit(BpeVocab.WordRe), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(CodePoints.code_points(col("w")).as("toks"), col("cnt"))
      .localCheckpoint(true)
    // checkpoint cadence: materializing every round costs one extra job;
    // a ≤3-deep chain of map-only MergePair projections over the
    // vocabulary-sized table is cheaper to recompute than to persist
    var anchor = words
    var depth = 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    while (!done && merges.size < nMerges) {
      if (depth >= 3) {
        val ck = words.localCheckpoint(true)
        evict(anchor)
        anchor = ck
        words = ck
        depth = 0
      }
      val pairs = words.filter(size(col("toks")) >= 2)
        .select(col("cnt"), col("toks"),
          explode(expr("sequence(0, size(toks) - 2)")).as("i"))
        .select(col("cnt"), expr("toks[i]").as("l"), expr("toks[i + 1]").as("r"))
        .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val k = math.max(32, 4 * batchCap)
      // One action for the round's driver data: the top-k candidate pairs
      // (TakeOrderedAndProject — no full sort) plus, for the acceptance
      // ceiling, each symbol's max adjacent-pair count in both directions.
      val topDf = pairs
        .orderBy(col("c").desc, col("l").asc, col("r").asc).limit(k)
        .select(lit("t").as("kind"), col("l").as("a"), col("r").as("b"), col("c"))
      val maxima = pairs.groupBy(col("r").as("a")).agg(max(col("c")).as("c"))
        .select(lit("i").as("kind"), col("a"),
          lit(null).cast("string").as("b"), col("c"))
        .unionAll(pairs.groupBy(col("l").as("a")).agg(max(col("c")).as("c"))
          .select(lit("o").as("kind"), col("a"),
            lit(null).cast("string").as("b"), col("c")))
      val rows = topDf.unionAll(maxima).collect()
      pairs.unpersist(false)
      val top = rows.view.filter(_.getString(0) == "t")
        .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toVector
        .sortBy { case (l, r, c) => (-c, l, r) }
      if (top.isEmpty) done = true
      else {
        val maxIn = rows.view.filter(_.getString(0) == "i")
          .map(r => r.getString(1) -> r.getLong(3)).toMap
        val maxOut = rows.view.filter(_.getString(0) == "o")
          .map(r => r.getString(1) -> r.getLong(3)).toMap
        val batch = acceptBatch(top, maxIn, maxOut,
          math.min(batchCap, nMerges - merges.size))
        batch.foreach { case (l, r, c) => merges += ((merges.size + 1, l, r, c)) }
        // the whole batch is ONE chained codegen projection: rank order ==
        // sequential apply order, and pairwise symbol-disjointness makes
        // each link see exactly the word state sequential step i saw
        val mergedToks = batch.foldLeft(col("toks")) { case (cl, (l, r, _)) =>
          MergePair.merge_pair(cl, lit(l), lit(r))
        }
        words = words.select(mergedToks.as("toks"), col("cnt"))
        depth += 1
      }
    }
    evict(anchor)
    merges.toSeq
  }

  /** Greedy PREFIX of `top` (sorted by count DESC, lhs, rhs — the
    * trainer's tie-break) that is provably the next |prefix| merges of the
    * iterated-argmax trainer, from one round's pair counts alone.
    *
    * Pair j (count c_j) is accepted after pairs 1..j-1 iff
    *   (a) its symbols l_j, r_j and its new token t_j = l_j+r_j are
    *       disjoint from every earlier accepted {l_i, r_i, t_i}, and
    *   (b) c_j strictly exceeds the ceiling max_i U_i, where
    *       U_i = max(maxIn(l_i) + maxIn(t_i), maxOut(r_i) + maxOut(t_i))
    *       bounds any pair whose count merge i can RAISE (created pairs
    *       (x,t_i) ≤ count(x,l_i) + any pre-existing (x,t_i) when the t_i
    *       string collides with a live symbol; symmetrically (t_i,y)).
    *
    * Why that reproduces sequential: at sequential step j, (1) c_j is
    * unchanged — p_j shares no symbol with earlier merges and no t_i can
    * recreate or extend it; (2) every pair sorting before p_j at round
    * start was accepted (prefix) and mergeAll leaves zero occurrences of
    * a just-merged pair; (3) unchanged pairs sorting after p_j still lose
    * by the same (count, lex) order; (4) raised/created pairs are < c_j
    * by the strict ceiling. First rejection stops the batch — sequential's
    * next argmax is then unknowable from round-start counts (worst case
    * the round degrades to the classic one-merge step, never to a wrong
    * table). */
  private[graft] def acceptBatch(top: Vector[(String, String, Long)],
      maxIn: Map[String, Long], maxOut: Map[String, Long],
      cap: Int): Vector[(String, String, Long)] = {
    val acc = Vector.newBuilder[(String, String, Long)]
    val used = scala.collection.mutable.HashSet.empty[String]
    var ceiling = 0L
    var n = 0
    var stop = false
    var i = 0
    while (!stop && i < top.length && n < cap) {
      val (l, r, c) = top(i)
      val t = l + r
      if (n > 0 && (used(l) || used(r) || used(t) || c <= ceiling)) stop = true
      else {
        acc += ((l, r, c))
        used += l; used += r; used += t
        ceiling = math.max(ceiling,
          math.max(maxIn.getOrElse(l, 0L) + maxIn.getOrElse(t, 0L),
            maxOut.getOrElse(r, 0L) + maxOut.getOrElse(t, 0L)))
        n += 1
        i += 1
      }
    }
    acc.result()
  }

  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val UrlRe = "https?://[^\\s]+"
  private[graft] val DigitRunRe = "[0-9]{6,}"

  /** Pattern-count scan for filtering/PII triage: emails, URLs, long digit
    * runs per doc — one map-only regex pass (the counts feed threshold
    * filters; `redact` is the matching rewrite). */
  def patternCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(UrlRe)).cast("long").as("n_urls"),
      regexp_count(col("text"), lit(DigitRunRe)).cast("long").as("n_digit_runs"))

  /** PII redaction: rewrite emails, then URLs, then long digit runs to
    * typed placeholders — the SAME patterns patternCounts gates, applied
    * in that order (emails first so an address inside a URL query string
    * is typed as the more specific match; URLs before digit runs so
    * numeric path segments collapse into the URL placeholder). One
    * map-only codegen'd pass; at 100 TB this is a pure scan-rewrite with
    * zero shuffle. */
  def redact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), lit(EmailRe), lit("<EMAIL>")),
          lit(UrlRe), lit("<URL>")),
        lit(DigitRunRe), lit("<NUM>")).as("text_redacted"))

  /** Exact dedup after canonical text normalization (lowercase + collapsed
    * whitespace): catches trivially-reformatted duplicates that byte-exact
    * hashing misses. Same single-shuffle shape as `Dedup.exact`. */
  def normalizedHash(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")).cast("binary"))

  /** Per-source corpus profile: doc counts, token/char totals, mean doc
    * length — the first table any curation pipeline builds. One shuffle,
    * integer-exact aggregates (the mean is a single division of exact
    * integers, bit-identical cross-engine). */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(regexp_count(col("text"), lit("\\S+")).cast("long")).as("total_tokens"),
      sum(length(col("text")).cast("long")).as("total_chars"))
      .withColumn("avg_chars",
        col("total_chars").cast("double") / col("n_docs").cast("double"))

  /** Polynomial rolling-hash fingerprint of the first maxLen chars:
    * sum(ascii(c_i) * B^(i-1)) mod P — exact integer math, identical in any
    * engine. */
  val FpBase = 131L
  val FpMod = 1000000007L

  def fingerprintPows(maxLen: Int): Array[Long] = {
    val pows = new Array[Long](maxLen)
    pows(0) = 1L
    for (i <- 1 until maxLen) pows(i) = pows(i - 1) * FpBase % FpMod
    pows
  }

  /** Gopher-style repetition signals per doc: duplicate-token fraction and
    * top token / adjacent-bigram fractions. One codegen'd pass per doc
    * (graft.functions.RepetitionStats) — map-only, no shuffle; the ratio
    * arithmetic is single IEEE divisions over exact integer counts, so the
    * DuckDB oracle matches bitwise. */
  def repetition(docs: DataFrame): DataFrame = {
    val st = graft.functions.RepetitionStats.repetition_stats(col("text"))
    // explode(array(..)) anchors the struct behind a Generate node so the
    // one-pass expression is evaluated once, not once per extracted field
    docs.select(col("doc_id"), explode(array(st)).as("__r"))
      .select(col("doc_id"), col("__r.n_tokens").as("n_tokens"),
        col("__r.n_distinct").as("n_distinct"),
        col("__r.top_token_cnt").as("top_token_cnt"),
        col("__r.top_bigram_cnt").as("top_bigram_cnt"))
      .withColumn("dup_frac",
        (col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens").cast("double"))
      .withColumn("top_token_frac",
        col("top_token_cnt").cast("double") / col("n_tokens").cast("double"))
      .withColumn("top_bigram_frac",
        col("top_bigram_cnt").cast("double") /
          greatest(col("n_tokens") - 1L, lit(1L)).cast("double"))
  }

  def fingerprint(docs: DataFrame, maxLen: Int = 64): DataFrame = {
    val pows = fingerprintPows(maxLen)
    docs.select(col("doc_id"),
        explode(expr(s"sequence(1, least(length(text), $maxLen))")).as("i"),
        col("text"))
      .withColumn("term",
        expr("ascii(substring(text, i, 1))").cast("long") *
          element_at(typedlit(pows.toSeq), col("i").cast("int")))
      .groupBy("doc_id")
      .agg((sum(col("term")) % FpMod).as("fingerprint"))
  }

  /** Approximate per-source top terms via the SpaceSaving bounded-memory
    * aggregate (graft.functions.HeavyHitters): state is `capacity`
    * entries per (source, partial aggregate) REGARDLESS of vocabulary
    * size — the 100 TB path where exact vocabulary counting (topTerms)
    * stops being possible. Guarantees: reported cnt brackets the true
    * count within err; any term above N/capacity is present. When
    * capacity >= the per-source vocabulary the summary never evicts and
    * the output equals the exact tf ranking with err = 0 — the regime
    * the oracle gate pins; the approximate regime's bounds are spec'd. */
  /** One (source, term) row per whitespace token — the term relation
    * shared by topTermsApprox (q94) and its SpaceSaving contract gate
    * (q158), so the contract always certifies the operator's actual
    * tokenization. */
  private[graft] def sourceTerms(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))

  def topTermsApprox(docs: DataFrame, k: Int = 5, capacity: Int = 256): DataFrame =
    sourceTerms(docs)
      .groupBy(col("source"))
      .agg(graft.functions.HeavyHitters.heavy_hitters(col("term"), capacity).as("__hh"))
      .select(col("source"), posexplode(col("__hh")).as(Seq("__p", "__e")))
      .filter(col("__p") < k)
      .select(col("source"), col("__e.term").as("term"),
        col("__e.cnt").as("cnt"), col("__e.err").as("err"),
        (col("__p") + 1).cast("int").as("rank"))

  /** Top-k distinctive terms per source by df-normalized term frequency
    * (tf-idf with linear idf: score = tf * N / df, N = corpus doc count —
    * no transcendental, so the score doubles are bit-identical
    * cross-engine: each long is exactly representable, and the multiply
    * and divide are single correctly-rounded IEEE ops in both engines;
    * double-FIRST, so no BIGINT overflow at tf * N ~ 1e19+ corpus scale).
    * Ties break by term ascending, so the output is fully deterministic.
    *
    * Scale shape: token explode → two aggregates (per-(source, term) tf;
    * per-term document frequency over DISTINCT (term, doc)) joined on
    * term — both vocabulary-sized, orders of magnitude below corpus size —
    * plus a broadcast of the single-row corpus count. The final per-source
    * top-k window sorts vocabulary partitions, not the corpus; sources are
    * few and their vocabularies bounded, so no corpus-scale sort exists in
    * the plan. */
  def topTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), col("source"),
      explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
    val total = docs.agg(count(lit(1)).as("__n"))
    val dfRel = toks.select(col("term"), col("doc_id")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val tf = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    tf.join(dfRel, "term")
      .crossJoin(broadcast(total))
      .withColumn("score",
        col("tf").cast("double") * col("__n").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("score").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col("source"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Heaps'-law vocabulary growth curve (corpus health: is the crawl
    * still discovering new vocabulary, or has it saturated into
    * duplicates/boilerplate?): docs are bucketed into ingestion
    * checkpoints of `bucketSize` consecutive doc ids; per checkpoint,
    * the number of NEVER-SEEN-BEFORE token types (first occurrence =
    * minimal doc id holding the type), the token volume, and the running
    * cumulative (tokens, types) pairs — the (N, V) points a Heaps fit
    * consumes, kept log-free per the q113 convention.
    *
    * Scale shape: the only corpus-sized exchange is the token-keyed
    * min-aggregate (map-combinable, Zipf-collapsed to the vocabulary);
    * token volume per bucket is map-combinable straight off the scan.
    * Both collapse to the ≤ |buckets| relation the cumulative windows
    * run on (unpartitioned-by-necessity over checkpoint counts, never
    * corpus rows). Doc ids are assumed non-negative (ingestion
    * sequence); the bucket index is plain integer division. */
  def vocabGrowth(docs: DataFrame, bucketSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketSize > 0, "bucketSize must be positive")
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("tok"))
    // integer `div`, not `/`: the double detour would lose exactness for
    // 2^53+ ingestion ids
    val bucket = expr(s"doc_id div ${bucketSize}L")
    val newTypes = toks.groupBy(col("tok"))
      .agg(min(col("doc_id")).as("__first"))
      .groupBy(expr(s"__first div ${bucketSize}L").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val volume = toks.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    volume.join(newTypes, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .select(col("bucket"), col("n_tokens"), col("new_types"),
        col("cum_tokens"), col("cum_types"))
  }

  /** Feature-hashing document embedding (the hashing trick: a fixed
    * `dim`-dimensional representation with NO learned vocabulary — the
    * classifier-feature / cheap-clustering front-end where the trained
    * paths are q90/q124): each token hashes to a dimension (first 6 md5
    * hex chars mod dim) and a sign (7th hex char parity, the standard
    * collision-debiasing), the vector is the signed count per dimension.
    * Emitted per-element (doc_id, dim, v) with zero dims absent — the
    * sparse form downstream joins consume directly, and exactly
    * comparable in the gate (the q150 rendering rationale).
    *
    * Cross-engine exactness: md5 hex is engine-identical, the hex->long
    * conversions and mod are integer-exact, v is an exact long sum.
    *
    * Scale shape: explode + ONE (doc, dim)-keyed exchange whose
    * map-side partial aggregate collapses each doc's token volume to at
    * most `dim` rows BEFORE the shuffle (a doc's exploded tokens stay in
    * its scan partition), so the exchange carries O(docs·dim), never
    * token volume. No window, no join. */
  def hashEmbed(docs: DataFrame, dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("tok"))
    val h = conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long")
    val parity = conv(substring(md5(col("tok")), 7, 1), 16, 10).cast("long")
    val sign = when(parity % 2 === 0, lit(1L)).otherwise(lit(-1L))
    toks.select(col("doc_id"), (h % dim).as("dim"), sign.as("__s"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("__s")).as("v"))
  }

  /** BM25 relevance of every document against a FIXED query term set —
    * the retrieval scorer behind "find the training docs most relevant
    * to this probe" (contamination triage, targeted corpus slicing):
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgLen)),
    * idf(t) = ln(1 + (N−df+0.5)/(df+0.5)). Emits (doc_id, score) for
    * docs matching ≥1 query term.
    *
    * Cross-engine exactness: ln() is the only non-correctly-rounded op,
    * and it runs |query| times on (N, df) scalars — quantized to 1e-9
    * (floor), the q141 pow() convention, so every downstream bit is
    * computed from identical inputs; everything else is single
    * correctly-rounded IEEE ops in a pinned association order, and the
    * per-doc sum is the sort_array fold in term order (the drift /
    * dot-product sequential-sum contract; SUM(… ORDER BY term) on the
    * oracle side).
    *
    * Scale shape: the corpus shuffles ONLY its matched (doc, term)
    * rows (the IN filter runs before the explode's aggregate); doc
    * length rides along map-side from the same projection; df and the
    * (N, total-length) scalars are |query|-sized and broadcast. The
    * per-doc fold buffers ≤ |query| entries. */
  def bm25(docs: DataFrame, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(queryTerms.distinct == queryTerms, s"duplicate terms: $queryTerms")
    require(k1 > 0.0 && b >= 0.0 && b <= 1.0, s"bad BM25 knobs: ($k1, $b)")
    val k1p1 = k1 + 1.0 // driver-side, so both engines see ONE literal
    val oneMb = 1.0 - b
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("__len"),
        explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
    // one corpus-wide regexp_count pass, 1 row — pinned (the same
    // canonical plan is shared by bm25 and rrfFusion over one corpus,
    // and was re-run per invocation while tf was already memoized)
    val stats = graft.util.RelCache.persist(docs.filter(col("text").isNotNull)
      .agg(count(lit(1)).as("__nd"),
        sum(regexp_count(col("text"), lit("\\S+")).cast("long")).as("__tl")))
    val tf = graft.util.RelCache.persist(
      base.filter(col("term").isin(queryTerms: _*))
        .groupBy(col("doc_id"), col("__len"), col("term"))
        .agg(count(lit(1)).as("__tf")))
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val idf = floor(log(lit(1.0) +
        (col("__nd").cast("double") - col("__df").cast("double") + lit(0.5)) /
          (col("__df").cast("double") + lit(0.5))) * lit(1.0e9)) / lit(1.0e9)
    val denom = col("__tf").cast("double") + lit(k1) * (lit(oneMb) +
      lit(b) * (col("__len").cast("double") /
        (col("__tl").cast("double") / col("__nd").cast("double"))))
    val contrib = idf * (col("__tf").cast("double") * lit(k1p1)) / denom
    tf.join(broadcast(dfRel), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), contrib.as("__c"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("term"), col("__c")))).as("__a"))
      .select(col("doc_id"), aggregate(col("__a"), lit(0.0),
        (acc, x) => acc + x.getField("__c")).as("score"))
  }

  /** The retrieval form of [[bm25]]: the k most relevant docs for the
    * query, ranked. Safe to rank cross-engine because every score
    * double is bit-identical by construction (quantized idf + pinned
    * IEEE order); ties break by doc_id ascending, so the ranking is
    * fully deterministic. Scale shape: the rank-k runs through the
    * bounded-heap [[graft.functions.TopKByScore]] aggregate — map-side
    * partial top-k, so at most k rows per map partition reach the
    * single k-bounded reduce (a global row_number window would instead
    * pull EVERY matched doc — corpus-scale for a common query term —
    * through one WindowExec partition). Ranks 1..k then come free from
    * the returned array's position: no WindowExec anywhere in the
    * plan (pinned by PlanShapeSpec). */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    bm25(docs, queryTerms, k1, b)
      .agg(graft.functions.TopKByScore.top_k(
        col("score"), col("doc_id"), k).as("__t"))
      .select(posexplode(col("__t")).as(Seq("__p", "__x")))
      .select(col("__x.id").as("doc_id"), col("__x.score").as("score"),
        (col("__p") + lit(1)).cast("int").as("rank"))
  }

  /** Reciprocal-rank fusion of two lexical retrieval heads (Cormack et
    * al. 2009): the documents ranked by BM25 and by query tf·idf are
    * fused as rrf(d) = Σ_lists 1/(kRrf + rank_list(d)) — the standard
    * hybrid-retrieval ensemble (rank-space fusion needs no score
    * calibration between heads, which is why production RAG stacks fuse
    * lexical + dense lists this way; both heads here are lexical
    * because the corpus carries no doc-aligned embeddings).
    *
    * Determinism cross-engine: each head's scores are bit-identical by
    * construction (quantized idf, pinned IEEE fold order), head ranks
    * break ties by doc_id, the fused score is at most TWO terms added
    * in fixed order (BM25 head first) with one IEEE division each, and
    * the final ranking ties to doc_id again.
    *
    * Scale shape: ONE corpus pass — both heads score from the SAME
    * persisted (doc, len, term) tf relation (Zipf-collapsed,
    * query-term-filtered at the scan); df/stats broadcast; every rank-k
    * runs through the bounded-heap TopKByScore (map-side partial
    * top-k, no WindowExec anywhere); the fusion join holds ≤ 2·kList
    * rows. */
  def rrfFusion(docs: DataFrame, queryTerms: Seq[String], k: Int,
      kList: Int = 50, kRrf: Int = 60, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(queryTerms.distinct == queryTerms, s"duplicate terms: $queryTerms")
    require(k > 0 && kList >= k, s"need kList >= k > 0: ($kList, $k)")
    require(kRrf > 0, s"kRrf must be positive: $kRrf")
    val k1p1 = k1 + 1.0
    val oneMb = 1.0 - b
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("__len"),
        explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
    // one corpus-wide regexp_count pass, 1 row — pinned (the same
    // canonical plan is shared by bm25 and rrfFusion over one corpus,
    // and was re-run per invocation while tf was already memoized)
    val stats = graft.util.RelCache.persist(docs.filter(col("text").isNotNull)
      .agg(count(lit(1)).as("__nd"),
        sum(regexp_count(col("text"), lit("\\S+")).cast("long")).as("__tl")))
    // both heads read this ONE relation — the corpus is tokenized once
    val tf = graft.util.RelCache.persist(
      base.filter(col("term").isin(queryTerms: _*))
        .groupBy(col("doc_id"), col("__len"), col("term"))
        .agg(count(lit(1)).as("__tf")))
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val joined = tf.join(broadcast(dfRel), "term").crossJoin(broadcast(stats))
    // head A: bm25()'s exact arithmetic (quantized idf, pinned fold)
    val idfA = floor(log(lit(1.0) +
        (col("__nd").cast("double") - col("__df").cast("double") + lit(0.5)) /
          (col("__df").cast("double") + lit(0.5))) * lit(1.0e9)) / lit(1.0e9)
    val denomA = col("__tf").cast("double") + lit(k1) * (lit(oneMb) +
      lit(b) * (col("__len").cast("double") /
        (col("__tl").cast("double") / col("__nd").cast("double"))))
    val contribA = idfA * (col("__tf").cast("double") * lit(k1p1)) / denomA
    // head B: query tf·idf with the 1e-9-quantized ln(N/df)
    val contribB = col("__tf").cast("double") *
      (floor(log(col("__nd").cast("double") / col("__df").cast("double")) *
        lit(1.0e9)) / lit(1.0e9))
    // BOTH heads' per-doc sums in ONE pass over `joined` (they read the
    // same rows and differ only in the contribution expression; the
    // previous two headRanks passes scanned `joined` twice and met in a
    // full_outer join). The shared struct sorts by term alone — terms
    // are unique per doc after the tf groupBy — so each head's fold
    // adds in exactly the order the separate sort_array produced:
    // per-head sums are bit-identical to the two-pass form.
    val tops = joined
      .select(col("doc_id"), col("term"),
        contribA.as("__ca"), contribB.as("__cb"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("term"),
        col("__ca"), col("__cb")))).as("__a"))
      .select(col("doc_id"),
        aggregate(col("__a"), lit(0.0),
          (acc, x) => acc + x.getField("__ca")).as("__sa"),
        aggregate(col("__a"), lit(0.0),
          (acc, x) => acc + x.getField("__cb")).as("__sb"))
      .agg(graft.functions.TopKByScore.top_k(
          col("__sa"), col("doc_id"), kList).as("__ta"),
        graft.functions.TopKByScore.top_k(
          col("__sb"), col("doc_id"), kList).as("__tb"))
    // rank fusion IN-ROW off the single (top-A, top-B) row: rank =
    // 1-based array_position in each head's id list (identical to the
    // posexplode ranks — top_k arrays are best-first), absent = 0
    // contribution (the old full_outer NULL-rank coalesce); the final
    // ranking stays the SAME TopKByScore aggregate as before, so
    // tie-breaking semantics are untouched.
    val kR = kRrf.toDouble
    def rrfTerm(arr: String): String =
      s"""CASE WHEN array_position(transform($arr, x -> x.id), i) = 0
         |  THEN 0.0D
         |  ELSE 1.0D / ($kR + CAST(array_position(
         |    transform($arr, x -> x.id), i) AS DOUBLE)) END""".stripMargin
    val fused = tops.select(explode(expr(
        s"""transform(
           |  array_union(transform(__ta, x -> x.id),
           |              transform(__tb, x -> x.id)),
           |  i -> named_struct('id', i,
           |    'rrf', ${rrfTerm("__ta")} + ${rrfTerm("__tb")}))"""
          .stripMargin.replaceAll("\n", " "))).as("__e"))
      .select(col("__e.id").as("doc_id"), col("__e.rrf").as("__rrf"))
    fused.agg(graft.functions.TopKByScore.top_k(
        col("__rrf"), col("doc_id"), k).as("__t"))
      .select(posexplode(col("__t")).as(Seq("__p", "__x")))
      .select(col("__x.id").as("doc_id"), col("__x.score").as("rrf_score"),
        (col("__p") + lit(1)).cast("int").as("rank"))
  }

  /** Unigram language-model quality score per document — the classic
    * perplexity-style corpus filter (docs whose tokens are improbable
    * under the corpus's own unigram distribution are gibberish,
    * boilerplate or wrong-language candidates; published pipelines
    * drop the most-surprising tail). Trained on the scored corpus
    * itself: p(term) = cnt(term)/Σcnt; lm_score = Σ_t tf·ln p(t) / len
    * — the mean token log-probability (always < 0 unless the corpus is
    * a single repeated token; more negative = more surprising).
    * Cross-engine bit-exactness: ln p is 1e-9-quantized (the q141
    * convention), per-doc contributions fold in term order (the
    * sequential-sum contract), and the mean is one IEEE division.
    * Docs with NULL text or zero tokens produce no rows — there is
    * nothing to score.
    *
    * Scale shape: ONE corpus pass — token explode → the map-combinable
    * (doc, term) tf aggregate; the vocabulary (Σtf per term) and the
    * single-row token total (Σtf) both derive from that already
    * Zipf-collapsed relation, so the text column is scanned and
    * tokenized exactly once (the naive three-branch form re-scans it
    * for each aggregate). Then one term-keyed equi-join, the one-row
    * total broadcast, and a doc-keyed fold whose per-group memory is
    * the doc's distinct-term count. No corpus-scale sort, no driver
    * collection — the model IS a DataFrame, never materialized
    * driver-side. */
  def lmScore(docs: DataFrame): DataFrame = graft.util.RelCache.persist {
    // pinned (doc-sized rows, corpus-sized compute): the unigram score
    // over one corpus feeds q193 directly plus lmFilter, lmFilterSketch,
    // excessLossSelect and doremiWeights — five consumers re-deriving
    // the same two token exchanges without the memo
    val tf = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("__tf"))
    val vocab = tf.groupBy(col("term")).agg(sum(col("__tf")).as("__cnt"))
    val total = vocab.agg(sum(col("__cnt")).as("__tt"))
    val lnp = floor(log(col("__cnt").cast("double") / col("__tt").cast("double")) *
      lit(1.0e9)) / lit(1.0e9)
    tf.join(vocab, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("term"),
        col("__tf"), (col("__tf").cast("double") * lnp).as("__c"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("term"), col("__c")))).as("__a"),
        sum(col("__tf")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (aggregate(col("__a"), lit(0.0), (acc, x) => acc + x.getField("__c")) /
          col("n_tokens").cast("double")).as("lm_score"))
  }

  /** Stride chunking: split each document into fixed-token windows for
    * context-bounded training/embedding (`window` tokens per chunk,
    * consecutive chunk starts `stride` apart, so adjacent chunks
    * overlap by window − stride). The final start is the smallest
    * multiple of stride whose window reaches the last token (the HF
    * tokenizers stride rule) — full coverage, no chunk wholly contained
    * in its predecessor. chunk_text re-joins the kept tokens with
    * single spaces (original inter-token whitespace is not preserved —
    * tokens, not bytes, are the unit). Docs with NULL text or zero
    * tokens produce no chunks.
    *
    * Scale shape: PURELY NARROW — tokenize, a per-row integer sequence,
    * one explode; zero exchanges, zero aggregates, streams through
    * whole-stage codegen at scan speed. The one operator in the
    * pipeline that is embarrassingly parallel at any scale. */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    require(stride > 0 && stride <= window,
      s"need 0 < stride <= window: ($stride, $window)")
    val w = window.toLong
    val s = stride.toLong
    val maxStart = when(col("__len") <= w, lit(0L)).otherwise(
      expr(s"CAST(((__len - $w + $s - 1) div $s) AS BIGINT) * $s"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        expr("""regexp_extract_all(text, '\\S+', 0)""").as("__t"))
      .withColumn("__len", size(col("__t")).cast("long"))
      .filter(col("__len") > 0L)
      .select(col("doc_id"), col("__t"), col("__len"),
        posexplode(sequence(lit(0L), maxStart, lit(s))).as(Seq("chunk_id", "start_tok")))
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        col("start_tok"),
        least(lit(w), col("__len") - col("start_tok")).as("n_tok"),
        array_join(slice(col("__t"), (col("start_tok") + 1L).cast("int"),
          lit(window)), " ").as("chunk_text"))
  }

  /** Mixed-language / code-switching detector: [[chunkDocs]] the doc
    * into NON-overlapping `window`-token chunks, [[langId]] each chunk,
    * and report per doc how many languages the chunks predict — the
    * curation signal whole-doc langid structurally cannot produce (a
    * half-English-half-German doc argmaxes to ONE language and sails
    * through a lang filter; chunk-level voting exposes it). Emits
    * (doc_id, n_chunks, n_langs, majority_lang, majority_frac, mixed).
    *
    * Determinism: chunking and the marker argmax are exact; the
    * majority chunk-language breaks count ties to the LEXICALLY
    * SMALLEST language (min over (-count, lang) structs — mirrored by
    * the oracle's ORDER BY c DESC, lang rank); majority_frac is one
    * IEEE division. Scale shape: one narrow chunk explode (the
    * [[chunkDocs]] plan) straight into two map-combinable aggregates —
    * no joins, no windows; docs with NULL text or zero tokens emit no
    * row (nothing to vote). */
  def mixedLang(docs: DataFrame, window: Int = 32): DataFrame = {
    val chunks = chunkDocs(docs, window, window)
      .select(col("doc_id"), col("chunk_text").as("text"))
    val byLang = chunks.select(col("doc_id"), langPred.as("__l"))
      .groupBy(col("doc_id"), col("__l"))
      .agg(count(lit(1)).as("__c"))
    byLang.groupBy(col("doc_id"))
      .agg(sum(col("__c")).as("n_chunks"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("__c")).as("__nc"), col("__l").as("__ll"))).as("__m"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("__m.__ll").as("majority_lang"),
        ((-col("__m.__nc")).cast("double") /
          col("n_chunks").cast("double")).as("majority_frac"),
        (col("n_langs") > 1).as("mixed"))
  }

  /** Per-document keyword extraction: the k most distinctive terms of
    * each doc by tf-idf with log idf — score = tf · ln(N/df), N = docs
    * with text, df = docs containing the term (the [[topTerms]]
    * linear-idf complement at per-doc granularity: summarization,
    * indexing, topic tagging). ln(N/df) ≥ 0 and 1e-9-quantized, so the
    * score doubles are bit-identical cross-engine; ties break by term
    * ascending — fully deterministic. Docs with NULL text or zero
    * tokens produce no rows.
    *
    * Scale shape: token explode → per-(doc, term) tf (map-combinable;
    * THE corpus-sized relation, same cost as tokenization), the
    * vocabulary-sized df derived from it by a second map-combinable
    * aggregate, equi-joined back on term; the single-row N broadcasts.
    * The top-k window partitions by doc — each partition is one doc's
    * distinct-term set, thousands of rows at most — so no corpus-scale
    * global sort exists in the plan. */
  def tfidfTopK(docs: DataFrame, k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
    val total = docs.filter(col("text").isNotNull).agg(count(lit(1)).as("__n"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = floor(log(col("__n").cast("double") / col("df").cast("double")) *
      lit(1.0e9)) / lit(1.0e9)
    tf.join(dfRel, "term")
      .crossJoin(broadcast(total))
      .withColumn("score", col("tf").cast("double") * idf)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Per-document token-distribution entropy (lexical diversity):
    * H = −Σ_t (tf/len)·ln(tf/len) in nats — 0 for a single repeated
    * token, ln(len) for all-distinct tokens. The scale-free repetition
    * signal ([[repetition]] measures the worst single token; entropy
    * measures the whole distribution — template spam with MANY repeated
    * tokens scores low here while no single token dominates). Purely
    * per-doc: no corpus model, unlike [[lmScore]]. Cross-engine
    * bit-exactness: each ln(tf/len) is 1e-9-quantized, contributions
    * fold in term order, and the final −Σ/len is one IEEE division and
    * negate. Docs with NULL text or zero tokens produce no rows.
    *
    * Scale shape: token explode → ONE map-combinable (doc, term)
    * aggregate → doc-keyed fold (per-group memory = the doc's
    * distinct-term count). No joins at all — the len rides the
    * tf aggregate as a second sum. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val tf = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("__tf"))
    tf.groupBy(col("doc_id"))
      .agg(sum(col("__tf")).as("n_tokens"),
        sort_array(collect_list(struct(col("term"), col("__tf")))).as("__a"))
      .select(col("doc_id"), col("n_tokens"),
        (-aggregate(col("__a"), lit(0.0), (acc, x) =>
          acc + x.getField("__tf").cast("double") *
            (floor(log(x.getField("__tf").cast("double") /
              col("n_tokens").cast("double")) * lit(1.0e9)) / lit(1.0e9))) /
          col("n_tokens").cast("double")).as("entropy"))
  }

  /** Top-k collocations by pointwise mutual information: adjacent token
    * pairs occurring at least `minCount` times, ranked by
    * PMI = ln(c₂·T / (c₁(a)·c₁(b))) — how much more often the pair
    * occurs than independence predicts (multi-word entities, set
    * phrases, template fragments; the minCount floor removes the
    * classic PMI pathology of rare-pair noise). Cross-engine
    * bit-exactness: the PMI ln runs on exact integer ratios and is
    * 1e-9-quantized; ties break by (prev, term) ascending. Reuses
    * [[lmScoreBigram]]'s count relations.
    *
    * Scale shape: positional explode → doc-keyed lag window → bigram /
    * unigram count aggregates (map-combinable, Zipf-collapsed); the
    * two unigram joins are vocabulary-keyed; the global top-k on the
    * bigram-vocabulary relation becomes TakeOrderedAndProject — no
    * corpus-scale sort. */
  def pmiCollocations(docs: DataFrame, k: Int, minCount: Long = 5L): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(minCount >= 1L, s"minCount must be >= 1: $minCount")
    import org.apache.spark.sql.expressions.Window
    val tok = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(expr("""regexp_extract_all(text, '\\S+', 0)"""))
          .as(Seq("pos", "term")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val lg = tok.withColumn("prev", lag(col("term"), 1).over(w))
    val uni = tok.groupBy(col("term")).agg(count(lit(1)).as("__c1"))
    val total = tok.agg(count(lit(1)).as("__tt"))
    val big = lg.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("term")).agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val pmi = floor(log((col("pair_count").cast("double") * col("__tt").cast("double")) /
      (col("__c1p").cast("double") * col("__c1").cast("double"))) * lit(1.0e9)) / lit(1.0e9)
    big.join(uni.select(col("term").as("prev"), col("__c1").as("__c1p")), Seq("prev"))
      .join(uni, Seq("term"))
      .crossJoin(broadcast(total))
      .select(col("prev"), col("term"), col("pair_count"), pmi.as("pmi"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("prev"), col("term"))).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Out-of-vocabulary rate per document against a REFERENCE corpus'
    * vocabulary (domain-shift / tokenizer-fit probe: a doc whose tokens
    * the reference never saw is out-of-domain for anything trained on
    * the reference): oov_rate = tokens (occurrences, not types) absent
    * from the reference vocabulary / doc token count — one IEEE
    * division of exact longs. Docs with NULL text or zero tokens
    * produce no rows.
    *
    * Scale shape: both sides tokenize; the reference collapses to its
    * DISTINCT vocabulary (map-combinable); the membership probe is a
    * term-keyed LEFT join of the target's (doc, term) tf relation
    * against that vocabulary — Zipf-collapsed on both sides — then a
    * doc-keyed map-combinable sum. No corpus-scale sort; the corpus
    * rows themselves never join. */
  def oovRate(docs: DataFrame, reference: DataFrame): DataFrame = {
    val tf = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("__tf"))
    val vocab = reference.filter(col("text").isNotNull)
      .select(explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
      .distinct().withColumn("__in", lit(1))
    tf.join(vocab, Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("__tf")).as("n_tokens"),
        sum(when(col("__in").isNull, col("__tf")).otherwise(lit(0L))).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_rate"))
  }

  /** Zipf-law fit of the corpus' term-frequency distribution: the
    * least-squares slope (and r²) of ln(freq) against ln(rank) over
    * the whole vocabulary — the canonical corpus-health curve (natural
    * text slopes near −1; template/boilerplate corpora flatten or
    * kink, [[vocabGrowth]]'s frequency-domain complement).
    * Cross-engine bit-exactness: ln(rank) and ln(freq) quantize to
    * floor(ln·1e3) INTEGERS (millinats — ample for a fit diagnostic),
    * all five moment sums are EXACT integer accumulations
    * (order-free), and the slope/r² tail is a fixed IEEE sequence on
    * the sums cast to double once. The 1e3 scale is chosen so every
    * sum stays below 2^53 to vocabulary ~2e7 — the int→double casts
    * are then EXACT in both engines (a 1e9 scale pushes Σx·y past
    * 2^53, where Spark's BigDecimal→double is not correctly rounded
    * and the last bits diverge); beyond 2e7 terms pre-center the
    * moments.
    *
    * Scale shape: token explode → the map-combinable vocabulary count;
    * ranks come from a DISTRIBUTED range-partitioned sort +
    * zipWithIndex (the QuantileBins.exactAxis pattern) — every term
    * needs its rank (not a top-k), and a global row_number window
    * would otherwise sort the full vocabulary (1e9+ terms at 100 TB)
    * through ONE WindowExec partition; zipWithIndex instead pays one
    * extra per-partition count job and keeps the sort range-parallel.
    * The moment sums then collapse the |V|-sized relation
    * map-combinably. Ties rank (freq DESC, term). */
  def zipfFit(docs: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val vocab = docs.filter(col("text").isNotNull)
      .select(explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__f"))
    // keyed memo: zipWithIndex runs its per-partition count job at
    // CONSTRUCTION time and the output is a LogicalRDD — every invocation
    // re-ran the vocabulary sort
    val ranked = graft.util.RelCache.memo("zipfRank", vocab)() {
      graft.util.RelCache.persist(
        vocab.orderBy(col("__f").desc, col("term"))
          .select(col("__f")).as[Long].rdd
          .zipWithIndex().map { case (f, i) => (i + 1L, f) }
          .toDF("__r", "__f"))
    }
    def qlnL(c: Column): Column =
      floor(log(c.cast("double")) * lit(1.0e3))
    val m = ranked
      .select(qlnL(col("__r")).as("__x"), qlnL(col("__f")).as("__y"))
      .agg(count(lit(1)).as("n_terms"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"), sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
    val nD = col("n_terms").cast("double")
    def d(name: String): Column = col(name).cast("double")
    val cov = nD * d("__sxy") - d("__sx") * d("__sy")
    val varX = nD * d("__sxx") - d("__sx") * d("__sx")
    val varY = nD * d("__syy") - d("__sy") * d("__sy")
    m.select(col("n_terms"),
      when(col("n_terms") >= 2L && varX > lit(0.0), cov / varX).as("slope"),
      when(col("n_terms") >= 2L && varX > lit(0.0) && varY > lit(0.0),
        (cov * cov) / (varX * varY)).as("r2"))
  }

  /** HEAPS' LAW fit over the [[vocabGrowth]] curve — the growth-side
    * complement of [[zipfFit]] (Zipf reads the settled frequency curve;
    * Heaps asks whether the vocabulary is still GROWING like natural
    * text: V ≈ k·N^β with β ≈ 0.4–0.6 for prose — template/boilerplate
    * corpora saturate early (β → 0), id-heavy or OCR-noise corpora run
    * hot (β → 1)): OLS of ln(cum_types) on ln(cum_tokens) over the
    * growth checkpoints, both lns quantized to millinat INTEGERS (the
    * q210 discipline — the moment sums stay exact in both engines),
    * fixed IEEE slope/r² tail, degenerate (< 2 points or flat x)
    * → NULL. Scale shape: [[vocabGrowth]]'s (one corpus tokenize, two
    * map-combinable aggregates, a buckets-sized cumsum) plus one
    * 6-sum moment aggregate over the buckets relation. */
  def heapsFit(docs: DataFrame, bucketSize: Long): DataFrame = {
    val growth = vocabGrowth(docs, bucketSize)
      .filter(col("cum_tokens") > 0L && col("cum_types") > 0L)
    def qlnL(c: Column): Column =
      floor(log(c.cast("double")) * lit(1.0e3))
    val m = growth
      .select(qlnL(col("cum_tokens")).as("__x"), qlnL(col("cum_types")).as("__y"))
      .agg(count(lit(1)).as("n_points"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"), sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
    val nD = col("n_points").cast("double")
    def d(name: String): Column = col(name).cast("double")
    val cov = nD * d("__sxy") - d("__sx") * d("__sy")
    val varX = nD * d("__sxx") - d("__sx") * d("__sx")
    val varY = nD * d("__syy") - d("__sy") * d("__sy")
    m.select(col("n_points"),
      when(col("n_points") >= 2L && varX > lit(0.0), cov / varX).as("beta"),
      when(col("n_points") >= 2L && varX > lit(0.0) && varY > lit(0.0),
        (cov * cov) / (varX * varY)).as("r2"))
  }

  /** Bigram language-model quality score — [[lmScore]]'s context-aware
    * upgrade (a doc of individually-common tokens in impossible ORDER —
    * shuffled boilerplate, keyword stuffing — scores high under a
    * unigram model but collapses here): mean token log-prob with
    * p(tᵢ|tᵢ₋₁) = cnt(tᵢ₋₁tᵢ)/cnt(tᵢ₋₁) for each token after the
    * first and the unigram p(t₀) for the first, trained on the scored
    * corpus itself (every probability is well-defined: the counts come
    * from the same tokens being scored). Cross-engine bit-exactness:
    * each ln is 1e-9-quantized, per-doc contributions fold in POSITION
    * order (unique within a doc), and the mean is one IEEE division.
    * Docs with NULL text or zero tokens produce no rows.
    *
    * Scale shape: positional token explode → one doc-keyed lag window
    * (partition = one doc's tokens), then the bigram/unigram count
    * aggregates (map-combinable, vocabulary²-collapsed — Zipf makes the
    * realized bigram table far smaller than |V|²) equi-joined back on
    * their keys; the single-row total broadcasts; the final fold is
    * doc-keyed with per-group memory = doc length. Corpus-sized
    * relations move only through hash exchanges — no global sort, no
    * driver state. */
  def lmScoreBigram(docs: DataFrame): DataFrame = graft.util.RelCache.persist {
    // pinned like [[lmScore]]: q197, excessLossSelect and doremiWeights
    // share one bigram pass per corpus
    import org.apache.spark.sql.expressions.Window
    val tok = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(expr("""regexp_extract_all(text, '\\S+', 0)"""))
          .as(Seq("pos", "term")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val lg = tok.withColumn("prev", lag(col("term"), 1).over(w))
    val uni = tok.groupBy(col("term")).agg(count(lit(1)).as("__c1"))
    val total = tok.agg(count(lit(1)).as("__tt"))
    val big = lg.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("term")).agg(count(lit(1)).as("__c2"))
    def qln(num: Column, den: Column): Column =
      floor(log(num.cast("double") / den.cast("double")) * lit(1.0e9)) / lit(1.0e9)
    val first = lg.filter(col("prev").isNull)
      .join(uni, "term").crossJoin(broadcast(total))
      .select(col("doc_id"), col("pos"), qln(col("__c1"), col("__tt")).as("__lp"))
    val rest = lg.filter(col("prev").isNotNull)
      .join(big, Seq("prev", "term"))
      .join(uni.select(col("term").as("prev"), col("__c1").as("__c1p")), Seq("prev"))
      .select(col("doc_id"), col("pos"), qln(col("__c2"), col("__c1p")).as("__lp"))
    first.unionByName(rest)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("__lp")))).as("__a"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (aggregate(col("__a"), lit(0.0), (acc, x) => acc + x.getField("__lp")) /
          col("n_tokens").cast("double")).as("lm2_score"))
  }

  /** Per-source lexical richness — the corpus-linguistics QA card
    * ("machine-generated feeds have freakishly low type-token ratios;
    * scraped word-salad has freakishly high hapax rates"): per source,
    * exact token and type counts, type-token ratio, and the hapax rate
    * (share of the source's vocabulary occurring exactly once in it).
    * Both ratios are single IEEE divisions of exact longs; NULL text
    * contributes nothing.
    *
    * Scale shape: one positional-free token explode → the
    * map-combinable (source, term) count → one source-keyed aggregate
    * over the vocabulary-sized relation. No windows, no sort. */
  def lexicalRichness(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("source"),
        explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("__c"))
      .groupBy(col("source"))
      .agg(sum(col("__c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double")).as("hapax_rate"))

  /** Negative-sampling distribution — the OTHER half of word2vec data
    * prep beside [[skipgramCounts]]: the unigram distribution raised to
    * `alpha` (0.75 in the published recipe — damps stopwords, lifts the
    * tail) and renormalized, p(w) = f_w^α / Σ f^α. One row per
    * vocabulary term: (term, f, p_neg).
    *
    * Cross-engine bit-exactness: counts are exact longs; f^α is
    * floor-quantized to an exact long at 1e6 (pow is not correctly
    * rounded across libms — the quantizer absorbs the last-ulp
    * divergence, the ln/pow discipline everywhere in this repo); the
    * normalizer Σ is an exact DECIMAL(38,0) sum; p_neg is one IEEE
    * division of exact-in-double longs. Bound: Σ floor(f^α·1e6) must
    * stay below 2^53 for the final division's operands — at α=0.75
    * that is ~10^9 distinct terms of corpus frequency 10^6; beyond it,
    * lower the quantization scale.
    *
    * Scale shape: one map-combinable vocabulary count, the quantized
    * weight map-side, the single-row normalizer broadcast. No windows,
    * no sort, no driver state. */
  def negSamplingTable(docs: DataFrame, alpha: Double = 0.75): DataFrame = {
    require(alpha > 0.0, s"alpha must be positive: $alpha")
    val vocab = docs.filter(col("text").isNotNull)
      .select(explode(expr("""regexp_extract_all(text, '\\S+', 0)""")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
      .withColumn("__w",
        floor(pow(col("f").cast("double"), lit(alpha)) * lit(1.0e6)).cast("long"))
    val tot = vocab.agg(sum(col("__w").cast("decimal(38,0)")).as("__t"))
    vocab.crossJoin(broadcast(tot))
      .select(col("term"), col("f"),
        (col("__w").cast("double") / col("__t").cast("double")).as("p_neg"))
  }

  /** Skip-gram co-occurrence counts — the word2vec/GloVe training-data
    * prep [[pmiCollocations]] can't produce (that op sees only ADJACENT
    * bigrams; embedding training wants every ordered (context, center)
    * pair within a ±`window` token span): for each token t_j and each
    * 1 ≤ d ≤ window, the pair (t_{j-d}, t_j) counts once, and the k
    * most frequent pairs are kept (ties: n DESC, t1, t2). Symmetric
    * contexts need no second direction — (a before b) at distance d IS
    * (b after a) at distance d, so the ordered-pair counts carry both.
    *
    * Scale shape: positional token explode → ONE doc-keyed window pass
    * computing all `window` lags (partition = one doc's tokens, the
    * q197 shape), an in-row array explode (×window fan-out of the
    * token relation — linear, never the corpus self-join on doc_id
    * whose output is the same rows built through a shuffle join), the
    * map-combinable pair count (vocabulary²-bounded groups, Zipf-small
    * in practice), and the global top-k as TakeOrdered via
    * orderBy+limit — k rows per partition to the driver, NEVER a
    * single-partition rank window (the q190/q199 lesson). The rank
    * column replays the same total order on the ≤k survivors. */
  def skipgramCounts(docs: DataFrame, window: Int, k: Int): DataFrame = {
    require(window >= 1, s"window must be positive: $window")
    require(k >= 1, s"k must be positive: $k")
    val tok = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(expr("""regexp_extract_all(text, '\\S+', 0)"""))
          .as(Seq("pos", "term")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val withLags = (1 to window).foldLeft(tok) { (d, j) =>
      d.withColumn(s"__l$j", lag(col("term"), j).over(w))
    }
    val pairs = withLags
      .select(explode(array((1 to window).map(j =>
        struct(col(s"__l$j").as("t1"), col("term").as("t2"))): _*)).as("__p"))
      .select(col("__p.t1").as("t1"), col("__p.t2").as("t2"))
      .filter(col("t1").isNotNull)
    val top = pairs.groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2")).limit(k)
    // replay the same total order on the ≤k survivors for the rank
    // column (strings are non-null here — filtered above / tokenized)
    val cmp = (l: Column, r: Column) =>
      when(l.getField("c") > r.getField("c"), lit(-1))
        .when(l.getField("c") < r.getField("c"), lit(1))
        .when(l.getField("a") < r.getField("a"), lit(-1))
        .when(l.getField("a") > r.getField("a"), lit(1))
        .when(l.getField("b") < r.getField("b"), lit(-1))
        .when(l.getField("b") > r.getField("b"), lit(1)).otherwise(lit(0))
    top.agg(collect_list(struct(col("n").as("c"), col("t1").as("a"),
        col("t2").as("b"))).as("__a"))
      .select(posexplode(array_sort(col("__a"), cmp)).as(Seq("__p", "__x")))
      .select(col("__x.a").as("t1"), col("__x.b").as("t2"),
        col("__x.c").as("n"), (col("__p") + lit(1)).cast("int").as("rank"))
  }

}
