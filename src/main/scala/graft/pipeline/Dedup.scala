package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale document pipelines.
  *
  * All operators are shuffle-lean by construction:
  *  - exact dedup: one shuffle keyed by content hash;
  *  - MinHash+LSH: per-doc signatures in one codegen'd pass (MinhashSig —
  *    no shingle explosion or shuffle), candidate pairs come from
  *    band-bucket equi-joins — never an O(n^2) cross join;
  *  - SimHash: per-doc 16-bit signature via 16 conditional sums in ONE
  *    aggregation pass; pairs bounded by a blocking key (source);
  *  - n-gram Jaccard: exact similarity join with PPJoin prefix filtering
  *    (rarest-gram index + size-compatibility pruning) and codegen'd
  *    sorted-set intersection for verification; skewed (hot) buckets are
  *    handled by AQE's skew-join splitting.
  *
  * Hashing is md5-hex (lexicographic min == numeric min on fixed-width hex;
  * both engines share binary collation), so every step has an exact DuckDB
  * oracle.
  */
object Dedup extends org.apache.spark.internal.Logging {

  /** Small single-file inputs arrive as one partition, serializing the
    * per-doc compute (signatures, gram sets). Spread them to the session's
    * parallelism; no-op when the source is big enough to already carry
    * many splits (at real scale, thousands of parquet splits).
    *
    * The decision reads the LOGICAL plan's size estimate
    * (`optimizedPlan.stats.sizeInBytes`: file-listing totals for scans,
    * actual cached bytes for in-memory relations, row-count products for
    * local data) — no physical planning, unlike a `df.rdd` partition
    * probe, which forces the subtree to be planned twice. Inputs at or
    * under the threshold get an unconditional repartition: on megabytes
    * the extra shuffle is microseconds, and it guarantees the per-doc
    * compute fans out. Inputs above it are left untouched — at that size
    * the scan necessarily yields many splits, and a full-corpus
    * repartition would be a 100 TB shuffle for nothing. */
  private val WidenMaxBytes = BigInt(1L << 30) // 1 GiB
  private[pipeline] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= WidenMaxBytes)
      df.repartition(target)
    else {
      // Big or UNKNOWN size estimate (RDD-backed relations report
      // defaultSizeInBytes = Long.MaxValue): fall back to the physical
      // partition probe — it costs a planning pass, but only on inputs
      // where either the work dwarfs it or stats are absent; this also
      // catches large NON-splittable sources (one giant .json.gz split)
      // that the size gate alone would leave serialized on one core.
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }

  /** Bounded derived-relation memo (see graft.util.RelCache): signature /
    * gram-set relations are pinned and reused across operators on the same
    * corpus; call [[clearCache]] to release them. */
  private def memoPersist(df: DataFrame): DataFrame = graft.util.RelCache.persist(df)

  def clearCache(): Unit = graft.util.RelCache.clear()

  /** Content hash per document. */
  def contentHash(text: Column): Column = md5(text.cast("binary"))

  /** Source×source duplicate-content overlap matrix — "which sources
    * copy from each other?" ([[dedupReport]] says how dirty each source
    * is; this says WHERE the dirt comes from — mirror detection, feed
    * provenance, which domains to collapse before mixing weights are
    * set): for every unordered source pair (a < b), the Jaccard of
    * their distinct-content sets |A∩B| / |A∪B| with the exact
    * intersection and both set sizes. Pairs with zero overlap are
    * omitted (at corpus scale the matrix is overlap-sparse; absent row
    * == jaccard 0).
    *
    * Scale shape: the corpus collapses to the DISTINCT (content_hash,
    * source) relation (map-combinable pre-aggregation — duplicate
    * copies within a source count once); the pair generator is a
    * hash-keyed self-join of that relation — per-hash cost
    * |sources_h|², bounded by the source vocabulary squared, never
    * corpus², the typeCooccurrence shape; per-source set sizes ride a
    * broadcast join; jaccard = one IEEE division of exact longs. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val hs = docs.filter(col("text").isNotNull && col("source").isNotNull)
      .select(contentHash(col("text")).as("__h"), col("source").as("__s"))
      .distinct()
    val sizes = hs.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val pairs = hs.join(hs.select(col("__h"), col("__s").as("__s2")), "__h")
      .filter(col("__s") < col("__s2"))
      .groupBy(col("__s").as("source_a"), col("__s2").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("__s").as("source_a"), col("__n").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("__s").as("source_b"), col("__n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }

  /** SUB-DOCUMENT exact dedup at fixed chunk granularity — the
    * CCNet/RefinedWeb per-paragraph dedup shape (Wenzek et al. 2020
    * dedup paragraphs of Common Crawl before anything else; boilerplate
    * headers/footers/licence blocks repeat across MILLIONS of documents
    * that are not whole-document duplicates, so q40-style exact dedup
    * never sees them; the q86 spanDedup STRIPS a repeated span from
    * every document — this is its CCNet-semantics complement, where the
    * FIRST occurrence survives and the output is the retention
    * report): each document's whitespace tokens are split into
    * consecutive `chunkTokens`-sized chunks (the last chunk may be
    * short), a chunk is KEPT only at its first corpus occurrence
    * (lowest (doc_id, chunk index) — deterministic), and the output is
    * the per-document retention report (n_chunks, n_kept, n_tokens,
    * kept_tokens, kept_fraction) a curation pipeline thresholds on.
    * Documents with no tokens report zeros and a NULL fraction.
    *
    * Scale shape: chunks are SLICED straight out of each document's
    * token array inside one map-only projection (chunk rows per doc =
    * ⌈tokens/chunkTokens⌉ — never a per-token explode, never a
    * collect_list rebuild: a first draft that exploded tokens and
    * re-sorted them per chunk group was an order of magnitude slower
    * at the 5M-doc soak scale), then ONE shuffle keyed by the chunk
    * for the first-occurrence election (the exact-dedup shuffle at
    * chunk granularity), one doc-keyed rollup. Nothing is ever
    * quadratic. `hashKey = true` is the 100 TB path: the shuffle key
    * becomes the chunk text's 128-bit md5 (the [[contentHash]]
    * discipline — a constant-width 32-hex-char key instead of
    * arbitrary-length text, and the text column is projected away
    * before the exchange; identical output absent md5 collisions),
    * gated row-identical to the text-keyed form (q360).
    *
    * Cross-engine: chunk text is an exact string; the election is
    * min(struct(doc_id, chunk)) — lexicographic on exact integers in
    * BOTH engines (DuckDB mirrors with MIN(ROW(doc_id, chunk))), so
    * there is no packed key, no bound on doc_id or chunk count, and
    * no overflow to guard; counts exact longs, the fraction ONE IEEE
    * division. */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 10,
                 hashKey: Boolean = false): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be positive: $chunkTokens")
    val chunks = docs
      .select(col("doc_id"),
        regexp_extract_all(coalesce(col("text"), lit("")),
          lit("\\S+"), lit(0)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).as("__ntoks"),
        posexplode(expr(
          s"""CASE WHEN size(__toks) = 0 THEN CAST(array() AS ARRAY<STRING>)
             |ELSE transform(
             |  sequence(0, (size(__toks) - 1) div $chunkTokens),
             |  i -> array_join(
             |    slice(__toks, i * $chunkTokens + 1, $chunkTokens), ' '))
             |END""".stripMargin.replaceAll("\n", " ")))
          .as(Seq("__chunk", "__ctext")))
      .select(col("doc_id"), col("__chunk"),
        (if (hashKey) contentHash(col("__ctext")) else col("__ctext"))
          .as("__ckey"),
        least(lit(chunkTokens),
          col("__ntoks") - col("__chunk") * chunkTokens).cast("long")
          .as("__ctoks"))
    val occ = struct(col("doc_id"), col("__chunk"))
    val firsts = chunks.groupBy(col("__ckey"))
      .agg(min(occ).as("__first"))
    val rollup = chunks.join(firsts, "__ckey")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(occ === col("__first"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("__ctoks")).as("n_tokens"),
        sum(when(occ === col("__first"), col("__ctoks"))
          .otherwise(0L)).as("kept_tokens"))
    docs.select(col("doc_id")).join(rollup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0L,
          coalesce(col("kept_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")).as("kept_fraction"))
  }

  /** Exact dedup: keep the lowest doc_id per identical content
    * (hash-groupBy; single shuffle by content hash). */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .withColumn("keep",
        row_number().over(Window.partitionBy("content_hash").orderBy("doc_id")) === 1)

  /** Per-source duplication report (the dedup dashboard: how dirty is
    * each domain?): doc count, surviving canonical copies, and the
    * duplicate fraction. Canonical election runs on the FULL corpus
    * (cross-source duplicates debit the source holding the non-canonical
    * copy — the same full-corpus rule Curation.curate pins), then one
    * source-keyed count; rate = one IEEE division on exact longs. */
  def dedupReport(docs: DataFrame): DataFrame =
    exact(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_canonical"))
      .select(col("source"), col("n_docs"), col("n_canonical"),
        ((col("n_docs") - col("n_canonical")).cast("double") /
          col("n_docs").cast("double")).as("dup_rate"))

  /** Token-denominated dedup savings (the number a training-budget
    * review actually asks for — DOCS removed says little when duplicates
    * skew short or long): per source, doc and whitespace-token totals
    * against what the canonical copies retain, and the token savings
    * fraction. Same full-corpus canonical election as [[dedupReport]]
    * (cross-source duplicates debit the non-canonical holder); the token
    * counter is the q49 codegen'd regexp_count in the same projection,
    * so the added cost over dedupReport is zero extra passes. Exact
    * integer sums; the fraction is one IEEE division, NULL for a
    * token-less source rather than a fake 0/0. */
  def dedupTokenSavings(docs: DataFrame): DataFrame =
    exact(docs)
      .join(docs.select(col("doc_id"), col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("__tok")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("__tok")).as("tokens_total"),
        sum(when(col("keep"), col("__tok")).otherwise(0L)).as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("tokens_total"), col("tokens_kept"),
        when(col("tokens_total") > 0L,
          (col("tokens_total") - col("tokens_kept")).cast("double") /
            col("tokens_total").cast("double"))
          .as("token_savings"))

  /** Corpus snapshot diff (dataset versioning: what changed between two
    * drops of the same corpus?): per doc_id, `added` (new only),
    * `removed` (old only), `changed` (both, different content hash) or
    * `same` — the review gate before swapping a training corpus
    * version. Content equality is the [[contentHash]] md5, so a
    * reformatted doc reads as changed exactly when exact dedup would
    * treat it as different content; NULL text hashes to NULL and two
    * NULLs compare equal (both-absent content is "same").
    *
    * Scale shape: ONE doc_id-keyed full-outer equi-join of two
    * hash-projected scans (AQE co-partitions), map-side verdict —
    * nothing else shuffles; output is corpus-sized, feed it to an
    * aggregate for the per-source dashboard.
    *
    * PRECONDITION: doc_id is unique WITHIN each snapshot (the corpus
    * primary key — run [[exact]] first if a drop can contain literal
    * re-inserts). A duplicated doc_id fans the full-outer join out to
    * m×n rows for that id and emits one (possibly conflicting) status
    * row per hash pairing; this operator reports that corruption
    * rather than silently collapsing it — gate ingest with
    * [[graft.events.Funnel.fkAudit]]-style uniqueness checks when the
    * upstream can't guarantee the key. */
  def snapshotDiff(newDocs: DataFrame, oldDocs: DataFrame): DataFrame = {
    def proj(df: DataFrame, h: String, p: String) =
      df.select(col("doc_id"), contentHash(col("text")).as(h),
        lit(true).as(p))
    proj(newDocs, "__hn", "__in_new")
      .join(proj(oldDocs, "__ho", "__in_old"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(col("__hn") <=> col("__ho"), lit("same"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Exact dedup on NORMALIZED text (lowercase, collapsed whitespace):
    * same single-shuffle plan as `exact`, catching reformatted copies. */
  def exactNormalized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.pipeline.TextAnalysis.normalizedHash(col("text")).as("content_hash"))
      .withColumn("keep",
        row_number().over(Window.partitionBy("content_hash").orderBy("doc_id")) === 1)

  /** The deduplicated corpus itself (all columns, keepers only). */
  def distinctDocs(docs: DataFrame): DataFrame =
    docs.withColumn("__keep",
        row_number().over(
          Window.partitionBy(contentHash(col("text"))).orderBy("doc_id")) === 1)
      .filter(col("__keep")).drop("__keep")

  /** Word n-grams of a text column as an exploded (doc_id, g) relation:
    * whitespace tokens (regexp \S+ runs — no empty tokens), consecutive
    * n-token windows joined by a single space. Documents with fewer than
    * n tokens yield no grams. Codegen'd builtins only. */
  private def wordGrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        // regexp token extraction, the same \S+ runs the token counter and
        // the DuckDB oracle use (split-by-\s+ would emit empty edge tokens)
        expr("""regexp_extract_all(text, '\\S+', 0)""").as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, size(__t) - ${n - 1})")).as("__i"),
        col("__t"))
      .select(col("doc_id"),
        expr(s"array_join(slice(__t, __i, $n), ' ')").as("g"))

  /** Benchmark decontamination: flag every document sharing ANY word
    * n-gram with an evaluation corpus (the standard n-gram-overlap test
    * used before training on scraped data; n = 13 in common practice,
    * configurable for short documents). Returns (doc_id, contaminated)
    * for ALL input docs.
    *
    * Scale shape: the benchmark side is an eval set — small by nature —
    * so its distinct gram relation is BROADCAST and the corpus-side check
    * is a map-side semi join over the exploded grams followed by one
    * distinct on the (tiny) contaminated-id set; the 100 TB corpus is
    * never shuffled. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 13): DataFrame = {
    val bg = wordGrams(benchmark, n).select(col("g")).distinct()
    val bad = wordGrams(docs, n)
      .join(broadcast(bg), "g")
      .select(col("doc_id")).distinct()
    docs.select(col("doc_id"))
      .join(bad.withColumn("__c", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__c"), lit(false)).as("contaminated"))
  }

  /** [[decontaminate]]'s 100 TB form: a Bloom-filter PREFILTER over the
    * benchmark gram set, then exact verification of the survivors —
    * row-identical output to `decontaminate` (a Bloom filter has NO
    * false negatives, so every truly-contaminated gram survives the
    * screen; the verify join then discards the false positives), gated
    * by the SAME oracle.
    *
    * Why it exists: `decontaminate` BROADCASTS the distinct benchmark
    * gram relation — right for eval sets, impossible when the
    * "benchmark" is itself corpus-scale (decontaminating against a
    * 1e9-gram held-out suite, or cross-corpus blocklists). Here the
    * broadcast state is the Bloom filter: ~1.2 bytes/gram at fpp=0.01
    * (1e9 grams ≈ 1.4 GB vs 100+ GB for the exact set), built by
    * Spark's own runtime-filter machinery (BloomFilterAggregate — one
    * map-combinable pass over the benchmark side, merged driver-side
    * into one binary). The corpus-side screen is a map-side codegen'd
    * might_contain on xxhash64(gram) — the corpus is scanned once and
    * never shuffled; only the screened survivors (true contamination +
    * ~fpp of corpus grams) reach the exact-verify equi-join, which
    * shuffles survivor-sized relations, not the corpus.
    *
    * The filter binary rides through the plan as a LITERAL (the same
    * shape Spark's InjectRuntimeFilter produces); its size is the
    * designed broadcast budget, not driver data growth. */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame,
      n: Int = 13, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.expressions.{Literal, BloomFilterMightContain}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1): $fpp")
    val bg = wordGrams(benchmark, n).select(col("g")).distinct()
    // size the filter from the benchmark side (benchmark-sized action —
    // the same count the exact path's broadcast would materialize anyway)
    val est = math.max(bg.count(), 1L)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(est, fpp)
    val bloomBytes = bg
      .select(GraftShim.column(new BloomFilterAggregate(
          GraftShim.expression(xxhash64(col("g"))),
          Literal(est), Literal(numBits)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val screened = wordGrams(docs, n).filter(GraftShim.column(
      BloomFilterMightContain(
        Literal.create(bloomBytes,
          org.apache.spark.sql.types.BinaryType),
        GraftShim.expression(xxhash64(col("g"))))))
    // exact verify: survivors (tiny) vs the benchmark grams — a shuffle
    // join of two SMALL relations; fpp only tunes its size, never the
    // result
    val bad = screened.join(bg, "g").select(col("doc_id")).distinct()
    docs.select(col("doc_id"))
      .join(bad.withColumn("__c", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__c"), lit(false)).as("contaminated"))
  }

  /** Winnowing fingerprint matching (Schleimer, Wilkerson & Aiken 2003
    * — the MOSS algorithm): per document, hash every word k-gram, slide
    * a w-hash window and keep the MINIMUM hash of each window as a
    * fingerprint — the guarantee the paper proves is that any shared
    * run of w+k-1 tokens shares at least one fingerprint, at ~2/(w+1)
    * of the gram density (LOCAL fingerprint selection, unlike MinHash's
    * global signature: winnowing localizes WHERE documents overlap and
    * detects partial containment MinHash's whole-doc Jaccard dilutes).
    * Emits candidate pairs (doc_a, doc_b, shared) with `shared` =
    * distinct shared fingerprints ≥ `minShared`.
    *
    * Scale shape: gram hashing and the window MIN are doc-partitioned
    * (bounded by doc length — the q195 rank-window precedent), the
    * instance stream collapses to DISTINCT (doc, fp); fingerprints with
    * document frequency > `dfCap` are dropped BEFORE pairing (df-capped
    * bucket join, the LSH bucketCap discipline — boilerplate
    * fingerprints would otherwise quadratically explode the self-join;
    * df=1 fingerprints can't pair and drop too), so pair volume is
    * bounded by dfCap·Σdf. All arithmetic is exact integers; the gram
    * hash is the 60-bit md5 image both engines share. */
  def winnowingPairs(docs: DataFrame, k: Int = 4, w: Int = 4,
      dfCap: Int = 20, minShared: Int = 2): DataFrame = {
    require(k > 0 && w > 0, s"bad winnowing shape: k=$k w=$w")
    require(dfCap >= 2 && minShared >= 1, s"bad caps: $dfCap/$minShared")
    val grams = docs.select(col("doc_id"),
        expr("""regexp_extract_all(text, '\\S+', 0)""").as("__t"))
      .filter(size(col("__t")) >= k + w - 1)
      .select(col("doc_id"), size(col("__t")).as("__n"),
        explode(expr(s"sequence(1, size(__t) - ${k - 1})")).as("__p"),
        col("__t"))
      .select(col("doc_id"), col("__n"), col("__p"),
        conv(substring(md5(
          expr(s"array_join(slice(__t, __p, $k), ' ')")), 1, 15), 16, 10)
          .cast("long").as("__h"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("__p"))
      .rowsBetween(Window.currentRow, w - 1)
    val fps = grams
      .withColumn("__fp", min(col("__h")).over(win))
      .filter(col("__p") <= col("__n") - lit(k + w - 2))
      .select(col("doc_id"), col("__fp")).distinct()
    val fpsP = memoPersist(fps)
    val kept = fpsP.groupBy(col("__fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= dfCap)
      .select(col("__fp"))
    val pairable = fpsP.join(kept, "__fp")
    pairable.select(col("__fp"), col("doc_id").as("doc_a"))
      .join(pairable.select(col("__fp"), col("doc_id").as("doc_b")), "__fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** [[winnowingPairs]] with the MOSS similarity report: per candidate
    * pair, the shared-fingerprint count plus each side's TOTAL selected
    * fingerprint count and the containment score shared/min(|A|, |B|) —
    * the number MOSS ranks matches by ("83% of the smaller document's
    * fingerprints appear in the other"), which localized partial
    * containment needs and whole-doc Jaccard can't express. Denominators
    * count ALL of a doc's selected fingerprints (including df-capped and
    * unshared ones), so the score is a property of the documents, not of
    * the pairing policy. Same scale shape as [[winnowingPairs]] plus two
    * doc-keyed joins of the (dfCap-bounded) pair relation against the
    * per-doc count relation; one IEEE division per pair. */
  def winnowingContainment(docs: DataFrame, k: Int = 4, w: Int = 4,
      dfCap: Int = 20, minShared: Int = 2): DataFrame = {
    require(k > 0 && w > 0, s"bad winnowing shape: k=$k w=$w")
    require(dfCap >= 2 && minShared >= 1, s"bad caps: $dfCap/$minShared")
    val grams = docs.select(col("doc_id"),
        expr("""regexp_extract_all(text, '\\S+', 0)""").as("__t"))
      .filter(size(col("__t")) >= k + w - 1)
      .select(col("doc_id"), size(col("__t")).as("__n"),
        explode(expr(s"sequence(1, size(__t) - ${k - 1})")).as("__p"),
        col("__t"))
      .select(col("doc_id"), col("__n"), col("__p"),
        conv(substring(md5(
          expr(s"array_join(slice(__t, __p, $k), ' ')")), 1, 15), 16, 10)
          .cast("long").as("__h"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("__p"))
      .rowsBetween(Window.currentRow, w - 1)
    val fps = memoPersist(grams
      .withColumn("__fp", min(col("__h")).over(win))
      .filter(col("__p") <= col("__n") - lit(k + w - 2))
      .select(col("doc_id"), col("__fp")).distinct())
    val counts = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("__nf"))
    val kept = fps.groupBy(col("__fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= dfCap)
      .select(col("__fp"))
    val pairable = fps.join(kept, "__fp")
    pairable.select(col("__fp"), col("doc_id").as("doc_a"))
      .join(pairable.select(col("__fp"), col("doc_id").as("doc_b")), "__fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(counts.select(col("doc_id").as("doc_a"), col("__nf").as("fp_a")),
        "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("__nf").as("fp_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("fp_a"), col("fp_b"),
        (col("shared").cast("double") /
          least(col("fp_a"), col("fp_b")).cast("double")).as("containment"))
  }

  /** Leakage-free train/val/test split: the split is decided ONCE per
    * near-duplicate COMPONENT (hash-threshold Bernoulli on the
    * component label) and every member inherits it — so a near-dup pair
    * can never straddle train and test, the contamination a plain
    * per-doc split is structurally unable to prevent (Lewis et al.
    * 2021 measured QA models answering test questions memorized from
    * train-side near-dups). Components come from [[components]] over
    * the verified [[nearDupPairs]] graph; singleton docs are their own
    * component, so clean corpora degrade to an ordinary hash split.
    *
    * Semantics: expected fractions are of COMPONENTS, not docs (a
    * mega-cluster lands whole on one side by design — that is the
    * point); the hash is 60-bit md5 of (component, salt), the
    * [[graft.pipeline.Sampling]] integer-threshold discipline — no
    * float knife-edges cross-engine. Returns (doc_id, component,
    * split). */
  def leakFreeSplit(docs: DataFrame, fracVal: Double, fracTest: Double,
      salt: String, maxIter: Int = 50,
      checkpointDir: Option[String] = None,
      bucketCap: Option[Int] = None): DataFrame = {
    require(fracVal >= 0.0 && fracTest >= 0.0 && fracVal + fracTest < 1.0,
      "fractions must be non-negative and sum to less than 1 (train is the remainder)")
    // bucketCap: the nearDupPairs hot-bucket guard for corpora with
    // massively-replicated documents, where the UNCAPPED pair graph is
    // quadratic per LSH bucket (measured 911 s uncapped at 500k docs
    // with 10x replication). Same documented trade-off as the other cap
    // consumers: docs beyond a bucket's cap lose that bucket's edges
    // and an over-cap clique can fragment into several components —
    // each still split ATOMICALLY, so the leak-free guarantee holds for
    // every pair the capped graph knows about
    val comp = components(docs.select(col("doc_id")),
        nearDupPairs(docs, bucketCap = bucketCap),
        maxIter, checkpointDir)
      .select(col("doc_id"), col("component"))
    val h = graft.pipeline.Sampling.hash60(
      col("component"), lit("component"), salt)
    val tVal = graft.pipeline.Sampling.threshold(fracVal)
    val tTest = graft.pipeline.Sampling.threshold(fracVal + fracTest)
    comp.select(col("doc_id"), col("component"),
      when(h < lit(tVal), lit("val"))
        .when(h < lit(tTest), lit("test"))
        .otherwise(lit("train")).as("split"))
  }

  /** Corpus duplicate n-gram rate per source — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better")
    * corpus diagnostic: of all word n-gram INSTANCES a source
    * contributes, what fraction are duplicated somewhere in the corpus
    * (the mass near-dup and substring dedup would act on, measured
    * BEFORE running them — the number that says whether dedup is worth
    * the pass, and which sources carry the boilerplate). Reported per
    * source with gram counts: (source, total_grams, dup_grams,
    * dup_rate).
    *
    * Scale shape: ONE tokenize pass; the instance stream collapses
    * immediately to the (source, gram) count relation (Zipf-collapsed —
    * this is the relation the corpus-wide gram totals derive from too,
    * so the raw instance explosion is never shuffled); the final join
    * is collapsed-relation × collapsed-relation on the gram key. All
    * counts are exact integers; dup_rate is one IEEE division per
    * source. Docs with NULL text or fewer than n tokens contribute no
    * instances; a source with no grams emits no row. */
  def dupNgramRate(docs: DataFrame, n: Int = 8): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    val grams = docs.select(col("source"),
        expr("""regexp_extract_all(text, '\\S+', 0)""").as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("source"),
        explode(expr(s"sequence(1, size(__t) - ${n - 1})")).as("__i"),
        col("__t"))
      .select(col("source"), expr(s"array_join(slice(__t, __i, $n), ' ')").as("g"))
    // persisted: feeds both the corpus-wide gram totals and the
    // per-source attribution join
    val sg = memoPersist(grams.groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("__c")))
    val gc = sg.groupBy(col("g")).agg(sum(col("__c")).as("__cg"))
    sg.join(gc, "g")
      .groupBy(col("source"))
      .agg(sum(col("__c")).as("total_grams"),
        sum(when(col("__cg") > 1, col("__c")).otherwise(lit(0L))).as("dup_grams"))
      .select(col("source"), col("total_grams"), col("dup_grams"),
        (col("dup_grams").cast("double") / col("total_grams").cast("double"))
          .as("dup_rate"))
  }

  /** Per-doc contamination SCORE against a benchmark (the GPT-3-style
    * report, beyond `decontaminate`'s boolean flag): distinct word
    * n-grams, how many of them appear in the benchmark, and the
    * fraction — the quantity contamination studies threshold on.
    *
    * Scale shape: the corpus side is MAP-ONLY — per-doc sorted distinct
    * gram-hash arrays (one codegen pass, graft.functions.WordGramHashes),
    * intersected against the benchmark's gram-hash set broadcast as ONE
    * sorted array (benchmark-sized work only). No corpus shuffle, no
    * gram explode: the 100 TB cost is a scan. Counts are hash-based
    * (XXH64) — internally consistent, collision-negligible at per-doc
    * gram counts, same contract as the jaccard family. */
  def contaminationScore(docs: DataFrame, benchmark: DataFrame,
      n: Int = 13): DataFrame = {
    val gh = graft.functions.WordGramHashes.word_gram_hashes(col("text"), n)
    // benchmark gram set: distinct hashes collapsed to one sorted array
    // (vocabulary-sized aggregation on the SMALL side only)
    val bg = widen(benchmark).select(explode(gh).as("h")).distinct()
      .agg(sort_array(collect_list(col("h"))).as("bset"))
    widen(docs).select(col("doc_id"), gh.as("gset"))
      .crossJoin(broadcast(bg))
      .withColumn("n_grams", size(col("gset")).cast("long"))
      .withColumn("n_contaminated",
        graft.functions.SortedIntersectCount.sorted_intersect_count(
          col("gset"), col("bset")))
      .withColumn("frac_contaminated",
        when(col("n_grams") === 0L, lit(0.0))
          .otherwise(col("n_contaminated").cast("double") /
            col("n_grams").cast("double")))
      .select("doc_id", "n_grams", "n_contaminated", "frac_contaminated")
  }

  /** Per-doc NOVELTY against a reference corpus: how much of each
    * document's distinct word n-grams is NOT already present in an
    * existing training set — the incremental-crawl curation signal
    * ("is this new data actually new?"). The structural complement of
    * [[contaminationScore]]: there the comparison set is a benchmark
    * (small, broadcast as one sorted array); here it is another CORPUS,
    * so nothing is broadcastable and the overlap must be a shuffle join
    * keyed by the gram.
    *
    * Scale shape: both sides collapse to distinct grams FIRST (map-side
    * combine does most of the work — natural-language gram frequency is
    * Zipfian, so the distinct relation is far smaller than the exploded
    * one), then one equi-join keyed by the gram string and one count
    * keyed by doc. No candidate pairs, no doc×doc work: cost is linear
    * in distinct-gram volume. A boilerplate gram shared by millions of
    * reference docs is STILL one reference-side row after the distinct —
    * hot grams cannot skew the join. */
  def novelty(docs: DataFrame, reference: DataFrame, n: Int = 8): DataFrame = {
    val refG = wordGrams(reference, n).select(col("g")).distinct()
    val newG = wordGrams(docs, n).select(col("doc_id"), col("g")).distinct()
    val counted = newG.join(refG.withColumn("__s", lit(true)), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__s")).as("n_seen"))
    docs.select(col("doc_id"))
      .join(counted, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(coalesce(col("n_grams"), lit(0L)) === 0L,
          lit(null).cast("double"))
          .otherwise((coalesce(col("n_grams"), lit(0L)) - coalesce(col("n_seen"), lit(0L)))
            .cast("double") / coalesce(col("n_grams"), lit(0L)).cast("double"))
          .as("novelty"))
  }

  /** Character shingles of length k as an exploded (doc_id, sh) relation.
    * explode(sequence) + positional substring stays inside whole-stage
    * codegen — a transform(...) lambda would be interpreted per row. */
  def shingles(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), col("text"),
        explode(expr(s"sequence(1, greatest(length(text) - ${k - 1}, 1))")).as("i"))
      .select(col("doc_id"), expr(s"substring(text, i, $k)").as("sh"))

  /** MinHash family: ONE md5 per shingle (60 bits from the first 15 hex
    * chars), then numHashes cheap affine rehashes h_j = (A_j*h + B_j) mod P
    * — products stay under 2^63, exact in any engine. */
  val MhMod = 1000000007L
  def mhA(j: Int): Long = 2654435761L % MhMod * j % MhMod + 1
  def mhB(j: Int): Long = 40503L * j + 7

  /** Per-doc MinHash signature via the codegen'd one-pass expression
    * (graft.functions.MinhashSig): no shingle explode, no shuffle.
    * Columns h1..hN for downstream banding. */
  def minhashSignature(docs: DataFrame, k: Int = 5, numHashes: Int = 8): DataFrame = {
    val sig = graft.functions.MinhashSig.minhash_sig(col("text"), k, numHashes)
    // explode(array(sig)) anchors the signature behind a Generate node so
    // the expression is evaluated ONCE per doc (adjacent projections would
    // otherwise collapse and inline it into each element_at).
    widen(docs).select(col("doc_id"), explode(array(sig)).as("__sig"))
      .select(col("doc_id") +: (1 to numHashes)
        .map(j => element_at(col("__sig"), j).as(s"h$j")): _*)
  }

  /** Exploded band relation (doc_id, band, s1..sN) — the LSH bucketing
    * shared by the self-join (minhashLsh) and the bipartite cross-corpus
    * join (crossNearDup). When `bucketCap` is set, at most that many docs
    * per band bucket survive (lowest doc_ids — deterministic, so an oracle
    * can mirror it): the skew guard that bounds a hot bucket's join
    * contribution regardless of corpus composition. */
  private def bandedRelation(docs: DataFrame, k: Int, bands: Int,
      rowsPerBand: Int, bucketCap: Option[Int] = None): DataFrame = {
    val sig = minhashSignature(docs, k, bands * rowsPerBand)
    val rowNames = (1 to rowsPerBand).map(r => s"s$r")
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band") +:
        (0 until rowsPerBand).map(r =>
          col(s"h${b * rowsPerBand + r + 1}").as(rowNames(r))): _*)
    }
    val banded = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id") +: col("bs.band").as("band") +:
        rowNames.map(rn => col(s"bs.$rn").as(rn)): _*)
    bucketCap.fold(banded)(capBuckets(banded, rowNames, _))
  }

  /** The bucketCap filter as a standalone stage, so the auto skew guard
    * can cap an ALREADY-pinned band relation without re-running the
    * signature pass. Per-bucket window (never single-partition); lowest
    * doc_ids survive — deterministic, so an oracle can mirror it. */
  private def capBuckets(banded: DataFrame, rowNames: Seq[String],
      cap: Int): DataFrame =
    banded.withColumn("__rn", row_number().over(
        Window.partitionBy(("band" +: rowNames).map(col): _*).orderBy("doc_id")))
      .filter(col("__rn") <= cap).drop("__rn")

  /** Auto skew-guard default: the candidate-pair budget above which an
    * UNCAPPED band self-join is refused and a bucketCap is derived from
    * the measured bucket-size distribution instead. 100M verified pairs
    * is minutes of codegen jaccard on one node and trivially parallel on
    * a cluster; the guard exists for the corpus that would otherwise
    * produce billions (a hot bucket of m near-identical docs is m²/2
    * pairs — the one way LSH degenerates at 100 TB). Gated scales stay
    * far below it (sf1 documents: 18.2M measured), so oracle parity is
    * untouched. */
  val AutoCapPairs: Long = 100000000L

  /** Candidate caps the guard may choose from, largest first: the guard
    * picks the LARGEST cap whose capped pair count Σ min(s,c)·(min(s,c)−1)/2
    * fits the budget — least recall loss that restores bounded work. */
  private val AutoCapChoices = Seq(1024, 256, 64, 16)

  // decision memo: the guard's sizing aggregate is one cheap job over the
  // pinned band relation, but pipelines call minhashLsh many times on one
  // corpus (nearDupPairs, nearDupKeep, dupComponents share it) — decide once
  // per (banded relation, budget).
  private val capDecisions = new graft.util.RelCache.Store[Option[Int]](64)

  /** Measures the blocking cost of a pinned band relation (the q273
    * blocking-report metric: Σ s(s−1)/2 over band buckets) and returns the
    * bucketCap to apply — None when the uncapped join fits `budget`. */
  private def decideAutoCap(banded: DataFrame, rowNames: Seq[String],
      budget: Long): Option[Int] = {
    capDecisions("autoCap", banded)(budget) {
      val sizes = banded
        .groupBy(("band" +: rowNames).map(col): _*)
        .agg(count(lit(1)).as("__s"))
      val pairCols =
        sum(expr("__s * (__s - 1) div 2").cast("decimal(38,0)")).as("c_all") +:
          AutoCapChoices.map(c => sum(
            expr(s"least(__s, $c) * (least(__s, $c) - 1) div 2")
              .cast("decimal(38,0)")).as(s"c_$c"))
      val row = sizes.agg(pairCols.head, pairCols.tail: _*).head()
      def cand(i: Int): BigDecimal =
        Option(row.getDecimal(i)).map(BigDecimal(_)).getOrElse(BigDecimal(0))
      if (cand(0) <= BigDecimal(budget)) None
      else {
        val chosen = AutoCapChoices.zipWithIndex
          .collectFirst { case (c, i) if cand(i + 1) <= BigDecimal(budget) => c }
          .getOrElse(AutoCapChoices.last)
        logWarning(s"minhashLsh skew guard: ${cand(0)} candidate pairs " +
          s"exceed budget=$budget (hot band buckets — near-identical " +
          s"docs); applying bucketCap=$chosen " +
          s"(capped pairs=${cand(AutoCapChoices.indexOf(chosen) + 1)}, " +
          "lowest doc_ids kept per bucket; bounded recall loss). Pass " +
          "bucketCap=Some(n) explicitly, or raise autoCapPairs to force " +
          "the exact join.")
        Some(chosen)
      }
    }
  }

  /** The bipartite form of [[decideAutoCap]] for [[crossNearDup]]: the
    * blocking cost is Σ sA·sB over SHARED band buckets (one bucket-keyed
    * join of the two bucket-size relations — bucket-cardinality work),
    * and the capped candidates are Σ min(sA,c)·min(sB,c). */
  private def decideAutoCapCross(bandedA: DataFrame, bandedB: DataFrame,
      rowNames: Seq[String], budget: Long): Option[Int] = {
    capDecisions("autoCapCross", bandedA, bandedB)(budget) {
      val keyCols = ("band" +: rowNames).map(col)
      def sizes(banded: DataFrame, out: String) = banded
        .groupBy(keyCols: _*).agg(count(lit(1)).as(out))
      val joined = sizes(bandedA, "__sa")
        .join(sizes(bandedB, "__sb"), "band" +: rowNames)
      val pairCols =
        sum(expr("__sa * __sb").cast("decimal(38,0)")).as("c_all") +:
          AutoCapChoices.map(c => sum(
            expr(s"least(__sa, $c) * least(__sb, $c)").cast("decimal(38,0)"))
            .as(s"c_$c"))
      val row = joined.agg(pairCols.head, pairCols.tail: _*).head()
      def cand(i: Int): BigDecimal =
        Option(row.getDecimal(i)).map(BigDecimal(_)).getOrElse(BigDecimal(0))
      if (cand(0) <= BigDecimal(budget)) None
      else {
        val chosen = AutoCapChoices.zipWithIndex
          .collectFirst { case (c, i) if cand(i + 1) <= BigDecimal(budget) => c }
          .getOrElse(AutoCapChoices.last)
        logWarning(s"crossNearDup skew guard: ${cand(0)} bipartite " +
          s"candidate pairs exceed budget=$budget; applying " +
          s"bucketCap=$chosen to both sides " +
          s"(capped pairs=${cand(AutoCapChoices.indexOf(chosen) + 1)}). " +
          "Pass bucketCap=Some(n) explicitly, or raise autoCapPairs to " +
          "force the exact join.")
        Some(chosen)
      }
    }
  }

  /** LSH blocking-quality report — the entity-resolution diagnostic a
    * dedup operator needs reviewed BEFORE the pair join runs ("is the
    * banding actually pruning, or is one hot bucket about to do m²
    * work?"): over the band-bucket relation, the bucket count,
    * singleton share, the largest bucket, the CANDIDATE-PAIR count
    * Σ s(s−1)/2 (the actual join work, multiplicity across bands —
    * the cost metric, not the distinct-pair recall metric), and the
    * reduction ratio vs the all-pairs n(n−1)/2. One row.
    *
    * Exact longs per bucket (s(s−1)/2 stays under 2^63 for any bucket
    * below ~3e9 docs), DECIMAL(38,0) totals, ratio = one IEEE division
    * (NULL below 2 docs). Scale shape: the signature pass is
    * [[minhashLsh]]'s; the report is two map-combinable aggregates
    * over the banded relation — the pair join itself NEVER runs. */
  def blockingReport(docs: DataFrame, k: Int = 5, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val banded = bandedRelation(docs, k, bands, rowsPerBand)
    val keyCols = banded.columns.filter(_ != "doc_id").map(col).toSeq
    val buckets = banded.groupBy(keyCols: _*).agg(count(lit(1)).as("__s"))
    val nd = banded.agg(count_distinct(col("doc_id")).as("n_docs"))
    buckets
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("__s") === 1L, 1L).otherwise(0L)).as("n_singletons"),
        max(col("__s")).as("max_bucket"),
        sum(expr("__s * (__s - 1) div 2").cast("decimal(38,0)"))
          .as("__cand"))
      .crossJoin(broadcast(nd))
      .select(col("n_docs"), col("n_buckets"), col("n_singletons"),
        col("max_bucket"), col("__cand").cast("long").as("candidate_pairs"),
        when(col("n_docs") < 2L, lit(null).cast("double"))
          .otherwise(col("__cand").cast("double") /
            ((col("n_docs").cast("decimal(38,0)") *
              (col("n_docs") - 1L).cast("decimal(38,0)")).cast("double") /
              lit(2.0))).as("reduction_ratio"))
  }

  /** MinHash+LSH candidate pairs: band signatures (rows-per-band hashes
    * concatenated) bucket the corpus; docs sharing any band bucket are
    * candidates. bands*rowsPerBand = numHashes.
    *
    * Default band layout 16x4 (64 hashes): a pair at jaccard s becomes a
    * candidate with prob 1-(1-s^4)^16 — 0.988 at s=0.7, ~1 above 0.8,
    * while pairs at the corpus's background similarity (~0.1) almost never
    * collide. The signature cost is unchanged (one md5 per distinct
    * shingle regardless of numHashes); selectivity is what bounds the
    * band-join output, which is THE scale limit for LSH at 100 TB.
    *
    * @param bucketCap optional skew guard: at most this many docs per band
    *   bucket take part in pair generation (lowest doc_ids kept —
    *   deterministic, so an oracle can mirror it). Giant buckets of
    *   near-identical docs otherwise produce m^2 candidate pairs; capping
    *   trades bounded recall loss for bounded work. None engages the
    *   AUTO skew guard: the blocking cost Σ s(s−1)/2 is measured on the
    *   pinned band relation (the q273 blocking-report metric — two
    *   map-combinable aggregates, the join itself never runs) and a cap
    *   is derived + logged only when it exceeds `autoCapPairs`; below
    *   the budget the join is exact, so gated scales are byte-identical
    *   to the pre-guard plan.
    * @param autoCapPairs candidate-pair budget for the auto guard (see
    *   [[AutoCapPairs]]); Long.MaxValue disables it. */
  def minhashLsh(docs: DataFrame, k: Int = 5, bands: Int = 16,
      rowsPerBand: Int = 4, bucketCap: Option[Int] = None,
      autoCapPairs: Long = AutoCapPairs): DataFrame = {
    val rowNames = (1 to rowsPerBand).map(r => s"s$r")
    val keys = "band" +: rowNames
    // persisted: the self-join below would otherwise run the signature
    // (md5 per distinct shingle) once per join side
    val bandedRaw = memoPersist(bandedRelation(docs, k, bands, rowsPerBand, bucketCap))
    val bandedPinned = bucketCap match {
      case Some(_) => bandedRaw            // explicit cap: caller decided
      case None => decideAutoCap(bandedRaw, rowNames, autoCapPairs)
        .fold(bandedRaw)(c => memoPersist(capBuckets(bandedRaw, rowNames, c)))
    }
    val a = bandedPinned.as("a")
    val b = bandedPinned.as("b")
    val joinCond = keys.map(kc => col(s"a.$kc") === col(s"b.$kc"))
      .reduce(_ && _) && col("a.doc_id") < col("b.doc_id")
    // the candidate RELATION is memoized too: minhashLsh, nearDupPairs and
    // nearDupKeep over one corpus share one band join, not just one
    // signature pass
    memoPersist(a.join(b, joinCond)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct())
  }

  /** End-to-end near-duplicate detection: MinHash+LSH candidate generation
    * followed by exact n-gram-Jaccard verification of ONLY the candidates —
    * the standard two-stage shape for dedup at scale (candidates bound the
    * quadratic stage; verification is a codegen'd merge over per-doc
    * hash-sorted gram arrays). */
  def nearDupPairs(docs: DataFrame, k: Int = 5, threshold: Double = 0.7,
      bands: Int = 16, rowsPerBand: Int = 4,
      bucketCap: Option[Int] = None,
      autoCapPairs: Long = AutoCapPairs): DataFrame = {
    val cand = minhashLsh(docs, k, bands, rowsPerBand, bucketCap = bucketCap,
      autoCapPairs = autoCapPairs)
    // verified pairs are shared between nearDupPairs and nearDupKeep
    memoPersist(verifiedJaccard(docs, docs, cand, k)
      .filter(col("jaccard") >= threshold))
  }

  /** The verify stage: exact k-gram jaccard of every candidate pair (doc_a
    * of `a`, doc_b of `b`), UNFILTERED. Each side's gram sets are hashed
    * from its text inside the caller's build and never pinned: callers pin
    * answers. They are columns below the joins, so a filter on jaccard
    * pushed into a join condition reads them instead of re-hashing. `cand`
    * appears once: every reference to a pin copies its plan into the key
    * and cache entry of each artifact built over it. */
  private def verifiedJaccard(a: DataFrame, b: DataFrame, cand: DataFrame,
      k: Int): DataFrame = {
    def grams(docs: DataFrame, side: String) = widen(docs).select(col("doc_id").as(s"doc_$side"),
      graft.functions.GramHashes.gram_hashes(col("text"), lit("g"), k).as(s"g$side"))
    cand.join(grams(a, "a"), "doc_a").join(grams(b, "b"), "doc_b")
      .withColumn("inter",
        graft.functions.SortedIntersectCount.sorted_intersect_count(col("ga"), col("gb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ga")) + size(col("gb")) - col("inter")).cast("double"))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Sketch-accuracy QA for the MinHash pipeline (how well is the
    * signature estimating on THIS corpus?): for each LSH candidate pair,
    * the MinHash ESTIMATE (fraction of the bands·rowsPerBand signature
    * slots that agree — the standard unbiased jaccard estimator) beside
    * the exact n-gram jaccard the verify stage computes. The report a
    * pipeline reads before trusting a cheaper estimate-only threshold,
    * or before re-sizing bands/rows. Cost: the band join is the SAME
    * memoized relation q41/q54 already built; new work is one candidate-
    * keyed slot-compare aggregate and the candidates' verify. Signatures
    * are md5-derived identically in both engines, so the agreement count
    * (and the estimate) gates exactly. */
  def minhashAccuracy(docs: DataFrame, k: Int = 5, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val rowNames = (1 to rowsPerBand).map(r => s"s$r")
    val cand = minhashLsh(docs, k, bands, rowsPerBand)
    val banded = memoPersist(bandedRelation(docs, k, bands, rowsPerBand, None))
    val a = banded.as("a")
    val b = banded.as("b")
    val slotMatches = rowNames
      .map(rn => when(col(s"a.$rn") === col(s"b.$rn"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand
      .join(a, col("doc_a") === col("a.doc_id"))
      .join(b, col("doc_b") === col("b.doc_id") && col("a.band") === col("b.band"))
      .select(col("doc_a"), col("doc_b"), slotMatches.as("__m"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("__m")).as("__m"))
      .select(col("doc_a"), col("doc_b"),
        (col("__m").cast("double") / lit((bands * rowsPerBand).toDouble))
          .as("est_jaccard"))
    // exact jaccard over the same candidates, pinned unfiltered (a
    // 0-jaccard candidate still reports): warm calls skip the hashing
    est.join(memoPersist(verifiedJaccard(docs, docs, cand, k)), Seq("doc_a", "doc_b"))
  }

  /** Near-dup DEDUP verdicts: the docs that survive near-duplicate removal
    * (every doc with a verified near-dup of lower doc_id is dropped). This
    * is the at-scale output shape — one row per surviving doc, linear in
    * corpus size, while the all-pairs relation grows quadratically with
    * duplicate-cluster size. */
  def nearDupKeep(docs: DataFrame, k: Int = 5, threshold: Double = 0.7,
      bands: Int = 16, rowsPerBand: Int = 4,
      bucketCap: Option[Int] = None): DataFrame = {
    val pairs = nearDupPairs(docs, k, threshold, bands, rowsPerBand, bucketCap)
    docs.select(col("doc_id"))
      .join(pairs.select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
  }

  /** Cross-corpus near-duplicate pairs: every doc of `corpusA` (e.g. a new
    * crawl) paired with its verified near-duplicates in `corpusB` (e.g.
    * the existing training set) — the dedup-against-reference operation
    * run before admitting new data. Bipartite form of nearDupPairs: the
    * band join is A-banded × B-banded (never a self-join), candidates are
    * verified with the exact k-gram jaccard, and identical doc_ids are
    * excluded so overlapping corpora don't pair docs with themselves.
    * Output (doc_a ∈ A, doc_b ∈ B, jaccard) is directional.
    *
    * Scale shape: identical to the self-join form — band-bucket equi-join
    * bounded by bucket selectivity, codegen'd sorted-merge verify — with
    * the usual asymmetry win: the new-crawl side is typically orders of
    * magnitude smaller than the reference corpus. The reference side's
    * banded relation is a pin a later crawl reuses; gram sets are hashed
    * inside the verify build and never pinned.
    *
    * @param bucketCap skew guard, applied to EACH side's band buckets
    *   independently (lowest doc_ids kept — deterministic, oracle-
    *   mirrorable): a boilerplate-heavy bucket otherwise emits
    *   |A_bucket|x|B_bucket| candidates, which AQE's skew split
    *   redistributes but cannot shrink. With the cap, any bucket
    *   contributes at most cap^2 pairs. None engages the AUTO guard on
    *   the BIPARTITE cost Σ sA·sB over shared buckets (one bucket-keyed
    *   join of the two bucket-size relations — the join itself never
    *   runs): above `autoCapPairs`, the largest cap whose capped cost
    *   Σ min(sA,c)·min(sB,c) fits is applied to both sides and logged;
    *   below it the join is exact (the minhashLsh contract).
    * @param autoCapPairs candidate-pair budget for the auto guard;
    *   Long.MaxValue disables it. */
  def crossNearDup(corpusA: DataFrame, corpusB: DataFrame, k: Int = 5,
      threshold: Double = 0.7, bands: Int = 16, rowsPerBand: Int = 4,
      bucketCap: Option[Int] = None,
      autoCapPairs: Long = AutoCapPairs): DataFrame = {
    val rowNames = (1 to rowsPerBand).map(r => s"s$r")
    val keys = "band" +: rowNames
    val baRaw = memoPersist(bandedRelation(corpusA, k, bands, rowsPerBand, bucketCap))
    val bbRaw = memoPersist(bandedRelation(corpusB, k, bands, rowsPerBand, bucketCap))
    val (baG, bbG) = bucketCap match {
      case Some(_) => (baRaw, bbRaw)       // explicit cap: caller decided
      case None => decideAutoCapCross(baRaw, bbRaw, rowNames, autoCapPairs)
        .fold((baRaw, bbRaw))(c =>
          (memoPersist(capBuckets(baRaw, rowNames, c)),
            memoPersist(capBuckets(bbRaw, rowNames, c))))
    }
    val ba = baG.as("a")
    val bb = bbG.as("b")
    val joinCond = keys.map(kc => col(s"a.$kc") === col(s"b.$kc"))
      .reduce(_ && _) && col("a.doc_id") =!= col("b.doc_id")
    val cand = memoPersist(ba.join(bb, joinCond)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct())
    memoPersist(verifiedJaccard(corpusA, corpusB, cand, k))
      .filter(col("jaccard") >= threshold)
  }

  /** STREAMING fuzzy decontamination — [[crossNearDup]] with a live
    * left side: flag each ARRIVING document's verified near-duplicates
    * in a static reference corpus (benchmark protection at the
    * near-dup level — the fuzzy sibling of the exact-13-gram
    * decontaminateStream, catching paraphrased/perturbed benchmark
    * copies exact grams miss). Batch execution delegates to
    * [[crossNearDup]] (the oracle-gated semantics).
    *
    * Streaming plan — stateless until the final dedup: the MinHash
    * signature, band structs AND the verify gram-set are all computed
    * IN-ROW on the arriving doc (codegen MinhashSig/GramHashes — no
    * explode-shuffle on the stream side); candidates come from ONE
    * stream-static equi-join against the reference's banded relation
    * (pre-joined with its gram sets and memo-persisted — built once,
    * reused every micro-batch); the jaccard verify is the same codegen
    * SortedIntersectCount; multi-band hits collapse through a
    * dropDuplicates keyed (doc_a, doc_b) AFTER the threshold filter, so
    * state is one row per EMITTED match, not per candidate. A hot
    * stream band bucket's join volume is bounded by the STATIC side's
    * bucket size (the reference corpus) — the skew guard the batch self
    * -join needs is structural here. Emits (doc_a, doc_b, jaccard).
    *
    * STATE BOUND: the default (doc_a, doc_b) dropDuplicates keeps one
    * state row per match EVER EMITTED for the stream's lifetime —
    * acceptable for rare decontamination hits, unbounded on a
    * high-overlap stream. Long-lived deployments pass `tsCol` (the
    * stream's event-time column) + `matchTtl`: the dedup becomes
    * dropDuplicatesWithinWatermark keyed (doc_a, doc_b), so a match's
    * state is EVICTED once the watermark passes its event time +
    * matchTtl — state is bounded by the horizon's match arrival rate.
    * A pair re-matching after eviction re-emits, by design (the
    * [[graft.streaming.StreamingHist.streamingDedup]] TTL semantics).
    * Batch execution is identical either way (the gated q330 form). */
  def nearDupStream(docs: DataFrame, corpus: DataFrame, k: Int = 5,
      threshold: Double = 0.7, bands: Int = 16,
      rowsPerBand: Int = 4, tsCol: Option[String] = None,
      matchTtl: String = "1 hour"): DataFrame = {
    require(!corpus.isStreaming, "the reference side is a static corpus")
    if (!docs.isStreaming)
      return crossNearDup(docs, corpus, k, threshold, bands, rowsPerBand,
        bucketCap = None)
    val rowNames = (1 to rowsPerBand).map(r => s"s$r")
    val keys = "band" +: rowNames
    val bbg = memoPersist(
      bandedRelation(corpus, k, bands, rowsPerBand)
        .withColumnRenamed("doc_id", "doc_b")
        .join(widen(corpus).select(col("doc_id").as("doc_b"),
          graft.functions.GramHashes.gram_hashes(col("text"), lit("g"), k)
            .as("__gb")), "doc_b"))
    val sig = graft.functions.MinhashSig.minhash_sig(col("text"), k,
      bands * rowsPerBand)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band") +:
        (0 until rowsPerBand).map(r =>
          element_at(col("__sig"), b * rowsPerBand + r + 1)
            .as(rowNames(r))): _*)
    }
    // no widen() on the stream side: its stats probe forces batch
    // planning (illegal on a streaming relation), and micro-batches
    // arrive pre-partitioned anyway
    val withTs = tsCol.fold(docs)(c => docs.withWatermark(c, matchTtl))
    val tsCols = tsCol.map(col(_)).toSeq
    val ba = withTs
      .select((col("doc_id") +: tsCols) ++ Seq(
        graft.functions.GramHashes.gram_hashes(col("text"), lit("g"), k)
          .as("__ga"),
        explode(array(sig)).as("__sig")): _*)
      .select((col("doc_id") +: tsCols) ++ Seq(col("__ga"),
        explode(array(bandStructs: _*)).as("bs")): _*)
      .select((col("doc_id") +: tsCols) ++ (col("__ga") +:
        col("bs.band").as("band") +:
        rowNames.map(rn => col(s"bs.$rn").as(rn))): _*)
      .as("a")
    val joinCond = keys.map(kc => col(s"a.$kc") === col(s"b.$kc"))
      .reduce(_ && _) && col("a.doc_id") =!= col("b.doc_b")
    val inter = graft.functions.SortedIntersectCount
      .sorted_intersect_count(col("__ga"), col("__gb"))
    val matched = ba.join(bbg.as("b"), joinCond)
      .withColumn("__inter", inter)
      .withColumn("jaccard", col("__inter").cast("double") /
        (size(col("__ga")) + size(col("__gb")) - col("__inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select((col("a.doc_id").as("doc_a") +: col("doc_b") +:
        col("jaccard") +: tsCols): _*)
    tsCol match {
      case Some(c) => matched
        .dropDuplicatesWithinWatermark("doc_a", "doc_b")
        .drop(c)
      case None => matched.dropDuplicates("doc_a", "doc_b")
    }
  }

  /** 64-bit SimHash per doc over distinct space-separated tokens: bit b is
    * set when the signed sum of token-hash bit b is positive. One codegen'd
    * pass per doc (graft.functions.SimhashSig) — no token explode, no
    * shuffle. Token-less docs are dropped (parity with the relational
    * explode form). */
  def simhash(docs: DataFrame): DataFrame =
    widen(docs).filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        graft.functions.SimhashSig.simhash_sig(col("text")).as("simhash"))

  /** SimHash near-dup pairs within a blocking key (hamming <= maxHamming),
    * found by PIGEONHOLE chunk blocking, never an all-pairs join: split the
    * 64-bit signature into maxHamming+1 equal chunks — a pair at hamming <=
    * maxHamming differs in at most maxHamming chunks, so it must agree on
    * at least one whole chunk — and equi-join on (source, chunk_idx,
    * chunk_bits). Candidate volume is bounded by chunk-bucket sizes (docs
    * sharing 16 signature bits), not by m^2 per source; the post-join
    * hamming filter only verifies. The DuckDB oracle intentionally computes
    * the UNBLOCKED all-pairs form, so the gate independently re-proves the
    * pigeonhole completeness argument on every run. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val nChunks = maxHamming + 1
    // near-equal chunk widths (pigeonhole needs any partition into
    // maxHamming+1 pieces, not equal ones): the first `rem` chunks get an
    // extra bit
    val base = 64 / nChunks
    val rem = 64 % nChunks
    val chunks = (0 until nChunks).map { c =>
      val width = if (c < rem) base + 1 else base
      val offset = c * base + math.min(c, rem)
      (offset, if (width == 64) -1L else (1L << width) - 1)
    }
    // persisted: the chunk self-join would otherwise run the one-pass
    // signature once per side
    val sh = memoPersist(simhash(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id"))
    val chunked = sh.select(col("doc_id"), col("source"), col("simhash"),
      explode(array(chunks.zipWithIndex.map { case ((offset, mask), c) =>
        struct(lit(c).as("ci"),
          expr(s"shiftrightunsigned(simhash, $offset) & $mask").as("cv"))
      }: _*))
        .as("ck"))
      .select(col("doc_id"), col("source"), col("simhash"),
        col("ck.ci").as("ci"), col("ck.cv").as("cv"))
    val a = chunked.as("a")
    val b = chunked.as("b")
    a.join(b, col("a.source") === col("b.source") && col("a.ci") === col("b.ci") &&
        col("a.cv") === col("b.cv") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity join with PPJoin-style prefix
    * filtering, blocked by source.
    *
    * A naive gram-bucket self-join explodes quadratically on common grams.
    * Prefix filtering makes the exact join scale: order each doc's grams by
    * ascending (in-source document frequency, gram) and index only the
    * first floor((1-t)*|A|)+1 of them — any pair with jaccard >= t provably
    * shares a prefix gram, so candidates come from joining the (small)
    * prefix relation only; the full gram sets are consulted just to verify
    * candidates. Join keys are 64-bit hashes of (source, gram). */
  def ngramJaccard(docs: DataFrame, k: Int = 8, threshold: Double = 0.8): DataFrame = {
    // Each doc's gram set is computed in ONE codegen'd pass as a sorted
    // dedup'd hash array (graft.functions.GramHashes) — no per-position
    // explode, no dedup shuffle. Persisted because it feeds frequencies,
    // the prefix index, and the verify step (Spark does not share subplans).
    val gsets = memoPersist(widen(docs).select(col("doc_id"),
      graft.functions.GramHashes.gram_hashes(col("text"), col("source"), k).as("gset")))

    // Prefix index: each doc's first floor((1-t)*|A|)+1 grams in HASH order
    // — the gset arrays are already hash-sorted, so the prefix is a zero-
    // shuffle array slice. The prefix-filter guarantee (any pair with
    // jaccard >= t shares a prefix gram) holds for ANY consistent total
    // order over grams; hash order is consistent corpus-wide, and the
    // oracle's own (frequency, gram) order yields the identical FINAL
    // output by the same soundness argument. Positions (0-based, within
    // the full sorted gset) ride along for the positional filter.
    val oneMinusT = java.lang.Double.toString(1.0 - threshold)
    // persisted: self-joined below (one evaluation per side otherwise)
    val prefix = memoPersist(gsets.select(col("doc_id"), size(col("gset")).cast("long").as("sz"),
      posexplode(expr(
        s"slice(gset, 1, CAST(FLOOR($oneMinusT * size(gset)) AS INT) + 1)"))
        .as(Seq("__p", "__k"))))

    // PPJoin filters BEFORE the distinct, on the raw prefix-match stream:
    //  - size compatibility: jaccard >= t forces t*|B| <= |A| <= |B|/t;
    //  - positional: a pair sharing a prefix gram at positions (i, j) has
    //    |A ∩ B| <= min(i,j) + 1 + min(|A|-i-1, |B|-j-1), which must reach
    //    the overlap bound t/(1+t)*(|A|+|B|) (epsilon-slack so double
    //    rounding can only ADMIT borderline pairs, never drop them).
    val sa = col("a.sz").cast("double")
    val sb = col("b.sz").cast("double")
    val ubound = (least(col("a.__p"), col("b.__p")) + 1 +
      least(col("a.sz") - col("a.__p") - 1, col("b.sz") - col("b.__p") - 1)).cast("double")
    val minOverlap = lit(threshold) / lit(1.0 + threshold) * (sa + sb) - lit(1e-9)
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.__k") === col("b.__k") && col("a.doc_id") < col("b.doc_id") &&
          sa >= lit(threshold) * sb && sb >= lit(threshold) * sa &&
          ubound >= minOverlap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sa"), col("b.sz").as("sb"))
      .distinct()

    // Verify: the per-doc sorted arrays already exist (gsets); count
    // intersections per candidate pair with a single codegen'd merge pass
    // (O(|A|+|B|) per pair) — no re-join through exploded grams.
    val inter = cand
      .join(gsets.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("gset", "ga"), "doc_a")
      .join(gsets.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("gset", "gb"), "doc_b")
      .withColumn("inter",
        graft.functions.SortedIntersectCount.sorted_intersect_count(col("ga"), col("gb")))
      .select("doc_a", "doc_b", "sa", "sb", "inter")

    inter
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sa") + col("sb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Containment similarity join (near-superset detection): directed
    * pairs where |grams(A) ∩ grams(B)| / |grams(A)| >= threshold — doc A
    * is (nearly) contained in B. The asymmetric form catches excerpts,
    * quotes and boilerplate-wrapped copies that Jaccard structurally
    * misses: at |A| << |B|, jaccard ≈ |A|/|B| -> 0 while containment -> 1.
    *
    * Blocking: A-side prefix filter over the same corpus-wide hash-sorted
    * gram arrays as [[ngramJaccard]] — prefix length
    * |A| - ceil(t·|A|) + 1, computed as ceil(t·|A| - eps) so double
    * rounding can only LENGTHEN the prefix (admit candidates), never drop
    * one — joined against the FULL inverted index of the indexed side:
    * containment puts no upper bound on |B|, so the indexed side cannot
    * be prefix-truncated (the standard containment-join shape; candidate
    * volume is bounded by prefix-gram document frequencies, and hot grams
    * are split by AQE's skew handling). Size filter |B| >= t·|A| and the
    * per-occurrence positional overlap bound prune before the distinct;
    * verification is one codegen'd sorted-merge intersection per
    * candidate. The oracle re-derives candidates from its own
    * (frequency, gram) prefix order — any consistent total order is a
    * sound blocking, so agreeing final outputs cross-prove completeness
    * of both. */
  def containment(docs: DataFrame, k: Int = 8, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val gsets = memoPersist(widen(docs).select(col("doc_id"),
      graft.functions.GramHashes.gram_hashes(col("text"), col("source"), k).as("gset")))
    val eps = lit(1e-9)
    val withSz = gsets.filter(size(col("gset")) > 0)
      .select(col("doc_id"), col("gset"), size(col("gset")).cast("long").as("sz"))
    val prefLen = (col("sz") -
      ceil(lit(threshold) * col("sz").cast("double") - eps) + lit(1L)).cast("int")
    val prefix = memoPersist(withSz
      .select(col("doc_id"), col("sz"),
        posexplode(slice(col("gset"), lit(1), prefLen)).as(Seq("__p", "__k"))))
    val full = memoPersist(withSz
      .select(col("doc_id"), col("sz"), posexplode(col("gset")).as(Seq("__p", "__k"))))
    val saD = col("a.sz").cast("double")
    val minOv = lit(threshold) * saD - eps
    val ubound = (least(col("a.__p"), col("b.__p")) + 1 +
      least(col("a.sz") - col("a.__p") - 1, col("b.sz") - col("b.__p") - 1)).cast("double")
    val cand = prefix.as("a").join(full.as("b"),
        col("a.__k") === col("b.__k") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.sz").cast("double") >= minOv && ubound >= minOv)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sa"))
      .distinct()
    cand
      .join(gsets.select(col("doc_id").as("doc_a"), col("gset").as("ga")), "doc_a")
      .join(gsets.select(col("doc_id").as("doc_b"), col("gset").as("gb")), "doc_b")
      .withColumn("containment",
        graft.functions.SortedIntersectCount.sorted_intersect_count(col("ga"), col("gb"))
          .cast("double") / col("sa").cast("double"))
      .filter(col("containment") >= lit(threshold))
      .select("doc_a", "doc_b", "containment")
  }

  /** Connected components over a duplicate-pair graph: the transitive
    * closure the pairwise detectors (minhashLsh / nearDupPairs /
    * simhashPairs) feed. Near-duplication is not transitive — a~b and b~c
    * do not imply a~c above threshold — so cluster-correct dedup must
    * close the pair relation before electing one canonical doc per
    * cluster, where the greedy drop-doc_b rule (nearDupKeep) can drop BOTH
    * endpoints of a chain's middle link. Returns one row per node:
    * (doc_id, component = min doc_id in its component, keep = is that
    * minimum), linear in corpus size.
    *
    * Algorithm: distributed min-label propagation with POINTER JUMPING.
    * Labels start as the node's own id; each round every node takes the
    * min of its own label and its neighbors' labels (one equi-join on the
    * edge relation + one min-aggregate), then shortcuts through its
    * label's own label (L(u) := L(L(u)), one more equi-join — sound
    * because every label IS a node id and L is monotone non-increasing).
    * The edge step alone needs diameter rounds; the shortcut doubles the
    * effective propagation distance per round, so convergence is
    * O(log(diameter)) — near-clique duplicate graphs converge in 2-3
    * rounds and even a pathological n-node CHAIN (possible under
    * transitive near-duplication) needs only ~log2(n) (pinned by spec).
    * Each round is a few shuffles keyed by doc_id, output stays one row
    * per node, and labels are lineage-truncated + previous-round blocks
    * evicted, so the job graph and block storage stay flat across
    * iterations; the convergence check is a single scalar count. At
    * production scale the same loop runs with a reliable checkpoint dir
    * instead of localCheckpoint.
    *
    * Precondition: every id in `pairs` must appear in `nodes` (true for
    * any pair relation derived from the same corpus) — edges to unknown
    * nodes would silently drop in the jump join's inner equi-join.
    *
    * @param maxIter hard bound on rounds (a last-resort guard; the loop
    *   exits on convergence). If the bound is hit the labels returned are
    *   the current (still valid, possibly unconverged) upper bounds. */
  /** Result of a connected-components run: the labels relation
    * (doc_id, component, keep), the number of rounds the loop ran, and
    * whether it reached the true fixpoint. Unconverged labels are still
    * monotone UPPER bounds on the true component ids, but a
    * `keep = (node == comp)` election on them double-keeps documents in
    * any cluster the bound split — callers that proceed anyway must opt
    * in via [[componentsRun]] and check `converged` themselves. */
  final case class ComponentsRun(labels: DataFrame, rounds: Int, converged: Boolean)

  /** Connected components over the near-dup pair graph; throws
    * IllegalStateException if `maxIter` rounds did not reach the fixpoint
    * (silent unconverged labels are a dedup-QUALITY bug, not a
    * performance detail — see [[ComponentsRun]]). Pointer jumping makes
    * the bound comfortable: rounds ~ log2(graph diameter), so the default
    * 50 covers any graph whose diameter fits in a double.
    *
    * @param checkpointDir reliable (HDFS/S3) directory for per-round
    *   lineage truncation on a real cluster — localCheckpoint (the
    *   default) ties checkpoint blocks to executor lifetime, so an
    *   executor loss mid-run fails the job. Each round's files are
    *   deleted as soon as the next round is materialized. */
  def components(nodes: DataFrame, pairs: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    // Keyed memo: the labels relation is a localCheckpoint-backed
    // LogicalRDD, so plan-keyed RelCache.persist can never dedupe two
    // runs — consumers sharing one (nodes, pairs) graph (the exact-dup
    // components behind q85 and the leak-free split, plus repeated bench
    // passes) re-ran the full pointer-jumping iteration without this.
    graft.util.RelCache.memo("components", nodes, pairs)(maxIter, checkpointDir) {
      val run = componentsRun(nodes, pairs, maxIter, checkpointDir)
      if (!run.converged)
        throw new IllegalStateException(
          s"components did not converge within maxIter=$maxIter rounds; " +
            "raise maxIter (rounds grow ~log2(graph diameter)) or use " +
            "componentsRun to inspect the partial labels")
      run.labels
    }
  }

  /** Canonical-copy election by QUALITY over duplicate clusters: keep
    * the best-scoring doc per connected component (ties: lowest doc_id)
    * instead of [[components]]' lowest-id rule — the production form,
    * where the canonical copy should be the most complete/highest-quality
    * duplicate, not whichever crawled first. Built on the same transitive
    * closure; the election is one component-keyed aggregate (max of a
    * (score, -doc_id) struct — an argmax with NO per-group sort or
    * window) joined back, so the added cost is two shuffles keyed by
    * component and output stays one row per node:
    * (doc_id, component, score, keep).
    *
    * @param scored one row per doc: (doc_id, <scoreCol>); scores must be
    *   non-null (NULL breaks struct-max ordering — coalesce upstream). */
  def componentsKeepBy(scored: DataFrame, pairs: DataFrame,
      scoreCol: String = "score", maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val comp = components(scored.select(col("doc_id")), pairs, maxIter,
        checkpointDir)
      .select(col("doc_id"), col("component"))
    val withScore = comp.join(
      scored.select(col("doc_id"), col(scoreCol).as("__s")), "doc_id")
    // lexicographic struct max = (max score, then min doc_id via -id):
    // exactly one keeper per component, deterministically
    val best = withScore.groupBy(col("component"))
      .agg(max(struct(col("__s").as("s"), (-col("doc_id")).as("negid"))).as("__b"))
    withScore.join(best, "component")
      .select(col("doc_id"), col("component"), col("__s").as(scoreCol),
        (col("__s") === col("__b.s") && col("doc_id") === -col("__b.negid"))
          .as("keep"))
  }

  /** components + round count + convergence flag (the non-throwing form;
    * also used by tests and capacity planning). */
  def componentsRun(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 50, checkpointDir: Option[String] = None): ComponentsRun = {
    val sc = nodes.sparkSession.sparkContext
    // scope the context-global checkpoint dir to this run: remember the
    // session's own setting and restore it on exit (setCheckpointDir(null)
    // clears it — Option(null) in SparkContext), so other jobs'
    // rdd.checkpoint() calls never land in (or get deleted from) our tree
    val prevCheckpointDir = sc.getCheckpointDir
    checkpointDir.foreach(sc.setCheckpointDir)
    try componentsRunInner(nodes, pairs, maxIter, checkpointDir, sc)
    finally if (checkpointDir.isDefined)
      sc.setCheckpointDir(prevCheckpointDir.orNull)
  }

  private def componentsRunInner(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int, checkpointDir: Option[String],
      sc: org.apache.spark.SparkContext): ComponentsRun = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .distinct()
      .persist()
    // Each round's labels are materialized with truncated lineage; without
    // explicit release a d-round run pins d corpus-sized artifacts.
    // localCheckpoint mode: the checkpointed RDD is the one wrapped by the
    // returned Dataset's LogicalRDD leaf — unpersist exactly that id (a
    // global getPersistentRDDs before/after diff would also sweep up
    // UNRELATED caches that happen to materialize during the round, e.g.
    // the edges persist or RelCache pins lazily registered by round 1's
    // job). Reliable mode: the artifact is the leaf RDD's checkpoint
    // FILES — delete those paths once the next round is on disk.
    final case class Pin(df: DataFrame, blockIds: Set[Int], files: Set[String])
    // the round pins not yet released: a round that throws releases them
    val live = scala.collection.mutable.Set[Pin]()
    def pin(df: => DataFrame): Pin = {
      val reliable = checkpointDir.isDefined
      val out = if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
      val leafRdds = out.queryExecution.analyzed.collectLeaves().collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      val p = if (reliable) Pin(out, Set.empty, leafRdds.flatMap(_.getCheckpointFile).toSet)
        else Pin(out, leafRdds.map(_.id).toSet, Set.empty)
      live += p
      p
    }
    def release(p: Pin): Unit = {
      live -= p
      p.blockIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
      p.files.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(sc.hadoopConfiguration).delete(path, true)
      }
    }
    try {
      var labels = pin(
        nodes.select(col("doc_id").as("node"), col("doc_id").as("comp")))
      var it = 0
      var converged = false
      while (!converged && it < maxIter) {
        val prop = labels.df.as("l")
          .join(edges.as("e"), col("l.node") === col("e.u"))
          .select(col("e.v").as("node"), col("l.comp").as("comp"))
        // relax via left join + least, not union + groupBy: a Union inside
        // the loop trips Catalyst's constraint rewrite once the jump join's
        // regenerated attribute ids feed back in (AttributeMap key-not-found
        // in UnionBase.rewriteConstraints); the join form is equivalent and
        // also skips re-shuffling the untouched labels rows
        val nbrMin = prop.groupBy("node").agg(min("comp").as("__nc"))
        val relaxed = pin(
          labels.df.join(nbrMin, Seq("node"), "left")
            .select(col("node"),
              least(col("comp"), coalesce(col("__nc"), col("comp"))).as("comp")))
        // pointer jump: L(u) := L(L(u)). Inner join is total — every comp
        // value is some node's id, and the labels relation has a row for
        // every node; L(L(u)) <= L(u) because labels only ever decrease.
        val next = pin(
          relaxed.df.as("a").join(relaxed.df.as("b"), col("a.comp") === col("b.node"))
            .select(col("a.node").as("node"), col("b.comp").as("comp")))
        val changed = next.df.as("n").join(labels.df.as("o"), "node")
          .filter(col("n.comp") < col("o.comp")).count()
        release(labels)
        release(relaxed)
        labels = next
        converged = changed == 0L
        it += 1
      }
      live -= labels // the result
      ComponentsRun(
        labels.df.select(col("node").as("doc_id"), col("comp").as("component"),
          (col("node") === col("comp")).as("keep")),
        it, converged)
    } finally {
      edges.unpersist()
      live.toList.foreach(release)
    }
  }

  /** Span-level dedup: line/paragraph dedup (CCNet, RefinedWeb) generalized
    * to corpora without line structure. Each doc is segmented into
    * consecutive `spanWords`-token windows (the trailing short window is
    * its own span, so the text is fully covered); a span is BOILERPLATE
    * when its cross-corpus document frequency exceeds `maxDocs`. Returns
    * one row per doc: span count, spans removed, and the md5 of the
    * retained text (surviving spans rejoined by single spaces in original
    * order) — the hash pins exact reconstruction while keeping the output
    * row narrow.
    *
    * Scale shape: the span relation is a bounded explode (|tokens|/w rows
    * per doc); document frequency is one shuffle keyed by span text with a
    * two-level (span, doc) aggregate. The boilerplate SET — spans above
    * the frequency cut — is usually tiny (text repeated across > maxDocs
    * docs), and the marking join is left to AQE, which converts it to a
    * broadcast at runtime from the MEASURED aggregate output size — a
    * forced broadcast hint would OOM the driver on a pathological corpus
    * (e.g. a fully-replicated one, where EVERY span crosses the cut);
    * rebuild is a per-doc aggregate keyed by doc_id. */
  def spanDedup(docs: DataFrame, spanWords: Int = 8, maxDocs: Int = 1): DataFrame = {
    require(spanWords > 0 && maxDocs >= 1)
    val w = spanWords
    // nSpans = max(1, ceil(|tokens| / w)): token-less docs get one empty
    // span so every input doc appears in the output
    val spans = widen(docs)
      .select(col("doc_id"), expr("""regexp_extract_all(text, '\\S+', 0)""").as("__t"))
      .select(col("doc_id"), col("__t"),
        explode(expr(
          s"sequence(0, CAST(greatest(ceil(size(__t) / ${w}.0), 1.0) AS BIGINT) - 1)"))
          .as("si"))
      .select(col("doc_id"), col("si"),
        expr(s"array_join(slice(__t, CAST(si * $w + 1 AS INT), $w), ' ')").as("span"))
    // persisted: feeds both the frequency count and the marking join
    val spansP = memoPersist(spans)
    val bp = spansP.groupBy("span").agg(countDistinct("doc_id").as("__df"))
      .filter(col("__df") > maxDocs)
      .select(col("span"), lit(true).as("__bp"))
    spansP.join(bp, Seq("span"), "left")
      .withColumn("__bp", coalesce(col("__bp"), lit(false)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__bp").cast("long")).as("n_removed"),
        md5(expr("array_join(transform(filter(array_sort(" +
          "collect_list(struct(si, span, __bp))), x -> NOT x.__bp), " +
          "x -> x.span), ' ')").cast("binary")).as("kept_md5"))
  }

  /** EXACT-SUBSTRING dedup at the token level (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * ExactSubstr): flag every MAXIMAL token range lying inside any
    * VERBATIM-repeated span of ≥ `spanTokens` tokens anywhere in the
    * corpus (another doc OR another position of the same doc). The
    * variable-length completion of [[spanDedup]]'s fixed non-overlapping
    * windows: a repeated 200-token quote is reported as ONE maximal
    * span with its true extent, not as whichever aligned w-blocks it
    * happens to overlap.
    *
    * Identity (why sliding windows suffice — no suffix array needed): a
    * token lies inside a repeated span of length ≥ L iff it is covered
    * by some repeated L-gram window, so the UNION of repeated-window
    * coverage IS the removal set of the published suffix-array pass;
    * merging overlapping/adjacent windows yields the maximal ranges.
    * Output: (doc_id, span_start, span_end, span_len) — 1-based token
    * indices, inclusive; clean docs are absent.
    *
    * Cross-engine: grams are whitespace tokens joined by ' ' (the q49
    * convention), identified by the shared 60-bit md5 image; positions
    * and span bounds are exact integers; repetition counts ALL
    * occurrences (multiplicity, within-doc repeats included).
    *
    * Scale shape: the window relation is |corpus tokens| rows — the
    * tokenizer-pass cost; repetition is ONE hash-keyed map-combinable
    * count over it; membership is an equi-join of that relation against
    * the (tiny) repeated-gram set — NO pair join anywhere, so no
    * quadratic regime exists (the suffix-array alternative pays a
    * global sort of the same row count); the island merge is a per-doc
    * window, bounded by doc length. */
  def repeatedSpans(docs: DataFrame, spanTokens: Int = 8): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive: $spanTokens")
    val L = spanTokens
    // interval union of [p, p+L-1]: a new island starts when the next
    // repeated position begins beyond the previous covered end + 1
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("__p"))
    repeatedPositions(docs, L)
      .withColumn("__brk",
        when(col("__p") > lag(col("__p"), 1).over(ord) + lit(L), 1L)
          .otherwise(0L))
      .withColumn("__g", sum(col("__brk")).over(ord))
      .groupBy(col("doc_id"), col("__g"))
      .agg(min(col("__p")).cast("long").as("span_start"),
        (max(col("__p")) + lit(L - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"))
  }

  /** The sliding L-gram window relation (doc_id, __p, __h) — persisted,
    * so every consumer over one (corpus, L) shares the tokenizer pass
    * ([[repeatedSpans]], [[removeRepeatedSpans]], the keep-first
    * variant). */
  private def slidingGramWindows(docs: DataFrame, L: Int): DataFrame =
    memoPersist(widen(docs)
      .select(col("doc_id"),
        expr("""regexp_extract_all(text, '\\S+', 0)""").as("__t"))
      .filter(size(col("__t")) >= L)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, size(__t) - ${L - 1})")).as("__p"),
        col("__t"))
      .select(col("doc_id"), col("__p"),
        conv(substring(md5(
          expr(s"array_join(slice(__t, __p, $L), ' ')")), 1, 15), 16, 10)
          .cast("long").as("__h")))

  /** The (doc_id, __p) positions whose L-gram repeats anywhere in the
    * corpus — the shared first stage of [[repeatedSpans]] (report form)
    * and [[removeRepeatedSpans]] (apply form). */
  private def repeatedPositions(docs: DataFrame, L: Int): DataFrame = {
    val winsP = slidingGramWindows(docs, L)
    val dupGrams = winsP.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2L).select(col("__h"))
    winsP.join(dupGrams, "__h").select(col("doc_id"), col("__p"))
  }

  /** The APPLY side of [[repeatedSpans]] — Lee et al. 2022's ExactSubstr
    * removal itself: every token covered by a verbatim-repeated span of
    * ≥ `spanTokens` tokens is dropped, and each doc reports its token
    * count, removed count, and the md5 of the surviving tokens rejoined
    * in order (the q86 kept-hash convention — a full-strength gate over
    * the cleaned text without shipping it). EVERY input doc appears;
    * clean and token-less docs keep everything (n_removed = 0).
    *
    * Scale shape: [[repeatedPositions]]'s linear window pass, then the
    * covered-position set collapses per doc (bounded by doc length) and
    * one left join attaches it; the keep filter and the hash run IN-ROW
    * over codegen array HOFs — no second shuffle of the corpus. */
  def removeRepeatedSpans(docs: DataFrame, spanTokens: Int = 8): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive: $spanTokens")
    dropCoveredTokens(docs, repeatedPositions(docs, spanTokens), spanTokens)
  }

  /** The ALL-BUT-FIRST form of [[removeRepeatedSpans]] — the exact
    * semantics Lee et al. 2022 (§4.2) describe for ExactSubstr ("leave
    * one copy"): a window occurrence of a repeated L-gram survives iff
    * it is the gram's corpus-FIRST occurrence (lexicographic
    * min(struct(doc_id, position)) — the [[chunkDedup]] election at
    * sliding-window granularity); tokens covered only by first
    * occurrences keep, tokens covered by any NON-first occurrence
    * drop. The corpus-earliest copy of a boilerplate block therefore
    * survives verbatim while every later copy is cut — where
    * [[removeRepeatedSpans]] (the released-tool behavior) cuts ALL
    * copies including the first. Output schema and conventions are
    * [[removeRepeatedSpans]]'s (n_tokens, n_removed, kept_md5; every
    * doc appears).
    *
    * Scale shape: identical to [[removeRepeatedSpans]] — the shared
    * persisted window relation, one map-combinable gram aggregate (now
    * carrying min(struct) beside the count), one equi-join back; the
    * election adds no shuffle. */
  def removeRepeatedSpansKeepFirst(docs: DataFrame,
      spanTokens: Int = 8): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive: $spanTokens")
    val winsP = slidingGramWindows(docs, spanTokens)
    val occ = struct(col("doc_id"), col("__p"))
    val grams = winsP.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c"), min(occ).as("__first"))
      .filter(col("__c") >= 2L)
      .select(col("__h"), col("__first"))
    val nonFirst = winsP.join(grams, "__h")
      .filter(occ =!= col("__first"))
      .select(col("doc_id"), col("__p"))
    dropCoveredTokens(docs, nonFirst, spanTokens)
  }

  /** Shared apply tail: drop every token covered by a (doc_id, __p)
    * flagged window start, report n_tokens / n_removed / kept-md5 for
    * EVERY input doc (clean and token-less docs keep everything). */
  private def dropCoveredTokens(docs: DataFrame, positions: DataFrame,
      L: Int): DataFrame = {
    val covered = positions
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("__p"))).as("__ps"))
    widen(docs)
      .select(col("doc_id"),
        coalesce(expr("""regexp_extract_all(text, '\\S+', 0)"""),
          expr("CAST(array() AS ARRAY<STRING>)"))
          .as("__t")) // NULL text = zero tokens, not NULLs
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("__t")).cast("long").as("n_tokens"),
        expr(("CASE WHEN __ps IS NULL THEN __t ELSE " +
          "filter(__t, (tok, i) -> NOT exists(__ps, " +
          s"p -> p <= i + 1 AND i + 1 <= p + ${L - 1})) END")).as("__kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("__kept")).cast("long")).as("n_removed"),
        md5(expr("array_join(__kept, ' ')").cast("binary")).as("kept_md5"))
  }

  /** TRIANGLE census of the verified near-dup pair graph — the dedup
    * QA the component report (q135) can't see: transitivity
    * = 3·triangles/wedges says whether near-duplication behaves like an
    * equivalence relation on this corpus (→ 1: clusters are cliques —
    * canonical-copy election is safe; → 0: long chains — A~B~C with
    * A≁C, where keep-one-per-component silently drops NON-duplicates
    * and a threshold bump splits clusters). Nodes/edges/wedges/
    * triangles as exact longs, transitivity one IEEE division, NULL
    * when no wedges exist.
    *
    * Scale shape: edges are the [[nearDupPairs]] output (threshold-
    * verified, so the graph is sparse by construction — bucketCap
    * bounds any LSH bucket blowup upstream). Triangles via the
    * oriented edge-join (a<b<c once each): two hash joins keyed on a
    * shared VERTEX — the standard distributed triangle plan; a hot
    * vertex is exactly an over-merged dup cluster, which AQE skew
    * splitting absorbs and this report is the tool that surfaces.
    * Wedges from one degree aggregate; all single-row tails
    * broadcast. */
  def dupGraphStats(docs: DataFrame, k: Int = 5, threshold: Double = 0.7,
      bands: Int = 16, rowsPerBand: Int = 4,
      bucketCap: Option[Int] = None): DataFrame =
    graphStats(nearDupPairs(docs, k, threshold, bands, rowsPerBand, bucketCap)
      .select(col("doc_a"), col("doc_b")))

  /** The census over an explicit undirected edge set (doc_a < doc_b,
    * no duplicates) — [[dupGraphStats]] without the pair generation,
    * for any pair relation (simhash, containment, cross-corpus). */
  private[graft] def graphStats(edges: DataFrame): DataFrame = {
    val e = edges
    val deg = e.select(col("doc_a").as("v"))
      .unionByName(e.select(col("doc_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val w = deg.agg(
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e2.doc_a") === col("e1.doc_b"))
      .join(e.as("e3"), col("e3.doc_a") === col("e1.doc_a") &&
        col("e3.doc_b") === col("e2.doc_b"))
      .agg(count(lit(1)).as("n_triangles"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    w.crossJoin(broadcast(tri)).crossJoin(broadcast(ne))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0L, lit(null).cast("double"))
          .otherwise((lit(3L) * col("n_triangles")).cast("double") /
            col("n_wedges").cast("double")).as("transitivity"))
  }
}
