package graft

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1"),
    (2L, "the quick brown fox jumps over the lazy dog", "en", "s1"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "en", "s1"), // near dup of 1
    (4L, "der schnelle braune fuchs und der faule hund", "de", "s2"),
    (5L, "completely different text about databases!", "en", "s2")
  ).toDF("doc_id", "text", "lang", "source")

  test("decontamination flags exactly the docs sharing a word n-gram") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),        // benchmark
      (2L, "completely different text here ok"), // clean
      (3L, "xx the quick brown fox yy"),          // shares 4-gram with 1
      (4L, "quick brown fox"),                    // < n tokens: no grams
      (5L, "the  quick   brown fox ...")          // extra whitespace, same tokens
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.decontaminate(
        docs, docs.filter($"doc_id" === 1L), n = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false, 5L -> true))
  }

  test("bloom decontamination is row-identical to the exact path") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "completely different text here ok"),
      (3L, "xx the quick brown fox yy"),
      (4L, "quick brown fox"),
      (5L, "the  quick   brown fox ...")
    ).toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" === 1L)
    val exact = graft.pipeline.Dedup.decontaminate(docs, bench, n = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the theorem under the q225 gate: bloom screen (NO false negatives)
    // + exact verify (drops the false positives) == exact output — even
    // at an absurd fpp where nearly every gram survives the screen
    for (fpp <- Seq(0.01, 0.5)) {
      val bloom = graft.pipeline.Dedup.decontaminateBloom(
          docs, bench, n = 4, fpp = fpp)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(bloom == exact, s"fpp=$fpp")
    }
    // empty benchmark: nothing is contaminated, and the filter build
    // must not crash on a zero-row aggregate
    val none = graft.pipeline.Dedup.decontaminateBloom(
        docs, docs.filter($"doc_id" < 0L), n = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(none.values.forall(_ == false) && none.size == 5)
  }

  test("rrfFusion: fused score is 1/(60+r) per head; absent docs drop") {
    val docs = Seq(
      (1L, "spark spark spark engine"),
      (2L, "spark is here"),
      (3L, "nothing relevant at all"),
      (4L, "fast query"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis.rrfFusion(
        docs, Seq("spark", "query", "fast"), k = 4, kList = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // doc 3 (no query terms) and doc 5 (null text) never appear
    assert(out.map(_._1).toSet.intersect(Set(3L, 5L)).isEmpty)
    // doc 4 matches TWO terms -> tops both heads; doc 1 (3x spark) is
    // second in both; doc 2 third in both: rrf = 2/(60+r) exactly
    val byDoc = out.map(t => t._1 -> t._2).toMap
    assert(byDoc(4L) == 1.0 / 61 + 1.0 / 61)
    assert(byDoc(1L) == 1.0 / 62 + 1.0 / 62)
    assert(byDoc(2L) == 1.0 / 63 + 1.0 / 63)
    // ranks are contiguous from 1 in fused-score order
    assert(out.sortBy(_._3).map(_._3).toSeq == (1 to out.length).toSeq)
    assert(out.sortBy(_._3).map(_._1).toSeq == Seq(4L, 1L, 2L))
  }

  test("profileWindowed: per-window exact null/distinct counts catch an ingest break") {
    def tsv(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      (tsv(1), java.lang.Long.valueOf(1L), "a"),
      (tsv(2), java.lang.Long.valueOf(2L), "b"),
      // second window: user_id goes all-NULL, types collapse to one
      (tsv(11), null.asInstanceOf[java.lang.Long], "a"),
      (tsv(12), null.asInstanceOf[java.lang.Long], "a"),
      // NULL event time: excluded (no window to attribute)
      (null.asInstanceOf[java.sql.Timestamp], java.lang.Long.valueOf(9L), "z")
    ).toDF("event_time", "user_id", "event_type")
    val out = graft.pipeline.Curation.profileWindowed(ev, "event_time",
        "10 seconds", Seq("user_id", "event_type"))
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out((0L, "user_id")) == ((2L, 0L, 2L)))
    assert(out((0L, "event_type")) == ((2L, 0L, 2L)))
    assert(out((10L, "user_id")) == ((2L, 2L, 0L)))   // the break, visible
    assert(out((10L, "event_type")) == ((2L, 0L, 1L))) // cardinality collapse
    assert(out.size == 4)
  }

  test("profileWindowedSketch: exact columns match profileWindowed; contract holds") {
    def tsv(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      (tsv(1), java.lang.Long.valueOf(1L), "a"),
      (tsv(2), java.lang.Long.valueOf(2L), "b"),
      (tsv(11), null.asInstanceOf[java.lang.Long], "a"),
      (tsv(12), null.asInstanceOf[java.lang.Long], "a")
    ).toDF("event_time", "user_id", "event_type")
    val out = graft.pipeline.Curation.profileWindowedSketch(ev, "event_time",
        "10 seconds", Seq("user_id", "event_type"), rsd = 0.05, bound = 0.15)
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out((0L, "user_id")) == ((2L, 0L, 2L, true)))
    assert(out((10L, "user_id")) == ((2L, 2L, 0L, true))) // all-NULL: est 0 == exact 0
    assert(out((10L, "event_type")) == ((2L, 0L, 1L, true)))
    assert(out.size == 4)
  }

  test("negSamplingTable: unigram^0.75 renormalized; probabilities sum to ~1") {
    val d = Seq((1L, "a a a a a a a a a a a a a a a a b"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.negSamplingTable(d, alpha = 0.75)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // f(a)=16, f(b)=1: weights 16^.75=8 vs 1 -> p = 8/9, 1/9 exactly
    // (both powers land on the 1e-6 grid: 8000000 and 1000000)
    assert(out("a") == ((16L, 8000000.0 / 9000000.0)))
    assert(out("b") == ((1L, 1000000.0 / 9000000.0)))
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("sourceOverlap: pair Jaccard of distinct-content sets; within-source dups count once") {
    val d = Seq(
      (1L, "alpha", "s1"), (2L, "alpha", "s1"),  // within-source dup: one set element
      (3L, "alpha", "s2"), (4L, "beta", "s2"),
      (5L, "beta", "s3"), (6L, "gamma", "s3"), (7L, "delta", "s3"),
      (8L, null.asInstanceOf[String], "s1")
    ).toDF("doc_id", "text", "source")
    val out = graft.pipeline.Dedup.sourceOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // s1={alpha}, s2={alpha,beta}, s3={beta,gamma,delta}
    assert(out(("s1", "s2")) == ((1L, 2L, 1L, 0.5)))
    assert(out(("s2", "s3")) == ((2L, 3L, 1L, 0.25)))
    assert(!out.contains(("s1", "s3"))) // zero overlap omitted
  }

  test("mutualInfo: independent -> ~0; deterministic map -> MI == H; NULLs drop") {
    // independent 2x2 (uniform product distribution)
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val r1 = graft.pipeline.Curation.mutualInfo(ind, "a", "b").collect()(0)
    assert(r1.getLong(0) == 4L)
    assert(math.abs(r1.getDouble(1)) < 1e-8, s"mi=${r1.getDouble(1)}")
    assert(math.abs(r1.getDouble(2) - math.log(2.0)) < 1e-8)
    // b is a function of a (and both marginals uniform): MI = H(a) = ln 2
    val dep = Seq(("x", "p"), ("x", "p"), ("y", "q"),
      ("y", "q"), (null.asInstanceOf[String], "p")).toDF("a", "b")
    val r2 = graft.pipeline.Curation.mutualInfo(dep, "a", "b").collect()(0)
    assert(r2.getLong(0) == 4L) // the NULL-a row dropped
    assert(math.abs(r2.getDouble(1) - math.log(2.0)) < 1e-8)
    assert(math.abs(r2.getDouble(1) - r2.getDouble(2)) < 1e-8)
    // empty input: one zero row, no crash
    val r3 = graft.pipeline.Curation.mutualInfo(
      Seq.empty[(String, String)].toDF("a", "b"), "a", "b").collect()(0)
    assert(r3.getLong(0) == 0L && r3.getDouble(1) == 0.0 && r3.getDouble(2) == 0.0)
  }

  test("topTermsChurn: exact set turnover between consecutive windows; gaps emit nothing") {
    def tsv(s: Long) = new java.sql.Timestamp(s * 1000L)
    // window [0,10): {a,b}; [10,20): {b,c} -> churn 1 - 1/3; [20,30)
    // silent; [30,40): {a} -> NO row (predecessor window absent)
    val ev = Seq(
      (tsv(1), "a"), (tsv(2), "a"), (tsv(3), "b"),
      (tsv(11), "b"), (tsv(12), "c"), (tsv(13), "c"),
      (tsv(31), "a")
    ).toDF("event_time", "term")
    val out = graft.pipeline.Funnel.topTermsChurn(ev, "event_time",
        col("term"), "10 seconds", k = 2, capacity = 16)
      .collect().map(r => r.getTimestamp(0).getTime / 1000 ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(10L))
    assert(out(10L) == ((2L, 1L, 1.0 - 1.0 / 3.0)))
    // identical windows churn exactly 0
    val stable = Seq((tsv(1), "x"), (tsv(11), "x"))
      .toDF("event_time", "term")
    val s0 = graft.pipeline.Funnel.topTermsChurn(stable, "event_time",
        col("term"), "10 seconds", k = 2, capacity = 16)
      .collect().map(_.getDouble(3))
    assert(s0.toSeq == Seq(0.0))
  }

  test("attribution: 40/20/40 position credit; 1 and 2 touch degenerate; window one-sided") {
    def tsv(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      // user 1: 4 views then a purchase at t=100 (tol 60s covers t>=40)
      (1L, 1L, "view", tsv(50)), (2L, 1L, "view", tsv(60)),
      (3L, 1L, "view", tsv(70)), (4L, 1L, "view", tsv(80)),
      (5L, 1L, "purchase", tsv(100)),
      // view AT the purchase instant: excluded (strictly before)
      (6L, 1L, "view", tsv(100)),
      // view too old for the window
      (7L, 1L, "view", tsv(10)),
      // user 2: single touch takes full credit
      (8L, 2L, "view", tsv(95)), (9L, 2L, "purchase", tsv(100)),
      // user 3: two touches split 0.5/0.5
      (10L, 3L, "view", tsv(90)), (11L, 3L, "view", tsv(95)),
      (12L, 3L, "purchase", tsv(100))
    ).toDF("event_id", "user_id", "event_type", "event_time")
    val out = graft.pipeline.Funnel.attribution(ev, "purchase", "view",
        tolUs = 60000000L)
      .collect().map(r => (r.getLong(2), // touch_id
        (r.getInt(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out(1L) == ((1, 4L, 0.4)) && out(4L) == ((4, 4L, 0.4)))
    assert(out(2L) == ((2, 4L, 0.2 / 2)) && out(3L) == ((3, 4L, 0.2 / 2)))
    assert(!out.contains(6L) && !out.contains(7L))
    assert(out(8L) == ((1, 1L, 1.0)))
    assert(out(10L) == ((1, 2L, 0.5)) && out(11L) == ((2, 2L, 0.5)))
    // credit conserves: each conversion's credits sum to 1.0
    assert(math.abs(out.values.map(_._3).sum - 3.0) < 1e-12)
  }

  test("burstiness: -1 for clockwork, positive for burst-and-silence, NULL degenerate") {
    def us(s: Long) = s * 1000000L * 1000L // ns
    val events = Seq(
      // user 1: perfectly periodic (gaps 10s, 10s, 10s) -> sigma=0, B=-1
      (1L, 10L, us(0)), (2L, 10L, us(10)), (3L, 10L, us(20)), (4L, 10L, us(30)),
      // user 2: burst then silence (gaps 1, 1, 58) -> sigma >> mu? B > 0
      (5L, 20L, us(0)), (6L, 20L, us(1)), (7L, 20L, us(2)), (8L, 20L, us(60)),
      // user 3: a single event -> no gaps, no row
      (9L, 30L, us(5)),
      // user 4: two events at the SAME ts -> one zero gap -> sigma+mu=0 -> NULL
      (10L, 40L, us(7)), (11L, 40L, us(7))
    ).toDF("event_id", "user_id", "ts")
    val out = graft.pipeline.Funnel.burstiness(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(10L) == ((3L, Some(-1.0))))
    assert(out(20L)._1 == 3L && out(20L)._2.exists(_ > 0.0))
    assert(!out.contains(30L))
    assert(out(40L) == ((1L, None)))
  }

  test("mixedLang: chunk-level votes expose code-switching whole-doc langid misses") {
    // 8 English tokens then 8 German tokens: window=8 chunks vote en/de
    val en = "the cat of the dog of a mouse"   // 8 tokens, en markers
    val de = "der hund und die katze und der vogel" // 8 tokens, de markers
    val docs = Seq(
      (1L, s"$en $de"),
      (2L, en),
      (3L, "no markers at all just words")
    ).toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis.mixedLang(docs, window = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4),
          r.getBoolean(5)))).toMap
    // doc 1: two chunks, two languages, tie broken to 'de' < 'en'
    assert(out(1L) == ((2L, 2L, "de", 0.5, true)))
    assert(out(2L) == ((1L, 1L, "en", 1.0, false)))
    assert(out(3L) == ((1L, 1L, "und", 1.0, false)))
    // whole-doc langid on doc 1 argmaxes to ONE language — the signal
    // mixedLang adds is exactly the n_langs > 1 bit
    val whole = graft.pipeline.TextAnalysis.langId(docs.filter($"doc_id" === 1L))
      .select("pred_lang").collect().head.getString(0)
    assert(Set("en", "de").contains(whole))
  }

  test("winnowing: shared w+k-1 run guarantees a shared fingerprint; df cap drops boilerplate") {
    val run = "the quick brown fox jumps over a lazy dog tonight" // 10 tokens
    val docs = Seq(
      (1L, s"intro words here $run and then some trailing text one"),
      (2L, s"$run totally different continuation of this other document two"),
      (3L, "nothing in common with anything else at all whatsoever blue"),
      (4L, "tiny doc") // < k+w-1 tokens: no fingerprints
    ).toDF("doc_id", "text")
    // k=4, w=4: any shared run of >= 7 tokens shares >= 1 fingerprint
    // (the winnowing theorem) — docs 1 and 2 share a 10-token run
    val pairs = graft.pipeline.Dedup.winnowingPairs(docs, k = 4, w = 4,
        dfCap = 20, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) >= 1L)
    assert(pairs.keySet == Set((1L, 2L))) // doc 3 pairs with nobody
    // dfCap=2 with the run in THREE docs: the shared fingerprints now
    // have df=3 > cap and are dropped -> no pairs survive
    val docs3 = docs.unionAll(Seq((5L, s"$run yet another tail pad")).toDF("doc_id", "text"))
    val capped = graft.pipeline.Dedup.winnowingPairs(docs3, k = 4, w = 4,
      dfCap = 2, minShared = 1).collect()
    assert(capped.forall { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      // any surviving pair may only ride fingerprints outside the
      // 3-doc boilerplate run (df <= 2)
      Set(a, b).subsetOf(Set(1L, 2L, 5L))
    })
  }

  test("curriculumMix: alpha=0 keeps all; kept sets shrink monotonically; top decile always survives") {
    val docs = (1L to 40L).map(i =>
      (i, "x " * i.toInt, "s" + (i % 2), i * 10)).toDF("doc_id", "text", "source", "n_chars")
    def kept(alpha: Double): Map[Long, Int] =
      graft.pipeline.Curation.curriculumMix(docs,
          col("n_chars").cast("double"), alpha, "t")
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val k0 = kept(0.0)
    val k2 = kept(2.0)
    val k5 = kept(5.0)
    // alpha=0: every decile rate is 1.0 -> all docs kept
    assert(k0.size == 40)
    // per-doc threshold decreases with alpha (top decile stays 1.0):
    // kept sets are nested
    assert(k5.keySet.subsetOf(k2.keySet) && k2.keySet.subsetOf(k0.keySet))
    // the top decile survives any temperature
    val topDecile = k0.filter(_._2 == 9).keySet
    assert(topDecile.nonEmpty && topDecile.subsetOf(k5.keySet))
    // deciles span the full range per source (20 docs/source, distinct scores)
    assert(k0.values.toSet == (0 to 9).toSet)
  }

  test("winnowingContainment: full containment of the smaller doc scores 1.0") {
    val core = "alpha beta gamma delta epsilon zeta eta theta"  // 8 tokens
    val docs = Seq(
      (1L, core),                                        // entirely inside doc 2
      (2L, s"prefix words go here $core and a long suffix tail follows now"),
      (3L, "unrelated content entirely different from the others completely")
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.winnowingContainment(docs, k = 4, w = 4,
        dfCap = 20, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // doc 1 is a verbatim substring of doc 2: every one of its selected
    // fingerprints also gets selected in doc 2 only if window phase
    // aligns — winnowing guarantees at least ONE shared; containment is
    // shared over the SMALLER side's total
    val (shared, fpA, fpB, cont) = out((1L, 2L))
    assert(shared >= 1L && fpA <= fpB)
    assert(cont == shared.toDouble / math.min(fpA, fpB))
    assert(cont > 0.0 && cont <= 1.0)
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("leakFreeSplit: a near-dup component shares ONE split verdict") {
    val dupText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, dupText), (2L, dupText), (3L, dupText + " extra"),
      (10L, "completely different words here one two three four five six"),
      (11L, "another unrelated document with its own tokens seven eight nine ten")
    ).toDF("doc_id", "text")
    val out = Dedup.leakFreeSplit(docs, fracVal = 0.3, fracTest = 0.3,
        salt = "s").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // docs 1-3 are one near-dup component: same component label (the
    // minimum member) and — the whole point — the SAME split verdict
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 1L)
    assert(Set(out(1L)._2, out(2L)._2, out(3L)._2).size == 1)
    // singletons are their own component; every verdict is a real label
    assert(out(10L)._1 == 10L && out(11L)._1 == 11L)
    assert(out.values.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    assert(out.size == 5)
  }

  test("dupNgramRate: per-source instance attribution against corpus-wide gram counts") {
    val docs = Seq(
      (1L, "a b c d", "s1"),   // grams: "a b", "b c", "c d"
      (2L, "a b x", "s1"),     // grams: "a b", "b x"
      (3L, "c d y", "s2"),     // grams: "c d", "d y"
      (4L, "z", "s2"),         // < n tokens: no grams
      (5L, null.asInstanceOf[String], "s3") // null text: no grams
    ).toDF("doc_id", "text", "source")
    val out = graft.pipeline.Dedup.dupNgramRate(docs, n = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // corpus-wide: "a b" x2, "c d" x2, others x1
    // s1: 5 instances, 3 dup ("a b" twice + "b c"? no — "b c" unique);
    //     dup = the two "a b" instances + the "c d" instance = 3
    assert(out("s1") == ((5L, 3L, 3.0 / 5.0)))
    // s2: "c d" (dup) + "d y" (unique) = 2 total, 1 dup
    assert(out("s2") == ((2L, 1L, 1.0 / 2.0)))
    // s3 and gram-less docs emit no row
    assert(out.keySet == Set("s1", "s2"))
  }

  test("redaction rewrites PII in email -> URL -> digit-run order") {
    val docs = Seq(
      (1L, "mail me at bob.smith+x@corp.example.com today"),
      (2L, "see https://ex.com/p/1234567?q=1 and id 9876543 left"),
      (3L, "clean text, short 12345 run kept")
    ).toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis.redact(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail me at <EMAIL> today")
    // the URL swallows its numeric path BEFORE the digit pass runs
    assert(out(2L) == "see <URL> and id <NUM> left")
    assert(out(3L) == "clean text, short 12345 run kept") // < 6 digits kept
  }

  test("token-budget sampling: data-derived rates, deterministic, budget-scaled") {
    val rnd = new scala.util.Random(5)
    val docs = (1L to 400L).map { i =>
      val src = if (i % 2 == 0) "big" else "small"
      val words = if (src == "big") 200 else 10
      (i, Seq.fill(words)("w" + rnd.nextInt(50)).mkString(" "), "en", src)
    }.toDF("doc_id", "text", "lang", "source")
    val kept = graft.pipeline.Sampling.sampleTokenBudget(docs, 2000L, "s1")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // deterministic across partitionings
    val kept7 = graft.pipeline.Sampling.sampleTokenBudget(
        docs.repartition(7), 2000L, "s1")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == kept7.toSet)
    // big: 200 docs x 200 tokens = 40k total -> rate 0.05 -> ~10 docs;
    // small: 200 x 10 = 2k total -> rate 1.0 -> ALL 200 kept
    val bySrc = kept.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySrc("small") == 200)
    assert(bySrc("big") >= 2 && bySrc("big") <= 30)
  }

  test("temperature mixing upweights small sources, deterministic, alpha=1 ∝ size") {
    val docs = ((1L to 300L).map(i => (i, "t", "en", "big")) ++
      (301L to 320L).map(i => (i, "t", "en", "small")))
      .toDF("doc_id", "text", "lang", "source")
    val kept = graft.pipeline.Sampling.sampleTemperature(docs, 100L, 0.5, "t1")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val kept5 = graft.pipeline.Sampling.sampleTemperature(
        docs.repartition(5), 100L, 0.5, "t1")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == kept5.toSet) // partition-layout independent
    // alpha=0.5 targets: w=sqrt(n); t_big = 100*17.32/21.79 ≈ 79 of 300
    // (rate .265), t_small = 100*4.47/21.79 ≈ 21 >= 20 -> rate 1, ALL kept
    val bySrc = kept.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySrc("small") == 20)
    assert(bySrc("big") > 40 && bySrc("big") < 120)
    // alpha=1 degenerates to a uniform rate: (T*n/N)/n is exactly T/N here
    // (all intermediates dyadic), so the keep set equals sampleBySource at
    // rate 0.3125 under the same salt
    val k1 = graft.pipeline.Sampling.sampleTemperature(docs, 100L, 1.0, "t1")
      .collect().map(_.getLong(0)).toSet
    val uni = graft.pipeline.Sampling.sampleBySource(docs, Map.empty, 0.3125, "t1")
      .collect().map(_.getLong(0)).toSet
    assert(k1 == uni)
  }

  test("exact dedup keeps lowest doc_id per content hash") {
    val out = Dedup.exact(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true, 5L -> true))
  }

  test("minhash LSH surfaces the exact/near duplicates as candidates") {
    val pairs = Dedup.minhashLsh(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical docs always collide
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.contains((4L, 5L)))
  }

  test("minhashLsh auto skew guard: engages above the pair budget, exact below") {
    // 30 identical docs = a hot bucket: every band bucket holds all 30,
    // so the uncapped blocking cost is 16 * 30*29/2 = 6960 candidate pairs
    val hot = ((1L to 30L).map(i =>
        (i, "the quick brown fox jumps over the lazy dog")) ++ Seq(
        (41L, "completely different text about databases!"),
        (42L, "another unrelated document mentioning spark")))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // budget 2000: 6960 > 2000 triggers the guard; cap=16 is the largest
    // choice whose capped cost 16 * 16*15/2 = 1920 fits -> identical to
    // the explicit bucketCap=Some(16) relation
    assert(pairs(Dedup.minhashLsh(hot, autoCapPairs = 2000L)) ==
      pairs(Dedup.minhashLsh(hot, bucketCap = Some(16))))
    // a budget above the uncapped cost leaves the join exact
    assert(pairs(Dedup.minhashLsh(hot, autoCapPairs = 7000L)) ==
      pairs(Dedup.minhashLsh(hot, autoCapPairs = Long.MaxValue)))
    // and the guarded default on a small clean corpus is byte-identical
    // to the unguarded exact join (the gated-query regime)
    assert(pairs(Dedup.minhashLsh(docs)) ==
      pairs(Dedup.minhashLsh(docs, autoCapPairs = Long.MaxValue)))
  }

  test("repeatedSpans: maximal cross-doc and within-doc repeated spans; clean docs absent") {
    // L=3. Doc 1 and 2 share the verbatim 5-token run "a b c d e" at
    // different offsets -> ONE maximal span each, full extent. Doc 3
    // repeats "x y z" WITHIN itself (positions 1 and 5, gap) -> two
    // separate spans. Doc 4 shares nothing.
    val corpus = Seq(
      (1L, "a b c d e p q r s"),
      (2L, "m n a b c d e"),
      (3L, "x y z w x y z"),
      (4L, "entirely novel words only here")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(corpus, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set(
      (1L, 1L, 5L, 5L),   // "a b c d e" — maximal, not three 3-grams
      (2L, 3L, 7L, 5L),
      (3L, 1L, 3L, 3L), (3L, 5L, 7L, 3L))) // within-doc repeat, split
    // adjacent windows merge: doc 5/6 share two TOUCHING 3-grams whose
    // union is one contiguous covered range
    val touch = Seq(
      (5L, "a b c d e f"),
      (6L, "a b c q d e f")
    ).toDF("doc_id", "text")
    val t2 = Dedup.repeatedSpans(touch, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(t2 == Set((5L, 1L, 6L), (6L, 1L, 3L), (6L, 5L, 7L)))
  }

  test("crossNearDup auto skew guard: bipartite cost triggers; exact below budget") {
    val hotA = (1L to 20L).map(i =>
        (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val hotB = (101L to 130L).map(i =>
        (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bipartite cost = 16 bands * 20*30 = 9600; budget 5000 triggers and
    // cap=16 (capped cost 16 * 16*16 = 4096) is the largest that fits
    assert(pairs(Dedup.crossNearDup(hotA, hotB, autoCapPairs = 5000L)) ==
      pairs(Dedup.crossNearDup(hotA, hotB, bucketCap = Some(16))))
    // above the uncapped cost the join stays exact
    assert(pairs(Dedup.crossNearDup(hotA, hotB, autoCapPairs = 10000L)) ==
      pairs(Dedup.crossNearDup(hotA, hotB, autoCapPairs = Long.MaxValue)))
  }

  test("removeRepeatedSpans: covered tokens drop, kept hash matches, clean docs intact") {
    val corpus = Seq(
      (1L, "a b c d e p q r s"),   // shares "a b c d e" with doc 2
      (2L, "m n a b c d e"),
      (3L, "entirely novel words only here"),
      (4L, "")                      // token-less: appears, keeps nothing
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(corpus, 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def h(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out(1L) == ((9L, 5L, h("p q r s"))))   // span [1,5] removed
    assert(out(2L) == ((7L, 5L, h("m n"))))       // span [3,7] removed
    assert(out(3L) == ((5L, 0L, h("entirely novel words only here"))))
    assert(out(4L) == ((0L, 0L, h(""))))
  }

  test("removeRepeatedSpansKeepFirst: corpus-earliest copy survives, later copies cut; within-doc repeat keeps first") {
    def h(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val corpus = Seq(
      (1L, "a b c d e p q r s"),   // owns the first "a b c d e"
      (2L, "m n a b c d e"),       // later copy: loses it
      (3L, "entirely novel words only here"))
      .toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpansKeepFirst(corpus, 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // doc 1 keeps EVERYTHING (its occurrence is the corpus min for every
    // shared gram); removeRepeatedSpans would cut both copies
    assert(out(1L) == ((9L, 0L, h("a b c d e p q r s"))), out)
    assert(out(2L) == ((7L, 5L, h("m n"))), out)
    assert(out(3L) == ((5L, 0L, h("entirely novel words only here"))), out)
    // within-doc repeat: "x y z ... x y z" — the first occurrence (pos 1)
    // survives, the second (pos 5) is cut
    val self = Seq((7L, "x y z q x y z")).toDF("doc_id", "text")
    val selfOut = Dedup.removeRepeatedSpansKeepFirst(self, 3).collect()(0)
    assert((selfOut.getLong(1), selfOut.getLong(2), selfOut.getString(3)) ==
      ((7L, 3L, h("x y z q"))), selfOut)
  }

  test("nearDupPairs: two-stage minhash candidates + exact jaccard verify") {
    val pairs = Dedup.nearDupPairs(docs, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)                      // exact dup
    assert(pairs.get((1L, 3L)).exists(_ > 0.7))         // near dup survives verify
    assert(!pairs.contains((4L, 5L)))                   // unrelated docs filtered
  }

  test("cross-corpus near-dup: directional pairs, no self-pairs on overlap") {
    val pairs = Dedup.crossNearDup(docs.filter($"doc_id" <= 2), docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 1 and 2 are byte-identical, 3 is a near-dup of both; A = {1, 2}
    // pairs B-side against the FULL corpus but never against itself
    assert(pairs.forall { case (a, b) => a <= 2 && a != b })
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 1L))) // both directions: 1,2 ∈ A∩B
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(_._2 > 3)) // nothing pairs with the unrelated docs
  }

  test("simhash: identical docs get identical signatures") {
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh.values.toSet.size > 1) // 64-bit signatures separate distinct docs
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // hamming 0: found via every chunk
  }

  test("simhash pigeonhole blocking == all-pairs filter (completeness)") {
    // Random-ish corpus: the chunked equi-join must produce exactly the
    // pairs an all-pairs hamming filter would (pigeonhole argument).
    val many = (1L to 40L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} tok${i % 3} shared common words here", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val sh = Dedup.simhash(many).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // maxHamming 3 (equal 16-bit chunks) and 2 (near-equal 22/21/21)
    Seq(3, 2).foreach { mh =>
      val blocked = Dedup.simhashPairs(many, maxHamming = mh).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val allPairs = (for {
        a <- sh.keys; b <- sh.keys if a < b
        h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= mh
      } yield (a, b, h)).toSet
      assert(blocked == allPairs, s"maxHamming=$mh")
    }
  }

  test("ngram jaccard: exact dup scores 1.0, near dup high, distinct low") {
    val j = Dedup.ngramJaccard(docs, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.6 && j((1L, 3L)) < 1.0)
  }

  private def emb = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),   // close to 1
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),   // orthogonal
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("knnGraph: clustered corpus recovers exact top-k; deterministic across partitionings") {
    // 3 well-separated clusters of 4 — the manifold regime NN-Descent is
    // built for: every vector's true top-3 are its cluster mates
    val vecs = (0 until 12).map { i =>
      val c = i / 4
      val base = Array.fill(8)(0.0f)
      base(c) = 1.0f
      base(3 + c) = 0.05f * (i % 4) // within-cluster variation
      ((i + 1).toLong, base)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(df, df, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = Similarity.knnGraph(df, 3, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(g.map(t => (t._1, t._2)).toSet == exact) // recall 1.0, rank-for-rank size
    // partitioning must not change the graph (no RNG anywhere)
    val g2 = Similarity.knnGraph(df.repartition(7), 3, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(g.sorted.toSeq == g2.sorted.toSeq)
  }

  test("diversifyGraph: near-duplicate of a kept edge pruned; degree capped; deterministic") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),     // u
      (2L, Array(0.99f, 0.14f, 0.0f)),   // closest to u
      (3L, Array(0.98f, 0.17f, 0.0f)),   // near-duplicate of 2 — dominated
      (4L, Array(0.0f, 1.0f, 0.0f))      // orthogonal: never dominated
    ).toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val vecs = Map(1L -> Array(1.0f, 0.0f, 0.0f), 2L -> Array(0.99f, 0.14f, 0.0f),
      3L -> Array(0.98f, 0.17f, 0.0f), 4L -> Array(0.0f, 1.0f, 0.0f))
    val g = Seq(2L, 3L, 4L).map(v => (1L, v, cos(vecs(1L), vecs(v))))
      .toDF("query_id", "neighbor_id", "cosine")
    val pruned = Similarity.diversifyGraph(e, g, r = 2, alpha = 1.2).collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    // 2 kept (closest can't be dominated), 3 dominated by 2, 4 diverse
    assert(pruned.toSeq.sorted == Seq((2L, 1), (4L, 2)), pruned.toSeq)
    // r = 1 keeps only the closest
    val one = Similarity.diversifyGraph(e, g, r = 1, alpha = 1.2).collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(one.toSeq == Seq((2L, 1)))
    // alpha high enough keeps everything (domination never fires at 3's gap)
    val loose = Similarity.diversifyGraph(e, g, r = 3, alpha = 100.0).collect()
    assert(loose.length == 3)
    // deterministic across partitionings
    val p7 = Similarity.diversifyGraph(e.repartition(7), g.repartition(3),
      r = 2, alpha = 1.2).collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(p7.toSeq.sorted == pruned.toSeq.sorted)
  }

  test("graphSearch: clustered corpus recovers exact top-k; full-beam equals brute force; deterministic") {
    val vecs = (0 until 12).map { i =>
      val c = i / 4
      val base = Array.fill(8)(0.0f)
      base(c) = 1.0f
      base(3 + c) = 0.05f * (i % 4)
      ((i + 1).toLong, base)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val graph = Similarity.knnGraph(df, 3, rounds = 2)
    val exact = Similarity.bruteForceTopK(df, df, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    // beam 4 = cluster size: LSH entry finds the right cluster, graph
    // rounds complete it — recall 1.0 rank-for-rank on the manifold regime
    val got = Similarity.graphSearch(df, df, 3, graph, rounds = 2, beam = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(got == exact)
    // beam >= n: entry seeds score the whole corpus — MUST equal brute
    // force row-for-row with zero rounds (the exactness degeneracy)
    val full = Similarity.graphSearch(df, df, 3, graph, rounds = 0, beam = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(full == exact)
    // partitioning must not change the result (no RNG anywhere)
    val got2 = Similarity.graphSearch(df.repartition(7), df, 3, graph,
      rounds = 2, beam = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(got2 == got)
  }

  test("cosine near-dup finds the close same-label pair only") {
    val pairs = Similarity.nearDup(emb, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("containment finds directed near-supersets that jaccard misses") {
    val body = "the quick brown fox jumps over the lazy dog again and again"
    val cd = Seq(
      (1L, body, "en", "s1"),                                // the excerpt
      (2L, body + " padded with a much longer tail of completely unrelated " +
        "words that dilute the union so jaccard drops far below threshold " +
        "while containment of doc one stays exactly at the maximum value",
        "en", "s1"),                                         // superset of 1
      (3L, "entirely different content with no shared substrings at all",
        "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Dedup.containment(cd, k = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1 contained in 2 (every gram of 1 appears in 2); NOT 2 in 1
    assert(out.exists { case (a, b, c) => a == 1L && b == 2L && c >= 0.99 }, out.toSeq)
    assert(!out.exists { case (a, b, _) => a == 2L && b == 1L }, out.toSeq)
    assert(!out.exists { case (a, b, _) => a == 3L || b == 3L }, out.toSeq)
    // jaccard at the same threshold misses the excerpt pair entirely
    val jac = Dedup.ngramJaccard(cd, k = 8, threshold = 0.9).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    // deterministic across partitionings
    val out5 = Dedup.containment(cd.repartition(5), k = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out5.toSet == out.toSet)
  }

  test("embedCovariance: hand-computed 2-D upper triangle, NULL vectors dropped") {
    val outCov = {
      // hand-computed 2-D covariance: x=(0.1,0.3), y=(0.2,0.6) →
      // var(x)=0.01, cov(x,y)=0.02, var(y)=0.04 (population, n=2);
      // quantization is exact here (0.1f*1e4 floors to 999 — floats!)
      val e = Seq((1L, Array(0.1f, 0.2f)), (2L, Array(0.3f, 0.6f)),
        (3L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
      Similarity.embedCovariance(e).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    }
    assert(outCov.keySet == Set((0, 0), (0, 1), (1, 1)))
    def q(v: Float): Long = math.floor(v.toDouble * 1.0e4).toLong
    def cov(a: Seq[Float], b: Seq[Float]): Double = {
      val (qa, qb) = (a.map(q), b.map(q))
      val n = qa.length.toDouble
      (qa.zip(qb).map { case (x, y) => x * y }.sum / n -
        (qa.sum / n) * (qb.sum / n)) / 1.0e8
    }
    val (xs, ys) = (Seq(0.1f, 0.3f), Seq(0.2f, 0.6f))
    assert(outCov((0, 0)) == ((2L, cov(xs, xs))))
    assert(outCov((0, 1)) == ((2L, cov(xs, ys))))
    assert(outCov((1, 1)) == ((2L, cov(ys, ys))))
    assert(math.abs(outCov((0, 1))._2 - 0.02) < 1e-4)
  }

  test("pcaPower: dominant direction recovered; eigenvalue ~ top variance") {
    // points along y = 2x (plus a tiny off-axis one): the top component
    // must load ~(1, 2)/‖·‖∞ = (0.5, 1) and explain almost everything
    val e = Seq(
      (1L, Array(0.1f, 0.2f)), (2L, Array(-0.1f, -0.2f)),
      (3L, Array(0.3f, 0.6f)), (4L, Array(-0.3f, -0.6f)),
      (5L, Array(0.02f, -0.01f))).toDF("vec_id", "embedding")
    val out = Similarity.pcaPower(e, iters = 12).collect()
      .map(r => r.getInt(0) -> r).toMap
    val (l0, l1) = (out(0).getDouble(1), out(1).getDouble(1))
    // ‖x‖∞ = 1 by construction; direction ratio ~ 0.5 (allow quantizer
    // + off-axis noise slack)
    assert(math.abs(math.abs(l1) - 1.0) < 1e-9, s"l1=$l1")
    assert(math.abs(l0 / l1 - 0.5) < 0.02, s"ratio=${l0 / l1}")
    val share = out(0).getDouble(3)
    assert(out(0).getDouble(2) > 0.0 && share > 0.95 && share <= 1.0001, s"share=$share")
    // empty input: no rows, no crash
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.pcaPower(empty).count() == 0L)
  }

  test("pcaDeflate: second component orthogonal-ish to the first; eigenvalues ordered") {
    // variance concentrated on dim0, then dim1, dim2 nearly silent
    val e = Seq(
      (1L, Array(0.4f, 0.0f, 0.01f)), (2L, Array(-0.4f, 0.0f, -0.01f)),
      (3L, Array(0.0f, 0.2f, 0.0f)), (4L, Array(0.0f, -0.2f, 0.0f)),
      (5L, Array(0.4f, 0.2f, 0.0f)), (6L, Array(-0.4f, -0.2f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.pcaDeflate(e, iters = 16).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    val l1 = out((0, 0))._2
    val l2 = out((1, 0))._2
    assert(l1 > l2 && l2 > 0.0, s"l1=$l1 l2=$l2")
    // comp0 dominated by dim0; comp1 by dim1 once comp0 is deflated out
    assert(math.abs(out((0, 0))._1) == 1.0)
    assert(math.abs(out((1, 1))._1) == 1.0, s"c1=${(0 to 2).map(d => out((1, d))._1)}")
    assert(math.abs(out((1, 0))._1) < 0.35)
    // 2×d rows, exactly two components
    assert(out.keySet.map(_._1) == Set(0, 1) && out.size == 6)
  }

  test("removeTopComponent: residuals orthogonal to the top direction") {
    val e = Seq(
      (1L, Array(0.4f, 0.0f)), (2L, Array(-0.4f, 0.0f)),
      (3L, Array(0.4f, 0.1f)), (4L, Array(-0.4f, -0.1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.removeTopComponent(e, iters = 12).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(out.size == 8)
    // the residual re-projected onto u must be ~0 for every vector:
    // x·u = (e − (e·u)u)·u = e·u − (e·u)·‖u‖² ≈ 0
    val comp = Similarity.pcaPower(e, iters = 12).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    val s = math.sqrt(comp.map(v => v * v).sum)
    val u = comp.map(_ / s)
    for (v <- Seq(1L, 2L, 3L, 4L)) {
      val resid = (1 to 2).map(i => out((v, i))._2)
      val reproj = resid.zip(u).map { case (a, b) => a * b }.sum
      assert(math.abs(reproj) < 1e-9, s"vec $v reproj=$reproj")
    }
  }

  test("pcaProject2d: coordinates = dots with both deflated components") {
    val e = Seq(
      (1L, Array(0.4f, 0.0f, 0.01f)), (2L, Array(-0.4f, 0.0f, -0.01f)),
      (3L, Array(0.0f, 0.2f, 0.0f)), (4L, Array(0.0f, -0.2f, 0.0f)),
      (5L, Array(0.4f, 0.2f, 0.0f)), (6L, Array(-0.4f, -0.2f, 0.0f))
    ).toDF("vec_id", "embedding")
    val comp = Similarity.pcaDeflate(e, iters = 12).collect()
    def load(c: Int) = comp.filter(_.getInt(0) == c)
      .sortBy(_.getInt(1)).map(_.getDouble(2))
    val (c0, c1) = (load(0), load(1))
    def dot(v: Array[Float], u: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < v.length) { s += v(j).toDouble * u(j); j += 1 }
      s
    }
    val out = Similarity.pcaProject2d(e, iters = 12).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((dot(Array(0.4f, 0.0f, 0.01f), c0),
      dot(Array(0.4f, 0.0f, 0.01f), c1))))
    assert(out(3L) == ((dot(Array(0.0f, 0.2f, 0.0f), c0),
      dot(Array(0.0f, 0.2f, 0.0f), c1))))
    assert(out.size == 6)
  }

  test("centerEmbeddings: per-dim means removed exactly; NULL rows dropped") {
    val e = Seq(
      (1L, Some(Array(1.0f, 4.0f))),
      (2L, Some(Array(3.0f, 8.0f))),
      (3L, None: Option[Array[Float]])
    ).toDF("vec_id", "embedding")
    val out = graft.pipeline.Similarity.centerEmbeddings(e).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out.size == 4)
    // means: dim1 = 2.0, dim2 = 6.0 — exact in decimals
    assert(out((1L, 1)) == -1.0 && out((2L, 1)) == 1.0)
    assert(out((1L, 2)) == -2.0 && out((2L, 2)) == 2.0)
    // centered corpus re-centers to itself (means now 0)
    val sums = out.toSeq.groupBy(_._1._2).view.mapValues(_.map(_._2).sum)
    assert(sums.values.forall(s => math.abs(s) < 1e-12))
  }

  test("jlProject: exact vs driver reference; norms preserved in expectation") {
    val rnd = new scala.util.Random(17)
    val vecs = (1L to 8L).map(id =>
      (id, Array.fill(24)(rnd.nextFloat() * 2.0f - 1.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val k = 16
    val out = Similarity.jlProject(df, k).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out.size == 8 * k)
    // exact: y_j must equal the driver-side fold with the same signs
    val inv = 1.0 / math.sqrt(k.toDouble)
    vecs.foreach { case (id, e) =>
      for (j <- 0 until k) {
        var s = 0.0
        var i = 0
        while (i < e.length) {
          s += e(i).toDouble * Similarity.jlSign(i, j); i += 1
        }
        assert(out((id, j)) == s * inv, s"vec $id dim $j")
      }
    }
    // JL contract: E||y||^2 == ||x||^2 — mean relative error small
    val relErrs = vecs.map { case (id, e) =>
      val nx = e.map(v => v.toDouble * v.toDouble).sum
      val ny = (0 until k).map(j => out((id, j)) * out((id, j))).sum
      math.abs(ny - nx) / nx
    }
    assert(relErrs.sum / relErrs.size < 0.5, relErrs)
  }

  test("jlSearchTopK: full shortlist == brute force; clustered corpus exact; deterministic") {
    val vecs = (0 until 12).map { i =>
      val c = i / 4
      val base = Array.fill(8)(0.0f)
      base(c) = 1.0f
      base(3 + c) = 0.05f * (i % 4)
      ((i + 1).toLong, base)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(df, df, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    // shortlist >= corpus: stage 2 reranks everything — MUST equal
    // brute force row-for-row (scores are exact by construction)
    val full = Similarity.jlSearchTopK(df, df, 3, dims = 16, shortlist = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(full == exact)
    // tight shortlist on well-separated clusters still recovers top-k
    val tight = Similarity.jlSearchTopK(df, df, 3, dims = 16, shortlist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(tight == exact)
    // deterministic across partitionings
    val tight7 = Similarity.jlSearchTopK(df.repartition(7), df, 3,
      dims = 16, shortlist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(tight7 == tight)
  }

  test("pcaWhiten: unit variance along both kept directions; deterministic") {
    val e = Seq(
      (1L, Array(0.4f, 0.0f, 0.01f)), (2L, Array(-0.4f, 0.0f, -0.01f)),
      (3L, Array(0.0f, 0.2f, 0.0f)), (4L, Array(0.0f, -0.2f, 0.0f)),
      (5L, Array(0.4f, 0.2f, 0.0f)), (6L, Array(-0.4f, -0.2f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.pcaWhiten(e, iters = 16).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out.size == 12) // 6 vecs x 2 components
    // whitening contract: population variance of y_c == u'Cu/lambda ~= 1
    for (c <- Seq(0, 1)) {
      val ys = (1L to 6L).map(v => out((v, c)))
      val m = ys.sum / ys.size
      val v = ys.map(y => (y - m) * (y - m)).sum / ys.size
      assert(math.abs(v - 1.0) < 0.05, s"component $c variance $v")
    }
    // deterministic across partitionings (quantized loadings, IEEE ops)
    val out7 = Similarity.pcaWhiten(e.repartition(7), iters = 16).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(out7 == out)
  }

  test("embedCovarianceAgg: bit-identical to the declarative path across partitionings") {
    val rnd = new scala.util.Random(7)
    val e = (1L to 60L).map(i =>
      (i, Array.fill(8)((rnd.nextFloat() - 0.5f) * 0.8f))).toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3)))
    val declarative = Similarity.embedCovariance(e).collect().map(key).toMap
    val agg = Similarity.embedCovarianceAgg(e, d = 8).collect().map(key).toMap
    assert(agg == declarative)
    // merge path: many partitions -> many buffers merged
    val agg9 = Similarity.embedCovarianceAgg(e.repartition(9), d = 8)
      .collect().map(key).toMap
    assert(agg9 == declarative)
  }

  test("pcaProject: projection = dot with the recovered component; NULLs dropped") {
    val e = Seq(
      (1L, Array(0.1f, 0.2f)), (2L, Array(-0.1f, -0.2f)),
      (3L, Array(0.3f, 0.6f)), (4L, Array(-0.3f, -0.6f)),
      (5L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    val comp = Similarity.pcaPower(e, iters = 12).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    val out = Similarity.pcaProject(e, iters = 12).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    def dot(v: Array[Float]): Double = {
      var s = 0.0; var j = 0
      while (j < v.length) { s += v(j).toDouble * comp(j); j += 1 }
      s
    }
    assert(out(1L) == dot(Array(0.1f, 0.2f)))
    assert(out(3L) == dot(Array(0.3f, 0.6f)))
    // opposite points project to exact negations only if the fold does —
    // here the sign symmetry holds at the float level
    assert(out(3L) > 0 != (out(4L) > 0))
  }

  test("semDedup drops the higher id of every within-cell near-twin") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // exact dup of 1 -> dropped
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // exact dup of 3 -> dropped
      (5L, Array(0.0f, 0.0f, 1.0f, 0.0f))    // unique -> kept
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, nCells = 2, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false, 5L -> true))
    // deterministic across partition layouts
    val out7 = Similarity.semDedup(vecs.repartition(7), nCells = 2, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out7 == out)
  }

  test("cluster assignment is total and balanced sampling is exact-N") {
    val many = (1L to 40L).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f, 0.0f, 0.0f)
        else Array(0.0f, 1.0f, 0.0f, 0.0f)
      (i, base.map(_ + (i % 5) * 0.01f), (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val cl = Similarity.cluster(many, nCells = 2)
    // every vector gets exactly one cell
    assert(cl.count() == 40 && cl.select("vec_id").distinct().count() == 40)
    // the two-level pruned assignment is also TOTAL: memberless supers
    // (kept by the tiny Lloyd but owning no centroid) are excluded from
    // probing, so no vector can probe only dead supers and vanish
    for (nc <- Seq(2, 8); w <- Seq(1, 2)) {
      val pr = Similarity.cluster(many, nCells = nc, superProbe = Some(w))
      assert(pr.count() == 40 && pr.select("vec_id").distinct().count() == 40,
        s"pruned assignment dropped vectors at nCells=$nc superProbe=$w")
    }
    val stats = Similarity.clusterStats(many, nCells = 2).collect()
    // sizes cover the corpus; cohesion bounds ordered; quantized mean
    // sits inside [min, max] with at most the 1e-12 quantization slack
    assert(stats.map(_.getLong(1)).sum == 40L)
    stats.foreach { r =>
      val (mn, mx, mean) = (r.getDouble(2), r.getDouble(3), r.getDouble(5))
      assert(mn <= mx && mean >= mn - 1e-9 && mean <= mx + 1e-9, r.toString)
      assert(mean >= -1.0 - 1e-9 && mean <= 1.0 + 1e-9)
    }
    val smp = graft.pipeline.Sampling.clusterBalancedSample(many, 2, 3, "s")
    val sizes = smp.groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact-N: every cell yields min(n, |cell|) — with 20 vectors per
    // cell and n = 3, exactly 3 each
    val pops = cl.groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == pops.map { case (c, p) => c -> math.min(3L, p) })
    // deterministic: same draw on re-run
    assert(smp.collect().toSet ==
      graft.pipeline.Sampling.clusterBalancedSample(many, 2, 3, "s").collect().toSet)
  }

  test("cluster: pruned assignment == exact at full super coverage; close below it") {
    // the q139 gate construction, pinned here on adversarial geometry:
    // nCells=16 trains <= 16 centroids, grouped into round(sqrt(c)) <= 4
    // supers, and superProbe=4 probes ALL of them -> level 2 scores every
    // centroid and the (score desc, id asc) argmax is the exact path's.
    val many = (1L to 120L).map { i =>
      val a = (i % 7).toFloat * 0.31f
      val b = (i % 11).toFloat * 0.17f
      (i, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        math.cos(b).toFloat, math.sin(b).toFloat))
    }.toDF("vec_id", "embedding")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = asMap(Similarity.cluster(many, nCells = 16))
    val full = asMap(Similarity.cluster(many, nCells = 16, superProbe = Some(4)))
    assert(full == exact)
    // tighter probe: approximate by design, but superProbe=2 must stay
    // close (the regime measured in SURVEY.md §6d that the scaladoc promises)
    val p2 = asMap(Similarity.cluster(many, nCells = 16, superProbe = Some(2)))
    val agree = p2.count { case (k, v) => exact(k) == v }
    assert(agree >= (0.9 * exact.size).toInt, s"agreement $agree/${exact.size}")
  }

  test("components: chain rounds ~ log2(diameter); no leaked blocks after run") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val n = 128L
    val nodes = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val run = Dedup.componentsRun(nodes, pairs)
    assert(run.converged)
    assert(run.labels.collect().forall(_.getLong(1) == 1L))
    // one round = neighbor-min + pointer jump (reach more than doubles),
    // so a diameter-127 chain needs ~log2 rounds + 1 detection round
    val bound = math.ceil(math.log(n.toDouble - 1) / math.log(2.0)).toInt + 2
    assert(run.rounds <= bound, s"rounds=${run.rounds} bound=$bound")
    // eviction contract: every intermediate round's localCheckpoint blocks
    // were released as the loop advanced — what survives the run is ONLY
    // the final labels' pin (edges were unpersisted explicitly)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked persistent RDDs: $leaked")
  }

  test("topFractionBySourceSketch: threshold semantics in the exact regime") {
    // distinct scores -> the per-source threshold is exactly the value at
    // ascending rank ceil(0.7*n); keep = score >= threshold (ties at the
    // threshold would all be kept — the documented band vs the rank form)
    val docs = (1L to 20L).map(i => (i, if (i <= 10) "a" else "b", i * 3L))
      .toDF("doc_id", "source", "score")
    val out = graft.pipeline.Curation.topFractionBySourceSketch(docs, 0.3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    // per source n=10: threshold = rank ceil(0.7*10)=7 ascending; with
    // distinct scores that keeps the top 10-7+1 = 4 docs
    for (src <- Seq("a", "b")) {
      val rows = out.filter(_._2 == src)
      val kept = rows.filter(_._4).map(_._3)
      val dropped = rows.filterNot(_._4).map(_._3)
      assert(kept.length == 4, s"$src kept ${kept.length}")
      assert(kept.min > dropped.max) // a clean threshold split, never interleaved
    }
    // agreement with the exact rank form: sketch keep is a superset within
    // the rank-boundary band (here: exactly one extra doc per source)
    val exactKeep = graft.pipeline.Curation.topFractionBySource(docs, 0.3)
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    val sketchKeep = out.filter(_._4).map(_._1).toSet
    assert(exactKeep.subsetOf(sketchKeep))
    assert((sketchKeep -- exactKeep).size == 2) // one boundary doc per source
  }

  test("winsorizeBySource: rank thresholds clip, interior scores untouched") {
    // n=20 distinct scores per source: lo = rank ceil(0.05*20)=1 (the
    // min), hi = rank ceil(0.95*20)=19 (the 2nd largest) — so only the
    // max clips down to the 19th value and nothing clips up
    val docs = (1L to 20L).map(i => (i, "a", i * 10L))
      .toDF("doc_id", "source", "score")
    val out = graft.pipeline.Curation.winsorizeBySource(docs, 0.05, 0.95)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(20L) == 190.0) // max clipped to the hi threshold
    assert(out(1L) == 10.0)   // min IS the lo threshold: unchanged
    assert((2L to 19L).forall(i => out(i) == i * 10.0))
  }

  test("eventRateAnomaly: trailing z-score flags the spike, partial windows NULL") {
    // 7 quiet days (count 2 each, one exception of 3 to give nonzero
    // std), then a 40-event flood on day 8
    val rows = (0 until 7).flatMap { d =>
      val reps = if (d == 3) 3 else 2
      (0 until reps).map(j => (d * 86400L + j, "click"))
    } ++ (0 until 40).map(j => (7 * 86400L + j, "click"))
    val ev = rows.toDF("sec", "event_type")
      .withColumn("event_time", timestamp_seconds(col("sec")))
    val out = graft.pipeline.Funnel.eventRateAnomaly(ev, windowDays = 7, k = 2.0)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), Option(r.get(5)).map(_.asInstanceOf[Boolean]))))
      .toMap
    // days 0..6 have <7 predecessors: NULL flag; day 7 has exactly 7
    (0L to 6L).foreach(d => assert(out(d)._2.isEmpty, s"day $d"))
    assert(out(7L) == ((40L, Some(true))))
    // and a quiet day after the baseline is NOT flagged: mean ~2.14,
    // std ~0.38 — a count of 2 sits inside 2 sigma
    val ev2 = (rows ++ Seq((8 * 86400L, "click"), (8 * 86400L + 1, "click")))
      .toDF("sec", "event_type")
      .withColumn("event_time", timestamp_seconds(col("sec")))
    val out2 = graft.pipeline.Funnel.eventRateAnomaly(ev2, 7, 2.0)
      .collect().map(r => r.getLong(1) -> Option(r.get(5))).toMap
    assert(out2(8L).contains(true) == false) // day 8's window now holds the flood -> huge std
  }

  test("hardNegatives: same-label vectors never surface, ranks deterministic") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.99f, 0.1f), 0),  // nearest overall but SAME label
      (3L, Array(0.9f, 0.2f), 1),
      (4L, Array(0.8f, 0.3f), 1),
      (5L, Array(0.0f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(vecs, vecs.filter($"vec_id" === 1), 2)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    // 2 is excluded despite highest cosine; 3 then 4 rank by cosine desc
    assert(out.toSeq == Seq((3L, 1), (4L, 2)))
  }

  test("jsonFieldStats: typed extraction, missing/non-numeric fields drop") {
    val ev = Seq(
      ("click", """{"k": 3}"""),
      ("click", """{"k": 5}"""),
      ("click", """{"j": 9}"""),     // field missing -> dropped
      ("view", """{"k": "abc"}"""),  // non-numeric -> dropped
      ("view", """{"k": 7}"""),
      ("view", null)                   // null props -> dropped
    ).toDF("event_type", "props")
    val out = graft.pipeline.Funnel.jsonFieldStats(ev, "k")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(out == Map(
      "click" -> ((2L, 8L, 3L, 5L, 4.0)),
      "view" -> ((1L, 7L, 7L, 7L, 7.0))))
  }

  test("quantizeInt8: absmax scheme, int8 range, reconstruction error bounded") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f)),             // all-zero: q = 0, scale = 0
      (3L, Array(-2.0f))                    // single negative: q = -127
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getDouble(2), r.getLong(3))))
      .toMap
    assert(out((1L, 1)) == ((1.0, 64L)))   // round(0.5*127) = round(63.5) away from 0
    assert(out((1L, 2)) == ((1.0, -127L)))
    assert(out((1L, 3)) == ((1.0, 32L)))   // round(31.75)
    assert(out((2L, 1)) == ((0.0, 0L)) && out((2L, 2)) == ((0.0, 0L)))
    assert(out((3L, 1)) == ((2.0, -127L)))
    // contract over a dense random batch: |q| <= 127 and the
    // dequantized element sits within scale/254 of the original
    val rnd = new scala.util.Random(7)
    val many = (1L to 50L).map(i =>
      (i, Array.fill(16)((rnd.nextFloat() - 0.5f) * 4.0f))).toDF("vec_id", "embedding")
    val orig = many.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    Similarity.quantizeInt8(many).collect().foreach { r =>
      val (id, i, sc, q) = (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))
      assert(math.abs(q) <= 127L)
      val x = orig(id)(i - 1).toDouble
      assert(math.abs(q * sc / 127.0 - x) <= sc / 254.0 + 1e-12,
        s"vec $id elem $i: x=$x q=$q scale=$sc")
    }
  }

  test("brute-force top-k ranks by cosine desc with deterministic ties") {
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 1), 3)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(out.head == (2L, 1)) // nearest neighbor of 1 is 2
    assert(out.length == 3)
  }

  test("langid scores stopword markers and argmaxes deterministically") {
    val out = TextAnalysis.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(out(1L) == "en")
    assert(out(4L) == "de")
  }

  test("quality buckets by word count and punctuation ratio") {
    val out = TextAnalysis.quality(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("bucket")).toMap
    assert(out(1L) == "low") // 9 words
  }

  test("token counts: whitespace vs BPE-ish segmentation") {
    val out = TextAnalysis.tokens(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d5 = out.find(_._1 == 5L).get
    assert(d5._2 == 5L) // "completely different text about databases!"
    assert(d5._3 == 6L) // trailing '!' is its own BPE-ish token
  }

  test("fingerprint: deterministic, differs on different text") {
    val fp = TextAnalysis.fingerprint(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(5L))
    assert(fp.values.forall(v => v >= 0 && v < TextAnalysis.FpMod))
  }

  test("repetition: dup/top-token/top-bigram fractions, hand-computed") {
    val d = Seq(
      (1L, "a b a b a", "en", "s1"),   // 5 toks, 2 distinct, top a=3; bigrams: "a b"x2,"b a"x2
      (2L, "x", "en", "s1"),           // single token: no bigram
      (3L, "u v w", "en", "s1")        // all distinct
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.repetition(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("top_token_cnt"), r.getAs[Long]("top_bigram_cnt")),
         (r.getAs[Double]("dup_frac"), r.getAs[Double]("top_bigram_frac")))).toMap
    assert(out(1L)._1 == ((5L, 2L, 3L, 2L)))
    assert(out(1L)._2 == ((3.0 / 5.0, 2.0 / 4.0)))
    assert(out(2L)._1 == ((1L, 1L, 1L, 0L)))
    assert(out(3L)._1 == ((3L, 3L, 1L, 1L)))
  }

  test("deterministic sampling: reproducible, rate-respecting, salt-sensitive") {
    import graft.pipeline.Sampling
    val many = (0L until 2000L).map(i => (i, s"t$i", "en", s"s${i % 2}"))
      .toDF("doc_id", "text", "lang", "source")
    val rates = Map("s0" -> 0.8, "s1" -> 0.1)
    def ids(salt: String): Set[Long] =
      Sampling.sampleBySource(many, rates, 0.5, salt).collect().map(_.getLong(0)).toSet
    val a = ids("mix1")
    assert(a == ids("mix1"))            // fully deterministic
    assert(a != ids("other-salt"))      // new salt redraws
    val bySrc = Sampling.sampleBySource(many, rates, 0.5, "mix1")
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(bySrc("s0") - 800.0) < 80) // ~0.8 * 1000
    assert(math.abs(bySrc.getOrElse("s1", 0L) - 100.0) < 50) // ~0.1 * 1000
  }

  test("top-k heap: NaN scores rank greatest (engine sort parity), no contract violation") {
    import graft.functions.TopKByScore
    val rows = Seq((1L, Double.NaN), (2L, 0.9), (3L, 0.5), (4L, Double.NaN), (5L, 0.7))
      .toDF("id", "score").repartition(3)
    val top = rows.agg(TopKByScore.top_k(col("score"), col("id"), 3).as("t"))
      .selectExpr("explode(t) AS s").select(col("s.id"))
      .collect().map(_.getLong(0)).toSeq
    // NaN ranks first (ids 1, 4 by id-asc tiebreak), then 0.9
    assert(top == Seq(1L, 4L, 2L))
  }

  test("pattern counts and normalized dedup") {
    val d = Seq(
      (1L, "mail me at a.b@example.com or visit https://x.org/page 1234567", "en", "s"),
      (2L, "The  Quick   Brown Fox", "en", "s"),
      (3L, "the quick brown fox", "en", "s"), // normalized dup of 2
      (4L, "the quick brown fox!", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val pc = TextAnalysis.patternCounts(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(pc(1L) == ((1L, 1L, 1L)) && pc(2L) == ((0L, 0L, 0L)))
    val nd = Dedup.exactNormalized(d).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(nd == Map(1L -> true, 2L -> true, 3L -> false, 4L -> true))
  }

  test("exact per-source reservoir: exact sizes, partitioning-independent") {
    import graft.pipeline.Sampling
    val many = (0L until 500L).map(i => (i, s"t$i", "en", s"s${i % 3}"))
      .toDF("doc_id", "text", "lang", "source")
    def picked(parts: Int): Set[(String, Long)] =
      Sampling.sampleExactPerSource(many.repartition(parts), 5, "salt")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val p1 = picked(1)
    assert(p1.groupBy(_._1).forall(_._2.size == 5)) // exactly 5 per source
    assert(p1 == picked(13) && p1 == picked(32))    // heap merge order free
    // a source smaller than n yields all its docs
    val tiny = Seq((1L, "a", "en", "only")).toDF("doc_id", "text", "lang", "source")
    assert(Sampling.sampleExactPerSource(tiny, 5, "salt").count() == 1)
  }

  test("pack sequences: head-to-tail shard layout, partitioning-independent") {
    import graft.pipeline.Sampling
    val many = (0L until 300L)
      .map(i => (i, Seq.fill((i % 7).toInt)("w").mkString(" "), "en", s"s${i % 3}"))
      .toDF("doc_id", "text", "lang", "source")
    val C = 10L
    def packed(parts: Int) =
      Sampling.packSequences(many.repartition(parts), C, 4, "pk")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
    val out = packed(1)
    assert(out.length == 300 && out.map(_._1).distinct.length == 300)
    // layout is a deterministic function of content, not partitioning
    assert(out.sortBy(_._1).sameElements(packed(13).sortBy(_._1)))
    out.groupBy(_._3).foreach { case (_, rows) =>
      // within a shard, slots ordered by global position are exactly the
      // exclusive prefix sums of n_tokens: head-to-tail, no gaps/overlap
      // (zero-token docs tie on a slot; order them first so the running
      // sum is well-defined)
      val slots = rows.map { case (_, _, _, n, pack, off) => (pack * C + off, n) }
        .sortBy { case (cum, n) => (cum, n) }
      var cum = 0L
      slots.foreach { case (c, n) =>
        assert(c == cum, s"slot $c != running sum $cum"); cum += n
      }
    }
    // slot decomposition: pack/offset round-trip and offset < contextLen
    assert(out.forall { case (_, _, _, _, pack, off) =>
      pack >= 0 && off >= 0 && off < C })
    // empty/NULL text packs at width 0
    val edge = Seq((1L, null.asInstanceOf[String], "en", "a"), (2L, "", "en", "a"))
      .toDF("doc_id", "text", "lang", "source")
    assert(Sampling.packSequences(edge, C, 1, "pk")
      .collect().forall(_.getLong(3) == 0L))
  }

  test("multimodal: real container decode is deterministic; corrupt slice flags") {
    // doc 0 hits the doc_id % 97 == 0 corrupt-synthesis slice
    val d6 = docs.union(Seq((0L, "corrupt body", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source"))
    val out1 = Multimodal.pipeline(d6).orderBy("doc_id").collect()
    val out2 = Multimodal.pipeline(d6).orderBy("doc_id").collect()
    assert(out1.sameElements(out2))
    val m = out1.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!m(0L).getAs[Boolean]("decoded_ok") &&
      m(0L).getAs[String]("format") == "unknown")
    assert(out1.filter(_.getAs[Long]("doc_id") != 0L)
      .forall(_.getAs[Boolean]("decoded_ok")))
    assert(out1.map(_.getAs[String]("media_type")).toSet == Set("image", "audio", "video"))
    // doc 3 is an image rotating to jpeg ((3/3) % 3 == 1); dims are the
    // synthesis closed forms READ BACK from the real SOF0 header
    assert(m(3L).getAs[String]("format") == "jpeg")
    assert(m(3L).getAs[Int]("width") == 16 + (3 * 37) % 2000)
    assert(m(3L).getAs[Int]("height") == 16 + (3 * 59) % 1200)
    // doc 1 is WAV: 43 body bytes / blockAlign 4 = 10 sample frames, from
    // the parsed fmt + data chunks
    assert(m(1L).getAs[String]("format") == "wav" && m(1L).getAs[Int]("n_frames") == 10)
  }

  test("span dedup: no repeated spans => kept text reconstructs the input") {
    // every doc unique tokens => zero boilerplate; kept_md5 must equal
    // md5 of the \S+ tokens rejoined by single spaces (the identity that
    // pins the slice/rebuild arithmetic end to end)
    val d = Seq(
      (1L, "u1 u2 u3 u4 u5"),
      (2L, "v1  v2\tv3"),     // messy whitespace: tokens rejoined by ' '
      (3L, "w1")
    ).toDF("doc_id", "text")
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val out = Dedup.spanDedup(d, spanWords = 2, maxDocs = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((0L, md5hex("u1 u2 u3 u4 u5"))))
    assert(out(2L) == ((0L, md5hex("v1 v2 v3"))))
    assert(out(3L) == ((0L, md5hex("w1"))))
  }

  test("components: chains close transitively, isolated nodes keep themselves") {
    // 1-2-3-4 is a CHAIN (1~4 never pair directly): min-label propagation
    // needs multiple rounds to pull 4 down to 1, which the near-clique
    // oracle data can't exercise; 7-8 is a separate pair; 9 is isolated
    val nodes = Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 7L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.components(nodes, pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false), 4L -> (1L, false),
      7L -> (7L, true), 8L -> (7L, false), 9L -> (9L, true)))
  }

  test("topFractionBySource: ceil cutoff per source, ties to lowest doc_id") {
    import graft.pipeline.Curation
    // source a: 10 docs, frac 0.3 -> keep 3 (ceil(3.0)); source b: 2 docs
    // -> keep 1 (ceil(0.6)); tied scores resolved by lowest doc_id
    val docs = ((1L to 10L).map(i => (i, "a", i % 5)) ++
      Seq((20L, "b", 7L), (21L, "b", 7L)))
      .toDF("doc_id", "source", "score")
    val out = Curation.topFractionBySource(docs, 0.3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val kept = out.filter(_._2).keySet
    // a's scores: 4 at ids 4,9; 3 at ids 3,8 -> top 3 = {4, 9, 3}
    assert(kept == Set(4L, 9L, 3L, 20L))
    // frac 0 keeps nothing, frac 1 keeps everything
    assert(Curation.topFractionBySource(docs, 0.0)
      .filter(col("keep")).count() == 0)
    assert(Curation.topFractionBySource(docs, 1.0)
      .filter(col("keep")).count() == 12)
  }

  test("componentsKeepBy: argmax-score canonical, ties to lowest doc_id") {
    // cluster {1,2,3,4}: best score sits mid-chain (3); cluster {7,8}:
    // tied scores -> lowest id (7); isolated 9 keeps itself
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 50L), (4L, 40L),
      (7L, 20L), (8L, 20L), (9L, 5L)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 7L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.componentsKeepBy(scored, pairs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out == Map(
      1L -> (1L, 10L, false), 2L -> (1L, 30L, false), 3L -> (1L, 50L, true),
      4L -> (1L, 40L, false), 7L -> (7L, 20L, true), 8L -> (7L, 20L, false),
      9L -> (9L, 5L, true)))
    // exactly one keeper per component regardless of scores
    val keepers = out.values.groupBy(_._1).map { case (c, vs) =>
      c -> vs.count(_._3) }
    assert(keepers.values.forall(_ == 1))
  }

  test("components: bound-hit is loud; componentsRun exposes partial labels") {
    val nodes = (1L to 5L).toDF("doc_id")
    val pairs = (1L to 4L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // the throwing form refuses unconverged labels (silent double-keep)
    val ex = intercept[IllegalStateException] {
      Dedup.components(nodes, pairs, maxIter = 1)
    }
    assert(ex.getMessage.contains("maxIter=1"))
    // the non-throwing form reports the bound hit and still returns
    // monotone upper bounds: one round = neighbor min + one pointer jump,
    // so 3 reaches 1 via L(L(3)), 5 reaches 3
    val run = Dedup.componentsRun(nodes, pairs, maxIter = 1)
    assert(!run.converged && run.rounds == 1)
    val out = run.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L &&
      out(4L) == 2L && out(5L) == 3L)
    assert(out.forall { case (n, c) => c <= n })
    // two rounds suffice on this chain — and the run says so
    val full = Dedup.componentsRun(nodes, pairs, maxIter = 3)
    assert(full.converged)
    assert(full.labels.collect().forall(_.getLong(1) == 1L))
  }

  test("components: reliable checkpoint dir yields identical labels, cleans rounds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val nodes = (1L to 16L).toDF("doc_id")
    val pairs = (1L until 16L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val run = Dedup.componentsRun(nodes, pairs, checkpointDir = Some(dir))
    assert(run.converged)
    assert(run.labels.collect().forall(_.getLong(1) == 1L))
    // intermediate rounds' checkpoint files were deleted as the loop
    // advanced: what's left on disk is at most the final round's artifacts
    def rddDirs(p: java.io.File): Seq[java.io.File] =
      Option(p.listFiles()).toSeq.flatten
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .filter(_.getName.startsWith("rdd-"))
    assert(rddDirs(new java.io.File(dir)).size <= 2) // final labels (+ its jump input at most)
  }

  test("components: pointer jumping converges a 64-chain in O(log n) rounds") {
    val n = 64L
    val nodes = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val run = Dedup.componentsRun(nodes, pairs)
    val out = run.labels.collect()
    assert(out.forall(_.getLong(1) == 1L)) // one component, min = 1
    assert(run.converged)
    // plain min-propagation would need 63 rounds; shortcutting more than
    // doubles reach per round (+1 converged-detection round)
    assert(run.rounds <= 10, s"rounds = ${run.rounds}")
  }

  test("components: one job per round") {
    val n = 40L
    val nodes = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    var run: Dedup.ComponentsRun = null
    val jobs = jobsOf { run = Dedup.componentsRun(nodes, pairs) }
    assert(run.converged && run.rounds > 2)
    assert(jobs <= run.rounds + 2, s"$jobs jobs for ${run.rounds} rounds")
    assert(run.labels.collect().forall(_.getLong(1) == 1L))
  }

  test("components: labels equal a union-find on seeded random graphs") {
    val rnd = new scala.util.Random(20261020L)
    (1 to 6).foreach { g =>
      val ids = rnd.shuffle((1L to 300L).toList).take(20 + rnd.nextInt(60))
      val edges = Seq.fill(rnd.nextInt(ids.size)) {
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
      }
      // duplicate and reversed pairs of some edges; the rest of the ids
      // stay isolated unless an edge reaches them
      val pairs = edges ++ edges.take(edges.size / 3) ++ edges.take(edges.size / 4).map(_.swap)
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(i: Long): Long = if (parent(i) == i) i else find(parent(i))
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        parent(ra max rb) = ra min rb
      }
      val expected = ids.map(i => i -> ((find(i), find(i) == i))).toMap
      val run = Dedup.componentsRun(ids.toDF("doc_id"), pairs.toDF("doc_a", "doc_b"))
      assert(run.converged, s"graph $g")
      val out = run.labels.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(out == expected, s"graph $g: ${ids.size} nodes, ${pairs.size} pairs")
    }
  }

  test("span dedup: cross-doc spans stripped, within-doc repeats kept") {
    val w2 = Seq(
      (1L, "a b c d e f"),   // spans (w=2): "a b","c d","e f"
      (2L, "a b x y"),       // shares "a b" with 1
      (3L, "p q p q r"),     // "p q" twice IN-DOC (df=1: kept), tail "r"
      (4L, "")               // token-less: one empty span
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(w2, spanWords = 2, maxDocs = 1)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out(1L) == ((3L, 1L, md5hex("c d e f"))))
    assert(out(2L) == ((2L, 1L, md5hex("x y"))))
    assert(out(3L) == ((3L, 0L, md5hex("p q p q r"))))
    assert(out(4L) == ((1L, 0L, md5hex("")))) // empty span df counts docs, not rows
  }

  test("funnel: strict-after step ordering, ties don't advance") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)), // full
      (2L, "click", ts(1)), (2L, "view", ts(2)),  // click BEFORE view: stops at 1
      (3L, "view", ts(5)), (3L, "click", ts(5)),  // tie: strict > rejects
      (4L, "error", ts(1))                          // never enters the funnel
    ).toDF("user_id", "event_type", "event_time")
    val out = graft.pipeline.Funnel.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("funnel: horizon bounds steps to t1's window, anchored at EARLIEST t1") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, "view", ts(1)), (1L, "click", ts(5)), (1L, "purchase", ts(9)),   // all in window
      (2L, "view", ts(1)), (2L, "click", ts(20)),                           // click outside
      (3L, "view", ts(1)), (3L, "click", ts(5)), (3L, "purchase", ts(20)),  // purchase outside
      // a LATER view (ts 30) does not re-open the window: t1 stays ts(1)
      (4L, "view", ts(1)), (4L, "view", ts(30)), (4L, "click", ts(35))
    ).toDF("user_id", "event_type", "event_time")
    val out = graft.pipeline.Funnel.funnel(ev, Seq("view", "click", "purchase"),
        horizonUs = Some(10L * 1000000L)) // 10 s after first view
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
    // without the horizon all of 2/3/4 convert further
    val un = graft.pipeline.Funnel.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(un == Map(1L -> 3L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
  }

  test("retention: cohort = first active day, distinct users per cell") {
    def at(day: Int, sec: Int) = new java.sql.Timestamp(day * 86400000L + sec * 1000L)
    val ev = Seq(
      (1L, at(0, 1)), (1L, at(0, 2)), (1L, at(2, 0)),  // cohort 0, back day 2
      (2L, at(0, 5)), (2L, at(1, 0)),                   // cohort 0, back day 1
      (3L, at(1, 0))                                    // cohort 1, never back
    ).toDF("user_id", "event_time")
    val out = graft.pipeline.Funnel.retention(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L, (1L, 0L) -> 1L))
  }

  test("abTest: pooled two-proportion z; user-level conversion collapse") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // arm A (even ids): users 2, 4 — user 2 converts (twice: counts once).
    // arm B (odd ids): users 1, 3, 5 — users 1 and 3 convert.
    val ev = Seq(
      (2L, "view", ts(1)), (2L, "purchase", ts(2)), (2L, "purchase", ts(3)),
      (4L, "view", ts(1)),
      (1L, "purchase", ts(1)), (3L, "purchase", ts(2)), (5L, "view", ts(3))
    ).toDF("user_id", "event_type", "event_time")
    val r = graft.pipeline.Funnel.abTest(ev, col("user_id") % 2 === 1,
      "purchase").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 3L, 2L)))
    assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 2.0 / 3.0)
    val pp = 3.0 / 5.0
    val se2 = pp * (1.0 - pp) * (1.0 / 2.0 + 1.0 / 3.0)
    assert(math.abs(r.getDouble(6) - (2.0 / 3.0 - 0.5) / math.sqrt(se2)) < 1e-12)
  }

  test("sampleWeightedExactK: exactly k; heavy docs win on average; deterministic") {
    val d = (1L to 100L).map(i =>
      (i, (if (i <= 50) "w " * 100 else "w ").trim, s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val w = regexp_count(col("text"), lit("\\S+")).cast("long")
    val out = graft.pipeline.Sampling.sampleWeightedExactK(d, 20, w, "t").collect()
    assert(out.length == 20)
    // the 100-token docs (ids <= 50) should dominate a 20-draw
    val heavy = out.count(_.getLong(0) <= 50L)
    assert(heavy >= 15, s"heavy=$heavy")
    // deterministic across partitionings
    val out7 = graft.pipeline.Sampling.sampleWeightedExactK(d.repartition(7), 20, w, "t")
      .collect().map(_.getLong(0)).toSet
    assert(out7 == out.map(_.getLong(0)).toSet)
  }

  test("media qaReport: decode rates per (type, format); corrupt slice isolated") {
    // ids 3,6 image; 1,4 audio; 2,5 video; 97*3=291 image-slot corrupt
    val d = Seq(1L, 2L, 3L, 4L, 5L, 6L, 291L).map(i => (i, s"body text $i"))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Multimodal.qaReport(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val unknown = out.keys.filter(_._2 == "unknown")
    assert(unknown.size == 1 && out(unknown.head)._1 == 1L &&
      out(unknown.head)._2 == 0L && out(unknown.head)._3 == 0.0)
    out.filterNot(_._1._2 == "unknown").values.foreach { case (n, ok, rate) =>
      assert(n == ok && rate == 1.0)
    }
  }

  test("bootstrapCi: CI brackets the point mean; shrinks with corpus size") {
    def mk(n: Int) = (1L to n.toLong).map(i => (i, "s", 100L + (i % 21)))
      .toDF("doc_id", "source", "n_chars")
    val small = graft.pipeline.Sampling.bootstrapCi(
      mk(200), col("n_chars"), b = 32, salt = "t").collect().head
    assert(small.getLong(0) == 200L)
    val pm = small.getDouble(1)
    assert(small.getDouble(4) < pm && pm < small.getDouble(5),
      s"ci=[${small.getDouble(4)}, ${small.getDouble(5)}] pm=$pm")
    val big = graft.pipeline.Sampling.bootstrapCi(
      mk(5000), col("n_chars"), b = 32, salt = "t").collect().head
    // bootstrap sd shrinks roughly as 1/sqrt(n)
    assert(big.getDouble(3) < small.getDouble(3),
      s"big sd=${big.getDouble(3)} small sd=${small.getDouble(3)}")
  }

  test("rfm: recency vs corpus max day; NULL values count as events, not money") {
    def at(day: Int, sec: Int) =
      new java.sql.Timestamp(day * 86400000L + sec * 1000L)
    val ev = Seq(
      (1L, at(0, 1), Some(2.0)), (1L, at(0, 2), Some(3.0)), (1L, at(2, 0), None),
      (2L, at(5, 0), Some(10.0))
    ).toDF("user_id", "event_time", "value")
    val out = graft.pipeline.Funnel.rfm(ev).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((3L, 2L, 3L, 5.0))) // last day 2, max 5 -> recency 3
    assert(out(2L) == ((0L, 1L, 1L, 10.0)))
  }

  test("lorenzCurve: cumulative fractions over ascending source ranks") {
    val d = (Seq.fill(1)("s1") ++ Seq.fill(3)("s2") ++ Seq.fill(6)("s3"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "source")
    val out = graft.pipeline.Curation.lorenzCurve(d).collect()
      .map(r => r.getLong(2) -> ((r.getString(0), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(1L) == (("s1", 1.0 / 3.0, 0.1)))
    assert(out(2L) == (("s2", 2.0 / 3.0, 0.4)))
    assert(out(3L) == (("s3", 1.0, 1.0)))
  }

  test("pagerank: sink type accumulates mass; scores sum to ~1") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // every user flows a -> b -> c and stops: c is a dangling sink and
    // must out-rank a (which only receives teleport mass)
    val ev = (1L to 5L).flatMap(u => Seq(
      (u, u * 10L + 1L, "a", ts(1)), (u, u * 10L + 2L, "b", ts(2)),
      (u, u * 10L + 3L, "c", ts(3))))
      .toDF("user_id", "event_id", "event_type", "event_time")
    val out = graft.pipeline.Funnel.pagerank(ev, damping = 0.85, iters = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set("a", "b", "c"))
    assert(out("c") > out("b") && out("b") > out("a"), out.toString)
    assert(math.abs(out.values.sum - 1.0) < 1e-6, out.toString)
    // empty input: no rows
    val empty = Seq.empty[(Long, Long, String, java.sql.Timestamp)]
      .toDF("user_id", "event_id", "event_type", "event_time")
    assert(graft.pipeline.Funnel.pagerank(empty).count() == 0L)
  }

  test("abTrajectory: cumulative arms per hour; final row equals abTest") {
    def at(hour: Int, sec: Int) =
      new java.sql.Timestamp(hour * 3600000L + sec * 1000L)
    val ev = Seq(
      (2L, "view", at(0, 1)), (2L, "purchase", at(1, 2)),
      (4L, "view", at(0, 3)),
      (1L, "purchase", at(0, 1)), (3L, "purchase", at(1, 2)),
      (5L, "view", at(2, 3))
    ).toDF("user_id", "event_type", "event_time")
    val out = graft.pipeline.Funnel.abTrajectory(ev,
        col("user_id") % 2 === 1, "purchase")
      .collect().map(r => r.getTimestamp(0).getTime / 3600000L ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // hour 0: arm A users {2,4}, conv {}; arm B {1}, conv {1}
    assert(out(0L) == ((2L, 0L, 1L, 1L)))
    // hour 1: user 2 converts; user 3 joins+converts
    assert(out(1L) == ((2L, 1L, 2L, 2L)))
    // hour 2: user 5 joins arm B
    assert(out(2L) == ((2L, 1L, 3L, 2L)))
    // the final trajectory row equals the one-shot abTest readout
    val finalRow = graft.pipeline.Funnel.abTest(ev,
      col("user_id") % 2 === 1, "purchase").collect().head
    assert((finalRow.getLong(0), finalRow.getLong(1), finalRow.getLong(2),
      finalRow.getLong(3)) == out(2L).copy())
  }

  test("blockingReport: candidate pairs and reduction ratio over the band buckets") {
    // two identical docs (same signature -> share every band bucket)
    // plus one distinct doc: 16 bands, cap-free
    val d = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "completely different words here entirely unrelated"))
      .toDF("doc_id", "text")
    val r = graft.pipeline.Dedup.blockingReport(d, k = 5, bands = 16,
      rowsPerBand = 4).collect().head
    assert(r.getLong(0) == 3L)                 // n_docs
    // the twin pair collides in all 16 bands -> >= 16 candidate pairs
    assert(r.getLong(4) >= 16L, s"cand=${r.getLong(4)}")
    val ratio = r.getDouble(5)
    // all-pairs would be 3 pairs x 16 bands = 48 units of work; the
    // banding must not exceed it and must price the twin collision
    assert(ratio > 0.0 && r.getLong(4) <= 48L)
    assert(r.getLong(3) >= 2L)                 // max bucket holds the twins
  }

  test("skyline2d: exact Pareto frontier; equal-point ties kept; dominated dropped") {
    val d = Seq(
      (1L, Some(10.0), 1.0), // frontier (best x)
      (2L, Some(8.0), 3.0),  // frontier
      (3L, Some(8.0), 2.0),  // dominated by 2 (same x, lower y)
      (4L, Some(5.0), 3.0),  // dominated by 2 (lower x, same y)
      (5L, Some(4.0), 9.0),  // frontier
      (6L, Some(4.0), 9.0),  // exact tie of 5: BOTH kept
      (7L, Some(1.0), 1.0),  // dominated by everything
      (8L, None: Option[Double], 5.0) // NULL drops
    ).toDF("id", "x", "y")
    val out = graft.pipeline.Skyline.skyline2d(d, "x", "y")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 5L, 6L))
    // determinism across partitionings (the two-pass prefix combine)
    val out9 = graft.pipeline.Skyline.skyline2d(d.repartition(9), "x", "y")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(out9 == out)
  }

  test("cusum: accumulates a persistent shift; resets at zero; two-sided") {
    def at(hour: Int, k: Int) =
      new java.sql.Timestamp(hour * 3600000L + k * 1000L)
    // hours 0..3 with counts 4,4,10,10: mu=7. k=1 -> devs -4,-4,2,2.
    // S+ : max(0,·+d): 0,0,2,4. S-(d'=n-mu+1: -2,-2,4,4; S-=max(0,S- -d')):
    // 2,4,0,0.
    val ev = (Seq.tabulate(4)(k => (1L, at(0, k))) ++
      Seq.tabulate(4)(k => (1L, at(1, k))) ++
      Seq.tabulate(10)(k => (1L, at(2, k))) ++
      Seq.tabulate(10)(k => (1L, at(3, k)))).toDF("event_id", "event_time")
    val out = graft.pipeline.Funnel.cusum(ev, k = 1.0, h = 3.0).collect()
      .map(r => r.getTimestamp(0).getTime / 3600000L ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(0L) == ((4L, 0.0, 2.0, false)))
    assert(out(1L) == ((4L, 0.0, 4.0, true)))   // downward leak alarms
    assert(out(2L) == ((10L, 2.0, 0.0, false)))
    assert(out(3L) == ((10L, 4.0, 0.0, true)))  // upward leak alarms
  }

  test("seasonality: (dow, hour) cells from integer arithmetic; epoch day 0 is Thursday") {
    def at(day: Int, hour: Int) =
      new java.sql.Timestamp(day * 86400000L + hour * 3600000L)
    val ev = Seq((1L, at(0, 0)), (2L, at(0, 0)), (3L, at(0, 23)),
      (4L, at(3, 5)), // day 3 = Sunday (dow 0)
      (5L, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("event_id", "event_time")
    val out = graft.pipeline.Funnel.seasonality(ev).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // 1970-01-01 = Thursday -> dow (0+4)%7 = 4
    assert(out((4, 0)) == ((2L, 0.5)))
    assert(out((4, 23)) == ((1L, 0.25)))
    assert(out((0, 5)) == ((1L, 0.25)))
    assert(out.size == 3)
  }

  test("seasonalAnomaly: windows z-scored against their (dow, hour) cell") {
    def at(day: Int, hour: Int, k: Int) =
      new java.sql.Timestamp(day * 86400000L + hour * 3600000L + k * 1000L)
    // same (dow=4+?,0) cell on epoch days 0 and 7 (both Thursday 00):
    // counts 2 and 4 -> mean 3, std 1 -> z = -1 and +1. Day 1 hour 0:
    // single observation -> z NULL.
    val ev = (Seq.tabulate(2)(k => (1L, at(0, 0, k))) ++
      Seq.tabulate(4)(k => (1L, at(7, 0, k))) ++
      Seq((1L, at(1, 0, 0)))).toDF("event_id", "event_time")
    val out = graft.pipeline.Funnel.seasonalAnomaly(ev).collect()
      .map(r => r.getTimestamp(0).getTime / 3600000L ->
        ((r.getInt(1), r.getInt(2), r.getLong(3),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    assert(out(0L) == ((4, 0, 2L, Some(-1.0))))
    assert(out(7L * 24) == ((4, 0, 4L, Some(1.0))))
    assert(out(24L) == ((5, 0, 1L, None)))
  }

  test("attributionTimeDecay: half-life weights normalized per conversion") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // conversion at 100s; touches at 40s (dt=60s) and 70s (dt=30s);
    // halfLife 30s -> weights 2^-2=0.25, 2^-1=0.5 -> credits 1/3, 2/3
    val ev = Seq(
      (1L, 10L, "view", ts(40)), (1L, 11L, "view", ts(70)),
      (1L, 12L, "purchase", ts(100)),
      (2L, 20L, "purchase", ts(50))  // no touches: no rows
    ).toDF("user_id", "event_id", "event_type", "event_time")
    val out = graft.pipeline.Funnel.attributionTimeDecay(ev, "purchase",
        "view", tolUs = 3600000000L, halfLifeUs = 30000000L)
      .collect().map(r => r.getLong(2) -> ((r.getLong(3), r.getDouble(4)))).toMap
    assert(out(10L) == ((60000000L, 250000.0 / 750000.0)))
    assert(out(11L) == ((30000000L, 500000.0 / 750000.0)))
    assert(out.size == 2)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("quantileCalibrate: per-source percentile mapped to the global order statistic") {
    // s1 scores (10, 20, 30); s2 scores (100, 200, 300). Global sorted:
    // 10,20,30,100,200,300 (N=6). A doc at source-percentile 0.5 maps to
    // global rank floor(0.5*5)+1 = 3 -> calibrated 30, for BOTH sources.
    val d = Seq((1L, 10L, "s1"), (2L, 20L, "s1"), (3L, 30L, "s1"),
      (4L, 100L, "s2"), (5L, 200L, "s2"), (6L, 300L, "s2"))
      .toDF("doc_id", "n_chars", "source")
    val out = graft.pipeline.Curation.quantileCalibrate(d, "n_chars")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(2L) == ((0.5, 30.0)))
    assert(out(5L) == ((0.5, 30.0))) // the calibration: 200 and 20 now agree
    assert(out(1L) == ((0.0, 10.0)) && out(4L) == ((0.0, 10.0)))
    assert(out(3L) == ((1.0, 300.0)) && out(6L) == ((1.0, 300.0)))
  }

  test("sessionPerplexity: hand-computed Markov scores; impossible order scores lower") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // corpus: u1 a>b, u2 a>b, u3 b>a — transitions a>b:2, b>a:1
    val ev = Seq(
      (1L, 10L, "a", ts(1)), (1L, 11L, "b", ts(2)),
      (2L, 20L, "a", ts(1)), (2L, 21L, "b", ts(2)),
      (3L, 30L, "b", ts(1)), (3L, 31L, "a", ts(2))
    ).toDF("user_id", "event_id", "event_type", "event_time")
    val out = graft.pipeline.Funnel.sessionPerplexity(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val q = (x: Double) => math.floor(math.log(x) * 1.0e9) / 1.0e9
    // uni: a=3, b=3, tt=6. from-a total 2, from-b total 1.
    // u1: ln(3/6) + ln(2/2) over 2 events
    assert(out(1L) == ((2L, (q(0.5) + q(1.0)) / 2.0)))
    assert(out(1L) == out(2L))
    // u3's b>a transition is rarer in-context: p(a|b) = 1/1 = 1 too —
    // but its start ln(3/6) same; equal here, so instead check counts
    assert(out(3L)._1 == 2L)
    // the anomaly property: a user replaying b>a>b-style rare chains
    val ev2 = ev.union(Seq((4L, 40L, "b", ts(1)), (4L, 41L, "b", ts(2)))
      .toDF("user_id", "event_id", "event_type", "event_time"))
    val o2 = graft.pipeline.Funnel.sessionPerplexity(ev2).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // u4's b>b transition (count 1 of 2 from-b) scores below u1's a>b
    // (2 of 3 from-a)
    assert(o2(4L) < o2(1L), s"u4=${o2(4L)} u1=${o2(1L)}")
  }

  test("lexicalRichness: TTR and hapax rate per source; NULL text skipped") {
    val d = Seq(
      (1L, "a a a b", "s1"),          // s1: 4 tokens, 2 types, hapax {b}
      (2L, "c d e", "s2"), (3L, "c", "s2"), // s2: 4 tokens, 3 types, hapax {d,e}
      (4L, null.asInstanceOf[String], "s1")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.lexicalRichness(d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("s1") == ((4L, 2L, 0.5, 0.5)))
    assert(out("s2") == ((4L, 3L, 0.75, 2.0 / 3.0)))
  }

  test("rollingRetention: active-at-or-after counts; monotone; dense offsets") {
    def at(day: Int, sec: Int) = new java.sql.Timestamp(day * 86400000L + sec * 1000L)
    // u1: days 0,2 (max off 2); u2: day 0 only; u3: days 1,3 (cohort 1)
    val ev = Seq((1L, at(0, 1)), (1L, at(2, 0)), (2L, at(0, 5)),
      (3L, at(1, 0)), (3L, at(3, 0))).toDF("user_id", "event_time")
    val out = graft.pipeline.Funnel.rollingRetention(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cohort 0: off0 = both users; off1, off2 = u1 only (came back at 2)
    assert(out == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L, (1L, 2L) -> 1L))
  }

  test("retention half-life: OLS on quantized ln(rate), degenerate cohorts NULL") {
    def at(day: Int, user: Long) = new java.sql.Timestamp(day * 86400000L + user * 1000L)
    // cohort 0: 8 users day0, 4 back day1, 2 back day2, 1 back day3 —
    // rate = 2^-t, so the fitted half-life is ~1 day (quantization-exact
    // slope 693.3 in 1e-3-ln units). cohort 5: one user, one point.
    val ev = ((1L to 8L).map(u => (u, at(0, u))) ++
      (1L to 4L).map(u => (u, at(1, u))) ++
      (1L to 2L).map(u => (u, at(2, u))) ++
      Seq((1L, at(3, 1L)), (99L, at(5, 99L)))).toDF("user_id", "event_time")
    val out = graft.pipeline.Funnel.retentionHalfLife(ev).collect()
      .map(r => r.getLong(0) -> r).toMap
    val c0 = out(0L)
    assert(c0.getLong(1) == 4L)
    // y = floor(ln(2^-t)*1e3) = (0, -694, -1387, -2080); OLS slope -693.3
    assert(math.abs(c0.getDouble(2) - 0.6933) < 1e-12)
    assert(math.abs(c0.getDouble(3) - 0.6931471805599453 / 0.6933) < 1e-12)
    val c5 = out(5L)
    assert(c5.getLong(1) == 1L && c5.isNullAt(2) && c5.isNullAt(3))
  }

  test("session paths: ordered journeys per session, top-k with ties to first path") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, "view", ts(1)), (1L, "click", ts(2)),       // session: view>click
      (1L, "view", ts(5000)), (1L, "click", ts(5001)), // second session, same path
      (2L, "view", ts(1)), (2L, "click", ts(2)),       // view>click again
      (3L, "view", ts(10)),                             // lone view
      (4L, "purchase", ts(1))                           // lone purchase
    ).toDF("user_id", "event_type", "event_time")
    val out = graft.pipeline.Funnel.sessionPaths(ev, "30 minutes", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq(("view>click", 3L, 1), ("purchase", 1L, 2), ("view", 1L, 3)))
  }

  test("active users: trailing-window distinct counts, dedup before explode") {
    def at(day: Int, sec: Int) = new java.sql.Timestamp(day * 86400000L + sec * 1000L)
    val ev = Seq(
      (1L, at(0, 1)), (1L, at(0, 2)),  // two events, ONE user-day
      (1L, at(2, 0)),                   // user 1 again on day 2
      (2L, at(0, 5)),
      (3L, at(4, 0))
    ).toDF("user_id", "event_time")
    val out = graft.pipeline.Funnel.activeUsers(ev, windowDays = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // windows (D-3, D]: day0 {1,2}, day1 {1,2}, day2 {1,2}, day3 {1},
    // day4 {1,3}, day5 {3}, day6 {3}
    assert(out == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 1L,
      4L -> 2L, 5L -> 1L, 6L -> 1L))
    // windowDays=1 is plain DAU
    val dau = graft.pipeline.Funnel.activeUsers(ev, windowDays = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dau == Map(0L -> 2L, 2L -> 1L, 4L -> 1L))
  }

  test("heavy hitters: SpaceSaving bounds hold in the approximate regime") {
    import graft.functions.HeavyHitters
    val words = Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ (1 to 20).map("w" + _)
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "term")
    val out = df.agg(HeavyHitters.heavy_hitters(col("term"), 4).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.term"), col("e.cnt"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    out.foreach { case (t, c, e) =>
      val tc = truth.getOrElse(t, 0L)
      assert(c >= tc && c - e <= tc, s"$t: cnt=$c err=$e true=$tc")
    }
    // any term above N/m (100/4 = 25) is guaranteed present
    assert(out.map(_._1).toSet.intersect(Set("a", "b")) == Set("a", "b"))
    assert(out.length <= 4)
    // exact regime: capacity >= vocabulary -> exact counts, zero error
    val exact = df.agg(HeavyHitters.heavy_hitters(col("term"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.term"), col("e.cnt"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(exact.forall { case (t, c, e) => c == truth(t) && e == 0L })
    assert(exact.length == truth.size)
    // merged summaries must stay re-mergeable: the hidden-floor of BOTH
    // inputs survives the merge (a dropped floor would let a later merge
    // underestimate absent terms, breaking cnt >= true)
    val agg = HeavyHitters(org.apache.spark.sql.catalyst.expressions.Literal("x"), 2)
    val sa = new HeavyHitters.Summary(2)
    Seq("a", "a", "a", "b", "b", "c").foreach(sa.offer(_, 1L, 0L)) // evicts: floor 2
    val sb = new HeavyHitters.Summary(2)
    Seq("d", "d", "e").foreach(sb.offer(_, 1L, 0L)) // never full: floor 0
    assert(sa.floor == 2L && sb.floor == 0L)
    // merged floor >= floorA + floorB, raised further by the top-m cut
    // (dropped entries' combined counts become the new hidden mass)
    val merged = agg.merge(sa, sb)
    assert(merged.floor >= 2L && merged.entries.size <= 2)
    // kept entries still overestimate: every kept cnt >= its true count
    // (a=3 true 3; d absent from sa adopts floorA=2 -> cnt 4 >= true 2)
    merged.entries.foreach { case (t, (c, _)) =>
      val tc = Map("a" -> 3L, "b" -> 2L, "c" -> 1L, "d" -> 2L, "e" -> 1L)(t)
      assert(c >= tc, s"$t: $c < $tc")
    }
  }

  test("heavy hitters: heap summary == brute-force min-scan SpaceSaving") {
    import graft.functions.HeavyHitters
    // reference implementation: the pre-heap O(m) min-scan with the same
    // eviction tie-break (min cnt; ties max err, then max term) — the
    // heap rewrite must be bit-identical on any stream
    final class Naive(m: Int) {
      val entries = scala.collection.mutable.HashMap[String, (Long, Long)]()
      var floor = 0L
      def offer(t: String, c: Long, e: Long): Unit = entries.get(t) match {
        case Some((c0, e0)) => entries.put(t, (c0 + c, e0 + e))
        case None =>
          if (entries.size < m) entries.put(t, (c, e))
          else {
            var minT: String = null; var minC = Long.MaxValue; var minE = -1L
            entries.foreach { case (t0, (c0, e0)) =>
              if (c0 < minC || (c0 == minC && (e0 > minE ||
                  (e0 == minE && (minT == null || t0 > minT))))) {
                minT = t0; minC = c0; minE = e0
              }
            }
            entries.remove(minT)
            if (minC > floor) floor = minC
            entries.put(t, (minC + c, minC + e))
          }
      }
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 20; m <- Seq(1, 2, 5, 16)) {
      val heap = new HeavyHitters.Summary(m)
      val naive = new Naive(m)
      // skewed stream (zipf-ish via pow) over a vocab larger than m
      for (_ <- 0 until 500) {
        val t = "t" + math.min((math.pow(rnd.nextDouble(), 2) * 40).toInt, 39)
        heap.offer(t, 1L, 0L); naive.offer(t, 1L, 0L)
      }
      assert(heap.entries == naive.entries.toMap, s"m=$m trial=$trial")
      assert(heap.floor == naive.floor, s"m=$m trial=$trial")
    }
    // capacity headroom for the heap path at m >> vocab: exact, no evictions
    val big = new HeavyHitters.Summary(100000)
    for (i <- 0 until 10000) big.offer("w" + i % 700, 1L, 0L)
    assert(big.size == 700 && big.floor == 0L)
    assert(big.entries.values.forall { case (c, e) => (c == 15L || c == 14L) && e == 0L })
  }

  test("top terms: tf*N/df scoring, deterministic tie-break by term") {
    val d = Seq(
      (1L, "apple banana apple", "s1"),
      (2L, "banana cherry", "s1"),
      (3L, "apple dog", "s2")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.topTerms(d, k = 2)
      .collect().map(r => (r.getString(0), r.getInt(5)) -> r.getString(1)).toMap
    // s1: apple/banana/cherry all score 3.0 — alphabetical tie-break
    assert(out == Map(("s1", 1) -> "apple", ("s1", 2) -> "banana",
      ("s2", 1) -> "dog", ("s2", 2) -> "apple"))
  }

  test("contamination score: distinct-gram fraction, gram-less docs score 0") {
    val corpus = Seq(
      (1L, "a b c d e"),     // grams(2): ab bc cd de -> 2 of 4 in benchmark
      (2L, "x y z w v"),     // no overlap
      (3L, "a b a b a"),     // distinct grams: "a b", "b a" -> 1 of 2
      (4L, "solo")           // < n tokens: no grams, frac 0
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
    val bench = Seq((100L, "a b q q q bc q cd")).toDF("doc_id", "text")
    val out = Dedup.contaminationScore(corpus, bench, n = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // benchmark tokens: a b q q q bc q cd -> distinct 2-grams "a b","b q",
    // "q q","q bc","bc q","q cd"; doc 1 shares only "a b" ("b c"/"c d"/
    // "d e" differ from the "bc"/"cd" single tokens), doc 3 shares "a b"
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((4L, 0L, 0.0)))
    assert(out(3L) == ((2L, 1L, 0.5)))
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  test("bpe: deterministic trainer, min-rank-first encoding, corpus counts") {
    import graft.functions.BpeVocab
    // toy corpus: (a,b) wins round 1 (freq 3), then (a,a), then (ab,c)
    val toy = BpeVocab.train("aa ab aa ab abc", 3)
    assert(toy == Vector(("a", "b"), ("a", "a"), ("ab", "c")))
    // trainer is deterministic run-to-run (ties break lexicographically)
    assert(BpeVocab.train("aa ab aa ab abc", 3) == toy)
    assert(BpeVocab.merges.size == BpeVocab.NumMerges) // seed trains a full table
    // encoding picks the MINIMUM-RANK pair, not the leftmost pair:
    // "aab" -> a|ab (rank 0 wins at pos 1), then (a,ab) is unknown -> 2,
    // and "abc" -> ab|c -> abc via the rank-2 merge
    val toyRanks = BpeVocab.ranksOf(toy)
    assert(BpeVocab.encodeCount("ab", toyRanks) == 1)
    assert(BpeVocab.encodeCount("abc", toyRanks) == 1)
    assert(BpeVocab.encodeCount("aab", toyRanks) == 2)
    assert(BpeVocab.encodeCount("", toyRanks) == 0)
    assert(BpeVocab.encodeCount("x", toyRanks) == 1)
    // the embedded vocabulary compresses seed-like English: common words
    // encode to far fewer tokens than characters
    assert(BpeVocab.encodeCount("the") == 1)
    assert(BpeVocab.encodeCount("separation") < "separation".length)
    // expression output matches a driver-side recount over the same vocab
    val out = TextAnalysis.bpeTokens(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = docs.select("doc_id", "text").collect().map { r =>
      val words = BpeVocab.WordRe.r.findAllIn(r.getString(1)).toVector
      r.getLong(0) -> words.map(BpeVocab.encodeCount(_).toLong).sum
    }.toMap
    assert(out == expect)
    // the regex "bpe-ish" column counts pre-tokens; every pre-token
    // encodes to >= 1 BPE tokens, so it lower-bounds the true count
    val approx = TextAnalysis.tokens(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.forall { case (id, n) => n >= approx(id) })
  }

  test("bpe encode: sequences rebuild pre-tokens and agree with the count") {
    import graft.functions.BpeVocab
    val enc = TextAnalysis.bpeEncode(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val counts = TextAnalysis.bpeTokens(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = enc.groupBy(_._1)
    // per doc: positions are 0..n-1 and the row count equals bpe_count
    byDoc.foreach { case (id, rows) =>
      assert(rows.length.toLong == counts(id), s"doc $id")
      assert(rows.map(_._2).sorted.toSeq == (0L until rows.length).toSeq)
    }
    // concatenating tokens in position order rebuilds the pre-token stream
    docs.select("doc_id", "text").collect().foreach { r =>
      val expected = BpeVocab.WordRe.r.findAllIn(r.getString(1)).mkString
      val got = byDoc.getOrElse(r.getLong(0), Array.empty)
        .sortBy(_._2).map(_._3).mkString
      assert(got == expected, s"doc ${r.getLong(0)}")
    }
  }

  test("bpe train: distributed trainer equals the driver-side reference trainer") {
    import graft.functions.BpeVocab
    // same word multiset: concatenating with spaces never crosses WordRe
    val text = docs.collect().map(_.getString(1)).mkString(" ")
    val expect = BpeVocab.train(text, 8)
    val got = TextAnalysis.bpeTrain(docs, 8).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    assert(got.toVector == expect, s"got=${got.toList}")
    // counts are positive and rank 1 carries the global max pair count
    val counts = TextAnalysis.bpeTrain(docs, 3).collect()
      .sortBy(_.getInt(0)).map(_.getLong(3))
    assert(counts.forall(_ >= 1L) && counts.head == counts.max)
  }

  test("bpe encode with a trained table: embedded vocab reproduces bpeEncode") {
    import graft.functions.BpeVocab
    // passing the embedded table through the runtime-table path must be
    // byte-identical to the specialized expression
    val a = TextAnalysis.bpeEncodeWith(docs, BpeVocab.merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(x => (x._1, x._2))
    val b = TextAnalysis.bpeEncode(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(x => (x._1, x._2))
    assert(a.toSeq == b.toSeq)
    // and a trained-on-this-corpus table round-trips the pre-token stream
    val learned = TextAnalysis.bpeTrain(docs, 6).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = TextAnalysis.bpeEncodeWith(docs, learned).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc2 = enc.groupBy(_._1)
    docs.select("doc_id", "text").collect().foreach { r =>
      val expected = BpeVocab.WordRe.r.findAllIn(r.getString(1)).mkString
      val got = byDoc2.getOrElse(r.getLong(0), Array.empty)
        .sortBy(_._2).map(_._3).mkString
      assert(got == expected, s"doc ${r.getLong(0)}")
    }
  }

  test("bpe train: merge exhaustion stops early, empty corpus trains nothing") {
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    // "ab" has exactly one pair to learn, then single-symbol words remain
    val m = TextAnalysis.bpeTrain(tiny, 10).collect()
    assert(m.length == 1 && m(0).getString(1) == "a" && m(0).getString(2) == "b"
      && m(0).getLong(3) == 2L)
    assert(TextAnalysis.bpeTrain(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 5).count() == 0L)
  }

  test("bpe train: batched rounds equal the sequential trainer on adversarial corpora") {
    import graft.functions.BpeVocab
    // each fixture stresses one batching hazard; the gate is always
    // byte-equality with the driver-side iterated-argmax reference
    val fixtures = Seq(
      // cross-round dependency: (ab,c) only exists after (a,b) merges
      "abc abc abc abc abc abc abc abc abc abc ab ab ab ab ab de de de de de de de de",
      // count ties broken lexicographically across an overlap stop
      "ab ab ab ac ac ac",
      // created-pair overtake: merging (a,b) births (x,ab) at count 9 > (c,d)=6
      ("xab " * 9) + ("ab " * 1) + ("cd " * 6),
      // t-string collision: both a+bc and ab+c can mint the symbol "abc"
      ("ab " * 5) + ("bc " * 3) + ("abc " * 4) + ("abcd " * 2) + ("zq " * 7))
    fixtures.foreach { text =>
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      (1 to 10).by(3).foreach { n =>
        val expect = BpeVocab.train(text, n)
        val got = TextAnalysis.bpeTrain(docs, n).collect()
          .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toVector
        assert(got == expect, s"n=$n text=${text.take(40)}: $got vs $expect")
      }
    }
    // batchCap = 1 degenerates to the classic one-merge round — same table
    val t0 = fixtures.head
    val d0 = Seq((1L, t0)).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrain(d0, 6, batchCap = 1).collect().toSeq ==
      TextAnalysis.bpeTrain(d0, 6).collect().toSeq)
  }

  test("bpe acceptBatch: prefix stops on overlap, ceiling, and collision terms") {
    // overlap: (h,e) shares h with accepted (t,h) — batch is exactly [th]
    val topA = Vector(("t", "h", 100L), ("h", "e", 90L), ("i", "n", 80L))
    val accA = TextAnalysis.acceptBatch(topA,
      Map("h" -> 100L, "e" -> 90L, "n" -> 80L),
      Map("t" -> 100L, "h" -> 90L, "i" -> 80L), 16)
    assert(accA == Vector(("t", "h", 100L)))
    // ceiling: merging (y,z) can raise some (x,yz) to maxIn(y)=9 — the
    // disjoint (c,d)=9 is NOT strictly above it, so the batch stops
    val topB = Vector(("y", "z", 10L), ("c", "d", 9L))
    val accB = TextAnalysis.acceptBatch(topB,
      Map("z" -> 10L, "y" -> 9L, "d" -> 9L), Map("y" -> 10L, "c" -> 9L, "x" -> 9L), 16)
    assert(accB == Vector(("y", "z", 10L)))
    // collision term: pre-existing symbol "yz" contributes maxIn(t)=5, so
    // a raised (x,yz) can reach 5+5=10 and (c,d)=9 must be rejected even
    // though maxIn(y)=5 alone would admit it
    val topC = Vector(("y", "z", 12L), ("c", "d", 9L))
    val accC = TextAnalysis.acceptBatch(topC,
      Map("z" -> 12L, "y" -> 5L, "yz" -> 5L, "d" -> 9L),
      Map("y" -> 12L, "c" -> 9L), 16)
    assert(accC == Vector(("y", "z", 12L)))
    // clean disjoint run: all three accepted in sorted order, counts kept
    val topD = Vector(("e", "r", 50L), ("i", "n", 40L), ("s", "t", 30L))
    val accD = TextAnalysis.acceptBatch(topD,
      Map("r" -> 50L, "n" -> 40L, "t" -> 30L),
      Map("e" -> 50L, "i" -> 40L, "s" -> 30L), 16)
    assert(accD == topD)
    // cap truncates the prefix
    assert(TextAnalysis.acceptBatch(topD,
      Map("r" -> 50L, "n" -> 40L, "t" -> 30L),
      Map("e" -> 50L, "i" -> 40L, "s" -> 30L), 2) == topD.take(2))
  }

  test("novelty: unseen-gram fraction vs a reference corpus") {
    val newDocs = Seq(
      (1L, "a b c d e"),       // grams(3): abc bcd cde — abc/bcd in ref
      (2L, "x y z w q"),       // fully novel
      (3L, "a b c"),           // one gram, seen
      (4L, "a b")              // too short: no grams
    ).toDF("doc_id", "text")
    val ref = Seq((10L, "a b c d"), (11L, "zz")).toDF("doc_id", "text")
    val out = Dedup.novelty(newDocs, ref, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(1L) == ((3L, 2L, Some(1.0 / 3.0))))
    assert(out(2L) == ((3L, 0L, Some(1.0))))
    assert(out(3L) == ((1L, 1L, Some(0.0))))
    assert(out(4L) == ((0L, 0L, None)))
  }

  test("asof join: latest-at-or-before match, id tie-break, strict variant") {
    import graft.pipeline.AsOf
    val left = Seq((100L, 1L, 50L), (101L, 1L, 10L), (102L, 2L, 50L),
      (103L, 3L, 50L)).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, 20L, 1.0),  // before 50
      (2L, 1L, 50L, 2.0),  // ties left ts=50 — included unless strict
      (3L, 1L, 50L, 3.0),  // same ts, higher id wins the tie
      (4L, 1L, 60L, 4.0),  // after: never matched
      (5L, 2L, 55L, 5.0)   // after user 2's only left: no match
    ).toDF("event_id", "user_id", "ts", "value")

    val out = AsOf.asOfJoin(left, right, "user_id", "ts", "event_id",
        Seq("ts", "value"), prefix = "r_")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getDouble(5)))))
      .toMap
    assert(out == Map(
      100L -> Some((3L, 3.0)), // equal-ts rights included, max id wins
      101L -> None,            // no right at or before ts=10
      102L -> None,            // user 2's right is after
      103L -> None))           // user 3 has no rights at all

    val strictOut = AsOf.asOfJoin(left, right, "user_id", "ts", "event_id",
        Seq("ts", "value"), prefix = "r_", strict = true)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // strict drops the equal-ts rights: ts=50 falls back to ts=20
    assert(strictOut(100L) == Some(1L) && strictOut(101L) == None)
  }

  test("forward asof: next-at-or-after match, LOWEST id tie-break, strict + tolerance") {
    import graft.pipeline.AsOf
    val left = Seq((100L, 1L, 50L), (101L, 1L, 70L), (102L, 2L, 50L),
      (103L, 3L, 50L)).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, 1L, 20L, 1.0),  // before: never matched forward
      (2L, 1L, 50L, 2.0),  // ties left ts=50 — included unless strict
      (3L, 1L, 50L, 3.0),  // same ts: LOWEST id wins the forward tie
      (4L, 1L, 60L, 4.0),  // the next right after 50 when strict
      (5L, 2L, 40L, 5.0)   // before user 2's only left: no match
    ).toDF("event_id", "user_id", "ts", "value")

    val out = AsOf.asOfJoinForward(left, right, "user_id", "ts",
        "event_id", Seq("ts", "value"), prefix = "n_")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getDouble(5)))))
      .toMap
    assert(out == Map(
      100L -> Some((2L, 2.0)), // equal-ts rights included, MIN id wins
      101L -> None,            // nothing at or after ts=70
      102L -> None,            // user 2's right is before
      103L -> None))           // user 3 has no rights at all

    val strictOut = AsOf.asOfJoinForward(left, right, "user_id", "ts",
        "event_id", Seq("ts", "value"), prefix = "n_", strict = true)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // strict skips the equal-ts rights: ts=50 advances to ts=60
    assert(strictOut(100L) == Some(4L))

    val tol = AsOf.asOfJoinForward(left, right, "user_id", "ts",
        "event_id", Seq("ts", "value"), prefix = "n_", strict = true,
        tolerance = Some(5L))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // the next right (ts=60) is 10 ahead — outside the 5-unit bound
    assert(tol(100L) == None)
  }

  test("dedup report: cross-source duplicates debit the non-canonical holder") {
    val d = Seq(
      (1L, "same text", "a"),   // canonical (lowest id)
      (2L, "same text", "b"),   // duplicate held by b
      (3L, "unique one", "b"),
      (4L, "unique two", "a")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dedupReport(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("a") == ((2L, 2L, 0.0)))       // a holds the canonical
    assert(out("b") == ((2L, 1L, 0.5)))       // b pays for the duplicate
  }

  test("stratified split: exact per-source counts, deterministic, exhaustive") {
    val d = (1L to 40L).map(i => (i, s"s${i % 2}")).toDF("doc_id", "source")
    val out = graft.pipeline.Sampling.stratifiedSplit(d, 0.25, 0.1, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.length == 40)
    // per source (n=20): floor(.25*20)=5 val, floor(.1*20)=2 test, 13 train
    for (src <- Seq("s0", "s1")) {
      val by = out.filter(_._2 == src).groupBy(_._3).view.mapValues(_.length).toMap
      assert(by == Map("val" -> 5, "test" -> 2, "train" -> 13), s"$src: $by")
    }
    // same salt → identical assignment; different salt → different
    val again = graft.pipeline.Sampling.stratifiedSplit(d, 0.25, 0.1, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(again.toSet == out.toSet)
    val other = graft.pipeline.Sampling.stratifiedSplit(d, 0.25, 0.1, "u")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(other.toSet != out.toSet)
  }

  test("profile table: exact null and distinct counts per column") {
    val d = Seq((1L, Some("a"), 1.0), (2L, None, 2.0), (3L, Some("a"), 2.0))
      .toDF("id", "s", "v")
    val out = graft.pipeline.Curation.profileTable(d, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("id") == ((3L, 0L, 3L)))
    assert(out("s") == ((3L, 1L, 1L)))   // null excluded from distinct
    assert(out("v") == ((3L, 0L, 2L)))
  }

  test("session funnel: conversion only within the visit, strict-after") {
    import org.apache.spark.sql.functions.timestamp_micros
    def ev(u: Long, sec: Long, t: String) = (u, sec * 1000000L, t)
    val rows = Seq(
      ev(1L, 0L, "view"), ev(1L, 10L, "purchase"),      // converts, 10 s
      ev(1L, 10000L, "purchase"),                        // new session: no view
      ev(2L, 0L, "purchase"), ev(2L, 5L, "view"),        // purchase BEFORE view
      ev(3L, 0L, "view"), ev(3L, 0L, "purchase"),        // same instant: strict → no
      ev(4L, 0L, "view"), ev(4L, 3L, "view"), ev(4L, 7L, "purchase")) // first view
    val df = rows.toDF("user_id", "us", "event_type")
      .select(col("user_id"), timestamp_micros(col("us")).as("event_time"),
        col("event_type"))
    val out = graft.pipeline.Funnel.sessionFunnel(df, "1 hour", "view", "purchase")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getBoolean(5), if (r.isNullAt(6)) None else Some(r.getLong(6))))).toMap
    assert(out((1L, 0L)) == ((true, Some(10000000L))))
    assert(out((1L, 10000000000L)) == ((false, None)))
    assert(out((2L, 0L)) == ((false, None)))  // wrong order inside the visit
    assert(out((3L, 0L)) == ((false, None)))  // tie is not strictly after
    assert(out((4L, 0L)) == ((true, Some(7000000L)))) // latency from FIRST view
  }

  test("asof join: a NULL payload field stays NULL, never stitched from an older row") {
    import graft.pipeline.AsOf
    val left = Seq((100L, 1L, 30L)).toDF("event_id", "user_id", "ts")
    // older right has a value; the LATEST right's value is NULL — the
    // match must be the latest row wholesale (id=2, value NULL), not a
    // per-column mix (id=2, value 5.0)
    val right = Seq((1L, 1L, 10L, Some(5.0)), (2L, 1L, 20L, None))
      .toDF("event_id", "user_id", "ts", "value")
    val r = AsOf.asOfJoin(left, right, "user_id", "ts", "event_id",
      Seq("ts", "value")).collect().head
    assert(r.getLong(3) == 2L && r.getLong(4) == 20L && r.isNullAt(5))
    // string right ids must fail loudly, not silently lose the tie-break
    val strIds = right.select(col("event_id").cast("string").as("event_id"),
      col("user_id"), col("ts"), col("value"))
    intercept[IllegalArgumentException] {
      AsOf.asOfJoin(left, strIds, "user_id", "ts", "event_id", Seq("ts"))
    }
  }

  test("asof tolerance: stale matches null out, fresh ones survive") {
    import graft.pipeline.AsOf
    val left = Seq((100L, 1L, 50L), (101L, 1L, 12L)).toDF("event_id", "user_id", "ts")
    val right = Seq((1L, 1L, 10L, 1.0)).toDF("event_id", "user_id", "ts", "value")
    val out = AsOf.asOfJoin(left, right, "user_id", "ts", "event_id",
        Seq("ts", "value"), tolerance = Some(5L)).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // left@50: match at 10 is 40 units stale (> 5) → null; left@12: fresh
    assert(out == Map(100L -> None, 101L -> Some(1L)))
  }

  test("score percentile: deterministic within-source ranks, single-row source 0") {
    val d = Seq(
      (1L, "a", 10.0), (2L, "a", 30.0), (3L, "a", 20.0),
      (4L, "a", 20.0), // tie → doc_id breaks it
      (5L, "b", 99.0)  // single-row source
    ).toDF("doc_id", "source", "score")
    val out = graft.pipeline.Curation.percentileBySource(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out == Map(1L -> 0.0, 3L -> (1.0 / 3.0), 4L -> (2.0 / 3.0),
      2L -> 1.0, 5L -> 0.0))
  }

  test("asof join: randomized cross-check against a brute-force reference") {
    import graft.pipeline.AsOf
    val rnd = new scala.util.Random(20260813L)
    // small key space + small ts space force heavy collisions and ties
    val left = Seq.tabulate(120)(i =>
      (i.toLong, (rnd.nextInt(6) + 1).toLong, rnd.nextInt(20).toLong))
    val right = Seq.tabulate(150)(i =>
      (1000L + i, (rnd.nextInt(6) + 1).toLong, rnd.nextInt(20).toLong,
        rnd.nextDouble()))
    val out = AsOf.asOfJoin(left.toDF("event_id", "user_id", "ts"),
        right.toDF("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "event_id", Seq("ts", "value"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    left.foreach { case (eid, u, t) =>
      val expect = right.filter(r => r._2 == u && r._3 <= t)
        .sortBy(r => (r._3, r._1)).lastOption.map(_._1)
      assert(out(eid) == expect, s"left $eid (user $u ts $t)")
    }
  }

  test("asof join: empty right side matches nothing, empty left yields no rows") {
    import graft.pipeline.AsOf
    val left = Seq((1L, 1L, 5L)).toDF("event_id", "user_id", "ts")
    val right = Seq.empty[(Long, Long, Long, Double)]
      .toDF("event_id", "user_id", "ts", "value")
    val out = AsOf.asOfJoin(left, right, "user_id", "ts", "event_id",
      Seq("value")).collect()
    assert(out.length == 1 && out(0).isNullAt(3))
    assert(AsOf.asOfJoin(right.limit(0), left, "user_id", "ts", "event_id",
      Seq("ts")).collect().isEmpty)
  }

  test("multimodal: frame sampling and thumbnails keep the batch contract") {
    val media = Multimodal.asMedia(docs)
    val frames = Multimodal.sampleFrames(media, everyN = 10).collect()
    val videoIds = media.filter(_.media_type == "video").collect().map(_.doc_id).toSet
    assert(frames.nonEmpty && frames.map(_.doc_id).toSet.subsetOf(videoIds))
    assert(frames.forall(_.frame_idx % 10 == 0))
    val thumbs = Multimodal.thumbnail(media, maxBytes = 16).collect()
    assert(thumbs.forall(_.payload.length <= 16))
    assert(thumbs.map(_.doc_id).toSet == media.collect().map(_.doc_id).toSet)
    // doc 3 (jpeg 127x193): aspect-fit into 128 => (127*128/193, 128)
    val t3 = thumbs.find(_.doc_id == 3L).get
    assert((t3.thumb_w, t3.thumb_h) == (127 * 128 / 193, 128))
    // non-images carry no thumbnail
    assert(thumbs.filter(t => t.format == "wav" || t.format == "avi")
      .forall(t => t.thumb_w == 0 && t.payload.isEmpty))
  }

  test("multimodal: thumbnail aspect-fit survives foreign spec-limit dimensions") {
    import graft.pipeline.{MediaCodec, Multimodal}
    // a foreign-but-legal PNG declaring width 20,000,000: w*box overflows
    // Int, the Long path must still land on (box, >=1)
    val wide = Multimodal.MediaRecord(1L, "image",
      MediaCodec.writePng(20000000, 5, Array[Byte](1, 2, 3)))
    val out = spark.createDataset(Seq(wide))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRecord])
    val t = Multimodal.thumbnail(out, box = 128).collect().head
    assert((t.thumb_w, t.thumb_h) == (128, 1), s"got (${t.thumb_w}, ${t.thumb_h})")
  }

  test("transitionMatrix: (us, id) total order, conditional p per from-row") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, 10L, "view", ts(1)), (1L, 11L, "click", ts(2)),
      (1L, 12L, "view", ts(3)), (1L, 13L, "click", ts(4)),
      // user 2: same-second tie broken by event_id (20 before 21)
      (2L, 20L, "view", ts(5)), (2L, 21L, "purchase", ts(5)),
      (3L, 30L, "view", ts(9)) // single event: no transition
    ).toDF("user_id", "event_id", "event_type", "event_time")
    val out = graft.pipeline.Funnel.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out == Map(
      ("view", "click") -> ((2L, 2.0 / 3.0)),
      ("view", "purchase") -> ((1L, 1.0 / 3.0)),
      ("click", "view") -> ((1L, 1.0))))
  }

  test("interEventGaps: gap to predecessor, labeled with the later type") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, 10L, "view", ts(0)), (1L, 11L, "click", ts(7)),
      (1L, 12L, "view", ts(9)),
      (2L, 20L, "view", ts(100)) // no predecessor
    ).toDF("user_id", "event_id", "event_type", "event_time")
    val out = graft.pipeline.Funnel.interEventGaps(ev).collect()
      .map(r => r.getLong(1) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(out == Map(11L -> (("click", 7000000L)), 12L -> (("view", 2000000L))))
  }

  test("cohortValue: triangle cells carry exact counts and Dec value sums") {
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    val ev = Seq(
      (1L, ts(0), Some(1.5)), (1L, ts(0), Some(2.25)), // cohort 0, offset 0
      (1L, ts(2), Some(0.5)),                          // cohort 0, offset 2
      (2L, ts(2), None),                               // NULL value: counted, not summed
      (2L, ts(2), Some(4.0))
    ).toDF("user_id", "event_time", "value")
    val out = graft.pipeline.Funnel.cohortValue(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out == Map(
      (0L, 0L) -> ((2L, Some(3.75))),
      (0L, 2L) -> ((1L, Some(0.5))),
      (2L, 0L) -> ((2L, Some(4.0)))))
  }

  test("vocabGrowth: first-occurrence types per checkpoint, running totals") {
    val d = Seq(
      (0L, "a b a"), (1L, "b c"),     // bucket 0: types a,b,c; 5 tokens
      (2L, "c d"), (3L, "a d e")      // bucket 1: new d,e; 5 tokens
    ).toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(d, bucketSize = 2L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out == Map(
      0L -> ((5L, 3L, 5L, 3L)),
      1L -> ((5L, 2L, 10L, 5L))))
  }

  test("hashEmbed: signed counts match a driver-side md5 re-derivation") {
    val d = Seq((1L, "alpha beta alpha"), (2L, "gamma")).toDF("doc_id", "text")
    val dim = 8
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def expected(toks: Seq[String]): Map[Long, Long] =
      toks.groupBy(t => java.lang.Long.parseLong(md5hex(t).take(6), 16) % dim)
        .map { case (k, ts) =>
          k -> ts.map(t =>
            if (java.lang.Long.parseLong(md5hex(t).substring(6, 7), 16) % 2 == 0) 1L
            else -1L).sum
        }
    val out = TextAnalysis.hashEmbed(d, dim).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    assert(out(1L) == expected(Seq("alpha", "beta", "alpha")))
    assert(out(2L) == expected(Seq("gamma")))
  }

  test("suppressRapidFire: gap exactly gapSec drops; raw-predecessor rule") {
    import graft.pipeline.Funnel
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      (100L, 1L, "click", ts(0), 1.0),
      (101L, 1L, "click", ts(60), 2.0),  // gap EXACTLY 60 s: not > gap, dropped
      // 61 s after its RAW predecessor (the dropped 101), only 121 s
      // after the last KEPT one — burst-collapse keys off the raw stream
      (102L, 1L, "click", ts(121), 3.0),
      (103L, 1L, "view", ts(1), 4.0),    // separate (user, type) stream
      (104L, 2L, "click", ts(2), 5.0)
    ).toDF("event_id", "user_id", "event_type", "event_time", "value")
    val kept = Funnel.suppressRapidFire(ev, gapSec = 60L)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(100L, 102L, 103L, 104L))
  }

  test("blendPercentiles: single-doc source is 0; NULL score ranks last") {
    import graft.pipeline.Curation
    val d = Seq(
      (1L, "aa", "s1"), (2L, "aaaa", "s1"),
      (3L, null, "s1"),  // NULL text -> NULL score: must rank LAST (DuckDB parity)
      (9L, "solo", "s2")
    ).toDF("doc_id", "text", "source")
    val out = Curation.blendPercentiles(d,
        Seq("len" -> length(col("text")).cast("double")))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((0.0, 0.0)))
    assert(out(2L) == ((0.5, 0.5)))
    assert(out(3L) == ((1.0, 1.0))) // NULLS LAST: the NULL score takes the top rank
    assert(out(9L) == ((0.0, 0.0))) // single-doc source: percentile 0 by definition
  }

  test("fertility: zero-word docs excluded; BPE-ish over whitespace ratio") {
    val d = Seq((1L, "the fox"), (2L, "   "), (3L, "don't stop"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.fertility(d).collect().map(_.getDouble(1)).sorted
    // "the fox": 2 bpe / 2 ws = 1.0; "don't stop": don,',t,stop = 4 bpe / 2 ws
    // = 2.0; the whitespace-only doc has ws=0 and must be excluded (no 0/0)
    assert(out.toSeq == Seq(1.0, 2.0))
  }

  test("corpusRollup: leaf, per-source, and grand-total levels in one pass") {
    val d = Seq(
      (1L, "the quick fox", "s1"), (2L, "a b", "s1"), (3L, "x", "s2")
    ).toDF("doc_id", "text", "source")
    val rows = TextAnalysis.corpusRollup(d).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3)))
    // grand total: NULL source+lang marks the rollup level (lang itself
    // is never NULL — langId yields "und")
    assert(rows.contains((None, None, 3L, 6L)))
    val s1 = rows.filter(t => t._1.contains("s1") && t._2.isEmpty)
    assert(s1.toSeq == Seq((Some("s1"), None, 2L, 5L)))
    val leafTotals = rows.filter(t => t._1.nonEmpty && t._2.nonEmpty)
    assert(leafTotals.map(_._3).sum == 3L && leafTotals.map(_._4).sum == 6L)
  }

  test("curateBlend: relative quality gate composes; ranks span the full corpus") {
    import graft.pipeline.Curation
    val d = Seq(
      (1L, "aa bb cc dd", "s1"),                      // pctl 1/3: below gate
      (2L, "aa bb cc dd ee ff gg hh", "s1"),          // pctl 2/3: survives
      (3L, "aa bb cc dd ee ff gg hh", "s1"),          // exact dup of 2: dropped
      (4L, "x", "s1"),            // fails token floor, but STILL ranks (pctl 0)
      (5L, "aa bb cc dd ee ff gg hh ii jj", "s2")     // solo source: pctl 0
    ).toDF("doc_id", "text", "source")
    val out = Curation.curateBlend(d, d.filter($"doc_id" === 99L),
        Seq("chars" -> length(col("text")).cast("double")),
        minBlend = 0.5, minTokens = 2L, rate = 1.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // doc 3 ties doc 2 on score; the doc_id tie-break ranks it above the
    // gate (pctl 1.0) — but the canonical-copy election still drops it.
    // doc 4's presence is what makes doc 1's pctl 1/3 (ranks span the
    // FULL corpus, not the token-floor survivors); the solo-source doc
    // defines pctl 0 and falls below the gate.
    assert(out.keySet == Set(2L))
    assert(out(2L) == 2.0 / 3.0)
  }

  test("curateExplain: per-criterion verdicts agree with the composed gate") {
    import graft.pipeline.Curation
    val d = Seq(
      (1L, "aa bb cc dd", "s1"),
      (2L, "aa bb cc dd ee ff gg hh", "s1"),
      (3L, "aa bb cc dd ee ff gg hh", "s1"),   // exact dup of 2
      (4L, "x", "s1"),
      (5L, "aa bb cc dd ee ff gg hh ii jj", "s2")
    ).toDF("doc_id", "text", "source")
    val scores = Seq("chars" -> length(col("text")).cast("double"))
    val ex = Curation.curateExplain(d, d.filter($"doc_id" === 99L),
        scores, minBlend = 0.5, minTokens = 2L, rate = 1.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), r.getBoolean(4), r.getBoolean(6),
          r.getBoolean(7)))).toMap // (pass_tokens, is_canonical, pass_quality, keep)
    assert(ex(4L) == ((false, true, false, false))) // short AND low-quality
    assert(ex(3L) == ((true, false, true, false)))  // only the dup kills it
    assert(ex(1L) == ((true, true, false, false)))  // only quality kills it
    assert(ex(2L) == ((true, true, true, true)))
    assert(ex(5L) == ((true, true, false, false)))  // solo source: pctl 0
    // keep column == the composed curateBlend survivor set
    val kept = Curation.curateBlend(d, d.filter($"doc_id" === 99L),
      scores, minBlend = 0.5, minTokens = 2L, rate = 1.0)
      .collect().map(_.getLong(0)).toSet
    assert(ex.filter(_._2._4).keySet == kept)
  }

  test("sampleByWeight: saturated weights always keep, zero/NULL never") {
    import graft.pipeline.Sampling
    val d = Seq(
      (1L, Some(10L), "s1"), // k*w = 20 >= tot = 11: saturated, always kept
      (2L, Some(1L), "s1"),  // p = 2/11: probabilistic, not asserted
      (3L, Some(0L), "s1"),  // zero weight: never kept
      (4L, None, "s1")       // NULL weight: dropped before the draw
    ).toDF("doc_id", "w", "source")
    val kept = Sampling.sampleByWeight(d, 2L, col("w"), "t")
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && !kept.contains(3L) && !kept.contains(4L))
    // deterministic: the same draw twice is identical
    assert(Sampling.sampleByWeight(d, 2L, col("w"), "t")
      .collect().map(_.getLong(0)).toSet == kept)
  }

  test("bm25: hand-computed scores; no-match docs absent") {
    val d = Seq((1L, "a a b"), (2L, "a c c c"), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25(d, Seq("a"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, avgLen=3, df(a)=2: idf = floor(ln(1 + 1.5/2.5)*1e9)/1e9
    val idf = math.floor(math.log(1.6) * 1.0e9) / 1.0e9
    val s1 = idf * (2.0 * 2.2) / (2.0 + 1.2 * (0.25 + 0.75 * (3.0 / 3.0)))
    val s2 = idf * (1.0 * 2.2) / (1.0 + 1.2 * (0.25 + 0.75 * (4.0 / 3.0)))
    assert(out.keySet == Set(1L, 2L)) // d3 matches nothing: absent
    assert(out(1L) == s1 && out(2L) == s2)
    assert(out(1L) > out(2L)) // higher tf, shorter doc wins
  }

  test("snapshotDiff: all four statuses; NULL-text content compares equal") {
    val nw = Seq((1L, Some("x")), (2L, Some("x v2")), (3L, Some("new")),
      (5L, None: Option[String]), (6L, None: Option[String]))
      .toDF("doc_id", "text")
    val ol = Seq((1L, Some("x")), (2L, Some("x")), (4L, Some("gone")),
      (5L, None: Option[String]), (6L, Some("was text")))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Dedup.snapshotDiff(nw, ol)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "same", 2L -> "changed", 3L -> "added",
      4L -> "removed", 5L -> "same", 6L -> "changed"))
  }

  test("embedOutliers: far-from-centroid vector flags; tight cell does not") {
    // one tight direction with a single adversarial member pointing away
    val vecs = ((1L to 20L).map { i =>
      (i, Array(1.0f, (i % 3) * 0.01f, 0.0f, 0.0f))
    } :+ ((99L, Array(-1.0f, 0.3f, 0.0f, 0.0f)))).toDF("vec_id", "embedding")
    val out = Similarity.embedOutliers(vecs, nCells = 1, k = 2.0)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Double]), r.get(4)))).toMap
    assert(out.size == 21)
    // the adversarial vector is the flagged outlier
    assert(out(99L)._2 == true)
    // the tight members are not flagged
    assert((1L to 20L).forall(i => out(i)._2 != true))
    // z is centered: some member sits above the mean
    assert(out.values.exists(_._1.exists(_ > 0.0)))
  }

  test("lmScore: hand-computed mean log-prob; tokenless docs absent") {
    val d = Seq((1L, Some("a a b")), (2L, Some("b c")),
      (3L, None: Option[String]), (4L, Some(""))).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // corpus: a:2 b:2 c:1, total 5
    val lnA = math.floor(math.log(2.0 / 5.0) * 1.0e9) / 1.0e9
    val lnC = math.floor(math.log(1.0 / 5.0) * 1.0e9) / 1.0e9
    assert(out.keySet == Set(1L, 2L)) // NULL/empty text: nothing to score
    assert(out(1L) == ((3L, (0.0 + 2.0 * lnA + 1.0 * lnA) / 3.0))) // a then b
    assert(out(2L) == ((2L, (0.0 + 1.0 * lnA + 1.0 * lnC) / 2.0))) // b then c
    // rarer tokens => more surprising
    assert(out(2L)._2 < out(1L)._2)
  }

  test("chunkDocs: stride rule — full coverage, no contained tail chunk") {
    val d = Seq((1L, Some("t1 t2 t3 t4 t5")), (2L, Some("u1 u2")),
      (3L, None: Option[String]), (4L, Some("  "))).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(d, window = 3, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // len 5, w 3, s 2: last start = ceil((5-3)/2)*2 = 2 — NOT 4
    assert(out.keySet == Set((1L, 0), (1L, 1), (2L, 0)))
    assert(out((1L, 0)) == ((0L, 3L, "t1 t2 t3")))
    assert(out((1L, 1)) == ((2L, 3L, "t3 t4 t5"))) // overlap of w-s=1 token
    assert(out((2L, 0)) == ((0L, 2L, "u1 u2"))) // short doc: one short chunk
    // a partial tail chunk when coverage needs it: len 6 ends with n_tok 2
    val d6 = Seq((9L, "v1 v2 v3 v4 v5 v6")).toDF("doc_id", "text")
    val tail6 = TextAnalysis.chunkDocs(d6, 3, 2).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(tail6 == Set((0, 0L, 3L), (1, 2L, 3L), (2, 4L, 2L)))
  }

  test("tfidfTopK: rare terms outrank frequent ones; ties by term") {
    val d = Seq((1L, "a a b"), (2L, "a c"), (3L, "d")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(d, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(5)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val ln3 = math.floor(math.log(3.0) * 1.0e9) / 1.0e9
    val ln15 = math.floor(math.log(3.0 / 2.0) * 1.0e9) / 1.0e9
    // doc1: b (1·ln3 ≈ 1.10) outranks a (2·ln1.5 ≈ 0.81)
    assert(out((1L, 1)) == (("b", 1L, 1L, 1.0 * ln3)))
    assert(out((1L, 2)) == (("a", 2L, 2L, 2.0 * ln15)))
    // doc2: c unique outranks shared a
    assert(out((2L, 1))._1 == "c" && out((2L, 2))._1 == "a")
    assert(out((3L, 1)) == (("d", 1L, 1L, 1.0 * ln3)))
  }

  test("lmScoreBigram: hand-computed; order-sensitivity vs unigram") {
    val d = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreBigram(d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // uni a:3 b:3 (tt=6); bigrams (a,b):2 (b,a):2; c1(a)=c1(b)=3
    val lnHalf = math.floor(math.log(3.0 / 6.0) * 1.0e9) / 1.0e9
    val lnCond = math.floor(math.log(2.0 / 3.0) * 1.0e9) / 1.0e9
    assert(out(1L) == ((4L, (0.0 + lnHalf + lnCond + lnCond + lnCond) / 4.0)))
    assert(out(2L) == ((2L, (0.0 + lnHalf + lnCond) / 2.0)))
    // common tokens in an order the corpus never uses score LOWER than
    // the natural order, though a unigram model cannot tell them apart
    val d2 = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "y x"))
      .toDF("doc_id", "text")
    val s2 = TextAnalysis.lmScoreBigram(d2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s2(4L) < s2(1L))
    val u2 = TextAnalysis.lmScore(d2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(u2(4L) == u2(1L))
  }

  test("centroidShift: exact L2 shift; one-sided labels absent") {
    val nw = Seq((1L, Array(2.0f, 0.0f), 0), (2L, Array(4.0f, 0.0f), 0),
      (3L, Array(1.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val ol = Seq((11L, Array(1.0f, 0.0f), 0),
      (12L, Array(5.0f, 5.0f), 2)).toDF("vec_id", "embedding", "label")
    val out = graft.pipeline.Similarity.centroidShift(nw, ol)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // label 0: new centroid (3,0), old (1,0) -> shift exactly 2.0
    assert(out.keySet == Set(0)) // labels 1 and 2 are one-sided: absent
    assert(out(0) == ((1L, 2L, 2.0)))
  }

  test("keySkew: exact counts and share; count ties break key ASC NULLS LAST") {
    val d = (Seq.fill(3)(Option(1L)) ++ Seq.fill(2)(Option(2L)) ++
      Seq(Option(3L)) ++ Seq.fill(2)(None: Option[Long]))
      .map(Tuple1(_)).toDF("user_id")
    val out = graft.pipeline.Funnel.keySkew(d, "user_id", 2)
      .collect().map(r => r.getInt(3) ->
        ((Option(r.get(0)), r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1) == ((Some(1L), 3L, 3.0 / 8.0)))
    // the (2L count-2) vs (NULL count-2) tie: NULLS LAST puts 2L second
    assert(out(2) == ((Some(2L), 2L, 2.0 / 8.0)))
    // NULL is still a countable key: with k=3 it ranks third
    val withNull = graft.pipeline.Funnel.keySkew(d, "user_id", 3)
      .collect().map(r => r.getInt(3) -> Option(r.get(0))).toMap
    assert(withNull(3).isEmpty)
  }

  test("lmFilter: within-source percentile gate; unscoreable and lone docs drop") {
    // s1 scores separate by construction: rarer vocabulary -> lower score
    val d = Seq(
      (1L, "a a a a", "s1"), (2L, "a a a b", "s1"),
      (3L, "a a b c", "s1"), (4L, "b c d e", "s1"),
      (5L, null.asInstanceOf[String], "s1"), // unscoreable: dropped
      (6L, "a a", "s2") // single scored doc: pctl 0.0 < 0.5: dropped
    ).toDF("doc_id", "text", "source")
    val out = graft.pipeline.Curation.lmFilter(d, minPctl = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // ranks ascend with rarity: doc4 (all rare) lowest, doc1 highest
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == 1.0 && out(2L) == 2.0 / 3.0)
  }

  test("tokenEntropy: 0 for constant docs; ln(len) for all-distinct; between for mixed") {
    val d = Seq((1L, "a a a a"), (2L, "a b c d"), (3L, "a a b b"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((4L, -0.0)) || out(1L) == ((4L, 0.0))) // ln 1 = 0
    val q = (x: Double) => math.floor(math.log(x) * 1.0e9) / 1.0e9
    assert(out(2L) == ((4L, -(4.0 * 1.0 * q(0.25)) / 4.0)))
    assert(out(3L) == ((4L, -(2.0 * q(0.5) + 2.0 * q(0.5)) / 4.0)))
    assert(out(2L)._2 > out(3L)._2 && out(3L)._2 > 0.0)
  }

  test("trimmedMean: outlier dropped; NULL excluded; lone doc kept whole") {
    val d = Seq((1L, "s1", Some(0L)), (2L, "s1", Some(10L)),
      (3L, "s1", Some(20L)), (4L, "s1", Some(30L)), (5L, "s1", Some(1000L)),
      (6L, "s1", None: Option[Long]), (7L, "s2", Some(42L)))
      .toDF("doc_id", "source", "score")
    val out = graft.pipeline.Curation.trimmedMeanBySource(d, p = 0.2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // s1: n=5 (NULL excluded), k=1 -> keep {10,20,30}: the 1000 cannot move it
    assert(out("s1") == ((5L, 1L, 20.0)))
    assert(out("s2") == ((1L, 0L, 42.0)))
  }

  test("pmiCollocations: hand-computed PMI; minCount floor; ties deterministic") {
    val d = Seq((1L, "new york new york new york"), (2L, "x x x x"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(d, k = 2, minCount = 2L)
      .collect().map(r => r.getInt(4) ->
        ((r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    val q = (x: Double) => math.floor(math.log(x) * 1.0e9) / 1.0e9
    // uni new:3 york:3 x:4, tt=10; pairs (new,york):3 (york,new):2 (x,x):3
    assert(out(1) == (("new", "york", 3L, q(3.0 * 10.0 / 9.0))))
    assert(out(2) == (("york", "new", 2L, q(2.0 * 10.0 / 9.0))))
    // minCount floors rare-pair noise: a once-off pair never appears
    val rare = TextAnalysis.pmiCollocations(
      Seq((1L, "p q r")).toDF("doc_id", "text"), k = 10, minCount = 2L)
    assert(rare.count() == 0L)
  }

  test("skipgramCounts: ±window pairs, doc-bounded, window-1 == adjacent bigrams") {
    // doc 1 "a b c": w=2 pairs (a,b) (b,c) d1; (a,c) d2. doc 2 "a b":
    // (a,b) d1 only — pairs never cross doc boundaries.
    val d = Seq((1L, "a b c"), (2L, "a b"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.skipgramCounts(d, window = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    assert(out == Map(("a", "b") -> ((2L, 1)), ("a", "c") -> ((1L, 2)),
      ("b", "c") -> ((1L, 3))))
    // window=1 degenerates to adjacent bigram counts; k truncates on
    // the (n DESC, t1, t2) order
    val one = TextAnalysis.skipgramCounts(d, window = 1, k = 1).collect()
    assert(one.length == 1 && one(0).getString(0) == "a" &&
      one(0).getString(1) == "b" && one(0).getLong(2) == 2L)
  }

  test("oovRate: occurrence-weighted; in-vocab doc scores 0") {
    val target = Seq((1L, "a b c c"), (2L, "a b"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val ref = Seq((9L, "a b b")).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(target, ref)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((4L, 2L, 0.5))) // both c occurrences count
    assert(out(2L) == ((2L, 0L, 0.0)))
  }

  test("intervalJoin: pairs across bucket edges, both signs; no cross-user pairs") {
    def ev(id: Long, u: Long, tp: String, us: Long) = (id, u, tp, us)
    val rows = Seq(
      ev(1, 1, "view", 0L), ev(2, 1, "click", 50L), ev(3, 1, "click", 150L),
      ev(4, 1, "view", 99L), ev(5, 1, "click", 199L), // exactly tol apart, bucket 0 vs 1
      ev(6, 2, "view", -50L), ev(7, 2, "click", 40L), // negative-us bucket floor
      ev(8, 3, "click", 10L) // other user: never pairs with u1 views
    )
    val d = rows.toDF("event_id", "user_id", "event_type", "__us")
      .withColumn("event_time", timestamp_micros(col("__us")))
    val out = graft.pipeline.Funnel.intervalJoin(d, "view", "click", tolUs = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set(
      (1L, 1L, 2L, 50L),   // plain in-bucket pair
      (1L, 4L, 2L, -49L),  // negative dt: the two-sided form
      (1L, 4L, 3L, 51L),
      (1L, 4L, 5L, 100L),  // |dt| == tol across the bucket edge
      (2L, 6L, 7L, 90L)))  // negative us floors into the right bucket
  }

  test("rateLimit: first n per key-day; day boundary resets the quota") {
    val day = 86400000000L
    val rows = (1L to 7L).map(i => (i, 1L, i * 10L)) ++ // u1 day 0: 7 events
      Seq((8L, 1L, day + 5L), (9L, 2L, 20L)) // u1 day 1 resets; u2 untouched
    val d = rows.toDF("event_id", "user_id", "__us")
      .withColumn("event_time", timestamp_micros(col("__us")))
    val out = graft.pipeline.Funnel.rateLimit(d, n = 5)
      .collect().map(r => r.getLong(2) -> ((r.getLong(1), r.getInt(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 8L, 9L)) // 6,7 throttled
    assert(out(8L) == ((1L, 1)) && out(9L) == ((0L, 1)))
  }

  test("typeCooccurrence: distinct-user pair counts and lift; absent pairs omitted") {
    val d = Seq((1L, "a"), (1L, "b"), (1L, "a"), // duplicate event: no double count
      (2L, "a"), (2L, "b"), (3L, "a"), (4L, "c"))
      .toDF("user_id", "event_type")
    val out = graft.pipeline.Funnel.typeCooccurrence(d)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // only (a,b) co-occurs; lift = 2*4/(3*2) — attraction > 1
    assert(out.keySet == Set(("a", "b")))
    assert(out(("a", "b")) == ((2L, 3L, 2L, 2.0 * 4.0 / (3.0 * 2.0))))
  }

  test("sourceGini: 0 for equal sources; hand-computed skew; exact arithmetic") {
    val eq = Seq((1L, "s1"), (2L, "s2")).toDF("doc_id", "source")
    val g0 = graft.pipeline.Curation.sourceGini(eq).collect()(0)
    assert((g0.getLong(0), g0.getLong(1), g0.getDouble(2)) == ((2L, 2L, 0.0)))
    // sizes (1, 9): G = (2*(1*1+2*9) - 3*10) / (2*10) = 8/20
    val sk = (Seq((0L, "s1")) ++ (1L to 9L).map(i => (i, "s2")))
      .toDF("doc_id", "source")
    val g1 = graft.pipeline.Curation.sourceGini(sk).collect()(0)
    assert(g1.getDouble(2) == 0.4)
  }

  test("zipfFit: negative slope on Zipf-ish text; flat corpus -> slope 0, r2 NULL") {
    // freq ~ 24/rank: term t1 x24, t2 x12, t3 x8, t4 x6
    val text = (Seq.fill(24)("t1") ++ Seq.fill(12)("t2") ++
      Seq.fill(8)("t3") ++ Seq.fill(6)("t4")).mkString(" ")
    val z = TextAnalysis.zipfFit(Seq((1L, text)).toDF("doc_id", "text")).collect()(0)
    assert(z.getLong(0) == 4L)
    assert(z.getDouble(1) < -0.8 && z.getDouble(1) > -1.2) // near the Zipf -1
    assert(z.getDouble(2) > 0.95) // near-perfect fit
    // every term equally frequent: slope exactly 0, r2 undefined
    val flat = TextAnalysis.zipfFit(
      Seq((1L, "a b c a b c")).toDF("doc_id", "text")).collect()(0)
    assert(flat.getDouble(1) == 0.0 && flat.isNullAt(2))
  }

  test("fkAudit: nulls vs orphans counted apart; empty child rate NULL") {
    val child = Seq(Some(1L), Some(2L), Some(3L), None, None)
      .map(Tuple1(_)).toDF("fk")
    val parent = Seq(1L, 2L, 2L).map(Tuple1(_)).toDF("pk")
    val r = graft.pipeline.Funnel.fkAudit(child, parent, "fk", "pk").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      == ((5L, 2L, 1L, 0.4)))
    val empty = graft.pipeline.Funnel.fkAudit(
      child.filter(lit(false)), parent, "fk", "pk").collect()(0)
    assert(empty.getLong(0) == 0L && empty.isNullAt(3))
  }

  test("eventTrigrams: sliding triples per user; short streams contribute none") {
    def e(id: Long, u: Long, tp: String, sec: Long) = (id, u, tp, sec * 1000000L)
    val rows = Seq(e(1, 1, "a", 1), e(2, 1, "b", 2), e(3, 1, "c", 3),
      e(4, 1, "a", 4), e(5, 1, "b", 5),
      e(6, 2, "a", 1), e(7, 2, "b", 2), e(8, 2, "c", 3),
      e(9, 3, "a", 1), e(10, 3, "b", 2)) // only 2 events: no trigram
    val d = rows.toDF("event_id", "user_id", "event_type", "__us")
      .withColumn("event_time", timestamp_micros(col("__us")))
    val out = graft.pipeline.Funnel.eventTrigrams(d, k = 2)
      .collect().map(r => r.getInt(4) ->
        ((r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(out(1) == (("a", "b", "c", 2L)))
    assert(out(2) == (("b", "c", "a", 1L))) // count tie breaks by t1
  }

  test("excessLossSelect: excess = bigram - unigram gain; top fraction per source kept") {
    val d = Seq(
      (1L, "x y x y x y x y", "en", "s1"),   // context-compressible
      (2L, "a b c d e f g h", "en", "s1"),
      (3L, "p p p p p p p p", "en", "s1"),   // unigram already perfect
      (4L, "solo doc here", "en", "s2")      // single-doc source -> pctl 0
    ).toDF("doc_id", "text", "lang", "source")
    val uni = graft.pipeline.TextAnalysis.lmScore(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val big = graft.pipeline.TextAnalysis.lmScoreBigram(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val all = graft.pipeline.Curation.excessLossSelect(d, 0.0).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(all.keySet == Set(1L, 2L, 3L, 4L))
    for (id <- Seq(1L, 2L, 3L, 4L))
      assert(all(id)._2 == big(id) - uni(id), s"doc $id")
    // rare-token docs gain most from context (deterministic bigrams
    // lift a rock-bottom unigram baseline); the all-same-token doc
    // gains nothing (unigram is already perfect)
    assert(Seq(1L, 2L, 3L).maxBy(id => all(id)._2) == 2L)
    assert(Seq(1L, 2L, 3L).minBy(id => all(id)._2) == 3L)
    // pctl >= 0.67 over 3 ranked docs keeps rank 1.0 only; the solo
    // source doc sits at pctl 0 and is dropped
    val kept = graft.pipeline.Curation.excessLossSelect(d, 0.67).collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("doremiWeights: high-excess source upweighted; weights normalize; eta sharpens") {
    val d = Seq(
      (1L, "x y x y x y x y", "en", "s1"),
      (2L, "a b c d e f g h", "en", "s1"),   // rare tokens: big gain
      (3L, "p p p p p p p p", "en", "s2"),   // no gain
      (4L, "p p q q p p q q", "en", "s2")
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.pipeline.Curation.doremiWeights(d, eta = 1.0).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set("s1", "s2"))
    assert(out("s1")._1 == 2L && out("s2")._1 == 2L)
    // s1's docs gain more from context -> larger mean excess -> more weight
    assert(out("s1")._2 > out("s2")._2)
    assert(out("s1")._3 > out("s2")._3)
    assert(math.abs(out("s1")._3 + out("s2")._3 - 1.0) < 1e-12)
    // a hotter eta sharpens the same ordering
    val hot = graft.pipeline.Curation.doremiWeights(d, eta = 4.0).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(hot("s1") > out("s1")._3)
  }

  test("cartography: easy/ambiguous/hard regions from trajectory moments; NULLs dropped") {
    val ev = Seq(
      (Some(1L), Some(10.0)), (Some(1L), Some(10.0)), (Some(1L), Some(10.0)),
      (Some(2L), Some(90.0)), (Some(2L), Some(90.0)),
      (Some(3L), Some(0.0)), (Some(3L), Some(100.0)),
      (Some(4L), None: Option[Double]),           // all-NULL key vanishes
      (None: Option[Long], Some(5.0))             // NULL key dropped
    ).toDF("user_id", "value")
    val out = graft.pipeline.Curation.cartography(ev, "user_id", "value",
      thr = 50.0, cHi = 49.0, vLo = 47.0).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getString(5)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // consistently low: confidence 10, variability 0, correctness 0 -> hard
    assert(out(1L) == ((3L, 10.0, 0.0, 0.0, "hard")))
    // consistently high: confidence 90, variability 0, correctness 1 -> easy
    assert(out(2L) == ((2L, 90.0, 0.0, 1.0, "easy")))
    // oscillating: confidence 50, variability 50 >= vLo -> ambiguous
    assert(out(3L) == ((2L, 50.0, 50.0, 0.5, "ambiguous")))
  }

  test("robustStandardize: median/MAD exact; MAD=0 and NULL scores -> NULL") {
    val d = Seq((1L, "s1", Some(1L)), (2L, "s1", Some(2L)),
      (3L, "s1", Some(3L)), (4L, "s1", Some(4L)),
      (5L, "s2", Some(7L)), (6L, "s2", Some(7L)),
      (7L, "s1", None: Option[Long])).toDF("doc_id", "source", "score")
    val out = graft.pipeline.Curation.robustStandardizeBySource(d)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getDouble(4), Option(r.get(5))))).toMap
    // s1: median(1,2,3,4)=2.5, devs {1.5,.5,.5,1.5} -> MAD=1.0
    assert(out(1L) == ((2.5, 1.0, Some(-1.5))))
    assert(out(4L) == ((2.5, 1.0, Some(1.5))))
    // constant source: MAD=0 -> NULL rz, never ±inf/NaN
    assert(out(5L)._2 == 0.0 && out(5L)._3.isEmpty)
    // NULL score flows through with NULL rz
    assert(out(7L)._3.isEmpty)
  }

  test("dsirWeights: identical docs tie; target-like docs outweigh; zero-token docs absent") {
    val d = Seq(
      (1L, "alpha beta alpha beta alpha", "en", "tgt"),  // target
      (2L, "alpha beta gamma", "en", "tgt"),             // target
      (10L, "alpha beta alpha", "en", "pool"),           // target-like candidate
      (11L, "alpha beta alpha", "en", "pool"),           // identical content to 10
      (12L, "zeta eta theta", "en", "pool"),             // pool-only vocabulary
      (13L, "", "en", "pool"),                           // zero tokens
      (14L, null.asInstanceOf[String], "en", "pool")     // NULL text
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.pipeline.Curation
      .dsirWeights(d, col("source") === "tgt", buckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // only candidate docs with >= 1 token are scored (never the target)
    assert(out.keySet == Set(10L, 11L, 12L))
    // identical token multisets score identically
    assert(out(10L) == out(11L))
    // tokens frequent in the target outweigh pool-only vocabulary
    assert(out(10L) > out(12L))
  }

  test("pqEncode: argmin property vs the exposed codebook; identical vectors share codes") {
    val vecs = (0 until 24).map { i =>
      val base = if (i % 2 == 0) 0.0f else 100.0f
      (i.toLong, Seq(base + i, base - i, -base + i, -base - i).map(_.toFloat))
    }
    val d = vecs.toDF("vec_id", "embedding")
    val m = 2; val k = 4
    val codes = Similarity.pqEncode(d, m = m, k = k, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(codes.size == vecs.size * m)
    assert(codes.values.forall(c => c >= 0 && c < k))
    val cb = Similarity.pqCodebook(d, m, k, iters = 2)
      .groupBy(_._1).map { case (ss, cs) => ss -> cs.map(c => c._2 -> c._3).toMap }
    val byId = vecs.toMap
    // every assignment is the exact argmin (ties to the lowest code)
    for (((vid, ss), code) <- codes) {
      val v = byId(vid)
      val sub = cb(ss).head._2.length
      def d2(c: Array[Double]): Double =
        (0 until sub).map(j => (v(ss * sub + j).toDouble - c(j)))
          .map(x => x * x).sum
      val best = cb(ss).toSeq.map { case (cid, c) => (d2(c), cid) }.min
      assert(best._2 == code, s"vec $vid subspace $ss: got $code want $best")
    }
    // identical embeddings -> identical code tuples
    val dup = Seq((100L, vecs.head._2), (101L, vecs.head._2))
      .toDF("vec_id", "embedding")
    val dupCodes = Similarity.pqEncode(d.unionAll(dup), m = m, k = k, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    (0 until m).foreach { ss =>
      assert(dupCodes((100L, ss)) == dupCodes((101L, ss)))
    }
  }

  test("bruteForceL2TopK: exact distances, rank by d2 asc with id ties, self excluded") {
    val d = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(3f, 4f)),  // d2(1,2) = 25
      (3L, Seq(1f, 0f)), (4L, Seq(0f, 0f))   // 4 coincides with 1
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceL2TopK(d, d.filter(col("vec_id") === 1), 3)
      .collect().map(r => (r.getInt(3), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    // neighbors of 1: 4 at d2=0, 3 at d2=1, 2 at d2=25; never itself
    assert(out.toSeq == Seq((1, 4L, 0.0), (2, 3L, 1.0), (3, 2L, 25.0)))
  }

  test("pqSearch: ADC finds coincident vectors; rerank tail returns exact distances") {
    // 24 vectors in two far clusters + a query twin: the twin must rank
    // first under both pure ADC and the reranked tail
    val vecs = (0 until 24).map { i =>
      val base = if (i % 2 == 0) 0.0f else 100.0f
      (i.toLong, Seq(base + i * 0.1f, base, base - i * 0.1f, base))
    } :+ ((50L, Seq(0.0f, 0.0f, 0.0f, 0.0f)))
    val d = vecs.toDF("vec_id", "embedding")
    val q0 = Seq((0L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val adc = Similarity.pqSearch(d, q0, 3, m = 2, codes = 4)
      .collect().map(r => r.getInt(3) -> r.getLong(1)).toMap
    // ADC distances depend only on CODES, so near-cluster vectors can
    // tie the coincident twin — but every top-3 must come from the
    // query's own cluster (even ids + 50), never the far one
    val clusterA = (0 until 24 by 2).map(_.toLong).toSet + 50L
    assert((1 to 3).forall(i => clusterA.contains(adc(i))), s"ADC: $adc")
    // rerank must cover the whole tying cluster (12 vectors sharing the
    // query's codes) or the id tie-break can evict the true twin from
    // the shortlist — the documented shortlist-size/recall trade-off
    val rr = Similarity.pqSearch(d, q0, 3, m = 2, codes = 4, rerank = 20)
      .collect().map(r => r.getInt(3) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // the rerank tail recomputes EXACT d2: the twin scores 0.0 exactly
    assert(rr(1) == ((50L, 0.0)))
    // and the reranked ranking equals exact brute force on the shortlist
    val exact = Similarity.bruteForceL2TopK(d, q0, 3)
      .collect().map(r => r.getInt(3) -> r.getLong(1)).toMap
    assert((1 to 3).forall(i => rr(i)._1 == exact(i)))
  }

  test("ivfPqSearch: all-cells probe + full rerank equals exact top-k; pruning stays in-cluster") {
    // two far clusters; query sits in cluster A with a coincident twin
    // (nonzero: the coarse assignment is cosine-based, so a zero vector
    // has no cell)
    val vecs = (0 until 24).map { i =>
      val base = if (i % 2 == 0) 1.0f else 100.0f
      (i.toLong, Seq(base + i * 0.1f, base, base - i * 0.1f, base))
    } :+ ((50L, Seq(1.0f, 1.0f, 1.0f, 1.0f)))
    val d = vecs.toDF("vec_id", "embedding")
    val q0 = Seq((0L, Seq(1.0f, 1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    // probe EVERY cell with a corpus-covering rerank: the shortlist holds
    // every candidate and the exact-L2 tail re-ranks it — output must
    // equal brute force row-for-row, distances included
    val full = Similarity.ivfPqSearch(d, q0, 3, nCells = 4, nprobe = 4,
        m = 2, codes = 4, rerank = 25)
      .collect().map(r => r.getInt(3) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val exact = Similarity.bruteForceL2TopK(d, q0, 3)
      .collect().map(r => r.getInt(3) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(full == exact)
    assert(full(1) == ((50L, 0.0)))
    // nprobe=1: the query's own cell is its nearest — every hit must
    // come from the query's cluster, never the far one
    val pruned = Similarity.ivfPqSearch(d, q0, 3, nCells = 2, nprobe = 1,
        m = 2, codes = 4, rerank = 20)
      .collect().map(r => r.getLong(1)).toSet
    val clusterA = (0 until 24 by 2).map(_.toLong).toSet + 50L
    assert(pruned.nonEmpty && pruned.subsetOf(clusterA), s"pruned: $pruned")
  }

  test("truncatedSearch: full-prefix equals exact; prefix shortlist + full rerank returns exact d2") {
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 1.0f else 50.0f
      (i.toLong, Seq(base + i * 0.1f, base, base - i * 0.1f, base))
    }
    val d = vecs.toDF("vec_id", "embedding")
    val q0 = Seq((0L, Seq(1.0f, 1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceL2TopK(d, q0, 3)
      .collect().map(r => r.getInt(3) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // dPrefix = full dim: the shortlist IS the exact ranking; rerank is
    // a no-op re-derivation -> row-identical output
    val full = Similarity.truncatedSearch(d, q0, 3, dPrefix = 4, rerank = 20)
      .collect().map(r => r.getInt(3) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(full == exact)
    // dPrefix = 2 with a corpus-covering shortlist: prefix dims are a
    // lower bound, the full-dim rerank recovers the exact ranking AND
    // the exact distances
    val half = Similarity.truncatedSearch(d, q0, 3, dPrefix = 2, rerank = 20)
      .collect().map(r => r.getInt(3) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(half == exact)
  }

  test("pqError: zero loss when vectors coincide with codewords; counts cover the corpus") {
    // one distinct vector per cluster, repeated: the decimal centroid
    // mean of identical values is the value itself -> d2 = 0 exactly
    val d = (0 until 24).map { i =>
      val v = if (i % 2 == 0) Seq(1.5f, -2.5f) else Seq(40.0f, 7.25f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val out = Similarity.pqError(d, m = 1, k = 2, iters = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0, 24L, 0.0, 0.0)))
  }

  test("residualPqCodebook: a ragged training sample fails with IllegalArgumentException") {
    // the 6-float vector ranks last in the ':ivfpq' hash order, so the
    // first sample vector has 4 floats and passes the centroid-length check
    def rank(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:ivfpq".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(h.take(15), 16)
    }
    val ragged = (0L until 10L).maxBy(rank)
    val d = (0L until 10L).map { i =>
      (i, if (i == ragged) Seq.fill(6)(1.0f) else Seq(i.toFloat, 1f, 2f, 3f))
    }.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.residualPqCodebook(d, Seq(0L -> Array(1.0, 1.0, 1.0, 1.0)), 2, 2)
    }
    assert(e.getMessage.contains("ragged embedding lengths"), e.getMessage)
  }

  test("exactMeans: each dimension is COALESCE(Dec.sumDec(x) / COUNT(*), previous)") {
    import graft.util.Dec
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    // centroid 0: dimension 0 sums to 0.99999999999999 (all 14 digits);
    // dimension 1 has one element with an image beside NaN and ±Inf;
    // dimension 2 has none (1e30f is past DECIMAL(38,14)). Centroid 1 has
    // one member, centroid 2 none.
    val vs = Array(
      Array(0.5, 1.25, nan),
      Array(0.49999999999999, nan, inf),
      Array(0.0, inf, -inf),
      Array(0.0, -inf, 1e30f.toDouble),
      Array(0.1, 0.2, 0.3))
    val assign = Array(0, 0, 0, 0, 1)
    val old = Array(Array(7.0, 8.0, 9.0), Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))
    val got = Similarity.exactMeans(vs, assign, old, new graft.operators.ExactSum.Memo)
    val sql = (for (vi <- vs.indices; i <- 0 until 3) yield (assign(vi), i, vs(vi)(i)))
      .toDF("c", "i", "x").groupBy("c", "i")
      .agg((Dec.sumDec(col("x")) / count(lit(1))).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> Option(r.get(2))).toMap
    for (c <- old.indices; i <- 0 until 3) {
      val want = sql.get((c, i)).flatten.fold(old(c)(i))(_.asInstanceOf[Double])
      assert(java.lang.Double.compare(got(c)(i), want) == 0,
        s"centroid $c dim $i: ${got(c)(i)} != $want")
    }
    assert(got(0)(0) == 0.99999999999999 / 4)
    assert(got(0)(1) == 1.25 / 4)
    assert(got(0)(2) == 9.0)
    assert(got(2).toSeq == old(2).toSeq)
  }

  test("cumBeforeCounts matches a window cumsum on every partitioning") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map { _ =>
      (rnd.nextInt(40).toDouble, rnd.nextInt(3).toLong, rnd.nextInt(5).toLong)
    }
    for (parts <- Seq(1, 3, 11)) {
      val counts = rows.toDF("__v", "__p", "__n")
        .groupBy("__v").agg(sum("__p").as("__p"), sum("__n").as("__n"))
        .repartition(parts)
      val got = graft.pipeline.RankStats.cumBeforeCounts(counts)
        .collect()
        .map(r => r.getDouble(0) -> ((r.getLong(3), r.getLong(4)))).toMap
      val w = Window.orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = counts
        .withColumn("cp", coalesce(sum("__p").over(w), lit(0L)))
        .withColumn("cn", coalesce(sum("__n").over(w), lit(0L)))
        .collect()
        .map(r => r.getDouble(0) -> ((r.getLong(3), r.getLong(4)))).toMap
      assert(got == want, s"parts=$parts")
    }
  }

  test("auc: hand case with ties (midrank convention); perfect and inverted scores") {
    def mk(pos: Seq[Double], neg: Seq[Double]) =
      (pos.map((_, true)) ++ neg.map((_, false))).toDF("s", "y")
    def a(pos: Seq[Double], neg: Seq[Double]): Double =
      graft.pipeline.RankStats.auc(mk(pos, neg), "s", col("y"))
        .collect()(0).getDouble(2)
    // pos {1,2,2,3}, neg {1,2}: 8 pairs; wins 4 + half-ties 3 -> U = 5.5
    assert(a(Seq(1, 2, 2, 3), Seq(1, 2)) == 5.5 / 8.0)
    assert(a(Seq(5, 6), Seq(1, 2)) == 1.0)
    assert(a(Seq(1, 2), Seq(5, 6)) == 0.0)
    assert(a(Seq(3, 3), Seq(3, 3)) == 0.5) // all tied: pure midrank
    // one-class lifecycle -> NULL
    val r = graft.pipeline.RankStats.auc(mk(Seq(1.0), Seq()), "s", col("y"))
      .collect()(0)
    assert(r.isNullAt(2))
  }

  test("dsirEss: uniform weights give ESS = n; a dominant doc collapses it") {
    // identical candidate docs -> identical weights -> ESS == n exactly
    val uniform = Seq(
      (1L, "target tokens here", "en", "t"), (2L, "target tokens here", "en", "t"),
      (10L, "same candidate text", "en", "c"), (11L, "same candidate text", "en", "c"),
      (12L, "same candidate text", "en", "c")
    ).toDF("doc_id", "text", "lang", "source")
    val u = graft.pipeline.Curation.dsirEss(uniform, col("source") === "t",
      buckets = 64).collect()(0)
    assert(u.getLong(0) == 3L && u.getDouble(1) == 3.0 && u.getDouble(2) == 1.0)
    // one candidate aligned with the target dominates: ESS collapses
    // toward 1 (the resample would be near-copies of that doc)
    val skewed = Seq(
      (1L, "alpha beta gamma delta", "en", "t"),
      (2L, "alpha beta gamma delta", "en", "t"),
      (10L, "alpha beta gamma delta", "en", "c"),  // target-aligned
      (11L, "zz yy xx ww vv uu", "en", "c"),
      (12L, "qq rr ss tt uu vv", "en", "c")
    ).toDF("doc_id", "text", "lang", "source")
    val sk = graft.pipeline.Curation.dsirEss(skewed, col("source") === "t",
      buckets = 64).collect()(0)
    assert(sk.getLong(0) == 3L)
    assert(sk.getDouble(2) < 0.5, sk.getDouble(2)) // far from uniform
  }

  test("spearman: monotone-invariant +1/-1; hand tie case; constant column NULL") {
    def rho(pairs: Seq[(Double, Double)]): Option[Double] = {
      val r = graft.pipeline.RankStats.spearman(
        pairs.toDF("x", "y"), "x", "y").collect()(0)
      if (r.isNullAt(1)) None else Some(r.getDouble(1))
    }
    // perfect monotone agreement survives a wild nonlinear transform
    val xs = Seq(1.0, 2.0, 5.0, 9.0, 20.0)
    assert(rho(xs.map(v => (v, math.exp(v)))) == Some(1.0))
    assert(rho(xs.map(v => (v, -math.exp(v)))) == Some(-1.0))
    // hand tie case: x = (1,2,2,3), y = (1,3,2,4) — midranks
    // (1, 2.5, 2.5, 4) and (1, 3, 2, 4): cov = 18/4, var = 18/4 and
    // 20/4 → rho = 18/√360 (exact in the decimal arithmetic)
    val tied = rho(Seq((1.0, 1.0), (2.0, 3.0), (2.0, 2.0), (3.0, 4.0)))
    assert(tied.exists(v => math.abs(v - 18.0 / math.sqrt(360.0)) < 1e-12),
      tied)
    // constant column: zero rank variance -> NULL
    assert(rho(Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0))).isEmpty)
  }

  test("brierDecomposition: Murphy identity exact when bins are pure; hand values") {
    // two pure forecast bins: s=0.2 (1 of 4 positive), s=0.7 (3 of 4)
    val d = (Seq((0.2, true)) ++ Seq.fill(3)((0.2, false)) ++
      Seq.fill(3)((0.7, true)) ++ Seq((0.7, false))).toDF("s", "y")
    val r = graft.pipeline.RankStats.brierDecomposition(d, "s", col("y"))
      .collect()(0)
    assert(r.getLong(0) == 8L)
    assert(r.getDouble(1) == 0.5)             // base rate
    assert(math.abs(r.getDouble(2) - 0.19) < 1e-12)    // raw brier
    assert(math.abs(r.getDouble(3) - 0.0025) < 1e-12)  // reliability
    assert(math.abs(r.getDouble(4) - 0.0625) < 1e-12)  // resolution
    assert(r.getDouble(5) == 0.25)            // uncertainty
    // within-bin-constant forecasts: the identity holds exactly
    assert(math.abs(r.getDouble(2) -
      (r.getDouble(3) - r.getDouble(4) + r.getDouble(5))) < 1e-12)
  }

  test("topTermsRbo: identical rankings = 1-p^k; a #1 swap is penalized where churn is blind; disjoint = 0") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    def win(start: Long, freqs: Seq[(String, Int)]) =
      freqs.flatMap { case (t, n) => (0 until n).map(i => (ts(start + i), t)) }
    val ev = (win(0, Seq("a" -> 3, "b" -> 2, "c" -> 1)) ++
      win(10, Seq("a" -> 3, "b" -> 2, "c" -> 1)) ++   // identical ranking
      win(20, Seq("b" -> 3, "a" -> 2, "c" -> 1)) ++   // #1/#2 swapped
      win(30, Seq("d" -> 3, "e" -> 2, "f" -> 1))      // disjoint
    ).toDF("event_time", "term")
    val out = graft.pipeline.Funnel.topTermsRbo(ev, "event_time",
        col("term"), "10 seconds", k = 3, capacity = 64, p = 0.9)
      .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(3))
      .toMap
    val p = 0.9
    def w(d: Int) = (1.0 - p) * math.pow(p, d - 1) / d
    // identical: X_d = d at every depth
    assert(out(10L) == w(1) * 1 + w(2) * 2 + w(3) * 3)
    // swap: X_1 = 0, X_2 = 2, X_3 = 3 — penalized at depth 1
    assert(out(20L) == w(1) * 0 + w(2) * 2 + w(3) * 3)
    assert(out(20L) < out(10L))
    // set-identical but rank-swapped: Jaccard churn reads 0 (blind)
    val churn = graft.pipeline.Funnel.topTermsChurn(ev, "event_time",
        col("term"), "10 seconds", k = 3, capacity = 64)
      .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(3))
      .toMap
    assert(churn(20L) == 0.0 && out(20L) < out(10L))
    assert(out(30L) == 0.0)
  }

  test("dailyAcf1: alternating series ~ -1; constant NULL; gap days break pairs") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L)
    def acf(days: Seq[(Long, Double)]) = {
      val r = graft.stats.HistStats.dailyAcf1(
        days.map { case (dd, m) => (ts(dd), m) }.toDF("event_time", "value"),
        "event_time", "value").collect()(0)
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }
    // perfect alternation around the mean: r1 = -sum/(sum) shifted by
    // the pair/denominator count mismatch — compute the hand value
    val alt = acf(Seq(0L -> 0.0, 1L -> 2.0, 2L -> 0.0, 3L -> 2.0, 4L -> 0.0))
    // means 0,2,0,2,0; mbar=0.8; den=4*0.64+... compute directly:
    val ms = Seq(0.0, 2.0, 0.0, 2.0, 0.0)
    val mb = ms.sum / 5
    val den = ms.map(m => (m - mb) * (m - mb)).sum
    val num = ms.sliding(2).map { case Seq(a, b) => (a - mb) * (b - mb) }.sum
    assert(alt._1 == 5L && alt._2 == 4L)
    assert(alt._3.exists(v => math.abs(v - num / den) < 1e-12), alt)
    assert(alt._3.exists(_ < 0.0)) // oscillation reads negative
    // constant series: zero denominator -> NULL
    assert(acf(Seq(0L -> 3.0, 1L -> 3.0, 2L -> 3.0))._3.isEmpty)
    // a gap breaks the chain: days 0,1 then 5,6 -> only 2 pairs
    val gap = acf(Seq(0L -> 1.0, 1L -> 2.0, 5L -> 3.0, 6L -> 4.0))
    assert(gap._1 == 4L && gap._2 == 2L)
  }

  test("theilSenByKey: per-key trends independent; single-day key NULL") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L)
    val ev = ((0L to 3L).map(d => (ts(d), "up", d.toDouble * 2.0)) ++
      (0L to 3L).map(d => (ts(d), "down", 10.0 - d.toDouble)) :+
      ((ts(0L), "solo", 5.0))).toDF("event_time", "event_type", "value")
    val out = graft.stats.HistStats.theilSenByKey(
        ev, "event_time", "event_type", "value").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out("up") == ((4L, 6L, Some(2.0))))
    assert(out("down") == ((4L, 6L, Some(-1.0))))
    assert(out("solo") == ((1L, 0L, None)))
  }

  test("theilSen: outlier day rejected (median slope); degenerate inputs NULL") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L)
    // days 0..3 trend exactly +1/day; day 4 is corrupted to 100 — six
    // of ten pairwise slopes are 1.0, so the median is exactly 1.0
    val ev = (0L to 3L).map(d => (ts(d), d.toDouble)) :+ ((ts(4L), 100.0))
    val out = graft.stats.HistStats.theilSen(
      ev.toDF("event_time", "value"), "event_time", "value").collect()(0)
    assert(out.getLong(0) == 5L && out.getLong(1) == 10L)
    assert(out.getDouble(2) == 1.0)
    // single day: no pairs -> NULL trend
    val one = graft.stats.HistStats.theilSen(
      Seq((ts(0L), 7.0), (ts(0L), 9.0)).toDF("event_time", "value"),
      "event_time", "value").collect()(0)
    assert(one.getLong(0) == 1L && one.getLong(1) == 0L && one.isNullAt(2))
  }

  test("aucCi: Hanley-McNeil tail matches the formula; perfect AUC has zero width; NULL propagates") {
    def mk(pos: Seq[Double], neg: Seq[Double]) =
      (pos.map((_, true)) ++ neg.map((_, false))).toDF("s", "y")
    // pos {2,4}, neg {1,3}: A = 3/4 over 4 pairs
    val r = graft.pipeline.RankStats.aucCi(mk(Seq(2, 4), Seq(1, 3)), "s", col("y"))
      .collect()(0)
    val a = r.getDouble(2)
    assert(a == 0.75)
    val (np, nn) = (2.0, 2.0)
    val q1 = a / (2.0 - a)
    val q2 = 2.0 * a * a / (1.0 + a)
    val se = math.sqrt((a * (1.0 - a) +
      (np - 1.0) * (q1 - a * a) + (nn - 1.0) * (q2 - a * a)) / (np * nn))
    val z = 1.959963984540054
    assert(r.getDouble(3) == se)
    assert(r.getDouble(4) == a - z * se && r.getDouble(5) == a + z * se)
    // perfect separation: SE collapses to 0, CI = [1, 1]
    val p = graft.pipeline.RankStats.aucCi(mk(Seq(5, 6), Seq(1, 2)), "s", col("y"))
      .collect()(0)
    assert(p.getDouble(2) == 1.0 && p.getDouble(3) == 0.0 &&
      p.getDouble(4) == 1.0 && p.getDouble(5) == 1.0)
    // one-class: NULL auc propagates through se and both bounds
    val n = graft.pipeline.RankStats.aucCi(mk(Seq(1.0), Seq()), "s", col("y"))
      .collect()(0)
    assert(n.isNullAt(2) && n.isNullAt(3) && n.isNullAt(4) && n.isNullAt(5))
  }

  test("mannWhitney: z sign tracks direction; all-tied and one-class are NULL") {
    def mk(pos: Seq[Double], neg: Seq[Double]) =
      (pos.map((_, true)) ++ neg.map((_, false))).toDF("s", "y")
    val up = graft.pipeline.RankStats
      .mannWhitney(mk(Seq(5, 6, 7, 8), Seq(1, 2, 3, 4)), "s", col("y"))
      .collect()(0)
    assert(up.getDouble(2) == 16.0) // U = n+ * n- : total separation
    assert(up.getDouble(3) > 2.0)
    val down = graft.pipeline.RankStats
      .mannWhitney(mk(Seq(1, 2, 3, 4), Seq(5, 6, 7, 8)), "s", col("y"))
      .collect()(0)
    assert(down.getDouble(2) == 0.0 && down.getDouble(3) < -2.0)
    val tied = graft.pipeline.RankStats
      .mannWhitney(mk(Seq(3, 3), Seq(3, 3)), "s", col("y")).collect()(0)
    assert(tied.isNullAt(3)) // sigma^2 = 0: no rank information
  }

  test("reliability: ece is the n-weighted mean gap; bins partition the corpus") {
    val d = Seq(
      (0.05, false), (0.05, false), (0.05, true),  // bin 0: conf .05 acc 1/3
      (0.95, true), (0.95, true), (0.95, false),   // bin 9: conf .95 acc 2/3
      (1.0, true)                                   // clamps into bin 9
    ).toDF("s", "y")
    val out = graft.pipeline.RankStats.reliability(d, "s", col("y"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(6)))).toMap
    assert(out.keySet == Set(0L, 9L))
    assert(out(0L)._1 == 3L && out(0L)._2 == 1L)
    assert(out(9L)._1 == 4L && out(9L)._2 == 3L)
    val eces = out.values.map(_._3).toSet
    assert(eces.size == 1) // the scalar repeats on every row
    val conf9 = (0.95 * 3 + 1.0) / 4
    val expected = 3.0 / 7 * math.abs(0.05 - 1.0 / 3) +
      4.0 / 7 * math.abs(conf9 - 3.0 / 4)
    assert(math.abs(eces.head - expected) < 1e-12)
  }

  test("kmSurvival: survival steps only at deaths, never increases, censoring respected") {
    import java.sql.Timestamp
    def ts(day: Int): Timestamp = new Timestamp(day * 86400000L)
    // users: lifetimes 0,0,1,2 (deaths), one user alive through the end (censored)
    val ev = Seq(
      (1L, ts(0)), (2L, ts(1)),                     // life 0, die
      (3L, ts(0)), (3L, ts(1)),                     // life 1, die
      (4L, ts(0)), (4L, ts(2)),                     // life 2, die
      (5L, ts(3)), (5L, ts(9)),                     // life 6, last day = end -> censored
      (6L, ts(9))                                   // life 0 at end -> censored
    ).toDF("user_id", "event_time")
    val out = graft.pipeline.RankStats.kmSurvival(ev, censorDays = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 6L))
    val m = out.toMap
    assert(m(0L) == ((6L, 2L, 1L, 1.0 - 2.0 / 6.0)))
    assert(m(1L) == ((3L, 1L, 0L, (1.0 - 2.0 / 6.0) * (1 - 1.0 / 3.0))))
    val s2 = (1.0 - 2.0 / 6.0) * (1 - 1.0 / 3.0) * (1 - 1.0 / 2.0)
    assert(m(2L) == ((2L, 1L, 0L, s2)))
    assert(m(6L) == ((1L, 0L, 1L, s2))) // censor-only row: no step
    val survs = out.map(_._2._4)
    assert(survs.zip(survs.tail).forall { case (a, b) => b <= a })
  }

  test("ndcgAnn: full-recall LSH settings give ndcg == 1; bounds hold") {
    val rnd = new scala.util.Random(5)
    val emb = (0L until 40L).map { i =>
      (i, (1 to 8).map(_ => rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    // bits=2, probeHamming=2 probes every one of the 4 buckets per
    // table -> candidates = the whole corpus -> approx == exact
    val full = Similarity.ndcgAnn(emb, emb.filter(col("vec_id") < 4),
        k = 3, tables = 2, bits = 2, probeHamming = 2)
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(full.length == 4)
    assert(full.forall { case (dcg, idcg, ndcg) =>
      ndcg == 1.0 && dcg == idcg })
    // realistic settings: 0 <= ndcg <= 1, dcg <= idcg
    val part = Similarity.ndcgAnn(emb, emb.filter(col("vec_id") < 4), k = 3)
      .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(part.forall { case (dcg, idcg, ndcg) =>
      ndcg >= 0.0 && ndcg <= 1.0 + 1e-15 && dcg <= idcg + 1e-12 })
  }

  test("aucByGroup: single group equals global auc; one-class group NULL") {
    val rnd = new scala.util.Random(17)
    val rows = (1 to 300).map(_ => (rnd.nextInt(40).toDouble, rnd.nextBoolean()))
    val d = rows.map { case (v, y) => ("g1", v, y) }.toDF("g", "s", "y")
    val grouped = graft.pipeline.RankStats
      .aucByGroup(d, col("g"), "g", "s", col("y")).collect()(0)
    val global = graft.pipeline.RankStats.auc(d, "s", col("y")).collect()(0)
    assert(grouped.getDouble(3) == global.getDouble(2))
    val oneClass = Seq(("g1", 1.0, true), ("g2", 1.0, true), ("g2", 2.0, false))
      .toDF("g", "s", "y")
    val out = graft.pipeline.RankStats
      .aucByGroup(oneClass, col("g"), "g", "s", col("y"))
      .collect().map(r => r.getString(0) -> r.isNullAt(3)).toMap
    assert(out("g1") && !out("g2"))
  }

  test("abPower: MDE shrinks with n; equal rates give NULL required_n") {
    import java.sql.Timestamp
    def ev(users: Int) = (1 to users).flatMap { u =>
      val conv = u % 10 == 0 != (u % 2 == 1 && u % 20 < 6) // arm-skewed
      Seq((u.toLong, if (conv) "purchase" else "view"))
    }.toDF("user_id", "event_type")
    val small = graft.pipeline.RankStats
      .abPower(ev(100), col("user_id") % 2 === 1, "purchase").collect()(0)
    val big = graft.pipeline.RankStats
      .abPower(ev(2000), col("user_id") % 2 === 1, "purchase").collect()(0)
    assert(small.getDouble(3) > big.getDouble(3)) // more users, smaller MDE
    // identical arms: delta 0 -> required_n NULL, mde still defined
    // u%4 in {0,1} converts: one even + one odd per block of 4 -> both
    // arms convert at exactly 1/2, delta == 0
    val flat = (1 to 40).map(u => (u.toLong, if (u % 4 < 2) "purchase" else "view"))
      .toDF("user_id", "event_type")
    val r = graft.pipeline.RankStats
      .abPower(flat, col("user_id") % 2 === 1, "purchase").collect()(0)
    assert(!r.isNullAt(3) && r.isNullAt(4))
  }

  test("kmSummary: hand median and step-function RMST off the q291 fixture") {
    import java.sql.Timestamp
    def ts(day: Int): Timestamp = new Timestamp(day * 86400000L)
    val ev = Seq(
      (1L, ts(0)), (2L, ts(1)), (3L, ts(0)), (3L, ts(1)),
      (4L, ts(0)), (4L, ts(2)), (5L, ts(3)), (5L, ts(9)), (6L, ts(9))
    ).toDF("user_id", "event_time")
    val r = graft.pipeline.RankStats.kmSummary(ev, censorDays = 1).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 6L)
    // S(0)=2/3 > .5; S(1)=(2/3)(2/3) <= .5 -> median 1
    assert(r.getLong(2) == 1L)
    val s0 = 1.0 - 2.0 / 6.0
    val s1 = s0 * (1 - 1.0 / 3.0)
    val s2 = s1 * (1 - 1.0 / 2.0)
    val rmst = 0.0 + s0 * 1 + s1 * 1 + s2 * 4
    assert(math.abs(r.getDouble(3) - rmst) < 1e-12)
  }

  test("bestThreshold: picks the known F1-optimal cut; one-class input empty") {
    // pos at {3,4,5}, neg at {1,2,4}: t=3 -> tp3 fp1 (f1 = 6/7); t=4 ->
    // tp2 fp1 fn1 (f1 = 2/3); t=1 -> tp3 fp3 (f1 = .667) => best t=3
    val d = (Seq(3.0, 4.0, 5.0).map((_, true)) ++
      Seq(1.0, 2.0, 4.0).map((_, false))).toDF("s", "y")
    val r = graft.pipeline.RankStats.bestThreshold(d, "s", col("y"))
      .collect()(0)
    assert(r.getDouble(0) == 3.0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 1L, 0L)))
    assert(r.getDouble(6) == 2.0 * 0.75 * 1.0 / (0.75 + 1.0))
    val one = Seq((1.0, true), (2.0, true)).toDF("s", "y")
    assert(graft.pipeline.RankStats.bestThreshold(one, "s", col("y"))
      .count() == 0)
  }

  test("prCurve: hand 11-point interpolated curve and AP; one-class input empty") {
    val d = (Seq(3.0, 4.0, 5.0).map((_, true)) ++
      Seq(1.0, 2.0, 4.0).map((_, false))).toDF("s", "y")
    val out = graft.pipeline.RankStats.prCurve(d, "s", col("y"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out.length == 11)
    // recall <= 1/3 -> interpolated precision 1.0 (t=5); above -> 0.75 (t=3)
    out.foreach { case (r, p, _) =>
      if (r <= 0.3) assert(p == 1.0, s"r=$r") else assert(p == 0.75, s"r=$r")
    }
    assert(math.abs(out.head._3 - (4 * 1.0 + 7 * 0.75) / 11.0) < 1e-15)
    val one = Seq((1.0, true)).toDF("s", "y")
    assert(graft.pipeline.RankStats.prCurve(one, "s", col("y")).count() == 0)
  }

  test("logisticFit: learns the sign of a separable feature; beats chance loss") {
    val rnd = new scala.util.Random(21)
    val rows = (1 to 2000).map { _ =>
      val x = rnd.nextInt(10).toDouble / 10.0
      val pTrue = 1.0 / (1.0 + math.exp(-(6.0 * x - 3.0)))
      (x, rnd.nextDouble() < pTrue)
    }
    val d = rows.toDF("x", "y")
    val r = graft.pipeline.RankStats.logisticFit(d, "x", col("y"))
      .collect()(0)
    assert(r.getLong(0) + r.getLong(1) == 2000L)
    assert(r.getDouble(2) > 0.0) // slope sign recovered
    assert(r.getDouble(4) < math.log(2.0)) // better than coin-flip loss
    val empty = Seq.empty[(Double, Boolean)].toDF("x", "y")
    assert(graft.pipeline.RankStats.logisticFit(empty, "x", col("y"))
      .count() == 0)
  }

  test("calibratedEval: calibrated probabilities land near observed rates") {
    val rnd = new scala.util.Random(29)
    val rows = (1 to 3000).map { _ =>
      val x = rnd.nextInt(10).toDouble / 10.0
      val pTrue = 1.0 / (1.0 + math.exp(-(6.0 * x - 3.0)))
      (x, rnd.nextDouble() < pTrue)
    }
    val d = rows.toDF("x", "y")
    val out = graft.pipeline.RankStats.calibratedEval(d, "x", col("y"))
      .collect()
    assert(out.nonEmpty)
    // all rows carry the same fitted (w, b); ece bounded sane
    assert(out.map(r => (r.getDouble(7), r.getDouble(8))).distinct.length == 1)
    val ece = out.head.getDouble(6)
    assert(ece >= 0.0 && ece < 0.5)
    // occupied bins partition the corpus
    assert(out.map(_.getLong(1)).sum == 3000L)
    val empty = Seq.empty[(Double, Boolean)].toDF("x", "y")
    assert(graft.pipeline.RankStats.calibratedEval(empty, "x", col("y"))
      .count() == 0)
  }

  test("benfordAudit: known digit counts; a Benford-ish corpus scores low chi2") {
    // 1.00 -> digit 1, 2.50 -> 2, 0.19 -> 1 (19 cents), 9.99 -> 9
    val d = Seq(1.00, 2.50, 0.19, 9.99).toDF("v")
    val out = graft.pipeline.RankStats.benfordAudit(d, "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 0L, 5L -> 0L,
      6L -> 0L, 7L -> 0L, 8L -> 0L, 9L -> 1L))
    // exponentially spread magnitudes approximate Benford: chi2 small
    // relative to a uniform-digit corpus
    val rnd = new scala.util.Random(9)
    val benfordish = (1 to 4000)
      .map(_ => math.pow(10.0, rnd.nextDouble() * 4.0 - 2.0)).toDF("v")
    val uniform = (1 to 4000)
      .map(i => (1.0 + i % 9).toDouble).toDF("v")
    def chi(df: org.apache.spark.sql.DataFrame): Double =
      graft.pipeline.RankStats.benfordAudit(df, "v").collect()(0).getDouble(4)
    assert(chi(benfordish) < chi(uniform) / 10.0)
  }

  test("knnClassify: separable blobs classify perfectly; tie-break deterministic") {
    val rnd = new scala.util.Random(13)
    // cosine is direction-based: separate the classes by ANGLE, not
    // offset (a blob at the origin has random directions)
    val emb = (0L until 60L).map { i =>
      val (cx, cy) = if (i % 2 == 0) (1.0, 0.0) else (0.0, 1.0)
      (i, Seq((cx + rnd.nextGaussian() * 0.05).toFloat,
        (cy + rnd.nextGaussian() * 0.05).toFloat), (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(emb, emb.filter(col("vec_id") < 8), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3)))
    assert(out.length == 8)
    assert(out.forall(_._4)) // well-separated blobs: every query correct
  }

  test("classifierEval: hand confusion matrix; degenerate denominators NULL") {
    val d = Seq((0.9, true), (0.8, false), (0.3, true), (0.1, false))
      .toDF("s", "y")
    val r = graft.pipeline.RankStats.classifierEval(d, "s", col("y"), 0.5)
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((1L, 1L, 1L, 1L)))
    assert(r.getDouble(5) == 0.5 && r.getDouble(6) == 0.5)
    assert(r.getDouble(7) == 0.5 && r.getDouble(8) == 0.5)
    // threshold above every score: no predicted positives -> NULL precision/f1
    val none = graft.pipeline.RankStats.classifierEval(d, "s", col("y"), 2.0)
      .collect()(0)
    assert(none.getLong(1) == 0L && none.isNullAt(5) && none.isNullAt(7))
    assert(none.getDouble(6) == 0.0) // recall defined: 0 of 2 positives found
  }

  test("gridDensityClusters: two separated blobs -> two clusters; sparse cells unlabeled") {
    val rnd = new scala.util.Random(3)
    def blob(cx: Double, cy: Double, n: Int, id0: Long) =
      (0 until n).map { i =>
        (id0 + i, Seq((cx + rnd.nextGaussian() * 0.02).toFloat,
          (cy + rnd.nextGaussian() * 0.02).toFloat))
      }
    // blobs at opposite corners + a lone stray point (sparse noise)
    val emb = (blob(0.1, 0.1, 60, 0L) ++ blob(0.9, 0.9, 60, 100L) ++
      Seq((200L, Seq(0.5f, 0.5f)))).toDF("vec_id", "embedding")
    val out = Similarity.gridDensityClusters(emb, n = 8, minCount = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), if (r.isNullAt(4)) -1L else r.getLong(4)))
    val dense = out.filter(_._4)
    assert(dense.nonEmpty)
    assert(dense.map(_._5).distinct.length == 2) // two separated clusters
    val sparse = out.filter(!_._4)
    assert(sparse.forall(_._5 == -1L)) // noise cells stay unlabeled
    // counts cover every point
    assert(out.map(_._3).sum == 121L)
  }

  test("graphStats: triangle + chain hand graph; empty graph NULL transitivity") {
    // triangle 1-2-3 plus chain 4-5-6: wedges 3+1, triangles 1 -> 3/4
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val r = Dedup.graphStats(e).collect()(0)
    assert(r.getLong(0) == 6L && r.getLong(1) == 5L)
    assert(r.getLong(2) == 4L && r.getLong(3) == 1L)
    assert(r.getDouble(4) == 3.0 / 4.0)
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val r0 = Dedup.graphStats(empty).collect()(0)
    assert(r0.getLong(0) == 0L && r0.getLong(3) == 0L && r0.isNullAt(4))
  }

  test("heapsFit: growing vocabulary fits 0 < beta <= 1; single point is NULL") {
    val rnd = new scala.util.Random(11)
    // vocabulary grows sublinearly: doc i draws from a pool ~ sqrt-sized
    val grow = (0L until 400L).map { i =>
      val pool = 5 + math.sqrt(20.0 * i).toInt
      (i, (1 to 12).map(_ => "w" + rnd.nextInt(pool)).mkString(" "), "en", "s")
    }.toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.heapsFit(grow, bucketSize = 50L).collect()(0)
    assert(r.getLong(0) == 8L)
    assert(r.getDouble(1) > 0.0 && r.getDouble(1) <= 1.0)
    assert(r.getDouble(2) > 0.5) // log-log growth is near-linear
    val one = Seq((1L, "a b c", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val r1 = TextAnalysis.heapsFit(one, bucketSize = 50L).collect()(0)
    assert(r1.getLong(0) == 1L && r1.isNullAt(1) && r1.isNullAt(2))
  }

  test("lmFilterSketch: rank-bound verdicts hold; empty/NULL docs never scored") {
    val d = (1L to 40L).map { i =>
      val src = if (i <= 20) "s1" else "s2"
      (i, ("tok" + (i % 7) + " ") * (1 + (i % 5).toInt), "en", src)
    } :+ ((41L, null.asInstanceOf[String], "en", "s1"))
    val out = graft.pipeline.Curation
      .lmFilterSketch(d.toDF("doc_id", "text", "lang", "source"),
        minPctl = 0.5, accuracy = 25)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set("s1", "s2"))
    assert(out("s1")._1 == 20L) // the NULL-text doc is not scored
    assert(out("s2")._1 == 20L)
    assert(out.values.forall(v => v._2 && v._3))
  }
}
