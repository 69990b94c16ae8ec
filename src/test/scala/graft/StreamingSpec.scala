package graft

import java.sql.Timestamp

import graft.axes.Regular
import graft.streaming.StreamingHist
import graft.streaming.StreamingHist.{DedupVerdict, DocEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Int) = new Timestamp(sec * 1000L)

  test("windowed streaming histogram: counts per (window, bin) with late data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val ax = Regular("v", 2, 0.0, 2.0)
    val out = StreamingHist.windowedHistogram(
      input.toDF().toDF("ts", "v"), "ts", col("v"), ax, "10 seconds")

    val q = out.writeStream.format("memory").queryName("hist_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((ts(1), 0.5), (ts(2), 1.5), (ts(3), 0.7), (ts(12), 0.5))
      q.processAllAvailable()
      val rows = spark.table("hist_stream").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getDouble(2), r.getDouble(3)))
        .toSet
      assert(rows == Set((0L, 0.0, 2.0), (0L, 1.0, 1.0), (10L, 0.0, 1.0)))

      input.addData((ts(5), 1.2)) // late-ish event for the first window
      q.processAllAvailable()
      val rows2 = spark.table("hist_stream").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getDouble(2), r.getDouble(3)))
        .toSet
      assert(rows2.contains((0L, 1.0, 2.0)))
    } finally q.stop()
  }

  test("windowed histogram operator works identically on batch input") {
    val ax = Regular("v", 2, 0.0, 2.0)
    val batch = Seq((ts(1), 0.5), (ts(2), 1.5), (ts(12), 0.5)).toDF("ts", "v")
    val rows = StreamingHist.windowedHistogram(batch, "ts", col("v"), ax, "10 seconds")
      .collect().map(r => (r.getTimestamp(0).getTime / 1000, r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(rows == Set((0L, 0.0, 1.0), (0L, 1.0, 1.0), (10L, 0.0, 1.0)))
  }

  test("watermark bounds state: too-late events are dropped in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val ax = Regular("v", 2, 0.0, 2.0)
    val out = StreamingHist.windowedHistogram(
      input.toDF().toDF("ts", "v"), "ts", col("v"), ax, "10 seconds",
      watermark = "10 seconds")
    val q = out.writeStream.format("memory").queryName("wm_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 0.5), (ts(3), 0.7))
      q.processAllAvailable()
      input.addData((ts(35), 1.5)) // advances watermark to 25s -> window [0,10) closes
      q.processAllAvailable()
      input.addData((ts(5), 0.9)) // beyond watermark: must NOT reopen [0,10)
      q.processAllAvailable()
      val win0 = spark.table("wm_stream").collect()
        .filter(_.getTimestamp(0).getTime == 0L)
        .map(r => r.getDouble(2) -> r.getDouble(3)).toMap
      assert(win0 == Map(0.0 -> 2.0)) // the late 0.9 is not counted
    } finally q.stop()
  }

  test("batch integer-key window assignment == Spark's window() semantics") {
    // the arithmetic path must reproduce window()'s epoch-aligned tumbling
    // assignment exactly, for non-round durations and boundary timestamps
    val ax = Regular("v", 4, 0.0, 4.0)
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map { _ =>
      (new Timestamp(rnd.between(0L, 3600L * 1000) * 1000 / 1000), // sub-hour
        rnd.between(-1.0, 5.0))
    } ++ Seq((ts(0), 0.5), (ts(420), 1.5), (ts(419), 2.5)) // exact edges
    for (dur <- Seq("7 minutes", "90 seconds", "1 hour")) {
      val df = rows.toDF("ts", "v")
      val got = StreamingHist.windowedHistogram(df, "ts", col("v"), ax, dur)
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
          r.getDouble(2), r.getDouble(3))).toSet
      val want = df
        .filter(col("v") >= 0.0 && col("v") < 4.0)
        .groupBy(window(col("ts"), dur).as("win"), ax.index(col("v")).as("i"))
        .count()
        .select(col("win.start"), col("win.end"), ax.label(col("i")),
          col("count").cast("double"))
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
          r.getDouble(2), r.getDouble(3))).toSet
      assert(got == want, s"window mismatch for duration '$dur'")
    }
  }

  test("stateless curation ops run unchanged on streaming input") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String)]
    val docs = input.toDF().toDF("doc_id", "text", "lang", "source")
    val sampled = graft.pipeline.Sampling.sampleBySource(
      docs, Map("s0" -> 1.0, "s1" -> 0.0), 0.5, "mix1")
    assert(sampled.isStreaming)
    val q = sampled.writeStream.format("memory").queryName("sample_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "a", "en", "s0"), (2L, "b", "en", "s1"), (3L, "c", "en", "s0"))
      q.processAllAvailable()
      val kept = spark.table("sample_stream").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L)) // rate 1.0 keeps all s0, rate 0.0 drops all s1
    } finally q.stop()
  }

  test("state TTL bounds dedup state: expired hashes are first_seen again") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocEvent]
    // 5 s horizon: wide enough that the in-horizon duplicate's batch
    // can't race past it even under co-tenant load, small enough to
    // expire with one sleep
    val out = StreamingHist.streamingDedup(input.toDS(),
      stateTtl = Some("5 seconds"))
    val q = out.writeStream.format("memory").queryName("ttl_stream")
      .outputMode(OutputMode.Append()).start()
    // With a ProcessingTimeTimeout registered the stream keeps scheduling
    // timeout-check micro-batches, so processAllAvailable never sees a
    // stable idle state — poll the sink for the expected doc instead.
    def awaitDoc(id: Long, deadlineMs: Long = 30000): Map[Long, Boolean] = {
      val t0 = System.currentTimeMillis()
      var rows = Map.empty[Long, Boolean]
      while (!rows.contains(id)) {
        assert(System.currentTimeMillis() - t0 < deadlineMs,
          s"doc $id not in sink after ${deadlineMs} ms (got $rows)")
        Thread.sleep(50)
        rows = spark.table("ttl_stream").as[DedupVerdict].collect()
          .map(v => v.doc_id -> v.first_seen).toMap
      }
      rows
    }
    try {
      input.addData(DocEvent(1, "h1"))
      awaitDoc(1)
      // within the horizon a duplicate is still flagged
      input.addData(DocEvent(2, "h1"))
      awaitDoc(2)
      Thread.sleep(10000) // let h1's 5 s processing-time horizon lapse
      // any later batch fires the pending timeout and removes h1's state
      input.addData(DocEvent(3, "h9"))
      awaitDoc(3)
      // state gone -> the same hash is first_seen again (rolling-horizon
      // dedup semantics), proving expired state is actually released
      input.addData(DocEvent(4, "h1"))
      val rows = awaitDoc(4)
      assert(rows == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true))
    } finally q.stop()
  }

  test("stateful streaming dedup: first_seen only once per content hash") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocEvent]
    val out = StreamingHist.streamingDedup(input.toDS())
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(DocEvent(1, "h1"), DocEvent(2, "h1"), DocEvent(3, "h2"))
      q.processAllAvailable()
      input.addData(DocEvent(4, "h1"), DocEvent(5, "h3"))
      q.processAllAvailable()
      val rows = spark.table("dedup_stream").as[DedupVerdict].collect()
        .map(v => v.doc_id -> v.first_seen).toMap
      assert(rows == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false, 5L -> true))
    } finally q.stop()
  }

  test("sessionize: gap merge/split semantics, streaming == batch") {
    // user 1: events at 1s, 5s (merge: gap 4 < 10), 15s (gap EXACTLY 10 —
    // touching windows still merge), 30s (gap 15 > 10: new session);
    // user 2: one event
    val events = Seq((1L, ts(1), 2.0), (1L, ts(5), 3.0), (1L, ts(15), 4.0),
      (1L, ts(30), 0.5), (2L, ts(3), 1.5)).toDF("user_id", "event_time", "value")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1).getTime / 1000, r.getTimestamp(2).getTime / 1000,
        r.getLong(3), r.getDouble(4))
    val batch = StreamingHist.sessionize(
      events, "event_time", "user_id", "10 seconds", col("value"))
      .collect().map(key).toSet
    assert(batch == Set(
      (1L, 1L, 25L, 3L, 9.0),   // [1s, 15s+10) — the gap-10 event merged
      (1L, 30L, 40L, 1L, 0.5),
      (2L, 3L, 13L, 1L, 1.5)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val out = StreamingHist.sessionize(
      input.toDF().toDF("user_id", "event_time", "value"),
      "event_time", "user_id", "10 seconds", col("value"))
    val q = out.writeStream.format("memory").queryName("sess_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((1L, ts(1), 2.0), (1L, ts(5), 3.0), (2L, ts(3), 1.5))
      q.processAllAvailable()
      input.addData((1L, ts(15), 4.0), (1L, ts(30), 0.5)) // merge + split
      q.processAllAvailable()
      val stream = spark.table("sess_stream").collect().map(key).toSet
      assert(stream == batch)
    } finally q.stop()
  }

  test("sliding windowed histogram: each event in dur/slide windows, streaming == batch") {
    val ax = graft.axes.Regular("x", 4, 0.0, 4.0)
    // events at 1s/11s/21s with 20s windows sliding 10s: event@11 lands
    // in [0,20) and [10,30); event@1 also in [-10,10)
    val events = Seq((ts(1), 0.5), (ts(11), 1.5), (ts(21), 2.5))
      .toDF("event_time", "x")
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000,
        r.getDouble(2), r.getDouble(3))
    val batch = StreamingHist.windowedHistogram(
        events, "event_time", col("x"), ax, "20 seconds",
        slideDuration = Some("10 seconds"))
      .collect().map(key).toSet
    // every event appears in exactly 2 windows, one count each
    assert(batch.size == 6 && batch.toSeq.map(_._4).sum == 6.0)
    assert(batch.contains((0L, 20L, 0.0, 1.0)) &&
      batch.contains((-10L, 10L, 0.0, 1.0)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingHist.windowedHistogram(
      input.toDF().toDF("event_time", "x"), "event_time", col("x"), ax,
      "20 seconds", slideDuration = Some("10 seconds"))
    val q = out.writeStream.format("memory").queryName("slide_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((ts(1), 0.5), (ts(11), 1.5), (ts(21), 2.5))
      q.processAllAvailable()
      assert(spark.table("slide_stream").collect().map(key).toSet == batch)
    } finally q.stop()
  }

  test("windowed top terms: SpaceSaving per window, streaming == batch") {
    // window [0,10): a x3, b x2, c x1; window [10,20): c x2, a x1
    val events = Seq(
      (ts(1), "a"), (ts(2), "a"), (ts(3), "b"), (ts(4), "a"), (ts(5), "b"),
      (ts(6), "c"), (ts(12), "c"), (ts(13), "c"), (ts(14), "a")
    ).toDF("event_time", "term")
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 1000, r.getString(2), r.getLong(3),
        r.getLong(4), r.getInt(5))
    val batch = StreamingHist.windowedTopTerms(
        events, "event_time", col("term"), "10 seconds", k = 2, capacity = 8)
      .collect().map(key).toSet
    // exact regime: err 0, ranking (cnt desc, term asc)
    assert(batch == Set(
      (0L, "a", 3L, 0L, 1), (0L, "b", 2L, 0L, 2),
      (10L, "c", 2L, 0L, 1), (10L, "a", 1L, 0L, 2)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = StreamingHist.windowedTopTerms(
      input.toDF().toDF("event_time", "term"),
      "event_time", col("term"), "10 seconds", k = 2, capacity = 8)
    val q = out.writeStream.format("memory").queryName("htt_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((ts(1), "a"), (ts(2), "a"), (ts(3), "b"), (ts(6), "c"))
      q.processAllAvailable()
      // the summary is STATE: later micro-batches keep counting
      input.addData((ts(4), "a"), (ts(5), "b"), (ts(12), "c"), (ts(13), "c"),
        (ts(14), "a"))
      q.processAllAvailable()
      val stream = spark.table("htt_stream").collect().map(key).toSet
      assert(stream == batch)
    } finally q.stop()
  }

  test("windowed quantiles: per-window GK summary, streaming == batch") {
    // window [0,10): values 1..6 (n=6): p50 -> rank ceil(3.0)=3, p95 ->
    // rank ceil(5.7)=6; window [10,20): 10,20,30 (n=3): ranks 2 and 3
    val events = Seq(
      (ts(1), 1.0), (ts(2), 2.0), (ts(3), 3.0), (ts(4), 4.0), (ts(5), 5.0),
      (ts(6), 6.0), (ts(12), 10.0), (ts(13), 20.0), (ts(14), 30.0)
    ).toDF("event_time", "value")
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 1000, r.getDouble(1), r.getDouble(2))
    val batch = StreamingHist.windowedQuantiles(
        events, "event_time", col("value"), "10 seconds", Seq(0.5, 0.95))
      .drop("window_end").collect().map(key).toSet
    assert(batch == Set(
      (0L, 0.5, 3.0), (0L, 0.95, 6.0), (10L, 0.5, 20.0), (10L, 0.95, 30.0)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingHist.windowedQuantiles(
      input.toDF().toDF("event_time", "value"),
      "event_time", col("value"), "10 seconds", Seq(0.5, 0.95))
    val q = out.drop("window_end").writeStream.format("memory")
      .queryName("wq_stream").outputMode(OutputMode.Complete()).start()
    try {
      input.addData((ts(1), 1.0), (ts(3), 3.0), (ts(5), 5.0), (ts(12), 10.0))
      q.processAllAvailable()
      // the GK summary is window STATE: later micro-batches keep merging
      input.addData((ts(2), 2.0), (ts(4), 4.0), (ts(6), 6.0),
        (ts(13), 20.0), (ts(14), 30.0))
      q.processAllAvailable()
      val stream = spark.table("wq_stream").collect().map(key).toSet
      assert(stream == batch)
    } finally q.stop()
  }

  test("streaming as-of: state carries the latest right across micro-batches") {
    import StreamingHist.AsOfEvent
    // rights (side 0) and lefts (side 1) for two users
    val all = Seq(
      AsOfEvent(1L, 10L, 0, 100L, Some(1.0)),  // batch 1
      AsOfEvent(1L, 20L, 1, 200L, None),
      AsOfEvent(2L, 15L, 1, 201L, None),  // user 2: no right yet
      AsOfEvent(1L, 30L, 0, 101L, Some(2.0)),  // batch 2 (event-time monotone)
      AsOfEvent(1L, 35L, 1, 202L, None),  // matches the batch-2 right
      AsOfEvent(1L, 25L, 1, 203L, None),  // in-batch late left: batch-1 right
      AsOfEvent(2L, 40L, 1, 204L, None))  // still no right for user 2
    // batch execution equals the batch operator's semantics
    val batchOut = StreamingHist.streamingAsOf(all.toDS()).collect()
      .map(e => e.event_id -> ((e.match_id, e.match_us))).toMap
    assert(batchOut == Map(
      200L -> ((Some(100L), Some(10L))), 201L -> ((None, None)),
      202L -> ((Some(101L), Some(30L))), 203L -> ((Some(100L), Some(10L))),
      204L -> ((None, None))))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[AsOfEvent]
    val q2 = StreamingHist.streamingAsOf(input.toDS())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(all.take(3): _*)
      q2.processAllAvailable()
      input.addData(all.drop(3): _*)
      q2.processAllAvailable()
      val stream = spark.table("asof_stream").collect()
        .map(r => r.getLong(0) -> ((if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
      // identical to batch: rights arrive event-time-monotonically
      assert(stream == batchOut)
    } finally q2.stop()
  }

  test("streaming rate anomaly: deque state carries baselines across micro-batches") {
    import StreamingHist.{RateEvent, RateVerdict}
    val dayUs = 86400000000L
    // 8 quiet days (2 events, day 3 has 3) then a 40-event flood on day 8;
    // a day 9 probe event closes day 8 so its verdict can emit
    def mk(d: Int, n: Int) = (0 until n).map(j => RateEvent("click", d * dayUs + j))
    val days = (0 until 7).flatMap(d => mk(d, if (d == 3) 3 else 2)) ++
      mk(7, 40) ++ mk(8, 1)
    // batch execution with flushOpen == the batch operator row-for-row
    val fromStream = StreamingHist
      .streamingRateAnomaly(days.toDS(), 7, 2.0, flushOpen = true).collect()
    val ev = days.toDF("event_type", "us")
      .withColumn("event_time", timestamp_micros(col("us")))
    val fromBatch = graft.pipeline.Funnel.eventRateAnomaly(ev, 7, 2.0)
      .collect().map(r => RateVerdict(r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getBoolean(5))))
    assert(fromStream.toSet == fromBatch.toSet)
    assert(fromStream.exists(v => v.day == 7L && v.is_anomaly.contains(true)))

    // streamed in two micro-batches split MID-WINDOW: the closed-day
    // verdicts must equal the batch rows (state deque carries the
    // baseline over); the still-open day 8 stays silent (flushOpen=false)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RateEvent]
    val q = StreamingHist.streamingRateAnomaly(input.toDS(), 7, 2.0, flushOpen = false)
      .writeStream.format("memory").queryName("rate_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = days.splitAt(10) // split inside day 4
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("rate_stream").collect()
        .map(r => RateVerdict(r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getBoolean(5)))).toSet
      val closedBatch = fromBatch.filter(_.day < 8L).toSet // day 8 never closes
      assert(streamed == closedBatch)
    } finally q.stop()
  }

  test("streaming transitions: one-row state chains edges across micro-batches") {
    import StreamingHist.{TransEvent, TransPair}
    val all = Seq(
      TransEvent(1L, 10L, 100L, "view"),      // batch 1
      TransEvent(1L, 20L, 101L, "click"),
      TransEvent(2L, 15L, 200L, "view"),
      TransEvent(1L, 30L, 102L, "purchase"),  // batch 2: chains onto batch-1 click
      TransEvent(2L, 15L, 201L, "view"),      // same-us tie: id order decides
      TransEvent(2L, 40L, 202L, "click"))
    val expect = Set(
      TransPair(1L, 20L, 101L, "view", "click"),
      TransPair(1L, 30L, 102L, "click", "purchase"),
      TransPair(2L, 15L, 201L, "view", "view"),
      TransPair(2L, 40L, 202L, "view", "click"))
    // batch execution: one sorted pass per key == the batch lag window
    assert(StreamingHist.streamingTransitions(all.toDS()).collect().toSet == expect)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TransEvent]
    val q = StreamingHist.streamingTransitions(input.toDS())
      .writeStream.format("memory").queryName("trans_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(all.take(3): _*)
      q.processAllAvailable()
      input.addData(all.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("trans_stream").as[TransPair].collect().toSet
      // event-time-monotone arrival per key: streaming == batch
      assert(streamed == expect)
    } finally q.stop()
  }

  test("windowed distinct: dedup state spans micro-batches, streaming == batch on closed windows") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 1000, r.getLong(1))
    val events = Seq((ts(1), 7L), (ts(2), 7L), (ts(3), 8L), (ts(5), 8L),
      (ts(12), 7L), (ts(35), 9L), (ts(50), 10L)).toDF("event_time", "user_id")
    val batch = StreamingHist.windowedDistinct(
        events, "event_time", "user_id", "10 seconds")
      .collect().map(key).toSet
    assert(batch == Set((0L, 2L), (10L, 1L), (30L, 1L), (50L, 1L)))

    // streaming chains TWO stateful operators — watermarked dropDuplicates
    // on (window, key) feeding an additive count — so a key re-arriving in
    // a LATER micro-batch within the same open window must not recount
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val out = StreamingHist.windowedDistinct(
      input.toDF().toDF("event_time", "user_id"),
      "event_time", "user_id", "10 seconds")
    val q = out.writeStream.format("memory").queryName("wd_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 7L), (ts(2), 7L), (ts(3), 8L))
      q.processAllAvailable()
      // 8@5s duplicates a key first seen in the PREVIOUS batch: state hit
      input.addData((ts(5), 8L), (ts(12), 7L), (ts(35), 9L))
      q.processAllAvailable()
      input.addData((ts(50), 10L)) // watermark 40: closes [10,20) and [30,40)
      q.processAllAvailable()
      val streamed = spark.table("wd_stream").collect().map(key).toSet
      // append mode emits exactly the closed windows, each once, final counts
      assert(streamed == Set((0L, 2L), (10L, 1L), (30L, 1L)))
    } finally q.stop()
  }

  test("windowed novelty: first-ever-seen state spans micro-batches, streaming == batch") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 1000, r.getLong(1))
    val events = Seq((ts(1), 7L), (ts(2), 8L), (ts(3), 7L), (ts(12), 7L),
      (ts(13), 9L), (ts(35), 8L), (ts(50), 10L)).toDF("event_time", "user_id")
    // batch: exact min-window per key — 7,8 first in [0,10), 9 in [10,20),
    // nothing novel in [30,40) (8 is a repeat), 10 in [50,60)
    val batch = StreamingHist.windowedNovelty(
        events, "event_time", "user_id", "10 seconds")
      .collect().map(key).toSet
    assert(batch == Set((0L, 2L), (10L, 1L), (50L, 1L)))

    // streaming: the ever-seen dropDuplicates state must span
    // micro-batches — a key re-arriving in a LATER batch emits nothing
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val out = StreamingHist.windowedNovelty(
      input.toDF().toDF("event_time", "user_id"),
      "event_time", "user_id", "10 seconds")
    val q = out.writeStream.format("memory").queryName("wn_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 7L), (ts(2), 8L), (ts(3), 7L))
      q.processAllAvailable()
      // 7@12s is a cross-batch repeat: state hit, not novel; 9 is new
      input.addData((ts(12), 7L), (ts(13), 9L), (ts(35), 8L))
      q.processAllAvailable()
      input.addData((ts(50), 10L)) // watermark 40: closes [0,10) and [10,20)
      q.processAllAvailable()
      val streamed = spark.table("wn_stream").collect().map(key).toSet
      assert(streamed == Set((0L, 2L), (10L, 1L)))
    } finally q.stop()
  }

  test("bounded novelty: horizon semantics, watermark-evicted state, parity with exact on sub-horizon feeds") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 1000, r.getLong(1))
    // batch contract: novel iff no same-key occurrence within 10 s —
    // k7@35 is novel AGAIN (34 s since k7@1), unlike exact windowedNovelty
    val events = Seq((ts(1), 7L), (ts(2), 8L), (ts(5), 7L), (ts(30), 9L),
      (ts(31), 10L), (ts(35), 7L), (ts(60), 11L))
      .toDF("event_time", "user_id")
    val bounded = StreamingHist.windowedNoveltyBounded(
        events, "event_time", "user_id", "10 seconds", "10 seconds")
      .collect().map(key).toSet
    assert(bounded == Set((0L, 2L), (30L, 3L), (60L, 1L)), bounded)
    // exact form on the same feed does NOT re-count k7
    val exact = StreamingHist.windowedNovelty(
        events, "event_time", "user_id", "10 seconds")
      .collect().map(key).toSet
    assert(exact == Set((0L, 2L), (30L, 2L), (60L, 1L)), exact)

    // streaming: sub-horizon repeats suppressed across micro-batches;
    // state EVICTED once the watermark passes ts+horizon, after which
    // the key counts novel again — the capacity bound in action
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val out = StreamingHist.windowedNoveltyBounded(
      input.toDF().toDF("event_time", "user_id"),
      "event_time", "user_id", "10 seconds", "10 seconds")
    val q = out.writeStream.format("memory").queryName("wnb_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 7L), (ts(2), 8L))
      q.processAllAvailable()
      // k7@5 repeats within horizon in a LATER batch: state must carry
      input.addData((ts(5), 7L))
      q.processAllAvailable()
      // advance the watermark past k7's expiry (1+10) so its state drops
      input.addData((ts(30), 9L))
      q.processAllAvailable()
      input.addData((ts(31), 10L))
      q.processAllAvailable()
      // k7@35: state evicted -> novel again
      input.addData((ts(35), 7L))
      q.processAllAvailable()
      input.addData((ts(60), 11L)) // watermark 50: closes [0,10) and [30,40)
      q.processAllAvailable()
      val streamed = spark.table("wnb_stream").collect().map(key).toSet
      assert(streamed == Set((0L, 2L), (30L, 3L)), streamed)
    } finally q.stop()
  }

  test("bounded novelty: chained repeats — the documented TWO-SIDED streaming slack") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 1000, r.getLong(1))
    // k7 repeats every 8 s (< horizon 10 s): the batch contract (lag to
    // the previous OCCURRENCE) suppresses every repeat after the first
    val events = Seq((ts(1), 7L), (ts(9), 7L), (ts(17), 7L), (ts(25), 7L),
      (ts(33), 7L), (ts(60), 8L)).toDF("event_time", "user_id")
    val batch = StreamingHist.windowedNoveltyBounded(
        events, "event_time", "user_id", "10 seconds", "10 seconds")
      .collect().map(key).toSet
    assert(batch == Set((0L, 1L), (60L, 1L)), batch)
    // streaming state anchors at the first KEPT occurrence (k7@1,
    // expiry 11): repeats at 9/17/25 are suppressed (watermark still
    // below 11 when each arrives), the watermark then passes 11 and
    // EVICTS the anchor, and k7@33 is re-counted even though its gap
    // to the previous occurrence (8 s) is inside the horizon — the
    // re-count divergence the scaladoc documents; this pin goes red if
    // the semantics ever silently change in either direction
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val out = StreamingHist.windowedNoveltyBounded(
      input.toDF().toDF("event_time", "user_id"),
      "event_time", "user_id", "10 seconds", "10 seconds")
    val q = out.writeStream.format("memory").queryName("wnb_chain")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(Seq((ts(1), 7L)), Seq((ts(9), 7L)), Seq((ts(17), 7L)),
        Seq((ts(25), 7L)), Seq((ts(33), 7L)), Seq((ts(60), 8L)))
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
      // watermark 50 closes [0,10) and [30,40): k7 counted in BOTH —
      // streaming re-counts where batch suppresses (and batch's (60,1)
      // window is simply not closed yet)
      val streamed = spark.table("wnb_chain").collect().map(key).toSet
      assert(streamed == Set((0L, 1L), (30L, 1L)), streamed)
    } finally q.stop()
  }

  test("streaming near-dup TTL: matched-pair state is watermark-evicted; re-match re-emits") {
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq((1L, base1, "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String, Timestamp)]
    val out = graft.pipeline.Dedup.nearDupStream(
      input.toDF().toDF("doc_id", "text", "lang", "source", "event_time"),
      corpus, tsCol = Some("event_time"), matchTtl = "10 seconds")
    assert(out.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"))
    val q = out.writeStream.format("memory").queryName("ndttl_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((10L, base1 + " changed", "en", "s1", ts(1)))
      q.processAllAvailable()
      // same pair re-arrives WITHIN the horizon: swallowed by state
      input.addData((10L, base1 + " changed", "en", "s1", ts(5)))
      q.processAllAvailable()
      assert(spark.table("ndttl_stream").count() == 1L)
      // push the watermark past the pair's expiry (1+10), then re-match:
      // state was EVICTED, so the pair re-emits — the documented
      // bounded-state semantics (one row per match per horizon)
      input.addData((99L, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll " +
        "kk jj ii hh gg", "en", "s1", ts(40)))
      q.processAllAvailable()
      input.addData((98L, "q8 q7 q6 q5 q4 q3 q2 q1 q0 p9 p8 p7 p6 p5 p4 " +
        "p3 p2 p1 p0 r1", "en", "s1", ts(41)))
      q.processAllAvailable()
      input.addData((10L, base1 + " changed", "en", "s1", ts(45)))
      q.processAllAvailable()
      val rows = spark.table("ndttl_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.count(_ == (10L, 1L)) == 2, rows)
    } finally q.stop()
  }

  test("streaming profile: chained aggs match batch on closed windows") {
    def key(r: org.apache.spark.sql.Row) =
      ((r.getTimestamp(0).getTime / 1000L, r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))
    // window [0,10): u=(7,7,null), t=("a",null,"a"); [10,20): u=(8);
    // [30,40): u=(9) — NULLs count in n and n_null, not n_distinct
    val rows = Seq(
      (ts(1), java.lang.Long.valueOf(7L), "a"),
      (ts(2), java.lang.Long.valueOf(7L), null.asInstanceOf[String]),
      (ts(3), null.asInstanceOf[java.lang.Long], "a"),
      (ts(12), java.lang.Long.valueOf(8L), "b"),
      (ts(35), java.lang.Long.valueOf(9L), "b"))
    val batchDf = rows.toDF("event_time", "user_id", "event_type")
    val batch = graft.streaming.StreamingHist.streamingProfile(
        batchDf, "event_time", "10 seconds", Seq("user_id", "event_type"))
      .collect().map(key).toMap
    assert(batch((0L, "user_id")) == ((3L, 1L, 1L)))
    assert(batch((0L, "event_type")) == ((3L, 1L, 1L)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, java.lang.Long, String)]
    val out = graft.streaming.StreamingHist.streamingProfile(
      input.toDF().toDF("event_time", "user_id", "event_type"),
      "event_time", "10 seconds", Seq("user_id", "event_type"))
    val q = out.writeStream.format("memory").queryName("sp_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // the first window's rows split across TWO micro-batches: the
      // per-value counts must accumulate in state, not re-emit
      input.addData(rows(0), rows(1))
      q.processAllAvailable()
      input.addData(rows(2), rows(3), rows(4))
      q.processAllAvailable()
      input.addData((ts(60), java.lang.Long.valueOf(1L), "z")) // watermark 50
      q.processAllAvailable()
      val streamed = spark.table("sp_stream").collect().map(key).toMap
      val closed = batch.filter { case ((ws, _), _) => ws < 40L }
      assert(streamed == closed, s"streamed=$streamed closed=$closed")
    } finally q.stop()
  }

  test("streaming rapid-fire: RAW-predecessor state spans micro-batches") {
    import StreamingHist.RfEvent
    def e(id: Long, sec: Long) = RfEvent(id, 1L, "click", sec * 1000000L, None)
    // full stream, gap 60s: 0s kept; 30s dropped (30<=60); 70s dropped
    // vs its RAW predecessor 30s (40<=60) even though 70-0 > 60;
    // 200s kept (130>60). The other key's stream is independent.
    val all = Seq(e(1, 0), e(2, 30), e(3, 70), e(4, 200),
      RfEvent(9L, 2L, "view", 5L * 1000000L, Some(1.0)))
    val expect = Set(1L, 4L, 9L)
    assert(StreamingHist.streamingRapidFire(all.toDS(), 60L)
      .collect().map(_.event_id).toSet == expect)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RfEvent]
    val q = StreamingHist.streamingRapidFire(input.toDS(), 60L)
      .writeStream.format("memory").queryName("rf_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(e(1, 0), e(2, 30))
      q.processAllAvailable()
      // 70s arrives in a LATER batch: state must carry the RAW
      // predecessor (30s) across the boundary and drop it; an
      // out-of-order event older than the state (10s) is skipped
      input.addData(e(3, 70), e(8, 10), e(4, 200),
        RfEvent(9L, 2L, "view", 5L * 1000000L, Some(1.0)))
      q.processAllAvailable()
      val streamed = spark.table("rf_stream").as[RfEvent]
        .collect().map(_.event_id).toSet
      assert(streamed == expect)
    } finally q.stop()
  }

  test("streaming rate limit: counter state spans micro-batches; day resets quota") {
    import StreamingHist.{RlEvent, RlKept}
    val day = 86400000000L
    def e(id: Long, us: Long) = RlEvent(id, 1L, us)
    val all = Seq(e(1, 10), e(2, 20), e(3, 30), e(4, day + 5),
      RlEvent(9L, 2L, 15L))
    // n=2: u1 day0 keeps ids 1,2 (3 over quota); day1 resets; u2 independent
    assert(StreamingHist.streamingRateLimit(all.toDS(), 2)
      .collect().map(k => (k.user_id, k.day, k.event_id, k.rn)).toSet
      == Set((1L, 0L, 1L, 1), (1L, 0L, 2L, 2), (1L, 1L, 4L, 1),
        (2L, 0L, 9L, 1)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RlEvent]
    val q = StreamingHist.streamingRateLimit(input.toDS(), 2)
      .writeStream.format("memory").queryName("rl_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(e(1, 10), e(2, 20))
      q.processAllAvailable()
      // id3 arrives in a LATER batch: the counter must carry across the
      // boundary and reject it; an out-of-order event older than the
      // state (us 5) is skipped, not retro-ranked; day+5 re-opens at rn 1
      input.addData(e(3, 30), e(0, 5), e(4, day + 5), RlEvent(9L, 2L, 15L))
      q.processAllAvailable()
      val streamed = spark.table("rl_stream").as[RlKept]
        .collect().map(k => (k.user_id, k.event_id, k.rn)).toSet
      assert(streamed == Set((1L, 1L, 1), (1L, 2L, 2), (1L, 4L, 1), (2L, 9L, 1)))
    } finally q.stop()
  }

  test("streaming interval join: pairs form across micro-batches via join state") {
    import StreamingSpec.Ev
    def ev(u: Long, id: Long, sec: Long) =
      Ev(u, id, new java.sql.Timestamp(sec * 1000L))
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[Ev]
    val rIn = MemoryStream[Ev]
    val q = StreamingHist.streamingIntervalJoin(
      lIn.toDF(), rIn.toDF(), tolUs = 100L * 1000000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("ij_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // left arrives first; its matching right lands in a LATER batch —
      // the buffered left row must still pair (join state carry)
      lIn.addData(ev(1, 1, 100), ev(1, 2, 500))
      q.processAllAvailable()
      rIn.addData(ev(1, 11, 150), ev(1, 12, 560), ev(2, 13, 150))
      q.processAllAvailable()
      val got = spark.table("ij_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // |dt| <= 100 s pairs only; user 2's right has no left: absent
      assert(got == Set((1L, 1L, 11L, 50000000L), (1L, 2L, 12L, 60000000L)))
      // batch execution of the same operator = the plain range join
      val lB = Seq(ev(1, 1, 100), ev(1, 2, 500)).toDF()
      val rB = Seq(ev(1, 11, 150), ev(1, 12, 560), ev(2, 13, 150)).toDF()
      val batch = StreamingHist.streamingIntervalJoin(lB, rB, 100L * 1000000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("streaming funnel: chain advances across micro-batches; strict-after rule") {
    import StreamingHist.{FunnelEvent, FunnelRow}
    def e(u: Long, sec: Long, id: Long, t: String) =
      FunnelEvent(Some(u), sec * 1000000L, Some(id), Some(t))
    val steps = Seq("view", "click", "purchase")
    val all = Seq(
      e(1, 5, 1, "click"),  // before any view: can never fill a slot
      e(1, 10, 2, "view"), e(1, 10, 3, "click"), // same us as t1: strict >
      e(1, 20, 4, "click"), e(1, 30, 5, "purchase"),
      FunnelEvent(Some(2L), 5L * 1000000L, Some(6L), Some("other")))
    // batch execution: one final row per user
    val batch = StreamingHist.streamingFunnel(all.toDS(), steps)
      .collect().map(r => r.user_id.get -> ((r.ts, r.steps_completed))).toMap
    assert(batch(1L) ==
      ((Seq(Some(10000000L), Some(20000000L), Some(30000000L)), 3L)))
    assert(batch(2L) == ((Seq(None, None, None), 0L)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val q = StreamingHist.streamingFunnel(input.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(e(1, 5, 1, "click"), e(1, 10, 2, "view"),
        e(1, 10, 3, "click"), FunnelEvent(Some(2L), 5L * 1000000L, Some(6L), Some("other")))
      q.processAllAvailable()
      // t1 carried from the previous batch: click@20 must chain onto it
      input.addData(e(1, 20, 4, "click"), e(1, 30, 5, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("funnel_stream").as[FunnelRow].collect()
        .groupBy(_.user_id.get)
      // user 1 emitted once per batch (changed both times): the live feed
      assert(rows(1L).map(_.steps_completed).sorted.toSeq == Seq(1L, 3L))
      // user 2 emitted exactly once (first sight), never again
      assert(rows(2L).map(_.steps_completed).toSeq == Seq(0L))
    } finally q.stop()
  }

  test("windowed PSI: streaming equals batch BIT-exactly on closed windows") {
    val ax = Regular("value", 4, 0.0, 4.0)
    val ref = graft.operators.Histogram.histogram(
      Seq(0.5, 0.5, 1.5, 2.5, 3.5).toDF("value"), col("value"), ax)
    val events = Seq((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5), (ts(5), 2.5),
      (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5), (ts(50), 2.5))
      .toDF("event_time", "value")
    val batch = StreamingHist.windowedPsi(
        events, "event_time", col("value"), ax, "10 seconds", ref)
      .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(1))
      .toMap

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingHist.windowedPsi(
      input.toDF().toDF("event_time", "value"),
      "event_time", col("value"), ax, "10 seconds", ref)
    val q = out.writeStream.format("memory").queryName("psi_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // the [0,10) window's bins arrive split across TWO micro-batches:
      // the first stateful agg must merge them before the PSI fold sees
      // the window
      input.addData((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5))
      q.processAllAvailable()
      input.addData((ts(5), 2.5), (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5))
      q.processAllAvailable()
      input.addData((ts(50), 2.5)) // watermark 40: closes [0,10),[10,20),[30,40)
      q.processAllAvailable()
      val streamed = spark.table("psi_stream").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(1)).toMap
      assert(streamed.keySet == Set(0L, 10L, 30L))
      // bit-exact: the streaming static-label fold and the batch
      // full-outer fold differ only by inserted +0.0 terms
      streamed.foreach { case (w, p) => assert(p == batch(w), s"window $w") }
    } finally q.stop()
  }

  test("windowed EMD: streaming equals batch BIT-exactly on closed windows") {
    val ax = Regular("value", 4, 0.0, 4.0)
    val ref = graft.operators.Histogram.histogram(
      Seq(0.5, 0.5, 1.5, 2.5, 3.5).toDF("value"), col("value"), ax)
    val events = Seq((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5), (ts(5), 2.5),
      (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5), (ts(50), 2.5))
      .toDF("event_time", "value")
    val batch = StreamingHist.windowedEmd(
        events, "event_time", col("value"), ax, "10 seconds", ref)
      .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(1))
      .toMap
    // the [0,10) window (2x 0.5, 1x 1.5, 1x 2.5) vs ref (2,1,1,1): hand
    // CDF gaps |2/4-2/5|, |3/4-3/5|, |4/4-4/5|, |1-1|, width 1 each
    assert(batch(0L) == math.abs(2.0 / 4 - 2.0 / 5) +
      math.abs(3.0 / 4 - 3.0 / 5) + math.abs(4.0 / 4 - 4.0 / 5))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingHist.windowedEmd(
      input.toDF().toDF("event_time", "value"),
      "event_time", col("value"), ax, "10 seconds", ref)
    val q = out.writeStream.format("memory").queryName("emd_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // the [0,10) window's bins arrive split across TWO micro-batches:
      // the first stateful agg must merge them before the CDF fold sees
      // the window
      input.addData((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5))
      q.processAllAvailable()
      input.addData((ts(5), 2.5), (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5))
      q.processAllAvailable()
      input.addData((ts(50), 2.5)) // watermark 40: closes [0,10),[10,20),[30,40)
      q.processAllAvailable()
      val streamed = spark.table("emd_stream").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(1)).toMap
      assert(streamed.keySet == Set(0L, 10L, 30L))
      // bit-exact: the streaming running-cumulative fold reproduces the
      // batch DECIMAL-exact CDF values (integer counts are exact in
      // doubles) and folds the same term sequence
      streamed.foreach { case (w, p) => assert(p == batch(w), s"window $w") }
    } finally q.stop()
  }

  test("row-local mixed-lang: equals the batch operator row-for-row; streams statelessly") {
    val en = "the cat of the dog of a mouse"
    val de = "der hund und die katze und der vogel"
    val docsRows = Seq(
      (1L, s"$en $de"), (2L, en), (3L, "no markers at all just words"),
      (4L, null.asInstanceOf[String]),
      (5L, ((en + " ") * 3) + de) // 3:1 majority across 4 chunks
    )
    val docs = docsRows.toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4), r.getBoolean(5)))
    val batch = graft.pipeline.TextAnalysis.mixedLang(docs, window = 8)
      .collect().map(key).toMap
    val local = StreamingHist.mixedLangStream(docs, window = 8)
      .collect().map(key).toMap
    assert(local == batch)
    assert(local(5L) == ((4L, 2L, "en", 0.75, true)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = StreamingHist.mixedLangStream(
      input.toDF().toDF("doc_id", "text"), window = 8)
    val q = out.writeStream.format("memory").queryName("ml_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docsRows.filter(_._2 != null): _*)
      q.processAllAvailable()
      val streamed = spark.table("ml_stream").collect().map(key).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stateless streaming decontamination: stream rows equal batch rows") {
    val bench = Seq((100L, "the quick brown fox jumps over")).toDF("doc_id", "text")
    val docsRows = Seq(
      (1L, "xx the quick brown fox said yy"),   // contains a bench 4-gram
      (2L, "completely unrelated words here"),
      (3L, "short"),                            // < n tokens
      (4L, null.asInstanceOf[String])
    )
    val batch = StreamingHist.decontaminateStream(
        docsRows.toDF("doc_id", "text"), bench, n = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(batch == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
    // and it matches the batch operator's verdicts on the same input
    val exact = graft.pipeline.Dedup.decontaminate(
        docsRows.toDF("doc_id", "text"), bench, n = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(batch == exact)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val out = StreamingHist.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), bench, n = 4)
    val q = out.writeStream.format("memory").queryName("deco_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "xx the quick brown fox said yy"),
        (2L, "completely unrelated words here"))
      q.processAllAvailable()
      input.addData((3L, "short"))
      q.processAllAvailable()
      val streamed = spark.table("deco_stream").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      // stateless: every arriving doc is flagged identically to batch
      assert(streamed == Map(1L -> true, 2L -> false, 3L -> false))
    } finally q.stop()
  }

  test("streaming CUSUM: recursion state equals the batch prefix identity") {
    import StreamingHist.{CusumEvent, CusumPoint}
    def at(hour: Int, k: Int) =
      new java.sql.Timestamp(hour * 3600000L + k * 1000L)
    // the q270 spec trace with a FIXED baseline mu=7, k=1: counts
    // 4,4,10,10 -> S+: 0,0,2,4; S-: 2,4,0,0
    val evRows = (Seq.tabulate(4)(k => (1L, at(0, k))) ++
      Seq.tabulate(4)(k => (1L, at(1, k))) ++
      Seq.tabulate(10)(k => (1L, at(2, k))) ++
      Seq.tabulate(10)(k => (1L, at(3, k))))
    val batch = graft.pipeline.Funnel.cusumFrom(
        evRows.toDF("event_id", "event_time"), mu = 7.0, k = 1.0, h = 3.0)
      .collect().map(r => r.getTimestamp(0).getTime / 3600000L ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(batch(1L) == ((4L, 0.0, 4.0, true)))
    // streaming: the same events as CusumEvent(us, 1), split so hour 1
    // spans TWO micro-batches — the open count and both accumulators
    // must carry in state
    val all = evRows.map { case (_, ts) => CusumEvent(ts.getTime * 1000L, 1L) }
    val (b1, b2) = all.splitAt(6)
    val streamed = {
      // batch execution of the stateful operator (the q146 flushOpen
      // convention) over the full input equals batch rows
      StreamingHist.streamingCusum(all.toDS(), mu = 7.0, k = 1.0, h = 3.0,
          flushOpen = true)
        .collect().map(p => p.wh -> ((p.n, p.cusum_pos, p.cusum_neg, p.alarm))).toMap
    }
    assert(streamed == batch.map { case (k, v) => k -> v },
      s"streamed=$streamed batch=$batch")
    // cross-micro-batch state carry through a MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CusumEvent]
    val q = StreamingHist.streamingCusum(input.toDS(), mu = 7.0, k = 1.0,
        h = 3.0, flushOpen = false)
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val live = spark.table("cusum_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4)))).toMap
      // hours 0..2 closed (3 still open); every closed row == batch
      assert(live.keySet == Set(0L, 1L, 2L))
      live.foreach { case (w, v) => assert(v == batch(w), s"hour $w") }
    } finally q.stop()
  }

  test("windowed Gini: streaming long-fold equals batch decimal form bit-exactly") {
    def key(r: org.apache.spark.sql.Row) =
      r.getTimestamp(0).getTime / 1000 ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))
    // [0,10): a,a,a,b -> sorted x=(1,3): G=(2(1·1+2·3)−3·4)/(2·4)=2/8
    // [10,20): c alone -> G = 0 exactly
    val events = Seq((ts(1), "a"), (ts(2), "a"), (ts(3), "a"), (ts(5), "b"),
      (ts(12), "c"), (ts(13), "c"))
      .toDF("event_time", "event_type")
    val batch = StreamingHist.windowedGini(
        events, "event_time", "event_type", "10 seconds")
      .collect().map(key).toMap
    assert(batch(0L) == ((2L, 4L, 0.25)))
    assert(batch(10L) == ((1L, 2L, 0.0)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = StreamingHist.windowedGini(
      input.toDF().toDF("event_time", "event_type"),
      "event_time", "event_type", "10 seconds")
    val q = out.writeStream.format("memory").queryName("gini_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // the dominant key's count accrues across micro-batches
      input.addData((ts(1), "a"), (ts(5), "b"))
      q.processAllAvailable()
      input.addData((ts(2), "a"), (ts(3), "a"), (ts(12), "c"), (ts(13), "c"))
      q.processAllAvailable()
      input.addData((ts(50), "z")) // watermark 40: closes both windows
      q.processAllAvailable()
      val streamed = spark.table("gini_stream").collect().map(key).toMap
      assert(streamed == batch.filter { case (w, _) => w < 40L },
        s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming near-dup vs static corpus: matches == batch; re-arrival doesn't re-emit") {
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val base2 = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val corpus = Seq((1L, base1, "en", "s1"), (2L, base2, "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val streamRows = Seq(
      (10L, base1 + " changed", "en", "s1"),  // near-dup of 1
      (11L, "totally different words with no overlap at all here " +
        "whatsoever in any shingle of this document text body", "en", "s1"),
      (12L, base2 + " changed", "en", "s1")   // near-dup of 2
    )
    val batch = graft.pipeline.Dedup.nearDupStream(
        streamRows.toDF("doc_id", "text", "lang", "source"), corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == Set((10L, 1L), (12L, 2L)), batch)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String)]
    val out = graft.pipeline.Dedup.nearDupStream(
      input.toDF().toDF("doc_id", "text", "lang", "source"), corpus)
    val q = out.writeStream.format("memory").queryName("nd_stream")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData((10L, base1 + " changed", "en", "s1"),
        (11L, streamRows(1)._2, "en", "s1"))
      q.processAllAvailable()
      // doc 10 re-arrives: the (doc_a, doc_b) dedup state must swallow it
      input.addData((12L, base2 + " changed", "en", "s1"),
        (10L, base1 + " changed", "en", "s1"))
      q.processAllAvailable()
      val streamed = spark.table("nd_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(streamed.length == streamed.distinct.length, "re-emit detected")
      assert(streamed.toSet == batch)
    } finally q.stop()
  }

  test("windowed JS: streaming equals batch BIT-exactly on closed windows") {
    val ax = Regular("value", 4, 0.0, 4.0)
    val ref = graft.operators.Histogram.histogram(
      Seq(0.5, 0.5, 1.5, 2.5, 3.5).toDF("value"), col("value"), ax)
    val events = Seq((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5), (ts(5), 2.5),
      (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5), (ts(50), 2.5))
      .toDF("event_time", "value")
    val batch = StreamingHist.windowedJs(
        events, "event_time", col("value"), ax, "10 seconds", ref)
      .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(1))
      .toMap
    // hand check [0,10): p=(2,1,1,0)/4, q=(2,1,1,1)/5, the 0·ln0-free
    // JS term per bin with the 1e-9-quantized ln, folded left, /2
    def qln(x: Double): Double = math.floor(math.log(x) * 1.0e9) / 1.0e9
    val p = Seq(2.0, 1.0, 1.0, 0.0).map(_ / 4)
    val q0 = Seq(2.0, 1.0, 1.0, 1.0).map(_ / 5)
    val hand = p.lazyZip(q0).map { (pp, qq) =>
      val m = (pp + qq) / 2.0
      (if (pp > 0.0) pp * qln(pp / m) else 0.0) +
        (if (qq > 0.0) qq * qln(qq / m) else 0.0)
    }
    assert(batch(0L) == ((((0.0 + hand(0)) + hand(1)) + hand(2)) + hand(3)) / 2.0)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingHist.windowedJs(
      input.toDF().toDF("event_time", "value"),
      "event_time", col("value"), ax, "10 seconds", ref)
    val q = out.writeStream.format("memory").queryName("js_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5))
      q.processAllAvailable()
      input.addData((ts(5), 2.5), (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5))
      q.processAllAvailable()
      input.addData((ts(50), 2.5)) // watermark 40: closes [0,10),[10,20),[30,40)
      q.processAllAvailable()
      val streamed = spark.table("js_stream").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(1)).toMap
      assert(streamed.keySet == Set(0L, 10L, 30L))
      streamed.foreach { case (w, v) => assert(v == batch(w), s"window $w") }
    } finally q.stop()
  }

  test("windowed Hellinger: streaming equals batch BIT-exactly on closed windows") {
    val ax = Regular("value", 4, 0.0, 4.0)
    val ref = graft.operators.Histogram.histogram(
      Seq(0.5, 0.5, 1.5, 2.5, 3.5).toDF("value"), col("value"), ax)
    val events = Seq((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5), (ts(5), 2.5),
      (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5), (ts(50), 2.5))
      .toDF("event_time", "value")
    val batch = StreamingHist.windowedHellinger(
        events, "event_time", col("value"), ax, "10 seconds", ref)
      .collect().map(r => r.getTimestamp(0).getTime / 1000 ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    // [0,10): (2,1,1,0)/4 vs (2,1,1,1)/5: BC = Σ√(p·q) over the grid
    val hand = (Seq(2.0, 1.0, 1.0, 0.0).map(_ / 4), Seq(2.0, 1.0, 1.0, 1.0).map(_ / 5))
      .zipped.map((p, q) => math.sqrt(p * q))
    assert(batch(0L)._1 == (((0.0 + hand(0)) + hand(1)) + hand(2)) + hand(3))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingHist.windowedHellinger(
      input.toDF().toDF("event_time", "value"),
      "event_time", col("value"), ax, "10 seconds", ref)
    val q = out.writeStream.format("memory").queryName("hel_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5))
      q.processAllAvailable()
      input.addData((ts(5), 2.5), (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5))
      q.processAllAvailable()
      input.addData((ts(50), 2.5)) // watermark 40: closes [0,10),[10,20),[30,40)
      q.processAllAvailable()
      val streamed = spark.table("hel_stream").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 ->
          ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(streamed.keySet == Set(0L, 10L, 30L))
      streamed.foreach { case (w, p) => assert(p == batch(w), s"window $w") }
    } finally q.stop()
  }

  test("windowed CvM: streaming equals batch BIT-exactly on closed windows") {
    val ax = Regular("value", 4, 0.0, 4.0)
    val ref = graft.operators.Histogram.histogram(
      Seq(0.5, 0.5, 1.5, 2.5, 3.5).toDF("value"), col("value"), ax)
    val events = Seq((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5), (ts(5), 2.5),
      (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5), (ts(50), 2.5))
      .toDF("event_time", "value")
    val batch = StreamingHist.windowedCvm(
        events, "event_time", col("value"), ax, "10 seconds", ref)
      .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(1))
      .toMap
    // [0,10): (2,1,1,0)/4 vs ref (2,1,1,1)/5 — Σ over all four bins of
    // the squared CDF gaps (KS sees only the largest)
    val hand = Seq(2.0 / 4 - 2.0 / 5, 3.0 / 4 - 3.0 / 5,
      4.0 / 4 - 4.0 / 5, 1.0 - 1.0).map(g => g * g)
    assert(batch(0L) == ((0.0 + hand(0)) + hand(1) + hand(2)) + hand(3))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingHist.windowedCvm(
      input.toDF().toDF("event_time", "value"),
      "event_time", col("value"), ax, "10 seconds", ref)
    val q = out.writeStream.format("memory").queryName("cvm_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5))
      q.processAllAvailable()
      input.addData((ts(5), 2.5), (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5))
      q.processAllAvailable()
      input.addData((ts(50), 2.5)) // watermark 40: closes [0,10),[10,20),[30,40)
      q.processAllAvailable()
      val streamed = spark.table("cvm_stream").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(1)).toMap
      assert(streamed.keySet == Set(0L, 10L, 30L))
      streamed.foreach { case (w, p) => assert(p == batch(w), s"window $w") }
    } finally q.stop()
  }

  test("windowed ECE: streaming equals batch BIT-exactly; hand window checks out") {
    val events = Seq(
      (ts(1), 0.05, true), (ts(2), 0.05, false), (ts(3), 0.05, false),
      (ts(5), 0.95, true), (ts(7), 0.95, true), (ts(8), 0.95, false),
      (ts(12), 0.55, true), (ts(35), 0.25, false), (ts(50), 0.75, true)
    ).toDF("event_time", "score", "y")
    val batch = StreamingHist.windowedEce(
        events, "event_time", col("score"), col("y"), "10 seconds")
      .collect()
      .map(r => r.getTimestamp(0).getTime / 1000 ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    // [0,10): bin0 (3 rows, 1 pos, conf .05) + bin9 (3 rows, 2 pos,
    // conf .95); ece = 3/6*|conf0 - 1/3| + 3/6*|conf9 - 2/3|
    val conf0 = 0.15 / 3.0 // decimal-exact sum then one division
    val conf9 = (0.95 * 3) / 3.0
    val hand = 3.0 / 6.0 * math.abs(conf0 - 1.0 / 3.0) +
      3.0 / 6.0 * math.abs(conf9 - 2.0 / 3.0)
    assert(batch(0L)._1 == 6L && math.abs(batch(0L)._2 - hand) < 1e-15)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double, Boolean)]
    val out = StreamingHist.windowedEce(
      input.toDF().toDF("event_time", "score", "y"),
      "event_time", col("score"), col("y"), "10 seconds")
    val q = out.writeStream.format("memory").queryName("ece_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 0.05, true), (ts(2), 0.05, false),
        (ts(3), 0.05, false), (ts(5), 0.95, true))
      q.processAllAvailable()
      input.addData((ts(7), 0.95, true), (ts(8), 0.95, false),
        (ts(12), 0.55, true), (ts(35), 0.25, false))
      q.processAllAvailable()
      input.addData((ts(50), 0.75, true)) // closes [0,10),[10,20),[30,40)
      q.processAllAvailable()
      val streamed = spark.table("ece_stream").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 ->
          ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed.keySet == Set(0L, 10L, 30L))
      streamed.foreach { case (w, p) => assert(p == batch(w), s"window $w") }
    } finally q.stop()
  }

  test("windowed AUC: streaming equals batch BIT-exactly; hand window checks out") {
    val events = Seq(
      // [0,10): pos at .8,.9, neg at .1,.2 -> perfectly separated
      (ts(1), 0.8, true), (ts(2), 0.9, true), (ts(3), 0.1, false),
      (ts(5), 0.2, false),
      // [10,20): one of each, inverted -> auc 0
      (ts(12), 0.1, true), (ts(14), 0.9, false),
      // [30,40): a pure same-bin tie -> midrank 1/2
      (ts(35), 0.5, true), (ts(36), 0.5, false),
      (ts(70), 0.9, true)
    ).toDF("event_time", "score", "y")
    val batch = StreamingHist.windowedAuc(
        events, "event_time", col("score"), col("y"), "10 seconds")
      .collect()
      .map(r => r.getTimestamp(0).getTime / 1000 ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    assert(batch(0L) == ((2L, 2L, 1.0)))
    assert(batch(10L) == ((1L, 1L, 0.0)))
    assert(batch(30L) == ((1L, 1L, 0.5)))
    assert(batch(70L) == ((1L, 0L, -1.0))) // one-class window: NULL
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double, Boolean)]
    val out = StreamingHist.windowedAuc(
      input.toDF().toDF("event_time", "score", "y"),
      "event_time", col("score"), col("y"), "10 seconds")
    val q = out.writeStream.format("memory").queryName("auc_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 0.8, true), (ts(2), 0.9, true))
      q.processAllAvailable()
      input.addData((ts(3), 0.1, false), (ts(5), 0.2, false),
        (ts(12), 0.1, true), (ts(14), 0.9, false), (ts(35), 0.5, true))
      q.processAllAvailable()
      input.addData((ts(36), 0.5, false), (ts(70), 0.9, true))
      q.processAllAvailable()
      val streamed = spark.table("auc_stream").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 ->
          ((r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
      assert(streamed.keySet == Set(0L, 10L, 30L))
      streamed.foreach { case (w, p) => assert(p == batch(w), s"window $w") }
    } finally q.stop()
  }

  test("windowed Benford: streaming equals batch BIT-exactly on closed windows") {
    val events = Seq(
      (ts(1), 1.23), (ts(2), 1.99), (ts(3), 2.50), (ts(5), 9.01),
      (ts(12), 3.30), (ts(35), 1.11), (ts(50), 7.77)
    ).toDF("event_time", "value")
    val batch = StreamingHist.windowedBenford(
        events, "event_time", "value", "10 seconds")
      .collect()
      .map(r => r.getTimestamp(0).getTime / 1000 ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(batch(0L)._1 == 4L) // digits 1,1,2,9 in the first window
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingHist.windowedBenford(
      input.toDF().toDF("event_time", "value"),
      "event_time", "value", "10 seconds")
    val q = out.writeStream.format("memory").queryName("benford_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 1.23), (ts(2), 1.99))
      q.processAllAvailable()
      input.addData((ts(3), 2.50), (ts(5), 9.01), (ts(12), 3.30), (ts(35), 1.11))
      q.processAllAvailable()
      input.addData((ts(50), 7.77)) // closes [0,10),[10,20),[30,40)
      q.processAllAvailable()
      val streamed = spark.table("benford_stream").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 ->
          ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed.keySet == Set(0L, 10L, 30L))
      streamed.foreach { case (w, p) => assert(p == batch(w), s"window $w") }
    } finally q.stop()
  }

  test("windowed Benford: leading-digit-0 rows (v < 0.005) don't inflate n") {
    // 0.001 rounds to integer 0 -> digit 0: outside the 1-9 grid, so it
    // must not count toward the n the chi-square expectations scale by
    // (the batch audit's dense-grid convention)
    val events = Seq(
      (ts(1), 1.23), (ts(2), 0.001), (ts(3), 2.50), (ts(4), 0.004)
    ).toDF("event_time", "value")
    val clean = Seq((ts(1), 1.23), (ts(3), 2.50))
      .toDF("event_time", "value")
    val withZeros = StreamingHist.windowedBenford(
        events, "event_time", "value", "10 seconds")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val without = StreamingHist.windowedBenford(
        clean, "event_time", "value", "10 seconds")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(withZeros.toSeq == without.toSeq)
    assert(withZeros.head._1 == 2L)
  }

  test("windowed KS: streaming equals batch BIT-exactly on closed windows") {
    val ax = Regular("value", 4, 0.0, 4.0)
    val ref = graft.operators.Histogram.histogram(
      Seq(0.5, 0.5, 1.5, 2.5, 3.5).toDF("value"), col("value"), ax)
    val events = Seq((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5), (ts(5), 2.5),
      (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5), (ts(50), 2.5))
      .toDF("event_time", "value")
    val batch = StreamingHist.windowedKs(
        events, "event_time", col("value"), ax, "10 seconds", ref)
      .collect().map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(1))
      .toMap
    // the [0,10) window (2x 0.5, 1x 1.5, 1x 2.5) vs ref (2,1,1,1): hand
    // CDF gaps |2/4-2/5|, |3/4-3/5|, |4/4-4/5|, |1-1| -> max = 0.2
    assert(batch(0L) == Seq(math.abs(2.0 / 4 - 2.0 / 5),
      math.abs(3.0 / 4 - 3.0 / 5), math.abs(4.0 / 4 - 4.0 / 5), 0.0).max)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingHist.windowedKs(
      input.toDF().toDF("event_time", "value"),
      "event_time", col("value"), ax, "10 seconds", ref)
    val q = out.writeStream.format("memory").queryName("ks_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // window bins arrive split across micro-batches: the first stateful
      // agg must merge them before the map-side gap MAX sees the window
      input.addData((ts(1), 0.5), (ts(2), 0.5), (ts(3), 1.5))
      q.processAllAvailable()
      input.addData((ts(5), 2.5), (ts(12), 3.5), (ts(14), 0.5), (ts(35), 1.5))
      q.processAllAvailable()
      input.addData((ts(50), 2.5)) // watermark 40: closes [0,10),[10,20),[30,40)
      q.processAllAvailable()
      val streamed = spark.table("ks_stream").collect()
        .map(r => r.getTimestamp(0).getTime / 1000 -> r.getDouble(1)).toMap
      assert(streamed.keySet == Set(0L, 10L, 30L))
      // bit-exact: integer counts are exact in doubles, each gap is the
      // identical IEEE division+subtraction, and MAX is order-free
      streamed.foreach { case (w, p) => assert(p == batch(w), s"window $w") }
    } finally q.stop()
  }

  test("windowed PULL: streaming equals batch per (window, bin); absent bins surface") {
    val ax = Regular("value", 4, 0.0, 4.0)
    val ref = graft.operators.Histogram.histogram(
      Seq(0.5, 0.5, 1.5, 2.5).toDF("value"), col("value"), ax) // bin3 empty
    val events = Seq((ts(1), 0.5), (ts(2), 0.5), (ts(3), 3.5),
      (ts(12), 1.5), (ts(50), 2.5)).toDF("event_time", "value")
    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 1000, r.getDouble(1))
    val batch = StreamingHist.windowedPull(
        events, "event_time", col("value"), ax, "10 seconds", ref)
      .collect().map(r => key(r) ->
        ((r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))).toMap
    // window [0,10): bins 0 (ca=2, cb=2 -> pull 0), 3 (ca=1, cb=0 -> +1),
    // and the DISAPPEARED ref bins 1, 2 (ca=0, cb=1 -> -1)
    assert(batch((0L, 0.0)) == ((2.0, 2.0, 0.0)))
    assert(batch((0L, 3.0)) == ((1.0, 0.0, 1.0)))
    assert(batch((0L, 1.0)) == ((0.0, 1.0, -1.0)))
    assert(batch((0L, 2.0)) == ((0.0, 1.0, -1.0)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingHist.windowedPull(
      input.toDF().toDF("event_time", "value"),
      "event_time", col("value"), ax, "10 seconds", ref)
    val q = out.writeStream.format("memory").queryName("pull_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 0.5), (ts(2), 0.5))
      q.processAllAvailable()
      input.addData((ts(3), 3.5), (ts(12), 1.5))
      q.processAllAvailable()
      input.addData((ts(50), 2.5)) // watermark 40: closes [0,10),[10,20)
      q.processAllAvailable()
      val streamed = spark.table("pull_stream").collect()
        .map(r => key(r) -> ((r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))).toMap
      // closed windows only; every (window, bin) row equals batch
      assert(streamed.keySet == batch.keySet.filter(_._1 < 20L))
      streamed.foreach { case (k, v) => assert(v == batch(k), s"at $k") }
    } finally q.stop()
  }

  test("live monitors: off-axis/empty references raise; windowedPull takes an empty one") {
    val ax = Regular("value", 4, 0.0, 4.0)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Double)].toDF().toDF("event_time", "value")
    def on(events: org.apache.spark.sql.DataFrame) = Seq[(String,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "windowedPsi" -> (StreamingHist.windowedPsi(events, "event_time", col("value"), ax,
        "10 seconds", _)),
      "windowedEmd" -> (StreamingHist.windowedEmd(events, "event_time", col("value"), ax,
        "10 seconds", _)),
      "windowedKs" -> (StreamingHist.windowedKs(events, "event_time", col("value"), ax,
        "10 seconds", _)),
      "windowedCvm" -> (StreamingHist.windowedCvm(events, "event_time", col("value"), ax,
        "10 seconds", _)),
      "windowedHellinger" -> (StreamingHist.windowedHellinger(events, "event_time",
        col("value"), ax, "10 seconds", _)),
      "windowedJs" -> (StreamingHist.windowedJs(events, "event_time", col("value"), ax,
        "10 seconds", _)))
    // a flow row is off the axis; an empty reference has no distribution
    val offAxis = Seq((0.0, 2.0), (Double.PositiveInfinity, 1.0)).toDF(ax.binsCol, "cnt")
    val empty = Seq.empty[(Double, Double)].toDF(ax.binsCol, "cnt")
    for ((name, monitor) <- on(stream); (ref, msg) <- Seq(
        offAxis -> "carries bins outside the axis", empty -> "reference histogram is empty")) {
      val e = intercept[IllegalArgumentException](monitor(ref))
      assert(e.getMessage.contains(msg), s"$name: ${e.getMessage}")
    }

    // windowedPull scores each occupied bin against an empty reference:
    // cnt_b = 0, pull = cnt_a / sqrt(cnt_a), streaming == batch
    def pull(events: org.apache.spark.sql.DataFrame) = StreamingHist.windowedPull(
      events, "event_time", col("value"), ax, "10 seconds", empty)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getTimestamp(0).getTime / 1000, r.getDouble(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val batch = rows(pull(Seq((ts(1), 0.5), (ts(2), 0.5), (ts(3), 3.5), (ts(50), 2.5))
      .toDF("event_time", "value")))
    assert(batch == Map((0L, 0.0) -> ((2.0, 0.0, 2.0 / math.sqrt(2.0))),
      (0L, 3.0) -> ((1.0, 0.0, 1.0)), (50L, 2.0) -> ((1.0, 0.0, 1.0))))
    val input = MemoryStream[(Timestamp, Double)]
    val q = pull(input.toDF().toDF("event_time", "value")).writeStream.format("memory")
      .queryName("pull_empty_ref").outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts(1), 0.5), (ts(2), 0.5), (ts(3), 3.5))
      q.processAllAvailable()
      input.addData((ts(50), 2.5)) // watermark 40: closes [0,10)
      q.processAllAvailable()
      assert(rows(spark.table("pull_empty_ref")) == batch.filter(_._1._1 < 40L))
    } finally q.stop()
  }

  test("rate-limit state TTL: quiet-day eviction changes no emitted rows and releases state") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingHist.{RlEvent, RlKept}
    val input = MemoryStream[RlEvent]
    val out = StreamingHist.streamingRateLimit(input.toDS(), n = 2,
      stateTtl = Some("5 seconds"))
    val q = out.writeStream.format("memory").queryName("rl_ttl_stream")
      .outputMode(OutputMode.Append()).start()
    def awaitEv(id: Long, deadlineMs: Long = 30000): Map[Long, Int] = {
      val t0 = System.currentTimeMillis()
      var rows = Map.empty[Long, Int]
      while (!rows.contains(id)) {
        assert(System.currentTimeMillis() - t0 < deadlineMs,
          s"event $id not in sink after ${deadlineMs} ms (got $rows)")
        Thread.sleep(50)
        rows = spark.table("rl_ttl_stream").as[RlKept].collect()
          .map(v => v.event_id -> v.rn).toMap
      }
      rows
    }
    try {
      // day 0, user 1: quota 2 — events 1, 2 admitted, 3 over quota
      input.addData(RlEvent(1L, 1L, 1000L), RlEvent(2L, 1L, 2000L),
        RlEvent(3L, 1L, 3000L))
      awaitEv(2)
      Thread.sleep(10000) // (user 1, day 0) goes quiet past the horizon
      // a later batch fires the pending timeout; the eviction itself
      // must EMIT NOTHING — previously admitted rows are untouched
      input.addData(RlEvent(4L, 9L, 5000L))
      awaitEv(4)
      // state released: the same (user, day) re-opens with a FRESH
      // quota (rn restarts at 1) — proving removal actually happened;
      // the documented post-eviction-straggler staleness
      input.addData(RlEvent(5L, 1L, 6000L))
      val rows = awaitEv(5)
      assert(rows == Map(1L -> 1, 2L -> 2, 4L -> 1, 5L -> 1))
    } finally q.stop()
  }

  test("transitions state TTL: eviction emits nothing; next event starts a fresh chain") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingHist.{TransEvent, TransPair}
    val input = MemoryStream[TransEvent]
    val out = StreamingHist.streamingTransitions(input.toDS(),
      stateTtl = Some("5 seconds"))
    val q = out.writeStream.format("memory").queryName("tr_ttl_stream")
      .outputMode(OutputMode.Append()).start()
    def awaitN(k: Int, deadlineMs: Long = 30000): Seq[TransPair] = {
      val t0 = System.currentTimeMillis()
      var rows = Seq.empty[TransPair]
      while (rows.size < k) {
        assert(System.currentTimeMillis() - t0 < deadlineMs,
          s"sink has ${rows.size} rows (< $k) after ${deadlineMs} ms")
        Thread.sleep(50)
        rows = spark.table("tr_ttl_stream").as[TransPair].collect().toSeq
      }
      rows
    }
    try {
      input.addData(TransEvent(1L, 10L, 100L, "view"),
        TransEvent(1L, 20L, 101L, "click"))
      awaitN(1) // one view->click edge
      Thread.sleep(10000) // user 1 quiet past the horizon
      input.addData(TransEvent(9L, 30L, 900L, "view")) // fires the timeout
      // the eviction emitted nothing: still exactly one edge in the sink
      // (user 9's first event has no predecessor)
      val after = awaitN(1)
      assert(after.map(p => (p.user_id, p.from_type, p.to_type)) ==
        Seq((1L, "view", "click")))
      // predecessor forgotten: user 1's next event emits NO edge (fresh
      // chain), then the one after it chains normally
      input.addData(TransEvent(1L, 40L, 102L, "purchase"))
      input.addData(TransEvent(1L, 50L, 103L, "view"))
      val rows = awaitN(2)
      assert(rows.map(p => (p.user_id, p.from_type, p.to_type)).sortBy(_.toString) ==
        Seq((1L, "purchase", "view"), (1L, "view", "click")).sortBy(_.toString))
    } finally q.stop()
  }

  test("asof state TTL: eviction emits nothing; a re-opened key matches nothing until a fresh right") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingHist.{AsOfEvent, AsOfEnriched}
    val input = MemoryStream[AsOfEvent]
    val out = StreamingHist.streamingAsOf(input.toDS(),
      stateTtl = Some("5 seconds"))
    val q = out.writeStream.format("memory").queryName("asof_ttl_stream")
      .outputMode(OutputMode.Append()).start()
    def awaitN(k: Int, deadlineMs: Long = 30000): Seq[AsOfEnriched] = {
      val t0 = System.currentTimeMillis()
      var rows = Seq.empty[AsOfEnriched]
      while (rows.size < k) {
        assert(System.currentTimeMillis() - t0 < deadlineMs,
          s"sink has ${rows.size} rows (< $k) after ${deadlineMs} ms")
        Thread.sleep(50)
        rows = spark.table("asof_ttl_stream").as[AsOfEnriched].collect().toSeq
      }
      rows
    }
    try {
      input.addData(AsOfEvent(1L, 10L, 0, 100L, Some(1.5)),
        AsOfEvent(1L, 20L, 1, 101L, None))
      val first = awaitN(1)
      assert(first.head.match_id == Some(100L)) // right attached
      Thread.sleep(10000) // user 1 quiet past the horizon
      input.addData(AsOfEvent(9L, 25L, 0, 900L, None)) // fires the timeout
      // eviction emitted nothing: still exactly one enriched row (a
      // right event never emits; user 9's is state-only)
      assert(awaitN(1).map(_.event_id) == Seq(101L))
      // the last right is forgotten: user 1's next left matches NOTHING
      input.addData(AsOfEvent(1L, 30L, 1, 102L, None))
      val second = awaitN(2)
      assert(second.find(_.event_id == 102L).get.match_id.isEmpty)
      // a fresh right re-seeds the key and the following left matches it
      input.addData(AsOfEvent(1L, 40L, 0, 103L, Some(2.5)))
      input.addData(AsOfEvent(1L, 50L, 1, 104L, None))
      val third = awaitN(3)
      assert(third.find(_.event_id == 104L).get.match_id == Some(103L))
      assert(third.find(_.event_id == 104L).get.match_value == Some(2.5))
    } finally q.stop()
  }

  test("rate-anomaly state TTL: evicted type retrains from scratch, emitting nothing") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingHist.{RateEvent, RateVerdict}
    val dayUs = 86400000000L
    val input = MemoryStream[RateEvent]
    val out = StreamingHist.streamingRateAnomaly(input.toDS(), 2, 3.0,
      flushOpen = false, stateTtl = Some("5 seconds"))
    val q = out.writeStream.format("memory").queryName("rate_ttl_stream")
      .outputMode(OutputMode.Append()).start()
    def awaitN(k: Int, deadlineMs: Long = 30000): Seq[RateVerdict] = {
      val t0 = System.currentTimeMillis()
      var rows = Seq.empty[RateVerdict]
      while (rows.size < k) {
        assert(System.currentTimeMillis() - t0 < deadlineMs,
          s"sink has ${rows.size} rows (< $k) after ${deadlineMs} ms")
        Thread.sleep(50)
        rows = spark.table("rate_ttl_stream").as[RateVerdict].collect().toSeq
      }
      rows
    }
    try {
      // type "a": days 0 and 1 close (window still filling -> null stats);
      // day 2 stays open with closed=[1, 2] banked in state
      input.addData(RateEvent("a", 0L), RateEvent("a", dayUs),
        RateEvent("a", dayUs + 1L), RateEvent("a", 2L * dayUs))
      assert(awaitN(2).map(_.day).sorted == Seq(0L, 1L))
      Thread.sleep(10000) // type "a" quiet past the horizon
      input.addData(RateEvent("z", 0L)) // fires the timeout for "a"
      // the eviction emitted nothing: still two verdicts, both "a"
      assert(awaitN(2).map(v => (v.event_type, v.day)).sorted ==
        Seq(("a", 0L), ("a", 1L)))
      // baseline forgotten: the open day-2 count is gone, day 3 starts a
      // FRESH chain, so closing it yields the fills-from-scratch nulls
      // (surviving state would close day 2 first and give day 3 a full
      // 2-day window with real mean/std)
      input.addData(RateEvent("a", 3L * dayUs))
      input.addData(RateEvent("a", 4L * dayUs))
      val rows = awaitN(3).filter(_.event_type == "a")
      assert(!rows.exists(_.day == 2L)) // day 2 was never emitted
      val d3 = rows.find(_.day == 3L).get
      assert(d3.n == 1L && d3.mean.isEmpty && d3.std.isEmpty)
    } finally q.stop()
  }

  test("funnel state TTL: abandoned journey evicts; post-eviction event restarts the chain") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingHist.{FunnelEvent, FunnelRow}
    def e(u: Long, sec: Long, id: Long, t: String) =
      FunnelEvent(Some(u), sec * 1000000L, Some(id), Some(t))
    val steps = Seq("view", "click", "purchase")
    val input = MemoryStream[FunnelEvent]
    val out = StreamingHist.streamingFunnel(input.toDS(), steps,
      stateTtl = Some("5 seconds"))
    val q = out.writeStream.format("memory").queryName("fn_ttl_stream")
      .outputMode(OutputMode.Append()).start()
    def awaitRows(k: Int, deadlineMs: Long = 30000): Seq[FunnelRow] = {
      val t0 = System.currentTimeMillis()
      var rows = Seq.empty[FunnelRow]
      while (rows.size < k) {
        assert(System.currentTimeMillis() - t0 < deadlineMs,
          s"sink has ${rows.size} rows (< $k) after ${deadlineMs} ms")
        Thread.sleep(50)
        rows = spark.table("fn_ttl_stream").as[FunnelRow].collect().toSeq
      }
      rows
    }
    try {
      // user 1 reaches step 2 of 3, then abandons the journey
      input.addData(e(1, 10, 1, "view"), e(1, 20, 2, "click"))
      assert(awaitRows(1).map(_.steps_completed) == Seq(2L))
      Thread.sleep(10000) // user 1 quiet past the horizon
      input.addData(e(9, 30, 9, "view")) // a later batch fires the timeout
      // eviction emitted nothing beyond user 9's own first-sight row
      val mid = awaitRows(2)
      assert(mid.map(r => (r.user_id.get, r.steps_completed)).sortBy(_._1) ==
        Seq((1L, 2L), (9L, 1L)))
      // chain forgotten: user 1's purchase does NOT complete the old
      // journey — the restarted chain has no view/click, so the emitted
      // first-sight row shows 0 completed (with intact state it would be 3)
      input.addData(e(1, 40, 3, "purchase"))
      val rows = awaitRows(3).filter(_.user_id.contains(1L))
        .map(_.steps_completed).sorted
      assert(rows == Seq(0L, 2L))
    } finally q.stop()
  }

  // ---- restart recovery: kill a stateful query mid-feed, restart it
  // from its CHECKPOINT directory, and pin that post-restart output is
  // computed from RECOVERED state — the failure mode a real streaming
  // deployment hits first, which in-session parity tests never touch.
  // The memory sink does not support recovery, so output goes through
  // foreachBatch into a batchId-keyed map (a replayed batch overwrites
  // its own id — the exactly-once discipline a real idempotent sink
  // implements the same way).

  private def restartCollector(): (scala.collection.mutable.Map[Long,
      Seq[org.apache.spark.sql.Row]], (org.apache.spark.sql.DataFrame, Long) => Unit) = {
    val got = scala.collection.mutable.Map.empty[Long, Seq[org.apache.spark.sql.Row]]
    (got, (df: org.apache.spark.sql.DataFrame, id: Long) =>
      got.synchronized { got(id) = df.collect().toSeq })
  }

  test("restart recovery: the CORE windowed histogram's open-window counts survive restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_hist").toString
    val input = MemoryStream[(Timestamp, Double)]
    val ax = Regular("v", 2, 0.0, 2.0)
    val out = StreamingHist.windowedHistogram(
      input.toDF().toDF("ts", "v"), "ts", col("v"), ax, "10 seconds")
    val (got, sink) = restartCollector()
    def start() = out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).foreachBatch(sink).start()
    val q1 = start()
    try {
      // two events into the still-open [0,10) window, then stop
      input.addData((ts(1), 0.5), (ts(3), 1.5))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // one more event into the SAME window after restart, then close
      // it (watermark 20): the emitted bin counts must include the
      // pre-restart events — fresh state would close bin 0 at 1, not 2
      input.addData((ts(5), 0.7))
      q2.processAllAvailable()
      input.addData((ts(30), 0.5))
      q2.processAllAvailable()
      val closed = got.synchronized {
        got.toSeq.sortBy(_._1).flatMap(_._2)
          .map(r => (r.getTimestamp(0).getTime / 1000,
            r.getDouble(2), r.getDouble(3))).toSet
      }
      assert(closed == Set((0L, 0.0, 2.0), (0L, 1.0, 1.0)), closed)
    } finally q2.stop()
  }

  test("restart recovery: streamingDedup suppresses a cross-restart duplicate from checkpointed state") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_dedup").toString
    val input = MemoryStream[DocEvent]
    val out = StreamingHist.streamingDedup(input.toDS())
    val (got, sink) = restartCollector()
    def start() = out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .foreachBatch((ds: org.apache.spark.sql.Dataset[DedupVerdict],
        id: Long) => sink(ds.toDF(), id)).start()
    val q1 = start()
    try {
      input.addData(DocEvent(1, "h1"), DocEvent(2, "h2"))
      q1.processAllAvailable()
    } finally q1.stop()
    // arrives while the query is DOWN; consumed on restart from the
    // checkpointed offset
    input.addData(DocEvent(3, "h1"), DocEvent(4, "h3"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val verdicts = got.synchronized {
        got.toSeq.sortBy(_._1).flatMap(_._2)
          .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      }
      // doc 3 repeats h1 ACROSS the restart: first_seen=false only if
      // the hash's state was actually recovered from the checkpoint —
      // a fresh-state restart would re-admit it (true) and go red here
      assert(verdicts ==
        Map(1L -> true, 2L -> true, 3L -> false, 4L -> true), verdicts)
    } finally q2.stop()
  }

  test("restart recovery: streamingCusum carries the open hour AND the S accumulators across restart") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingHist.{CusumEvent, CusumPoint}
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_cusum").toString
    val hourUs = 3600000000L
    val input = MemoryStream[CusumEvent]
    val out = StreamingHist.streamingCusum(input.toDS(),
      mu = 2.0, k = 0.0, h = 0.5, flushOpen = false)
    val (got, sink) = restartCollector()
    def start() = out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .foreachBatch((ds: org.apache.spark.sql.Dataset[CusumPoint],
        id: Long) => sink(ds.toDF(), id)).start()
    val q1 = start()
    try {
      // hour0 cnt 5; the hour1 event closes hour0: S+ = 3.0, S- = 0
      input.addData(CusumEvent(0L, 5L), CusumEvent(hourUs, 1L))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // closes hour1 from RECOVERED state: open (hour1, cnt 1) and
      // S+ = 3e6 must both have survived the restart — fresh state
      // would emit NO hour1 row at all (nothing open), and lost
      // accumulators would close it at S+ = 0, not 2.0
      input.addData(CusumEvent(2 * hourUs, 2L))
      q2.processAllAvailable()
      // closes hour2: dq = 0 either side -> S+ stays 2.0, S- stays 1.0
      input.addData(CusumEvent(3 * hourUs, 2L))
      q2.processAllAvailable()
      val points = got.synchronized {
        got.toSeq.sortBy(_._1).flatMap(_._2)
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getDouble(3), r.getBoolean(4)))
      }.sortBy(_._1)
      assert(points == Seq(
        (0L, 5L, 3.0, 0.0, true),
        (1L, 1L, 2.0, 1.0, true),
        (2L, 2L, 2.0, 1.0, true)), points)
    } finally q2.stop()
  }

  test("restart recovery: bounded novelty's watermark + dedup state survive restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_wnb").toString
    val input = MemoryStream[(Timestamp, Long)]
    val out = StreamingHist.windowedNoveltyBounded(
      input.toDF().toDF("event_time", "user_id"),
      "event_time", "user_id", "10 seconds", "10 seconds")
    val (got, sink) = restartCollector()
    def start() = out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).foreachBatch(sink).start()
    val q1 = start()
    try {
      input.addData((ts(1), 7L), (ts(2), 8L))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // k7@5 repeats within the horizon ACROSS the restart: suppressed
      // only if dropDuplicatesWithinWatermark state was recovered — a
      // fresh-state restart would count it and close [0,10) at 3
      input.addData((ts(5), 7L))
      q2.processAllAvailable()
      input.addData((ts(60), 9L)) // watermark 50 closes [0,10)
      q2.processAllAvailable()
      val closed = got.synchronized {
        got.toSeq.sortBy(_._1).flatMap(_._2)
          .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1))).toSet
      }
      assert(closed == Set((0L, 2L)), closed)
    } finally q2.stop()
  }

  test("restart recovery: streamingAsOf's best-right struct survives restart") {
    import StreamingHist.{AsOfEvent, AsOfEnriched}
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_asof").toString
    val input = MemoryStream[AsOfEvent]
    val out = StreamingHist.streamingAsOf(input.toDS())
    val (got, sink) = restartCollector()
    def start() = out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .foreachBatch((ds: org.apache.spark.sql.Dataset[AsOfEnriched],
        id: Long) => sink(ds.toDF(), id)).start()
    val q1 = start()
    try {
      // only RIGHTS before the kill: user 1's best-right struct
      // (us 10, id 100, value 1.0) is pure state, nothing emitted yet
      input.addData(AsOfEvent(1L, 5L, 0, 99L, Some(0.5)),
        AsOfEvent(1L, 10L, 0, 100L, Some(1.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    // the left arrives while the query is DOWN; consumed on restart
    input.addData(AsOfEvent(1L, 20L, 1, 200L, None),
      AsOfEvent(2L, 20L, 1, 201L, None))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val matches = got.synchronized {
        got.toSeq.sortBy(_._1).flatMap(_._2)
          .map(r => r.getLong(0) ->
            ((if (r.isNullAt(3)) None else Some(r.getLong(3)),
              if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
      }
      // left 200 matches the PRE-restart right (100 @ us 10) only if the
      // one-row-per-key struct was recovered from the checkpoint — a
      // fresh-state restart would emit (None, None); user 2 never had a
      // right, so its None is the first-seen contract, not recovery
      assert(matches == Map(200L -> ((Some(100L), Some(10L))),
        201L -> ((None, None))), matches)
    } finally q2.stop()
  }

  test("restart recovery: windowedTopTerms' SpaceSaving summaries keep counting across restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_htt").toString
    val input = MemoryStream[(Timestamp, String)]
    val out = StreamingHist.windowedTopTerms(
      input.toDF().toDF("event_time", "term"),
      "event_time", col("term"), "10 seconds", k = 2, capacity = 8)
    val (got, sink) = restartCollector()
    def start() = out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Complete()).foreachBatch(sink).start()
    val q1 = start()
    try {
      // window [0,10): a=2, b=1 before the kill
      input.addData((ts(1), "a"), (ts(2), "a"), (ts(3), "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // two more b's into the SAME window after restart: the summary
      // must total b=3, a=2 — fresh state would rank b=2 alone and
      // never see "a" at all
      input.addData((ts(4), "b"), (ts(5), "b"))
      q2.processAllAvailable()
      val last = got.synchronized { got.toSeq.maxBy(_._1)._2 }
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(2),
          r.getLong(3), r.getInt(5))).toSet
      assert(last == Set((0L, "b", 3L, 1), (0L, "a", 2L, 2)), last)
    } finally q2.stop()
  }

  test("restart recovery: streamingIntervalJoin's buffered two-sided state survives restart") {
    import StreamingSpec.Ev
    def ev(u: Long, id: Long, sec: Long) =
      Ev(u, id, new java.sql.Timestamp(sec * 1000L))
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_ij").toString
    val lIn = MemoryStream[Ev]
    val rIn = MemoryStream[Ev]
    val out = StreamingHist.streamingIntervalJoin(
      lIn.toDF(), rIn.toDF(), tolUs = 100L * 1000000L, watermark = "10 minutes")
    val (got, sink) = restartCollector()
    def start() = out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).foreachBatch(sink).start()
    val q1 = start()
    try {
      // two lefts are BUFFERED in join state (no right can match yet)
      lIn.addData(ev(1, 1, 100), ev(1, 2, 500))
      q1.processAllAvailable()
    } finally q1.stop()
    // matching rights land while the query is DOWN
    rIn.addData(ev(1, 11, 150), ev(1, 12, 560), ev(2, 13, 150))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val pairs = got.synchronized {
        got.toSeq.sortBy(_._1).flatMap(_._2)
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet
      }
      // both pairs form only if the buffered left rows were recovered
      // from the checkpointed join state — fresh state holds no lefts
      // and emits NOTHING; user 2's right has no left either way
      assert(pairs == Set((1L, 1L, 11L, 50000000L),
        (1L, 2L, 12L, 60000000L)), pairs)
    } finally q2.stop()
  }
}

object StreamingSpec {
  case class Ev(user_id: Long, event_id: Long, event_time: java.sql.Timestamp)
}
