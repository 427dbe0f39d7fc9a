package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Watermark/window semantics and keyed custom state over MemoryStreams:
  * what gets finalized, what gets dropped, what state survives batches. */
class StreamingAnalyticsSpec extends SparkSpec {

  private def ts(h: Int, m: Int = 0): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-06-01 $h%02d:$m%02d:00")

  test("delayByWindow: windows finalize once the watermark passes, " +
    "too-late rows are dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val q = StreamingAnalytics.delayByWindow(
        in.toDF.toDF("event_time", "delay"),
        "event_time", "delay", windowLen = "1 hour", watermark = "1 hour")
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    try {
      // two rows in the 10:00 window
      in.addData(ts(10, 5) -> 4.0, ts(10, 35) -> 6.0)
      q.processAllAvailable()
      // nothing finalized yet (watermark = max event time - 1h = 9:35)
      assert(spark.table("win_agg").count() === 0L)

      // event at 12:30 pushes the watermark to 11:30 > 11:00 → the 10:00
      // window finalizes with the exact average
      in.addData(ts(12, 30) -> 1.0)
      q.processAllAvailable()
      val done = spark.table("win_agg")
        .select(col("window_start").cast("string"), col("avg_delay_min"),
          col("n_rows"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      assert(done.toSeq === Seq(("2024-06-01 10:00:00", 5.0, 2L)))

      // a straggler from 10:50 is behind the watermark → dropped, the
      // finalized window does NOT reopen
      in.addData(ts(10, 50) -> 100.0)
      q.processAllAvailable()
      assert(spark.table("win_agg").count() === 1L)
    } finally q.stop()
  }

  test("dedupStream drops re-deliveries within the watermark, across " +
    "micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val q = StreamingAnalytics.dedupStream(
        in.toDF.toDF("k", "event_time"), Seq("k"), "event_time", "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      in.addData("a" -> ts(10), "a" -> ts(10, 5), "b" -> ts(10))
      q.processAllAvailable()
      // re-delivery of "a" in a LATER batch, still inside the watermark
      in.addData("a" -> ts(10, 20), "c" -> ts(10))
      q.processAllAvailable()
      val got = spark.table("deduped").select("k")
        .as[String].collect().sorted.toSeq
      assert(got === Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("dedupStream state is BOUNDED by the watermark: a key re-arriving " +
    "after the horizon is re-admitted, not suppressed forever") {
    // the semantics that distinguish dropDuplicatesWithinWatermark from
    // an unbounded dropDuplicates — and the reason per-key state can be
    // evicted at all. A re-delivery guard only needs to remember a key
    // for the source's redelivery horizon; remembering it forever is an
    // unbounded-state leak at 100 TB/day rates.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val q = StreamingAnalytics.dedupStream(
        in.toDF.toDF("k", "event_time"), Seq("k"), "event_time", "1 hour")
      .writeStream.format("memory").queryName("dedup_evict")
      .outputMode("append").start()
    try {
      in.addData("a" -> ts(10))
      q.processAllAvailable()
      // advance the watermark way past 10:00 + 1h via a fresh key
      in.addData("z" -> ts(20))
      q.processAllAvailable()
      // "a" again, far beyond the horizon: its state was evicted, so the
      // row is a NEW observation and must pass through
      in.addData("a" -> ts(20, 5))
      q.processAllAvailable()
      val got = spark.table("dedup_evict").select("k")
        .as[String].collect().sorted.toSeq
      assert(got === Seq("a", "a", "z"))
    } finally q.stop()
  }

  test("stream-stream interval join: within-window pairs emit across " +
    "micro-batches as both sides arrive; a right row behind the joint " +
    "watermark is dropped, not joined") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(epoch: Long) = new java.sql.Timestamp(epoch * 1000L)
    val lin = MemoryStream[(String, java.sql.Timestamp, Long)]
    val rin = MemoryStream[(String, java.sql.Timestamp, Long)]
    val joined = StreamingAnalytics.intervalJoinStream(
      lin.toDF.toDF("k", "lt", "lid").withWatermark("lt", "0 seconds"),
      rin.toDF.toDF("k", "rt", "rid").withWatermark("rt", "0 seconds"),
      Seq("k"), "lt", "rt", beforeSec = 100L, afterSec = 100L)
      .select(col("lid"), col("rid"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    def pairs = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      lin.addData(("a", t(1000L), 1L)); rin.addData(("a", t(1050L), 10L))
      q.processAllAvailable()
      assert(pairs === Set((1L, 10L)))
      // the left row is still in join state — a later right arrival pairs
      rin.addData(("a", t(1090L), 11L))
      q.processAllAvailable()
      assert(pairs === Set((1L, 10L), (1L, 11L)))
      // advance both watermarks far past the interval...
      lin.addData(("z", t(10000L), 2L)); rin.addData(("z", t(10000L), 20L))
      q.processAllAvailable()
      // ...then a right row behind the watermark: dropped, no pair
      rin.addData(("a", t(1080L), 12L))
      q.processAllAvailable()
      assert(pairs === Set((1L, 10L), (1L, 11L), (2L, 20L)),
        s"late row joined or pair lost: $pairs")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: matched pairs emit " +
    "eagerly; an unmatched left row emits null-extended only after the " +
    "watermark passes its interval (and its state is evicted)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(epoch: Long) = new java.sql.Timestamp(epoch * 1000L)
    val lin = MemoryStream[(String, java.sql.Timestamp, Long)]
    val rin = MemoryStream[(String, java.sql.Timestamp, Long)]
    val joined = StreamingAnalytics.intervalJoinStreamOuter(
      lin.toDF.toDF("k", "lt", "lid").withWatermark("lt", "0 seconds"),
      rin.toDF.toDF("k", "rt", "rid").withWatermark("rt", "0 seconds"),
      Seq("k"), "lt", "rt", beforeSec = 100L, afterSec = 100L)
      .select(col("lid"), col("rid"))
    val q = joined.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    def rows = spark.table("ssj_outer").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    try {
      // left 1 matches; left 2 never will
      lin.addData(("a", t(1000L), 1L), ("b", t(1000L), 2L))
      rin.addData(("a", t(1050L), 10L))
      q.processAllAvailable()
      assert(rows === Set((1L, Some(10L))),
        s"unmatched left must NOT emit before the watermark: $rows")
      // advance both watermarks far past left 2's interval edge
      lin.addData(("z", t(10000L), 3L)); rin.addData(("z", t(10000L), 30L))
      q.processAllAvailable()
      assert(rows.contains((2L, None)),
        s"watermark passed, unmatched left must null-extend: $rows")
    } finally q.stop()
  }

  test("sessionizeStream: a sub-second watermark position does not split " +
    "a mergeable session — event times floor to seconds, so the seal " +
    "waits for the watermark to clear the WHOLE last mergeable second") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StreamingAnalytics.{SEvent, Session}
    val in = MemoryStream[SEvent]
    val q = StreamingAnalytics.sessionizeStream(in.toDS, gapSeconds = 100L)
      .writeStream.format("memory").queryName("subsec_sessions")
      .outputMode("append").start()
    try {
      // watermark lands MID-second at 1100.6s: A's open (1000,1000) has
      // deadline second end+gap = 1100, and an admissible event can still
      // floor into it — sealing now would split the session
      in.addData(SEvent("A", new java.sql.Timestamp(1000000L)),
        SEvent("B", new java.sql.Timestamp(1100600L)))
      q.processAllAvailable()
      // admissible (1100900 >= wm 1100600), floors to 1100 <= end+gap —
      // batch Sessionize would merge; the stream must too
      in.addData(SEvent("A", new java.sql.Timestamp(1100900L)))
      q.processAllAvailable()
      in.addData(SEvent("C", new java.sql.Timestamp(2000000L)))
      q.processAllAvailable()
      val aSessions = spark.table("subsec_sessions").as[Session]
        .collect().filter(_.key == "A").toSet
      assert(aSessions === Set(Session("A", 1000L, 1100L, 2L)),
        s"split or lost session: $aSessions")
    } finally q.stop()
  }

  test("sessionizeStream: sessions seal only once the watermark passes " +
    "their gap deadline; idle keys seal via event-time timeout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StreamingAnalytics.{SEvent, Session}
    def ev(key: String, epoch: Long) =
      SEvent(key, new java.sql.Timestamp(epoch * 1000L))
    val in = MemoryStream[SEvent]
    val q = StreamingAnalytics.sessionizeStream(in.toDS, gapSeconds = 100L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // one batch, key A: (1000, 1050) then a gap > 100 → (2000) opens
      // new. Sealing waits for the WATERMARK (the exact-parity contract:
      // an out-of-order arrival could still bridge the split), but the
      // data batch advances it to 2000 and the follow-up no-data
      // micro-batch fires the timeout — so processAllAvailable already
      // surfaces the sealed (1000, 1050); (2000, 2000) (deadline 2100)
      // stays open.
      in.addData(ev("A", 1000L), ev("A", 1050L), ev("A", 2000L))
      q.processAllAvailable()
      val afterBatch1 = spark.table("sessions").as[Session].collect().toSet
      assert(afterBatch1 === Set(Session("A", 1000L, 1050L, 2L)))

      // watermark reaches 5000: A's idle (2000, 2000) times out and seals
      in.addData(ev("B", 5000L))
      q.processAllAvailable()
      val all = spark.table("sessions").as[Session].collect().toSet
      assert(all.contains(Session("A", 2000L, 2000L, 1L)),
        s"timed-out session not emitted: $all")
    } finally q.stop()
  }

  test("sessionizeStream survives a late event behind the watermark " +
    "(timeout clamped, query does not crash)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StreamingAnalytics.{SEvent, Session}
    def ev(key: String, epoch: Long) =
      SEvent(key, new java.sql.Timestamp(epoch * 1000L))
    val in = MemoryStream[SEvent]
    val q = StreamingAnalytics.sessionizeStream(in.toDS, gapSeconds = 100L)
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      in.addData(ev("A", 1000L))
      q.processAllAvailable()
      in.addData(ev("B", 5000L)) // watermark jumps past A's deadline
      q.processAllAvailable()
      // LATE event for A at 1500 — behind the watermark. Spark's
      // watermark filter drops it before the stateful operator (and the
      // timeout clamp guards the query even if it didn't): no crash, no
      // phantom session.
      in.addData(ev("A", 1500L))
      q.processAllAvailable()
      in.addData(ev("B", 9000L)) // advances the watermark past B's deadline
      q.processAllAvailable()
      in.addData(ev("B", 9500L)) // next trigger fires B's timeout
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.toString)
      val sessions = spark.table("late_sessions").as[Session].collect().toSet
      assert(!sessions.exists(_.start_epoch == 1500L),
        s"late event leaked into a session: $sessions")
      // A's original and B's first session did close via their timeouts
      assert(sessions.contains(Session("A", 1000L, 1000L, 1L)))
      assert(sessions.contains(Session("B", 5000L, 5000L, 1L)))
    } finally q.stop()
  }

  test("sessionizeStream == batch Sessionize on the same events: " +
    "identical session sets across keys, batches, gap-boundary ties, and " +
    "equal timestamps") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StreamingAnalytics.{SEvent, Session}
    def ev(key: String, epoch: Long) =
      SEvent(key, new java.sql.Timestamp(epoch * 1000L))
    // batch 1 in-batch splits; batch 2 continues A's open session and
    // splits B's — all in event-time order (watermark 0)
    val batch1 = Seq(ev("A", 1000L), ev("A", 1000L), ev("A", 1050L),
      ev("A", 2000L), ev("B", 1500L), ev("B", 1600L), ev("B", 1800L))
    val batch2 = Seq(ev("A", 2050L), ev("B", 2500L))
    val gap = 100L

    val in = MemoryStream[SEvent]
    val q = StreamingAnalytics.sessionizeStream(in.toDS, gapSeconds = gap)
      .writeStream.format("memory").queryName("parity_sessions")
      .outputMode("append").start()
    val streamed = try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      in.addData(ev("Z", 100000L)) // watermark leaps past every deadline
      q.processAllAvailable()
      in.addData(ev("Z", 100001L)) // next trigger fires the timeouts
      q.processAllAvailable()
      spark.table("parity_sessions").as[Session].collect()
        .filterNot(_.key == "Z")
        .map(s => (s.key, s.start_epoch, s.end_epoch, s.n_events)).toSet
    } finally q.stop()

    // batch formulation over the SAME events, sessions derived from the
    // per-event session_seq (tie col: the epoch itself — equal-ts events
    // are interchangeable for session membership)
    val events = (batch1 ++ batch2)
      .map(e => (e.key, e.event_time.getTime / 1000))
      .toDF("key", "ts")
    val assigned = graft.operators.Sessionize.assignSessions(
      events, Seq("key"), "ts", "ts", gap)
    val batch = assigned.groupBy("key", "session_seq")
      .agg(min("ts").as("s"), max("ts").as("e"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(streamed === batch, s"stream=$streamed batch=$batch")
    assert(batch.size >= 5) // non-vacuous: multiple sessions per key
  }

  test("sessionizeStream parity holds for WITHIN-WATERMARK out-of-order " +
    "arrivals: backward start extension and too-early singleton emission " +
    "match the batch result") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StreamingAnalytics.{SEvent, Session}
    def ev(key: String, epoch: Long) =
      SEvent(key, new java.sql.Timestamp(epoch * 1000L))
    val gap = 100L
    val in = MemoryStream[SEvent]
    // generous watermark delay keeps the out-of-order batch-2 events alive
    val q = StreamingAnalytics.sessionizeStream(in.toDS, gapSeconds = gap,
        watermark = "1000 seconds")
      .writeStream.format("memory").queryName("ooo_sessions")
      .outputMode("append").start()
    val streamed = try {
      in.addData(ev("A", 1000L), ev("B", 1000L))
      q.processAllAvailable()
      // A: 950 is within gap of A's open-session start (1000) → extends
      // the session backward; B: 700 precedes 1000 by > gap → its own
      // already-closed singleton
      in.addData(ev("A", 950L), ev("B", 700L))
      q.processAllAvailable()
      in.addData(ev("Z", 100000L))
      q.processAllAvailable()
      in.addData(ev("Z", 100001L))
      q.processAllAvailable()
      spark.table("ooo_sessions").as[Session].collect()
        .filterNot(_.key == "Z")
        .map(s => (s.key, s.start_epoch, s.end_epoch, s.n_events)).toSet
    } finally q.stop()
    val events = Seq(("A", 1000L), ("B", 1000L), ("A", 950L), ("B", 700L))
      .toDF("key", "ts")
    val batch = graft.operators.Sessionize.assignSessions(
        events, Seq("key"), "ts", "ts", gap)
      .groupBy("key", "session_seq")
      .agg(min("ts").as("s"), max("ts").as("e"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(streamed === batch, s"stream=$streamed batch=$batch")
    assert(batch === Set(("A", 950L, 1000L, 2L), ("B", 700L, 700L, 1L),
      ("B", 1000L, 1000L, 1L)))
  }

  test("sessionizeStream parity: a later out-of-order event BRIDGES a " +
    "too-early event to the open session, and two too-early events within " +
    "gap of each other form ONE session — not eager singletons") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import StreamingAnalytics.{SEvent, Session}
    def ev(key: String, epoch: Long) =
      SEvent(key, new java.sql.Timestamp(epoch * 1000L))
    val gap = 100L
    val in = MemoryStream[SEvent]
    val q = StreamingAnalytics.sessionizeStream(in.toDS, gapSeconds = gap,
        watermark = "1000 seconds")
      .writeStream.format("memory").queryName("bridge_sessions")
      .outputMode("append").start()
    val streamed = try {
      in.addData(ev("A", 1000L), ev("B", 1000L))
      q.processAllAvailable()
      // A: 850 precedes 1000 by > gap (its own pending session), then 920
      // lands within gap of BOTH → all three must merge into (850, 1000).
      // B: 700 and 780 are each > gap before 1000 but within gap of each
      // other → one (700, 780) session plus the untouched (1000, 1000).
      in.addData(ev("A", 850L), ev("A", 920L), ev("B", 700L), ev("B", 780L))
      q.processAllAvailable()
      in.addData(ev("Z", 100000L))
      q.processAllAvailable()
      in.addData(ev("Z", 100001L))
      q.processAllAvailable()
      spark.table("bridge_sessions").as[Session].collect()
        .filterNot(_.key == "Z")
        .map(s => (s.key, s.start_epoch, s.end_epoch, s.n_events)).toSet
    } finally q.stop()
    val events = Seq(("A", 1000L), ("B", 1000L), ("A", 850L), ("A", 920L),
      ("B", 700L), ("B", 780L)).toDF("key", "ts")
    val batch = graft.operators.Sessionize.assignSessions(
        events, Seq("key"), "ts", "ts", gap)
      .groupBy("key", "session_seq")
      .agg(min("ts").as("s"), max("ts").as("e"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(streamed === batch, s"stream=$streamed batch=$batch")
    assert(batch === Set(("A", 850L, 1000L, 3L), ("B", 700L, 780L, 2L),
      ("B", 1000L, 1000L, 1L)))
  }

  test("the native text/signature kernels run unchanged inside Structured " +
    "Streaming micro-batches (stateless per-row expressions — the " +
    "streaming corpus-scrub path)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.text.TextAnalysis
    val in = MemoryStream[(Long, String)]
    val q = in.toDF.toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("tk"),
        TextAnalysis.ngramShingles(TextAnalysis.tokens(col("text")), 2).as("sg"),
        graft.dedup.Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("fp"),
        TextAnalysis.redactPii(col("text")).as("clean"))
      .writeStream.format("memory").queryName("kernel_stream")
      .outputMode("append").start()
    try {
      in.addData(1L -> "a b a", 2L -> "mail x@y.io now 1234567")
      q.processAllAvailable()
      val rows = spark.table("kernel_stream").orderBy("doc_id").collect()
      assert(rows(0).getSeq[String](1) === Seq("a", "b", "a"))
      assert(rows(0).getSeq[String](2) === Seq("a b", "b a"))
      // fingerprint matches the batch evaluation of the same kernel
      val batchFp = Seq("a b a").toDF("text")
        .select(graft.dedup.Dedup.simhash64(TextAnalysis.tokens(col("text"))))
        .head().getLong(0)
      assert(rows(0).getLong(3) === batchFp)
      assert(rows(1).getString(4) === "mail <EMAIL> now <NUM>")
    } finally q.stop()
  }

  test("lateStreaks: per-trip consecutive-late state survives batches and " +
    "resets on an on-time observation") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingAnalytics.Obs]
    val q = StreamingAnalytics.lateStreaks(in.toDS, lateThreshold = 5.0)
      .writeStream.format("memory").queryName("streaks")
      .outputMode("append").start()
    try {
      in.addData(
        StreamingAnalytics.Obs("T1", 100L, 10.0),  // late  → streak 1
        StreamingAnalytics.Obs("T1", 200L, 12.0),  // late  → streak 2
        StreamingAnalytics.Obs("T2", 150L, 1.0))   // on time → stays 0, no emit
      q.processAllAvailable()
      // next batch: state for T1 must carry the streak of 2 across batches
      in.addData(
        StreamingAnalytics.Obs("T1", 300L, 9.0),   // late  → streak 3
        StreamingAnalytics.Obs("T1", 400L, 0.0),   // on time → reset to 0
        StreamingAnalytics.Obs("T2", 250L, 7.0))   // late  → streak 1
      q.processAllAvailable()
      val got = spark.table("streaks")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === Set(
        ("T1", 100L, 1), ("T1", 200L, 2),
        ("T1", 300L, 3), ("T1", 400L, 0),
        ("T2", 250L, 1)))
    } finally q.stop()
  }

  test("ewmaStream: streaming-final EWMA equals the batch recursion over " +
    "the full ordered history — the one-double-per-key state carries the " +
    "recursion across micro-batches bit-exactly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[StreamingAnalytics.Obs]
    val q = StreamingAnalytics.ewmaStream(in.toDS)
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    // arbitrary (NON-dyadic) delays: the parity below must hold through
    // real double rounding, not only on exactly-representable inputs
    val history = Seq(
      ("T1", 100L, 3.7), ("T1", 200L, 11.1), ("T2", 100L, 0.3),
      ("T1", 300L, 5.9), ("T2", 250L, 8.8), ("T1", 400L, 2.2))
    try {
      // split mid-key so T1's recursion must cross the batch boundary
      in.addData(history.take(3).map(h =>
        StreamingAnalytics.Obs(h._1, h._2, h._3)): _*)
      q.processAllAvailable()
      in.addData(history.drop(3).map(h =>
        StreamingAnalytics.Obs(h._1, h._2, h._3)): _*)
      q.processAllAvailable()
      val got = spark.table("ewma_stream").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // in-memory batch reference: y0 = x0; y = (x + y)/2, per key in ts order
      val ref = history.groupBy(_._1).flatMap { case (k, h) =>
        h.sortBy(_._2).scanLeft(Option.empty[(Long, Double)]) {
          case (acc, (_, ts, x)) =>
            Some(ts -> acc.fold(x) { case (_, prev) => (x + prev) / 2.0 })
        }.flatten.map { case (ts, y) => (k, ts) -> y }
      }
      assert(got === ref)
    } finally q.stop()
  }

  test("ewmaStreamTws (transformWithState / StatefulProcessor): emissions " +
    "equal the flatMapGroupsWithState spelling and the batch recursion " +
    "bit-exactly across a mid-key batch boundary — the Spark 4 " +
    "arbitrary-state API carries the identical one-double state on the " +
    "RocksDB provider") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    val in = MemoryStream[StreamingAnalytics.Obs]
    val q = StreamingAnalytics.ewmaStreamTws(in.toDS)
      .writeStream.format("memory").queryName("ewma_tws")
      .outputMode("append").start()
    val history = Seq(
      ("T1", 100L, 3.7), ("T1", 200L, 11.1), ("T2", 100L, 0.3),
      ("T1", 300L, 5.9), ("T2", 250L, 8.8), ("T1", 400L, 2.2))
    try {
      in.addData(history.take(3).map(h =>
        StreamingAnalytics.Obs(h._1, h._2, h._3)): _*)
      q.processAllAvailable()
      in.addData(history.drop(3).map(h =>
        StreamingAnalytics.Obs(h._1, h._2, h._3)): _*)
      q.processAllAvailable()
      val got = spark.table("ewma_tws").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val ref = history.groupBy(_._1).flatMap { case (k, h) =>
        h.sortBy(_._2).scanLeft(Option.empty[(Long, Double)]) {
          case (acc, (_, ts, x)) =>
            Some(ts -> acc.fold(x) { case (_, prev) => (x + prev) / 2.0 })
        }.flatten.map { case (ts, y) => (k, ts) -> y }
      }
      assert(got === ref)
    } finally {
      q.stop()
      saved.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
    }
  }

  test("replayEwmaTws: the file-source replay (pinned mod-times, " +
    "maxFilesPerTrigger=1, AvailableNow) folds batches in replay order and " +
    "carries RocksDB state across them — sink contents equal the batch " +
    "recursion over the full ordered history bit-exactly") {
    import spark.implicits._
    // non-dyadic values; T1's history spans all three batches, T2 two
    val history = Seq(
      ("T1", 100L, 3.7), ("T2", 110L, 0.3),   // batch 0: ts < 200
      ("T1", 200L, 11.1), ("T1", 250L, 5.9),  // batch 1: 200 <= ts < 300
      ("T1", 300L, 2.2), ("T2", 310L, 8.8))   // batch 2: ts >= 300
    val obs = history.toDF("trip_id", "ts", "delay_min")
    val base = "target/twsreplay_spec"
    val got = StreamingAnalytics.replayStream(spark, obs, base, Seq(
        col("ts") < 200L, col("ts") >= 200L && col("ts") < 300L,
        col("ts") >= 300L)) { st =>
        StreamingAnalytics.ewmaStreamTws(
          st.as[StreamingAnalytics.Obs]).toDF()
      }
      .collect().map(r => (r.getAs[String]("trip_id"),
        r.getAs[Long]("ts")) -> r.getAs[Double]("ewma")).toMap
    val ref = history.groupBy(_._1).flatMap { case (k, h) =>
      h.sortBy(_._2).scanLeft(Option.empty[(Long, Double)]) {
        case (acc, (_, t, x)) =>
          Some(t -> acc.fold(x) { case (_, prev) => (x + prev) / 2.0 })
      }.flatten.map { case (t, y) => (k, t) -> y }
    }
    assert(got === ref)
  }

  /** The state-operator custom-metric names reported by the one replay
    * `body` runs — the state store's fingerprint (every RocksDB metric
    * name starts with "rocksdb"). Listener events arrive asynchronously;
    * a query's progress events all precede its termination event, so
    * waiting for that one makes the set complete. */
  private def stateMetricNames(body: => Unit): Set[String] = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val names = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op =>
          names.addAll(op.customMetrics.keySet))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        ended.countDown()
    }
    spark.streams.addListener(listener)
    try {
      body
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the replay's termination event never arrived")
    } finally spark.streams.removeListener(listener)
    names.asScala.toSet
  }

  test("replayStream takes the state store from the stream's plan: a " +
    "transformWithState replay runs on RocksDB with no flag set, a " +
    "dropDuplicatesWithinWatermark replay stays on the session default, " +
    "and the session conf is restored after each") {
    import spark.implicits._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provKey)
    assert(saved.forall(!_.contains("RocksDB")),
      s"the session default must not already be RocksDB: $saved")
    val obs = Seq(("T1", 100L, 3.7), ("T2", 110L, 0.3), ("T1", 200L, 1.1))
      .toDF("trip_id", "ts", "delay_min")
    val tws = stateMetricNames {
      StreamingAnalytics.replayStream(spark, obs, "target/provider_tws_spec",
          Seq(col("ts") < 150L, col("ts") >= 150L)) { st =>
          StreamingAnalytics.ewmaStreamTws(
            st.as[StreamingAnalytics.Obs]).toDF()
        }.collect()
    }
    assert(tws.exists(_.startsWith("rocksdb")), tws)
    assert(spark.conf.getOption(provKey) === saved)
    val ev = Seq((1L, 1000L), (1L, 1001L), (2L, 5000L), (2L, 5001L))
      .toDF("id", "tse")
      .select(col("id"), timestamp_seconds(col("tse")).as("ts"))
    val cut = timestamp_seconds(lit(3000L))
    val dedup = stateMetricNames {
      StreamingAnalytics.replayStream(spark, ev,
          "target/provider_dedup_spec", Seq(col("ts") < cut,
          col("ts") >= cut)) { st =>
          st.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("id")
        }.collect()
    }
    assert(dedup.nonEmpty && !dedup.exists(_.startsWith("rocksdb")), dedup)
    assert(spark.conf.getOption(provKey) === saved)
  }

  test("sessionizeStreamTws deletes no timer twice: a replay whose " +
    "sessions seal through firing timers logs no TimerStateImpl warning") {
    import spark.implicits._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // 'a' and 'b' each open one session in batch 0; the sentinel batches
    // raise the watermark past both deadlines, so both seal in
    // handleExpiredTimer — the path that used to re-delete the fired
    // timer
    val ev = Seq(("a", 1000L), ("a", 1010L), ("b", 1020L),
        ("zz", 100000L), ("zz", 200000L))
      .toDF("key", "tse")
      .select(col("key"), timestamp_seconds(col("tse")).as("event_time"))
    val cuts = Seq(50000L, 150000L).map(t => timestamp_seconds(lit(t)))
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("timer-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("TimerStateImpl") &&
            e.getLevel.isMoreSpecificThan(Level.WARN))
          warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    val got = try {
      StreamingAnalytics.replayStream(spark, ev, "target/twstimer_warn_spec",
          Seq(col("event_time") < cuts(0),
            col("event_time") >= cuts(0) && col("event_time") < cuts(1),
            col("event_time") >= cuts(1))) { st =>
          StreamingAnalytics.sessionizeStreamTws(
            st.as[StreamingAnalytics.SEvent], gapSeconds = 60L).toDF()
        }
        .where(col("key") =!= "zz")
        .select("key", "start_epoch", "end_epoch", "n_events")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
    assert(got === Seq(("a", 1000L, 1010L, 2L), ("b", 1020L, 1020L, 1L)))
    assert(warnings.isEmpty, warnings)
  }

  test("funnelStagesStream: final stage per user equals batch staging on " +
    "the identical event set, including an out-of-order late view that " +
    "DEMOTES a converted user") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stages = Seq("view", "click", "purchase")
    val in = MemoryStream[StreamingAnalytics.FEvent]
    val q = StreamingAnalytics.funnelStagesStream(in.toDS(), stages)
      .writeStream.format("memory").queryName("funnel_stages")
      .outputMode("update").start()
    val all = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    def feed(batch: (Long, String, Long)*): Unit = {
      in.addData(batch.map(e =>
        StreamingAnalytics.FEvent(e._1, e._2, e._3)): _*)
      q.processAllAvailable()
      all ++= batch
    }
    try {
      // user 1 converts in order across batches; user 2 clicks first
      feed((1L, "view", 100L), (2L, "click", 100L))
      feed((1L, "click", 200L), (2L, "view", 200L))
      feed((1L, "purchase", 300L))
      // user 3 arrives fully out of order in one batch: purchase(50)
      // first, then view(10) and click(20) — mins are order-free, so
      // the stage is 3 despite the arrival order
      feed((3L, "purchase", 50L), (3L, "view", 10L), (3L, "click", 20L))
      // late CLICK for user 3 at t=5 breaks view(10) <= click(5): demotes
      feed((3L, "click", 5L))

      // streaming-final = emission with the max n_seen per user
      val streamed = spark.table("funnel_stages")
        .as[(Long, Int, Long)].collect().groupBy(_._1)
      // batch staging over the same full event set
      val batch = graft.analytics.Funnel.userStages(
          all.toSeq.toDF("user_id", "event_type", "ts")
            .select(col("user_id"), col("event_type"),
              org.apache.spark.sql.functions.timestamp_seconds(col("ts"))
                .as("ts")),
          "user_id", "event_type", "ts", stages)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every user's latest (max-n_seen) stage must equal the batch stage
      val finalStage = streamed.map { case (u, rows) =>
        u -> rows.maxBy(_._3)._2
      }
      assert(finalStage.map { case (u, s) => u -> s.toLong } === batch)
      // and the demotion actually happened: user 3 was 3, ends at 1
      assert(streamed(3L).map(_._2).toSeq.contains(3))
      assert(finalStage(3L) === 1)
    } finally q.stop()
  }

  test("heavyHitterCandidatesStream: after every batch, the candidate " +
    "union covers all terms heavy in the stream-so-far, and state stays " +
    "bounded — the batch superset theorem holds across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val k = 4
    val in = MemoryStream[String]
    val q = StreamingAnalytics
      .heavyHitterCandidatesStream(in.toDS(), k = k, buckets = 3)
      .writeStream.format("memory").queryName("hh_cand")
      .outputMode("update").start()
    val fed = scala.collection.mutable.ArrayBuffer.empty[String]

    def feedAndCheck(batch: Seq[String]): Unit = {
      in.addData(batch: _*)
      q.processAllAvailable()
      fed ++= batch
      // each bucket's LATEST snapshot = its max n_seen emission
      val snaps = spark.table("hh_cand")
        .as[(Int, Long, Seq[String])].collect()
        .groupBy(_._1).values.map(_.maxBy(_._2))
      // bounded state: never more than k-1 candidates per bucket
      snaps.foreach { case (b, _, terms) =>
        assert(terms.size <= k - 1, s"bucket $b overflows: $terms")
      }
      val candidates = snaps.flatMap(_._3).toSet
      val n = fed.size
      val heavy = fed.groupBy(identity).collect {
        case (t, os) if os.size.toLong * k > n => t
      }.toSet
      assert(heavy.subsetOf(candidates),
        s"missing heavy terms: ${heavy -- candidates} after ${n} rows")
    }

    try {
      // batch 1: 'x' dominates
      feedAndCheck(Seq.fill(30)("x") ++ (1 to 15).map(i => s"r$i"))
      // batch 2: regime change — 'y' floods in; 'x' must stay covered
      // while it is still heavy in the prefix
      feedAndCheck(Seq.fill(40)("y") ++ (16 to 25).map(i => s"r$i"))
      // batch 3: long tail only; nothing new becomes heavy, no overflow
      feedAndCheck((26 to 60).map(i => s"r$i"))
    } finally q.stop()
  }

  test("cmsStream: after every micro-batch the latest per-cell snapshot " +
    "EQUALS the batch CountMin sketch of the stream-so-far") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    implicit val ctx = spark.sqlContext
    val (depth, width) = (4, 64)
    val in = MemoryStream[String]
    val q = StreamingAnalytics.cmsStream(in.toDS(), depth, width)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("update").start()
    val fed = scala.collection.mutable.ArrayBuffer.empty[String]

    def feedAndCheck(batch: Seq[String]): Unit = {
      in.addData(batch: _*)
      q.processAllAvailable()
      fed ++= batch
      // update mode re-emits a cell each time it changes; the LATEST
      // emission per cell is its current counter = the max (counters
      // only grow)
      val streamed = spark.table("cms_stream")
        .groupBy("d", "w")
        .agg(org.apache.spark.sql.functions.max("counter").as("counter"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val batchSketch = graft.operators.CountMin.sketch(
          fed.toSeq.toDF("key").withColumn("one", lit(1L)),
          "key", "one", depth, width)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(streamed === batchSketch,
        s"stream/batch sketch divergence after ${fed.size} rows")
    }

    try {
      feedAndCheck(Seq.fill(10)("alpha") ++ Seq("beta", "gamma"))
      feedAndCheck(Seq.fill(5)("beta") ++ (1 to 8).map(i => s"tail_$i"))
      feedAndCheck(Seq("alpha", "delta"))
    } finally q.stop()
  }
}
