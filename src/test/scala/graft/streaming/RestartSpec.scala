package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Checkpoint-restart exactly-once (q258's harness): a stateful query
  * killed mid-backlog and resumed from its checkpoint must produce the
  * bit-identical final sink, with the recursion crossing the restart
  * boundary through RESTORED state, not driver memory. */
class RestartSpec extends SparkSpec {

  test("replayEwmaTws with restartAfterBatch: two runs of ONE query " +
    "(same id, distinct runIds), 1 then 3 commits, and the sink equals " +
    "the uninterrupted full-history recursion bit-exactly") {
    import spark.implicits._
    // non-dyadic values; T1's history spans all three batches, so its
    // recursion crosses the restart boundary through restored ValueState
    val history = Seq(
      ("T1", 100L, 3.7), ("T2", 110L, 0.3),   // batch 0: ts < 200
      ("T1", 200L, 11.1), ("T1", 250L, 5.9),  // batch 1: 200 <= ts < 300
      ("T1", 300L, 2.2), ("T2", 310L, 8.8))   // batch 2: ts >= 300
    val obs = history.toDF("trip_id", "ts", "delay_min")
    var info: Option[StreamingAnalytics.RestartInfo] = None
    val got = StreamingAnalytics.replayStream(spark, obs,
        "target/twsrestart_spec", Seq(
        col("ts") < 200L, col("ts") >= 200L && col("ts") < 300L,
        col("ts") >= 300L),
        restartAfterBatches = Seq(1), onRestartInfo = i => info = Some(i)) {
        st => StreamingAnalytics.ewmaStreamTws(
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
    // the restart really split the backlog: the checkpoint carries one
    // query identity across two distinct runs, one commit before the
    // restart and all three after the second run drained the rest
    val i = info.getOrElse(fail("onRestartInfo never fired"))
    assert(i.firstRunId !== i.secondRunId)
    assert(i.commitsAfterFirst === 1)
    assert(i.commitsTotal === 3)
  }

  test("stream-stream join state survives the restart: a click buffered " +
    "in batch 0 still matches a purchase arriving AFTER the checkpoint " +
    "resume — the symmetric-hash-join state restore path (q261)") {
    import spark.implicits._
    // u1's click (batch 0) matches u1's purchase (batch 1, after the
    // restart) only if the restored join state still buffers it; u2's
    // within-batch pair pins the ordinary path
    val ev = Seq(
      (1L, "click", 1000L), (2L, "click", 1010L), (2L, "purchase", 1020L),
      (1L, "purchase", 1500L),                       // batch 1: ts >= 1200
      (9L, "click", 90000L), (9L, "purchase", 90001L)) // batch 2: risers
      .toDF("user_id", "event_type", "tse")
      .select(col("user_id"), col("event_type"),
        timestamp_seconds(col("tse")).as("ts"))
    var info: Option[StreamingAnalytics.RestartInfo] = None
    val got = StreamingAnalytics.replayStream(spark, ev,
        "target/sjrestart_spec", Seq(
        col("ts") < timestamp_seconds(lit(1200L)),
        col("ts") >= timestamp_seconds(lit(1200L)) &&
          col("ts") < timestamp_seconds(lit(50000L)),
        col("ts") >= timestamp_seconds(lit(50000L))),
        restartAfterBatches = Seq(1), onRestartInfo = i => info = Some(i)) {
        st =>
          val l = st.where(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("l_ts"))
            .withWatermark("l_ts", "10 minutes")
          val r = st.where(col("event_type") === "purchase")
            .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"))
            .withWatermark("r_ts", "10 minutes")
          l.join(r, col("user_id") === col("r_user_id") &&
              col("r_ts") >= col("l_ts") - expr("INTERVAL 600 seconds") &&
              col("r_ts") <= col("l_ts") + expr("INTERVAL 600 seconds"))
            .select(col("user_id"),
              unix_timestamp(col("l_ts")).as("l_tse"),
              unix_timestamp(col("r_ts")).as("r_tse"))
      }
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    assert(got === Seq((1L, 1000L, 1500L), (2L, 1010L, 1020L),
      (9L, 90000L, 90001L)))
    val i = info.getOrElse(fail("onRestartInfo never fired"))
    assert(i.firstRunId !== i.secondRunId)
    // watermarked queries may commit a trailing no-data batch per run,
    // so pin the SPLIT (some commits strictly before, more after), not
    // an exact count
    assert(i.commitsAfterFirst >= 1)
    assert(i.commitsTotal > i.commitsAfterFirst)
  }

  test("event-time TIMERS survive the restart: a session whose seal-timer " +
    "was registered before the checkpoint kill is sealed AFTER the resume " +
    "by the restored timer firing — the key receives no further input, so " +
    "the timer is its ONLY seal path (q264's StatefulProcessor machine)") {
    import spark.implicits._
    // batch 0: key 'a' opens one session (1000..1010, gap 60 →
    // seal-timer ≈ 1071) — then the query is killed. Batches 1-2 carry
    // only the sentinel key, which advances the watermark; 'a' never
    // appears again, so its session can seal ONLY through the timer
    // restored from the checkpoint (watermarks advance between batches:
    // sentinel A raises it past the deadline, sentinel B's batch fires
    // the restored timer).
    val ev = Seq(
      ("a", 1000L), ("a", 1010L),   // batch 0 (first run, then kill)
      ("zz", 100000L),              // batch 1 (second run)
      ("zz", 200000L))              // batch 2
      .toDF("key", "tse")
      .select(col("key"), timestamp_seconds(col("tse")).as("event_time"))
    var info: Option[StreamingAnalytics.RestartInfo] = None
    val got = StreamingAnalytics.replayStream(spark, ev,
        "target/twstimer_spec", Seq(
        col("event_time") < timestamp_seconds(lit(50000L)),
        col("event_time") >= timestamp_seconds(lit(50000L)) &&
          col("event_time") < timestamp_seconds(lit(150000L)),
        col("event_time") >= timestamp_seconds(lit(150000L))),
        restartAfterBatches = Seq(1), onRestartInfo = i => info = Some(i)) {
        st =>
          StreamingAnalytics.sessionizeStreamTws(
            st.as[StreamingAnalytics.SEvent], gapSeconds = 60L).toDF()
      }
      .where(col("key") === "a")
      .select("start_epoch", "end_epoch", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got === Seq((1000L, 1010L, 2L)))
    val i = info.getOrElse(fail("onRestartInfo never fired"))
    assert(i.firstRunId !== i.secondRunId)
    assert(i.commitsAfterFirst >= 1)
    assert(i.commitsTotal > i.commitsAfterFirst)
  }

  test("a timer registered in batch 0 fires EXACTLY ONCE through TWO " +
    "successive checkpoint restores (VERDICT r15 item 7): the session " +
    "machine is killed after batch 0 and again after batch 1 with the " +
    "timer live both times — a restore that re-fired or duplicated the " +
    "timer would seal 'a' twice (two rows); one that lost it would " +
    "never seal 'a' (zero rows)") {
    import spark.implicits._
    // b0: 'a' opens (1000..1010, gap 60 → timer ≈ 1071) — KILL.
    // b1 (run 2): sentinel at 1030 keeps the watermark BELOW the
    // deadline, so the restored timer must idle, not fire — KILL again.
    // b2 (run 3): sentinel at 100000 raises the watermark past the
    // deadline; b3's batch fires the twice-restored timer, the only
    // seal path 'a' has.
    val ev = Seq(
      ("a", 1000L), ("a", 1010L),   // batch 0
      ("zz", 1030L),                // batch 1
      ("zz", 100000L),              // batch 2
      ("zz", 200000L))              // batch 3
      .toDF("key", "tse")
      .select(col("key"), timestamp_seconds(col("tse")).as("event_time"))
    var infos = List.empty[StreamingAnalytics.RestartInfo]
    val got = StreamingAnalytics.replayStream(spark, ev,
        "target/twstimer2_spec", Seq(
        col("event_time") < timestamp_seconds(lit(1020L)),
        col("event_time") >= timestamp_seconds(lit(1020L)) &&
          col("event_time") < timestamp_seconds(lit(50000L)),
        col("event_time") >= timestamp_seconds(lit(50000L)) &&
          col("event_time") < timestamp_seconds(lit(150000L)),
        col("event_time") >= timestamp_seconds(lit(150000L))),
        restartAfterBatches = Seq(1, 2),
        onRestartInfo = i => infos = infos :+ i) {
        st =>
          StreamingAnalytics.sessionizeStreamTws(
            st.as[StreamingAnalytics.SEvent], gapSeconds = 60L).toDF()
      }
      .where(col("key") === "a")
      .select("start_epoch", "end_epoch", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got === Seq((1000L, 1010L, 2L)),
      s"expected exactly one sealed session for 'a', got $got")
    // three runs of ONE query: two boundaries, all run ids distinct,
    // every boundary advancing the commit log
    assert(infos.size === 2)
    val runIds = infos.head.firstRunId ::
      infos.map(_.secondRunId)
    assert(runIds.distinct.size === 3, runIds)
    assert(infos.head.secondRunId === infos(1).firstRunId)
    infos.foreach(i => assert(i.commitsTotal > i.commitsAfterFirst, i))
  }

  test("restartAfterBatch rejects a split that would not interrupt " +
    "the backlog") {
    import spark.implicits._
    val obs = Seq(("T1", 100L, 1.0)).toDF("trip_id", "ts", "delay_min")
    intercept[IllegalArgumentException] {
      StreamingAnalytics.replayStream(spark, obs,
        "target/twsrestart_spec_bad", Seq(col("ts") < 200L),
        restartAfterBatches = Seq(1)) { st =>
        StreamingAnalytics.ewmaStreamTws(
          st.as[StreamingAnalytics.Obs]).toDF()
      }
    }
  }
}
