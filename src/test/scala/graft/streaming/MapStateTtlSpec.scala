package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{TTLConfig, Trigger}

/** State TTL on [[StreamingAnalytics.dimAggStream]]'s MapState (q265's
  * machine): the bounded-state guarantee where no watermark applies.
  * Pins BOTH directions — accumulation within the TTL, and the
  * production claim itself: a dimension idle past the TTL is EVICTED by
  * the store (it stops appearing in snapshots) and RE-ADMITS from zero
  * on its next event, rather than resuming its pre-eviction totals.
  *
  * Driving note: TTL requires TimeMode.ProcessingTime, and in that mode
  * the operator reports shouldRunAnotherBatch unconditionally — so
  * `processAllAvailable` NEVER settles (the engine always has another
  * no-data batch to run). The test therefore polls the memory sink for
  * each batch's emissions instead, with a paced trigger so the no-data
  * batches idle at ~4/s rather than busy-looping. */
class MapStateTtlSpec extends SparkSpec {

  test("a dimension idle past the TTL evicts and re-admits from zero; " +
    "within the TTL it accumulates; an untouched dimension disappears " +
    "from snapshots once expired") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(provKey)
    spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    val in = MemoryStream[StreamingAnalytics.DEvent]
    // 30 s TTL (r15 ADVICE): the pre-TTL phase only holds if batch 2
    // commits within the TTL of batch 1's state write — post-warmup
    // batches run sub-second, so 30 s absorbs a GC pause or a loaded CI
    // box where the old 12 s window could evict early and fail s2
    val q = StreamingAnalytics.dimAggStream(in.toDS(),
        TTLConfig(java.time.Duration.ofSeconds(30)))
      .toDF()
      .writeStream.format("memory").queryName("ms_ttl")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .outputMode("append").start()
    try {
      // addData, then poll for the batch's snapshot rows (expectedNew of
      // them) — no-data batches emit nothing, so new rows always mean
      // the data batch committed
      def snapAfter(expectedNew: Int, events: StreamingAnalytics.DEvent*)
          : Map[String, (Long, Long)] = {
        val before = spark.table("ms_ttl").count()
        in.addData(events: _*)
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (spark.table("ms_ttl").count() < before + expectedNew) {
          q.exception.foreach(throw _)
          assert(System.nanoTime() < deadline, "timed out awaiting batch")
          Thread.sleep(100L)
        }
        // settle a few trigger periods, then pin the EXACT count — an
        // eviction failure would emit MORE rows than expected (the
        // expired dimension's snapshot), which a >=-poll alone can miss
        Thread.sleep(1000L)
        val all = spark.table("ms_ttl").collect()
        assert(all.length === before.toInt + expectedNew)
        all.drop(before.toInt)
          .map(r => r.getAs[String]("event_type") ->
            ((r.getAs[Long]("n_so_far"), r.getAs[Long]("vu_sum"))))
          .toMap
      }
      // warm-up batch under a throwaway key: the FIRST RocksDB batch
      // pays provider spin-up + whole-pipeline codegen (observed ~25 s
      // in the test JVM) — wall time that must not count against the
      // TTL clock of the choreography below (post-warmup batches run in
      // well under a second)
      snapAfter(1, StreamingAnalytics.DEvent(99L, 1L, "warm", 0L)): Unit
      // batch 1: two clicks and a view open key 1's profile
      val s1 = snapAfter(2,
        StreamingAnalytics.DEvent(1L, 100L, "click", 5L),
        StreamingAnalytics.DEvent(1L, 101L, "click", 7L),
        StreamingAnalytics.DEvent(1L, 102L, "view", 3L))
      assert(s1 === Map("click" -> ((2L, 12L)), "view" -> ((1L, 3L))))
      // batch 2, immediately (within the 30 s TTL): click accumulates
      // and the untouched view still snapshots — nothing has expired
      val s2 = snapAfter(2, StreamingAnalytics.DEvent(1L, 200L, "click", 1L))
      assert(s2 === Map("click" -> ((3L, 13L)), "view" -> ((1L, 3L))))
      // idle past the TTL: both entries' expirations pass
      Thread.sleep(32000L)
      // batch 3: click RE-ADMITS from zero (not 4/15), and view — never
      // refreshed — is gone from the snapshot entirely
      val s3 = snapAfter(1, StreamingAnalytics.DEvent(1L, 300L, "click", 2L))
      assert(s3 === Map("click" -> ((1L, 2L))))
    } finally {
      q.stop()
      saved.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
    }
  }

  test("TTL clocks SURVIVE a checkpoint restart (q269's recovery path): " +
    "a dimension written before the kill evicts on its ORIGINAL " +
    "schedule after the resume — a restore that reset expiry clocks " +
    "would keep it alive past the restart and emit it in the post-" +
    "resume snapshot") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val obs = Seq(
      StreamingAnalytics.DEvent(1L, 1000L, "alpha", 5L),
      StreamingAnalytics.DEvent(1L, 2000L, "beta", 7L)).toDF()
    // two batches split on tse; the kill lands between them, and the
    // 25 s TTL expires during the 28 s pause before the resume. The
    // choreography has NO upper-bound race: alpha's expiry is pinned to
    // its pre-kill write, and the sleep starts only after the first
    // run's commit — so however slow the box, alpha is expired by the
    // time batch 2 runs. Batch 2's snapshot therefore carries ONLY
    // beta; a clock reset at restore (expiry re-stamped to resume time
    // + TTL) would keep alpha alive and emit a third row.
    val out = StreamingAnalytics.replayStream(spark, obs,
        "target/ttl_restart_spec",
        Seq(col("tse") < 1500L, col("tse") >= 1500L),
        useRocksDb = true, processingTimeDrain = true,
        restartAfterBatches = Seq(1),
        beforeRestart = () => Thread.sleep(28000L)) { st =>
        StreamingAnalytics.dimAggStream(
          st.as[StreamingAnalytics.DEvent],
          org.apache.spark.sql.streaming.TTLConfig(
            java.time.Duration.ofSeconds(25))).toDF()
      }
    val rows = out.collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("last_tse"),
        r.getAs[String]("event_type"), r.getAs[Long]("n_so_far"),
        r.getAs[Long]("vu_sum"))).toSet
    assert(rows === Set(
      (1L, 1000L, "alpha", 1L, 5L),   // batch 1, pre-kill
      (1L, 2000L, "beta", 1L, 7L)),   // batch 2 post-resume: alpha evicted
      s"unexpected snapshots (alpha surviving the restart means the " +
        s"restored TTL clock was reset): $rows")
  }
}
