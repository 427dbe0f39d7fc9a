package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analytics over the realtime observation stream — the
  * dashboard layer for data that never stops arriving. The reference
  * serves A1-A5 from a rebuilt mart (batch); these are the unbounded
  * formulations: event-time windows bounded by a watermark, and keyed
  * custom state via flatMapGroupsWithState. State never grows without
  * bound — the two mechanisms below are exactly Spark's contract for
  * that at 100 TB/day stream rates.
  */
object StreamingAnalytics {

  /** A1 over an unbounded stream: average delay per tumbling event-time
    * window. The watermark bounds both state (windows older than the
    * watermark are finalized and evicted) and lateness (observations
    * later than `watermark` are dropped — the streaming trade the batch
    * mart never has to make). Exact-decimal accumulation keeps results
    * partition-order-independent, like the batch Dashboard. */
  def delayByWindow(stream: DataFrame, eventTimeCol: String,
                    delayCol: String, windowLen: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen))
      .agg(graft.analytics.Dashboard.exactAvg(col(delayCol)).as("avg_delay_min"),
        count(lit(1)).as("n_rows"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("avg_delay_min"), col("n_rows"))

  /** One observation for [[lateStreaks]]: (trip, event seconds, delay). */
  final case class Obs(trip_id: String, ts: Long, delay_min: Double)

  /** Emitted when a trip's consecutive-late streak changes. */
  final case class StreakUpdate(trip_id: String, ts: Long, streak: Int)

  /** Streaming exact deduplication: drop repeated keys arriving within
    * the watermark of each other — the at-least-once-source guard in
    * front of any streaming pipeline. State holds one entry per key seen
    * within the watermark horizon and is evicted as the watermark
    * advances — bounded, unlike a naive global dropDuplicates whose state
    * grows forever. `eventTimeCol` must be a timestamp column. */
  def dedupStream(stream: DataFrame, keys: Seq[String], eventTimeCol: String,
                  watermark: String): DataFrame =
    stream.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join: pair each left event with the right
    * events of the same key within [lt - beforeSec, lt + afterSec] —
    * the unbounded formulation of [[graft.operators.RangeJoin]] (q70's
    * error↔click correlation as both sides arrive live). Both sides
    * MUST carry watermarks (set by the caller, who knows each source's
    * disorder bound): Spark derives the join-state retention from the
    * watermarks plus this time-range condition, so per-side state is
    * bounded to the interval width + watermark delay — the stream-stream
    * join contract at unbounded rates. Inner join: results emit as soon
    * as both sides are present; no waiting for the watermark. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         keys: Seq[String], leftTime: String,
                         rightTime: String, beforeSec: Long,
                         afterSec: Long): DataFrame = {
    require(keys.nonEmpty, "intervalJoinStream requires join keys")
    val cond = keys.map(k => left(k) === right(k)).reduce(_ && _) &&
      right(rightTime) >= left(leftTime) -
        expr(s"INTERVAL $beforeSec seconds") &&
      right(rightTime) <= left(leftTime) +
        expr(s"INTERVAL $afterSec seconds")
    left.join(right, cond)
  }

  /** LEFT OUTER [[intervalJoinStream]]: every left event emits, matched
    * or not — the "did anything correlate?" formulation (errors with NO
    * click nearby are exactly the interesting ones). The outer semantics
    * change WHEN rows emit, not just what: an unmatched left row cannot
    * be declared unmatched until the WATERMARK passes its interval's
    * right edge (any earlier, a matching right event could still
    * arrive), so null-extended results trail the watermark — and the
    * same watermark bound is what lets Spark EVICT the row from join
    * state instead of holding it forever. Matched rows still emit
    * eagerly, like the inner join. Both sides must carry watermarks. */
  def intervalJoinStreamOuter(left: DataFrame, right: DataFrame,
                              keys: Seq[String], leftTime: String,
                              rightTime: String, beforeSec: Long,
                              afterSec: Long): DataFrame = {
    require(keys.nonEmpty, "intervalJoinStreamOuter requires join keys")
    val cond = keys.map(k => left(k) === right(k)).reduce(_ && _) &&
      right(rightTime) >= left(leftTime) -
        expr(s"INTERVAL $beforeSec seconds") &&
      right(rightTime) <= left(leftTime) +
        expr(s"INTERVAL $afterSec seconds")
    left.join(right, cond, "leftOuter")
  }

  /** One event for [[sessionizeStream]] — needs a real timestamp column
    * so the watermark (and event-time timeouts) can track it. */
  final case class SEvent(key: String, event_time: java.sql.Timestamp)

  /** A closed session: emitted once the watermark passes the session's
    * gap deadline (no admissible event can extend it any more). */
  final case class Session(key: String, start_epoch: Long, end_epoch: Long,
                           n_events: Long)

  /** Open-session state for [[sessionizeStream]] (public: the runtime
    * compiles an encoder for it). */
  final case class OpenSession(startEpoch: Long, endEpoch: Long,
                               nEvents: Long)

  /** Per-key [[sessionizeStream]] state: EVERY session not yet sealed by
    * the watermark, sorted by start, pairwise gap-separated. Holding the
    * full in-watermark set (not just the latest session) is what makes
    * out-of-order arrivals exact: an event t may merge with, bridge, or
    * precede ANY session whose horizon the watermark hasn't passed —
    * eagerly closing a "too early" event as a singleton is wrong, because
    * a later within-watermark event can still bridge it to a neighbor.
    * Size is bounded by the watermark: a session seals (and leaves state)
    * as soon as watermark > end + gap, so at most
    * ceil(watermarkDelay / gap) + 1 sessions per key ever coexist. */
  final case class SessState(sessions: List[OpenSession])

  /** The session machine's MERGE step, shared verbatim by the fMGWS
    * (q255) and StatefulProcessor (q263) spellings so the two can never
    * drift apart (they share one oracle): event t absorbs every session
    * within gap of it — when t lands between two sessions at most 2*gap
    * apart, both match and t BRIDGES them into one, exactly as batch
    * Sessionize would. Pure function of (sessions, t, gap). */
  private[streaming] def mergeEvent(sessions: List[OpenSession], t: Long,
                                    gapSeconds: Long): List[OpenSession] = {
    val (touching, rest) = sessions.partition(s =>
      t >= s.startEpoch - gapSeconds && t <= s.endEpoch + gapSeconds)
    val merged = touching.foldLeft(OpenSession(t, t, 1L)) { (acc, s) =>
      OpenSession(math.min(acc.startEpoch, s.startEpoch),
        math.max(acc.endEpoch, s.endEpoch), acc.nEvents + s.nEvents)
    }
    (merged :: rest).sortBy(_.startEpoch)
  }

  /** The session machine's SEAL step, shared like [[mergeEvent]]:
    * admissible future events have event-time >= watermark (in MILLIS),
    * and an event at t_ms merges while floor(t_ms/1000) <= end + gap,
    * i.e. while t_ms < (end + gap + 1) * 1000 — second-floored event
    * times make every millisecond of that last second mergeable, so a
    * session seals only once the watermark clears the whole second.
    * Returns (sealed sorted by start, still-open, next wake deadline for
    * the open set) — the deadline clamped above the watermark, because a
    * deadline computed from a late-arriving event would sit below it,
    * which the timer APIs reject. */
  private[streaming] def sealSplit(sessions: List[OpenSession],
                                   gapSeconds: Long, wmMs: Long)
      : (List[OpenSession], List[OpenSession], Long) = {
    val (sealed_, open) =
      sessions.partition(s => (s.endEpoch + gapSeconds + 1) * 1000L <= wmMs)
    val deadline =
      if (open.isEmpty) Long.MaxValue
      else math.max(
        open.map(s => (s.endEpoch + gapSeconds + 1) * 1000L).min, wmMs + 1L)
    (sealed_.sortBy(_.startEpoch), open, deadline)
  }

  /** Streaming gap-sessionization — [[graft.operators.Sessionize]]'s
    * unbounded sibling, with EXACT batch parity for every within-watermark
    * arrival order: events merge into (possibly several) open sessions per
    * key ([[mergeEvent]]), and a session is emitted only when the
    * WATERMARK passes its gap deadline ([[sealSplit]]) — the first moment
    * no admissible future event (all of which are >= watermark) can
    * extend or bridge it. Idle keys emit via EventTimeTimeout at the
    * earliest open deadline. Like Spark's own append-mode window
    * aggregates, emission therefore trails the watermark by one trigger —
    * the price of out-of-order exactness. */
  def sessionizeStream(events: Dataset[SEvent], gapSeconds: Long,
                       watermark: String = "0 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("event_time", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[SEvent], state: GroupState[SessState]) =>
          // Fold new events in (timeout invocations carry none)
          var sessions = state.getOption.map(_.sessions).getOrElse(Nil)
          rows.map(_.event_time.getTime / 1000).foreach { t =>
            sessions = mergeEvent(sessions, t, gapSeconds)
          }
          val (sealed_, open, deadline) =
            sealSplit(sessions, gapSeconds, state.getCurrentWatermarkMs())
          if (open.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(SessState(open))
            state.setTimeoutTimestamp(deadline)
          }
          sealed_
            .map(s => Session(key, s.startEpoch, s.endEpoch, s.nEvents))
            .iterator
      }
  }

  /** [[sessionizeStream]] re-expressed on Spark 4's arbitrary-state API
    * (`transformWithState` + [[SessionProcessor]]): the same
    * every-unsealed-session-per-key state and the same merge/bridge/seal
    * algorithm, so the two spellings emit identical session sets — but
    * through the new API's typed `ListState` handle and explicit
    * event-time TIMERS (`registerTimer`/`handleExpiredTimer`) instead of
    * fMGWS's single opaque state value and `GroupStateTimeout`. Runs on
    * the RocksDB provider (the API requires it), which is also the
    * production backend at 100 TB/day: state lives in a memory-bounded
    * native store, and per-key timers replace full-state scans for idle
    * keys. Exactly one timer per key is kept live (stale deadlines are
    * deleted before re-registering), so timer state is O(keys). */
  def sessionizeStreamTws(events: Dataset[SEvent], gapSeconds: Long,
                          watermark: String = "0 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("event_time", watermark)
      .groupByKey(_.key)
      .transformWithState(new SessionProcessor(gapSeconds),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** The [[sessionizeStreamTws]] state machine — verbatim
    * [[sessionizeStream]] semantics on the StatefulProcessor surface,
    * sharing the pure [[mergeEvent]]/[[sealSplit]] core with the fMGWS
    * spelling so the two can never drift apart: an event merges with
    * (and may BRIDGE) every open session within `gap` of it; a session
    * seals only once the watermark clears its whole last second; idle
    * keys seal through an event-time timer at the earliest open
    * deadline, clamped above the watermark. */
  final class SessionProcessor(gapSeconds: Long)
      extends org.apache.spark.sql.streaming
        .StatefulProcessor[String, SEvent, Session] {
    @transient private var open:
      org.apache.spark.sql.streaming.ListState[OpenSession] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getListState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    /** [[sealSplit]] + state/timer persistence: persist the still-open
      * set and keep exactly one live timer at the earliest remaining
      * deadline. Shared by both handlers — data batches and timer
      * firings seal identically. */
    private def sealAndPersist(key: String,
                               sessions: List[OpenSession],
                               wmMs: Long): Iterator[Session] = {
      val (sealed_, stillOpen, deadline) =
        sealSplit(sessions, gapSeconds, wmMs)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      if (stillOpen.isEmpty) open.clear()
      else {
        open.put(stillOpen.toArray)
        getHandle.registerTimer(deadline)
      }
      sealed_
        .map(s => Session(key, s.startEpoch, s.endEpoch, s.nEvents))
        .iterator
    }

    override def handleInputRows(key: String, rows: Iterator[SEvent],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Session] = {
      var sessions = open.get().toList
      rows.map(_.event_time.getTime / 1000).foreach { t =>
        sessions = mergeEvent(sessions, t, gapSeconds)
      }
      sealAndPersist(key, sessions, timers.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: String,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[Session] =
      sealAndPersist(key, open.get().toList,
        timers.getCurrentWatermarkInMs())
  }

  /** Keyed custom state the built-in operators cannot express: the length
    * of each trip's CURRENT consecutive-late streak (delay >
    * `lateThreshold`), emitting an update per observation that changes
    * it. State per key is one int — fixed-size, the
    * mapGroupsWithState contract; batch arrivals are folded in event-time
    * order so replays are deterministic. That fold buffers one
    * (key, micro-batch) group in task memory (`rows.toSeq.sortBy`) —
    * the bound is a single key's volume within ONE micro-batch, not the
    * stream: a pathological hot key must be rate-limited or salted
    * upstream, the same per-group bound the replay harness's staging
    * note (one hash-repartitioned file per batch) names. */
  def lateStreaks(stream: Dataset[Obs], lateThreshold: Double)
      : Dataset[StreakUpdate] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.trip_id)
      .flatMapGroupsWithState[Int, StreakUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (trip: String, rows: Iterator[Obs], state: GroupState[Int]) =>
          var streak = state.getOption.getOrElse(0)
          val out = rows.toSeq.sortBy(_.ts).flatMap { o =>
            val next = if (o.delay_min > lateThreshold) streak + 1 else 0
            val changed = next != streak
            streak = next
            if (changed) Some(StreakUpdate(trip, o.ts, next)) else None
          }
          state.update(streak)
          out.iterator
      }
  }

  /** Emitted per absorbed observation by [[ewmaStream]]. */
  final case class EwmaUpdate(trip_id: String, ts: Long, ewma: Double)

  /** Streaming exponentially-weighted moving average per key — the
    * unbounded-recursion sibling of the batch q161 lag chain: state is
    * ONE double per key (y ← (x + y)/2, α = 1/2 — the same dyadic
    * arithmetic, so every step is one exact halving plus one rounding,
    * reproducible across restarts from the checkpointed state). Within
    * a micro-batch, rows are folded in (ts) order with a deterministic
    * tiebreak impossible by contract (callers feed one observation per
    * (key, ts)); across batches the recursion continues from state —
    * streaming-final ≡ batch recursion over the full ordered history,
    * which the parity spec pins. State: one double per key, bounded.
    * The ordered fold buffers one (key, micro-batch) group in task
    * memory — bounded by a key's per-batch volume (required for the
    * deterministic fold order), not by stream length. */
  def ewmaStream(stream: Dataset[Obs]): Dataset[EwmaUpdate] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.trip_id)
      .flatMapGroupsWithState[Double, EwmaUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (trip: String, rows: Iterator[Obs], state: GroupState[Double]) =>
          val out = rows.toSeq.sortBy(_.ts).map { o =>
            val next = state.getOption match {
              case Some(prev) => (o.delay_min + prev) / 2.0
              case None => o.delay_min // y₀ = x₀, the q161 initialization
            }
            state.update(next)
            EwmaUpdate(trip, o.ts, next)
          }
          out.iterator
      }
  }

  /** [[ewmaStream]] re-expressed on Spark 4's arbitrary-state API
    * (`transformWithState` + [[EwmaProcessor]]): the same one-double
    * state and the same dyadic recursion, so the two spellings and the
    * batch q161 lag chain are all bit-identical (TwsParity in
    * StreamingAnalyticsSpec pins both equalities). The new API is the
    * forward path — explicit typed state handles (`ValueState`,
    * `ListState`, `MapState`), per-state TTL, and timers — and runs
    * only on the RocksDB state-store provider, which is also the
    * production backend for 100 TB/day state (changelog checkpointing,
    * memory-bounded native store, no JVM-heap state). */
  def ewmaStreamTws(stream: Dataset[Obs]): Dataset[EwmaUpdate] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.trip_id)
      .transformWithState(new EwmaProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** The [[ewmaStreamTws]] state machine: y ← (x + y)/2 per key, rows
    * folded in (ts) order within a batch — verbatim [[ewmaStream]]
    * semantics on the StatefulProcessor surface. */
  final class EwmaProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[String, Obs, EwmaUpdate] {
    @transient private var ewma:
      org.apache.spark.sql.streaming.ValueState[Double] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      ewma = getHandle.getValueState[Double]("ewma",
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Obs],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[EwmaUpdate] =
      rows.toSeq.sortBy(_.ts).map { o =>
        val next =
          if (ewma.exists()) (o.delay_min + ewma.get()) / 2.0
          else o.delay_min // y₀ = x₀, the q161 initialization
        ewma.update(next)
        EwmaUpdate(key, o.ts, next)
      }.iterator
  }

  /** One event for [[dimAggStream]]: epoch seconds + the dimension label
    * + the value pre-rendered to integer micro-units by the caller (so
    * the state arithmetic is pure BIGINT — no float accumulation order
    * to mirror). */
  final case class DEvent(user_id: Long, tse: Long, event_type: String,
                          vu: Long)

  /** One per-dimension running total in [[DimAggProcessor]]'s MapState. */
  final case class DimAgg(n: Long, vuSum: Long)

  /** Per-batch snapshot row from [[dimAggStream]]: after folding a key's
    * batch rows, every dimension the key has EVER seen (within TTL) with
    * its running totals; `last_tse` is the key's max event time in the
    * emitting batch, which makes snapshot rows distinct across batches
    * without the machine needing a batch counter. */
  final case class DimSnap(user_id: Long, last_tse: Long,
                           event_type: String, n_so_far: Long, vu_sum: Long)

  /** Per-key per-DIMENSION running aggregates on the third
    * transformWithState primitive, `MapState` — the per-user profile
    * accumulator shape (map: dimension → running totals) that ValueState
    * can't hold without re-serializing the whole profile per event and
    * ListState can't point-update. `ttl` is the production state-bounding
    * knob this operator exists to exercise: with no watermark to evict
    * by (processing-time mode — TTL REQUIRES TimeMode.ProcessingTime),
    * TTL eviction is how a 100 TB/day keyed profile stays bounded — a
    * dimension not refreshed within `ttl` of wall clock is dropped by
    * the store and RE-ADMITS from zero on its next event
    * (MapStateTtlSpec pins evict + re-admit with a short TTL; the q265
    * replay row uses an hours-long TTL that never bites in a
    * seconds-long replay, keeping the row oracle-expressible).
    * Fold order within a batch never matters: counts, sums, and max are
    * commutative — so this operator needs NO per-key batch buffering,
    * unlike the order-sensitive EWMA/streak machines. */
  def dimAggStream(stream: Dataset[DEvent],
                   ttl: org.apache.spark.sql.streaming.TTLConfig)
      : Dataset[DimSnap] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .transformWithState(new DimAggProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append())
  }

  /** The [[dimAggStream]] state machine: MapState[dimension → DimAgg]
    * point-updates per event (RocksDB reads/writes ONE map entry per
    * event, not the whole profile), then one snapshot emission per
    * (key, batch). */
  final class DimAggProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming
        .StatefulProcessor[Long, DEvent, DimSnap] {
    @transient private var dims:
      org.apache.spark.sql.streaming.MapState[String, DimAgg] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      dims = getHandle.getMapState[String, DimAgg]("dims",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.product[DimAgg], ttl)
    override def handleInputRows(key: Long, rows: Iterator[DEvent],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[DimSnap] = {
      var lastTse = Long.MinValue
      rows.foreach { e =>
        if (e.tse > lastTse) lastTse = e.tse
        val prev =
          if (dims.containsKey(e.event_type)) dims.getValue(e.event_type)
          else DimAgg(0L, 0L)
        dims.updateValue(e.event_type, DimAgg(prev.n + 1L, prev.vuSum + e.vu))
      }
      // materialize the snapshot NOW: the returned iterator is consumed
      // after this key's slot in the batch, when the store cursor behind
      // dims.iterator() may no longer be valid. Bounded: one row per
      // dimension this key has seen, i.e. |event_type| per user.
      val at = lastTse
      dims.iterator().map { case (dim, agg) =>
        DimSnap(key, at, dim, agg.n, agg.vuSum)
      }.toList.iterator
    }
  }

  /** Deterministic micro-batch REPLAY of [[ewmaStreamTws]] into a parquet
    * sink — the harness that promotes the Spark-4 arbitrary-state path to
    * a hash-checked registry row (q249). Each predicate in `batchPreds`
    * becomes one parquet file under `baseDir/src` with its modification
    * time pinned to replay order; the file source serves them as separate
    * micro-batches (`maxFilesPerTrigger = 1`, oldest-modtime first) and
    * `Trigger.AvailableNow` drains the backlog then stops — no wall-clock
    * trigger, no flakiness. The EWMA recursion crosses every batch
    * boundary through RocksDB `ValueState`, and the appended sink rows
    * come back as a batch frame. Contract for oracle parity: each
    * predicate must select a ts-ordered SLICE of every key's history
    * (batch i's rows all precede batch i+1's per key) and `obs` must
    * carry one row per (trip_id, ts) — then within-batch (ts)-order
    * folding plus cross-batch state ≡ the batch recursion over the full
    * ordered history, which a recursive CTE recomputes bit-exactly.
    * Scale shape: the harness's one-file-per-batch staging (a hash
    * `repartition(nBatches, batchCol)` whose partitionBy writer emits
    * exactly one part per batch dir) is the replay determinism pin, not
    * a production path — live ingestion enters through the connector
    * stream, and state is one double per key in RocksDB either way. */
  def replayEwmaTws(spark: org.apache.spark.sql.SparkSession, obs: DataFrame,
                    baseDir: String,
                    batchPreds: Seq[org.apache.spark.sql.Column],
                    restartAfterBatches: Seq[Int] = Nil,
                    onRestartInfo: RestartInfo => Unit = _ => ()): DataFrame =
    replayStream(spark, obs, baseDir, batchPreds, useRocksDb = true,
      restartAfterBatches = restartAfterBatches,
      onRestartInfo = onRestartInfo) {
      stream =>
        import spark.implicits._
        ewmaStreamTws(stream.as[Obs]).toDF()
    }

  /** The generic deterministic-replay harness behind [[replayEwmaTws]]
    * (and the q250 stream-stream join row): materialize `input` into one
    * parquet file per `batchPreds` predicate with modification times
    * pinned to replay order, serve them as micro-batches through the
    * file source, run `build`'s streaming transform into a parquet sink
    * under `Trigger.AvailableNow`, and read the appended rows back as a
    * batch frame. `useRocksDb` switches the state-store provider for the
    * run (and restores the session conf after): transformWithState
    * REQUIRES RocksDB, but for the other stateful operators the replay
    * keeps the session default — at replay sizes the native store's
    * per-partition spin-up (numShufflePartitions stores per stateful
    * operator per micro-batch) dominates wall time, and the provider
    * choice is deployment config, not operator semantics. `updateMode`
    * runs the query in Update output mode through a foreachBatch
    * parquet-append sink (the parquet sink itself is append-only), for
    * transforms like [[funnelStagesStream]] that re-emit a key's row
    * when it changes. The foreachBatch append is NOT idempotent under
    * batch retry — fine here (fresh checkpoint + out dir every run, one
    * local driver, deterministic inputs), but a production update-mode
    * sink needs the batchId-keyed overwrite discipline
    * the partitioned [[RealtimeStream.merge]] implements. */
  /** What a [[replayStream]] checkpoint-restart actually did — evidence
    * for the exactly-once claim: the SAME streaming query (one `id`,
    * restored from the checkpoint) ran as TWO runs (distinct `runId`s),
    * with `commitsAfterFirst` micro-batches committed before the restart
    * and `commitsTotal` after the second run drained the rest. */
  final case class RestartInfo(queryId: java.util.UUID,
                               firstRunId: java.util.UUID,
                               secondRunId: java.util.UUID,
                               commitsAfterFirst: Int, commitsTotal: Int)

  def replayStream(spark: org.apache.spark.sql.SparkSession, input: DataFrame,
                   baseDir: String,
                   batchPreds: Seq[org.apache.spark.sql.Column],
                   useRocksDb: Boolean = false,
                   updateMode: Boolean = false,
                   onRestartInfo: RestartInfo => Unit = _ => (),
                   processingTimeDrain: Boolean = false,
                   updateSink: Option[(DataFrame, Long, String) => Unit] =
                     None,
                   // runs between each query stop and the next pending
                   // release — the window where a spec can let wall-clock
                   // state (a TTL written before the kill) expire before
                   // the resumed run observes it
                   beforeRestart: () => Unit = () => (),
                   // kill points (VERDICT r15 item 7): the query stops
                   // after batch N-1 for each N and resumes from its
                   // checkpoint; the backlog is staged into one tranche
                   // per restart, so a spec can pin e.g. a timer
                   // registered in batch 0 firing exactly once through
                   // TWO successive restores. onRestartInfo fires once
                   // per boundary.
                   restartAfterBatches: Seq[Int] = Nil)
                  (build: DataFrame => DataFrame): DataFrame = {
    // Phase-wall diagnostic (optimization measurement surface): with
    // SPARK_GRAFT_REPLAY_PHASES set, each harness phase prints its wall
    // seconds to stderr — stage (slice+write the backlog), runN (the
    // N-th streaming query incl. all its micro-batches), release (a
    // pending tranche move). Reading the sink back is the caller's.
    val phaseT0 = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    def phase(name: String): Unit =
      if (sys.env.contains("SPARK_GRAFT_REPLAY_PHASES")) {
        val now = System.nanoTime()
        Console.err.println(f"REPLAY_PHASE $name ${(now - phaseT0.get) / 1e9}%.3f")
        phaseT0.set(now)
      }
    // `updateSink` replaces the update-mode foreachBatch body with a
    // caller-supplied idempotent sink — (batch frame, batchId, out path)
    // — e.g. the partitioned RealtimeStream.merge, whose
    // latest-per-key + change-predicated merge makes a replayed batch a
    // no-op. The default parquet append is NOT idempotent under batch
    // retry (documented below); q266 runs the funnel through the merge
    // sink ACROSS a checkpoint restart to pin the Update-path
    // exactly-once claim the append variant can only scope away.
    require(updateSink.isEmpty || updateMode,
      "updateSink requires updateMode")
    // ProcessingTime-mode stateful operators (the TTL-carrying ones —
    // TTL REQUIRES TimeMode.ProcessingTime) report
    // shouldRunAnotherBatch=true unconditionally (processing time always
    // advances, so a timer/TTL could always fire), which means
    // Trigger.AvailableNow NEVER terminates on them — the engine keeps
    // scheduling no-data batches forever. `processingTimeDrain` is the
    // replay contract for that mode: pace batches with a short
    // ProcessingTime trigger, count COMMITTED input rows through a
    // listener, and stop() once every staged row is committed. No-data
    // batches emit nothing (no input rows → no handleInputRows; TTL
    // cleanup emits nothing), and the parquet sink's metadata log hides
    // any uncommitted trailing batch — so the drained sink is exactly as
    // deterministic as the AvailableNow path. Composed with
    // `restartAfterBatches` (q269), each run drains to ITS OWN committed-
    // row target: the first run to the rows staged in the released
    // batches (only those files exist, so it can never overshoot), the
    // second — with a fresh listener, counting only its own commits —
    // to the rows in the pending remainder.
    import org.apache.hadoop.fs.Path
    val fs = new Path(baseDir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(baseDir), true) // fresh replay per run
    phase("delete")
    val srcDir = new Path(s"$baseDir/src")
    // Checkpoint-restart (VERDICT r13 item 3): batches >= N stage in
    // `pending` and move into `src` only AFTER the first query has
    // drained batches 0..N-1 and committed them — then a SECOND query on
    // the SAME checkpoint restores the operator state (RocksDB/HDFS
    // ValueState, join state, …) and drains the rest. Deterministic by
    // construction: no mid-batch stop() race decides which commits
    // happened; Trigger.AvailableNow + maxFilesPerTrigger=1 drain
    // exactly the files present, oldest pinned-modtime first. The
    // restart contract being verified is the production one — a killed
    // mid-backlog query resumed from its checkpoint must produce the
    // bit-identical final sink.
    val pendingDir = new Path(s"$baseDir/pending")
    fs.mkdirs(srcDir)
    val restarts = restartAfterBatches.distinct.sorted
    restarts.foreach { n =>
      require(n >= 1 && n < batchPreds.length,
        s"restartAfterBatches must split the backlog: got $n of ${batchPreds.length} batches")
    }
    // one pending tranche per restart point: batch i waits in tranche
    // k = #(restart points <= i) until the k-th resume releases it
    restarts.indices.foreach { k =>
      fs.mkdirs(new Path(pendingDir, s"t${k + 1}"))
    }
    // Single-pass staging: ONE scan of `input` computes every batch
    // slice (first-matching-predicate wins — the replay determinism
    // contract already requires disjoint ts slices, so this is the same
    // partition the old per-predicate scans produced), one partitioned
    // write emits one file per batch. N separate scan+write jobs were
    // ~40% of a 5-batch replay row's wall time at sf0.1.
    val bName = "__replay_batch"
    val bCol = batchPreds.zipWithIndex.reverse
      .foldLeft(lit(-1)) { case (acc, (p, i)) => when(p, lit(i)).otherwise(acc) }
    val stageAll = s"$baseDir/stageall"
    // Disjointness guard, riding the staging pass for free (an
    // Observation, not a second job): the old per-predicate scans put a
    // row matching preds i AND j into BOTH batch files, first-match
    // staging puts it only in i — a silent multiset change that would
    // surface as an unexplainable hash mismatch downstream. Every
    // replay's determinism contract already requires disjoint ts
    // slices, so enforce it: each staged row must match exactly one
    // predicate.
    val nMatches = batchPreds
      .map(p => when(p, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    val obs = new org.apache.spark.sql.Observation()
    input.withColumn(bName, bCol).withColumn("__n_preds", nMatches)
      .where(col(bName) >= 0)
      .observe(obs, coalesce(sum(col("__n_preds")), lit(0L)).as("pred_matches"),
        count(lit(1)).as("rows_staged"))
      .drop("__n_preds")
      // one file per batch via a HASH repartition on the batch column —
      // each batch value lands wholly in one task, so the partitionBy
      // writer emits exactly one part per bName= dir, but the upstream
      // scan+slice runs at full parallelism. The previous coalesce(1)
      // collapsed the whole input scan into the single write task
      // (measured: 4.0 s → 1.5 s staging on q257's 200k-row backlog).
      .repartition(batchPreds.length, col(bName))
      .write.mode("overwrite").partitionBy(bName).parquet(stageAll)
    phase("stagewrite")
    val metrics = obs.get
    require(metrics("pred_matches") == metrics("rows_staged"),
      s"replayStream: batchPreds overlap (${metrics("pred_matches")} " +
        s"predicate matches over ${metrics("rows_staged")} staged rows) — " +
        "replay slices must be disjoint")
    batchPreds.zipWithIndex.foreach { case (pred, i) =>
      val slice = new Path(s"$stageAll/$bName=$i")
      val part = (if (fs.exists(slice))
          fs.listStatus(slice).map(_.getPath)
            .find(_.getName.endsWith(".parquet"))
        else None).getOrElse {
          // a predicate matching zero rows still owes the replay an
          // EMPTY micro-batch file so batch numbering stays aligned —
          // partitionBy emits no dir for it, so write the slice directly
          val tmp = s"$baseDir/tmp$i"
          input.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
          fs.listStatus(new Path(tmp)).map(_.getPath)
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"replayStream: no parquet part for batch $i"))
        }
      val tranche = restarts.count(_ <= i)
      val stage = if (tranche == 0) srcDir
        else new Path(pendingDir, s"t$tranche")
      val dst = new Path(stage, f"batch$i%03d.parquet")
      if (!fs.rename(part, dst))
        sys.error(s"replayStream: rename failed for batch $i")
      fs.setTimes(dst, 60000L * (i + 1), -1) // pin replay order
      fs.delete(new Path(s"$baseDir/tmp$i"), true)
    }
    fs.delete(new Path(stageAll), true)
    phase("stage")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    // Replay inputs are KB-sized, but every stateful operator opens one
    // state store PER SHUFFLE PARTITION per micro-batch (x2 for
    // stream-stream join sides) — at the session's 32 partitions that
    // spin-up, not work, dominated the replay rows' wall time (~24% of
    // the whole r13 bench). Results are partition-count-independent
    // (hash-checked), so the replay derives its state-partition count
    // from the STAGED BACKLOG SIZE (guide §2: partitioning sized to the
    // data, not a constant tuned for one box) — one partition per 64 MB
    // of staged input, floored at 1 and capped at the session's own
    // setting — and restores the session conf after. Every bench backlog
    // is ≤ a few MB, so replays run single-partition here (measured on
    // the 5 heaviest replay rows: 46.2 s → 41 s vs the previous fixed 4
    // — per-batch state-store commit/spin-up is per partition, and a
    // 13k-row join state does not need four stores); a 10 GB backlog
    // would get ~160 partitions up to the session cap. Production
    // sizing is the opposite call entirely: shuffle partitions there
    // are set to the cluster's parallelism, and state store instances
    // amortize across long-lived micro-batches.
    // `spark.graft.replay.statePartitions` overrides the derivation.
    val partKey = "spark.sql.shuffle.partitions"
    val savedProv = spark.conf.getOption(provKey)
    val savedPart = spark.conf.getOption(partKey)
    val stagedBytes =
      (fs.listStatus(srcDir).toSeq ++
        restarts.indices.flatMap(k =>
          fs.listStatus(new Path(pendingDir, s"t${k + 1}")).toSeq))
        .map(_.getLen).sum
    val statePartitions = spark.conf
      .getOption("spark.graft.replay.statePartitions").map(_.toInt)
      .getOrElse {
        val cap = savedPart.flatMap(_.toIntOption)
          .getOrElse(spark.sparkContext.defaultParallelism)
        if (useRocksDb)
          // transformWithState rows are CPU-bound in handleInputRows
          // (per-key JVM state machines), so parallelism tracks ROWS
          // (~50k rows/task); measured: forcing these to 1 partition
          // cost q263/q264/q265/q269 ~1 s each while buying nothing
          math.max(1, math.min(cap,
            (metrics("rows_staged").asInstanceOf[Long] / 50000L).toInt))
        else
          // HDFS-store operators (joins, dedup, window aggs) at replay
          // sizes are commit-machinery-bound: per-partition store
          // spin-up/commit dominates, so fewer stores win until the
          // per-partition DATA reaches shuffle-sized chunks (~64 MB)
          math.max(1, math.min(cap, (stagedBytes >> 26).toInt))
      }
    if (useRocksDb)
      spark.conf.set(provKey, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
    spark.conf.set(partKey, statePartitions.toString)
    try {
      def runOnce(drainTarget: Long): org.apache.spark.sql.streaming.StreamingQuery = {
        val stream = spark.readStream
          .schema(input.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$baseDir/src")
        val writer =
          if (updateMode)
            build(stream).writeStream
              .outputMode("update")
              .foreachBatch { (df: DataFrame, bid: Long) =>
                updateSink match {
                  case Some(sink) =>
                    // a user sink (q266's partitioned merge, q267's
                    // admission gate) is BATCH work — joins and
                    // aggregations sized by the batch, not stream-state
                    // machinery — so it plans at the session's own
                    // parallelism, not the replay's state-partition
                    // count (measured: the q267 gate at 1 shuffle
                    // partition lost 2.5 s/run). The stream side is
                    // unaffected: stateful-operator partitioning is
                    // pinned by the checkpoint's recorded value at
                    // query start, not by the conf mid-run.
                    // The swap must happen on df.sparkSession — the
                    // stream's cloneSession(), which captured the
                    // replay's derived statePartitions at query start
                    // and is the session both sinks plan through (r16
                    // ADVICE: swapping the OUTER session's conf here was
                    // a no-op and the sinks actually ran at the
                    // state-partition count).
                    val sess = df.sparkSession
                    val inner = sess.conf.get(partKey)
                    savedPart.fold(sess.conf.unset(partKey))(
                      sess.conf.set(partKey, _))
                    try sink(df, bid, s"$baseDir/out")
                    finally sess.conf.set(partKey, inner)
                  case None =>
                    df.write.mode("append").parquet(s"$baseDir/out"): Unit
                }
              }
          else
            build(stream).writeStream
              .format("parquet")
              .option("path", s"$baseDir/out")
              .outputMode("append")
        val withCkpt = writer.option("checkpointLocation", s"$baseDir/ckpt")
        if (!processingTimeDrain) {
          val q = withCkpt
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          q
        } else {
          // drain-then-stop: AvailableNow cannot terminate a
          // ProcessingTime-mode stateful query (see the parameter note),
          // so pace batches and stop once the listener has seen every
          // staged row COMMITTED (progress events post after commit).
          // Keyed by (query id, batchId): suites share one session, so
          // other queries' progress events must not count. Empty staged
          // files need no special case — they contribute no rows and no
          // emissions, so the sink is complete once all NONEMPTY rows
          // are committed, whatever order the empties drain in.
          val committed =
            scala.collection.concurrent.TrieMap
              .empty[(java.util.UUID, Long), Long]
          val listener =
            new org.apache.spark.sql.streaming.StreamingQueryListener {
              override def onQueryStarted(e: org.apache.spark.sql.streaming
                  .StreamingQueryListener.QueryStartedEvent): Unit = ()
              override def onQueryProgress(e: org.apache.spark.sql.streaming
                  .StreamingQueryListener.QueryProgressEvent): Unit =
                committed.put((e.progress.id, e.progress.batchId),
                  e.progress.numInputRows): Unit
              override def onQueryTerminated(e: org.apache.spark.sql
                  .streaming.StreamingQueryListener
                  .QueryTerminatedEvent): Unit = ()
            }
          spark.streams.addListener(listener)
          try {
            val q = withCkpt
              .trigger(org.apache.spark.sql.streaming.Trigger
                .ProcessingTime("100 milliseconds"))
              .start()
            val target = drainTarget
            val deadline = System.nanoTime() + 180L * 1000000000L
            def drained(): Boolean = committed.iterator
              .collect { case ((id, _), n) if id == q.id => n }
              .sum >= target
            while (!drained()) {
              q.exception.foreach(throw _)
              if (System.nanoTime() > deadline)
                { q.stop(); sys.error("replayStream: drain timed out") }
              Thread.sleep(50L)
            }
            q.stop()
            q.awaitTermination()
            q
          } finally spark.streams.removeListener(listener)
        }
      }
      def commits(): Int =
        fs.listStatus(new Path(s"$baseDir/ckpt/commits"))
          .count(_.getPath.getName.forall(_.isDigit))
      val totalStaged = metrics("rows_staged").asInstanceOf[Long]
      // drain targets per run (drain mode only): each run owes exactly
      // the rows in the files released TO it — run 0 what src holds,
      // run k its tranche — counted from the actual staged files, not
      // re-derived from the predicate split; each run's fresh listener
      // counts only its own commits
      def rowsIn(dir: Path): Long = {
        val files = fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(_.toString)
        if (files.isEmpty) 0L
        else spark.read.schema(input.schema).parquet(files: _*).count()
      }
      val firstTarget =
        if (processingTimeDrain && restarts.nonEmpty) rowsIn(srcDir)
        else totalStaged
      var prev = runOnce(firstTarget)
      phase("run0")
      restarts.indices.foreach { k =>
        val beforeKill = commits()
        beforeRestart()
        // release tranche k+1, pinned mod-times intact, and resume
        // from the checkpoint
        val tdir = new Path(pendingDir, s"t${k + 1}")
        val target =
          if (processingTimeDrain) rowsIn(tdir) else totalStaged
        fs.listStatus(tdir).foreach { st =>
          val t = st.getModificationTime
          val dst = new Path(srcDir, st.getPath.getName)
          if (!fs.rename(st.getPath, dst))
            sys.error(s"replayStream: pending release failed for ${st.getPath}")
          fs.setTimes(dst, t, -1)
        }
        val next = runOnce(target)
        phase(s"run${k + 1}")
        onRestartInfo(RestartInfo(prev.id, prev.runId, next.runId,
          beforeKill, commits()))
        prev = next
      }
    } finally {
      savedProv.fold(spark.conf.unset(provKey))(spark.conf.set(provKey, _))
      savedPart.fold(spark.conf.unset(partKey))(spark.conf.set(partKey, _))
    }
    val out = spark.read.parquet(s"$baseDir/out")
    phase("readback")
    out
  }

  /** One funnel event for [[funnelStagesStream]]: epoch seconds. */
  final case class FEvent(user_id: Long, event_type: String, ts: Long)

  /** Emitted whenever a user's funnel stage CHANGES (first batch always
    * emits the initial stage). `n_seen` counts every event the user has
    * absorbed — strictly increasing, so a sink can identify the LATEST
    * stage without relying on sink row order. */
  final case class StageUpdate(user_id: Long, stage: Int, n_seen: Long)

  /** The ordered conversion funnel over an unbounded stream — the
    * streaming twin of [[graft.analytics.Funnel.userStages]]. Per-user
    * state is the per-stage FIRST-occurrence epoch vector: mins are
    * commutative and associative, so late or out-of-order events can
    * only refine the state toward the same answer batch staging
    * computes — no watermark is needed for stage-so-far correctness,
    * and the parity spec pins streaming-final == batch on identical
    * event sets. State is stages.length longs per user, bounded. A
    * stage can move DOWN when an earlier first-occurrence arrives
    * (e.g. a late view that breaks view ≤ click) — that is batch
    * semantics too, not an artifact. */
  def funnelStagesStream(stream: Dataset[FEvent],
                         stages: Seq[String]): Dataset[StageUpdate] = {
    require(stages.nonEmpty, "stages must be non-empty")
    require(stages.distinct == stages, "stages must be distinct")
    import stream.sparkSession.implicits._
    val idx = stages.zipWithIndex.toMap
    val Absent = Long.MaxValue
    def stageOf(mins: Seq[Long]): Int = {
      var k = 0
      var ok = true
      while (ok && k < mins.length) {
        val present = mins(k) != Absent
        val ordered = k == 0 || mins(k - 1) <= mins(k)
        if (present && ordered) k += 1 else ok = false
      }
      k
    }
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Seq[Long], Int, Long), StageUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[FEvent],
         state: GroupState[(Seq[Long], Int, Long)]) =>
          val (saved, lastEmitted, seen0) = state.getOption
            .getOrElse((Seq.fill(stages.length)(Absent), -1, 0L))
          val mins = saved.toArray
          var seen = seen0
          rows.foreach { e =>
            seen += 1
            idx.get(e.event_type).foreach { i =>
              if (e.ts < mins(i)) mins(i) = e.ts
            }
          }
          val stage = stageOf(mins.toSeq)
          state.update((mins.toSeq, stage, seen))
          if (stage != lastEmitted)
            Iterator.single(StageUpdate(user, stage, seen))
          else Iterator.empty
      }
  }

  /** The current Misra–Gries candidate set of one hash bucket, re-emitted
    * every batch the bucket receives data (Update mode). `n_seen` counts
    * every row the bucket has absorbed — it is strictly increasing, so a
    * sink can always identify each bucket's LATEST snapshot. */
  final case class BucketCandidates(bucket: Int, n_seen: Long,
                                    terms: Seq[String])

  /** Streaming heavy-hitter CANDIDATES — the unbounded formulation of
    * [[graft.text.CorpusOps.heavyHitters]]'s pass 1: terms are hash-
    * partitioned into `buckets` key groups, and each group maintains ONE
    * Misra–Gries summary with `k−1` counters as keyed state that
    * persists across micro-batches (never more than `buckets × (k−1)`
    * counters total, whatever the stream's distinct-term cardinality).
    *
    * The batch operator's superset theorem carries over verbatim:
    * a term's occurrences all land in one bucket (hash partitioning),
    * and a term with global count > N/k has bucket count > n_b/k
    * (n_b ≤ N), so MG retains it — after any prefix of the stream, the
    * union of bucket candidate sets contains every term that is heavy
    * IN THAT PREFIX. Exact counts still need the batch recount pass
    * (candidates are a gate, not counts — same contract as pass 1);
    * the parity spec pins candidates ⊇ heavy(prefix) across batches.
    *
    * No watermark/timeout: MG state is size-bounded by construction, so
    * unlike window or session state it needs no time-based eviction. */
  def heavyHitterCandidatesStream(terms: Dataset[String], k: Int,
                                  buckets: Int): Dataset[BucketCandidates] = {
    require(k >= 2, "k must be >= 2")
    require(buckets >= 1, "buckets must be >= 1")
    import terms.sparkSession.implicits._
    terms.groupByKey(t => math.floorMod(t.hashCode, buckets))
      .flatMapGroupsWithState[(Long, Map[String, Long]), BucketCandidates](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bucket: Int, rows: Iterator[String],
         state: GroupState[(Long, Map[String, Long])]) =>
          val (seen0, saved) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          val counters = scala.collection.mutable.HashMap.empty[String, Long]
          counters ++= saved
          var seen = seen0
          rows.foreach { t =>
            seen += 1
            counters.get(t) match {
              case Some(c) => counters.update(t, c + 1)
              case None if counters.size < k - 1 => counters.update(t, 1L)
              case None =>
                counters.mapValuesInPlace((_, c) => c - 1)
                counters.filterInPlace((_, c) => c > 0)
            }
          }
          state.update((seen, counters.toMap))
          Iterator.single(BucketCandidates(bucket, seen,
            counters.keysIterator.toSeq.sorted))
      }
  }

  /** Streaming Count-Min sketch: because a CMS is nothing but sums over
    * a FIXED key space of depth×width cells, the streaming form is a
    * plain update-mode streaming aggregation on the cell id — Spark's
    * own state store holds exactly the depth·width counters, no custom
    * state, no watermark (the state is size-bounded by construction,
    * like the Misra-Gries pass above). Cell derivation is shared with
    * the batch operator ([[graft.operators.CountMin.cellArray]]), so
    * after any prefix of the stream the latest per-cell snapshot equals
    * the batch sketch of that prefix EXACTLY — parity pinned by
    * StreamingAnalyticsSpec. */
  def cmsStream(keys: Dataset[String], depth: Int,
                width: Int): DataFrame =
    keys.toDF("key")
      .select(explode(graft.operators.CountMin
        .cellArray(col("key"), depth, width)).as("__cell"))
      .groupBy(col("__cell.d").as("d"), col("__cell.w").as("w"))
      .agg(count(lit(1)).as("counter"))
}
