package graft
package registry

import graft.analytics.Dashboard
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The streaming replay rows (q249–q269): each stages the events table as
  * micro-batch slices, drains a stateful stream over them and reads the
  * sink back; the oracle is the batch answer the drained stream must
  * equal. */
object ReplayQueries {

  import Tables.t
  import Shared._

  /** The replay rows' micro-batch slices over column `c`: `c < k1`,
    * `c >= k1 && c < k2`, …, `c >= kN` — disjoint and ts-ordered, the
    * replay harness's determinism contract. */
  private[graft] def replaySlices(c: Column, cuts: Seq[Column]): Seq[Column] =
    ((c < cuts.head) +: cuts.zip(cuts.tail).map { case (lo, hi) =>
      c >= lo && c < hi }) :+ (c >= cuts.last)

  /** The replay rows' cut days: two ten-day slices of the events
    * history, then — for rows with sentinel batches — the June cut that
    * sets the December sentinels apart and the cut between the two
    * sentinels. Rows that slice epoch seconds use the first two. */
  private val replayCutDays =
    Seq("2024-01-11", "2024-01-21", "2024-06-01", "2024-12-15")

  private[graft] val replayTsCuts: Seq[Column] =
    replayCutDays.map(d => lit(d).cast("timestamp"))

  private[graft] val replayEpochCuts: Seq[Column] =
    replayCutDays.take(2).map(d =>
      lit(java.time.Instant.parse(s"${d}T00:00:00Z").getEpochSecond))

  val queries: Seq[Query] = Seq(
    // Spark-4 arbitrary-state path END-TO-END, hash-checked (VERDICT r12
    // item 7): the streaming EWMA recursion (y ← (x + y)/2, y₀ = x₀ —
    // q161's dyadic family, unbounded depth) runs as a
    // transformWithState StatefulProcessor on the RocksDB provider,
    // replayed over THREE deterministic micro-batches (fixed ten-day ts
    // slices of the events history, so every key's recursion crosses two
    // batch boundaries through checkpointed ValueState) into a parquet
    // sink, then read back. Observations are deduped to one per
    // (user, second) with max_by(value, event_id) — the ewmaStream
    // one-obs-per-(key, ts) contract. The oracle recomputes the
    // recursion over the FULL ordered history with a recursive CTE
    // (depth = longest per-key history, ≤99 at these SFs): identical
    // IEEE double arithmetic, one rounding per step in the same order,
    // so the hash match proves streaming-final ≡ batch recursion
    // bit-exactly through the real source → state → sink path.
    Query("q249_tws_ewma_replay", ((s, dir) => {
      val base = s"target/twsreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val obs = t(s, dir, "events").where(col("value").isNotNull)
        .groupBy(col("user_id").cast("string").as("trip_id"),
          unix_timestamp(col("ts")).as("ts"))
        .agg(max_by(col("value"), col("event_id")).as("delay_min"))
      graft.streaming.StreamingAnalytics.replayStream(s, obs, base,
          replaySlices(col("ts"), replayEpochCuts)) { st =>
          import s.implicits._
          graft.streaming.StreamingAnalytics.ewmaStreamTws(
            st.as[graft.streaming.StreamingAnalytics.Obs]).toDF()
        }
        .select(col("trip_id"), col("ts"), col("ewma"))
    }),
      // Mirrors q249: the streaming transformWithState EWMA replay emits
      // one row per absorbed observation with the running y ← (x + y)/2;
      // the recursive CTE recomputes the identical recursion over the full
      // (trip, ts)-ordered deduped history — same double arithmetic, same
      // rounding order, so batch recursion ≡ streaming-final bit-exactly.
      Some("""WITH RECURSIVE obs AS (
        |  SELECT CAST(user_id AS VARCHAR) AS trip_id,
        |    FLOOR(epoch(ts))::BIGINT AS ts,
        |    arg_max(value, event_id) AS delay_min
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2),
        |h AS (
        |  SELECT trip_id, ts, delay_min,
        |    row_number() OVER (PARTITION BY trip_id ORDER BY ts ASC) AS rn
        |  FROM obs),
        |r AS (
        |  SELECT trip_id, ts, rn, delay_min AS ewma FROM h WHERE rn = 1
        |  UNION ALL
        |  SELECT h.trip_id, h.ts, h.rn, (h.delay_min + r.ewma) / 2.0 AS ewma
        |  FROM h JOIN r ON h.trip_id = r.trip_id AND h.rn = r.rn + 1)
        |SELECT trip_id, ts, ewma FROM r""".stripMargin)),

    // Stream-stream INTERVAL JOIN end-to-end, hash-checked: clicks and
    // purchases split from ONE replayed source (three ts-ordered slices,
    // q249's harness) and joined per user within ±1 h of event time —
    // the unbounded formulation of q70's range join, through the real
    // symmetric-hash-join state machine on RocksDB. Determinism argument
    // (why a streaming emit set can hash-match a batch oracle): slices
    // are disjoint ts ranges served in order, so no row ever arrives
    // below the watermark (nothing is dropped late), and a row is only
    // EVICTED from join state when watermark > its interval's far edge —
    // at which point every future row's ts exceeds that edge by ≥ the
    // 1 h delay, so eviction can never lose a match. Emitted set ≡ the
    // batch interval join over the full data, which the oracle computes
    // directly. Right-side columns are re-aliased BEFORE the join: both
    // sides derive from one source, and fresh attribute ids are what
    // keep the self-join condition unambiguous. State at 100 TB rates:
    // per-side retention = interval width + watermark delay, the
    // stream-stream contract (scaladoc at intervalJoinStream).
    Query("q250_stream_join_replay", ((s, dir) => {
      val base = s"target/sjreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev, base,
          replaySlices(col("ts"), replayTsCuts.take(2))) { st =>
          val l = st.where(col("event_type") === "click")
            .select(col("event_id").as("l_event_id"), col("user_id"),
              col("ts").as("l_ts"))
            .withWatermark("l_ts", "1 hour")
          val r = st.where(col("event_type") === "purchase")
            .select(col("event_id").as("r_event_id"),
              col("user_id").as("r_user_id"), col("ts").as("r_ts"))
            .withWatermark("r_ts", "1 hour")
          l.join(r, col("user_id") === col("r_user_id") &&
              col("r_ts") >= col("l_ts") - expr("INTERVAL 3600 seconds") &&
              col("r_ts") <= col("l_ts") + expr("INTERVAL 3600 seconds"))
            .select(col("l_event_id"), col("user_id"), col("r_event_id"),
              unix_timestamp(col("l_ts")).as("l_ts_epoch"),
              unix_timestamp(col("r_ts")).as("r_ts_epoch"))
        }
        .select("l_event_id", "user_id", "r_event_id", "l_ts_epoch",
          "r_ts_epoch")
    }),
      // Mirrors q250: the streaming interval join's emitted set over the
      // ordered replay equals the batch interval join (microsecond
      // timestamp arithmetic on both sides; epochs only in output).
      Some("""SELECT l.event_id AS l_event_id, l.user_id AS user_id,
        |  r.event_id AS r_event_id,
        |  FLOOR(epoch(l.ts))::BIGINT AS l_ts_epoch,
        |  FLOOR(epoch(r.ts))::BIGINT AS r_ts_epoch
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'click' AND r.event_type = 'purchase'
        | AND r.ts >= l.ts - INTERVAL 3600 SECOND
        | AND r.ts <= l.ts + INTERVAL 3600 SECOND""".stripMargin)),

    // Streaming DEDUPLICATION within the watermark, hash-checked — the
    // exactly-once ingestion gate every at-least-once delivery needs
    // (retried feed fetches, replayed Kafka offsets): every 10th event
    // is injected TWICE into the replayed source and
    // dropDuplicatesWithinWatermark("event_id") must drop exactly the
    // second copies, so the sink equals the original events verbatim —
    // which is the oracle. The within-watermark variant is the 100 TB
    // shape: plain dropDuplicates keeps every key forever, this one
    // EVICTS ids once the watermark passes (state = ids within one
    // disorder bound, not the stream's history). Copies are bit-identical
    // rows, so whichever arrival survives, the output is deterministic.
    Query("q251_stream_dedup_replay", ((s, dir) => {
      val base = s"target/sdreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events").select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      val withDups = ev.unionAll(ev.where(col("event_id") % 10L === 0L))
      graft.streaming.StreamingAnalytics.replayStream(s, withDups, base,
          replaySlices(col("ts"), replayTsCuts.take(2))) { st =>
          st.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id")
            .select(col("event_id"), col("user_id"), col("event_type"),
              unix_timestamp(col("ts")).as("ts_epoch"), col("value"))
        }
        .select("event_id", "user_id", "event_type", "ts_epoch", "value")
    }),
      // Mirrors q251: the duplicates are injected Spark-side only, and the
      // within-watermark dedup must drop exactly them — so the oracle is
      // the original events verbatim.
      Some("""SELECT event_id, user_id, event_type,
        |  FLOOR(epoch(ts))::BIGINT AS ts_epoch, value
        |FROM events""".stripMargin)),

    // Watermark-FINALIZED windowed aggregation, hash-checked — A1's
    // streaming twin (delayByWindow's semantics) promoted from spec to
    // registry row: 6-hour tumbling event-time windows over the replayed
    // events, append mode, so a window reaches the sink ONLY once the
    // watermark passes its end (the finalize-and-evict contract that
    // bounds state at unbounded rates). Two sentinel rows in their own
    // trailing batches (Dec 1, Dec 31) push the watermark past every
    // real window — emission happens in sentinel B's DATA batch, with no
    // reliance on no-data micro-batch behavior — and the June cutoff
    // after read-back excludes whichever sentinel windows any Spark
    // version chooses to finalize. Exact-decimal accumulation keeps the
    // average partition-order-independent, like the batch Dashboard.
    Query("q252_stream_window_agg_replay", ((s, dir) => {
      import s.implicits._
      val base = s"target/swreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events").where(col("value").isNotNull)
        .select(col("ts"), col("value"))
      val sent = Seq("2024-12-01 00:00:00", "2024-12-31 00:00:00")
        .toDF("ts_str")
        .select(to_timestamp(col("ts_str")).as("ts"), lit(0.0).as("value"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev.unionAll(sent),
          base, replaySlices(col("ts"), replayTsCuts)) { st =>
          st.withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "6 hours"))
            .agg(Dashboard.exactAvg(col("value")).as("avg_value"),
              count(lit(1)).as("n_rows"))
            .select(unix_timestamp(col("window.start"))
              .as("window_start_epoch"), col("avg_value"), col("n_rows"))
        }
        .where(col("window_start_epoch") <
          lit(java.time.Instant.parse("2024-06-01T00:00:00Z")
            .getEpochSecond))
        .select("window_start_epoch", "avg_value", "n_rows")
    }),
      // Mirrors q252: UTC-aligned 6 h tumbling windows via integer epoch
      // division (Spark's window() boundaries are the same multiples of
      // 21600 s; flooring to seconds first cannot move a row across a
      // boundary), exact-decimal average. The June-1 window cutoff the
      // Spark side applies after read-back (to exclude whichever sentinel
      // windows a Spark version finalizes) is mirrored HERE too, so parity
      // holds whatever time span the dataset covers — not just because the
      // generated events happen to end before June (r13 ADVICE).
      Some(s"""WITH e AS (
         |  SELECT FLOOR(epoch(ts))::BIGINT AS tse, value
         |  FROM events WHERE value IS NOT NULL)
         |SELECT (tse // 21600) * 21600 AS window_start_epoch,
         |  ${exactAvgSql("value")} AS avg_value,
         |  count(*) AS n_rows
         |FROM e
         |WHERE (tse // 21600) * 21600 < 1717200000
         |GROUP BY 1""".stripMargin)),

    // Stream-STATIC anti join, hash-checked — the third §2.9 join
    // mechanism (after q250's stream-stream and q112's foreachBatch
    // merge): the replayed stream deduplicates against a STATIC
    // already-ingested snapshot (every third event id), so only novel
    // rows reach the sink. Stateless per micro-batch — the static side
    // is (re)planned into each batch as a broadcast hash join at this
    // size; at 100 TB the same plan takes a bucketed or
    // bloom-pre-filtered static side, but the join mechanism and its
    // exactly-these-rows semantics are what this row pins. The oracle is
    // the complement filter directly.
    Query("q253_stream_static_anti_join", ((s, dir) => {
      val base = s"target/ssreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events").select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"))
      val seen = ev.where(col("event_id") % 3L === 0L)
        .select(col("event_id").as("seen_id"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev, base,
          replaySlices(col("ts"), replayTsCuts.take(2))) { st =>
          st.join(seen, col("event_id") === col("seen_id"), "left_anti")
            .select(col("event_id"), col("user_id"), col("event_type"),
              unix_timestamp(col("ts")).as("ts_epoch"))
        }
        .select("event_id", "user_id", "event_type", "ts_epoch")
    }),
      // Mirrors q253: the anti join against the static every-third-id
      // snapshot is the complement filter.
      Some("""SELECT event_id, user_id, event_type,
        |  FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |FROM events WHERE event_id % 3 <> 0""".stripMargin)),

    // flatMapGroupsWithState end-to-end, hash-checked — the replay
    // promotion of the late-streak state machine (q249 covered the
    // Spark-4 transformWithState API; this covers the classic arbitrary-
    // state API the §2.9 specs pin). lateStreaks emits one row PER
    // OBSERVATION THAT CHANGES the streak, folding within-batch rows in
    // ts order — so the emitted set is batch-boundary-INDEPENDENT
    // (every late row changes the streak; a non-late row changes it only
    // when the previous observation was late), which is exactly the
    // window-function complement the oracle computes: streak = count of
    // late rows since the last reset, emitted WHERE late OR prev_late.
    // Same one-obs-per-(key, ts) dedup contract as q249.
    Query("q254_fmgws_streak_replay", ((s, dir) => {
      import s.implicits._
      val base = s"target/skreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val obs = t(s, dir, "events").where(col("value").isNotNull)
        .groupBy(col("user_id").cast("string").as("trip_id"),
          unix_timestamp(col("ts")).as("ts"))
        .agg(max_by(col("value"), col("event_id")).as("delay_min"))
      graft.streaming.StreamingAnalytics.replayStream(s, obs, base,
          replaySlices(col("ts"), replayEpochCuts)) { st =>
          graft.streaming.StreamingAnalytics.lateStreaks(
            st.as[graft.streaming.StreamingAnalytics.Obs],
            lateThreshold = 50.0).toDF()
        }
        .select(col("trip_id"), col("ts"),
          col("streak").cast("long").as("streak"))
    }),
      // Mirrors q254: streak = late rows since the last reset (count over
      // the reset-group), emitted where the streak changed — late rows
      // always change it; a non-late row changes it iff the previous
      // observation (per key, default false before the first) was late.
      Some("""WITH obs AS (
        |  SELECT CAST(user_id AS VARCHAR) AS trip_id,
        |    FLOOR(epoch(ts))::BIGINT AS ts,
        |    arg_max(value, event_id) AS v
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2),
        |o2 AS (
        |  SELECT trip_id, ts, (v > 50.0) AS late,
        |    lag((v > 50.0), 1, false)
        |      OVER (PARTITION BY trip_id ORDER BY ts) AS prev_late
        |  FROM obs),
        |g AS (
        |  SELECT trip_id, ts, late, prev_late,
        |    sum(CASE WHEN late THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY trip_id ORDER BY ts) AS grp
        |  FROM o2),
        |st AS (
        |  SELECT trip_id, ts, late, prev_late,
        |    sum(CASE WHEN late THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY trip_id, grp ORDER BY ts) AS streak
        |  FROM g)
        |SELECT trip_id, ts, CAST(streak AS BIGINT) AS streak
        |FROM st WHERE late OR prev_late""".stripMargin)),

    // Streaming gap-SESSIONIZATION end-to-end, hash-checked — q44's
    // unbounded sibling through the replay harness: per-user 6-hour-gap
    // sessions seal (and emit) only once the watermark clears their gap
    // deadline, idle keys sealing via EventTimeTimeout. The two sentinel
    // batches advance the watermark past every real deadline inside a
    // DATA batch (q252's trick; the sentinels use their own key and are
    // filtered after read-back, so whether any Spark version's no-data
    // batch seals THEIR sessions is irrelevant). The emitted set is
    // batch-boundary-independent — the state machine holds EVERY
    // unsealed session per key, so merges/bridges resolve identically
    // however arrivals slice — and equals batch gap-sessionization,
    // which the oracle computes with q44's lag + running-sum spelling
    // rolled up to (session, bounds, count).
    Query("q255_session_stream_replay", ((s, dir) => {
      import s.implicits._
      val base = s"target/ssnreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("user_id").cast("string").as("key"),
          col("ts").as("event_time"))
      val sent = Seq("2024-12-01 00:00:00", "2024-12-31 00:00:00")
        .toDF("ts_str")
        .select(lit("zz_sentinel").as("key"),
          to_timestamp(col("ts_str")).as("event_time"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev.unionAll(sent),
          base, replaySlices(col("event_time"), replayTsCuts)) { st =>
          graft.streaming.StreamingAnalytics.sessionizeStream(
            st.as[graft.streaming.StreamingAnalytics.SEvent],
            gapSeconds = 21600L).toDF()
        }
        .where(col("key") =!= "zz_sentinel")
        .select("key", "start_epoch", "end_epoch", "n_events")
    }),
      // Mirrors q255: q44's boundary spelling (diff > gap starts a new
      // session; equal-epoch ties land in the same session whatever the
      // lag order) rolled up to one row per session. The sentinels exist
      // only Spark-side under their own key.
      Some("""WITH e AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    FLOOR(epoch(ts))::BIGINT AS tse
        |  FROM events),
        |d AS (
        |  SELECT key, tse,
        |    lag(tse) OVER (PARTITION BY key ORDER BY tse ASC) AS prev
        |  FROM e),
        |g AS (
        |  SELECT key, tse,
        |    sum(CASE WHEN prev IS NULL OR tse - prev > 21600
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY key ORDER BY tse ASC
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT key, min(tse) AS start_epoch, max(tse) AS end_epoch,
        |  count(*) AS n_events
        |FROM g GROUP BY key, sid""".stripMargin)),

    // Streaming conversion FUNNEL end-to-end, hash-checked — the last of
    // the four custom state machines (after EWMA q249, streaks q254,
    // sessions q255), and the Update-mode path: funnelStagesStream emits
    // a user's (stage, n_seen) whenever a micro-batch CHANGES the stage
    // (first batch with events always emits; a late earlier
    // first-occurrence can move the stage DOWN), through the replay
    // harness's foreachBatch parquet-append sink. Emissions are a
    // function of the batch CUTS (unlike q254's per-observation rows),
    // and the cuts are fixed — so the oracle recomputes the three
    // cumulative snapshots directly: per (user, batch) the stage chain
    // over cumulative first-occurrence minimums and the cumulative event
    // count, emitted where the stage differs from the user's previous
    // ACTIVE batch (lastEmitted always equals the previous active
    // batch's stage, emitted or not, because not-emitting means equal).
    Query("q256_funnel_stream_replay", ((s, dir) => {
      import s.implicits._
      val base = s"target/fnreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev, base,
          replaySlices(col("ts"), replayEpochCuts), updateMode = true) { st =>
          graft.streaming.StreamingAnalytics.funnelStagesStream(
            st.as[graft.streaming.StreamingAnalytics.FEvent],
            stages = Seq("view", "click", "purchase")).toDF()
        }
        .select(col("user_id"), col("stage").cast("long").as("stage"),
          col("n_seen"))
    }),
      // Mirrors q256: three cumulative snapshots at the fixed batch cuts;
      // stage = the view <= click <= purchase chain over cumulative
      // first-occurrence minimums (a missing or out-of-order stage breaks
      // it); n_seen counts ALL events (stage-typed or not); emit on the
      // user's active batches where the stage differs from the previous
      // active batch's (first active batch compares against -1).
      Some("""WITH ev AS (
        |  SELECT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS tse
        |  FROM events),
        |bt AS (
        |  SELECT user_id, event_type, tse,
        |    CASE WHEN tse < 1704931200 THEN 0
        |         WHEN tse < 1705795200 THEN 1 ELSE 2 END AS b
        |  FROM ev),
        |k AS (SELECT * FROM (VALUES (0), (1), (2)) t(k)),
        |agg AS (
        |  SELECT e.user_id, k.k,
        |    count(*) AS n_seen,
        |    min(CASE WHEN event_type = 'view' THEN tse END) AS m0,
        |    min(CASE WHEN event_type = 'click' THEN tse END) AS m1,
        |    min(CASE WHEN event_type = 'purchase' THEN tse END) AS m2
        |  FROM bt e JOIN k ON e.b <= k.k
        |  GROUP BY e.user_id, k.k),
        |act AS (SELECT DISTINCT user_id, b AS k FROM bt),
        |st AS (
        |  SELECT a.user_id, a.k, a.n_seen,
        |    CASE WHEN m0 IS NULL THEN 0
        |         WHEN m1 IS NULL OR m1 < m0 THEN 1
        |         WHEN m2 IS NULL OR m2 < m1 THEN 2
        |         ELSE 3 END AS stage
        |  FROM agg a JOIN act USING (user_id, k)),
        |sel AS (
        |  SELECT user_id, k, n_seen, stage,
        |    lag(stage, 1, -1) OVER (PARTITION BY user_id ORDER BY k)
        |      AS prev_stage
        |  FROM st)
        |SELECT user_id, CAST(stage AS BIGINT) AS stage, n_seen
        |FROM sel WHERE stage <> prev_stage""".stripMargin)),

    // Streaming near-dup ADMISSION GATE, hash-checked (VERDICT r14 item
    // 5) — the 100 TB ingestion shape the batch dedup ladder feeds:
    // documents arrive in id-ordered micro-batches and each batch is
    // admitted against the ACCUMULATED corpus — exact gate
    // (min-id-per-text, incrementally), then poly-LSH banding probed
    // against the persisted band-postings state, then exact-Jaccard
    // verification (τ = 0.5) — q253's stream-static pattern composed
    // with q58/q59's gate, with the static side now GROWING as state.
    // Buckets uncapped (a gate must not silently skip, and incremental
    // caps would diverge from the batch answer mid-stream), so the
    // final admitted set equals the batch answer by construction: a doc
    // is admitted iff its text is the first of its kind AND it has no
    // verified pair with any smaller-id exact-survivor — which the
    // oracle computes as q58(uncapped)→q59→drop-the-larger plus the
    // exact-dup clause. AdmissionGateSpec pins the gate's semantics on
    // a crafted feed (chain case included: a doc near-dup of a REJECTED
    // doc is still rejected — the index accumulates survivors of the
    // exact gate, not of admission).
    Query("q267_stream_admission_gate", ((s, dir) => {
      val base = s"target/agreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // Bucket counts sized to the CORPUS, not a constant (guide §6
      // small-file discipline + §2 data-sized partitioning): ~4 MB of
      // corpus per state bucket, read from plan statistics (driver-side,
      // no job), floored at 1 and capped at 4096 (the per-batch
      // driver-side metadata budget — bid= generations fold via
      // Compaction in production). Admission semantics are
      // bucket-count-INDEPENDENT (see AdmissionGate scaladoc: buckets
      // bound file pruning only), so this changes file counts, never
      // results: at bench scale one bucket per index (4 files/batch
      // instead of 49), at 100 TB the cap keeps per-batch probe IO at
      // footprint × corpus ÷ buckets. Fixed at query build so every
      // batch of the run shares one modulus (pruning correctness).
      val corpusBytes =
        docs.queryExecution.optimizedPlan.stats.sizeInBytes
      val stateBuckets = BigInt(1).max(
        BigInt(4096).min(corpusBytes >> 22)).toInt
      graft.streaming.StreamingAnalytics.replayStream(s, docs, base,
          replaySlices(col("doc_id"), Seq(100L, 250L, 450L).map(lit(_))),
          updateSink = Some { (df, bid, out) =>
            graft.streaming.AdmissionGate.admitBatch(df, out, bid,
              docBuckets = stateBuckets, bandBuckets = stateBuckets)
          })(st => st)
        .select("doc_id")
    }),
      // Mirrors q267: the streaming admission gate's final admitted set is
      // BY CONSTRUCTION the batch answer — q58's candidate pipeline with
      // the bucket cap effectively removed (the gate never caps), verified
      // at τ = 0.5 (q59's verification verbatim), a doc rejected when it is
      // the LARGER side of any verified pair; plus the exact gate — any
      // doc whose text appeared under a smaller id. Batching cannot move
      // the answer because slices are id-ordered and the posting state
      // accumulates every exact-survivor.
      Some(polyCandCtes(64, 16, 1000000000) +
      """ver AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c
        |  JOIN shf a ON c.id_a = a.doc_id
        |  JOIN shf b ON c.id_b = b.doc_id
        |  WHERE CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
        |    (CAST(len(a.sg) + len(b.sg) AS DOUBLE)
        |      - CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)) >= 0.5),
        |exact_late AS (
        |  SELECT d.doc_id FROM documents d
        |  WHERE EXISTS (SELECT 1 FROM documents e
        |                WHERE e.text = d.text AND e.doc_id < d.doc_id)),
        |near_late AS (SELECT DISTINCT id_b AS doc_id FROM ver)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM exact_late)
        |  AND doc_id NOT IN (SELECT doc_id FROM near_late)""".stripMargin)),

    // LEFT OUTER stream-stream interval join, hash-checked — q250's
    // outer sibling, and a semantics the inner join cannot show: an
    // unmatched click is declared unmatched (null-extended) only once
    // the WATERMARK passes its interval's far edge, the same bound that
    // evicts it from join state. Sentinel rows carry BOTH side types
    // (watermarks are per input, taken after the type filters, and the
    // join's effective watermark is their minimum — a one-sided sentinel
    // would stall it) under negative user ids in two trailing batches:
    // after the second, the watermark sits an hour before the FIRST
    // sentinel, far past every real click's edge, so every real
    // unmatched left null-extends inside a DATA batch; whether any
    // no-data batch later seals the sentinels' own rows is irrelevant —
    // the user_id >= 0 filter drops them. Emitted set ≡ the batch LEFT
    // JOIN, which the oracle computes directly.
    Query("q257_stream_outer_join_replay", ((s, dir) => {
      val base = s"target/sojreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val sentRows = Seq(
        ("2024-12-01 00:00:00", -1L, "click", -101L),
        ("2024-12-01 00:00:00", -2L, "purchase", -102L),
        ("2024-12-31 00:00:00", -3L, "click", -103L),
        ("2024-12-31 00:00:00", -4L, "purchase", -104L))
      val sent = {
        import s.implicits._
        sentRows.toDF("ts_str", "uid", "etype", "eid")
          .select(col("eid").as("event_id"),
            to_timestamp(col("ts_str")).as("ts"), col("uid").as("user_id"),
            col("etype").as("event_type"))
      }
      graft.streaming.StreamingAnalytics.replayStream(s, ev.unionAll(sent),
          base, replaySlices(col("ts"), replayTsCuts)) { st =>
          val l = st.where(col("event_type") === "click")
            .select(col("event_id").as("l_event_id"), col("user_id"),
              col("ts").as("l_ts"))
            .withWatermark("l_ts", "1 hour")
          val r = st.where(col("event_type") === "purchase")
            .select(col("event_id").as("r_event_id"),
              col("user_id").as("r_user_id"), col("ts").as("r_ts"))
            .withWatermark("r_ts", "1 hour")
          l.join(r, col("user_id") === col("r_user_id") &&
              col("r_ts") >= col("l_ts") - expr("INTERVAL 3600 seconds") &&
              col("r_ts") <= col("l_ts") + expr("INTERVAL 3600 seconds"),
              "leftOuter")
            .select(col("l_event_id"), col("user_id"), col("r_event_id"),
              unix_timestamp(col("l_ts")).as("l_ts_epoch"),
              unix_timestamp(col("r_ts")).as("r_ts_epoch"))
        }
        .where(col("user_id") >= 0L)
        .select("l_event_id", "user_id", "r_event_id", "l_ts_epoch",
          "r_ts_epoch")
    }),
      // Mirrors q257: the batch LEFT JOIN with the identical interval
      // condition. The sentinels exist only Spark-side under negative ids,
      // and the Spark side's user_id >= 0 sentinel exclusion is mirrored
      // HERE too (a no-op on real events, which carry non-negative ids),
      // so parity is spelled on both sides instead of depending on the
      // generator never emitting a negative user id (r13 ADVICE).
      Some("""SELECT l.event_id AS l_event_id, l.user_id AS user_id,
        |  r.event_id AS r_event_id,
        |  FLOOR(epoch(l.ts))::BIGINT AS l_ts_epoch,
        |  FLOOR(epoch(r.ts))::BIGINT AS r_ts_epoch
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts - INTERVAL 3600 SECOND
        | AND r.ts <= l.ts + INTERVAL 3600 SECOND
        |WHERE l.user_id >= 0""".stripMargin)),

    // Checkpoint-RESTART exactly-once, hash-checked (VERDICT r13 item 3)
    // — the one production claim the single-run replays never tested:
    // kill a stateful query mid-backlog, restart from the checkpoint,
    // and the final sink must be bit-identical. Same transformWithState
    // EWMA + RocksDB ValueState as q249, same three-batch backlog, but
    // the harness releases only batch 0 to the FIRST query (which drains
    // it, commits, and stops), then starts a SECOND query on the same
    // checkpoint that restores every key's checkpointed double and
    // drains batches 1-2 — the recursion crosses the restart boundary
    // through restored state, not memory. Deterministic by construction
    // (file release, not a mid-batch stop() race); the oracle is q249's
    // full-history recursive CTE, because a restart that changes ANY
    // emitted value breaks the hash. RestartSpec separately pins that
    // the restart really split the run (one query id, two runIds, 1 then
    // 3 commits). This is the reference's restartable-extractor contract
    // (reference/scripts/realtime_extractor.py:127-143) on Spark's
    // checkpoint mechanism.
    Query("q258_tws_restart_replay", ((s, dir) => {
      val base = s"target/twsrestart_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val obs = t(s, dir, "events").where(col("value").isNotNull)
        .groupBy(col("user_id").cast("string").as("trip_id"),
          unix_timestamp(col("ts")).as("ts"))
        .agg(max_by(col("value"), col("event_id")).as("delay_min"))
      graft.streaming.StreamingAnalytics.replayStream(s, obs, base,
          replaySlices(col("ts"), replayEpochCuts),
          restartAfterBatches = Seq(1)) { st =>
          import s.implicits._
          graft.streaming.StreamingAnalytics.ewmaStreamTws(
            st.as[graft.streaming.StreamingAnalytics.Obs]).toDF()
        }
        .select(col("trip_id"), col("ts"), col("ewma"))
    }),
      // Mirrors q258: a checkpoint restart must not change ANY emitted
      // value, so the oracle is deliberately q249's verbatim — the same
      // full-history recursion the single-run replay matches.
      Some("""WITH RECURSIVE obs AS (
        |  SELECT CAST(user_id AS VARCHAR) AS trip_id,
        |    FLOOR(epoch(ts))::BIGINT AS ts,
        |    arg_max(value, event_id) AS delay_min
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2),
        |h AS (
        |  SELECT trip_id, ts, delay_min,
        |    row_number() OVER (PARTITION BY trip_id ORDER BY ts ASC) AS rn
        |  FROM obs),
        |r AS (
        |  SELECT trip_id, ts, rn, delay_min AS ewma FROM h WHERE rn = 1
        |  UNION ALL
        |  SELECT h.trip_id, h.ts, h.rn, (h.delay_min + r.ewma) / 2.0 AS ewma
        |  FROM h JOIN r ON h.trip_id = r.trip_id AND h.rn = r.rn + 1)
        |SELECT trip_id, ts, ewma FROM r""".stripMargin)),

    // CHAINED stateful operators in one streaming query, hash-checked
    // (VERDICT r13 item 4) — real pipelines are chains, and watermark
    // propagation ACROSS two stateful operators is a semantics class no
    // single-operator row touches: dropDuplicatesWithinWatermark (q251's
    // operator, guarding an at-least-once source whose every 10th event
    // arrives twice) feeds the watermark-finalized 6 h windowed average
    // (q252's operator) in ONE query — dedup state evicts as the
    // watermark advances, and the SAME watermark, propagated through the
    // dedup, finalizes and evicts the windows downstream. The injected
    // duplicates make the chain order observable: if the aggregate ran
    // first (or dedup failed), every tenth event would count twice and
    // the hash would break. Sentinel rows (q252's trick, under fresh
    // negative event ids that pass the dedup untouched) force
    // finalization inside a data batch; the June cutoff — mirrored in
    // the oracle — excludes their windows. ChainedStatefulSpec pins two
    // stateful operators in the one executed query.
    Query("q259_chained_stateful_replay", ((s, dir) => {
      import s.implicits._
      val base = s"target/chreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_id"), col("ts"), col("value"))
      val withDups = ev.unionAll(ev.where(col("event_id") % 10L === 0L))
      val sent = Seq(("2024-12-01 00:00:00", -1L),
          ("2024-12-31 00:00:00", -2L))
        .toDF("ts_str", "sid")
        .select(col("sid").as("event_id"),
          to_timestamp(col("ts_str")).as("ts"), lit(0.0).as("value"))
      graft.streaming.StreamingAnalytics.replayStream(s,
          withDups.unionAll(sent), base,
          replaySlices(col("ts"), replayTsCuts)) { st =>
          st.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("event_id")
            .groupBy(window(col("ts"), "6 hours"))
            .agg(Dashboard.exactAvg(col("value")).as("avg_value"),
              count(lit(1)).as("n_rows"))
            .select(unix_timestamp(col("window.start"))
              .as("window_start_epoch"), col("avg_value"), col("n_rows"))
        }
        .where(col("window_start_epoch") <
          lit(java.time.Instant.parse("2024-06-01T00:00:00Z")
            .getEpochSecond))
        .select("window_start_epoch", "avg_value", "n_rows")
    }),
      // Mirrors q259: the injected duplicates are dropped by the upstream
      // dedup (they exist Spark-side only), so the chained query's windows
      // equal q252's single-operator windows — same 6 h epoch-division
      // spelling, same mirrored June cutoff (the sentinels' windows fall
      // past it on both sides by construction).
      Some(s"""WITH e AS (
         |  SELECT FLOOR(epoch(ts))::BIGINT AS tse, value
         |  FROM events WHERE value IS NOT NULL)
         |SELECT (tse // 21600) * 21600 AS window_start_epoch,
         |  ${exactAvgSql("value")} AS avg_value,
         |  count(*) AS n_rows
         |FROM e
         |WHERE (tse // 21600) * 21600 < 1717200000
         |GROUP BY 1""".stripMargin)),

    // Native session_window PARITY, hash-checked (VERDICT r13 item 5) —
    // the one-liner a user reaches for before q255's custom sessionizer:
    // groupBy(key, session_window(ts, gap)) with count/min/max rolls the
    // same 6 h-gap sessions up to the same (key, bounds, count) rows.
    // Boundary semantics verified empirically and pinned by
    // SessionWindowParitySpec: an event exactly `gap` after a session's
    // last event MERGES in both (native windows are [t, t+gap) per event
    // and merge on touch-or-overlap; the custom machine and the q44/q255
    // oracle spell it `diff > gap` starts new) — so the two sessionizers
    // agree row-for-row on in-order replays and this row shares q255's
    // oracle. The spec also pins agreement on the harder case — an
    // out-of-order within-watermark arrival BRIDGING two open sessions,
    // which native merges in state just like the custom machine — and
    // surfaces the one observed delta: a row exactly AT the watermark is
    // filtered as late before either operator sees it. Session bounds
    // aggregate as min/max of the event time itself (native window.end
    // is last + gap, a different quantity than q255's last-event epoch).
    // Sentinels under their own key advance the watermark so every real
    // session finalizes inside a data batch, then filter out.
    Query("q260_session_window_native", ((s, dir) => {
      import s.implicits._
      val base = s"target/snwreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      // Floor event time to whole seconds BEFORE session_window: the
      // shared oracle (and the q255/q263 machines via getTime/1000)
      // sessionizes on floor(epoch(ts)). Native touch-or-overlap at
      // microsecond precision is NOT equivalent — two events whose
      // floored diff is exactly the 21600 s gap but whose real diff is
      // 21600.x s would merge in the oracle and split natively (sf0.1
      // contains such a pair: user 805, 03:45:35.128715 → 09:45:35.843098).
      // Flooring is monotone and <1 s, so the replay slice cuts (at
      // midnight boundaries) and ts-ordering are unaffected.
      val ev = t(s, dir, "events")
        .select(col("user_id").cast("string").as("key"),
          timestamp_seconds(unix_timestamp(col("ts"))).as("event_time"))
      val sent = Seq("2024-12-01 00:00:00", "2024-12-31 00:00:00")
        .toDF("ts_str")
        .select(lit("zz_sentinel").as("key"),
          to_timestamp(col("ts_str")).as("event_time"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev.unionAll(sent),
          base, replaySlices(col("event_time"), replayTsCuts)) { st =>
          st.withWatermark("event_time", "0 seconds")
            .groupBy(col("key"),
              session_window(col("event_time"), "6 hours"))
            .agg(min(unix_timestamp(col("event_time"))).as("start_epoch"),
              max(unix_timestamp(col("event_time"))).as("end_epoch"),
              count(lit(1)).as("n_events"))
            .select(col("key"), col("start_epoch"), col("end_epoch"),
              col("n_events"))
        }
        .where(col("key") =!= "zz_sentinel")
        .select("key", "start_epoch", "end_epoch", "n_events")
    }),
      // Mirrors q260: native session_window merges an event exactly `gap`
      // after a session's last event (touch-or-overlap, verified
      // empirically and spec-pinned), which is precisely q44/q255's
      // `diff > gap starts a new session` spelling — so the native
      // one-liner shares the custom sessionizer's oracle verbatim.
      Some("""WITH e AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    FLOOR(epoch(ts))::BIGINT AS tse
        |  FROM events),
        |d AS (
        |  SELECT key, tse,
        |    lag(tse) OVER (PARTITION BY key ORDER BY tse ASC) AS prev
        |  FROM e),
        |g AS (
        |  SELECT key, tse,
        |    sum(CASE WHEN prev IS NULL OR tse - prev > 21600
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY key ORDER BY tse ASC
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT key, min(tse) AS start_epoch, max(tse) AS end_epoch,
        |  count(*) AS n_events
        |FROM g GROUP BY key, sid""".stripMargin)),

    // Checkpoint-restart for stream-stream JOIN state, hash-checked —
    // q258 pinned restart for one double of ValueState; this pins it for
    // the symmetric-hash-join state machine, a different restore path
    // entirely: batch 0's buffered clicks and purchases come back from
    // the checkpointed join state after the restart, and batches 1-2's
    // arrivals must still find them to emit their cross-batch matches.
    // Same query as q250, same oracle (a restart that loses or
    // duplicates buffered rows breaks the hash); the mid-backlog split
    // is the deterministic file-release mechanism, and the parquet
    // sink's metadata log spans both runs.
    Query("q261_stream_join_restart", ((s, dir) => {
      val base = s"target/sjrestart_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev, base,
          replaySlices(col("ts"), replayTsCuts.take(2)),
          restartAfterBatches = Seq(1)) { st =>
          val l = st.where(col("event_type") === "click")
            .select(col("event_id").as("l_event_id"), col("user_id"),
              col("ts").as("l_ts"))
            .withWatermark("l_ts", "1 hour")
          val r = st.where(col("event_type") === "purchase")
            .select(col("event_id").as("r_event_id"),
              col("user_id").as("r_user_id"), col("ts").as("r_ts"))
            .withWatermark("r_ts", "1 hour")
          l.join(r, col("user_id") === col("r_user_id") &&
              col("r_ts") >= col("l_ts") - expr("INTERVAL 3600 seconds") &&
              col("r_ts") <= col("l_ts") + expr("INTERVAL 3600 seconds"))
            .select(col("l_event_id"), col("user_id"), col("r_event_id"),
              unix_timestamp(col("l_ts")).as("l_ts_epoch"),
              unix_timestamp(col("r_ts")).as("r_ts_epoch"))
        }
        .select("l_event_id", "user_id", "r_event_id", "l_ts_epoch",
          "r_ts_epoch")
    }),
      // Mirrors q261: restart must not change the emitted join set, so
      // the oracle is q250's batch interval join verbatim.
      Some("""SELECT l.event_id AS l_event_id, l.user_id AS user_id,
        |  r.event_id AS r_event_id,
        |  FLOOR(epoch(l.ts))::BIGINT AS l_ts_epoch,
        |  FLOOR(epoch(r.ts))::BIGINT AS r_ts_epoch
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'click' AND r.event_type = 'purchase'
        | AND r.ts >= l.ts - INTERVAL 3600 SECOND
        | AND r.ts <= l.ts + INTERVAL 3600 SECOND""".stripMargin)),

    // Stream-stream JOIN feeding a windowed aggregate in one query,
    // hash-checked — the second chained-stateful class after q259's
    // dedup→agg: the interval join's eager emissions flow into a
    // 6 h tumbling count of click→purchase pairs, with the watermark
    // propagating THROUGH the join (Spark delays the downstream
    // operator's watermark by the join interval, which is why chaining
    // after a time-interval join needs Spark 3.5+'s multi-stateful
    // support at all). Only l_ts survives the join into the aggregate —
    // one event-time column downstream, the chain contract. Sentinel
    // pairs on both sides (q257's trick; per-side watermarks take their
    // minimum) advance the watermark past every real window inside a
    // data batch; the sentinels' own uids never join (distinct negative
    // ids), so the June cutoff — mirrored in the oracle — is pure
    // belt-and-braces.
    Query("q262_join_agg_chain_replay", ((s, dir) => {
      val base = s"target/jareplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val sentRows = Seq(
        ("2024-12-01 00:00:00", -1L, "click", -101L),
        ("2024-12-01 00:00:00", -2L, "purchase", -102L),
        ("2024-12-31 00:00:00", -3L, "click", -103L),
        ("2024-12-31 00:00:00", -4L, "purchase", -104L))
      val sent = {
        import s.implicits._
        sentRows.toDF("ts_str", "uid", "etype", "eid")
          .select(col("eid").as("event_id"),
            to_timestamp(col("ts_str")).as("ts"), col("uid").as("user_id"),
            col("etype").as("event_type"))
      }
      graft.streaming.StreamingAnalytics.replayStream(s, ev.unionAll(sent),
          base, replaySlices(col("ts"), replayTsCuts)) { st =>
          val l = st.where(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("l_ts"))
            .withWatermark("l_ts", "1 hour")
          val r = st.where(col("event_type") === "purchase")
            .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"))
            .withWatermark("r_ts", "1 hour")
          l.join(r, col("user_id") === col("r_user_id") &&
              col("r_ts") >= col("l_ts") - expr("INTERVAL 3600 seconds") &&
              col("r_ts") <= col("l_ts") + expr("INTERVAL 3600 seconds"))
            .select(col("l_ts"))
            .groupBy(window(col("l_ts"), "6 hours"))
            .agg(count(lit(1)).as("n_pairs"))
            .select(unix_timestamp(col("window.start"))
              .as("window_start_epoch"), col("n_pairs"))
        }
        .where(col("window_start_epoch") <
          lit(java.time.Instant.parse("2024-06-01T00:00:00Z")
            .getEpochSecond))
        .select("window_start_epoch", "n_pairs")
    }),
      // Mirrors q262: the batch interval join rolled up to 6 h windows of
      // the click's event time — q250's join set under q252's window
      // spelling, June cutoff mirrored like q252/q259.
      Some("""WITH j AS (
        |  SELECT FLOOR(epoch(l.ts))::BIGINT AS ltse
        |  FROM events l JOIN events r
        |    ON l.user_id = r.user_id
        |   AND l.event_type = 'click' AND r.event_type = 'purchase'
        |   AND r.ts >= l.ts - INTERVAL 3600 SECOND
        |   AND r.ts <= l.ts + INTERVAL 3600 SECOND)
        |SELECT (ltse // 21600) * 21600 AS window_start_epoch,
        |  count(*) AS n_pairs
        |FROM j
        |WHERE (ltse // 21600) * 21600 < 1717200000
        |GROUP BY 1""".stripMargin)),

    // The gap sessionizer on Spark 4's arbitrary-state API, hash-checked
    // — q255's exact out-of-order state machine re-expressed as a
    // transformWithState StatefulProcessor with a typed ListState of
    // open sessions and explicit event-time TIMERS
    // (registerTimer/handleExpiredTimer) on RocksDB, the forward path
    // for every fMGWS operator. Same replay, same sentinel scheme, same
    // oracle as q255: three green spellings of one session set (custom
    // fMGWS q255, native session_window q260, StatefulProcessor q263)
    // is the strongest parity pin the registry can give the operator.
    Query("q263_tws_sessions_replay", ((s, dir) => {
      import s.implicits._
      val base = s"target/tsnreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("user_id").cast("string").as("key"),
          col("ts").as("event_time"))
      val sent = Seq("2024-12-01 00:00:00", "2024-12-31 00:00:00")
        .toDF("ts_str")
        .select(lit("zz_sentinel").as("key"),
          to_timestamp(col("ts_str")).as("event_time"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev.unionAll(sent),
          base, replaySlices(col("event_time"), replayTsCuts)) { st =>
          graft.streaming.StreamingAnalytics.sessionizeStreamTws(
            st.as[graft.streaming.StreamingAnalytics.SEvent],
            gapSeconds = 21600L).toDF()
        }
        .where(col("key") =!= "zz_sentinel")
        .select("key", "start_epoch", "end_epoch", "n_events")
    }),
      // Mirrors q263: the StatefulProcessor sessionizer implements q255's
      // exact algorithm, so it shares the q44-spelling session oracle.
      Some("""WITH e AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    FLOOR(epoch(ts))::BIGINT AS tse
        |  FROM events),
        |d AS (
        |  SELECT key, tse,
        |    lag(tse) OVER (PARTITION BY key ORDER BY tse ASC) AS prev
        |  FROM e),
        |g AS (
        |  SELECT key, tse,
        |    sum(CASE WHEN prev IS NULL OR tse - prev > 21600
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY key ORDER BY tse ASC
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT key, min(tse) AS start_epoch, max(tse) AS end_epoch,
        |  count(*) AS n_events
        |FROM g GROUP BY key, sid""".stripMargin)),

    // Checkpoint-restart for TIMER-CARRYING state, hash-checked (VERDICT
    // r14 item 2) — q258 restored a ValueState and q261 restored join
    // state, but neither machine registers TIMERS; timer re-registration
    // across a restore is a distinct recovery path in the state store,
    // and the sessionizer is exactly the operator whose mid-backlog kill
    // would corrupt sessions if timers didn't come back. Same query as
    // q263 (StatefulProcessor: ListState of open sessions + exactly one
    // live event-time timer per key on RocksDB), same shared session
    // oracle — but the harness releases only batches 0-1 to the FIRST
    // query (whose final commit leaves thousands of keys with open
    // sessions AND registered seal-timers in the checkpoint), then a
    // SECOND query on the same checkpoint restores both and drains
    // batches 2-4; the sentinel batches advance the watermark past every
    // real session's deadline, so sessions idle since before the restart
    // seal through RESTORED timers firing in the second run. A timer
    // lost in the restore would leave those sessions unsealed (missing
    // rows); a session list lost would break bounds/counts — either way
    // the hash breaks. RestartSpec pins the mechanism-level claim on a
    // minimal feed: a key idle across the restart whose only seal path
    // is the restored timer.
    Query("q264_tws_sessions_restart", ((s, dir) => {
      import s.implicits._
      val base = s"target/tsrreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("user_id").cast("string").as("key"),
          col("ts").as("event_time"))
      val sent = Seq("2024-12-01 00:00:00", "2024-12-31 00:00:00")
        .toDF("ts_str")
        .select(lit("zz_sentinel").as("key"),
          to_timestamp(col("ts_str")).as("event_time"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev.unionAll(sent),
          base, replaySlices(col("event_time"), replayTsCuts),
          restartAfterBatches = Seq(2)) { st =>
          graft.streaming.StreamingAnalytics.sessionizeStreamTws(
            st.as[graft.streaming.StreamingAnalytics.SEvent],
            gapSeconds = 21600L).toDF()
        }
        .where(col("key") =!= "zz_sentinel")
        .select("key", "start_epoch", "end_epoch", "n_events")
    }),
      // Mirrors q264: a checkpoint restart must not change a single
      // emitted session, so the restarted run shares the q255/q260/q263
      // session oracle verbatim.
      Some("""WITH e AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    FLOOR(epoch(ts))::BIGINT AS tse
        |  FROM events),
        |d AS (
        |  SELECT key, tse,
        |    lag(tse) OVER (PARTITION BY key ORDER BY tse ASC) AS prev
        |  FROM e),
        |g AS (
        |  SELECT key, tse,
        |    sum(CASE WHEN prev IS NULL OR tse - prev > 21600
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY key ORDER BY tse ASC
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT key, min(tse) AS start_epoch, max(tse) AS end_epoch,
        |  count(*) AS n_events
        |FROM g GROUP BY key, sid""".stripMargin)),

    // MapState + state TTL, hash-checked (VERDICT r14 item 3) — the
    // third transformWithState primitive and the production
    // state-bounding knob, both previously unexercised: per-user
    // per-event-type running (count, value-micro-unit sum) held as
    // MapState[dimension → totals] on RocksDB, point-updated per event,
    // snapshot-emitted per (key, batch) with the key's max event time in
    // that batch as the row discriminator. Processing-time mode (TTL
    // requires it), so no watermark and no sentinels: every batch's
    // snapshot is final when emitted. The 4 h TTL never bites inside a
    // seconds-long replay — that keeps this row oracle-expressible (the
    // oracle recomputes each batch-end cumulative profile with a
    // cuts-join) — while MapStateTtlSpec pins the eviction semantics
    // where TTL DOES bite: a dimension idle past a short TTL evicts from
    // the store and re-admits from zero. Integer micro-units (mirrored
    // FLOOR(value*1e6+0.5) both sides) keep the state arithmetic pure
    // BIGINT — no float fold order to reconcile, so batch rows need no
    // within-batch sort at all.
    Query("q265_mapstate_dims_replay", ((s, dir) => {
      val base = s"target/msreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"),
          unix_timestamp(col("ts")).as("tse"), col("event_type"),
          when(col("value").isNotNull,
            floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long"))
            .otherwise(lit(0L)).as("vu"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev, base,
          replaySlices(col("ts"), replayTsCuts)) { st =>
          import s.implicits._
          graft.streaming.StreamingAnalytics.dimAggStream(
            st.select("user_id", "tse", "event_type", "vu")
              .as[graft.streaming.StreamingAnalytics.DEvent],
            org.apache.spark.sql.streaming.TTLConfig(
              java.time.Duration.ofHours(4))).toDF()
        }
        .select("user_id", "last_tse", "event_type", "n_so_far", "vu_sum")
    }),
      // Mirrors q265: each replay batch emits, for every user with input
      // in that batch, the user's CUMULATIVE per-dimension profile as of
      // the batch's end — the cuts-join recomputes exactly those
      // snapshots (batch index via the same four cut timestamps; a user's
      // snapshot row for batch b aggregates every event in batches <= b).
      // last_tse = the user's max floored event time within batch b, the
      // same discriminator the machine stamps.
      Some("""WITH b AS (
        |  SELECT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS tse,
        |    CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 0
        |         WHEN ts < TIMESTAMP '2024-01-21' THEN 1
        |         WHEN ts < TIMESTAMP '2024-06-01' THEN 2
        |         WHEN ts < TIMESTAMP '2024-12-15' THEN 3
        |         ELSE 4 END AS bi,
        |    CASE WHEN value IS NULL THEN 0
        |         ELSE FLOOR(value * 1000000 + 0.5)::BIGINT END AS vu
        |  FROM events),
        |k AS (
        |  SELECT user_id, bi, max(tse) AS last_tse
        |  FROM b GROUP BY user_id, bi)
        |SELECT k.user_id, k.last_tse, e.event_type,
        |  count(*) AS n_so_far, sum(e.vu)::BIGINT AS vu_sum
        |FROM k JOIN b e ON e.user_id = k.user_id AND e.bi <= k.bi
        |GROUP BY k.user_id, k.last_tse, e.event_type""".stripMargin)),

    // MapState + TTL across a checkpoint RESTART, hash-checked (VERDICT
    // r15 missing #1 — the one hole left in the restart matrix):
    // ValueState (q258), join state (q261), ListState + timers (q264),
    // and the update-mode merge sink (q266) all survive a mid-backlog
    // kill; this row restarts q265's DimAggProcessor — MapState under a
    // TTLConfig on RocksDB. TTL expiry timestamps live IN the state
    // store next to the values, so the restore path being pinned is
    // distinct: every dimension's running totals AND its TTL clock must
    // come back. The harness composes the two replay modes for the
    // first time (ProcessingTime drain + checkpoint restart — each run
    // drains to its own committed-row target), killing the query after
    // batch 2 of 5. The hours-long TTL never bites inside the replay
    // (same contract as q265, keeping the row oracle-expressible —
    // SAME oracle); MapStateTtlSpec's restart case pins the clock
    // question the hash can't see: a dimension written BEFORE the kill
    // evicts on its ORIGINAL schedule after the resume (a restore that
    // reset TTL clocks would keep it alive and fail the spec).
    Query("q269_mapstate_ttl_restart", ((s, dir) => {
      val base = s"target/msrreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"),
          unix_timestamp(col("ts")).as("tse"), col("event_type"),
          when(col("value").isNotNull,
            floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long"))
            .otherwise(lit(0L)).as("vu"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev, base,
          replaySlices(col("ts"), replayTsCuts),
          restartAfterBatches = Seq(2)) { st =>
          import s.implicits._
          graft.streaming.StreamingAnalytics.dimAggStream(
            st.select("user_id", "tse", "event_type", "vu")
              .as[graft.streaming.StreamingAnalytics.DEvent],
            org.apache.spark.sql.streaming.TTLConfig(
              java.time.Duration.ofHours(4))).toDF()
        }
        .select("user_id", "last_tse", "event_type", "n_so_far", "vu_sum")
    }),
      // q269 = q265's machine killed after batch 2 and resumed from the
      // checkpoint: restored MapState + TTL clocks make the final sink
      // bit-identical to the uninterrupted run, so the oracle is q265's
      // verbatim.
      Some("""WITH b AS (
        |  SELECT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS tse,
        |    CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 0
        |         WHEN ts < TIMESTAMP '2024-01-21' THEN 1
        |         WHEN ts < TIMESTAMP '2024-06-01' THEN 2
        |         WHEN ts < TIMESTAMP '2024-12-15' THEN 3
        |         ELSE 4 END AS bi,
        |    CASE WHEN value IS NULL THEN 0
        |         ELSE FLOOR(value * 1000000 + 0.5)::BIGINT END AS vu
        |  FROM events),
        |k AS (
        |  SELECT user_id, bi, max(tse) AS last_tse
        |  FROM b GROUP BY user_id, bi)
        |SELECT k.user_id, k.last_tse, e.event_type,
        |  count(*) AS n_so_far, sum(e.vu)::BIGINT AS vu_sum
        |FROM k JOIN b e ON e.user_id = k.user_id AND e.bi <= k.bi
        |GROUP BY k.user_id, k.last_tse, e.event_type""".stripMargin)),

    // Update-mode exactly-once RESTART, hash-checked (VERDICT r14 item
    // 4) — q256's funnel rides the replay harness's foreachBatch parquet
    // append, documented there as NON-idempotent under batch retry; this
    // row is the production alternative actually exercised: the same
    // funnel's Update-mode emissions land through the IDEMPOTENT
    // partition-scoped merge (RealtimeStream.merge with a partitionCol —
    // latest-per-key + change-predicated upsert, so a replayed batch is
    // a no-op), and the query is KILLED mid-backlog and resumed from its
    // checkpoint. The sink is now a latest-state SNAPSHOT, not an
    // emission log: per user the row of the LAST stage change (n_seen
    // strictly increases at each emission, so order = n_seen picks it
    // and the oracle selects the max-k emitted row). `bucket = user_id %
    // 16` joins the key so the snapshot partitions by something bounded
    // — the partitioned merge requires the partition column to be a key
    // column, and a derived-from-key bucket can never migrate under its
    // user. Restart + merge: the second run's batches keep merging into
    // the snapshot the first run bootstrapped; a lost emission or a
    // double-applied batch both change the final snapshot and break the
    // hash.
    Query("q266_funnel_merge_restart", ((s, dir) => {
      import s.implicits._
      val base = s"target/fmreplay_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts"))
      graft.streaming.StreamingAnalytics.replayStream(s, ev, base,
          replaySlices(col("ts"), replayEpochCuts),
          restartAfterBatches = Seq(1),
          updateSink = Some { (df, _, out) =>
            graft.streaming.RealtimeStream.merge(
              df.withColumn("bucket", col("user_id") % 16L),
              out, keys = Seq("bucket", "user_id"),
              compareCols = Seq("stage", "n_seen"), createdCol = None,
              order = col("n_seen"), partitionCol = Some("bucket"))
          }) { st =>
          graft.streaming.StreamingAnalytics.funnelStagesStream(
            st.as[graft.streaming.StreamingAnalytics.FEvent],
            stages = Seq("view", "click", "purchase")).toDF()
        }
        .select(col("user_id"), col("stage").cast("long").as("stage"),
          col("n_seen"))
    }),
      // Mirrors q266: q256's emission set reduced to the latest-per-user
      // snapshot the merge sink holds — each user's emitted row with the
      // greatest batch index (equivalently greatest n_seen, which strictly
      // increases across a user's emissions). Every user emits at least
      // once (the first active batch compares stage >= 0 against -1), so
      // the snapshot covers every user with events.
      Some("""WITH ev AS (
        |  SELECT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS tse
        |  FROM events),
        |bt AS (
        |  SELECT user_id, event_type, tse,
        |    CASE WHEN tse < 1704931200 THEN 0
        |         WHEN tse < 1705795200 THEN 1 ELSE 2 END AS b
        |  FROM ev),
        |k AS (SELECT * FROM (VALUES (0), (1), (2)) t(k)),
        |agg AS (
        |  SELECT e.user_id, k.k,
        |    count(*) AS n_seen,
        |    min(CASE WHEN event_type = 'view' THEN tse END) AS m0,
        |    min(CASE WHEN event_type = 'click' THEN tse END) AS m1,
        |    min(CASE WHEN event_type = 'purchase' THEN tse END) AS m2
        |  FROM bt e JOIN k ON e.b <= k.k
        |  GROUP BY e.user_id, k.k),
        |act AS (SELECT DISTINCT user_id, b AS k FROM bt),
        |st AS (
        |  SELECT a.user_id, a.k, a.n_seen,
        |    CASE WHEN m0 IS NULL THEN 0
        |         WHEN m1 IS NULL OR m1 < m0 THEN 1
        |         WHEN m2 IS NULL OR m2 < m1 THEN 2
        |         ELSE 3 END AS stage
        |  FROM agg a JOIN act USING (user_id, k)),
        |sel AS (
        |  SELECT user_id, k, n_seen, stage,
        |    lag(stage, 1, -1) OVER (PARTITION BY user_id ORDER BY k)
        |      AS prev_stage
        |  FROM st),
        |em AS (
        |  SELECT user_id, k, n_seen, stage
        |  FROM sel WHERE stage <> prev_stage)
        |SELECT user_id, CAST(stage AS BIGINT) AS stage, n_seen
        |FROM em
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY k DESC)
        |  = 1""".stripMargin)),
  )
}
