package graft

import graft.analytics.Dashboard
import graft.dedup.Dedup
import graft.functions.{TimeOps, WeatherOps}
import graft.multimodal.MultiModal
import graft.operators.{AsOfJoin, RangeJoin, Rank, Salt, Sessionize, Upsert}
import graft.pipelines.DiffTimes
import graft.similarity.Similarity
import graft.streaming.RealtimeStream
import graft.text.{CorpusOps, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one query per implemented operator (SURVEY.md §2), each
  * with an ANSI-SQL DuckDB oracle over the same parquet tables.
  *
  * Oracle-parity rules used throughout (both sides of every query):
  *  - timestamps never appear in output; they are reduced to floored epoch
  *    seconds (`unix_timestamp` ≡ `FLOOR(epoch(ts))::BIGINT`) — DuckDB and
  *    Spark both see microsecond-truncated values of the nanos testdata.
  *  - aggregated doubles go through exact decimal accumulation
  *    (`Dashboard.exactAvg` / `CAST(sum(CAST(x AS DECIMAL)) AS DOUBLE)`) so
  *    partial-aggregation order cannot flip low bits.
  *  - per-row double arithmetic is mirrored op-for-op (IEEE ops are
  *    deterministic given identical operand order).
  *  - integer outputs are BIGINT on both sides.
  */
object SparkEntry {

  import Tables.t

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    diffMart(spark, "/root/testdata/sf0.001")

  /** Local-filesystem I/O tuning for the bench/verify entry points (guide
    * §6): Hadoop's `file://` scheme is the CHECKSUMMED LocalFileSystem —
    * every file written through the FileSystem API (sink parquet parts,
    * staged replay files, merge/compaction stages) is written TWICE, the
    * payload plus a `.crc` sibling, and read back through a verifying
    * stream. Scope note (r16 ADVICE): streaming checkpoint/WAL and
    * state-store files go through the FileContext-based
    * CheckpointFileManager, a separate object this toggle does NOT touch
    * — those paths stay checksummed; the measured wins below come from
    * the FileSystem-API writes (sink parts, staging, readback). On the
    * single-node bench that integrity layer is pure overhead with no
    * consumer (production deployments run HDFS/S3, which carry their own
    * integrity); dropping it cut the small-file-bound streaming-replay
    * family ~25-40% per query (measured q257 7.1→4.4 s, q267 12.9→9.8 s,
    * q262 7.4→5.6 s at sf0.1; RawLocalFileSystem measured the same win
    * but breaks RocksDB's file manager, so the checksum toggle on the
    * cached LocalFileSystem instance is the compatible spelling —
    * FileSystem.CACHE keys on (scheme, authority, ugi), so the one
    * instance serves the whole JVM). Results are byte-identical: the
    * checksum layer never changes file contents. This is an ENVIRONMENT
    * tune for local mode, not an operator optimization — never book its
    * effect as operator speedup. Opt out with any non-empty
    * SPARK_GRAFT_LOCAL_CRC value (e.g. =1, to debug suspected disk
    * corruption); an empty value or =0 is treated as unset. */
  def tuneLocalFs(spark: SparkSession): Unit =
    if (!sys.env.get("SPARK_GRAFT_LOCAL_CRC").exists(v => v.nonEmpty && v != "0")) {
      val lfs = org.apache.hadoop.fs.FileSystem
        .getLocal(spark.sessionState.newHadoopConf())
      lfs.setWriteChecksum(false)
      lfs.setVerifyChecksum(false)
      // Deliberately NOT tuned: the FileContext leg (streaming
      // checkpoint/WAL/state deltas go through the FileContext-based
      // CheckpointFileManager, whose local scheme LocalFs is
      // ChecksumFs). Routing `file://` FileContexts to RawLocalFs was
      // measured (Scratch `abtest fctx`, ABBA paired, r17): it made the
      // replay rows 15-25% SLOWER (q262 5.19→6.25 s, q257 4.09→4.72,
      // q264 4.45→5.46 min-of-2) — the checksummed stream's buffering
      // beats RawLocalFs's write path for these many-tiny-file WAL
      // writes, so the checksum hypothesis from the r16 review does not
      // hold on this box. Keep the default.
    }

  // ---------------------------------------------------------------- mart --

  /** events → (realtime, schedule) GTFS-shaped frames → DiffTimes pipeline
    * (E3). The composite key (trip_id, start_date, stop_sequence, stop_id)
    * is a bijection of event_id, so the join is 1:1 but still exercises the
    * 4-column composite-key shuffle join with the stop_id string→long cast
    * (reference scripts/diff_times.py:95-101). Threshold 4102444800 (year
    * 2100) makes the P7 sentinel filter active on 2024-epoch data. */
  /** The diffs mart is a materialized TABLE in the reference (diff_times.py
    * rebuilds `trip_updates_with_diffs`, and every dashboard query reads
    * it); caching the built mart per (session, dir) mirrors that — q03-q07
    * aggregate the one cached build instead of re-running the join
    * pipeline per query. */
  /** One memoized persisted artifact per (session, dir). Keyed by a
    * WeakHashMap on the session itself (identity equals): an
    * identityHashCode key could be reused by a NEW session after the old
    * one is GC'd, silently returning a DataFrame bound to a dead
    * session. `onRelease` runs before each unpersist so operators can
    * free state they retain for the artifact (the dupClusters
    * checkpoint blocks). */
  private final class SessionDirCache(
      build: (SparkSession, String) => DataFrame,
      onRelease: DataFrame => Unit = _ => ()) {
    // Values hold the memoized frames through SoftReferences: a strongly
    // held DataFrame references its SparkSession, i.e. the weak KEY —
    // the WeakHashMap value-refers-to-key pitfall — and the entry (and
    // the dead session behind it) would never be collected. Soft values
    // break that path: a discarded session becomes only softly reachable
    // and is reclaimed under memory pressure, while live-session hits
    // stay warm. A cleared reference just rebuilds (and the session's
    // CacheManager still recognizes the equivalent plan, so the persisted
    // blocks are not lost in the meantime).
    private val bySession = new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.HashMap[
        String, java.lang.ref.SoftReference[DataFrame]]]()
    def apply(s: SparkSession, dir: String): DataFrame = synchronized {
      val m = bySession.computeIfAbsent(s, _ =>
        scala.collection.mutable.HashMap
          .empty[String, java.lang.ref.SoftReference[DataFrame]])
      m.get(dir).flatMap(r => Option(r.get)) match {
        case Some(df) => df
        case None =>
          val df = build(s, dir).persist()
          m(dir) = new java.lang.ref.SoftReference(df)
          df
      }
    }
    def reset(): Unit = synchronized {
      bySession.values.forEach(_.values.foreach { ref =>
        val df = ref.get
        if (df != null) {
          onRelease(df)
          df.unpersist(blocking = false)
        }
      })
      bySession.clear()
    }
  }

  private val martCache = new SessionDirCache(buildDiffMart)

  private def diffMart(s: SparkSession, dir: String): DataFrame =
    martCache(s, dir)

  /** The near-dup cluster labels are likewise a materialized artifact in
    * any production corpus pipeline (clusters are computed once, then
    * consumed by reporting AND by corpus filtering); q51 and q53 share
    * one cached build per (session, dir) instead of each re-running the
    * full LSH-candidate + connected-components subtree. On reset the
    * clustering's retained checkpoint blocks are released too. */
  private val clustersCache = new SessionDirCache(
    (s, dir) => Dedup.dupClusters(
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), minJaccard = 0.05)),
    onRelease = Dedup.releaseClusterState)

  private def docClusters(s: SparkSession, dir: String): DataFrame =
    clustersCache(s, dir)

  /** Poly-LSH candidate pairs, shared by q58 (the pairs themselves) and
    * q59 (their exact verification) — in production the candidate set is
    * materialized once and fanned out to scoring/reporting consumers. */
  private val polyCandCache = new SessionDirCache(
    (s, dir) => Dedup.polyMinhashCandidatePairs(t(s, dir, "documents"),
      "doc_id", "text", numHashes = 64, bands = 16))

  private def polyCands(s: SparkSession, dir: String): DataFrame =
    polyCandCache(s, dir)

  /** The exact-Jaccard (τ = 0.4) pair set is ground TRUTH for three
    * consumers — q130 reports it, q219 audits the banded LSH against
    * it, q220 attributes it across sources — so like the candidate set
    * above it is materialized once per (session, dir); in production
    * the verified-pair table is exactly such a shared artifact. */
  private val truthPairCache = new SessionDirCache(
    (s, dir) => Dedup.prefixJaccardPairs(t(s, dir, "documents"),
      "doc_id", "text", minJaccard = 0.4))

  private def truthPairs(s: SparkSession, dir: String): DataFrame =
    truthPairCache(s, dir)

  /** The char 12-gram rolling-hash posting table — like the cluster
    * labels and truth pairs, a materialized artifact any char-grain
    * pipeline builds once and fans out (q237 dup spans, q243
    * contamination share one build per (session, dir)). */
  private val charPostingsCache = new SessionDirCache(
    (s, dir) => text.CorpusOps.charPostings(t(s, dir, "documents"),
      "doc_id", "text", k = 12))

  private def charPostings12(s: SparkSession, dir: String): DataFrame =
    charPostingsCache(s, dir)

  private val allCaches =
    Seq(martCache, clustersCache, polyCandCache, truthPairCache,
      charPostingsCache)

  /** PQ codebooks are a trained ARTIFACT like the cluster labels: trained
    * once per (session, dir, knobs) and consumed by q87's flat ADC and
    * q92's IVF-gated ADC — two Lloyd trainings of the IDENTICAL
    * codebooks would be pure waste in any production pipeline. */
  private val pqTrainedCache =
    new SessionKeyedCache[(Int, Seq[Seq[Seq[Long]]])]()

  private def pqTrained(s: SparkSession, dir: String,
                        numSubspaces: Int = 4, codebookSize: Int = 16,
                        trainIters: Int = 1): (Int, Seq[Seq[Seq[Long]]]) =
    pqTrainedCache.getOrBuild(s,
      s"$dir|M=$numSubspaces|K=$codebookSize|iters=$trainIters") {
      Similarity.pqTrain(t(s, dir, "embeddings"),
        "vec_id", "embedding", numSubspaces = numSubspaces,
        codebookSize = codebookSize, trainIters = trainIters)
    }

  /** IVF coarse-quantizer centroids, trained once per (session, dir,
    * knobs) — the pqTrained discipline for the OTHER trained artifact:
    * q32's search shares the (16, iters=2) training with the whole q149
    * family (stats + three bisection diagnostics), and q149c's per-round
    * histograms hit the iters=0/1 keys instead of retraining each.
    * Plain driver values (nCentroids × dim longs). */
  private val ivfTrainedCache = new SessionKeyedCache[Seq[Seq[Long]]]()

  private def ivfTrained(s: SparkSession, dir: String,
                         nCentroids: Int, iters: Int): Seq[Seq[Long]] =
    ivfTrainedCache.getOrBuild(s, s"$dir|n=$nCentroids|iters=$iters") {
      Similarity.trainCentroids(t(s, dir, "embeddings"),
        "vec_id", "embedding", nCentroids, iters)
    }

  /** The q158 tf-idf staged frames (weighted postings + eligible-vocab
    * localCheckpoints and their three readouts), built once per
    * (session, dir) and shared by q158 and its three bisection
    * diagnostics — the mart/cluster artifact pattern; release drops the
    * checkpoint blocks eagerly. Knobs are fixed (all four consumers
    * share them) and named in the key for honesty. */
  private val tfidfStagesCache =
    new SessionKeyedCache[text.CorpusOps.TfidfStages](
      text.CorpusOps.releaseTfidfStages)

  private def tfidfShared(s: SparkSession,
                          dir: String): text.CorpusOps.TfidfStages =
    tfidfStagesCache.getOrBuild(s,
      s"$dir|ngram=3|minDf=2|maxDfPermille=200|minShared=3") {
      text.CorpusOps.tfidfStages(t(s, dir, "documents"),
        "doc_id", "text", ngram = 3, minDf = 2L, maxDfPermille = 200L,
        minShared = 3L)
    }

  /** The q162 per-document bigram-LM fluency frame (doc_id, n_bigrams,
    * fluency), shared by q162 and q231's rank-bucketing readout — code
    * reuse, not a memoized artifact: the frame is two hash aggregates
    * and two key joins, cheap enough to re-plan per consumer. The
    * fluency double is the q162 oracle's op-for-op mirrored divide
    * chain, so its ORDER (q231's bucketing key) is engine-stable. */
  private def lmFluencyFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val grams = docs.select(col("doc_id"), posexplode(
        TextAnalysis.posNgrams(TextAnalysis.tokens(col("text")), 2)))
      .select(col("doc_id"), col("pos"), col("col").as("bigram"),
        substring_index(col("col"), " ", 1).as("prefix"))
    val bs = grams.groupBy("bigram").agg(count(lit(1)).as("n_ab"))
    val ps = grams.groupBy("prefix").agg(count(lit(1)).as("n_a"))
    val scored = grams.join(bs, "bigram").join(ps, "prefix")
      .select(col("doc_id"), col("pos"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("r"))
    val perDoc = scored.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("r"))))
        .as("rs"))
      .select(col("doc_id"), size(col("rs")).cast("long").as("n_bigrams"),
        (aggregate(col("rs"), lit(0.0),
          (acc, x) => acc + x.getField("r")) /
          size(col("rs")).cast("double")).as("fluency"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("fluency"))
  }

  /** Drop the memoized marts/clusters/candidates AND their persisted
    * blocks — for harnesses (Bench) that need each measurement pass to
    * start cache-cold. A bare `spark.catalog.clearCache()` would drop
    * the blocks but leave the memoized DataFrames behind, silently
    * un-persisted for every later use. */
  def resetCaches(): Unit = {
    allCaches.foreach(_.reset())
    Seq(pqTrainedCache, ivfTrainedCache, tfidfStagesCache)
      .foreach(_.reset())
  }

  private def buildDiffMart(s: SparkSession, dir: String): DataFrame = {
    // Two independent reads: tu/gd must not share a Dataset lineage, or
    // Spark's ambiguous-self-join check misfires on downstream rollups.
    val ev = t(s, dir, "events")
    val ev2 = t(s, dir, "events")
    val ets = unix_timestamp(col("ts"))
    val epoch0 = timestamp_seconds(lit(0L))
    val wid = lit(200L) + (col("event_id") % 700L)
    val tu = ev.select(
      expr("CAST(event_id DIV 100 AS STRING)").as("trip_id"),
      to_date(col("ts")).as("start_date"),
      (col("event_id") % 100L).as("stop_sequence"),
      col("user_id").cast("string").as("stop_id"),
      when(col("value") < 20d, epoch0).otherwise(col("ts")).as("arrival_time"),
      when(col("value") > 180d, epoch0)
        .otherwise(timestamp_seconds(ets + expr("CAST(value AS BIGINT)")))
        .as("departure_time"),
      WeatherOps.weatherGroup(wid).as("weather_group"),
      concat(lit("wx_"), (col("event_id") % 5L).cast("string")).as("weather_description"),
      WeatherOps.kelvinToCelsius(col("value") + lit(250.0)).as("temperature"),
      col("ts").as("created_at"),
      col("ts").as("updated_at"))
    val gd = ev2.select(
      expr("CAST(event_id DIV 100 AS STRING)").as("trip_id"),
      to_date(col("ts")).as("start_date"),
      (col("event_id") % 100L).as("stop_sequence"),
      col("user_id").as("stop_id"),
      concat(lit("r"), (col("user_id") % 10L).cast("string")).as("route_id"),
      concat(lit("stop_"), col("user_id").cast("string")).as("stop_name"),
      concat(lit("Route "), (col("user_id") % 10L).cast("string")).as("route_long_name"),
      date_trunc("minute", col("ts")).as("arrival_time"),
      timestamp_seconds(unix_timestamp(date_trunc("minute", col("ts"))) + 60L)
        .as("departure_time"),
      concat_ws(", ", (col("user_id") % 90L).cast("string"),
        (col("user_id") % 180L).cast("string")).as("geo_coordinates"))
    DiffTimes.build(tu, gd, tz = "UTC", sentinelThresholdSecs = 4102444800L)
  }

  /** Write deterministic GTFS-shaped CSV fixtures (the 5 consumed members)
    * derived from the events table, for the E2 historical pipeline (q29).
    * Every write is idempotent (overwrite); the clock strings include HH in
    * [0, 41) so the >24h service-day branch of F1 is exercised on real CSV
    * columns. Dates are pinned to June 2024: EDT throughout, no DST edge
    * in the oracle (the edges are pinned by TimeOpsSpec). */
  /** Fixture dirs already written this JVM. INPUT data, not a cache of
    * measured work: the fixtures are a deterministic function of the
    * testdata dir, so rewriting them per q29 invocation only charges
    * fixture generation to the E2 pipeline's timing. Deliberately NOT
    * cleared by [[resetCaches]] — a cache-cold bench pass must re-measure
    * the pipeline, not re-create its inputs. */
  private val fixturesWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def gtfsCsvFixtures(s: SparkSession, dir: String): String = {
    // the raw dir rides in as a hash suffix: sanitization alone maps
    // distinct dirs like "sf0.1" and "sf0_1" to one path, and the memo
    // would then serve the first dir's data for the second
    val out = s"target/gtfs_csv_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_" +
      java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir))
    // membership is recorded only AFTER all five writes succeed — adding
    // first would poison the JVM on a failed write (every later call
    // would skip the rewrite and read a partial fixture dir)
    if (fixturesWritten.contains(out)) return out
    val ev = t(s, dir, "events").select("event_id", "user_id")
    val tnum = col("event_id") / lit(100L) cast "long"
    def clock(h: Column): Column = concat_ws(":",
      lpad(h.cast("string"), 2, "0"),
      lpad((col("user_id") % 60L).cast("string"), 2, "0"),
      lpad((col("event_id") % 60L).cast("string"), 2, "0"))
    def w(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").option("header", "true").csv(s"$out/$name.txt")
    w(ev.select(concat(lit("t"), tnum.cast("string")).as("trip_id"),
      (col("event_id") % 100L).as("stop_sequence"),
      col("user_id").as("stop_id"),
      clock(col("event_id") % 40L).as("arrival_time"),
      clock(col("event_id") % 40L + 1L).as("departure_time")), "stop_times")
    w(ev.select(concat(lit("t"), tnum.cast("string")).as("trip_id"),
      (tnum % 7L).as("service_id"),
      concat(lit("r"), (tnum % 10L).cast("string")).as("route_id"))
      .distinct(), "trips")
    w(s.range(7).select(col("id").as("service_id"),
      explode(array((lit(20240601L) + col("id")).cast("string"),
        (lit(20240611L) + col("id")).cast("string"))).as("date")),
      "calendar_dates")
    w(ev.select(col("user_id").as("stop_id"),
      concat(lit("stop_"), col("user_id").cast("string")).as("stop_name"),
      (col("user_id") % 90L).as("stop_lat"),
      (col("user_id") % 180L).as("stop_lon")).distinct(), "stops")
    w(ev.select(concat(lit("r"), (tnum % 10L).cast("string")).as("route_id"),
      concat(lit("Route "), (tnum % 10L).cast("string")).as("route_long_name"))
      .distinct(), "routes")
    fixturesWritten.add(out)
    out
  }

  /** Mart with timestamp columns reduced to epoch seconds (hash-stable). */
  private def diffMartEpochs(s: SparkSession, dir: String): DataFrame =
    diffMart(s, dir).select(
      col("trip_id"), col("start_date"), col("stop_sequence"), col("stop_id"),
      col("route_id"), col("stop_name"), col("route_long_name"),
      unix_timestamp(col("actual_arrival_time")).as("actual_arrival_epoch"),
      unix_timestamp(col("scheduled_arrival_time")).as("scheduled_arrival_epoch"),
      col("arrival_time_diff_in_minutes"),
      unix_timestamp(col("actual_departure_time")).as("actual_departure_epoch"),
      unix_timestamp(col("scheduled_departure_time")).as("scheduled_departure_epoch"),
      col("departure_time_diff_in_minutes"),
      col("average_diff_in_minutes"),
      col("weather_group"), col("weather_description"), col("temperature"),
      col("day_type"), col("sudbury_hour_of_day"), col("geo_coordinates"),
      unix_timestamp(col("created_at")).as("created_epoch"),
      unix_timestamp(col("updated_at")).as("updated_epoch"))

  /** Shared oracle CTE producing the same mart in DuckDB SQL. */
  private val MART_CTE: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, value, ts, FLOOR(epoch(ts))::BIGINT AS ets
      |  FROM events),
      |tu AS (
      |  SELECT CAST(event_id // 100 AS VARCHAR) AS trip_id,
      |    CAST(ts AS DATE) AS start_date,
      |    event_id % 100 AS stop_sequence,
      |    CAST(user_id AS VARCHAR) AS stop_id,
      |    CASE WHEN value < 20 THEN 0 ELSE ets END AS e_arr,
      |    CASE WHEN value > 180 THEN 0 ELSE ets + CAST(trunc(value) AS BIGINT) END AS e_dep,
      |    CASE WHEN (200 + event_id % 700) BETWEEN 200 AND 299 THEN 'Thunderstorm'
      |         WHEN (200 + event_id % 700) BETWEEN 300 AND 399 THEN 'Drizzle'
      |         WHEN (200 + event_id % 700) BETWEEN 500 AND 599 THEN 'Rain'
      |         WHEN (200 + event_id % 700) BETWEEN 600 AND 699 THEN 'Snow'
      |         WHEN (200 + event_id % 700) BETWEEN 700 AND 799 THEN 'Atmosphere'
      |         WHEN (200 + event_id % 700) = 800 THEN 'Clear'
      |         WHEN (200 + event_id % 700) BETWEEN 800 AND 899 THEN 'Clouds'
      |         ELSE 'Unknown' END AS weather_group,
      |    'wx_' || CAST(event_id % 5 AS VARCHAR) AS weather_description,
      |    (value + 250.0) - 273.15 AS temperature,
      |    ets AS e_created, ets AS e_updated
      |  FROM ev),
      |gd AS (
      |  SELECT CAST(event_id // 100 AS VARCHAR) AS trip_id,
      |    CAST(ts AS DATE) AS start_date,
      |    event_id % 100 AS stop_sequence,
      |    user_id AS stop_id,
      |    'r' || CAST(user_id % 10 AS VARCHAR) AS route_id,
      |    'stop_' || CAST(user_id AS VARCHAR) AS stop_name,
      |    'Route ' || CAST(user_id % 10 AS VARCHAR) AS route_long_name,
      |    date_trunc('minute', ts) AS sched_arr,
      |    FLOOR(epoch(date_trunc('minute', ts)))::BIGINT AS e_sa,
      |    FLOOR(epoch(date_trunc('minute', ts)))::BIGINT + 60 AS e_sd,
      |    CAST(user_id % 90 AS VARCHAR) || ', ' || CAST(user_id % 180 AS VARCHAR) AS geo_coordinates
      |  FROM ev),
      |mart AS (
      |  SELECT tu.trip_id, tu.start_date, tu.stop_sequence,
      |    CAST(tu.stop_id AS BIGINT) AS stop_id,
      |    gd.route_id, gd.stop_name, gd.route_long_name,
      |    CASE WHEN e_arr = 0 THEN NULL ELSE e_arr END AS actual_arrival_epoch,
      |    e_sa AS scheduled_arrival_epoch,
      |    CASE WHEN e_arr = 0 THEN 0.0 ELSE (e_arr - e_sa) / 60.0 END AS arrival_time_diff_in_minutes,
      |    CASE WHEN e_dep = 0 THEN NULL ELSE e_dep END AS actual_departure_epoch,
      |    e_sd AS scheduled_departure_epoch,
      |    CASE WHEN e_dep = 0 THEN 0.0 ELSE (e_dep - e_sd) / 60.0 END AS departure_time_diff_in_minutes,
      |    CASE WHEN e_arr <> 0 AND e_dep <> 0 THEN ((e_arr - e_sa) + (e_dep - e_sd)) / 120.0
      |         WHEN e_arr = 0 AND e_dep <> 0 THEN (e_dep - e_sd) / 60.0
      |         WHEN e_arr <> 0 AND e_dep = 0 THEN (e_arr - e_sa) / 60.0
      |         ELSE NULL END AS average_diff_in_minutes,
      |    tu.weather_group, tu.weather_description, tu.temperature,
      |    strftime(gd.sched_arr, '%A') AS day_type,
      |    hour(gd.sched_arr) AS sudbury_hour_of_day,
      |    gd.geo_coordinates,
      |    e_created AS created_epoch, e_updated AS updated_epoch
      |  FROM tu JOIN gd
      |    ON tu.trip_id = gd.trip_id AND tu.start_date = gd.start_date
      |   AND tu.stop_sequence = gd.stop_sequence
      |   AND CAST(tu.stop_id AS BIGINT) = gd.stop_id
      |  WHERE NOT ((e_arr = 0 AND e_sa <= 4102444800) AND (e_dep = 0 AND e_sd <= 4102444800)))
      |""".stripMargin

  private val EXACT_AVG = "CAST(sum(CAST(%s AS DECIMAL(20,6))) AS DOUBLE) / count(%s)"
  private def exactAvgSql(c: String) = EXACT_AVG.format(c, c)

  /** Renders a DECIMAL(38,0) integer aggregate as DOUBLE through int64
    * limbs instead of a direct int128→double cast — the one conversion
    * whose rounding has drifted across DuckDB versions (the r7-r9
    * q149/q158 hash-miss class, closed for final surfaces by the limb
    * columns in 24abc0e; this closes it for RENDERED doubles too). Both
    * engines compute hi = trunc(M/10¹⁶) and lo = M % 10¹⁶ (both
    * truncate toward zero with dividend-sign remainder — verified for
    * DuckDB `//`/`%` on HUGEINT and Spark's IntegralDivide/Remainder on
    * decimals), each an exact int64, then the fixed IEEE chain
    * hi→double · 1e16 + lo→double: three correctly-rounded ops that are
    * bit-identical on every engine and version. Exact for |M| < 2⁵³,
    * within ~2 ulp of M above it; total for |M| < 9.2·10³⁴ (past that
    * hi overflows int64 — the largest caller value is q160's 3.3·10³²
    * moment at sf0.1, with the per-site growth law documented at each
    * call site). Mirror of [[hugeAsDoubleSql]]. */
  private val LIMB = 10000000000000000L // 10^16
  private def hugeAsDouble(c: Column): Column =
    call_function("div", c, lit(LIMB).cast("decimal(19,0)")).cast("double") *
      lit(1.0e16) +
      (c % lit(LIMB).cast("decimal(19,0)")).cast("long").cast("double")

  /** Oracle-side mirror of [[hugeAsDouble]]: the identical limb spelling
    * over DuckDB HUGEINT. Spelled with explicit CASTs so HashSurfaceSpec's
    * taint lint sees the AS BIGINT wash inside each double cast. */
  private def hugeAsDoubleSql(e: String): String =
    s"(CAST(CAST(($e) // 10000000000000000 AS BIGINT) AS DOUBLE) * 1e16" +
      s" + CAST(CAST(($e) % 10000000000000000 AS BIGINT) AS DOUBLE))"

  /** q111/q118's NULL-safe full-row hash over events. EVERY column rides
    * the row encoding (an anti-entropy checksum that skips columns
    * declares diverged replicas in sync); NULLs take an explicit sentinel
    * on BOTH sides (concat_ws would silently drop the field AND its
    * separator — non-injective and diverging from the oracle's
    * NULL-propagating ||); the double renders through the micro-unit
    * integer channel (q105). The '|' delimiter must not occur in string
    * fields — true of this schema; escape before generalizing. */
  private def eventsRowHash: Column = {
    def f(c: Column): Column = coalesce(c, lit("<null>"))
    TextAnalysis.charPolyHash(concat_ws("|",
      f(col("event_id").cast("string")),
      f(col("user_id").cast("string")),
      f(col("event_type")),
      f(unix_timestamp(col("ts")).cast("string")),
      f(floor(col("value") * lit(1000000.0) + lit(0.5))
        .cast("long").cast("string")),
      f(col("props"))))
  }

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

  /** Naive per-lang window top-k oracle, shared by q113 (bounded
    * two-window groupTopK) and q120 (mergeable top-k aggregate) — both
    * must produce exactly this shortlist. */
  private lazy val TOP_QUALITY_ORACLE: String =
    s"""WITH f AS (
       |  SELECT doc_id, lang, $TOKENS_SQL AS tk FROM documents),
       |g AS (
       |  SELECT doc_id, lang,
       |    CAST(len(tk) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
       |    CAST(len(list_filter(tk, t -> t IN ('the','a'))) AS BIGINT) AS n_stop
       |  FROM f),
       |q AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE
       |      0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 200.0)
       |      + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |      + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |    END AS quality_score
       |  FROM g),
       |r AS (
       |  SELECT doc_id, lang, quality_score,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY quality_score DESC, doc_id ASC) AS BIGINT) AS qrank
       |  FROM q)
       |SELECT doc_id, lang, quality_score, qrank FROM r WHERE qrank <= 5""".stripMargin

  /** SQL mirror of [[eventsRowHash]]'s row string (pre-hash). */
  private lazy val EVENTS_ROW_SQL: String =
    """COALESCE(CAST(event_id AS VARCHAR), '<null>') || '|' ||
      |    COALESCE(CAST(user_id AS VARCHAR), '<null>') || '|' ||
      |    COALESCE(event_type, '<null>') || '|' ||
      |    COALESCE(CAST(FLOOR(epoch(ts))::BIGINT AS VARCHAR), '<null>') || '|' ||
      |    COALESCE(CAST(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
      |      AS VARCHAR), '<null>') || '|' ||
      |    COALESCE(props, '<null>')""".stripMargin

  /** q116/q117's deterministic 90/5/5 split assignment: permille
    * threshold over the mirrorable id hash (charPolyHash is always
    * non-negative, so plain % matches the oracle's). */
  private def splitAssignment: Column = {
    val h = TextAnalysis.charPolyHash(
      concat(lit("split:"), col("doc_id").cast("string"))) % 1000L
    when(h < 900L, lit("train")).when(h < 950L, lit("val"))
      .otherwise(lit("test"))
  }

  /** SQL mirror of [[splitAssignment]] over a relation exposing doc_id. */
  private lazy val SPLIT_CASE_SQL: String =
    s"""CASE WHEN ${charPolySql("('split:' || CAST(doc_id AS VARCHAR))")} % 1000 < 900
       |     THEN 'train'
       |     WHEN ${charPolySql("('split:' || CAST(doc_id AS VARCHAR))")} % 1000 < 950
       |     THEN 'val' ELSE 'test' END""".stripMargin

  /** Naive all-pairs fuzzy-match oracle, shared by q110 (segment-blocked
    * + banded kernel) and q115 (length-banded + optimizer-rewritten
    * built-in) — both must produce exactly these pairs. */
  private val FUZZY_PAIRS_ORACLE =
    """WITH names AS (
      |  SELECT DISTINCT 'stop_' || CAST(user_id AS VARCHAR) AS name
      |  FROM events),
      |p AS (
      |  SELECT a.name AS name_a, b.name AS name_b,
      |    CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      |  FROM names a JOIN names b ON a.name < b.name)
      |SELECT name_a, name_b, dist FROM p WHERE dist <= 2""".stripMargin

  /** DuckDB mirror of the generalized codepoint polynomial hash
    * h = (h*mult + cp) mod `mod` over expression `e`. */
  private def charPolySqlM(e: String, mult: Long, mod: Long) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e)+1), i -> CAST(ord($e[i]) AS BIGINT))), " +
      s"(a,b) -> (a*$mult+b) % $mod)"

  /** DuckDB mirror of TextAnalysis.charPolyHash over expression `e`. */
  private def charPolySql(e: String) = charPolySqlM(e, 31L, 1000000007L)

  /** The mirrored quantized-cosine expression between two EMB_CTE rows
    * aliased `a` and `b` (exact BIGINT dot, the ONE double divide) —
    * the single spelling every embedding oracle interpolates (VERDICT
    * r11 item 6 discipline: ~20 inline copies invited a half-updated
    * arithmetic tweak; a named builder cannot drift). */
  private def cosSql(a: String, b: String): String =
    s"CAST(CAST(list_sum(list_transform(range(1, len($a.v)+1), " +
      s"i -> $a.v[i]*$b.v[i])) AS BIGINT) AS DOUBLE) " +
      s"/ (sqrt(CAST($a.nrm AS DOUBLE)) * sqrt(CAST($b.nrm AS DOUBLE)))"

  /** Shared q66/q67 oracle CTEs: per-document 60-bit poly-SimHash
    * fingerprints (`docfp`: doc_id, fp — zero-token docs carry fp 0,
    * mirroring the kernel's empty-array result). The token hash is
    * poly31 | (poly131 << 30), bit j votes +1/-1 over all tokens. */
  // lazy: references TOKENS_SQL, which is declared further down — a
  // strict val here would interpolate null (the DUP_CLUSTERS_SQL lesson)
  private lazy val POLY_SIMHASH_CTES: String =
    s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
       |th AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
       |hh AS (
       |  SELECT doc_id,
       |    ${charPolySqlM("tok", 31L, 1000000007L)} |
       |      (${charPolySqlM("tok", 131L, 998244353L)} << 30) AS h
       |  FROM th),
       |votes AS (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM hh CROSS JOIN (SELECT unnest(range(60)) AS j) bits
       |  GROUP BY doc_id, j),
       |fps AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
       |      AS BIGINT) AS fp
       |  FROM votes GROUP BY doc_id),
       |docfp AS (
       |  SELECT t.doc_id, CAST(COALESCE(f.fp, 0) AS BIGINT) AS fp
       |  FROM toks t LEFT JOIN fps f ON t.doc_id = f.doc_id),
       |""".stripMargin

  /** The pigeonhole band slicing of [[graft.dedup.Dedup.bandWidths]] as a
    * DuckDB VALUES table (band, bit offset, in-band mask) — generated
    * from the SAME Scala helper the operator uses. */
  private def polySimhashBandsSql(maxHamming: Int): String = {
    val widths = Dedup.bandWidths(60, maxHamming + 1)
    val offsets = widths.scanLeft(0)(_ + _)
    widths.indices.map { b =>
      s"(${b}, ${offsets(b)}, ${(1L << widths(b)) - 1L}::BIGINT)"
    }.mkString(", ")
  }

  /** DuckDB: UTF-8 bytes of string expression `e` as a BIGINT list (byte i
    * recovered from the hex dump — DuckDB has no direct blob-byte indexing).
    * Mirrors what Spark-side binary operators see, so blob oracles stay
    * byte-exact for non-ASCII text too. */
  private def utf8BytesSql(e: String) =
    s"list_transform(range(1, octet_length(encode($e)) + 1), i -> " +
      s"CAST((strpos('0123456789ABCDEF', substr(hex(encode($e)), 2*i-1, 1)) - 1) * 16 " +
      s"+ strpos('0123456789ABCDEF', substr(hex(encode($e)), 2*i, 1)) - 1 AS BIGINT))"

  /** DuckDB mirror of TextAnalysis.tokens. */
  private val TOKENS_SQL = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** q86's query vocabulary — sorted, so the Spark pivot slots and the
    * oracle's generated slot columns line up position-for-position. */
  private val BM25_TERMS = Seq("customer", "merge", "spark", "stream")

  /** The BM25 oracle CTE chain (no leading WITH, trailing comma) and its
    * score expression, GENERATED from the same term list as the Spark side
    * so the per-term pivot slots and the left-to-right score additions
    * (double addition is order-sensitive) match the operator exactly.
    * Constant subexpressions (k1+1, 1-b) are spelled as arithmetic on both
    * sides — identical IEEE folds either way. Shared by q86 and q89. */
  private def bm25Ctes(terms: Seq[String]): (String, String) = {
    val ts = terms.distinct.sorted
    val inList = ts.map(t => s"'$t'").mkString(", ")
    val slotCols = ts.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN term = '$t' THEN c END) AS __c_$i"
    }.mkString(",\n    ")
    val scoreSum = ts.indices.map(i => s"COALESCE(__c_$i, 0.0)")
      .mkString(" + ")
    val ctes =
      s"""toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |dl AS (SELECT doc_id AS id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
         |stats AS (SELECT count(*) AS n_docs,
         |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         |post AS (SELECT doc_id AS id, unnest(tk) AS term FROM toks),
         |tf AS (SELECT id, term, count(*) AS tf FROM post
         |       WHERE term IN ($inList) GROUP BY id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |contrib AS (
         |  SELECT id, term,
         |    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |       / (CAST(df AS DOUBLE) + 0.5))
         |     * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
         |     / (CAST(tf AS DOUBLE)
         |       + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS c
         |  FROM tf JOIN dl USING (id) CROSS JOIN stats JOIN dfreq USING (term)),
         |piv AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS n_terms_matched,
         |    $slotCols
         |  FROM contrib GROUP BY id),
         |""".stripMargin
    (ctes, scoreSum)
  }

  /** q86's oracle: the BM25 CTE chain + the top-k cut. */
  private def bm25Sql(terms: Seq[String], topK: Int): String = {
    val (ctes, scoreSum) = bm25Ctes(terms)
    s"""WITH $ctes
       |bmfinal AS (SELECT id, n_terms_matched, $scoreSum AS score FROM piv)
       |SELECT id, n_terms_matched, score FROM bmfinal
       |ORDER BY score DESC, id ASC LIMIT $topK""".stripMargin
  }

  /** q89's oracle: BM25 ranks × exact-cosine ranks for query vector 0,
    * blended by reciprocal-rank fusion. The cosine CTE mirrors
    * BRUTE_TOPK_SQL's arithmetic verbatim (query norm first). */
  private def rrfSql(terms: Seq[String], listK: Int, rrfK: Int,
                     outK: Int): String = {
    val (ctes, scoreSum) = bm25Ctes(terms)
    EMB_CTE + ctes +
      s"""bmr AS (
         |  SELECT id, row_number() OVER (ORDER BY s DESC, id ASC) AS rank_a
         |  FROM (SELECT id, $scoreSum AS s FROM piv)),
         |bmtop AS (SELECT id, rank_a FROM bmr WHERE rank_a <= $listK),
         |vp AS (
         |  SELECT c.vec_id AS id,
         |    ${cosSql("q", "c")} AS cosine
         |  FROM n q, n c WHERE q.vec_id = 0),
         |vr AS (
         |  SELECT id, row_number() OVER (ORDER BY cosine DESC, id ASC) AS rank_b
         |  FROM vp),
         |vtop AS (SELECT id, rank_b FROM vr WHERE rank_b <= $listK),
         |fused AS (
         |  SELECT COALESCE(a.id, b.id) AS id, a.rank_a, b.rank_b,
         |    COALESCE(1.0 / ($rrfK.0 + CAST(a.rank_a AS DOUBLE)), 0.0)
         |    + COALESCE(1.0 / ($rrfK.0 + CAST(b.rank_b AS DOUBLE)), 0.0) AS rrf
         |  FROM bmtop a FULL OUTER JOIN vtop b ON a.id = b.id)
         |SELECT id, rank_a, rank_b, rrf FROM fused
         |ORDER BY rrf DESC, id ASC LIMIT $outK""".stripMargin
  }

  /** Shared oracle body for the df-capped inverted-index Jaccard
    * (q38 bigram / q43 trigram): `shingleSql` builds the distinct shingle
    * list from a token list `tk`; shingles with document frequency > `cap`
    * are removed from every set before scoring, mirroring
    * [[graft.dedup.Dedup.jaccardPairs]]'s maxDf semantics exactly. */
  private def dfCappedJaccardSql(shingleSql: String, cap: Long,
                                 minJ: Double): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, lang, source, $shingleSql AS sg FROM toks),
       |post AS (
       |  SELECT doc_id, lang, source, unnest(sg) AS shingle
       |  FROM sh WHERE len(sg) > 0),
       |dfreq AS (
       |  SELECT lang, source, shingle, count(*) AS df
       |  FROM post GROUP BY lang, source, shingle),
       |kept AS (
       |  SELECT p.doc_id, p.lang, p.source, p.shingle
       |  FROM post p JOIN dfreq d
       |    ON p.lang = d.lang AND p.source = d.source AND p.shingle = d.shingle
       |  WHERE d.df <= $cap),
       |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS cnt
       |  FROM kept a JOIN kept b
       |    ON a.lang = b.lang AND a.source = b.source
       |   AND a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id_a, id_b,
       |  CAST(cnt AS DOUBLE) / CAST(na.n + nb.n - cnt AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes na ON inter.id_a = na.doc_id
       |JOIN sizes nb ON inter.id_b = nb.doc_id
       |WHERE CAST(cnt AS DOUBLE) / CAST(na.n + nb.n - cnt AS DOUBLE) >= $minJ""".stripMargin

  /** Exact trigram decontamination — shared by q48 (exact shuffle path)
    * and q71 (Bloom-gated path): the gate changes the plan, not the rows. */
  /** Shared q138/q199 CMS oracle: both builds (relational explode-agg
    * and the native TypedImperativeAggregate) answer the same
    * estimates because they share the hash derivation — one oracle
    * pins the equivalence. */
  private lazy val CMS_ORACLE: String = {
    val (as, bs) = graft.expressions.SignatureKernels.polyCoeffs(4)
    val seedRows = (0 until 4).map(d =>
      s"($d, ${as(d)}::BIGINT, ${bs(d)}::BIGINT)").mkString(", ")
    s"""WITH tok AS (SELECT unnest($TOKENS_SQL) AS tok FROM documents),
       |tf AS (
       |  SELECT tok, count(*) AS freq, ${charPolySql("tok")} AS ph
       |  FROM tok GROUP BY tok),
       |sd AS (SELECT * FROM (VALUES $seedRows) s(d, a, b)),
       |bk AS (
       |  SELECT s.d, ((s.a * f.ph + s.b) % 1000000007) % 256 AS w,
       |    sum(f.freq) AS counter
       |  FROM tf f CROSS JOIN sd s GROUP BY 1, 2),
       |top AS (SELECT tok, freq, ph FROM tf
       |        ORDER BY freq DESC, tok LIMIT 20)
       |SELECT t.tok, t.freq,
       |  CAST(min(b.counter) AS BIGINT) AS cms_estimate,
       |  CAST(min(b.counter) - t.freq AS BIGINT) AS overestimate
       |FROM top t CROSS JOIN sd s
       |JOIN bk b ON b.d = s.d
       |  AND b.w = ((s.a * t.ph + s.b) % 1000000007) % 256
       |GROUP BY t.tok, t.freq""".stripMargin
  }

  private lazy val DECON_SQL: String =
    s"""WITH toks AS (
       |  SELECT doc_id, text, lang, source, n_chars, $TOKENS_SQL AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, $TRIGRAM_SQL AS sg
       |  FROM toks),
       |ev AS (
       |  SELECT DISTINCT unnest(sg) AS shingle FROM sh WHERE doc_id % 10 = 0),
       |bad AS (
       |  SELECT DISTINCT p.doc_id
       |  FROM (SELECT doc_id, unnest(sg) AS shingle FROM sh
       |        WHERE doc_id % 10 <> 0) p
       |  JOIN ev ON p.shingle = ev.shingle)
       |SELECT doc_id, text, lang, source, n_chars FROM documents
       |WHERE doc_id % 10 <> 0
       |  AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  /** Positional (non-distinct) word bigrams/trigrams over a bound token
    * list `tk` — the ONE spelling of the n-gram transform every oracle
    * composes (VERDICT r11 item 6: repeated CTE text invites a
    * half-updated tokenization tweak; a named builder cannot drift). */
  private val POS_BIGRAM_SQL =
    "list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])"
  private val POS_TRIGRAM_SQL =
    "list_transform(range(1, len(tk) - 1), " +
      "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])"
  private val BIGRAM_SQL = s"list_distinct($POS_BIGRAM_SQL)"
  private val TRIGRAM_SQL = s"list_distinct($POS_TRIGRAM_SQL)"

  /** toks + the positional-trigram posting `ps` (doc_id, pos, shingle)
    * — the staging q137 (dup-span detector) and q233 (scrub transform)
    * share, factored so the two oracles can never tokenize apart. Lazy:
    * references TOKENS_SQL, declared further down. */
  private lazy val POS_TRI_PS_CTES: String =
    s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
       |ps AS (
       |  SELECT doc_id, unnest(range(1, len(tk) - 1)) - 1 AS pos,
       |    unnest($POS_TRIGRAM_SQL) AS shingle
       |  FROM toks),
       |""".stripMargin

  /** Shared τ=0.4 exact-Jaccard ground-truth spelling: the all-pairs
    * bigram-Jaccard join over relation `rel` (doc_id, sg) as CTEs `tp`
    * (scored pairs) and `tpf` (the τ-filtered truth set) — ONE
    * definition for its three consumers (q130 reports it, q219 audits
    * against it, q220 attributes it), mirroring the Spark side's
    * truthPairCache sharing so a threshold or tokenization tweak can
    * never drift one oracle copy apart from the others. */
  private def truthPairCtes(rel: String): String =
    s"""tp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
       |    CAST(len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))
       |      AS DOUBLE) AS jaccard
       |  FROM $rel a JOIN $rel b ON a.doc_id < b.doc_id),
       |tpf AS (SELECT id_a, id_b, jaccard FROM tp WHERE jaccard >= 0.4),
       |""".stripMargin

  /** The (doc_id, non-empty distinct-bigram list) staging the truth
    * pairs are scored over — q130/q220's opening chain. */
  private val TRUTH_BASE_CTES: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, $BIGRAM_SQL AS sg FROM toks),
       |s2 AS (SELECT doc_id, sg FROM sh WHERE len(sg) > 0),
       |""".stripMargin

  /** The poly-MinHash affine coefficients as a DuckDB VALUES list — the
    * same [[graft.expressions.SignatureKernels.polyCoeffs]] constants the
    * Spark kernel uses (operator constants are part of the definition, so
    * the oracle embeds them verbatim — the q20/q54 plane-literal pattern). */
  private def polySeedsSql(numHashes: Int): String = {
    val (as, bs) = graft.expressions.SignatureKernels.polyCoeffs(numHashes)
    (0 until numHashes).map(j =>
      s"(${j}::BIGINT, ${as(j)}::BIGINT, ${bs(j)}::BIGINT)").mkString(", ")
  }

  /** Shared poly-MinHash oracle CTEs: shingled documents (`shf`: doc_id,
    * text, non-empty distinct bigram list) and the seed table. */
  private def polyBaseCtes(numHashes: Int): String =
    s"""WITH toks AS (SELECT doc_id, text, $TOKENS_SQL AS tk FROM documents),
       |sh0 AS (SELECT doc_id, text, $BIGRAM_SQL AS sg FROM toks),
       |shf AS (SELECT doc_id, text, sg FROM sh0 WHERE len(sg) > 0),
       |seeds(i, a, b) AS (VALUES ${polySeedsSql(numHashes)}),
       |""".stripMargin

  /** q58/q59 shared CTEs through the candidate-pair set: exact-dup
    * collapse (min-id representative per identical text — the SHA-256
    * grouping's SQL mirror), per-shingle charPolyHash, per-component
    * affine minima, contiguous band slices as list keys, the bucket-size
    * cap, and the distinct (id_a < id_b) band-join candidates. */
  private def polyCandCtes(numHashes: Int, bands: Int,
                           maxBucketSize: Int): String = {
    val rows = numHashes / bands
    polyBaseCtes(numHashes) +
      s"""uniq AS (SELECT min(doc_id) AS doc_id FROM shf GROUP BY text),
         |usg AS (SELECT u.doc_id, s.sg FROM uniq u JOIN shf s ON u.doc_id = s.doc_id),
         |post AS (SELECT doc_id, unnest(sg) AS s FROM usg),
         |ph AS (SELECT doc_id, ${charPolySql("s")} AS h FROM post),
         |sig AS (
         |  SELECT doc_id, i, min((a*h + b) % 1000000007) AS m
         |  FROM ph CROSS JOIN seeds GROUP BY doc_id, i),
         |bandk AS (
         |  SELECT doc_id, i // $rows AS band, list(m ORDER BY i) AS bk
         |  FROM sig GROUP BY doc_id, band),
         |bsz AS (SELECT band, bk, count(*) AS n FROM bandk GROUP BY band, bk),
         |kept AS (
         |  SELECT k.doc_id, k.band, k.bk FROM bandk k
         |  JOIN bsz z ON k.band = z.band AND k.bk = z.bk AND z.n <= $maxBucketSize),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM kept a JOIN kept b
         |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |""".stripMargin
  }

  /** Shared q51/q53 oracle: exact-Jaccard pair graph → connected
    * components via a recursive transitive-closure CTE, labels = the
    * component minimum (mirror of [[graft.dedup.Dedup.dupClusters]]'
    * min-label fixpoint). */
  private lazy val DUP_CLUSTERS_SQL: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, lang, source, $BIGRAM_SQL AS sg
       |  FROM toks WHERE len(tk) >= 2),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
       |    CAST(len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)) AS DOUBLE)
       |      AS jaccard
       |  FROM sh a JOIN sh b
       |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
       |e AS (SELECT id_a, id_b FROM p WHERE jaccard >= 0.05),
       |sym AS (
       |  SELECT id_a AS a, id_b AS b FROM e
       |  UNION SELECT id_b, id_a FROM e),
       |reach AS (
       |  WITH RECURSIVE r(src, dst) AS (
       |    SELECT a, a FROM sym
       |    UNION
       |    SELECT r.src, s.b FROM r JOIN sym s ON r.dst = s.a)
       |  SELECT * FROM r)
       |SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src""".stripMargin

  /** Banded-LSH plane literals for the q54 oracle: (band, bit weight,
    * plane) rows — plane j sits in band j/planesPerBand with in-band bit
    * weight 1 << (j % planesPerBand), exactly
    * [[graft.similarity.Similarity.annTopKBanded]]'s slicing. */
  private def bandedPlanesSql(bands: Int, planesPerBand: Int,
                              dim: Int = 64): String =
    Similarity.quantizePlanes(
        Similarity.hyperplanes(bands * planesPerBand, dim))
      .zipWithIndex.map { case (p, j) =>
        s"(${j / planesPerBand}, ${1L << (j % planesPerBand)}, " +
          s"${p.mkString("[", ",", "]")}::BIGINT[])"
      }.mkString(", ")

  /** Shared oracle CTEs: quantized embeddings + integer norms (the q19
    * formulation, factored for the LSH-path oracles). */
  private val EMB_CTE: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding::DOUBLE[],
      |    x -> CAST(round(x * 100000.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, v,
      |    CAST(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i])) AS BIGINT) AS nrm
      |  FROM e),
      |""".stripMargin

  /** The sign-LSH path mirrored into SQL. The hyperplanes are part of the
    * operator definition (fixed seed 42, quantized like the embeddings), so
    * their literals can be EMBEDDED in the oracle — which makes the whole
    * LSH bucketing deterministic and hash-checkable, not engine-internal.
    * `dim` is pinned to the testdata's embedding dimension (64 at every
    * SF); the Spark side derives it from the data and builds the identical
    * planes. Produces CTEs `planes` (w = bit weight, pv = plane), `bk`
    * (vec_id → bucket), `c` (quantized vector + norm + bucket). */
  private def lshCtes(numPlanes: Int, dim: Int = 64): String = {
    val planeRows = Similarity
      .quantizePlanes(Similarity.hyperplanes(numPlanes, dim))
      .zipWithIndex.map { case (p, i) =>
        s"(${1L << i}, ${p.mkString("[", ",", "]")}::BIGINT[])"
      }.mkString(", ")
    s"""planes AS (SELECT * FROM (VALUES $planeRows) pl(w, pv)),
       |bk AS (
       |  SELECT n.vec_id,
       |    CAST(sum(CASE WHEN CAST(list_sum(list_transform(range(1, len(n.v)+1),
       |      i -> n.v[i]*p.pv[i])) AS BIGINT) > 0 THEN p.w ELSE 0 END) AS BIGINT) AS bucket
       |  FROM n CROSS JOIN planes p GROUP BY n.vec_id),
       |c AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk USING (vec_id)),
       |""".stripMargin
  }

  /** The PQ oracle chain (q87, reused by q92): subvector split, seed
    * codebooks (first 16 corpus vectors), one Lloyd iteration with floor
    * means, argmin encode, query LUT with the full |qsub−cv|² expansion.
    * Consumes EMB_CTE's `n`; produces `codes` and `lut`. */
  private val PQ_CTES: String =
    """subs AS (SELECT unnest(range(0, 4)) AS m),
      |cs AS (
      |  SELECT n.vec_id, s.m, list_slice(n.v, s.m*16+1, (s.m+1)*16) AS sv
      |  FROM n CROSS JOIN subs s),
      |seeds AS (
      |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS code
      |  FROM n ORDER BY vec_id LIMIT 16),
      |cb0 AS (SELECT c.m, s.code, c.sv AS cv
      |        FROM seeds s JOIN cs c USING (vec_id)),
      |psc0 AS (
      |  SELECT c.vec_id, c.m, b.code,
      |    CAST(list_sum(list_transform(range(1, len(b.cv)+1),
      |      i -> b.cv[i]*b.cv[i])) AS BIGINT)
      |    - 2 * CAST(list_sum(list_transform(range(1, len(c.sv)+1),
      |      i -> c.sv[i]*b.cv[i])) AS BIGINT) AS score
      |  FROM cs c JOIN cb0 b ON c.m = b.m),
      |asn0 AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT vec_id, m, code, row_number() OVER (PARTITION BY vec_id, m
      |      ORDER BY score ASC, code ASC) AS rn FROM psc0) WHERE rn = 1),
      |sd AS (SELECT unnest(range(1, 17)) AS i),
      |mu AS (
      |  SELECT a.m, a.code, sd.i,
      |    CAST(CASE WHEN sum(c.sv[sd.i]) >= 0
      |              THEN sum(c.sv[sd.i]) // count(*)
      |              ELSE -((-sum(c.sv[sd.i]) + count(*) - 1) // count(*))
      |         END AS BIGINT) AS mv
      |  FROM asn0 a JOIN cs c ON a.vec_id = c.vec_id AND a.m = c.m
      |  CROSS JOIN sd GROUP BY a.m, a.code, sd.i),
      |cb1 AS (
      |  SELECT b.m, b.code, COALESCE(l.cv, b.cv) AS cv FROM cb0 b
      |  LEFT JOIN (SELECT m, code, list(mv ORDER BY i) AS cv
      |             FROM mu GROUP BY m, code) l
      |    ON b.m = l.m AND b.code = l.code),
      |psc1 AS (
      |  SELECT c.vec_id, c.m, b.code,
      |    CAST(list_sum(list_transform(range(1, len(b.cv)+1),
      |      i -> b.cv[i]*b.cv[i])) AS BIGINT)
      |    - 2 * CAST(list_sum(list_transform(range(1, len(c.sv)+1),
      |      i -> c.sv[i]*b.cv[i])) AS BIGINT) AS score
      |  FROM cs c JOIN cb1 b ON c.m = b.m),
      |codes AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT vec_id, m, code, row_number() OVER (PARTITION BY vec_id, m
      |      ORDER BY score ASC, code ASC) AS rn FROM psc1) WHERE rn = 1),
      |pq AS (SELECT vec_id AS query_id, m, sv FROM cs WHERE vec_id < 10),
      |lut AS (
      |  SELECT q.query_id, b.m, b.code,
      |    CAST(list_sum(list_transform(range(1, len(q.sv)+1),
      |      i -> q.sv[i]*q.sv[i])) AS BIGINT)
      |    - 2 * CAST(list_sum(list_transform(range(1, len(q.sv)+1),
      |      i -> q.sv[i]*b.cv[i])) AS BIGINT)
      |    + CAST(list_sum(list_transform(range(1, len(b.cv)+1),
      |      i -> b.cv[i]*b.cv[i])) AS BIGINT) AS pd
      |  FROM pq q JOIN cb1 b ON q.m = b.m),
      |""".stripMargin

  // ------------------------------------------------------------- queries --

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E3 flagship: J5 composite join + P5 cast + P6 sentinel-null + F5/F6
    // diff math + F7/F8 dims + P7 filter + W1 global sort.
    "q01_diff_mart" -> ((s, dir) => diffMartEpochs(s, dir)
      .orderBy(asc("trip_id"), asc("stop_sequence"), asc("start_date"))),

    // J1-J4 broadcast star join + exact-decimal aggregates.
    "q02_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice", "l_discount")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val n = t(s, dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
      val r = t(s, dir, "region")
      val p = t(s, dir, "part").select("p_partkey")
      // Explicit broadcast ONLY for the fixed-cardinality dims (nation=25,
      // region=5). customer/supplier/part grow with the scale factor — a
      // broadcast hint on them would OOM executors at 100 TB; AQE picks
      // broadcast when they happen to be small (as at test SFs) and
      // shuffle joins when they are not.
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),

    // A1 — avg delay by hour over the mart.
    "q03_avg_delay_by_hour" -> ((s, dir) =>
      Dashboard.avgDelayByHour(diffMart(s, dir))),

    // A2 — A1 with dashboard slicers.
    "q04_avg_delay_sliced" -> ((s, dir) =>
      Dashboard.avgDelayByHourSliced(diffMart(s, dir),
        weatherGroup = Some("Rain"), routeId = Some("r3"))),

    // A3 — peak hours by distinct trips.
    "q05_peak_hours" -> ((s, dir) => Dashboard.peakHours(diffMart(s, dir))),

    // A4 — stop density by geo.
    "q06_stop_density" -> ((s, dir) => Dashboard.stopDensity(diffMart(s, dir))),

    // A5 — rollup day_type × hour.
    "q07_delay_rollup" -> ((s, dir) => Dashboard.delayRollup(diffMart(s, dir))),

    // S9 — conditional upsert merge of two keyed snapshots.
    "q08_upsert" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def snap(pred: Column): DataFrame = ev.where(pred)
        .groupBy("user_id", "event_type")
        .agg(max_by(col("value"), col("event_id")).as("value"),
          min(col("event_id")).as("created_id"),
          max(col("event_id")).as("updated_id"))
      val target = snap(col("event_id") % 3L < 2L)
      val updates = snap(col("event_id") % 3L === 2L)
      Upsert.upsert(Some(target), updates, Seq("user_id", "event_type"),
        compareCols = Seq("value"), createdCol = Some("created_id"))
    }),

    // S10 — insert-if-absent (anti-join append).
    "q09_insert_if_absent" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      val target = ev.where(col("event_id") % 4L =!= 0L)
      val updates = ev.where(col("event_id") % 4L === 0L)
      Upsert.insertIfAbsent(target, updates, Seq("user_id", "event_type"))
    }),

    // Latest-per-key via max_by (the upsert-shaped dedup, SURVEY.md §2.5).
    "q10_latest_per_key" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("event_id"), col("value"), unix_timestamp(col("ts")).as("ts_epoch"))
      Upsert.latestPerKey(ev, Seq("user_id", "event_type"), col("event_id"))
    }),

    // F1 — GTFS >24h clock normalization (UTC; tz-full variant in tests).
    "q11_gtfs_time" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val h = (col("event_id") % 40L).cast("string")
      val m = (col("user_id") % 60L).cast("string")
      val sec = (col("event_id") % 60L).cast("string")
      val clock = concat_ws(":", lpad(h, 2, "0"), lpad(m, 2, "0"), lpad(sec, 2, "0"))
      ev.select(col("event_id"), clock.as("clock"),
        to_date(col("ts")).as("service_date"),
        unix_timestamp(TimeOps.gtfsTimestamp(to_date(col("ts")), clock, "UTC"))
          .as("utc_epoch"))
    }),

    // F1 tz branch — the same normalization through to_utc_timestamp with
    // a real zone (America/Toronto). events.ts spans January 2024 only, so
    // every wall time (max +39:59:59 over the service date) falls in the
    // constant EST offset — no DST-ambiguous instants reach the oracle
    // (SURVEY.md §7.4 keeps oracle queries away from DST edges; the edges
    // themselves are pinned by TimeOpsSpec).
    "q27_gtfs_time_tz" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val h = (col("event_id") % 40L).cast("string")
      val m = (col("user_id") % 60L).cast("string")
      val sec = (col("event_id") % 60L).cast("string")
      val clock = concat_ws(":", lpad(h, 2, "0"), lpad(m, 2, "0"), lpad(sec, 2, "0"))
      ev.select(col("event_id"), clock.as("clock"),
        to_date(col("ts")).as("service_date"),
        unix_timestamp(TimeOps.gtfsTimestamp(to_date(col("ts")), clock,
          "America/Toronto")).as("utc_epoch"))
    }),

    // F10 — weather-id range bucketing.
    "q12_weather_bucket" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(WeatherOps.weatherGroup(lit(200L) + (col("event_id") % 700L))
          .as("weather_group"))
        .agg(count(lit(1)).as("n"), Dashboard.exactAvg(col("value")).as("avg_value"))
    }),

    // F11 — JSON field extraction.
    "q13_json_extract" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val k = get_json_object(col("props"), "$.k").cast("long")
      ev.groupBy((k % 10L).as("k_mod"))
        .agg(count(lit(1)).as("n"), Dashboard.exactAvg(col("value")).as("avg_value"))
    }),

    // Window formulation of latest-per-key (row_number over key partition).
    "q14_window_latest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("event_id"), col("value"))
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("event_id").desc)
      ev.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }),

    // S2 — GTFS-realtime protobuf decode + flatten, end to end over real
    // wire bytes: each event becomes a FeedMessage (1 entity, 2
    // stop_time_updates with value-dependent optional arrival/departure),
    // is ENCODED to protobuf wire format, then decoded and flattened by
    // Rt.decodeFlatten — the reference's parse_pb_data path
    // (realtime_extractor.py:97-118) as a typed flatMap.
    "q28_rt_decode" -> ((s, dir) => {
      import s.implicits._
      implicit val ss: SparkSession = s
      val ev = t(s, dir, "events").select(
        col("event_id"), unix_timestamp(col("ts")).as("ets"),
        date_format(col("ts"), "yyyyMMdd").as("sd"),
        col("user_id"), col("value"))
      val feeds = ev.as[(Long, Long, String, Long, Double)]
        .map { case (eid, ets, sd, uid, v) =>
          val stu1 = gtfs.StopTimeUpdate(Some((eid % 100L).toInt),
            arrival = if (v >= 20d)
              Some(gtfs.StopTimeEvent(None, Some(ets), None)) else None,
            departure =
              Some(gtfs.StopTimeEvent(None, Some(ets + v.toLong), None)),
            stopId = Some(uid.toString))
          val stu2 = gtfs.StopTimeUpdate(Some((eid % 100L + 1L).toInt),
            arrival = Some(gtfs.StopTimeEvent(None, Some(ets + 60L), None)),
            departure = if (v > 180d) None
              else Some(gtfs.StopTimeEvent(None, Some(ets + 120L), None)),
            stopId = Some((uid + 1L).toString))
          gtfs.Rt.encode(gtfs.FeedMessage(
            gtfs.FeedHeader("2.0", Some(ets)),
            Seq(gtfs.FeedEntity(eid.toString, None, Some(gtfs.TripUpdate(
              gtfs.TripDescriptor(Some(s"t${eid / 100L}"), None, Some(sd), None),
              Seq(stu1, stu2), Some(ets), None))))))
        }
      gtfs.Rt.decodeFlatten(feeds).toDF()
    }),

    // E2 — historical GTFS pipeline end to end over real CSV files: S3
    // multi-member scan (header CSVs written from events), J1-J4 broadcast
    // dimension chain with the calendar_dates fanout, F1 >24h clock
    // normalization in America/Toronto on real columns, F2 yyyyMMdd parse,
    // P2/P3/P1. Timestamps reduced to epochs for the hash compare.
    "q29_historical" -> ((s, dir) => {
      val fixtures = gtfsCsvFixtures(s, dir)
      val (st, tr, cd, sp, rt) = pipelines.Historical.readGtfsDir(s, fixtures)
      pipelines.Historical.build(st, tr, cd, sp, rt, tz = "America/Toronto")
        .select(col("trip_id"), col("start_date"), col("stop_sequence"),
          col("stop_id"), col("route_id"), col("stop_name"),
          col("route_long_name"),
          unix_timestamp(col("arrival_time")).as("arrival_epoch"),
          unix_timestamp(col("departure_time")).as("departure_epoch"),
          col("geo_coordinates"))
    }),

    // S5/F9/F10/F11 — the weather-attach path end to end: an OpenWeatherMap
    // -shaped JSON payload (built per row from events for verifiability;
    // in production one fetched document broadcast to the batch) is parsed
    // with the explicit schema, fields extracted, Kelvin converted,
    // condition id bucketed (reference realtime_extractor.py:52-94).
    "q30_weather_attach" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wid = lit(200L) + col("event_id") % 700L
      val json = concat(
        lit("""{"weather":[{"id":"""), wid.cast("string"),
        lit(""","main":"m","description":"wx_"""),
        (col("event_id") % 5L).cast("string"),
        lit(""""}],"main":{"temp":"""), col("user_id").cast("string"),
        lit("}}"))
      val parsed = WeatherOps.parseWeatherJson(json)
      ev.select(col("event_id"),
        parsed.getField("weather_id").as("weather_id"),
        WeatherOps.weatherGroup(parsed.getField("weather_id")).as("weather_group"),
        parsed.getField("weather_description").as("weather_description"),
        parsed.getField("temperature").as("temperature"))
    }),

    // S7 + S8 — CSV export sink then bulk-load source (the reference's
    // VPS→laptop shipping channel, loader/get_realtime.py:28-77), verified
    // by aggregating the round-tripped rows.
    "q31_csv_roundtrip" -> ((s, dir) => {
      val out = s"target/csv_rt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.mode("overwrite").option("header", "false").csv(out)
      val back = s.read
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .csv(out)
      back.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Dashboard.exactAvg(col("value")).as("avg_value"),
          sum(col("event_id")).as("sum_ids"))
    }),

    // O4 in a columnar format: ORC write + read-back (schema preserved by
    // the format, unlike CSV) through the same aggregate as q31 — source
    // AND sink coverage for the second columnar format Spark ships.
    // Proportional-allocation sampling by the largest-remainder
    // (Hamilton) method: per-source quotas floor(n_g·k/N) plus one for
    // the groups with the largest integer remainders (n_g·k mod N, ties
    // to the lexicographically first source) — the EXACT-total-size
    // stratified sample (Σ quotas ≡ k) neither the threshold (q45/q68)
    // nor systematic (q100) samplers guarantee per group. Quota math
    // runs over the bounded per-group count table (window over #groups
    // rows); members are picked per group by deterministic content-hash
    // rank, so the whole draw is integer-exact and hash-checkable.
    "q108_proportional_sample" -> ((s, dir) => {
      // k = 77 keeps the largest-remainder branch ACTIVE on the equal-
      // count source distribution (k = 100 would make every remainder 0
      // and leave the tie-break dead code the oracle never exercises):
      // equal counts -> equal remainders -> the leftover goes to the
      // lexicographically first sources, testing the tie rule itself
      val k = 77L
      val d = t(s, dir, "documents")
      val counts = d.groupBy("source").agg(count(lit(1)).as("n_g"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy() // bounded: one row per source
      val wRem = org.apache.spark.sql.expressions.Window
        .orderBy(expr(s"(n_g * ${k}L) % total").desc, col("source").asc)
      val quotas = counts
        .withColumn("total", sum(col("n_g")).over(wAll))
        .withColumn("base", expr(s"n_g * ${k}L DIV total"))
        .withColumn("leftover",
          (lit(k) - sum(col("base")).over(wAll)))
        .withColumn("extra",
          when(row_number().over(wRem) <= col("leftover"), 1L).otherwise(0L))
        .select(col("source"), (col("base") + col("extra")).as("quota"))
      // Per-source pick ranks, scale-safely: a window partitioned by
      // `source` alone over the RAW corpus would put one source's entire
      // corpus slice in a single task. Since only ranks ≤ quota ≤ k
      // matter, Rank.groupTopK prunes per (source, input-partition)
      // first and exact-ranks the k·P survivors — both windows bounded.
      Rank.groupTopK(d,
          Seq("source"),
          Seq(TextAnalysis.charPolyHash(col("text")).asc, col("doc_id").asc),
          k = k.toInt, rankCol = "pick_rank")
        .join(broadcast(quotas), "source")
        .where(col("pick_rank") <= col("quota"))
        .select(col("doc_id"), col("source"), col("pick_rank"))
    }),

    // Deterministic train/val/test split — the dataset-partitioning
    // primitive every training pipeline runs last: membership from the
    // mirrorable polynomial hash of the DOCUMENT ID (id-hash, not
    // content-hash: a later text edit must not move a document between
    // splits and silently contaminate eval), 90/5/5 by permille
    // threshold. Pure per-row predicate — no shuffle, no RNG state;
    // the same document lands in the same split on every engine, run,
    // and partitioning.
    "q116_dataset_split" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), splitAssignment.as("split"))
    }),

    // Near-dup SPLIT LEAKAGE audit — the eval-contamination check the
    // split alone cannot give: an id-hash split scatters near-duplicate
    // documents across splits, so a test document with a train near-dup
    // inflates eval. Composes two existing artifacts — q51's connected-
    // component cluster labels and q116's assignment — and reports every
    // cluster with a train member AND a val/test member. At 100 TB both
    // inputs are materialized tables; the audit is one bounded join +
    // aggregate over cluster LABELS (multi-member clusters only), never
    // the corpus texts. (Bench note: per cache-cold pass, the FIRST
    // consumer of the session's cluster artifact pays its build — q117
    // sorts before q51, so the build cost shows up here and q51 reads
    // the cached artifact, exactly the production sharing the artifact
    // section of README documents.)
    "q117_split_leakage" -> ((s, dir) => {
      val sp = t(s, dir, "documents")
        .select(col("doc_id"), splitAssignment.as("split"))
      docClusters(s, dir).join(sp, col("id") === col("doc_id"))
        .groupBy("cluster_id")
        .agg(count(when(col("split") === "train", lit(1))).as("n_train"),
          count(when(col("split") === "val", lit(1))).as("n_val"),
          count(when(col("split") === "test", lit(1))).as("n_test"))
        .where(col("n_train") > 0L && (col("n_val") > 0L || col("n_test") > 0L))
    }),

    // The SAME shortlist as q113 through the third spelling of per-group
    // top-k: a typed MERGEABLE AGGREGATE (operators/TopKAggregate). One
    // hash-aggregate pass — the k-bounded buffers partial-combine
    // MAP-SIDE, so only #groups × k rows cross the shuffle (the naive
    // window moves every row; groupTopK moves k·P survivors). PlanSpec
    // asserts the partial ObjectHashAggregate below the exchange; the
    // q113 oracle proves value identity.
    "q120_topk_aggregate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityFeatures(col("text"), Seq("the", "a"))
            .getField("quality_score").as("quality_score"))
      val top = graft.operators.TopKAggregate.topK(5)(
        col("quality_score"), col("doc_id"))
      d.groupBy("lang").agg(top.as("tops"))
        .select(col("lang"), posexplode(col("tops")))
        .select(col("col.id").as("doc_id"), col("lang"),
          col("col.score").as("quality_score"),
          (col("pos") + 1).cast("long").as("qrank"))
    }),

    // Token-rarity signal — the corpus-frequency quality score used to
    // weight sampling toward novel content: per document, the mean
    // document-frequency ratio of its DISTINCT tokens (low = rare
    // vocabulary). All integer until one mirrored double divide: df from
    // the distinct (doc, token) posting (map-side combined), sum-of-df
    // per doc via the token-keyed join, corpus size N as the 1-row
    // scalar attach (the q60 shape, declared in PlanSpec). Zero-token
    // documents surface with NULL ratio, never divide-by-zero.
    "q114_token_rarity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val post = d.select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
      val dfreq = post.groupBy("tok").agg(count(lit(1)).as("df"))
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val per = post.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("df")).as("sum_df"))
      d.select(col("doc_id")).crossJoin(nDocs)
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tok"), lit(0L)).as("n_distinct_tokens"),
          coalesce(col("sum_df"), lit(0L)).as("sum_df"),
          when(col("n_tok").isNull, lit(null))
            .otherwise(col("sum_df").cast("double") /
              (col("n_tok") * col("n_docs")).cast("double"))
            .as("mean_df_ratio"))
    }),

    // Per-group top-k as a first-class operator (Rank.groupTopK): the
    // 5 highest-quality documents per language by the q22 quality score
    // — the curation shortlist shape ("best docs per slice"). The group
    // column is bounded-cardinality, exactly the shape where the naive
    // per-group window funnels a corpus slice through one task; the
    // operator's local-prune + exact-rank keeps every window partition
    // bounded while the oracle computes the naive window — the hash
    // match proves the pruning loses nothing.
    "q113_top_quality_per_lang" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityFeatures(col("text"), Seq("the", "a"))
            .getField("quality_score").as("quality_score"))
      Rank.groupTopK(d, Seq("lang"),
        Seq(col("quality_score").desc, col("doc_id").asc),
        k = 5, rankCol = "qrank")
    }),

    // Spatial proximity self-join via GRID BUCKETING — the spatial
    // sibling of LSH candidate generation: points land in coarse grid
    // cells, one side explodes to its 3×3 neighborhood, candidates come
    // from the cell equi-join (never all pairs), and the exact integer
    // squared-distance filter verifies. Cell size = radius guarantees
    // NO MISSES (two points within r are at most one cell apart on each
    // axis — the pigeonhole completeness argument SimHash banding uses).
    // Coordinates are synthetic integer (lat, lon) spread by the
    // mirrorable polynomial hash (a bare user_id % m would collapse ids
    // onto a tiny lattice of coincident points, and coincident points
    // make every co-located pair match — quadratic output that says
    // nothing about the grid); the hash spread keeps expected per-cell
    // density uniform, so the candidate:output ratio stays the bounded
    // 9-cell constant.
    "q107_spatial_pairs" -> ((s, dir) => {
      val r2 = 100L // radius² — radius 10 units
      val cell = 10L // = radius: the no-miss grid size
      def coord(prefix: String): Column =
        TextAnalysis.charPolyHash(
          concat(lit(prefix), col("user_id").cast("string"))) % 100L
      val pts = t(s, dir, "events")
        .select(col("user_id")).distinct()
        .select(col("user_id").as("id"),
          coord("lat_").as("lat"), coord("lon_").as("lon"))
      val a = pts.select(col("id").as("id_a"), col("lat").as("lat_a"),
          col("lon").as("lon_a"),
          expr(s"lat DIV ${cell}L").as("cx"), expr(s"lon DIV ${cell}L").as("cy"))
        .select(col("id_a"), col("lat_a"), col("lon_a"),
          explode(expr("sequence(cx - 1, cx + 1)")).as("cx"), col("cy"))
        .select(col("id_a"), col("lat_a"), col("lon_a"), col("cx"),
          explode(expr("sequence(cy - 1, cy + 1)")).as("cy"))
      val b = pts.select(col("id").as("id_b"), col("lat").as("lat_b"),
        col("lon").as("lon_b"),
        expr(s"lat DIV ${cell}L").as("cx"), expr(s"lon DIV ${cell}L").as("cy"))
      val d2 = (col("lat_a") - col("lat_b")) * (col("lat_a") - col("lat_b")) +
        (col("lon_a") - col("lon_b")) * (col("lon_a") - col("lon_b"))
      // B keeps its ONE home cell while A explodes to 9, so a qualifying
      // pair matches in exactly one (cx, cy) — no dedup pass needed
      a.join(b, Seq("cx", "cy"))
        .where(col("id_a") < col("id_b") && d2 <= lit(r2))
        .select(col("id_a"), col("id_b"), d2.as("dist2"))
    }),

    // Order-independent table checksum — the anti-entropy primitive for
    // verifying replicas/migrations without moving data: every row
    // hashes through the mirrorable polynomial hash of its canonical
    // string form, and the checksum is the EXACT decimal sum of row
    // hashes (commutative — partitioning and row order cannot perturb
    // it; decimal(38,0) cannot overflow at any corpus size, where a
    // long sum would wrap silently around 1e12 rows). Emitted as a
    // string: both engines print a scale-0 decimal as a plain integer.
    "q111_table_checksum" -> ((s, dir) => {
      t(s, dir, "events")
        .select(eventsRowHash.as("h"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h").cast("decimal(38,0)")).cast("string").as("checksum"))
        .select(lit("events").as("table_name"), col("n_rows"),
          col("checksum"))
    }),

    // Partition-scoped checksums — q111's anti-entropy primitive at the
    // granularity repair actually needs: one commutative checksum per
    // event_type partition, so two replicas that disagree localize the
    // divergence to the partitions to re-sync instead of "somewhere in
    // 100 TB". Same NULL-safe full-row hash, same order-independent
    // decimal sum — the per-partition sums add up to q111's total by
    // construction.
    "q118_partition_checksums" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), eventsRowHash.as("h"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h").cast("decimal(38,0)")).cast("string").as("checksum"))
    }),

    // Partition-scoped streaming merge — the 100 TB shape of the S9
    // snapshot: the keyed snapshot lives partitioned by its day column, a
    // multi-date batch arrives touching a THIRD of the days, and
    // RealtimeStream.merge (partitioned by day) reads ONLY those partitions
    // (pruned at the file listing — PartitionedMergeSpec pins the plan)
    // and dynamic-overwrites exactly them. The oracle computes the FULL
    // logical merge over all days, so the hash match proves the
    // partition-scoped physical merge ≡ a full-snapshot rewrite.
    "q112_partitioned_merge" -> ((s, dir) => {
      val out = s"target/ptmerge_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(out), true) // fresh run
      val ev = t(s, dir, "events")
      def snap(pred: Column): DataFrame = ev.where(pred)
        .groupBy(to_date(col("ts")).as("day"), col("user_id"),
          col("event_type"))
        .agg(max_by(col("value"), col("event_id")).as("value"),
          min(col("event_id")).as("created_id"),
          max(col("event_id")).as("updated_id"))
      val keys = Seq("day", "user_id", "event_type")
      // bootstrap snapshot: even event ids, every day
      RealtimeStream.merge(
        snap(col("event_id") % 2L === 0L), out, keys,
        compareCols = Seq("value"), createdCol = Some("created_id"),
        order = col("updated_id"), partitionCol = Some("day"))
      // the micro-batch: odd event ids on every third day
      RealtimeStream.merge(
        snap(col("event_id") % 2L =!= 0L &&
          pmod(datediff(to_date(col("ts")), lit("2024-01-01")), lit(3)) === 0),
        out, keys, compareCols = Seq("value"), createdCol = Some("created_id"),
        order = col("updated_id"), partitionCol = Some("day"))
      s.read.parquet(out).select("day", "user_id", "event_type",
        "value", "created_id", "updated_id")
    }),

    // Compaction (OPTIMIZE) planner — the small-file coalescing pass
    // every streaming-ingested lake needs: per (event_type, day) "file"
    // row counts packed SEQUENTIALLY in day order into ~target-size
    // output bins (bin = pre-file cumulative DIV target). Sequential
    // packing — not first-fit-decreasing — because it PRESERVES the
    // clustering key: each output file covers a contiguous day range, so
    // min/max pruning on day survives the rewrite. Scale shape: the
    // window runs over FILE METADATA (one row per file, partitioned by
    // the table's partition column) — metadata-sized like a real
    // OPTIMIZE planner, never over data rows; the data movement it
    // plans is the bin-grouped rewrite, one shuffle keyed by bin.
    "q136_compaction_plan" -> ((s, dir) => {
      val files = t(s, dir, "events")
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(count(lit(1)).as("n_rows"))
      // rows per output file (bytes in production); the plan arithmetic
      // is Compaction.plan — ONE spelling shared with the q241 executor
      graft.operators.Compaction.plan(files, "event_type", "day_epoch",
          targetRows = 500L)
        .withColumn("n_bin_rows",
          sum(col("n_rows")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type"), col("bin"))))
        .select(col("event_type"), col("day_epoch"), col("n_rows"),
          col("bin"), col("n_bin_rows"))
    }),

    // Compaction EXECUTED (the q136 plan's rewrite, VERDICT r11 item 3):
    // events rewrite into one parquet file per (event_type, bin) under a
    // manifest commit (the GTFS-RT connector's crash-safe protocol), and
    // the read-back — through the manifest, like any reader — reports
    // per-bin rows, physical file count, and the covered day range. The
    // oracle recomputes the PLAN arithmetic only, so the hash match
    // proves the executed layout delivers exactly the planned bins: all
    // rows present, one file per bin, contiguous day coverage.
    "q241_compaction_exec" -> ((s, dir) => {
      val out = s"target/compact_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(out), true) // fresh run
      val ev = t(s, dir, "events").select(col("event_type"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"),
        col("event_id"), col("user_id"), col("value"))
      graft.operators.Compaction.execute(ev, "event_type", "day_epoch",
        targetRows = 500L, outDir = out, runId = "q241")
      graft.operators.Compaction.readCompacted(s, out)
        .groupBy(col("event_type"), col("bin").cast("long").as("bin"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("_metadata.file_path")).as("n_files"),
          min(col("day_epoch")).as("min_day_epoch"),
          max(col("day_epoch")).as("max_day_epoch"))
    }),

    // Compaction pruning MEASURED (VERDICT r12 item 4): the
    // clustering-preserving bins exist so min/max file skipping
    // survives the rewrite — this row reads a compacted lake back
    // through the committed per-file min/max sidecar with a fixed
    // 7-day key-range and reports how many files the range read PLANS
    // OVER vs the lake's total (inputFiles — the planned scan list
    // itself, bounded driver metadata), plus the rows/events returned.
    // The compacted table is the per-(event_type, day) daily rollup —
    // metadata-sized at every sf, so the bin count (and the pruning
    // ratio) is scale-free; the oracle recomputes all four numbers
    // from the plan arithmetic alone, so the hash match proves the
    // EXECUTED skip list equals the planned overlap set.
    "q248_compaction_pruned_read" -> ((s, dir) => {
      val out = s"target/compactprune_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(out), true) // fresh run
      val sm = t(s, dir, "events")
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(count(lit(1)).as("n_events"))
      graft.operators.Compaction.execute(sm, "event_type", "day_epoch",
        targetRows = 6L, outDir = out, runId = "q248")
      // one driver scalar (the corpus' first day) anchors the window
      val minDay = sm.agg(min(col("day_epoch"))).collect()(0).getLong(0)
      val (rlo, rhi) = (minDay + 12L * 86400L, minDay + 18L * 86400L)
      val full = graft.operators.Compaction.readCompacted(s, out)
      val pruned = graft.operators.Compaction.readCompactedRange(
        s, out, "day_epoch", rlo, rhi)
      pruned.agg(count(lit(1)).as("n_rows_range"),
          coalesce(sum(col("n_events")), lit(0L)).as("n_events_range"))
        .select(lit(full.inputFiles.length.toLong).as("n_files_total"),
          lit(pruned.inputFiles.length.toLong).as("n_files_selected"),
          col("n_rows_range"), col("n_events_range"))
    }),

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
    "q249_tws_ewma_replay" -> ((s, dir) => {
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
    "q250_stream_join_replay" -> ((s, dir) => {
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
    "q251_stream_dedup_replay" -> ((s, dir) => {
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
    "q252_stream_window_agg_replay" -> ((s, dir) => {
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
    "q253_stream_static_anti_join" -> ((s, dir) => {
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
    "q254_fmgws_streak_replay" -> ((s, dir) => {
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
    "q255_session_stream_replay" -> ((s, dir) => {
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
    "q256_funnel_stream_replay" -> ((s, dir) => {
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
    "q267_stream_admission_gate" -> ((s, dir) => {
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
    "q257_stream_outer_join_replay" -> ((s, dir) => {
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
    "q258_tws_restart_replay" -> ((s, dir) => {
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
    "q259_chained_stateful_replay" -> ((s, dir) => {
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
    "q260_session_window_native" -> ((s, dir) => {
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
    "q261_stream_join_restart" -> ((s, dir) => {
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
    "q262_join_agg_chain_replay" -> ((s, dir) => {
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

    // The gap sessionizer on Spark 4's arbitrary-state API, hash-checked
    // — q255's exact out-of-order state machine re-expressed as a
    // transformWithState StatefulProcessor with a typed ListState of
    // open sessions and explicit event-time TIMERS
    // (registerTimer/handleExpiredTimer) on RocksDB, the forward path
    // for every fMGWS operator. Same replay, same sentinel scheme, same
    // oracle as q255: three green spellings of one session set (custom
    // fMGWS q255, native session_window q260, StatefulProcessor q263)
    // is the strongest parity pin the registry can give the operator.
    "q263_tws_sessions_replay" -> ((s, dir) => {
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
    "q264_tws_sessions_restart" -> ((s, dir) => {
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
    "q265_mapstate_dims_replay" -> ((s, dir) => {
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
    "q269_mapstate_ttl_restart" -> ((s, dir) => {
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
    "q266_funnel_merge_restart" -> ((s, dir) => {
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

    // One-pass dataset profiler — the data-quality summary every
    // ingestion gate runs first: per column its null count, distinct
    // count, and min/max rendered as strings (one schema for every
    // type). ONE scan computes all columns' stats simultaneously (a
    // per-column loop would scan once per column); the per-column rows
    // come from a literal unpivot of the single aggregate row.
    "q105_profile" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val cols = Seq("event_id", "user_id", "event_type", "value")
      // doubles render to strings as MICRO-UNIT INTEGERS
      // (floor(x·1e6 + 0.5)): shortest-roundtrip double formatting
      // diverges between engines (Java flips to scientific notation
      // below 1e-3) and even a decimal cast can round decimal-tie
      // values differently (Spark rounds the shortest STRING half-up,
      // DuckDB rounds the binary double) — floor over pure binary
      // arithmetic is the only channel with no string/decimal step
      def render(c: String): Column => Column =
        if (c == "value")
          (x: Column) => floor(x * lit(1000000.0) + lit(0.5))
            .cast("long").cast("string")
        else (x: Column) => x.cast("string")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"__n_$c"),
          count_distinct(col(c)).as(s"__d_$c"),
          render(c)(min(col(c))).as(s"__min_$c"),
          render(c)(max(col(c))).as(s"__max_$c"))
      }
      val total = count(lit(1)).as("__total")
      val one = ev.agg(total, aggs: _*)
      val rows = cols.map { c =>
        struct(lit(c).as("col_name"),
          (col("__total") - col(s"__n_$c")).as("n_null"),
          col(s"__d_$c").as("n_distinct"),
          col(s"__min_$c").as("min_str"),
          col(s"__max_$c").as("max_str"))
      }
      one.select(explode(array(rows: _*)).as("p"))
        .select(col("p.col_name"), col("p.n_null"), col("p.n_distinct"),
          col("p.min_str"), col("p.max_str"))
    }),

    // Ratio-to-report: each trip's share of its service day's total
    // absolute delay — the percent-of-total window shape, partitioned by
    // START_DATE (one partition per day, cardinality grows with the
    // data; the all-rows frame needs no ordering). Numerator and
    // denominator are exact decimal sums; one mirrored divide.
    "q106_share_of_day" -> ((s, dir) => {
      val m = diffMart(s, dir).where(col("average_diff_in_minutes").isNotNull)
        .groupBy(col("start_date"), col("trip_id"))
        .agg(sum(abs(col("average_diff_in_minutes")).cast("decimal(20,6)"))
          .as("trip_abs"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("start_date")
      m.select(col("start_date"), col("trip_id"),
          col("trip_abs").cast("double").as("trip_abs_delay"),
          try_divide(col("trip_abs").cast("double"),
            sum(col("trip_abs")).over(w).cast("double")).as("share"))
    }),

    // Decomposable-aggregate merge — the incremental-maintenance
    // discipline: the mart is split into two disjoint halves (trip-hash
    // parity — think "yesterday's materialized partial" and "today's
    // delta"), each half reduces to (Σ decimal, n) PARTIALS, and the
    // merge of partials re-derives the exact average. avg is not
    // mergeable but (sum, count) is — the decomposition every
    // incremental dashboard rebuild relies on; the oracle computes the
    // direct full aggregate, so the hash-match proves merge ≡ recompute.
    "q104_merge_aggregates" -> ((s, dir) => {
      val m = diffMart(s, dir).where(col("average_diff_in_minutes").isNotNull)
        .select(col("day_type"), col("trip_id"),
          col("average_diff_in_minutes").as("x"))
      def partial(half: DataFrame) = half.groupBy("day_type").agg(
        sum(col("x").cast("decimal(20,6)")).as("s"),
        count(col("x")).as("n"))
      val even = partial(m.where(xxhash64(col("trip_id")) % 2L === 0L))
      val odd = partial(m.where(xxhash64(col("trip_id")) % 2L =!= 0L))
      even.unionByName(odd)
        .groupBy("day_type")
        .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
        .select(col("day_type"), col("n").as("n_rows"),
          try_divide(col("s").cast("double"), col("n")).as("avg_delay"))
    }),

    // Dynamic partition overwrite — the surgical-rewrite contract behind
    // user-erasure/compaction on a partitioned lake: a full snapshot
    // partitioned by event_type, then ONE partition rewritten with user
    // 5's click rows erased. partitionOverwriteMode=dynamic replaces
    // only partitions present in the incoming frame (static mode would
    // TRUNCATE the whole table to just clicks — the classic data-loss
    // foot-gun this option exists to prevent); untouched partitions'
    // files are asserted byte-identical by PartitionOverwriteSpec.
    "q103_partition_overwrite" -> ((s, dir) => {
      val out = s"target/gdpr_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      val cleaned = ev.where(col("event_type") === "click" &&
        col("user_id") =!= 5L)
      // dynamic overwrite replaces only partitions PRESENT in the frame:
      // an empty frame would no-op and the erasure would silently fail
      // (user 5's rows surviving on disk while the oracle excludes them)
      // — fail loudly instead; a real erasure job with a possibly-empty
      // remainder must DELETE the partition, not overwrite it
      require(!cleaned.isEmpty,
        "q103: cleaned click partition is empty — dynamic overwrite " +
          "would no-op instead of erasing")
      cleaned.write.mode("overwrite").partitionBy("event_type")
        .option("partitionOverwriteMode", "dynamic").parquet(out)
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(when(col("user_id") === 5L, lit(1))).as("n_user5"),
          sum(col("event_id")).as("sum_ids"))
    }),

    // CSV quoting/escaping round-trip under HOSTILE content — q31 proves
    // the plain round-trip; this proves the quoting layer: every payload
    // embeds the delimiter, the quote character, and a NEWLINE, the
    // fields Spark must quote+escape on write and re-assemble on read
    // (multiLine=true: embedded newlines make naive line-splitting
    // corrupt records). The oracle never parses the CSV — it recomputes
    // the expected payloads from the parquet source, so the hash match
    // proves write→read is the identity on content the format exists to
    // protect.
    "q121_csv_quoting" -> ((s, dir) => {
      val out = s"target/csvq_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(",\"\n"), col("lang")).as("payload"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").option("multiLine", "true")
        .schema("doc_id LONG, payload STRING").csv(out)
        .agg(count(lit(1)).as("n_rows"),
          sum(TextAnalysis.charPolyHash(col("payload")).cast("decimal(38,0)"))
            .cast("string").as("payload_checksum"))
    }),

    // SCD2 history build (operators/Scd2) — the warehouse dual of the
    // upsert family: the events log collapsed to validity intervals of
    // each user's event_type, so any past dimension state is one
    // point-in-time predicate away. Two stacked windows share a single
    // hash shuffle of the slim projection (the change filter preserves
    // partitioning — Scd2Spec pins one Exchange); at 100 TB the shuffle
    // keys on high-cardinality user_id and per-key state is the key's
    // own short change history.
    "q122_scd2_history" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), unix_timestamp(col("ts")).as("ts_epoch"))
      graft.operators.Scd2.buildHistory(ev, Seq("user_id"),
        Seq("event_type"), "ts_epoch", "event_id")
    }),

    // Referential-integrity audit — the pre-publication gate of any
    // warehouse load: per-relationship orphan counts with min/max
    // offending key. Each check is a LEFT ANTI join against the
    // parent's DISTINCT keys (slim build side, key-partitioned — the
    // q09 shape as an audit), then a 1-row aggregate; 100 TB children
    // stream through without materializing matches. Parents are
    // deterministically THINNED (keys ≡0 mod 97 dropped — the q119
    // injected-breakage discipline) because the synthetic data is
    // referentially clean and an all-zero audit would leave the
    // positive path untested; part/supplier stay intact to prove the
    // zero path too.
    "q128_fk_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def audit(rel: String, child: DataFrame, key: String,
                parentKeys: DataFrame): DataFrame = {
        val orphans = child.join(parentKeys, Seq(key), "left_anti")
        orphans.agg(count(lit(1)).as("n_orphans"),
            min(col(key)).as("min_orphan_key"),
            max(col(key)).as("max_orphan_key"))
          .crossJoin(child.agg(count(lit(1)).as("n_children")))
          .select(lit(rel).as("relationship"), col("n_children"),
            col("n_orphans"), col("min_orphan_key"), col("max_orphan_key"))
      }
      val thinnedOrders = t(s, dir, "orders")
        .where(col("o_orderkey") % 97L =!= 0L)
        .select(col("o_orderkey").as("l_orderkey")).distinct()
      val thinnedCust = t(s, dir, "customer")
        .where(col("c_custkey") % 97L =!= 0L)
        .select(col("c_custkey").as("o_custkey")).distinct()
      audit("lineitem->orders", li.select("l_orderkey"), "l_orderkey",
          thinnedOrders)
        .unionByName(audit("lineitem->part", li.select("l_partkey"),
          "l_partkey",
          t(s, dir, "part").select(col("p_partkey").as("l_partkey")).distinct()))
        .unionByName(audit("lineitem->supplier", li.select("l_suppkey"),
          "l_suppkey",
          t(s, dir, "supplier").select(col("s_suppkey").as("l_suppkey")).distinct()))
        .unionByName(audit("orders->customer",
          t(s, dir, "orders").select("o_custkey"), "o_custkey", thinnedCust))
    }),

    // Equal-width histogram (operators/Histogram) — the distribution
    // readout between q105's min/max profile and q50's exact
    // percentiles. Two 1-row-bounded passes: a broadcast min/max
    // aggregate, then arithmetic bin assignment whose shuffle carries at
    // most nBins rows per partition. Bin ids are exact BIGINT floors
    // both sides; edges render in q105's micro-unit integers, so the
    // whole histogram hash-checks.
    "q142_histogram" -> ((s, dir) =>
      graft.operators.Histogram.equalWidth(
        t(s, dir, "lineitem"), "l_extendedprice", nBins = 16)),

    // Functional-dependency audit — the intra-table sibling of q128's
    // cross-table FK audit (column-level data profiling: "is A → B a
    // key-like dependency?"). For each candidate pair, ONE aggregate
    // computes |distinct(det)| and |distinct(det, dep)|; the dependency
    // holds iff they're equal, and the difference counts determinant
    // values with conflicting dependents. Map-side-combined distinct
    // aggregates, no joins, no windows — 100 TB children stream
    // through; the audited columns are non-null here so Spark's and the
    // oracle's multi-column DISTINCT NULL rules never diverge.
    "q143_fd_audit" -> ((s, dir) => {
      def audit(df: DataFrame, table: String, det: String,
                dep: String): DataFrame =
        df.agg(count_distinct(col(det)).as("n_det"),
            count_distinct(col(det), col(dep)).as("n_pairs"))
          .select(lit(s"$table: $det -> $dep").as("dependency"),
            col("n_det"), col("n_pairs"),
            (col("n_pairs") - col("n_det")).as("n_violating"),
            (col("n_pairs") === col("n_det")).cast("long").as("fd_holds"))
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      audit(orders, "orders", "o_orderkey", "o_orderstatus")
        .unionByName(audit(orders, "orders", "o_custkey", "o_orderpriority"))
        .unionByName(audit(li, "lineitem", "l_orderkey", "l_returnflag"))
        .unionByName(audit(li, "lineitem", "l_partkey", "l_linestatus"))
    }),

    // χ²-distinctive terms per language (text/CorpusOps.chi2Terms) —
    // the supervised keyword extractor: which terms over-index in each
    // class. 2×2 document-presence contingency in exact decimals, two
    // mirrored double divides, no logs; the top-k window runs over the
    // vocabulary-bounded aggregate, never the corpus.
    "q144_chi2_terms" -> ((s, dir) =>
      CorpusOps.chi2Terms(t(s, dir, "documents"), "doc_id", "lang",
        "text", topK = 5)),

    // Robust outlier counts via median/MAD — the q91 z-score family
    // member that a heavy-tailed delay distribution needs (mean and
    // stddev are themselves dragged by the outliers they're meant to
    // flag; the median/MAD pair is breakdown-point-0.5 robust). Delays
    // are integer seconds, so both medians interpolate on dyadic
    // fractions — exact in ANY interpolation spelling, the q50
    // precedent. Three map-side-combined aggregates over the bounded
    // day_type key, two broadcast joins back; no windows.
    "q145_mad_outliers" -> ((s, dir) => {
      val d = diffMart(s, dir)
        .withColumn("delay",
          unix_timestamp(col("actual_arrival_time")) -
            unix_timestamp(col("scheduled_arrival_time")))
        .where(col("delay").isNotNull)
      val med = d.groupBy("day_type")
        .agg(expr("percentile(delay, 0.5D)").as("med"))
      val withDev = d.join(broadcast(med), "day_type")
        .withColumn("absdev", abs(col("delay").cast("double") - col("med")))
      val mad = withDev.groupBy("day_type")
        .agg(expr("percentile(absdev, 0.5D)").as("mad"))
      withDev.join(broadcast(mad), "day_type")
        .groupBy("day_type", "med", "mad")
        .agg(count(lit(1)).as("n"),
          sum((col("absdev") > lit(3.0) * col("mad")).cast("long"))
            .as("n_outliers"))
        .select("day_type", "med", "mad", "n", "n_outliers")
    }),

    // Debounce / consecutive-duplicate suppression — the event-stream
    // cleaning primitive (a retrying client fires the same event a few
    // seconds apart; training pipelines keep one): q44's gap
    // sessionization keyed by (user, event_type) with a 60 s gap, each
    // burst collapsed to its span and a suppressed count. The window
    // partitions by the high-cardinality user key; the collapse is one
    // partitioning-aligned aggregate.
    "q146_debounce" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("event_id"), unix_timestamp(col("ts")).as("ts_epoch"))
      Sessionize.assignSessions(ev, Seq("user_id", "event_type"),
          "ts_epoch", "event_id", gapSeconds = 60L)
        .groupBy("user_id", "event_type", "session_seq")
        .agg(min(col("ts_epoch")).as("first_ts"),
          max(col("ts_epoch")).as("last_ts"),
          count(lit(1)).as("n_events"),
          (count(lit(1)) - lit(1L)).as("n_suppressed"))
    }),

    // Winsorization at the Tukey fences — the feature-pipeline value
    // capper: per day type, delays clipped to [p25 − 1.5·IQR,
    // p75 + 1.5·IQR] with below/above counts and the clipped sum.
    // Quartiles of integer seconds are exact dyadics (q50), the fences
    // spend one mirrored multiply each, and the clipped sum accumulates
    // in DECIMAL(18,2) (quarters are exact at scale 2) before one cast
    // to double — order-independent, so partitioning can't shift it.
    "q147_winsorize" -> ((s, dir) => {
      val d = diffMart(s, dir)
        .withColumn("delay",
          unix_timestamp(col("actual_arrival_time")) -
            unix_timestamp(col("scheduled_arrival_time")))
        .where(col("delay").isNotNull)
      val fences = d.groupBy("day_type")
        .agg(expr("percentile(delay, array(0.25D, 0.75D))").as("p"))
        .select(col("day_type"), col("p").getItem(0).as("p25"),
          col("p").getItem(1).as("p75"))
        .withColumn("lo", col("p25") - lit(1.5) * (col("p75") - col("p25")))
        .withColumn("hi", col("p75") + lit(1.5) * (col("p75") - col("p25")))
      d.join(broadcast(fences), "day_type")
        .groupBy("day_type", "lo", "hi")
        .agg(count(lit(1)).as("n"),
          sum((col("delay").cast("double") < col("lo")).cast("long"))
            .as("n_below"),
          sum((col("delay").cast("double") > col("hi")).cast("long"))
            .as("n_above"),
          sum(greatest(col("lo"), least(col("hi"), col("delay").cast("double")))
            .cast("decimal(18,2)")).cast("double").as("sum_winsorized"))
        .select("day_type", "lo", "hi", "n", "n_below", "n_above",
          "sum_winsorized")
    }),

    // k-anonymity audit — the privacy gate before a dataset ships: how
    // many quasi-identifier cells (event_type × hour × value decade)
    // have fewer than k members, and how many rows sit in those
    // re-identifiable cells, at k ∈ {2, 5, 10}. One slim-key
    // map-side-combined groupBy builds the cell histogram; the audit
    // itself is a 1-row aggregate over cells — no joins, no windows,
    // and the row count crossing the shuffle is the CELL count.
    "q148_k_anonymity" -> ((s, dir) => {
      val cells = t(s, dir, "events")
        .select(col("event_type"),
          (floor(unix_timestamp(col("ts")) / lit(3600.0)) % lit(24L))
            .as("hr"),
          floor(col("value") / lit(10.0)).as("vband"))
        .groupBy("event_type", "hr", "vband")
        .agg(count(lit(1)).as("n"))
      def below(k: Int) = Seq(
        sum((col("n") < k.toLong).cast("long")).as(s"n_cells_lt$k"),
        sum(when(col("n") < k.toLong, col("n")).otherwise(lit(0L)))
          .as(s"n_rows_lt$k"))
      cells.agg(count(lit(1)).as("n_cells"), (Seq(min(col("n")).as("min_cell"))
        ++ below(2) ++ below(5) ++ below(10)): _*)
    }),

    // Per-cluster k-means inertia (similarity/Similarity.ivfClusterStats)
    // — the cluster-quality readout over q32's coarse quantizer: exact
    // integer dist² = |x|²+|c|²−2⟨x,c⟩ per assigned vector, summed in
    // DECIMAL(38,0). The training loop is q32's (shared CTEs in the
    // oracle); the readout adds one O(dim) codegen dot per row and a
    // 16-key aggregate. The HASHED surface splits the decimal inertia
    // into two BIGINT limbs (hi = DIV 10¹², lo = MOD 10¹²): r7-r9
    // showed the driver's comparator treats an int128-typed column
    // (Spark DECIMAL(38,0) / DuckDB HUGEINT) differently from int64 —
    // e.g. DuckDB's pandas path renders both as float64, lossy past
    // 2^53 and repr-divergent from pyarrow's Decimal below it — so the
    // contract is: hashed columns are int64 in BOTH engines, at
    // magnitudes < 2^53 (limbs < 10¹²; total for inertia < 10²⁴, far
    // above any reachable scale — the decimal carries the true sum).
    "q149_kmeans_inertia" -> ((s, dir) =>
      Similarity.ivfClusterStats(t(s, dir, "embeddings"), "vec_id",
        "embedding", nCentroids = 16, kmeansIters = 2,
        trainedCents = Some(ivfTrained(s, dir, 16, 2)))
        .select(col("cid"), col("n_assigned"),
          expr("CAST(inertia DIV 1000000000000 AS BIGINT)").as("inertia_hi"),
          expr("CAST(inertia % 1000000000000 AS BIGINT)").as("inertia_lo"))),

    // r10 DIAGNOSTICS (VERDICT r9 item 1) — q149's training pipeline
    // read out at intermediate points on pure-int64 surfaces, so a
    // still-red q149 in CORRECTNESS_r10 comes with the first diverging
    // stage named: per-vector assignment, final centroid coordinates,
    // per-round assignment histograms. All ride the ivfTrained artifact
    // — one training (per knob set) for the whole family plus q32.
    "q149a_ivf_assign" -> ((s, dir) =>
      Similarity.ivfAssignments(t(s, dir, "embeddings"), "vec_id",
        "embedding", ivfTrained(s, dir, 16, 2))),
    "q149b_ivf_centroids" -> ((s, dir) =>
      Similarity.ivfCentroidRows(s, ivfTrained(s, dir, 16, 2))),
    "q149c_ivf_round_hist" -> ((s, dir) =>
      Similarity.ivfRoundHist(t(s, dir, "embeddings"), "vec_id",
        "embedding", iters = 2, r => ivfTrained(s, dir, 16, r))),

    // Mergeable quantile sketch (Greenwald–Khanna via built-in
    // percentile_approx, accuracy 1/ε = 100) — the sketch family's
    // quantile member (HLL q40 distincts, CMS q138 frequencies, MG q88
    // heavy hitters, GK here): per-partition sketches partial-combine
    // map-side, so quantiles of a 100 TB column cost one slim-sketch
    // shuffle instead of q50's exact-percentile sort. Rows-only check
    // (no DuckDB twin); the GK rank guarantee |rank(est) − φN| ≤ εN is
    // spec-pinned against the exact distribution in SketchSpec.
    "q151_approx_percentiles" -> ((s, dir) =>
      diffMart(s, dir)
        .withColumn("delay",
          unix_timestamp(col("actual_arrival_time")) -
            unix_timestamp(col("scheduled_arrival_time")))
        .where(col("delay").isNotNull)
        .groupBy("day_type")
        .agg(expr("percentile_approx(delay, array(0.5D, 0.9D, 0.99D), 100)")
          .as("p"), count(lit(1)).as("n_obs"))
        .select(col("day_type"), col("p").getItem(0).as("p50_approx"),
          col("p").getItem(1).as("p90_approx"),
          col("p").getItem(2).as("p99_approx"), col("n_obs"))),

    // Two-sample χ² distribution-drift audit — "do clicks and views
    // draw from the same value distribution?", the monitoring gate
    // between data generations (PSI's ln-free sibling, the q144
    // discipline applied to numeric histograms): fixed-width value
    // bands, observed-vs-expected per band under the pooled marginals,
    // per-band χ² contributions. One conditional aggregate builds the
    // band table; the totals attach is a 1-row broadcast (q60 shape);
    // integer counts exact, the e/χ² divides mirrored op-for-op.
    "q152_chi2_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_type").isin("view", "click") &&
          col("value").isNotNull)
        .select(col("event_type"), floor(col("value") / lit(5.0)).as("vband"))
      val cells = ev.groupBy("vband").agg(
        sum((col("event_type") === "view").cast("long")).as("o_a"),
        sum((col("event_type") === "click").cast("long")).as("o_b"))
      val totals = cells.agg(sum(col("o_a")).as("n_a"),
        sum(col("o_b")).as("n_b"))
      val d = (c: Column) => c.cast("double")
      cells.crossJoin(broadcast(totals))
        .withColumn("e_a", d(col("o_a") + col("o_b")) *
          (d(col("n_a")) / d(col("n_a") + col("n_b"))))
        .withColumn("e_b", d(col("o_a") + col("o_b")) *
          (d(col("n_b")) / d(col("n_a") + col("n_b"))))
        .select(col("vband"), col("o_a"), col("o_b"), col("e_a"), col("e_b"),
          ((d(col("o_a")) - col("e_a")) * (d(col("o_a")) - col("e_a")) /
            col("e_a") +
            (d(col("o_b")) - col("e_b")) * (d(col("o_b")) - col("e_b")) /
              col("e_b")).as("chi2"))
    }),

    // Trailing moving average over a bounded ROWS frame — the
    // fixed-width window-frame member (q95 buckets time, q99 positions,
    // q139/q140 densify; this is the classic last-3-observations
    // smoother). Per-user frames partition by the high-cardinality key;
    // values ride micro-unit integers inside the frame sum so the
    // average is one mirrored divide of exact integers — no
    // order-dependent float accumulation inside the window.
    "q153_moving_avg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
        .rowsBetween(-2, org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"), col("value"))
        .withColumn("sum3_micro",
          sum(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long"))
            .over(w))
        .withColumn("n3", count(col("value")).over(w))
        .withColumn("ma",
          try_divide(col("sum3_micro").cast("double"),
            col("n3").cast("double")) / lit(1000000.0))
        .select("user_id", "event_id", "ts_epoch", "sum3_micro", "n3", "ma")
    }),

    // The whole-operator custom plan driven end-to-end: per-group
    // top-k as a FIRST-CLASS physical operator (plans/GroupTopKPlan —
    // logical node + planner Strategy + UnaryExecNode, injected via
    // GraftOptimizations.install, the §7.4(c) escalation layer).
    // GroupTopKExec declares ClusteredDistribution(group) + in-
    // partition (group, order) sort, so EnsureRequirements plans one
    // exchange + one sort and the exec is a streaming O(1)-state run
    // counter — no window, no per-group heap, nothing buffered.
    // Hash-checks against the row_number oracle; physical-plan shape
    // and groupTopK parity pinned in GroupTopKPhysicalSpec.
    "q155_group_topk_exec" -> ((s, dir) => {
      val iso = s.newSession()
      graft.plans.GraftOptimizations.install(iso)
      val docs = t(iso, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      graft.plans.GroupTopKPlan.topK(docs, Seq("lang", "source"),
        Seq("n_chars" -> false, "doc_id" -> true), k = 3)
    }),

    // Set-operator family — INTERSECT / EXCEPT in both SQL-standard
    // DISTINCT and bag (ALL) semantics over two deterministic event
    // slices. Spark's intersect/except desugar to aggregates and
    // left-anti/left-semi joins; the four cardinalities in one output
    // pin the distinct-vs-multiplicity contract (bag counts exceed set
    // counts exactly by the duplicate mass).
    "q154_set_ops" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.where(col("user_id") % 3L === 0L).select("user_id")
      val b = ev.where(col("user_id") % 2L === 0L).select("user_id")
      def n(label: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n")).select(lit(label).as("op"), col("n"))
      n("intersect", a.intersect(b))
        .unionByName(n("intersect_all", a.intersectAll(b)))
        .unionByName(n("except", a.except(b)))
        .unionByName(n("except_all", a.exceptAll(b)))
    }),

    // GROUPING SETS — the last member of the multi-granularity family
    // (q07 rollup, q79 cube): an EXPLICIT set list {(type, hr), (type),
    // (hr)} that neither rollup nor cube can spell (cube would add the
    // grand total). One pass, grouping-id disambiguates the NULL-keyed
    // rows; sums ride q105's micro-unit integers so double formatting
    // and decimal-tie rounding never enter the hash.
    "q150_grouping_sets" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        (floor(unix_timestamp(col("ts")) / lit(3600.0)) % lit(24L))
          .as("hr"),
        col("value"))
      ev.groupingSets(
          Seq(Seq(col("event_type"), col("hr")), Seq(col("event_type")),
            Seq(col("hr"))),
          col("event_type"), col("hr"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long"))
            .as("sum_value_micro"),
          (grouping(col("event_type")) * 2 + grouping(col("hr")))
            .cast("long").as("gid"))
    }),

    // Event-type transition matrix — first-order sequence mining over
    // the event log (the Markov-chain / user-path primitive): per-user
    // (previous type → type) successor pairs with occurrence and
    // distinct-user counts. One lag window partitioned by
    // high-cardinality user_id (ordered by epoch + event_id tiebreak),
    // then a map-side-combined pair aggregate — no self-join, one
    // shuffle each.
    "q129_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts_epoch"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n_transitions"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // PageRank centrality over the stop-transition graph (consecutive
    // stops within a trip — the q129 edge discipline, here on stop
    // nodes): which stops sit on the most-travelled-through paths. The
    // operator (operators/PageRank) is the canonical iterative
    // join+agg, made hash-checkable by FIXED-POINT integer arithmetic —
    // double-sum PageRank is shuffle-order-dependent and could never be
    // oracle-hashed; the 1e-12-unit BIGINT spelling is exact in both
    // engines, so the oracle unrolls the identical 3 iterations.
    "q134_stop_pagerank" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("event_id DIV 100 AS trip", "event_id % 100 AS seq",
          "user_id")
      val edges = ev.as("a").join(ev.as("b"),
          col("a.trip") === col("b.trip") &&
            col("a.seq") + 1 === col("b.seq"))
        .groupBy(col("a.user_id").as("src"), col("b.user_id").as("dst"))
        .agg(count(lit(1)).as("weight"))
      graft.operators.PageRank
        .fixedPoint(edges, "src", "dst", "weight", iters = 3)
        .withColumnRenamed("node", "stop_id")
    }),

    // Token-distribution concentration — the Herfindahl index
    // Σ(tf/n)² = Σtf²/n² per document: the unigram-DISTRIBUTION quality
    // signal (high HHI = few tokens dominate = template/boilerplate
    // text) complementing q61's bigram repetition and q114's corpus-df
    // rarity. Entropy would need the libm-divergent ln; HHI carries the
    // same concentration ordering with integer-exact Σtf² and ONE
    // double divide. Zero-token docs report NULL, never divide-by-zero.
    "q127_token_concentration" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val agg = tf.groupBy("doc_id").agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * col("tf")).as("sum_tf2"))
      t(s, dir, "documents").select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          (col("sum_tf2").cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double")).as("hhi"))
    }),

    // Vocabulary coverage — the tokenizer-training readout: the top-V
    // corpus tokens by frequency with each rank's CUMULATIVE share of
    // all token occurrences ("how much of the corpus does a V-entry
    // vocab cover?"). Top-V is TakeOrdered (no global sort); the rank /
    // cumulative window runs over the ≤V surviving rows only (the q89
    // bounded-window discipline); counts stay exact BIGINT until the one
    // final share division.
    "q131_vocab_coverage" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val total = tf.agg(sum(col("freq")).as("__total"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("freq").desc, col("tok"))
      tf.orderBy(col("freq").desc, col("tok")).limit(100)
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_freq", sum(col("freq")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
        .crossJoin(broadcast(total))
        .select(col("rank"), col("tok"), col("freq"), col("cum_freq"),
          (col("cum_freq").cast("double") /
            col("__total").cast("double")).as("cum_share"))
    }),

    // Graded contamination: per-train-document fractional n-gram overlap
    // with the eval corpus — the thresholdable score behind q48's boolean
    // drop decision (one shared 3-gram ≠ a 40% leak).
    "q132_contamination_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusOps.contaminationScore(
        docs.where(col("doc_id") % 10L =!= 0L),
        docs.where(col("doc_id") % 10L === 0L),
        "doc_id", "text", n = 3)
    }),

    // Gini coefficient of per-trip delay burden — the inequality readout
    // that pairs with q127's Herfindahl: 0 = delay is spread evenly over
    // trips, →1 = a few trips absorb nearly all of it. Uses the sorted
    // identity G = (2·Σi·x_i − (n+1)·Σx_i)/(n·Σx_i), with the global
    // ascending rank i from Rank.globalRank (two-pass, NO single-task
    // window) and every sum an exact decimal accumulator — the only
    // double op is the final division (try_divide: an all-zero-delay
    // corpus scores NULL, matching the oracle's NULL-on-zero).
    "q133_delay_gini" -> ((s, dir) => {
      val ta = diffMart(s, dir)
        .where(col("average_diff_in_minutes").isNotNull)
        .groupBy(col("start_date"), col("trip_id"))
        .agg(sum(abs(col("average_diff_in_minutes")).cast("decimal(20,6)"))
          .as("x"))
      Rank.globalRank(ta,
          Seq(col("x"), col("start_date"), col("trip_id")), "i")
        .agg(count(lit(1)).as("n_trips"), sum(col("x")).as("__s0"),
          sum(col("i") * col("x")).as("__s1"))
        .select(col("n_trips"),
          col("__s0").cast("double").as("total_abs_delay"),
          try_divide(
            (lit(2L) * col("__s1") -
              (col("n_trips") + lit(1L)) * col("__s0")).cast("double"),
            (col("n_trips") * col("__s0")).cast("double")).as("gini"))
    }),

    // 2-D Pareto frontier (operators/Skyline): orders no other order
    // both postdates AND out-prices — the non-dominated set when two
    // desiderata don't collapse into one score. Per-x max aggregate →
    // local-prune + exact cummax scan (the groupTopK pigeonhole with
    // cummax) → broadcast frontier join-back; the corpus never sorts
    // globally and never self-joins. Oracle is an independent NOT
    // EXISTS dominance spelling over the per-date maxima.
    "q126_pareto_frontier" -> ((s, dir) =>
      graft.operators.Skyline.frontier2D(
        t(s, dir, "orders").select(col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("order_epoch"),
          col("o_totalprice")),
        "order_epoch", "o_totalprice")),

    // Term co-occurrence with lift (CorpusOps.termCooccurrence) — the
    // collocation/PMI-ranking signal (lift = n_ab·N/(n_a·n_b); PMI is
    // its ln, monotone, so ranking is identical without the libm-
    // divergent transcendental). Fanout discipline: df-cap kills the
    // stopword quadratic, per-doc rarest-20 caps each document at
    // C(20,2) pairs; exact DECIMAL products, ONE double divide. (790‰
    // keeps the df-cap ACTIVE on the synthetic 31-term vocabulary —
    // every term but one sits at 75-80% presence, so a conventional
    // 300‰ cap leaves one eligible term and an empty, untested result.)
    "q125_pmi_cooccur" -> ((s, dir) =>
      graft.text.CorpusOps.termCooccurrence(t(s, dir, "documents"),
        "doc_id", "text", minDf = 3L, maxDfPermille = 790L,
        perDocTerms = 20, minSupport = 3L)),

    // Weighted sampling WITHOUT replacement by priority sampling
    // (operators/PrioritySample, Duffield–Lund–Thorup): k highest
    // w/u priorities with u from the content hash and the priority in
    // exact integer arithmetic — the fourth sampler spelling (threshold
    // q45/q68, systematic q100, largest-remainder q108) and the only
    // one with principled UNEQUAL per-row inclusion probabilities
    // (∝ n_chars here). Top-k is TakeOrderedAndProject: bounded heaps
    // per partition, k·P rows to the merge, no global sort.
    "q124_priority_sample" -> ((s, dir) =>
      graft.operators.PrioritySample.sample(
        t(s, dir, "documents").select("doc_id", "n_chars", "text"),
        100, col("n_chars"), TextAnalysis.charPolyHash(col("text")),
        col("doc_id"))
        .select("doc_id", "n_chars", "priority")),

    // Snapshot diff / CDC extract (operators/Upsert.snapshotDiff) — the
    // read-side inverse of q08's merge: two deterministic versions of
    // orders (old drops keys ≡3 mod 10 and doubles price on keys ≡0
    // mod 7; new drops keys ≡7 mod 10), diffed into added/removed/
    // changed rows. One full-outer join on the key, both sides large
    // (no broadcast), only the compared projection shuffles; unchanged
    // keys die inside the join projection. ×2 on a double is exact, so
    // the changed-price rows hash-match the oracle bit-for-bit.
    "q123_snapshot_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val oldV = orders.where(col("o_orderkey") % 10L =!= 3L)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 7L === 0L, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val newV = orders.where(col("o_orderkey") % 10L =!= 7L)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.operators.Upsert.snapshotDiff(oldV, newV, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
    }),

    // Corrupt-file-tolerant scans — the fault-isolation contract a
    // 100 TB lake needs at the FILE granularity (q101 covers the ROW
    // granularity): a landing directory holds two healthy parquet
    // generations and one garbage file a crashed writer left behind;
    // `ignoreCorruptFiles` skips exactly the unreadable file instead of
    // failing the whole scan, and the aggregate over the survivors
    // hash-matches the oracle reading only the healthy files. The
    // option is set per-read, never session-wide — silently skipping
    // corrupt data must be an explicit, local decision.
    "q119_corrupt_tolerance" -> ((s, dir) => {
      val out = s"target/corrupt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.where(col("event_id") % 2L === 0L)
        .write.mode("overwrite").parquet(s"$out/g1")
      ev.where(col("event_id") % 2L =!= 0L)
        .write.mode("overwrite").parquet(s"$out/g2")
      val bad = new java.io.File(s"$out/bad"); bad.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/bad/junk.parquet"),
        "this is not a parquet file".getBytes)
      s.read
        // explicit schema: inference reads footers, and a garbage file
        // can abort it before row-level tolerance even applies — a
        // production tolerant read pins the expected schema anyway
        .schema(ev.schema)
        .option("recursiveFileLookup", "true")
        .option("ignoreCorruptFiles", "true")
        .parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Dashboard.exactAvg(col("value")).as("avg_value"),
          sum(col("event_id")).as("sum_ids"))
    }),

    // Schema evolution across file generations: generation 1 lacks the
    // `value` column, generation 2 carries it; `mergeSchema` unifies the
    // footers at read time (union-by-name: missing columns surface as
    // NULL, never a positional mis-bind) — the long-lived-dataset
    // contract every production lake needs. The oracle rebuilds the same
    // two generations as a UNION ALL with a typed NULL.
    "q97_schema_evolution" -> ((s, dir) => {
      val out = s"target/schevo_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
      ev.where(col("event_id") % 2 === 0)
        .select("event_id", "event_type")
        .write.mode("overwrite").parquet(s"$out/gen1")
      ev.where(col("event_id") % 2 =!= 0)
        .select("event_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$out/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$out/gen1", s"$out/gen2")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("n_with_value"),
          Dashboard.exactAvg(col("value")).as("avg_value"),
          sum(col("event_id")).as("sum_ids"))
    }),

    "q74_orc_roundtrip" -> ((s, dir) => {
      val out = s"target/orc_rt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Dashboard.exactAvg(col("value")).as("avg_value"),
          sum(col("event_id")).as("sum_ids"))
    }),

    // One BPE tokenizer-training step: the corpus-wide argmax adjacent
    // pair (count desc, pair asc — one bounded driver action) merged
    // greedily into every document by the codegen'd graft_bpe_merge
    // scan. The oracle recomputes the argmax and mirrors the greedy
    // fold exactly.
    "q84_bpe_merge" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (pa, pb, _) = CorpusOps.topAdjacentPair(d, "doc_id", "text")
        .getOrElse(("", "", 0L))
      val merged = graft.expressions.TextKernels.bpeMergeOf(
        TextAnalysis.tokens(col("text")), pa, pb)
      d.select(col("doc_id"), lit(pa).as("pair_a"), lit(pb).as("pair_b"),
        array_join(merged, " ").as("merged_text"),
        size(merged).cast("long").as("n_after"))
    }),

    // JSON-lines roundtrip — the training-data interchange format:
    // write documents as JSONL, read back with an EXPLICIT schema (a
    // schema-inference pass over 100 TB is a full extra scan), aggregate.
    "q83_jsonl_roundtrip" -> ((s, dir) => {
      val out = s"target/jsonl_rt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").json(out)
      s.read.schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .json(out)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"))
    }),

    // Hive-style partitioned layout + partition PRUNING: the write lays
    // events out by event_type directory, and the read-back filter is
    // satisfied from the file listing — the scan never opens the other
    // partitions (PlanSpec asserts the PartitionFilters entry). The
    // data-layout primitive that turns a 100 TB scan into a 20 TB one.
    "q75_partitioned_pruning" -> ((s, dir) => {
      val out = s"target/part_rt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      s.read.parquet(out).where(col("event_type") === "click")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
          Dashboard.exactAvg(col("value")).as("avg_value"),
          sum(col("event_id")).as("sum_ids"))
    }),

    // Deterministic corpus shuffle: training order = global rank by a
    // seeded content hash — reproducible from the seed alone, computed
    // by the two-pass range-partitioned ranking (RankSpec pins the
    // no-single-task-window plan), not a global window sort.
    "q76_corpus_shuffle" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("h", TextAnalysis.charPolyHash(
          concat(lit("seed42:"), col("doc_id").cast("string"))))
      graft.operators.Rank.globalRank(d, Seq(col("h"), col("doc_id")),
          "shuffle_pos")
        .select("doc_id", "h", "shuffle_pos")
    }),

    // Malformed-record accounting at ingestion: the raw corpus parses
    // cleanly, so every 7th row's props is deterministically corrupted
    // (the q64 enrichment precedent — injected breakage is mirrored
    // verbatim in the oracle) and the extraction must DEGRADE, not
    // abort: get_json_object yields NULL on malformed input, the oracle
    // guards with json_valid, and the per-type rollup counts exactly
    // which rows survived — the dead-letter bookkeeping every
    // unvalidated-input pipeline needs.
    "q101_malformed_json" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val enriched = when(col("event_id") % 7L === 0L,
        concat(lit("{broken"), col("props"))).otherwise(col("props"))
      val k = get_json_object(enriched, "$.k").cast("long")
      ev.select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_valid"),
          sum(col("k")).as("sum_k"))
    }),

    // Systematic sampling — every k-th document in deterministic
    // content-hash order (q76's two-pass global rank): unlike q45's
    // Bernoulli-style hash threshold, systematic sampling guarantees
    // EXACTLY floor(n/k) rows with even coverage of the shuffled order —
    // the survey-sampling discipline for held-out/eval splits.
    "q100_systematic_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("h", TextAnalysis.charPolyHash(
          concat(lit("seed42:"), col("doc_id").cast("string"))))
      graft.operators.Rank.globalRank(d, Seq(col("h"), col("doc_id")),
          "shuffle_pos")
        .where(col("shuffle_pos") % 10L === 0L)
        .select("doc_id", "lang", "source", "shuffle_pos")
    }),

    // The BUILT-IN session_window sessionization (vs q44's window-sum
    // Sessionize): grouping by the gap-merged session window directly.
    // Boundary semantics differ from q44 — session_window starts a NEW
    // session at exactly gap distance (diff >= gap) where Sessionize
    // continues (diff > gap) — so the oracle encodes the >= rule.
    // Event times are truncated to whole seconds on both sides first.
    "q82_session_window" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        timestamp_seconds(unix_timestamp(col("ts"))).as("tss"))
      ev.groupBy(col("user_id"), session_window(col("tss"), "1800 seconds"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("start_epoch"),
          unix_timestamp(col("session_window.end")).as("end_epoch"),
          col("n_events"))
    }),

    // Z-order (Morton) sort key over quantized (user, value): the
    // multi-dimensional layout key behind min-max file skipping —
    // computed as a pure codegen'd shift/or fold, bit-for-bit mirrored
    // in the oracle (ZOrder.zorderedWrite is the layout pass itself;
    // ZOrderSpec proves disjoint per-file z ranges + 2-D locality).
    "q81_zorder_key" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // % (not pmod) to match the oracle's % exactly; zValue's
      // non-negative contract holds because user_id >= 0 in this schema
      val x = col("user_id") % lit(256L)
      val y = greatest(least(floor(col("value")).cast("long"), lit(255L)),
        lit(0L))
      ev.select(col("event_id"), x.as("xq"), y.as("yq"),
        graft.operators.ZOrder.zValue(Seq(x, y), bits = 8).as("z"))
    }),

    // Full CUBE over (day_type, weather_group) with an explicit grouping
    // id — every marginal the dashboard can slice, in one pass (A5's
    // rollup generalized to all 2^k marginals).
    "q79_delay_cube" -> ((s, dir) =>
      diffMart(s, dir)
        .cube(col("day_type"), col("weather_group"))
        .agg(Dashboard.exactAvg(col("average_diff_in_minutes"))
            .as("avg_delay_min"),
          count(lit(1)).as("n_rows"),
          (grouping(col("day_type")) * 2 + grouping(col("weather_group")))
            .cast("long").as("gid"))),

    // Pivot: average delay by day type ACROSS weather columns — the
    // wide dashboard matrix. Explicit pivot values keep the schema
    // static (a discovery pivot is a separate distinct scan + a
    // driver-defined column set); the oracle is the conditional
    // aggregation the pivot desugars to.
    "q80_delay_pivot" -> ((s, dir) =>
      diffMart(s, dir)
        .groupBy(col("day_type"))
        .pivot("weather_group", Seq("Clear", "Clouds", "Rain", "Snow"))
        .agg(Dashboard.exactAvg(col("average_diff_in_minutes")))),

    // UNPIVOT — the inverse relational op of q80: melt the wide weather
    // matrix back to long (day_type, weather_group, avg_delay) rows.
    // Combinations absent from the data pivot to NULL cells; the filter
    // drops them so unpivot∘pivot is exactly the direct long-form
    // aggregation, which is what the oracle computes.
    "q98_unpivot" -> ((s, dir) => {
      val groups = Seq("Clear", "Clouds", "Rain", "Snow")
      diffMart(s, dir)
        .groupBy(col("day_type"))
        .pivot("weather_group", groups)
        .agg(Dashboard.exactAvg(col("average_diff_in_minutes")))
        .unpivot(Array(col("day_type")), groups.map(col).toArray,
          "weather_group", "avg_delay")
        .where(col("avg_delay").isNotNull)
    }),

    // Equi-depth bucketing via ntile — the remaining window-family
    // member: each trip's stops split into 4 delay quartile buckets
    // (SQL-standard ntile remainder rule: earlier buckets get the extra
    // rows — identical in both engines). Partitioned by TRIP, like q99.
    "q109_delay_ntile" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("trip_id")
        .orderBy(col("average_diff_in_minutes").asc, col("stop_sequence").asc)
      diffMart(s, dir)
        .where(col("average_diff_in_minutes").isNotNull)
        .select(col("trip_id"), col("stop_sequence"),
          col("average_diff_in_minutes").as("delay_min"),
          ntile(4).over(w).cast("long").as("quartile"))
    }),

    // Fuzzy entity matching — the edit-distance member of the dedup
    // family: stop-name pairs within Levenshtein distance 2, found via
    // LENGTH × SEGMENT blocking (Dedup.fuzzyNamePairs — the PassJoin
    // segment-pigeonhole: candidates must share a content segment at an
    // aligned position WITHIN the length band, so candidate generation
    // is subquadratic on realistic vocabularies, never weaker than the
    // length band alone, and the observed fuzzy_block.candidates metric
    // exposes degenerate corpora). levenshtein is integer dynamic
    // programming, identical in both engines, and the oracle is the
    // naive all-pairs filter — the hash match IS the blocking's
    // completeness proof.
    "q110_fuzzy_names" -> ((s, dir) => {
      val names = t(s, dir, "events")
        .select(concat(lit("stop_"), col("user_id").cast("string"))
          .as("name")).distinct()
      Dedup.fuzzyNamePairs(names, "name", maxDist = 2)
    }),

    // The RewriteBoundedLevenshtein rule driven end-to-end: the SAME
    // fuzzy pairs as q110, but spelled the way a USER would write them —
    // a length-band join verified by the BUILT-IN `levenshtein(...) <= 2`
    // predicate — on a session with GraftOptimizations installed. The
    // rule swaps the predicate's full-table levenshtein for the banded
    // kernel (PlanSpec asserts the optimized plan); the projected dist
    // value keeps the built-in (it is observable output, not a
    // threshold decision). Hash-checks against q110's oracle verbatim.
    "q115_fuzzy_rewrite" -> ((s, dir) => {
      val iso = s.newSession()
      graft.plans.GraftOptimizations.install(iso)
      val names = t(iso, dir, "events")
        .select(concat(lit("stop_"), col("user_id").cast("string"))
          .as("name")).distinct()
        .withColumn("len", length(col("name")))
      val a = names.select(col("name").as("name_a"),
        explode(expr("sequence(len - 2, len + 2)")).as("len"))
      val b = names.select(col("name").as("name_b"), col("len"))
      a.join(b, "len")
        .where(col("name_a") < col("name_b") &&
          levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
    }),

    // Distribution-position window functions (percent_rank / cume_dist)
    // over each trip's stop delays. Partitioned by TRIP — high
    // cardinality, bounded partition size (≤ stops-per-trip) — never by
    // a 7-value dimension like day_type, whose partitions would be
    // corpus-sized at scale (the q76 two-pass ranking is the spelling
    // for THAT shape). Both functions are exact rational positions
    // computed identically from the SQL standard in either engine.
    "q99_delay_position" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("trip_id")
        .orderBy(col("average_diff_in_minutes").asc, col("stop_sequence").asc)
      diffMart(s, dir)
        .where(col("average_diff_in_minutes").isNotNull)
        .select(col("trip_id"), col("stop_sequence"),
          col("average_diff_in_minutes").as("delay_min"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
    }),

    // Exact-sufficient-statistics Pearson correlation per day type:
    // decimal-exact Σx/Σy/Σxy/Σx²/Σy², closed form in mirrored doubles —
    // partial-aggregation order cannot flip a bit (the exactAvg
    // discipline extended to second moments).
    "q77_delay_temp_corr" -> ((s, dir) =>
      diffMart(s, dir)
        .where(col("average_diff_in_minutes").isNotNull &&
          col("temperature").isNotNull)
        .groupBy("day_type")
        .agg(count(lit(1)).as("n_rows"),
          Dashboard.exactCorr(col("average_diff_in_minutes"),
            col("temperature")).as("corr_delay_temp"))),

    // Per-day-type z-score outlier flags over the mart: exact decimal
    // first/second moments (the q77 discipline), then
    // z = (x·n − Σx) / sqrt(n·Σx² − Σx·Σx) — the algebraic form that
    // never materializes mean or std separately, so the whole score is
    // two mirrored IEEE ops deep. Stats are a 7-row broadcast join back.
    // The radicand is clamped at 0 on BOTH sides: the moments are exact
    // but their double casts are not, so a (near-)zero-variance group can
    // round to a tiny NEGATIVE radicand — Spark's sqrt would give NaN
    // while DuckDB's sqrt ERRORS on negatives. The divide is try_divide:
    // DuckDB's double x/0.0 is NULL (not IEEE Inf), so the mirrored
    // zero-variance outcome is a NULL z in BOTH engines — flagged in
    // neither, never an engine error, never an Inf-vs-NULL divergence.
    "q91_delay_outliers" -> ((s, dir) => {
      val x = col("average_diff_in_minutes")
      val m = diffMart(s, dir).where(x.isNotNull)
      val stats = m.groupBy("day_type").agg(
        count(lit(1)).cast("double").as("n"),
        sum(x.cast("decimal(15,6)")).cast("double").as("sx"),
        sum(x.cast("decimal(15,6)") * x.cast("decimal(15,6)"))
          .cast("double").as("sxx"))
      val z = try_divide(x * col("n") - col("sx"),
        sqrt(greatest(col("n") * col("sxx") - col("sx") * col("sx"),
          lit(0.0))))
      m.join(broadcast(stats), "day_type")
        .select(col("trip_id"), col("stop_sequence"), col("start_date"),
          col("day_type"), x.as("delay_min"), z.as("z"))
        .where(abs(col("z")) > lit(2.5))
    }),

    // Fixed-width delay histogram per day type: floor(x/5) binning —
    // one IEEE divide + floor, identical in any engine; the dashboard
    // distribution primitive.
    "q78_delay_histogram" -> ((s, dir) =>
      diffMart(s, dir).where(col("average_diff_in_minutes").isNotNull)
        .groupBy(col("day_type"),
          floor(col("average_diff_in_minutes") / lit(5.0)).cast("long")
            .as("bin"))
        .agg(count(lit(1)).as("n"))),

    // E1 — the composed realtime micro-batch over real wire bytes: encode
    // one entity per event (unique keys → the oracle needs no tie-break),
    // then Realtime.microBatch runs decode → epoch-0 sentinel defaults →
    // weather attach (fixed payload) → dedup → (first-run) snapshot.
    // Audit stamps are excluded (run-relative); epochs replace timestamps.
    "q36_realtime_e1" -> ((s, dir) => {
      import s.implicits._
      implicit val ss: SparkSession = s
      val ev = t(s, dir, "events").select(
        col("event_id"), unix_timestamp(col("ts")).as("ets"),
        date_format(col("ts"), "yyyyMMdd").as("sd"),
        col("user_id"), col("value"))
      val feeds = ev.as[(Long, Long, String, Long, Double)]
        .map { case (eid, ets, sd, uid, v) =>
          gtfs.Rt.encode(gtfs.FeedMessage(
            gtfs.FeedHeader("2.0", Some(ets)),
            Seq(gtfs.FeedEntity(eid.toString, None, Some(gtfs.TripUpdate(
              gtfs.TripDescriptor(Some(s"t${eid / 100L}"), None, Some(sd), None),
              Seq(gtfs.StopTimeUpdate(Some((eid % 100L).toInt),
                arrival = if (v >= 20d)
                  Some(gtfs.StopTimeEvent(None, Some(ets), None)) else None,
                departure = if (v <= 180d)
                  Some(gtfs.StopTimeEvent(None, Some(ets + v.toLong), None))
                else None,
                stopId = Some(uid.toString))),
              Some(ets), None))))))
        }
      val wx =
        """{"weather":[{"id":601,"main":"Snow","description":"heavy snow"}],""" +
          """"main":{"temp":263.15,"humidity":90}}"""
      pipelines.Realtime.microBatch(feeds, Some(wx), None)
        .select(col("trip_id"), col("start_date"), col("stop_sequence"),
          col("stop_id"),
          unix_timestamp(col("arrival_time")).as("arrival_epoch"),
          unix_timestamp(col("departure_time")).as("departure_epoch"),
          col("weather_group"), col("weather_description"), col("temperature"))
    }),

    // --- training-data pipeline operators (beyond the reference) ---

    // Exact dedup by content hash.
    "q15_dedup_exact" -> ((s, dir) =>
      Dedup.exactDupGroups(t(s, dir, "documents"), "doc_id", "text")),

    // The deduplicated corpus itself (all columns, min-id representative
    // per distinct content) — the left-semi formulation that moves
    // full-width rows once.
    "q42_dedup_corpus" -> ((s, dir) =>
      Dedup.dedupCorpus(t(s, dir, "documents"), "doc_id", "text")),

    // Exact TRIGRAM-shingle Jaccard with the df cap — the generalized
    // shingle grain (n-gram fold) through the same inverted-index +
    // hot-shingle-cap machinery as q18/q38.
    "q43_trigram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), minJaccard = 0.05, maxDf = Some(20L),
        shingleN = 3)),

    // Near-dup clustering: connected components (large-star/small-star to
    // fixpoint) over exact-Jaccard pairs — pairwise matches become
    // keep-one-per-group clusters. The oracle computes the same
    // components via a recursive transitive-closure CTE. Built once per
    // (session, dir) and shared with q53, like the mart (clusters are a
    // materialized artifact in a production corpus pipeline).
    "q51_dup_clusters" -> ((s, dir) => docClusters(s, dir)),

    // The near-dup-deduplicated corpus: q51's clusters applied back to
    // the documents — non-representative members dropped, singletons
    // untouched. The full dedup ladder's end deliverable.
    "q53_neardup_corpus" -> ((s, dir) =>
      Dedup.nearDupCorpus(t(s, dir, "documents"), "doc_id",
        docClusters(s, dir))),

    // Best-member representative selection: q51's clusters applied with
    // the production keep rule — the LONGEST member of each near-dup
    // cluster survives (tie → min id) instead of the minimum id. One
    // hash aggregate of (score, -id) structs per cluster, no window sort.
    "q73_neardup_best" -> ((s, dir) =>
      Dedup.nearDupCorpusBest(t(s, dir, "documents"), "doc_id",
        docClusters(s, dir), col("n_chars"))),

    // MinHash + LSH near-dup candidate pairs (rows-only check: xxhash64
    // has no DuckDB equivalent).
    "q16_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashCandidatePairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 64, bands = 16)),

    // SimHash 64-bit fingerprints (rows-only check).
    "q17_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("simhash"))
    }),

    // Exact bigram-shingle Jaccard within lang×source blocks (posting-list
    // inverted-index join — same semantics as the all-pairs oracle).
    "q18_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), minJaccard = 0.15)),

    // q18 with the hot-shingle document-frequency cap active: shingles
    // occurring in more than maxDf docs of a block are removed from every
    // set before scoring — the bound on the posting join's Σ df² term
    // (boilerplate shingles in templated corpora). df is deterministic, so
    // the capped operator is still hash-checked against a DuckDB oracle
    // applying the identical filter.
    "q38_jaccard_maxdf" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), minJaccard = 0.1, maxDf = Some(10L))),

    // Prefix-filtered exact Jaccard join (All-Pairs/PPJoin): NO blocking
    // columns and NO df cap — rarity-ordered prefixes alone make the
    // candidate join subquadratic while staying COMPLETE for J ≥ τ. The
    // oracle is the unblocked all-pairs join, so the hash match IS the
    // completeness proof of the prefix filter. Shared artifact: q219
    // audits and q220 attributes this same verified pair set.
    "q130_prefix_jaccard" -> ((s, dir) => truthPairs(s, dir)),

    // Candidate-generation recall/precision audit: the banded poly-LSH
    // candidate set (q58's artifact) measured against the exact τ=0.4
    // PPJoin ground truth (q130's artifact) — integer counts only, so
    // the audit is itself on the hard hash gate. The truth side is
    // first mapped through the candidate generator's exact-dup
    // REPRESENTATIVES (min id per text hash): the generator collapses
    // identical texts before banding (those pairs are the exact-dedup
    // rung's job), so comparing against uncollapsed truth would count
    // structurally-unreachable pairs as misses and understate recall
    // on any corpus with exact duplicates.
    "q219_lsh_recall" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ids = docs.select(col("doc_id"),
        sha2(col("text"), 256).as("__h"))
      val rep = ids.groupBy("__h").agg(min(col("doc_id")).as("rep"))
      val dmap = ids.join(rep, "__h").select(col("doc_id"), col("rep"))
      val collapsed = truthPairs(s, dir)
        .join(dmap.select(col("doc_id").as("id_a"), col("rep").as("ra")),
          "id_a")
        .join(dmap.select(col("doc_id").as("id_b"), col("rep").as("rb")),
          "id_b")
        .where(col("ra") =!= col("rb"))
        .select(least(col("ra"), col("rb")).as("id_a"),
          greatest(col("ra"), col("rb")).as("id_b"))
        .distinct()
      Dedup.recallAudit(collapsed, polyCands(s, dir))
    }),

    // Cross-source duplication matrix over the confirmed τ=0.4 pairs:
    // which source pairs share verified near-duplicate content, counted
    // per unordered pair with the intra-source diagonal kept.
    "q220_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(truthPairs(s, dir), t(s, dir, "documents"),
        "doc_id", "source")),

    // Bag-of-words canonical dedup: sorted-distinct-token canonical key
    // — collapses reorderings/repetition changes exact hashing misses,
    // with no pair join at all (the cheap middle rung of the ladder).
    "q218_canonical_dedup" -> ((s, dir) =>
      Dedup.canonicalDedup(t(s, dir, "documents"), "doc_id", "text")),

    // SimHash banded near-dup pairs (rows-only check: xxhash64-derived
    // fingerprints are engine-defined).
    "q26_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 8)),

    // The composed near-dup pipeline: MinHash-LSH candidate generation
    // gated into exact Jaccard verification (jaccardOnPairs) — candidates
    // bound the O(pairs) verification work, the production shape at scale.
    // Rows-only (LSH candidates are engine-defined).
    "q37_dedup_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val candidates = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16)
      Dedup.jaccardOnPairs(candidates, docs, "doc_id", "text")
        .where(col("jaccard") >= 0.5)
    }),

    // Brute-force quantized-cosine top-k (exact ANN baseline).
    "q19_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
    }),

    // Sign-LSH bucketed ANN top-k. Recall is approximate by construction,
    // but every step is deterministic (fixed-seed quantized planes, exact
    // integer cosine), so the oracle mirrors the planes as SQL literals and
    // the result is fully hash-checked.
    "q20_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.annTopK(q, emb, "vec_id", "embedding", k = 3)
    }),

    // Recall-tunable banded sign-LSH ANN (the vector analog of MinHash
    // banding: all bits of ANY band agree → candidate; distinct pairs
    // scored exactly once). Hash-checked like q20 via plane literals.
    "q54_ann_banded" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.annTopKBanded(q, emb, "vec_id", "embedding", k = 3,
        bands = 4, planesPerBand = 4)
    }),

    // Embedding-cosine near-duplicate pairs: sign-LSH bucket gating into
    // exact quantized-cosine verification, with the bucket-size cap and
    // observed drop metric — the vector-space member of the dedup family,
    // fully hash-checked (planes mirrored into the oracle).
    "q41_embed_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", minCosine = 0.2, numPlanes = 8, maxBucketSize = 200)),

    // IVF-style ANN top-k — deterministic k-means-refined coarse quantizer
    // (2 Lloyd iterations, integer centroids) + probe-list search + exact
    // quantized cosine: the fully oracle-checkable ANN path (sign-LSH q20
    // stays rows-only because its planes are engine-internal).
    "q32_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, kmeansIters = 2,
        trainedCents = Some(ivfTrained(s, dir, 16, 2)))
    }),

    // Johnson-Lindenstrauss sketch-first ANN: the fixed Rademacher ±1
    // matrix (Achlioptas 2001) projects 64 → 8 dims, then the whole
    // cosine ranking runs in the projected space — the
    // dimensionality-reduction member of the ANN family (IVF gates by
    // partition, PQ compresses the codes, JL shrinks the vectors
    // themselves, 8× fewer multiply-adds per scored pair at any corpus
    // size). Every projected coordinate is an exact integer dot against
    // a literal sign row, so the oracle replays the identical matrix and
    // the result is fully hash-checked; recall vs q19's exact ranking is
    // pinned by SimilaritySpec.
    "q135_jl_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.jlTopK(q, emb, "vec_id", "embedding", k = 5, projDim = 8)
    }),

    // SQ8 scalar-quantization ANN (faiss SQ8, asymmetric): corpus
    // vectors live as int8 codes + one per-vector scale (8× smaller),
    // queries stay full-precision, and dot(q, sv·code) = sv·dot(q, code)
    // keeps the reconstruction virtual — the memory-bandwidth member of
    // the ANN family (IVF gates, PQ quantizes subspaces, JL shrinks
    // dims, SQ8 shrinks bytes-per-dim). Codes use only non-negative
    // truncating division, so Spark's `div` and the oracle's `//` agree
    // sign-safely and codes, scales, and scores all hash-check; recall
    // vs q19's exact ranking is pinned by SimilaritySpec.
    "q141_sq8_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.sq8TopK(q, emb, "vec_id", "embedding", k = 5)
    }),

    // Product-quantization ANN (ADC): per-subspace codebooks trained by
    // one deterministic Lloyd iteration, corpus encoded to 4 code ids,
    // search = broadcast LUT join + integer partial-distance sum — the
    // memory-bound ANN shape, fully hash-checked (codebook training
    // mirrored in SQL like q32's k-means).
    "q87_pq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.pqTopK(q, emb, "vec_id", "embedding", k = 5,
        numSubspaces = 4, codebookSize = 16, trainIters = 1,
        trained = Some(pqTrained(s, dir)))
    }),

    // IVF-PQ composition (Jégou et al.'s IVFADC): q32's coarse
    // inverted-list gate routes each query to nProbe lists, q87's PQ-ADC
    // ranks only those candidates — candidate volume and bytes-per-
    // candidate bound multiplicatively; hash-checked end-to-end by
    // composing both proven oracle chains.
    "q92_ivfpq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, numSubspaces = 4,
        codebookSize = 16, trainIters = 1,
        trained = Some(pqTrained(s, dir)))
    }),

    // Language-ID heuristic (marker-word overlap + argmax).
    "q21_langid" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tk = TextAnalysis.tokens(col("text"))
      val scores = TextAnalysis.langScores(tk)
      val predicted = TextAnalysis.predictedLang(scores)
      d.select((col("doc_id") +: col("lang").as("labeled_lang") +:
        scores.map { case (l, c) => c.as(s"score_$l") }) :+
        predicted.as("predicted") :+
        (predicted === col("lang")).as("is_match"): _*)
    }),

    // Quality scoring (length/stopword/type-token features).
    "q22_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          TextAnalysis.qualityFeatures(col("text"), Seq("the", "a")).as("q"))
        .select(col("doc_id"), col("q.n_chars"), col("q.n_tokens"),
          col("q.n_distinct"), col("q.ttr"), col("q.avg_token_len"),
          col("q.stopword_ratio"), col("q.quality_score"))
    }),

    // Token counting: whitespace + regex tokenizers.
    "q23_token_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ws = size(TextAnalysis.tokens(col("text"))).cast("long")
      val re = size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long")
      d.select(col("doc_id"), ws.as("ws_tokens"), re.as("re_tokens"),
        try_divide(length(col("text")).cast("double"), ws.cast("double"))
          .as("chars_per_token"))
    }),

    // Document fingerprinting (rolling polynomial hashes).
    "q24_fingerprint" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.charPolyHash(col("text")).as("char_fp"),
        TextAnalysis.tokenFingerprint(TextAnalysis.tokens(col("text")))
          .as("token_fp"))
    }),

    // Multimodal binary-column plumbing with stubbed (deterministic) decode.
    "q25_multimodal" -> ((s, dir) => {
      implicit val ss: SparkSession = s
      MultiModal.extractFeatures(
        MultiModal.mediaFromDocuments(t(s, dir, "documents"))).toDF()
    }),

    // The Arrow-batched multimodal path driven end-to-end: identical
    // features to q25, but extracted through per-partition Arrow
    // VectorSchemaRoot batches (the columnar decoder interface at scale).
    // Shares q25's oracle verbatim — byte-exact parity is the contract.
    "q56_multimodal_arrow" -> ((s, dir) => {
      implicit val ss: SparkSession = s
      MultiModal.extractFeaturesArrow(
        MultiModal.mediaFromDocuments(t(s, dir, "documents"))).toDF()
    }),

    // PNG/JPEG header PARSE from real byte layouts (VERDICT r14 item 6)
    // — the decode stubs upgraded a notch without codecs: blobs carry a
    // genuine PNG signature+IHDR or JPEG SOI+APP0+SOF0 prefix, and the
    // parser reads width/height/bit-depth back by byte arithmetic alone
    // (fixed offsets for PNG; a marker SCAN for JPEG's SOF0, the way a
    // segment walker finds it). header_fp covers every blob byte, so
    // the oracle — which assembles the identical bytes and parses them
    // at the same offsets — breaks on any single-byte divergence in
    // either the builder or the reader.
    "q268_image_header_parse" -> ((s, dir) =>
      MultiModal.parseImageHeaders(
        MultiModal.imageHeaderBlobs(t(s, dir, "documents")))),

    // The adversarial sibling (VERDICT r15 missing #3): JPEG blobs whose
    // APP1 payload embeds the FFC0 byte pair BEFORE the true SOF0 — the
    // blob a locate()-style marker scan mis-parses (it finds the decoy
    // and reads the APP1 payload as a frame header). parseImageHeaders
    // now WALKS segments by their declared lengths (MultiModal
    // .sofHexPos — a bounded when/otherwise hop chain, mirrored in the
    // oracle as chained CASE hops), so both engines land on the true
    // SOF0; width/height/bit_depth and the full-blob header_fp
    // hash-check. q268's own oracle still finds SOF0 by strpos — on
    // decoy-free blobs scan ≡ walk, which doubles as the walk's
    // regression pin there.
    "q268b_jpeg_segment_walk" -> ((s, dir) =>
      MultiModal.parseImageHeaders(
        MultiModal.imageHeaderBlobsAdversarial(t(s, dir, "documents")))),

    // Bucketed co-located join: both sides of the user_id join (and both
    // aggregations) read one bucketed table, so the plan has NO shuffle
    // before the join — the pre-partitioning scale path for repeated joins
    // on the same key (at 100 TB this is the difference between reading
    // co-located buckets and re-shuffling the fact table every query).
    "q33_bucketed_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      s.sql("DROP TABLE IF EXISTS ev_bucketed")
      // The in-memory catalog forgets tables across JVMs but the warehouse
      // directory persists — clear the location or saveAsTable refuses.
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "ev_bucketed")
      loc.getFileSystem(s.sessionState.newHadoopConf()).delete(loc, true)
      ev.write.mode("overwrite").format("parquet")
        .bucketBy(8, "user_id").sortBy("user_id").saveAsTable("ev_bucketed")
      val a = s.table("ev_bucketed").groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          Dashboard.exactAvg(col("value")).as("avg_value"))
      val b = s.table("ev_bucketed").where(col("event_type") === "click")
        .groupBy("user_id").agg(count(lit(1)).as("n_clicks"))
      a.join(b, Seq("user_id"), "left")
        .select(col("user_id"), col("n_events"), col("avg_value"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
    }),

    // Skew-salting join at driver level: the events fact (probe, salted by
    // content hash) joined to a per-user dimension replicated ×buckets —
    // row-identical to the unsalted join, so the plain-SQL oracle
    // hash-checks it. The declarative fallback for hot keys AQE's skew
    // split can't fix (power-law ids concentrating one reducer).
    "q39_salted_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val dim = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("user_events"))
      Salt.saltedJoin(ev, dim, Seq("user_id"), buckets = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("user_events")).as("sum_user_events"),
          Dashboard.exactAvg(col("value")).as("avg_value"))
    }),

    // A3 at scale — HLL approximate distinct trips per hour: fixed-size
    // sketch per group instead of shuffling every distinct (hour, trip)
    // pair. Rows-only check (the sketch estimate is engine-defined); the
    // DashboardSpec pins its tolerance against the exact q05.
    "q40_peak_hours_approx" -> ((s, dir) =>
      Dashboard.peakHoursApprox(diffMart(s, dir))),

    // Event-time window aggregation (the batch shape of
    // StreamingAnalytics.delayByWindow): delays bucketed into 1-hour
    // tumbling windows. Epoch-aligned, so the oracle mirrors it with
    // integer floor arithmetic.
    "q47_delay_by_window" -> ((s, dir) =>
      diffMart(s, dir)
        .groupBy(window(col("scheduled_arrival_time"), "1 hour"))
        .agg(Dashboard.exactAvg(col("average_diff_in_minutes")).as("avg_delay_min"),
          count(lit(1)).as("n_rows"))
        .select(unix_timestamp(col("window.start")).as("window_start_epoch"),
          col("avg_delay_min"), col("n_rows"))),

    // Gap-based sessionization: one shuffle, two shared-frame windows
    // (lag + running sum), deterministic tie-breaks — the visits/episodes
    // grouping every event pipeline needs.
    "q44_sessionize" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ts_epoch"))
      Sessionize.assignSessions(ev, Seq("user_id"), "ts_epoch", "event_id",
        gapSeconds = 1800L)
    }),

    // Deterministic stratified sampling: per-language keep rates applied
    // via a content-hash threshold (charPolyHash mod 1000) — reproducible
    // downsampling with no RNG state, the training-data mixing primitive.
    "q45_stratified_sample" -> ((s, dir) => {
      val rate = when(col("lang") === "en", lit(700L))
        .when(col("lang") === "es", lit(400L))
        .otherwise(lit(150L))
      t(s, dir, "documents")
        .where(TextAnalysis.charPolyHash(col("text")) % 1000L < rate)
        .select("doc_id", "lang", "source", "n_chars")
    }),

    // Vocabulary mining: top-10 terms per language by document-term
    // frequency — explode + map-side-combined count + bounded per-group
    // rank, with the (count desc, term asc) deterministic tie-break.
    "q46_top_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val terms = t(s, dir, "documents")
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("term").asc)
      terms.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 10)
    }),

    // Exact delay percentiles per day type — the dashboard's distribution
    // view. Quantiles restricted to dyadic fractions (.25/.5/.75) over
    // INTEGER delay seconds: interpolation then stays exact in IEEE
    // arithmetic, so Spark's percentile and DuckDB's quantile_cont agree
    // bit-for-bit (a non-dyadic p like 0.9 would not). Scale note for
    // the whole exact-percentile family (q50/q145/q147): `percentile`
    // buffers each group's values in its aggregation state — right for
    // a mart-sized input, wrong for a raw 100 TB column, where q151's
    // mergeable GK sketch (bounded state, εN rank error) is the path.
    "q50_delay_percentiles" -> ((s, dir) =>
      diffMart(s, dir)
        .withColumn("arr_delay_secs",
          unix_timestamp(col("actual_arrival_time")) -
            unix_timestamp(col("scheduled_arrival_time")))
        .groupBy("day_type")
        .agg(expr("percentile(arr_delay_secs, array(0.25D, 0.5D, 0.75D))").as("p"),
          count(col("arr_delay_secs")).as("n_obs"))
        .select(col("day_type"),
          col("p").getItem(0).as("p25"),
          col("p").getItem(1).as("p50"),
          col("p").getItem(2).as("p75"),
          col("n_obs"))),

    // The composed corpus-curation pipeline — the end-to-end production
    // shape a training-data user runs: quality filter → exact dedup (per
    // filtered train split) → eval-set decontamination → per-(lang,
    // source) corpus stats. Every stage is an operator registered on its
    // own above; this query proves they compose in one DAG.
    "q52_corpus_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = TextAnalysis
        .qualityFeatures(col("text"), Seq("the", "a"))
        .getField("quality_score")
      val filtered = docs.withColumn("quality", quality)
        .where(col("quality") >= 0.5)
      val train = filtered.where(col("doc_id") % 10L =!= 0L)
      val evalSet = docs.where(col("doc_id") % 10L === 0L)
      val deduped = Dedup.dedupCorpus(train, "doc_id", "text")
      val clean = CorpusOps.decontaminate(deduped, evalSet,
        "doc_id", "text", n = 3)
      clean.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          Dashboard.exactAvg(col("quality")).as("avg_quality"))
    }),

    // Benchmark decontamination: drop train docs (doc_id % 10 != 0)
    // sharing any trigram with the "eval set" (doc_id % 10 == 0) — the
    // test-set-leakage guard, as a distinct-shingle join + left-anti.
    "q48_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusOps.decontaminate(
        docs.where(col("doc_id") % 10L =!= 0L),
        docs.where(col("doc_id") % 10L === 0L),
        "doc_id", "text", n = 3)
    }),

    // Bloom-gated decontamination: the fixed-size sketch drops clean
    // postings inside the scan's codegen stage BEFORE the shuffle; the
    // fpp sliver is verified away by the exact join, so the rows are
    // bit-identical to q48 (whose oracle this reuses verbatim).
    "q71_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusOps.decontaminateBloom(
        docs.where(col("doc_id") % 10L =!= 0L),
        docs.where(col("doc_id") % 10L === 0L),
        "doc_id", "text", n = 3, capacity = 1L << 17)
    }),

    // Context chunking: overlapping 12-token windows every 8 tokens —
    // the sequence-packing precursor, per-row generate with bound slices.
    "q49_chunk_docs" -> ((s, dir) =>
      CorpusOps.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 12, stride = 8)),

    // Multimodal frame sampling: 1→N generator over fixed-size frames of
    // the blob, every 2nd frame kept, per-frame fingerprint.
    "q34_frame_sample" -> ((s, dir) => {
      implicit val ss: SparkSession = s
      MultiModal.sampleFrames(
        MultiModal.mediaFromDocuments(t(s, dir, "documents")), step = 2).toDF()
    }),

    // Multimodal resize: per-row downsample of the blob + scaled dims.
    "q35_resize" -> ((s, dir) => {
      implicit val ss: SparkSession = s
      MultiModal.resizeStub(
        MultiModal.mediaFromDocuments(t(s, dir, "documents")), factor = 3).toDF()
    }),

    // The optimizer rule driven end-to-end: the SAME brute-force top-k as
    // q19, but every dot product spelled the way a USER would write it —
    // the `aggregate(zip_with(...))` higher-order function — with
    // GraftOptimizations installed on the session. RewriteHofIntDot swaps
    // in the codegen'd IntDotProduct kernel (PlanSpec asserts the
    // optimized plan), and the result hash-checks against q19's oracle
    // verbatim. The quantization coalesces each element to make the array
    // type non-null-element (the rule's safety precondition: the kernel
    // reads raw long slots).
    "q55_hof_dot_rewrite" -> ((s, dir) => {
      // Session hygiene: install the rule set on an ISOLATED session
      // (same SparkContext, fresh SessionState seeded from the builder
      // options) so the shared session every other registered query runs
      // on is never mutated — PlanSpec asserts the outer session's rule
      // list stays empty and q19's plan is identical after q55 has run.
      val iso = s.newSession()
      graft.plans.GraftOptimizations.install(iso)
      def qz(e: Column): Column = transform(e, x =>
        coalesce(round(x.cast("double") * lit(Similarity.Scale)).cast("long"),
          lit(0L)))
      def hof(a: String, b: String): Column = expr(
        s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
      val emb = t(iso, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), qz(col("embedding")).as("qv"))
        .withColumn("qn", hof("qv", "qv"))
      val c = emb.select(col("vec_id"), qz(col("embedding")).as("cv"))
        .withColumn("cn", hof("cv", "cv"))
      val scored = c.crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id"),
          Similarity.cosineQ(hof("qv", "cv"), col("qn"), col("cn")).as("cosine"))
      Similarity.topKPerQuery(scored, "vec_id", k = 5)
    }),

    // --- polynomial-family MinHash: the ORACLE-EXPRESSIBLE LSH path ---
    // (xxhash64 MinHash — q16/q37 — can never hash-check against DuckDB;
    // this family's every ingredient has an exact SQL mirror, so the
    // signature math, the banding, and the gated pipeline are each
    // END-TO-END hash-checked.)

    // The signatures themselves, exploded to (doc_id, seed_i, component):
    // component j = min over bigram shingles of
    // (a_j * charPolyHash(s) + b_j) mod 1e9+7, recomputed verbatim by the
    // oracle from the same affine coefficients.
    "q57_poly_minhash_sig" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bigramShingles(TextAnalysis.tokens(col("text"))).as("sh"))
        .where(size(col("sh")) > 0)
        .select(col("doc_id"),
          posexplode(Dedup.polyMinhashSignature(col("sh"), 16)))
        .select(col("doc_id"), col("pos").cast("long").as("seed_i"),
          col("col").as("component"))),

    // Banded LSH candidate pairs over poly signatures — band keys are the
    // raw component slices (array equi-join both engines express), with
    // the exact-dup collapse and the bucket cap mirrored in SQL. Built
    // once per (session, dir) and shared with q59's verification.
    "q58_poly_minhash_pairs" -> ((s, dir) => polyCands(s, dir)),

    // The full LSH-gated dedup pipeline, hash-checked: poly-LSH candidate
    // generation feeding exact-Jaccard verification — q37's shape with an
    // oracle instead of a property.
    "q59_poly_dedup_pipeline" -> ((s, dir) =>
      Dedup.jaccardOnPairs(polyCands(s, dir), t(s, dir, "documents"),
          "doc_id", "text")
        .where(col("jaccard") >= 0.5)),

    // The oracle-expressible SimHash family (q17/q26's hash-checked
    // sibling, like q57-q59 for MinHash): 60-bit fingerprints from two
    // mirrorable polynomial token hashes packed side by side.
    "q66_poly_simhash" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Dedup.polySimhash64(TextAnalysis.tokens(col("text"))).as("fp"))),

    // Pigeonhole-banded near-dup pairs over the poly fingerprint —
    // banding, bucket cap, and Hamming filter all mirrored in SQL.
    "q67_poly_simhash_pairs" -> ((s, dir) =>
      Dedup.polySimhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 8)),

    // Deterministic mixture resampling: per-source permille rates via the
    // content-hash threshold — the training-mix constructor (the q45
    // stratified sample generalized to per-group rates).
    "q68_mixture_sample" -> ((s, dir) =>
      CorpusOps.mixtureSample(t(s, dir, "documents"), "text", "source",
        permille = Map("src0" -> 900, "src1" -> 500, "src2" -> 250),
        defaultPermille = 100)),

    // As-of join: each click gets the user's latest purchase at-or-before
    // it — the temporal-attach operator (trade←quote, event←state). ONE
    // shuffle (union + window sweep, AsOfJoinSpec pins the plan), no
    // range-join explosion; oracle is DuckDB's native ASOF LEFT JOIN.
    // The right side is pre-aggregated to one row per (user, second) so
    // the tie-free contract holds on both engines.
    "q69_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts")).as("p_epoch"),
          col("value"))
        .groupBy("user_id", "p_epoch").agg(max("value").as("purchase_value"))
      AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts_epoch", "p_epoch",
        matchedTimeCol = "purchase_epoch")
    }),

    // Range join: clicks within ±1 h of each error event per user —
    // bucketized to an equi-join on (user, bucket) with bounded interval
    // replication (RangeJoinSpec pins the no-nested-loop plan); the
    // oracle is the naive BETWEEN join DuckDB runs as an IEJoin.
    "q70_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_timestamp(col("ts")).as("click_epoch"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          (unix_timestamp(col("ts")) - 3600L).as("lo"),
          (unix_timestamp(col("ts")) + 3600L).as("hi"))
      RangeJoin.pointInInterval(clicks, errors, Seq("user_id"),
          "click_epoch", "lo", "hi", bucketWidth = 7200L)
        .select("user_id", "error_id", "click_id", "click_epoch")
    }),

    // Incremental dedup — the daily-ingest shape: near-dup candidates of
    // the NEW batch against the standing corpus (and within the batch),
    // never re-deriving corpus×corpus pairs. Poly family end-to-end, so
    // banding, caps, the cross flag, and the similarity estimate all
    // hash-check.
    "q72_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalPolyMinhashPairs(
        docs.where(col("doc_id") % 5L =!= 0L),
        docs.where(col("doc_id") % 5L === 0L),
        "doc_id", "text")
    }),

    // q69's FORWARD direction: the earliest purchase at-or-after each
    // click (time-to-conversion attach). Same one-shuffle union+window
    // sweep; the oracle flips DuckDB's ASOF inequality.
    "q85_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts")).as("p_epoch"),
          col("value"))
        .groupBy("user_id", "p_epoch").agg(max("value").as("purchase_value"))
      AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts_epoch", "p_epoch",
        matchedTimeCol = "purchase_epoch", forward = true)
    }),

    // Per-document top-5 TF-IDF terms (score = tf × N/df — log-free so
    // every arithmetic step mirrors exactly; see CorpusOps scaladoc).
    "q60_tfidf" -> ((s, dir) =>
      CorpusOps.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text",
        topK = 5)),

    // Asymmetric Jaccard CONTAINMENT pairs — the subset-duplication
    // detector symmetric Jaccard misses (a short document quoted inside
    // a long one: containment ~1 in the short direction, Jaccard tiny).
    // Same blocked inverted-index shape as q18.
    "q102_containment" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), minContainment = 0.25)),

    // Corpus-slice similarity matrix: mergeable group-level MinHash —
    // the signature of a (lang, source) slice is the slot-wise MIN of
    // its documents' poly signatures (MinHash-of-union = min-of-
    // signatures, associative+commutative → map-side combinable), then
    // pairwise agreement between the bounded set of groups. The sketch
    // MERGE property is what the oracle re-derives from raw shingles.
    "q96_group_minhash" -> ((s, dir) =>
      Dedup.groupJaccardMatrix(t(s, dir, "documents"), "text",
        Seq("lang", "source"), numHashes = 16)),

    // SLIDING event-time windows (q47 is the tumbling member): error rate
    // over 1-hour windows every 15 minutes — each event lands in exactly
    // window/slide = 4 windows; the oracle materializes the same 4
    // assignments per event with a range(0,4) unnest. Conditional counts
    // stay integer; one mirrored divide for the rate.
    "q95_sliding_error_rate" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === "error", lit(1))).as("n_errors"))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          unix_timestamp(col("window.end")).as("window_end"),
          col("n_events"), col("n_errors"),
          (col("n_errors").cast("double") / col("n_events").cast("double"))
            .as("error_rate"))),

    // Time-series densification (gap fill) — the regular-grid repair
    // every downstream window/forecast op assumes: the per-(user, day)
    // aggregate LEFT-JOINED onto the full user × calendar spine, absent
    // days zero-filled. The calendar derives from the data's own min/max
    // day (two-row aggregate → sequence → broadcast); the user dimension
    // never collects to the driver — the spine is users crossJoin
    // broadcast(days), so it stays partitioned by user while the join
    // shuffles only the slim daily aggregate. Day sums keep the
    // exact-decimal discipline before the one final double cast.
    "q139_gap_fill" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.groupBy(col("user_id"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double")
            .as("day_value"))
      val cal = daily.agg(min(col("day_epoch")).as("d0"),
          max(col("day_epoch")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"), lit(86400L)))
          .as("day_epoch"))
      ev.select("user_id").distinct()
        .crossJoin(broadcast(cal))
        .join(daily, Seq("user_id", "day_epoch"), "left")
        .select(col("user_id"), col("day_epoch"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("day_value"), lit(0.0d)).as("day_value"))
    }),

    // Linear interpolation of missing values — the gap-REPAIR
    // counterpart to q139's gap fill: masked points (a deterministic
    // mirrorable 1-in-5 poly-hash mask, since the testdata has no real
    // NULLs) are reconstructed from the nearest observed neighbors on
    // each side, boundary gaps clamp to the single available neighbor.
    // Neighbor discovery is last/first IGNORE NULLS over per-user
    // windows (bounded by one user's history — never a global sort or a
    // self-join per gap); the interpolation arithmetic
    // pv + (nv − pv)·(x − x0)/(x1 − x0) is left-associative in both
    // engines, so the doubles match bit-for-bit.
    "q140_interpolate" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val wPrev = w.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
      val wNext = w.rowsBetween(1, org.apache.spark.sql.expressions.Window
        .unboundedFollowing)
      val obsX = when(col("v").isNotNull, col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          (TextAnalysis.charPolyHash(
            concat(lit("gap:"), col("event_id").cast("string"))) % 5L === 0L)
            .as("masked"))
        .withColumn("v", when(!col("masked"), col("value")))
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("px", last(obsX, ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nx", first(obsX, ignoreNulls = true).over(wNext))
        .select(col("event_id"), col("user_id"), col("masked"),
          when(!col("masked"), col("v"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv")) *
                (col("event_id") - col("px")) / (col("nx") - col("px")))
            .otherwise(coalesce(col("pv"), col("nv")))
            .as("value_filled"))
    }),

    // Ordered conversion funnel over the event stream (Funnel.userStages
    // — shared with FunnelSpec so the staging rule cannot drift): one
    // hash aggregate with conditional mins, one tiny stage rollup; never
    // a self-join per stage. Integer epochs end-to-end.
    "q93_funnel" -> ((s, dir) =>
      graft.analytics.Funnel.userStages(t(s, dir, "events"), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase"))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))),

    // Weekly cohort retention: cohort = ISO week of a user's first event;
    // retention(k) = users active in cohort-week + k over cohort size.
    // ONE events scan: per-user distinct weeks collect in one shuffle
    // (bounded by the corpus timespan in weeks), the exploded
    // (cohort, offset) counts land in a TINY frame that is
    // localCheckpoint-pinned so its two consumers don't re-run the big
    // aggregation — and cohort_size needs no second pass at all: every
    // user is active in their own cohort week, so size = n_active at
    // offset 0.
    "q94_cohort_retention" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .select(col("user_id"),
          unix_timestamp(date_trunc("week", col("ts"))).as("wk"))
        .groupBy("user_id")
        .agg(min(col("wk")).as("cohort"), collect_set(col("wk")).as("wks"))
      val ret = perUser
        .select(col("cohort"), explode(col("wks")).as("wk"))
        .groupBy(col("cohort"),
          expr("(wk - cohort) DIV 604800").as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .localCheckpoint()
      val sizes = ret.where(col("week_offset") === 0L)
        .select(col("cohort"), col("n_active").as("cohort_size"))
      ret.join(broadcast(sizes), "cohort")
        .select(col("cohort"), col("week_offset"), col("n_active"),
          col("cohort_size"),
          (col("n_active").cast("double") / col("cohort_size").cast("double"))
            .as("retention"))
    }),

    // Per-document novelty (fraction of bigram shingles unique to the
    // document corpus-wide) and Gini-Simpson lexical diversity — the
    // log-free complements of q61's repetition signals.
    "q90_novelty" -> ((s, dir) =>
      CorpusOps.noveltyDiversity(t(s, dir, "documents"), "doc_id", "text",
        n = 2)),

    // Hybrid retrieval: BM25 top-50 (q86's scorer) fused with the exact
    // cosine top-50 for query vector 0 by reciprocal-rank fusion — the
    // standard lexical+vector blend, needing only ranks (no cross-scorer
    // calibration), so the whole pipeline stays hash-checkable. The rank
    // windows run over ALREADY-bounded top-k lists (≤ 50 rows), so the
    // unpartitioned window is k-bounded, not corpus-bounded.
    "q89_hybrid_rrf" -> ((s, dir) => {
      val wb = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("id").asc)
      val bm = CorpusOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          BM25_TERMS, topK = 50)
        .withColumn("rank", row_number().over(wb).cast("long"))
        .select(col("id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val vec = Similarity.bruteForceTopK(emb.where(col("vec_id") === 0),
          emb, "vec_id", "embedding", k = 50)
        .select(col("vec_id").as("id"), col("rank"))
      graft.operators.Fusion.rrf(bm, vec, "id", k = 20)
    }),

    // Exact corpus heavy hitters (count > total/30) through a per-partition
    // Misra-Gries candidate gate: bounded sketch state prunes the long tail
    // pre-shuffle, the exact recount + threshold make the output provably
    // sketch-independent — hash-checked against plain GROUP BY / HAVING.
    "q88_heavy_hitters" -> ((s, dir) =>
      CorpusOps.heavyHitters(t(s, dir, "documents"), "text", k = 30)),

    // Count-Min sketch (operators/CountMin): the FIXED-SIZE mergeable
    // frequency summary — 4×256 counters whatever the corpus size, the
    // streaming/partition-mergeable complement to q88's exact heavy
    // hitters and q40's HLL. Output: the top-20 true tokens with true
    // freq, CMS estimate, and the one-sided error (estimate − true ≥ 0
    // ALWAYS — CountMinSpec pins it corpus-wide; the hash check pins the
    // exact counter arithmetic, affine depth hashes mirrored as oracle
    // literals).
    "q138_cms_sketch" -> ((s, dir) => {
      val (depth, width) = (4, 256)
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val cms = graft.operators.CountMin.sketch(tf, "tok", "freq",
        depth, width)
      val top = tf.orderBy(col("freq").desc, col("tok")).limit(20)
      graft.operators.CountMin.estimate(top, cms, "tok", depth, width)
        .withColumn("overestimate", col("cms_estimate") - col("freq"))
    }),

    // Exact-substring duplication spans (CorpusOps.dupSpans — the Lee et
    // al. suffix-array dedup signal re-expressed relationally): per-doc
    // duplicated-position share and longest duplicated run; max_run+2
    // lower-bounds the longest cross-doc duplicated substring at the
    // 3-gram grain.
    "q137_dup_spans" -> ((s, dir) =>
      CorpusOps.dupSpans(t(s, dir, "documents"), "doc_id", "text", n = 3)),

    // BM25 top-k retrieval over the corpus for a literal query-term set —
    // log-free rational idf and fixed-order pivot summation keep every
    // arithmetic step bit-mirrorable (CorpusOps.bm25TopK scaladoc); the
    // final top-k is a TakeOrdered, not a global sort.
    "q86_bm25" -> ((s, dir) =>
      CorpusOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        BM25_TERMS, topK = 20)),

    // Gopher-family repetition quality signals: duplicate-bigram fraction
    // and top-bigram coverage per document, bigrams WITH multiplicity via
    // the (id, pos)⋈(id, pos+1) posting self-join.
    "q61_repetition" -> ((s, dir) =>
      CorpusOps.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")),

    // Sequential concat-and-cut packing into 2048-token budgets within
    // (lang, source) blocks — the pretraining data layout; the only
    // ordering is the per-block running sum.
    "q62_pack_sequences" -> ((s, dir) =>
      CorpusOps.packSequences(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), budget = 2048L)),

    // Mean-pool + L2-normalize embeddings per group of 50 vectors
    // (chunk→document pooling): exact integer pooled sums, one
    // deterministic divide-by-sqrt for the unit vector.
    "q63_pooled_embeddings" -> ((s, dir) =>
      Similarity.pooledUnitEmbeddings(
        t(s, dir, "embeddings").withColumn("group_id",
          expr("vec_id DIV 50")),
        "group_id", "embedding")),

    // The tokenizer rewrite driven end-to-end: q23's token stats with the
    // tokenization spelled the way a USER would write it — the
    // `filter(split(...))` higher-order function — with GraftOptimizations
    // installed. RewriteHofTokens swaps in the codegen'd graft_tokens
    // kernel (PlanSpec asserts the optimized plan) and the result
    // hash-checks against q23's oracle verbatim.
    "q65_hof_tokens_rewrite" -> ((s, dir) => {
      // isolated-session install, exactly as in q55 — no shared-session
      // optimizer mutation from inside the registered-query map
      val iso = s.newSession()
      graft.plans.GraftOptimizations.install(iso)
      val d = t(iso, dir, "documents")
      val hofTokens = expr("filter(split(text, ' '), t -> t != '')")
      val ws = size(hofTokens).cast("long")
      val re = size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long")
      d.select(col("doc_id"), ws.as("ws_tokens"), re.as("re_tokens"),
        try_divide(length(col("text")).cast("double"), ws.cast("double"))
          .as("chars_per_token"))
    }),

    // PII redaction over text enriched with deterministic synthetic
    // emails/IDs (the raw corpus carries none — the enrichment makes the
    // scrub observable and is mirrored verbatim in the oracle).
    "q64_pii_redaction" -> ((s, dir) => {
      val enriched = concat(col("text"),
        when(col("doc_id") % 3L === 0L,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5L === 0L,
          concat(lit(" ref "), (col("doc_id") * 1234567L).cast("string")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .withColumn("redacted", TextAnalysis.redactPii(enriched))
        .select(col("doc_id"), col("redacted"),
          (col("redacted") =!= enriched).as("was_redacted"))
    }),

    // Equi-depth (quantile) bins of the price column
    // (operators/Histogram.equalDepth) — the feature-binning sibling of
    // q142's equal-width histogram: equal ROW mass per bin, which is
    // what a heavy-tailed column needs before bucketized training.
    // Interpolated percentile boundaries would ulp-drift between
    // engines; the bin is instead pure integer arithmetic on the exact
    // global rank ((rk−1)·8 DIV n, Rank.globalRank's two-pass spelling —
    // no single-task window), so the whole result hash-checks.
    "q156_equidepth_bins" -> ((s, dir) =>
      graft.operators.Histogram.equalDepth(
        t(s, dir, "lineitem")
          .select("l_extendedprice", "l_orderkey", "l_linenumber"),
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"), nBins = 8)),

    // Leave-one-out target encoding — the categorical-feature encoder
    // that per-category plain means would leak (a row's own target
    // inside its encoding): enc(row) = (Σ_group target − target_row) /
    // (n_group − 1). One map-side-combined aggregate over the bounded
    // category domain, broadcast back, pure arithmetic per row — no
    // window, no self-join; the group sum rides exact BIGINT (n_chars
    // is integral) so the one double divide is the only float. A
    // singleton category encodes NULL (try_divide), never a 0/0.
    "q157_target_encode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val g = d.groupBy("lang").agg(sum(col("n_chars")).as("__sum"),
        count(lit(1)).as("__n"))
      d.join(broadcast(g), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          try_divide((col("__sum") - col("n_chars")).cast("double"),
            (col("__n") - lit(1L)).cast("double")).as("loo_mean_chars"))
    }),

    // Sparse TF-IDF cosine pairs (CorpusOps.tfidfCosinePairs) — the
    // weighted-vector pairwise-similarity member: integer-quantized
    // idf (N·10⁶ DIV df), DECIMAL(38,0) dots and norms, df-capped
    // 3-gram-shingle postings (the unigram space on this corpus is 31
    // dense terms — Σdf² quadratic; 3-grams are the sparse vocabulary
    // where the cap actually bites: measured 2.8M join rows at sf0.1
    // vs 480M for unigrams). minShared=3 prunes the pair aggregate
    // before the norm joins. The HASHED surface is integer/decimal-only
    // — (id_a, id_b, n_shared, dot, cos_key_nano) — AND so is the
    // MEMBERSHIP gate: `cos >= 0.5` respelled as the staged-floor
    // integer `cos_key_nano >= 0.25e9` (see CorpusOps.cosKeyNano),
    // because a float gate decides membership on the HUGEINT→DOUBLE
    // cast whose rounding drifts across driver DuckDB versions (the r8
    // hash-miss class: a pair within one ulp of 0.5 joins the output in
    // one engine and not the other). cos itself stays on the operator's
    // API and is value-pinned in CorpusOpsSpec.
    // ... and the decimal dot itself ships as two BIGINT limbs
    // (hi = DIV 10¹², lo = MOD 10¹²) for the same reason as q149's
    // inertia: an int128-typed hashed column (DECIMAL(38,0)/HUGEINT)
    // is rendered differently from int64 by the driver's comparator
    // (float64 past 2^53 on the DuckDB pandas path, repr-divergent
    // below it), while int64 limbs < 10¹² are conversion-proof in any
    // engine. Total for dot < 10²⁴ (hi < 10¹² < 2^53); dot ≥ 0 always
    // (tf-idf weights are positive), so DIV/MOD agree across engines.
    "q158_tfidf_cosine_pairs" -> ((s, dir) =>
      CorpusOps.tfidfCosinePairsFrom(tfidfShared(s, dir))
        .where(col("cos_key_nano") >= 250000000L)
        .select(col("id_a"), col("id_b"), col("n_shared"),
          expr("CAST(dot DIV 1000000000000 AS BIGINT)").as("dot_hi"),
          expr("CAST(dot % 1000000000000 AS BIGINT)").as("dot_lo"),
          col("cos_key_nano"))),

    // r10 DIAGNOSTICS (VERDICT r9 item 1) — q158's staged pipeline read
    // out at three intermediate points on pure-int64 surfaces: eligible-
    // vocabulary aggregate, per-doc norms (10¹² limbs), per-pair dots
    // pre-gate. The first red row in CORRECTNESS_r10 names the first
    // diverging stage. All four consumers share ONE tfidfShared staged
    // build per (session, dir) — the weighted-postings checkpoint is
    // the materialized artifact, charged to the pass's first consumer.
    "q158a_tfidf_elig" -> ((s, dir) =>
      tfidfShared(s, dir)
        .elig.agg(count(lit(1)).as("n_terms"),
          min(col("q_idf")).as("min_q_idf"),
          max(col("q_idf")).as("max_q_idf"),
          // decimal sum + limbs: a plain long sum would WRAP silently at
          // corpus scale (non-ANSI) while the oracle's HUGEINT sum stays
          // exact — the diagnostic itself must never be the divergence
          sum(col("q_idf").cast("decimal(38,0)")).as("sq"))
        .select(col("n_terms"), col("min_q_idf"), col("max_q_idf"),
          expr("CAST(sq DIV 1000000000000 AS BIGINT)").as("sum_q_idf_hi"),
          expr("CAST(sq % 1000000000000 AS BIGINT)").as("sum_q_idf_lo"))),
    "q158b_tfidf_norms" -> ((s, dir) =>
      tfidfShared(s, dir)
        .norms.select(col("id"), col("n_terms"),
          expr("CAST(nrm DIV 1000000000000 AS BIGINT)").as("nrm_hi"),
          expr("CAST(nrm % 1000000000000 AS BIGINT)").as("nrm_lo"))),
    "q158c_tfidf_pairs" -> ((s, dir) =>
      tfidfShared(s, dir)
        .pairs.select(col("id_a"), col("id_b"), col("n_shared"),
          expr("CAST(dot DIV 1000000000000 AS BIGINT)").as("dot_hi"),
          expr("CAST(dot % 1000000000000 AS BIGINT)").as("dot_lo"))),

    // Duplicate-cluster SIZE DISTRIBUTION — the dedup ladder's summary
    // report ("how much duplication, in what shape?"): a histogram of
    // q51's near-dup cluster sizes, with the un-clustered complement
    // reported as the size-1 row (edge-derived clusters are always ≥2;
    // singletons exist only as documents with no near-dup edge). Rides
    // the SHARED cluster artifact (one build per session feeds
    // q51/q53/q73/q117 and this) and the shared recursive-CTE oracle —
    // the aggregate itself is cluster-count-bounded.
    "q167_cluster_sizes" -> ((s, dir) => {
      val cl = docClusters(s, dir).groupBy("cluster_id")
        .agg(count(lit(1)).as("sz"))
      val hist = cl.groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      val totals = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val clustered = cl.agg(coalesce(sum(col("sz")), lit(0L)).as("n_in"))
      hist.unionByName(
          totals.crossJoin(broadcast(clustered))
            .select(lit(1L).as("sz"),
              (col("n_docs") - col("n_in")).as("n_clusters")))
        .select(col("sz").as("cluster_size"), col("n_clusters"))
    }),

    // Exact triangle counting (operators/Graph.triangleCounts) — the
    // clustering-structure census over the trip-sequence co-travel
    // graph (same synthetic edge derivation as q134's PageRank). The
    // degree-ordered wedge algorithm: orient each undirected edge from
    // its lower-(degree,id) endpoint, self-join oriented edges on the
    // shared low vertex, close each wedge against the edge set — each
    // triangle found exactly once, wedge fanout bounded by oriented
    // out-degree (≤ O(√m)) instead of raw degree, which is what keeps
    // the star-node hub from exploding the join at 100 TB. All-integer:
    // ids, degrees, counts — nothing to drift.
    "q168_triangles" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("event_id DIV 100 AS trip", "event_id % 100 AS seq",
          "user_id")
      val edges = ev.as("a").join(ev.as("b"),
          col("a.trip") === col("b.trip") &&
            col("a.seq") + 1 === col("b.seq"))
        .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      graft.operators.Graph.triangleCounts(edges, "src", "dst")
    }),

    // Bounded-depth BFS levels (operators/Graph.bfsLevels) — hop
    // distance from a fixed hub over the same co-travel graph: the
    // reachability / blast-radius primitive (how far does an incident
    // at this stop propagate?). Fixed depth bound = fixed join count =
    // shallow unrolled lineage (the q134 fixed-iteration discipline);
    // each round joins only the NEW frontier against the adjacency
    // list and anti-joins the visited set — the slim-frontier shape
    // that scales as ordinary shuffles. The oracle spells the same
    // traversal as a recursive CTE; min(level) per node is the
    // engine-independent contract.
    "q169_bfs_levels" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("event_id DIV 100 AS trip", "event_id % 100 AS seq",
          "user_id")
      val edges = ev.as("a").join(ev.as("b"),
          col("a.trip") === col("b.trip") &&
            col("a.seq") + 1 === col("b.seq"))
        .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      graft.operators.Graph.bfsLevels(edges, "src", "dst",
        source = 1L, maxDepth = 4)
    }),

    // Rolling MEDIAN over a bounded ROWS frame — q153's robust sibling
    // (median shrugs off the spike that drags a mean). Exact, not
    // approximate: values ride micro-unit integers, the ≤5-element
    // frame is collected, sorted, and indexed at the LOWER median
    // (k = ⌈n/2⌉) — integer all the way, no interpolation to spell
    // differently across engines. The collected frame is bounded by the
    // frame width (5), not the partition, so per-row state is O(1);
    // the window partitions by the high-cardinality user key.
    "q170_rolling_median" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
        .rowsBetween(-4, org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
        .withColumn("frame", sort_array(collect_list(col("v_micro")).over(w)))
        .select(col("user_id"), col("event_id"), col("ts_epoch"),
          size(col("frame")).cast("long").as("n5"),
          element_at(col("frame"),
            ((size(col("frame")) + 1) / 2).cast("int")).as("med_micro"))
        .withColumn("med", col("med_micro").cast("double") / lit(1000000.0))
    }),

    // Exact ROC AUC (Mann-Whitney U) — the label-vs-score audit a
    // training pipeline runs on every heuristic quality signal ("does
    // the score actually rank positives above negatives?"). The
    // rank-sum spelling is all-integer: scores quantize to micro-units
    // (exact, mirrored), aggregate to the distinct-score grid with
    // per-score positive/negative counts (map-side combined — the fact
    // table never sorts), then the cumulative negatives-below-v over the
    // GRID come from Rank.globalPrefixSum's two-pass distributed scan —
    // the grid's cardinality is the DISTINCT values of a continuous
    // column, which grows with the data, so an unpartitioned cumulative
    // window here would move the whole grid through one task (the
    // r15-flagged shape); the two-pass scan range-partitions the grid
    // and broadcasts only #partitions offset rows. 2·num =
    // Σ_v np_v·(2·cum_neg_below(v) + nn_v) — concordant pairs doubled
    // plus ties once. AUC = num2 / (2·P·N) is the single mirrored
    // divide.
    "q171_auc" -> ((s, dir) => {
      val grid = t(s, dir, "events")
        .select(
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("pos"))
        .groupBy("v_micro")
        .agg(sum(col("pos")).as("np"),
          sum(lit(1L) - col("pos")).as("nn"))
      graft.operators.Rank
        .globalPrefixSum(grid, Seq(col("v_micro")), Seq("nn" -> "cum_nn_inc"))
        // exclusive (strictly-below) = inclusive − own contribution
        .withColumn("cum_nn", col("cum_nn_inc") - col("nn"))
        .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
          sum(col("np") * (lit(2L) * col("cum_nn") + col("nn")))
            .as("num2"))
        .select(col("n_pos"), col("n_neg"), col("num2"),
          try_divide(col("num2").cast("double"),
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
            .as("auc"))
    }),

    // Benford first-digit audit — the fabricated-data / instrumentation-
    // bug detector over a magnitude-spanning measure: natural positive
    // measurements lead with 1 ~30% of the time; uniform leading digits
    // flag synthetic or truncated feeds. Digit extraction is INTEGER
    // (first char of the micro-unit BIGINT's decimal rendering — never
    // log10, whose boundary rounding is engine-dependent); the nine
    // Benford shares are hardcoded 17-digit literals identical in both
    // engines, so expected counts and χ² contributions are mirrored
    // double arithmetic over exact integer counts.
    "q172_benford" -> ((s, dir) => {
      import s.implicits._
      // the nine shares as JVM double literals; the oracle spells the
      // same digits in exponent form, which both parsers round-to-
      // nearest identically (DuckDB's BARE decimal literal would parse
      // as DECIMAL and cast — off by 1 ulp)
      val benford = Seq(
        1 -> 0.30102999566398120, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829993, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514)
      val exp = benford.toDF("digit", "share")
      // filter on the QUANTIZED value, not the raw one: 0 < value <
      // 5e-7 rounds to v_micro = 0, whose leading digit '0' would be
      // counted in n_total yet excluded from the nine displayed rows —
      // expected counts would no longer sum to the observed total
      // (round-8 ADVICE); v_micro >= 1 keeps n_total = Σ observed
      val obs = t(s, dir, "events")
        .select(floor(col("value") * lit(1000000.0) + lit(0.5))
          .cast("long").as("v_micro"))
        .where(col("v_micro") >= 1L)
        .select(substring(col("v_micro").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("observed"))
      val n = obs.agg(sum(col("observed")).as("n_total"))
      exp.join(obs, Seq("digit"), "left")
        .na.fill(0L, Seq("observed"))
        .crossJoin(broadcast(n))
        .select(col("digit"), col("observed"), col("share"),
          (col("n_total").cast("double") * col("share")).as("expected"))
        .withColumn("chi2_term",
          (col("observed").cast("double") - col("expected")) *
            (col("observed").cast("double") - col("expected")) /
            col("expected"))
    }),

    // Jaro-Winkler similar-token pairs (expressions/JaroWinkler — a
    // native codegen kernel; Spark has no built-in) — the record-
    // linkage scorer that complements the edit-distance family: q110
    // counts operations, this rewards shared prefixes and forgives
    // transpositions, the classic name/title matcher. Candidate space
    // is the bounded top-200 vocabulary blocked on the initial byte
    // (the Winkler boost's own structure: high-JW pairs share a
    // prefix), so the self-join broadcasts and the kernel runs on a
    // few thousand pairs, not the corpus square. The double is
    // BIT-EXACT vs DuckDB's jaro_winkler_similarity (both byte-level,
    // same operation order — JaroWinklerSpec pins the classic Winkler
    // examples and non-ASCII byte semantics).
    "q173_jaro_winkler" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val top = tf.orderBy(col("freq").desc, col("tok")).limit(200)
        .select(col("tok"), substring(col("tok"), 1, 1).as("init"))
      top.as("a").join(broadcast(top.as("b")),
          col("a.init") === col("b.init") && col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
        .withColumn("jw", graft.expressions.JaroWinkler
          .jaroWinklerOf(col("tok_a"), col("tok_b")))
        .where(col("jw") >= 0.6)
    }),

    // Per-group simple linear regression (OLS) — the drift/trend fit a
    // feature-store job runs per segment (price-per-unit slope by
    // return flag). Five integer moments (n, Σx, Σy, Σxy, Σx²) ride
    // one map-side-combined aggregate in DECIMAL(38,0) ≡ HUGEINT —
    // quantity is a whole-number double (exact BIGINT cast) and price
    // quantizes to cents — and BOTH closed forms keep integer
    // numerators/denominators until their single mirrored divide:
    // slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept =
    // (ΣyΣx²−ΣxΣxy)/(nΣx²−(Σx)²) — no slope-feeds-intercept float
    // chaining. Degenerate groups (constant x) yield NULL via
    // try_divide, never a 0/0.
    "q174_ols_group" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
            .as("y"))
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
          sum(d38(col("x")) * col("y")).as("sxy"),
          sum(d38(col("x")) * col("x")).as("sxx"))
        // the moment terms grow ~n² (intercept numerator 4.4·10¹⁹ at
        // sf0.1, past int64) — all four rendered through the
        // hugeAsDouble limb chain, never a direct int128→double cast
        .select(col("l_returnflag"), col("n"),
          try_divide(
            hugeAsDouble(
              d38(col("n")) * col("sxy") - col("sx") * col("sy")),
            hugeAsDouble(
              d38(col("n")) * col("sxx") - col("sx") * col("sx")))
            .as("slope_cents_per_unit"),
          try_divide(
            hugeAsDouble(
              col("sy") * col("sxx") - col("sx") * col("sxy")),
            hugeAsDouble(
              d38(col("n")) * col("sxx") - col("sx") * col("sx")))
            .as("intercept_cents"))
    }),

    // Cumulative DISTINCT count over an ordered stream — "how many
    // distinct event types has this user touched so far?", the
    // engagement-breadth curve. COUNT(DISTINCT) is not a window
    // function in either engine; the scale-safe spelling is the
    // first-occurrence flag (row_number over (user, type) = 1) summed
    // cumulatively — two windows over the SAME (user, time) partition
    // order, so one sort serves both; all integers.
    "q175_cumulative_distinct" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts_epoch"))
      val firstW = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
      val cumW = Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base
        .withColumn("first_seen",
          when(row_number().over(firstW) === 1, lit(1L)).otherwise(lit(0L)))
        .withColumn("cum_distinct_types", sum(col("first_seen")).over(cumW))
        .select("user_id", "event_id", "ts_epoch", "cum_distinct_types")
    }),

    // Interval islands (gaps-and-islands) — merge each user's
    // overlapping activity intervals [ts, ts+300s) into maximal
    // "islands" and report the count and covered seconds: the
    // session-coverage audit that q44's gap-based sessionizer doesn't
    // answer (coverage dedups overlap; a session SUM would double-count
    // bursts). The running-max-of-interval-end window detects island
    // starts, the cumulative flag sum numbers islands, and min/max per
    // island yield exact integer coverage — the whole operator is two
    // windows on one (user, time) sort plus a bounded aggregate.
    "q176_interval_islands" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val span = 300L
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("s"))
        .withColumn("e", col("s") + lit(span))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("s").asc, col("event_id").asc)
      val prevMax = ord.rowsBetween(Window.unboundedPreceding, -1)
      val runW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base
        .withColumn("prev_end", max(col("e")).over(prevMax))
        .withColumn("new_island",
          when(col("prev_end").isNull || col("s") > col("prev_end"), lit(1L))
            .otherwise(lit(0L)))
        .withColumn("island", sum(col("new_island")).over(runW))
        .groupBy("user_id", "island")
        .agg(min(col("s")).as("i_start"), max(col("e")).as("i_end"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("i_end") - col("i_start")).as("covered_sec"))
    }),

    // Entity resolution end-to-end — block → score → cluster →
    // canonicalize, the full record-linkage pipeline over one query:
    // q173's initial-byte blocking and bit-exact Jaro-Winkler scoring
    // produce the match edges, the q51 iterative-CC operator (two-star
    // alternation, checkpointed rounds) merges transitive matches, and
    // the min-string label is the canonical entity key. String ids ride
    // the whole ladder (the CC fingerprint hashes them; min is
    // lexicographic in both engines). The oracle replays blocking +
    // scoring and resolves transitivity with the q51 recursive CTE.
    "q177_jw_entities" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val top = tf.orderBy(col("freq").desc, col("tok")).limit(200)
        .select(col("tok"), substring(col("tok"), 1, 1).as("init"))
      val pairs = top.as("a").join(broadcast(top.as("b")),
          col("a.init") === col("b.init") && col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
        .where(graft.expressions.JaroWinkler
          .jaroWinklerOf(col("tok_a"), col("tok_b")) >= 0.6)
      Dedup.dupClusters(pairs, "tok_a", "tok_b")
        .select(col("id").as("tok"), col("cluster_id").as("entity_id"))
    }),

    // Deterministic negative sampling — the contrastive-pair generator
    // (each observed (order, part) positive gets k pseudo-random
    // negatives from the catalog). RNG would be run-dependent; the draw
    // here is a seeded integer LCG on the example's own key
    // ((x·1103515245 + 12345) mod 2³¹−1, x pre-reduced so the product
    // never overflows BIGINT at any SF), mapped into the catalog by
    // modulo and bumped one slot on collision with the positive —
    // reproducible from the data alone, trivially mirrored, and embarr-
    // assingly parallel (no shuffle at all until the optional dim join;
    // the catalog size is a one-row broadcast scalar).
    "q178_negative_sample" -> ((s, dir) => {
      val np = t(s, dir, "part")
        .agg(max(col("p_partkey")).as("np"))
      val pos = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"), col("l_partkey"))
        .withColumn("j", explode(array(lit(0L), lit(1L))))
      pos.crossJoin(broadcast(np))
        .withColumn("x",
          (col("l_orderkey") * lit(8L) + col("l_linenumber") * lit(2L) +
            col("j")) % lit(1000000007L))
        .withColumn("cand",
          (col("x") * lit(1103515245L) + lit(12345L)) % lit(2147483647L)
            % col("np") + lit(1L))
        .select(col("l_orderkey"), col("l_linenumber"), col("j"),
          when(col("cand") === col("l_partkey"),
            col("cand") % col("np") + lit(1L))
            .otherwise(col("cand")).as("neg_partkey"))
    }),

    // ANN recall audit — the eval harness for the approximate family:
    // recall@3 of the banded sign-LSH path (q54's operator) against the
    // exact brute-force ranking (q19's), per query. BOTH sides are
    // deterministic (fixed-seed quantized planes, integer cosines), so
    // the recall itself is hash-checkable — the approximate index's
    // quality becomes a regression-testable number instead of a hope.
    // hits ride a left join + integer sum; the one divide is /k.
    "q179_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        k = 3).select("query_id", "vec_id")
      val approx = Similarity.annTopKBanded(q, emb, "vec_id", "embedding",
        k = 3, bands = 4, planesPerBand = 4)
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(col("query_id"), lit(3L).as("k"), col("hits"),
          (col("hits").cast("double") / lit(3.0)).as("recall"))
    }),

    // Two-sample Kolmogorov-Smirnov statistic — the strongest of the
    // drift screens (q144/q152 band counts, q159 skew, this compares
    // WHOLE distributions): D = max |F₁(v) − F₂(v)| between the view
    // and click value distributions. Exactly computable with NO floats
    // until the last divide: cross-multiply the ECDFs —
    // |C₁(v)·N₂ − C₂(v)·N₁| — so the max runs over integers (cents
    // cross-products in DECIMAL(38,0) ≡ HUGEINT headroom). Both ECDFs
    // accumulate over the DISTINCT-value grid in ONE
    // Rank.globalPrefixSum two-pass scan — the grid's cardinality is
    // the distinct micro-values of a continuous column, which grows
    // with the data, so the unpartitioned cumulative window r15 flagged
    // here was the single-task scale shape; the two-pass scan is
    // grid-distributed and value-identical — fed by one
    // map-side-combined aggregate of the fact scan.
    "q180_ks_test" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val grid = t(s, dir, "events")
        .where(col("event_type").isin("view", "click"))
        .select(
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"),
          when(col("event_type") === "view", lit(1L)).otherwise(lit(0L))
            .as("is1"))
        .groupBy("v_micro")
        .agg(sum(col("is1")).as("n1_v"),
          sum(lit(1L) - col("is1")).as("n2_v"))
      val totals = grid.agg(sum(col("n1_v")).as("n1"),
        sum(col("n2_v")).as("n2"))
      graft.operators.Rank
        .globalPrefixSum(grid, Seq(col("v_micro")),
          Seq("n1_v" -> "c1", "n2_v" -> "c2"))
        .crossJoin(broadcast(totals))
        .select(col("n1"), col("n2"),
          abs(d38(col("c1")) * col("n2") - d38(col("c2")) * col("n1"))
            .as("diff"))
        .groupBy("n1", "n2")
        .agg(max(col("diff")).as("d_num"))
        .select(col("n1"), col("n2"),
          col("d_num").cast("long").as("d_num"),
          // n1·n2 growth (10¹¹ at sf0.1) — limb-rendered
          try_divide(hugeAsDouble(col("d_num")),
            hugeAsDouble(d38(col("n1")) * col("n2"))).as("ks"))
    }),

    // Changepoint detection (largest level shift) — per user, the
    // position where the 3-observation trailing window and the
    // 3-observation leading window differ most: the shift locator that
    // follows q180's "did the distribution move?" with "WHERE did it
    // move?". Both frames are bounded ROWS windows on one (user, time)
    // sort; the jump is an exact integer difference of micro-unit frame
    // sums scaled by the opposite frame's count (cross-multiplied —
    // |s_lead·n_trail − s_trail·n_lead| — so no division enters the
    // ranking), and the per-user argmax is a bounded row_number pick
    // with a deterministic (jump desc, time asc) tiebreak.
    "q181_changepoint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
      val trail = ord.rowsBetween(-3, -1)
      val lead = ord.rowsBetween(0, 2)
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
      val scored = base
        .withColumn("s_trail", sum(col("v_micro")).over(trail))
        .withColumn("n_trail", count(col("v_micro")).over(trail))
        .withColumn("s_lead", sum(col("v_micro")).over(lead))
        .withColumn("n_lead", count(col("v_micro")).over(lead))
        .where(col("n_trail") === 3 && col("n_lead") === 3)
        .withColumn("jump",
          abs(col("s_lead") * col("n_trail") -
            col("s_trail") * col("n_lead")))
      val pick = Window.partitionBy("user_id")
        .orderBy(col("jump").desc, col("ts_epoch").asc, col("event_id").asc)
      scored.withColumn("rn", row_number().over(pick))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("ts_epoch"),
          col("jump").as("jump_x3_micro"))
    }),

    // Cramér's V — the contingency-strength companion to q166's kappa
    // (kappa asks "do two labelings agree?"; V asks "are two
    // categoricals associated at all?", normalized to [0,1] so it is
    // comparable across tables). Rides the identical bounded
    // contingency aggregate; χ² terms are the q152 mirrored-divide
    // spelling over integer counts, and V = sqrt(χ²/(n·min(r−1,c−1)))
    // adds one mirrored sqrt. The second rater is the q166 perturbation
    // so the association is real but imperfect.
    "q182_cramers_v" -> ((s, dir) => {
      val d = (x: Column) => x.cast("double")
      val ct = t(s, dir, "events")
        .select(col("event_type").as("a"),
          when(col("event_id") % 7L === 0L, lit("view"))
            .otherwise(col("event_type")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
      val ra = ct.groupBy("a").agg(sum(col("c")).as("ra"))
      val rb = ct.groupBy("b").agg(sum(col("c")).as("rb"))
      val n = ct.agg(sum(col("c")).as("n"),
        countDistinct(col("a")).as("nr"), countDistinct(col("b")).as("nc"))
      // full r×c grid (zero cells contribute their expected mass)
      val grid = ra.crossJoin(rb)
        .join(ct, Seq("a", "b"), "left")
        .na.fill(0L, Seq("c"))
      // χ² is a SUM OF DOUBLES — engine-order-dependent unless folded
      // deterministically: the q162 pattern (sort the bounded grid by
      // cell key, fold left-associatively — identical roundings both
      // sides; 0.0+t ≡ t makes the inits equivalent)
      val chi2 = grid.crossJoin(broadcast(n))
        .select(col("a"), col("b"),
          ((d(col("c")) - d(col("ra")) * col("rb") / col("n")) *
            (d(col("c")) - d(col("ra")) * col("rb") / col("n")) /
            (d(col("ra")) * col("rb") / col("n"))).as("term"))
        .agg(sort_array(collect_list(struct(col("a"), col("b"),
          col("term")))).as("ts"))
        .select(aggregate(col("ts"), lit(0.0),
          (acc, x) => acc + x.getField("term")).as("chi2"))
      n.crossJoin(broadcast(chi2))
        .select(col("n"), col("chi2"),
          sqrt(col("chi2") / (d(col("n")) *
            d(least(col("nr"), col("nc")) - lit(1L)))).as("cramers_v"))
    }),

    // Quantile mapping (rank-based quantile normalization) — map every
    // click value onto the view distribution's value at the same
    // quantile: the distribution-matching transform (batch-effect
    // correction, score calibration across cohorts). Ranks come from
    // the q76 two-pass distributed Rank (range-partition + offset
    // broadcast — NO single-reducer global window over raw rows, the
    // PlanSpec hygiene rule), the index map ⌊(r−1)·N₁/N₂⌋+1 is integer
    // division, and the lookup is an equi-join on the mapped rank —
    // values stay micro-unit integers end to end.
    "q183_quantile_map" -> ((s, dir) => {
      val base = t(s, dir, "events")
        .where(col("event_type").isin("view", "click"))
        .select(col("event_id"), col("event_type"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
      val view = base.where(col("event_type") === "view")
      val click = base.where(col("event_type") === "click")
      val vr = graft.operators.Rank.globalRank(view,
          Seq(col("v_micro"), col("event_id")), "r")
        .select(col("v_micro").as("mapped_micro"), col("r").as("ref_r"))
      val cr = graft.operators.Rank.globalRank(click,
        Seq(col("v_micro"), col("event_id")), "r")
      val totals = base.agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n1"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n2"))
      cr.crossJoin(broadcast(totals))
        .withColumn("target_r", expr("((r - 1) * n1) DIV n2 + 1"))
        .join(vr, col("target_r") === col("ref_r"))
        .select(col("event_id"), col("v_micro"), col("target_r"),
          col("mapped_micro"))
    }),

    // Per-group mode (most frequent value, deterministic tiebreak) —
    // the categorical imputer / dominant-label readout: count per
    // (group, value), then one bounded argmax window over the COUNTS
    // (value-domain-bounded, the q171 grid discipline), ties broken by
    // value order so both engines pick the same winner.
    "q184_mode_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
      val pick = Window.partitionBy("user_id")
        .orderBy(col("n").desc, col("event_type").asc)
      counts.withColumn("rn", row_number().over(pick))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
    }),

    // Decision-stump split finder — weighted Gini impurity of every
    // candidate threshold over a banded feature: THE classic
    // feature-quality primitive (tree splits, feature selection,
    // univariate drift localization). Cumulative class counts over the
    // band grid give every split's left/right tallies in one window
    // pass; impurity for a split is the fully INTEGER rational
    // [(t_l²−p_l²−n_l²)·t_r + (t_r²−p_r²−n_r²)·t_l] / (t_l·t_r·T) —
    // products in DECIMAL(38,0) ≡ HUGEINT, one mirrored divide per
    // split row. Minimize downstream at will; the full curve is the
    // richer artifact.
    "q185_split_gini" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val grid = t(s, dir, "events")
        .select(floor(col("value") / lit(50.0)).cast("long").as("band"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("pos"))
        .groupBy("band")
        .agg(sum(col("pos")).as("p_v"), sum(lit(1L) - col("pos")).as("n_v"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("band")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val totals = grid.agg(sum(col("p_v")).as("pt"), sum(col("n_v")).as("nt"))
      grid
        .withColumn("p_l", sum(col("p_v")).over(w))
        .withColumn("n_l", sum(col("n_v")).over(w))
        .crossJoin(broadcast(totals))
        .select(col("band"),
          (col("p_l") + col("n_l")).as("t_l"),
          (col("pt") - col("p_l") + col("nt") - col("n_l")).as("t_r"),
          col("p_l"), col("n_l"),
          (col("pt") - col("p_l")).as("p_r"),
          (col("nt") - col("n_l")).as("n_r"))
        .where(col("t_r") > 0)
        .select(col("band"), col("t_l"), col("t_r"),
          try_divide(
            ((d38(col("t_l")) * col("t_l") - d38(col("p_l")) * col("p_l") -
              d38(col("n_l")) * col("n_l")) * col("t_r") +
              (d38(col("t_r")) * col("t_r") - d38(col("p_r")) * col("p_r") -
                d38(col("n_r")) * col("n_r")) * col("t_l")).cast("double"),
            (d38(col("t_l")) * col("t_r") * (col("t_l") + col("t_r")))
              .cast("double")).as("weighted_gini"))
    }),

    // Calibration bins (reliability diagram) — "when the score says
    // 0.7, does the label happen 70% of the time?": per score band,
    // the observed positive rate vs the mean score. Counts and
    // micro-unit score sums are exact integers; the two rates are one
    // mirrored divide each — the eval readout that complements q171's
    // ranking-quality AUC with probability-quality.
    "q186_calibration_bins" -> ((s, dir) => {
      t(s, dir, "events")
        .select(floor(col("value") / lit(50.0)).cast("long").as("bin"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
          sum(col("v_micro")).as("sum_micro"))
        .select(col("bin"), col("n"), col("n_pos"),
          try_divide(col("n_pos").cast("double"), col("n").cast("double"))
            .as("pos_rate"),
          try_divide(col("sum_micro").cast("double"),
            col("n").cast("double")).as("mean_score_micro"))
    }),

    // Confusion matrix + precision/recall/F1 — the classifier eval
    // triple over the q166 perturbed second labeling (prediction =
    // perturbed, truth = actual, positive class 'view'): four integer
    // cells from ONE contingency pass, and each metric keeps an
    // integer numerator and denominator until its single divide — F1
    // spelled 2TP/(2TP+FP+FN), never the p·r/(p+r) float chain.
    "q187_confusion_f1" -> ((s, dir) => {
      val cells = t(s, dir, "events")
        .select((col("event_type") === "view").as("act"),
          (when(col("event_id") % 7L === 0L, lit("view"))
            .otherwise(col("event_type")) === "view").as("pred"))
        .agg(
          sum(when(col("act") && col("pred"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("act") && col("pred"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("act") && !col("pred"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("act") && !col("pred"), 1L).otherwise(0L)).as("tn"))
      cells.select(col("tp"), col("fp"), col("fn"), col("tn"),
        try_divide(col("tp").cast("double"),
          (col("tp") + col("fp")).cast("double")).as("precision"),
        try_divide(col("tp").cast("double"),
          (col("tp") + col("fn")).cast("double")).as("recall"),
        try_divide((lit(2L) * col("tp")).cast("double"),
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .as("f1"))
    }),

    // XML extraction (Spark 4 built-in from_xml) — the remaining
    // semi-structured SOURCE surface next to JSON q13/q101/q83 and CSV
    // q31/q121: events render to a deterministic XML envelope
    // (mirrored verbatim — the q64 enrichment discipline, here
    // exercising the PARSER, not a corpus property) and from_xml
    // schema-parses it back; nulls where the document is broken (every
    // 11th row drops a closing tag) — degrade, not abort, the q101
    // malformed-ingestion contract. The oracle extracts the same
    // fields with anchored regexes — equal values, engine-independent.
    "q188_xml_extract" -> ((s, dir) => {
      val xml = when(col("event_id") % 11L === 0L,
        concat(lit("<e><t>"), col("event_type"), lit("</t><v>"),
          col("v_micro").cast("string"), lit("</v>")))
        .otherwise(concat(lit("<e><t>"), col("event_type"),
          lit("</t><v>"), col("v_micro").cast("string"), lit("</v></e>")))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
        .withColumn("doc", xml)
        .withColumn("p", from_xml(col("doc"), schema,
          java.util.Collections.singletonMap("mode", "PERMISSIVE")))
        .select(col("event_id"),
          col("p.t").as("xml_type"), col("p.v").as("xml_micro"),
          (col("p.t") <=> col("event_type") &&
            col("p.v") <=> col("v_micro")).as("roundtrip_ok"))
    }),

    // Theil-Sen robust slope per user — the outlier-immune trend
    // estimator (median of all pairwise slopes; breakdown point 29%)
    // that q174's OLS is not: one wild spike moves OLS arbitrarily,
    // moves Theil-Sen not at all. The pair join is PER-USER (bounded
    // fanout: per-key depth, not corpus² — the growth axis is users,
    // and the probe replica's ×10 users keeps per-user pair counts
    // constant); each slope is ONE mirrored divide of integer deltas,
    // and the median is the lower-median row_number pick under a
    // deterministic (slope, id, id) total order. Same-timestamp pairs
    // are excluded (undefined slope), ties in slope break by ids.
    "q189_theil_sen" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
      val pairs = e.as("a").join(e.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.ts_epoch") > col("a.ts_epoch"))
        .select(col("a.user_id").as("user_id"),
          col("a.event_id").as("ida"), col("b.event_id").as("idb"),
          ((col("b.v_micro") - col("a.v_micro")).cast("double") /
            (col("b.ts_epoch") - col("a.ts_epoch")).cast("double"))
            .as("slope"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("slope").asc, col("ida").asc, col("idb").asc)
      val cnt = Window.partitionBy("user_id")
      pairs
        .withColumn("rn", row_number().over(w))
        .withColumn("n_pairs", count(lit(1)).over(cnt))
        .where(col("rn").cast("long") === expr("(n_pairs + 1) DIV 2"))
        .select(col("user_id"), col("n_pairs"),
          col("slope").as("theil_sen_slope"))
    }),

    // Seasonal baseline residuals — deviation of every observation from
    // its (day-of-week, hour) seasonal mean: the "is this value odd FOR
    // A TUESDAY 9AM?" normalization behind rush-hour-aware anomaly
    // flags. The calendar keys derive from epoch INTEGER arithmetic
    // ((d+4) mod 7, engine-independent — never the engines' dayofweek,
    // whose week origin differs), the baseline is one bounded
    // (168-bucket) aggregate broadcast back, and the residual keeps an
    // integer numerator (x·n − Σ) until the final mirrored divides.
    "q190_seasonal_residual" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"),
          unix_timestamp(col("ts")).as("ep"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
        .withColumn("dow", expr("(ep DIV 86400 + 4) % 7"))
        .withColumn("hod", expr("(ep % 86400) DIV 3600"))
      val base = e.groupBy("dow", "hod")
        .agg(count(lit(1)).as("n_b"), sum(col("v_micro")).as("sum_b"))
      e.join(broadcast(base), Seq("dow", "hod"))
        .select(col("event_id"), col("dow"), col("hod"), col("n_b"),
          (col("v_micro") * col("n_b") - col("sum_b"))
            .as("residual_num_micro"))
        .withColumn("residual",
          col("residual_num_micro").cast("double") /
            col("n_b").cast("double") / lit(1000000.0))
    }),

    // l-diversity audit — k-anonymity's (q148) necessary complement:
    // a quasi-identifier cell can be large (k-safe) yet carry ONE
    // sensitive value, which still discloses it. Per QI cell (hour ×
    // value band), the count of DISTINCT sensitive values
    // (event_type) and the dominant value's share — integer counts
    // from a two-level aggregate (bounded cell domain), one divide for
    // the share; the summary rolls up how many cells violate l ∈
    // {2, 3} and how many rows sit in them.
    "q191_l_diversity" -> ((s, dir) => {
      val byVal = t(s, dir, "events")
        .select(
          (floor(unix_timestamp(col("ts")) / lit(3600.0)) % lit(24L))
            .as("hr"),
          floor(col("value") / lit(10.0)).as("vband"), col("event_type"))
        .groupBy("hr", "vband", "event_type")
        .agg(count(lit(1)).as("n"))
      val cells = byVal.groupBy("hr", "vband")
        .agg(sum(col("n")).as("n_rows"),
          count(lit(1)).as("l_distinct"), max(col("n")).as("n_top"))
      cells.agg(count(lit(1)).as("n_cells"),
        sum((col("l_distinct") < 2L).cast("long")).as("n_cells_l_lt2"),
        sum(when(col("l_distinct") < 2L, col("n_rows")).otherwise(lit(0L)))
          .as("n_rows_l_lt2"),
        sum((col("l_distinct") < 3L).cast("long")).as("n_cells_l_lt3"),
        sum(when(col("l_distinct") < 3L, col("n_rows")).otherwise(lit(0L)))
          .as("n_rows_l_lt3"),
        max(try_divide(col("n_top").cast("double"),
          col("n_rows").cast("double"))).as("max_dominance"))
    }),

    // Automated Readability Index — the text-quality family's
    // READABILITY member (q22 scores surface quality, q162 fluency;
    // this is the classic grade-level formula): ARI = 4.71·(chars/
    // words) + 0.5·(words/sentences) − 21.43. Letters/words/sentences
    // are integer counts off the token kernel (sentence = '.' '!' '?'
    // token-final punctuation, a deterministic proxy both engines
    // spell identically); the formula's constants are literals and the
    // two ratios are mirrored divides. Zero-word/zero-sentence docs
    // yield NULL, never a crash.
    "q192_readability" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_words"),
          aggregate(col("tk"), lit(0L),
            (a, x) => a + length(x).cast("long")).as("n_chars"),
          aggregate(col("tk"), lit(0L), (a, x) =>
            a + when(x.endsWith(".") || x.endsWith("!") || x.endsWith("?"),
              1L).otherwise(0L)).as("n_sents"))
      toks.select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_sents"),
        (lit(4.71) * try_divide(col("n_chars").cast("double"),
          col("n_words").cast("double")) +
          lit(0.5) * try_divide(col("n_words").cast("double"),
            col("n_sents").cast("double")) - lit(21.43)).as("ari"))
    }),

    // Rolling DISTINCT count over a bounded ROWS frame — q170's
    // distinct sibling ("how many different event types in the last 5
    // observations?"): the frame is collected (O(frame) state, bounded
    // by width not partition), de-duplicated, and counted — integers
    // only; the mirrored spelling is list → distinct → length in both
    // engines.
    "q193_rolling_distinct" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
        .rowsBetween(-4, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts_epoch"))
        .withColumn("k5",
          size(array_distinct(collect_list(col("event_type")).over(w)))
            .cast("long"))
        .select("user_id", "event_id", "ts_epoch", "k5")
    }),

    // Bitset-encoded distinct over a bounded domain — the roaring-
    // bitmap idea at its smallest: map the (bounded, enumerable) value
    // domain to bit positions via a broadcast dictionary, OR the masks
    // per key, popcount = distinct count. bit_or is commutative/
    // associative (map-side combinable, shuffle-order-proof — the
    // integer sibling of the HLL merge, but EXACT), the mask itself is
    // a carryable set representation later stages can intersect/union
    // without re-touching rows, and countDistinct rides along as the
    // in-query parity audit.
    "q194_bitset_distinct" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dict = t(s, dir, "events").select("event_type").distinct()
        .withColumn("idx",
          (row_number().over(Window.orderBy("event_type")) - 1)
            .cast("long"))
      t(s, dir, "events").join(broadcast(dict), "event_type")
        .groupBy("user_id")
        .agg(bit_or(expr("CAST(1 AS BIGINT) << idx")).as("type_mask"),
          countDistinct(col("event_type")).as("k"))
        .select(col("user_id"), col("type_mask"),
          bit_count(col("type_mask")).cast("long").as("k_bits"), col("k"))
    }),

    // First-touch attribution — the session-level conversion readout
    // COMPOSED from the q44 sessionizer: per (user, session), the
    // entry event type (first by time, deterministic tiebreak) and
    // whether the session converted; rolled up per entry channel into
    // sessions / conversions / one-divide conversion rate. Everything
    // after the sessionizer is a bounded two-level aggregate — the
    // analytics query marketing teams actually run on the operator the
    // engine already proves.
    "q195_first_touch" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), unix_timestamp(col("ts")).as("ts_epoch"))
      val sess = Sessionize.assignSessions(ev, Seq("user_id"), "ts_epoch",
        "event_id", gapSeconds = 1800L)
      val first = Window.partitionBy("user_id", "session_seq")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
      val perSession = sess
        .withColumn("rn", row_number().over(first))
        .groupBy("user_id", "session_seq")
        .agg(max(when(col("rn") === 1, col("event_type"))).as("first_type"),
          max((col("event_type") === "purchase").cast("long"))
            .as("converted"))
      perSession.groupBy("first_type")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("converted")).as("n_converted"))
        .select(col("first_type"), col("n_sessions"), col("n_converted"),
          try_divide(col("n_converted").cast("double"),
            col("n_sessions").cast("double")).as("conversion_rate"))
    }),

    // Linear multi-touch attribution — q195's fairness-corrected
    // sibling: every event in a CONVERTING session shares the credit
    // equally (1/n per event) instead of the first touch taking all of
    // it. Fractional credits are the float-sum trap; the mirrored
    // spelling quantizes each session's per-event credit to micro-units
    // ONCE (1e6 DIV n — integer division, identical everywhere) and
    // sums exact integers per channel; the displayed credit is one
    // divide at the end.
    "q196_linear_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), unix_timestamp(col("ts")).as("ts_epoch"))
      val sess = Sessionize.assignSessions(ev, Seq("user_id"), "ts_epoch",
        "event_id", gapSeconds = 1800L)
      val stats = sess.groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_ev"),
          max((col("event_type") === "purchase").cast("long"))
            .as("converted"))
      sess.join(stats, Seq("user_id", "session_seq"))
        .where(col("converted") === 1L)
        .withColumn("credit_micro", expr("1000000 DIV n_ev"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_micro")).as("credit_micro_total"))
        .withColumn("credit",
          col("credit_micro_total").cast("double") / lit(1000000.0))
    }),

    // Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    // "Winnowing: Local Algorithms for Document Fingerprinting",
    // SIGMOD'03 — the MOSS algorithm): hash every k-gram, slide a
    // w-window over the hash sequence, keep each window's MINIMUM
    // (rightmost on ties = the min over (hash, -pos) — this spelling
    // uses leftmost-min, deterministic either way when mirrored), and
    // the distinct selected hashes are the document's fingerprint set —
    // guaranteed to share a fingerprint with any document overlapping
    // by ≥ w+k-1 characters, which plain q24-style whole-doc hashing
    // cannot promise. All integer polynomial hashes; the set renders
    // hash-checkable as (count, XOR-fold) scalars.
    "q197_winnowing" -> ((s, dir) =>
      // ONE codegen pass per document (expressions/WinnowFingerprints):
      // no per-gram row explosion, no per-doc window shuffle — the
      // oracle still spells the full relational derivation (gram rows,
      // frame minima, distinct), so the hash match doubles as the
      // kernel's correctness proof. 3.6 s → sub-second at sf0.1.
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.expressions.TextKernels.winnowOf(col("text"), 8, 4)
            .as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fingerprints"),
          aggregate(col("fps"), lit(0L),
            (a, x) => a.bitwiseXOR(x)).as("fp_xor"))),

    // Time-to-convert — per converting user, the seconds from their
    // FIRST 'view' to their first subsequent 'purchase' (the funnel
    // family's latency readout next to q93's stage counts): two
    // min-aggregates per user (commutative — shuffle-proof), an
    // integer difference, and the population's lower-median picked by
    // Rank.globalRank's two-pass distributed rank — the converters
    // frame is one row per converting USER, which grows with the data,
    // so the unpartitioned row_number window r15 flagged here was the
    // single-task scale shape; the two-pass rank produces identical
    // rank values (total order via the user_id tiebreak) and the
    // population count rides the rank output's pinned sorted pass as a
    // 1-row broadcast.
    "q198_time_to_convert" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_type"), unix_timestamp(col("ts")).as("ep"))
      val per = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ep")))
          .as("first_view"))
      val purch = ev.where(col("event_type") === "purchase")
        .join(per, "user_id")
        .where(col("first_view").isNotNull && col("ep") >= col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(min(col("ep")).as("first_purchase"))
        .select(col("user_id"),
          (col("first_purchase") - col("first_view")).as("ttc_sec"))
      val ranked = graft.operators.Rank.globalRank(purch,
        Seq(col("ttc_sec").asc, col("user_id").asc), "rn")
      val tot = ranked.agg(count(lit(1)).as("n"))
      ranked
        .crossJoin(broadcast(tot))
        .where(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("n").cast("long").as("n_converters"),
          col("ttc_sec").as("median_ttc_sec"))
    }),

    // Count-Min sketch via the NATIVE Catalyst imperative aggregate
    // (expressions/CmsSketchAgg — TypedImperativeAggregate: the whole
    // depth×width counter matrix is ONE aggregation buffer, merged
    // element-wise by ObjectHashAggregate's real partial aggregation).
    // q138 builds the same sketch relationally (explode depth cells →
    // hash-agg); this build moves ONE fixed-size buffer per partition
    // instead of depth× exploded rows — the smallest shuffle a keyed
    // 100 TB stream can pay. Same hash derivation by construction, so
    // the estimates hash-check against the SAME oracle as q138.
    "q199_cms_native_agg" -> ((s, dir) => {
      val (depth, width) = (4, 256)
      val (as, bs) = graft.expressions.SignatureKernels.polyCoeffs(depth)
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val sketch = tf.agg(graft.expressions.CmsSketchAgg
        .cmsOf(col("tok"), col("freq"), depth, width).as("sk"))
      val top = tf.orderBy(col("freq").desc, col("tok")).limit(20)
      val est = top.crossJoin(broadcast(sketch))
        .withColumn("ph", TextAnalysis.charPolyHash(col("tok")))
        .withColumn("cms_estimate",
          (0 until depth).map { d =>
            element_at(col("sk"),
              (((lit(as(d)) * col("ph") + lit(bs(d))) %
                lit(graft.expressions.SignatureKernels.PolyMod)) %
                lit(width.toLong)).cast("int") + lit(d * width + 1))
          }.reduce(least(_, _)))
      est.select(col("tok"), col("freq"), col("cms_estimate"),
        (col("cms_estimate") - col("freq")).as("overestimate"))
    }),

    // Corpus health report — the capstone composition: the one-page
    // (metric, value) summary a data curator reads before a training
    // run, assembled from operators the engine already proves
    // one-by-one. Exact-dup mass from the q15 hash groups, near-dup
    // mass from the SHARED q51 cluster artifact (one CC build per
    // session feeds five queries and this), language spread, volume,
    // and the exact lower-median document length computed on the
    // value GRID (bounded cumulative window, the q163 discipline).
    // Every value is a BIGINT — nothing to drift; the oracle replays
    // each metric with its own family's established SQL.
    "q200_corpus_report" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      def row(name: String, v: Column) =
        d.agg(v.cast("long").as("value")).select(lit(name).as("metric"),
          col("value"))
      val dupGroups = d.groupBy(sha2(col("text"), 256).as("h"))
        .agg(count(lit(1)).as("n"))
      val exactDups = dupGroups
        .agg(coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
          .cast("long").as("value"))
        .select(lit("n_exact_dup_docs").as("metric"), col("value"))
      val nearDups = docClusters(s, dir)
        .agg(count(lit(1)).cast("long").as("value"))
        .select(lit("n_neardup_clustered").as("metric"), col("value"))
      val grid = d.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val medianChars = grid
        .withColumn("cum", sum(col("cnt")).over(w))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("nn"))))
        .where(col("cum") >= expr("(nn + 1) DIV 2"))
        .agg(min(col("n_chars")).cast("long").as("value"))
        .select(lit("median_chars").as("metric"), col("value"))
      row("n_docs", count(lit(1)))
        .unionByName(row("n_distinct_texts",
          countDistinct(sha2(col("text"), 256))))
        .unionByName(exactDups)
        .unionByName(nearDups)
        .unionByName(row("n_langs", countDistinct(col("lang"))))
        .unionByName(row("total_chars", sum(col("n_chars"))))
        .unionByName(medianChars)
    }),

    // Headway regularity — THE transit service-quality KPI the
    // reference's dashboard never got to: per (route, stop), the gaps
    // between consecutive ACTUAL arrivals and their variance. Riders
    // feel variance, not mean (a 10-min-exact service beats an
    // "8-min average" that alternates 2/14). One lag window per
    // (route, stop) partition; moments ride exact integers
    // (DECIMAL(38,0) products) with ONE double divide for the
    // population variance n·Σh²−(Σh)² over n².
    "q201_headway_regularity" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val arr = diffMartEpochs(s, dir)
        .where(col("actual_arrival_epoch").isNotNull)
        .select(col("route_id"), col("stop_id"),
          col("actual_arrival_epoch").as("t"), col("trip_id"))
      val w = Window.partitionBy("route_id", "stop_id")
        .orderBy(col("t").asc, col("trip_id").asc)
      val hw = arr.withColumn("prev", lag(col("t"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("route_id"), col("stop_id"),
          (col("t") - col("prev")).as("h"))
      hw.groupBy("route_id", "stop_id")
        .agg(count(lit(1)).as("n_headways"),
          sum(col("h")).as("sum_h"),
          sum(d38(col("h")) * col("h")).as("sum_h2"))
        .where(col("n_headways") >= 2)
        .select(col("route_id"), col("stop_id"), col("n_headways"),
          try_divide(col("sum_h").cast("double"),
            col("n_headways").cast("double")).as("mean_headway_sec"),
          // n²·h² growth (1.6·10¹³ at sf0.1) — limb-rendered, never a
          // direct int128→double cast
          try_divide(
            hugeAsDouble(d38(col("n_headways")) * col("sum_h2") -
              d38(col("sum_h")) * col("sum_h")),
            hugeAsDouble(d38(col("n_headways")) * col("n_headways")))
            .as("var_headway_sec2"))
    }),

    // On-time performance — the industry-standard transit KPI (share
    // of observed arrivals within [-1 min, +5 min] of schedule), per
    // route: integer window test on integer epochs, integer tallies,
    // one divide. The mart's arrival diff column is minutes; the test
    // runs on the epoch difference directly so the boundary is exact.
    "q202_otp" -> ((s, dir) => {
      diffMartEpochs(s, dir)
        .where(col("actual_arrival_epoch").isNotNull)
        .select(col("route_id"),
          (col("actual_arrival_epoch") - col("scheduled_arrival_epoch"))
            .as("dev"))
        .groupBy("route_id")
        .agg(count(lit(1)).as("n_obs"),
          sum(when(col("dev") >= -60L && col("dev") <= 300L, 1L)
            .otherwise(0L)).as("n_ontime"))
        .select(col("route_id"), col("n_obs"), col("n_ontime"),
          try_divide(col("n_ontime").cast("double"),
            col("n_obs").cast("double")).as("otp"))
    }),

    // Bus bunching — the failure mode q201's variance measures, made
    // countable: consecutive actual arrivals at a stop closer than
    // 120 s are a bunched pair (the vehicle that caught up). Same lag
    // window as q201; per route, the bunched share of all headways —
    // integers, one divide.
    "q203_bunching" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val arr = diffMartEpochs(s, dir)
        .where(col("actual_arrival_epoch").isNotNull)
        .select(col("route_id"), col("stop_id"),
          col("actual_arrival_epoch").as("t"), col("trip_id"))
      val w = Window.partitionBy("route_id", "stop_id")
        .orderBy(col("t").asc, col("trip_id").asc)
      arr.withColumn("prev", lag(col("t"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("route_id"), (col("t") - col("prev")).as("h"))
        .groupBy("route_id")
        .agg(count(lit(1)).as("n_headways"),
          sum(when(col("h") < 120L, 1L).otherwise(0L)).as("n_bunched"))
        .select(col("route_id"), col("n_headways"), col("n_bunched"),
          try_divide(col("n_bunched").cast("double"),
            col("n_headways").cast("double")).as("bunching_share"))
    }),

    // Excess wait time — the professional frequent-service metric (TfL's
    // headline bus KPI): a random-arrival rider waits E[h²]/2E[h]
    // (actual, AWT), would wait E[h]/2 under perfect regularity (SWT),
    // and EWT = AWT − SWT is what irregularity costs them. Derived from
    // the SAME per-route headway moments as q201 (integer Σh, Σh² in
    // DECIMAL(38,0)); AWT and SWT are each one mirrored divide and EWT
    // one mirrored subtraction.
    "q204_excess_wait" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val arr = diffMartEpochs(s, dir)
        .where(col("actual_arrival_epoch").isNotNull)
        .select(col("route_id"), col("stop_id"),
          col("actual_arrival_epoch").as("t"), col("trip_id"))
      val w = Window.partitionBy("route_id", "stop_id")
        .orderBy(col("t").asc, col("trip_id").asc)
      arr.withColumn("prev", lag(col("t"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("route_id"), (col("t") - col("prev")).as("h"))
        .groupBy("route_id")
        .agg(count(lit(1)).as("n_headways"), sum(col("h")).as("sum_h"),
          sum(d38(col("h")) * col("h")).as("sum_h2"))
        // AWT/SWT/EWT quantized to exact integer MICROSECONDS by one
        // integral divide each, THEN rendered as micro/1e6: the micro
        // values are identical integers in both engines (largest
        // intermediate sum_h2·1e6 ≲ 10²³, DECIMAL(38,0)/HUGEINT-safe)
        // and stay far below 2^53, so the final doubles are bit-stable
        // under ANY engine version. The earlier spelling divided
        // double(sum_h2) directly — sum_h2 is an int128 that crosses
        // 2^53 at replica scale, putting membership of the hashed
        // values on the version-drifting int128→double rounding (the
        // r7/r8 class). sum_h = 0 (every headway zero) yields NULL awt,
        // matching the old try_divide contract.
        .select(col("route_id"), col("n_headways"),
          when(col("sum_h") === 0L, lit(null).cast("long"))
            .otherwise(call_function("div",
              col("sum_h2") * lit(1000000L).cast("decimal(19,0)"),
              d38(col("sum_h")) * lit(2L).cast("decimal(19,0)")))
            .as("awt_micro"),
          call_function("div",
            d38(col("sum_h")) * lit(1000000L).cast("decimal(19,0)"),
            d38(col("n_headways")) * lit(2L).cast("decimal(19,0)"))
            .as("swt_micro"))
        .select(col("route_id"), col("n_headways"),
          (col("awt_micro").cast("double") / lit(1000000.0)).as("awt_sec"),
          (col("swt_micro").cast("double") / lit(1000000.0)).as("swt_sec"),
          ((col("awt_micro") - col("swt_micro")).cast("double") /
            lit(1000000.0)).as("ewt_sec"))
    }),

    // Dwell time — how long vehicles sit at each stop (departure −
    // arrival where both were observed): the capacity/accessibility
    // signal behind stop-level scheduling. Integer differences, exact
    // integer sums, one divide for the mean; max rides along.
    "q205_dwell_time" -> ((s, dir) => {
      diffMartEpochs(s, dir)
        .where(col("actual_arrival_epoch").isNotNull &&
          col("actual_departure_epoch").isNotNull)
        .select(col("route_id"), col("stop_id"),
          (col("actual_departure_epoch") - col("actual_arrival_epoch"))
            .as("dwell"))
        .where(col("dwell") >= 0)
        .groupBy("route_id", "stop_id")
        .agg(count(lit(1)).as("n_obs"), sum(col("dwell")).as("sum_dwell"),
          max(col("dwell")).as("max_dwell_sec"))
        .select(col("route_id"), col("stop_id"), col("n_obs"),
          try_divide(col("sum_dwell").cast("double"),
            col("n_obs").cast("double")).as("mean_dwell_sec"),
          col("max_dwell_sec"))
    }),

    // Inter-stop run times — departure at stop s to arrival at stop
    // s+1 within a trip: the segment-level travel-time matrix behind
    // schedule construction. One lag window per trip ordered by
    // stop_sequence; per (route, from, to) segment: exact integer
    // sums, min, one divide.
    "q206_run_times" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("trip_id", "start_date")
        .orderBy(col("stop_sequence").asc)
      diffMartEpochs(s, dir)
        .select(col("trip_id"), col("start_date"), col("route_id"),
          col("stop_sequence"), col("stop_id"),
          col("actual_arrival_epoch"), col("actual_departure_epoch"))
        .withColumn("prev_dep", lag(col("actual_departure_epoch"), 1).over(w))
        .withColumn("prev_stop", lag(col("stop_id"), 1).over(w))
        .withColumn("prev_seq", lag(col("stop_sequence"), 1).over(w))
        .where(col("prev_dep").isNotNull &&
          col("actual_arrival_epoch").isNotNull &&
          col("prev_seq") === col("stop_sequence") - 1)
        .select(col("route_id"), col("prev_stop").as("from_stop"),
          col("stop_id").as("to_stop"),
          (col("actual_arrival_epoch") - col("prev_dep")).as("run"))
        .groupBy("route_id", "from_stop", "to_stop")
        .agg(count(lit(1)).as("n_obs"), sum(col("run")).as("sum_run"),
          min(col("run")).as("min_run_sec"))
        .select(col("route_id"), col("from_stop"), col("to_stop"),
          col("n_obs"),
          try_divide(col("sum_run").cast("double"),
            col("n_obs").cast("double")).as("mean_run_sec"),
          col("min_run_sec"))
    }),

    // Delay accumulation along the route — does lateness build up
    // stop by stop? Per route, the q174 OLS closed form fitted to
    // (stop_sequence, arrival deviation): a positive slope is a route
    // that cannot recover, the schedule-padding signal. Deviations are
    // integer seconds, moments exact in DECIMAL(38,0), two mirrored
    // divides.
    "q207_delay_accumulation" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      diffMartEpochs(s, dir)
        .where(col("actual_arrival_epoch").isNotNull)
        .select(col("route_id"), col("stop_sequence").cast("long").as("x"),
          (col("actual_arrival_epoch") - col("scheduled_arrival_epoch"))
            .as("y"))
        .groupBy("route_id")
        .agg(count(lit(1)).as("n"),
          sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
          sum(d38(col("x")) * col("y")).as("sxy"),
          sum(d38(col("x")) * col("x")).as("sxx"))
        // q174's moment form: terms grow ~n² per route (1.2·10¹² at
        // sf0.1) — rendered through the hugeAsDouble limb chain
        .select(col("route_id"), col("n"),
          try_divide(
            hugeAsDouble(
              d38(col("n")) * col("sxy") - col("sx") * col("sy")),
            hugeAsDouble(
              d38(col("n")) * col("sxx") - col("sx") * col("sx")))
            .as("sec_per_stop"),
          try_divide(
            hugeAsDouble(
              col("sy") * col("sxx") - col("sx") * col("sxy")),
            hugeAsDouble(
              d38(col("n")) * col("sxx") - col("sx") * col("sx")))
            .as("intercept_sec"))
    }),

    // Delay survival curve — P(delay > t) at the thresholds riders
    // quote (1/2/5/10 min), per route: the tail view a mean hides.
    // Four integer tallies in one pass, one divide each.
    "q208_delay_survival" -> ((s, dir) => {
      val base = diffMartEpochs(s, dir)
        .where(col("actual_arrival_epoch").isNotNull)
        .select(col("route_id"),
          (col("actual_arrival_epoch") - col("scheduled_arrival_epoch"))
            .as("dev"))
      val thresholds = Seq(60L, 120L, 300L, 600L)
      base.groupBy("route_id")
        .agg(count(lit(1)).as("n_obs"),
          thresholds.map(th =>
            sum(when(col("dev") > th, 1L).otherwise(0L)).as(s"n_gt$th")): _*)
        .select(col("route_id") +: col("n_obs") +: thresholds.map(th =>
          try_divide(col(s"n_gt$th").cast("double"),
            col("n_obs").cast("double")).as(s"p_gt${th}s")): _*)
    }),

    // Embedding class separation — the embedding-QUALITY audit behind
    // every "train a classifier on these vectors" decision: per label,
    // the mean squared distance to the OWN class centroid (cohesion)
    // vs the squared distance to the NEAREST other centroid
    // (separation); ratio < 1 means classes overlap. All-integer by
    // construction: vectors quantize to the q19 1e5 grid, centroids
    // are per-dimension integer floor-means (Σ DIV n — the mirrored
    // spelling), distances are integer sums of squared differences in
    // DECIMAL(38,0), and the one divide is the final ratio. Label
    // domain is bounded (centroid frame broadcasts); the per-vector
    // pass is one posexplode + two bounded joins.
    "q209_embedding_separation" -> ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val dims = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(Similarity.quantize(col("embedding"))))
        .select(col("vec_id"), col("label"), col("pos").as("dim"),
          col("col").as("q"))
      val cent = dims.groupBy("label", "dim")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .select(col("label").as("c_label"), col("dim"),
          expr("CASE WHEN sq >= 0 THEN sq DIV n " +
            "ELSE -((-sq + n - 1) DIV n) END").as("c"))
      // dist²(vector, every centroid) — label domain bounded, broadcast
      val dist = dims.join(broadcast(cent), Seq("dim"))
        .select(col("vec_id"), col("label"), col("c_label"),
          ((col("q") - col("c")) * (col("q") - col("c"))).as("d2term"))
        .groupBy("vec_id", "label", "c_label")
        .agg(sum(d38(col("d2term"))).as("d2"))
      val own = dist.where(col("label") === col("c_label"))
        .select(col("vec_id"), col("label"), col("d2").as("own_d2"))
      val other = dist.where(col("label") =!= col("c_label"))
        .groupBy("vec_id").agg(min(col("d2")).as("nearest_other_d2"))
      own.join(other, "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("own_d2")).as("sum_own_d2"),
          sum(col("nearest_other_d2")).as("sum_other_d2"))
        .select(col("label"), col("n_vecs"),
          col("sum_own_d2").cast("long").as("sum_own_d2"),
          col("sum_other_d2").cast("long").as("sum_other_d2"),
          // Σd² ≈ 2.2·10¹² at sf0.1 (linear in vectors) — limb-rendered
          try_divide(hugeAsDouble(col("sum_own_d2")),
            hugeAsDouble(col("sum_other_d2"))).as("overlap_ratio"))
    }),

    // The curation FUNNEL end-to-end — the whole training-data pipeline
    // as one query, each stage an operator the engine proves elsewhere,
    // chained: raw → exact dedup (q15's min-id representatives) →
    // near-dup dedup (q51's shared cluster artifact; keep the
    // min-label representative of each cluster) → decontamination
    // (q48's trigram-overlap rule against the held-out eval slice) →
    // quality gate (length ≥ 100) → deterministic stratified sample
    // (q45's per-language content-hash rates). The report is the
    // (stage, surviving docs, surviving chars) funnel a curator signs
    // off on — and the composition is the "a reference user could run
    // their whole pipeline here" claim, verified stage by stage.
    "q210_curation_funnel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val s1 = docs
      // exact-dedup representatives
      val keep = Dedup.exactDupGroups(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val s2 = docs.join(keep, "doc_id")
      // near-dup representatives: not clustered, or the cluster label
      val cl = docClusters(s, dir)
      val s3 = s2.join(cl, s2("doc_id") === cl("id"), "left")
        .where(col("cluster_id").isNull ||
          col("cluster_id") === col("doc_id"))
        .select(docs.columns.toIndexedSeq.map(col): _*)
      // decontaminate vs the doc_id%10==0 holdout (q48 rule); the
      // holdout rows themselves leave the training pool
      val s4 = CorpusOps.decontaminate(
        s3.where(col("doc_id") % 10L =!= 0L),
        docs.where(col("doc_id") % 10L === 0L),
        "doc_id", "text", n = 3)
      val s5 = s4.where(col("n_chars") >= 100L)
      val rate = when(col("lang") === "en", lit(700L))
        .when(col("lang") === "es", lit(400L)).otherwise(lit(150L))
      val s6 = s5.where(TextAnalysis.charPolyHash(col("text")) % 1000L < rate)
      def stage(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_chars")), lit(0L)).as("n_chars"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_chars"))
      stage("1_raw", s1)
        .unionByName(stage("2_exact_dedup", s2))
        .unionByName(stage("3_neardup_dedup", s3))
        .unionByName(stage("4_decontaminated", s4))
        .unionByName(stage("5_quality", s5))
        .unionByName(stage("6_sampled", s6))
    }),

    // Cohen's kappa between two categorical columns — chance-corrected
    // agreement, the label-quality audit (annotator consistency, rule
    // vs model agreement) that raw accuracy overstates when the
    // marginals are skewed. Entirely integer-exact: the algebraic form
    // κ = (n·Σdiag − Σ_k ra_k·rb_k) / (n² − Σ_k ra_k·rb_k) clears both
    // probability denominators, so the ONLY double is the final
    // mirrored divide. One contingency aggregate (bounded label
    // domain), marginals re-aggregated from it — the fact table scans
    // once.
    "q166_cohens_kappa" -> ((s, dir) => {
      // rater A is the event label; rater B is a deterministic noisy
      // second annotator (every 7th event relabeled 'view') — the q64
      // enrichment discipline: the raw schema has no second rater, the
      // mirrored perturbation gives the audit real disagreement
      val ct = t(s, dir, "events")
        .select(col("event_type").as("a"),
          when(col("event_id") % 7L === 0L, lit("view"))
            .otherwise(col("event_type")).as("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("c"))
      val n = ct.agg(sum(col("c")).as("n"), sum(when(col("a") === col("b"),
        col("c")).otherwise(lit(0L))).as("n_agree"))
      // products in DECIMAL(38,0) ≡ the oracle's HUGEINT — n² and the
      // marginal products exceed 2⁶³ long before a 100 TB event log does
      val d38 = (x: Column) => x.cast("decimal(38,0)")
      val ra = ct.groupBy("a").agg(sum(col("c")).as("ra"))
      val rb = ct.groupBy("b").agg(sum(col("c")).as("rb"))
      val cross = ra.join(rb, col("a") === col("b"))
        .agg(sum(d38(col("ra")) * col("rb")).as("sum_marg"))
      n.crossJoin(broadcast(cross))
        .select(col("n").as("n_rows"), col("n_agree"),
          col("sum_marg").cast("long").as("sum_marg"),
          // n² growth (9·10¹⁰ at sf0.1) — limb-rendered
          try_divide(
            hugeAsDouble(
              d38(col("n")) * col("n_agree") - col("sum_marg")),
            hugeAsDouble(d38(col("n")) * col("n") - col("sum_marg")))
            .as("kappa"))
    }),

    // Unicode NFC normalization (expressions/NfcNormalize) — the
    // canonical-form cleaning step ahead of every byte-keyed operator
    // (content-hash dedup, shingles, fingerprints): composed é and
    // decomposed e+U+0301 are the SAME text to a reader and DIFFERENT
    // bytes to q15/q24/q42. The raw corpus is ASCII (trivially NFC), so
    // the q64 discipline applies: enrich deterministically with
    // decomposed combining sequences, mirrored verbatim in the oracle —
    // the doc_id%3 rows then genuinely compose, pinned by codepoint
    // counts and a post-normalization codepoint fingerprint. Canonical
    // composition is Unicode-standard-defined, which is why the JDK
    // normalizer and DuckDB's utf8proc nfc_normalize hash-match.
    "q165_nfc_normalize" -> ((s, dir) => {
      // the suffix is DECOMPOSED in the source bytes: 'e' followed by
      // combining acute U+0301, 'a' followed by combining grave U+0300
      // (it renders composed in most editors) — NFC composes both
      val enriched = concat(col("text"),
        when(col("doc_id") % 3L === 0L,
          lit(" café voilà")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), enriched.as("raw"),
          graft.expressions.NfcNormalize.nfc(enriched).as("norm"))
        .select(col("doc_id"),
          (col("norm") =!= col("raw")).as("was_denormalized"),
          length(col("raw")).cast("long").as("n_chars_raw"),
          length(col("norm")).cast("long").as("n_chars_nfc"),
          TextAnalysis.charPolyHash(col("norm")).as("nfc_fp"))
    }),

    // Vocabulary APPLY — the tokenize-to-ids step a pretraining
    // pipeline runs after q131 builds the vocab and q84 trains merges:
    // every token maps to its vocab id (frequency rank; OOV → 0 = unk)
    // and each document re-assembles its ORDERED id sequence. The
    // reassembly is the q162 determinism pattern (sort collected
    // (pos, id) structs, then fold), rendered hash-checkable as scalars
    // by the q24 rolling fingerprint ((a·31 + id) mod 1e9+7 over the
    // sequence) — no array column ever reaches the output. The vocab is
    // a bounded broadcast join (100 rows); unknown-token counts ride
    // the same pass.
    "q164_vocab_apply" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val vw = Window.orderBy(col("freq").desc, col("tok"))
      val vocab = tf.orderBy(col("freq").desc, col("tok")).limit(100)
        .withColumn("id", row_number().over(vw).cast("long"))
        .select(col("tok"), col("id"))
      val g = docs.select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
      val perDoc = g.join(broadcast(vocab), Seq("tok"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("id"), lit(0L)).as("id"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("id"))))
          .as("ps"))
        .select(col("doc_id"),
          size(col("ps")).cast("long").as("n_tokens"),
          aggregate(col("ps"), lit(0L),
            (a, x) => (a * 31L + x.getField("id")) % 1000000007L)
            .as("ids_fp"),
          aggregate(col("ps"), lit(0L),
            (a, x) => a + when(x.getField("id") === 0L, 1L).otherwise(0L))
            .as("n_unk"))
      docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_unk"), lit(0L)).as("n_unk"), col("ids_fp"))
    }),

    // Weighted median — the quantile family's WEIGHTED member (q50
    // exact, q151 sketched, q156 equi-depth are all unit-weight): the
    // price level at which half the shipped QUANTITY sits, per return
    // flag. Entirely integer-exact: weights aggregate to the (flag,
    // price) value domain first (map-side combined — the shuffle
    // carries the price grid, not rows), the cumulative sum windows
    // over that AGGREGATED frame (the PlanSpec hygiene exception: an
    // unbounded value domain would first quantize to a grid, q160's
    // discipline), and the median is the min price with 2·cum ≥ total
    // — no halving, no interpolation, no doubles anywhere but the
    // passthrough price itself.
    "q163_weighted_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("price"),
          floor(col("l_quantity")).cast("long").as("qty"))
      val agg = li.groupBy("flag", "price").agg(sum(col("qty")).as("w"))
      // tot as a whole-partition window over the SAME aggregated frame —
      // not a separate aggregate branch, which would rescan the fact
      // table (.explain showed two ReadSchema scans for the join
      // spelling); both windows share one partitioning, so the plan is
      // one scan + one exchange
      val cw = Window.partitionBy("flag").orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("flag")
      agg.withColumn("cum", sum(col("w")).over(cw))
        .withColumn("tot", sum(col("w")).over(tw))
        .where(col("cum") * 2L >= col("tot"))
        .groupBy("flag", "tot")
        .agg(min(col("price")).as("weighted_median_price"))
    }),

    // N-gram language-model fluency score — the LM-scoring member of
    // the text-quality family (q21 langid, q22 heuristics, q114 rarity,
    // q127 concentration): each document's mean corpus-bigram
    // conditional probability P(b|a) = n_ab / n_a("a" as bigram
    // prefix), the ln-free monotone stand-in for per-token perplexity
    // (mean log-prob would drag in libm). The exactness pattern is NEW
    // here: the per-doc mean sums FLOATING ratios, which a shuffle
    // reduces in nondeterministic order — so the ratios are collected,
    // sorted by token POSITION, and folded left-associatively from 0.0
    // (aggregate() over sort_array ≡ the oracle's list(… ORDER BY pos)
    // + list_reduce), making every intermediate rounding identical in
    // both engines. Stats are two map-side-combined aggregates; the
    // per-doc list is document-length-bounded (the q49 chunking bound
    // at corpus scale).
    "q162_lm_fluency" -> ((s, dir) => lmFluencyFrame(s, dir)),

    // Trailing exponentially-weighted moving average per user — the
    // recency-weighted member of the smoothing family (q153 is the
    // uniform ROWS-frame mean). α = 1/2 over the last 8 observations,
    // spelled as an EXPLICIT dyadic-weight lag chain (weights 2⁻¹…2⁻⁷
    // with the recursion's initialization mass 2⁻⁷ on the oldest term —
    // exactly y₇=x₇; yₖ=(xₖ+yₖ₊₁)/2, so Σw = 1): every weight and every
    // x·2⁻ᵏ product is EXACT in binary floating point, and the one
    // rounding per addition happens in the same left-associative order
    // in both engines — a pow()/EWM-library spelling would be
    // libm-divergent. Rows without full 8-history emit NULL (no
    // renormalization divide). One window, partitioned by
    // high-cardinality user_id.
    "q161_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
      val weights = Seq(0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625,
        0.0078125, 0.0078125)
      val terms = weights.zipWithIndex.map { case (wt, k) =>
        (if (k == 0) col("value") else lag(col("value"), k).over(w)) * lit(wt)
      }
      t(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_epoch"), col("value"))
        .withColumn("ewma", terms.reduceLeft(_ + _))
        .select("event_id", "user_id", "ts_epoch", "ewma")
    }),

    // One-pass Pearson correlation MATRIX over the fact table's numeric
    // columns — the multi-column completion of q77's single pair and
    // q105's univariate profile (feature-selection / collinearity
    // screening). ALL C(4,2) pairs ride ONE aggregate: Catalyst dedupes
    // the repeated per-column moment buffers (sum, sum-of-squares appear
    // in 3 pairs each), so the table is scanned once and the shuffle
    // carries one moments row; stack() unpivots that row — no per-pair
    // re-scan, no union of 6 aggregate branches.
    //
    // Moments ride micro-unit INTEGERS in DECIMAL(38,0) (≡ the oracle's
    // HUGEINT), not q77's DECIMAL(15,6): DuckDB sizes a decimal product
    // at p1+p2 and cross-products of any width wide enough for price²
    // bind-error past the 38 cap, while Pearson is invariant under the
    // positive scaling, so both engines run the identical exact-integer
    // pipeline and spend doubles only on the final cast/sqrt/divide.
    // DECIMAL(38,0) headroom: |q| ≤ 7·10¹⁰ here → n·Σqq ≈ 10³²; at
    // 10¹² rows drop the quantization unit accordingly.
    "q160_corr_matrix" -> ((s, dir) => {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cs.indices; j <- (i + 1) until cs.size
      } yield (cs(i), cs(j))
      def q(c: String) =
        floor(col(c) * lit(1000000.0) + lit(0.5)).cast("decimal(38,0)")
      val n = count(lit(1)).cast("decimal(38,0)")
      val moments =
        cs.flatMap(c => Seq(sum(q(c)).as(s"s_$c"),
          sum(q(c) * q(c)).as(s"ss_$c"))) ++
        pairs.map { case (a, b) => sum(q(a) * q(b)).as(s"sx_${a}__$b") }
      val aggd = t(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows"), n.as("__n") +: moments: _*)
      // moments reach n²·q² ≈ 3.3·10³² at sf0.1 (n² growth law; the
      // hugeAsDouble domain holds to ~×16 data — recompute the limb
      // split at larger gates) — rendered through the limb chain, never
      // a direct int128→double cast
      def corr(a: String, b: String) = try_divide(
        hugeAsDouble(
          col("__n") * col(s"sx_${a}__$b") - col(s"s_$a") * col(s"s_$b")),
        sqrt(hugeAsDouble(
          col("__n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a"))) *
          sqrt(hugeAsDouble(
            col("__n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))))
      val withCorrs = aggd.select(col("n_rows") +:
        pairs.map { case (a, b) => corr(a, b).as(s"c_${a}__$b") }: _*)
      val stackArgs = pairs
        .map { case (a, b) => s"'$a', '$b', c_${a}__$b" }.mkString(", ")
      withCorrs
        .select(col("n_rows"), expr(
          s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, corr)"))
        .select("col_a", "col_b", "n_rows", "corr")
    }),

    // Join-key skew audit — the pre-flight report that decides q39's
    // salting question ("is this key safe to shuffle on?") as data, not
    // folklore: rows/keys/max-per-key, the heaviest key's share, and
    // skew factor = max·n_keys/n_rows (1.0 = perfectly uniform). Two
    // map-side-combined aggregates per audited key (per-key counts →
    // moments-of-counts); integer until the three labeled divides.
    // Median-of-counts interpolates on integers — exact in any
    // interpolation spelling (the q145 precedent); p99 is deliberately
    // absent (0.99·(n−1) is not dyadic; its interpolation term is
    // engine-order-dependent).
    "q159_key_skew" -> ((s, dir) => {
      def audit(df: DataFrame, keyCol: String, label: String): DataFrame =
        df.where(col(keyCol).isNotNull)
          .groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
          .agg(count(lit(1)).as("n_keys"), sum(col("__c")).as("n_rows"),
            max(col("__c")).as("max_per_key"),
            expr("percentile(__c, 0.5D)").as("med_per_key"))
          .select(lit(label).as("audited_key"), col("n_rows"),
            col("n_keys"), col("max_per_key"), col("med_per_key"),
            (col("max_per_key").cast("double") /
              col("n_rows").cast("double")).as("max_share"),
            (col("max_per_key") * col("n_keys")).cast("double")
              ./(col("n_rows").cast("double")).as("skew_factor"))
      audit(t(s, dir, "events"), "user_id", "events.user_id")
        .unionByName(audit(t(s, dir, "lineitem"), "l_partkey",
          "lineitem.l_partkey"))
        .unionByName(audit(t(s, dir, "lineitem"), "l_returnflag",
          "lineitem.l_returnflag"))
    }),

    // Sketch-accuracy audit — the q179 discipline applied to q40's HLL:
    // an oracle can't replay an engine-internal sketch, but it CAN
    // assert the sketch's published guarantee. The oracle emits the
    // exact per-hour distinct count and `within_bound = TRUE`; the
    // Spark side computes BOTH the HLL++ estimate and the exact count
    // and tests |est − exact| ≤ max(5, ceil(3·rsd·exact)) (3σ at
    // rsd = 0.02 — deterministic: the sketch hash is fixed, so the
    // boolean is a constant of the data, not a coin flip). A sketch
    // regression flips the boolean and the driver's hash compare
    // catches it; the estimate itself stays off the hashed surface.
    // This is an AUDIT query: the exact countDistinct it carries is the
    // cost q40 exists to avoid — run it on samples/canaries, not the
    // full 100 TB.
    "q211_hll_error_bound" -> ((s, dir) =>
      diffMart(s, dir).groupBy("sudbury_hour_of_day")
        .agg(approx_count_distinct(col("trip_id"), 0.02).as("__est"),
          countDistinct(col("trip_id")).as("n_exact"))
        .select(col("sudbury_hour_of_day"), col("n_exact"),
          (abs(col("__est") - col("n_exact")) <=
            greatest(lit(5L), ceil(col("n_exact").cast("double") * lit(0.06))
              .cast("long"))).as("within_bound"))),

    // GK-sketch rank-guarantee audit (q151's percentile_approx at
    // accuracy 1/ε = 100), same discipline: the estimate's exact rank
    // interval [count(< est), count(≤ est)] must come within
    // εN (+2 definitional slack) of the target rank φN. The oracle
    // emits the exact group sizes and TRUE; Spark recomputes the ranks
    // relationally — one broadcast of 3 estimates per day_type against
    // the delay frame, map-side-combined conditional counts, integer
    // rank arithmetic (φ in exact micro-units). The engine-defined
    // estimate values stay on q151's rows-only surface; their GUARANTEE
    // is what hash-checks here.
    "q212_gk_error_bound" -> ((s, dir) => {
      val delays = diffMartEpochs(s, dir)
        .select(col("day_type"),
          (col("actual_arrival_epoch") - col("scheduled_arrival_epoch"))
            .as("delay"))
        .where(col("delay").isNotNull)
      val est = delays.groupBy("day_type")
        .agg(expr("percentile_approx(delay, array(0.5D, 0.9D, 0.99D), 100)")
          .as("p"))
        .select(col("day_type"), posexplode(col("p")))
        .select(col("day_type"),
          element_at(array(lit(500000L), lit(900000L), lit(990000L)),
            col("pos") + 1).as("phi_micro"),
          col("col").as("est"))
      delays.join(broadcast(est), Seq("day_type"))
        .groupBy("day_type", "phi_micro")
        .agg(count(lit(1)).as("n_obs"),
          sum((col("delay") < col("est")).cast("long")).as("__lt"),
          sum((col("delay") <= col("est")).cast("long")).as("__le"))
        .select(col("day_type"), col("phi_micro"), col("n_obs"),
          ((col("__le") >=
            expr("n_obs * phi_micro DIV 1000000") -
              (expr("n_obs DIV 100") + lit(2L))) &&
           (col("__lt") <=
            expr("n_obs * phi_micro DIV 1000000") +
              expr("n_obs DIV 100") + lit(2L))).as("within_bound"))
    }),

    // SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup
    // over the SAME memoized IVF training as q32/q149 (one artifact,
    // four consumers), keep-lowest-centroid-similarity priority, exact
    // integer epsilon gate (3/10) — the per-vector keep/prune decision
    // is fully hash-checked, float-free end to end.
    "q213_semdedup" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        ivfTrained(s, dir, 16, 2), epsNum = 3L, epsDen = 10L)),

    // Prototype-based data pruning (Sorscher et al. 2022): keep the
    // hardest half of every cluster — rank by exact integer cosine-key
    // to the assigned centroid (same memoized IVF training as
    // q32/q149/q213), keep fraction as a cross-multiplied integer.
    "q215_prototype_pruning" -> ((s, dir) =>
      Similarity.prototypePruning(t(s, dir, "embeddings"), "vec_id",
        "embedding", ivfTrained(s, dir, 16, 2), keepNum = 1L,
        keepDen = 2L)),

    // CCNet/fastText-style target-affinity filter: hashed bag-of-tokens
    // linear classifier with integer ppm weights (target = lang 'en'),
    // 512 buckets, Laplace-smoothed, above-corpus-mean selection — the
    // quality/domain scoring stage of a curation pipeline, fully
    // hash-checked.
    "q214_affinity_filter" -> ((s, dir) =>
      text.CorpusOps.affinityScore(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en", buckets = 512)),

    // Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1
    // rule family): token-count bounds, mean-token-length bounds,
    // minimum stop-word count, maximum most-frequent-token share —
    // every rule an integer cross-multiplication, per-rule flags plus
    // the conjunction, fully hash-checked.
    "q216_gopher_rules" -> ((s, dir) =>
      text.CorpusOps.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        stopwords = Seq("the", "a", "of"), minTokens = 30L,
        maxTokens = 1000L, minAvgLen = 3L, maxAvgLen = 6L, minStop = 1L,
        maxTopShareNum = 1L, maxTopShareDen = 8L)),

    // DSIR-style importance weights + proportional resampling (Xie et
    // al. 2023): smoothed likelihood ratio of poly-hashed bigram
    // features between the target slice (lang 'zh') and the raw corpus,
    // DECIMAL(38,0) cross-multiplied to integer ppm, deterministic
    // content-hash coin for the keep decision.
    "q217_dsir_weight" -> ((s, dir) =>
      text.CorpusOps.dsirWeight(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "zh", buckets = 256)),

    // Hard-negative mining: per query, the top-5 most-similar vectors
    // with a DIFFERENT label — contrastive-training data prep on the
    // q19 exact-cosine arithmetic, hash-checked.
    "q221_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10, k = 5)),

    // Label-aware retrieval eval (MRR, hits@5, first relevant rank)
    // over the exact cosine ranking — the embedding-quality readout,
    // spelled without a corpus-sized window (bounded top-k + aggregate
    // rank identity); rr is the surface's one mirrored float divide.
    "q222_knn_eval" -> ((s, dir) =>
      Similarity.knnLabelEval(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10, k = 5)),

    // kNN label propagation: majority label of the 5 exact-cosine
    // nearest neighbors — semi-supervised labeling over the q19
    // ranking arithmetic; all-int64 surface (prediction + votes).
    "q224_knn_classify" -> ((s, dir) =>
      Similarity.knnClassify(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10, k = 5)),

    // Cluster–label purity over the memoized IVF training (the
    // q32/q149/q213/q215 artifact): per-cluster majority label and
    // integer-ppm purity — the data-map readout; all-int64 surface.
    "q223_cluster_purity" -> ((s, dir) =>
      Similarity.clusterPurity(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", ivfTrained(s, dir, 16, 2))),

    // Per-source trigram diversity (distinct-n / Self-BLEU family):
    // occurrences vs corpus-wide distinct trigrams as integer ppm —
    // the template/boilerplate detector; all-int64 surface.
    "q225_ngram_diversity" -> ((s, dir) =>
      text.CorpusOps.ngramDiversity(t(s, dir, "documents"), "doc_id",
        "text", "source", n = 3)),

    // Data-constrained mixing planner (Muennighoff et al. 2023): equal
    // per-source token targets under a repeat cap R*=4 — epoch counts,
    // planned tokens, shortfall; pure integer arithmetic end-to-end.
    "q226_repeat_plan" -> ((s, dir) =>
      text.CorpusOps.repeatPlan(t(s, dir, "documents"), "text", "source",
        budgetTokens = 2000000L, maxEpochs = 4L)),

    // Tokenizer fertility by language: tokens per million chars as
    // integer floor division over the table's own n_chars inventory —
    // the multilingual token-budget balancer; all-int64 surface.
    "q227_tokenizer_fertility" -> ((s, dir) =>
      text.CorpusOps.tokenizerFertility(t(s, dir, "documents"), "text",
        "lang", "n_chars")),

    // Cluster-balanced deterministic sampling: a fixed 20-row quota per
    // IVF cluster (shared q32/q149 training), ordered by the content-
    // hash coin — diversity-preserving downsampling; all-int64 surface,
    // ranked by the partition-local bounded top-k, never a raw-corpus
    // window on the 16-value cid.
    "q228_cluster_sample" -> ((s, dir) =>
      Similarity.clusterBalancedSample(t(s, dir, "embeddings"), "vec_id",
        "embedding", ivfTrained(s, dir, 16, 2), quota = 20)),

    // Triplet-margin audit: best positive vs hardest negative per query,
    // ordered and compared by the exact integer cosine key (shared query
    // norm cancels) — the contrastive-data quality readout; int64 ids +
    // a 0/1 margin flag, no float anywhere.
    "q229_triplet_margin" -> ((s, dir) =>
      Similarity.tripletMargin(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10)),

    // Code-switch detector: language-ID the head and tail halves of each
    // token stream with the q21 marker scorer, flag disagreement —
    // mixed-language pages; integer counts + fixed tie order, no
    // explode, no shuffle.
    "q230_code_switch" -> ((s, dir) =>
      text.CorpusOps.codeSwitch(t(s, dir, "documents"), "doc_id",
        "text")),

    // Label-noise audit: kNN-majority vs own label per query (confident-
    // learning disagreement core) — candidate-mislabel flags over the
    // q224 machinery; all-int64 surface, 50 queries at gate scale.
    "q236_label_noise" -> ((s, dir) =>
      Similarity.labelNoiseAudit(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 50, k = 5)),

    // t-closeness audit: per-source language distribution vs the global
    // one, categorical EMD (= total variation) cross-multiplied in
    // DECIMAL(38,0), integer-ppm surface, verdict at t = 1/5 — the
    // distributional member of the privacy family (q148/q191).
    "q235_t_closeness" -> ((s, dir) =>
      text.CorpusOps.tCloseness(t(s, dir, "documents"), "source", "lang",
        tNum = 1L, tDen = 5L)),

    // Balanced shard planner: token-mass-even output sharding via the
    // two-pass size-desc rank and a snake round-robin deal — the
    // write-side step of a corpus materialization; all-int64 surface.
    "q234_shard_plan" -> ((s, dir) =>
      text.CorpusOps.shardPlan(t(s, dir, "documents"), "doc_id", "text",
        nShards = 8)),

    // Duplicate-span SCRUB: the q137 detector turned into the transform
    // a user materializes — tokens covered by any cross-document dup
    // trigram removed, cleaned text + removal accounting; per-DOCUMENT
    // windowed-max coverage, string reassembly with exact token joins.
    "q233_dedup_scrub" -> ((s, dir) =>
      text.CorpusOps.dedupScrub(t(s, dir, "documents"), "doc_id",
        "text", n = 3)),

    // Matryoshka truncation audit: top-5 under the 16-dim prefix vs the
    // full 64-dim exact ranking — integer overlap count per query, the
    // storage-tiering readout; same quantized arithmetic both rankings.
    "q232_matryoshka_recall" -> ((s, dir) =>
      Similarity.truncationRecall(t(s, dir, "embeddings"), "vec_id",
        "embedding", col("vec_id") < 10, k = 5, prefixDim = 16)),

    // CCNet-style perplexity buckets: rank the corpus by the q162
    // bigram-LM fluency (two-pass global rank, no one-task window) and
    // cut into head/middle/tail terciles by the integer identity
    // (rank−1)·3 div n — the quality-stratification stage of a curation
    // pipeline. Surface: doc_id, n_bigrams, rank, bucket — all int64
    // (the fluency double drives only the ORDER, mirrored op-for-op).
    "q231_perplexity_buckets" -> ((s, dir) => {
      val f = lmFluencyFrame(s, dir)
      val ranked = graft.operators.Rank.globalRank(f,
        Seq(col("fluency").desc_nulls_last, col("doc_id").asc), "rank")
      // corpus count straight off the documents table — lmFluencyFrame
      // left-joins FROM documents, so the row counts are provably equal
      // and counting the frame would re-run its bigram explode + joins
      ranked.crossJoin(broadcast(
          t(s, dir, "documents").agg(count(lit(1)).as("__n"))))
        .select(col("doc_id"), col("n_bigrams"),
          col("rank").cast("long").as("rank"),
          expr("((rank - 1) * 3) div __n").as("bucket"))
    }),

    // Char-grain duplicate spans — q137's detector at the grain Lee et
    // al. 2021 actually deduplicates (character substrings, k=12
    // codepoints), windows hashed by the O(n) rolling kernel so the
    // posting explode ships int64s, not k-char strings. max_run + 11
    // lower-bounds the longest cross-document duplicated substring.
    // Rides the shared char-posting artifact (one build, two consumers
    // with q243 — the truthPairs discipline).
    "q237_char_dup_spans" -> ((s, dir) =>
      text.CorpusOps.charDupSpansFromPostings(charPostings12(s, dir),
        "doc_id")),

    // IVF-GATED kNN retrieval eval — the q222 readout composed over the
    // q32 probe-list gate (shared memoized training, nProbe=4): MRR /
    // hits@5 / first-relevant rank against the candidates in each
    // query's probed lists — the scale path registered as a green row
    // instead of scaladoc prose. Ranks are within-gate ranks, the
    // number a production retrieval system observes.
    "q238_knn_eval_gated" -> ((s, dir) =>
      Similarity.knnLabelEvalGated(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10, k = 5,
        cents = ivfTrained(s, dir, 16, 2), nProbe = 4)),

    // IVF-GATED label-noise audit — q236's confident-learning
    // disagreement flags with the kNN majority drawn from the probed
    // lists only (the q32 gate applied to the q224 majority); 50
    // queries, all-int64 surface.
    "q239_label_noise_gated" -> ((s, dir) =>
      Similarity.labelNoiseAuditGated(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 50, k = 5,
        cents = ivfTrained(s, dir, 16, 2), nProbe = 4)),

    // Char-grain contamination score — q132's graded decontamination
    // readout at the character grain published overlap policies
    // threshold (12-codepoint windows here), over the SAME shared
    // char-posting artifact as q237; same train/eval split as q48/q132.
    "q243_char_contamination" -> ((s, dir) =>
      text.CorpusOps.charContamination(t(s, dir, "documents"),
        charPostings12(s, dir), "doc_id",
        trainPred = col("doc_id") % 10 =!= 0,
        evalPred = col("doc_id") % 10 === 0)),

    // IVF-GATED triplet-margin audit — the last member of the
    // retrieval-eval family's registered scale path (q229 over the q32
    // gate): best positive and hardest negative drawn from the probed
    // lists only, ranked and compared by the same float-free integer
    // cosine key.
    "q242_triplet_margin_gated" -> ((s, dir) =>
      Similarity.tripletMarginGated(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10,
        cents = ivfTrained(s, dir, 16, 2), nProbe = 4)),

    // IVF-GATED hard-negative mining — q221's contrastive-data pass
    // over the q32 probe-list gate: the hardest other-label neighbors
    // from the probed lists only, same exact gated arithmetic as the
    // rest of the family.
    "q245_hard_negatives_gated" -> ((s, dir) =>
      Similarity.hardNegativesGated(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10, k = 5,
        cents = ivfTrained(s, dir, 16, 2), nProbe = 4)),

    // Top-weighted rank agreement between the gated and exact rankings
    // (Fagin et al. 2003's intersection metric — the order-sensitive
    // companion to q240's set recall): one integer prefix-credit weight
    // per matched id, floor-ppm surface, no float anywhere.
    "q244_gate_rank_agreement" -> ((s, dir) =>
      Similarity.gateRankAgreement(
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        cents = ivfTrained(s, dir, 16, 2), nProbe = 4)),

    // The gate's recall delta, pinned (the q179 audit pattern applied
    // to the IVF gate): recall@5 of the q32 probe-list ranking against
    // the q19 exact brute-force ranking, per query — the measured cost
    // of running the retrieval-eval family gated. Both sides are
    // deterministic integer arithmetic, so the delta itself
    // hash-checks.
    "q240_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id",
        "embedding", k = 5).select("query_id", "vec_id")
      val gated = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, kmeansIters = 2,
        trainedCents = Some(ivfTrained(s, dir, 16, 2)))
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(gated, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(col("query_id"), lit(5L).as("k"), col("hits"),
          (col("hits").cast("double") / lit(5.0)).as("recall"))
    }),

    // Char-grain duplicate-span SCRUB — q233's removing transform at
    // q237's 12-codepoint grain (Lee et al. 2021 end-to-end: detect AND
    // cut character-wise), over the SAME shared char-posting artifact;
    // duplicated windows merge into covered islands per document and
    // the cleaned text is one per-row fold over the island list — no
    // per-codepoint explode ever ships (that brute force is the
    // oracle's spelling).
    "q246_char_dedup_scrub" -> ((s, dir) =>
      text.CorpusOps.charDedupScrub(t(s, dir, "documents"),
        charPostings12(s, dir), "doc_id", "text", k = 12)),

    // The IVF gate's KNOB CURVE: recall@5 and AO@5 vs exact at every
    // nProbe in {1,2,4,16,8 sorted} over the shared trained centroids —
    // the tuning readout before fixing the gate's one knob (q219's
    // banding curve / q149c's round histogram, for the gate). ONE
    // probe-rank-carrying scoring pass serves all five knob points;
    // both metrics are provably monotone in nProbe and the full probe
    // reads 10⁶ ppm (SimilaritySpec pins it).
    "q247_gate_knob_curve" -> ((s, dir) =>
      Similarity.gateKnobCurve(
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        cents = ivfTrained(s, dir, 16, 2),
        nProbes = Seq(1, 2, 4, 8, 16))),
  )

  // -------------------------------------------------------------- oracle --

  /** Brute-force quantized-cosine top-5 (queries = vec_id < 10) — the
    * oracle for BOTH q19 (IntDotProduct spelled directly) and q55 (HOF
    * spelling rewritten to IntDotProduct by the optimizer rule). */
  private val BRUTE_TOPK_SQL: String = EMB_CTE +
    s"""p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
      |    ${cosSql("q", "c")} AS cosine
      |  FROM n q, n c WHERE q.vec_id < 10),
      |r AS (
      |  SELECT query_id, vec_id, cosine,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY cosine DESC, vec_id ASC) AS rank
      |  FROM p)
      |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  /** JL-projected cosine top-5 (q135): the ±1 Rademacher rows embedded as
    * literals (the lshCtes discipline — the matrix is operator definition,
    * not runtime randomness), projection/norm/cosine mirroring
    * [[graft.similarity.Similarity.jlTopK]] op for op. */
  private val JL_TOPK_SQL: String = {
    val rows = Similarity.rademacherPlanes(projDim = 8, dim = 64)
      .zipWithIndex.map { case (p, j) =>
        s"($j, ${p.mkString("[", ",", "]")}::BIGINT[])"
      }.mkString(", ")
    EMB_CTE +
      s"""jlp AS (SELECT * FROM (VALUES $rows) pl(j, pv)),
         |y AS (
         |  SELECT n.vec_id,
         |    list(CAST(list_sum(list_transform(range(1, len(n.v)+1),
         |      i -> n.v[i]*p.pv[i])) AS BIGINT) ORDER BY p.j) AS yv
         |  FROM n CROSS JOIN jlp p GROUP BY n.vec_id),
         |yn AS (
         |  SELECT vec_id, yv,
         |    CAST(list_sum(list_transform(range(1, len(yv)+1),
         |      i -> yv[i]*yv[i])) AS BIGINT) AS nrm
         |  FROM y),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    CAST(CAST(list_sum(list_transform(range(1, len(q.yv)+1),
         |        i -> q.yv[i]*c.yv[i])) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE)))
         |      AS cosine
         |  FROM yn q, yn c WHERE q.vec_id < 10),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM p)
         |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin
  }

  // Mirrors Similarity.sq8TopK: per-vector sv = max(1, ceil(maxabs/127))
  // (integer `//` ≡ Spark's `div` — operands non-negative), codes truncate
  // |x| toward zero, reconstruction stays virtual via sv·dot(q, code).
  private val SQ8_ANN_SQL: String =
    EMB_CTE +
      """sq AS (
        |  SELECT vec_id, v,
        |    GREATEST(1, (list_max(list_transform(v, x -> abs(x))) + 126) // 127)
        |      AS sv
        |  FROM e),
        |cd AS (
        |  SELECT vec_id, sv,
        |    list_transform(v, x -> CASE WHEN x < 0 THEN -((-x) // sv)
        |                                ELSE x // sv END) AS cc
        |  FROM sq),
        |cn AS (
        |  SELECT vec_id, sv, cc,
        |    sv * sv * CAST(list_sum(list_transform(range(1, len(cc)+1),
        |      i -> cc[i]*cc[i])) AS BIGINT) AS cn
        |  FROM cd),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    CAST(c.sv * CAST(list_sum(list_transform(range(1, len(q.v)+1),
        |        i -> q.v[i]*c.cc[i])) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE)))
        |      AS cosine
        |  FROM n q, cn c WHERE q.vec_id < 10),
        |r AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p)
        |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  /** The oracles' HUGEINT mirror of [[Similarity.exactCosKey]]: the
    * float-free centroid-ranking key sign(dot)·floor(dot²·10⁹/cnrm),
    * assembled as (dot² // cnrm)·10⁹ + ((dot² % cnrm)·10⁹) // cnrm so no
    * intermediate exceeds HUGEINT, NULL for a zero-norm centroid (the
    * consumers rank `ckey DESC NULLS LAST, cid ASC`). Spark computes
    * the identical integer in DECIMAL(38,0), so the cluster
    * assignment/probe ORDER can never drift with a DuckDB version's
    * int128→double rounding — the round-7/8 q149 failure mode, where a
    * 1-ulp float-cosine flip relocated one vector and shifted every
    * downstream centroid mean and inertia sum. */
  private def cosKeySql(dot: String, cnrm: String): String = {
    val d2 = s"(CAST($dot AS HUGEINT) * $dot)"
    val mag = s"((($d2 // $cnrm) * 1000000000) + " +
      s"(($d2 % $cnrm) * 1000000000) // $cnrm)"
    s"CASE WHEN $cnrm = 0 THEN NULL WHEN $dot < 0 THEN -$mag ELSE $mag END"
  }

  /** One mirrored assignment round against centroid CTE `centCte`
    * (cid, cv, cnrm): dots (sd$sfx), exact keys (k$sfx — kept visible so
    * probe CTEs can rank with the same key), winner per vector (a$sfx). */
  private def ivfAssignCtes(centCte: String, sfx: String): String =
    s"""sd$sfx AS (
       |  SELECT n.vec_id, c.cid,
       |    CAST(list_sum(list_transform(range(1, len(n.v)+1),
       |      i -> n.v[i]*c.cv[i])) AS BIGINT) AS dot,
       |    c.cnrm AS cnrm
       |  FROM n, $centCte c),
       |k$sfx AS (
       |  SELECT vec_id, cid,
       |    ${cosKeySql("dot", "cnrm")} AS ckey
       |  FROM sd$sfx),
       |a$sfx AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ckey DESC NULLS LAST, cid ASC) AS rn FROM k$sfx)
       |  WHERE rn = 1),
       |""".stripMargin

  // q32's mirrored IVF training pipeline — seed centroids (first 16
  // corpus vectors), two Lloyd iterations with floor-mean integer
  // centroids and the EXACT-KEY assignment (cosKeySql — float-free, so
  // no DuckDB version can rank apart from Spark), then the final
  // per-vector assignment. Shared VERBATIM by the IVF search (q32) and
  // the inertia readout (q149), so the two oracles can never train
  // apart. Consumes EMB_CTE's `n`; produces `cent` (cid, cv, cnrm),
  // `kf` (all final exact keys — the probe CTEs rank over it), and
  // `assign` (vec_id → cid).
  private val IVF_TRAIN_CTES: String =
    """dims AS (SELECT unnest(range(1, (SELECT max(len(v)) FROM n) + 1)) AS i),
      |c0 AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS cv
      |  FROM n ORDER BY vec_id LIMIT 16),
      |c0n AS (
      |  SELECT cid, cv, CAST(list_sum(list_transform(range(1, len(cv)+1),
      |    i -> cv[i]*cv[i])) AS BIGINT) AS cnrm FROM c0),
      |""".stripMargin +
    ivfAssignCtes("c0n", "0") +
    """m0 AS (
      |  SELECT a.cid, d.i,
      |    CAST(CASE WHEN sum(n.v[d.i]) >= 0
      |              THEN sum(n.v[d.i]) // count(*)
      |              ELSE -((-sum(n.v[d.i]) + count(*) - 1) // count(*))
      |         END AS BIGINT) AS mv
      |  FROM a0 a JOIN n USING (vec_id) CROSS JOIN dims d
      |  GROUP BY a.cid, d.i),
      |c1 AS (
      |  SELECT c.cid, COALESCE(l.cv, c.cv) AS cv FROM c0 c
      |  LEFT JOIN (SELECT cid, list(mv ORDER BY i) AS cv FROM m0 GROUP BY cid) l
      |    USING (cid)),
      |c1n AS (
      |  SELECT cid, cv, CAST(list_sum(list_transform(range(1, len(cv)+1),
      |    i -> cv[i]*cv[i])) AS BIGINT) AS cnrm FROM c1),
      |""".stripMargin +
    ivfAssignCtes("c1n", "1") +
    """m1 AS (
      |  SELECT a.cid, d.i,
      |    CAST(CASE WHEN sum(n.v[d.i]) >= 0
      |              THEN sum(n.v[d.i]) // count(*)
      |              ELSE -((-sum(n.v[d.i]) + count(*) - 1) // count(*))
      |         END AS BIGINT) AS mv
      |  FROM a1 a JOIN n USING (vec_id) CROSS JOIN dims d
      |  GROUP BY a.cid, d.i),
      |c2 AS (
      |  SELECT c.cid, COALESCE(l.cv, c.cv) AS cv FROM c1 c
      |  LEFT JOIN (SELECT cid, list(mv ORDER BY i) AS cv FROM m1 GROUP BY cid) l
      |    USING (cid)),
      |cent AS (
      |  SELECT cid, cv, CAST(list_sum(list_transform(range(1, len(cv)+1),
      |    i -> cv[i]*cv[i])) AS BIGINT) AS cnrm FROM c2),
      |""".stripMargin +
    ivfAssignCtes("cent", "f") +
    """assign AS (SELECT vec_id, cid FROM af),
      |""".stripMargin

  /** The q32 probe-list gate as shared CTE text: each query's `nProbe`
    * nearest centroids under the exact-key order (ckey DESC NULLS LAST,
    * cid ASC — [[graft.similarity.Similarity]]'s probeListCol verbatim)
    * and the gated candidate set. Consumes IVF_TRAIN_CTES' `kf` and
    * `assign`; produces `probe` (query_id, cid) and `cand` (query_id,
    * vec_id). One spelling shared by q32 and the gated retrieval-eval
    * family (q238/q239/q240) so the gate can never drift between its
    * consumers. `excludeSelf` drops the query's own row (the labeled
    * kNN contract); q32/q240 keep self on both sides. */
  private def ivfGateCtes(queryPredSql: String, nProbe: Int,
                          excludeSelf: Boolean): String = {
    val selfFilter = if (excludeSelf) "\n  WHERE a.vec_id <> p.query_id" else ""
    s"""probe AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ckey DESC NULLS LAST, cid ASC) AS rn
       |    FROM kf WHERE $queryPredSql)
       |  WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id FROM probe p JOIN assign a ON p.cid = a.cid$selfFilter),
       |""".stripMargin
  }

  /** Char 12-gram rolling-hash postings `ch` (doc_id, pos, h) over
    * documents — grams via 1-based substr (codepoint semantics both
    * engines), the SAME poly hash as the Spark kernel (the q197
    * winnowing mirror discipline: the oracle spells the per-substring
    * derivation, the hash match proves the rolling kernel). Shared by
    * q237 (char dup spans) and q243 (char contamination) so the char
    * grain has ONE spelling. Lazy: built via charPolySql. */
  private lazy val CHAR12_CTES: String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest(range(1, length(text) - 10)) - 1 AS pos,
       |    unnest(list_transform(range(1, length(text) - 10),
       |      i -> substr(text, i, 12))) AS gram
       |  FROM documents),
       |ch AS (SELECT doc_id, pos, ${charPolySql("gram")} AS h FROM g),
       |""".stripMargin

  /** q136's sequential bin plan (per-(event_type, day) "file" rows →
    * cumulative-DIV-500 bins) — shared by the q136 plan readout and the
    * q241 executed-compaction audit so the two oracles can never pack
    * apart. Ends with `b` (event_type, day_epoch, n_rows, bin). */
  private val COMPACT_PLAN_CTES: String =
    """WITH f AS (
      |  SELECT event_type,
      |    FLOOR(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
      |    count(*) AS n_rows
      |  FROM events GROUP BY 1, 2),
      |b AS (
      |  SELECT event_type, day_epoch, n_rows,
      |    CAST((sum(n_rows) OVER (PARTITION BY event_type
      |       ORDER BY day_epoch
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |       - n_rows) // 500 AS BIGINT) AS bin
      |  FROM f)
      |""".stripMargin

  /** The assigned-centroid exact cosine-key attach (`sck`: vec_id, cid,
    * ckey) — the SQL mirror of Similarity.assignedWithKey, shared by
    * the q213/q215 oracles so the assigned-key derivation has ONE
    * spelling per engine. Consumes IVF_TRAIN_CTES' `assign` and `kf`. */
  private val SCK_CTE: String =
    """sck AS (
      |  SELECT a.vec_id, a.cid, k.ckey
      |  FROM assign a JOIN kf k ON a.vec_id = k.vec_id AND a.cid = k.cid),
      |""".stripMargin

  // The q162 bigram-LM fluency staging, shared VERBATIM by q162 and the
  // q231 bucket readout so the two oracles can never drift. Ends with
  // `flu` (doc_id, n_bigrams, fluency). Lazy: references TOKENS_SQL,
  // declared further down (the DUP_CLUSTERS_SQL lesson).
  private lazy val LM_FLUENCY_CTES: String =
    s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    tk[i] || ' ' || tk[i+1] AS bigram, tk[i] AS prefix
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
       |        FROM toks)),
       |bs AS (SELECT bigram, count(*) AS n_ab FROM g GROUP BY bigram),
       |ps AS (SELECT prefix, count(*) AS n_a FROM g GROUP BY prefix),
       |scored AS (
       |  SELECT doc_id, pos,
       |    CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS r
       |  FROM g JOIN bs USING (bigram) JOIN ps USING (prefix)),
       |per_doc AS (
       |  SELECT doc_id, list(r ORDER BY pos) AS l
       |  FROM scored GROUP BY doc_id),
       |flu AS (
       |  SELECT d.doc_id,
       |    COALESCE(CAST(len(l) AS BIGINT), 0) AS n_bigrams,
       |    list_reduce(list_prepend(0.0, l), (a, b) -> a + b)
       |      / CAST(len(l) AS DOUBLE) AS fluency
       |  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id),
       |""".stripMargin

  // The q158 tf-idf staging, shared VERBATIM by the main oracle and the
  // r10 bisection diagnostics (q158a/b/c) so the diagnostic oracles can
  // never drift from the surface they bisect. Ends with `p` (pairs
  // post-minShared, pre-norm-join).
  private val TFIDF3_CTES: String =
    s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
       |tf AS (
       |  SELECT doc_id AS id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($POS_TRIGRAM_SQL) AS term
       |        FROM toks)
       |  GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |nn AS (SELECT count(*) AS n_docs FROM documents),
       |elig AS (
       |  SELECT term, (n_docs * 1000000) // df AS q_idf
       |  FROM dfq, nn
       |  WHERE df >= 2 AND df * 1000 <= 200 * n_docs),
       |w AS (
       |  SELECT id, term, CAST(tf AS HUGEINT) * q_idf AS w
       |  FROM tf JOIN elig USING (term)),
       |nrm AS (SELECT id, count(*) AS n_terms, sum(w * w) AS nrm
       |        FROM w GROUP BY id),
       |p AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared,
       |    sum(a.w * b.w) AS dot
       |  FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= 3),
       |""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_diff_mart" -> (MART_CTE +
      "SELECT * FROM mart ORDER BY trip_id ASC, stop_sequence ASC, start_date ASC"),

    "q02_star_join" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q03_avg_delay_by_hour" -> (MART_CTE +
      s"""SELECT sudbury_hour_of_day,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay_min,
         |  count(*) AS n_rows
         |FROM mart GROUP BY sudbury_hour_of_day""".stripMargin),

    "q04_avg_delay_sliced" -> (MART_CTE +
      s"""SELECT sudbury_hour_of_day,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay_min,
         |  count(*) AS n_rows
         |FROM mart WHERE weather_group = 'Rain' AND route_id = 'r3'
         |GROUP BY sudbury_hour_of_day""".stripMargin),

    "q05_peak_hours" -> (MART_CTE +
      """SELECT sudbury_hour_of_day,
        |  count(DISTINCT trip_id) AS n_trips, count(*) AS n_rows
        |FROM mart GROUP BY sudbury_hour_of_day""".stripMargin),

    "q06_stop_density" -> (MART_CTE +
      """SELECT geo_coordinates, stop_name, count(*) AS n_rows
        |FROM mart GROUP BY geo_coordinates, stop_name""".stripMargin),

    "q07_delay_rollup" -> (MART_CTE +
      s"""SELECT day_type, sudbury_hour_of_day,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay_min,
         |  count(*) AS n_rows
         |FROM mart GROUP BY ROLLUP (day_type, sudbury_hour_of_day)""".stripMargin),

    "q08_upsert" ->
      """WITH old AS (
        |  SELECT user_id, event_type, arg_max(value, event_id) AS value,
        |    min(event_id) AS created_id, max(event_id) AS updated_id
        |  FROM events WHERE event_id % 3 < 2 GROUP BY user_id, event_type),
        |new AS (
        |  SELECT user_id, event_type, arg_max(value, event_id) AS value,
        |    min(event_id) AS created_id, max(event_id) AS updated_id
        |  FROM events WHERE event_id % 3 = 2 GROUP BY user_id, event_type)
        |SELECT
        |  COALESCE(t.user_id, u.user_id) AS user_id,
        |  COALESCE(t.event_type, u.event_type) AS event_type,
        |  CASE WHEN u.user_id IS NOT NULL AND (t.user_id IS NULL
        |         OR t.value IS DISTINCT FROM u.value)
        |       THEN u.value ELSE t.value END AS value,
        |  COALESCE(t.created_id, u.created_id) AS created_id,
        |  CASE WHEN u.user_id IS NOT NULL AND (t.user_id IS NULL
        |         OR t.value IS DISTINCT FROM u.value)
        |       THEN u.updated_id ELSE t.updated_id END AS updated_id
        |FROM old t FULL OUTER JOIN new u
        |  ON t.user_id = u.user_id AND t.event_type = u.event_type""".stripMargin,

    "q09_insert_if_absent" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id % 4 <> 0
        |UNION ALL
        |SELECT e.event_id, e.user_id, e.event_type, e.value
        |FROM events e
        |WHERE e.event_id % 4 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM events t
        |  WHERE t.event_id % 4 <> 0 AND t.user_id = e.user_id
        |    AND t.event_type = e.event_type)""".stripMargin,

    "q10_latest_per_key" ->
      """SELECT user_id, event_type,
        |  max(event_id) AS event_id,
        |  arg_max(value, event_id) AS value,
        |  arg_max(FLOOR(epoch(ts))::BIGINT, event_id) AS ts_epoch
        |FROM events GROUP BY user_id, event_type""".stripMargin,

    "q11_gtfs_time" ->
      """SELECT event_id,
        |  lpad(CAST(event_id % 40 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(user_id % 60 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') AS clock,
        |  CAST(ts AS DATE) AS service_date,
        |  FLOOR(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)))::BIGINT
        |    + (event_id % 40) * 3600 + (user_id % 60) * 60 + (event_id % 60)
        |    AS utc_epoch
        |FROM events""".stripMargin,

    "q27_gtfs_time_tz" ->
      """SELECT event_id,
        |  lpad(CAST(event_id % 40 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(user_id % 60 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') AS clock,
        |  CAST(ts AS DATE) AS service_date,
        |  FLOOR(epoch(timezone('America/Toronto',
        |    CAST(CAST(ts AS DATE) AS TIMESTAMP) + to_seconds(
        |      (event_id % 40) * 3600 + (user_id % 60) * 60 + event_id % 60
        |    ))))::BIGINT AS utc_epoch
        |FROM events""".stripMargin,

    "q12_weather_bucket" ->
      s"""SELECT CASE WHEN (200 + event_id % 700) BETWEEN 200 AND 299 THEN 'Thunderstorm'
         |       WHEN (200 + event_id % 700) BETWEEN 300 AND 399 THEN 'Drizzle'
         |       WHEN (200 + event_id % 700) BETWEEN 500 AND 599 THEN 'Rain'
         |       WHEN (200 + event_id % 700) BETWEEN 600 AND 699 THEN 'Snow'
         |       WHEN (200 + event_id % 700) BETWEEN 700 AND 799 THEN 'Atmosphere'
         |       WHEN (200 + event_id % 700) = 800 THEN 'Clear'
         |       WHEN (200 + event_id % 700) BETWEEN 800 AND 899 THEN 'Clouds'
         |       ELSE 'Unknown' END AS weather_group,
         |  count(*) AS n, ${exactAvgSql("value")} AS avg_value
         |FROM events GROUP BY 1""".stripMargin,

    "q13_json_extract" ->
      s"""SELECT CAST(props->>'$$.k' AS BIGINT) % 10 AS k_mod,
         |  count(*) AS n, ${exactAvgSql("value")} AS avg_value
         |FROM events GROUP BY 1""".stripMargin,

    "q14_window_latest" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "q28_rt_decode" ->
      """WITH e AS (SELECT *, FLOOR(epoch(ts))::BIGINT AS ets FROM events)
        |SELECT 't' || CAST(event_id // 100 AS VARCHAR) AS trip_id,
        |  strftime(ts, '%Y%m%d') AS start_date,
        |  event_id % 100 AS stop_sequence,
        |  CAST(user_id AS VARCHAR) AS stop_id,
        |  CASE WHEN value >= 20 THEN ets ELSE NULL END AS arrival_epoch,
        |  ets + CAST(trunc(value) AS BIGINT) AS departure_epoch
        |FROM e
        |UNION ALL
        |SELECT 't' || CAST(event_id // 100 AS VARCHAR),
        |  strftime(ts, '%Y%m%d'),
        |  event_id % 100 + 1,
        |  CAST(user_id + 1 AS VARCHAR),
        |  ets + 60,
        |  CASE WHEN value > 180 THEN NULL ELSE ets + 120 END
        |FROM e""".stripMargin,

    "q29_historical" ->
      """WITH st AS (
        |  SELECT 't' || CAST(event_id // 100 AS VARCHAR) AS trip_id,
        |    event_id % 100 AS stop_sequence,
        |    user_id AS stop_id,
        |    (event_id % 40) * 3600 + (user_id % 60) * 60 + event_id % 60 AS arr_secs,
        |    (event_id % 40 + 1) * 3600 + (user_id % 60) * 60 + event_id % 60 AS dep_secs
        |  FROM events),
        |tr AS (
        |  SELECT DISTINCT 't' || CAST(event_id // 100 AS VARCHAR) AS trip_id,
        |    (event_id // 100) % 7 AS service_id,
        |    'r' || CAST((event_id // 100) % 10 AS VARCHAR) AS route_id
        |  FROM events),
        |cd AS (
        |  SELECT i AS service_id, CAST(20240601 + i AS VARCHAR) AS d FROM range(7) t(i)
        |  UNION ALL
        |  SELECT i, CAST(20240611 + i AS VARCHAR) FROM range(7) t(i)),
        |sp AS (
        |  SELECT DISTINCT user_id AS stop_id,
        |    'stop_' || CAST(user_id AS VARCHAR) AS stop_name,
        |    user_id % 90 AS lat, user_id % 180 AS lon
        |  FROM events),
        |rt AS (
        |  SELECT DISTINCT 'r' || CAST((event_id // 100) % 10 AS VARCHAR) AS route_id,
        |    'Route ' || CAST((event_id // 100) % 10 AS VARCHAR) AS route_long_name
        |  FROM events)
        |SELECT st.trip_id,
        |  strptime(cd.d, '%Y%m%d')::DATE AS start_date,
        |  st.stop_sequence, st.stop_id, tr.route_id, sp.stop_name,
        |  rt.route_long_name,
        |  FLOOR(epoch(timezone('America/Toronto',
        |    strptime(cd.d, '%Y%m%d') + to_seconds(st.arr_secs))))::BIGINT AS arrival_epoch,
        |  FLOOR(epoch(timezone('America/Toronto',
        |    strptime(cd.d, '%Y%m%d') + to_seconds(st.dep_secs))))::BIGINT AS departure_epoch,
        |  CAST(sp.lat AS VARCHAR) || ', ' || CAST(sp.lon AS VARCHAR) AS geo_coordinates
        |FROM st
        |JOIN tr ON st.trip_id = tr.trip_id
        |JOIN cd ON tr.service_id = cd.service_id
        |JOIN sp ON st.stop_id = sp.stop_id
        |JOIN rt ON tr.route_id = rt.route_id""".stripMargin,

    "q30_weather_attach" ->
      """SELECT event_id,
        |  200 + event_id % 700 AS weather_id,
        |  CASE WHEN (200 + event_id % 700) BETWEEN 200 AND 299 THEN 'Thunderstorm'
        |       WHEN (200 + event_id % 700) BETWEEN 300 AND 399 THEN 'Drizzle'
        |       WHEN (200 + event_id % 700) BETWEEN 500 AND 599 THEN 'Rain'
        |       WHEN (200 + event_id % 700) BETWEEN 600 AND 699 THEN 'Snow'
        |       WHEN (200 + event_id % 700) BETWEEN 700 AND 799 THEN 'Atmosphere'
        |       WHEN (200 + event_id % 700) = 800 THEN 'Clear'
        |       WHEN (200 + event_id % 700) BETWEEN 800 AND 899 THEN 'Clouds'
        |       ELSE 'Unknown' END AS weather_group,
        |  'wx_' || CAST(event_id % 5 AS VARCHAR) AS weather_description,
        |  CAST(user_id AS DOUBLE) - 273.15 AS temperature
        |FROM events""".stripMargin,

    "q31_csv_roundtrip" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${exactAvgSql("value")} AS avg_value,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM events GROUP BY event_type""".stripMargin,

    // the ORC write/read is lossless, so the roundtrip answers q31's SQL
    "q109_delay_ntile" -> (MART_CTE +
      """SELECT trip_id, stop_sequence,
        |  average_diff_in_minutes AS delay_min,
        |  CAST(ntile(4) OVER (PARTITION BY trip_id
        |    ORDER BY average_diff_in_minutes ASC, stop_sequence ASC)
        |    AS BIGINT) AS quartile
        |FROM mart WHERE average_diff_in_minutes IS NOT NULL""".stripMargin),

    "q110_fuzzy_names" -> FUZZY_PAIRS_ORACLE,

    // q115 computes the identical pairs through the built-in levenshtein
    // spelling + the optimizer rewrite — same oracle, verbatim.
    "q115_fuzzy_rewrite" -> FUZZY_PAIRS_ORACLE,

    "q99_delay_position" -> (MART_CTE +
      """SELECT trip_id, stop_sequence,
        |  average_diff_in_minutes AS delay_min,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM mart WHERE average_diff_in_minutes IS NOT NULL
        |WINDOW w AS (PARTITION BY trip_id
        |  ORDER BY average_diff_in_minutes ASC, stop_sequence ASC)""".stripMargin),

    "q98_unpivot" -> (MART_CTE +
      s""", base AS (
         |  SELECT day_type, weather_group,
         |    ${exactAvgSql("average_diff_in_minutes")} AS avg_delay
         |  FROM mart
         |  WHERE weather_group IN ('Clear', 'Clouds', 'Rain', 'Snow')
         |  GROUP BY day_type, weather_group)
         |SELECT day_type, weather_group, avg_delay FROM base
         |WHERE avg_delay IS NOT NULL""".stripMargin),

    "q108_proportional_sample" ->
      s"""WITH counts AS (
         |  SELECT source, count(*) AS n_g FROM documents GROUP BY source),
         |tq AS (
         |  SELECT source, n_g,
         |    (n_g * 77) // sum(n_g) OVER () AS base,
         |    (n_g * 77) % sum(n_g) OVER () AS rem
         |  FROM counts),
         |q AS (
         |  SELECT source, base +
         |    CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
         |      <= 77 - sum(base) OVER () THEN 1 ELSE 0 END AS quota
         |  FROM tq),
         |r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${charPolySql("text")} ASC, doc_id ASC) AS pick_rank
         |  FROM documents)
         |SELECT r.doc_id, r.source, r.pick_rank
         |FROM r JOIN q USING (source) WHERE r.pick_rank <= q.quota""".stripMargin,

    // The oracle is the NAIVE all-pairs filter — the grid path hashes
    // equal only if its candidate neighborhood misses nothing, which is
    // the completeness claim under test.
    "q107_spatial_pairs" ->
      s"""WITH ids AS (SELECT DISTINCT user_id AS id FROM events),
         |pts AS (
         |  SELECT id,
         |    ${charPolySql("('lat_' || CAST(id AS VARCHAR))")} % 100 AS lat,
         |    ${charPolySql("('lon_' || CAST(id AS VARCHAR))")} % 100 AS lon
         |  FROM ids),
         |p AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    (a.lat - b.lat)*(a.lat - b.lat)
         |      + (a.lon - b.lon)*(a.lon - b.lon) AS dist2
         |  FROM pts a JOIN pts b ON a.id < b.id)
         |SELECT id_a, id_b, dist2 FROM p WHERE dist2 <= 100""".stripMargin,

    "q111_table_checksum" ->
      s"""WITH rs AS (
         |  SELECT $EVENTS_ROW_SQL AS r FROM events),
         |h AS (SELECT ${charPolySql("r")} AS h FROM rs)
         |SELECT 'events' AS table_name, count(*) AS n_rows,
         |  CAST(sum(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS checksum
         |FROM h""".stripMargin,

    "q118_partition_checksums" ->
      s"""WITH rs AS (
         |  SELECT event_type, $EVENTS_ROW_SQL AS r FROM events),
         |h AS (SELECT event_type, ${charPolySql("r")} AS h FROM rs)
         |SELECT event_type, count(*) AS n_rows,
         |  CAST(sum(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS checksum
         |FROM h GROUP BY event_type""".stripMargin,

    // The oracle is the FULL logical merge over every day — the
    // partition-scoped physical path hashes equal only if pruning the
    // snapshot read to touched partitions loses nothing.
    "q112_partitioned_merge" ->
      """WITH old AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id, event_type,
        |    arg_max(value, event_id) AS value,
        |    min(event_id) AS created_id, max(event_id) AS updated_id
        |  FROM events WHERE event_id % 2 = 0
        |  GROUP BY 1, 2, 3),
        |new AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id, event_type,
        |    arg_max(value, event_id) AS value,
        |    min(event_id) AS created_id, max(event_id) AS updated_id
        |  FROM events
        |  WHERE event_id % 2 <> 0
        |    AND (((CAST(ts AS DATE) - DATE '2024-01-01') % 3) + 3) % 3 = 0
        |  GROUP BY 1, 2, 3)
        |SELECT
        |  COALESCE(t.day, u.day) AS day,
        |  COALESCE(t.user_id, u.user_id) AS user_id,
        |  COALESCE(t.event_type, u.event_type) AS event_type,
        |  CASE WHEN u.user_id IS NOT NULL AND (t.user_id IS NULL
        |         OR t.value IS DISTINCT FROM u.value)
        |       THEN u.value ELSE t.value END AS value,
        |  COALESCE(t.created_id, u.created_id) AS created_id,
        |  CASE WHEN u.user_id IS NOT NULL AND (t.user_id IS NULL
        |         OR t.value IS DISTINCT FROM u.value)
        |       THEN u.updated_id ELSE t.updated_id END AS updated_id
        |FROM old t FULL OUTER JOIN new u
        |  ON t.day = u.day AND t.user_id = u.user_id
        |  AND t.event_type = u.event_type""".stripMargin,

    "q136_compaction_plan" -> (COMPACT_PLAN_CTES +
      """SELECT event_type, day_epoch, n_rows, bin,
        |  CAST(sum(n_rows) OVER (PARTITION BY event_type, bin) AS BIGINT)
        |    AS n_bin_rows
        |FROM b""".stripMargin),

    // The executed compaction must deliver exactly the PLAN: per
    // (event_type, bin) the planned row total, ONE physical file, and
    // the planned contiguous day range. The oracle never sees the
    // files — n_files is the literal 1 the executor contracts — so a
    // split bin, a lost row, or a day landing in the wrong bin all
    // hash-mismatch.
    "q241_compaction_exec" -> (COMPACT_PLAN_CTES +
      """SELECT event_type, bin, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_files,
        |  min(day_epoch) AS min_day_epoch,
        |  max(day_epoch) AS max_day_epoch
        |FROM b GROUP BY event_type, bin""".stripMargin),

    // Pruned-read audit: every number recomputed from PLAN arithmetic
    // alone (daily-rollup rows pack 1-per-day, so bin = (rank-1)//6 —
    // the q136 cumulative spelling at n_rows=1), overlap = bins whose
    // [lo,hi] meets the fixed 7-day window; the hash match proves the
    // executed sidecar skip list equals the planned overlap set and one
    // file per bin survived.
    "q248_compaction_pruned_read" ->
      """WITH sm AS (
        |  SELECT event_type,
        |    FLOOR(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, day_epoch, n_events,
        |    CAST((row_number() OVER (PARTITION BY event_type
        |      ORDER BY day_epoch) - 1) // 6 AS BIGINT) AS bin
        |  FROM sm),
        |bins AS (
        |  SELECT event_type, bin, min(day_epoch) AS lo,
        |    max(day_epoch) AS hi
        |  FROM b GROUP BY event_type, bin),
        |rng AS (
        |  SELECT min(day_epoch) + 12 * 86400 AS rlo,
        |    min(day_epoch) + 18 * 86400 AS rhi
        |  FROM sm)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM bins) AS n_files_total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM bins, rng
        |   WHERE lo <= rhi AND hi >= rlo) AS n_files_selected,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b, rng
        |   WHERE day_epoch BETWEEN rlo AND rhi) AS n_rows_range,
        |  (SELECT CAST(COALESCE(sum(n_events), 0) AS BIGINT) FROM b, rng
        |   WHERE day_epoch BETWEEN rlo AND rhi) AS n_events_range""".stripMargin,

    // Mirrors q249: the streaming transformWithState EWMA replay emits
    // one row per absorbed observation with the running y ← (x + y)/2;
    // the recursive CTE recomputes the identical recursion over the full
    // (trip, ts)-ordered deduped history — same double arithmetic, same
    // rounding order, so batch recursion ≡ streaming-final bit-exactly.
    "q249_tws_ewma_replay" ->
      """WITH RECURSIVE obs AS (
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
        |SELECT trip_id, ts, ewma FROM r""".stripMargin,

    // Mirrors q250: the streaming interval join's emitted set over the
    // ordered replay equals the batch interval join (microsecond
    // timestamp arithmetic on both sides; epochs only in output).
    "q250_stream_join_replay" ->
      """SELECT l.event_id AS l_event_id, l.user_id AS user_id,
        |  r.event_id AS r_event_id,
        |  FLOOR(epoch(l.ts))::BIGINT AS l_ts_epoch,
        |  FLOOR(epoch(r.ts))::BIGINT AS r_ts_epoch
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'click' AND r.event_type = 'purchase'
        | AND r.ts >= l.ts - INTERVAL 3600 SECOND
        | AND r.ts <= l.ts + INTERVAL 3600 SECOND""".stripMargin,

    // Mirrors q251: the duplicates are injected Spark-side only, and the
    // within-watermark dedup must drop exactly them — so the oracle is
    // the original events verbatim.
    "q251_stream_dedup_replay" ->
      """SELECT event_id, user_id, event_type,
        |  FLOOR(epoch(ts))::BIGINT AS ts_epoch, value
        |FROM events""".stripMargin,

    // Mirrors q252: UTC-aligned 6 h tumbling windows via integer epoch
    // division (Spark's window() boundaries are the same multiples of
    // 21600 s; flooring to seconds first cannot move a row across a
    // boundary), exact-decimal average. The June-1 window cutoff the
    // Spark side applies after read-back (to exclude whichever sentinel
    // windows a Spark version finalizes) is mirrored HERE too, so parity
    // holds whatever time span the dataset covers — not just because the
    // generated events happen to end before June (r13 ADVICE).
    "q252_stream_window_agg_replay" ->
      s"""WITH e AS (
         |  SELECT FLOOR(epoch(ts))::BIGINT AS tse, value
         |  FROM events WHERE value IS NOT NULL)
         |SELECT (tse // 21600) * 21600 AS window_start_epoch,
         |  ${exactAvgSql("value")} AS avg_value,
         |  count(*) AS n_rows
         |FROM e
         |WHERE (tse // 21600) * 21600 < 1717200000
         |GROUP BY 1""".stripMargin,

    // Mirrors q253: the anti join against the static every-third-id
    // snapshot is the complement filter.
    "q253_stream_static_anti_join" ->
      """SELECT event_id, user_id, event_type,
        |  FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |FROM events WHERE event_id % 3 <> 0""".stripMargin,

    // Mirrors q254: streak = late rows since the last reset (count over
    // the reset-group), emitted where the streak changed — late rows
    // always change it; a non-late row changes it iff the previous
    // observation (per key, default false before the first) was late.
    "q254_fmgws_streak_replay" ->
      """WITH obs AS (
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
        |FROM st WHERE late OR prev_late""".stripMargin,

    // Mirrors q255: q44's boundary spelling (diff > gap starts a new
    // session; equal-epoch ties land in the same session whatever the
    // lag order) rolled up to one row per session. The sentinels exist
    // only Spark-side under their own key.
    "q255_session_stream_replay" ->
      """WITH e AS (
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
        |FROM g GROUP BY key, sid""".stripMargin,

    // Mirrors q256: three cumulative snapshots at the fixed batch cuts;
    // stage = the view <= click <= purchase chain over cumulative
    // first-occurrence minimums (a missing or out-of-order stage breaks
    // it); n_seen counts ALL events (stage-typed or not); emit on the
    // user's active batches where the stage differs from the previous
    // active batch's (first active batch compares against -1).
    "q256_funnel_stream_replay" ->
      """WITH ev AS (
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
        |FROM sel WHERE stage <> prev_stage""".stripMargin,

    // Mirrors q266: q256's emission set reduced to the latest-per-user
    // snapshot the merge sink holds — each user's emitted row with the
    // greatest batch index (equivalently greatest n_seen, which strictly
    // increases across a user's emissions). Every user emits at least
    // once (the first active batch compares stage >= 0 against -1), so
    // the snapshot covers every user with events.
    "q266_funnel_merge_restart" ->
      """WITH ev AS (
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
        |  = 1""".stripMargin,

    // Mirrors q257: the batch LEFT JOIN with the identical interval
    // condition. The sentinels exist only Spark-side under negative ids,
    // and the Spark side's user_id >= 0 sentinel exclusion is mirrored
    // HERE too (a no-op on real events, which carry non-negative ids),
    // so parity is spelled on both sides instead of depending on the
    // generator never emitting a negative user id (r13 ADVICE).
    "q257_stream_outer_join_replay" ->
      """SELECT l.event_id AS l_event_id, l.user_id AS user_id,
        |  r.event_id AS r_event_id,
        |  FLOOR(epoch(l.ts))::BIGINT AS l_ts_epoch,
        |  FLOOR(epoch(r.ts))::BIGINT AS r_ts_epoch
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts - INTERVAL 3600 SECOND
        | AND r.ts <= l.ts + INTERVAL 3600 SECOND
        |WHERE l.user_id >= 0""".stripMargin,

    // Mirrors q258: a checkpoint restart must not change ANY emitted
    // value, so the oracle is deliberately q249's verbatim — the same
    // full-history recursion the single-run replay matches.
    "q258_tws_restart_replay" ->
      """WITH RECURSIVE obs AS (
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
        |SELECT trip_id, ts, ewma FROM r""".stripMargin,

    // Mirrors q259: the injected duplicates are dropped by the upstream
    // dedup (they exist Spark-side only), so the chained query's windows
    // equal q252's single-operator windows — same 6 h epoch-division
    // spelling, same mirrored June cutoff (the sentinels' windows fall
    // past it on both sides by construction).
    "q259_chained_stateful_replay" ->
      s"""WITH e AS (
         |  SELECT FLOOR(epoch(ts))::BIGINT AS tse, value
         |  FROM events WHERE value IS NOT NULL)
         |SELECT (tse // 21600) * 21600 AS window_start_epoch,
         |  ${exactAvgSql("value")} AS avg_value,
         |  count(*) AS n_rows
         |FROM e
         |WHERE (tse // 21600) * 21600 < 1717200000
         |GROUP BY 1""".stripMargin,

    // Mirrors q260: native session_window merges an event exactly `gap`
    // after a session's last event (touch-or-overlap, verified
    // empirically and spec-pinned), which is precisely q44/q255's
    // `diff > gap starts a new session` spelling — so the native
    // one-liner shares the custom sessionizer's oracle verbatim.
    "q260_session_window_native" ->
      """WITH e AS (
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
        |FROM g GROUP BY key, sid""".stripMargin,

    // Mirrors q261: restart must not change the emitted join set, so
    // the oracle is q250's batch interval join verbatim.
    "q261_stream_join_restart" ->
      """SELECT l.event_id AS l_event_id, l.user_id AS user_id,
        |  r.event_id AS r_event_id,
        |  FLOOR(epoch(l.ts))::BIGINT AS l_ts_epoch,
        |  FLOOR(epoch(r.ts))::BIGINT AS r_ts_epoch
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'click' AND r.event_type = 'purchase'
        | AND r.ts >= l.ts - INTERVAL 3600 SECOND
        | AND r.ts <= l.ts + INTERVAL 3600 SECOND""".stripMargin,

    // Mirrors q262: the batch interval join rolled up to 6 h windows of
    // the click's event time — q250's join set under q252's window
    // spelling, June cutoff mirrored like q252/q259.
    "q262_join_agg_chain_replay" ->
      """WITH j AS (
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
        |GROUP BY 1""".stripMargin,

    // Mirrors q263: the StatefulProcessor sessionizer implements q255's
    // exact algorithm, so it shares the q44-spelling session oracle.
    "q263_tws_sessions_replay" ->
      """WITH e AS (
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
        |FROM g GROUP BY key, sid""".stripMargin,

    // Mirrors q264: a checkpoint restart must not change a single
    // emitted session, so the restarted run shares the q255/q260/q263
    // session oracle verbatim.
    "q264_tws_sessions_restart" ->
      """WITH e AS (
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
        |FROM g GROUP BY key, sid""".stripMargin,

    // Mirrors q265: each replay batch emits, for every user with input
    // in that batch, the user's CUMULATIVE per-dimension profile as of
    // the batch's end — the cuts-join recomputes exactly those
    // snapshots (batch index via the same four cut timestamps; a user's
    // snapshot row for batch b aggregates every event in batches <= b).
    // last_tse = the user's max floored event time within batch b, the
    // same discriminator the machine stamps.
    "q265_mapstate_dims_replay" ->
      """WITH b AS (
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
        |GROUP BY k.user_id, k.last_tse, e.event_type""".stripMargin,

    // q269 = q265's machine killed after batch 2 and resumed from the
    // checkpoint: restored MapState + TTL clocks make the final sink
    // bit-identical to the uninterrupted run, so the oracle is q265's
    // verbatim.
    "q269_mapstate_ttl_restart" ->
      """WITH b AS (
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
        |GROUP BY k.user_id, k.last_tse, e.event_type""".stripMargin,

    "q105_profile" ->
      """WITH s AS (
        |  SELECT count(*) AS total,
        |    count(event_id) AS n_e, count(DISTINCT event_id) AS d_e,
        |    CAST(min(event_id) AS VARCHAR) AS mn_e,
        |    CAST(max(event_id) AS VARCHAR) AS mx_e,
        |    count(user_id) AS n_u, count(DISTINCT user_id) AS d_u,
        |    CAST(min(user_id) AS VARCHAR) AS mn_u,
        |    CAST(max(user_id) AS VARCHAR) AS mx_u,
        |    count(event_type) AS n_t, count(DISTINCT event_type) AS d_t,
        |    CAST(min(event_type) AS VARCHAR) AS mn_t,
        |    CAST(max(event_type) AS VARCHAR) AS mx_t,
        |    count(value) AS n_v, count(DISTINCT value) AS d_v,
        |    CAST(CAST(floor(min(value) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) AS mn_v,
        |    CAST(CAST(floor(max(value) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) AS mx_v
        |  FROM events)
        |SELECT 'event_id' AS col_name, total - n_e AS n_null,
        |  d_e AS n_distinct, mn_e AS min_str, mx_e AS max_str FROM s
        |UNION ALL
        |SELECT 'user_id', total - n_u, d_u, mn_u, mx_u FROM s
        |UNION ALL
        |SELECT 'event_type', total - n_t, d_t, mn_t, mx_t FROM s
        |UNION ALL
        |SELECT 'value', total - n_v, d_v, mn_v, mx_v FROM s""".stripMargin,

    "q106_share_of_day" -> (MART_CTE +
      """, ta AS (
        |  SELECT start_date, trip_id,
        |    sum(CAST(abs(average_diff_in_minutes) AS DECIMAL(20,6))) AS trip_abs
        |  FROM mart WHERE average_diff_in_minutes IS NOT NULL
        |  GROUP BY start_date, trip_id),
        |dt AS (
        |  SELECT start_date, sum(trip_abs) AS day_total FROM ta
        |  GROUP BY start_date)
        |SELECT t.start_date, t.trip_id,
        |  CAST(t.trip_abs AS DOUBLE) AS trip_abs_delay,
        |  CAST(t.trip_abs AS DOUBLE) / CAST(d.day_total AS DOUBLE) AS share
        |FROM ta t JOIN dt d USING (start_date)""".stripMargin),

    "q104_merge_aggregates" -> (MART_CTE +
      s"""SELECT day_type, count(average_diff_in_minutes) AS n_rows,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay
         |FROM mart WHERE average_diff_in_minutes IS NOT NULL
         |GROUP BY day_type""".stripMargin),

    "q103_partition_overwrite" ->
      """WITH m AS (
        |  SELECT * FROM events
        |  WHERE NOT (event_type = 'click' AND user_id = 5))
        |SELECT event_type, count(*) AS n,
        |  count(CASE WHEN user_id = 5 THEN 1 END) AS n_user5,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM m GROUP BY event_type""".stripMargin,

    // The oracle recomputes payloads from parquet, never parsing CSV —
    // the hash match proves Spark's quote/escape/multiline round-trip
    // is the identity.
    "q121_csv_quoting" ->
      s"""WITH p AS (
         |  SELECT text || ',"' || chr(10) || lang AS payload
         |  FROM documents)
         |SELECT count(*) AS n_rows,
         |  CAST(sum(CAST(${charPolySql("payload")} AS DECIMAL(38,0)))
         |    AS VARCHAR) AS payload_checksum
         |FROM p""".stripMargin,

    // Mirrors Scd2.buildHistory: lag-detected changes (rn=1 OR
    // IS DISTINCT FROM ≡ Spark's first || !(lag <=> attr)), then
    // lead-closed intervals + version over the surviving rows.
    "q122_scd2_history" ->
      """WITH ordered AS (
        |  SELECT user_id, event_type,
        |    FLOOR(epoch(ts))::BIGINT AS ts_epoch, event_id,
        |    lag(event_type) OVER w AS prev_attr,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY FLOOR(epoch(ts))::BIGINT ASC, event_id ASC)),
        |changes AS (
        |  SELECT * FROM ordered
        |  WHERE rn = 1 OR prev_attr IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, ts_epoch AS valid_from,
        |  lead(ts_epoch) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version
        |FROM changes
        |WINDOW w2 AS (PARTITION BY user_id
        |              ORDER BY ts_epoch ASC, event_id ASC)""".stripMargin,

    // Anti-join spelled as NOT IN over the thinned parent key set; the
    // intact part/supplier relationships prove the audit's zero path.
    "q128_fk_audit" ->
      """WITH ok AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0),
        |ck AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0),
        |a1 AS (
        |  SELECT 'lineitem->orders' AS relationship,
        |    (SELECT count(*) FROM lineitem) AS n_children,
        |    count(*) AS n_orphans, min(l_orderkey) AS min_orphan_key,
        |    max(l_orderkey) AS max_orphan_key
        |  FROM lineitem WHERE l_orderkey NOT IN (SELECT * FROM ok)),
        |a2 AS (
        |  SELECT 'lineitem->part',
        |    (SELECT count(*) FROM lineitem),
        |    count(*), min(l_partkey), max(l_partkey)
        |  FROM lineitem
        |  WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
        |a3 AS (
        |  SELECT 'lineitem->supplier',
        |    (SELECT count(*) FROM lineitem),
        |    count(*), min(l_suppkey), max(l_suppkey)
        |  FROM lineitem
        |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
        |a4 AS (
        |  SELECT 'orders->customer',
        |    (SELECT count(*) FROM orders),
        |    count(*), min(o_custkey), max(o_custkey)
        |  FROM orders WHERE o_custkey NOT IN (SELECT * FROM ck))
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4""".stripMargin,

    // Mirrors Histogram.equalWidth: BIGINT floors for bin ids, micro-unit
    // integer rendering for the edges, CASE instead of dividing by a
    // zero-width range.
    "q142_histogram" ->
      """WITH xs AS (
        |  SELECT l_extendedprice::DOUBLE AS x FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |mm AS (SELECT min(x) AS lo, max(x) AS hi FROM xs),
        |b AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |              ELSE LEAST(15, CAST(floor((x - lo) * 16.0 / (hi - lo))
        |                                  AS BIGINT)) END AS bin,
        |    lo, hi
        |  FROM xs, mm),
        |g AS (SELECT bin, lo, hi, count(*) AS n FROM b GROUP BY bin, lo, hi)
        |SELECT bin,
        |  CAST(floor((lo + CAST(bin AS DOUBLE) * (hi - lo) / 16.0)
        |    * 1000000.0 + 0.5) AS BIGINT) AS bin_lo_micro,
        |  CAST(floor((lo + CAST(bin + 1 AS DOUBLE) * (hi - lo) / 16.0)
        |    * 1000000.0 + 0.5) AS BIGINT) AS bin_hi_micro,
        |  n
        |FROM g""".stripMargin,

    // Mirrors chi2Terms: exact integer contingency cells, two mirrored
    // double divides; the `diff > 0` keyword filter also proves no
    // denominator is zero (c+d = 0 or b+d = 0 forces diff = 0).
    "q144_chi2_terms" ->
      s"""WITH toks AS (SELECT doc_id, lang, $TOKENS_SQL AS tk FROM documents),
         |pres AS (
         |  SELECT DISTINCT lang AS class, doc_id AS id, unnest(tk) AS term
         |  FROM toks),
         |aa AS (SELECT class, term, count(*) AS a FROM pres
         |       GROUP BY class, term),
         |nt AS (SELECT term, CAST(sum(a) AS BIGINT) AS n_t FROM aa
         |       GROUP BY term),
         |nc AS (SELECT lang AS class, count(*) AS n_c FROM documents
         |       GROUP BY lang),
         |nn AS (SELECT count(*) AS n_docs FROM documents),
         |cells AS (
         |  SELECT class, term, a, n_t - a AS b, n_c - a AS c,
         |    n_docs - n_t - n_c + a AS d, n_docs
         |  FROM aa JOIN nt USING (term) JOIN nc USING (class) CROSS JOIN nn),
         |sc AS (
         |  SELECT class, term, a AS n_class_term,
         |    CAST(n_docs AS DOUBLE)
         |      * (CAST(a*d - b*c AS DOUBLE) / CAST((a+b)*(c+d) AS DOUBLE))
         |      * (CAST(a*d - b*c AS DOUBLE) / CAST((a+c)*(b+d) AS DOUBLE))
         |      AS chi2
         |  FROM cells WHERE a*d - b*c > 0),
         |r AS (
         |  SELECT class, term, n_class_term, chi2,
         |    row_number() OVER (PARTITION BY class
         |                       ORDER BY chi2 DESC, term ASC) AS rank
         |  FROM sc)
         |SELECT class, term, n_class_term, chi2, rank FROM r
         |WHERE rank <= 5""".stripMargin,

    // Mirrors q145: stacked exact medians (integer seconds → dyadic
    // interpolation, exact in any spelling — the q50 precedent).
    "q145_mad_outliers" -> (MART_CTE +
      """, d AS (
        |  SELECT day_type,
        |    actual_arrival_epoch - scheduled_arrival_epoch AS delay
        |  FROM mart
        |  WHERE actual_arrival_epoch - scheduled_arrival_epoch IS NOT NULL),
        |md AS (SELECT day_type, quantile_cont(delay, 0.5) AS med FROM d
        |       GROUP BY day_type),
        |dev AS (
        |  SELECT d.day_type, med, abs(d.delay::DOUBLE - med) AS absdev
        |  FROM d JOIN md USING (day_type)),
        |mq AS (SELECT day_type, quantile_cont(absdev, 0.5) AS mad FROM dev
        |       GROUP BY day_type)
        |SELECT dev.day_type, med, mad, count(*) AS n,
        |  CAST(sum(CASE WHEN absdev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev JOIN mq USING (day_type)
        |GROUP BY dev.day_type, med, mad""".stripMargin),

    // Mirrors q146: q44's session SQL keyed by (user_id, event_type)
    // with a 60 s gap, collapsed per session.
    "q146_debounce" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |  FROM events),
        |lg AS (
        |  SELECT user_id, event_type, event_id, ts_epoch,
        |    lag(ts_epoch) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts_epoch ASC, event_id ASC) AS prev_ts
        |  FROM e),
        |ss AS (
        |  SELECT user_id, event_type, ts_epoch,
        |    CAST(sum(CASE WHEN prev_ts IS NULL OR ts_epoch - prev_ts > 60
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id, event_type
        |            ORDER BY ts_epoch ASC, event_id ASC
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM lg)
        |SELECT user_id, event_type, session_seq,
        |  min(ts_epoch) AS first_ts, max(ts_epoch) AS last_ts,
        |  count(*) AS n_events, count(*) - 1 AS n_suppressed
        |FROM ss GROUP BY user_id, event_type, session_seq""".stripMargin,

    // Mirrors q147: quartile fences and a DECIMAL(18,2)-exact clipped sum.
    "q147_winsorize" -> (MART_CTE +
      """, d AS (
        |  SELECT day_type,
        |    actual_arrival_epoch - scheduled_arrival_epoch AS delay
        |  FROM mart
        |  WHERE actual_arrival_epoch - scheduled_arrival_epoch IS NOT NULL),
        |qq AS (
        |  SELECT day_type, quantile_cont(delay, 0.25) AS p25,
        |    quantile_cont(delay, 0.75) AS p75
        |  FROM d GROUP BY day_type),
        |f AS (
        |  SELECT day_type, p25 - 1.5 * (p75 - p25) AS lo,
        |    p75 + 1.5 * (p75 - p25) AS hi
        |  FROM qq)
        |SELECT d.day_type, lo, hi, count(*) AS n,
        |  CAST(sum(CASE WHEN d.delay::DOUBLE < lo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_below,
        |  CAST(sum(CASE WHEN d.delay::DOUBLE > hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_above,
        |  CAST(sum(CAST(GREATEST(lo, LEAST(hi, d.delay::DOUBLE))
        |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsorized
        |FROM d JOIN f USING (day_type)
        |GROUP BY d.day_type, lo, hi""".stripMargin),

    // Mirrors q155: the independent row_number spelling of the custom
    // exec's top-k contract.
    "q155_group_topk_exec" ->
      """WITH r AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY lang, source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, source, n_chars FROM r WHERE rn <= 3""".stripMargin,

    // Mirrors q154: SQL-standard set-op semantics are the shared
    // contract — Spark's intersect/except(All) vs the operators
    // themselves.
    "q154_set_ops" ->
      """WITH a AS (SELECT user_id FROM events WHERE user_id % 3 = 0),
        |b AS (SELECT user_id FROM events WHERE user_id % 2 = 0)
        |SELECT 'intersect' AS op, count(*) AS n
        |  FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT 'intersect_all', count(*)
        |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |UNION ALL
        |SELECT 'except', count(*)
        |  FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT 'except_all', count(*)
        |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)""".stripMargin,

    // Mirrors q153: micro-unit frame sums, one mirrored divide
    // (NULLIF ≡ try_divide on the all-NULL frame edge).
    "q153_moving_avg" ->
      """WITH e AS (
        |  SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
        |    value
        |  FROM events)
        |SELECT user_id, event_id, ts_epoch,
        |  CAST(sum(v_micro) OVER w AS BIGINT) AS sum3_micro,
        |  CAST(count(value) OVER w AS BIGINT) AS n3,
        |  (CAST(sum(v_micro) OVER w AS BIGINT)::DOUBLE
        |    / NULLIF(CAST(count(value) OVER w AS BIGINT), 0))
        |    / 1000000.0 AS ma
        |FROM e
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY ts_epoch ASC, event_id ASC
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,

    // Mirrors q152: integer band counts, pooled-marginal expectations
    // and χ² contributions with op-for-op mirrored divides.
    "q152_chi2_drift" ->
      """WITH e AS (
        |  SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS vband
        |  FROM events
        |  WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
        |cells AS (
        |  SELECT vband,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS o_a,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS o_b
        |  FROM e GROUP BY vband),
        |t AS (
        |  SELECT CAST(sum(o_a) AS BIGINT) AS n_a,
        |    CAST(sum(o_b) AS BIGINT) AS n_b
        |  FROM cells),
        |sel AS (
        |  SELECT vband, o_a, o_b,
        |    (o_a + o_b)::DOUBLE * (n_a::DOUBLE / (n_a + n_b)::DOUBLE) AS e_a,
        |    (o_a + o_b)::DOUBLE * (n_b::DOUBLE / (n_a + n_b)::DOUBLE) AS e_b
        |  FROM cells, t)
        |SELECT vband, o_a, o_b, e_a, e_b,
        |  (o_a::DOUBLE - e_a) * (o_a::DOUBLE - e_a) / e_a
        |    + (o_b::DOUBLE - e_b) * (o_b::DOUBLE - e_b) / e_b AS chi2
        |FROM sel""".stripMargin,

    // Mirrors q150: explicit GROUPING SETS with the grouping-id
    // disambiguator; micro-unit integer sums (q105 discipline).
    "q150_grouping_sets" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(FLOOR(epoch(ts))::BIGINT / 3600.0) AS BIGINT) % 24
        |      AS hr,
        |    value
        |  FROM events)
        |SELECT event_type, hr, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_value_micro,
        |  CAST(GROUPING(event_type)*2 + GROUPING(hr) AS BIGINT) AS gid
        |FROM e
        |GROUP BY GROUPING SETS ((event_type, hr), (event_type), (hr))""".stripMargin,

    // Mirrors q148: identical quasi-identifier cell derivation (BIGINT
    // floors), then the 1-row audit over the cell histogram.
    "q148_k_anonymity" ->
      """WITH cells AS (
        |  SELECT event_type,
        |    CAST(floor(FLOOR(epoch(ts))::BIGINT / 3600.0) AS BIGINT) % 24
        |      AS hr,
        |    CAST(floor(value / 10.0) AS BIGINT) AS vband,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT count(*) AS n_cells, min(n) AS min_cell,
        |  CAST(sum(CASE WHEN n < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_lt2,
        |  CAST(sum(CASE WHEN n < 2 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_lt2,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_lt5,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_lt5,
        |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_lt10,
        |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_lt10
        |FROM cells""".stripMargin,

    // Mirrors the q143 one-pass distinct-pair audit; the audited columns
    // are non-null, so multi-column DISTINCT NULL rules never engage.
    "q143_fd_audit" ->
      """WITH a1 AS (
        |  SELECT 'orders: o_orderkey -> o_orderstatus' AS dependency,
        |    count(DISTINCT o_orderkey) AS n_det,
        |    count(DISTINCT (o_orderkey, o_orderstatus)) AS n_pairs
        |  FROM orders),
        |a2 AS (
        |  SELECT 'orders: o_custkey -> o_orderpriority',
        |    count(DISTINCT o_custkey),
        |    count(DISTINCT (o_custkey, o_orderpriority))
        |  FROM orders),
        |a3 AS (
        |  SELECT 'lineitem: l_orderkey -> l_returnflag',
        |    count(DISTINCT l_orderkey),
        |    count(DISTINCT (l_orderkey, l_returnflag))
        |  FROM lineitem),
        |a4 AS (
        |  SELECT 'lineitem: l_partkey -> l_linestatus',
        |    count(DISTINCT l_partkey),
        |    count(DISTINCT (l_partkey, l_linestatus))
        |  FROM lineitem),
        |u AS (
        |  SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |  UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4)
        |SELECT dependency, n_det, n_pairs,
        |  n_pairs - n_det AS n_violating,
        |  CAST(n_pairs = n_det AS BIGINT) AS fd_holds
        |FROM u""".stripMargin,

    "q129_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |  FROM events),
        |lagged AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_epoch ASC, event_id ASC) AS prev_type
        |  FROM e)
        |SELECT prev_type, event_type AS next_type,
        |  count(*) AS n_transitions,
        |  count(DISTINCT user_id) AS n_users
        |FROM lagged WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type""".stripMargin,

    // NULL hhi for zero-token docs falls out of the LEFT JOIN on both
    // sides; sum_tf2/n² casts are exact below 2^53.
    "q127_token_concentration" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($TOKENS_SQL) AS tok FROM documents),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
         |agg AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    count(*) AS n_distinct,
         |    CAST(sum(tf * tf) AS BIGINT) AS sum_tf2
         |  FROM tf GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(n_tokens, 0) AS n_tokens,
         |  COALESCE(n_distinct, 0) AS n_distinct,
         |  CAST(sum_tf2 AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE)
         |    AS hhi
         |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,

    "q131_vocab_coverage" ->
      s"""WITH tok AS (
         |  SELECT unnest($TOKENS_SQL) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
         |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM tf),
         |top AS (SELECT tok, freq FROM tf ORDER BY freq DESC, tok LIMIT 100),
         |c AS (
         |  SELECT row_number() OVER (ORDER BY freq DESC, tok) AS rank,
         |    tok, freq,
         |    CAST(sum(freq) OVER (ORDER BY freq DESC, tok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_freq
         |  FROM top)
         |SELECT rank, tok, freq, cum_freq,
         |  CAST(cum_freq AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
         |FROM c CROSS JOIN tot""".stripMargin,

    "q132_contamination_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |sh AS (SELECT doc_id, $TRIGRAM_SQL AS sg FROM toks),
         |ev AS (
         |  SELECT DISTINCT unnest(sg) AS shingle FROM sh
         |  WHERE doc_id % 10 = 0),
         |p AS (
         |  SELECT doc_id, unnest(sg) AS shingle FROM sh
         |  WHERE doc_id % 10 <> 0),
         |h AS (
         |  SELECT p.doc_id, count(*) AS n_hits
         |  FROM p JOIN ev ON p.shingle = ev.shingle GROUP BY p.doc_id)
         |SELECT s.doc_id, CAST(len(s.sg) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) /
         |    CAST(len(s.sg) AS DOUBLE) AS contamination
         |FROM sh s LEFT JOIN h USING (doc_id)
         |WHERE s.doc_id % 10 <> 0""".stripMargin,

    // the oracle unrolls the SAME 3 fixed-point iterations — every
    // operation is integer-exact, so the hash match pins the whole
    // iterative computation, not just its shape
    "q134_stop_pagerank" ->
      """WITH ev AS (
        |  SELECT event_id // 100 AS trip, event_id % 100 AS seq, user_id
        |  FROM events),
        |e AS (
        |  SELECT a.user_id AS src, b.user_id AS dst, count(*) AS w
        |  FROM ev a JOIN ev b ON a.trip = b.trip AND a.seq + 1 = b.seq
        |  GROUP BY a.user_id, b.user_id),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |c0 AS (
        |  SELECT 1000000000000 // count(*) AS r0,
        |    (15 * (1000000000000 // count(*))) // 100 AS base
        |  FROM n),
        |ow AS (SELECT src, sum(w) AS wtot FROM e GROUP BY src),
        |rt0 AS (SELECT node, r0 AS r FROM n CROSS JOIN c0),
        |s1 AS (
        |  SELECT e.dst, sum((r.r * e.w) // ow.wtot) AS s
        |  FROM e JOIN rt0 r ON e.src = r.node JOIN ow ON e.src = ow.src
        |  GROUP BY e.dst),
        |rt1 AS (
        |  SELECT n.node, base + (85 * COALESCE(s1.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN s1 ON n.node = s1.dst CROSS JOIN c0),
        |s2 AS (
        |  SELECT e.dst, sum((r.r * e.w) // ow.wtot) AS s
        |  FROM e JOIN rt1 r ON e.src = r.node JOIN ow ON e.src = ow.src
        |  GROUP BY e.dst),
        |rt2 AS (
        |  SELECT n.node, base + (85 * COALESCE(s2.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN s2 ON n.node = s2.dst CROSS JOIN c0),
        |s3 AS (
        |  SELECT e.dst, sum((r.r * e.w) // ow.wtot) AS s
        |  FROM e JOIN rt2 r ON e.src = r.node JOIN ow ON e.src = ow.src
        |  GROUP BY e.dst),
        |rt3 AS (
        |  SELECT n.node, base + (85 * COALESCE(s3.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN s3 ON n.node = s3.dst CROSS JOIN c0)
        |SELECT node AS stop_id, CAST(r AS BIGINT) AS pr_fp,
        |  CAST(r AS DOUBLE) / CAST(1000000000000 AS DOUBLE) AS pagerank
        |FROM rt3""".stripMargin,

    "q133_delay_gini" -> (MART_CTE +
      """, ta AS (
        |  SELECT start_date, trip_id,
        |    sum(CAST(abs(average_diff_in_minutes) AS DECIMAL(20,6))) AS x
        |  FROM mart WHERE average_diff_in_minutes IS NOT NULL
        |  GROUP BY start_date, trip_id),
        |r AS (
        |  SELECT x,
        |    row_number() OVER (ORDER BY x, start_date, trip_id) AS i
        |  FROM ta)
        |SELECT CAST(count(*) AS BIGINT) AS n_trips,
        |  CAST(sum(x) AS DOUBLE) AS total_abs_delay,
        |  CAST(2 * sum(i * x) - (count(*) + 1) * sum(x) AS DOUBLE) /
        |    CAST(count(*) * sum(x) AS DOUBLE) AS gini
        |FROM r""".stripMargin),

    // INDEPENDENT spelling (not an op-mirror): NOT EXISTS dominance over
    // the per-date maxima — equivalent because a row below its date's
    // max price is dominated at its own date, and frontier dates are
    // exactly those no later date matches-or-beats.
    "q126_pareto_frontier" ->
      """WITH o AS (
        |  SELECT o_orderkey, FLOOR(epoch(o_orderdate))::BIGINT AS order_epoch,
        |    o_totalprice
        |  FROM orders),
        |g AS (
        |  SELECT order_epoch, max(o_totalprice) AS ymax
        |  FROM o GROUP BY order_epoch),
        |fx AS (
        |  SELECT order_epoch, ymax FROM g a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM g b
        |    WHERE b.order_epoch > a.order_epoch AND b.ymax >= a.ymax))
        |SELECT o.o_orderkey, o.order_epoch, o.o_totalprice
        |FROM o JOIN fx ON o.order_epoch = fx.order_epoch
        |  AND o.o_totalprice = fx.ymax""".stripMargin,

    // Mirrors termCooccurrence op-for-op: same df gates, same per-doc
    // rarity rank, DECIMAL(38,0) products, one double divide.
    "q125_pmi_cooccur" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($TOKENS_SQL) AS term FROM documents),
         |p AS (SELECT DISTINCT doc_id, term FROM tok),
         |dfreq AS (SELECT term, count(*) AS df FROM p GROUP BY term),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |elig AS (
         |  SELECT term, df FROM dfreq, nd
         |  WHERE df >= 3 AND df * 1000 <= 790 * n_docs),
         |ranked AS (
         |  SELECT p.doc_id, p.term,
         |    row_number() OVER (PARTITION BY p.doc_id
         |                       ORDER BY e.df ASC, p.term ASC) AS rk
         |  FROM p JOIN elig e USING (term)),
         |kept AS (SELECT doc_id, term FROM ranked WHERE rk <= 20),
         |pairs AS (
         |  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
         |  FROM kept a JOIN kept b
         |    ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY a.term, b.term)
         |SELECT term_a, term_b, n_ab, da.df AS n_a, db.df AS n_b,
         |  CAST(CAST(n_ab AS DECIMAL(38,0)) * n_docs AS DOUBLE) /
         |  CAST(CAST(da.df AS DECIMAL(38,0)) * db.df AS DOUBLE) AS lift
         |FROM pairs
         |JOIN elig da ON pairs.term_a = da.term
         |JOIN elig db ON pairs.term_b = db.term, nd
         |WHERE n_ab >= 3""".stripMargin,

    // Mirrors PrioritySample: `//` ≡ Spark's `div` on positive BIGINTs
    // (both truncate), so the priorities are integer-identical.
    "q124_priority_sample" ->
      s"""SELECT doc_id, n_chars,
         |  (n_chars * 1000000000000) // (${charPolySql("text")} + 1)
         |    AS priority
         |FROM documents
         |ORDER BY priority DESC, doc_id ASC LIMIT 100""".stripMargin,

    // Mirrors snapshotDiff: FULL OUTER + IS DISTINCT FROM change
    // predicate ≡ Spark's !(<=>); presence via key IS NULL (keys are
    // non-null in both versions).
    "q123_snapshot_diff" ->
      """WITH old_v AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |new_v AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 7),
        |d AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    o.o_orderstatus AS old_o_orderstatus,
        |    n.o_orderstatus AS new_o_orderstatus,
        |    o.o_totalprice AS old_o_totalprice,
        |    n.o_totalprice AS new_o_totalprice,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |         WHEN n.o_orderkey IS NULL THEN 'removed'
        |         WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |           THEN 'changed' END AS change_type
        |  FROM old_v o FULL OUTER JOIN new_v n
        |    ON o.o_orderkey = n.o_orderkey)
        |SELECT * FROM d WHERE change_type IS NOT NULL""".stripMargin,

    // The oracle reads NO corrupt directory — only the healthy rows; the
    // hash match proves the tolerant scan skipped exactly the garbage
    // file (an over-eager skip of a healthy file would change counts).
    "q119_corrupt_tolerance" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${exactAvgSql("value")} AS avg_value,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM events GROUP BY event_type""".stripMargin,

    "q97_schema_evolution" ->
      s"""WITH m AS (
         |  SELECT event_id, event_type, NULL::DOUBLE AS value
         |  FROM events WHERE event_id % 2 = 0
         |  UNION ALL
         |  SELECT event_id, event_type, value
         |  FROM events WHERE event_id % 2 <> 0)
         |SELECT event_type, count(*) AS n,
         |  count(value) AS n_with_value,
         |  ${exactAvgSql("value")} AS avg_value,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM m GROUP BY event_type""".stripMargin,

    "q74_orc_roundtrip" ->
      s"""SELECT event_type, count(*) AS n,
         |  ${exactAvgSql("value")} AS avg_value,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM events GROUP BY event_type""".stripMargin,

    "q75_partitioned_pruning" ->
      s"""SELECT user_id, count(*) AS n_clicks,
         |  ${exactAvgSql("value")} AS avg_value,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM events WHERE event_type = 'click' GROUP BY user_id""".stripMargin,

    "q82_session_window" ->
      """WITH e AS (
        |  SELECT user_id, FLOOR(epoch(ts))::BIGINT AS t FROM events),
        |m AS (
        |  SELECT user_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL
        |           OR t - lag(t) OVER w >= 1800 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (
        |  SELECT user_id, t,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(t) AS start_epoch,
        |  max(t) + 1800 AS end_epoch, count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q81_zorder_key" ->
      """WITH q AS (
        |  SELECT event_id, user_id % 256 AS xq,
        |    greatest(least(CAST(floor(value) AS BIGINT), 255), 0) AS yq
        |  FROM events)
        |SELECT event_id, xq, yq,
        |  list_reduce(list_transform(range(0, 8), i ->
        |    (((xq >> i) & 1) << (2*i)) | (((yq >> i) & 1) << (2*i+1))),
        |    (a, b) -> a | b) AS z
        |FROM q""".stripMargin,

    "q79_delay_cube" -> (MART_CTE +
      s"""SELECT day_type, weather_group,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay_min,
         |  count(*) AS n_rows,
         |  CAST(GROUPING(day_type)*2 + GROUPING(weather_group) AS BIGINT) AS gid
         |FROM mart GROUP BY CUBE (day_type, weather_group)""".stripMargin),

    "q80_delay_pivot" -> (MART_CTE + Seq("Clear", "Clouds", "Rain", "Snow")
      .map(wg =>
        s"""  CAST(sum(CASE WHEN weather_group = '$wg'
           |    THEN CAST(average_diff_in_minutes AS DECIMAL(20,6)) END) AS DOUBLE)
           |  / count(CASE WHEN weather_group = '$wg'
           |    THEN average_diff_in_minutes END) AS "$wg"""".stripMargin)
      .mkString("SELECT day_type,\n", ",\n", "\nFROM mart GROUP BY day_type")),

    "q77_delay_temp_corr" -> (MART_CTE +
      """, s AS (
        |  SELECT day_type, count(*) AS n_rows,
        |    count(*)::DOUBLE AS n,
        |    CAST(sum(CAST(average_diff_in_minutes AS DECIMAL(15,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(temperature AS DECIMAL(15,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(average_diff_in_minutes AS DECIMAL(15,6)) *
        |             CAST(temperature AS DECIMAL(15,6))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(average_diff_in_minutes AS DECIMAL(15,6)) *
        |             CAST(average_diff_in_minutes AS DECIMAL(15,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(temperature AS DECIMAL(15,6)) *
        |             CAST(temperature AS DECIMAL(15,6))) AS DOUBLE) AS syy
        |  FROM mart
        |  WHERE average_diff_in_minutes IS NOT NULL AND temperature IS NOT NULL
        |  GROUP BY day_type)
        |SELECT day_type, n_rows,
        |  (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
        |    AS corr_delay_temp
        |FROM s""".stripMargin),

    "q91_delay_outliers" -> (MART_CTE +
      """, s AS (
        |  SELECT day_type, count(*)::DOUBLE AS n,
        |    CAST(sum(CAST(average_diff_in_minutes AS DECIMAL(15,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(average_diff_in_minutes AS DECIMAL(15,6)) *
        |             CAST(average_diff_in_minutes AS DECIMAL(15,6))) AS DOUBLE) AS sxx
        |  FROM mart WHERE average_diff_in_minutes IS NOT NULL
        |  GROUP BY day_type),
        |zs AS (
        |  SELECT m.trip_id, m.stop_sequence, m.start_date, m.day_type,
        |    m.average_diff_in_minutes AS delay_min,
        |    (m.average_diff_in_minutes * s.n - s.sx)
        |      / sqrt(greatest(s.n * s.sxx - s.sx * s.sx, 0.0)) AS z
        |  FROM mart m JOIN s USING (day_type)
        |  WHERE m.average_diff_in_minutes IS NOT NULL)
        |SELECT trip_id, stop_sequence, start_date, day_type, delay_min, z
        |FROM zs WHERE abs(z) > 2.5""".stripMargin),

    "q78_delay_histogram" -> (MART_CTE +
      """SELECT day_type,
        |  CAST(floor(average_diff_in_minutes / 5.0) AS BIGINT) AS bin,
        |  count(*) AS n
        |FROM mart WHERE average_diff_in_minutes IS NOT NULL
        |GROUP BY day_type, bin""".stripMargin),

    "q86_bm25" -> bm25Sql(BM25_TERMS, topK = 20),

    "q89_hybrid_rrf" -> rrfSql(BM25_TERMS, listK = 50, rrfK = 60, outK = 20),

    "q102_containment" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
         |sh0 AS (SELECT doc_id, lang, source, $BIGRAM_SQL AS sg FROM toks),
         |sh AS (SELECT * FROM sh0 WHERE len(sg) > 0),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.sg, b.sg)) AS BIGINT) AS inter,
         |    CAST(len(a.sg) AS BIGINT) AS n_a,
         |    CAST(len(b.sg) AS BIGINT) AS n_b
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source
         |   AND a.doc_id < b.doc_id),
         |c AS (
         |  SELECT id_a, id_b, inter,
         |    CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS contain_a,
         |    CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS contain_b
         |  FROM p)
         |SELECT id_a, id_b, inter, contain_a, contain_b FROM c
         |WHERE contain_a >= 0.25 OR contain_b >= 0.25""".stripMargin,

    // The oracle computes each group's union signature DIRECTLY from the
    // raw shingle pool — agreeing with Spark's min-of-member-signatures
    // is precisely the MinHash merge property under test.
    "q96_group_minhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
         |sh0 AS (SELECT doc_id, lang, source, $BIGRAM_SQL AS sg FROM toks),
         |shf AS (SELECT * FROM sh0 WHERE len(sg) > 0),
         |seeds(i, a, b) AS (VALUES ${polySeedsSql(16)}),
         |post AS (SELECT lang, source, unnest(sg) AS s FROM shf),
         |ph AS (SELECT lang, source, ${charPolySql("s")} AS h FROM post),
         |gsig AS (
         |  SELECT lang || '|' || source AS gkey, i,
         |    min((a*h + b) % 1000000007) AS component
         |  FROM ph CROSS JOIN seeds GROUP BY gkey, i)
         |SELECT x.gkey AS group_a, y.gkey AS group_b,
         |  count(*) FILTER (x.component = y.component) AS n_agree,
         |  CAST(count(*) FILTER (x.component = y.component) AS DOUBLE) / 16.0
         |    AS est_jaccard
         |FROM gsig x JOIN gsig y ON x.i = y.i AND x.gkey < y.gkey
         |GROUP BY x.gkey, y.gkey""".stripMargin,

    "q95_sliding_error_rate" ->
      """WITH k AS (SELECT unnest(range(0, 4)) AS i),
        |w AS (
        |  SELECT (FLOOR(epoch(ts) / 900)::BIGINT - k.i) * 900 AS window_start,
        |    event_type
        |  FROM events CROSS JOIN k
        |  WHERE ts IS NOT NULL),
        |agg AS (
        |  SELECT window_start, count(*) AS n_events,
        |    count(*) FILTER (event_type = 'error') AS n_errors
        |  FROM w GROUP BY window_start)
        |SELECT window_start, window_start + 3600 AS window_end,
        |  n_events, n_errors,
        |  CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS error_rate
        |FROM agg""".stripMargin,

    "q139_gap_fill" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    FLOOR(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day_epoch) AS d0, max(day_epoch) AS d1 FROM ev),
        |cal AS (
        |  SELECT unnest(range(d0, d1 + 86400, 86400)) AS day_epoch FROM b),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id, c.day_epoch,
        |  COALESCE(e.n_events, 0) AS n_events,
        |  COALESCE(e.day_value, 0.0) AS day_value
        |FROM u CROSS JOIN cal c
        |LEFT JOIN ev e ON e.user_id = u.user_id
        |  AND e.day_epoch = c.day_epoch""".stripMargin,

    "q140_interpolate" ->
      s"""WITH m AS (
         |  SELECT event_id, user_id,
         |    ${charPolySql("('gap:' || CAST(event_id AS VARCHAR))")} % 5 = 0
         |      AS masked,
         |    CASE WHEN NOT
         |      ${charPolySql("('gap:' || CAST(event_id AS VARCHAR))")} % 5 = 0
         |      THEN value END AS v
         |  FROM events),
         |w AS (
         |  SELECT event_id, user_id, masked, v,
         |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         |    last_value(CASE WHEN v IS NOT NULL THEN event_id END
         |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS px,
         |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY event_id
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN v IS NOT NULL THEN event_id END
         |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
         |  FROM m)
         |SELECT event_id, user_id, masked,
         |  CASE WHEN NOT masked THEN v
         |       WHEN pv IS NOT NULL AND nv IS NOT NULL
         |       THEN pv + (nv - pv) * (event_id - px) / (nx - px)
         |       ELSE COALESCE(pv, nv) END AS value_filled
         |FROM w""".stripMargin,

    "q93_funnel" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view'
        |      THEN FLOOR(epoch(ts))::BIGINT END) AS v,
        |    min(CASE WHEN event_type = 'click'
        |      THEN FLOOR(epoch(ts))::BIGINT END) AS c,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN FLOOR(epoch(ts))::BIGINT END) AS p
        |  FROM events GROUP BY user_id),
        |st AS (
        |  SELECT CAST(CASE
        |    WHEN v IS NOT NULL AND c IS NOT NULL AND p IS NOT NULL
        |      AND v <= c AND c <= p THEN 3
        |    WHEN v IS NOT NULL AND c IS NOT NULL AND v <= c THEN 2
        |    WHEN v IS NOT NULL THEN 1
        |    ELSE 0 END AS BIGINT) AS stage
        |  FROM pu)
        |SELECT stage, count(*) AS n_users FROM st GROUP BY stage""".stripMargin,

    "q94_cohort_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    FLOOR(epoch(date_trunc('week', ts)))::BIGINT AS wk
        |  FROM events),
        |fw AS (SELECT user_id, min(wk) AS cohort FROM act GROUP BY user_id),
        |sz AS (SELECT cohort, count(*) AS cohort_size FROM fw GROUP BY cohort),
        |ret AS (
        |  SELECT f.cohort, (a.wk - f.cohort) // 604800 AS week_offset,
        |    count(*) AS n_active
        |  FROM act a JOIN fw f USING (user_id)
        |  GROUP BY f.cohort, week_offset)
        |SELECT r.cohort, r.week_offset, r.n_active, s.cohort_size,
        |  CAST(r.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
        |    AS retention
        |FROM ret r JOIN sz s USING (cohort)""".stripMargin,

    "q90_novelty" ->
      s"""WITH toks AS (SELECT doc_id AS id, $TOKENS_SQL AS tk FROM documents),
         |tc AS (
         |  SELECT id, t, count(*) AS c
         |  FROM (SELECT id, unnest(tk) AS t FROM toks) GROUP BY id, t),
         |mo AS (SELECT id, CAST(sum(c*c) AS BIGINT) AS sumsq,
         |  CAST(sum(c) AS BIGINT) AS n_tokens FROM tc GROUP BY id),
         |post AS (
         |  SELECT id, unnest($BIGRAM_SQL) AS sh FROM toks),
         |dfreq AS (SELECT sh, count(*) AS df FROM post GROUP BY sh),
         |nv AS (
         |  SELECT id, count(*) AS n_shingles,
         |    count(*) FILTER (df = 1) AS n_novel
         |  FROM post JOIN dfreq USING (sh) GROUP BY id)
         |SELECT t.id,
         |  COALESCE(m.n_tokens, 0) AS n_tokens,
         |  COALESCE(v.n_shingles, 0) AS n_shingles,
         |  COALESCE(v.n_novel, 0) AS n_novel,
         |  CASE WHEN COALESCE(v.n_shingles, 0) = 0 THEN 0.0
         |    ELSE CAST(v.n_novel AS DOUBLE) / CAST(v.n_shingles AS DOUBLE)
         |  END AS novelty,
         |  CASE WHEN COALESCE(m.n_tokens, 0) = 0 THEN 0.0
         |    ELSE 1.0 - (CAST(m.sumsq AS DOUBLE)
         |      / (CAST(m.n_tokens AS DOUBLE) * CAST(m.n_tokens AS DOUBLE)))
         |  END AS gini
         |FROM toks t
         |LEFT JOIN mo m ON t.id = m.id
         |LEFT JOIN nv v ON t.id = v.id""".stripMargin,

    "q88_heavy_hitters" ->
      s"""WITH toks AS (SELECT $TOKENS_SQL AS tk FROM documents),
         |post AS (SELECT unnest(tk) AS term FROM toks),
         |tot AS (SELECT count(*) AS n_total FROM post),
         |c AS (SELECT term, count(*) AS cnt FROM post GROUP BY term)
         |SELECT c.term, c.cnt, t.n_total FROM c CROSS JOIN tot t
         |WHERE c.cnt * 30 > t.n_total""".stripMargin,

    // the affine depth coefficients are the polyCoeffs constants embedded
    // verbatim (operator definition, not runtime state) — the same
    // literal-embedding rule as the q57 MinHash seeds
    "q138_cms_sketch" -> CMS_ORACLE,

    // The native TypedImperativeAggregate build (q199) answers the SAME
    // estimates — the hash derivation is shared by construction, so the
    // oracle is shared verbatim: passing both is exactly the
    // relational ≡ imperative equivalence claim.
    "q199_cms_native_agg" -> CMS_ORACLE,

    // Mirrors q200: each metric in its family's established spelling;
    // near-dup mass rides the q51 recursive CTE.
    "q200_corpus_report" ->
      s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |),
         |grid AS (
         |  SELECT n_chars, count(*) AS cnt FROM documents GROUP BY n_chars),
         |cum AS (
         |  SELECT n_chars,
         |    sum(cnt) OVER (ORDER BY n_chars ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM grid),
         |nn AS (SELECT count(*) AS nn FROM documents)
         |SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value
         |FROM documents
         |UNION ALL
         |SELECT 'n_distinct_texts',
         |  CAST(count(DISTINCT sha256(text)) AS BIGINT) FROM documents
         |UNION ALL
         |SELECT 'n_exact_dup_docs', CAST(COALESCE(sum(n), 0) AS BIGINT)
         |FROM (SELECT count(*) AS n FROM documents GROUP BY sha256(text))
         |WHERE n > 1
         |UNION ALL
         |SELECT 'n_neardup_clustered', CAST(count(*) AS BIGINT)
         |FROM clusters
         |UNION ALL
         |SELECT 'n_langs', CAST(count(DISTINCT lang) AS BIGINT)
         |FROM documents
         |UNION ALL
         |SELECT 'total_chars', CAST(sum(n_chars) AS BIGINT) FROM documents
         |UNION ALL
         |SELECT 'median_chars', CAST(min(n_chars) AS BIGINT)
         |FROM cum CROSS JOIN nn WHERE cum >= (nn + 1) // 2""".stripMargin,

    // Mirrors q201: the mart CTE, the same lag window, HUGEINT moments.
    "q201_headway_regularity" -> (MART_CTE +
      s""", arr AS (
        |  SELECT route_id, stop_id, actual_arrival_epoch AS t, trip_id
        |  FROM mart WHERE actual_arrival_epoch IS NOT NULL),
        |hw AS (
        |  SELECT route_id, stop_id,
        |    t - lag(t, 1) OVER (PARTITION BY route_id, stop_id
        |      ORDER BY t ASC, trip_id ASC) AS h
        |  FROM arr),
        |m AS (
        |  SELECT route_id, stop_id, count(*) AS n_headways,
        |    CAST(sum(h) AS BIGINT) AS sum_h,
        |    CAST(sum(CAST(h AS HUGEINT) * h) AS HUGEINT) AS sum_h2
        |  FROM hw WHERE h IS NOT NULL GROUP BY route_id, stop_id)
        |SELECT route_id, stop_id, n_headways,
        |  CAST(sum_h AS DOUBLE) / CAST(n_headways AS DOUBLE)
        |    AS mean_headway_sec,
        |  ${hugeAsDoubleSql(
             "CAST(n_headways AS HUGEINT) * sum_h2 - " +
               "CAST(sum_h AS HUGEINT) * sum_h")} /
        |    ${hugeAsDoubleSql(
             "CAST(n_headways AS HUGEINT) * n_headways")}
        |    AS var_headway_sec2
        |FROM m WHERE n_headways >= 2""".stripMargin),

    // Mirrors q202: exact integer window test on epochs, one divide.
    "q202_otp" -> (MART_CTE +
      """SELECT route_id, count(*) AS n_obs,
        |  CAST(sum(CASE WHEN actual_arrival_epoch - scheduled_arrival_epoch
        |    BETWEEN -60 AND 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime,
        |  CAST(sum(CASE WHEN actual_arrival_epoch - scheduled_arrival_epoch
        |    BETWEEN -60 AND 300 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS otp
        |FROM mart WHERE actual_arrival_epoch IS NOT NULL
        |GROUP BY route_id""".stripMargin),

    // Mirrors q203: q201's lag window, 120 s threshold, one divide.
    "q203_bunching" -> (MART_CTE +
      """, arr AS (
        |  SELECT route_id, stop_id, actual_arrival_epoch AS t, trip_id
        |  FROM mart WHERE actual_arrival_epoch IS NOT NULL),
        |hw AS (
        |  SELECT route_id,
        |    t - lag(t, 1) OVER (PARTITION BY route_id, stop_id
        |      ORDER BY t ASC, trip_id ASC) AS h
        |  FROM arr)
        |SELECT route_id, count(*) AS n_headways,
        |  CAST(sum(CASE WHEN h < 120 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bunched,
        |  CAST(sum(CASE WHEN h < 120 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS bunching_share
        |FROM hw WHERE h IS NOT NULL
        |GROUP BY route_id""".stripMargin),

    // Mirrors q204: the q203 headway CTE per route, HUGEINT moments,
    // then the same integral divides to exact BIGINT microseconds —
    // the rendered doubles are micro/1e6 with micro < 2^53, so no
    // int128→double rounding (version-drift-prone) is ever exercised.
    "q204_excess_wait" -> (MART_CTE +
      """, arr AS (
        |  SELECT route_id, stop_id, actual_arrival_epoch AS t, trip_id
        |  FROM mart WHERE actual_arrival_epoch IS NOT NULL),
        |hw AS (
        |  SELECT route_id,
        |    t - lag(t, 1) OVER (PARTITION BY route_id, stop_id
        |      ORDER BY t ASC, trip_id ASC) AS h
        |  FROM arr),
        |m AS (
        |  SELECT route_id, count(*) AS n_headways,
        |    CAST(sum(h) AS BIGINT) AS sum_h,
        |    CAST(sum(CAST(h AS HUGEINT) * h) AS HUGEINT) AS sum_h2
        |  FROM hw WHERE h IS NOT NULL GROUP BY route_id),
        |micro AS (
        |  SELECT route_id, n_headways,
        |    CAST((sum_h2 * 1000000) // NULLIF(2 * CAST(sum_h AS HUGEINT), 0)
        |      AS BIGINT) AS awt_micro,
        |    CAST((CAST(sum_h AS HUGEINT) * 1000000) // (2 * n_headways)
        |      AS BIGINT) AS swt_micro
        |  FROM m)
        |SELECT route_id, n_headways,
        |  CAST(awt_micro AS DOUBLE) / 1000000.0 AS awt_sec,
        |  CAST(swt_micro AS DOUBLE) / 1000000.0 AS swt_sec,
        |  CAST(awt_micro - swt_micro AS DOUBLE) / 1000000.0 AS ewt_sec
        |FROM micro""".stripMargin),

    // Mirrors q205: integer dwell differences, exact sums, one divide.
    "q205_dwell_time" -> (MART_CTE +
      """, dw AS (
        |  SELECT route_id, stop_id,
        |    actual_departure_epoch - actual_arrival_epoch AS dwell
        |  FROM mart
        |  WHERE actual_arrival_epoch IS NOT NULL
        |    AND actual_departure_epoch IS NOT NULL
        |    AND actual_departure_epoch - actual_arrival_epoch >= 0)
        |SELECT route_id, stop_id, count(*) AS n_obs,
        |  CAST(sum(dwell) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_dwell_sec,
        |  CAST(max(dwell) AS BIGINT) AS max_dwell_sec
        |FROM dw GROUP BY route_id, stop_id""".stripMargin),

    // Mirrors q206: the same per-trip lag window, consecutive-sequence
    // gate, exact segment aggregates.
    "q206_run_times" -> (MART_CTE +
      """, lagd AS (
        |  SELECT trip_id, start_date, route_id, stop_sequence, stop_id,
        |    actual_arrival_epoch,
        |    lag(actual_departure_epoch) OVER w AS prev_dep,
        |    lag(stop_id) OVER w AS prev_stop,
        |    lag(stop_sequence) OVER w AS prev_seq
        |  FROM mart
        |  WINDOW w AS (PARTITION BY trip_id, start_date
        |               ORDER BY stop_sequence ASC)),
        |seg AS (
        |  SELECT route_id, prev_stop AS from_stop, stop_id AS to_stop,
        |    actual_arrival_epoch - prev_dep AS run
        |  FROM lagd
        |  WHERE prev_dep IS NOT NULL AND actual_arrival_epoch IS NOT NULL
        |    AND prev_seq = stop_sequence - 1)
        |SELECT route_id, from_stop, to_stop, count(*) AS n_obs,
        |  CAST(sum(run) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_run_sec,
        |  CAST(min(run) AS BIGINT) AS min_run_sec
        |FROM seg GROUP BY route_id, from_stop, to_stop""".stripMargin),

    // Mirrors q207: q174's HUGEINT moment form on (sequence, deviation).
    "q207_delay_accumulation" -> (MART_CTE +
      s""", d AS (
        |  SELECT route_id, CAST(stop_sequence AS BIGINT) AS x,
        |    actual_arrival_epoch - scheduled_arrival_epoch AS y
        |  FROM mart WHERE actual_arrival_epoch IS NOT NULL),
        |m AS (
        |  SELECT route_id, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM d GROUP BY route_id)
        |SELECT route_id, CAST(n AS BIGINT) AS n,
        |  ${hugeAsDoubleSql("n * sxy - sx * sy")} /
        |    NULLIF(${hugeAsDoubleSql("n * sxx - sx * sx")}, 0)
        |    AS sec_per_stop,
        |  ${hugeAsDoubleSql("sy * sxx - sx * sxy")} /
        |    NULLIF(${hugeAsDoubleSql("n * sxx - sx * sx")}, 0)
        |    AS intercept_sec
        |FROM m""".stripMargin),

    // Mirrors q208: four tallies, one divide each.
    "q208_delay_survival" -> (MART_CTE +
      """SELECT route_id, count(*) AS n_obs,
        |  CAST(sum(CASE WHEN actual_arrival_epoch - scheduled_arrival_epoch
        |    > 60 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS p_gt60s,
        |  CAST(sum(CASE WHEN actual_arrival_epoch - scheduled_arrival_epoch
        |    > 120 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS p_gt120s,
        |  CAST(sum(CASE WHEN actual_arrival_epoch - scheduled_arrival_epoch
        |    > 300 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS p_gt300s,
        |  CAST(sum(CASE WHEN actual_arrival_epoch - scheduled_arrival_epoch
        |    > 600 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS p_gt600s
        |FROM mart WHERE actual_arrival_epoch IS NOT NULL
        |GROUP BY route_id""".stripMargin),

    // Mirrors q209: 1e5 quantization, the identical explicit-floor
    // centroid CASE (both engines' integer division truncates toward
    // zero, the CASE makes both floor), HUGEINT distance sums, one
    // divide.
    "q209_embedding_separation" ->
      s"""WITH dims AS (
        |  SELECT vec_id, label,
        |    generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(round(unnest(embedding)::DOUBLE * 100000.0) AS BIGINT)
        |      AS q
        |  FROM embeddings),
        |cent AS (
        |  SELECT label AS c_label, dim,
        |    CASE WHEN sum(q) >= 0 THEN CAST(sum(q) AS BIGINT) // count(*)
        |      ELSE -((-CAST(sum(q) AS BIGINT) + count(*) - 1) // count(*))
        |      END AS c
        |  FROM dims GROUP BY label, dim),
        |dist AS (
        |  SELECT d.vec_id, d.label, c.c_label,
        |    CAST(sum(CAST((d.q - c.c) AS HUGEINT) * (d.q - c.c))
        |      AS HUGEINT) AS d2
        |  FROM dims d JOIN cent c ON d.dim = c.dim
        |  GROUP BY d.vec_id, d.label, c.c_label),
        |own AS (
        |  SELECT vec_id, label, d2 AS own_d2 FROM dist
        |  WHERE label = c_label),
        |other AS (
        |  SELECT vec_id, min(d2) AS nearest_other_d2 FROM dist
        |  WHERE label <> c_label GROUP BY vec_id)
        |SELECT o.label, count(*) AS n_vecs,
        |  CAST(sum(o.own_d2) AS BIGINT) AS sum_own_d2,
        |  CAST(sum(t.nearest_other_d2) AS BIGINT) AS sum_other_d2,
        |  ${hugeAsDoubleSql("sum(o.own_d2)")} /
        |    ${hugeAsDoubleSql("sum(t.nearest_other_d2)")} AS overlap_ratio
        |FROM own o JOIN other t ON o.vec_id = t.vec_id
        |GROUP BY o.label""".stripMargin,

    // Mirrors q210: each stage in its family's established SQL,
    // chained; the near-dup stage rides the q51 recursive CTE.
    "q210_curation_funnel" ->
      s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |),
         |keep AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY sha256(text)),
         |s2 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
         |s3 AS (
         |  SELECT s2.* FROM s2 LEFT JOIN clusters c ON s2.doc_id = c.id
         |  WHERE c.cluster_id IS NULL OR c.cluster_id = s2.doc_id),
         |tr AS (
         |  SELECT doc_id, text, lang, source, n_chars, $TOKENS_SQL AS tk
         |  FROM s3 WHERE doc_id % 10 <> 0),
         |trsh AS (
         |  SELECT doc_id, $TRIGRAM_SQL AS sg
         |  FROM tr),
         |evt AS (
         |  SELECT doc_id, $TOKENS_SQL AS tk FROM documents
         |  WHERE doc_id % 10 = 0),
         |ev AS (
         |  SELECT DISTINCT unnest($TRIGRAM_SQL) AS shingle
         |  FROM evt),
         |bad AS (
         |  SELECT DISTINCT p.doc_id
         |  FROM (SELECT doc_id, unnest(sg) AS shingle FROM trsh) p
         |  JOIN ev ON p.shingle = ev.shingle),
         |s4 AS (
         |  SELECT doc_id, text, lang, source, n_chars FROM tr
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         |s5 AS (SELECT * FROM s4 WHERE n_chars >= 100),
         |s6 AS (
         |  SELECT * FROM s5
         |  WHERE ${charPolySql("text")} % 1000 <
         |    CASE WHEN lang = 'en' THEN 700
         |         WHEN lang = 'es' THEN 400 ELSE 150 END)
         |SELECT '1_raw' AS stage, count(*) AS n_docs,
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) AS n_chars
         |FROM documents
         |UNION ALL SELECT '2_exact_dedup', count(*),
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM s2
         |UNION ALL SELECT '3_neardup_dedup', count(*),
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM s3
         |UNION ALL SELECT '4_decontaminated', count(*),
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM s4
         |UNION ALL SELECT '5_quality', count(*),
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM s5
         |UNION ALL SELECT '6_sampled', count(*),
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM s6""".stripMargin,

    "q137_dup_spans" -> (POS_TRI_PS_CTES +
      s"""d AS (
         |  SELECT shingle FROM ps GROUP BY shingle
         |  HAVING count(DISTINCT doc_id) >= 2),
         |fl AS (
         |  SELECT ps.doc_id, ps.pos, d.shingle IS NOT NULL AS dup
         |  FROM ps LEFT JOIN d USING (shingle)),
         |runs AS (
         |  SELECT doc_id,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM fl WHERE dup),
         |rl AS (
         |  SELECT doc_id, max(cnt) AS max_run FROM (
         |    SELECT doc_id, grp, count(*) AS cnt FROM runs
         |    GROUP BY doc_id, grp) GROUP BY doc_id),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_shingles,
         |    count(*) FILTER (dup) AS n_dup
         |  FROM fl GROUP BY doc_id)
         |SELECT a.doc_id, a.n_shingles, a.n_dup,
         |  CAST(a.n_dup AS DOUBLE) / CAST(a.n_shingles AS DOUBLE) AS dup_share,
         |  CAST(COALESCE(r.max_run, 0) AS BIGINT) AS max_run
         |FROM agg a LEFT JOIN rl r USING (doc_id)""".stripMargin),

    "q84_bpe_merge" ->
      s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |bg AS (
         |  SELECT unnest($POS_BIGRAM_SQL) AS bg
         |  FROM toks),
         |cnt AS (SELECT bg, count(*) AS n FROM bg GROUP BY bg),
         |top AS (
         |  SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b
         |  FROM cnt
         |  ORDER BY n DESC, string_split(bg, ' ')[1] ASC,
         |    string_split(bg, ' ')[2] ASC
         |  LIMIT 1),
         |m AS (
         |  SELECT t.doc_id, p.a, p.b,
         |    CASE WHEN len(t.tk) = 0 THEN CAST([] AS VARCHAR[])
         |    ELSE list_reduce(list_transform(t.tk, x -> [x]), (acc, x) ->
         |      CASE WHEN acc[-1] = p.a AND x[1] = p.b
         |           THEN list_append(acc[1:len(acc)-1], p.a || ' ' || p.b)
         |           ELSE list_concat(acc, x) END) END AS mg
         |  FROM toks t CROSS JOIN top p)
         |SELECT doc_id, a AS pair_a, b AS pair_b,
         |  array_to_string(mg, ' ') AS merged_text,
         |  CAST(len(mg) AS BIGINT) AS n_after
         |FROM m""".stripMargin,

    "q83_jsonl_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id
        |FROM documents GROUP BY lang, source""".stripMargin,

    "q76_corpus_shuffle" ->
      s"""WITH sk AS (
         |  SELECT doc_id, 'seed42:' || CAST(doc_id AS VARCHAR) AS sk
         |  FROM documents),
         |h AS (SELECT doc_id, ${charPolySql("sk")} AS h FROM sk)
         |SELECT doc_id, h,
         |  row_number() OVER (ORDER BY h, doc_id) AS shuffle_pos
         |FROM h""".stripMargin,

    "q101_malformed_json" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 7 = 0 THEN '{broken' || props
        |         ELSE props END AS pr
        |  FROM events),
        |x AS (
        |  SELECT event_type,
        |    CASE WHEN json_valid(pr)
        |         THEN CAST(json_extract_string(pr, '$.k') AS BIGINT) END AS k
        |  FROM e)
        |SELECT event_type, count(*) AS n, count(k) AS n_valid,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM x GROUP BY event_type""".stripMargin,

    "q100_systematic_sample" ->
      s"""WITH sk AS (
         |  SELECT doc_id, lang, source,
         |    'seed42:' || CAST(doc_id AS VARCHAR) AS sk
         |  FROM documents),
         |h AS (SELECT doc_id, lang, source, ${charPolySql("sk")} AS h FROM sk),
         |r AS (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (ORDER BY h, doc_id) AS shuffle_pos
         |  FROM h)
         |SELECT doc_id, lang, source, shuffle_pos
         |FROM r WHERE shuffle_pos % 10 = 0""".stripMargin,

    "q36_realtime_e1" ->
      """WITH e AS (SELECT *, FLOOR(epoch(ts))::BIGINT AS ets FROM events)
        |SELECT 't' || CAST(event_id // 100 AS VARCHAR) AS trip_id,
        |  CAST(ts AS DATE) AS start_date,
        |  event_id % 100 AS stop_sequence,
        |  CAST(user_id AS VARCHAR) AS stop_id,
        |  CASE WHEN value >= 20 THEN ets ELSE 0 END AS arrival_epoch,
        |  CASE WHEN value <= 180 THEN ets + CAST(trunc(value) AS BIGINT)
        |       ELSE 0 END AS departure_epoch,
        |  'Snow' AS weather_group,
        |  'heavy snow' AS weather_description,
        |  CAST(263.15 AS DOUBLE) - CAST(273.15 AS DOUBLE) AS temperature
        |FROM e""".stripMargin,

    "q15_dedup_exact" ->
      """SELECT sha256(text) AS text_hash, count(*) AS n_dups,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY sha256(text)""".stripMargin,

    "q51_dup_clusters" -> DUP_CLUSTERS_SQL,

    "q116_dataset_split" ->
      s"""SELECT doc_id, lang, $SPLIT_CASE_SQL AS split FROM documents""",

    // Leakage audit over the SAME recursive-CTE clusters as q51 — only
    // clusters mixing train with val/test survive.
    "q117_split_leakage" ->
      s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |),
         |sp AS (
         |  SELECT doc_id, $SPLIT_CASE_SQL AS split FROM documents),
         |j AS (
         |  SELECT c.cluster_id, s.split
         |  FROM clusters c JOIN sp s ON c.id = s.doc_id)
         |SELECT cluster_id,
         |  count(CASE WHEN split = 'train' THEN 1 END) AS n_train,
         |  count(CASE WHEN split = 'val' THEN 1 END) AS n_val,
         |  count(CASE WHEN split = 'test' THEN 1 END) AS n_test
         |FROM j GROUP BY cluster_id
         |HAVING n_train > 0 AND (n_val > 0 OR n_test > 0)""".stripMargin,

    "q53_neardup_corpus" ->
      s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |)
         |SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin,

    "q73_neardup_best" ->
      s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cid, d.n_chars
         |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id),
         |keep AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      PARTITION BY cid ORDER BY n_chars DESC, doc_id ASC) AS rn
         |    FROM lab) WHERE rn = 1)
         |SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM keep)""".stripMargin,

    "q42_dedup_corpus" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id) FROM documents GROUP BY sha256(text))""".stripMargin,

    "q43_trigram_jaccard" ->
      dfCappedJaccardSql(TRIGRAM_SQL, cap = 20L, minJ = 0.05),

    // q16_minhash_pairs / q17_simhash: intentionally no oracle — xxhash64
    // internals are engine-defined (rows-only check). The POLY family
    // below (q57-q59) is the oracle-expressible counterpart.

    "q57_poly_minhash_sig" -> (polyBaseCtes(16) +
      s"""post AS (SELECT doc_id, unnest(sg) AS s FROM shf),
         |ph AS (SELECT doc_id, ${charPolySql("s")} AS h FROM post)
         |SELECT doc_id, i AS seed_i, min((a*h + b) % 1000000007) AS component
         |FROM ph CROSS JOIN seeds GROUP BY doc_id, i""".stripMargin),

    "q58_poly_minhash_pairs" -> (polyCandCtes(64, 16, 200) +
      """sigl AS (SELECT doc_id, list(m ORDER BY i) AS sl FROM sig GROUP BY doc_id)
        |SELECT c.id_a, c.id_b,
        |  CAST(len(list_filter(range(1, 65), j -> sa.sl[j] = sb.sl[j])) AS DOUBLE)
        |    / 64.0 AS est_jaccard
        |FROM cand c
        |JOIN sigl sa ON c.id_a = sa.doc_id
        |JOIN sigl sb ON c.id_b = sb.doc_id""".stripMargin),

    "q66_poly_simhash" -> (POLY_SIMHASH_CTES +
      """out AS (SELECT doc_id, fp FROM docfp)
        |SELECT doc_id, fp FROM out""".stripMargin),

    "q68_mixture_sample" ->
      s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE ${charPolySql("text")} % 1000 <
         |  CASE WHEN source = 'src2' THEN 250
         |       WHEN source = 'src1' THEN 500
         |       WHEN source = 'src0' THEN 900
         |       ELSE 100 END""".stripMargin,

    "q67_poly_simhash_pairs" -> (POLY_SIMHASH_CTES +
      s"""rep AS (SELECT fp, min(doc_id) AS id FROM docfp GROUP BY fp),
         |bands(band, off, mask) AS (VALUES ${polySimhashBandsSql(8)}),
         |bd AS (
         |  SELECT r.id, r.fp, b.band, (r.fp >> b.off) & b.mask AS chunk
         |  FROM rep r CROSS JOIN bands b),
         |bsz AS (SELECT band, chunk, count(*) AS n FROM bd GROUP BY band, chunk),
         |kept AS (
         |  SELECT d.id, d.fp, d.band, d.chunk FROM bd d
         |  JOIN bsz z ON d.band = z.band AND d.chunk = z.chunk AND z.n <= 1000)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM kept a JOIN kept b
         |  ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 8""".stripMargin),

    "q72_incremental_dedup" -> (polyBaseCtes(64) +
      """sided AS (
        |  SELECT doc_id, text, sg,
        |    (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS is_new
        |  FROM shf),
        |uniq AS (SELECT min(doc_id) AS doc_id, is_new
        |         FROM sided GROUP BY text, is_new),
        |usg AS (SELECT u.doc_id, u.is_new, s.sg
        |        FROM uniq u JOIN sided s ON u.doc_id = s.doc_id),
        |post AS (SELECT doc_id, unnest(sg) AS s FROM usg),
        |ph AS (SELECT doc_id, """.stripMargin + charPolySql("s") +
      """ AS h FROM post),
        |sig AS (
        |  SELECT doc_id, i, min((a*h + b) % 1000000007) AS m
        |  FROM ph CROSS JOIN seeds GROUP BY doc_id, i),
        |bandk AS (
        |  SELECT doc_id, i // 4 AS band, list(m ORDER BY i) AS bk
        |  FROM sig GROUP BY doc_id, band),
        |bsz AS (SELECT band, bk, count(*) AS n FROM bandk GROUP BY band, bk),
        |kept AS (
        |  SELECT k.doc_id, k.band, k.bk, u.is_new FROM bandk k
        |  JOIN bsz z ON k.band = z.band AND k.bk = z.bk AND z.n <= 200
        |  JOIN uniq u ON k.doc_id = u.doc_id),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    (CASE WHEN a.is_new <> b.is_new THEN 1 ELSE 0 END)::BIGINT AS is_cross
        |  FROM kept a JOIN kept b
        |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
        |  WHERE a.is_new = 1 OR b.is_new = 1),
        |sigl AS (SELECT doc_id, list(m ORDER BY i) AS sl FROM sig GROUP BY doc_id)
        |SELECT c.id_a, c.id_b, c.is_cross,
        |  CAST(len(list_filter(range(1, 65), j -> sa.sl[j] = sb.sl[j])) AS DOUBLE)
        |    / 64.0 AS est_jaccard
        |FROM cand c
        |JOIN sigl sa ON c.id_a = sa.doc_id
        |JOIN sigl sb ON c.id_b = sb.doc_id""".stripMargin),

    "q85_asof_forward" ->
      """SELECT l.user_id, l.event_id, l.ts_epoch,
        |  r.purchase_value, r.p_epoch AS purchase_epoch
        |FROM (SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |      FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (
        |  SELECT user_id, FLOOR(epoch(ts))::BIGINT AS p_epoch,
        |    max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r
        |ON l.user_id = r.user_id AND l.ts_epoch <= r.p_epoch""".stripMargin,

    "q69_asof_join" ->
      """SELECT l.user_id, l.event_id, l.ts_epoch,
        |  r.purchase_value, r.p_epoch AS purchase_epoch
        |FROM (SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |      FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (
        |  SELECT user_id, FLOOR(epoch(ts))::BIGINT AS p_epoch,
        |    max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r
        |ON l.user_id = r.user_id AND l.ts_epoch >= r.p_epoch""".stripMargin,

    "q70_range_join" ->
      """SELECT c.user_id, e.event_id AS error_id, c.event_id AS click_id,
        |  c.click_epoch
        |FROM (SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS click_epoch
        |      FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS err_epoch
        |      FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        | AND c.click_epoch BETWEEN e.err_epoch - 3600 AND e.err_epoch + 3600""".stripMargin,

    "q60_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |post AS (SELECT doc_id, unnest(tk) AS term FROM toks),
         |tf AS (SELECT doc_id AS id, term, count(*) AS tf
         |       FROM post GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT id, term, tf, df,
         |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
         |r AS (
         |  SELECT id, term, tf, df, score,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, term ASC) AS rank
         |  FROM scored)
         |SELECT id, term, tf, df, score, rank FROM r WHERE rank <= 5""".stripMargin,

    "q61_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest($POS_BIGRAM_SQL) AS bg
         |  FROM toks),
         |perbg AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg),
         |perdoc AS (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         |    count(*) AS n_distinct_bigrams, max(n) AS top_bigram_n
         |  FROM perbg GROUP BY doc_id)
         |SELECT t.doc_id AS id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  COALESCE(p.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(p.n_distinct_bigrams, 0) AS n_distinct_bigrams,
         |  COALESCE(p.top_bigram_n, 0) AS top_bigram_n,
         |  CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
         |       ELSE CAST(p.n_bigrams - p.n_distinct_bigrams AS DOUBLE)
         |            / CAST(p.n_bigrams AS DOUBLE) END AS dup_bigram_frac,
         |  CASE WHEN len(t.tk) = 0 THEN 0.0
         |       ELSE CAST(COALESCE(p.top_bigram_n, 0) * 2 AS DOUBLE)
         |            / CAST(len(t.tk) AS DOUBLE) END AS top_bigram_frac
         |FROM toks t LEFT JOIN perdoc p ON t.doc_id = p.doc_id""".stripMargin,

    "q62_pack_sequences" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
         |base AS (
         |  SELECT lang, source, doc_id, CAST(len(tk) AS BIGINT) AS n_tokens
         |  FROM toks),
         |off AS (
         |  SELECT lang, source, doc_id, n_tokens,
         |    COALESCE(CAST(sum(n_tokens) OVER (
         |      PARTITION BY lang, source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |      AS start_offset
         |  FROM base)
         |SELECT lang, source, doc_id, n_tokens, start_offset,
         |  start_offset // 2048 AS bin
         |FROM off""".stripMargin,

    // n2 = Σ_dim s_q² with s_q a 50-member group sum of 1e5-quantized
    // unit-ish components: n2 ≤ 64·(50·1e5)² = 1.6e15 < 2^53 (bounded by
    // GROUP SIZE and DIMS, never corpus size; measured 7.4e11 at sf0.1),
    // so the AS BIGINT wash is value-exact and the later n2→DOUBLE is
    // int64→double — correctly rounded identically in every engine (the
    // r10 respell that emptied the HashSurfaceSpec HUGEINT-cast
    // allowlist).
    "q63_pooled_embeddings" ->
      """WITH e AS (
        |  SELECT vec_id // 50 AS group_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(round(x * 100000.0) AS BIGINT)) AS v
        |  FROM embeddings),
        |q AS (
        |  SELECT group_id, unnest(range(len(v))) AS dim, unnest(v) AS q
        |  FROM e),
        |sums AS (
        |  SELECT group_id, dim, CAST(sum(q) AS BIGINT) AS s_q
        |  FROM q GROUP BY group_id, dim),
        |norms AS (
        |  SELECT group_id, CAST(sum(CAST(s_q AS HUGEINT) * s_q) AS BIGINT) AS n2
        |  FROM sums GROUP BY group_id)
        |SELECT s.group_id, s.dim, s.s_q,
        |  CASE WHEN n.n2 = 0 THEN NULL
        |       ELSE CAST(s.s_q AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) END AS unit
        |FROM sums s JOIN norms n USING (group_id)""".stripMargin,

    "q64_pii_redaction" ->
      """WITH enr AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' ref ' || CAST(doc_id * 1234567 AS VARCHAR)
        |         ELSE '' END AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, t,
        |    regexp_replace(
        |      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |  FROM enr)
        |SELECT doc_id, redacted, (redacted <> t) AS was_redacted FROM red""".stripMargin,

    "q59_poly_dedup_pipeline" -> (polyCandCtes(64, 16, 200) +
      """scored AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
        |    (CAST(len(a.sg) + len(b.sg) AS DOUBLE)
        |      - CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)) AS jaccard
        |  FROM cand c
        |  JOIN shf a ON c.id_a = a.doc_id
        |  JOIN shf b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin),

    // Mirrors q267: the streaming admission gate's final admitted set is
    // BY CONSTRUCTION the batch answer — q58's candidate pipeline with
    // the bucket cap effectively removed (the gate never caps), verified
    // at τ = 0.5 (q59's verification verbatim), a doc rejected when it is
    // the LARGER side of any verified pair; plus the exact gate — any
    // doc whose text appeared under a smaller id. Batching cannot move
    // the answer because slices are id-ordered and the posting state
    // accumulates every exact-survivor.
    "q267_stream_admission_gate" -> (polyCandCtes(64, 16, 1000000000) +
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
        |  AND doc_id NOT IN (SELECT doc_id FROM near_late)""".stripMargin),

    "q20_ann_lsh" -> (EMB_CTE + lshCtes(numPlanes = 8) +
      s"""q AS (SELECT * FROM c WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
        |    ${cosSql("q", "t")} AS cosine
        |  FROM q JOIN c t ON q.bucket = t.bucket),
        |r AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 3""".stripMargin),

    "q54_ann_banded" -> (EMB_CTE +
      s"""planes AS (SELECT * FROM (VALUES ${bandedPlanesSql(4, 4)}) pl(band, w, pv)),
         |bk AS (
         |  SELECT n.vec_id, p.band,
         |    CAST(sum(CASE WHEN CAST(list_sum(list_transform(range(1, len(n.v)+1),
         |      i -> n.v[i]*p.pv[i])) AS BIGINT) > 0 THEN p.w ELSE 0 END) AS BIGINT) AS bucket
         |  FROM n CROSS JOIN planes p GROUP BY n.vec_id, p.band),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |  FROM bk q JOIN bk c ON q.band = c.band AND q.bucket = c.bucket
         |  WHERE q.vec_id < 10),
         |scored AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    ${cosSql("q", "t")} AS cosine
         |  FROM cand JOIN n q ON cand.query_id = q.vec_id
         |  JOIN n t ON cand.vec_id = t.vec_id),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 3""".stripMargin),

    "q41_embed_neardup" -> (EMB_CTE + lshCtes(numPlanes = 8) +
      s"""bsz AS (SELECT bucket, count(*) AS bn FROM c GROUP BY bucket),
        |k AS (SELECT c.* FROM c JOIN bsz USING (bucket) WHERE bn <= 200),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ${cosSql("a", "b")} AS cosine
        |  FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.2""".stripMargin),

    "q18_ngram_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, lang, source, $BIGRAM_SQL AS sg
         |  FROM toks),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
         |    CAST(len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)) AS DOUBLE)
         |      AS jaccard
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.15""".stripMargin,

    "q38_jaccard_maxdf" ->
      dfCappedJaccardSql(BIGRAM_SQL, cap = 10L, minJ = 0.1),

    // deliberately the NAIVE all-pairs spelling (no prefix filter, no
    // blocking): equality with the operator's prefix-filtered plan is
    // exactly the completeness claim under test.
    "q130_prefix_jaccard" -> (TRUTH_BASE_CTES + truthPairCtes("s2") +
      """res AS (SELECT id_a, id_b, jaccard FROM tpf)
        |SELECT id_a, id_b, jaccard FROM res""".stripMargin),

    // Recall/precision audit of the banded poly-LSH candidates against
    // the exact τ=0.4 truth pairs — the same polyCandCtes chain as q58
    // plus the SHARED truth-pair spelling, reduced to one row of
    // counts. The truth is first COLLAPSED through the candidate
    // generator's exact-dup representatives (min id per sha256(text) —
    // the q42 spelling): the generator never emits a pair involving a
    // non-representative id (identical texts are the exact-dedup rung's
    // job), so an uncollapsed truth would count those pairs as false
    // misses and systematically understate recall on any corpus with
    // exact duplicates.
    "q219_lsh_recall" -> (polyCandCtes(64, 16, 200) +
      truthPairCtes("shf") +
      """reps AS (
        |  SELECT sha256(text) AS h, min(doc_id) AS rep
        |  FROM documents GROUP BY sha256(text)),
        |dmap AS (
        |  SELECT d.doc_id, r.rep FROM documents d
        |  JOIN reps r ON sha256(d.text) = r.h),
        |ctp AS (
        |  SELECT DISTINCT least(ma.rep, mb.rep) AS id_a,
        |    greatest(ma.rep, mb.rep) AS id_b
        |  FROM tpf t
        |  JOIN dmap ma ON t.id_a = ma.doc_id
        |  JOIN dmap mb ON t.id_b = mb.doc_id
        |  WHERE ma.rep <> mb.rep),
        |hit AS (
        |  SELECT t.id_a FROM ctp t JOIN cand c
        |    ON t.id_a = c.id_a AND t.id_b = c.id_b)
        |SELECT
        |  CAST((SELECT count(*) FROM ctp) AS BIGINT) AS n_truth,
        |  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
        |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit""".stripMargin),

    // Cross-source duplication matrix over the confirmed τ=0.4 pairs
    // (the SHARED truth-pair spelling): sources attach per endpoint,
    // unordered-normalized, counted per cell with the intra-source
    // diagonal kept.
    "q220_source_overlap" -> (TRUTH_BASE_CTES + truthPairCtes("s2") +
      """x AS (
        |  SELECT least(sa.source, sb.source) AS source_a,
        |    greatest(sa.source, sb.source) AS source_b
        |  FROM tpf p
        |  JOIN documents sa ON p.id_a = sa.doc_id
        |  JOIN documents sb ON p.id_b = sb.doc_id)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM x GROUP BY source_a, source_b""".stripMargin),

    // Bag-of-words canonical dedup: sorted distinct token list as the
    // canonical key (lowercase ASCII words — binary sort order agrees
    // between engines), min-id representative, group size, kept flag.
    "q218_canonical_dedup" ->
      s"""WITH k AS (
         |  SELECT doc_id,
         |    array_to_string(list_sort(list_distinct($TOKENS_SQL)), ' ')
         |      AS ck
         |  FROM documents),
         |g AS (
         |  SELECT ck, min(doc_id) AS cluster_id,
         |    CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM k GROUP BY ck)
         |SELECT k.doc_id AS id, g.cluster_id, g.cluster_size,
         |  CAST(CASE WHEN k.doc_id = g.cluster_id THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_canonical
         |FROM k JOIN g ON k.ck = g.ck""".stripMargin,

    "q19_cosine_topk" -> BRUTE_TOPK_SQL,

    "q135_jl_topk" -> JL_TOPK_SQL,

    "q141_sq8_ann" -> SQ8_ANN_SQL,

    // q55 computes the identical result through the HOF spelling + the
    // optimizer rewrite — same oracle, verbatim.
    "q55_hof_dot_rewrite" -> BRUTE_TOPK_SQL,

    // q65 is q23 with the tokenization HOF-spelled and optimizer-rewritten
    // to the graft_tokens kernel — same semantics, same oracle.
    "q65_hof_tokens_rewrite" ->
      s"""SELECT doc_id,
         |  CAST(len($TOKENS_SQL) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS re_tokens,
         |  CAST(length(text) AS DOUBLE) / CAST(len($TOKENS_SQL) AS BIGINT)
         |    AS chars_per_token
         |FROM documents""".stripMargin,

    "q32_ivf_topk" -> (EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = false) +
      s"""scored AS (
        |  SELECT c.query_id, c.vec_id,
        |    ${cosSql("q", "t")} AS cosine
        |  FROM cand c JOIN n q ON c.query_id = q.vec_id JOIN n t ON c.vec_id = t.vec_id),
        |r AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin),

    // Mirrors ivfClusterStats: q32's training CTEs verbatim, then the
    // exact integer |x|²+|c|²−2⟨x,c⟩ readout summed per cluster; the
    // HUGEINT sum ships as two BIGINT limbs (// 10¹², % 10¹²) so the
    // hashed surface is int64-typed in both engines (see the Spark-side
    // q149 comment: int128-typed hashed columns are what the driver's
    // comparator renders engine-differently). Both operands nonnegative,
    // so // and % agree across division conventions.
    "q149_kmeans_inertia" -> (EMB_CTE + IVF_TRAIN_CTES +
      """inr AS (
        |  SELECT a.cid, n.nrm, cent.cnrm,
        |    CAST(list_sum(list_transform(range(1, len(n.v)+1),
        |      i -> n.v[i]*cent.cv[i])) AS BIGINT) AS dot
        |  FROM assign a JOIN n USING (vec_id) JOIN cent ON a.cid = cent.cid)
        |SELECT cid, count(*) AS n_assigned,
        |  CAST(sum(nrm + cnrm - 2 * dot) // 1000000000000 AS BIGINT) AS inertia_hi,
        |  CAST(sum(nrm + cnrm - 2 * dot) % 1000000000000 AS BIGINT) AS inertia_lo
        |FROM inr GROUP BY cid""".stripMargin),

    // r10 DIAGNOSTICS for the q149 driver-hash divergence (VERDICT r9
    // item 1): the shared training CTEs read out at intermediate points
    // on pure-int64 surfaces — per-vector final assignment, final
    // centroid coordinates, and per-round assignment histograms. The
    // first red row names the first diverging training stage; all green
    // while q149 stays red implicates the inertia readout (or the
    // comparator).
    "q149a_ivf_assign" -> (EMB_CTE + IVF_TRAIN_CTES +
      """sel AS (SELECT vec_id, cid FROM assign)
        |SELECT vec_id, cid FROM sel""".stripMargin),

    "q149b_ivf_centroids" -> (EMB_CTE + IVF_TRAIN_CTES +
      """sel AS (
        |  SELECT cid, d.i AS pos, CAST(cv[d.i] AS BIGINT) AS coord
        |  FROM cent CROSS JOIN dims d WHERE d.i <= len(cv))
        |SELECT cid, pos, coord FROM sel""".stripMargin),

    "q149c_ivf_round_hist" -> (EMB_CTE + IVF_TRAIN_CTES +
      """sel AS (
        |  SELECT 0 AS round, cid, count(*) AS n_assigned FROM a0 GROUP BY cid
        |  UNION ALL
        |  SELECT 1 AS round, cid, count(*) AS n_assigned FROM a1 GROUP BY cid
        |  UNION ALL
        |  SELECT 2 AS round, cid, count(*) AS n_assigned FROM af GROUP BY cid)
        |SELECT CAST(round AS BIGINT) AS round, cid, n_assigned
        |FROM sel""".stripMargin),


    // PQ-ADC mirrored end-to-end: subvector split, seed codebooks (first 16
    // corpus vectors), one Lloyd iteration with floor means, argmin encode
    // (score drops the code-independent |sub|² term; smallest-code
    // tie-break), query LUT with the full |qsub−cv|² expansion, integer
    // partial-distance sum, (adist asc, vec_id asc) rank.
    "q87_pq_ann" -> (EMB_CTE + PQ_CTES +
      """ad AS (
        |  SELECT l.query_id, c.vec_id, CAST(sum(l.pd) AS BIGINT) AS adist
        |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
        |  GROUP BY l.query_id, c.vec_id),
        |r2 AS (
        |  SELECT query_id, vec_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist ASC, vec_id ASC) AS rank
        |  FROM ad)
        |SELECT query_id, vec_id, adist, rank FROM r2 WHERE rank <= 5""".stripMargin),

    // IVF-PQ: q32's unrefined coarse gate (assignment + nProbe=4 probe
    // lists, cosine rule verbatim) composed with q87's PQ chain — ADC
    // runs only on candidates from probed lists.
    "q92_ivfpq_ann" -> (EMB_CTE +
      """cc0 AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS cv
        |  FROM n ORDER BY vec_id LIMIT 16),
        |cc0n AS (
        |  SELECT cid, cv, CAST(list_sum(list_transform(range(1, len(cv)+1),
        |    i -> cv[i]*cv[i])) AS BIGINT) AS cnrm FROM cc0),
        |cs0 AS (
        |  SELECT n.vec_id, c.cid,
        |    CAST(list_sum(list_transform(range(1, len(n.v)+1),
        |      i -> n.v[i]*c.cv[i])) AS BIGINT) AS dot,
        |    c.cnrm AS cnrm
        |  FROM n, cc0n c),
        |ck0 AS (
        |  SELECT vec_id, cid,
        |""".stripMargin +
      s"    ${cosKeySql("dot", "cnrm")} AS ckey\n" +
      """  FROM cs0),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ckey DESC NULLS LAST, cid ASC) AS rn FROM ck0)
        |  WHERE rn = 1),
        |probe AS (
        |  SELECT vec_id AS query_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ckey DESC NULLS LAST, cid ASC) AS rn
        |    FROM ck0 WHERE vec_id < 10)
        |  WHERE rn <= 4),
        |cand AS (
        |  SELECT p.query_id, a.vec_id FROM probe p JOIN assign a ON p.cid = a.cid),
        |""".stripMargin + PQ_CTES +
      """ad AS (
        |  SELECT l.query_id, c.vec_id, CAST(sum(l.pd) AS BIGINT) AS adist
        |  FROM cand cd
        |  JOIN codes c ON cd.vec_id = c.vec_id
        |  JOIN lut l ON l.query_id = cd.query_id
        |    AND c.m = l.m AND c.code = l.code
        |  GROUP BY l.query_id, c.vec_id),
        |r2 AS (
        |  SELECT query_id, vec_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist ASC, vec_id ASC) AS rank
        |  FROM ad)
        |SELECT query_id, vec_id, adist, rank FROM r2 WHERE rank <= 5""".stripMargin),

    "q21_langid" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, $TOKENS_SQL AS tk FROM documents),
         |sc AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(tk, t -> t IN ('the','a','of'))) AS BIGINT) AS score_en,
         |    CAST(len(list_filter(tk, t -> t IN ('data','table','fast'))) AS BIGINT) AS score_es,
         |    CAST(len(list_filter(tk, t -> t IN ('scan','merge','hash'))) AS BIGINT) AS score_de,
         |    CAST(len(list_filter(tk, t -> t IN ('row','value','sort'))) AS BIGINT) AS score_fr,
         |    CAST(len(list_filter(tk, t -> t IN ('join','query','group'))) AS BIGINT) AS score_zh
         |  FROM toks),
         |pr AS (
         |  SELECT *, CASE
         |    WHEN score_en >= score_es AND score_en >= score_de
         |     AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
         |    WHEN score_es >= score_en AND score_es >= score_de
         |     AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
         |    WHEN score_de >= score_en AND score_de >= score_es
         |     AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
         |    WHEN score_fr >= score_en AND score_fr >= score_es
         |     AND score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
         |    WHEN score_zh >= score_en AND score_zh >= score_es
         |     AND score_zh >= score_de AND score_zh >= score_fr THEN 'zh'
         |    ELSE 'und' END AS predicted
         |  FROM sc)
         |SELECT doc_id, lang AS labeled_lang, score_en, score_es, score_de,
         |  score_fr, score_zh, predicted, (predicted = lang) AS is_match
         |FROM pr""".stripMargin,

    "q22_quality" ->
      s"""WITH f AS (
         |  SELECT doc_id, length(text) AS n_chars, $TOKENS_SQL AS tk
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         |    CAST(list_sum(list_transform(tk, t -> length(t))) AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(tk, t -> t IN ('the','a'))) AS BIGINT) AS n_stop
         |  FROM f)
         |SELECT doc_id, n_chars, n_tokens, n_distinct,
         |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
         |  CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
         |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
         |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
         |    0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 200.0)
         |    + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |    + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |  END AS quality_score
         |FROM g""".stripMargin,

    "q114_token_rarity" ->
      s"""WITH post AS (
         |  SELECT doc_id, unnest(list_distinct($TOKENS_SQL)) AS tok
         |  FROM documents),
         |dfreq AS (SELECT tok, count(*) AS df FROM post GROUP BY tok),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |per AS (
         |  SELECT p.doc_id, count(*) AS n_tok,
         |    CAST(sum(df) AS BIGINT) AS sum_df
         |  FROM post p JOIN dfreq USING (tok) GROUP BY p.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(per.n_tok, 0) AS n_distinct_tokens,
         |  COALESCE(per.sum_df, 0) AS sum_df,
         |  CASE WHEN per.n_tok IS NULL THEN NULL
         |       ELSE CAST(per.sum_df AS DOUBLE)
         |            / CAST(per.n_tok * n.n_docs AS DOUBLE) END AS mean_df_ratio
         |FROM documents d CROSS JOIN n
         |LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,

    // The oracle is the NAIVE per-lang window — groupTopK's local-prune
    // + exact-rank hashes equal only if the pruning loses nothing.
    "q113_top_quality_per_lang" -> TOP_QUALITY_ORACLE,

    // q120 computes the identical shortlist through the mergeable
    // top-k AGGREGATE — same oracle, verbatim.
    "q120_topk_aggregate" -> TOP_QUALITY_ORACLE,

    "q23_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($TOKENS_SQL) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS re_tokens,
         |  CAST(length(text) AS DOUBLE) / CAST(len($TOKENS_SQL) AS BIGINT)
         |    AS chars_per_token
         |FROM documents""".stripMargin,

    "q24_fingerprint" ->
      s"""SELECT doc_id,
         |  ${charPolySql("text")} AS char_fp,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform($TOKENS_SQL,
         |      t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(range(1, length(t)+1),
         |               j -> CAST(ord(t[j]) AS BIGINT))),
         |           (c,d) -> (c*31+d) % 1000000007))),
         |    (a,h) -> (a*131+h) % 1000000007) AS token_fp
         |FROM documents""".stripMargin,

    "q33_bucketed_join" ->
      s"""WITH a AS (
         |  SELECT user_id, count(*) AS n_events,
         |    ${exactAvgSql("value")} AS avg_value
         |  FROM events GROUP BY user_id),
         |b AS (
         |  SELECT user_id, count(*) AS n_clicks FROM events
         |  WHERE event_type = 'click' GROUP BY user_id)
         |SELECT a.user_id, a.n_events, a.avg_value,
         |  COALESCE(b.n_clicks, 0) AS n_clicks
         |FROM a LEFT JOIN b ON a.user_id = b.user_id""".stripMargin,

    "q47_delay_by_window" -> (MART_CTE +
      s"""SELECT (scheduled_arrival_epoch // 3600) * 3600 AS window_start_epoch,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay_min,
         |  count(*) AS n_rows
         |FROM mart GROUP BY 1""".stripMargin),

    "q50_delay_percentiles" -> (MART_CTE +
      """SELECT day_type,
        |  quantile_cont(actual_arrival_epoch - scheduled_arrival_epoch, 0.25) AS p25,
        |  quantile_cont(actual_arrival_epoch - scheduled_arrival_epoch, 0.5) AS p50,
        |  quantile_cont(actual_arrival_epoch - scheduled_arrival_epoch, 0.75) AS p75,
        |  count(actual_arrival_epoch - scheduled_arrival_epoch) AS n_obs
        |FROM mart GROUP BY day_type""".stripMargin),

    "q52_corpus_pipeline" ->
      s"""WITH toks AS (
         |  SELECT doc_id, text, lang, source, n_chars, $TOKENS_SQL AS tk
         |  FROM documents),
         |g AS (
         |  SELECT *, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct,
         |    len(list_filter(tk, t -> t IN ('the','a'))) AS n_stop
         |  FROM toks),
         |scored AS (
         |  SELECT doc_id, text, lang, source, n_chars, tk,
         |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE
         |      0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 200.0)
         |      + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |      + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |    END AS quality
         |  FROM g),
         |train AS (
         |  SELECT * FROM scored WHERE quality >= 0.5 AND doc_id % 10 <> 0),
         |dedup AS (
         |  SELECT * FROM train WHERE doc_id IN (
         |    SELECT min(doc_id) FROM train GROUP BY sha256(text))),
         |evsh AS (
         |  SELECT DISTINCT unnest($TRIGRAM_SQL) AS shingle
         |  FROM toks WHERE doc_id % 10 = 0),
         |bad AS (
         |  SELECT DISTINCT p.doc_id
         |  FROM (SELECT doc_id, unnest($TRIGRAM_SQL) AS shingle
         |        FROM dedup) p
         |  JOIN evsh ON p.shingle = evsh.shingle),
         |clean AS (
         |  SELECT * FROM dedup WHERE doc_id NOT IN (SELECT doc_id FROM bad))
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  ${exactAvgSql("quality")} AS avg_quality
         |FROM clean GROUP BY lang, source""".stripMargin,

    "q48_decontaminate" -> DECON_SQL,

    // the Bloom gate changes the SHAPE, never the rows — q71 reuses
    // q48's oracle verbatim (the same exact-decontamination SQL)
    "q71_decontaminate_bloom" -> DECON_SQL,

    "q49_chunk_docs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |st AS (
         |  SELECT doc_id, tk, unnest(range(0, len(tk), 8)) AS s
         |  FROM toks WHERE len(tk) > 0)
         |SELECT doc_id,
         |  s // 8 AS chunk_idx,
         |  CAST(len(list_slice(tk, s + 1, least(s + 12, len(tk)))) AS BIGINT)
         |    AS n_chunk_tokens,
         |  array_to_string(list_slice(tk, s + 1, least(s + 12, len(tk))), ' ')
         |    AS chunk_text
         |FROM st""".stripMargin,

    "q44_sessionize" ->
      """SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |  CAST(sum(CASE WHEN prev_ts IS NULL
        |                  OR FLOOR(epoch(ts))::BIGINT - prev_ts > 1800
        |                THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id
        |          ORDER BY FLOOR(epoch(ts))::BIGINT ASC, event_id ASC
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    lag(FLOOR(epoch(ts))::BIGINT) OVER (PARTITION BY user_id
        |      ORDER BY FLOOR(epoch(ts))::BIGINT ASC, event_id ASC) AS prev_ts
        |  FROM events)""".stripMargin,

    "q45_stratified_sample" ->
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE ${charPolySql("text")} % 1000 <
         |  CASE WHEN lang = 'en' THEN 700
         |       WHEN lang = 'es' THEN 400
         |       ELSE 150 END""".stripMargin,

    "q46_top_terms" ->
      s"""WITH terms AS (
         |  SELECT lang, unnest($TOKENS_SQL) AS term FROM documents),
         |counted AS (
         |  SELECT lang, term, count(*) AS n FROM terms GROUP BY lang, term),
         |ranked AS (
         |  SELECT lang, term, n,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY n DESC, term ASC) AS rank
         |  FROM counted)
         |SELECT lang, term, n, rank FROM ranked WHERE rank <= 10""".stripMargin,

    "q39_salted_join" ->
      s"""WITH dim AS (
         |  SELECT user_id, count(*) AS user_events FROM events GROUP BY user_id)
         |SELECT e.event_type, count(*) AS n,
         |  CAST(sum(d.user_events) AS BIGINT) AS sum_user_events,
         |  ${exactAvgSql("value")} AS avg_value
         |FROM events e JOIN dim d ON e.user_id = d.user_id
         |GROUP BY e.event_type""".stripMargin,

    // q40_peak_hours_approx: intentionally no oracle — the HLL estimate is
    // engine-defined (rows-only check; tolerance pinned in DashboardSpec).

    "q34_frame_sample" ->
      s"""WITH b AS (
         |  SELECT doc_id, ${utf8BytesSql("text")} AS bytes FROM documents),
         |f AS (
         |  SELECT doc_id, bytes,
         |    unnest(list_filter(range(0,
         |      CAST(ceil(len(bytes) / 32.0) AS BIGINT)), i -> i % 2 = 0)) AS frame_idx
         |  FROM b),
         |g AS (
         |  SELECT doc_id, frame_idx,
         |    list_slice(bytes, frame_idx * 32 + 1,
         |      least(frame_idx * 32 + 32, len(bytes))) AS fb
         |  FROM f)
         |SELECT doc_id, frame_idx,
         |  CAST(len(fb) AS BIGINT) AS frame_len,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), fb),
         |    (a,x) -> (a*31+x) % 1000000007) AS frame_fp
         |FROM g""".stripMargin,

    "q35_resize" ->
      s"""WITH b AS (
         |  SELECT doc_id, n_chars, ${utf8BytesSql("text")} AS bytes
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_chars,
         |    list_transform(range(0, CAST(ceil(len(bytes) / 3.0) AS BIGINT)),
         |      i -> bytes[i * 3 + 1]) AS sampled
         |  FROM b)
         |SELECT doc_id,
         |  (n_chars % 640) // 3 AS width,
         |  (n_chars % 480) // 3 AS height,
         |  CAST(len(sampled) AS BIGINT) AS out_len,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sampled),
         |    (a,x) -> (a*31+x) % 1000000007) AS out_fp
         |FROM r""".stripMargin,

    // q25 operates on the UTF-8 BYTES of the media blob (the Spark side
    // decodes binary), so the oracle folds over octets, not characters —
    // byte-exact for non-ASCII text too.
    "q25_multimodal" -> MM_FEATURES_SQL,

    // Mirrors q268: assemble the identical PNG/JPEG header hex (DuckDB
    // slices blobs only through their hex image, so the oracle works in
    // hex space throughout — byte k lives at hex chars 2k+1..2k+2), then
    // parse at the same offsets: PNG fixed, JPEG via the FFC0 scan; the
    // charPoly fingerprint over the full hex pins byte-exact builder
    // parity.
    "q268_image_header_parse" ->
      (s"""WITH m AS (
         |  SELECT doc_id,
         |    (n_chars % 640) + 1 AS w, (n_chars % 480) + 1 AS h,
         |    CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 16 END AS d
         |  FROM documents),
         |hx0 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN
         |      '89504E470000000D49484452' ||
         |      lpad(upper(to_hex(w)), 8, '0') ||
         |      lpad(upper(to_hex(h)), 8, '0') ||
         |      lpad(upper(to_hex(d)), 2, '0') || '02000000'
         |    ELSE
         |      'FFD8FFE000104A46494600010100000100010000FFC0001108' ||
         |      lpad(upper(to_hex(h)), 4, '0') ||
         |      lpad(upper(to_hex(w)), 4, '0') ||
         |      '03012200021101031101'
         |    END AS hx
         |  FROM m),
         |p AS (
         |  SELECT doc_id, hx,
         |    ('0x' || substring(hx, 1, 8))::BIGINT = 2303741511 AS is_png,
         |    strpos(hx, 'FFC0') AS sof
         |  FROM hx0)
         |SELECT doc_id,
         |  CASE WHEN is_png THEN 'png'
         |       WHEN ('0x' || substring(hx, 1, 4))::BIGINT = 65496
         |         THEN 'jpeg' ELSE 'unknown' END AS fmt,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 33, 8))::BIGINT
         |       ELSE ('0x' || substring(hx, sof + 14, 4))::BIGINT
         |  END AS width,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 41, 8))::BIGINT
         |       ELSE ('0x' || substring(hx, sof + 10, 4))::BIGINT
         |  END AS height,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 49, 2))::BIGINT
         |       ELSE ('0x' || substring(hx, sof + 8, 2))::BIGINT
         |  END AS bit_depth,
         |  ${charPolySql("hx")} AS header_fp
         |FROM p""".stripMargin),

    // Mirrors q268b: the identical adversarial blob assembly (APP1
    // payload opening with an FFC0 decoy), and the SAME bounded segment
    // walk as chained CASE hops — pos0 = 5 (first marker after SOI in
    // 1-based hex chars), each hop stops on FFC0 or advances 4 + 2·L
    // hex chars past the declared segment length. strpos would find the
    // decoy at char 49; the walk lands on the true SOF0 at 61.
    "q268b_jpeg_segment_walk" ->
      (s"""WITH m AS (
         |  SELECT doc_id,
         |    (n_chars % 640) + 1 AS w, (n_chars % 480) + 1 AS h,
         |    CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 16 END AS d
         |  FROM documents),
         |hx0 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN
         |      '89504E470000000D49484452' ||
         |      lpad(upper(to_hex(w)), 8, '0') ||
         |      lpad(upper(to_hex(h)), 8, '0') ||
         |      lpad(upper(to_hex(d)), 2, '0') || '02000000'
         |    ELSE
         |      'FFD8FFE000104A46494600010100000100010000' ||
         |      'FFE10008FFC0' || lpad(upper(to_hex(h)), 4, '0') || '0000' ||
         |      'FFC0001108' ||
         |      lpad(upper(to_hex(h)), 4, '0') ||
         |      lpad(upper(to_hex(w)), 4, '0') ||
         |      '03012200021101031101'
         |    END AS hx
         |  FROM m),
         |w0 AS (SELECT doc_id, hx, 5::BIGINT AS pos FROM hx0),
         |w1 AS (SELECT doc_id, hx,
         |  CASE WHEN substring(hx, pos::INT, 4) = 'FFC0' THEN pos
         |       ELSE pos + 4 + 2 * TRY_CAST(
         |         '0x' || substring(hx, pos::INT + 4, 4) AS BIGINT) END
         |  AS pos FROM w0),
         |w2 AS (SELECT doc_id, hx,
         |  CASE WHEN substring(hx, pos::INT, 4) = 'FFC0' THEN pos
         |       ELSE pos + 4 + 2 * TRY_CAST(
         |         '0x' || substring(hx, pos::INT + 4, 4) AS BIGINT) END
         |  AS pos FROM w1),
         |w3 AS (SELECT doc_id, hx,
         |  CASE WHEN substring(hx, pos::INT, 4) = 'FFC0' THEN pos
         |       ELSE pos + 4 + 2 * TRY_CAST(
         |         '0x' || substring(hx, pos::INT + 4, 4) AS BIGINT) END
         |  AS pos FROM w2),
         |p AS (
         |  SELECT doc_id, hx, pos AS sof,
         |    ('0x' || substring(hx, 1, 8))::BIGINT = 2303741511 AS is_png
         |  FROM w3)
         |SELECT doc_id,
         |  CASE WHEN is_png THEN 'png'
         |       WHEN ('0x' || substring(hx, 1, 4))::BIGINT = 65496
         |         THEN 'jpeg' ELSE 'unknown' END AS fmt,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 33, 8))::BIGINT
         |       ELSE ('0x' || substring(hx, sof::INT + 14, 4))::BIGINT
         |  END AS width,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 41, 8))::BIGINT
         |       ELSE ('0x' || substring(hx, sof::INT + 10, 4))::BIGINT
         |  END AS height,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 49, 2))::BIGINT
         |       ELSE ('0x' || substring(hx, sof::INT + 8, 2))::BIGINT
         |  END AS bit_depth,
         |  ${charPolySql("hx")} AS header_fp
         |FROM p""".stripMargin),

    // q56 extracts the identical features through Arrow batches — same
    // oracle, verbatim.
    "q56_multimodal_arrow" -> MM_FEATURES_SQL,

    // Mirrors Histogram.equalDepth: the bin is integer arithmetic on the
    // exact global rank (ROW_NUMBER over the same total order globalRank
    // range-sorts by), micro-unit integer bounds — no interpolated
    // percentile boundary ever exists in either engine.
    "q156_equidepth_bins" ->
      """WITH xs AS (
        |  SELECT l_extendedprice::DOUBLE AS x, l_orderkey, l_linenumber
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |nn AS (SELECT count(*) AS total FROM xs),
        |r AS (
        |  SELECT x, ROW_NUMBER() OVER
        |    (ORDER BY x, l_orderkey, l_linenumber) AS rk
        |  FROM xs)
        |SELECT ((rk - 1) * 8) // total AS bin, count(*) AS n,
        |  CAST(floor(min(x) * 1000000.0 + 0.5) AS BIGINT) AS lo_micro,
        |  CAST(floor(max(x) * 1000000.0 + 0.5) AS BIGINT) AS hi_micro
        |FROM r, nn GROUP BY 1""".stripMargin,

    // Mirrors q157: exact integral group sums (DuckDB's HUGEINT sum ≡
    // Spark's long sum at these magnitudes), the CASE NULL is
    // try_divide's singleton-category contract.
    "q157_target_encode" ->
      """WITH g AS (
        |  SELECT lang, sum(n_chars) AS s, count(*) AS n
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars,
        |  CASE WHEN n = 1 THEN NULL
        |       ELSE CAST(s - n_chars AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |  END AS loo_mean_chars
        |FROM documents d JOIN g USING (lang)""".stripMargin,

    // Mirrors tfidfCosinePairs: BIGINT-floor q_idf, HUGEINT dots/norms
    // internally, and the staged-floor integer membership gate —
    // floor(floor(1e9·dot/lo)·dot/hi) >= 0.25e9 with lo/hi = min/max
    // norm — identical integer floors in both engines, no int128→double
    // cast anywhere (the r8 drift class). The staging never forms dot²
    // or nrm·nrm (both overflow int128 at sf0.1); largest intermediate
    // is dot·1e9. The HASHED dot ships as two BIGINT limbs (the r9
    // resolution: int128-TYPED surface columns — HUGEINT here,
    // DECIMAL(38,0) on the Spark side — are rendered engine-differently
    // by the driver's comparator; int64 limbs < 10¹² cannot be).
    "q158_tfidf_cosine_pairs" -> (TFIDF3_CTES +
      """keyed AS (
        |  SELECT id_a, id_b, n_shared, dot,
        |    (((dot * 1000000000) // least(na.nrm, nb.nrm)) * dot)
        |      // greatest(na.nrm, nb.nrm) AS cos_key_nano
        |  FROM p
        |  JOIN nrm na ON p.id_a = na.id
        |  JOIN nrm nb ON p.id_b = nb.id)
        |SELECT id_a, id_b, n_shared,
        |  CAST(dot // 1000000000000 AS BIGINT) AS dot_hi,
        |  CAST(dot % 1000000000000 AS BIGINT) AS dot_lo,
        |  CAST(cos_key_nano AS BIGINT) AS cos_key_nano
        |FROM keyed
        |WHERE cos_key_nano >= 250000000
        |""".stripMargin),

    // r10 DIAGNOSTICS for the q158 driver-hash divergence (VERDICT r9
    // item 1): the same staged CTEs, read out at three intermediate
    // points on pure-BIGINT surfaces. Whichever is the FIRST red row in
    // CORRECTNESS_r10 names the first diverging stage; all green while
    // q158 stays red implicates the final keyed/gate stage (or the
    // comparator itself).
    "q158a_tfidf_elig" -> (TFIDF3_CTES +
      """sel AS (SELECT 1 AS one)
        |SELECT count(*) AS n_terms,
        |  CAST(min(q_idf) AS BIGINT) AS min_q_idf,
        |  CAST(max(q_idf) AS BIGINT) AS max_q_idf,
        |  CAST(sum(q_idf) // 1000000000000 AS BIGINT) AS sum_q_idf_hi,
        |  CAST(sum(q_idf) % 1000000000000 AS BIGINT) AS sum_q_idf_lo
        |FROM elig""".stripMargin),

    "q158b_tfidf_norms" -> (TFIDF3_CTES +
      """sel AS (SELECT 1 AS one)
        |SELECT id, n_terms,
        |  CAST(nrm // 1000000000000 AS BIGINT) AS nrm_hi,
        |  CAST(nrm % 1000000000000 AS BIGINT) AS nrm_lo
        |FROM nrm""".stripMargin),

    "q158c_tfidf_pairs" -> (TFIDF3_CTES +
      """sel AS (SELECT 1 AS one)
        |SELECT id_a, id_b, n_shared,
        |  CAST(dot // 1000000000000 AS BIGINT) AS dot_hi,
        |  CAST(dot % 1000000000000 AS BIGINT) AS dot_lo
        |FROM p""".stripMargin),

    // Mirrors q167: the shared recursive-CTE clusters, the same
    // size histogram + complement singleton row.
    "q167_cluster_sizes" ->
      s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |),
         |cs AS (
         |  SELECT cluster_id, count(*) AS sz FROM clusters
         |  GROUP BY cluster_id),
         |hist AS (
         |  SELECT CAST(sz AS BIGINT) AS cluster_size,
         |    count(*) AS n_clusters
         |  FROM cs GROUP BY sz),
         |compl AS (
         |  SELECT CAST(1 AS BIGINT) AS cluster_size,
         |    (SELECT count(*) FROM documents) -
         |      COALESCE((SELECT CAST(sum(sz) AS BIGINT) FROM cs), 0)
         |      AS n_clusters)
         |SELECT * FROM hist UNION ALL SELECT * FROM compl""".stripMargin,

    // Mirrors q168: identical edge derivation (the q134 CTE), identical
    // degree orientation, wedge join and closure — integer-only.
    "q168_triangles" ->
      """WITH ev AS (
        |  SELECT event_id // 100 AS trip, event_id % 100 AS seq, user_id
        |  FROM events),
        |e0 AS (
        |  SELECT a.user_id AS s, b.user_id AS d
        |  FROM ev a JOIN ev b ON a.trip = b.trip AND a.seq + 1 = b.seq),
        |und AS (
        |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |  FROM e0 WHERE s <> d),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY node),
        |ori AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
        |         THEN und.a ELSE und.b END AS lo,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
        |         THEN und.b ELSE und.a END AS hi
        |  FROM und
        |  JOIN deg da ON da.node = und.a
        |  JOIN deg db ON db.node = und.b),
        |w AS (
        |  SELECT e1.lo AS x, e1.hi AS u, e2.hi AS v
        |  FROM ori e1 JOIN ori e2 ON e1.lo = e2.lo AND e1.hi < e2.hi),
        |tri AS (
        |  SELECT x, u, v FROM w JOIN und ON w.u = und.a AND w.v = und.b)
        |SELECT node, count(*) AS n_triangles
        |FROM (SELECT unnest([x, u, v]) AS node FROM tri)
        |GROUP BY node""".stripMargin,

    // Mirrors q169: the same graph symmetrized, a recursive CTE whose
    // UNION-dedup on (node, lvl) terminates at the lvl < 4 bound, then
    // min(lvl) per node — levels are small integers, exact everywhere.
    "q169_bfs_levels" ->
      """WITH RECURSIVE ev AS (
        |  SELECT event_id // 100 AS trip, event_id % 100 AS seq, user_id
        |  FROM events),
        |e0 AS (
        |  SELECT a.user_id AS s, b.user_id AS d
        |  FROM ev a JOIN ev b ON a.trip = b.trip AND a.seq + 1 = b.seq),
        |und AS (
        |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |  FROM e0 WHERE s <> d),
        |adj AS (
        |  SELECT a AS s, b AS d FROM und
        |  UNION ALL SELECT b, a FROM und),
        |bfs(node, lvl) AS (
        |  SELECT CAST(1 AS BIGINT), 0
        |  UNION
        |  SELECT adj.d, bfs.lvl + 1
        |  FROM bfs JOIN adj ON adj.s = bfs.node
        |  WHERE bfs.lvl < 4)
        |SELECT node, CAST(min(lvl) AS INT) AS level
        |FROM bfs GROUP BY node""".stripMargin,

    // Mirrors q170: identical micro-unit quantization, identical frame,
    // list-collect + sort + 1-based lower-median index — all integer.
    "q170_rolling_median" ->
      """WITH e AS (
        |  SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_epoch,
        |    list_sort(list(v_micro) OVER w) AS frame
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY ts_epoch ASC, event_id ASC
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, ts_epoch,
        |  CAST(len(frame) AS BIGINT) AS n5,
        |  frame[CAST((len(frame) + 1) // 2 AS INT)] AS med_micro,
        |  CAST(frame[CAST((len(frame) + 1) // 2 AS INT)] AS DOUBLE)
        |    / 1000000.0 AS med
        |FROM f""".stripMargin,

    // Mirrors q171: identical quantized score grid, per-score
    // positive/negative counts, the same strictly-below cumulative
    // window and the doubled concordant+ties numerator; one divide.
    "q171_auc" ->
      """WITH g AS (
        |  SELECT CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS nn
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT np, nn,
        |    COALESCE(sum(nn) OVER (ORDER BY v_micro ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_nn
        |  FROM g)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS num2,
        |  CAST(sum(np * (2 * cum_nn + nn)) AS DOUBLE) /
        |    CAST(2 * sum(np) * sum(nn) AS DOUBLE) AS auc
        |FROM c""".stripMargin,

    // Mirrors q172: the same integer first-digit extraction (decimal
    // rendering of the micro-unit BIGINT, never log10), the same nine
    // hardcoded Benford literals, op-for-op χ² terms.
    "q172_benford" ->
      """WITH obs AS (
        |  SELECT CAST(substr(CAST(v_micro AS VARCHAR), 1, 1) AS INT)
        |      AS digit,
        |    count(*) AS observed
        |  FROM (SELECT CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
        |          AS v_micro
        |        FROM events)
        |  WHERE v_micro >= 1 GROUP BY 1),
        |ex AS (SELECT * FROM (VALUES
        |  (1, 0.3010299956639812e0), (2, 0.17609125905568124e0),
        |  (3, 0.12493873660829993e0), (4, 0.09691001300805642e0),
        |  (5, 0.07918124604762482e0), (6, 0.06694678963061322e0),
        |  (7, 0.05799194697768673e0), (8, 0.05115252244738129e0),
        |  (9, 0.04575749056067514e0)) t(digit, share)),
        |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM obs),
        |j AS (
        |  SELECT ex.digit, CAST(COALESCE(obs.observed, 0) AS BIGINT)
        |      AS observed, ex.share,
        |    CAST(n.n_total AS DOUBLE) * ex.share AS expected
        |  FROM ex LEFT JOIN obs ON ex.digit = obs.digit CROSS JOIN n)
        |SELECT digit, observed, share, expected,
        |  (CAST(observed AS DOUBLE) - expected) *
        |    (CAST(observed AS DOUBLE) - expected) / expected AS chi2_term
        |FROM j""".stripMargin,

    // Mirrors q173: same top-200 vocabulary (freq desc, token asc),
    // same initial-byte blocking, DuckDB's byte-level
    // jaro_winkler_similarity against the byte-level kernel.
    "q173_jaro_winkler" ->
      s"""WITH toks AS (
         |  SELECT unnest($TOKENS_SQL) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
         |top AS (SELECT tok FROM tf ORDER BY freq DESC, tok LIMIT 200),
         |w AS (SELECT tok, substr(tok, 1, 1) AS init FROM top)
         |SELECT a.tok AS tok_a, b.tok AS tok_b,
         |  jaro_winkler_similarity(a.tok, b.tok) AS jw
         |FROM w a JOIN w b ON a.init = b.init AND a.tok < b.tok
         |WHERE jaro_winkler_similarity(a.tok, b.tok) >= 0.6""".stripMargin,

    // Mirrors q174: cents quantization, HUGEINT moments, the same two
    // integer-numerator closed forms, one divide each.
    "q174_ols_group" ->
      s"""WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM li GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  ${hugeAsDoubleSql("n * sxy - sx * sy")} /
        |    NULLIF(${hugeAsDoubleSql("n * sxx - sx * sx")}, 0)
        |    AS slope_cents_per_unit,
        |  ${hugeAsDoubleSql("sy * sxx - sx * sxy")} /
        |    NULLIF(${hugeAsDoubleSql("n * sxx - sx * sx")}, 0)
        |    AS intercept_cents
        |FROM m""".stripMargin,

    // Mirrors q175: the same first-occurrence flag and cumulative sum
    // over the identical (user, time, id) order.
    "q175_cumulative_distinct" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_epoch,
        |    CASE WHEN row_number() OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY ts_epoch ASC, event_id ASC) = 1
        |      THEN 1 ELSE 0 END AS first_seen
        |  FROM e)
        |SELECT user_id, event_id, ts_epoch,
        |  CAST(sum(first_seen) OVER (PARTITION BY user_id
        |    ORDER BY ts_epoch ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_distinct_types
        |FROM f""".stripMargin,

    // Mirrors q176: identical 300 s intervals, running-max island
    // detection, island numbering, exact integer coverage.
    "q176_interval_islands" ->
      """WITH e AS (
        |  SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS s,
        |    FLOOR(epoch(ts))::BIGINT + 300 AS e
        |  FROM events),
        |flags AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN max(e) OVER (PARTITION BY user_id
        |        ORDER BY s ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR s > max(e) OVER (PARTITION BY user_id
        |        ORDER BY s ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_island,
        |    event_id
        |  FROM e),
        |isl AS (
        |  SELECT user_id, s, e,
        |    sum(new_island) OVER (PARTITION BY user_id
        |      ORDER BY s ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flags),
        |agg AS (
        |  SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(i_end - i_start) AS BIGINT) AS covered_sec
        |FROM agg GROUP BY user_id""".stripMargin,

    // Mirrors q177: q173's blocking + scoring as the edge set, the q51
    // recursive-CTE transitive closure, min-string canonical labels.
    "q177_jw_entities" ->
      s"""WITH toks AS (
         |  SELECT unnest($TOKENS_SQL) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
         |top AS (SELECT tok FROM tf ORDER BY freq DESC, tok LIMIT 200),
         |w AS (SELECT tok, substr(tok, 1, 1) AS init FROM top),
         |e0 AS (
         |  SELECT a.tok AS ta, b.tok AS tb
         |  FROM w a JOIN w b ON a.init = b.init AND a.tok < b.tok
         |  WHERE jaro_winkler_similarity(a.tok, b.tok) >= 0.6),
         |sym AS (
         |  SELECT ta AS a, tb AS b FROM e0
         |  UNION SELECT tb, ta FROM e0),
         |reach AS (
         |  WITH RECURSIVE r(src, dst) AS (
         |    SELECT a, a FROM sym
         |    UNION
         |    SELECT r.src, s.b FROM r JOIN sym s ON r.dst = s.a)
         |  SELECT * FROM r)
         |SELECT src AS tok, min(dst) AS entity_id
         |FROM reach GROUP BY src""".stripMargin,

    // Mirrors q178: identical LCG, modular catalog map, collision bump.
    "q178_negative_sample" ->
      """WITH np AS (SELECT max(p_partkey) AS np FROM part),
        |pos AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_partkey, unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS j
        |  FROM lineitem),
        |d AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, j, np,
        |    (l_orderkey * 8 + l_linenumber * 2 + j) % 1000000007 AS x
        |  FROM pos CROSS JOIN np),
        |c AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, j, np,
        |    (x * 1103515245 + 12345) % 2147483647 % np + 1 AS cand
        |  FROM d)
        |SELECT l_orderkey, l_linenumber, j,
        |  CASE WHEN cand = l_partkey THEN cand % np + 1 ELSE cand END
        |    AS neg_partkey
        |FROM c""".stripMargin,

    // Mirrors q179: the q19 brute-force ranking and the q54 banded-LSH
    // ranking (plane literals), joined per query — integer hits, /3.
    "q179_ann_recall" -> (EMB_CTE +
      s"""bp AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ${cosSql("q", "c")} AS cosine
         |  FROM n q, n c WHERE q.vec_id < 10),
         |br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM bp),
         |bt AS (SELECT query_id, vec_id FROM br WHERE rank <= 3),
         |planes AS (SELECT * FROM (VALUES ${bandedPlanesSql(4, 4)})
         |  pl(band, w, pv)),
         |bk AS (
         |  SELECT n.vec_id, p.band,
         |    CAST(sum(CASE WHEN CAST(list_sum(list_transform(
         |      range(1, len(n.v)+1), i -> n.v[i]*p.pv[i])) AS BIGINT) > 0
         |      THEN p.w ELSE 0 END) AS BIGINT) AS bucket
         |  FROM n CROSS JOIN planes p GROUP BY n.vec_id, p.band),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |  FROM bk q JOIN bk c ON q.band = c.band AND q.bucket = c.bucket
         |  WHERE q.vec_id < 10),
         |scored AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    ${cosSql("q", "t")} AS cosine
         |  FROM cand JOIN n q ON cand.query_id = q.vec_id
         |  JOIN n t ON cand.vec_id = t.vec_id),
         |ar AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM scored),
         |at AS (SELECT query_id, vec_id FROM ar WHERE rank <= 3),
         |h AS (
         |  SELECT bt.query_id, CAST(count(at.vec_id) AS BIGINT) AS hits
         |  FROM bt LEFT JOIN at
         |    ON bt.query_id = at.query_id AND bt.vec_id = at.vec_id
         |  GROUP BY bt.query_id)
         |SELECT query_id, CAST(3 AS BIGINT) AS k, hits,
         |  CAST(hits AS DOUBLE) / 3.0 AS recall
         |FROM h""".stripMargin),

    // Mirrors q180: identical micro-unit grid, cumulative ECDF counts,
    // cross-multiplied integer deviations (HUGEINT), one divide.
    "q180_ks_test" ->
      s"""WITH g AS (
        |  SELECT CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1_v,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n2_v
        |  FROM events WHERE event_type IN ('view', 'click')
        |  GROUP BY 1),
        |c AS (
        |  SELECT v_micro, n1_v, n2_v,
        |    sum(n1_v) OVER (ORDER BY v_micro ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
        |    sum(n2_v) OVER (ORDER BY v_micro ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
        |  FROM g),
        |tot AS (
        |  SELECT CAST(sum(n1_v) AS BIGINT) AS n1,
        |    CAST(sum(n2_v) AS BIGINT) AS n2
        |  FROM g),
        |d AS (
        |  SELECT n1, n2,
        |    abs(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
        |      AS diff
        |  FROM c CROSS JOIN tot)
        |SELECT n1, n2, CAST(max(diff) AS BIGINT) AS d_num,
        |  ${hugeAsDoubleSql("max(diff)")} /
        |    ${hugeAsDoubleSql("CAST(n1 AS HUGEINT) * n2")} AS ks
        |FROM d GROUP BY n1, n2""".stripMargin,

    // Mirrors q181: identical bounded frames, cross-multiplied integer
    // jump, per-user argmax with the same deterministic tiebreak.
    "q181_changepoint" ->
      """WITH e AS (
        |  SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts_epoch,
        |    sum(v_micro) OVER wt AS s_trail,
        |    count(v_micro) OVER wt AS n_trail,
        |    sum(v_micro) OVER wl AS s_lead,
        |    count(v_micro) OVER wl AS n_lead
        |  FROM e
        |  WINDOW wt AS (PARTITION BY user_id
        |      ORDER BY ts_epoch ASC, event_id ASC
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
        |    wl AS (PARTITION BY user_id
        |      ORDER BY ts_epoch ASC, event_id ASC
        |      ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)),
        |j AS (
        |  SELECT user_id, event_id, ts_epoch,
        |    abs(s_lead * n_trail - s_trail * n_lead) AS jump
        |  FROM s WHERE n_trail = 3 AND n_lead = 3),
        |r AS (
        |  SELECT user_id, event_id, ts_epoch, jump,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY jump DESC, ts_epoch ASC, event_id ASC) AS rn
        |  FROM j)
        |SELECT user_id, event_id, ts_epoch,
        |  CAST(jump AS BIGINT) AS jump_x3_micro
        |FROM r WHERE rn = 1""".stripMargin,

    // Mirrors q182: q166's contingency + perturbed rater, the full r×c
    // grid, op-for-op χ² terms folded with the q162 sorted
    // left-associative reduce, one mirrored sqrt.
    "q182_cramers_v" ->
      """WITH r0 AS (
        |  SELECT event_type AS a,
        |    CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END AS b
        |  FROM events),
        |ct AS (SELECT a, b, count(*) AS c FROM r0 GROUP BY a, b),
        |ra AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM ct GROUP BY a),
        |rb AS (SELECT b, CAST(sum(c) AS BIGINT) AS rb FROM ct GROUP BY b),
        |nn AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT b) AS BIGINT) AS nc
        |  FROM ct),
        |grid AS (
        |  SELECT ra.a, rb.b, ra.ra, rb.rb, COALESCE(ct.c, 0) AS c
        |  FROM ra CROSS JOIN rb
        |  LEFT JOIN ct ON ct.a = ra.a AND ct.b = rb.b),
        |terms AS (
        |  SELECT a, b,
        |    (CAST(c AS DOUBLE) - CAST(ra AS DOUBLE) * rb / n) *
        |    (CAST(c AS DOUBLE) - CAST(ra AS DOUBLE) * rb / n) /
        |    (CAST(ra AS DOUBLE) * rb / n) AS term
        |  FROM grid CROSS JOIN nn),
        |chi AS (
        |  SELECT list_reduce(list_prepend(0.0, list(term ORDER BY a, b)),
        |    (x, y) -> x + y) AS chi2
        |  FROM terms)
        |SELECT n, chi2,
        |  sqrt(chi2 / (CAST(n AS DOUBLE) *
        |    CAST(least(nr, nc) - 1 AS DOUBLE))) AS cramers_v
        |FROM chi CROSS JOIN nn""".stripMargin,

    // Mirrors q183: row_number over the identical total order stands in
    // for the two-pass rank (same contract), integer index map, lookup.
    "q183_quantile_map" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events WHERE event_type IN ('view', 'click')),
        |v AS (
        |  SELECT v_micro AS mapped_micro,
        |    row_number() OVER (ORDER BY v_micro ASC, event_id ASC) AS ref_r
        |  FROM e WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id, v_micro,
        |    row_number() OVER (ORDER BY v_micro ASC, event_id ASC) AS r
        |  FROM e WHERE event_type = 'click'),
        |t AS (
        |  SELECT CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2
        |  FROM e)
        |SELECT c.event_id, c.v_micro,
        |  ((c.r - 1) * t.n1) // t.n2 + 1 AS target_r,
        |  v.mapped_micro
        |FROM c CROSS JOIN t
        |JOIN v ON ((c.r - 1) * t.n1) // t.n2 + 1 = v.ref_r""".stripMargin,

    // Mirrors q184: identical counts and (count desc, value asc) pick.
    "q184_mode_per_group" ->
      """WITH counts AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY user_id, event_type),
        |r AS (
        |  SELECT user_id, event_type, n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type ASC) AS rn
        |  FROM counts)
        |SELECT user_id, event_type AS mode_type, n FROM r
        |WHERE rn = 1""".stripMargin,

    // Mirrors q185: identical bands, cumulative class counts, the
    // integer rational with HUGEINT products, one divide per split.
    "q185_split_gini" ->
      """WITH g AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS band,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p_v,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_v
        |  FROM events GROUP BY 1),
        |cum AS (
        |  SELECT band, p_v, n_v,
        |    sum(p_v) OVER (ORDER BY band ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_l,
        |    sum(n_v) OVER (ORDER BY band ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_l
        |  FROM g),
        |tot AS (
        |  SELECT CAST(sum(p_v) AS BIGINT) AS pt,
        |    CAST(sum(n_v) AS BIGINT) AS nt
        |  FROM g),
        |sp AS (
        |  SELECT band, p_l, n_l, p_l + n_l AS t_l,
        |    pt - p_l AS p_r, nt - n_l AS n_r,
        |    (pt - p_l) + (nt - n_l) AS t_r
        |  FROM cum CROSS JOIN tot)
        |SELECT band, CAST(t_l AS BIGINT) AS t_l, CAST(t_r AS BIGINT) AS t_r,
        |  CAST((CAST(t_l AS HUGEINT) * t_l - CAST(p_l AS HUGEINT) * p_l -
        |      CAST(n_l AS HUGEINT) * n_l) * t_r +
        |    (CAST(t_r AS HUGEINT) * t_r - CAST(p_r AS HUGEINT) * p_r -
        |      CAST(n_r AS HUGEINT) * n_r) * t_l AS DOUBLE) /
        |  CAST(CAST(t_l AS HUGEINT) * t_r * (t_l + t_r) AS DOUBLE)
        |    AS weighted_gini
        |FROM sp WHERE t_r > 0""".stripMargin,

    // Mirrors q186: identical bands, integer tallies, two divides.
    "q186_calibration_bins" ->
      """WITH b AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events)
        |SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate,
        |  CAST(sum(v_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_score_micro
        |FROM b GROUP BY bin""".stripMargin,

    // Mirrors q187: one contingency pass, integer-numerator metrics,
    // F1 as 2TP/(2TP+FP+FN).
    "q187_confusion_f1" ->
      """WITH c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'view' AND
        |      (CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END)
        |        = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN event_type <> 'view' AND
        |      (CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END)
        |        = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN event_type = 'view' AND
        |      (CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END)
        |        <> 'view' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN event_type <> 'view' AND
        |      (CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END)
        |        <> 'view' THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM events)
        |SELECT tp, fp, fn, tn,
        |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        |  CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
        |  CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
        |FROM c""".stripMargin,

    // Mirrors q188: the identical envelope (broken rows verbatim), a
    // well-formedness gate + regex field extraction standing in for the
    // XML parser, null-safe round-trip equality.
    "q188_xml_extract" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events),
        |d AS (
        |  SELECT event_id, event_type, v_micro,
        |    CASE WHEN event_id % 11 = 0
        |      THEN '<e><t>' || event_type || '</t><v>' || v_micro || '</v>'
        |      ELSE '<e><t>' || event_type || '</t><v>' || v_micro ||
        |        '</v></e>' END AS doc
        |  FROM e),
        |p AS (
        |  SELECT event_id, event_type, v_micro,
        |    CASE WHEN regexp_matches(doc, '^<e><t>.*</t><v>.*</v></e>$')
        |      THEN regexp_extract(doc, '<t>(.*)</t>', 1) END AS xml_type,
        |    CASE WHEN regexp_matches(doc, '^<e><t>.*</t><v>.*</v></e>$')
        |      THEN CAST(regexp_extract(doc, '<v>(.*)</v>', 1) AS BIGINT)
        |      END AS xml_micro
        |  FROM d)
        |SELECT event_id, xml_type, xml_micro,
        |  (xml_type IS NOT DISTINCT FROM event_type) AND
        |    (xml_micro IS NOT DISTINCT FROM v_micro) AS roundtrip_ok
        |FROM p""".stripMargin,

    // Mirrors q189: identical pair condition, one mirrored divide per
    // slope, the same deterministic lower-median pick.
    "q189_theil_sen" ->
      """WITH e AS (
        |  SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events),
        |p AS (
        |  SELECT a.user_id, a.event_id AS ida, b.event_id AS idb,
        |    CAST(b.v_micro - a.v_micro AS DOUBLE) /
        |      CAST(b.ts_epoch - a.ts_epoch AS DOUBLE) AS slope
        |  FROM e a JOIN e b
        |    ON a.user_id = b.user_id AND b.ts_epoch > a.ts_epoch),
        |r AS (
        |  SELECT user_id, slope,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY slope ASC, ida ASC, idb ASC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_pairs
        |  FROM p)
        |SELECT user_id, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  slope AS theil_sen_slope
        |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin,

    // Mirrors q190: identical integer calendar keys, bounded baseline,
    // integer residual numerator, the same two divides.
    "q190_seasonal_residual" ->
      """WITH e AS (
        |  SELECT event_id, FLOOR(epoch(ts))::BIGINT AS ep,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events),
        |k AS (
        |  SELECT event_id, v_micro,
        |    (ep // 86400 + 4) % 7 AS dow, (ep % 86400) // 3600 AS hod
        |  FROM e),
        |b AS (
        |  SELECT dow, hod, count(*) AS n_b,
        |    CAST(sum(v_micro) AS BIGINT) AS sum_b
        |  FROM k GROUP BY dow, hod)
        |SELECT k.event_id, k.dow, k.hod, b.n_b,
        |  k.v_micro * b.n_b - b.sum_b AS residual_num_micro,
        |  CAST(k.v_micro * b.n_b - b.sum_b AS DOUBLE) /
        |    CAST(b.n_b AS DOUBLE) / 1000000.0 AS residual
        |FROM k JOIN b ON k.dow = b.dow AND k.hod = b.hod""".stripMargin,

    // Mirrors q191: identical QI cells, two-level aggregate, rollup.
    "q191_l_diversity" ->
      """WITH bv AS (
        |  SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) % 24 AS hr,
        |    CAST(floor(value / 10.0) AS BIGINT) AS vband, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |cells AS (
        |  SELECT hr, vband, CAST(sum(n) AS BIGINT) AS n_rows,
        |    count(*) AS l_distinct, CAST(max(n) AS BIGINT) AS n_top
        |  FROM bv GROUP BY hr, vband)
        |SELECT count(*) AS n_cells,
        |  CAST(sum(CASE WHEN l_distinct < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_l_lt2,
        |  CAST(sum(CASE WHEN l_distinct < 2 THEN n_rows ELSE 0 END)
        |    AS BIGINT) AS n_rows_l_lt2,
        |  CAST(sum(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_l_lt3,
        |  CAST(sum(CASE WHEN l_distinct < 3 THEN n_rows ELSE 0 END)
        |    AS BIGINT) AS n_rows_l_lt3,
        |  max(CAST(n_top AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |    AS max_dominance
        |FROM cells""".stripMargin,

    // Mirrors q192: the same token-derived counts and the ARI formula
    // with exponent-form literals (a bare 4.71 would parse DECIMAL).
    "q192_readability" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |c AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(tk, x -> length(x)))
         |      AS BIGINT) AS n_chars,
         |    CAST(list_sum(list_transform(tk, x ->
         |      CASE WHEN suffix(x, '.') OR suffix(x, '!') OR
         |        suffix(x, '?') THEN 1 ELSE 0 END)) AS BIGINT) AS n_sents
         |  FROM toks)
         |SELECT doc_id, n_words,
         |  COALESCE(n_chars, 0) AS n_chars, COALESCE(n_sents, 0) AS n_sents,
         |  4.71e0 * (CAST(COALESCE(n_chars, 0) AS DOUBLE) /
         |    NULLIF(CAST(n_words AS DOUBLE), 0)) +
         |  0.5e0 * (CAST(n_words AS DOUBLE) /
         |    NULLIF(CAST(COALESCE(n_sents, 0) AS DOUBLE), 0)) - 21.43e0
         |    AS ari
         |FROM c""".stripMargin,

    // Mirrors q193: identical frame, list → distinct → length.
    "q193_rolling_distinct" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |  FROM events)
        |SELECT user_id, event_id, ts_epoch,
        |  CAST(len(list_distinct(list(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_epoch ASC, event_id ASC
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))) AS BIGINT) AS k5
        |FROM e""".stripMargin,

    // Mirrors q194: same alphabetic bit dictionary, bit_or masks,
    // popcount, and the countDistinct parity column.
    "q194_bitset_distinct" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT)
        |      AS idx
        |  FROM (SELECT DISTINCT event_type FROM events)),
        |j AS (
        |  SELECT e.user_id, e.event_type, d.idx
        |  FROM events e JOIN d USING (event_type))
        |SELECT user_id,
        |  CAST(bit_or(CAST(1 AS BIGINT) << idx) AS BIGINT) AS type_mask,
        |  CAST(bit_count(bit_or(CAST(1 AS BIGINT) << idx)) AS BIGINT)
        |    AS k_bits,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS k
        |FROM j GROUP BY user_id""".stripMargin,

    // Mirrors q195: the q44 session CTE, first-event pick, two-level
    // rollup, one divide.
    "q195_first_touch" ->
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, ts_epoch,
        |    CAST(sum(CASE WHEN prev_ts IS NULL OR ts_epoch - prev_ts > 1800
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id
        |            ORDER BY ts_epoch ASC, event_id ASC
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM (
        |    SELECT user_id, event_id, event_type,
        |      FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |      lag(FLOOR(epoch(ts))::BIGINT) OVER (PARTITION BY user_id
        |        ORDER BY FLOOR(epoch(ts))::BIGINT ASC, event_id ASC)
        |        AS prev_ts
        |    FROM events)),
        |r AS (
        |  SELECT user_id, session_seq, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY ts_epoch ASC, event_id ASC) AS rn
        |  FROM s),
        |ps AS (
        |  SELECT r.user_id, r.session_seq,
        |    max(CASE WHEN r.rn = 1 THEN r.event_type END) AS first_type,
        |    max(CASE WHEN r.event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM r GROUP BY r.user_id, r.session_seq)
        |SELECT first_type, count(*) AS n_sessions,
        |  CAST(sum(converted) AS BIGINT) AS n_converted,
        |  CAST(sum(converted) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS conversion_rate
        |FROM ps GROUP BY first_type""".stripMargin,

    // Mirrors q196: the q44 session CTE, integer micro-credits
    // (1e6 DIV n), exact sums, one displayed divide.
    "q196_linear_attribution" ->
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, ts_epoch,
        |    CAST(sum(CASE WHEN prev_ts IS NULL OR ts_epoch - prev_ts > 1800
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id
        |            ORDER BY ts_epoch ASC, event_id ASC
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM (
        |    SELECT user_id, event_id, event_type,
        |      FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |      lag(FLOOR(epoch(ts))::BIGINT) OVER (PARTITION BY user_id
        |        ORDER BY FLOOR(epoch(ts))::BIGINT ASC, event_id ASC)
        |        AS prev_ts
        |    FROM events)),
        |st AS (
        |  SELECT user_id, session_seq, count(*) AS n_ev,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM s GROUP BY user_id, session_seq)
        |SELECT s.event_type, count(*) AS n_touches,
        |  CAST(sum(1000000 // st.n_ev) AS BIGINT) AS credit_micro_total,
        |  CAST(sum(1000000 // st.n_ev) AS DOUBLE) / 1000000.0 AS credit
        |FROM s JOIN st
        |  ON s.user_id = st.user_id AND s.session_seq = st.session_seq
        |WHERE st.converted = 1
        |GROUP BY s.event_type""".stripMargin,

    // Mirrors q197: identical k-grams (1-based substr), poly hashes,
    // 4-hash window minima, distinct + XOR fold.
    "q197_winnowing" ->
      s"""WITH g0 AS (
         |  SELECT doc_id,
         |    CASE WHEN length(text) >= 8
         |      THEN list_transform(range(1, length(text) - 6),
         |        i -> substr(text, i, 8))
         |      ELSE [] END AS grams
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(grams) AS gram,
         |    generate_subscripts(grams, 1) - 1 AS pos
         |  FROM g0),
         |h AS (
         |  SELECT doc_id, pos, ${charPolySql("gram")} AS hh FROM g),
         |m AS (
         |  SELECT doc_id,
         |    count(*) OVER wi AS nwin, min(hh) OVER wi AS wmin
         |  FROM h
         |  WINDOW wi AS (PARTITION BY doc_id ORDER BY pos
         |                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
         |sel AS (
         |  SELECT DISTINCT doc_id, wmin FROM m WHERE nwin = 4)
         |SELECT d.doc_id,
         |  CAST(count(sel.wmin) AS BIGINT) AS n_fingerprints,
         |  COALESCE(bit_xor(sel.wmin), 0) AS fp_xor
         |FROM documents d LEFT JOIN sel ON d.doc_id = sel.doc_id
         |GROUP BY d.doc_id""".stripMargin,

    // Mirrors q198: commutative min-aggregates, integer latency, the
    // deterministic lower-median pick over the converters frame.
    "q198_time_to_convert" ->
      """WITH e AS (
        |  SELECT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS ep
        |  FROM events),
        |fv AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ep END) AS first_view
        |  FROM e GROUP BY user_id),
        |tc AS (
        |  SELECT e.user_id,
        |    min(e.ep) - fv.first_view AS ttc_sec
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND fv.first_view IS NOT NULL
        |    AND e.ep >= fv.first_view
        |  GROUP BY e.user_id, fv.first_view),
        |r AS (
        |  SELECT ttc_sec,
        |    row_number() OVER (ORDER BY ttc_sec ASC, user_id ASC) AS rn,
        |    count(*) OVER () AS n
        |  FROM tc)
        |SELECT CAST(n AS BIGINT) AS n_converters,
        |  ttc_sec AS median_ttc_sec
        |FROM r WHERE rn = (n + 1) // 2""".stripMargin,

    // Mirrors q166: identical perturbed second rater, the same
    // denominator-cleared integer form, HUGEINT products, one divide.
    "q166_cohens_kappa" ->
      s"""WITH r AS (
        |  SELECT event_type AS a,
        |    CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END AS b
        |  FROM events),
        |ct AS (SELECT a, b, count(*) AS c FROM r GROUP BY a, b),
        |nn AS (
        |  SELECT CAST(sum(c) AS HUGEINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
        |      AS n_agree
        |  FROM ct),
        |ra AS (SELECT a, CAST(sum(c) AS HUGEINT) AS ra FROM ct GROUP BY a),
        |rb AS (SELECT b, CAST(sum(c) AS HUGEINT) AS rb FROM ct GROUP BY b),
        |cr AS (
        |  SELECT CAST(sum(ra * rb) AS BIGINT) AS sum_marg
        |  FROM ra JOIN rb ON ra.a = rb.b)
        |SELECT CAST(n AS BIGINT) AS n_rows, n_agree, sum_marg,
        |  ${hugeAsDoubleSql("n * n_agree - sum_marg")} /
        |    ${hugeAsDoubleSql("n * n - sum_marg")} AS kappa
        |FROM nn, cr""".stripMargin,

    // Mirrors q165: the identical decomposed enrichment built from
    // chr() codepoints (769 = U+0301 combining acute, 768 = U+0300
    // combining grave), utf8proc's nfc_normalize against the JDK
    // normalizer, codepoint counts and the shared charPoly fingerprint.
    "q165_nfc_normalize" ->
      s"""WITH enr AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0
         |         THEN ' cafe' || chr(769) || ' voila' || chr(768)
         |         ELSE '' END AS raw
         |  FROM documents),
         |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM enr)
         |SELECT doc_id, norm <> raw AS was_denormalized,
         |  CAST(length(raw) AS BIGINT) AS n_chars_raw,
         |  CAST(length(norm) AS BIGINT) AS n_chars_nfc,
         |  ${charPolySql("norm")} AS nfc_fp
         |FROM n""".stripMargin,

    // Mirrors q164: the same frequency-ranked 100-term vocab, 1-based
    // positions (pos i−1 unneeded — only ORDER matters to the fold),
    // OOV→0, and the identical (a·31 + id) mod 1e9+7 fold over the
    // position-ordered id list. Empty docs: zero counts, NULL fp.
    "q164_vocab_apply" ->
      s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |tf AS (
         |  SELECT tok, count(*) AS freq
         |  FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY tok),
         |vocab AS (
         |  SELECT tok, CAST(ROW_NUMBER() OVER
         |    (ORDER BY freq DESC, tok) AS BIGINT) AS id
         |  FROM tf ORDER BY freq DESC, tok LIMIT 100),
         |g AS (
         |  SELECT doc_id, i AS pos, tk[i] AS tok
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
         |        FROM toks)),
         |j AS (
         |  SELECT doc_id, pos, COALESCE(v.id, 0) AS id
         |  FROM g LEFT JOIN vocab v USING (tok)),
         |per AS (
         |  SELECT doc_id, list(id ORDER BY pos) AS ids FROM j
         |  GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(CAST(len(ids) AS BIGINT), 0) AS n_tokens,
         |  COALESCE(CAST(len(list_filter(ids, x -> x = 0)) AS BIGINT), 0)
         |    AS n_unk,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), ids),
         |    (a, x) -> (a * 31 + x) % 1000000007) AS ids_fp
         |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin,

    // Mirrors q163: the same (flag, price)-grid weight aggregate,
    // cumulative window, and 2·cum ≥ tot pick — BIGINT casts pin
    // DuckDB's HUGEINT sums back to Spark's long.
    "q163_weighted_median" ->
      """WITH a AS (
        |  SELECT l_returnflag AS flag, l_extendedprice AS price,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT flag, price, w,
        |    CAST(sum(w) OVER (PARTITION BY flag ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tot
        |  FROM a)
        |SELECT flag, tot, min(price) AS weighted_median_price
        |FROM c
        |WHERE cum * 2 >= tot
        |GROUP BY flag, tot""".stripMargin,

    // Mirrors q162: positional bigrams (1-based tk[i] ‖ tk[i+1], pos =
    // i−1 to match posexplode), the same two count tables, and the
    // SAME left-associative fold over the position-ordered ratio list —
    // list(r ORDER BY pos) + list_reduce from 0.0 ≡ Spark's
    // sort_array + aggregate, so every intermediate double rounds
    // identically.
    "q162_lm_fluency" -> (LM_FLUENCY_CTES +
      """sel AS (SELECT doc_id, n_bigrams, fluency FROM flu)
        |SELECT doc_id, n_bigrams, fluency FROM sel""".stripMargin),

    // Perplexity buckets: the SAME fluency CTEs as q162 (one spelling
    // per engine), a corpus-total rank over (fluency DESC NULLS LAST,
    // doc_id), and the integer tercile identity.
    "q231_perplexity_buckets" -> (LM_FLUENCY_CTES +
      """r AS (
        |  SELECT doc_id, n_bigrams,
        |    row_number() OVER (ORDER BY fluency DESC NULLS LAST,
        |                       doc_id ASC) AS rank,
        |    (SELECT count(*) FROM documents) AS n
        |  FROM flu)
        |SELECT doc_id, n_bigrams, CAST(rank AS BIGINT) AS rank,
        |  ((rank - 1) * 3) // n AS bucket
        |FROM r""".stripMargin),

    // Mirrors q161: the identical dyadic-weight lag chain, summed in the
    // identical left-associative order; a NULL lag (short history)
    // NULL-propagates in both engines.
    "q161_ewma" ->
      """WITH e AS (
        |  SELECT event_id, user_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |    value
        |  FROM events WHERE value IS NOT NULL),
        |l AS (
        |  SELECT event_id, user_id, ts_epoch,
        |    value AS x0, lag(value, 1) OVER w AS x1,
        |    lag(value, 2) OVER w AS x2, lag(value, 3) OVER w AS x3,
        |    lag(value, 4) OVER w AS x4, lag(value, 5) OVER w AS x5,
        |    lag(value, 6) OVER w AS x6, lag(value, 7) OVER w AS x7
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY ts_epoch ASC, event_id ASC))
        |SELECT event_id, user_id, ts_epoch,
        |  x0*0.5 + x1*0.25 + x2*0.125 + x3*0.0625 + x4*0.03125 +
        |    x5*0.015625 + x6*0.0078125 + x7*0.0078125 AS ewma
        |FROM l""".stripMargin,

    // Mirrors q160: HUGEINT micro-unit moments (≡ Spark's DECIMAL(38,0)
    // integer pipeline), one moments CTE, six UNION ALL readout rows —
    // the unpivot of Spark's stack() over the same single-aggregate
    // moments row; doubles enter only at the final cast/sqrt/divide.
    "q160_corr_matrix" -> {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cs.indices; j <- (i + 1) until cs.size
      } yield (cs(i), cs(j))
      def q(c: String) = s"CAST(floor($c * 1000000.0 + 0.5) AS HUGEINT)"
      val moments = cs.map(c =>
        s"sum(${q(c)}) AS s_$c, sum(${q(c)} * ${q(c)}) AS ss_$c")
        .mkString(", ")
      val cross = pairs.map { case (a, b) =>
        s"sum(${q(a)} * ${q(b)}) AS sx_${a}__$b"
      }.mkString(", ")
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n_rows,
           |  ${hugeAsDoubleSql(s"n*sx_${a}__$b - s_$a*s_$b")} /
           |    (sqrt(${hugeAsDoubleSql(s"n*ss_$a - s_$a*s_$a")}) *
           |     sqrt(${hugeAsDoubleSql(s"n*ss_$b - s_$b*s_$b")}))
           |    AS corr FROM m""".stripMargin
      }.mkString("\n|UNION ALL\n|".stripMargin)
      s"""WITH m AS (
         |  SELECT count(*) AS n_rows, CAST(count(*) AS HUGEINT) AS n,
         |    $moments, $cross
         |  FROM lineitem)
         |$rows""".stripMargin
    },

    // Mirrors q159: per-key counts, then moments of the counts; the
    // median interpolates on integers (exact in any spelling, the q145
    // precedent), the three divides are the only doubles.
    "q159_key_skew" ->
      """WITH a1 AS (
        |  SELECT count(*) AS c FROM events
        |  WHERE user_id IS NOT NULL GROUP BY user_id),
        |a2 AS (
        |  SELECT count(*) AS c FROM lineitem
        |  WHERE l_partkey IS NOT NULL GROUP BY l_partkey),
        |a3 AS (
        |  SELECT count(*) AS c FROM lineitem
        |  WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag),
        |s AS (
        |  SELECT 'events.user_id' AS audited_key, sum(c) AS n_rows,
        |    count(*) AS n_keys, max(c) AS max_per_key,
        |    quantile_cont(c, 0.5) AS med_per_key
        |  FROM a1
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey', sum(c), count(*), max(c),
        |    quantile_cont(c, 0.5) FROM a2
        |  UNION ALL
        |  SELECT 'lineitem.l_returnflag', sum(c), count(*), max(c),
        |    quantile_cont(c, 0.5) FROM a3)
        |SELECT audited_key, CAST(n_rows AS BIGINT) AS n_rows, n_keys,
        |  max_per_key, med_per_key,
        |  CAST(max_per_key AS DOUBLE) / CAST(n_rows AS DOUBLE) AS max_share,
        |  CAST(max_per_key * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |    AS skew_factor
        |FROM s""".stripMargin,

    // Mirrors q211: the oracle asserts the HLL guarantee (TRUE) next to
    // the exact count it can compute; Spark's side is what tests it.
    "q211_hll_error_bound" -> (MART_CTE +
      """SELECT sudbury_hour_of_day,
        |  count(DISTINCT trip_id) AS n_exact,
        |  TRUE AS within_bound
        |FROM mart GROUP BY sudbury_hour_of_day""".stripMargin),

    // Mirrors q212: the oracle asserts the GK rank guarantee (TRUE)
    // next to the exact group sizes; Spark's relational rank check is
    // what tests it.
    "q212_gk_error_bound" -> (MART_CTE +
      """, d AS (
        |  SELECT day_type,
        |    actual_arrival_epoch - scheduled_arrival_epoch AS delay
        |  FROM mart
        |  WHERE actual_arrival_epoch IS NOT NULL
        |    AND scheduled_arrival_epoch IS NOT NULL)
        |SELECT day_type, CAST(phi_micro AS BIGINT) AS phi_micro,
        |  count(*) AS n_obs, TRUE AS within_bound
        |FROM d CROSS JOIN (VALUES (500000), (900000), (990000)) p(phi_micro)
        |GROUP BY day_type, phi_micro""".stripMargin),

    // SemDeDup: shares the IVF training CTEs verbatim with q32/q149
    // (same centroids, same exact-key assignment), then the keep-
    // priority order (assigned-centroid ckey ASC NULLS FIRST, vec_id
    // ASC) and the cross-multiplied HUGEINT epsilon gate — cos ≥ 3/10
    // ⟺ dot > 0 ∧ dot²·100 ≥ nrm_x·nrm_y·9. Integer surface only.
    "q213_semdedup" -> (EMB_CTE + IVF_TRAIN_CTES + SCK_CTE +
      """pd AS (
        |  SELECT x.vec_id AS xid,
        |    CAST(list_sum(list_transform(range(1, len(nx.v)+1),
        |      i -> nx.v[i]*ny.v[i])) AS BIGINT) AS dot,
        |    nx.nrm AS xn, ny.nrm AS yn
        |  FROM sck x JOIN sck y ON x.cid = y.cid
        |    AND (y.ckey < x.ckey
        |         OR (y.ckey = x.ckey AND y.vec_id < x.vec_id)
        |         OR (y.ckey IS NULL
        |             AND (x.ckey IS NOT NULL OR y.vec_id < x.vec_id)))
        |  JOIN n nx ON x.vec_id = nx.vec_id
        |  JOIN n ny ON y.vec_id = ny.vec_id),
        |pruned AS (
        |  SELECT DISTINCT xid FROM pd
        |  WHERE dot > 0
        |    AND CAST(dot AS HUGEINT) * dot * 100 >=
        |        CAST(xn AS HUGEINT) * yn * 9)
        |SELECT s.vec_id, s.cid,
        |  CAST(CASE WHEN p.xid IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM sck s LEFT JOIN pruned p ON s.vec_id = p.xid""".stripMargin),

    // Prototype pruning: same trained centroids and exact-key
    // assignment; hardest-first rank (ckey ASC NULLS FIRST, id ASC)
    // within the cluster, keep fraction 1/2 as rnk·2 ≤ n_cluster·1.
    "q215_prototype_pruning" -> (EMB_CTE + IVF_TRAIN_CTES + SCK_CTE +
      """r AS (
        |  SELECT vec_id, cid,
        |    CAST(row_number() OVER (PARTITION BY cid
        |      ORDER BY ckey ASC NULLS FIRST, vec_id ASC) AS BIGINT) AS rnk,
        |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n_cluster
        |  FROM sck)
        |SELECT vec_id, cid, rnk, n_cluster,
        |  CAST(CASE WHEN rnk * 2 <= n_cluster * 1 THEN 1 ELSE 0 END
        |    AS BIGINT) AS kept
        |FROM r""".stripMargin),

    // Affinity filter: poly-hashed token buckets (512), smoothed integer
    // ppm weights t/r per bucket, mean over document tokens, selection
    // by cross-multiplied above-corpus-mean — all integer, zero-token
    // documents surface with zeros.
    "q214_affinity_filter" ->
      s"""WITH toks AS (
         |  SELECT doc_id, (lang = 'en') AS t, unnest($TOKENS_SQL) AS tok
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, t, ${charPolySql("tok")} % 512 AS f FROM toks),
         |w AS (
         |  SELECT f,
         |    ((sum(CASE WHEN t THEN 1 ELSE 0 END) + 1) * 1000000)
         |      // (count(*) + 2) AS w
         |  FROM feats GROUP BY f),
         |scored AS (
         |  SELECT fe.doc_id, count(*) AS n_tokens, sum(w.w) AS sw
         |  FROM feats fe JOIN w USING (f) GROUP BY fe.doc_id),
         |perdoc AS (
         |  SELECT d.doc_id,
         |    CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
         |    CAST(COALESCE(s.sw // s.n_tokens, 0) AS BIGINT) AS affinity_ppm
         |  FROM documents d LEFT JOIN scored s USING (doc_id)),
         |m AS (SELECT sum(affinity_ppm) AS tot, count(*) AS n FROM perdoc)
         |SELECT p.doc_id, p.n_tokens, p.affinity_ppm,
         |  CAST(CASE WHEN CAST(p.affinity_ppm AS HUGEINT) * m.n >= m.tot
         |       THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM perdoc p CROSS JOIN m""".stripMargin,

    // Gopher rule filter: one (doc, token) count aggregate feeds all
    // four integer cross-multiplied rules; zero-token docs surface via
    // the left join with zeroed features (the word-count rule rejects
    // them).
    "q216_gopher_rules" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($TOKENS_SQL) AS tok FROM documents),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
         |f AS (
         |  SELECT doc_id, sum(tf) AS n_tokens,
         |    sum(tf * length(tok)) AS sum_token_len,
         |    sum(CASE WHEN tok IN ('the', 'a', 'of') THEN tf ELSE 0 END)
         |      AS n_stop,
         |    max(tf) AS max_tf
         |  FROM tf GROUP BY doc_id),
         |r AS (
         |  SELECT d.doc_id,
         |    CAST(COALESCE(f.n_tokens, 0) AS BIGINT) AS n_tokens,
         |    CAST(COALESCE(f.sum_token_len, 0) AS BIGINT) AS sum_token_len,
         |    CAST(COALESCE(f.n_stop, 0) AS BIGINT) AS n_stop,
         |    CAST(COALESCE(f.max_tf, 0) AS BIGINT) AS max_tf
         |  FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id)
         |SELECT doc_id, n_tokens, sum_token_len, n_stop, max_tf,
         |  CAST(CASE WHEN n_tokens >= 30 AND n_tokens <= 1000
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_words,
         |  CAST(CASE WHEN sum_token_len >= 3 * n_tokens
         |    AND sum_token_len <= 6 * n_tokens AND n_tokens > 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_avg_len,
         |  CAST(CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
         |  CAST(CASE WHEN max_tf * 8 <= n_tokens * 1
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_repetition,
         |  CAST(CASE WHEN (n_tokens >= 30 AND n_tokens <= 1000)
         |    AND (sum_token_len >= 3 * n_tokens
         |      AND sum_token_len <= 6 * n_tokens AND n_tokens > 0)
         |    AND n_stop >= 1 AND max_tf * 8 <= n_tokens * 1
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM r""".stripMargin,

    // DSIR weights: poly-hashed bigram buckets (256), smoothed
    // likelihood ratio cross-multiplied in HUGEINT (mirrors the Spark
    // side's DECIMAL(38,0)) then floored to BIGINT ppm; the keep coin
    // is the content-hash threshold, never a float probability.
    "q217_dsir_weight" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, $TOKENS_SQL AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, (lang = 'zh') AS t, unnest($BIGRAM_SQL) AS s
         |  FROM toks),
         |feats AS (
         |  SELECT doc_id, t, ${charPolySql("s")} % 256 AS f FROM sh),
         |pb AS (
         |  SELECT f, count(*) AS r_f,
         |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS t_f
         |  FROM feats GROUP BY f),
         |tot AS (SELECT sum(r_f) AS r_tot, sum(t_f) AS t_tot FROM pb),
         |w AS (
         |  SELECT f,
         |    CAST((CAST(t_f + 1 AS HUGEINT) * (r_tot + 256) * 1000000)
         |      // (CAST(r_f + 1 AS HUGEINT) * (t_tot + 256)) AS BIGINT) AS w
         |  FROM pb CROSS JOIN tot),
         |sc AS (
         |  SELECT fe.doc_id, count(*) AS n_shingles, sum(w.w) AS sw
         |  FROM feats fe JOIN w USING (f) GROUP BY fe.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(s.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(s.sw // s.n_shingles, 0) AS BIGINT) AS weight_ppm,
         |  CAST(CASE WHEN
         |      ${charPolySql("('dsir:' || CAST(d.doc_id AS VARCHAR))")}
         |        * 48271 % 1000000007 % 2000000
         |        < COALESCE(s.sw // s.n_shingles, 0)
         |    THEN 1 ELSE 0 END AS BIGINT) AS sampled
         |FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id""".stripMargin,

    // Hard negatives: the q19 brute-force cosine chain with a label
    // inequality on the pair (which also drops self-pairs), same
    // deterministic (cosine DESC, id ASC) rank.
    "q221_hard_negatives" -> (EMB_CTE +
      s"""l AS (SELECT vec_id, label FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q JOIN l ql ON q.vec_id = ql.vec_id,
        |       n c JOIN l cl ON c.vec_id = cl.vec_id
        |  WHERE q.vec_id < 10 AND cl.label <> ql.label),
        |r AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p)
        |SELECT query_id, vec_id, cosine, rank FROM r
        |WHERE rank <= 5""".stripMargin),

    // kNN retrieval eval: the oracle ranks ALL candidates per query
    // (window spelling — equivalent to the Spark side's aggregate rank
    // identity over the same total order), then reduces to the three
    // metrics; rr mirrors the Spark side's 1.0/rank double divide.
    "q222_knn_eval" -> (EMB_CTE +
      s"""l AS (SELECT vec_id, label FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ql.label AS qlab, cl.label AS clab,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q JOIN l ql ON q.vec_id = ql.vec_id,
        |       n c JOIN l cl ON c.vec_id = cl.vec_id
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, qlab, clab,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p)
        |SELECT query_id,
        |  CAST(min(CASE WHEN clab = qlab THEN rank END) AS BIGINT)
        |    AS first_rel_rank,
        |  CAST(sum(CASE WHEN clab = qlab AND rank <= 5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hits_at_5,
        |  CAST(1.0 AS DOUBLE) /
        |    CAST(min(CASE WHEN clab = qlab THEN rank END) AS DOUBLE) AS rr
        |FROM r GROUP BY query_id""".stripMargin),

    // kNN classification: the oracle ranks all non-self candidates per
    // query (window spelling of the same total order), takes the top-5
    // label votes, and picks the (votes DESC, label ASC) majority —
    // integer votes, so the majority can never drift.
    "q224_knn_classify" -> (EMB_CTE +
      s"""l AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
        |       FROM embeddings WHERE label IS NOT NULL),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, cl.lab AS clab,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q, n c JOIN l cl ON c.vec_id = cl.vec_id
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, clab,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p),
        |v AS (
        |  SELECT query_id, clab, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY query_id, clab),
        |m AS (
        |  SELECT query_id, clab, votes,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY votes DESC, clab ASC) AS rn
        |  FROM v)
        |SELECT query_id, clab AS pred_label, votes
        |FROM m WHERE rn = 1""".stripMargin),

    // Cluster purity: label contingency over the SAME mirrored IVF
    // training as q32/q149/q213/q215 (`assign`), majority by
    // (n_label DESC, label ASC), purity as BIGINT floor-division ppm.
    "q223_cluster_purity" -> (EMB_CTE + IVF_TRAIN_CTES +
      """lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lb
        |        FROM embeddings),
        |cont AS (
        |  SELECT a.cid, l.lb, count(*) AS n_label
        |  FROM assign a JOIN lab l USING (vec_id)
        |  GROUP BY a.cid, l.lb),
        |tot AS (
        |  SELECT cid, CAST(sum(n_label) AS BIGINT) AS n_assigned
        |  FROM cont GROUP BY cid),
        |maj AS (
        |  SELECT cid, lb, n_label,
        |    row_number() OVER (PARTITION BY cid
        |                       ORDER BY n_label DESC, lb ASC) AS rn
        |  FROM cont WHERE lb IS NOT NULL)
        |SELECT t.cid, t.n_assigned, m.lb AS majority_label,
        |  m.n_label AS n_majority,
        |  (m.n_label * 1000000) // t.n_assigned AS purity_ppm
        |FROM tot t LEFT JOIN maj m ON t.cid = m.cid AND m.rn = 1""".stripMargin),

    // Trigram diversity per source: positional (non-distinct) trigrams,
    // the q158 staging's term spelling; ppm floor division on
    // non-negative BIGINTs mirrors Spark's `div`.
    "q225_ngram_diversity" ->
      s"""WITH toks AS (SELECT doc_id, source, $TOKENS_SQL AS tk
         |             FROM documents),
         |tg AS (
         |  SELECT source, unnest($POS_TRIGRAM_SQL) AS term
         |  FROM toks),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_ngrams,
         |    CAST(count(DISTINCT term) AS BIGINT) AS n_distinct
         |  FROM tg GROUP BY source)
         |SELECT d.source,
         |  COALESCE(a.n_ngrams, 0) AS n_ngrams,
         |  COALESCE(a.n_distinct, 0) AS n_distinct,
         |  CASE WHEN COALESCE(a.n_ngrams, 0) > 0
         |       THEN (a.n_distinct * 1000000) // a.n_ngrams
         |       ELSE 0 END AS diversity_ppm
         |FROM (SELECT DISTINCT source FROM documents) d
         |LEFT JOIN agg a ON d.source = a.source""".stripMargin,

    // Repeat planner: equal-share targets, cap R*=4, positive-integer
    // ceiling identity (a+b-1)//b — pure BIGINT arithmetic throughout.
    "q226_repeat_plan" ->
      s"""WITH inv AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len($TOKENS_SQL)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |t AS (
         |  SELECT *, CAST(2000000 // (SELECT count(*) FROM inv) AS BIGINT)
         |    AS target_tokens FROM inv),
         |p AS (
         |  SELECT *, least(target_tokens, n_tokens * 4) AS planned_tokens
         |  FROM t)
         |SELECT source, n_docs, n_tokens, target_tokens, planned_tokens,
         |  CASE WHEN n_tokens > 0
         |       THEN (planned_tokens + n_tokens - 1) // n_tokens
         |       ELSE 0 END AS n_epochs,
         |  target_tokens - planned_tokens AS shortfall
         |FROM p""".stripMargin,

    // Cluster-balanced sample: the mirrored IVF assignment (`assign`),
    // the charPolyHash coin over 'cbs:' || id, and a per-cluster rank —
    // the oracle's window spelling of the same (coin ASC, id ASC) total
    // order the Spark side ranks with its bounded top-k.
    "q228_cluster_sample" -> (EMB_CTE + IVF_TRAIN_CTES +
      s"""cs AS (SELECT vec_id, 'cbs:' || CAST(vec_id AS VARCHAR) AS s
         |       FROM embeddings),
         |coin AS (SELECT vec_id, ${charPolySql("s")} AS coin FROM cs),
         |r AS (
         |  SELECT a.cid, a.vec_id, c.coin,
         |    row_number() OVER (PARTITION BY a.cid
         |                       ORDER BY c.coin ASC, a.vec_id ASC) AS rank
         |  FROM assign a JOIN coin c USING (vec_id))
         |SELECT cid, vec_id, coin, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 20""".stripMargin),

    // Triplet margin: the oracle ranks each label-split half by the
    // SAME HUGEINT cosine key the IVF oracles use (cosKeySql — query
    // norm shared, so the key order is the cosine order), then compares
    // the two keys; every arithmetic step is integer.
    "q229_triplet_margin" -> (EMB_CTE +
      s"""l AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
         |      FROM embeddings WHERE label IS NOT NULL),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ql.lab AS qlab, cl.lab AS clab,
         |    CAST(list_sum(list_transform(range(1, len(q.v)+1),
         |      i -> q.v[i]*c.v[i])) AS BIGINT) AS dot,
         |    c.nrm AS cnrm
         |  FROM n q JOIN l ql ON q.vec_id = ql.vec_id,
         |       n c JOIN l cl ON c.vec_id = cl.vec_id
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |k AS (
         |  SELECT query_id, vec_id, qlab, clab,
         |    ${cosKeySql("dot", "cnrm")} AS ckey
         |  FROM p),
         |pos AS (
         |  SELECT query_id, vec_id AS pos_id, ckey AS pkey FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ckey DESC NULLS LAST, vec_id ASC) AS rn
         |    FROM k WHERE clab = qlab) WHERE rn = 1),
         |neg AS (
         |  SELECT query_id, vec_id AS neg_id, ckey AS nkey FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ckey DESC NULLS LAST, vec_id ASC) AS rn
         |    FROM k WHERE clab <> qlab) WHERE rn = 1)
         |SELECT q2.vec_id AS query_id, pos.pos_id, neg.neg_id,
         |  CASE WHEN pos.pkey > neg.nkey THEN CAST(1 AS BIGINT)
         |       WHEN pos.pkey <= neg.nkey THEN CAST(0 AS BIGINT)
         |       ELSE NULL END AS margin_positive
         |FROM (SELECT vec_id FROM l WHERE vec_id < 10) q2
         |LEFT JOIN pos ON q2.vec_id = pos.query_id
         |LEFT JOIN neg ON q2.vec_id = neg.query_id""".stripMargin),

    // Label noise: the q224 majority spelling at 50 queries, joined to
    // the point's own label — integer flags.
    "q236_label_noise" -> (EMB_CTE +
      s"""l AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
        |       FROM embeddings WHERE label IS NOT NULL),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, cl.lab AS clab,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q, n c JOIN l cl ON c.vec_id = cl.vec_id
        |  WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, clab,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p),
        |v AS (
        |  SELECT query_id, clab, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY query_id, clab),
        |m AS (
        |  SELECT query_id, clab, votes,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY votes DESC, clab ASC) AS rn
        |  FROM v)
        |SELECT m.query_id, ol.lab AS own_label, m.clab AS pred_label,
        |  m.votes,
        |  CAST(CASE WHEN m.clab <> ol.lab THEN 1 ELSE 0 END AS BIGINT)
        |    AS suspect
        |FROM m JOIN l ol ON m.query_id = ol.vec_id
        |WHERE m.rn = 1""".stripMargin),

    // Char-grain dup spans: the q137 shape over 12-codepoint windows —
    // grams via 1-based substr (codepoint semantics both engines), the
    // SAME poly hash as the Spark kernel (the q197 winnowing mirror
    // discipline: the oracle spells the per-substring derivation, the
    // hash match proves the rolling kernel), then dup set / islands /
    // share verbatim from q137.
    "q237_char_dup_spans" -> (CHAR12_CTES +
      s"""d AS (
         |  SELECT h AS shingle FROM ch GROUP BY h
         |  HAVING count(DISTINCT doc_id) >= 2),
         |fl AS (
         |  SELECT ch.doc_id, ch.pos, d.shingle IS NOT NULL AS dup
         |  FROM ch LEFT JOIN d ON ch.h = d.shingle),
         |runs AS (
         |  SELECT doc_id,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM fl WHERE dup),
         |rl AS (
         |  SELECT doc_id, max(cnt) AS max_run FROM (
         |    SELECT doc_id, grp, count(*) AS cnt FROM runs
         |    GROUP BY doc_id, grp) GROUP BY doc_id),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_shingles,
         |    count(*) FILTER (dup) AS n_dup
         |  FROM fl GROUP BY doc_id)
         |SELECT a.doc_id, a.n_shingles, a.n_dup,
         |  CAST(a.n_dup AS DOUBLE) / CAST(a.n_shingles AS DOUBLE) AS dup_share,
         |  CAST(COALESCE(r.max_run, 0) AS BIGINT) AS max_run
         |FROM agg a LEFT JOIN rl r USING (doc_id)""".stripMargin),

    // Char-grain scrub: dup windows over the shared char CTEs, then the
    // BRUTE-FORCE per-codepoint spelling of coverage — a dense char
    // explode, the q233 windowed max at ROWS 11 PRECEDING (positions ≡
    // rows on the dense series), ordered ''-joined string_agg of the
    // uncovered codepoints. The Spark side cuts islands with substr
    // folds instead; the hash match proves the two reassemblies equal.
    "q246_char_dedup_scrub" -> (CHAR12_CTES +
      """d AS (
        |  SELECT h FROM ch GROUP BY h
        |  HAVING count(DISTINCT doc_id) >= 2),
        |st AS (
        |  SELECT ch.doc_id, ch.pos, 1 AS flag FROM ch JOIN d USING (h)),
        |cp AS (
        |  SELECT doc_id, i - 1 AS pos, substr(text, i, 1) AS c
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |        FROM documents)),
        |cov AS (
        |  SELECT cp.doc_id, cp.pos, cp.c,
        |    max(COALESCE(st.flag, 0)) OVER (
        |      PARTITION BY cp.doc_id ORDER BY cp.pos
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS covered
        |  FROM cp LEFT JOIN st ON cp.doc_id = st.doc_id
        |    AND cp.pos = st.pos),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chars,
        |    CAST(sum(covered) AS BIGINT) AS n_removed,
        |    string_agg(CASE WHEN covered = 0 THEN c END, ''
        |      ORDER BY pos) AS clean_text
        |  FROM cov GROUP BY doc_id)
        |SELECT d2.doc_id,
        |  COALESCE(a.n_chars, 0) AS n_chars,
        |  COALESCE(a.n_removed, 0) AS n_removed,
        |  COALESCE(a.clean_text, '') AS clean_text
        |FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id""".stripMargin),

    // Char-grain contamination: distinct per-train-doc window hashes vs
    // the eval slice's distinct hash set, share with NULL-on-zero —
    // the q132 readout over the shared char CTEs.
    "q243_char_contamination" -> (CHAR12_CTES +
      """tr AS (SELECT DISTINCT doc_id, h FROM ch WHERE doc_id % 10 <> 0),
        |evh AS (SELECT DISTINCT h FROM ch WHERE doc_id % 10 = 0),
        |tot AS (
        |  SELECT d.doc_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_windows
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
        |  LEFT JOIN (SELECT doc_id, count(*) AS n FROM tr
        |             GROUP BY doc_id) c USING (doc_id)),
        |hits AS (
        |  SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM tr JOIN evh USING (h) GROUP BY tr.doc_id)
        |SELECT t.doc_id, t.n_windows, COALESCE(hi.n_hits, 0) AS n_hits,
        |  CASE WHEN t.n_windows > 0
        |       THEN CAST(COALESCE(hi.n_hits, 0) AS DOUBLE)
        |              / CAST(t.n_windows AS DOUBLE)
        |       ELSE NULL END AS contamination
        |FROM tot t LEFT JOIN hits hi ON t.doc_id = hi.doc_id""".stripMargin),

    // Gated kNN eval: the q222 readout over the q32 probe-list gate —
    // the shared training CTEs + the shared gate CTEs, then the window
    // rank WITHIN the gated candidate set; the left join from the query
    // universe keeps gate-emptied queries visible as (NULL, 0, NULL).
    "q238_knn_eval_gated" -> (EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = true) +
      s"""l AS (SELECT vec_id, label FROM embeddings),
        |p2 AS (
        |  SELECT cd.query_id, cd.vec_id, ql.label AS qlab, cl.label AS clab,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM cand cd
        |  JOIN n q ON cd.query_id = q.vec_id
        |  JOIN n c ON cd.vec_id = c.vec_id
        |  JOIN l ql ON cd.query_id = ql.vec_id
        |  JOIN l cl ON cd.vec_id = cl.vec_id),
        |r AS (
        |  SELECT query_id, qlab, clab,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p2),
        |agg AS (
        |  SELECT query_id,
        |    CAST(min(CASE WHEN clab = qlab THEN rank END) AS BIGINT)
        |      AS first_rel_rank,
        |    CAST(sum(CASE WHEN clab = qlab AND rank <= 5 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hits_at_5
        |  FROM r GROUP BY query_id)
        |SELECT q2.vec_id AS query_id, a.first_rel_rank,
        |  COALESCE(a.hits_at_5, 0) AS hits_at_5,
        |  CAST(1.0 AS DOUBLE) / CAST(a.first_rel_rank AS DOUBLE) AS rr
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q2
        |LEFT JOIN agg a ON q2.vec_id = a.query_id""".stripMargin),

    // Gated label noise: the q236 majority spelling over the q32
    // probe-list gate (50 queries) — the confident-learning audit as a
    // production pipeline would actually run it.
    "q239_label_noise_gated" -> (EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 50", 4, excludeSelf = true) +
      s"""l AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
        |       FROM embeddings WHERE label IS NOT NULL),
        |p2 AS (
        |  SELECT cd.query_id, cd.vec_id, cl.lab AS clab,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM cand cd
        |  JOIN n q ON cd.query_id = q.vec_id
        |  JOIN n c ON cd.vec_id = c.vec_id
        |  JOIN l cl ON cd.vec_id = cl.vec_id),
        |r AS (
        |  SELECT query_id, vec_id, clab,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p2),
        |v AS (
        |  SELECT query_id, clab, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY query_id, clab),
        |m AS (
        |  SELECT query_id, clab, votes,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY votes DESC, clab ASC) AS rn
        |  FROM v)
        |SELECT m.query_id, ol.lab AS own_label, m.clab AS pred_label,
        |  m.votes,
        |  CAST(CASE WHEN m.clab <> ol.lab THEN 1 ELSE 0 END AS BIGINT)
        |    AS suspect
        |FROM m JOIN l ol ON m.query_id = ol.vec_id
        |WHERE m.rn = 1""".stripMargin),

    // Gated triplet margin: the q229 spelling (HUGEINT cosine key,
    // label-split rank-1 halves, NULL-propagating margin compare) over
    // the shared gate CTEs' candidate set.
    "q242_triplet_margin_gated" -> (EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = true) +
      s"""l AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
         |      FROM embeddings WHERE label IS NOT NULL),
         |p2 AS (
         |  SELECT cd.query_id, cd.vec_id, ql.lab AS qlab, cl.lab AS clab,
         |    CAST(list_sum(list_transform(range(1, len(q.v)+1),
         |      i -> q.v[i]*c.v[i])) AS BIGINT) AS dot,
         |    c.nrm AS cnrm
         |  FROM cand cd
         |  JOIN n q ON cd.query_id = q.vec_id
         |  JOIN n c ON cd.vec_id = c.vec_id
         |  JOIN l ql ON cd.query_id = ql.vec_id
         |  JOIN l cl ON cd.vec_id = cl.vec_id),
         |k2 AS (
         |  SELECT query_id, vec_id, qlab, clab,
         |    ${cosKeySql("dot", "cnrm")} AS ckey
         |  FROM p2),
         |pos AS (
         |  SELECT query_id, vec_id AS pos_id, ckey AS pkey FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ckey DESC NULLS LAST, vec_id ASC) AS rn
         |    FROM k2 WHERE clab = qlab) WHERE rn = 1),
         |neg AS (
         |  SELECT query_id, vec_id AS neg_id, ckey AS nkey FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ckey DESC NULLS LAST, vec_id ASC) AS rn
         |    FROM k2 WHERE clab <> qlab) WHERE rn = 1)
         |SELECT q2.vec_id AS query_id, pos.pos_id, neg.neg_id,
         |  CASE WHEN pos.pkey > neg.nkey THEN CAST(1 AS BIGINT)
         |       WHEN pos.pkey <= neg.nkey THEN CAST(0 AS BIGINT)
         |       ELSE NULL END AS margin_positive
         |FROM (SELECT vec_id FROM l WHERE vec_id < 10) q2
         |LEFT JOIN pos ON q2.vec_id = pos.query_id
         |LEFT JOIN neg ON q2.vec_id = neg.query_id""".stripMargin),

    // Gated hard negatives: the q221 spelling (label inequality, cosine
    // rank <= 5) over the shared gate CTEs' candidate set.
    "q245_hard_negatives_gated" -> (EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = true) +
      s"""l AS (SELECT vec_id, label FROM embeddings),
         |p2 AS (
         |  SELECT cd.query_id, cd.vec_id,
         |    ${cosSql("q", "c")} AS cosine
         |  FROM cand cd
         |  JOIN n q ON cd.query_id = q.vec_id
         |  JOIN n c ON cd.vec_id = c.vec_id
         |  JOIN l ql ON cd.query_id = ql.vec_id
         |  JOIN l cl ON cd.vec_id = cl.vec_id
         |  WHERE cl.label <> ql.label),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM p2)
         |SELECT query_id, vec_id, cosine, rank FROM r
         |WHERE rank <= 5""".stripMargin),

    // Rank agreement: both rankings' window spellings, the per-matched
    // prefix-credit CASE (weights Σ_{d=max(re,rg)..5} 60/d over the
    // lcm-300 denominator), floor-ppm — integers end to end.
    "q244_gate_rank_agreement" -> (EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = false) +
      s"""gs AS (
        |  SELECT c.query_id, c.vec_id,
        |    ${cosSql("q", "t")} AS cosine
        |  FROM cand c JOIN n q ON c.query_id = q.vec_id
        |  JOIN n t ON c.vec_id = t.vec_id),
        |gr AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rg
        |  FROM gs),
        |g5 AS (SELECT query_id, vec_id, rg FROM gr WHERE rg <= 5),
        |bp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q, n c WHERE q.vec_id < 10),
        |br AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS re
        |  FROM bp),
        |b5 AS (SELECT query_id, vec_id, re FROM br WHERE re <= 5),
        |m AS (
        |  SELECT b5.query_id,
        |    CASE greatest(b5.re, g5.rg)
        |      WHEN 1 THEN 137 WHEN 2 THEN 77 WHEN 3 THEN 47
        |      WHEN 4 THEN 27 ELSE 12 END AS w
        |  FROM b5 JOIN g5
        |    ON b5.query_id = g5.query_id AND b5.vec_id = g5.vec_id),
        |agg AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_matched,
        |    CAST(sum(w) AS BIGINT) AS ao_num
        |  FROM m GROUP BY query_id)
        |SELECT q2.vec_id AS query_id,
        |  COALESCE(a.n_matched, 0) AS n_matched,
        |  COALESCE(a.ao_num, 0) AS ao_num,
        |  CAST(300 AS BIGINT) AS ao_den,
        |  (COALESCE(a.ao_num, 0) * 1000000) // 300 AS ao_ppm
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q2
        |LEFT JOIN agg a ON q2.vec_id = a.query_id""".stripMargin),

    // Gate knob curve: the q244 weights and the q240 overlap, swept —
    // ONE probe-RANK attach (the gate CTE's row_number uncapped), each
    // knob a filter against it, per-knob windows, then the aggregate
    // floor-ppm curve; weights/denominator literals are q244's (L=60).
    "q247_gate_knob_curve" -> (EMB_CTE + IVF_TRAIN_CTES +
      s"""proberk AS (
        |  SELECT vec_id AS query_id, cid, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY ckey DESC NULLS LAST, cid ASC)
        |    AS probe_rank
        |  FROM kf WHERE vec_id < 10),
        |sc AS (
        |  SELECT p.query_id, a.vec_id, p.probe_rank,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM proberk p JOIN assign a ON p.cid = a.cid
        |  JOIN n q ON p.query_id = q.vec_id
        |  JOIN n c ON a.vec_id = c.vec_id),
        |bp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q, n c WHERE q.vec_id < 10),
        |b5 AS (
        |  SELECT query_id, vec_id, re FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS re
        |    FROM bp) WHERE re <= 5),
        |knobs AS (SELECT unnest([1, 2, 4, 8, 16]) AS n_probe),
        |gr AS (
        |  SELECT k2.n_probe, s2.query_id, s2.vec_id,
        |    row_number() OVER (PARTITION BY k2.n_probe, s2.query_id
        |      ORDER BY s2.cosine DESC, s2.vec_id ASC) AS rg
        |  FROM sc s2 JOIN knobs k2 ON s2.probe_rank <= k2.n_probe),
        |g5 AS (SELECT n_probe, query_id, vec_id, rg FROM gr WHERE rg <= 5),
        |nqc AS (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10),
        |m AS (
        |  SELECT g5.n_probe,
        |    CASE greatest(b5.re, g5.rg)
        |      WHEN 1 THEN 137 WHEN 2 THEN 77 WHEN 3 THEN 47
        |      WHEN 4 THEN 27 ELSE 12 END AS w
        |  FROM b5 JOIN g5
        |    ON b5.query_id = g5.query_id AND b5.vec_id = g5.vec_id),
        |agg AS (
        |  SELECT n_probe, CAST(count(*) AS BIGINT) AS n_matched,
        |    CAST(COALESCE(sum(w), 0) AS BIGINT) AS ao_num
        |  FROM m GROUP BY n_probe)
        |SELECT CAST(k3.n_probe AS BIGINT) AS n_probe,
        |  CAST(nq AS BIGINT) AS n_queries,
        |  COALESCE(a.n_matched, 0) AS n_matched,
        |  CAST((COALESCE(a.n_matched, 0) * 1000000) // (5 * nq)
        |    AS BIGINT) AS recall_ppm,
        |  COALESCE(a.ao_num, 0) AS ao_num,
        |  CAST(300 * nq AS BIGINT) AS ao_den,
        |  CAST((COALESCE(a.ao_num, 0) * 1000000) // (300 * nq)
        |    AS BIGINT) AS ao_ppm
        |FROM knobs k3 CROSS JOIN nqc
        |LEFT JOIN agg a ON k3.n_probe = a.n_probe""".stripMargin),

    // IVF-gate recall audit (the q179 shape): the q32 gated ranking's
    // top-5 vs the q19 exact brute-force top-5, integer hits, /5.
    "q240_ivf_recall" -> (EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = false) +
      s"""gs AS (
        |  SELECT c.query_id, c.vec_id,
        |    ${cosSql("q", "t")} AS cosine
        |  FROM cand c JOIN n q ON c.query_id = q.vec_id
        |  JOIN n t ON c.vec_id = t.vec_id),
        |gr AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM gs),
        |g5 AS (SELECT query_id, vec_id FROM gr WHERE rank <= 5),
        |bp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q, n c WHERE q.vec_id < 10),
        |br AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM bp),
        |b5 AS (SELECT query_id, vec_id FROM br WHERE rank <= 5),
        |h AS (
        |  SELECT b5.query_id, CAST(count(g5.vec_id) AS BIGINT) AS hits
        |  FROM b5 LEFT JOIN g5
        |    ON b5.query_id = g5.query_id AND b5.vec_id = g5.vec_id
        |  GROUP BY b5.query_id)
        |SELECT query_id, CAST(5 AS BIGINT) AS k, hits,
        |  CAST(hits AS DOUBLE) / 5.0 AS recall
        |FROM h""".stripMargin),

    // t-closeness: the same cross-multiplied HUGEINT terms over the
    // full class x value grid, floor-divided to ppm — pure integers.
    "q235_t_closeness" ->
      """WITH counts AS (
        |  SELECT source AS cls, lang AS v, count(*) AS n_cv
        |  FROM documents GROUP BY source, lang),
        |per_class AS (
        |  SELECT cls, CAST(sum(n_cv) AS BIGINT) AS n_c
        |  FROM counts GROUP BY cls),
        |per_val AS (
        |  SELECT v, CAST(sum(n_cv) AS BIGINT) AS n_v
        |  FROM counts GROUP BY v),
        |tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS N FROM per_val),
        |grid AS (
        |  SELECT pc.cls, pc.n_c, t.N,
        |    abs(CAST(COALESCE(c.n_cv, 0) AS HUGEINT) * t.N
        |        - CAST(pv.n_v AS HUGEINT) * pc.n_c) AS term
        |  FROM per_class pc CROSS JOIN per_val pv
        |  LEFT JOIN counts c ON pc.cls = c.cls AND pv.v = c.v
        |  CROSS JOIN tot t),
        |agg AS (
        |  SELECT cls, any_value(n_c) AS n_rows, any_value(N) AS N2,
        |    sum(term) AS num
        |  FROM grid GROUP BY cls)
        |SELECT cls AS source, n_rows,
        |  CAST((num * 1000000) //
        |    (CAST(n_rows AS HUGEINT) * N2 * 2) AS BIGINT) AS tv_ppm,
        |  CAST(CASE WHEN num * 5 >
        |    CAST(n_rows AS HUGEINT) * N2 * 2 * 1
        |    THEN 1 ELSE 0 END AS BIGINT) AS violates
        |FROM agg""".stripMargin,

    // Shard plan: the window spelling of the same size-desc rank and
    // the identical snake-deal CASE arithmetic — pure integers.
    "q234_shard_plan" ->
      s"""WITH sz AS (
         |  SELECT doc_id, CAST(len($TOKENS_SQL) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_tokens,
         |    row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC)
         |      AS rank
         |  FROM sz)
         |SELECT doc_id, n_tokens, CAST(rank AS BIGINT) AS rank,
         |  CASE WHEN (rank - 1) % 16 < 8 THEN (rank - 1) % 16
         |       ELSE 16 - 1 - ((rank - 1) % 16) END AS shard
         |FROM r""".stripMargin,

    // Dedup scrub: the q137 shingle spelling, dup starts, a dense
    // per-token windowed max (ROWS n-1 PRECEDING ≡ positions — the
    // token series is dense), ordered string_agg reassembly of the
    // uncovered tokens.
    "q233_dedup_scrub" -> (POS_TRI_PS_CTES +
      s"""d AS (
         |  SELECT shingle FROM ps GROUP BY shingle
         |  HAVING count(DISTINCT doc_id) >= 2),
         |st AS (
         |  SELECT ps.doc_id, ps.pos, 1 AS flag
         |  FROM ps JOIN d USING (shingle)),
         |tp AS (
         |  SELECT doc_id, i - 1 AS pos, tk[i] AS tok
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
         |        FROM toks)),
         |cov AS (
         |  SELECT tp.doc_id, tp.pos, tp.tok,
         |    max(COALESCE(st.flag, 0)) OVER (
         |      PARTITION BY tp.doc_id ORDER BY tp.pos
         |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
         |  FROM tp LEFT JOIN st ON tp.doc_id = st.doc_id
         |    AND tp.pos = st.pos),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(covered) AS BIGINT) AS n_removed,
         |    string_agg(CASE WHEN covered = 0 THEN tok END, ' '
         |      ORDER BY pos) AS clean_text
         |  FROM cov GROUP BY doc_id)
         |SELECT d2.doc_id,
         |  COALESCE(a.n_tokens, 0) AS n_tokens,
         |  COALESCE(a.n_removed, 0) AS n_removed,
         |  COALESCE(a.clean_text, '') AS clean_text
         |FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id""".stripMargin),

    // Matryoshka recall: both rankings re-derived from the same
    // quantized lists (prefix = v[1..16]), the q19 window spelling for
    // each, then an equi-join overlap count — integer surface.
    "q232_matryoshka_recall" -> (EMB_CTE +
      s"""pp AS (
        |  SELECT vec_id, v, nrm,
        |    CAST(list_sum(list_transform(range(1, 17), i -> v[i]*v[i]))
        |      AS BIGINT) AS pnrm
        |  FROM n),
        |pr AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ${cosSql("q", "c")} AS cosine,
        |    CAST(CAST(list_sum(list_transform(range(1, 17),
        |        i -> q.v[i]*c.v[i])) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(q.pnrm AS DOUBLE)) * sqrt(CAST(c.pnrm AS DOUBLE)))
        |      AS pcos
        |  FROM pp q, pp c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |fr AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
        |    FROM pr) WHERE rn <= 5),
        |tr AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY pcos DESC, vec_id ASC) AS rn
        |    FROM pr) WHERE rn <= 5),
        |ov AS (
        |  SELECT f.query_id, count(*) AS n_kept
        |  FROM fr f JOIN tr t
        |    ON f.query_id = t.query_id AND f.vec_id = t.vec_id
        |  GROUP BY f.query_id)
        |SELECT q2.vec_id AS query_id,
        |  CAST(COALESCE(ov.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(5 AS BIGINT) AS k
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q2
        |LEFT JOIN ov ON q2.vec_id = ov.query_id""".stripMargin),

    // Code-switch: the q21 marker scorer applied to the head/tail halves
    // of the token array (range-slice spelling of Spark's slice), with
    // the q21 CASE tie order per half — integer counts, string labels,
    // boolean flag.
    "q230_code_switch" -> {
      def scoreSql(half: String, lang: String, words: Seq[String]) =
        s"len(list_filter($half, t -> t IN " +
          words.map(w => s"'$w'").mkString("(", ",", ")") + s")) AS ${lang}"
      def halfScores(half: String) = graft.text.TextAnalysis.LangMarkers
        .map { case (l, ws) => scoreSql(half, l, ws) }.mkString(",\n|    ")
      def caseSql(p: String) = {
        val langs = graft.text.TextAnalysis.LangMarkers.map(_._1)
        langs.map { l =>
          val geAll = langs.filter(_ != l)
            .map(o => s"$p.$l >= $p.$o").mkString(" AND ")
          s"WHEN $geAll THEN '$l'"
        }.mkString("CASE\n|      ", "\n|      ", "\n|      ELSE 'und' END")
      }
      s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |halves AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    list_transform(range(1, len(tk) // 2 + 1), i -> tk[i]) AS hd,
         |    list_transform(range(len(tk) // 2 + 1, len(tk) + 1),
         |      i -> tk[i]) AS tl
         |  FROM toks),
         |h AS (
         |  SELECT doc_id, n_tokens,
         |    ${halfScores("hd")}
         |  FROM halves),
         |t2 AS (
         |  SELECT doc_id,
         |    ${halfScores("tl")}
         |  FROM halves),
         |pr AS (
         |  SELECT h.doc_id, h.n_tokens,
         |    ${caseSql("h")} AS lang_head,
         |    ${caseSql("t2")} AS lang_tail
         |  FROM h JOIN t2 ON h.doc_id = t2.doc_id)
         |SELECT doc_id, n_tokens, lang_head, lang_tail,
         |  (lang_head <> lang_tail) AS is_mixed
         |FROM pr""".stripMargin
    },

    // Tokenizer fertility: per-lang token/char inventories (the table's
    // n_chars column, engine-neutral), BIGINT floor-division rate.
    "q227_tokenizer_fertility" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len($TOKENS_SQL)) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  CASE WHEN CAST(sum(n_chars) AS BIGINT) > 0
         |       THEN (CAST(sum(len($TOKENS_SQL)) AS BIGINT) * 1000000)
         |              // CAST(sum(n_chars) AS BIGINT)
         |       ELSE 0 END AS tokens_per_mchar
         |FROM documents GROUP BY lang""".stripMargin,
  )

  private lazy val MM_FEATURES_SQL: String =
    s"""WITH b AS (
       |  SELECT doc_id, n_chars, ${utf8BytesSql("text")} AS bytes
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(bytes) AS BIGINT) AS byte_len,
       |  CASE WHEN len(bytes) = 0 THEN -1 ELSE bytes[1] END AS first_byte,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), bytes),
       |    (a,x) -> (a*31+x) % 1000000007) AS content_fp,
       |  n_chars % 640 AS width,
       |  n_chars % 480 AS height,
       |  CAST(len(bytes) AS BIGINT) % 30 + 1 AS n_frames
       |FROM b""".stripMargin
}
