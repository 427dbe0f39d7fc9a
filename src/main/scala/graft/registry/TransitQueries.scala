package graft
package registry

import graft.analytics.Dashboard
import graft.functions.{TimeOps, WeatherOps}
import graft.operators.Rank
import graft.streaming.RealtimeStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The transit rows: the E3 delay mart and the A1–A5 dashboards over it,
  * the E1 realtime tick and snapshot merge, the E2 historical load, GTFS
  * time/feed handling, and the headway/OTP/dwell analytics that read the
  * mart. Each row is one [[Query]]: its Spark build beside its DuckDB
  * oracle. */
object TransitQueries {

  import Tables.t
  import Shared._
  import Query.NoOracle

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

  val queries: Seq[Query] = Seq(
    // E3 flagship: J5 composite join + P5 cast + P6 sentinel-null + F5/F6
    // diff math + F7/F8 dims + P7 filter + W1 global sort.
    Query("q01_diff_mart", ((s, dir) => diffMartEpochs(s, dir)
      .orderBy(asc("trip_id"), asc("stop_sequence"), asc("start_date"))),
      Some(MART_CTE +
      "SELECT * FROM mart ORDER BY trip_id ASC, stop_sequence ASC, start_date ASC")),

    // A1 — avg delay by hour over the mart.
    Query("q03_avg_delay_by_hour", ((s, dir) =>
      Dashboard.avgDelayByHour(diffMart(s, dir))),
      Some(MART_CTE +
      s"""SELECT sudbury_hour_of_day,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay_min,
         |  count(*) AS n_rows
         |FROM mart GROUP BY sudbury_hour_of_day""".stripMargin)),

    // A2 — A1 with dashboard slicers.
    Query("q04_avg_delay_sliced", ((s, dir) =>
      Dashboard.avgDelayByHourSliced(diffMart(s, dir),
        weatherGroup = Some("Rain"), routeId = Some("r3"))),
      Some(MART_CTE +
      s"""SELECT sudbury_hour_of_day,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay_min,
         |  count(*) AS n_rows
         |FROM mart WHERE weather_group = 'Rain' AND route_id = 'r3'
         |GROUP BY sudbury_hour_of_day""".stripMargin)),

    // A3 — peak hours by distinct trips.
    Query("q05_peak_hours", ((s, dir) => Dashboard.peakHours(diffMart(s, dir))),
      Some(MART_CTE +
      """SELECT sudbury_hour_of_day,
        |  count(DISTINCT trip_id) AS n_trips, count(*) AS n_rows
        |FROM mart GROUP BY sudbury_hour_of_day""".stripMargin)),

    // A4 — stop density by geo.
    Query("q06_stop_density", ((s, dir) => Dashboard.stopDensity(diffMart(s, dir))),
      Some(MART_CTE +
      """SELECT geo_coordinates, stop_name, count(*) AS n_rows
        |FROM mart GROUP BY geo_coordinates, stop_name""".stripMargin)),

    // A5 — rollup day_type × hour.
    Query("q07_delay_rollup", ((s, dir) => Dashboard.delayRollup(diffMart(s, dir))),
      Some(MART_CTE +
      s"""SELECT day_type, sudbury_hour_of_day,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay_min,
         |  count(*) AS n_rows
         |FROM mart GROUP BY ROLLUP (day_type, sudbury_hour_of_day)""".stripMargin)),

    // F1 — GTFS >24h clock normalization (UTC; tz-full variant in tests).
    Query("q11_gtfs_time", ((s, dir) => {
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
      Some("""SELECT event_id,
        |  lpad(CAST(event_id % 40 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(user_id % 60 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') AS clock,
        |  CAST(ts AS DATE) AS service_date,
        |  FLOOR(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)))::BIGINT
        |    + (event_id % 40) * 3600 + (user_id % 60) * 60 + (event_id % 60)
        |    AS utc_epoch
        |FROM events""".stripMargin)),

    // F1 tz branch — the same normalization through to_utc_timestamp with
    // a real zone (America/Toronto). events.ts spans January 2024 only, so
    // every wall time (max +39:59:59 over the service date) falls in the
    // constant EST offset — no DST-ambiguous instants reach the oracle
    // (SURVEY.md §7.4 keeps oracle queries away from DST edges; the edges
    // themselves are pinned by TimeOpsSpec).
    Query("q27_gtfs_time_tz", ((s, dir) => {
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
      Some("""SELECT event_id,
        |  lpad(CAST(event_id % 40 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(user_id % 60 AS VARCHAR), 2, '0') || ':' ||
        |  lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') AS clock,
        |  CAST(ts AS DATE) AS service_date,
        |  FLOOR(epoch(timezone('America/Toronto',
        |    CAST(CAST(ts AS DATE) AS TIMESTAMP) + to_seconds(
        |      (event_id % 40) * 3600 + (user_id % 60) * 60 + event_id % 60
        |    ))))::BIGINT AS utc_epoch
        |FROM events""".stripMargin)),

    // F10 — weather-id range bucketing.
    Query("q12_weather_bucket", ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(WeatherOps.weatherGroup(lit(200L) + (col("event_id") % 700L))
          .as("weather_group"))
        .agg(count(lit(1)).as("n"), Dashboard.exactAvg(col("value")).as("avg_value"))
    }),
      Some(s"""SELECT CASE WHEN (200 + event_id % 700) BETWEEN 200 AND 299 THEN 'Thunderstorm'
         |       WHEN (200 + event_id % 700) BETWEEN 300 AND 399 THEN 'Drizzle'
         |       WHEN (200 + event_id % 700) BETWEEN 500 AND 599 THEN 'Rain'
         |       WHEN (200 + event_id % 700) BETWEEN 600 AND 699 THEN 'Snow'
         |       WHEN (200 + event_id % 700) BETWEEN 700 AND 799 THEN 'Atmosphere'
         |       WHEN (200 + event_id % 700) = 800 THEN 'Clear'
         |       WHEN (200 + event_id % 700) BETWEEN 800 AND 899 THEN 'Clouds'
         |       ELSE 'Unknown' END AS weather_group,
         |  count(*) AS n, ${exactAvgSql("value")} AS avg_value
         |FROM events GROUP BY 1""".stripMargin)),

    // F11 — JSON field extraction.
    Query("q13_json_extract", ((s, dir) => {
      val ev = t(s, dir, "events")
      val k = get_json_object(col("props"), "$.k").cast("long")
      ev.groupBy((k % 10L).as("k_mod"))
        .agg(count(lit(1)).as("n"), Dashboard.exactAvg(col("value")).as("avg_value"))
    }),
      Some(s"""SELECT CAST(props->>'$$.k' AS BIGINT) % 10 AS k_mod,
         |  count(*) AS n, ${exactAvgSql("value")} AS avg_value
         |FROM events GROUP BY 1""".stripMargin)),

    // S2 — GTFS-realtime protobuf decode + flatten, end to end over real
    // wire bytes: each event becomes a FeedMessage (1 entity, 2
    // stop_time_updates with value-dependent optional arrival/departure),
    // is ENCODED to protobuf wire format, then decoded and flattened by
    // Rt.decodeFlatten — the reference's parse_pb_data path
    // (realtime_extractor.py:97-118) as a typed flatMap.
    Query("q28_rt_decode", ((s, dir) => {
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
      Some("""WITH e AS (SELECT *, FLOOR(epoch(ts))::BIGINT AS ets FROM events)
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
        |FROM e""".stripMargin)),

    // E2 — historical GTFS pipeline end to end over real CSV files: S3
    // multi-member scan (header CSVs written from events), J1-J4 broadcast
    // dimension chain with the calendar_dates fanout, F1 >24h clock
    // normalization in America/Toronto on real columns, F2 yyyyMMdd parse,
    // P2/P3/P1. Timestamps reduced to epochs for the hash compare.
    Query("q29_historical", ((s, dir) => {
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
      Some("""WITH st AS (
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
        |JOIN rt ON tr.route_id = rt.route_id""".stripMargin)),

    // S5/F9/F10/F11 — the weather-attach path end to end: an OpenWeatherMap
    // -shaped JSON payload (built per row from events for verifiability;
    // in production one fetched document broadcast to the batch) is parsed
    // with the explicit schema, fields extracted, Kelvin converted,
    // condition id bucketed (reference realtime_extractor.py:52-94).
    Query("q30_weather_attach", ((s, dir) => {
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
      Some("""SELECT event_id,
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
        |FROM events""".stripMargin)),

    // S7 + S8 — CSV export sink then bulk-load source (the reference's
    // VPS→laptop shipping channel, loader/get_realtime.py:28-77), verified
    // by aggregating the round-tripped rows.
    Query("q31_csv_roundtrip", ((s, dir) => {
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
      Some(s"""SELECT event_type, count(*) AS n,
         |  ${exactAvgSql("value")} AS avg_value,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM events GROUP BY event_type""".stripMargin)),

    // Partition-scoped streaming merge — the 100 TB shape of the S9
    // snapshot: the keyed snapshot lives partitioned by its day column, a
    // multi-date batch arrives touching a THIRD of the days, and
    // RealtimeStream.merge (partitioned by day) reads ONLY those partitions
    // (pruned at the file listing — PartitionedMergeSpec pins the plan)
    // and dynamic-overwrites exactly them. The oracle computes the FULL
    // logical merge over all days, so the hash match proves the
    // partition-scoped physical merge ≡ a full-snapshot rewrite.
    Query("q112_partitioned_merge", ((s, dir) => {
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
      // The oracle is the FULL logical merge over every day — the
      // partition-scoped physical path hashes equal only if pruning the
      // snapshot read to touched partitions loses nothing.
      Some("""WITH old AS (
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
        |  AND t.event_type = u.event_type""".stripMargin)),

    // Ratio-to-report: each trip's share of its service day's total
    // absolute delay — the percent-of-total window shape, partitioned by
    // START_DATE (one partition per day, cardinality grows with the
    // data; the all-rows frame needs no ordering). Numerator and
    // denominator are exact decimal sums; one mirrored divide.
    Query("q106_share_of_day", ((s, dir) => {
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
      Some(MART_CTE +
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
        |FROM ta t JOIN dt d USING (start_date)""".stripMargin)),

    // Decomposable-aggregate merge — the incremental-maintenance
    // discipline: the mart is split into two disjoint halves (trip-hash
    // parity — think "yesterday's materialized partial" and "today's
    // delta"), each half reduces to (Σ decimal, n) PARTIALS, and the
    // merge of partials re-derives the exact average. avg is not
    // mergeable but (sum, count) is — the decomposition every
    // incremental dashboard rebuild relies on; the oracle computes the
    // direct full aggregate, so the hash-match proves merge ≡ recompute.
    Query("q104_merge_aggregates", ((s, dir) => {
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
      Some(MART_CTE +
      s"""SELECT day_type, count(average_diff_in_minutes) AS n_rows,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay
         |FROM mart WHERE average_diff_in_minutes IS NOT NULL
         |GROUP BY day_type""".stripMargin)),

    // Robust outlier counts via median/MAD — the q91 z-score family
    // member that a heavy-tailed delay distribution needs (mean and
    // stddev are themselves dragged by the outliers they're meant to
    // flag; the median/MAD pair is breakdown-point-0.5 robust). Delays
    // are integer seconds, so both medians interpolate on dyadic
    // fractions — exact in ANY interpolation spelling, the q50
    // precedent. Three map-side-combined aggregates over the bounded
    // day_type key, two broadcast joins back; no windows.
    Query("q145_mad_outliers", ((s, dir) => {
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
      // Mirrors q145: stacked exact medians (integer seconds → dyadic
      // interpolation, exact in any spelling — the q50 precedent).
      Some(MART_CTE +
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
        |GROUP BY dev.day_type, med, mad""".stripMargin)),

    // Winsorization at the Tukey fences — the feature-pipeline value
    // capper: per day type, delays clipped to [p25 − 1.5·IQR,
    // p75 + 1.5·IQR] with below/above counts and the clipped sum.
    // Quartiles of integer seconds are exact dyadics (q50), the fences
    // spend one mirrored multiply each, and the clipped sum accumulates
    // in DECIMAL(18,2) (quarters are exact at scale 2) before one cast
    // to double — order-independent, so partitioning can't shift it.
    Query("q147_winsorize", ((s, dir) => {
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
      // Mirrors q147: quartile fences and a DECIMAL(18,2)-exact clipped sum.
      Some(MART_CTE +
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
        |GROUP BY d.day_type, lo, hi""".stripMargin)),

    // Mergeable quantile sketch (Greenwald–Khanna via built-in
    // percentile_approx, accuracy 1/ε = 100) — the sketch family's
    // quantile member (HLL q40 distincts, CMS q138 frequencies, MG q88
    // heavy hitters, GK here): per-partition sketches partial-combine
    // map-side, so quantiles of a 100 TB column cost one slim-sketch
    // shuffle instead of q50's exact-percentile sort. Rows-only check
    // (no DuckDB twin); the GK rank guarantee |rank(est) − φN| ≤ εN is
    // spec-pinned against the exact distribution in SketchSpec.
    Query("q151_approx_percentiles", ((s, dir) =>
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
      NoOracle),

    // Gini coefficient of per-trip delay burden — the inequality readout
    // that pairs with q127's Herfindahl: 0 = delay is spread evenly over
    // trips, →1 = a few trips absorb nearly all of it. Uses the sorted
    // identity G = (2·Σi·x_i − (n+1)·Σx_i)/(n·Σx_i), with the global
    // ascending rank i from Rank.globalRank (two-pass, NO single-task
    // window) and every sum an exact decimal accumulator — the only
    // double op is the final division (try_divide: an all-zero-delay
    // corpus scores NULL, matching the oracle's NULL-on-zero).
    Query("q133_delay_gini", ((s, dir) => {
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
      Some(MART_CTE +
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
        |FROM r""".stripMargin)),

    // Full CUBE over (day_type, weather_group) with an explicit grouping
    // id — every marginal the dashboard can slice, in one pass (A5's
    // rollup generalized to all 2^k marginals).
    Query("q79_delay_cube", ((s, dir) =>
      diffMart(s, dir)
        .cube(col("day_type"), col("weather_group"))
        .agg(Dashboard.exactAvg(col("average_diff_in_minutes"))
            .as("avg_delay_min"),
          count(lit(1)).as("n_rows"),
          (grouping(col("day_type")) * 2 + grouping(col("weather_group")))
            .cast("long").as("gid"))),
      Some(MART_CTE +
      s"""SELECT day_type, weather_group,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay_min,
         |  count(*) AS n_rows,
         |  CAST(GROUPING(day_type)*2 + GROUPING(weather_group) AS BIGINT) AS gid
         |FROM mart GROUP BY CUBE (day_type, weather_group)""".stripMargin)),

    // Pivot: average delay by day type ACROSS weather columns — the
    // wide dashboard matrix. Explicit pivot values keep the schema
    // static (a discovery pivot is a separate distinct scan + a
    // driver-defined column set); the oracle is the conditional
    // aggregation the pivot desugars to.
    Query("q80_delay_pivot", ((s, dir) =>
      diffMart(s, dir)
        .groupBy(col("day_type"))
        .pivot("weather_group", Seq("Clear", "Clouds", "Rain", "Snow"))
        .agg(Dashboard.exactAvg(col("average_diff_in_minutes")))),
      Some(MART_CTE + Seq("Clear", "Clouds", "Rain", "Snow")
      .map(wg =>
        s"""  CAST(sum(CASE WHEN weather_group = '$wg'
           |    THEN CAST(average_diff_in_minutes AS DECIMAL(20,6)) END) AS DOUBLE)
           |  / count(CASE WHEN weather_group = '$wg'
           |    THEN average_diff_in_minutes END) AS "$wg"""".stripMargin)
      .mkString("SELECT day_type,\n", ",\n", "\nFROM mart GROUP BY day_type"))),

    // UNPIVOT — the inverse relational op of q80: melt the wide weather
    // matrix back to long (day_type, weather_group, avg_delay) rows.
    // Combinations absent from the data pivot to NULL cells; the filter
    // drops them so unpivot∘pivot is exactly the direct long-form
    // aggregation, which is what the oracle computes.
    Query("q98_unpivot", ((s, dir) => {
      val groups = Seq("Clear", "Clouds", "Rain", "Snow")
      diffMart(s, dir)
        .groupBy(col("day_type"))
        .pivot("weather_group", groups)
        .agg(Dashboard.exactAvg(col("average_diff_in_minutes")))
        .unpivot(Array(col("day_type")), groups.map(col).toArray,
          "weather_group", "avg_delay")
        .where(col("avg_delay").isNotNull)
    }),
      Some(MART_CTE +
      s""", base AS (
         |  SELECT day_type, weather_group,
         |    ${exactAvgSql("average_diff_in_minutes")} AS avg_delay
         |  FROM mart
         |  WHERE weather_group IN ('Clear', 'Clouds', 'Rain', 'Snow')
         |  GROUP BY day_type, weather_group)
         |SELECT day_type, weather_group, avg_delay FROM base
         |WHERE avg_delay IS NOT NULL""".stripMargin)),

    // Equi-depth bucketing via ntile — the remaining window-family
    // member: each trip's stops split into 4 delay quartile buckets
    // (SQL-standard ntile remainder rule: earlier buckets get the extra
    // rows — identical in both engines). Partitioned by TRIP, like q99.
    Query("q109_delay_ntile", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("trip_id")
        .orderBy(col("average_diff_in_minutes").asc, col("stop_sequence").asc)
      diffMart(s, dir)
        .where(col("average_diff_in_minutes").isNotNull)
        .select(col("trip_id"), col("stop_sequence"),
          col("average_diff_in_minutes").as("delay_min"),
          ntile(4).over(w).cast("long").as("quartile"))
    }),
      // the ORC write/read is lossless, so the roundtrip answers q31's SQL
      Some(MART_CTE +
      """SELECT trip_id, stop_sequence,
        |  average_diff_in_minutes AS delay_min,
        |  CAST(ntile(4) OVER (PARTITION BY trip_id
        |    ORDER BY average_diff_in_minutes ASC, stop_sequence ASC)
        |    AS BIGINT) AS quartile
        |FROM mart WHERE average_diff_in_minutes IS NOT NULL""".stripMargin)),

    // Distribution-position window functions (percent_rank / cume_dist)
    // over each trip's stop delays. Partitioned by TRIP — high
    // cardinality, bounded partition size (≤ stops-per-trip) — never by
    // a 7-value dimension like day_type, whose partitions would be
    // corpus-sized at scale (the q76 two-pass ranking is the spelling
    // for THAT shape). Both functions are exact rational positions
    // computed identically from the SQL standard in either engine.
    Query("q99_delay_position", ((s, dir) => {
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
      Some(MART_CTE +
      """SELECT trip_id, stop_sequence,
        |  average_diff_in_minutes AS delay_min,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM mart WHERE average_diff_in_minutes IS NOT NULL
        |WINDOW w AS (PARTITION BY trip_id
        |  ORDER BY average_diff_in_minutes ASC, stop_sequence ASC)""".stripMargin)),

    // Exact-sufficient-statistics Pearson correlation per day type:
    // decimal-exact Σx/Σy/Σxy/Σx²/Σy², closed form in mirrored doubles —
    // partial-aggregation order cannot flip a bit (the exactAvg
    // discipline extended to second moments).
    Query("q77_delay_temp_corr", ((s, dir) =>
      diffMart(s, dir)
        .where(col("average_diff_in_minutes").isNotNull &&
          col("temperature").isNotNull)
        .groupBy("day_type")
        .agg(count(lit(1)).as("n_rows"),
          Dashboard.exactCorr(col("average_diff_in_minutes"),
            col("temperature")).as("corr_delay_temp"))),
      Some(MART_CTE +
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
        |FROM s""".stripMargin)),

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
    Query("q91_delay_outliers", ((s, dir) => {
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
      Some(MART_CTE +
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
        |FROM zs WHERE abs(z) > 2.5""".stripMargin)),

    // Fixed-width delay histogram per day type: floor(x/5) binning —
    // one IEEE divide + floor, identical in any engine; the dashboard
    // distribution primitive.
    Query("q78_delay_histogram", ((s, dir) =>
      diffMart(s, dir).where(col("average_diff_in_minutes").isNotNull)
        .groupBy(col("day_type"),
          floor(col("average_diff_in_minutes") / lit(5.0)).cast("long")
            .as("bin"))
        .agg(count(lit(1)).as("n"))),
      Some(MART_CTE +
      """SELECT day_type,
        |  CAST(floor(average_diff_in_minutes / 5.0) AS BIGINT) AS bin,
        |  count(*) AS n
        |FROM mart WHERE average_diff_in_minutes IS NOT NULL
        |GROUP BY day_type, bin""".stripMargin)),

    // E1 — the composed realtime micro-batch over real wire bytes: encode
    // one entity per event (unique keys → the oracle needs no tie-break),
    // then Realtime.microBatch runs decode → epoch-0 sentinel defaults →
    // weather attach (fixed payload) → dedup → (first-run) snapshot.
    // Audit stamps are excluded (run-relative); epochs replace timestamps.
    Query("q36_realtime_e1", ((s, dir) => {
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
      Some("""WITH e AS (SELECT *, FLOOR(epoch(ts))::BIGINT AS ets FROM events)
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
        |FROM e""".stripMargin)),

    // A3 at scale — HLL approximate distinct trips per hour: fixed-size
    // sketch per group instead of shuffling every distinct (hour, trip)
    // pair. Rows-only check (the sketch estimate is engine-defined); the
    // DashboardSpec pins its tolerance against the exact q05.
    Query("q40_peak_hours_approx", ((s, dir) =>
      Dashboard.peakHoursApprox(diffMart(s, dir))),
      NoOracle),

    // Event-time window aggregation (the batch shape of
    // StreamingAnalytics.delayByWindow): delays bucketed into 1-hour
    // tumbling windows. Epoch-aligned, so the oracle mirrors it with
    // integer floor arithmetic.
    Query("q47_delay_by_window", ((s, dir) =>
      diffMart(s, dir)
        .groupBy(window(col("scheduled_arrival_time"), "1 hour"))
        .agg(Dashboard.exactAvg(col("average_diff_in_minutes")).as("avg_delay_min"),
          count(lit(1)).as("n_rows"))
        .select(unix_timestamp(col("window.start")).as("window_start_epoch"),
          col("avg_delay_min"), col("n_rows"))),
      Some(MART_CTE +
      s"""SELECT (scheduled_arrival_epoch // 3600) * 3600 AS window_start_epoch,
         |  ${exactAvgSql("average_diff_in_minutes")} AS avg_delay_min,
         |  count(*) AS n_rows
         |FROM mart GROUP BY 1""".stripMargin)),

    // Exact delay percentiles per day type — the dashboard's distribution
    // view. Quantiles restricted to dyadic fractions (.25/.5/.75) over
    // INTEGER delay seconds: interpolation then stays exact in IEEE
    // arithmetic, so Spark's percentile and DuckDB's quantile_cont agree
    // bit-for-bit (a non-dyadic p like 0.9 would not). Scale note for
    // the whole exact-percentile family (q50/q145/q147): `percentile`
    // buffers each group's values in its aggregation state — right for
    // a mart-sized input, wrong for a raw 100 TB column, where q151's
    // mergeable GK sketch (bounded state, εN rank error) is the path.
    Query("q50_delay_percentiles", ((s, dir) =>
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
      Some(MART_CTE +
      """SELECT day_type,
        |  quantile_cont(actual_arrival_epoch - scheduled_arrival_epoch, 0.25) AS p25,
        |  quantile_cont(actual_arrival_epoch - scheduled_arrival_epoch, 0.5) AS p50,
        |  quantile_cont(actual_arrival_epoch - scheduled_arrival_epoch, 0.75) AS p75,
        |  count(actual_arrival_epoch - scheduled_arrival_epoch) AS n_obs
        |FROM mart GROUP BY day_type""".stripMargin)),

    // Headway regularity — THE transit service-quality KPI the
    // reference's dashboard never got to: per (route, stop), the gaps
    // between consecutive ACTUAL arrivals and their variance. Riders
    // feel variance, not mean (a 10-min-exact service beats an
    // "8-min average" that alternates 2/14). One lag window per
    // (route, stop) partition; moments ride exact integers
    // (DECIMAL(38,0) products) with ONE double divide for the
    // population variance n·Σh²−(Σh)² over n².
    Query("q201_headway_regularity", ((s, dir) => {
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
      // Mirrors q201: the mart CTE, the same lag window, HUGEINT moments.
      Some(MART_CTE +
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
        |FROM m WHERE n_headways >= 2""".stripMargin)),

    // On-time performance — the industry-standard transit KPI (share
    // of observed arrivals within [-1 min, +5 min] of schedule), per
    // route: integer window test on integer epochs, integer tallies,
    // one divide. The mart's arrival diff column is minutes; the test
    // runs on the epoch difference directly so the boundary is exact.
    Query("q202_otp", ((s, dir) => {
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
      // Mirrors q202: exact integer window test on epochs, one divide.
      Some(MART_CTE +
      """SELECT route_id, count(*) AS n_obs,
        |  CAST(sum(CASE WHEN actual_arrival_epoch - scheduled_arrival_epoch
        |    BETWEEN -60 AND 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime,
        |  CAST(sum(CASE WHEN actual_arrival_epoch - scheduled_arrival_epoch
        |    BETWEEN -60 AND 300 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS otp
        |FROM mart WHERE actual_arrival_epoch IS NOT NULL
        |GROUP BY route_id""".stripMargin)),

    // Bus bunching — the failure mode q201's variance measures, made
    // countable: consecutive actual arrivals at a stop closer than
    // 120 s are a bunched pair (the vehicle that caught up). Same lag
    // window as q201; per route, the bunched share of all headways —
    // integers, one divide.
    Query("q203_bunching", ((s, dir) => {
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
      // Mirrors q203: q201's lag window, 120 s threshold, one divide.
      Some(MART_CTE +
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
        |GROUP BY route_id""".stripMargin)),

    // Excess wait time — the professional frequent-service metric (TfL's
    // headline bus KPI): a random-arrival rider waits E[h²]/2E[h]
    // (actual, AWT), would wait E[h]/2 under perfect regularity (SWT),
    // and EWT = AWT − SWT is what irregularity costs them. Derived from
    // the SAME per-route headway moments as q201 (integer Σh, Σh² in
    // DECIMAL(38,0)); AWT and SWT are each one mirrored divide and EWT
    // one mirrored subtraction.
    Query("q204_excess_wait", ((s, dir) => {
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
      // Mirrors q204: the q203 headway CTE per route, HUGEINT moments,
      // then the same integral divides to exact BIGINT microseconds —
      // the rendered doubles are micro/1e6 with micro < 2^53, so no
      // int128→double rounding (version-drift-prone) is ever exercised.
      Some(MART_CTE +
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
        |FROM micro""".stripMargin)),

    // Dwell time — how long vehicles sit at each stop (departure −
    // arrival where both were observed): the capacity/accessibility
    // signal behind stop-level scheduling. Integer differences, exact
    // integer sums, one divide for the mean; max rides along.
    Query("q205_dwell_time", ((s, dir) => {
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
      // Mirrors q205: integer dwell differences, exact sums, one divide.
      Some(MART_CTE +
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
        |FROM dw GROUP BY route_id, stop_id""".stripMargin)),

    // Inter-stop run times — departure at stop s to arrival at stop
    // s+1 within a trip: the segment-level travel-time matrix behind
    // schedule construction. One lag window per trip ordered by
    // stop_sequence; per (route, from, to) segment: exact integer
    // sums, min, one divide.
    Query("q206_run_times", ((s, dir) => {
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
      // Mirrors q206: the same per-trip lag window, consecutive-sequence
      // gate, exact segment aggregates.
      Some(MART_CTE +
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
        |FROM seg GROUP BY route_id, from_stop, to_stop""".stripMargin)),

    // Delay accumulation along the route — does lateness build up
    // stop by stop? Per route, the q174 OLS closed form fitted to
    // (stop_sequence, arrival deviation): a positive slope is a route
    // that cannot recover, the schedule-padding signal. Deviations are
    // integer seconds, moments exact in DECIMAL(38,0), two mirrored
    // divides.
    Query("q207_delay_accumulation", ((s, dir) => {
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
      // Mirrors q207: q174's HUGEINT moment form on (sequence, deviation).
      Some(MART_CTE +
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
        |FROM m""".stripMargin)),

    // Delay survival curve — P(delay > t) at the thresholds riders
    // quote (1/2/5/10 min), per route: the tail view a mean hides.
    // Four integer tallies in one pass, one divide each.
    Query("q208_delay_survival", ((s, dir) => {
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
      // Mirrors q208: four tallies, one divide each.
      Some(MART_CTE +
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
        |GROUP BY route_id""".stripMargin)),

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
    Query("q211_hll_error_bound", ((s, dir) =>
      diffMart(s, dir).groupBy("sudbury_hour_of_day")
        .agg(approx_count_distinct(col("trip_id"), 0.02).as("__est"),
          countDistinct(col("trip_id")).as("n_exact"))
        .select(col("sudbury_hour_of_day"), col("n_exact"),
          (abs(col("__est") - col("n_exact")) <=
            greatest(lit(5L), ceil(col("n_exact").cast("double") * lit(0.06))
              .cast("long"))).as("within_bound"))),
      // Mirrors q211: the oracle asserts the HLL guarantee (TRUE) next to
      // the exact count it can compute; Spark's side is what tests it.
      Some(MART_CTE +
      """SELECT sudbury_hour_of_day,
        |  count(DISTINCT trip_id) AS n_exact,
        |  TRUE AS within_bound
        |FROM mart GROUP BY sudbury_hour_of_day""".stripMargin)),

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
    Query("q212_gk_error_bound", ((s, dir) => {
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
      // Mirrors q212: the oracle asserts the GK rank guarantee (TRUE)
      // next to the exact group sizes; Spark's relational rank check is
      // what tests it.
      Some(MART_CTE +
      """, d AS (
        |  SELECT day_type,
        |    actual_arrival_epoch - scheduled_arrival_epoch AS delay
        |  FROM mart
        |  WHERE actual_arrival_epoch IS NOT NULL
        |    AND scheduled_arrival_epoch IS NOT NULL)
        |SELECT day_type, CAST(phi_micro AS BIGINT) AS phi_micro,
        |  count(*) AS n_obs, TRUE AS within_bound
        |FROM d CROSS JOIN (VALUES (500000), (900000), (990000)) p(phi_micro)
        |GROUP BY day_type, phi_micro""".stripMargin)),
  )
}
