package graft.pipelines

import graft.functions.{TimeOps, WeatherOps}
import graft.gtfs.Rt
import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

/** E1 — the reference's realtime micro-batch
  * (`reference/scripts/realtime_extractor.py::main`): decode the fetched
  * protobuf feed (S2), normalize epochs to timestamps with the epoch-0
  * "no prediction" sentinel as the missing-value default (the DB column
  * default in the reference, README.md:131-132), attach the single weather
  * observation (S5 — one fetched JSON document per run, broadcast as
  * literal columns after parsing), stamp created/updated with one run-level
  * instant (F12), and S9-merge into the keyed snapshot, keeping the latest
  * of repeated keys.
  *
  * The reference does all of this row-at-a-time into Postgres (one
  * statement per row, its acknowledged bottleneck); here the whole batch
  * is one declarative plan ending in a set-oriented merge. */
object Realtime {

  /** Flatten one run's fetched feed payloads into the trip_updates schema
    * (pre-merge): epoch-0 sentinel for absent predictions, weather columns
    * attached, run-stamped audit columns. `weatherJson` is the raw
    * OpenWeatherMap payload fetched once per run (None → NULL weather, as
    * when the reference's throttle skips the call). */
  def observations(feeds: Dataset[Array[Byte]], weatherJson: Option[String])
                  (implicit s: SparkSession): DataFrame = {
    val epoch0 = timestamp_seconds(lit(0L))
    def obsTime(c: String) =
      coalesce(timestamp_seconds(col(c)), epoch0)
    // One weather document per run: parse once, attach as literal-derived
    // columns (the 1-row broadcast shape; no join needed).
    val w = weatherJson.map(j => WeatherOps.parseWeatherJson(lit(j)))
    val stamp = TimeOps.runStamp()
    Rt.decodeFlatten(feeds).toDF()
      .select(
        col("trip_id"),
        // F13 — try_to_date: start_date is OPTIONAL in GTFS-realtime and
        // Rt.flatten surfaces an absent one as "" — a plain to_date would
        // throw under ANSI and kill the whole micro-batch for one entity;
        // NULL lets the row flow (and never match a schedule) instead.
        expr("try_to_date(start_date, 'yyyyMMdd')").as("start_date"),
        col("stop_sequence"),
        col("stop_id"),
        obsTime("arrival_epoch").as("arrival_time"),
        obsTime("departure_epoch").as("departure_time"),
        w.map(p => WeatherOps.weatherGroup(p.getField("weather_id")))
          .getOrElse(lit(null).cast(StringType)).as("weather_group"),
        w.map(_.getField("weather_description"))
          .getOrElse(lit(null).cast(StringType)).as("weather_description"),
        w.map(_.getField("temperature"))
          .getOrElse(lit(null).cast(DoubleType)).as("temperature"),
        stamp.as("created_at"),
        stamp.as("updated_at"))
  }

  /** The trip_updates key: the reference's ON CONFLICT target. */
  val keys: Seq[String] = Seq("trip_id", "start_date", "stop_sequence", "stop_id")

  /** The predicted times: a matched key is updated only when one changed. */
  val compareCols: Seq[String] = Seq("arrival_time", "departure_time")

  /** Stamped on first insert, kept when a later run updates the key. */
  val createdCol: Option[String] = Some("created_at")

  /** One full micro-batch: [[observations]] S9-merged into the existing
    * snapshot (None = first run) in one keyed aggregation. The feed can
    * repeat a key across entities (SURVEY.md §7.4): feed order breaks the
    * tie, as the reference's row-at-a-time loop makes the LAST entity win —
    * monotonically_increasing_id preserves the flatMap's within-feed row
    * order. Update detection compares the predicted times, as the
    * reference's ON CONFLICT ... WHERE clause does
    * (realtime_extractor.py:208-218). */
  def microBatch(feeds: Dataset[Array[Byte]], weatherJson: Option[String],
                 target: Option[DataFrame])
                (implicit s: SparkSession): DataFrame =
    Upsert.upsert(target, observations(feeds, weatherJson), keys, compareCols,
      createdCol, Some(monotonically_increasing_id()))
}
