package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneId}

import graft.gtfs.{FeedEntity, FeedHeader, FeedMessage, Rt, StopTimeEvent,
  StopTimeUpdate, TripDescriptor, TripUpdate}

import scala.util.Random

/** Seeded input generators. Every generator takes the seed as an argument
  * and draws from its own `Random`, so one seed always yields the same
  * bytes and the program only ever sees the files written here. */
object Gen {

  /** Independent stream per input kind: adding a draw to one generator
    * never shifts another's inputs. */
  def rng(seed: Long, salt: Long): Random = new Random(seed * 1000003L + salt)

  val Tz: ZoneId = ZoneId.of("America/Toronto")

  // ------------------------------------------------------- GTFS static --

  final case class Trip(tripId: String, routeId: String,
                        stops: IndexedSeq[StopTime])
  final case class StopTime(seq: Int, stopId: Long, arrSecs: Int, depSecs: Int)
  final case class Stop(stopId: Long, name: String, lat: String, lon: String)
  final case class Schedule(dates: IndexedSeq[LocalDate], routes: IndexedSeq[(String, String)],
                            stops: IndexedSeq[Stop], trips: IndexedSeq[Trip]) {
    val stopById: Map[Long, Stop] = stops.map(s => s.stopId -> s).toMap
    val tripById: Map[String, Trip] = trips.map(t => t.tripId -> t).toMap
  }

  /** A city schedule: `nTrips` trips over 8 routes, 16 stops each, one
    * service running on every date. Some trips run past midnight, so
    * GTFS's >24h clocks are exercised. */
  def schedule(seed: Long, firstDate: LocalDate, nDates: Int,
               nTrips: Int): Schedule = {
    val r = rng(seed, 1)
    val routes = (0 until 8).map(i => (s"R${i + 1}", s"Route ${i + 1} ${r.alphanumeric.take(5).mkString}"))
    val stops = (0 until 150).map { i =>
      Stop(1000L + i, s"Stop ${i} ${r.alphanumeric.take(4).mkString}",
        f"${46.4 + r.nextDouble() * 0.2}%.5f", f"${-81.1 + r.nextDouble() * 0.2}%.5f")
    }
    val trips = (0 until nTrips).map { t =>
      val path = r.shuffle(stops.indices.toList).take(16)
      var clock = 5 * 3600 + (t * 17 * 60) % (19 * 3600) + r.nextInt(300)
      val sts = path.zipWithIndex.map { case (si, k) =>
        if (k > 0) clock += 120 + r.nextInt(121)
        val dwell = r.nextInt(31)
        val st = StopTime(k + 1, stops(si).stopId, clock, clock + dwell)
        clock += dwell
        st
      }.toIndexedSeq
      Trip(s"T${10000 + t}", routes(t % routes.size)._1, sts)
    }
    Schedule((0 until nDates).map(firstDate.plusDays(_)), routes, stops, trips)
  }

  private def hms(secs: Int): String =
    f"${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d"

  private def ymd(d: LocalDate): String =
    f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d"

  /** The five GTFS CSV members [[graft.pipelines.Historical.readGtfsDir]] reads. */
  def writeGtfs(s: Schedule, dir: Path): Unit = {
    Files.createDirectories(dir)
    def write(name: String, header: String, rows: Iterable[String]): Unit =
      Files.write(dir.resolve(s"$name.txt"),
        (header +: rows.toSeq).mkString("", "\n", "\n").getBytes(UTF_8))
    write("routes", "route_id,route_long_name",
      s.routes.map { case (id, n) => s"$id,$n" })
    write("stops", "stop_id,stop_name,stop_lat,stop_lon",
      s.stops.map(x => s"${x.stopId},${x.name},${x.lat},${x.lon}"))
    write("trips", "route_id,service_id,trip_id",
      s.trips.map(t => s"${t.routeId},1,${t.tripId}"))
    write("calendar_dates", "service_id,date,exception_type",
      s.dates.map(d => s"1,${ymd(d)},1"))
    write("stop_times", "trip_id,arrival_time,departure_time,stop_id,stop_sequence",
      for (t <- s.trips; st <- t.stops)
        yield s"${t.tripId},${hms(st.arrSecs)},${hms(st.depSecs)},${st.stopId},${st.seq}")
  }

  /** Scheduled instant of a GTFS clock on a service date, as the engine's
    * F1 normalisation defines it: local wall time in the agency zone. */
  def schedEpoch(date: LocalDate, secs: Int): Long =
    date.atStartOfDay().plusSeconds(secs.toLong).atZone(Tz).toEpochSecond

  // ------------------------------------------------------- GTFS-RT ticks --

  /** Snapshot key as the E1 path stores it; `date` None = absent start_date. */
  final case class RtKey(tripId: String, date: Option[LocalDate], seq: Long,
                         stopId: String)

  final case class Tick(payload: Array[Byte], rows: Int)

  /** How one seed shapes the feed: the share of entities that re-predict
    * an already-predicted trip (updates) rather than a new one (inserts),
    * the share of entities repeated later in the same feed, and the share
    * with no start_date. */
  final case class FeedMix(repredictShare: Double, repeatShare: Double,
                           absentDateShare: Double)

  def feedMix(seed: Long): FeedMix = {
    val r = rng(seed, 2)
    FeedMix(0.4 + 0.2 * r.nextDouble(), 0.05 + 0.05 * r.nextDouble(),
      0.02 + 0.03 * r.nextDouble())
  }

  /** `n` cron-tick payloads, each a `Rt.encode`d FeedMessage of 24 trip
    * updates, with the per-key prediction each tick leaves behind (last
    * entity in feed order wins). Absent arrival/departure = the epoch-0
    * sentinel. */
  def ticks(seed: Long, s: Schedule, n: Int, t0Epoch: Long)
      : (IndexedSeq[Tick], IndexedSeq[Seq[(RtKey, (Long, Long))]]) = {
    val r = rng(seed, 3)
    val mix = feedMix(seed)
    val predicted = scala.collection.mutable.ArrayBuffer.empty[(Trip, LocalDate)]
    val seen = scala.collection.mutable.HashSet.empty[(String, LocalDate)]
    val out = (0 until n).map { i =>
      val ents = scala.collection.mutable.ArrayBuffer.empty[(Trip, Option[LocalDate], IndexedSeq[StopTimeUpdate])]
      for (_ <- 0 until 24) {
        val (trip, date) =
          if (predicted.nonEmpty && r.nextDouble() < mix.repredictShare)
            predicted(r.nextInt(predicted.size))
          else (s.trips(r.nextInt(s.trips.size)), s.dates(r.nextInt(s.dates.size)))
        if (seen.add((trip.tripId, date))) predicted += ((trip, date))
        val from = r.nextInt(trip.stops.size - 5)
        val stus = trip.stops.drop(from).take(6 + r.nextInt(trip.stops.size - from - 5)).map { st =>
          val delay = r.nextInt(600) - 120
          val arr = schedEpoch(date, st.arrSecs) + delay
          val dep = if (r.nextDouble() < 0.1) None
            else Some(schedEpoch(date, st.depSecs) + delay)
          StopTimeUpdate(Some(st.seq), Some(StopTimeEvent(Some(delay), Some(arr), None)),
            dep.map(d => StopTimeEvent(Some(delay), Some(d), None)), Some(st.stopId.toString))
        }
        val d = if (r.nextDouble() < mix.absentDateShare) None else Some(date)
        ents += ((trip, d, stus))
        if (r.nextDouble() < mix.repeatShare) {
          // a repeated key later in the same feed, with a newer prediction
          val later = stus.map(u => u.copy(arrival = u.arrival.map(e =>
            e.copy(time = e.time.map(_ + 30)))))
          ents += ((trip, d, later))
        }
      }
      val msg = FeedMessage(FeedHeader("2.0", Some(t0Epoch + 60L * i)),
        ents.zipWithIndex.map { case ((t, d, stus), k) =>
          FeedEntity(s"e$i-$k", None, Some(TripUpdate(
            TripDescriptor(Some(t.tripId), None, d.map(ymd), Some(t.routeId)),
            stus, Some(t0Epoch + 60L * i), None)))
        }.toSeq)
      val preds = for ((t, d, stus) <- ents.toSeq; u <- stus) yield
        RtKey(t.tripId, d, u.stopSequence.get.toLong, u.stopId.get) ->
          (u.arrival.flatMap(_.time).getOrElse(0L), u.departure.flatMap(_.time).getOrElse(0L))
      (Tick(Rt.encode(msg), preds.size), preds)
    }
    (out.map(_._1), out.map(_._2))
  }

  /** One OpenWeatherMap current-weather document (Kelvin temperature). */
  def weatherJson(seed: Long): String = {
    val r = rng(seed, 4)
    val id = Seq(800, 801, 500, 600)(r.nextInt(4))
    f"""{"weather":[{"id":$id,"main":"x","description":"desc $id"}],"main":{"temp":${260 + r.nextDouble() * 20}%.2f,"humidity":70}}"""
  }

  // ------------------------------------------------- dashboard realtime --

  val WeatherGroups: IndexedSeq[String] = IndexedSeq("Clear", "Clouds", "Rain", "Snow")

  /** One realtime observation row in the `trip_updates` schema. */
  final case class Obs(tripId: String, date: LocalDate, seq: Long,
                       stopId: String, arr: Long, dep: Long, weather: String)

  /** A multi-day observation history for the mart: ~85% of scheduled
    * stop events observed, weather per (date, hour), plus a few rows
    * whose stop_id is not numeric and so join nothing. */
  def observations(seed: Long, s: Schedule): IndexedSeq[Obs] = {
    val r = rng(seed, 5)
    val wx = (for (d <- s.dates; h <- 0 until 24)
      yield (d, h) -> WeatherGroups(r.nextInt(WeatherGroups.size))).toMap
    for {
      d <- s.dates
      t <- s.trips
      st <- t.stops
      if r.nextDouble() < 0.85
    } yield {
      val delay = r.nextInt(900) - 180
      val stopId = if (r.nextDouble() < 0.01) s"X${st.stopId}" else st.stopId.toString
      Obs(t.tripId, d, st.seq.toLong, stopId,
        schedEpoch(d, st.arrSecs) + delay,
        if (r.nextDouble() < 0.05) 0L else schedEpoch(d, st.depSecs) + delay,
        wx((d, (st.arrSecs / 3600) % 24)))
    }
  }

  // ------------------------------------------------------------ corpus --

  final case class Doc(id: Long, text: String)

  private def word(r: Random): String =
    (0 until 3 + r.nextInt(7)).map(_ => ('a' + r.nextInt(26)).toChar).mkString

  /** Documents over a 4000-word vocabulary; a planted 20% of them get
    * one or two near-duplicates (1-3% of tokens replaced, so bigram
    * Jaccard stays near 0.9), a tenth of which are exact copies; ids are
    * shuffled. */
  def corpus(seed: Long, nBase: Int): IndexedSeq[Doc] = {
    val r = rng(seed, 7)
    val vocab = Iterator.continually(word(r)).distinct.take(4000).toIndexedSeq
    val share = 0.2
    val base = (0 until nBase).map(_ =>
      IndexedSeq.fill(30 + r.nextInt(31))(vocab(r.nextInt(vocab.size))))
    val dups = base.filter(_ => r.nextDouble() < share).flatMap { d =>
      Seq.fill(1 + r.nextInt(2)) {
        val rate = 0.01 + 0.02 * r.nextDouble()
        if (r.nextDouble() < 0.1) d
        else d.map(w => if (r.nextDouble() < rate) vocab(r.nextInt(vocab.size)) else w)
      }
    }
    r.shuffle(base ++ dups).zipWithIndex.map { case (ws, i) => Doc(i + 1L, ws.mkString(" ")) }
  }

  /** Distinct names with a planted share of 1-2-edit variants. */
  def names(seed: Long, nBase: Int): IndexedSeq[String] = {
    val r = rng(seed, 8)
    def name() = s"${word(r).capitalize} ${word(r).capitalize}"
    def edit(s: String): String = {
      val i = r.nextInt(s.length)
      r.nextInt(3) match {
        case 0 => s.updated(i, ('a' + r.nextInt(26)).toChar)
        case 1 => s.patch(i, ('a' + r.nextInt(26)).toString, 0)
        case _ => s.patch(i, "", 1)
      }
    }
    val base = IndexedSeq.fill(nBase)(name())
    val variants = base.filter(_ => r.nextDouble() < 0.15).map { b =>
      if (r.nextBoolean()) edit(b) else edit(edit(b))
    }
    (base ++ variants).distinct
  }
}
