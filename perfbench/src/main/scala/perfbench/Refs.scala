package perfbench

import java.time.{Instant, LocalDate}
import java.time.format.TextStyle
import java.util.Locale

import perfbench.Gen._

/** Reference outputs computed from the generated inputs in plain Scala,
  * without calling the engine. The output checks compare against these. */
object Refs {

  // ------------------------------------------------------ transit_ingest --

  /** Last prediction per snapshot key after the first `n` ticks. */
  def lastPredictions(preds: IndexedSeq[Seq[(RtKey, (Long, Long))]], n: Int)
      : Map[RtKey, (Long, Long)] =
    preds.take(n).foldLeft(Map.empty[RtKey, (Long, Long)])(_ ++ _)

  // --------------------------------------------------- transit_dashboard --

  /** The dimensions of one mart row the dashboard queries group or slice by. */
  final case class MartRow(date: LocalDate, hour: Long, dayType: String,
                           routeId: String, weather: String, geo: String,
                           stopName: String)

  /** The rows DiffTimes.build keeps: observations whose 4-column key
    * (numeric stop_id) matches the schedule; hour and day type are those
    * of the scheduled arrival in the agency zone. */
  def martRows(s: Schedule, obs: Seq[Obs]): IndexedSeq[MartRow] =
    obs.flatMap { o =>
      for {
        trip <- s.tripById.get(o.tripId)
        st <- trip.stops.find(_.seq == o.seq)
        if o.stopId.forall(_.isDigit) && o.stopId.toLong == st.stopId
        if s.dates.contains(o.date)
      } yield {
        val local = Instant.ofEpochSecond(schedEpoch(o.date, st.arrSecs)).atZone(Tz)
        val stop = s.stopById(st.stopId)
        MartRow(o.date, local.getHour.toLong,
          local.getDayOfWeek.getDisplayName(TextStyle.FULL, Locale.US),
          trip.routeId, o.weather, s"${stop.lat}, ${stop.lon}", stop.name)
      }
    }.toIndexedSeq

  /** One dashboard query of the seeded mix: chart A1-A5 plus its slice. */
  final case class Query(chart: Int, dates: Option[(LocalDate, LocalDate)],
                         route: Option[String], weather: Option[String]) {
    def label: String = s"A$chart" + dates.fold("")(d => s"[${d._1}..${d._2}]") +
      route.fold("")(r => s"[route=$r]") + weather.fold("")(w => s"[weather=$w]")
  }

  /** Expected `n_rows` per output group of a query: keyed by hour for A1,
    * A2 and A3, by (geo, stop) for A4, and by the rollup's (day type,
    * hour) with nulls as None for A5. */
  def expectedCounts(q: Query, rows: IndexedSeq[MartRow]): Map[Seq[Option[Any]], Long] = {
    val in = rows.filter(m =>
      q.dates.forall { case (a, b) => !m.date.isBefore(a) && !m.date.isAfter(b) } &&
        q.route.forall(_ == m.routeId) && q.weather.forall(_ == m.weather))
    def counts(key: MartRow => Seq[Option[Any]]) =
      in.groupBy(key).map { case (k, v) => k -> v.size.toLong }
    q.chart match {
      case 1 | 2 | 3 => counts(m => Seq(Some(m.hour)))
      case 4 => counts(m => Seq(Some(m.geo), Some(m.stopName)))
      case 5 =>
        counts(m => Seq(Some(m.dayType), Some(m.hour))) ++
          counts(m => Seq(Some(m.dayType), None)) ++
          (if (in.isEmpty) Map.empty else Map(Seq(None, None) -> in.size.toLong))
    }
  }

  // -------------------------------------------------------- corpus_dedup --

  /** Distinct word bigrams, the shingles the dedup operators compare. */
  def bigrams(text: String): Set[String] =
    text.split(" ").filter(_.nonEmpty).sliding(2).collect {
      case Array(a, b) => s"$a $b"
    }.toSet

  /** Brute-force pairs (id_a < id_b) with bigram Jaccard >= tau, and
    * their Jaccard, computed with the engine's double arithmetic. Every
    * pair is compared; shingles are interned to sorted int arrays so the
    * all-pairs pass stays cheap. */
  def jaccardPairs(docs: Seq[Doc], tau: Double): Map[(Long, Long), Double] = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    val sh = docs.map(d => (d.id, bigrams(d.text).toArray
        .map(g => ids.getOrElseUpdate(g, ids.size)).sorted))
      .filter(_._2.nonEmpty).toIndexedSeq
    val out = Map.newBuilder[(Long, Long), Double]
    for (i <- sh.indices; j <- i + 1 until sh.size) {
      val (ia, a) = sh(i); val (ib, b) = sh(j)
      var (x, y, inter) = (0, 0, 0)
      while (x < a.length && y < b.length) {
        if (a(x) == b(y)) { inter += 1; x += 1; y += 1 }
        else if (a(x) < b(y)) x += 1 else y += 1
      }
      if (inter > 0) {
        val jac = inter.toDouble / ((a.length + b.length).toDouble - inter.toDouble)
        if (jac >= tau) out += (math.min(ia, ib), math.max(ia, ib)) -> jac
      }
    }
    out.result()
  }

  /** Connected components of a pair graph, labelled by their minimum id. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** How program cluster labels (id -> cluster_id) agree with brute-force
    * pairs: sound when every cluster lies inside one connected component
    * of the pairs and is labelled by its smallest id; recall is the share
    * of pairs whose two ids share a label. MinHash LSH is approximate, so
    * recall is held to the bound the engine's property tests state for 32
    * bands of 2 rows (>= 90% of pairs at Jaccard >= 0.5), not to 1. */
  def clusterAgreement(labels: Map[Long, Long], pairs: Set[(Long, Long)]): (Boolean, Double) = {
    val comp = components(pairs)
    val sound = labels.groupBy(_._2).forall { case (cid, members) =>
      members.keys.min == cid && members.keys.map(comp.getOrElse(_, -1L)).size == 1 &&
        comp.contains(cid)
    }
    val found = pairs.count { case (a, b) => labels.get(a).exists(labels.get(b).contains) }
    (sound, if (pairs.isEmpty) 1.0 else found.toDouble / pairs.size)
  }

  /** Levenshtein distance, or `max + 1` once it must exceed `max`. */
  def levenshtein(a: String, b: String, max: Int): Int = {
    if (math.abs(a.length - b.length) > max) return max + 1
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      var best = cur(0)
      for (j <- 1 to b.length) {
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        best = math.min(best, cur(j))
      }
      if (best > max) return max + 1
      prev = cur
    }
    prev(b.length)
  }

  /** Brute-force name pairs (a < b) within `maxDist` edits. */
  def fuzzyPairs(names: Seq[String], maxDist: Int): Map[(String, String), Int] = {
    val ns = names.distinct.sorted.toIndexedSeq
    val out = Map.newBuilder[(String, String), Int]
    for (i <- ns.indices; j <- i + 1 until ns.size) {
      val d = levenshtein(ns(i), ns(j), maxDist)
      if (d <= maxDist) out += (ns(i), ns(j)) -> d
    }
    out.result()
  }
}
