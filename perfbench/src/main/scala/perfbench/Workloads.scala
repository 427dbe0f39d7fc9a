package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate

import graft.analytics.Dashboard
import graft.dedup.Dedup
import graft.gtfs.Rt
import graft.pipelines.{DiffTimes, Historical}
import graft.streaming.{RealtimeRunner, RealtimeStream}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** What a run shares with its workload: the session, the seed, and the
  * tracer when this phase is traced. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int) {
  var tracer: Option[Tracer] = None
  def op[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(_.op(layer, name)(body))
}

/** One closed-loop, single-client workload. Set-up is `generate` (make
  * and land the seeded inputs; cheap, so a run repeats it) and then
  * `setUp` (the program's own set-up and a warm-up of the timed path).
  * Each `Phase` starts from fresh program state and runs `step` until its
  * time is up and its last cycle is whole. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def generate(dir: Path): Unit
  def setUp(dir: Path): Unit
  def newPhase(dir: Path): Phase
  /** Ops a phase measures even past its time. */
  def minOps: Int = 1

  protected def warmUp(ph: Phase)(body: => Unit): Unit = {
    body
    require(ph.failed == 0, s"warm-up failed: ${ph.failures.mkString("; ")}")
  }
}

abstract class Phase {
  /** Named series of wall-clock samples in seconds; "op" is the series
    * `op_p50_s` reports. */
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Whether the phase can run another step (its inputs may run out). */
  def hasNext: Boolean = true
  def step(): Unit
  /** Whether the steps so far make whole cycles of the workload (a window
    * of ticks). Every run then measures the same mix, however many steps
    * the machine gets through. */
  def cycleDone: Boolean = true
  /** Output checks, after the timed loop; a failed check counts as a
    * failed op. */
  def check(): Unit
  /** Per-layer figures from the traced phase. */
  def layers(t: TraceData): Map[String, Double]

  def record(series: String, secs: Double): Unit =
    samples.getOrElseUpdate(series, mutable.ArrayBuffer.empty) += secs

  /** Time one op; an exception counts it as failed and is reported. */
  def timed[T](series: String*)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = body
      val s = (System.nanoTime() - t0) / 1e9
      series.foreach(record(_, s))
      Some(v)
    } catch {
      case e: Exception =>
        failed += 1
        failures += s"${series.headOption.getOrElse("op")}: $e"
        None
    }
  }

  def expect(what: String, ok: Boolean): Unit =
    if (!ok) { failed += 1; failures += s"check failed: $what" }

  protected def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)
}

object Workloads {
  def uri(p: Path): String = p.toAbsolutePath.toUri.toString

  def countFiles(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else {
      val s = Files.walk(dir)
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
}

// =========================================================== transit_ingest

/** E2 load, then one-minute cron ticks through RealtimeRunner.runOnce, with
  * the E3 mart refresh every 10 ticks. The snapshot is rewritten whole on
  * every tick, so a tick costs more as it grows: each refresh closes a
  * window, and the next window replays the same 10 feeds into fresh stream
  * state. Every tick sample then sees a snapshot from the same range, however
  * many ticks a run gets through. */
final class TransitIngest(ctx: Ctx) extends Workload(ctx) {
  import Workloads._
  val windowTicks = 10
  val maxTicks = 120
  val firstDate: LocalDate = LocalDate.of(2026, 1, 12)
  private var inputs: Path = _
  private var preds: IndexedSeq[Seq[(Gen.RtKey, (Long, Long))]] = _
  private var tickRows: IndexedSeq[Int] = _
  val t0Ms: Long = Gen.schedEpoch(firstDate, 6 * 3600) * 1000L

  def generate(dir: Path): Unit = {
    val s = Gen.schedule(ctx.seed, firstDate, 2, 96)
    Gen.writeGtfs(s, dir.resolve("gtfs"))
    val (ticks, p) = Gen.ticks(ctx.seed, s, windowTicks, t0Ms / 1000)
    Files.createDirectories(dir.resolve("feeds"))
    ticks.zipWithIndex.foreach { case (t, i) =>
      Files.write(dir.resolve(f"feeds/tick_$i%04d.pb"), t.payload)
    }
    Files.write(dir.resolve("weather.json"), Gen.weatherJson(ctx.seed).getBytes(UTF_8))
    inputs = dir; preds = p; tickRows = ticks.map(_.rows)
  }

  /** Warm-up: E2, three ticks (the first lands on an empty snapshot, the
    * others merge into it) and a refresh, in state of their own. */
  def setUp(dir: Path): Unit = {
    val ph = newPhase(dir)
    warmUp(ph) { (0 until 3).foreach(_ => ph.step()); ph.refresh() }
  }

  def newPhase(dir: Path): IngestPhase = new IngestPhase(dir)

  final class IngestPhase(dir: Path) extends Phase {
    private val gtfsData = dir.resolve("gtfs_data").toString
    private val mart = dir.resolve("mart").toString
    private var ticksDone = 0
    private def window: Int = (ticksDone - 1) / windowTicks
    private def target(w: Int) = dir.resolve(f"window_$w%02d/trip_updates").toString
    private def config(w: Int, feed: Path) = {
      val wd = dir.resolve(f"window_$w%02d")
      RealtimeRunner.Config(
        feedUrl = uri(feed), dropDir = wd.resolve("drop").toString, targetPath = target(w),
        checkpointDir = wd.resolve("checkpoint").toString,
        weatherUrl = Some(uri(inputs.resolve("weather.json"))),
        weatherStatePath = wd.resolve("weather.state").toString)
    }
    private val decodeSecs = mutable.ArrayBuffer.empty[Double]
    private val snapshotFiles = mutable.ArrayBuffer.empty[Double]

    override def hasNext: Boolean = ticksDone < maxTicks

    // every phase starts with its own E2 load, before the phase's clock
    timed("e2_load")(ctx.op("pipelines", "e2_load") {
      val (st, tr, cd, sp, ro) = Historical.readGtfsDir(spark, inputs.resolve("gtfs").toString)
      Historical.build(st, tr, cd, sp, ro).write.mode("overwrite").parquet(gtfsData)
    })

    def step(): Unit = {
      val i = ticksDone % windowTicks
      val w = ticksDone / windowTicks
      val feed = inputs.resolve(f"feeds/tick_$i%04d.pb")
      val landed = timed("op", "tick")(ctx.op("streaming", "tick") {
        RealtimeRunner.runOnce(spark, config(w, feed), clock = () => t0Ms + 60000L * i)
      })
      landed.foreach(n => expect(s"tick $w/$i landed $n payloads, not 1", n == 1))
      ticksDone += 1
      if (ctx.tracer.isDefined) {
        val bytes = Files.readAllBytes(feed)
        val t0 = System.nanoTime()
        val rows = Rt.flatten(Rt.decode(bytes)).size
        decodeSecs += (System.nanoTime() - t0) / 1e9
        expect(s"tick $i decodes to ${tickRows(i)} rows", rows == tickRows(i))
        snapshotFiles += countFiles(java.nio.file.Paths.get(target(w)))
      }
      if (ticksDone % windowTicks == 0) refresh()
    }

    /** A run ends with a whole window, its refresh included. */
    override def cycleDone: Boolean = ticksDone % windowTicks == 0

    private def snapshot(w: Int): DataFrame = {
      val fs = new HPath(target(w)).getFileSystem(spark.sessionState.newHadoopConf())
      spark.read.parquet(RealtimeStream.snapshotPath(fs, target(w)).get.toString)
    }

    /** E3: rebuild the delay mart from the window's snapshot and the
      * schedule, and overwrite the service dates it holds. */
    def refresh(): Unit = timed("refresh")(ctx.op("pipelines", "refresh") {
      DiffTimes.refreshMart(DiffTimes.build(snapshot(window), spark.read.parquet(gtfsData)), mart)
    })

    /** Every window's final snapshot, against the last predictions of the
      * feeds it took. */
    def check(): Unit = (0 until (ticksDone + windowTicks - 1) / windowTicks).foreach { w =>
      val n = math.min(windowTicks, ticksDone - w * windowTicks)
      val want = Refs.lastPredictions(preds, n)
      val got = snapshot(w)
        .select("trip_id", "start_date", "stop_sequence", "stop_id", "arrival_time", "departure_time")
        .collect().map { r =>
          Gen.RtKey(r.getString(0), Option(r.getDate(1)).map(_.toLocalDate), r.getLong(2),
            r.getString(3)) -> (r.getTimestamp(4).getTime / 1000, r.getTimestamp(5).getTime / 1000)
        }
      expect(s"window $w snapshot keeps one row per key (${got.length} rows, ${want.size} keys) " +
        "with each key's last prediction", Checks.snapshot(got.toSeq, want))
    }

    def layers(t: TraceData): Map[String, Double] = {
      val ticks = t.opsNamed("tick")
      val tickBatches = ticks.flatMap(t.batchesOf)
      val e2 = t.opsNamed("e2_load")
      val refreshes = t.opsNamed("refresh")
      val rowsIn = ticks.indices.map(i => tickRows(i % windowTicks)).sum.toDouble
      // a tick is one micro-batch
      def d(k: String*) = med(tickBatches.map(b => k.map(b.durations.getOrElse(_, 0L)).sum / 1e3))
      val firstBatch = ticks.flatMap(o => t.batchesOf(o).headOption.map(b => (b.startMs - o.startMs) / 1e3))
      Map(
        "streaming.batch_p50_s" -> med(tickBatches.map(_.wallMs / 1e3)),
        "streaming.query_start_s" -> med(firstBatch),
        "streaming.latest_offset_s" -> d("latestOffset"),
        "streaming.query_planning_s" -> d("queryPlanning"),
        "streaming.add_batch_s" -> d("addBatch"),
        "streaming.wal_commit_s" -> d("walCommit", "commitOffsets"),
        "streaming.jobs_per_batch" -> med(tickBatches.map(t.jobsIn(_).size.toDouble)),
        "streaming.driver_gap_s" -> med(tickBatches.map(t.driverGapMs(_) / 1e3)),
        "gtfs.decode_s" -> med(decodeSecs.toSeq),
        "operators.rows_written_per_row_in" ->
          ticks.flatMap(t.qesOf).map(_.rowsWritten).sum / math.max(1.0, rowsIn),
        "streaming.files_written_per_batch" ->
          med(tickBatches.map(b => t.qesIn(b).map(_.filesWritten).sum.toDouble)),
        "streaming.snapshot_files" -> med(snapshotFiles.toSeq),
        "pipelines.e2_load_s" -> med(e2.map(_.wallMs / 1e3)),
        "pipelines.e2_jobs" -> med(e2.map(t.jobsOf(_).size.toDouble)),
        "pipelines.e2_driver_gap_s" -> med(e2.map(t.driverGapMs(_) / 1e3)),
        "pipelines.mart_refresh_s" -> med(refreshes.map(_.wallMs / 1e3)),
        "pipelines.refresh_jobs" -> med(refreshes.map(t.jobsOf(_).size.toDouble)),
        "pipelines.refresh_partitions_written" ->
          med(refreshes.map(r => t.qesOf(r).map(_.partsWritten).sum.toDouble)))
    }
  }
}

// ======================================================= transit_dashboard

/** A seeded mix of A1-A5 over a date-partitioned multi-day mart. */
final class TransitDashboard(ctx: Ctx) extends Workload(ctx) {
  import Refs.Query
  val firstDate: LocalDate = LocalDate.of(2026, 1, 5)
  val nDates = 14
  private var mart: String = _
  private var martFiles = 0
  private var rows: IndexedSeq[Refs.MartRow] = _
  private var queries: IndexedSeq[Query] = _

  private var gtfsDir: Path = _
  private var tuPath: Path = _

  def generate(dir: Path): Unit = {
    val s = Gen.schedule(ctx.seed, firstDate, nDates, 120)
    Gen.writeGtfs(s, dir.resolve("gtfs"))
    val obs = Gen.observations(ctx.seed, s)
    val tu = dir.resolve("trip_updates.jsonl")
    val w = Files.newBufferedWriter(tu, UTF_8)
    try obs.foreach { o =>
      w.write(s"""{"trip_id":"${o.tripId}","start_date":"${o.date}","stop_sequence":${o.seq},""" +
        s""""stop_id":"${o.stopId}","arrival":${o.arr},"departure":${o.dep},"weather_group":"${o.weather}"}""")
      w.newLine()
    } finally w.close()
    gtfsDir = dir.resolve("gtfs"); tuPath = tu
    rows = Refs.martRows(s, obs)
    queries = mix(s)
  }

  /** Builds and writes the mart, then runs each chart once and the first
    * 50 queries of the mix: queries keep getting faster for about that
    * many, well past the first of each kind. */
  def setUp(dir: Path): Unit = {
    val tuDf = spark.read.schema("trip_id string, start_date date, stop_sequence long, " +
        "stop_id string, arrival long, departure long, weather_group string").json(tuPath.toString)
      .select(col("trip_id"), col("start_date"), col("stop_sequence"), col("stop_id"),
        timestamp_seconds(col("arrival")).as("arrival_time"),
        timestamp_seconds(col("departure")).as("departure_time"), col("weather_group"),
        concat(lit("desc "), col("weather_group")).as("weather_description"),
        lit(-5.0).as("temperature"), current_timestamp().as("created_at"),
        current_timestamp().as("updated_at"))
    val (st, tr, cd, sp, ro) = Historical.readGtfsDir(spark, gtfsDir.toString)
    mart = dir.resolve("mart").toString
    DiffTimes.writeMart(DiffTimes.build(tuDf, Historical.build(st, tr, cd, sp, ro)), mart)
    martFiles = Workloads.countFiles(dir.resolve("mart"))
    val ph = newPhase(dir)
    warmUp(ph) {
      (1 to 5).foreach(c => ph.run(Query(c, None, None, None)))
      queries.take(50).foreach(ph.run)
    }
  }

  /** Every block of five queries runs each chart once, in seeded order.
    * In every block two of A1/A3/A4/A5, chosen by the seed, slice 1-4 days
    * (pruning partitions) and two read every date; A2 slices by route in
    * even blocks and by weather in odd ones (pruning nothing). Every block
    * then does the same kind of work, whatever the seed. */
  private def mix(s: Gen.Schedule): IndexedSeq[Query] = {
    val r = Gen.rng(ctx.seed, 9)
    (0 until 400).flatMap { b =>
      val sliced = r.shuffle(List(1, 3, 4, 5)).take(2).toSet
      r.shuffle((1 to 5).toList).map {
        case 2 if b % 2 == 0 => Query(2, None, Some(s.routes(r.nextInt(s.routes.size))._1), None)
        case 2 => Query(2, None, None, Some(Gen.WeatherGroups(r.nextInt(Gen.WeatherGroups.size))))
        case c if sliced(c) =>
          val a = r.nextInt(nDates); val e = math.min(nDates - 1, a + r.nextInt(4))
          Query(c, Some((firstDate.plusDays(a), firstDate.plusDays(e))), None, None)
        case c => Query(c, None, None, None)
      }
    }
  }

  def newPhase(dir: Path): DashPhase = new DashPhase

  final class DashPhase extends Phase {
    private var block = 0
    private val results = mutable.ArrayBuffer.empty[(Query, Array[Row])]
    private val planSecs = mutable.ArrayBuffer.empty[Double]
    private val execSecs = mutable.ArrayBuffer.empty[Double]

    override def hasNext: Boolean = (block + 1) * 5 <= queries.size
    /** One op: a block of five queries, each chart once. A single query's
      * median would fall between the charts' costs and jump with the mix. */
    def step(): Unit = {
      val t0 = System.nanoTime()
      queries.slice(block * 5, block * 5 + 5).foreach(run)
      record("op", (System.nanoTime() - t0) / 1e9)
      block += 1
    }

    def frame(q: Query): DataFrame = {
      val m = spark.read.parquet(mart)
      val sliced = q.dates.fold(m) { case (a, b) =>
        m.where(col("start_date").between(java.sql.Date.valueOf(a), java.sql.Date.valueOf(b)))
      }
      q.chart match {
        case 1 => Dashboard.avgDelayByHour(sliced)
        case 2 => Dashboard.avgDelayByHourSliced(sliced, weatherGroup = q.weather, routeId = q.route)
        case 3 => Dashboard.peakHours(sliced)
        case 4 => Dashboard.stopDensity(sliced)
        case 5 => Dashboard.delayRollup(sliced)
      }
    }

    def run(q: Query): Unit =
      timed("query", s"a${q.chart}")(ctx.op("analytics", s"a${q.chart}") {
        val df = frame(q)
        if (ctx.tracer.isDefined) {
          val t0 = System.nanoTime()
          df.queryExecution.executedPlan
          val t1 = System.nanoTime()
          val out = df.collect()
          planSecs += (t1 - t0) / 1e9
          execSecs += (System.nanoTime() - t1) / 1e9
          out
        } else df.collect()
      }).foreach(out => results += ((q, out)))

    def check(): Unit = results.foreach { case (q, out) =>
      val got = out.map { r =>
        val key: Seq[Option[Any]] = q.chart match {
          case 1 | 2 | 3 => Seq(Some(r.getLong(0)))
          case 4 => Seq(Some(r.getString(0)), Some(r.getString(1)))
          case 5 => Seq(Option(r.getString(0)), Option(r.get(1)).map(_.asInstanceOf[Long]))
        }
        key -> r.getAs[Long]("n_rows")
      }
      expect(s"${q.label} n_rows per group", Checks.counts(q, got.toSeq, rows))
    }

    def layers(t: TraceData): Map[String, Double] = {
      val qs = t.ops.filter(_.layer == "analytics")
      def m(xs: Seq[Double]) = med(xs)
      Map(
        "analytics.plan_s" -> m(planSecs.toSeq),
        "analytics.execute_s" -> m(execSecs.toSeq),
        "analytics.jobs_per_query" -> m(qs.map(t.jobsOf(_).size.toDouble)),
        "analytics.tasks_per_query" -> m(qs.map(t.tasksOf(_).size.toDouble)),
        "analytics.files_read_share" -> (if (qs.isEmpty) 0.0 else
          qs.map(q => t.qesOf(q).map(_.filesRead).sum.toDouble / math.max(1, martFiles)).sum / qs.size),
        "analytics.bytes_read_per_query" -> m(qs.map(t.tasksOf(_).map(_.inputBytes).sum.toDouble))) ++
        (1 to 5).map(c => s"analytics.a${c}_p50_s" -> m(t.opsNamed(s"a$c").map(_.wallMs / 1e3)))
    }
  }
}

// ============================================================ corpus_dedup

/** Three dedup jobs run to completion per pass: prefix-filtered Jaccard
  * pairs, LSH candidates verified and clustered, and fuzzy name pairs. */
final class CorpusDedup(ctx: Ctx) extends Workload(ctx) {
  val tau = 0.5
  val maxDist = 2
  /** 32 bands of 2 rows over 64 hashes: the banding the engine's property
    * tests hold the polynomial LSH to >= 90% recall at Jaccard >= 0.5. */
  val bands = 32
  val nDocs = 1000
  val nNames = 1200
  private var docs: IndexedSeq[Gen.Doc] = _
  private var names: IndexedSeq[String] = _

  private var inputs: Path = _

  def generate(dir: Path): Unit = {
    docs = Gen.corpus(ctx.seed, nDocs)
    names = Gen.names(ctx.seed, nNames)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(dir.resolve("corpus.jsonl"),
      docs.map(d => s"""{"id":${d.id},"text":"${esc(d.text)}"}""").mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(dir.resolve("names.jsonl"),
      names.map(n => s"""{"name":"${esc(n)}"}""").mkString("", "\n", "\n").getBytes(UTF_8))
    inputs = dir
  }

  /** Warm-up: two passes over the measured inputs. Passes keep getting
    * faster for about five (the JIT); more warm-up does not fit the time
    * budget, so every run measures the same passes three to five. A pass
    * costs about the same on a quarter of the inputs (the cost is mostly
    * per job). */
  def setUp(dir: Path): Unit = {
    val ph = newPhase(dir)
    warmUp(ph)((0 until 2).foreach(_ => ph.step()))
  }

  def newPhase(dir: Path): DedupPhase = new DedupPhase
  /** A pass takes seconds, so a run always times three: the median of
    * three drops one disturbed pass. */
  override def minOps: Int = 3

  final class DedupPhase extends Phase {
    private val corpusPath = inputs.resolve("corpus.jsonl").toString
    private val namesPath = inputs.resolve("names.jsonl").toString
    private val nearDup = mutable.ArrayBuffer.empty[Array[Row]]
    private val clusters = mutable.ArrayBuffer.empty[Array[Row]]
    private val fuzzy = mutable.ArrayBuffer.empty[Array[Row]]
    // the LSH path collapses exact copies to their smallest id first
    private lazy val lshTruth = Refs.jaccardPairs(docs.groupBy(_.text).values.map(_.minBy(_.id)).toSeq, tau)

    private def corpus = spark.read.schema("id long, text string").json(corpusPath)
    private def lshCandidates = Dedup.polyMinhashCandidatePairs(corpus, "id", "text", bands = bands)
    private def verified(cands: DataFrame) =
      Dedup.jaccardOnPairs(cands, corpus, "id", "text").where(col("jaccard") >= tau)

    def step(): Unit = {
      val t0 = System.nanoTime()
      timed("near_dup")(ctx.op("dedup", "near_dup") {
        Dedup.prefixJaccardPairs(corpus, "id", "text", tau).collect()
      }).foreach(nearDup += _)
      timed("clusters")(ctx.op("dedup", "clusters") {
        val labels = Dedup.dupClusters(verified(lshCandidates))
        val out = labels.collect()
        Dedup.releaseClusterState(labels)
        out
      }).foreach(clusters += _)
      timed("fuzzy")(ctx.op("dedup", "fuzzy") {
        Dedup.fuzzyNamePairs(spark.read.schema("name string").json(namesPath), "name", maxDist).collect()
      }).foreach(fuzzy += _)
      record("op", (System.nanoTime() - t0) / 1e9)
    }

    def check(): Unit = {
      val truth = Refs.jaccardPairs(docs, tau)
      val names2 = Refs.fuzzyPairs(names, maxDist)
      nearDup.foreach(out => expect("prefix-Jaccard pairs equal the brute-force pairs",
        Checks.samePairs(out.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toSeq, truth)))
      clusters.foreach { out =>
        val got = out.map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
        expect(f"LSH clusters ($bands bands) are sound and recover >= 90%% of the brute-force pairs " +
          f"(recall ${Refs.clusterAgreement(got, lshTruth.keySet)._2}%.3f)",
          got.size == out.length && Checks.clusters(got, lshTruth.keySet))
      }
      fuzzy.foreach(out => expect("fuzzy name pairs equal the brute-force pairs",
        Checks.samePairs(out.map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b")) -> r.getAs[Int]("dist")).toSeq, names2)))
    }

    def layers(t: TraceData): Map[String, Double] = {
      def jobLayers(key: String, wall: String) = {
        val os = t.opsNamed(key)
        Map(s"dedup.$wall" -> med(os.map(_.wallMs / 1e3)),
          s"dedup.${key}_jobs" -> med(os.map(t.jobsOf(_).size.toDouble)),
          s"dedup.${key}_core_util" -> med(os.map(t.coreUtil(_, ctx.cores))),
          s"dedup.${key}_max_task_share" -> med(os.map(t.maxTaskShare)))
      }
      def perPair(job: String, metric: String, field: String, outs: Seq[Array[Row]]) = {
        val os = t.opsNamed(job)
        med(os.zip(outs.takeRight(os.size)).flatMap { case (o, out) =>
          t.observed(o, metric, field).map(_.toDouble / math.max(1, out.length))
        })
      }
      // candidates and verified pairs are counted once here, after the
      // traced phase and outside every op, on the public outputs the timed
      // job builds
      val cands = lshCandidates.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val nVerified = verified(lshCandidates).count()
      jobLayers("near_dup", "near_dup_pairs_s") ++ jobLayers("clusters", "dup_clusters_s") ++
        jobLayers("fuzzy", "fuzzy_names_s") ++ Map(
        "dedup.prefix_candidates_per_pair" -> perPair("near_dup", "prefix_jaccard", "candidate_pairs", nearDup.toSeq),
        "dedup.lsh_candidates_per_pair" -> cands.size.toDouble / math.max(1L, nVerified),
        "dedup.lsh_candidate_recall" ->
          (if (lshTruth.isEmpty) 1.0 else lshTruth.keys.count(cands).toDouble / lshTruth.size),
        "dedup.cc_rounds" -> med(t.opsNamed("clusters").flatMap(t.observed(_, "graft_cc_summary", "rounds").map(_.toDouble))),
        "dedup.fuzzy_candidates_per_pair" -> perPair("fuzzy", "fuzzy_block", "candidates", fuzzy.toSeq))
    }
  }
}
