package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.gtfs._

import scala.concurrent.duration.DurationInt

/** The composed cron topology: two ticks of fetch → throttled weather →
  * E1 drain, asserting snapshot content, weather enrichment, and that the
  * throttle called the weather "API" exactly once across both ticks; then
  * the tick's fixed costs: codegen on a warm session, the session conf
  * and the checkpoint file manager. */
class RealtimeRunnerSpec extends SparkSpec {

  private def feedBytes(seq: Int, arr: Long): Array[Byte] =
    Rt.encode(FeedMessage(
      FeedHeader("2.0", Some(arr)),
      Seq(FeedEntity("e", None, Some(TripUpdate(
        TripDescriptor(Some("T1"), None, Some("20240601"), None),
        Seq(StopTimeUpdate(Some(seq),
          Some(StopTimeEvent(None, Some(arr), None)), None, Some("10"))),
        None, None))))))

  private def freshDir(name: String): java.nio.file.Path = {
    val base = Paths.get("target", name)
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    Files.createDirectories(base)
  }

  private def config(base: java.nio.file.Path): RealtimeRunner.Config =
    RealtimeRunner.Config(
      feedUrl = base.resolve("upstream.pb").toUri.toString,
      dropDir = base.resolve("drop").toString,
      targetPath = base.resolve("tgt").toString,
      checkpointDir = base.resolve("chk").toString,
      weatherStatePath = base.resolve("weather.state").toString,
      runTimeout = 5.minutes)

  test("two cron ticks: snapshot updates, weather attaches, throttle " +
    "holds to one weather call inside the window") {
    val base = Paths.get("target", "test_runner")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    Files.createDirectories(base)

    val upstream = base.resolve("upstream.pb")
    val weatherFile = base.resolve("weather.json")
    // The weather payload carries a version marker: the file is rewritten
    // to v2 between ticks, so a throttle that re-fetched inside the window
    // would surface v2 — the snapshot must show v1 in both ticks.
    Files.writeString(weatherFile,
      """{"weather":[{"id":601,"main":"Snow","description":"v1"}],""" +
        """"main":{"temp":263.15}}""")

    val cfg = RealtimeRunner.Config(
      feedUrl = upstream.toUri.toString,
      dropDir = base.resolve("drop").toString,
      targetPath = base.resolve("tgt").toString,
      checkpointDir = base.resolve("chk").toString,
      weatherUrl = Some(weatherFile.toUri.toString),
      weatherStatePath = base.resolve("weather.state").toString,
      weatherMinInterval = 2.minutes,
      runTimeout = 5.minutes)

    var now = 0L
    val clock = () => { now += 1000L; now } // each call +1s: inside window

    Files.write(upstream, feedBytes(1, 1000L))
    assert(RealtimeRunner.runOnce(spark, cfg, clock) === 1)

    // Between ticks the upstream weather CHANGES; the throttle must keep
    // serving the cached v1 payload (window not elapsed).
    Files.writeString(weatherFile,
      """{"weather":[{"id":601,"main":"Snow","description":"v2"}],""" +
        """"main":{"temp":263.15}}""")
    Files.write(upstream, feedBytes(1, 2000L))
    assert(RealtimeRunner.runOnce(spark, cfg, clock) === 1)

    val snap = spark.read.parquet(cfg.targetPath).collect()
    assert(snap.length === 1)
    val row = snap.head
    assert(row.getTimestamp(row.fieldIndex("arrival_time")).getTime / 1000
      === 2000L) // second tick's prediction won
    assert(row.getString(row.fieldIndex("weather_description")) === "v1",
      "throttle leaked a second weather call inside the window")
    // and the throttle state file exists for the next process
    assert(Files.exists(Paths.get(cfg.weatherStatePath)))
  }

  test("warm session: a tick compiles at most 2 generated classes, because " +
    "the merge runs on the caller's session, whose codegen cache outlives " +
    "the stream's cloned session") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val base = freshDir("test_runner_codegen")
    val cfg = config(base)
    var now = 0L
    val clock = () => { now += 1000L; now }
    def tick(i: Int): Unit = {
      Files.write(base.resolve("upstream.pb"), feedBytes(i % 2 + 1, 1000L * i))
      assert(RealtimeRunner.runOnce(spark, cfg, clock) === 1)
    }
    tick(1); tick(2) // the first merges into an empty snapshot
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    tick(3); tick(4)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles <= 4, s"ticks 3-4 compiled $compiles classes")
    assert(spark.read.parquet(cfg.targetPath).count() === 2L)
  }

  test("runOnce runs its query with the FileSystem checkpoint manager, " +
    "leaves the caller's conf as it found it, also after a timed-out " +
    "drain, and resumes a checkpoint written through Spark's default " +
    "manager, landing only the new feed") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val base = freshDir("test_runner_conf")
    val cfg = config(base)
    val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
    def confNow = spark.conf.getAll
    val before = confNow
    assert(!before.contains(managerKey))
    // the manager each query starts under (onQueryStarted runs before
    // start() returns)
    val managers = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        managers.add(spark.conf.getOption(managerKey).getOrElse("default"))
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      // a checkpoint written by a plain feed stream, with Spark's default
      // checkpoint file manager
      Files.createDirectories(base.resolve("drop"))
      Files.write(base.resolve("drop/first.pb"), feedBytes(1, 1000L))
      RealtimeStream.startFeedStream(spark, cfg.dropDir, cfg.targetPath,
          cfg.checkpointDir, () => None,
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .awaitTermination()
      var now = 0L
      val clock = () => { now += 1000L; now }
      Files.write(base.resolve("upstream.pb"), feedBytes(2, 2000L))
      assert(RealtimeRunner.runOnce(spark, cfg, clock) === 1)
      assert(confNow === before)
      // batch 1 resumed the log and took exactly the fetched file
      val batch1 = Files.readAllLines(base.resolve("chk/sources/0/1"))
        .toArray.map(_.toString).filter(_.contains("\"path\""))
      assert(batch1.length === 1 && !batch1.head.contains("first.pb"),
        batch1.mkString("\n"))
      val snap = spark.read.parquet(cfg.targetPath).collect()
        .map(r => r.getLong(r.fieldIndex("stop_sequence")) ->
          r.getTimestamp(r.fieldIndex("arrival_time")).getTime / 1000).toMap
      assert(snap === Map(1L -> 1000L, 2L -> 2000L))

      // a drain past the deadline: every clock read after the first is
      // 10 minutes on, so the drain gets 1 ms and is stopped
      val late = config(freshDir("test_runner_timeout"))
      var calls = 0
      val jump = () => { calls += 1; if (calls == 1) 0L else 600000L }
      Files.write(Paths.get(new java.net.URI(late.feedUrl)), feedBytes(1, 1000L))
      val active = spark.streams.active.length
      intercept[java.util.concurrent.TimeoutException](
        RealtimeRunner.runOnce(spark, late, jump))
      assert(spark.streams.active.length === active)
      assert(confNow === before)
    } finally spark.streams.removeListener(listener)
    val fsManager = classOf[org.apache.spark.sql.execution.streaming
      .checkpointing.FileSystemBasedCheckpointFileManager].getName
    assert(managers.toArray.toSeq === Seq("default", fsManager, fsManager))
  }
}
