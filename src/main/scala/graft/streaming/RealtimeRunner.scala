package graft.streaming

import java.nio.charset.StandardCharsets

import graft.gtfs.{FetchLoop, Rt}
import graft.operators.Timeout
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.Trigger

import scala.concurrent.duration.{Duration, DurationInt}

/** The reference's production topology, composed end to end from the
  * parts this library provides — what `crontab → realtime_extractor.py`
  * does every minute (reference/README.md:172-178):
  *
  *   1. fetch the GTFS-realtime feed (S1, 503-tolerant) into the drop
  *      directory ([[graft.gtfs.FetchLoop]]);
  *   2. fetch weather at most once per throttle window, reusing the
  *      cached payload otherwise (P9, [[Throttle]]);
  *   3. drain the drop directory through the E1 micro-batch pipeline into
  *      the keyed snapshot ([[RealtimeStream.startFeedStream]] with
  *      `Trigger.AvailableNow`) — decode, flatten, enrich, upsert, swap;
  *   4. all under the run timeout (O2, [[Timeout]]) so a hung run dies
  *      before the next cron tick stacks on top
  *      (realtime_extractor.py:134-143).
  *
  * One [[runOnce]] call = one cron tick. State (snapshot, stream
  * checkpoint, throttle state, drop directory) all lives on disk, so
  * successive ticks — or a crashed one — resume exactly like the
  * reference's stateless-process-over-durable-state design.
  *
  * Each tick starts a stream, so two choices keep a stream start's fixed
  * costs out of the tick:
  *
  *   - The merge runs on the caller's session, not on the stream's clone
  *     ([[RealtimeStream.startFeedStream]]). Its generated classes are
  *     compiled once and stay cached across ticks.
  *   - A `file:` checkpoint's offsets, commits and sources logs are
  *     written through Spark's `FileSystemBasedCheckpointFileManager`.
  *     Spark's default for `file:` is the FileContext manager, which on a
  *     Hadoop client without native libraries forks `readlink` and
  *     `chmod` processes for every log entry. The FileSystem manager
  *     forks no `readlink`, but it still forks two `chmod`s per entry:
  *     its `createTempFile` goes through `ChecksumFileSystem.create`,
  *     which sets the permission of the file and of its `.crc`, so the
  *     three logs fork 6 per tick. On a local filesystem, rename is
  *     atomic, which is all the FileSystem manager needs. Other schemes,
  *     and a session that names its own manager, keep theirs.
  */
object RealtimeRunner {

  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Spark's (internal) conf naming the checkpoint file manager class. */
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  final case class Config(
      feedUrl: String,
      dropDir: String,
      targetPath: String,
      checkpointDir: String,
      weatherUrl: Option[String] = None,
      weatherStatePath: String = "last_api_call.state",
      weatherMinInterval: Duration = 2.minutes,
      fetchCycles: Int = 1,
      fetchInterval: Duration = 1.minute,
      runTimeout: Duration = 30.minutes)

  /** One cron tick: fetch `cfg.fetchCycles` payloads, then drain every
    * pending feed file through E1 into the snapshot. Returns the number of
    * payloads landed this tick.
    *
    * Timeout topology: the fetch loop runs on the calling thread, so the
    * O2 job-group wrapper covers it; the stream's micro-batch jobs run on
    * the stream execution thread under their OWN job group, where
    * `cancelJobGroup` cannot reach — the drain is bounded instead with a
    * deadline-aware `awaitTermination(remaining)` + `stop()`, which is
    * Structured Streaming's cancellation contract.
    *
    * The checkpoint manager is set on the caller's session conf for the
    * life of the query and restored only once the query has terminated:
    * the stream thread creates its sources log after `start()` returns,
    * so an earlier restore would race it. */
  def runOnce(spark: SparkSession, cfg: Config,
              clock: () => Long = () => System.currentTimeMillis(),
              sleep: Long => Unit = Thread.sleep): Int = {
    // the injected clock governs the whole tick — fetch stamps, throttle
    // windows, AND the drain budget — or simulated time would desync
    val deadline = clock() + cfg.runTimeout.toMillis
    // per-run job-group token: if two ticks ever overlap in one JVM, an
    // expired tick's watchdog must not keep cancelling the next tick's jobs
    val group = s"graft-e1-fetch-${runSeq.incrementAndGet()}"
    val landed = Timeout.withTimeout(spark, group, cfg.runTimeout) {
      FetchLoop.run(cfg.feedUrl, cfg.dropDir, cfg.fetchCycles,
        cfg.fetchInterval.toMillis, clock, sleep)
    }
    val weather = Throttle.rateLimited(cfg.weatherStatePath,
      cfg.weatherMinInterval.toMillis,
      () => cfg.weatherUrl.flatMap(u => Rt.fetch(u)
        .map(new String(_, StandardCharsets.UTF_8))),
      clock)
    val setManager = spark.conf.getOption(ManagerKey).isEmpty &&
      new Path(cfg.checkpointDir).getFileSystem(spark.sessionState.newHadoopConf())
        .getUri.getScheme == "file"
    if (setManager)
      spark.conf.set(ManagerKey, classOf[FileSystemBasedCheckpointFileManager].getName)
    val drained = try {
      val q = RealtimeStream.startFeedStream(spark, cfg.dropDir,
        cfg.targetPath, cfg.checkpointDir, weather, Trigger.AvailableNow())
      val remaining = math.max(1L, deadline - clock())
      try q.awaitTermination(remaining) finally if (q.isActive) q.stop()
    } finally if (setManager) spark.conf.unset(ManagerKey)
    if (!drained) throw new java.util.concurrent.TimeoutException(
      s"E1 drain exceeded ${cfg.runTimeout} and was stopped")
    landed.size
  }
}
