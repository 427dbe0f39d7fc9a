package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The partition-scoped S9 merge contract (the 100 TB snapshot shape):
  *  - the snapshot scan is PRUNED to the partitions the batch touches
  *    (file-listing-level pruning, not a row filter over the snapshot);
  *  - untouched partitions' files are never rewritten (byte-identical);
  *  - the merged rows equal the full-snapshot merge (q112 proves this
  *    against the DuckDB oracle at sf0.01; here on a hand-built fixture);
  *  - replaying the same batch (checkpoint-replay after a crash between
  *    commit and checkpoint) leaves the snapshot unchanged — the
  *    exactly-once-by-idempotence argument for `startFeedStream` restarts;
  *  - a touched partition whose files drifted from the batch schema
  *    fails the merge instead of reading back NULLs;
  *  - the partitioned and whole-snapshot layouts of the one merge core
  *    agree batch for batch;
  *  - per-partition compaction rewrites only fragmented partitions.
  */
class PartitionedMergeSpec extends SparkSpec {

  private def listFiles(dir: java.io.File): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  private def fixture(name: String): (String, DataFrame) = {
    import spark.implicits._
    val out = new java.io.File(s"target/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    // 4 days × 2 keys; value/seq/created/updated per row
    val snap = (for { d <- 1 to 4; k <- 1 to 2 }
      yield (s"d$d", k.toLong, s"v$d$k", d.toLong, 100L, 100L))
      .toDF("day", "k", "v", "seq", "created", "updated")
    RealtimeStream.merge(snap, out.getPath,
      keys = Seq("day", "k"), compareCols = Seq("v"),
      createdCol = Some("created"), order = col("seq"),
      partitionCol = Some("day"))
    (out.getPath, snap)
  }

  // (day, k, v, seq, created, updated) with a nullable day
  private type R = (Option[String], Long, String, Long, Long, Long)

  private def snapRows(path: String): Set[(String, Long, String, Long, Long)] =
    spark.read.parquet(path)
      .select("day", "k", "v", "created", "updated").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet

  test("merge touches only the batch's partitions: pruned scan, untouched " +
    "files byte-identical, merged rows equal the logical full merge") {
    import spark.implicits._
    val (path, _) = fixture("ptm_spec")
    val before = listFiles(new java.io.File(path))
    assert(before.keys.exists(_.contains("day=d3")))

    // batch: day 1 changed, day 2 unchanged (no-op update) + a new key
    val batch = Seq(
      ("d1", 1L, "V11", 10L, 200L, 200L),
      ("d2", 1L, "v21", 10L, 200L, 200L),
      ("d2", 9L, "new", 10L, 200L, 200L))
      .toDF("day", "k", "v", "seq", "created", "updated")
    RealtimeStream.merge(batch, path,
      keys = Seq("day", "k"), compareCols = Seq("v"),
      createdCol = Some("created"), order = col("seq"),
      partitionCol = Some("day"))

    // days 3 and 4 were never opened for write
    val after = listFiles(new java.io.File(path))
    val untouched = (f: Map[String, (Long, Long)]) =>
      f.filter(e => e._1.contains("day=d3") ||
        e._1.contains("day=d4"))
    assert(untouched(after) === untouched(before),
      "untouched partitions were rewritten")

    assert(snapRows(path) === Set(
      ("d1", 1L, "V11", 100L, 200L), // changed: created kept, updated stamped
      ("d1", 2L, "v12", 100L, 100L),
      ("d2", 1L, "v21", 100L, 100L), // unchanged: untouched
      ("d2", 2L, "v22", 100L, 100L),
      ("d2", 9L, "new", 200L, 200L), // inserted
      ("d3", 1L, "v31", 100L, 100L),
      ("d3", 2L, "v32", 100L, 100L),
      ("d4", 1L, "v41", 100L, 100L),
      ("d4", 2L, "v42", 100L, 100L)))

    // the snapshot read prunes at the listing: PartitionFilters carries
    // the touched-day predicate and only those partitions are counted
    val pruned = RealtimeStream.readTouchedPartitions(spark, path,
      batch.schema, "day", Seq("d1", "d2"))
    pruned.collect()
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "no file scan in the pruned read")
    assert(scans.head.partitionFilters.nonEmpty,
      s"partition predicate did not reach the listing:\n" +
        pruned.queryExecution.executedPlan)
    val nParts = scans.head.metrics.get("numPartitions").map(_.value)
    assert(nParts === Some(2L),
      s"expected 2 partitions scanned, got $nParts " +
        s"(metrics: ${scans.head.metrics.keys.mkString(", ")})")
  }

  test("replaying the same batch is a no-op: checkpoint-replay after a " +
    "crash between commit and checkpoint cannot corrupt the snapshot") {
    import spark.implicits._
    val (path, _) = fixture("ptm_replay")
    val batch = Seq(("d1", 1L, "V11", 10L, 200L, 200L))
      .toDF("day", "k", "v", "seq", "created", "updated")
    def merge(): Unit = RealtimeStream.merge(batch, path,
      keys = Seq("day", "k"), compareCols = Seq("v"),
      createdCol = Some("created"), order = col("seq"),
      partitionCol = Some("day"))
    merge()
    val once = snapRows(path)
    merge() // the replay
    assert(snapRows(path) === once,
      "replaying an already-applied batch changed the snapshot")
  }

  test("a touched partition whose files drifted from the batch schema " +
    "fails the next merge loudly; untouched partitions are not checked") {
    import spark.implicits._
    val (path, _) = fixture("ptm_drift")
    // rewrite day d2 as an older writer would have left it: `v` dropped
    val d2 = new java.io.File(s"$path/day=d2")
    val tmp = s"$path.drifted"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    spark.read.parquet(d2.getPath).drop("v").write.parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(d2)
    assert(new java.io.File(tmp).renameTo(d2))
    def merge(day: String): Unit = RealtimeStream.merge(
      Seq((day, 1L, "X", 10L, 200L, 200L))
        .toDF("day", "k", "v", "seq", "created", "updated"), path,
      keys = Seq("day", "k"), compareCols = Seq("v"),
      createdCol = Some("created"), order = col("seq"),
      partitionCol = Some("day"))
    val e = intercept[IllegalStateException](merge("d2"))
    assert(e.getMessage.contains("day=d2") &&
      e.getMessage.contains("missing [v]"), e.getMessage)
    merge("d1") // the footer check reads only the touched partitions
    assert(snapRows(path).contains(("d1", 1L, "X", 100L, 200L)))
  }

  test("one merge core, two layouts: the same three batches merged whole-" +
    "snapshot and day-partitioned give the same rows after every batch") {
    import spark.implicits._
    val batches: Seq[Seq[R]] = Seq(
      Seq((Some("d1"), 1L, "a", 1L, 100L, 100L),
        (Some("d1"), 1L, "a2", 2L, 100L, 100L), // repeated key: seq 2 wins
        (None, 2L, "n", 1L, 100L, 100L),        // NULL key part
        (Some("d2"), 3L, "c", 1L, 100L, 100L)),
      Seq((Some("d1"), 1L, "A", 3L, 200L, 200L), // changed
        (Some("d2"), 3L, "c", 2L, 200L, 200L),   // unchanged: row kept
        (None, 2L, "N", 2L, 200L, 200L),         // NULL-keyed row changed
        (Some("d3"), 4L, "x", 1L, 200L, 200L)),  // new key
      Seq((None, 2L, "N", 3L, 300L, 300L),       // unchanged
        (Some("d1"), 5L, "e", 1L, 300L, 300L)))  // new key
    def run(name: String, partitionCol: Option[String]): Seq[Set[R]] = {
      val path = s"target/$name"
      Seq("", ".next", ".old", ".stage").foreach(sfx =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(path + sfx)))
      batches.map { b =>
        RealtimeStream.merge(
          b.toDF("day", "k", "v", "seq", "created", "updated"), path,
          keys = Seq("day", "k"), compareCols = Seq("v"),
          createdCol = Some("created"), order = col("seq"), partitionCol)
        spark.read.parquet(path)
          .select("day", "k", "v", "seq", "created", "updated")
          .as[R].collect().toSet
      }
    }
    val whole = run("ptm_layout_whole", None)
    assert(run("ptm_layout_parted", Some("day")) === whole)
    // the first batch on an empty target: the newest row per key
    assert(whole.head === batches.head.groupBy(r => (r._1, r._2))
      .values.map(_.maxBy(_._4)).toSet)
    assert(whole.last === Set[R](
      (Some("d1"), 1L, "A", 3L, 100L, 200L), // created kept, updated stamped
      (None, 2L, "N", 2L, 100L, 200L),
      (Some("d2"), 3L, "c", 1L, 100L, 100L),
      (Some("d3"), 4L, "x", 1L, 200L, 200L),
      (Some("d1"), 5L, "e", 1L, 300L, 300L)))
  }

  test("streaming end-to-end: start(partitionCol=Some) maintains the " +
    "partitioned snapshot across micro-batch rounds with checkpoint " +
    "restart-resume") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    val base = Paths.get("target", "ptm_stream")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val src = base.resolve("src"); Files.createDirectories(src)
    val tgt = base.resolve("tgt").toString
    val chk = base.resolve("chk").toString
    def runRound(): Unit = {
      val stream = spark.readStream
        .schema("day STRING, k LONG, v STRING, seq LONG")
        .csv(src.toString)
      val q = RealtimeStream.start(stream, tgt, chk,
        keys = Seq("day", "k"), compareCols = Seq("v"), orderCol = "seq",
        trigger = Trigger.AvailableNow(), partitionCol = Some("day"))
      q.awaitTermination()
    }
    Files.writeString(src.resolve("b1.csv"), "d1,1,a,1\nd2,1,b,1\n")
    runRound()
    assert(new java.io.File(s"$tgt/day=d1").isDirectory &&
      new java.io.File(s"$tgt/day=d2").isDirectory,
      "snapshot is not day-partitioned on disk")
    Files.writeString(src.resolve("b2.csv"), "d1,1,A,2\nd3,5,c,1\n")
    runRound() // restart from checkpoint; touches d1 and d3 only
    val rows = spark.read.parquet(tgt)
      .select("day", "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows === Set(("d1", 1L, "A"), ("d2", 1L, "b"), ("d3", 5L, "c")))
  }

  test("E1 partitioned feed stream: start_date-partitioned snapshot, a " +
    "NULL-date entity survives partition-scoped merges, untouched dates' " +
    "files stay byte-identical across batches") {
    import graft.gtfs._
    import java.nio.file.{Files, Paths}
    val base = Paths.get("target", "ptm_feed")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val src = base.resolve("src"); Files.createDirectories(src)
    val tgt = base.resolve("tgt").toString
    val chk = base.resolve("chk").toString
    def feed(name: String, date: Option[String], seq: Int, arr: Long): Unit =
      Files.write(src.resolve(name), Rt.encode(FeedMessage(
        FeedHeader("2.0", Some(arr)),
        Seq(FeedEntity("e", None, Some(TripUpdate(
          TripDescriptor(Some("T1"), None, date, None),
          Seq(StopTimeUpdate(Some(seq),
            Some(StopTimeEvent(None, Some(arr), None)), None, Some("10"))),
          None, None)))))))
    def round(): Unit = {
      val q = RealtimeStream.startFeedStream(spark, src.toString, tgt, chk,
        weatherJson = () => None,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        partitionSnapshot = true)
      q.awaitTermination()
    }
    // batch 1: two dates + one entity with NO start_date (NULL partition)
    feed("f1.pb", Some("20240601"), 1, 1000L)
    feed("f2.pb", Some("20240602"), 1, 1500L)
    feed("f3.pb", None, 1, 1700L)
    round()
    assert(new java.io.File(s"$tgt/start_date=2024-06-01").isDirectory,
      "snapshot is not date-partitioned")
    val nullDir = new java.io.File(s"$tgt/start_date=__HIVE_DEFAULT_PARTITION__")
    assert(nullDir.isDirectory, "NULL start_date partition missing")
    val d2Before = listFiles(new java.io.File(tgt))
      .filter(_._1.contains("start_date=2024-06-02"))

    // batch 2: update date 1 and the NULL-date key; date 2 untouched
    feed("f4.pb", Some("20240601"), 1, 2000L)
    feed("f5.pb", None, 1, 2500L)
    round()
    assert(listFiles(new java.io.File(tgt))
      .filter(_._1.contains("start_date=2024-06-02")) === d2Before,
      "untouched date partition was rewritten")
    val snap = spark.read.parquet(tgt)
      .selectExpr("start_date", "CAST(arrival_time AS LONG) AS arr")
      .collect().map(r => (Option(r.get(0)).map(_.toString), r.getLong(1)))
      .toSet
    assert(snap === Set(
      (Some("2024-06-01"), 2000L), // updated
      (Some("2024-06-02"), 1500L), // untouched
      (None, 2500L)))              // NULL-date key updated, not lost
  }

  test("per-partition compaction rewrites only fragmented partitions and " +
    "preserves rows") {
    import spark.implicits._
    val out = new java.io.File("target/ptm_compact")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    // day 1: fragmented (4 files); day 2: already compact (1 file)
    (1L to 40L).map(i => (i, s"a$i", "d1"))
      .toDF("k", "v", "day").repartition(4)
      .write.partitionBy("day").parquet(out.getPath)
    (1L to 10L).map(i => (i, s"b$i", "d2"))
      .toDF("k", "v", "day").coalesce(1)
      .write.mode("append").partitionBy("day").parquet(out.getPath)
    def files(day: String): Seq[String] =
      listFiles(out).keys.filter(_.contains(s"day=$day")).toSeq
    assert(files("d1").size === 4 && files("d2").size === 1)
    val rowsBefore = spark.read.parquet(out.getPath)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val day2Before = listFiles(out).filter(_._1.contains("day=d2"))

    RealtimeStream.compactSnapshotPartitioned(spark, out.getPath, "day")

    assert(files("d1").size === 1,
      s"day 1 not compacted: ${files("d1")}")
    assert(listFiles(out).filter(_._1.contains("day=d2"))
      === day2Before, "the already-compact partition was rewritten")
    val rowsAfter = spark.read.parquet(out.getPath)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rowsAfter === rowsBefore)
    assert(!new java.io.File(out.getPath + ".compact-stage").exists())
  }

  test("compaction with a partition LARGER than the file target splits it " +
    "at the writer's record-count cut instead of one giant file") {
    import spark.implicits._
    val out = new java.io.File("target/ptm_compact_slices")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    // one partition fragmented into 8 small files, ~8x the file target
    (1L to 800L).map(i => (i, s"payload_$i" * 4, "d1"))
      .toDF("k", "v", "day").repartition(8)
      .write.partitionBy("day").parquet(out.getPath)
    def files(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(out).filter(_.getName.endsWith(".parquet"))
    }
    assert(files().size === 8)
    val bytes = files().map(_.length()).sum
    val target = bytes / 3 + 1 // want ≈ 3 output files
    val rowsBefore = spark.read.parquet(out.getPath)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    RealtimeStream.compactSnapshotPartitioned(spark, out.getPath, "day",
      targetFileBytes = target)

    val n = files().size
    // the writer cuts by records at the observed bytes/row — ±1 file of
    // the ceil(bytes/target)=3 ideal is the honest contract; what must
    // NOT happen is one giant file (no split) or all 8 surviving
    assert(n >= 2 && n <= 4, s"expected ~3 sliced files, got $n")
    val rowsAfter = spark.read.parquet(out.getPath)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rowsAfter === rowsBefore)
  }
}
