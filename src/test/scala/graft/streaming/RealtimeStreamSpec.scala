package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import graft.pipelines.Realtime
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
import org.apache.spark.sql.streaming.Trigger

/** §2.9 — streaming upsert over a file source: two micro-batch rounds
  * (separate query starts sharing a checkpoint, i.e. restart-resume),
  * asserting S9 semantics on the keyed snapshot. */
class RealtimeStreamSpec extends SparkSpec {

  private def payload(seq: Int, arr: Long): Array[Byte] = {
    import graft.gtfs._
    Rt.encode(FeedMessage(FeedHeader("2.0", Some(arr)),
      Seq(FeedEntity("e", None, Some(TripUpdate(
        TripDescriptor(Some("T1"), None, Some("20240601"), None),
        Seq(StopTimeUpdate(Some(seq),
          Some(StopTimeEvent(None, Some(arr), None)), None, Some("10"))),
        None, None))))))
  }

  test("feed-file stream runs E1 per micro-batch (binary source → merge)") {
    val base = Paths.get("target", "test_feedstream")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val src = base.resolve("src"); Files.createDirectories(src)
    val tgt = base.resolve("tgt").toString
    val chk = base.resolve("chk").toString

    def feed(name: String, seq: Int, arr: Long): Unit =
      Files.write(src.resolve(name), payload(seq, arr))

    def round(): Unit = {
      val q = RealtimeStream.startFeedStream(spark, src.toString, tgt, chk,
        weatherJson = () => None,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
    }

    feed("f1.pb", 1, 1000L)
    round()
    assert(spark.read.parquet(tgt).count() === 1L)

    feed("f2.pb", 1, 2000L) // same key, new prediction
    feed("f3.pb", 2, 3000L) // new key
    round()
    val snap = spark.read.parquet(tgt).collect()
      .map(r => r.getLong(2) -> r.getTimestamp(4).getTime / 1000).toMap
    assert(snap === Map(1L -> 2000L, 2L -> 3000L))
  }

  test("an E1 feed micro-batch against an existing snapshot runs exactly " +
    "2 Spark jobs — the one shuffle and the write, no schema-inference job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = Paths.get("target", "test_feedjobs")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val src = base.resolve("src"); Files.createDirectories(src)
    val tgt = base.resolve("tgt").toString
    val chk = base.resolve("chk").toString
    // (query id, batch id) of every job a stream thread starts, plus a
    // sentinel marking that the listener bus has caught up
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        seen.add(prop("sql.streaming.queryId") -> prop("streaming.sql.batchId"))
      }
    }
    def round(): String = {
      val q = RealtimeStream.startFeedStream(spark, src.toString, tgt, chk,
        weatherJson = () => None, trigger = Trigger.AvailableNow())
      q.awaitTermination()
      q.id.toString
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Files.write(src.resolve("f1.pb"), payload(1, 1000L))
      round() // batch 0 bootstraps the snapshot
      Files.write(src.resolve("f2.pb"), payload(1, 2000L))
      Files.write(src.resolve("f3.pb"), payload(2, 3000L))
      val id = round() // batch 1 merges into it
      spark.sparkContext.setLocalProperty("streaming.sql.batchId", "sentinel")
      try spark.range(1).count()
      finally spark.sparkContext.setLocalProperty("streaming.sql.batchId", null)
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.toArray.exists(_ == ("", "sentinel")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20L)
      val jobs = seen.toArray.count(_ == (id, "1"))
      assert(jobs === 2, s"merge batch ran $jobs jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("snapshot schema drift fails the next batch loudly: a dropped or " +
    "retyped column is never read back as NULL") {
    import spark.implicits._
    val base = Paths.get("target", "test_drift")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val tgt = base.resolve("tgt").toString
    def feed(arr: Long): Unit = {
      implicit val s: org.apache.spark.sql.SparkSession = spark
      RealtimeStream.merge(Realtime.observations(
          spark.createDataset(Seq(payload(1, arr))), None), tgt,
        Realtime.keys, Realtime.compareCols, Realtime.createdCol,
        monotonically_increasing_id(), partitionCol = None)
    }
    feed(1000L)
    // rewrite the snapshot as an older writer would have left it
    def rewrite(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Unit = {
      val tmp = base.resolve("tmp").toString
      f(spark.read.parquet(tgt)).write.parquet(tmp)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tgt))
      assert(new java.io.File(tmp).renameTo(new java.io.File(tgt)))
    }
    rewrite(_.drop("temperature"))
    val dropped = intercept[IllegalStateException](
      feed(2000L))
    assert(dropped.getMessage.contains("missing [temperature]"),
      dropped.getMessage)
    rewrite(_.withColumn("temperature", lit(1.5d))
      .withColumn("stop_sequence", $"stop_sequence".cast("int")))
    val retyped = intercept[IllegalStateException](
      feed(2000L))
    assert(retyped.getMessage.contains("retyped [stop_sequence: int"),
      retyped.getMessage)
    // the failed batches left the snapshot in place
    assert(spark.read.parquet(tgt).count() === 1L)
  }

  test("snapshot swap is crash-recoverable: a crash between promote's two " +
    "renames leaves .old readable and the next merge heals it") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = Paths.get("target", "test_swap")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val tgt = base.resolve("tgt").toString
    val fs = new Path(tgt).getFileSystem(spark.sessionState.newHadoopConf())

    RealtimeStream.merge(Seq((1L, "a", 1L)).toDF("k", "v", "seq"),
      tgt, Seq("k"), Seq("v"), None, col("seq"), None)
    // Simulate the crash window: live snapshot already retired to .old,
    // .next not yet promoted (here: gone with the crashed writer).
    assert(fs.rename(new Path(tgt), new Path(tgt + ".old")))

    // Readers resolve the fallback...
    val snap = RealtimeStream.snapshotPath(fs, tgt)
    assert(snap.exists(_.toString.endsWith(".old")))
    assert(spark.read.parquet(snap.get.toString).count() === 1L)

    // ...and the next merge builds on it, promotes, and cleans up.
    RealtimeStream.merge(Seq((2L, "b", 1L)).toDF("k", "v", "seq"),
      tgt, Seq("k"), Seq("v"), None, col("seq"), None)
    assert(fs.exists(new Path(tgt)) && !fs.exists(new Path(tgt + ".old")))
    assert(spark.read.parquet(tgt).select("k").as[Long].collect().toSet
      === Set(1L, 2L))
  }

  test("compactSnapshot collapses the small-files snapshot without " +
    "changing its rows") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = Paths.get("target", "test_compact")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val tgt = base.resolve("tgt").toString
    // a fragmented snapshot, as a larger run's shuffle-partition-many
    // writes would leave (AQE coalesces this tiny fixture if merged)
    (1L to 40L).map(i => (i, s"v$i", 1L)).toDF("k", "v", "seq")
      .repartition(4).write.parquet(tgt)
    def parquetFiles(): Int = new java.io.File(tgt).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = parquetFiles()
    assert(before > 1, s"fixture not fragmented enough: $before files")
    val beforeRows = spark.read.parquet(tgt)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    RealtimeStream.compactSnapshot(spark, tgt) // default target ≫ data size
    assert(parquetFiles() === 1)
    val afterRows = spark.read.parquet(tgt)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterRows === beforeRows)
    val fs = new Path(tgt).getFileSystem(spark.sessionState.newHadoopConf())
    // .next is consumed by the promote; .old legitimately remains as the
    // crash fallback until the next swap retires it
    assert(fs.exists(new Path(tgt)) && !fs.exists(new Path(tgt + ".next")))
    assert(RealtimeStream.snapshotPath(fs, tgt).map(_.toString)
      === Some(new Path(tgt).toString))
  }

  test("exactly-once-by-idempotence: a crash AFTER promote but BEFORE the " +
    "checkpoint commit replays the batch — replaying the identical batch " +
    "leaves the snapshot bit-identical (latestPerKey pre-dedup + " +
    "change-predicated upsert), so restart cannot corrupt or duplicate") {
    import spark.implicits._
    val base = Paths.get("target", "test_replay")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val tgt = base.resolve("tgt").toString
    def snapshot(): Set[(Long, String, Long, Long, Long)] =
      spark.read.parquet(tgt).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    RealtimeStream.merge(
      Seq((1L, "a", 1L, 100L, 100L), (2L, "b", 1L, 100L, 100L))
        .toDF("k", "v", "seq", "created", "updated"),
      tgt, Seq("k"), Seq("v"), Some("created"), col("seq"), None)
    // the batch the checkpoint will replay (key 1 changed, key 3 new,
    // key 1 also repeated in-batch — the merge must pick seq 3)
    val batch = Seq((1L, "A0", 2L, 200L, 200L), (1L, "A", 3L, 200L, 200L),
      (3L, "c", 1L, 200L, 200L))
      .toDF("k", "v", "seq", "created", "updated")
    RealtimeStream.merge(batch, tgt, Seq("k"), Seq("v"), Some("created"),
      col("seq"), None)
    val afterCommit = snapshot()
    assert(afterCommit === Set((1L, "A", 3L, 100L, 200L),
      (2L, "b", 1L, 100L, 100L), (3L, "c", 1L, 200L, 200L)))
    // crash window: promote done, checkpoint not committed → the stream
    // restarts and foreachBatch runs the SAME batch again
    RealtimeStream.merge(batch, tgt, Seq("k"), Seq("v"), Some("created"),
      col("seq"), None)
    assert(snapshot() === afterCommit,
      "replaying an already-committed batch changed the snapshot")
  }

  test("foreachBatch upsert maintains the keyed snapshot across batches") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val base = Paths.get("target", "test_stream")
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    val src = base.resolve("src"); Files.createDirectories(src)
    val tgt = base.resolve("tgt").toString
    val chk = base.resolve("chk").toString
    // whether each snapshot write ran on the caller's session, not on the
    // stream's clone (whose fresh class loader would recompile the merge)
    val onCaller = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand
            if c.outputPath.toString.endsWith("tgt.next") =>
          onCaller.add(qe.sparkSession eq spark)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    def runRound(): Unit = {
      val stream = spark.readStream
        .schema("k LONG, v STRING, seq LONG, created LONG, updated LONG")
        .csv(src.toString)
      val q = RealtimeStream.start(stream, tgt, chk,
        keys = Seq("k"), compareCols = Seq("v"), orderCol = "seq",
        createdCol = Some("created"), trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }

    // Batch 1: keys 1 and 2 (key 1 appears twice — latest seq wins).
    Files.writeString(src.resolve("b1.csv"),
      "1,a,1,100,100\n1,a2,2,100,100\n2,b,1,100,100\n")
    runRound()
    val snap1 = spark.read.parquet(tgt).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4))).toSet
    assert(snap1 === Set((1L, "a2", 100L, 100L), (2L, "b", 100L, 100L)))

    // Batch 2 (restart from checkpoint): key 1 changed, key 2 unchanged,
    // key 3 new.
    Files.writeString(src.resolve("b2.csv"),
      "1,A,3,200,200\n2,b,3,200,200\n3,c,1,200,200\n")
    runRound()
    val snap2 = spark.read.parquet(tgt).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4))).toSet
    assert(snap2 === Set(
      (1L, "A", 100L, 200L), // changed: created preserved, updated stamped
      (2L, "b", 100L, 100L), // unchanged: untouched
      (3L, "c", 200L, 200L)  // new: inserted
    ))
    // listener events arrive asynchronously
    val deadline = System.currentTimeMillis() + 30000L
    while (onCaller.size < 2 && System.currentTimeMillis() < deadline)
      Thread.sleep(20L)
    spark.listenerManager.unregister(listener)
    assert(onCaller.toArray.toSeq === Seq(true, true))
  }
}
