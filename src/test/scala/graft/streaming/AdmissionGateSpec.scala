package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The streaming near-dup admission gate (q267): exact gate, near-dup
  * gate, and the semantics that distinguish an admission INDEX from an
  * admitted SET — a rejected document still indexes the corpus, so a
  * later near-dup of a REJECTED doc is itself rejected (the chain case),
  * keeping the streamed answer equal to the batch q58→q59→drop-larger
  * computation. */
class AdmissionGateSpec extends SparkSpec {

  // 12 tokens; B differs from A at one position, C from B at another —
  // so jaccard(A,B) = jaccard(B,C) = 9/13 ≈ 0.69 (>= τ) while
  // jaccard(A,C) = 7/15 ≈ 0.47 (< τ): C can be rejected ONLY through B
  private val A =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
  private val B =
    "alpha bravo charlie dingo echo foxtrot golf hotel india juliet kilo lima"
  private val C =
    "alpha bravo charlie dingo echo foxtrot golf hotel indigo juliet kilo lima"
  private val D = "one two three four five six seven"
  private val E = "red green blue yellow purple orange"
  private val F = "stone river mountain forest cloud valley"

  test("exact gate (within-batch and cross-batch), near-dup gate, and the " +
    "chain case: a doc similar only to a REJECTED doc is still rejected, " +
    "because the index accumulates exact-survivors, not admissions") {
    import spark.implicits._
    // pin the construction the chain case rests on
    val jd = graft.dedup.Dedup.jaccardOnPairs(
        Seq((1L, 30L), (10L, 30L), (1L, 10L)).toDF("id_a", "id_b"),
        Seq((1L, A), (10L, B), (30L, C)).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(jd((1L, 10L)) >= 0.5 && jd((10L, 30L)) >= 0.5, jd)
    assert(jd((1L, 30L)) < 0.5, jd)

    val docs = Seq(
      (1L, A), (2L, A), (5L, D),      // batch 0: A admitted, 2 exact-dup
      (10L, B), (20L, A), (21L, E),   // batch 1: B near-rejected vs 1,
                                      //          20 exact-rejected cross-batch
      (30L, C), (31L, F)              // batch 2: C rejected via REJECTED 10
    ).toDF("doc_id", "text")
    val got = StreamingAnalytics.replayStream(spark, docs,
        "target/aggate_spec", Seq(
        col("doc_id") < 10L,
        col("doc_id") >= 10L && col("doc_id") < 25L,
        col("doc_id") >= 25L),
        updateSink = Some { (df, bid, out) =>
          AdmissionGate.admitBatch(df, out, bid)
        })(st => st)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 5L, 21L, 31L))
  }

  test("state reads prune at the FILE listing: a probe touching a " +
    "bucket subset reads only that subset's partition files, and the " +
    "bid filter hides the probing batch's own (retry-era) output") {
    import spark.implicits._
    // seed two batches of state through the real writer
    val base = "target/aggate_prune"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    AdmissionGate.admitBatch(Seq((1L, A), (5L, D)).toDF("doc_id", "text"),
      base, batchId = 0L)
    AdmissionGate.admitBatch(Seq((21L, E), (31L, F)).toDF("doc_id", "text"),
      base, batchId = 1L)
    val shDir = base + ".sh"
    val all = spark.read.option("basePath", shDir).parquet(shDir)
    val allFiles = all.select(input_file_name()).distinct().count()
    val allBuckets = all.select("ib").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    assert(allBuckets.size >= 2,
      s"test docs collapsed into one id bucket ($allBuckets) - " +
        "pruning would be unobservable")
    // prune to ONE bucket: only that bucket's files are listed
    val one = AdmissionGate.prunedState(spark, shDir, "ib",
      Seq(allBuckets.head), batchId = 2L, all.limit(0))
    val oneFiles = one.select(input_file_name()).distinct().count()
    assert(oneFiles < allFiles,
      s"bucket pruning read all $allFiles files")
    one.select(input_file_name()).distinct().collect().foreach { r =>
      assert(r.getString(0).contains(s"/ib=${allBuckets.head}/"),
        s"file outside the pruned bucket: ${r.getString(0)}")
    }
    // bid filter: a batch re-reading state at its own batchId must not
    // see batch 1's rows (the retry-idempotence contract) — only
    // batch 0's
    val preBatch1 = AdmissionGate.prunedState(spark, shDir, "ib",
      allBuckets, batchId = 1L, all.limit(0))
    val ids = preBatch1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 5L),
      s"bid<1 read leaked batch-1 state: $ids")
    // and re-running batch 1 (a retry) converges: same admitted set
    AdmissionGate.admitBatch(Seq((21L, E), (31L, F)).toDF("doc_id", "text"),
      base, batchId = 1L)
    val admitted = spark.read.parquet(base)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(admitted === Seq(1L, 5L, 21L, 31L))
  }

  test("a failed write fails the batch only once the other writes have " +
    "finished: no Spark job is still running when the batch throws, so a " +
    "retry cannot race a live overwrite of its own bid=N") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val local = new java.io.File("target/aggate_fail").getAbsolutePath
    Seq("", ".docs", ".sh", ".bands").foreach(s =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(local + s)))
    // the admitted-ids write fails at its first look at <base>/bid=0,
    // while the .docs state write is held inside its job
    FailingLocalFs.reset()
    val base = s"${FailingLocalFs.scheme}://$local"
    val started = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, e.time)
    }
    val implKey = s"fs.${FailingLocalFs.scheme}.impl"
    spark.conf.set(implKey, classOf[FailingLocalFs].getName)
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[java.io.IOException] {
        AdmissionGate.admitBatch(
          Seq((1L, A), (2L, A), (5L, D), (10L, B)).toDF("doc_id", "text"),
          base, batchId = 0L)
      }
      val thrownAt = System.currentTimeMillis()
      assert(e.getMessage.contains("injected"), e)
      // listener events arrive asynchronously: wait until every job the
      // batch started has reported its end (stamped when it finished)
      def pending = started.keySet.asScala.filterNot(ended.containsKey)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (pending.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(20L)
      assert(pending.isEmpty, s"jobs never ended: $pending")
      val late = ended.asScala.filter(_._2 > thrownAt)
      assert(late.isEmpty, s"jobs still running when the batch threw: $late")
      // the three state writes ran to completion
      Seq(".docs", ".sh", ".bands").foreach(s =>
        assert(new java.io.File(s"$local$s/bid=0/_SUCCESS").exists(), s))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset(implKey)
    }
  }

  test("a batch runs its four state writes on a pool of its own and " +
    "leaves none of that pool's threads alive") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val local = new java.io.File("target/aggate_pool").getAbsolutePath
    Seq("", ".docs", ".sh", ".bands").foreach(s =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(local + s)))
    RecordingLocalFs.writers.clear()
    val implKey = s"fs.${RecordingLocalFs.scheme}.impl"
    spark.conf.set(implKey, classOf[RecordingLocalFs].getName)
    try AdmissionGate.admitBatch(
      Seq((1L, A), (2L, A), (5L, D), (10L, B)).toDF("doc_id", "text"),
      s"${RecordingLocalFs.scheme}://$local", batchId = 0L)
    finally spark.conf.unset(implKey)
    // every thread that was inside a write when a file was created
    val writers = RecordingLocalFs.writers.asScala.toSet
    assert(writers.size === 4 &&
      writers.forall(_.startsWith(AdmissionGate.WriterThreadPrefix)), writers)
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(AdmissionGate.WriterThreadPrefix))
    assert(alive.isEmpty, s"write threads outlived the batch: $alive")
  }
}

/** The local filesystem under its own scheme. Whenever it creates a file,
  * it records the names of the threads then running
  * `AdmissionGate.writeBid`: the thread that started the write waits
  * inside it while the write's tasks create their files. */
class RecordingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import scala.jdk.CollectionConverters._
  override def getUri: java.net.URI =
    java.net.URI.create(s"${RecordingLocalFs.scheme}:///")
  override def getScheme: String = RecordingLocalFs.scheme
  private def record(): Unit =
    Thread.getAllStackTraces.asScala.foreach { case (t, stack) =>
      if (stack.exists(_.getMethodName.contains("writeBid")))
        RecordingLocalFs.writers.add(t.getName)
    }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    record()
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    record()
    super.create(p, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object RecordingLocalFs {
  val scheme = "recfs"
  val writers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** The local filesystem under its own scheme with two injected
  * faults: every status lookup of the admitted-ids directory
  * `.../aggate_fail/bid=0` fails, and the first file the `.docs` state
  * write creates is held until that failure has happened, plus one
  * second — so a batch that rethrew the failure at once would leave
  * that write's job running. */
class FailingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  override def getUri: java.net.URI =
    java.net.URI.create(s"${FailingLocalFs.scheme}:///")
  override def getScheme: String = FailingLocalFs.scheme
  override def exists(p: Path): Boolean = {
    FailingLocalFs.check(p); super.exists(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    FailingLocalFs.check(p); super.getFileStatus(p)
  }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FailingLocalFs.hold(p)
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FailingLocalFs.hold(p)
    super.create(p, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object FailingLocalFs {
  val scheme = "failfs"
  private val failing = "/aggate_fail/bid=0"
  private val held = "/aggate_fail.docs/bid=0/"
  @volatile private var failed = new java.util.concurrent.CountDownLatch(1)
  private val holding = new java.util.concurrent.atomic.AtomicBoolean()
  def reset(): Unit = {
    failed = new java.util.concurrent.CountDownLatch(1)
    holding.set(false)
  }
  private def check(p: org.apache.hadoop.fs.Path): Unit =
    if (p.toUri.getPath.endsWith(failing)) {
      failed.countDown()
      throw new java.io.IOException(s"injected failure at $p")
    }
  private def hold(p: org.apache.hadoop.fs.Path): Unit =
    if (p.toUri.getPath.contains(held) && holding.compareAndSet(false, true)) {
      failed.await(60, java.util.concurrent.TimeUnit.SECONDS)
      Thread.sleep(1000L)
    }
}
