package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The benchmark's tracer. One op (tick, refresh, query, job) is one span
  * opened by the benchmark around its call into the engine; Spark's
  * public listeners add the spans beneath it (micro-batches, jobs) and
  * the counts at those boundaries. Spans of one op carry its id. All of
  * it is kept in memory and written once, at the end of the run. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ops = new ConcurrentLinkedQueue[OpRec]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  @volatile private var lastEventMs = System.currentTimeMillis()
  private val nextOp = new java.util.concurrent.atomic.AtomicLong(0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, prop(OpKey).map(_.toLong).getOrElse(-1L)))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
      lastEventMs = System.currentTimeMillis()
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      val writes = collect(plan) { case w: DataWritingCommandExec => w.cmd.metrics }
      def wsum(k: String) = writes.flatMap(_.get(k)).map(_.value).sum
      val scanFiles = collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      // the planning tracker's wall-clock phase starts place the query
      // inside the op (and micro-batch) that ran it
      val startMs = qe.tracker.phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis() - durationNs / 1000000L)
      qes.add(QeRec(startMs, qe.observedMetrics, wsum("numFiles"), wsum("numOutputRows"),
        wsum("numParts"), scanFiles))
      lastEventMs = System.currentTimeMillis()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lastEventMs = System.currentTimeMillis()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (d.contains("triggerExecution")) batches.add(BatchRec(p.runId.toString, p.batchId,
        Instant.parse(p.timestamp).toEpochMilli, d))
      lastEventMs = System.currentTimeMillis()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lastEventMs = System.currentTimeMillis()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` as one op span of `layer`; jobs it launches (also from
    * the stream threads it starts) inherit the op id. */
  def op[T](layer: String, name: String)(body: => T): T = {
    val id = nextOp.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally {
      val wallMs = (System.nanoTime() - t0) / 1e6
      ops.add(OpRec(id, layer, name, startMs, wallMs))
      sc.setLocalProperty(OpKey, prev)
    }
  }

  /** Wait until the listener queues have delivered everything posted so
    * far: a marker job goes through the scheduler's queue, and the other
    * queues are given until they fall quiet. */
  def drain(): Unit = {
    spark.sparkContext.setLocalProperty(OpKey, null)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline &&
      (System.currentTimeMillis() - lastEventMs < 300 ||
        jobs.values.asScala.exists(_.endMs < 0))) Thread.sleep(50)
  }

  def snapshot(): TraceData = {
    val js = jobs.values.asScala.toIndexedSeq.filter(_.endMs >= 0).sortBy(_.jobId)
    val ts = tasks.asScala.toIndexedSeq
    TraceData(ops.asScala.toIndexedSeq.sortBy(_.startMs), js,
      ts.groupBy(t => stageJob.getOrDefault(t.stageId, -1)), ts.groupBy(_.stageId),
      stageJob.asScala.toMap.map { case (s, j) => (s.intValue, j.intValue) },
      qes.asScala.toIndexedSeq, batches.asScala.toIndexedSeq.sortBy(_.startMs))
  }
}

object Tracer {
  val OpKey = "perfbench.op"

  final case class OpRec(id: Long, layer: String, name: String,
                         startMs: Long, wallMs: Double) {
    def endMs: Double = startMs + wallMs
  }
  final case class JobRec(jobId: Int, startMs: Long, endMs: Long, op: Long)
  final case class TaskRec(stageId: Int, durationMs: Long, gcMs: Long,
                           shuffleBytes: Long, spillBytes: Long, inputBytes: Long)
  final case class QeRec(startMs: Long, observed: Map[String, Row], filesWritten: Long,
                         rowsWritten: Long, partsWritten: Long, filesRead: Long)
  final case class BatchRec(runId: String, batchId: Long, startMs: Long,
                            durations: Map[String, Long]) {
    def wallMs: Long = durations("triggerExecution")
    def endMs: Long = startMs + wallMs
  }
}

/** Everything one traced phase recorded, with the joins between levels:
  * op -> micro-batches (by time, within the op) -> jobs -> tasks. */
final case class TraceData(ops: IndexedSeq[Tracer.OpRec], jobs: IndexedSeq[Tracer.JobRec],
                           tasksByJob: Map[Int, IndexedSeq[Tracer.TaskRec]],
                           tasksByStage: Map[Int, IndexedSeq[Tracer.TaskRec]],
                           stageJob: Map[Int, Int], qes: IndexedSeq[Tracer.QeRec],
                           batches: IndexedSeq[Tracer.BatchRec]) {
  import Tracer._

  def opsNamed(name: String): IndexedSeq[OpRec] = ops.filter(_.name == name)
  def jobsOf(op: OpRec): IndexedSeq[JobRec] = jobs.filter(_.op == op.id)
  def tasksOf(op: OpRec): IndexedSeq[TaskRec] = jobsOf(op).flatMap(j => tasksByJob.getOrElse(j.jobId, Nil))
  def qesOf(op: OpRec): IndexedSeq[QeRec] =
    qes.filter(q => q.startMs >= op.startMs && q.startMs <= op.endMs)
  def qesIn(b: BatchRec): IndexedSeq[QeRec] =
    qes.filter(q => q.startMs >= b.startMs && q.startMs <= b.endMs)
  def batchesOf(op: OpRec): IndexedSeq[BatchRec] =
    batches.filter(b => b.startMs >= op.startMs && b.startMs <= op.endMs)
  def jobsIn(b: BatchRec): IndexedSeq[JobRec] =
    jobs.filter(j => j.startMs >= b.startMs && j.startMs <= b.endMs)

  /** Milliseconds of [start, end] that no interval in `cover` overlaps. */
  def uncoveredMs(start: Double, end: Double, cover: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = start
    cover.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (end - start) - covered
  }

  def driverGapMs(op: OpRec): Double =
    uncoveredMs(op.startMs, op.endMs, jobsOf(op).map(j => (j.startMs.toDouble, j.endMs.toDouble)))
  def driverGapMs(b: BatchRec): Double =
    uncoveredMs(b.startMs, b.endMs, jobsIn(b).map(j => (j.startMs.toDouble, j.endMs.toDouble)))

  /** Longest task ÷ total task time of the op's heaviest stage. */
  def maxTaskShare(op: OpRec): Double = {
    val stages = jobsOf(op).flatMap(j => stageJob.collect { case (s, jb) if jb == j.jobId => s })
    val heaviest = stages.flatMap(tasksByStage.get).filter(_.nonEmpty)
      .maxByOption(_.map(_.durationMs).sum)
    heaviest.map(ts => ts.map(_.durationMs).max.toDouble / math.max(1L, ts.map(_.durationMs).sum))
      .getOrElse(0.0)
  }

  /** Executor busy time ÷ (wall × cores). */
  def coreUtil(op: OpRec, cores: Int): Double =
    tasksOf(op).map(_.durationMs).sum / (op.wallMs * cores)

  def observed(op: OpRec, name: String, field: String): Option[Long] =
    qesOf(op).flatMap(_.observed.get(name)).lastOption
      .map(r => r.getAs[Any](field)).collect { case n: java.lang.Number => n.longValue }

  /** The span tree as JSON lines: op spans, then each op's micro-batch and
    * job spans, with each span's self time (its duration minus the part
    * its child spans cover). */
  def spansJson: Seq[String] = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def line(kind: String, id: String, parent: String, op: Long, layer: String,
             name: String, start: Double, end: Double, self: Double) =
      f"""{"kind":"$kind","id":"$id","parent":"$parent","op":$op,"layer":"$layer","name":"${esc(name)}","start_ms":$start%.3f,"end_ms":$end%.3f,"self_ms":$self%.3f}"""
    ops.flatMap { o =>
      val bs = batchesOf(o)
      val js = jobsOf(o)
      val children = (if (bs.nonEmpty) bs.map(b => (b.startMs.toDouble, b.endMs.toDouble))
        else js.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
      line("op", s"op${o.id}", "", o.id, o.layer,
        o.name, o.startMs, o.endMs, uncoveredMs(o.startMs, o.endMs, children)) +:
        (bs.map(b => line("batch", s"b${b.runId}-${b.batchId}", s"op${o.id}", o.id,
          "streaming", s"batch ${b.batchId}", b.startMs, b.endMs, driverGapMs(b))) ++
          js.map { j =>
            val parent = bs.find(b => j.startMs >= b.startMs && j.startMs <= b.endMs)
              .fold(s"op${o.id}")(b => s"b${b.runId}-${b.batchId}")
            line("job", s"j${j.jobId}", parent, o.id, "spark", s"job ${j.jobId}",
              j.startMs, j.endMs, j.endMs - j.startMs)
          })
    }
  }
}
