package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Runs one workload for a fixed time and prints its metrics.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --spec BENCHMARK.json --work <scratch dir> --trace-file <spans.jsonl>
  * }}}
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics;
  * with `--trace 1` the run measures for `seconds` untraced and then for
  * `seconds` traced (each from fresh program state) and carries the
  * per-layer metrics, including the tracing overhead. A table of every metric, with
  * unit and sample count, goes to stderr. Metric names and units come
  * from the spec file, so the benchmark and its contract cannot drift. */
object Main {

  final case class Metric(name: String, unit: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val (e2eSpec, layerSpec) = readSpec(Paths.get(a("spec")))
    val work = Paths.get(a("work")).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work.resolve("tmp"))

    val cores = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors() - 1))
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSecs = (System.nanoTime() - t0) / 1e9

    val code = try {
      val ctx = new Ctx(spark, seed, cores)
      val wl: Workload = workload match {
        case "transit_ingest" => new TransitIngest(ctx)
        case "transit_dashboard" => new TransitDashboard(ctx)
        case "corpus_dedup" => new CorpusDedup(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // input generation repeated in fresh directories (the last one's
      // inputs are used), then the program's set-up and warm-up
      val generates = (0 until 3).map { i =>
        val p0 = System.nanoTime()
        wl.generate(Files.createDirectories(work.resolve(s"inputs$i")))
        (System.nanoTime() - p0) / 1e9
      }
      val s0 = System.nanoTime()
      wl.setUp(Files.createDirectories(work.resolve("setup")))
      val setUpSecs = (System.nanoTime() - s0) / 1e9
      System.err.println(f"[perfbench] set-up: session $sessionSecs%.2f s, inputs " +
        generates.map(g => f"$g%.2f").mkString("/") + f" s, program $setUpSecs%.2f s")
      val setupSecs = sessionSecs + Stats.median(generates) + setUpSecs
      val heap = new HeapProbe
      heap.sample()

      def runPhase(dir: String, secs: Double): Phase = {
        val ph = wl.newPhase(Files.createDirectories(work.resolve(dir)))
        val end = System.nanoTime() + (secs * 1e9).toLong
        val m0 = System.nanoTime()
        // at least `minOps` ops are measured, however slow the machine, and
        // a phase stops only after a whole cycle of its workload
        def ops = ph.samples.get("op").fold(0)(_.size)
        while ((System.nanoTime() < end || ops < wl.minOps || !ph.cycleDone) && ph.hasNext) {
          ph.step()
          if (ph.cycleDone) heap.sample(settle = false)
        }
        System.err.println(f"[perfbench] phase $dir: ${(System.nanoTime() - m0) / 1e9}%.2f s")
        heap.sample()
        ph
      }
      val (phases, metrics) = if (!traced) {
        val ph = runPhase("run", seconds)
        val ops = ph.samples.getOrElse("op", Nil).toSeq
        require(ops.nonEmpty, "no op completed in the measured time")
        (Seq(ph), Map(
          "setup_s" -> (setupSecs, generates.size),
          "op_p50_s" -> (Stats.median(ops), ops.size),
          "peak_heap_mb" -> (heap.peakMb, heap.samples)))
      } else {
        val plain = runPhase("untraced", seconds)
        val tracer = new Tracer(spark)
        tracer.attach()
        ctx.tracer = Some(tracer)
        val ph = runPhase("traced", seconds)
        tracer.drain()
        tracer.detach()
        ctx.tracer = None
        val t = tracer.snapshot()
        val traceFile = Paths.get(a("trace-file"))
        Files.createDirectories(traceFile.getParent)
        Files.write(traceFile, t.spansJson.asJava)
        val base = plain.samples.getOrElse("op", Nil).toSeq
        val withTrace = ph.samples.getOrElse("op", Nil).toSeq
        require(base.nonEmpty && withTrace.nonEmpty, "no op completed in the measured time")
        val nOps = math.max(1, t.ops.size)
        val all = t.ops.flatMap(t.tasksOf)
        val layers = ph.layers(t) ++ Map(
          "spark.jobs_per_op" -> Stats.median(t.ops.map(t.jobsOf(_).size.toDouble)),
          "spark.driver_gap_s" -> Stats.median(t.ops.map(t.driverGapMs(_) / 1e3)),
          "spark.gc_s" -> all.map(_.gcMs).sum / 1e3 / nOps,
          "spark.shuffle_bytes" -> all.map(_.shuffleBytes).sum.toDouble / nOps,
          "spark.spill_bytes" -> all.map(_.spillBytes).sum.toDouble / nOps,
          "trace.overhead_share" -> (Stats.median(withTrace) / Stats.median(base) - 1.0))
        (Seq(plain, ph), layers.map { case (k, v) => k -> (v, t.ops.size) })
      }

      phases.foreach(_.check())
      val attempted = phases.map(_.attempted).sum
      val failed = phases.map(_.failed).sum
      phases.flatMap(_.failures).distinct.foreach(f => System.err.println(s"[perfbench] $f"))

      val spec = if (traced) layerSpec else e2eSpec
      val unknown = metrics.keySet -- spec.map(_.name)
      require(unknown.isEmpty, s"metrics missing from the spec: ${unknown.mkString(", ")}")
      // a layer the workload never enters reads 0; every end-to-end
      // metric must be measured
      val missing = spec.filterNot(m => metrics.contains(m.name))
      require(traced || missing.isEmpty, s"unmeasured metrics: ${missing.map(_.name).mkString(", ")}")
      val full = spec.map(m => m -> metrics.getOrElse(m.name, (0.0, 0)))

      System.err.println(f"[perfbench] $workload seed=$seed trace=${if (traced) 1 else 0} " +
        f"attempted=$attempted failed=$failed")
      full.foreach { case (m, (v, n)) =>
        System.err.println(f"[perfbench]   ${m.name}%-40s ${fmt(v)}%20s ${m.unit}%-6s n=$n")
      }
      // every timed series, with its p90 where enough samples lie beyond it
      phases.last.samples.foreach { case (k, xs) =>
        val p90 = Stats.percentile(xs.toSeq, 90).fold("p90 n/a")(v => f"p90 $v%.4f s")
        System.err.println(f"[perfbench]   series $k%-33s p50 ${Stats.median(xs.toSeq)}%.4f s  $p90  n=${xs.size}")
      }
      val body = full.map { case (m, (v, _)) =>
        s""""${m.name}": {"value": ${fmt(v)}, "unit": "${m.unit}"}"""
      }.mkString(", ")
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally {
      spark.stop()
    }
    deleteTree(work)
    System.out.flush()
    sys.exit(code)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def readSpec(path: Path): (Seq[Metric], Seq[Metric]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    def metrics(key: String) = root.get(key).elements().asScala.map(m =>
      Metric(m.get("name").asText(), m.get("unit").asText())).toSeq
    (metrics("end_to_end"), metrics("per_layer"))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Live heap over the run: the heap a full collection leaves, forced
  * after set-up and at the end of every cycle of a measured phase (between
  * ops, outside their timing); the largest is reported. The heap young
  * collections leave is not the live heap: at this heap size the old
  * generation is not collected during a run, so it holds every promoted
  * object, dead or alive, and grows with the run's length. Spark frees
  * cached blocks (broadcasts, shuffles) only after a collection has shown
  * them unreachable, so the samples after set-up and after a phase repeat
  * collections until the heap stops shrinking. */
final class HeapProbe {
  private var peak = 0L
  private var forced = 0

  private def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  def sample(settle: Boolean = true): Unit = {
    System.gc()
    var live = used
    var shrinking = settle
    var rounds = 0
    while (shrinking && rounds < 3) {
      Thread.sleep(100)
      System.gc()
      val next = used
      shrinking = next < live - (1L << 20)
      live = math.min(live, next)
      rounds += 1
    }
    peak = math.max(peak, live)
    forced += 1
  }
  def samples: Int = forced
  def peakMb: Double = peak / 1048576.0
}
