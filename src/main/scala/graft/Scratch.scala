package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
// Throwaway plan-inspection / experiment runner (not part of the library).
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args(0) == "skewbench") { skewBench(spark, args(1)); spark.stop(); return }
    if (args(0) == "scaleprobe") {
      // scaleprobe <sfDir> [x<N>] [queries...] — replica factor defaults
      // to the README table's x10; "x30" probes the superlinear pair
      // members at an OBSERVED (not extrapolated) 30x corpus
      val (factor, qs) = args.drop(2).toSeq match {
        case head +: rest if head.matches("x\\d+") =>
          (head.drop(1).toInt, rest)
        case rest => (10, rest)
      }
      scaleProbe(spark, args(1), factor, qs); spark.stop(); return
    }
    if (args(0) == "depthprobe") {
      depthProbe(spark, args(1)); spark.stop(); return
    }
    if (args(0) == "multifile") {
      multiFile(spark, args(1), args(2)); spark.stop(); return
    }
    if (args(0) == "streamphases") {
      // streamphases <query> <sfDir> — per-micro-batch durationMs
      // breakdown for a replay row, to see where replay wall time goes
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryStartedEvent): Unit =
          println(s"STARTED run=${e.runId}")
        override def onQueryProgress(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val dur = p.durationMs
          println(s"BATCH ${p.batchId} rows=${p.numInputRows} " +
            s"trigger=${dur.get("triggerExecution")} " +
            s"addBatch=${dur.get("addBatch")} " +
            s"getBatch=${dur.get("getBatch")} " +
            s"planning=${dur.get("queryPlanning")} " +
            s"walCommit=${dur.get("walCommit")} " +
            s"commitOffsets=${dur.get("commitOffsets")} " +
            s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString(",")} " +
            s"stateCommitMs=${p.stateOperators.map(_.commitTimeMs).mkString(",")}")
        }
        override def onQueryTerminated(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryTerminatedEvent): Unit =
          println(s"TERMINATED run=${e.runId}")
      }
      spark.streams.addListener(listener)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(args(1))(spark, args(2))
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"BUILD ${(t1 - t0) / 1e9}%.3f NOOP ${(t2 - t1) / 1e9}%.3f")
      println(s"ELAPSED ${(t2 - t0) / 1e9}")
      spark.stop(); return
    }
    if (args(0) == "abtest") {
      // abtest <mode> <sfDir> <queriesCsv> <reps> — PAIRED A/B inside one
      // JVM: alternate a runtime-togglable knob (A on even reps, B on odd)
      // so host-contention windows hit both arms equally; report per-query
      // medians per arm. Modes: crc (LocalFileSystem write checksums
      // on/off), fctx (FileContext checksum leg on/off).
      val (mode, sfDir, reps) = (args(1), args(2), args(4).toInt)
      // rep 0 is excluded and ABBA assigns r%4∈{0,3} to arm A: below 5
      // reps arm A collects zero samples and a.min throws; reps ≡ 1
      // (mod 4) additionally gives both arms equal sample counts
      require(reps >= 5, s"abtest needs reps >= 5 (rep 0 excluded, " +
        s"ABBA needs a full cycle); got $reps — use reps % 4 == 1 for " +
        "equal arm sizes")
      val qs = args(3).split(',').toSeq
      val lfs = org.apache.hadoop.fs.FileSystem
        .getLocal(spark.sessionState.newHadoopConf())
      def setArm(a: Boolean): Unit = mode match {
        case "crc" =>
          lfs.setWriteChecksum(a); lfs.setVerifyChecksum(a)
        case "fctx" =>
          // FileContext checksum leg (checkpoint/WAL/state deltas):
          // A = default LocalFs (ChecksumFs), B = RawLocalFs — the
          // tuneLocalFs FileContext routing, isolated for measurement
          val hc = spark.sparkContext.hadoopConfiguration
          if (a) hc.unset("fs.AbstractFileSystem.file.impl")
          else hc.set("fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs")
        case m => sys.error(s"unknown abtest mode $m")
      }
      // warmup outside timing
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Tables.t(spark, sfDir, "events").count()
      val walls = scala.collection.mutable.Map
        .empty[(String, Boolean), List[Double]].withDefaultValue(Nil)
      // ABBA ordering cancels linear drift; rep 0 (whole-pipeline JIT)
      // is run but EXCLUDED from both arms' stats; min is the noise-
      // robust estimator (contention only ever ADDS time)
      for (r <- 0 until reps; q <- qs) {
        val arm = r % 4 == 0 || r % 4 == 3
        setArm(arm)
        SparkEntry.resetCaches()
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        if (r > 0)
          walls((q, arm)) = walls((q, arm)) :+ (System.nanoTime() - t0) / 1e9
      }
      qs.foreach { q =>
        val (a, b) = (walls((q, true)), walls((q, false)))
        println(f"ABTEST $q A_min=${a.min}%.2f B_min=${b.min}%.2f " +
          f"dmin=${b.min - a.min}%+.2f A_med=${Bench.median(a)}%.2f " +
          f"B_med=${Bench.median(b)}%.2f n=${a.size}/${b.size}")
      }
      spark.stop(); return
    }
    if (args(0) == "minbench") {
      // minbench <sfDir> <queriesCsv> <reps> — warmed min/median of N
      // reps in one JVM: the before/after instrument for CODE changes
      // (min is robust to this box's contention spikes, which only ever
      // add time); rep 0 is run but excluded (whole-pipeline JIT)
      val (sfDir, reps) = (args(1), args(3).toInt)
      val qs = args(2).split(',').toSeq
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Tables.t(spark, sfDir, "events").count()
      val walls = scala.collection.mutable.Map
        .empty[String, List[Double]].withDefaultValue(Nil)
      for (r <- 0 until reps; q <- qs) {
        SparkEntry.resetCaches()
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        if (r > 0) walls(q) = walls(q) :+ (System.nanoTime() - t0) / 1e9
      }
      qs.foreach { q =>
        val w = walls(q)
        println(f"MINBENCH $q min=${w.min}%.2f med=${Bench.median(w)}%.2f " +
          f"n=${w.size}")
      }
      spark.stop(); return
    }
    if (args(0) == "stageprobe") {
      // stageprobe <query> <sfDir> [reps] — run a query with a listener
      // recording per-stage wall/shuffle/spill/GC, then print the stages
      // sorted by wall: the guide §1 empirical loop (UI → slowest stage)
      // for a headless box. Rep 0 is cache-cold+JIT; later reps show the
      // steady state the bench medians see.
      val (q, sfDir) = (args(1), args(2))
      val reps = if (args.length > 3) args(3).toInt else 2
      case class St(name: String, wall: Double, tasks: Int, gc: Double,
                    shRead: Long, shWrite: Long, spillMem: Long,
                    spillDisk: Long, input: Long, peakMem: Long)
      val stages = scala.collection.mutable.ArrayBuffer.empty[St]
      val jobs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val listener = new org.apache.spark.scheduler.SparkListener {
        private val jobStart =
          scala.collection.concurrent.TrieMap.empty[Int, Long]
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStart(e.jobId) = e.time
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = e.stageInfo
          val m = i.taskMetrics
          stages += St(
            i.name.takeWhile(_ != '\n').take(60),
            (i.completionTime.getOrElse(0L) -
              i.submissionTime.getOrElse(0L)) / 1e3,
            i.numTasks, m.jvmGCTime / 1e3,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled, m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.peakExecutionMemory)
        }
      }
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Tables.t(spark, sfDir, "events").count()
      spark.sparkContext.addSparkListener(listener)
      for (r <- 0 until reps) {
        stages.clear()
        jobs.clear()
        SparkEntry.resetCaches()
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300L) // let the listener bus drain stage events
        // merged job-span coverage vs wall: the uncovered remainder is
        // pure driver time (planning, fs metadata, commit, job gaps)
        val covered = {
          val sorted = jobs.sortBy(_._1)
          var cov = 0L; var hi = Long.MinValue
          sorted.foreach { case (s, e) =>
            if (e > hi) { cov += e - math.max(s, hi); hi = e }
          }
          cov / 1e3
        }
        println(f"STAGEPROBE rep=$r $q wall=$wall%.2f stages=${stages.size} " +
          f"stageWallSum=${stages.map(_.wall).sum}%.2f " +
          f"jobs=${jobs.size} jobCovered=$covered%.2f " +
          f"driverGap=${wall - covered}%.2f")
        stages.sortBy(-_.wall).take(14).foreach { s =>
          println(f"  ${s.wall}%6.2fs tasks=${s.tasks}%3d gc=${s.gc}%5.2f " +
            f"shR=${s.shRead / 1048576.0}%7.1fM shW=${s.shWrite / 1048576.0}%7.1fM " +
            f"spill=${(s.spillMem + s.spillDisk) / 1048576.0}%7.1fM " +
            f"in=${s.input / 1048576.0}%7.1fM peak=${s.peakMem / 1048576.0}%7.1fM ${s.name}")
        }
      }
      spark.stop(); return
    }
    if (args(0) == "hofab") { hofAb(spark, args(1)); spark.stop(); return }
    if (args(0) == "agprobe") {
      // agprobe [nBatches] [batchSize] [docBuckets] [bandBuckets] —
      // drive the AdmissionGate with FIXED-size batches of synthetic
      // non-duplicate docs and print each batch's admit wall time: flat
      // per-batch cost while the corpus grows nBatches× is the scale
      // claim (probe IO ~ batch bucket footprint × corpus/buckets, so
      // size the buckets to the final corpus)
      val n = if (args.length > 1) args(1).toInt else 20
      val bs = if (args.length > 2) args(2).toInt else 200
      val db = if (args.length > 3) args(3).toInt else 16
      val bb = if (args.length > 4) args(4).toInt else 64
      val base = "target/agprobe"
      if (sys.env.contains("AGPROBE_V2"))
        spark.sparkContext.hadoopConfiguration
          .setInt("mapreduce.fileoutputcommitter.algorithm.version", 2)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      // 12 pseudo-random tokens per doc keyed off the id: distinct docs,
      // negligible shingle overlap, so state grows by ~bs rows per batch
      def docs(from: Long, until: Long) = spark.range(from, until)
        .select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(i =>
            concat(lit("t"), ((col("id") * 31L + lit(i * 7919L)) % 99991L)
              .cast("string"))): _*).as("text"))
      (0 until n).foreach { b =>
        val t0 = System.nanoTime()
        graft.streaming.AdmissionGate.admitBatch(
          docs(b.toLong * bs, (b + 1).toLong * bs), base, b.toLong,
          docBuckets = db, bandBuckets = bb)
        println(f"AGPROBE batch=$b%3d corpus=${b * bs}%7d " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.stop(); return
    }
    if (args(0) == "winsweep") {
      // winsweep <sfDir> — every registered query's optimized-plan
      // Window nodes with an EMPTY partitionSpec: the candidate
      // single-task shapes the PlanSpec invariant must whitelist or ban
      import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
      SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
        try {
          val plan = SparkEntry.queries(q)(spark, args(1))
            .queryExecution.optimizedPlan
          plan.collect { case w: LWindow if w.partitionSpec.isEmpty =>
            val ord = w.orderSpec.map(_.child.references.toSeq
              .map(_.name).mkString("+")).mkString(",")
            println(s"WIN $q order=[$ord]")
          }
        } catch { case e: Throwable =>
          println(s"ERR $q ${e.toString.take(120)}")
        }
      }
      spark.stop(); return
    }
    val df = SparkEntry.queries(args(0))(spark, args(1))
    df.explain("formatted")
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(s"ELAPSED ${(System.nanoTime() - t0) / 1e9}")
    spark.stop()
  }

  /** sf1 scale probe (README's linearity table): build a ×10 replica of
    * the sf0.1 documents/embeddings — each copy's tokens salted with the
    * copy index so copies are internally identical corpora but share NO
    * shingles across copies (the statistical shape of a 10× corpus: 10×
    * the docs at the same internal dup rate, not 10 exact clones of
    * every document, which would inflate every dup group ×10 and probe
    * cluster blowup, not scale) — then time the top-5 bench queries at
    * both scales, cache-cold each. */
  /** Replica-fixture dir keyed on the SOURCE dir (ADVICE r9): the
    * _done markers alone would silently reuse a replica built from a
    * different testdata dir — wrong measurements, no error. A short
    * canonical-path digest in the fixture path rebuilds per source. */
  private def fixtureDir(base: String, sfDir: String): String = {
    val canon = new java.io.File(sfDir).getCanonicalPath
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8")).take(4)
      .map(b => f"$b%02x").mkString
    s"${base}_$digest"
  }

  private def scaleProbe(spark: SparkSession, sfDir: String,
                         factor: Int,
                         queries: Seq[String] = Nil): Unit = {
    val big = fixtureDir(s"target/scale_x$factor", sfDir)
    val marker = new java.io.File(big + "/_done")
    if (!marker.exists()) {
      val docs = Tables.t(spark, sfDir, "documents")
      val embs = Tables.t(spark, sfDir, "embeddings")
      val docsN = (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000000L))
          .withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"c$i$$1"))
      }.reduce(_ unionByName _)
      val embsN = (0 until factor).map { i =>
        embs.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000000L))
          // deterministic per-copy perturbation keeps vectors distinct
          .withColumn("embedding", expr(
            s"transform(embedding, (x, j) -> x + CAST(($i * (j + 1)) AS FLOAT) * CAST(1e-4 AS FLOAT))"))
      }.reduce(_ unionByName _)
      docsN.write.mode("overwrite").parquet(s"$big/documents.parquet")
      embsN.write.mode("overwrite").parquet(s"$big/embeddings.parquet")
      marker.createNewFile()
    }
    // events replica (separate marker: older replica dirs predate it):
    // copies shift event ids AND user ids — 10× the events as 10× the
    // USERS over the same time range (the realistic growth axis for the
    // per-user window family), not 10× events per user, which would
    // deepen every per-user partition instead of scaling their number.
    // Read RAW (no nanos rewrite) so the copy keeps ts as int64 nanos
    // and Tables.t applies its own truncation on read-back.
    val evMarker = new java.io.File(big + "/_done_events")
    if (!evMarker.exists()) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
      val evN = (0 until factor).map { i =>
        evRaw.withColumn("event_id",
            col("event_id") + lit(i.toLong * 1000000000L))
          .withColumn("user_id",
            col("user_id") + lit(i.toLong * 100000000L))
      }.reduce(_ unionByName _)
      evN.write.mode("overwrite").parquet(s"$big/events.parquet")
      evMarker.createNewFile()
    }
    // lineitem replica (for the binning/skew-audit family): 10× the
    // orders and 10× the part/supplier key domains at the same per-key
    // depth — the growth axis a fact table actually has
    val liMarker = new java.io.File(big + "/_done_lineitem")
    if (!liMarker.exists()) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val liN = (0 until factor).map { i =>
        li.withColumn("l_orderkey",
            col("l_orderkey") + lit(i.toLong * 1000000000L))
          .withColumn("l_partkey",
            col("l_partkey") + lit(i.toLong * 100000000L))
          .withColumn("l_suppkey",
            col("l_suppkey") + lit(i.toLong * 100000000L))
      }.reduce(_ unionByName _)
      liN.write.mode("overwrite").parquet(s"$big/lineitem.parquet")
      liMarker.createNewFile()
    }
    val probes = if (queries.nonEmpty) queries
      else Seq("q51_dup_clusters", "q87_pq_ann", "q43_trigram_jaccard",
        "q38_jaccard_maxdf", "q72_incremental_dedup")
    for (q <- probes;
         (label, dir) <- Seq("x1" -> sfDir, s"x$factor" -> big))
      println(f"PROBE $q%-22s $label%-4s ${probeWall(spark, q, dir)}%8.2f s")
  }

  /** Kernel-vs-HOF A/B micro-probe (backs the README's codegen-kernel
    * claims with MEASURED numbers instead of "HOFs are interpreted"
    * folklore): times the isolated expression over the given sfDir's
    * full documents/embeddings tables — posNgrams (the tf-idf staging's
    * term generator) and quantize (the similarity family's entry cast) —
    * in both spellings, min of 2 cache-cold full materializations each,
    * interleaved A/B/A/B so a contention drift hits both arms. Counts
    * are asserted equal so the arms provably do the same work. */
  private def hofAb(spark: SparkSession, sfDir: String): Unit = {
    import graft.text.TextAnalysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def wall(df: => DataFrame): (Double, Long) = {
      var rows = 0L
      val t = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        rows = df.count()
        (System.nanoTime() - t0) / 1e9
      }.min
      (t, rows)
    }
    def ab(name: String, kernel: => DataFrame, hof: => DataFrame): Unit = {
      val (k1, nk1) = wall(kernel); val (h1, nh1) = wall(hof)
      val (k2, _) = wall(kernel); val (h2, _) = wall(hof)
      require(nk1 == nh1, s"$name arms disagree: $nk1 vs $nh1")
      println(f"HOFAB $name%-12s kernel ${math.min(k1, k2)}%6.2f s   " +
        f"hof ${math.min(h1, h2)}%6.2f s   rows $nk1")
    }
    ab("posNgrams",
      docs.select(explode(TextAnalysis.posNgrams(
        TextAnalysis.tokens(col("text")), 3)).as("t")),
      docs.select(explode(TextAnalysis.posNgramsHof(
        TextAnalysis.tokensHof(col("text")), 3)).as("t")))
    ab("quantize",
      emb.select(explode(graft.similarity.Similarity.quantize(
        col("embedding"))).as("q")).where(col("q").isNotNull),
      emb.select(explode(graft.similarity.Similarity.quantizeHof(
        col("embedding"))).as("q")).where(col("q").isNotNull))
  }

  /** The ONE probe measurement protocol (scaleprobe and depthprobe must
    * stay comparable): min of 2 cache-cold runs — the first execution of
    * a plan also pays one-time codegen/JIT, which would masquerade as
    * data cost — with full materialization through the noop sink. */
  private def probeWall(spark: SparkSession, q: String,
                        dir: String): Double =
    (1 to 2).map { _ =>
      SparkEntry.resetCaches()
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Per-partition DEPTH probe for the transit-KPI window family
    * (verdict r8 item 7): the scaleprobe events replica grows the USER
    * axis (10× users, same depth per user), under which q201/q206 grew
    * ~1.5-1.8× — this probe isolates the other axis: 10× trips per
    * (route, stop) at the SAME key domain, i.e. every lag-window
    * partition 10× deeper. Copies shift ONLY event_id (trip identity);
    * user_id — and with it stop_id and route_id, both derived from it in
    * the mart fixture — stays fixed, so the (route, stop) windows of
    * q201/q203 and the (trip, date) windows + (route, from, to) groups
    * of q206 deepen instead of multiplying. If depth-×10 wall ≈
    * user-×10 wall, the growth is scan-bound (rows dominate); a
    * superlinear depth curve would instead point at per-partition sort
    * cost inside WindowExec. */
  private def depthProbe(spark: SparkSession, sfDir: String): Unit = {
    val big = fixtureDir("target/depth_x10", sfDir)
    val marker = new java.io.File(big + "/_done")
    if (!marker.exists()) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evRaw = spark.read.parquet(s"$sfDir/events.parquet")
      val evN = (0 until 10).map { i =>
        evRaw.withColumn("event_id",
          col("event_id") + lit(i.toLong * 1000000000L))
      }.reduce(_ unionByName _)
      evN.write.mode("overwrite").parquet(s"$big/events.parquet")
      marker.createNewFile()
    }
    for (q <- Seq("q201_headway_regularity", "q203_bunching",
           "q206_run_times");
         (label, dir) <- Seq("x1" -> sfDir, "x10deep" -> big))
      println(
        f"PROBE $q%-24s $label%-8s ${probeWall(spark, q, dir)}%8.2f s")
  }

  /** Multi-file layout fixture: every bench table re-written as an
    * 8-file parquet directory (the driver testdata is one file per
    * table, which under-exercises scan parallelism and AQE coalescing).
    * Run Bench with SPARK_GRAFT_SF_DIR pointing at the output. */
  private def multiFile(spark: SparkSession, sfDir: String, out: String): Unit = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (tn <- tables;
         if new java.io.File(s"$sfDir/$tn.parquet").exists()) {
      // read RAW (no nanos rewrite): the copy must preserve the exact
      // on-disk column types so Tables.t applies its own ts handling
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$sfDir/$tn.parquet")
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/$tn.parquet")
    }
    println(s"MULTIFILE $out done")
  }

  /** Skew experiment backing the README's AQE-vs-salting numbers: a 90%-
    * hot-key fact-dim join over events, run as (a) plain sort-merge with
    * AQE off, (b) AQE skew-join split, (c) graft.operators.Salt. All
    * three produce identical rows (SaltSpec pins that); this measures
    * the wall-clock shape of each on real sf data. */
  private def skewBench(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val ev = Tables.t(spark, dir, "events")
      .select(col("event_id"),
        when(pmod(xxhash64(col("event_id")), lit(10L)) < 9L, lit(7L))
          .otherwise(pmod(xxhash64(col("event_id"), lit(1)), lit(64L)))
          .as("k"))
    val build = spark.range(64).select(col("id").as("k"),
      concat(lit("dim"), col("id")).as("name"))
    def conf(kvs: (String, String)*): Unit = kvs.foreach { case (k, v) =>
      spark.conf.set(k, v) }
    def time(label: String)(f: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      println(f"$label%-12s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    conf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    ev.count() // warm the scan
    conf("spark.sql.adaptive.enabled" -> "false")
    time("plain-smj") { ev.join(build, Seq("k")) }
    conf("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // sf0.1 partitions are far below the 256 MB production default —
      // scale the trigger down so the splitter engages at test scale
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB")
    time("aqe-skew") { ev.join(build, Seq("k")) }
    conf("spark.sql.adaptive.enabled" -> "false")
    time("salted-32") {
      graft.operators.Salt.saltedJoin(ev, build, Seq("k"), buckets = 32)
    }
  }
}
