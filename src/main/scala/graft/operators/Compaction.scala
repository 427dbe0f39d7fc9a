package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.GtfsRtWrite

/** Small-file compaction (OPTIMIZE) — planner AND executor. The
  * reference has no lake-maintenance story (its system of record is
  * Postgres); any streaming-ingested parquet lake at 100 TB needs one:
  * a micro-batch writer lands a file per trigger, and a year of
  * minutes is half a million small files whose listing + footer reads
  * dominate scan time long before the data does.
  *
  * [[plan]] is the q136 arithmetic extracted to one spelling: files
  * (one metadata row each) pack SEQUENTIALLY in clustering-key order
  * into ~targetRows bins — sequential, not first-fit-decreasing,
  * because it PRESERVES the clustering key: each output file covers a
  * contiguous key range, so min/max pruning survives the rewrite.
  *
  * [[execute]] is the rewrite the plan intends, with the write-side
  * crash-safety the GTFS-RT connector established (VERDICT r11 item 3):
  * rows join their bin via a BROADCAST of the metadata-sized plan, ONE
  * shuffle keyed by (partition, bin) routes every bin to exactly one
  * task (so each bin becomes exactly one parquet file), files land in a
  * hidden `_temporary-<qid>/` tree, one rename stages them to
  * `_data-<qid>/`, and the [[GtfsRtWrite.publishManifest]] rename is
  * the single reader-visible commit point — a crash anywhere before it
  * leaves zero new files visible, and a re-run of a committed qid
  * refuses before touching anything. [[readCompacted]] resolves the
  * manifests exactly like the connector's reader resolves its own.
  *
  * Scale shape: the plan is file METADATA (one row per input file /
  * partition-day), the join is a broadcast, and the one data shuffle is
  * the rewrite itself — the minimum any compaction must move. Rows
  * within each output file are sorted by the clustering key, so
  * row-group min/max pruning survives inside files too. Byte identity
  * (every row survives, nothing added) and clustering preservation
  * (bin key ranges do not overlap within a partition) are pinned by
  * CompactionSpec; the plan→execute round-trip is hash-checked as
  * q241 against the q136 plan arithmetic recomputed by the oracle. */
object Compaction {

  /** Sequential bin assignment over per-(partition, clusterKey) file
    * metadata (`files`: partCol, orderCol, n_rows): bin = pre-file
    * cumulative row count DIV targetRows, per partition in clustering
    * order — q136's planner, shared by the q136 readout and
    * [[execute]] so the two can never pack apart.
    *
    * Input rows are expected UNIQUE per (partCol, orderCol) — one
    * metadata row per file, which is what [[execute]] guarantees by
    * pre-grouping. The window order still carries `n_rows` as a
    * deterministic tie-break so a caller that DOES feed duplicate
    * (partCol, orderCol) rows gets a stable bin assignment across runs
    * (fully identical rows are interchangeable under the cumulative
    * sum, so the assignment is deterministic as a multiset either
    * way). */
  def plan(files: DataFrame, partCol: String, orderCol: String,
           targetRows: Long): DataFrame = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    val w = Window.partitionBy(col(partCol))
      .orderBy(col(orderCol), col("n_rows"))
      .rowsBetween(Window.unboundedPreceding, 0)
    files
      .withColumn("__cum", sum(col("n_rows")).over(w))
      .withColumn("bin", expr(s"(__cum - n_rows) DIV ${targetRows}L"))
      .drop("__cum")
  }

  /** Execute the compaction: rewrite `data` into one parquet file per
    * (partCol, bin) under `outDir/_data-<qid>/`, committed via the
    * connector's manifest protocol. `data` must carry `partCol` and
    * `orderCol` columns; every other column rides along unchanged.
    *
    * Concurrency contract: at most ONE writer per (outDir, runId). The
    * contract is ENFORCED, not assumed — the first side effect is an
    * atomic `fs.create(overwrite = false)` of a hidden `_lock-<qid>`
    * marker, so of two racing executors with the same runId exactly one
    * proceeds and the other fails here, before either could wipe the
    * winner's in-flight `_temporary-<qid>` tree (a bare exists-check
    * would be check-then-act). The marker is never deleted: a run that
    * crashed mid-write leaves its lock behind, and the recovery path is
    * a NEW runId (retrying the same id cannot distinguish "crashed" from
    * "still running", so refusing is the only safe answer). DIFFERENT
    * runIds compact into the same outDir freely — each gets its own
    * lock, temp tree, data dir, and manifest. */
  def execute(data: DataFrame, partCol: String, orderCol: String,
              targetRows: Long, outDir: String, runId: String): Unit = {
    val spark = data.sparkSession
    val qid = GtfsRtWrite.sanitizeQueryId(runId)
    val target = new Path(outDir)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(target)
    val dataDir = new Path(target, s"_data-$qid")
    val manifest = new Path(target, GtfsRtWrite.manifestName(qid))
    // retry-of-a-committed-run guard (the GtfsRtBatchWrite.commit rule):
    // refuse BEFORE touching anything rather than silently re-publishing
    if (fs.exists(manifest) || fs.exists(dataDir))
      throw new java.io.IOException(
        s"compaction aborted: $manifest or $dataDir already exists — " +
          "this run id already committed to this directory")
    // single-writer-per-(outDir, runId), atomically: create-exclusive is
    // the one filesystem primitive that cannot interleave — the loser of
    // a race fails HERE, before the temp-tree delete below could wipe
    // the winner's in-flight files
    val lock = new Path(target, s"_lock-$qid")
    val lockOut =
      try fs.create(lock, /* overwrite = */ false)
      catch { case e: java.io.IOException =>
        throw new java.io.IOException(
          s"compaction aborted: could not create $lock exclusively — " +
            "another run with this run id is in flight or crashed here; " +
            "use a fresh run id", e)
      }
    lockOut.close()
    val files = data.groupBy(col(partCol), col(orderCol))
      .agg(count(lit(1)).as("n_rows"))
    val binPlan = plan(files, partCol, orderCol, targetRows)
      .select(col(partCol), col(orderCol), col("bin"))
    val tmp = new Path(target, s"_temporary-$qid")
    fs.delete(tmp, true)
    data
      // metadata-sized plan: broadcast, never a data-data shuffle join.
      // Null-safe keys: a NULL partition or clustering key is a planned
      // file like any other, and a plain equi-join would drop its rows.
      .join(broadcast(binPlan.select(col(partCol).as("__p"),
          col(orderCol).as("__o"), col("bin"))),
        col(partCol) <=> col("__p") && col(orderCol) <=> col("__o"))
      .drop("__p", "__o")
      // Hash-cluster by (partition, bin) at an EXPLICIT session-width
      // partition count: every row of a bin shares the key, so each bin
      // still lands wholly in one task and the partitionBy writer still
      // emits exactly one file per bin — but the write runs at session
      // parallelism. The previous keyless-count spelling
      // (`repartition(cols…)`) let AQE's byte-based coalescing fold the
      // whole rewrite into ONE task (guide §2.6 idle capacity: measured
      // 2.4-3.5 s serial for a 150-file rewrite at sf0.1 — every
      // parquet writer opened sequentially); an explicit numPartitions
      // is exempt from coalescing. The within-task sort keeps row
      // groups clustered on the key so min/max pruning survives inside
      // each file too.
      .repartition(data.sparkSession.sessionState.conf.numShufflePartitions,
        col(partCol), col("bin"))
      .sortWithinPartitions(col(partCol), col("bin"), col(orderCol))
      .write.partitionBy(partCol, "bin").mode("overwrite")
      .parquet(tmp.toString)
    // one directory rename stages every file out of the temp tree
    if (!fs.rename(tmp, dataDir))
      throw new java.io.IOException(s"commit rename failed: $tmp -> $dataDir")
    val prefix = fs.makeQualified(target).toString + "/"
    val rel = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(dataDir, true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet"))
        rel += fs.makeQualified(f).toString.stripPrefix(prefix)
    }
    // per-file clustering-key min/max sidecar — what makes the
    // clustering-preservation claim CASHABLE at read time
    // ([[readCompactedRange]] skips non-overlapping files before any
    // byte of them is scanned). Derived by one column-pruned aggregate
    // over the freshly staged files (a production writer collects the
    // same numbers from its own write path / parquet footers; the
    // relational spelling keeps this engine-pure, and it reads ONE
    // column). Written BEFORE the manifest: a crash between the two
    // leaves an orphaned stats file that no reader ever consults —
    // publishManifest stays the single commit point. Only integral
    // clustering keys are recorded; others simply get no sidecar and
    // range reads degrade to reading every manifest file.
    val integralKey = {
      import org.apache.spark.sql.types._
      data.schema(orderCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    if (integralKey) {
      // Per-file min/max from the PLAN metadata, not a re-read: each
      // output file IS one (partCol, bin) by construction, so the bin's
      // orderCol range over the metadata rows equals the file's data
      // range exactly — re-reading the freshly staged files for the
      // same numbers cost a second full listing + footer pass + one
      // aggregate job per commit (guide §5 driver work / §6 small-file
      // IO; measured ~0.7 s of q241's wall at 150 files). Requires
      // mapping a file path back to its bin, so it is done for STRING
      // partition keys (directory name = escapePathName(value), the
      // exact writer spelling); other key types keep the re-read. A
      // file that matches no plan row gets a null range — readers keep
      // unknown-range files conservatively, so pruning can only lose
      // skips, never rows. If a bin ever produced two files both would
      // inherit the bin's range — wider, still conservative.
      val stringPart =
        data.schema(partCol).dataType ==
          org.apache.spark.sql.types.StringType
      val lines: Seq[String] =
        if (stringPart) {
          val binStats = binPlan
            .groupBy(col(partCol), col("bin"))
            .agg(min(col(orderCol)).cast("long").as("__lo"),
              max(col(orderCol)).cast("long").as("__hi"))
            .collect() // metadata-sized: one slim row per bin
          val byDir = binStats.map { r =>
            val dir = if (r.isNullAt(0)) "__HIVE_DEFAULT_PARTITION__"
              else org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.escapePathName(r.getString(0))
            (s"$partCol=$dir", s"bin=${r.get(1)}") ->
              ((if (r.isNullAt(2)) "null" else r.getLong(2).toString,
                if (r.isNullAt(3)) "null" else r.getLong(3).toString))
          }.toMap
          rel.toSeq.map { rp =>
            val parts = rp.split('/')
            val range = if (parts.length == 4)
              byDir.get((parts(1), parts(2))) else None
            val (lo, hi) = range.getOrElse(("null", "null"))
            s"$rp\t$lo\t$hi"
          }
        } else {
          val stats = spark.read.option("basePath", dataDir.toString)
            .parquet(dataDir.toString)
            .groupBy(col("_metadata.file_path").as("__fp"))
            .agg(min(col(orderCol)).cast("long").as("__lo"),
              max(col(orderCol)).cast("long").as("__hi"))
            .collect() // metadata-sized: one slim row per committed file
          stats.toSeq.map { r =>
            val rp = r.getString(0).stripPrefix(prefix)
            val lo = if (r.isNullAt(1)) "null" else r.getLong(1).toString
            val hi = if (r.isNullAt(2)) "null" else r.getLong(2).toString
            s"$rp\t$lo\t$hi"
          }
        }
      val statsOut = fs.create(new Path(target, statsName(qid)), true)
      try statsOut.write(
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally statsOut.close()
    }
    GtfsRtWrite.publishManifest(fs, target, qid, rel.toSeq)
  }

  /** The per-file min/max sidecar's name for a commit id — next to the
    * manifest, never matching the reader's `commit-*.manifest` filter. */
  private def statsName(qid: String): String = s"commit-$qid.stats"

  /** Read a compacted directory through its commit manifests — ONLY
    * manifest-listed files are read (a crashed run's orphans stay
    * invisible, the connector-reader contract); the hidden data dir is
    * each read's basePath so the (partCol, bin) directory encoding
    * comes back as columns. */
  def readCompacted(spark: SparkSession, outDir: String): DataFrame =
    readManifests(spark, outDir, (_, lines) => lines)
      .getOrElse(throw new IllegalArgumentException(
        s"no committed data under $outDir"))

  /** [[readCompacted]] restricted to rows whose integral `orderCol` lies
    * in [lo, hi] — and, BEFORE any data byte is read, to the FILES whose
    * committed min/max sidecar range overlaps [lo, hi]: the read-time
    * payoff of clustering-preserving bins. Each output file covers a
    * contiguous key range ([[plan]]), so a narrow range predicate
    * selects a handful of files out of the whole lake — the file list
    * Spark plans over IS the pruned list (observable via `inputFiles` /
    * the scan's file metrics, pinned by CompactionSpec). Files without
    * a sidecar entry (pre-stats commits, null-keyed files) are kept
    * conservatively; the row-level filter stays applied either way, so
    * pruning can never change results — only skip dead IO. */
  def readCompactedRange(spark: SparkSession, outDir: String,
                         orderCol: String, lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"empty range: [$lo, $hi]")
    val pruned = readManifests(spark, outDir, { (fsm, lines) =>
      fsm.stats match {
        case None => lines
        case Some(st) => lines.filter { l =>
          st.get(l) match {
            case Some((Some(flo), Some(fhi))) => flo <= hi && fhi >= lo
            case _ => true // unknown or null-keyed file: cannot prune
          }
        }
      }
    })
    pruned match {
      case Some(df) => df.where(col(orderCol).between(lo, hi))
      case None =>
        // every file pruned: an empty frame with the committed schema —
        // read the lake's schema without scanning data rows
        readCompacted(spark, outDir).where(lit(false))
          .where(col(orderCol).between(lo, hi))
    }
  }

  private case class ManifestFiles(
      stats: Option[Map[String, (Option[Long], Option[Long])]])

  /** Resolve every commit manifest under `outDir` (ONLY manifest-listed
    * files are read — a crashed run's orphans stay invisible, the
    * connector-reader contract), let `select` narrow each manifest's
    * file list given its stats sidecar, and union the reads; the hidden
    * data dir is each read's basePath so the (partCol, bin) directory
    * encoding comes back as columns. Returns None when `select` drops
    * every file of every manifest. */
  private def readManifests(spark: SparkSession, outDir: String,
      select: (ManifestFiles, List[String]) => List[String])
      : Option[DataFrame] = {
    val target = new Path(outDir)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val manifests = fs.listStatus(target).map(_.getPath.getName)
      .filter(n => n.startsWith("commit-") && n.endsWith(".manifest"))
      .sorted
    require(manifests.nonEmpty, s"no commit manifest under $outDir")
    val frames = manifests.toSeq.flatMap { m =>
      val in = fs.open(new Path(target, m))
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toList
        finally in.close()
      require(lines.nonEmpty, s"empty manifest $m under $outDir")
      val statsPath = new Path(target,
        m.stripSuffix(".manifest") + ".stats")
      val stats = if (!fs.exists(statsPath)) None else Some {
        val sin = fs.open(statsPath)
        try scala.io.Source.fromInputStream(sin, "UTF-8").getLines()
          .filter(_.nonEmpty).map { l =>
            val Array(rp, slo, shi) = l.split("\t", 3)
            def num(s: String): Option[Long] =
              if (s == "null") None else Some(s.toLong)
            rp -> ((num(slo), num(shi)))
          }.toMap
        finally sin.close()
      }
      val kept = select(ManifestFiles(stats), lines)
      if (kept.isEmpty) None
      else {
        // every line is _data-<qid>/<part dirs>/<file>; the shared data
        // dir is the basePath that turns the dir encoding into columns
        val dataDirName = lines.head.takeWhile(_ != '/')
        val basePath = new Path(target, dataDirName).toString
        Some(spark.read.option("basePath", basePath)
          .parquet(kept.map(l => new Path(target, l).toString): _*))
      }
    }
    frames.reduceOption(_ unionByName _)
  }
}
