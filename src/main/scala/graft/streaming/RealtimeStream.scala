package graft.streaming

import graft.operators.Upsert
import graft.pipelines.Realtime
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType,
  StructField, StructType, TimestampType}

/** §2.9 — the reference's realtime path as Structured Streaming. The
  * reference hand-rolls a micro-batch stream: cron fires every minute,
  * each run decodes the feed and upserts rows by the 4-column key
  * (reference/README.md:172-178, scripts/realtime_extractor.py:191-236).
  * Here the same semantics are a `writeStream.foreachBatch` running the
  * S9 set-oriented merge per micro-batch — the idiomatic mapping SURVEY.md
  * §2.9 prescribes. No watermark: the reference accepts arbitrarily late
  * updates (its upsert has no time bound), and state lives in the keyed
  * snapshot, not in stream memory.
  *
  * One [[merge]] serves both snapshot layouts, parquet-without-ACID.
  * Whole-snapshot (`partitionCol` None): merge into a `.next` directory
  * and swap — crash-atomic, but O(snapshot) write amplification per
  * batch. Partitioned (`Some(keyCol)`): rewrite only the partitions the
  * batch touches — the 100 TB shape. With a table format (Delta/Iceberg)
  * both collapse to a MERGE.
  */
object RealtimeStream {

  /** Resolve the readable snapshot for `targetPath`: the live directory,
    * or — when a crash hit [[promote]] between its two renames — the
    * `.old` directory that rename had just retired. Readers and the next
    * merge both recover through this, so the one-rename crash window
    * never loses the snapshot. */
  def snapshotPath(fs: FileSystem, targetPath: String): Option[Path] = {
    val tgt = new Path(targetPath)
    val old = new Path(targetPath + ".old")
    if (fs.exists(tgt)) Some(tgt)
    else if (fs.exists(old)) Some(old)
    else None
  }

  /** The parquet data files directly under `dir` (no `_SUCCESS`, no
    * hidden `.crc`). */
  private def dataFiles(fs: FileSystem, dir: Path): Array[FileStatus] =
    fs.listStatus(dir).filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))

  /** Check every file's parquet footer against `schema` on the driver —
    * no Spark job. A pinned-schema parquet read would turn a column the
    * files lack into NULLs (and drop one they add), so any drift fails
    * the batch here instead, naming the file and the columns. */
  private def checkFooters(spark: SparkSession, files: Seq[FileStatus],
                           schema: StructType): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    files.foreach { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      val found = try ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, reader.getFooter), converter)
      finally reader.close()
      val have = found.fields.map(f => f.name -> f.dataType).toMap
      val missing = schema.fieldNames.filterNot(have.contains)
      val extra = found.fieldNames.filterNot(schema.fieldNames.contains)
      val retyped = schema.fields.collect { case f if have.get(f.name)
          .exists(h => !DataType.equalsStructurally(h, f.dataType,
            ignoreNullability = true)) =>
        s"${f.name}: ${have(f.name).simpleString} " +
          s"(expected ${f.dataType.simpleString})" }
      if (missing.nonEmpty || extra.nonEmpty || retyped.nonEmpty)
        throw new IllegalStateException(s"snapshot schema drift in " +
          s"${st.getPath}: missing [${missing.mkString(", ")}], " +
          s"unexpected [${extra.mkString(", ")}], " +
          s"retyped [${retyped.mkString(", ")}]")
    }
  }

  /** Read the snapshot directory `dir` with `schema` pinned, so the read
    * starts no schema-inference job, after [[checkFooters]] over its
    * files. */
  def readSnapshot(spark: SparkSession, fs: FileSystem, dir: Path,
                   schema: StructType): DataFrame = {
    checkFooters(spark, dataFiles(fs, dir).toSeq, schema)
    spark.read.schema(schema).parquet(dir.toString)
  }

  /** Crash-atomic promote of the `.next` snapshot: retire the live dir to
    * `.old` (one rename), then promote `.next` (one rename). There is no
    * instant with zero readable snapshots — a crash between the renames
    * leaves `.old`, which [[snapshotPath]] resolves; the previous
    * delete-then-rename shape had a window that lost the live copy. */
  private def promote(fs: FileSystem, targetPath: String): Unit = {
    val tgt = new Path(targetPath)
    val next = new Path(targetPath + ".next")
    val old = new Path(targetPath + ".old")
    // Hadoop rename reports failure by RETURNING false — require() it, or
    // a failed promote would silently leave the snapshot stale.
    if (fs.exists(tgt)) {
      fs.delete(old, true) // stale fallback from an earlier completed swap
      require(fs.rename(tgt, old), s"failed to retire $tgt to $old")
      require(fs.rename(next, tgt), s"failed to promote $next to $tgt")
    } else {
      // Recovering from a crash that hit between the renames above: `.old`
      // is the live snapshot (already merged into `.next`), so promote
      // first and only then drop the fallback — never delete the last
      // readable copy before its replacement is in place.
      require(fs.rename(next, tgt), s"failed to promote $next to $tgt")
      fs.delete(old, true)
    }
  }

  /** Compact the snapshot into ~`targetFileBytes` parquet files — the
    * small-files maintenance every continuously-merged parquet directory
    * needs (each micro-batch swap writes shuffle-partition-many files;
    * after days of one-minute ticks a naive reader opens thousands).
    * Rewrites through the same crash-atomic promote as the merges, so
    * compaction can race a crash without losing the snapshot. */
  def compactSnapshot(spark: SparkSession, targetPath: String,
                      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = new Path(targetPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    snapshotPath(fs, targetPath).foreach { cur =>
      val bytes = fs.getContentSummary(cur).getLength
      val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      // coalesce, not repartition: compaction only GLUES input splits —
      // a full shuffle of the snapshot buys nothing but network
      spark.read.parquet(cur.toString)
        .coalesce(nFiles.toInt)
        .write.mode("overwrite").parquet(targetPath + ".next")
      promote(fs, targetPath)
    }
  }

  /** Partition-pruned snapshot read: only partition directories whose
    * `partitionCol` value is in `values` are listed and scanned — the
    * predicate lands in the scan's PartitionFilters, never a row-level
    * Filter over the full snapshot (PartitionedMergeSpec pins that).
    * Those directories' files first pass [[checkFooters]] (the partition
    * column lives in the directory name, not the files), so the check is
    * O(touched partitions), never O(snapshot). `schema` pins the
    * partition column's TYPE (directory-name inference would e.g. read a
    * yyyyMMdd string partition back as INT), and the final select pins
    * column ORDER (a partitioned read always emits partition columns
    * last, regardless of the user schema's order — which would break
    * [[Upsert.upsert]]'s schema-equality contract). */
  def readTouchedPartitions(spark: SparkSession, targetPath: String,
                            schema: StructType, partitionCol: String,
                            values: Seq[Any]): DataFrame = {
    val fs = new Path(targetPath).getFileSystem(spark.sessionState.newHadoopConf())
    // the writer's own directory naming: the value cast to string in the
    // session time zone, escaped, NULL as Hive's default partition
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val partType = schema(partitionCol).dataType
    val dirs = values.map { v =>
      val str = Cast(Literal.create(v, partType), StringType, tz).eval()
      new Path(targetPath, ExternalCatalogUtils.getPartitionPathString(
        partitionCol, Option(str).map(_.toString).orNull))
    }
    checkFooters(spark, dirs.filter(fs.exists).flatMap(dataFiles(fs, _)),
      StructType(schema.filterNot(_.name == partitionCol)))
    // NULL partition values land in Hive's default partition; `isin`
    // would silently never match them (SQL null semantics), losing every
    // previously-stored NULL-keyed row when its partition is overwritten
    // — prune with an explicit isNull disjunct instead
    val nonNull = values.filter(_ != null)
    val base = col(partitionCol).isInCollection(nonNull)
    val pred =
      if (values.exists(_ == null))
        if (nonNull.isEmpty) col(partitionCol).isNull
        else base || col(partitionCol).isNull
      else base
    spark.read.schema(schema).parquet(targetPath)
      .where(pred)
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** The S9 merge of one micro-batch into the snapshot at `targetPath`:
    * [[Upsert.upsert]] into the current snapshot, or into none on the
    * first batch; among repeated keys the row ranked highest by `order`
    * wins (a stored column, or e.g. the E1 feed's within-feed position).
    *
    * `partitionCol` None: read the snapshot through [[readSnapshot]],
    * write the merge to `.next`, then [[promote]] it. Writing `.next`
    * executes the plan (including the snapshot read) before the swap
    * touches the live directory.
    *
    * `partitionCol` Some(p): the snapshot is stored partitioned by `p` (a
    * KEY column, so a key can never migrate between partitions). The
    * batch's distinct `p` values are collected (bounded: a 1-minute GTFS
    * batch spans a handful of service dates), ONLY those partitions are
    * read ([[readTouchedPartitions]]), and exactly they are dynamic-
    * partition-overwritten: write amplification is O(touched partitions),
    * not O(snapshot). The merged rows stage through `targetPath +
    * ".stage"` — Spark (correctly) refuses a write whose plan reads the
    * output path, and the staged copy also bounds the crash window: a
    * crash before the final overwrite leaves the live snapshot untouched;
    * a crash DURING it can leave a touched partition half-committed (the
    * known dynamic-overwrite granularity — a table format's metadata
    * commit is the production fix), or deleted outright. The streaming
    * checkpoint then replays the batch, and the idempotent merge
    * (newest-per-key resolution + change-predicated upsert) restores the
    * rows that batch carries. It does NOT restore the partition's other
    * stored rows: the replay reads the damaged partition as its target
    * and overwrites `.stage`, the last copy of the merged rows (ROADMAP
    * item 9). Only the whole-snapshot layout's promote recovers fully. */
  def merge(updates: DataFrame, targetPath: String, keys: Seq[String],
            compareCols: Seq[String], createdCol: Option[String],
            order: Column, partitionCol: Option[String]): Unit = {
    val spark = updates.sparkSession
    val fs = new Path(targetPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def upsertInto(target: Option[DataFrame]): DataFrame =
      Upsert.upsert(target, updates, keys, compareCols, createdCol, Some(order))
    partitionCol match {
      case None =>
        upsertInto(snapshotPath(fs, targetPath)
            .map(readSnapshot(spark, fs, _, updates.schema)))
          .write.mode("overwrite").parquet(targetPath + ".next")
        promote(fs, targetPath)
      case Some(p) =>
        require(keys.contains(p),
          s"partitionCol $p must be a key column — a non-key partition " +
            "column could change under a key, stranding the old row in a " +
            "partition the merge never reads")
        if (!fs.exists(new Path(targetPath))) {
          // bootstrap: first batch becomes the snapshot (idempotent on replay)
          upsertInto(None).write.mode("overwrite").partitionBy(p)
            .parquet(targetPath)
        } else {
          val touched = updates.select(col(p)).distinct()
            .collect().map(_.get(0)).toSeq
          if (touched.nonEmpty) { // an empty batch has nothing to merge
            val stage = targetPath + ".stage"
            upsertInto(Some(readTouchedPartitions(spark, targetPath,
                updates.schema, p, touched)))
              .write.mode("overwrite").parquet(stage)
            spark.read.schema(updates.schema).parquet(stage)
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy(p)
              .parquet(targetPath)
            fs.delete(new Path(stage), true)
          }
        }
    }
  }

  /** Per-partition compaction for partitioned [[merge]] snapshots —
    * [[compactSnapshot]]'s whole-snapshot rewrite has the same O(snapshot)
    * cost ceiling the partitioned merge exists to avoid. This one lists
    * partition directories (driver-side, bounded by the partition count),
    * selects only those fragmented past `targetFileBytes`-sized files, and
    * rewrites JUST those in one job: rows co-locate per partition and the
    * WRITER splits each partition's output at `maxRecordsPerFile` (sized
    * from the observed bytes/row), so each rewritten partition lands in
    * ~ceil(bytes / targetFileBytes) files. The split lives in the writer,
    * not the shuffle — a hash-slice repartition would be silently merged
    * by AQE's partition coalescing on small inputs (found by
    * PartitionedMergeSpec) and can collide slices of one partition into
    * oversized files. Untouched partitions' files are never opened. In
    * steady state only recent partitions fragment (old service dates stop
    * receiving merges), so each maintenance run is O(active dates). */
  def compactSnapshotPartitioned(spark: SparkSession, targetPath: String,
                                 partitionCol: String,
                                 targetFileBytes: Long = 128L * 1024 * 1024)
      : Unit = {
    val tgt = new Path(targetPath)
    val fs = tgt.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(tgt)) return
    val partDirs = fs.listStatus(tgt)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
    val fragmented = partDirs.flatMap { p =>
      val files = dataFiles(fs, p.getPath)
      val bytes = files.map(_.getLen).sum
      val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      if (files.length > want) Some((p.getPath, bytes)) else None
    }
    if (fragmented.isEmpty) return
    // basePath keeps the partition column while reading only the
    // fragmented directories — no partition-value string decoding
    val df = spark.read.option("basePath", targetPath)
      .parquet(fragmented.toIndexedSeq.map(_._1.toString): _*)
    val stage = targetPath + ".compact-stage"
    df.write.mode("overwrite").parquet(stage) // break the read-write cycle
    val staged = spark.read.parquet(stage)
    // rows-per-file from the OBSERVED compressed bytes/row, so the writer
    // cuts ~targetFileBytes files in on-disk terms
    val totalBytes = math.max(1L, fragmented.map(_._2).sum)
    val totalRows = staged.count()
    val rowsPerFile = math.max(1L,
      (targetFileBytes * totalRows + totalBytes - 1) / totalBytes)
    staged.repartition(col(partitionCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", rowsPerFile)
      .partitionBy(partitionCol)
      .parquet(targetPath)
    fs.delete(new Path(stage), true)
  }

  /** The reference's cron loop as an actual stream: watch a directory of
    * fetched `.pb` feed files (the S1 fetcher's drop zone — or any
    * binary-file landing path) and run E1 per micro-batch: decode +
    * flatten + enrich into [[Realtime.observations]], then [[merge]] with
    * the latest entity per key by feed order — one shuffle and the write.
    * `weatherJson` is re-read per batch via the supplied thunk, matching
    * the reference's slowly-refreshed side input (SURVEY.md §2.9).
    * `partitionSnapshot` selects the layout: true stores the snapshot
    * partitioned by start_date (O(touched dates) per batch; entities
    * without a start_date land in the NULL partition, which the pruned
    * read covers); false keeps the whole-snapshot swap. */
  def startFeedStream(spark: SparkSession, feedDir: String,
                      targetPath: String, checkpointDir: String,
                      weatherJson: () => Option[String],
                      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
                      partitionSnapshot: Boolean = false)
      : StreamingQuery = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val payloads = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .load(feedDir)
    payloads.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        merge(Realtime.observations(
            onSession(spark, batch).select("content").as[Array[Byte]],
            weatherJson()), targetPath, Realtime.keys, Realtime.compareCols,
          Realtime.createdCol, monotonically_increasing_id(),
          if (partitionSnapshot) Some("start_date") else None)
      }
      .start()
  }

  /** binaryFile's fixed schema (a streaming source needs it up front),
    * built as a value so starting a stream parses no DDL. */
  private val binaryFileSchema = StructType(Seq(
    StructField("path", StringType), StructField("modificationTime", TimestampType),
    StructField("length", LongType), StructField("content", BinaryType)))

  /** `batch` — a micro-batch handed to `foreachBatch` — re-wrapped in
    * `spark`, the session that started the stream. Each stream start
    * clones its session, and the clone brings a new artifact class
    * loader, which is part of `CodeGenerator`'s cache key: a merge run on
    * the batch's own session compiles its generated classes again on
    * every start. On the starting session they stay cached across starts.
    * The batch's plan is a `LogicalRDD` over the already-planned source
    * scan, so only the merge above it moves. */
  private def onSession(spark: SparkSession, batch: DataFrame): DataFrame =
    Bridge.dataset(spark, Bridge.logicalPlan(batch))

  /** Start the streaming upsert: every micro-batch of realtime rows is
    * [[merge]]d into the keyed parquet snapshot, the newest `orderCol` row
    * winning among repeated keys. `stream` must be a streaming DataFrame
    * (e.g. rows decoded from fetched feeds). `partitionCol` selects the
    * layout: `Some(keyCol)` partitions the snapshot by that key column
    * (O(touched partitions) per batch — the production shape;
    * `start_date` is the natural choice for the GTFS snapshot); `None`
    * keeps the whole-snapshot crash-atomic swap (fine for small
    * snapshots, fatal write amplification at 100 TB). */
  def start(stream: DataFrame, targetPath: String, checkpointDir: String,
            keys: Seq[String], compareCols: Seq[String], orderCol: String,
            createdCol: Option[String] = None,
            trigger: Trigger = Trigger.ProcessingTime("1 minute"),
            partitionCol: Option[String] = None)
      : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        merge(onSession(stream.sparkSession, batch), targetPath, keys,
          compareCols, createdCol, col(orderCol), partitionCol)
      }
      .start()
}
