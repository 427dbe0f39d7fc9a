package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The compaction executor vs its plan: byte identity (every row
  * survives, nothing added), one physical file per planned bin,
  * clustering preservation (bin key ranges never overlap within a
  * partition — min/max pruning on the clustering key survives the
  * rewrite), manifest-gated visibility, and the committed-run guard. */
class CompactionSpec extends SparkSpec {

  private def freshDir(name: String): String = {
    val d = s"target/compaction_spec_$name"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  private def input = {
    import spark.implicits._
    // 3 partitions ('a','b','c') × 40 days, uneven per-day rows (1..13)
    // so bins pack unevenly; payload column rides along
    (for {
      pt <- Seq("a", "b", "c")
      day <- 1 to 40
      i <- 1 to (day % 13) + 1
    } yield (pt, day.toLong, s"$pt-$day-$i", day * 100L + i))
      .toDF("pt", "day", "payload", "v")
  }

  test("execute delivers the plan: every row survives byte-identically, " +
    "one file per bin, bin day-ranges contiguous and non-overlapping") {
    val out = freshDir("roundtrip")
    val df = input
    Compaction.execute(df, "pt", "day", targetRows = 25L, out, "spec1")
    val back = Compaction.readCompacted(spark, out)
    // byte identity: the full row multiset survives (bin is the only
    // added column)
    val before = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .groupBy(identity).map { case (k, v) => (k, v.length) }
    val after = back.select("pt", "day", "payload", "v").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .groupBy(identity).map { case (k, v) => (k, v.length) }
    assert(after === before)
    // one physical file per (pt, bin), matching the plan's bins exactly
    val files = back.groupBy(col("pt"), col("bin"))
      .agg(countDistinct(col("_metadata.file_path")).as("nf"),
        min("day").as("lo"), max("day").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1).toLong) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    files.foreach { case (k, (nf, _, _, _)) =>
      assert(nf === 1L, s"bin $k split across files")
    }
    val plan = Compaction.plan(
        df.groupBy(col("pt"), col("day")).agg(count(lit(1)).as("n_rows")),
        "pt", "day", 25L)
      .groupBy("pt", "bin")
      .agg(sum("n_rows").as("n"), min("day").as("lo"), max("day").as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(files.keySet === plan.keySet)
    files.foreach { case (k, (_, lo, hi, n)) =>
      assert((plan(k)._2, plan(k)._3, plan(k)._1) === ((lo, hi, n)), s"bin $k")
    }
    // clustering preserved: within a partition, bins tile the day axis
    // in bin order without overlap — file-level min/max pruning on day
    // keeps working after the rewrite
    files.keys.groupBy(_._1).foreach { case (pt, ks) =>
      val ordered = ks.toSeq.sortBy(_._2).map(files)
      ordered.sliding(2).foreach {
        case Seq((_, _, hi1, _), (_, lo2, _, _)) =>
          assert(hi1 < lo2, s"partition $pt: bin ranges overlap")
        case _ =>
      }
    }
  }

  test("visibility is manifest-gated: orphan parquet files in the data " +
    "dir are never read, and a committed run id refuses to re-commit") {
    val out = freshDir("manifest")
    val df = input
    Compaction.execute(df, "pt", "day", targetRows = 25L, out, "spec2")
    val n = Compaction.readCompacted(spark, out).count()
    // plant an orphan parquet file inside the committed data dir (a
    // crashed speculative task's leftover): readCompacted must not see it
    df.limit(7).write.mode("overwrite")
      .parquet(s"$out/_data-spec2/pt=a/bin=0/_orphan")
    assert(Compaction.readCompacted(spark, out).count() === n)
    // retry-of-a-committed-run guard
    val e = intercept[java.io.IOException] {
      Compaction.execute(df, "pt", "day", 25L, out, "spec2")
    }
    assert(e.getMessage.contains("already"))
  }

  test("single-writer lock is atomic, not check-then-act: an in-flight " +
    "(or crashed) run's lock refuses a same-runId writer BEFORE it can " +
    "touch the temp tree; a fresh runId proceeds") {
    val out = freshDir("lock")
    val outPath = new org.apache.hadoop.fs.Path(out)
    val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(outPath)
    // simulate the other writer having just won the create-exclusive
    fs.create(new org.apache.hadoop.fs.Path(out, "_lock-spec3"),
      false).close()
    val e = intercept[java.io.IOException] {
      Compaction.execute(input, "pt", "day", 25L, out, "spec3")
    }
    assert(e.getMessage.contains("exclusively"))
    // the loser touched NOTHING: no temp tree, no data dir, no manifest
    val leftovers = fs.listStatus(outPath).map(_.getPath.getName).toSet
    assert(leftovers === Set("_lock-spec3"), s"loser left $leftovers")
    // a fresh runId is the documented recovery path
    Compaction.execute(input, "pt", "day", 25L, out, "spec3b")
    assert(Compaction.readCompacted(spark, out).count() === input.count())
  }

  test("clustering-preserving bins CASH at read time: a narrow key-range " +
    "read plans over only the overlapping files (measured, not claimed), " +
    "and returns exactly the full read's matching rows") {
    val out = freshDir("prune")
    val df = input
    Compaction.execute(df, "pt", "day", targetRows = 25L, out, "spec4")
    val full = Compaction.readCompacted(spark, out)
    val totalFiles = full.inputFiles.length
    val (lo, hi) = (5L, 8L)
    val pruned = Compaction.readCompactedRange(spark, out, "day", lo, hi)
    val plannedFiles = pruned.inputFiles.length
    // the expected file count from the PLAN: bins whose [min,max] day
    // range overlaps [lo, hi] (one file per bin — pinned above)
    val overlapping = Compaction.plan(
        df.groupBy(col("pt"), col("day")).agg(count(lit(1)).as("n_rows")),
        "pt", "day", 25L)
      .groupBy("pt", "bin").agg(min("day").as("l"), max("day").as("h"))
      .where(col("l") <= hi && col("h") >= lo).count()
    assert(plannedFiles.toLong === overlapping,
      s"range read planned $plannedFiles files, plan says $overlapping")
    assert(plannedFiles < totalFiles,
      s"no pruning: $plannedFiles of $totalFiles files")
    // value identity with the unpruned spelling
    val expect = full.where(col("day").between(lo, hi))
      .select("pt", "day", "payload", "v").collect()
      .map(_.toString).sorted.toSeq
    val got = pruned.select("pt", "day", "payload", "v").collect()
      .map(_.toString).sorted.toSeq
    assert(got === expect)
    // a range beyond the data prunes EVERYTHING and still answers
    assert(Compaction.readCompactedRange(spark, out, "day",
      1000L, 2000L).count() === 0L)
  }

  test("string partition keys that need escaping (a space, '/', '=') and " +
    "a NULL key: every row is written, and the range sidecar records a " +
    "range for every non-null-keyed file") {
    import spark.implicits._
    val out = freshDir("escaped")
    val keys = Seq("a b", "x/y", "k=v", null)
    val df = (for {
      pt <- keys
      day <- 1 to 12
      i <- 1 to (day % 3) + 1
    } yield (pt, day.toLong, s"$pt-$day-$i")).toDF("pt", "day", "payload")
    Compaction.execute(df, "pt", "day", targetRows = 10L, out, "spec5")
    val back = Compaction.readCompacted(spark, out)
    assert(back.count() === df.count())
    // the data's own day range per (key, bin); a NULL key reads back NULL
    val actual = back
      .groupBy(col("pt"), col("bin")).agg(min("day"), max("day"))
      .collect().map(r => (Option(r.getString(0)), r.getInt(1).toLong) ->
        s"${r.getLong(2)}\t${r.getLong(3)}").toMap
    val stats = scala.io.Source.fromFile(s"$out/commit-spec5.stats", "UTF-8")
    val lines = try stats.getLines().filter(_.nonEmpty).toList
      finally stats.close()
    val byFile = lines.map { l =>
      val Array(rp, range) = l.split("\t", 2)
      val Array(_, ptDir, binDir, _) = rp.split('/')
      val key = ptDir.stripPrefix("pt=") match {
        case "__HIVE_DEFAULT_PARTITION__" => None
        case d => Some(org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(d))
      }
      (key, binDir.stripPrefix("bin=").toLong) -> range
    }
    assert(byFile.map(_._1).toSet === actual.keySet)
    assert(byFile.map(_._1._1).toSet === keys.map(Option(_)).toSet)
    byFile.foreach { case (k @ (key, _), range) =>
      if (key.isDefined)
        assert(range === actual(k), s"file of $k records range $range")
    }
  }
}
