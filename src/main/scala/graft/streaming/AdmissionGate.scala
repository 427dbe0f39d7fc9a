package graft.streaming

import graft.dedup.Dedup
import graft.text.TextAnalysis
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming near-duplicate ADMISSION GATE — the 100 TB ingestion shape
  * the batch dedup ladder (q57-q59) feeds into: documents arrive as a
  * stream and each micro-batch is admitted/rejected against the
  * ACCUMULATED corpus, so the curated corpus never contains a document
  * that duplicates anything that arrived before it.
  *
  * Two gates, both mirrored exactly by the batch oracle (q267):
  *
  *   1. EXACT gate: a document whose full text already arrived (in an
  *      earlier batch, or under a smaller id in the SAME batch) is
  *      rejected. This is the `min(doc_id) per text` collapse of the
  *      batch pipeline (q58's `uniq` CTE), applied incrementally.
  *   2. NEAR-DUP gate: exact-gate survivors are MinHash-banded
  *      (poly-hash family — every ingredient oracle-expressible) and
  *      probed against the accumulated BAND-POSTINGS state; co-bucket
  *      candidates are verified with exact Jaccard, and a new document
  *      scoring >= `minJaccard` against ANY earlier exact-survivor is
  *      rejected. The posting state accumulates every exact-survivor
  *      (admitted or near-rejected — matching the batch answer, where
  *      candidates are generated over all collapsed docs), so the final
  *      admitted set equals the batch q58(uncapped)->q59->drop-larger
  *      answer on the same data: a doc is admitted iff it has no
  *      verified pair with a smaller-id exact-survivor.
  *
  * State layout (r15 VERDICT missing #2 — the 100 TB shapes, not the
  * replay conveniences). Each access pattern gets its OWN bucketing,
  * because each is keyed differently:
  *
  *   - `<out>.docs/bid=<batch>/tb=<text bucket>/` — the exact gate's
  *     index: (doc_id, text, text_fp = xxhash64(text)), bucketed by
  *     the text hash the gate probes with.
  *   - `<out>.sh/bid=<batch>/ib=<id bucket>/` — the verification
  *     shingle store: (doc_id, sg = the SORTED shingle array,
  *     materialized ONCE at admission), bucketed by doc_id — the key
  *     candidate pairs look partners up by.
  *   - `<out>.bands/bid=<batch>/bb=<key bucket>/` — the LSH posting
  *     index: (band, band_key, doc_id), bucketed by a hash of the
  *     posting key the probe joins on.
  *   - `<out>/bid=<batch>/` — the admitted doc_ids.
  *
  * Three scale properties fall out:
  *
  *   - The exact gate anti-joins on `(tb, text_fp)` — fixed-width
  *     integers as the shuffle key — with full-text equality verified
  *     only on hash-matched rows (a join FILTER, never a key), instead
  *     of shuffling raw document text against the whole corpus.
  *   - Every state read PRUNES AT THE FILE LISTING: a batch collects
  *     its own bucket sets (each a subset of a FIXED bucket domain —
  *     bounded driver-side metadata, the IVF-centroid budget) and reads
  *     only the matching `tb=`/`ib=`/`bb=` partition directories.
  *     Per-batch probe IO therefore tracks (batch bucket footprint) ×
  *     (corpus ÷ buckets), not corpus size; the bucket counts are THE
  *     sizing knob — grow them with the corpus and per-batch cost
  *     stays flat (Scratch's `agprobe` measures exactly this). The
  *     residual growth term is file COUNT (one file per bucket per
  *     batch — metadata, not scanned data); in production the bid=
  *     generations fold into snapshot tables on the
  *     [[graft.operators.Compaction]] cadence, exactly like the
  *     connector's partitioned sinks.
  *   - Verification reads MATERIALIZED sorted shingle arrays from
  *     `.sh` — the corpus is tokenized exactly once, at admission,
  *     never re-shingled per batch.
  *
  * Idempotence (r15 ADVICE): every write is an OVERWRITE of the batch's
  * own `bid=<batchId>` subdirectory, and every state read filters
  * `bid < batchId` — a foreachBatch retry after a partial failure
  * re-reads exactly the pre-batch state (its own partial output is
  * excluded by the filter, invisible even if present on disk) and
  * overwrites its own subdirs, so replayed batches converge instead of
  * double-admitting. This is the same batchId-keyed discipline as
  * the partitioned [[RealtimeStream.merge]], adapted to append-shaped
  * state. */
object AdmissionGate {

  /** Process one micro-batch of (doc_id, text): write admitted doc_ids
    * under `outDir/bid=<batchId>`, and fold the batch's exact-survivors
    * into the gate state. Batches must arrive in ascending doc_id
    * slices (the replay contract) so "earlier" and "smaller id"
    * coincide — both gates and the oracle order by doc_id.
    *
    * Buckets bound FILE PRUNING only — admission semantics are
    * bucket-count-independent (each bucket is a pure function of the
    * key being joined, computed identically on both sides). */
  def admitBatch(batch: DataFrame, outDir: String, batchId: Long,
                 numHashes: Int = 64, bands: Int = 16,
                 minJaccard: Double = 0.5,
                 docBuckets: Int = 16, bandBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    val docsDir = outDir + ".docs"
    val shDir = outDir + ".sh"
    val bandsDir = outDir + ".bands"
    val b0 = batch.select(col("doc_id"), col("text"))
    // Driver round-trips are the gate's per-batch floor at replay scale
    // (guide §1/§2.6): each standalone `.distinct().collect()` bucket
    // probe was one extra job per batch. The bucket sets now ride the
    // frames' own materialization as OBSERVED metrics (collect_set over
    // the bucket column), so the eager checkpoint job computes them for
    // free and the collect()s disappear.
    def bucketSet(obs: org.apache.spark.sql.Observation): Seq[Int] =
      obs.get("bs") match {
        case s: scala.collection.Seq[_] =>
          s.map(_.asInstanceOf[Number].intValue()).toSeq
        case null => Nil
      }
    // within-batch exact collapse: first (min-id) doc of each text.
    // Checkpointed eagerly: the collapse feeds BOTH the bucket probe and
    // the anti-join below — uncheckpointed it was recomputed per
    // consumer (one extra groupBy per batch).
    val repsObs = new org.apache.spark.sql.Observation()
    val reps = b0.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"),
        xxhash64(col("text")).as("text_fp"))
      .withColumn("tb", pmod(col("text_fp"), lit(docBuckets.toLong))
        .cast("int"))
      .observe(repsObs, collect_set(col("tb")).as("bs"))
      .localCheckpoint(true)
    // cross-batch exact gate, hash-keyed and file-pruned
    val tbs = bucketSet(repsObs)
    val seenDocs = prunedState(spark, docsDir, "tb", tbs, batchId,
      reps.limit(0))
    val survivors = reps.join(
        seenDocs.select(col("tb").as("__tb"), col("text_fp").as("__fp"),
          col("text").as("__t")),
        col("tb") === col("__tb") && col("text_fp") === col("__fp") &&
          col("text") === col("__t"), "left_anti")
      // materialize the sorted shingle array ONCE — banding, jaccard
      // verification, and the .sh state all read this column
      .withColumn("sg", array_sort(TextAnalysis.bigramShingles(
        TextAnalysis.tokens(col("text")))))
      .withColumn("ib", pmod(col("doc_id"), lit(docBuckets.toLong))
        .cast("int"))
      // one in-memory copy per batch: survivors feed banding, candidate
      // probing, verification, AND three state writes — recomputing the
      // anti-join per consumer would re-probe the docs state
      .localCheckpoint(true)
    val rows = numHashes / bands
    val bandsObs = new org.apache.spark.sql.Observation()
    val newBands = survivors
      .where(size(col("sg")) > 0)
      .select(col("doc_id"),
        Dedup.polyMinhashSignature(col("sg"), numHashes).as("sig"))
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          slice(col("sig"), b * rows + 1, rows)): _*)))
      .select(col("pos").as("band"), col("col").as("band_key"),
        col("doc_id"))
      .withColumn("bb",
        pmod(xxhash64(col("band"), col("band_key")), lit(bandBuckets.toLong))
          .cast("int"))
      .observe(bandsObs, collect_set(col("bb")).as("bs"))
      .localCheckpoint(true)
    // posting probe, pruned to the batch's own band-key buckets
    val bbs = bucketSet(bandsObs)
    val seenBands = prunedState(spark, bandsDir, "bb", bbs, batchId,
      newBands.limit(0))
    // candidates: new-vs-corpus probes of the posting index, plus
    // new-vs-new co-bucket pairs; id_a < id_b is structural (id-ordered
    // slices) and kept as an explicit guard so the oracle equality is
    // literal, not an unchecked invariant
    val cross = seenBands
      .select(col("band"), col("band_key"), col("doc_id").as("id_a"))
      .join(newBands
        .select(col("band"), col("band_key"), col("doc_id").as("id_b")),
        Seq("band", "band_key"))
    val within = newBands
      .select(col("band"), col("band_key"), col("doc_id").as("id_a"))
      .join(newBands
        .select(col("band"), col("band_key"), col("doc_id").as("id_b")),
        Seq("band", "band_key"))
    val candObs = new org.apache.spark.sql.Observation()
    val cand = cross.unionByName(within)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .observe(candObs, collect_set(
        pmod(col("id_a"), lit(docBuckets.toLong)).cast("int")).as("bs"))
      // cand feeds the partner-bucket probe AND the verification join
      .localCheckpoint(true)
    // exact-Jaccard verification over MATERIALIZED shingle arrays: the
    // id_b side is always a current-batch survivor; the id_a side may
    // be an earlier admission — fetched from the id-bucketed .sh state,
    // pruned to the candidate partners' id buckets (again ⊆ a fixed
    // domain). Same merge-walk kernel and formula as
    // Dedup.jaccardOnPairs, minus its per-batch corpus re-shingling.
    val ibs = bucketSet(candObs)
    val shState = prunedState(spark, shDir, "ib", ibs, batchId,
      survivors.select("doc_id", "sg", "ib").limit(0))
    val shA = shState.select(col("doc_id").as("id_a"), col("sg").as("sg_a"))
      .unionByName(
        survivors.select(col("doc_id").as("id_a"), col("sg").as("sg_a")))
    val shB = survivors.select(col("doc_id").as("id_b"), col("sg").as("sg_b"))
    val rejected = cand
      .join(shA, "id_a").join(shB, "id_b")
      .withColumn("__inter",
        graft.expressions.SortedIntersectCount
          .sortedIntersect(col("sg_a"), col("sg_b")).cast("double"))
      .where(try_divide(col("__inter"),
          (size(col("sg_a")) + size(col("sg_b"))).cast("double") -
            col("__inter")) >= minJaccard)
      .select(col("id_b").as("doc_id")).distinct()
    // The four per-batch outputs are independent (each reads only the
    // eagerly checkpointed frames above) — submit them CONCURRENTLY
    // (guide §2.6 overlap independent jobs) so one batch pays one write
    // latency, not four in sequence. All four are awaited before the
    // first failure is rethrown: rethrowing at the first failed await
    // would let the other writes run on while the batch is retried, and
    // a retry would race a still-running overwrite of its own bid=N.
    // State grows by the batch's exact-survivors ONLY — including the
    // near-rejected ones, which still index the corpus for later probes.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writes = Seq(
      Future(writeBid(survivors.join(rejected, Seq("doc_id"), "left_anti")
        .select(col("doc_id")), outDir, batchId, None)),
      Future(writeBid(survivors.select("doc_id", "text", "text_fp", "tb"),
        docsDir, batchId, Some("tb" -> docBuckets))),
      Future(writeBid(survivors.select("doc_id", "sg", "ib"),
        shDir, batchId, Some("ib" -> docBuckets))),
      Future(writeBid(newBands.select("band", "band_key", "doc_id", "bb"),
        bandsDir, batchId, Some("bb" -> bandBuckets))))
    writes.map(Await.ready(_, Duration.Inf).value.get).foreach(_.get)
  }

  /** Read a state directory pruned to `buckets` of `bucketCol` and to
    * batches BEFORE `batchId`. The pruning IS the file listing: the
    * reader is handed exactly the matching `bid=N/bucket=K` directories
    * (enumerated driver-side — #prior-batches × #buckets existence
    * probes, bounded metadata), so non-matching buckets are never
    * listed, never discovered, never scanned — and the per-batch plan
    * keeps one stable shape instead of a fresh bucket-literal filter to
    * re-codegen every batch. `empty` supplies the schema when no state
    * exists yet. */
  private[streaming] def prunedState(spark: SparkSession, dir: String,
      bucketCol: String, buckets: Seq[Int], batchId: Long,
      empty: DataFrame): DataFrame = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    if (buckets.isEmpty || !fs.exists(new Path(dir))) return empty
    val bidDirs = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("bid=") &&
          n.stripPrefix("bid=").toLongOption.exists(_ < batchId)
      }
    val paths = for {
      b <- bidDirs.toSeq
      k <- buckets
      p = new Path(b, s"$bucketCol=$k") if fs.exists(p)
    } yield p.toString
    if (paths.isEmpty) empty
    else spark.read.option("basePath", dir).parquet(paths: _*).drop("bid")
  }

  /** Overwrite `dir/bid=<batchId>` with `df` — the idempotent
    * batch-retry discipline: a replayed batch replaces its own subdir.
    * With a `(bucketCol, nBuckets)`, rows are hash-clustered into one
    * file per populated bucket, at a write parallelism pinned to the
    * bucket count (NOT the session's shuffle partitions — the replay
    * harness runs at 4, which would serialize the per-bucket parquet
    * writers; a plain `coalesce` would likewise collapse the upstream
    * compute into the write's parallelism, which is why the single-file
    * case uses a post-shuffle repartition(1) instead). */
  private def writeBid(df: DataFrame, dir: String, batchId: Long,
                       bucket: Option[(String, Int)]): Unit = {
    val w = bucket match {
      case Some((c, n)) =>
        df.repartition(n, col(c)).write.partitionBy(c)
      case None => df.repartition(1).write
    }
    w.mode("overwrite").parquet(s"$dir/bid=$batchId")
  }
}
