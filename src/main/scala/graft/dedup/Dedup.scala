package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact content-hash
  * dedup, MinHash+LSH and SimHash near-dup candidate generation, and
  * exact n-gram Jaccard verification via a blocked inverted index.
  *
  * Scale design (the 100 TB contract of every operator here):
  *  - candidate generation never compares all pairs — the only O(B²) work
  *    is within an LSH bucket, and bucket size B is capped (skewed band
  *    values are dropped, with the drop count emitted as an observed
  *    metric) so no single reducer can blow up;
  *  - exact duplicates are collapsed to one representative BEFORE any LSH
  *    banding: n copies of one text would otherwise meet in every band and
  *    pair quadratically for nothing (exact dups are [[exactDupGroups]]'
  *    job, not LSH's);
  *  - wide payloads (signatures, shingle sets) never ride a shuffle that a
  *    key column can ride instead — the band join moves (band, band_hash,
  *    id) only, pairs are `distinct`-ed as bare id pairs, and signatures
  *    are re-attached afterwards by two slim id-keyed joins;
  *  - Jaccard verification is a posting-list (inverted-index) join: only
  *    pairs sharing at least one shingle are ever materialized, which is
  *    exact for any positive threshold.
  */
object Dedup {

  /** Exact dedup groups by SHA-256 content hash: one row per distinct
    * content with its duplicate count and the kept (minimum) id. */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** The deduplicated corpus itself — what a training pipeline actually
    * consumes downstream: every column of `docs`, restricted to the
    * minimum-id representative of each distinct content. A left-semi join
    * against the slim (hash-agg) keep-id set, so the full-width rows —
    * including the text — move at most once and only for survivors;
    * the window-function formulation (`row_number` over a hash partition)
    * would shuffle every copy of every document instead. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(
      exactDupGroups(docs, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** MinHash signature: component i is the min over shingles of
    * xxhash64(i, s). Deterministic (xxhash64 is seeded by the literal
    * int). The caller must ensure the shingle array is non-empty — an
    * empty array yields an all-MaxValue signature that would collide in
    * every band.
    *
    * Evaluated by the native codegen kernel
    * [[graft.expressions.MinHashSignature]] — higher-order functions
    * always run interpreted, and the per-(shingle × component) lambda
    * boxing was the dominant cost of every full-corpus signature pass.
    * Value-identical to [[minhashSignatureHof]] (parity-pinned by
    * SignatureKernelsSpec). */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.expressions.SignatureKernels.minhashSig(shingles, numHashes)

  /** Polynomial-family MinHash signature — [[minhashSignature]]'s
    * oracle-expressible sibling: component j is the min over shingles of
    * (a_j * charPolyHash(s) + b_j) mod 1e9+7, every ingredient of which
    * has an exact DuckDB mirror ([[graft.expressions.PolyMinHash]]). Use
    * when end-to-end hash-checkability of the signatures and the banding
    * built on them matters more than xxhash64's wider 64-bit hash space. */
  def polyMinhashSignature(shingles: Column, numHashes: Int): Column =
    graft.expressions.SignatureKernels.polyMinhashSig(shingles, numHashes)

  /** The replaced single-pass HOF spelling of [[minhashSignature]], kept
    * as the executable specification the kernel is parity-tested against:
    * one `aggregate` carries a numHashes-slot min vector and traverses
    * the shingle array once. */
  private[graft] def minhashSignatureHof(shingles: Column, numHashes: Int): Column = {
    val seeds = typedLit((0 until numHashes).toList)
    aggregate(
      shingles,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(acc, seeds, (a, seed) => least(a, xxhash64(seed, s))))
  }

  /** MinHash LSH candidate pairs over distinct texts: split the signature
    * into `bands` bands of `numHashes/bands` rows, bucket-join ids sharing
    * any band hash, and estimate similarity as the matching fraction of
    * signature components. Returns (id_a, id_b, est_jaccard) with
    * id_a < id_b, distinct pairs, at exact-duplicate-representative level
    * (each distinct text is represented by its minimum id; pairs among
    * byte-identical copies are exact duplicates — [[exactDupGroups]]'
    * output — not near-dup candidates).
    *
    * Docs with fewer than 2 tokens have no shingles and cannot be
    * near-dups; they are dropped before signing (an empty shingle set
    * would produce an all-MaxValue signature that collides in every band).
    *
    * Buckets larger than `maxBucketSize` are dropped: a skewed band value
    * (e.g. templated corpora where many texts share a common prefix)
    * would otherwise put B² pair work on one reducer. The number of
    * dropped buckets/rows is emitted as the observed metric
    * "minhash_lsh" (visible to QueryExecutionListeners and the UI). The
    * driver finish always reports it; the distributed plan reports it
    * only when some bucket yields a candidate pair, because AQE replaces
    * an empty pair join, bucket stage included, by an empty relation.
    *
    * Two paths, the same rows, schema and observation:
    *
    *  - **Driver finish** — when the per-document rows (id, text_hash,
    *    signature, band keys) pass `Bridge.collectIfFits`: Catalyst's
    *    estimate for them passes the engine's shared driver-finish rule,
    *    `Bridge.fitsOnDriver` (within the session's
    *    `spark.sql.autoBroadcastJoinThreshold`), and so do the decoded
    *    rows as they are collected. One narrow job signs and keys every
    *    document, exact copies included, with no shuffle; the driver
    *    collapses exact duplicates to their minimum id, buckets by
    *    (band, key), applies the cap, emits the distinct pairs and
    *    scores them in the same doubles (`DriverFinish.bandedPairs`).
    *    The driver holds the collected rows, within the threshold (about
    *    0.7 KB per document at 64 hashes and 16 bands), plus one long per
    *    bucket pair. Catalyst sizes an array at one element, so the
    *    estimate sits well under those rows; a corpus whose rows pass the
    *    threshold stops its collect there (its tasks cap what they ship
    *    and the job is cancelled) and runs the distributed path, having
    *    spent at most about a threshold of signed rows per core. The
    *    result is a local relation. A NULL id, or one id on two texts,
    *    sends the input to the distributed path. Set the threshold to -1
    *    to turn the driver finish off.
    *  - **Distributed** — otherwise: the scale contract above, with the
    *    bucket counts and pairs as joins and aggregates. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 64, bands: Int = 16,
                            minEstSim: Double = 0.0,
                            maxBucketSize: Int = 200): DataFrame =
    bandedCandidatePairs(docs, idCol, textCol, numHashes, bands, minEstSim,
      maxBucketSize, metricName = "minhash_lsh",
      signature = minhashSignature(_, numHashes),
      // hash each band's slice to one long — signatures stay out of the
      // bucket shuffle and the pair join
      bandKey = (sig, b, rows) => xxhash64(lit(b), slice(sig, b * rows + 1, rows)))

  /** The shared banded-LSH candidate pipeline behind
    * [[minhashCandidatePairs]] and [[polyMinhashCandidatePairs]] — ONE
    * implementation of the scale contract (exact-dup collapse before
    * banding, key-only band shuffle, capped buckets with observed drops,
    * distinct-then-reattach scoring); the families differ only in the
    * signature expression and the band-bucket key. */
  private def bandedCandidatePairs(docs: DataFrame, idCol: String,
                                   textCol: String, numHashes: Int,
                                   bands: Int, minEstSim: Double,
                                   maxBucketSize: Int, metricName: String,
                                   signature: Column => Column,
                                   bandKey: (Column, Int, Int) => Column): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val spark = docs.sparkSession
    val shingled = docs
      .select(col(idCol).as("id"), sha2(col(textCol), 256).as("text_hash"),
        TextAnalysis.bigramShingles(TextAnalysis.tokens(col(textCol))).as("sh"))
      .where(size(col("sh")) > 0)
    // Collapse exact duplicates before signing (all copies share the
    // shingle set, so any_value is deterministic up to SHA-256 collision).
    val uniq = shingled.groupBy("text_hash")
      .agg(min(col("id")).as("id"), any_value(col("sh")).as("sh"))
    val sigs = uniq.select(col("id"), signature(col("sh")).as("sig"))
    val bandKeys =
      array((0 until bands).map(b => bandKey(col("sig"), b, rows)): _*)
    // Score distinct bare id pairs by re-attaching the two signatures via
    // slim id-keyed joins: the distributed path's output projection,
    // whose analyzed schema the driver finish also returns.
    def scored(pairs: DataFrame): DataFrame = {
      val sigA = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
      val sigB = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
      pairs.join(sigA, "id_a").join(sigB, "id_b")
        .select(col("id_a"), col("id_b"),
          (size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _),
            x => x)).cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
        .where(col("est_jaccard") >= minEstSim)
    }
    // Driver finish: one narrow job signs and keys every document
    // (duplicates included: the collapse needs no shuffle on the driver).
    val perDoc = shingled
      .select(col("id"), col("text_hash"), signature(col("sh")).as("sig"))
      .select(col("id"), col("text_hash"), col("sig"), bandKeys.as("keys"))
    val onDriver = Bridge.collectIfFits(perDoc).flatMap { collected =>
      val keyType = perDoc.schema("keys").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      DriverFinish.bandedPairs(collected, perDoc.schema("id").dataType,
        keyType, bands, numHashes, minEstSim, maxBucketSize)
    }.map { case (out, drops) =>
      val schema = // analysis only: runs no job
        scored(sigs.select(col("id").as("id_a"), col("id").as("id_b"))).schema
      Bridge.localFrame(spark, schema, out).observe(metricName,
        lit(drops._1).as("dropped_buckets"), lit(drops._2).as("dropped_rows"))
    }
    onDriver.getOrElse {
      // Band on (band, band_key, id) ONLY — signatures ride the bucket
      // shuffle only if the family's band key IS the slice itself.
      val banded = sigs.select(col("id"), posexplode(bandKeys))
        .select(col("pos").as("band"), col("col").as("band_key"), col("id"))
      // Cap pathological buckets. Count via map-side-combined groupBy
      // (never materializes a bucket's members in one task) and join back.
      val sizes = banded.groupBy("band", "band_key")
        .agg(count(lit(1)).as("__n"))
        .observe(metricName,
          sum(when(col("__n") > maxBucketSize, 1L).otherwise(0L)).as("dropped_buckets"),
          sum(when(col("__n") > maxBucketSize, col("__n")).otherwise(0L)).as("dropped_rows"))
      val kept = banded.join(sizes.where(col("__n") <= maxBucketSize),
        Seq("band", "band_key"))
      // Distinct bare id pairs first; only then re-attach the signatures
      // to score the (much smaller) candidate set.
      // (Per-side renames do NOT hurt exchange reuse: canonicalization
      // strips alias names, so both sides' shuffles already dedupe —
      // verified empirically against an alias-based spelling.)
      val a = kept.select(col("band"), col("band_key"), col("id").as("id_a"))
      val b = kept.select(col("band"), col("band_key"), col("id").as("id_b"))
      scored(a.join(b, Seq("band", "band_key"))
        .where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct())
    }
  }

  /** [[minhashCandidatePairs]] over the POLYNOMIAL hash family — the
    * end-to-end oracle-checkable LSH path: signatures are
    * [[polyMinhashSignature]], and the band key is the raw component
    * slice itself (an array<long> equi-join key both Spark and any SQL
    * engine can group and join on), so every stage — signature, banding,
    * bucket cap, candidate pairs, similarity estimate — has an exact
    * DuckDB mirror. Same scale contract as the xxhash64 path:
    * exact-dup collapse before banding, key-only band shuffle, capped
    * buckets with the observed drop metric ("poly_minhash_lsh"),
    * distinct-then-reattach scoring; and the same two paths, the driver
    * finish comparing the array band keys by their bytes as Spark's
    * join does. */
  def polyMinhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                                numHashes: Int = 64, bands: Int = 16,
                                minEstSim: Double = 0.0,
                                maxBucketSize: Int = 200): DataFrame =
    bandedCandidatePairs(docs, idCol, textCol, numHashes, bands, minEstSim,
      maxBucketSize, metricName = "poly_minhash_lsh",
      signature = polyMinhashSignature(_, numHashes),
      // the band key is the raw component slice — an array<long> both
      // Spark and the SQL oracle can group and join on (xxhash64 of the
      // slice would be engine-defined, losing the oracle)
      bandKey = (sig, b, rows) => slice(sig, b * rows + 1, rows))

  /** Incremental (batch-vs-corpus) near-dup candidates — the production
    * daily-ingest shape: score only the pairs with at least one NEW
    * document (batch×corpus and batch×batch), never re-deriving the
    * corpus×corpus pairs a previous run already emitted. At ingest scale
    * this is the difference between re-banding 100 TB nightly and
    * banding only the day's arrivals: the corpus side's signatures and
    * band keys are pure functions of the text, so a production deployment
    * materializes them once (they are this DAG's `side(corpus, 0)`
    * subtree verbatim) and the nightly run shuffles only batch bands
    * plus the corpus band keys they probe.
    *
    * Same scale contract and poly-hash family as
    * [[polyMinhashCandidatePairs]] (oracle-checkable end-to-end, q72):
    * exact-dup collapse — per SIDE, so a batch copy of a corpus text is
    * REPORTED (est_jaccard 1.0) rather than collapsed away — key-only
    * band shuffle, capped buckets over the union with observed drops
    * ("incr_poly_lsh"), distinct-then-reattach scoring. Caller must keep
    * the two id spaces disjoint. Output adds `is_cross` (1 = the pair
    * spans batch and corpus, 0 = both new). */
  def incrementalPolyMinhashPairs(corpus: DataFrame, batch: DataFrame,
                                  idCol: String, textCol: String,
                                  numHashes: Int = 64, bands: Int = 16,
                                  minEstSim: Double = 0.0,
                                  maxBucketSize: Int = 200): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    def side(docs: DataFrame, isNew: Int): DataFrame = {
      val shingled = docs
        .select(col(idCol).as("id"), sha2(col(textCol), 256).as("text_hash"),
          TextAnalysis.bigramShingles(TextAnalysis.tokens(col(textCol))).as("sh"))
        .where(size(col("sh")) > 0)
      shingled.groupBy("text_hash")
        .agg(min(col("id")).as("id"), any_value(col("sh")).as("sh"))
        .select(col("id"),
          polyMinhashSignature(col("sh"), numHashes).as("sig"),
          lit(isNew.toLong).as("is_new"))
    }
    val sigs = side(corpus, 0).unionByName(side(batch, 1))
    val banded = sigs.select(col("id"), col("is_new"),
        posexplode(array((0 until bands).map(b =>
          slice(col("sig"), b * rows + 1, rows)): _*)))
      .select(col("pos").as("band"), col("col").as("band_key"),
        col("id"), col("is_new"))
    val sizes = banded.groupBy("band", "band_key")
      .agg(count(lit(1)).as("__n"))
      .observe("incr_poly_lsh",
        sum(when(col("__n") > maxBucketSize, 1L).otherwise(0L))
          .as("dropped_buckets"),
        sum(when(col("__n") > maxBucketSize, col("__n")).otherwise(0L))
          .as("dropped_rows"))
    val kept = banded.join(sizes.where(col("__n") <= maxBucketSize),
      Seq("band", "band_key"))
    val a = kept.select(col("band"), col("band_key"),
      col("id").as("id_a"), col("is_new").as("new_a"))
    val b = kept.select(col("band"), col("band_key"),
      col("id").as("id_b"), col("is_new").as("new_b"))
    val pairs = a.join(b, Seq("band", "band_key"))
      .where(col("id_a") < col("id_b") &&
        (col("new_a") === 1L || col("new_b") === 1L))
      .select(col("id_a"), col("id_b"),
        (col("new_a") =!= col("new_b")).cast("long").as("is_cross"))
      .distinct()
    val sigA = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val sigB = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    pairs.join(sigA, "id_a").join(sigB, "id_b")
      .select(col("id_a"), col("id_b"), col("is_cross"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _),
          x => x)).cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstSim)
  }

  /** 64-bit SimHash over token hashes: bit j of the fingerprint is set when
    * the +1/-1 vote of all token-hash bits j sums positive. Evaluated by
    * the native codegen kernel [[graft.expressions.SimHash64]] — each
    * token is hashed once and voted in a primitive loop, vs the
    * interpreted 64-slot `zip_with` per token of the HOF spelling.
    * Value-identical to [[simhash64Hof]] (parity-pinned by
    * SignatureKernelsSpec). */
  def simhash64(tk: Column): Column =
    graft.expressions.SignatureKernels.simhashFp(tk)

  /** 60-bit poly-SimHash fingerprint — [[simhash64]]'s oracle-expressible
    * sibling: each token hashes to two mirrorable ~30-bit polynomial
    * hashes packed side by side ([[graft.expressions.PolySimHash]]), so
    * the fingerprints and the banding built on them are hash-checkable
    * end-to-end (q66/q67). */
  def polySimhash64(tk: Column): Column =
    graft.expressions.SignatureKernels.polySimhashFp(tk)

  /** The replaced single-pass HOF spelling of [[simhash64]], kept as the
    * executable specification the kernel is parity-tested against: one
    * `aggregate` carries a 64-slot vote array and each token is hashed
    * exactly once. Bit j is tested by mask (`h & (1<<j)`), and the
    * fingerprint is the sum of masks with positive votes — masks are
    * distinct powers of two, and the fold adds the sign-bit mask last, so
    * intermediate sums cannot overflow. */
  private[graft] def simhash64Hof(tk: Column): Column = {
    val masks = typedLit((0 until 64).map(j => 1L << j))
    aggregate(
      transform(tk, t => xxhash64(t)),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, masks, (a, m) =>
        a + when(h.bitwiseAND(m) =!= 0L, 1L).otherwise(-1L)),
      votes => aggregate(
        zip_with(votes, masks, (v, m) => when(v > 0L, m).otherwise(0L)),
        lit(0L), _ + _))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming,
    * COMPLETE by the pigeonhole principle: the 64-bit fingerprint is
    * split into maxHamming+1 bands, so any pair within the Hamming budget
    * has at least one untouched band and meets in its bucket. (A fixed
    * band count would silently miss pairs whenever maxHamming exceeds
    * bands-1 — the band count must follow the budget.) Identical
    * fingerprints (Hamming 0 — in particular exact duplicates) are
    * collapsed to their minimum-id representative before banding, for the
    * same quadratic-bucket reason as [[minhashCandidatePairs]]; buckets
    * larger than `maxBucketSize` are dropped (observed metric
    * "simhash_lsh"). maxHamming <= 31: beyond that band widths hit 1-2
    * bits and the bucket join degenerates toward all-pairs. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    bandedHammingPairs(docs, idCol,
      simhash64(TextAnalysis.tokens(col(textCol))), bits = 64,
      maxHamming, maxBucketSize, metricName = "simhash_lsh")

  /** [[simhashPairs]] over the 60-bit POLY fingerprint
    * ([[polySimhash64]]) — the oracle-expressible SimHash path: the
    * fingerprints, the pigeonhole banding, and the Hamming filter all
    * have exact SQL mirrors (q66/q67), unlike xxhash64's. */
  def polySimhashPairs(docs: DataFrame, idCol: String, textCol: String,
                       maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    bandedHammingPairs(docs, idCol,
      polySimhash64(TextAnalysis.tokens(col(textCol))), bits = 60,
      maxHamming, maxBucketSize, metricName = "poly_simhash_lsh")

  /** The shared pigeonhole-banded Hamming pipeline behind
    * [[simhashPairs]] and [[polySimhashPairs]]: identical fingerprints
    * collapse to their minimum-id representative, the `bits`-wide
    * fingerprint splits into maxHamming+1 non-empty contiguous bands
    * (completeness by pigeonhole), oversized buckets are dropped with an
    * observed metric, and surviving same-bucket pairs are Hamming-
    * filtered exactly. */
  /** Non-empty contiguous band widths: the first `bits % nBands` bands
    * are one bit wider. Shared with the oracle-SQL generators so both
    * engines slice identically. */
  private[graft] def bandWidths(bits: Int, nBands: Int): Seq[Int] = {
    val base = bits / nBands; val extra = bits % nBands
    (0 until nBands).map(b => base + (if (b < extra) 1 else 0))
  }

  private def bandedHammingPairs(docs: DataFrame, idCol: String,
                                 fpCol: Column, bits: Int, maxHamming: Int,
                                 maxBucketSize: Int,
                                 metricName: String): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val nBands = maxHamming + 1
    // NON-EMPTY bands (the first bits % nBands bands are one bit wider) —
    // a zero-width band would give every row the same chunk and
    // cross-join the corpus
    val widths = bandWidths(bits, nBands)
    val offsets = widths.scanLeft(0)(_ + _)
    val fp = docs
      .select(col(idCol).as("id"), fpCol.as("fp"))
      .groupBy("fp").agg(min(col("id")).as("id"))
    val banded = fp.select(col("id"), col("fp"),
        posexplode(array((0 until nBands).map { b =>
          val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1L
          shiftrightunsigned(col("fp"), offsets(b)).bitwiseAND(lit(mask))
        }: _*)))
      .select(col("pos").as("band"), col("col").as("chunk"),
        col("id"), col("fp"))
    val sizes = banded.groupBy("band", "chunk")
      .agg(count(lit(1)).as("__n"))
      .observe(metricName,
        sum(when(col("__n") > maxBucketSize, 1L).otherwise(0L)).as("dropped_buckets"))
    val kept = banded.join(sizes.where(col("__n") <= maxBucketSize),
      Seq("band", "chunk"))
    // The fingerprint is one long — cheap enough to ride the pair join, so
    // no distinct-then-reattach detour is needed here.
    val a = kept.select(col("band"), col("chunk"),
      col("id").as("id_a"), col("fp").as("fp_a"))
    val b = kept.select(col("band"), col("chunk"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("band", "chunk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Exact bigram-shingle Jaccard for all pairs within a blocking key,
    * computed via a posting-list self-join (inverted index): explode
    * distinct shingles, join postings on (block, shingle), count
    * co-occurrences per id pair — that count IS |A∩B| — then derive
    * |A∪B| from the per-doc set sizes. Only pairs sharing at least one
    * shingle are ever materialized, which is exact for any positive
    * `minJaccard`; the work is Σ_shingle freq² slim rows through a
    * hash aggregate instead of Σ_block |block|² array intersections.
    *
    * `maxDf` caps the quadratic term itself: a shingle occurring in more
    * than `maxDf` documents of one block (templated boilerplate — the
    * classic web-corpus skew) would put df² rows through a single
    * hash-agg key; with the cap such shingles are removed from every
    * document's set BEFORE scoring (both intersection and union — the
    * semantics stay a true Jaccard, over the reduced sets), and the drop
    * is emitted as the observed metric "jaccard_df". Document frequency
    * is deterministic, so the capped operator remains oracle-checkable. */
  /** The blocked inverted-index scaffolding shared by [[jaccardPairs]]
    * and [[containmentPairs]]: shingled docs (zero-shingle rows dropped)
    * and the slim (block..., id, shingle) postings. */
  private def blockedPostings(docs: DataFrame, idCol: String,
                              textCol: String, blockCols: Seq[String],
                              shingleN: Int): (DataFrame, DataFrame) = {
    val sh = docs.select((blockCols.map(col) :+ col(idCol).as("id") :+
        TextAnalysis.ngramShingles(TextAnalysis.tokens(col(textCol)), shingleN)
          .as("sg")): _*)
      .where(size(col("sg")) > 0)
    val posting = sh.select(blockCols.map(col) :+ col("id") :+
      explode(col("sg")).as("shingle"): _*)
    (sh, posting)
  }

  /** Intersection sizes for every posting-sharing pair (id_a < id_b) —
    * the inverted-index core both exact-similarity operators rank from.
    * Per-side renames do NOT hurt exchange reuse (canonicalization
    * strips alias names; both sides' posting shuffles dedupe either
    * way — verified empirically), and using-column joins keep block
    * column names with dots or other exotic characters working. */
  private def intersectionCounts(posting: DataFrame,
                                 blockCols: Seq[String]): DataFrame = {
    val a = posting.select(blockCols.map(col) :+ col("shingle") :+
      col("id").as("id_a"): _*)
    val b = posting.select(blockCols.map(col) :+ col("shingle") :+
      col("id").as("id_b"): _*)
    a.join(b, blockCols :+ "shingle")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
  }

  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], minJaccard: Double,
                   maxDf: Option[Long] = None, shingleN: Int = 2): DataFrame = {
    require(minJaccard > 0.0,
      "minJaccard must be positive: the inverted index never sees " +
        "zero-intersection pairs")
    val (sh, posting0) = blockedPostings(docs, idCol, textCol, blockCols,
      shingleN)
    val (posting, sizes) = maxDf match {
      case None =>
        (posting0, sh.select(col("id"), size(col("sg")).cast("long").as("n")))
      case Some(cap) =>
        // Shingles are distinct per document, so the posting count per
        // (block, shingle) IS the document frequency. Map-side-combined
        // groupBy, then a slim join back — same shape as the MinHash
        // bucket cap above.
        val dfreq = posting0
          .groupBy((blockCols :+ "shingle").map(col): _*)
          .agg(count(lit(1)).as("__df"))
          .observe("jaccard_df",
            sum(when(col("__df") > cap, 1L).otherwise(0L)).as("dropped_shingles"),
            sum(when(col("__df") > cap, col("__df")).otherwise(0L)).as("dropped_postings"))
        val kept = posting0
          .join(dfreq.where(col("__df") <= cap), blockCols :+ "shingle")
          .drop("__df")
        // Set sizes must reflect the reduced sets (union shrinks with the
        // dropped shingles), so recount from the kept postings.
        (kept, kept.groupBy("id").agg(count(lit(1)).as("n")))
    }
    intersectionCounts(posting, blockCols)
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Connected components over near-dup pairs — the clustering step that
    * turns pairwise matches into keep-one-per-group decisions: every
    * document in a connected component gets the component's minimum id as
    * `cluster_id`. Returns (id, cluster_id) for every node that appears
    * in `pairs`; self-loops and pairs with a NULL endpoint add their ids
    * as nodes but join no component (a NULL id is labelled NULL).
    *
    * Algorithm: the input's distinct edge set is materialized once and
    * counted (the round-0 fingerprint). What happens next depends on that
    * count:
    *
    *  - **Driver finish** — when `rows × (defaultSize of the two id
    *    types)` passes the engine's shared driver-finish rule,
    *    `Bridge.fitsOnDriver` (within the session's
    *    `spark.sql.autoBroadcastJoinThreshold`, i.e. an edge set Spark
    *    would broadcast). The edges are collected and solved by
    *    union-find over `Int` indices into the distinct ids, sorted with
    *    Catalyst's ordering for the id type (so string ids get exactly
    *    the minimum Spark's `min`/`least` pick). Driver memory is a small
    *    multiple of the threshold: one collected row per edge plus two
    *    `Int` arrays over the ids (string ids longer than the 20-byte
    *    default size scale it up in proportion). No star round runs and
    *    `rounds` is 0. Set the threshold to -1 to disable it.
    *  - **Star loop** — otherwise: alternating large-star / small-star
    *    contraction (Kiveris et al., "Connected Components in MapReduce
    *    and Beyond", SoCC'14 — a published algorithm, reimplemented here
    *    from the paper). Each round rewires every node's strictly-larger
    *    neighbors (large-star), then its smaller-or-equal neighbors
    *    (small-star), toward the local minimum; the edge set converges to
    *    star graphs centered at each component's minimum in O(log n)
    *    rounds EVEN ON PATH GRAPHS — unlike plain min-label propagation,
    *    whose round count is the component DIAMETER (a 10k-node chain =
    *    10k rounds; doubling via stars ≈ 14).
    *
    * Star-loop scale/durability contract: every round is two slim
    * (groupBy-min + equi-join) passes over bare edges; exactly ONE driver
    * action per round (the convergence fingerprint — a count+hash-sum
    * aggregate whose evaluation also materializes that round's lazily
    * marked checkpoint, so no separate materialization job runs); and
    * lineage is truncated either to executor block storage
    * (`localCheckpoint`, default — fine single-node) or, with
    * `checkpointDir`, to a RELIABLE `checkpoint` directory (HDFS/object
    * store) that survives executor loss — the mode a 1000-executor run
    * with preemption must use. Convergence is detected by edge-set
    * fingerprint (count + XOR of xxhash64(a,b)): a false fixpoint needs
    * a 2^-64 hash collision at equal cardinality.
    *
    * An edge set already on the driver — a plan over local relations
    * only, such as a driver-finished [[jaccardOnPairs]] result filtered
    * and projected — is collected by `Bridge.collectIfFits` (Catalyst's
    * estimate, then the rows' bytes, within the threshold) and goes to
    * the driver finish's union-find as it stands: no checkpoint and no
    * count, and no job when the plan optimizes to a local relation
    * (threshold -1 turns this off too).
    *
    * All paths return the same rows with the same schema, and all
    * report `graft_cc_summary` (rounds, ids) to QueryExecutionListeners.
    * The driver finish releases its materialized edge set before
    * returning; the star loop's snapshots are released by
    * [[releaseClusterState]]. */
  def dupClusters(pairs: DataFrame, idACol: String = "id_a",
                  idBCol: String = "id_b", maxIters: Int = 30,
                  checkpointDir: Option[String] = None): DataFrame =
    connectedComponents(
      pairs.select(col(idACol).as("a"), col(idBCol).as("b")),
      maxIters, checkpointDir)._1

  /** Checkpoint snapshots each [[dupClusters]] result still reads (the
    * base edge set and the converged round), keyed WEAKLY by the returned
    * labels frame: they cannot be unpersisted while the labels are in
    * use (in local mode the blocks ARE the data), but a caller done with
    * a result releases them eagerly here instead of waiting for RDD GC. */
  private val retainedByLabels = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Seq[DataFrame]]())

  /** Drop one retained snapshot's blocks. Reliable mode persists at the
    * DATASET level (CacheManager) — `unpersist` works; local mode's
    * snapshots are `localCheckpoint` blocks, an RDD-level persist that
    * `Dataset.unpersist` does not touch — those need the underlying
    * LogicalRDD's own unpersist. */
  private def releaseSnapshot(df: DataFrame, blocking: Boolean = false): Unit = {
    org.apache.spark.sql.graftbridge.Bridge.localCheckpointRdd(df)
      .foreach(_.unpersist(blocking))
    df.unpersist(blocking)
  }

  /** Release the checkpoint blocks retained by a [[dupClusters]] result.
    * The labels frame must not be evaluated again afterwards. */
  def releaseClusterState(labels: DataFrame): Unit = {
    val kept = retainedByLabels.remove(labels)
    if (kept != null) kept.foreach(releaseSnapshot(_))
  }

  /** [[dupClusters]] internals, exposing the round count for convergence
    * tests. Input: bare (a, b) edges; output: ((id, cluster_id), rounds). */
  private[graft] def connectedComponents(
      edges0: DataFrame, maxIters: Int,
      checkpointDir: Option[String]): (DataFrame, Int) = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = edges0.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // eager=false: the checkpoint materializes under the SAME job as the
    // fingerprint action below — one driver action per round total.
    // Reliable mode must persist FIRST: unlike localCheckpoint (whose
    // cached blocks ARE the data), a reliable checkpoint write re-runs
    // the full lineage in its own pass unless the RDD is cached — which
    // would re-evaluate the upstream subtree this function exists to
    // bound. In BOTH modes a superseded round's blocks are released once
    // the following round is safely materialized (reliable mode keeps the
    // checkpoint files; local mode's blocks for finished rounds are never
    // read again) — without this, up to maxIters superseded edge-set
    // snapshots would sit in executor block storage until GC.
    val cachedRounds = scala.collection.mutable.Queue.empty[DataFrame]
    def truncate(df: DataFrame, track: Boolean = true): DataFrame =
      if (checkpointDir.isDefined) {
        val cached = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        if (track) cachedRounds.enqueue(cached)
        cached.checkpoint(eager = false)
      } else {
        val lc = df.localCheckpoint(eager = false)
        if (track) cachedRounds.enqueue(lc)
        lc
      }
    // safe only after the successor round's checkpoint has materialized
    def dropSupersededCaches(): Unit =
      while (cachedRounds.size > 1)
        releaseSnapshot(cachedRounds.dequeue())
    // count + XOR of per-edge hashes over the rows with a != b (true, not
    // NULL): commutative, duplicate-free input (edges are distinct-ed),
    // and — unlike a sum — can never hit the ANSI long-overflow error at
    // any cardinality; `rows` counts every row, self-loops and NULL
    // endpoints included. The pass is routed through observe() so each
    // round's edge cardinality reaches every registered
    // QueryExecutionListener as a `graft_cc_round_<n>` metric (production
    // convergence alarms read the same channel as the bucket caps' drop
    // metrics) while Observation.get hands this loop the values
    // synchronously. Returns ((edges, edge_hash), rows).
    def fingerprint(e: DataFrame, round: Int): ((Long, Long), Long) = {
      val obs = org.apache.spark.sql.Observation(s"graft_cc_round_$round")
      val edge = col("a") =!= col("b")
      e.observe(obs, count(when(edge, 1)).as("edges"),
          coalesce(bit_xor(when(edge, xxhash64(col("a"), col("b")))),
            lit(0L)).as("edge_hash"),
          count(lit(1)).as("rows"))
        .foreach((_: org.apache.spark.sql.Row) => ())
      val m = obs.get
      ((m("edges").asInstanceOf[Long], m("edge_hash").asInstanceOf[Long]),
        m("rows").asInstanceOf[Long])
    }
    // Large-star: for each node u, connect every STRICTLY LARGER neighbor
    // to m = min(N(u) ∪ {u}). Keeps connectivity, never creates self
    // loops (m ≤ u < v), and halves long chains. NO distinct here: the
    // duplicates it would remove are bounded by the input's own multi-
    // edges, smallStar consumes them via min/groupBy unchanged, and the
    // round's terminal distinct (smallStar's) canonicalizes the edge set
    // the fingerprint needs — so the extra shuffle bought nothing.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = nbrs.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      nbrs.join(mins, "a").where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }
    // Small-star: orient edges toward the smaller endpoint, then connect
    // each node and its smaller neighbors to their collective minimum.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val mins = oriented.groupBy("a").agg(min("b").as("m"))
      val rewired = oriented.join(mins, "a")
        .where(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
      rewired.union(mins.select(col("a"), col("m").as("b"))).distinct()
    }
    // every node that appears in the input — including self-loop-only
    // nodes, which the star rounds never see — gets an output row; at
    // fixpoint every non-minimum node has exactly one edge, to its
    // component minimum; minima and singletons label themselves
    def starLabels(edges: DataFrame, star: DataFrame): DataFrame =
      edges.select(col("a").as("id")).union(edges.select(col("b").as("id")))
        .distinct()
        .join(star.select(col("a").as("id"), col("b").as("__m")), Seq("id"), "left")
        .select(col("id"), coalesce(col("__m"), col("id")).as("cluster_id"))
    // every downstream action on the labels re-emits the converged round
    // count + id cardinality to QueryExecutionListeners, so a production
    // consumer can alarm on rounds creeping toward maxIters without
    // threading the internal API's return value around
    def summarized(labels: DataFrame, rounds: Int): (DataFrame, Int) = (
      labels.observe("graft_cc_summary",
        max(lit(rounds)).as("rounds"), count(lit(1)).as("ids")),
      rounds)
    // both paths' schema (analysis only: runs no job); the driver finish
    // solves (a, b) rows cast to its id type
    val schema = { val e = edges0.distinct(); starLabels(e, e).schema }
    val idType = schema("id").dataType
    def typed(e: DataFrame): DataFrame =
      e.select(col("a").cast(idType), col("b").cast(idType))
    def onDriver(edges: Seq[org.apache.spark.sql.catalyst.InternalRow]) =
      summarized(Bridge.localFrame(spark, schema,
        DriverFinish.components(edges, idType)), 0)
    // An edge set already on the driver (an upstream driver finish's
    // result, filtered and projected) is solved as it stands: no
    // checkpoint and no count.
    val local =
      if (Bridge.logicalPlan(edges0).collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
        Bridge.collectIfFits(typed(edges0))
      else None
    if (local.isDefined) return onDriver(local.get.toSeq)
    // Checkpoint the RAW distinct edge set first: the node set and the
    // star loop's working set both derive from it, so the (possibly
    // expensive — q51 feeds a whole LSH candidate pipeline in here)
    // upstream subtree is evaluated exactly ONCE, not once per consumer.
    // In LOCAL mode base must stay untracked: its blocks ARE the data and
    // the labels read it after the loop (reliable mode re-reads the
    // checkpoint files, so there the cache is droppable).
    val base = truncate(edges0.distinct(), track = checkpointDir.isDefined)
    var cur = base.where(col("a") =!= col("b"))
    // round 0 reads base itself: materializes its checkpoint, and `rows`
    // is exactly what a driver finish would collect
    val (fp0, rows) = fingerprint(base, 0)
    val idBytes = base.schema.fields.map(_.dataType.defaultSize.toLong).sum
    if (Bridge.fitsOnDriver(spark, BigInt(rows) * idBytes)) {
      val edges = Bridge.collectInternal(typed(base))
      (base +: cachedRounds.toSeq).foreach(releaseSnapshot(_, blocking = true))
      onDriver(edges.toSeq)
    } else {
      var fp = fp0
      var rounds = 0
      var converged = false
      while (!converged && rounds < maxIters) {
        val next = truncate(smallStar(largeStar(cur)))
        val (nfp, _) = fingerprint(next, rounds + 1) // materializes next's checkpoint
        dropSupersededCaches()
        converged = nfp == fp
        cur = next
        fp = nfp
        rounds += 1
      }
      require(converged,
        s"dupClusters did not converge in $maxIters rounds — raise maxIters " +
          "(expected O(log n); this indicates pathological input size)")
      val labels = summarized(starLabels(base, cur), rounds)
      // base + the surviving round are what `labels` still reads; register
      // them so a caller done with the result can release the blocks
      // eagerly ([[releaseClusterState]]) instead of waiting for RDD GC
      retainedByLabels.put(labels._1, base +: cachedRounds.toSeq)
      labels
    }
  }

  /** The near-duplicate-deduplicated corpus: every column of `docs`, with
    * non-representative members of each [[dupClusters]] component removed
    * (the component minimum survives; documents in no pair are untouched
    * singletons). [[dedupCorpus]]'s sibling one level up the dedup
    * ladder — byte-identical copies there, similarity clusters here.
    * Left-anti against the slim drop-id set, so full-width rows move
    * once. */
  def nearDupCorpus(docs: DataFrame, idCol: String,
                    clusters: DataFrame): DataFrame =
    docs.join(
      clusters.where(col("id") =!= col("cluster_id"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** [[nearDupCorpus]] with a caller-supplied keep rule: per cluster the
    * member with the HIGHEST `score` survives (ties broken toward the
    * minimum id), instead of the minimum id — a production curation
    * pipeline keeps the best-quality member of a near-dup cluster (the
    * longest, the highest quality score), not the numerically first.
    * Singleton documents (in no pair) are untouched.
    *
    * Scale: the labels frame is slim (id, cluster_id); the keep decision
    * is a min_by/max_by-style aggregate over (score desc, id asc) via a
    * per-cluster window on the SLIM frame (clusters are near-dup groups,
    * typically tiny — the window sort is per-cluster, never global);
    * full-width rows move once, through the final left-semi join. The id
    * needs only an ordering, not a numeric type (UUID ids work). */
  def nearDupCorpusBest(docs: DataFrame, idCol: String, clusters: DataFrame,
                        score: Column): DataFrame = {
    val scored = docs.select(col(idCol).as("id"), score.as("__score"))
    val lab = scored.join(clusters, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("__cid"), col("__score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cid"))
      .orderBy(col("__score").desc, col("id").asc)
    val keep = lab.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact Jaccard verification of externally supplied candidate pairs
    * (e.g. [[minhashCandidatePairs]] output): re-attaches shingle sets by
    * id and scores only those pairs — the LSH-gated verification path,
    * linear in the candidate count. A pair naming a missing id drops
    * out, a repeated pair is scored again, and two zero-shingle
    * documents score NULL.
    *
    * Two paths, the same rows and the same schema:
    *
    *  - **Driver finish** — when the pairs' ids have the documents' id
    *    type and `Bridge.collectIfFits` takes the documents' sorted
    *    shingle sets (id, sg) and then the (id_a, id_b) pairs: Catalyst's
    *    estimates for both together, then the decoded rows of each in
    *    turn, must stay within `spark.sql.autoBroadcastJoinThreshold`,
    *    which is what the driver holds. The driver runs the two id-keyed
    *    inner joins under Catalyst's ordering and scores each pair with
    *    `SortedIntersectCount`'s kernel and the same double expression
    *    (`DriverFinish.verifiedPairs`). Collecting the pairs runs their
    *    own plan, so an upstream observation (a banding's
    *    "poly_minhash_lsh") is reported then. The sets are collected
    *    first because they are a narrow pass over the documents: sets
    *    over the threshold stop their collect before the pair plan ever
    *    runs. Pairs over what the sets leave stop their collect too, and
    *    the distributed join runs the pair plan again (an abandoned
    *    collect reports no observation, so the upstream one is reported
    *    once). The result is a local relation; set the threshold to -1
    *    to turn it off.
    *  - **Distributed** — otherwise: two slim id-keyed joins and one
    *    merge walk per pair. */
  def jaccardOnPairs(pairs: DataFrame, docs: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    // sorted ONCE per document so the per-PAIR intersection below is the
    // allocation-free merge-walk kernel, not a per-row hash set
    val sh = docs.select(col(idCol).as("id"),
      array_sort(TextAnalysis.bigramShingles(
        TextAnalysis.tokens(col(textCol)))).as("sg"))
    val ids = pairs.select(col("id_a"), col("id_b"))
    val verified = ids
      .join(sh.select(col("id").as("id_a"), col("sg").as("sg_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sg").as("sg_b")), "id_b")
      // bind the intersection size ONCE — the array intersection is the
      // dominant per-pair cost and appears in numerator and denominator
      .withColumn("__inter",
        graft.expressions.SortedIntersectCount
          .sortedIntersect(col("sg_a"), col("sg_b")).cast("double"))
      // try_divide: external pairs (unlike the inverted index's) can name
      // two zero-shingle docs — 0/0 must be a NULL score, not an ANSI error
      .select(col("id_a"), col("id_b"),
        try_divide(col("__inter"),
          (size(col("sg_a")) + size(col("sg_b"))).cast("double") - col("__inter"))
          .as("jaccard"))
    // Driver finish: the sets, then the pairs, each within what the
    // threshold leaves (ids of another type than the documents' would
    // need the join's type coercion, so they stay distributed).
    val t = sh.schema("id").dataType
    val onDriver =
      if (ids.schema.exists(_.dataType != t)) None
      else for {
        docRows <- Bridge.collectIfFits(sh, held = Bridge.estimatedBytes(ids))
        pairRows <- Bridge.collectIfFits(ids,
          held = docRows.map(Bridge.rowBytes).sum)
      } yield Bridge.localFrame(docs.sparkSession, verified.schema,
        DriverFinish.verifiedPairs(pairRows, docRows, t, sh.schema("sg").dataType))
    onDriver.getOrElse(verified)
  }

  /** Asymmetric Jaccard CONTAINMENT pairs — |A∩B| / |A| and |A∩B| / |B|
    * — the subset-duplication detector symmetric Jaccard misses: a
    * short document quoted wholesale inside a long one scores near 1.0
    * containment in the short direction while its Jaccard stays tiny
    * (the union is dominated by the long side). The standard signal for
    * quote inclusion / boilerplate wrapping in training corpora.
    *
    * Same inverted-index scale shape as [[jaccardPairs]] (blocked
    * postings, pairs only where at least one shingle is shared, slim
    * size joins); a pair survives when EITHER direction clears
    * `minContainment`. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       blockCols: Seq[String], minContainment: Double,
                       shingleN: Int = 2): DataFrame = {
    require(minContainment > 0.0,
      "minContainment must be positive: the inverted index never sees " +
        "zero-intersection pairs")
    val (sh, posting) = blockedPostings(docs, idCol, textCol, blockCols,
      shingleN)
    val sizes = sh.select(col("id"), size(col("sg")).cast("long").as("n"))
    intersectionCounts(posting, blockCols)
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("inter").cast("double") / col("n_a").cast("double"))
          .as("contain_a"),
        (col("inter").cast("double") / col("n_b").cast("double"))
          .as("contain_b"))
      .where(col("contain_a") >= minContainment ||
        col("contain_b") >= minContainment)
  }

  /** Prefix-filtered EXACT Jaccard self-join — the All-Pairs/PPJoin
    * discipline (Bayardo, Ma, Srikant, "Scaling Up All Pairs Similarity
    * Search", WWW'07; reimplemented from the published prefix-filter
    * principle): order every document's shingles by a global rarity
    * order (document frequency ascending, shingle ascending as the
    * deterministic tiebreak) and index only each document's first
    * `n − ⌈τ·n⌉ + 1` shingles. Any pair with Jaccard ≥ τ MUST share at
    * least one prefix shingle — if all common shingles sat in both
    * suffixes, the intersection would be < τ·|A|, yet J ≥ τ forces
    * |A∩B| ≥ τ·|A∪B| ≥ τ·|A| — so candidate generation over the prefix
    * postings is COMPLETE, and the all-pairs oracle's hash match is the
    * empirical proof (a dropped true pair would be a missing row).
    *
    * Why this beats the df-capped inverted index ([[jaccardPairs]]) as
    * the corpus grows: the full posting join's Σ df² cost is dominated
    * by common shingles, exactly the ones rarity-first prefixes exclude
    * — the prefix keeps only the (1−τ) rarest fraction of each set, and
    * rare shingles have small df by construction, so the quadratic term
    * collapses without a semantic-changing cap. A length-ratio filter
    * (τ·|A| ≤ |B| ≤ |A|/τ, necessary for J ≥ τ) prunes candidates
    * before verification; survivors get ONE exact array-intersection
    * pass. Candidate volume is emitted as observed metric
    * "prefix_jaccard" (the q88 cap-metric discipline).
    *
    * Two paths, the same rows and the same schema:
    *
    *  - **Driver finish** — when Catalyst's size estimate for the sorted
    *    shingle sets (id, sg) passes the engine's shared driver-finish
    *    rule, `Bridge.fitsOnDriver` (within the session's
    *    `spark.sql.autoBroadcastJoinThreshold`, i.e. a relation Spark
    *    would broadcast), and so do their decoded rows. The sets are
    *    collected once, in Catalyst's internal form, and joined by
    *    PPJoin on the driver: the same global order over an `Int`
    *    dictionary, the same asymmetric index and probe prefixes and
    *    length filter, a merge-walk verification and the same `jaccard`
    *    double expression (`DriverFinish.prefixJaccard`), except that
    *    the positional filter also counts the overlap seen so far.
    *    Shingling expands text and a compressed columnar source
    *    estimates below its decoded size (on q130's sf0.1 corpus the
    *    collected rows are 23× the estimate, 6.0 MB against 0.25 MB), so
    *    the collect itself (`Bridge.collectIfFits`) is bounded: its
    *    tasks stop shipping at the threshold and its job is cancelled
    *    once the shipped rows pass it, and the distributed path runs.
    *    The driver holds at most the threshold in rows, plus one `Int`
    *    per shingle occurrence. The result is a local
    *    relation, and "prefix_jaccard" counts the candidates the driver
    *    verified. A NULL or repeated id sends the input to the
    *    distributed path. Set the threshold to -1 to turn the driver
    *    finish off.
    *  - **Distributed** — otherwise. Scale shape: df is a
    *    map-side-combined hash-agg over slim postings; the per-doc
    *    rarity rank is a window partitioned by doc id (bounded by
    *    document length, never by a low-cardinality key); the candidate
    *    join moves (shingle, id, n) only; verification re-attaches
    *    shingle arrays by two slim id-keyed joins, linear in candidates.
    *    "prefix_jaccard" counts the distinct candidate pairs. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         minJaccard: Double, shingleN: Int = 2): DataFrame = {
    require(minJaccard > 0.0 && minJaccard < 1.0,
      "prefix filtering needs 0 < minJaccard < 1: at 0 the prefix is the " +
        "whole set, at 1 use exactDupGroups")
    import org.apache.spark.sql.graftbridge.Bridge
    val (sh0, _) = blockedPostings(docs, idCol, textCol, Nil, shingleN)
    val spark = docs.sparkSession
    // Sorted ONCE per document here so verification's per-PAIR
    // intersection is the merge-walk kernel (sorting is |doc|·log cost
    // paid |corpus| times; hashing inside array_intersect would be paid
    // |candidates| times).
    val sh1 = sh0.select(col("id"), array_sort(col("sg")).as("sg"))
    val onDriver = Bridge.collectIfFits(sh1).flatMap(collected =>
      DriverFinish.prefixJaccard(collected, sh1.schema("id").dataType, minJaccard))
      .map { case (rows, candidates) =>
        val schema = verifiedJaccard( // analysis only: runs no job
          sh1.select(col("id").as("id_a"), col("id").as("id_b")),
          sh1.select(col("id"), col("sg").as("sgv")), minJaccard).schema
        Bridge.localFrame(spark, schema, rows).observe("prefix_jaccard",
          lit(candidates).as("candidate_pairs"))
      }
    onDriver.getOrElse(distributedPrefixJaccard(sh1, minJaccard))
  }

  /** [[prefixJaccardPairs]]' distributed path over the sorted shingle
    * sets `sh1` (id, sg). */
  private def distributedPrefixJaccard(sh1: DataFrame,
                                       minJaccard: Double): DataFrame = {
    val spark = sh1.sparkSession
    // the shingle arrays feed BOTH the prefix pipeline and the final
    // verification join — materialize them once (slim: one array per
    // doc) instead of re-tokenizing the corpus per consumer.
    // Under-parallelized-scan guard (guide §2.6 idle capacity): a small
    // single-file corpus scans as 1-2 partitions and every narrow stage
    // downstream (tokenize, shingle, sort) inherits that width while the
    // remaining cores idle. Widen to the session's parallelism ONLY when
    // the scan is narrower — at real scale the scan already has more
    // partitions than cores and this branch is a no-op. Hash-partition
    // by id (deterministic), never round-robin (§2.5 retry semantics).
    val par = spark.sparkContext.defaultParallelism
    val sh = (if (sh1.rdd.getNumPartitions < par)
        sh1.repartition(par, col("id"))
      else sh1).localCheckpoint(eager = false)
    // Verification arrays are the xxhash64 IMAGE of the shingle sets,
    // sorted as longs (guide §5): the exact-verification stage attaches
    // two arrays to every candidate pair, and with string arrays that
    // stage allocated one UTF8String per element ACCESS in the merge
    // walk — measured on q130 at sf0.1: 9-11 s of summed GC inside a
    // 5 s stage, 898 MB peak, and the 5-40× contention variance the
    // r16 verdict flagged (allocation-bound stages collapse first under
    // co-tenancy). Long arrays are ~5× smaller and the walk reads the
    // unsafe buffer with zero allocation.
    //
    // EXACTNESS, not approximation: |h(A) ∩ h(B)| == |A ∩ B| whenever h
    // is injective on the corpus vocabulary, and the one-aggregate guard
    // below PROVES that per run (count distinct shingles vs count
    // distinct hashes over the whole vocabulary — injectivity on the
    // vocabulary covers every pair's union). On a collision (needs ~2³²
    // distinct shingles for even-odds; the guard makes the impossible
    // merely explicit) the run falls back to the string arrays and
    // produces the identical result, just slower. The guard rides the
    // already-checkpointed sh blocks, so its cost is one slim
    // vocabulary-sized aggregate, and its action doubles as sh's
    // materialization. `spark.graft.dedup.hashedVerify=false` forces
    // the fallback (DedupSpec pins both paths byte-equal).
    val hashedVerify =
      spark.conf.getOption("spark.graft.dedup.hashedVerify")
        .forall(_ != "false") && {
        val g = sh.select(explode(col("sg")).as("__s"))
          .agg(count_distinct(col("__s")).as("n"),
            count_distinct(xxhash64(col("__s"))).as("nh"))
          .head()
        g.getLong(0) == g.getLong(1)
      }
    val shv = (if (hashedVerify)
        sh.select(col("id"),
          array_sort(transform(col("sg"), s => xxhash64(s))).as("sgv"))
      else sh.select(col("id"), col("sg").as("sgv")))
      .localCheckpoint(eager = false)
    // postings carry the doc's set size inline: deriving n from the
    // array at explode time deletes the whole sizes join
    val posting = sh.select(col("id"),
      size(col("sg")).cast("long").as("n"), explode(col("sg")).as("shingle"))
    // ASYMMETRIC prefixes over one shared global rarity order (df asc,
    // shingle asc — a deterministic TOTAL order, which is what makes the
    // per-doc ranks comparable across documents): the size-ordered pair
    // (x ≺ y by (n, id)) must share a shingle between x's INDEX prefix
    // (n − ⌈2τ/(1+τ)·n⌉ + 1 entries) and y's PROBE prefix
    // (n − ⌈τ·n⌉ + 1). Completeness (Xiao, Wang, Lin & Yu, "Efficient
    // similarity joins for near duplicate detection", WWW'08 — the
    // published PPJoin principle, reimplemented): let w be the common
    // shingle of smallest global rank. If w sat outside x's index
    // prefix, ALL common shingles would sit among x's last
    // ⌈2τ/(1+τ)·n_x⌉ − 1 entries, yet J ≥ τ with n_y ≥ n_x forces
    // |A∩B| ≥ τ/(1+τ)(n_x+n_y) ≥ 2τ/(1+τ)·n_x — contradiction; the
    // same argument on y's suffix of ⌈τ·n_y⌉ − 1 entries (< τ·n_y ≤
    // |A∩B|) puts w inside y's probe prefix. Versus the symmetric
    // probe×probe join this cuts the candidate join's Σ df² by ~2.7×
    // (measured 40.4M → 15.1M rows at sf0.1, τ=0.4).
    //
    // Document frequency is a map-side-combined aggregate (postings are
    // distinct per document, so count(*) IS df) joined back — NOT a
    // count window over the postings: the window would shuffle every
    // posting by shingle, while the slim vocabulary-sized df table is
    // AQE-broadcastable, so the postings never move for the df attach
    // (measured at ×10: the window spelling cost +8% wall where this
    // one held). The 157k-row prefix is localCheckpoint-materialized so
    // the candidate self-join's two sides read blocks, not the
    // tokenize→explode→window pipeline twice.
    val idxFrac = 2.0 * minJaccard / (1.0 + minJaccard)
    val dfreq = posting.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val prefix = posting.join(dfreq, "shingle")
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("__df"), col("shingle"))))
      .where(col("__r") <= col("n") - ceil(lit(minJaccard) * col("n")) + 1)
      // the join key is the shingle's 64-bit hash, not the string: the
      // candidate join shuffles longs instead of text. A collision can
      // only ADD a spurious candidate (killed by exact verification) —
      // prefix SELECTION stays on the collision-free string order, so
      // no true pair can ever be lost to a hashed key.
      .select(xxhash64(col("shingle")).as("__sk"), col("id"), col("n"),
        col("__r"),
        (col("__r") <=
          col("n") - ceil(lit(idxFrac) * col("n")) + 1).as("__is_idx"))
      // Widen the checkpointed frame to session parallelism, keyed by
      // the candidate join's own key (guide §2.6 idle capacity): AQE's
      // byte-based coalescing squeezes this slim frame to ~2 partitions
      // (it is only ~16 MB), and since the candidate self-join resolves
      // to a broadcast probe over these very blocks, the ENTIRE
      // candidate generation + positional filtering + partial-distinct
      // ran as 2 tasks on 2 of 32 cores (measured: 3.5 s serial stage;
      // 0.6 s at 32 tasks after). An explicit numPartitions repartition
      // is exempt from AQE coalescing; keying by __sk keeps the
      // assignment deterministic (§2.5 retry semantics) and co-aligned
      // with the join key should the planner ever pick a shuffled join
      // at a scale where the prefix no longer broadcasts.
      .repartition(spark.sessionState.conf.numShufflePartitions,
        col("__sk"))
      .localCheckpoint(eager = false)
    // PPJoin's POSITIONAL filter on top of the prefix filter: a shared
    // prefix shingle at rarity rank r_i in X and r_p in Y bounds the
    // whole intersection by 1 + min(n_i − r_i, n_p − r_p) (every other
    // common shingle sorts after it in BOTH docs), while J ≥ τ forces
    // |A∩B| ≥ τ/(1+τ)·(n_i+n_p). Pairs whose bound can't reach that
    // floor die here instead of in verification. Complete because the
    // pair's smallest-rank common shingle w satisfies the bound (all
    // common shingles sit at-or-after it in both docs), and the pair
    // survives if ANY shared occurrence does; the 1e-9 slack keeps the
    // double-arithmetic floor from ever rounding above the exact one.
    // The length filter needs only one direction now: n_i ≤ n_p makes
    // n_p ≥ ⌈τ·n_i⌉ automatic.
    val cand = prefix.where(col("__is_idx"))
      .select(col("__sk"), col("id").as("id_i"), col("n").as("n_i"),
        col("__r").as("r_i"))
      .join(prefix.select(col("__sk"), col("id").as("id_p"),
        col("n").as("n_p"), col("__r").as("r_p")), Seq("__sk"))
      .where((col("n_i") < col("n_p") ||
          (col("n_i") === col("n_p") && col("id_i") < col("id_p"))) &&
        col("n_i") >= ceil(lit(minJaccard) * col("n_p")) &&
        (lit(1L) + least(col("n_i") - col("r_i"), col("n_p") - col("r_p")))
          .cast("double") >=
          lit(minJaccard / (1.0 + minJaccard)) *
            (col("n_i") + col("n_p")).cast("double") - lit(1e-9))
      .select(least(col("id_i"), col("id_p")).as("id_a"),
        greatest(col("id_i"), col("id_p")).as("id_b"))
      .distinct()
      .observe("prefix_jaccard", count(lit(1)).as("candidate_pairs"))
    verifiedJaccard(cand, shv, minJaccard)
  }

  /** Exact verification of (id_a, id_b) candidates against sorted
    * (id, sgv) arrays: [[prefixJaccardPairs]]' output projection, whose
    * analyzed schema the driver finish also returns. */
  private def verifiedJaccard(cand: DataFrame, shv: DataFrame,
                              minJaccard: Double): DataFrame =
    cand
      .join(shv.select(col("id").as("id_a"), col("sgv").as("sg_a")), "id_a")
      .join(shv.select(col("id").as("id_b"), col("sgv").as("sg_b")), "id_b")
      .withColumn("__inter",
        graft.expressions.SortedIntersectCount
          .sortedIntersect(col("sg_a"), col("sg_b")).cast("double"))
      // |h(A)| == |A| under the proven-injective hash, so sizes and the
      // jaccard double arithmetic are bit-identical to the string path
      .select(col("id_a"), col("id_b"),
        (col("__inter") /
          ((size(col("sg_a")) + size(col("sg_b"))).cast("double") -
            col("__inter"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)

  /** Mergeable GROUP-level MinHash signatures: the MinHash of a UNION of
    * shingle sets is the slot-wise MIN of the member signatures, so a
    * group's signature is one `min` hash aggregate over exploded
    * per-document components — associative and commutative, which is
    * exactly what lets Spark partial-aggregate it map-side (sketch
    * MERGE is the property that makes MinHash usable as a distributed
    * aggregate at all; a non-mergeable sketch would force all raw
    * shingles through the shuffle). Poly family → every slot is
    * oracle-recomputable from the affine coefficients.
    * Emits (groupCols..., seed_i, component). */
  def groupPolyMinhash(docs: DataFrame, textCol: String,
                       groupCols: Seq[String], numHashes: Int): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val sh = graft.text.TextAnalysis.bigramShingles(
      graft.text.TextAnalysis.tokens(col(textCol)))
    docs.select(groupCols.map(col) :+ sh.as("__sh"): _*)
      .where(size(col("__sh")) > 0)
      .select(groupCols.map(col) :+
        posexplode(polyMinhashSignature(col("__sh"), numHashes)): _*)
      .groupBy(groupCols.map(col) :+ col("pos"): _*)
      .agg(min(col("col")).as("component"))
      .select(groupCols.map(col) :+ col("pos").cast("long").as("seed_i") :+
        col("component"): _*)
  }

  /** Pairwise estimated Jaccard BETWEEN GROUPS (corpus-slice similarity —
    * which sources/languages overlap in content): agreement fraction of
    * the groups' union signatures ([[groupPolyMinhash]]). The corpus-
    * scale pass is the linear mergeable aggregation; the pair comparison
    * is quadratic only in the number of GROUPS (bounded: sources ×
    * languages), riding a slim (group, seed, component) self-join keyed
    * by seed. */
  def groupJaccardMatrix(docs: DataFrame, textCol: String,
                         groupCols: Seq[String],
                         numHashes: Int): DataFrame = {
    // groups are defined by NON-NULL keys: a NULL group column would
    // diverge between concat_ws (skips NULLs) and the oracle's `||`
    // (NULL-propagates, making the group vanish from the pair join) —
    // dropping such rows up front gives both engines the same matrix
    val nonNull = docs.where(groupCols.map(col(_).isNotNull).reduce(_ && _))
    val sig = groupPolyMinhash(nonNull, textCol, groupCols, numHashes)
      .select(concat_ws("|", groupCols.map(col): _*).as("gkey"),
        col("seed_i"), col("component"))
    val a = sig.select(col("gkey").as("group_a"), col("seed_i"),
      col("component").as("ca"))
    val b = sig.select(col("gkey").as("group_b"), col("seed_i"),
      col("component").as("cb"))
    a.join(b, Seq("seed_i"))
      .where(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b")
      .agg(count(when(col("ca") === col("cb"), lit(1))).as("n_agree"))
      .select(col("group_a"), col("group_b"), col("n_agree"),
        (col("n_agree").cast("double") / lit(numHashes.toDouble))
          .as("est_jaccard"))
  }

  /** Fuzzy (edit-distance ≤ `maxDist`) name pairs via LENGTH × SEGMENT
    * blocking — the segment-pigeonhole discipline of the PassJoin family
    * (Li, Deng & Feng, ICDE 2011; public literature). Completeness
    * argument: an edit script of ≤ d edits between a and b (1) changes
    * length by at most d, and (2) leaves at least one of b's d+1
    * contiguous segments untouched, whose image in a starts within ±d of
    * its position in b (net insertions/deletions before it are ≤ d). So
    * candidates = pairs agreeing on (target length, segment index,
    * segment content) with the windowed start positions enumerated on the
    * probe side — never all pairs, and never weaker than pure length
    * blocking: within one length band, pairs must ALSO share a content
    * segment. The exact `levenshtein` filter then verifies candidates —
    * blocking can only lose recall, never precision, and the all-pairs
    * oracle hash-check (q110) is the completeness proof.
    *
    * Per name the probe side enumerates ≤ (2d+1)·(d+1)·(2d+1) keys
    * (lengths × segments × shifts; 75 at d=2) and the build side d+1 —
    * constant fan-out, so candidate generation is subquadratic whenever
    * segment content spreads (realistic vocabularies). Degenerate
    * corpora whose same-length strings share a constant segment (e.g. a
    * common prefix longer than a segment) degrade to the length-band
    * bound for that segment index — the observed `fuzzy_block.candidates`
    * metric makes that visible instead of silent.
    *
    * Two paths, the same rows and the same schema:
    *
    *  - **Driver finish** — when Catalyst's size estimate for the
    *    non-NULL names passes the engine's shared driver-finish rule,
    *    `Bridge.fitsOnDriver` (within the session's
    *    `spark.sql.autoBroadcastJoinThreshold`), and so do the names as
    *    they are decoded (`Bridge.collectIfFits`). The names are
    *    collected once, in Catalyst's internal form, deduplicated, and
    *    blocked key for key as below on the driver (`DriverFinish.fuzzyPairs`);
    *    candidates are verified by the same banded kernel and ordered by
    *    UTF8String binary order, as Spark's `<` orders them. The
    *    driver holds the collected names (at most the threshold) plus
    *    d+1 index entries per name, and the output rows. The result is a
    *    local relation, and `fuzzy_block.candidates` counts the
    *    candidates the driver verified. Set the threshold to -1 to turn
    *    it off.
    *  - **Distributed** — otherwise: the blocking join at session width,
    *    where `fuzzy_block.candidates` counts the distinct candidate
    *    pairs.
    *
    * Emits (name_a, name_b, dist) with name_a < name_b, dist ≤ maxDist. */
  def fuzzyNamePairs(names: DataFrame, nameCol: String,
                     maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, "maxDist must be ≥ 1")
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = names.sparkSession
    val named = names.select(col(nameCol).as("name"))
    // banded verification kernel: O(d·len) + early band exit, vs the
    // built-in's full O(len²) table — exact for every distance the
    // `<= maxDist` filter can keep (parity-pinned in TextKernelsSpec)
    def verified(cand: DataFrame): DataFrame = cand
      .select(col("name_a"), col("name_b"),
        graft.expressions.TextKernels.boundedLevenshteinOf(
          col("name_a"), col("name_b"), maxDist).as("dist"))
      .where(col("dist") <= maxDist)
    Bridge.collectIfFits(named.where(col("name").isNotNull)).map { collected =>
      val schema = verified( // analysis only: runs no job
        named.select(col("name").as("name_a"), col("name").as("name_b"))).schema
      val (rows, candidates) = DriverFinish.fuzzyPairs(
        collected.map(_.getUTF8String(0)).distinct.toIndexedSeq, maxDist)
      Bridge.localFrame(spark, schema, rows)
        .observe("fuzzy_block", lit(candidates).as("candidates"))
    }.getOrElse(verified(blockedNamePairs(named, maxDist)))
  }

  /** [[fuzzyNamePairs]]' distributed candidate generation over the
    * `name` column: the distinct (name_a, name_b) pairs, observed as
    * "fuzzy_block". */
  private def blockedNamePairs(named: DataFrame, maxDist: Int): DataFrame = {
    val nSeg = maxDist + 1
    // Width discipline (guide §2.6 idle capacity): a name table is
    // BYTE-tiny but everything downstream is CPU-heavy per row (≤75
    // probe keys per name, then a banded levenshtein per candidate),
    // and AQE's byte-based post-shuffle coalescing folded the whole
    // pipeline into ONE task (measured on q110 at sf0.1: a single
    // 3.3-4.0 s task, 31 cores idle). The explicit-numPartitions
    // repartitions below are placed so they SATISFY the next operator's
    // required distribution (join keys / distinct keys) — then the
    // planner inserts no coalescable ensure-exchange of its own and the
    // explicit width (exempt from AQE coalescing) carries through the
    // stage. A repartition whose keys the child already statically
    // satisfies is elided by the planner, which is why a plain
    // repartition(name) after the distinct did nothing.
    val par = named.sparkSession.sessionState.conf.numShufflePartitions
    val n = named.distinct()
      .withColumn("len", length(col("name")))
    val segIdx = explode(array((0 until nSeg).map(i => lit(i)): _*))
    // build side: each name contributes its d+1 segments at their home
    // positions, keyed by its own length
    val b = n.select(col("name").as("name_b"), col("len"), segIdx.as("seg_i"))
      .withColumn("p", expr(s"(len * seg_i) DIV $nSeg"))
      .withColumn("slen", expr(s"(len * (seg_i + 1)) DIV $nSeg") - col("p"))
      .select(col("name_b"), col("len"), col("seg_i"),
        col("name_b").substr(col("p") + 1, col("slen")).as("seg"))
    // probe side: for every partner length in [len−d, len+d], every
    // segment of THAT length's split, every in-range start shift in ±d
    val a = n.select(col("name").as("name_a"), col("len").as("len_a"),
        explode(sequence(col("len") - maxDist, col("len") + maxDist))
          .as("len"))
      .where(col("len") >= 0)
      .select(col("name_a"), col("len_a"), col("len"), segIdx.as("seg_i"))
      .withColumn("p", expr(s"(len * seg_i) DIV $nSeg"))
      .withColumn("slen", expr(s"(len * (seg_i + 1)) DIV $nSeg") - col("p"))
      .select(col("name_a"), col("len_a"), col("len"), col("seg_i"),
        col("p"), col("slen"),
        explode(sequence(lit(-maxDist), lit(maxDist))).as("shift"))
      .withColumn("start", col("p") + col("shift"))
      .where(col("start") >= 0 && col("start") + col("slen") <= col("len_a"))
      // indel-budget window (the PassJoin tightening): the shift δ of a
      // preserved segment is the net indel count BEFORE it and Δ−δ
      // (Δ = len_a − l) is netted by indels AFTER it; each indel counts
      // once and substitutions move nothing, so |δ| + |Δ−δ| ≤ d — this
      // roughly halves the probe keys vs the naive |δ| ≤ d window
      .where(abs(col("shift")) +
        abs(col("len_a") - col("len") - col("shift")) <= maxDist)
      .select(col("name_a"), col("len"), col("seg_i"),
        col("name_a").substr(col("start") + 1, col("slen")).as("seg"))
    a.join(b.repartition(par, col("len"), col("seg_i"), col("seg")),
        Seq("len", "seg_i", "seg"))
      .where(col("name_a") < col("name_b"))
      .select("name_a", "name_b")
      // explicit width keyed EXACTLY like the distinct below, so the
      // dedup aggregate (and the kernel filter the optimizer pushes
      // down to just above it) runs at session width
      .repartition(par, col("name_a"), col("name_b"))
      .distinct()
      .observe("fuzzy_block", count(lit(1)).as("candidates"))
  }

  /** Bag-of-words canonical dedup: two documents are duplicates when
    * they contain the SAME TOKEN SET — the canonical key is the sorted
    * distinct token list rejoined to one string, which collapses word
    * reorderings and repetition-count changes that exact text-hash
    * dedup ([[exactDupGroups]]) misses and shingle Jaccard only scores
    * approximately. The standard cheap middle rung of a dedup ladder:
    * still a pure hash-aggregate (one shuffle on the canonical key, no
    * candidate generation, no pair join), but insensitive to the most
    * common template permutations.
    *
    * Emits every document with its cluster label (`cluster_id` = the
    * group's minimum id — the [[dupClusters]] labeling convention),
    * the cluster size, and `is_canonical` marking the one kept
    * representative. Tokens here are lowercase ASCII words, where
    * Spark's binary UTF8 array_sort and the oracle's list_sort agree;
    * a mixed-script corpus would pin a collation first.
    *
    * Scale shape: group sizes are corpus-duplication-bounded, the key
    * aggregate is map-side combinable, and the join back to documents
    * is on the same canonical key the aggregate just shuffled on — AQE
    * reuses the partitioning; nothing quadratic anywhere. */
  def canonicalDedup(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val keyed = docs.select(col(idCol).as("id"),
      array_join(array_sort(array_distinct(
        graft.text.TextAnalysis.tokens(col(textCol)))), " ").as("__ck"))
    val groups = keyed.groupBy("__ck")
      .agg(min(col("id")).as("cluster_id"),
        count(lit(1)).as("cluster_size"))
    keyed.join(groups, Seq("__ck"))
      .select(col("id"), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).cast("long").as("is_canonical"))
  }

  /** Candidate-generation recall/precision audit: how much of an EXACT
    * ground-truth pair set does an approximate candidate generator
    * recover, and how much does it over-generate — the "measure, don't
    * guess" readout for tuning LSH band/row/cap knobs before a 100 TB
    * run. Both inputs are (id_a, id_b) pair frames with id_a < id_b
    * (e.g. [[prefixJaccardPairs]] as truth, the banded
    * [[polyMinhashCandidatePairs]] as candidates). Emits ONE row of
    * integer counts — n_truth, n_candidates, n_hit — from which recall
    * (hit/truth) and precision (hit/candidates) are exact rationals;
    * the counts stay integer so the audit itself is hash-exact.
    *
    * Scale shape: both pair sets are the (already sub-corpus-sized)
    * outputs of bounded generators; the intersection is one equi-join
    * on the pair key followed by three count aggregates. */
  def recallAudit(truthPairs: DataFrame,
                  candidatePairs: DataFrame): DataFrame = {
    val t = truthPairs.select(col("id_a"), col("id_b"))
    val c = candidatePairs.select(col("id_a"), col("id_b"))
    val hit = t.join(c, Seq("id_a", "id_b"), "left_semi")
    t.agg(count(lit(1)).as("n_truth"))
      .crossJoin(c.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
  }

  /** Cross-source duplication matrix over a CONFIRMED near-dup pair set:
    * counts verified duplicate pairs per unordered source pair — the
    * contamination accounting a multi-source corpus needs ("how much of
    * crawl B is already in dump A") before deciding dedup precedence
    * between sources. `pairs` is any (id_a, id_b) frame of confirmed
    * duplicates (e.g. [[prefixJaccardPairs]] output); sources attach by
    * two slim broadcast-sized joins of (id, source); the unordered
    * normalization (least/greatest) folds (A,B) and (B,A) into one cell.
    * Diagonal cells (same-source pairs) are kept — intra-source
    * duplication is the baseline the cross cells are read against. */
  def sourceOverlap(pairs: DataFrame, docs: DataFrame, idCol: String,
                    sourceCol: String): DataFrame = {
    val src = docs.select(col(idCol).as("__id"),
      col(sourceCol).as("__src"))
    pairs.select(col("id_a"), col("id_b"))
      .join(src.select(col("__id").as("id_a"), col("__src").as("sa")), "id_a")
      .join(src.select(col("__id").as("id_b"), col("__src").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }
}
