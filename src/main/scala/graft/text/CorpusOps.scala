package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level (DataFrame-in, DataFrame-out) text operations for
  * training-data pipelines: eval-set decontamination and fixed-budget
  * token chunking. Column-level building blocks live in
  * [[TextAnalysis]]; these compose them across rows.
  */
object CorpusOps {

  /** Target-domain affinity scoring — the CCNet/fastText-style hashed
    * bag-of-tokens linear classifier (Wenzek et al. 2020 score high-
    * quality/target-language data with a fastText model; LLaMA-style
    * pipelines filter on such scores), reduced to its relational core:
    * every token hashes into one of `buckets` feature buckets (the
    * oracle-mirrorable [[TextAnalysis.charPolyHash]], not an engine-
    * private hash), each bucket's weight is the smoothed integer ratio
    * of its target-corpus to whole-corpus occurrence counts in parts-
    * per-million, and a document's affinity is the mean bucket weight
    * over its tokens — a linear bag-of-features score, exactly what a
    * degenerate (bias-free, unigram) fastText reduces to.
    *
    * `targetPred` marks the in-target rows (e.g. lang = 'en'); `w_f =
    * ((t_f + 1)·scale) ÷ (r_f + 2)` is Laplace-smoothed so empty and
    * unseen buckets stay finite, with integer division — the WHOLE
    * surface (n_tokens, affinity_ppm, selected) is integer, so no float
    * rounding can ever drift between engines. `selected` marks documents
    * whose affinity is at or above the corpus MEAN (affinity·n_docs ≥
    * Σ affinity, cross-multiplied in DECIMAL(38,0) — never a float
    * mean), the scale-free spelling of "keep the top slice": an absolute
    * ppm cutoff would silently shift meaning with the corpus mix.
    * Envelope: (t_f+1)·scale must fit int64 — with the 1e6 default that
    * is ~9.2e12 tokens per bucket, far above a 100 TB corpus spread
    * over ≥512 buckets.
    *
    * Scale shape: one token explode, ONE aggregate over `buckets` keys
    * (map-side combined — the reduce moves buckets×partitions rows,
    * never the corpus), the weight table broadcast back onto the
    * postings (buckets rows — always broadcastable by construction),
    * one aggregate on the natural doc key, and a 1-ROW corpus-mean
    * attach (the q60 scalar-broadcast shape, declared in PlanSpec).
    * Documents with zero tokens surface with n_tokens = 0, affinity 0,
    * unselected. */
  def affinityScore(docs: DataFrame, idCol: String, textCol: String,
                    targetPred: org.apache.spark.sql.Column, buckets: Int,
                    scale: Long = 1000000L): DataFrame = {
    require(buckets > 0 && scale > 0, "buckets and scale must be positive")
    val feats = docs.select(col(idCol), targetPred.as("__t"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .select(col(idCol), col("__t"),
        (TextAnalysis.charPolyHash(col("__tok")) % buckets).as("f"))
    val w = feats.groupBy("f")
      .agg(count(lit(1)).as("r_f"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("t_f"))
      .select(col("f"),
        expr(s"((t_f + 1) * $scale) div (r_f + 2)").as("w"))
    val scored = feats.join(broadcast(w), Seq("f"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("__sw"))
      .select(col(idCol), col("n_tokens"),
        expr("__sw div n_tokens").as("affinity_ppm"))
    val perDoc = docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("affinity_ppm"), lit(0L)).as("affinity_ppm"))
    val mean = perDoc.agg(sum("affinity_ppm").as("__tot"),
      count(lit(1)).as("__n"))
    perDoc.crossJoin(broadcast(mean))
      .select(col(idCol), col("n_tokens"), col("affinity_ppm"),
        (col("affinity_ppm").cast("decimal(38,0)") * col("__n") >=
          col("__tot").cast("decimal(38,0)")).cast("long").as("selected"))
  }

  /** Benchmark decontamination: drop every training document sharing at
    * least one `n`-gram with the eval corpus — the standard guard against
    * test-set leakage into pretraining data.
    *
    * Scale: the eval side reduces to a DISTINCT shingle set (benchmarks
    * are tiny next to the corpus — AQE broadcasts it); the train side
    * explodes to slim (id, shingle) postings, so contamination detection
    * is a postings⋈shingles join + distinct ids, and the full-width train
    * rows move only once, through the final left-anti join. Never an
    * all-pairs document comparison. */
  def decontaminate(train: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    val evalShingles = eval
      .select(explode(TextAnalysis.ngramShingles(
        TextAnalysis.tokens(col(textCol)), n)).as("shingle"))
      .distinct()
    val trainPostings = train.select(col(idCol),
      explode(TextAnalysis.ngramShingles(
        TextAnalysis.tokens(col(textCol)), n)).as("shingle"))
    val contaminated = trainPostings.join(evalShingles, "shingle")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[decontaminate]] with a Bloom prefilter — SAME results, different
    * scale shape. The exact path shuffles EVERY train posting into the
    * postings⋈shingles join; at corpus scale that shuffle is almost
    * entirely wasted, because nearly all postings are clean. Here the
    * eval shingle set is additionally compressed into a fixed-size Bloom
    * filter over xxhash64 keys (a bounded plan-time driver action — the
    * sketch is `O(capacity·ln 1/fpp)` BITS regardless of corpus size,
    * the same budget class as the IVF centroid collect), and the gate
    * [[graft.expressions.BloomMightContainLong]] drops clean postings
    * BEFORE the shuffle, inside the scan's codegen stage. Survivors —
    * true contaminations plus the fpp sliver — still go through the
    * exact shingle join, so false positives are verified away and the
    * output is bit-identical to [[decontaminate]] (the spec and q71's
    * reuse of q48's oracle both pin this). False negatives cannot occur:
    * every eval hash is in the filter by construction.
    *
    * `capacity` must be >= the true distinct-shingle count of the eval
    * corpus or the realized fpp degrades (never correctness — only gate
    * selectivity). */
  def decontaminateBloom(train: DataFrame, eval: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         capacity: Long = 1L << 20,
                         fpp: Double = 0.03): DataFrame = {
    val evalShingles = eval
      .select(explode(TextAnalysis.ngramShingles(
        TextAnalysis.tokens(col(textCol)), n)).as("shingle"))
      .distinct()
    val bloom = evalShingles.select(xxhash64(col("shingle")).as("h"))
      .stat.bloomFilter("h", capacity, fpp)
    val gated = train.select(col(idCol),
      explode(TextAnalysis.ngramShingles(
        TextAnalysis.tokens(col(textCol)), n)).as("shingle"))
      .where(graft.expressions.BloomMightContainLong.mightContain(
        xxhash64(col("shingle")), bloom))
    val contaminated = gated.join(evalShingles, "shingle")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** GRADED contamination — the overlap FRACTION [[decontaminate]]'s
    * boolean verdict throws away: per train document, the share of its
    * distinct n-gram shingles that appear anywhere in the eval corpus.
    * Real decontamination policies threshold this score ("drop if >20%
    * of 13-grams hit") rather than dropping on a single shared shingle,
    * because one boilerplate n-gram in a long document is noise while a
    * 40% overlap is a leak.
    *
    * Same scale shape as [[decontaminate]]: distinct eval shingles, slim
    * (id, shingle) postings join, hit counts via map-side-combined
    * hash-agg; the division is the only double op (exact BIGINT counts
    * up to it). Zero-shingle documents score NULL (`try_divide`), which
    * mirrors the oracle's NULL-on-zero division. */
  def contaminationScore(train: DataFrame, eval: DataFrame,
                         idCol: String, textCol: String, n: Int): DataFrame = {
    val evalShingles = eval
      .select(explode(TextAnalysis.ngramShingles(
        TextAnalysis.tokens(col(textCol)), n)).as("shingle"))
      .distinct()
    val sh = train.select(col(idCol), TextAnalysis.ngramShingles(
      TextAnalysis.tokens(col(textCol)), n).as("sg"))
    // shingles are distinct within a document, so the inner-join row
    // count per id IS the intersection size
    val hits = sh.select(col(idCol), explode(col("sg")).as("shingle"))
      .join(evalShingles, "shingle")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
    sh.select(col(idCol), size(col("sg")).cast("long").as("n_shingles"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        try_divide(coalesce(col("n_hits"), lit(0L)).cast("double"),
          col("n_shingles").cast("double")).as("contamination"))
  }

  /** [[contaminationScore]] at CHARACTER grain — the grain published
    * decontamination policies actually threshold (char-level 13-gram
    * overlap rules in the GPT-3/PaLM appendices family): per train
    * document, the share of its DISTINCT k-codepoint windows that
    * appear anywhere in the eval slice. Windows ride as rolling poly
    * hashes ([[charDupSpans]]'s representation —
    * [[graft.expressions.TextKernels.charNgramHashes]], one O(n) pass,
    * 8 bytes per posting instead of k chars), with the same documented
    * collision trade: a 1e9+7 collision can only ADD a hit (~m²/2e9
    * expected corpus-wide — noise against any real threshold). Same
    * scale shape as [[contaminationScore]]: the eval side reduces to a
    * distinct hash set, the train side to slim (id, hash) postings, one
    * map-side-combined hit count; the division is the only double op.
    * Train documents shorter than k codepoints have no windows and
    * score NULL (nothing to leak through). */
  def charContaminationScore(train: DataFrame, eval: DataFrame,
                             idCol: String, textCol: String,
                             k: Int): DataFrame = {
    val grams = (c: org.apache.spark.sql.Column) => array_distinct(
      graft.expressions.TextKernels.charNgramHashesOf(c, k))
    val evalH = eval.select(explode(grams(col(textCol))).as("h")).distinct()
    val sh = train.select(col(idCol), grams(col(textCol)).as("hs"))
    val hits = sh.select(col(idCol), explode(col("hs")).as("h"))
      .join(evalH, "h")
      .groupBy(idCol).agg(count(lit(1)).as("n_hits"))
    sh.select(col(idCol), size(col("hs")).cast("long").as("n_windows"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        try_divide(coalesce(col("n_hits"), lit(0L)).cast("double"),
          col("n_windows").cast("double")).as("contamination"))
  }

  /** The most frequent adjacent token pair across the corpus — the
    * BPE/WordPiece training selector. Deterministic tie-break
    * (count desc, then pair asc); ONE bounded driver action returning
    * one row (the IVF-centroid budget class). Pairs carry multiplicity
    * via the (id, pos)⋈(id, pos+1) posting self-join (the
    * [[repetitionSignals]] shape — co-partitioned equi-join, never a
    * per-row indexed lambda). */
  def topAdjacentPair(docs: DataFrame, idCol: String,
                      textCol: String): Option[(String, String, Long)] = {
    val pos = docs.select(col(idCol).as("id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("p", "t")))
    val a = pos.select(col("id"), col("p"), col("t").as("a"))
    val b = pos.select(col("id"), (col("p") - 1).as("p"), col("t").as("b"))
    a.join(b, Seq("id", "p"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a").asc, col("b").asc)
      .limit(1).collect().headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** One BPE merge step corpus-wide: every greedy left-to-right
    * occurrence of adjacent (a, b) collapses into the "a b" token, via
    * the codegen'd [[graft.expressions.BpeMergeTokens]] scan. Iterating
    * [[topAdjacentPair]] + this IS tokenizer training — each round is
    * one bounded driver argmax plus one distributed map pass. */
  def bpeMergeStep(docs: DataFrame, idCol: String, textCol: String,
                   a: String, b: String): DataFrame =
    docs.select(col(idCol),
      graft.expressions.TextKernels.bpeMergeOf(
        TextAnalysis.tokens(col(textCol)), a, b).as("merged_tokens"))

  /** Per-document top-k TF-IDF terms. Score = tf × (N / df) — the inverse
    * document frequency WITHOUT the logarithm: `ln` is the one ingredient
    * whose last-ulp behavior is libm-specific, and this operator's
    * contract (like every scoring op here) is bit-reproducibility against
    * an external SQL oracle; tf × N/df ranks identically for any fixed tf
    * and keeps every arithmetic step an exactly-mirrored IEEE op
    * (long→double casts, one divide, one multiply).
    *
    * Scale: tokens explode to slim (id, term) postings; tf and df are
    * map-side-combined hash aggregates (df counts the DISTINCT (id, term)
    * tf rows, so no count-distinct shuffle); N is a broadcast 1-row
    * aggregate, not a driver action; the final top-k is a window
    * partitioned BY DOCUMENT — no global ordering anywhere. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val posting = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = posting.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
          .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
  }

  /** Per-document repetition signals — the Gopher-family quality rules
    * (Rae et al. 2021, §A1.1: excessive repetition predicts low-quality
    * text): total vs distinct bigram counts, the top bigram's occurrence
    * count, the duplicate-bigram fraction, and the fraction of tokens
    * covered by the single most-repeated bigram. Zero-bigram docs (< 2
    * tokens) report zero fractions, not NULLs.
    *
    * Bigrams here carry MULTIPLICITY (unlike [[TextAnalysis.ngramShingles]],
    * which is a distinct set): the stream is rebuilt as slim
    * (id, pos, token) postings self-joined on (id, pos+1) — the
    * co-partitioned equi-join shape, never an indexed per-row lambda
    * (an `element_at(tk, i)` transform would be interpreted AND O(n²)
    * per row). */
  def repetitionSignals(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      posexplode(TextAnalysis.tokens(col(textCol))))
      .select(col("id"), col("pos"), col("col").as("tok"))
    val bigrams = toks.alias("a")
      .join(toks.alias("b"),
        col("a.id") === col("b.id") && (col("a.pos") + 1) === col("b.pos"))
      .select(col("a.id").as("id"),
        concat(col("a.tok"), lit(" "), col("b.tok")).as("bg"))
    val perBigram = bigrams.groupBy("id", "bg").agg(count(lit(1)).as("n"))
    val perDoc = perBigram.groupBy("id").agg(
      sum(col("n")).as("n_bigrams"),
      count(lit(1)).as("n_distinct_bigrams"),
      max(col("n")).as("top_bigram_n"))
    val nTokens = docs.select(col(idCol).as("id"),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
    nTokens.join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
      .select(col("id"), col("n_tokens"), col("n_bigrams"),
        col("n_distinct_bigrams"), col("top_bigram_n"),
        when(col("n_bigrams") === 0L, lit(0.0))
          .otherwise((col("n_bigrams") - col("n_distinct_bigrams")).cast("double")
            / col("n_bigrams").cast("double")).as("dup_bigram_frac"),
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise((col("top_bigram_n") * 2L).cast("double")
            / col("n_tokens").cast("double")).as("top_bigram_frac"))
  }

  /** Sequential concat-and-cut packing — the pretraining data layout:
    * documents are concatenated in a deterministic order within each
    * block and cut into fixed token budgets; a document belongs to the
    * bin where its first token lands (bin = floor(exclusive-prefix-sum /
    * budget)). Emits (id, blockCols..., n_tokens, start_offset, bin).
    *
    * Scale: the per-block exclusive prefix sum is computed by the
    * two-pass discipline (the [[graft.operators.Rank]] shape), NOT a
    * window partitioned by block — blocks like (lang, source) are
    * bounded-cardinality, so a block-partitioned window would funnel a
    * corpus-sized slice through one task. Instead:
    *   1. range-partition + sort by (block, id) — a distributed sort
    *      whose partition i precedes partition i+1 — and compute the
    *      LOCAL per-(block, partition) prefix (window bounded by task
    *      input);
    *   2. aggregate per-(block, partition) token totals (tiny:
    *      #blocks × #partitions rows), exclusive-prefix them per block
    *      (window over the aggregate), broadcast back, and add.
    * The sorted pass is localCheckpoint-pinned so both branches observe
    * the SAME sampled range boundaries (the Rank.globalRank lesson);
    * call [[releasePacked]] when done with a result to drop the blocks.
    * Zero-token documents occupy no budget but keep a deterministic
    * position (they inherit the running offset). */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    blockCols: Seq[String], budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val keys = blockCols.map(col) :+ col(idCol)
    val sorted = docs
      .select((blockCols.map(col) :+ col(idCol) :+
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens")): _*)
      .repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy((blockCols.map(col) :+ col("__pid")): _*)
      .orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val local = sorted.withColumn("__lp",
      coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
    // per-(block, partition) totals, exclusive-prefixed per block: a
    // window over the AGGREGATE — #blocks × #partitions rows, bounded
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(blockCols.map(col): _*)
      .orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = sorted.groupBy((blockCols.map(col) :+ col("__pid")): _*)
      .agg(sum(col("n_tokens")).as("__pt"))
      .withColumn("__off", coalesce(sum(col("__pt")).over(wOff), lit(0L)))
      .select((blockCols.map(col) :+ col("__pid") :+ col("__off")): _*)
    val out = local
      .join(broadcast(offsets), blockCols :+ "__pid")
      .select((blockCols.map(col) :+ col(idCol) :+ col("n_tokens") :+
        (col("__lp") + col("__off")).as("start_offset")): _*)
      // integer DIV, not `/` (which is double division on longs): exact
      // at any offset magnitude, and the oracle's `//` mirrors it
      .withColumn("bin", expr(s"start_offset DIV ${budget}L"))
    packRetained.put(out, sorted)
    out
  }

  /** Results still reading a [[packSequences]] frame's pinned sorted
    * pass, for eager release via [[releasePacked]]. */
  private val packRetained = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, DataFrame]())

  /** Drop the sorted-pass blocks a [[packSequences]] result pins. The
    * result must not be evaluated again afterwards. */
  def releasePacked(result: DataFrame): Unit = {
    val sorted = packRetained.remove(result)
    if (sorted != null)
      org.apache.spark.sql.graftbridge.Bridge.localCheckpointRdd(sorted)
        .foreach(_.unpersist(blocking = false))
  }

  /** Deterministic mixture resampling — the training-mix constructor:
    * each group (e.g. source) keeps documents at its own target permille
    * rate, selected by a CONTENT-hash threshold (charPolyHash mod 1000 <
    * rate) rather than a random draw, so the sample is reproducible
    * across runs, engines, and partitionings, and the same document
    * always makes the same decision (the q45 stratified-sample contract,
    * generalized to per-group rates). Groups absent from `permille`
    * default to `defaultPermille`. Pure per-row predicate: no shuffle. */
  def mixtureSample(docs: DataFrame, textCol: String, groupCol: String,
                    permille: Map[String, Int],
                    defaultPermille: Int = 0): DataFrame = {
    require((defaultPermille +: permille.values.toSeq)
      .forall(r => r >= 0 && r <= 1000), "rates must be permille in [0, 1000]")
    val rate = permille.foldLeft(lit(defaultPermille)) { case (acc, (g, r)) =>
      when(col(groupCol) === g, lit(r)).otherwise(acc)
    }
    docs.where(TextAnalysis.charPolyHash(col(textCol)) % 1000L <
      rate.cast("long"))
  }

  /** BM25 top-k retrieval for a literal query-term set — the full-text
    * relevance scorer (Robertson–Spärck Jones, the Okapi weighting) over
    * the corpus, with two determinism choices that make it bit-verifiable
    * against an external SQL oracle:
    *
    *   - idf is the LOG-FREE rational `(N - df + 0.5) / (df + 0.5)`: as in
    *     [[tfidfTopTerms]], `ln` is the one ingredient whose last-ulp
    *     behavior is libm-specific; the rational idf preserves the
    *     rare-term-dominates ordering and keeps every step an
    *     exactly-mirrored IEEE op.
    *   - The per-document score sums its per-term contributions in FIXED
    *     sorted-term order via a pivot (one `max(when(term = t, c))` slot
    *     per literal term, added left-to-right), never a `sum()` whose
    *     accumulation order depends on partitioning — double addition is
    *     not associative, and an order-free sum would be the one
    *     nondeterminism in an otherwise exact pipeline.
    *
    * Scale: tokens explode to slim (id, term) postings FILTERED to the
    * query vocabulary before any aggregation (the scan's codegen stage
    * drops ~everything); tf/df are map-side-combined hash aggregates; df
    * and the (N, avgdl) stats row are broadcast; the only per-document
    * state is one fixed-width pivot row per MATCHED document. The final
    * top-k is a TakeOrdered (bounded per-partition heads merged on the
    * driver), not a global sort. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], topK: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(topK > 0, "topK must be positive")
    val terms = queryTerms.distinct.sorted
    require(terms.nonEmpty, "queryTerms must be non-empty")
    val dl = docs.select(col(idCol).as("id"),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    val posting = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .where(col("term").isin(terms: _*))
    val tf = posting.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // Arithmetic shape (parenthesization included) is mirrored verbatim in
    // the oracle — k1+1 and 1-b are computed IN the expression on both
    // sides so the constant folding is the same IEEE add either way.
    val contrib = tf.join(broadcast(dfreq), "term")
      .join(dl, "id")
      .crossJoin(broadcast(stats))
      .select(col("id"), col("term"),
        (((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)))
          * (col("tf").cast("double") * (lit(k1) + lit(1.0)))
          / (col("tf").cast("double")
            + lit(k1) * ((lit(1.0) - lit(b))
              + lit(b) * col("dl").cast("double") / col("avgdl"))))
          .as("c"))
    val slots = terms.indices.map(i => s"__c_$i")
    val aggCols = count(lit(1)).cast("long").as("n_terms_matched") +:
      terms.zipWithIndex.map { case (t, i) =>
        max(when(col("term") === t, col("c"))).as(slots(i))
      }
    val pivoted = contrib.groupBy("id").agg(aggCols.head, aggCols.tail: _*)
    // missing-term slots add an exact 0.0 — x + 0.0 == x for the positive
    // finite contributions, so absent terms cannot perturb the sum
    val score = slots.map(s => coalesce(col(s), lit(0.0))).reduce(_ + _)
    pivoted.select(col("id"), col("n_terms_matched"), score.as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(topK)
  }

  /** Per-document novelty and lexical-diversity signals — the
    * complement of [[repetitionSignals]]'s redundancy view:
    *
    *   - `novelty`: the fraction of the document's distinct `n`-gram
    *     shingles that occur in NO other document (corpus df = 1) — high
    *     for unique content, ~0 for boilerplate; the scalable stand-in
    *     for per-document self-information.
    *   - `gini`: the Gini–Simpson index of the token distribution,
    *     1 − Σ c_t² / n_tokens² — the logarithm-free diversity measure
    *     (token entropy would drag libm `ln` into the hash contract;
    *     Gini–Simpson ranks repetitive docs the same way with exact
    *     integer moments and ONE mirrored divide).
    *
    * Scale: both signals ride slim exploded postings with map-side-
    * combined hash aggregates; df is one corpus-wide shingle aggregate
    * (the [[decontaminate]] shape); nothing joins wide rows. Zero-token
    * and zero-shingle documents report 0.0, not NULL. */
  def noveltyDiversity(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 2): DataFrame = {
    val tk = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("__tk"))
    val tokCounts = tk.select(col("id"), explode(col("__tk")).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("c"))
    val moments = tokCounts.groupBy("id").agg(
      sum(col("c") * col("c")).as("sumsq"), sum(col("c")).as("n_tokens"))
    val posting = tk.select(col("id"),
      explode(TextAnalysis.ngramShingles(col("__tk"), n)).as("sh"))
    val dfreq = posting.groupBy("sh").agg(count(lit(1)).as("df"))
    val novel = posting.join(dfreq, "sh").groupBy("id").agg(
      count(lit(1)).as("n_shingles"),
      count(when(col("df") === 1L, lit(1))).as("n_novel"))
    tk.select(col("id"))
      .join(moments, Seq("id"), "left")
      .join(novel, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("n_novel").cast("double")
            / col("n_shingles").cast("double")).as("novelty"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0))
          .otherwise(lit(1.0) - (col("sumsq").cast("double")
            / (col("n_tokens").cast("double") * col("n_tokens").cast("double"))))
          .as("gini"))
  }

  /** Document-level term co-occurrence with LIFT scores — the collocation
    * / phrase-mining signal (PMI ranking): for term pair (a,b),
    * lift = P(a,b)/(P(a)·P(b)) = n_ab·N/(n_a·n_b) over document-presence
    * counts. PMI is ln(lift) — a strictly monotone map — so ranking by
    * lift IS ranking by PMI while keeping every arithmetic step an
    * exactly-mirrored IEEE op (the [[tfidfTopTerms]] no-`ln` discipline):
    * the products run in exact DECIMAL(38,0) (overflow-safe past
    * N² > 2^63) and only ONE double divide follows.
    *
    * The pair fanout is tamed twice, both ways oracle-expressible:
    * (1) a df-cap drops stopword-frequency terms (`df·1000 ≤
    * maxDfPermille·N`, plus a `minDf` floor for hapax noise) — the
    * dominant quadratic contributor at corpus scale; (2) each document
    * contributes only its `perDocTerms` RAREST eligible terms
    * (ascending df, term tiebreak — the q114 rarity signal), so per-doc
    * fanout is ≤ C(perDocTerms, 2) regardless of document length and
    * total pair volume is linear in the corpus. The per-doc rank window
    * partitions by document id (high-cardinality, never skewed). */
  def termCooccurrence(docs: DataFrame, idCol: String, textCol: String,
                       minDf: Long, maxDfPermille: Long, perDocTerms: Int,
                       minSupport: Long): DataFrame = {
    val posting = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .distinct()
    val dfreq = posting.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val elig = dfreq.crossJoin(broadcast(nDocs))
      .where(col("df") >= minDf &&
        col("df") * 1000L <= lit(maxDfPermille) * col("n_docs"))
      .select("term", "df")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("term").asc)
    val kept = posting.join(elig, "term")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= perDocTerms)
      .select("id", "term")
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.id") === col("b.id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
    pairs
      .join(elig.select(col("term").as("term_a"), col("df").as("n_a")), "term_a")
      .join(elig.select(col("term").as("term_b"), col("df").as("n_b")), "term_b")
      .crossJoin(broadcast(nDocs))
      .select(col("term_a"), col("term_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        ((col("n_ab").cast("decimal(38,0)") * col("n_docs")).cast("double") /
          (col("n_a").cast("decimal(38,0)") * col("n_b")).cast("double"))
          .as("lift"))
  }

  /** Exact corpus heavy hitters — every token whose global count exceeds
    * total/`k` — with BOUNDED-MEMORY candidate pruning (Misra & Gries
    * 1982, "Finding repeated elements", Sci. Comput. Program. 2):
    *
    * Pass 1 runs the Misra–Gries summary with `k−1` counters
    * independently per partition. MG guarantees any item occurring more
    * than n_p/k times in a partition of n_p tokens survives that
    * partition's summary, so by pigeonhole any GLOBAL heavy hitter
    * (count > N/k, N total) survives in at least one partition — the
    * union of per-partition candidates (≤ (k−1) × partitions slim rows,
    * broadcastable) is a provable superset of the answer. Pass 2 exactly
    * recounts ONLY candidate tokens (the left-semi gate drops the long
    * tail BEFORE the shuffle, the decontamination-Bloom discipline) and
    * the threshold filter discards sketch survivors that are not truly
    * heavy. The output is therefore EXACT and independent of partition
    * order — MG is purely a scalability mechanism, which is why the
    * operator hash-checks against a plain GROUP BY / HAVING oracle.
    *
    * At 100 TB the distinct-token domain is what kills a naive global
    * groupBy (the shuffle carries every rare term); here shuffle volume
    * collapses to candidate postings only, and the corpus is tokenized
    * exactly TWICE (sketch pass + recount pass): the sketch pass emits
    * its partition's token count alongside the candidates, and the
    * ≤ (k−1+1) × partitions summary rows are localCheckpoint-pinned so
    * the candidate gate and the total attach both read the materialized
    * summary instead of re-deriving the corpus scan per branch. */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val posting = docs.select(
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val summarySchema = StructType(Seq(
      StructField("term", StringType, nullable = true),
      StructField("n", LongType, nullable = false)))
    // One pass: per-partition Misra-Gries candidates (term, 0) plus one
    // (NULL, partition-token-count) row; eagerly materialized so the two
    // consumers below share it.
    val summary = posting.select(col("term"))
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        var n = 0L
        it.foreach { r =>
          val t = r.getString(0)
          n += 1
          counters.get(t) match {
            case Some(c) => counters.update(t, c + 1)
            case None if counters.size < k - 1 => counters.update(t, 1L)
            case None => // decrement-all; drop zeros
              counters.mapValuesInPlace((_, c) => c - 1)
              counters.filterInPlace((_, c) => c > 0)
          }
        }
        counters.keysIterator.map(org.apache.spark.sql.Row(_, 0L)) ++
          Iterator.single(org.apache.spark.sql.Row(null, n))
      }(Encoders.row(summarySchema))
      .localCheckpoint()
    // the gate's selectivity is observable (the cap-metric discipline):
    // candidate rows vs total tokens says how much shuffle the sketch
    // actually saved — a near-1 ratio means k is too large for the
    // distribution and the gate is pass-through
    val candidates = summary
      .observe("heavy_hitters",
        count(when(col("term").isNotNull, lit(1))).as("candidate_rows"),
        sum(col("n")).as("total_tokens"))
      .where(col("term").isNotNull)
      .select(col("term")).distinct()
    val total = summary.agg(sum(col("n")).as("n_total"))
    posting.join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      // integer comparison — no double threshold arithmetic to mirror
      .where(col("cnt") * lit(k.toLong) > col("n_total"))
      .select(col("term"), col("cnt"), col("n_total"))
  }

  /** Context chunking: split each document's token stream into windows of
    * `size` tokens starting every `stride` tokens (stride < size gives
    * overlapping windows) — the pretraining sequence-packing precursor.
    * Emits (id, chunk_idx, n_chunk_tokens, chunk_text); zero-token
    * documents emit nothing.
    *
    * Per-row generate + slice — no shuffle; the token array is
    * materialized once per row and sliced per chunk (`slice` on a bound
    * column, not an `element_at` re-derivation). */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val tk = TextAnalysis.tokens(col(textCol))
    docs
      .select(col(idCol), tk.as("__tk"))
      .where(size(col("__tk")) > 0)
      .select(col(idCol),
        explode(sequence(lit(0), size(col("__tk")) - 1, lit(stride)))
          .as("__start"),
        col("__tk"))
      .select(col(idCol),
        (col("__start") / stride).cast("long").as("chunk_idx"),
        size(slice(col("__tk"), col("__start") + 1, lit(chunkSize)))
          .cast("long").as("n_chunk_tokens"),
        array_join(slice(col("__tk"), col("__start") + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  /** Exact-substring duplication spans (the signal behind suffix-array
    * dedup — Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): per document, the share of its POSITIONAL
    * `n`-gram shingles that also occur in at least one OTHER document,
    * and the longest consecutive run of such positions. A duplicated
    * span of L tokens (L ≥ n) shows up as a run of L−n+1 duplicated
    * shingle positions, so `max_run + n − 1` lower-bounds the longest
    * cross-document duplicated substring — the thresholdable span-level
    * readout (q61's repetition covers WITHIN-doc repeats; q48/q132 cover
    * eval contamination; this is train-train span duplication).
    *
    * Scale: one slim (id, pos, shingle) posting explode; the duplicated-
    * shingle set is a hash aggregate on shingle (map-side combined) and
    * the flagging join shuffles key-only postings, never document text.
    * The run analysis is the islands trick — `pos − row_number()` is
    * constant exactly on consecutive duplicated positions — under
    * windows PARTITIONED BY DOCUMENT, each bounded by one document's
    * token count. Documents shorter than `n` tokens have no shingles and
    * are absent from the output, mirroring the oracle. */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               n: Int): DataFrame =
    spanReadout(docs.select(col(idCol),
      posexplode(TextAnalysis.posNgrams(TextAnalysis.tokens(col(textCol)), n))
        .as(Seq("pos", "shingle"))), idCol)

  /** [[dupSpans]] at CHARACTER grain — the grain Lee et al. 2021's
    * suffix-array pass actually operates at (§4: duplicated substrings
    * of ≥ 50 tokens are found character-wise; the word-n-gram spelling
    * in [[dupSpans]] can only see duplication that survives whitespace
    * tokenization). Each position's k-codepoint window is represented
    * by its rolling polynomial hash
    * ([[graft.expressions.TextKernels.charNgramHashes]] — ONE O(n)
    * codegen pass per document, value-identical to hashing every
    * substring, mirrored in SQL as `charPolyHash(substr(text, i, k))`),
    * so the posting explode ships 8 bytes per position instead of k
    * chars. A duplicated char-span of L ≥ k codepoints shows up as a
    * run of L−k+1 duplicated positions, so `max_run + k − 1`
    * lower-bounds the longest cross-document duplicated SUBSTRING.
    * Hash grain caveat (documented trade): two distinct windows
    * colliding under the 1e9+7 poly hash would count as duplicated —
    * ~m²/2e9 expected false positives corpus-wide, negligible against
    * float32-noise-level thresholds, and the same trade q197's
    * winnowing and every MinHash path already makes. Same output shape
    * and scale analysis as [[dupSpans]]; documents shorter than k
    * codepoints have no windows and are absent. */
  def charDupSpans(docs: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame =
    spanReadout(charPostings(docs, idCol, textCol, k), idCol)

  /** The positional char k-gram rolling-hash posting frame (idCol, pos,
    * shingle) — the shared front half of [[charDupSpans]] and
    * [[charContamination]]: in a production corpus pipeline the char
    * posting table is materialized once and fanned out to every
    * char-grain consumer (`registry.Shared` caches one per (session, dir, k),
    * the truth-pair/cluster artifact discipline). */
  def charPostings(docs: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame =
    docs.select(col(idCol),
      posexplode(graft.expressions.TextKernels
          .charNgramHashesOf(col(textCol), k))
        .as(Seq("pos", "shingle")))

  /** [[charDupSpans]] over a prepared [[charPostings]] frame — the
    * shared-artifact entry. */
  def charDupSpansFromPostings(postings: DataFrame,
                               idCol: String): DataFrame =
    spanReadout(postings, idCol)

  /** [[charContaminationScore]] over a prepared [[charPostings]] frame
    * covering BOTH slices, split by predicates — the shared-artifact
    * entry (value-identical to the standalone spelling: distinctness
    * per (doc, window-hash) replaces the per-row array_distinct; the
    * train universe comes from `docs` so zero-window documents still
    * surface with a NULL score). */
  def charContamination(docs: DataFrame, postings: DataFrame,
                        idCol: String, trainPred: org.apache.spark.sql.Column,
                        evalPred: org.apache.spark.sql.Column): DataFrame = {
    val evalH = postings.where(evalPred)
      .select(col("shingle").as("h")).distinct()
    val tr = postings.where(trainPred)
      .select(col(idCol), col("shingle").as("h")).distinct()
    val counts = tr.groupBy(idCol).agg(count(lit(1)).as("__nw"))
    val hits = tr.join(evalH, "h")
      .groupBy(idCol).agg(count(lit(1)).as("__nh"))
    docs.where(trainPred).select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nw"), lit(0L)).as("n_windows"),
        coalesce(col("__nh"), lit(0L)).as("n_hits"),
        try_divide(coalesce(col("__nh"), lit(0L)).cast("double"),
          coalesce(col("__nw"), lit(0L)).cast("double"))
          .as("contamination"))
  }

  /** Duplicate-span removal at CHARACTER grain — [[dedupScrub]]'s
    * transform at [[charDupSpans]]' grain, closing the one rung where
    * detection and remediation sat at different grains: Lee et al. 2021
    * (arXiv:2107.06499) both FINDS and CUTS duplicated substrings
    * character-wise, and this is the cutting half. A codepoint is
    * scrubbed iff any cross-document duplicated k-codepoint window
    * (`postings` — the shared [[charPostings]] artifact, one build
    * fanned out to q237/q243/q246) covers it; the output is the cleaned
    * text (covered islands cut, byte-exact remainder) plus removal
    * accounting.
    *
    * Scale shape — deliberately NOT the word-grain spelling's dense
    * per-token explode: duplicated window STARTS (a tiny subset of
    * positions) merge into covered islands with one per-document
    * lag/cumsum window (fixed width k means starts ≤ k apart cover
    * contiguously, so islands are exactly gap>k groups), and the
    * cleaned text is ONE per-row fold over the document's sorted island
    * list (substring slices between islands) — no per-codepoint rows
    * ever ship; per-doc state is bounded by islands ≤ len/1. The
    * brute-force per-char spelling remains the ORACLE's job. Cap
    * discipline: the hot-window observe metric rides the dup aggregate
    * exactly as in [[dedupScrub]] (`metricName` — unique per plan, the
    * two-grain-composition rule). Documents shorter than k codepoints
    * have no windows, so their text survives verbatim. */
  def charDedupScrub(docs: DataFrame, postings: DataFrame, idCol: String,
                     textCol: String, k: Int,
                     metricName: String = "char_dedup_scrub",
                     hotDf: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"window grain must be >= 1, got $k")
    require(hotDf >= 2L, s"hotDf must be >= 2, got $hotDf")
    val dup = postings.groupBy("shingle")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .observe(metricName,
        sum(when(col("__nd") > hotDf, 1L).otherwise(0L)).as("hot_windows"),
        max(col("__nd")).as("max_df"),
        sum(when(col("__nd") >= 2L, 1L).otherwise(0L)).as("dup_windows"))
      .where(col("__nd") >= 2L)
      .select(col("shingle"))
    val starts = postings.join(dup, Seq("shingle"), "left_semi")
      .select(col(idCol), col("pos"))
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    // islands: a start > k past its predecessor leaves ≥1 uncovered
    // codepoint between their [p, p+k−1] windows; ≤ k means contiguous
    // coverage, so gap>k boundaries + a cumulative sum label each
    // maximal covered island
    val islands = starts
      .withColumn("__new",
        when(coalesce(col("pos") - lag(col("pos"), 1).over(wOrd),
          lit(k + 1)) > k, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wCum))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + lit(k - 1)).as("e"))
    val perDoc = islands.groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
          .as("__isls"),
        sum(col("e") - col("s") + 1).cast("long").as("n_removed"))
    // reassembly: fold the sorted islands once per row — acc = (clean so
    // far, cursor); each island appends the uncovered slice before it
    // and jumps the cursor past it; finish appends the tail. substr is
    // codepoint-addressed in both engines, so the remainder is
    // byte-exact.
    docs.select(col(idCol), col(textCol).as("__txt"),
        coalesce(length(col(textCol)), lit(0)).as("__len"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        col("__len").cast("long").as("n_chars"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("__isls").isNull, coalesce(col("__txt"), lit("")))
          .otherwise(aggregate(col("__isls"),
            struct(lit("").as("t"), lit(0).as("c")),
            (acc, i) => struct(
              concat(acc.getField("t"),
                col("__txt").substr(acc.getField("c") + lit(1),
                  i.getField("s") - acc.getField("c"))).as("t"),
              (i.getField("e") + lit(1)).as("c")),
            acc => concat(acc.getField("t"),
              col("__txt").substr(acc.getField("c") + lit(1),
                col("__len") - acc.getField("c")))))
          .as("clean_text"))
  }

  /** The dup-span readout over a prepared positional posting frame
    * (idCol, pos, shingle) — shared by the word ([[dupSpans]]) and char
    * ([[charDupSpans]]) grains so the duplicated-shingle set, the
    * islands run-length trick, and the share arithmetic have ONE
    * spelling. */
  private def spanReadout(pos: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dup = pos.groupBy("shingle")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= 2L).select(col("shingle"), lit(true).as("__dup"))
    val flagged = pos.join(dup, Seq("shingle"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("__dup"), lit(false)).as("dup"))
    val runs = flagged.where(col("dup"))
      .withColumn("__grp", col("pos") -
        row_number().over(Window.partitionBy(col(idCol)).orderBy(col("pos"))))
      .groupBy(col(idCol), col("__grp")).agg(count(lit(1)).as("__len"))
      .groupBy(idCol).agg(max(col("__len")).as("max_run"))
    flagged.groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("dup"), lit(1))).as("n_dup"))
      .join(runs, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_shingles").cast("double"))
          .as("dup_share"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
  }

  /** χ²-distinctive terms per class — the supervised keyword-extraction
    * dual of [[tfidfTopTerms]] (which has no class signal): for each
    * (class, term), the 2×2 document-presence contingency
    * a = docs-in-class-with-term, b = n_t − a, c = n_c − a,
    * d = N − n_t − n_c + a, scored
    * χ² = N · (ad−bc)/((a+b)(c+d)) · (ad−bc)/((a+c)(b+d)) and kept only
    * when positively associated (ad > bc — over-represented in the
    * class, the keyword direction).
    *
    * Determinism: a/b/c/d and all four marginal products are EXACT —
    * counts ride in DECIMAL(19,0)/(38,0) so no product overflows long —
    * and χ² spends exactly two mirrored double divides and two double
    * multiplies, identical op-for-op in the oracle; no logs (the
    * log-likelihood-ratio G² spelling would drag in libm divergence —
    * χ² ranks the same direction without it). Shape at 100 TB: one slim
    * distinct (class, id, term) projection, three map-side-combined
    * aggregates, broadcast joins of the vocab/class tables, and the
    * final top-k window runs over the AGGREGATED (class, term) matrix —
    * vocabulary-bounded, never corpus-sized. */
  /** Sparse TF-IDF cosine similarity pairs over an inverted index — the
    * weighted-vector member of the pairwise-similarity family (set
    * Jaccard q18/q38/q43, containment q102, dense-embedding cosine q41):
    * two documents can share every rare term and still be invisible to
    * set Jaccard if their lengths differ; tf-idf weighting is what
    * retrieval-grade near-dup detection actually ranks by.
    *
    * Determinism is the whole design: floating tf-idf (`tf·ln(N/df)`)
    * summed over a shuffle is order-dependent and libm-divergent, so
    * weights are QUANTIZED to integers up front — `q_idf = N·10⁶ DIV df`
    * once per term (BIGINT-exact for corpora to ~9×10¹² docs), `w = tf ·
    * q_idf` and every dot/norm product in DECIMAL(38,0). Identical
    * integers fall out of both engines; the ONLY doubles are the final
    * rendered cosine's one divide + sqrt, mirrored op-for-op. The idf is
    * ln-free (N/df raw): monotone in the same direction, so ranking and
    * thresholding behave; the absolute scale is the quantization unit's
    * business, not the caller's.
    *
    * Scale shape: the quadratic is controlled where it is born — the
    * vector space is word `ngram`-SHINGLES, not unigrams (a unigram
    * vocabulary is small and dense, so Σdf² explodes; shingles are the
    * sparse high-cardinality space retrieval actually indexes), the
    * df-cap drops boilerplate postings BEFORE the term self-join (a term
    * at df=D fans out D² pairs; capped at maxDf permille the worst term
    * is bounded), norms aggregate per document over the SAME
    * eligible-term postings (one slim shuffle), and `minShared` prunes
    * the pair aggregate before the norm joins. Full documents never move
    * — only (id, term, w) postings. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       ngram: Int, minDf: Long, maxDfPermille: Long,
                       minShared: Long): DataFrame =
    tfidfCosinePairsFrom(tfidfStages(docs, idCol, textCol, ngram, minDf,
      maxDfPermille, minShared))

  /** [[tfidfCosinePairs]] over an already-built [[TfidfStages]] — the
    * entry for callers that share ONE staged build across several
    * consumers (`registry.Shared` memoizes the stages per (session, dir), the
    * mart/cluster artifact pattern: q158 and its three bisection
    * diagnostics all read the same weighted-postings checkpoint instead
    * of re-running tokenize→tf→join each). */
  def tfidfCosinePairsFrom(st: TfidfStages): DataFrame = {
    st.pairs
      .join(st.norms.select(col("id").as("id_a"), col("nrm").as("nrm_a")),
        "id_a")
      .join(st.norms.select(col("id").as("id_b"), col("nrm").as("nrm_b")),
        "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"), col("dot"),
        (col("dot").cast("double") /
          sqrt(col("nrm_a").cast("double") * col("nrm_b").cast("double")))
          .as("cos"),
        cosKeyNano(col("dot"), col("nrm_a"), col("nrm_b")))
  }

  /** The staged frames behind [[tfidfCosinePairs]], exposed for the r10
    * driver-divergence bisection diagnostics (VERDICT r9 item 1): `elig`
    * (term, q_idf), `norms` (id, n_terms, nrm), `pairs` (id_a, id_b,
    * n_shared, dot — post-minShared, PRE norm-join/gate). A hash match
    * on a stage proves both engines agree up to there. `weighted` is the
    * shared localCheckpoint all three derive from — carried so a memoizing
    * caller can release its blocks eagerly ([[releaseTfidfStages]]). */
  private[graft] case class TfidfStages(elig: DataFrame, norms: DataFrame,
                                        pairs: DataFrame,
                                        weighted: DataFrame)

  /** Drop the weighted-postings checkpoint blocks a [[TfidfStages]]
    * retains (the [[graft.dedup.Dedup.releaseClusterState]] discipline:
    * Dataset.unpersist does not reach localCheckpoint's RDD-level
    * blocks). */
  private[graft] def releaseTfidfStages(st: TfidfStages): Unit =
    Seq(st.weighted, st.elig).foreach(df =>
      org.apache.spark.sql.graftbridge.Bridge.localCheckpointRdd(df)
        .foreach(_.unpersist(blocking = false)))

  private[graft] def tfidfStages(docs: DataFrame, idCol: String,
                                 textCol: String, ngram: Int, minDf: Long,
                                 maxDfPermille: Long,
                                 minShared: Long): TfidfStages = {
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val toks = TextAnalysis.tokens(col(textCol))
    val terms =
      if (ngram == 1) toks else TextAnalysis.posNgrams(toks, ngram)
    val tf = docs.select(col(idCol).as("id"),
        explode(terms).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // elig rides its own checkpoint: it is both an input to `weighted`
    // (whose first materialization caches these blocks as a dependency,
    // for free) and a diagnostic readout of its own (q158a) — without
    // the checkpoint that readout would re-run the whole tokenize→tf
    // front. Slim frame: one row per eligible term.
    val elig = dfreq.crossJoin(broadcast(nDocs))
      .where(col("df") >= minDf &&
        col("df") * 1000L <= lit(maxDfPermille) * col("n_docs"))
      .select(col("term"),
        expr("n_docs * 1000000L DIV df").as("q_idf"))
      .localCheckpoint(eager = false)
    // the weight multiply happens IN decimal space (never a transient
    // long product): tf·q_idf at corpus scale exceeds 2⁶³ long before
    // the dot products do. The weighted postings feed THREE consumers
    // (norms + both self-join sides) — materialized once
    // (localCheckpoint) instead of re-running tokenize→tf→join per
    // branch, the q130 prefix discipline.
    val weighted = tf.join(elig, "term")
      .select(col("id"), col("term"),
        (d38(col("tf")) * col("q_idf")).as("w"))
      .localCheckpoint(eager = false)
    val norms = weighted.groupBy("id")
      .agg(count(lit(1)).as("n_terms"), sum(col("w") * col("w")).as("nrm"))
    val pairs = weighted.as("a")
      .join(weighted.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("a.w") * col("b.w")).as("dot"))
      .where(col("n_shared") >= minShared)
    TfidfStages(elig, norms, pairs, weighted)
  }

  /** `cos_key_nano`: a deterministic INTEGER stand-in for cos² in
    * nano-units — `floor(floor(10⁹·dot/lo)·dot/hi)` with
    * `lo/hi = min/max(nrm_a, nrm_b)` — for THRESHOLDING pairs without
    * ever comparing floats across engines. Every weight here is
    * positive, so dot > 0 and Cauchy–Schwarz gives dot ≤ √(lo·hi) ≤ hi;
    * the staged floors then bound `10⁹·cos² − key ∈ [0, 2)` (the inner
    * floor loses < 1, amplified by dot/hi ≤ 1; the outer floor loses
    * < 1), so `key ≥ K` is the predicate `cos² ≥ (K+δ)/10⁹, δ ∈ [0,2)`
    * — within two NANOUNITS of the float gate it replaces, but decided
    * on identical integers in both engines. The staging exists because
    * the direct spellings overflow int128 at sf0.1 (dot² ~ 10⁴¹,
    * nrm_a·nrm_b likewise). The inner floor t = floor(10⁹·dot/lo) is
    * itself assembled in two stages — (dot DIV lo)·10⁹ +
    * ((dot MOD lo)·10⁹) DIV lo, the exact identity for nonnegative
    * operands — and KEPT IN DECIMAL(38,0), so no stage rides a
    * silently-overflowable long: dot DIV lo ≤ √(hi/lo) and
    * ((dot MOD lo)·10⁹) DIV lo < 10⁹ are each long-safe over the
    * ENTIRE decimal domain (the r9 single-stage long t nulled out past
    * norm ratio ~8.5×10¹⁹ — ADVICE r9), and t·dot ≤ 10⁹·cos²·hi ≤
    * 10⁹·hi stays DECIMAL(38,0)/HUGEINT-safe for hi < 10²⁹. The final
    * key is ≤ 10⁹, a plain long. The oracle's one-stage HUGEINT
    * spelling computes the identical integer (int128 never overflows
    * there). A float gate (`cos >= 0.5`) rode
    * the HUGEINT→DOUBLE cast whose rounding drifts across DuckDB
    * releases — the r8 q158 hash-miss class; pairs within one ulp of
    * the threshold could flip MEMBERSHIP, not just a rendered value. */
  private[graft] def cosKeyNano(dot: org.apache.spark.sql.Column,
                                nrmA: org.apache.spark.sql.Column,
                                nrmB: org.apache.spark.sql.Column)
  : org.apache.spark.sql.Column = {
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val giga = lit(1000000000L).cast("decimal(19,0)")
    val lo = least(nrmA, nrmB)
    val hi = greatest(nrmA, nrmB)
    val t = d38(call_function("div", dot, lo)) * giga +
      d38(call_function("div", (dot % lo) * giga, lo))
    call_function("div", t * dot, hi)
      .as("cos_key_nano")
  }

  def chi2Terms(docs: DataFrame, idCol: String, classCol: String,
                textCol: String, topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val pres = docs.select(col(classCol).as("class"), col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .distinct()
    val a = pres.groupBy("class", "term").agg(count(lit(1)).as("a"))
    // n_t = docs containing the term: every doc has exactly one class, so
    // summing a over classes is the document frequency. n_c is counted
    // from the docs table directly (summing a over terms would count each
    // doc once PER DISTINCT TERM and break the contingency).
    val nT = a.groupBy("term").agg(sum(col("a")).as("n_t"))
    val nC = docs.groupBy(col(classCol).as("class"))
      .agg(count(lit(1)).as("n_c"))
    val nn = docs.agg(count(lit(1)).as("n_docs"))
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val joined = a.join(nT, "term").join(broadcast(nC), "class")
      .crossJoin(broadcast(nn))
      .withColumn("b", col("n_t") - col("a"))
      .withColumn("c", col("n_c") - col("a"))
      .withColumn("d",
        col("n_docs") - col("n_t") - col("n_c") + col("a"))
    val diff = d19(col("a")) * d19(col("d")) - d19(col("b")) * d19(col("c"))
    val chi2 = col("n_docs").cast("double") *
      try_divide(diff.cast("double"),
        (d19(col("a") + col("b")) * d19(col("c") + col("d"))).cast("double")) *
      try_divide(diff.cast("double"),
        (d19(col("a") + col("c")) * d19(col("b") + col("d"))).cast("double"))
    val scored = joined.where(diff > lit(0L).cast("decimal(19,0)"))
      .select(col("class"), col("term"), col("a").as("n_class_term"),
        chi2.as("chi2"))
    // window input is the aggregated (class, term) matrix — vocabulary-
    // bounded, the PlanSpec hygiene exception for aggregate-fed windows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("class").orderBy(col("chi2").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
  }

  /** Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1 and
    * the FineWeb reimplementation publish the rule FAMILY; thresholds
    * are corpus-tuned knobs): a document survives only if every
    * per-document rule holds. The four rules kept here are the ones a
    * whitespace-token corpus can express — token-count bounds, mean
    * token length bounds, a minimum stop-word count, and a maximum
    * most-frequent-token share (the repetition rule) — and every one is
    * decided by INTEGER cross-multiplication (`3 ≤ sum_len/n ≤ 10` is
    * `3·n ≤ sum_len ∧ sum_len ≤ 10·n`), so the whole surface is
    * hash-exact with no ratio ever materialized as a float.
    *
    * Scale shape: one token explode into ONE (id, token) count
    * aggregate (map-side combined), reduced per document in a second
    * natural-key aggregate — sum/max over (tf, tf·len, stop-membership)
    * — then a left join back to the full corpus so zero-token documents
    * surface with zeroed features and `keep = 0` (the word-count lower
    * bound rejects them). No window, no self-join; both shuffles are on
    * keys the 100 TB corpus is naturally partitioned by. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  stopwords: Seq[String], minTokens: Long, maxTokens: Long,
                  minAvgLen: Long, maxAvgLen: Long, minStop: Long,
                  maxTopShareNum: Long, maxTopShareDen: Long): DataFrame = {
    require(minTokens >= 1 && maxTokens >= minTokens,
      "token bounds must satisfy 1 <= minTokens <= maxTokens")
    require(maxTopShareNum > 0 && maxTopShareDen > 0,
      "top-share bound must be a positive fraction")
    val tf = docs.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__tf"))
    val feats = tf.groupBy(idCol).agg(
      sum(col("__tf")).as("n_tokens"),
      sum(col("__tf") * length(col("__tok")).cast("long"))
        .as("sum_token_len"),
      sum(when(col("__tok").isin(stopwords: _*), col("__tf"))
        .otherwise(0L)).as("n_stop"),
      max(col("__tf")).as("max_tf"))
    val r = docs.select(col(idCol)).join(feats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_token_len"), lit(0L)).as("sum_token_len"),
        coalesce(col("n_stop"), lit(0L)).as("n_stop"),
        coalesce(col("max_tf"), lit(0L)).as("max_tf"))
    val rWords = col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens
    val rAvgLen = col("sum_token_len") >= lit(minAvgLen) * col("n_tokens") &&
      col("sum_token_len") <= lit(maxAvgLen) * col("n_tokens") &&
      col("n_tokens") > 0L
    val rStop = col("n_stop") >= minStop
    val rRep = col("max_tf") * lit(maxTopShareDen) <=
      col("n_tokens") * lit(maxTopShareNum)
    r.select(col(idCol), col("n_tokens"), col("sum_token_len"),
      col("n_stop"), col("max_tf"),
      rWords.cast("long").as("r_words"),
      rAvgLen.cast("long").as("r_avg_len"),
      rStop.cast("long").as("r_stop"),
      rRep.cast("long").as("r_repetition"),
      (rWords && rAvgLen && rStop && rRep).cast("long").as("keep"))
  }

  /** DSIR-style importance weighting + proportional resampling (Xie et
    * al. 2023 select pretraining data by the likelihood ratio of hashed
    * n-gram unigram models between a target and the raw corpus),
    * re-expressed integer-exact: bigram shingles hash into `buckets`
    * features via the oracle-mirrorable [[TextAnalysis.charPolyHash]],
    * each bucket's weight is the Laplace-smoothed likelihood ratio
    *   w_f = ⌊(t_f+1)·(R+B)·scale / ((r_f+1)·(T+B))⌋
    * (T, R = total target/raw feature occurrences, B = bucket count —
    * the add-one-smoothed p_target(f)/p_raw(f) cross-multiplied into one
    * integer), a document's weight is the floored mean over its
    * shingles, and `sampled` keeps the document with probability
    * proportional to its weight through the deterministic content-hash
    * coin `(polyhash('dsir:'||id)·48271 mod p) mod (2·scale) < weight`
    * — the q116 split discipline plus one Lehmer-style multiplicative
    * mix (48271 is the MINSTD multiplier; p = 10⁹+7 the hash modulus).
    * The mix is load-bearing: polyhashes of 'dsir:'||id for CONSECUTIVE
    * ids are consecutive integers in one narrow band, so reducing them
    * by a modulus of the same magnitude as the band would make the coin
    * an id-range test, not a coin; one multiplication mod p scatters
    * the band across the full residue range (measured: the unmixed coin
    * kept 2% of a ratio≈1 corpus, the mixed one the expected ~50%).
    * The 2·scale coin modulus sets the acceptance rate at
    * weight/(2·scale) — i.e. ~50% for a ratio-1 document — keeping the
    * decision informative on corpora whose bucket ratios cluster near 1
    * (a mod-scale coin would accept nearly everything there). The paper
    * sums LOG ratios; the mean-of-ratios spelling keeps the identical
    * monotone "towards-target" ordering signal while staying in
    * integers (a libm log would be the one engine-divergent op in the
    * chain).
    *
    * The cross-multiplied numerator (t_f+1)·(R+B)·scale can exceed
    * int64 on a big corpus, so the weight arithmetic runs in
    * DECIMAL(38,0) (≈10³⁸ headroom: ~10¹² target shingles × ~10¹³ raw ×
    * 10⁶ scale still fits) and only the per-document BIGINT mean leaves
    * the decimal domain. Scale shape = [[affinityScore]]: explode,
    * bucket aggregate (map-side combined), broadcast weight table,
    * per-doc aggregate, left join for shingle-less docs. */
  def dsirWeight(docs: DataFrame, idCol: String, textCol: String,
                 targetPred: org.apache.spark.sql.Column, buckets: Int,
                 scale: Long = 1000000L): DataFrame = {
    require(buckets > 0 && scale > 0, "buckets and scale must be positive")
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val feats = docs.select(col(idCol), targetPred.as("__t"),
        explode(TextAnalysis.ngramShingles(
          TextAnalysis.tokens(col(textCol)), 2)).as("__sh"))
      .select(col(idCol), col("__t"),
        (TextAnalysis.charPolyHash(col("__sh")) % buckets).as("f"))
    val perBucket = feats.groupBy("f")
      .agg(count(lit(1)).as("r_f"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("t_f"))
    val totals = perBucket.agg(sum(col("r_f")).as("__R"),
      sum(col("t_f")).as("__T"))
    val w = perBucket.crossJoin(broadcast(totals))
      .select(col("f"), call_function("div",
        d38(col("t_f") + 1L) * d38(col("__R") + buckets.toLong) * d38(lit(scale)),
        d38(col("r_f") + 1L) * d38(col("__T") + buckets.toLong))
        .cast("long").as("w"))
    val scored = feats.join(broadcast(w), Seq("f"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"), sum("w").as("__sw"))
      .select(col(idCol), col("n_shingles"),
        expr("__sw div n_shingles").as("weight_ppm"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("weight_ppm"), lit(0L)).as("weight_ppm"))
      .withColumn("sampled",
        (TextAnalysis.charPolyHash(
          concat(lit("dsir:"), col(idCol).cast("string"))) * 48271L %
          1000000007L % (2L * scale) <
          col("weight_ppm")).cast("long"))
  }

  /** Per-group n-gram diversity — the corpus-level repetitiveness
    * readout (the Self-BLEU / distinct-n family's scalable member): for
    * each group (source, lang, shard), total positional n-gram
    * OCCURRENCES, corpus-wide DISTINCT n-grams, and their ratio as
    * integer ppm. A low ratio marks a template-heavy or boilerplate
    * source (the signal distillation/curation pipelines use to
    * down-weight crawls); [[dupSpans]] is the per-document dual. All
    * columns int64 (ppm floor division mirrors DuckDB `//`, both
    * operands non-negative); a group with no n-grams (every doc shorter
    * than n) keeps its row with zeros. Scale shape: one explode, one
    * (group, term) hash aggregate (map-side combined — the classic
    * two-stage distinct count, no windows), one group rollup. */
  def ngramDiversity(docs: DataFrame, idCol: String, textCol: String,
                     groupCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val occ = docs.select(col(groupCol).as("grp"),
        explode(TextAnalysis.posNgrams(
          TextAnalysis.tokens(col(textCol)), n)).as("term"))
      .groupBy(col("grp"), col("term"))
      .agg(count(lit(1)).as("occ"))
    val agg = occ.groupBy("grp")
      .agg(sum(col("occ")).as("n_ngrams"),
        count(lit(1)).as("n_distinct"))
    docs.select(col(groupCol).as("grp")).distinct()
      .join(agg, Seq("grp"), "left")
      .select(col("grp").as(groupCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
      .withColumn("diversity_ppm",
        when(col("n_ngrams") > 0L,
          expr("(n_distinct * 1000000) div n_ngrams")).otherwise(0L))
  }

  /** Data-constrained mixing planner (Muennighoff et al. 2023,
    * "Scaling data-constrained language models", arXiv:2305.16264): given
    * a token budget and an equal per-source target share, how many
    * EPOCHS (repeats) of each source fill its share, under a repeat cap
    * beyond which the paper shows returns decay (R* ≈ 4)? Per source:
    * token inventory, the equal-share target (`budget div n_sources`),
    * the planned tokens (`min(target, cap·inventory)`), the epoch count
    * (`ceil(planned / inventory)` spelled as the positive-integer
    * identity `(a + b - 1) div b`), and the shortfall the cap leaves
    * unfilled. Every column is int64 arithmetic on counts — the planner
    * is a pure integer readout, trivially hash-checkable. A source with
    * ZERO tokens plans zero epochs and surfaces its full target as
    * shortfall. Scale shape: one map-side-combined per-source aggregate
    * over token counts ([[TextAnalysis.tokens]] sizes, no explode —
    * `size()` of the token array), then constant arithmetic. */
  def repeatPlan(docs: DataFrame, textCol: String, sourceCol: String,
                 budgetTokens: Long, maxEpochs: Long): DataFrame = {
    require(budgetTokens >= 0 && maxEpochs >= 1,
      s"need budgetTokens >= 0 and maxEpochs >= 1, " +
        s"got $budgetTokens/$maxEpochs")
    val inv = docs.select(col(sourceCol).as("source"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("__tk"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("__tk")).as("n_tokens"))
    val nSources = inv.agg(count(lit(1)).as("__ns"))
    val withTarget = inv.crossJoin(broadcast(nSources))
      .withColumn("target_tokens", expr(s"${budgetTokens}L div __ns"))
    withTarget
      .withColumn("planned_tokens",
        least(col("target_tokens"), col("n_tokens") * maxEpochs))
      .withColumn("n_epochs",
        when(col("n_tokens") > 0L,
          expr("(planned_tokens + n_tokens - 1) div n_tokens"))
          .otherwise(0L))
      .withColumn("shortfall",
        col("target_tokens") - col("planned_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("target_tokens"), col("planned_tokens"), col("n_epochs"),
        col("shortfall"))
  }

  /** Exact duplicate-span REMOVAL — the transform counterpart of
    * [[dupSpans]]'s detector (Lee et al. 2021, "Deduplicating training
    * data makes language models better", arXiv:2107.06499 — the
    * substring-level dedup their suffix-array pass performs, at the
    * word-n-gram grain this engine's relational spelling supports): a
    * token is scrubbed iff ANY cross-document duplicate n-gram window
    * covers it, and the output is the CLEANED text plus removal
    * accounting — what a user materializes, where [[dupSpans]] only
    * reports shares.
    *
    * Coverage is the windowed maximum of the duplicate-start flag over
    * the last n positions of each document's DENSE token series (ROWS
    * frame ≡ position frame because every position is present) — a
    * per-DOCUMENT window, fine-grained keys that multiply with the
    * corpus, never a bounded-dimension partition. Reassembly is the
    * q162 sort_array(collect_list(struct(pos, ·))) discipline: per-doc
    * state bounded by the document length. All-integer flags, one
    * string surface (the cleaned text — exact token join, no float). */
  def dedupScrub(docs: DataFrame, idCol: String, textCol: String,
                 n: Int, hotDf: Long = 1000L,
                 metricName: String = "dedup_scrub"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"span grain must be >= 1, got $n")
    require(hotDf >= 2L, s"hotDf must be >= 2, got $hotDf")
    // metricName: Spark requires observed-metric names to be UNIQUE
    // within a plan, so a query composing two scrub frames (e.g. a
    // two-grain comparison join) must name them apart or analysis fails
    val toks = docs.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__tk"))
    val pos = toks.select(col(idCol),
      posexplode(TextAnalysis.posNgrams(col("__tk"), n))
        .as(Seq("pos", "shingle")))
    // cap-and-observe (the q38/q158 posting discipline, VERDICT r11):
    // the per-shingle distinct-doc count is map-side-combinable, so a
    // boilerplate corpus (one shingle in most documents) cannot BREAK
    // the aggregate — but it should not stay invisible either. The
    // "dedup_scrub" metric surfaces the hot tail: shingles whose
    // document frequency exceeds hotDf, the max df seen, and the dup
    // count, so a 100 TB run can alert on boilerplate hot keys without
    // changing the scrub's semantics (no shingle is dropped — a hot
    // shingle is exactly a duplicate worth scrubbing).
    val dup = pos.groupBy("shingle")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .observe(metricName,
        sum(when(col("__nd") > hotDf, 1L).otherwise(0L)).as("hot_shingles"),
        max(col("__nd")).as("max_df"),
        sum(when(col("__nd") >= 2L, 1L).otherwise(0L)).as("dup_shingles"))
      .where(col("__nd") >= 2L)
      .select(col("shingle"), lit(1L).as("__st"))
    val starts = pos.join(dup, Seq("shingle"))
      .select(col(idCol), col("pos"), col("__st"))
    val tokpos = toks.select(col(idCol),
      posexplode(col("__tk")).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(n - 1), 0)
    val cov = tokpos.join(starts, Seq(idCol, "pos"), "left")
      .withColumn("covered",
        max(coalesce(col("__st"), lit(0L))).over(w))
    val agg = cov.groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("covered")).as("n_removed"),
        concat_ws(" ", transform(sort_array(collect_list(
            when(col("covered") === 0L,
              struct(col("pos"), col("tok"))))),
          s => s.getField("tok"))).as("clean_text"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Code-switch / language-consistency detector: language-ID the FIRST
    * half and SECOND half of each document's token stream independently
    * (the same marker-word scorer as the corpus language-ID pass) and
    * flag documents whose halves disagree — mixed-language pages are a
    * known quality hazard for monolingual training slices, and the
    * half-split is the cheapest detector that needs no per-segment
    * model. Deterministic end-to-end: integer marker counts, the
    * language-ID pass's fixed tie order, and a boolean flag; an EMPTY
    * doc scores 0 everywhere and both halves resolve to the tie-order
    * head — never mixed. (A 1-token doc splits into an empty head and a
    * 1-token tail, so the tail CAN language-ID away from the tie-order
    * head and flag as mixed — a deliberate edge both engines agree on.)
    * Scale shape: one projection, no explode, no join, no shuffle. */
  def codeSwitch(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val bound = docs.select(col(idCol),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .withColumn("__m", size(col("__tk")).cast("long"))
    def predict(half: org.apache.spark.sql.Column) =
      TextAnalysis.predictedLang(TextAnalysis.langScores(half))
    bound
      // `div`, not `/`: Column./ on longs is a DOUBLE divide
      .withColumn("__head",
        slice(col("__tk"), lit(1), expr("CAST(__m div 2 AS INT)")))
      .withColumn("__tail",
        slice(col("__tk"), expr("CAST(__m div 2 + 1 AS INT)"),
          expr("CAST(__m - __m div 2 AS INT)")))
      .select(col(idCol), col("__m").as("n_tokens"),
        predict(col("__head")).as("lang_head"),
        predict(col("__tail")).as("lang_tail"))
      .withColumn("is_mixed", col("lang_head") =!= col("lang_tail"))
  }

  /** t-closeness audit (Li et al. 2007, ICDE — the distributional
    * member of the privacy family next to k-anonymity and l-diversity):
    * for each quasi-identifier class, the distance between the class's
    * sensitive-attribute distribution and the GLOBAL one — for a
    * categorical attribute the paper's EMD reduces to total variation,
    * TV = ½·Σ_v |p_c(v) − p(v)|. Spelled exactly: the per-value term is
    * |n_cv·N − n_v·n_c| cross-multiplied in DECIMAL(38,0) (never a
    * float probability), summed over the FULL value domain (absent
    * (class, value) pairs contribute n_v·n_c — the bounded class×value
    * grid is built by crossing two aggregate frames, constant ×
    * constant), and surfaced as integer ppm
    * `(Σterms·10⁶) div (2·n_c·N)` — exact floor division, value ≤ 10⁶
    * so the BIGINT cast is lossless at any corpus size. `violates` is
    * the audit verdict against the caller's threshold, cross-multiplied
    * (tv > t ⟺ Σterms·tDen > 2·n_c·N·tNum). */
  def tCloseness(docs: DataFrame, classCol: String, valueCol: String,
                 tNum: Long, tDen: Long): DataFrame = {
    require(tNum >= 0 && tDen > 0, s"need t >= 0 as a ratio, $tNum/$tDen")
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val counts = docs.groupBy(col(classCol).as("cls"),
        col(valueCol).as("v"))
      .agg(count(lit(1)).as("n_cv"))
    val perClass = counts.groupBy("cls").agg(sum(col("n_cv")).as("n_c"))
    val perVal = counts.groupBy("v").agg(sum(col("n_cv")).as("n_v"))
    val total = perVal.agg(sum(col("n_v")).as("__N"))
    val grid = perClass.crossJoin(broadcast(perVal))
      .join(counts, Seq("cls", "v"), "left")
      .crossJoin(broadcast(total))
      .select(col("cls"), col("n_c"), col("__N"),
        abs(d38(coalesce(col("n_cv"), lit(0L))) * d38(col("__N")) -
          d38(col("n_v")) * d38(col("n_c"))).as("__term"))
    grid.groupBy("cls")
      .agg(first(col("n_c")).as("n_rows"), first(col("__N")).as("__N2"),
        sum(col("__term")).as("__num"))
      .select(col("cls").as(classCol), col("n_rows"),
        // div (IntegralDivide), never `/`: decimal `/` then a (38,0)
        // cast would round HALF_UP where DuckDB's `//` floors
        call_function("div", col("__num") * lit(1000000L),
          d38(col("n_rows")) * col("__N2") * lit(2L))
          .cast("long").as("tv_ppm"),
        (col("__num") * lit(tDen) >
          d38(col("n_rows")) * col("__N2") * lit(2L * tNum))
          .cast("long").as("violates"))
  }

  /** Balanced shard planner — assign every document to one of `nShards`
    * output shards so the per-shard TOKEN mass is even (the write-side
    * step of any corpus materialization: unbalanced shards straggle the
    * next job's longest task): rank documents by token count descending
    * (two-pass global rank — no one-task window) and deal them in a
    * SNAKE (boustrophedon) round-robin, the deterministic spelling of
    * longest-processing-time-first scheduling — rounds of 2k ranks deal
    * 0..k−1 then k−1..0, so every shard sees one large+one small per
    * round and the max/min shard-mass gap is bounded by one document.
    * All int64, fully hash-checkable; ties rank by id. */
  def shardPlan(docs: DataFrame, idCol: String, textCol: String,
                nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val sizes = docs.select(col(idCol),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
    val ranked = graft.operators.Rank.globalRank(sizes,
      Seq(col("n_tokens").desc, col(idCol).asc), "rank")
    val k2 = 2L * nShards
    ranked.select(col(idCol), col("n_tokens"),
      col("rank").cast("long").as("rank"),
      expr(s"CASE WHEN (rank - 1) % $k2 < $nShards " +
        s"THEN (rank - 1) % $k2 " +
        s"ELSE $k2 - 1 - ((rank - 1) % $k2) END").as("shard"))
  }

  /** Tokenizer fertility by language — tokens produced per character of
    * raw text, the standard multilingual-tokenizer efficiency readout
    * (a language with high chars-per-token pays more sequence length for
    * the same text; pipelines use the ratio to balance per-language
    * token budgets). Per language: documents, whitespace tokens, chars
    * (the table's own `n_chars` inventory column — no engine-specific
    * string-length semantics on the hashed surface), and tokens per
    * MILLION chars as integer floor division. All int64; a language with
    * zero chars surfaces a zero rate. Scale shape: one map-side-combined
    * aggregate, no explode ([[TextAnalysis.tokens]] sizes via `size()`). */
  def tokenizerFertility(docs: DataFrame, textCol: String,
                         langCol: String, charsCol: String): DataFrame =
    docs.select(col(langCol).as("lang"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("__tk"),
        col(charsCol).cast("long").as("__ch"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("__tk")).as("n_tokens"),
        sum(col("__ch")).as("n_chars"))
      .withColumn("tokens_per_mchar",
        when(col("n_chars") > 0L,
          expr("(n_tokens * 1000000) div n_chars")).otherwise(0L))
}
