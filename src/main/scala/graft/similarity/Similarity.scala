package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Embeddings are scalar-quantized to int64 (round(x * 1e5)) before any
  * arithmetic: integer dot products are exact and summation-order-free, so
  * scores are bit-identical regardless of partitioning — and they verify
  * against a SQL oracle. The quantization error (~1e-5 relative) is far
  * below float32 embedding noise.
  *
  * Scale design: queries are the broadcast side (a query batch is small);
  * the corpus is never shuffled for brute force — each corpus partition
  * scores locally and reduces to at most k rows per query BEFORE anything
  * moves (a local sort + bounded scan, no shuffle), so the only data that
  * crosses the wire is k × partitions candidate rows per query. The final
  * exact rank runs over that bounded survivor set. A window partitioned
  * only by query_id over the full scored corpus — the naive formulation —
  * would route every scored row to one reducer per query and die at scale.
  * The LSH variant additionally bounds the scored candidates per query by
  * bucket size.
  */
object Similarity {

  val Scale = 100000.0

  /** Scalar quantization: array<float> → array<long> of round(x*1e5).
    * Evaluated by the native codegen kernel
    * [[graft.expressions.QuantizeEmbedding]] — the `transform` HOF it
    * replaces ran interpreted upstream of every intDot; value-identical
    * ([[quantizeHof]] is the executable spec, TextKernelsSpec parity). */
  def quantize(emb: Column): Column =
    graft.expressions.QuantizeEmbedding.quantizeOf(emb)

  /** The replaced HOF spelling of [[quantize]], kept as the executable
    * specification the kernel is parity-tested against. */
  private[graft] def quantizeHof(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * lit(Scale)).cast("long"))

  /** Exact integer dot product of two quantized vectors — a native
    * codegen'd Catalyst expression ([[graft.expressions.IntDotProduct]]);
    * the equivalent `aggregate(zip_with(...))` spelling runs interpreted. */
  def intDot(a: Column, b: Column): Column =
    graft.expressions.IntDotProduct.intDot(a, b)

  /** Group-wise mean-pool + L2-normalize of embeddings (chunk embeddings →
    * document embedding, document embeddings → cluster centroid — the
    * standard retrieval-pipeline pooling), emitted EXPLODED as
    * (groupCol, dim, s_q, unit): s_q is the exact integer sum of the
    * quantized components and unit = s_q / sqrt(Σ_d s_q²) — the
    * mean-pool's L2 unit vector (the 1/n mean factor cancels under
    * normalization, so no division by the group size ever happens and
    * every value is either an exact integer or one deterministic
    * divide-by-sqrt).
    *
    * Determinism at scale: floating-point sums over a group are
    * partition-order-dependent, so pooling sums QUANTIZED longs (exact,
    * commutative); the norm accumulates s_q² into DECIMAL(38,0) (exact at
    * any group size — two billion-row groups of ±1e5-scaled components
    * stay under 38 digits). Shape: one slim (group, dim, q) explode, two
    * map-side-combined hash aggregates, one broadcast-sized join back on
    * group — never a per-group collect. */
  def pooledUnitEmbeddings(emb: DataFrame, groupCol: String,
                           vecCol: String): DataFrame = {
    val q = emb.select(col(groupCol).as("group_id"),
        posexplode(quantize(col(vecCol))))
      .select(col("group_id"), col("pos").cast("long").as("dim"),
        col("col").as("q"))
    val sums = q.groupBy("group_id", "dim").agg(sum(col("q")).as("s_q"))
    val norms = sums.groupBy("group_id")
      // cast BEFORE multiplying: a long×long square overflows silently at
      // |s_q| > 3e9 (≈30k-doc groups); (18,0)×(18,0) → exact decimal
      .agg(sum(col("s_q").cast("decimal(18,0)") *
        col("s_q").cast("decimal(18,0)")).as("__n2"))
    sums.join(norms, "group_id")
      .select(col("group_id"), col("dim"), col("s_q"),
        try_divide(col("s_q").cast("double"), sqrt(col("__n2").cast("double")))
          .as("unit"))
  }

  /** Cosine from quantized dot + squared norms (scale cancels). try_divide:
    * an all-zero vector has norm 0 — its cosine is NULL (ranked last), not
    * an ANSI DIVIDE_BY_ZERO error. */
  def cosineQ(dot: Column, normA: Column, normB: Column): Column =
    try_divide(dot.cast("double"),
      sqrt(normA.cast("double")) * sqrt(normB.cast("double")))

  private def withQuantized(df: DataFrame, id: String, emb: String,
                            vCol: String, nCol: String): DataFrame =
    df.select(col(id), col(emb), quantize(col(emb)).as(vCol))
      .withColumn(nCol, intDot(col(vCol), col(vCol)))

  /** Exact top-k per query over a scored frame (query_id, `idCol`, cosine):
    * 1. local sort within each partition (no shuffle) + a bounded
    *    single-pass scan keeping at most k rows per query per partition —
    *    any global top-k row is a local top-k row, so this loses nothing;
    * 2. exact rank window over the surviving ≤ k × partitions rows per
    *    query, with the deterministic (cosine desc, id asc) tie-break.
    */
  private[graft] def topKPerQuery(scored: DataFrame, idCol: String, k: Int): DataFrame =
    topKPerQueryOrdered(scored, idCol, k,
      Seq(col("cosine").desc, col(idCol).asc))

  /** [[topKPerQuery]] generalized over the ranking order (cosine ranks
    * DESCENDING, a distance like PQ's ADC ranks ASCENDING): same bounded
    * local-scan-then-exact-rank shape, with `order` driving both the
    * within-partition sort and the rank window. `order` MUST be total per
    * query (end it with an id tie-break), or the rank is nondeterministic. */
  private[graft] def topKPerQueryOrdered(scored: DataFrame, idCol: String,
                                         k: Int,
                                         order: Seq[Column]): DataFrame = {
    val sorted = scored.sortWithinPartitions(col("query_id") +: order: _*)
    val qIdx = scored.schema.fieldIndex("query_id")
    val local = sorted.mapPartitions { it =>
      var prev: Any = null
      var n = 0
      var first = true
      it.filter { r =>
        val q = r.get(qIdx)
        if (first || q != prev) { prev = q; n = 1; first = false }
        else n += 1
        n <= k
      }
    }(Encoders.row(scored.schema))
    val w = Window.partitionBy(col("query_id")).orderBy(order: _*)
    local.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Brute-force cosine top-k: every corpus vector scored against every
    * query (queries broadcast); per-partition bounded top-k then exact
    * merge — see [[topKPerQuery]]. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, embCol: String, k: Int): DataFrame = {
    val q = withQuantized(queries, idCol, embCol, "qv", "qn")
      .withColumnRenamed(idCol, "query_id").drop(embCol)
    val c = withQuantized(corpus, idCol, embCol, "cv", "cn").drop(embCol)
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol),
        cosineQ(intDot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
    topKPerQuery(scored, idCol, k)
  }

  /** Hard-negative mining for contrastive/metric training data: for each
    * query vector, the top-k most-similar corpus vectors whose LABEL
    * differs — the "hardest" negatives, the pairs that teach a metric
    * model the most (the standard in-batch-negatives upgrade every
    * embedding-training pipeline ships). Same exact quantized-cosine
    * arithmetic and bounded partition-local top-k as [[bruteForceTopK]];
    * the label inequality also excludes the query itself for free. The
    * queries ride one broadcast (bounded query set — the q19 contract);
    * at 100 TB the same scoring runs per IVF probe list instead of the
    * full corpus, exactly like q32 gates q19. Labels are compared
    * AS-IS (string class names work — no lossy numeric cast); rows with
    * a NULL label are conservatively excluded from both sides, since an
    * unknown label cannot be certified a negative. */
  def hardNegatives(emb: DataFrame, idCol: String, embCol: String,
                    labelCol: String,
                    queryPred: Column, k: Int): DataFrame = {
    val base = emb.select(col(idCol), col(labelCol).as("__lab"),
        quantize(col(embCol)).as("__v"))
      .withColumn("__n", intDot(col("__v"), col("__v")))
    val q = base.where(queryPred)
      .select(col(idCol).as("query_id"), col("__lab").as("__qlab"),
        col("__v").as("__qv"), col("__n").as("__qn"))
    val scored = base.crossJoin(broadcast(q))
      .where(col("__lab") =!= col("__qlab"))
      .select(col("query_id"), col(idCol),
        cosineQ(intDot(col("__qv"), col("__v")), col("__qn"), col("__n"))
          .as("cosine"))
    topKPerQuery(scored, idCol, k)
  }

  /** [[hardNegatives]] composed over the IVF probe-list gate — the
    * mining pass as a 100 TB pipeline actually runs it: the hardest
    * other-label neighbors are drawn from the query's `nProbe` probed
    * lists instead of the full corpus (the q32 gate; same exact gated
    * arithmetic as [[knnLabelEvalGated]]). The label inequality drops
    * NULL-label rows from both sides, as in the exact variant. */
  def hardNegativesGated(emb: DataFrame, idCol: String, embCol: String,
                         labelCol: String, queryPred: Column, k: Int,
                         cents: Seq[Seq[Long]], nProbe: Int): DataFrame = {
    val base = labeledBase(emb, idCol, embCol, labelCol, castLong = false)
    val scored = ivfGatedScored(base, idCol, queryPred, cents, nProbe)
      .where(col("__lab") =!= col("__qlab"))
      .select(col("query_id"), col(idCol), col("cosine"))
    topKPerQuery(scored, idCol, k)
  }

  /** Label-aware retrieval evaluation over the exact cosine ranking —
    * the embedding-quality readout (MRR, hits@k) every retrieval/
    * metric-learning pipeline reports: for each query vector, the rank
    * of the FIRST same-label neighbor (`first_rel_rank`), the number of
    * same-label neighbors in the top k (`hits_at_k`), and the
    * reciprocal rank (`rr` = 1/first_rel_rank — the one mirrored float
    * divide on the surface; everything else is integer). The query's
    * own row is excluded; a query with no same-label neighbor anywhere
    * surfaces NULL rank/rr and 0 hits.
    *
    * Spelled without a corpus-sized window: hits@k rides the bounded
    * partition-local [[topKPerQuery]]; first_rel_rank is the aggregate
    * identity rank(best) = 1 + |{candidates strictly before it}| over
    * the total (cosine DESC, id ASC) order — the best same-label
    * neighbor comes from a k=1 top-k on the label-filtered pairs, and
    * the strictly-before count is one map-side-combinable aggregate.
    * The scored pair frame is localCheckpointed once and feeds all
    * three readouts. Queries are a bounded broadcast (the q19/q221
    * contract). */
  def knnLabelEval(emb: DataFrame, idCol: String, embCol: String,
                   labelCol: String,
                   queryPred: Column, k: Int): DataFrame = {
    val base = labeledBase(emb, idCol, embCol, labelCol, castLong = false)
    val q = base.where(queryPred)
      .select(col(idCol).as("query_id"), col("__lab").as("__qlab"),
        col("__v").as("__qv"), col("__n").as("__qn"))
    val scored = base.crossJoin(broadcast(q))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), col("__qlab"), col("__lab"),
        cosineQ(intDot(col("__qv"), col("__v")), col("__qn"), col("__n"))
          .as("cosine"))
      .localCheckpoint(eager = false)
    knnEvalReadout(q.select(col("query_id")), scored, idCol, k)
  }

  /** The (id, __lab, __v, __n) prologue every labeled-retrieval operator
    * binds: label (optionally cast to int64 — the classify/noise family's
    * all-int surface), quantized vector, squared norm. One definition so
    * the exact and IVF-gated variants can never prepare apart. */
  private def labeledBase(emb: DataFrame, idCol: String, embCol: String,
                          labelCol: String, castLong: Boolean): DataFrame =
    emb.select(col(idCol),
        (if (castLong) col(labelCol).cast("long") else col(labelCol))
          .as("__lab"),
        quantize(col(embCol)).as("__v"))
      .withColumn("__n", intDot(col("__v"), col("__v")))

  /** [[knnLabelEval]]'s metric readout (hits@k via bounded top-k,
    * first_rel_rank via the aggregate rank identity, rr) over a prepared
    * scored-pair frame (query_id, idCol, __qlab, __lab, cosine) — shared
    * by the exact and IVF-gated variants so the rank identity has ONE
    * spelling. `qIds` is the query universe (one row per query_id);
    * queries with no scored candidate surface (NULL, 0, NULL). */
  private def knnEvalReadout(qIds: DataFrame, scored: DataFrame,
                             idCol: String, k: Int): DataFrame = {
    val hits = topKPerQuery(scored, idCol, k)
      .groupBy("query_id")
      .agg(sum(when(col("__lab") === col("__qlab"), 1L).otherwise(0L))
        .as(s"hits_at_$k"))
    val bestRel =
      topKPerQuery(scored.where(col("__lab") === col("__qlab")), idCol, 1)
        .select(col("query_id"), col(idCol).as("__rid"),
          col("cosine").as("__bcos"))
    val firstRel = scored.join(bestRel, Seq("query_id"))
      .groupBy("query_id")
      .agg((sum(when(col("cosine") > col("__bcos") ||
          (col("cosine") === col("__bcos") && col(idCol) < col("__rid")),
          1L).otherwise(0L)) + 1L).as("first_rel_rank"))
    qIds
      .join(firstRel, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("first_rel_rank"),
        coalesce(col(s"hits_at_$k"), lit(0L)).as(s"hits_at_$k"),
        (lit(1.0) / col("first_rel_rank").cast("double")).as("rr"))
  }

  /** IVF-gated labeled scoring pass — the 100 TB shape of the whole
    * retrieval-eval family, registered instead of prose: each query
    * probes its `nProbe` nearest inverted lists under the caller's
    * trained coarse quantizer (EXACTLY the [[ivfTopK]] gate q32 proves)
    * and scores only corpus vectors assigned to those lists, so the
    * per-query candidate volume is ~nProbe/nCentroids of the corpus
    * instead of all of it. Self is excluded; assignment, probe order,
    * and cosine are the same exact integer arithmetic as [[ivfTopK]],
    * so every gated readout stays hash-checkable. Input `base` is a
    * [[labeledBase]] frame; output is (query_id, idCol, __qlab, __lab,
    * cosine) — the [[knnEvalReadout]]/[[majorityVotes]] contract. */
  private def ivfGatedScored(base: DataFrame, idCol: String,
                             queryPred: Column, cents: Seq[Seq[Long]],
                             nProbe: Int): DataFrame = {
    require(nProbe > 0 && nProbe <= cents.size,
      s"nProbe must be in [1, ${cents.size}], got $nProbe")
    val cNorms: Seq[Long] = cents.map(v => v.map(x => x * x).sum)
    val withKey = base.withColumn("__key", centKeys(cents, cNorms, col("__v")))
    val c = withKey.withColumn("list_id", nearestCid)
      .select(col(idCol), col("__lab"), col("__v"), col("__n"),
        col("list_id"))
    val q = withKey.where(queryPred)
      .withColumn("__probe", probeListCol(cents.size, nProbe))
      .select(col(idCol).as("query_id"), col("__lab").as("__qlab"),
        col("__v").as("__qv"), col("__n").as("__qn"),
        explode(col("__probe")).as("list_id"))
    // each corpus vector lives in exactly ONE list and each query probes
    // nProbe DISTINCT lists, so a (query, candidate) pair joins at most
    // once — no dedup needed (the ivfTopK invariant)
    c.join(broadcast(q), Seq("list_id"))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), col("__qlab"), col("__lab"),
        cosineQ(intDot(col("__qv"), col("__v")), col("__qn"), col("__n"))
          .as("cosine"))
  }

  /** [[knnLabelEval]] composed over the IVF probe-list gate — MRR,
    * hits@k, and first-relevant rank computed against the candidates in
    * each query's `nProbe` probed lists instead of the full corpus (the
    * q32 gate applied to the q222 readout). Ranks are ranks WITHIN the
    * gated candidate set — the number a production retrieval system
    * actually observes; the recall delta the gate introduces vs the
    * exact ranking is pinned separately (the q179/q240 audit). */
  def knnLabelEvalGated(emb: DataFrame, idCol: String, embCol: String,
                        labelCol: String, queryPred: Column, k: Int,
                        cents: Seq[Seq[Long]], nProbe: Int): DataFrame = {
    val base = labeledBase(emb, idCol, embCol, labelCol, castLong = false)
    val scored = ivfGatedScored(base, idCol, queryPred, cents, nProbe)
      .localCheckpoint(eager = false)
    knnEvalReadout(base.where(queryPred).select(col(idCol).as("query_id")),
      scored, idCol, k)
  }

  /** kNN label propagation — the standard semi-supervised labeling /
    * weak-supervision pass of an embedding pipeline: each query vector is
    * assigned the MAJORITY label of its k nearest neighbors under the
    * exact quantized cosine (self excluded), ties broken by smallest
    * label. Output surface is all-int64 (`query_id, pred_label, votes`);
    * the cosine only drives the neighbor ORDER, which both engines
    * compute with the identical mirrored float ops (the q19/q222
    * ranking discipline). Candidates with a NULL label are excluded —
    * an unknown label cannot vote. Scale shape: same broadcast-queries +
    * partition-local bounded top-k as [[bruteForceTopK]], then a ≤k-row
    * per-query majority aggregate; at 100 TB the scoring runs per IVF
    * probe list (the q32 gate) instead of the full corpus. */
  def knnClassify(emb: DataFrame, idCol: String, embCol: String,
                  labelCol: String,
                  queryPred: Column, k: Int): DataFrame = {
    val base = labeledBase(emb, idCol, embCol, labelCol, castLong = true)
    val q = base.where(queryPred)
      .select(col(idCol).as("query_id"), col("__v").as("__qv"),
        col("__n").as("__qn"))
    val scored = base.where(col("__lab").isNotNull)
      .crossJoin(broadcast(q))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), col("__lab"),
        cosineQ(intDot(col("__qv"), col("__v")), col("__qn"), col("__n"))
          .as("cosine"))
    majorityVotes(scored, idCol, k)
  }

  /** [[knnClassify]]'s k-neighbor majority over a prepared scored frame
    * (query_id, idCol, __lab, cosine) — shared by the exact and
    * IVF-gated variants. Majority via struct-max (votes desc, label
    * asc) — an aggregate, not a per-query window: the vote frame is ≤ k
    * rows per query but the aggregate spelling keeps the reduction
    * map-side-combinable. */
  private def majorityVotes(scored: DataFrame, idCol: String,
                            k: Int): DataFrame = {
    val votes = topKPerQuery(scored, idCol, k)
      .groupBy(col("query_id"), col("__lab"))
      .agg(count(lit(1)).as("votes"))
    val m = votes.groupBy("query_id")
      .agg(max(struct(col("votes"), (-col("__lab")).as("negLab")))
        .as("__m"))
    m.select(col("query_id"), (-col("__m.negLab")).as("pred_label"),
      col("__m.votes").as("votes"))
  }

  /** [[knnClassify]] composed over the IVF probe-list gate (the q32
    * gate applied to the q224 majority): neighbors come from the
    * query's `nProbe` probed lists only — the label-propagation shape
    * that actually runs at 100 TB. NULL-label candidates are excluded
    * AFTER gating (an unknown label cannot vote); Catalyst pushes the
    * filter below the probe join, so no labeled-out row ever rides
    * the shuffle. */
  def knnClassifyGated(emb: DataFrame, idCol: String, embCol: String,
                       labelCol: String, queryPred: Column, k: Int,
                       cents: Seq[Seq[Long]], nProbe: Int): DataFrame = {
    val base = labeledBase(emb, idCol, embCol, labelCol, castLong = true)
    val scored = ivfGatedScored(base, idCol, queryPred, cents, nProbe)
      .where(col("__lab").isNotNull)
      .select(col("query_id"), col(idCol), col("__lab"), col("cosine"))
    majorityVotes(scored, idCol, k)
  }

  /** Label-noise audit (the kNN-disagreement core of confident
    * learning, Northcutt et al. 2021, arXiv:1911.00068 §"pruning by
    * noise rate" simplified to its relational essence): for each
    * labeled query vector, the [[knnClassify]] neighborhood majority
    * next to the point's OWN label — a disagreement (`suspect` = 1)
    * marks a candidate mislabel for human review or down-weighting, the
    * standard pre-training label-QA pass. All-int64 surface; same
    * broadcast-queries bounded-top-k shape as the rest of the family. */
  def labelNoiseAudit(emb: DataFrame, idCol: String, embCol: String,
                      labelCol: String,
                      queryPred: Column, k: Int): DataFrame =
    noiseReadout(emb, idCol, labelCol,
      knnClassify(emb, idCol, embCol, labelCol, queryPred, k))

  /** [[labelNoiseAudit]] composed over the IVF probe-list gate — the
    * disagreement audit a 100 TB pipeline actually runs: the kNN
    * majority comes from [[knnClassifyGated]]'s probe-list neighbors
    * instead of a full-corpus scan. Same all-int64 surface. */
  def labelNoiseAuditGated(emb: DataFrame, idCol: String, embCol: String,
                           labelCol: String, queryPred: Column, k: Int,
                           cents: Seq[Seq[Long]], nProbe: Int): DataFrame =
    noiseReadout(emb, idCol, labelCol,
      knnClassifyGated(emb, idCol, embCol, labelCol, queryPred, k,
        cents, nProbe))

  /** The own-label disagreement join shared by the exact and gated
    * noise audits: inner on query_id, so a query whose own label is
    * NULL (nothing to audit) or whose neighborhood produced no majority
    * drops out — the q236 contract. */
  private def noiseReadout(emb: DataFrame, idCol: String, labelCol: String,
                           pred: DataFrame): DataFrame = {
    val own = emb.where(col(labelCol).isNotNull)
      .select(col(idCol).as("query_id"),
        col(labelCol).cast("long").as("own_label"))
    pred.join(own, Seq("query_id"))
      .select(col("query_id"), col("own_label"), col("pred_label"),
        col("votes"),
        (col("pred_label") =!= col("own_label")).cast("long")
          .as("suspect"))
  }

  /** Cluster–label agreement (purity) over the SAME trained coarse
    * quantizer as [[ivfTopK]]/[[semDedup]]/[[prototypePruning]] — the
    * data-map readout that tells a curation pipeline whether its
    * embedding clusters track the label taxonomy (high purity: clusters
    * can stand in for labels when sampling; low: they carve something
    * orthogonal). Per cluster: size, the majority label (ties to the
    * smallest label), its count, and purity as integer ppm
    * (`n_majority·10⁶ div n_assigned` — floor division, mirrored as
    * DuckDB `//`; both operands positive so truncation ≡ floor). The
    * whole surface is int64 — nothing for any float rule to drift on.
    * Vectors with a NULL label are counted in `n_assigned` but vote for
    * no label; an all-NULL cluster surfaces a NULL majority. Scale
    * shape: two map-side-combinable hash aggregates over the (cid,
    * label) contingency — no window, no per-cluster collect. */
  def clusterPurity(emb: DataFrame, idCol: String, embCol: String,
                    labelCol: String, cents: Seq[Seq[Long]]): DataFrame = {
    val a = ivfAssignments(emb, idCol, embCol, cents)
    val lab = emb.select(col(idCol), col(labelCol).cast("long").as("__lab"))
    val cont = a.join(lab, Seq(idCol))
      .groupBy(col("cid"), col("__lab"))
      .agg(count(lit(1)).as("n_label"))
    cont.groupBy("cid")
      .agg(sum(col("n_label")).as("n_assigned"),
        max(when(col("__lab").isNotNull,
          struct(col("n_label"), (-col("__lab")).as("negLab"))))
          .as("__m"))
      .select(col("cid"), col("n_assigned"),
        (-col("__m.negLab")).as("majority_label"),
        col("__m.n_label").as("n_majority"))
      .withColumn("purity_ppm",
        expr("(n_majority * 1000000) div n_assigned"))
  }

  /** Triplet-margin audit for contrastive training data: per query, the
    * single BEST positive (most-similar same-label vector) and BEST
    * negative (most-similar other-label vector — the hardest one, as in
    * [[hardNegatives]]), and whether the triplet is correctly ordered
    * (`margin_positive` = 1 iff cos(q, pos) > cos(q, neg)) — the
    * fraction of margin-violating triplets is the metric-quality readout
    * every embedding-training pipeline tracks before fitting.
    *
    * Exactness: the per-query ranking AND the cross-side margin compare
    * both use the integer [[exactCosKey]] (sign·dot²·10⁹/cnrm — the
    * query norm is shared by both sides of every comparison, so it
    * cancels and the key's total order IS the cosine order). No float
    * exists anywhere: the surface is int64 ids + a 0/1 flag, NULL when a
    * side is missing (a unique-label query has no positive) or keyless
    * (zero-norm candidates). Queries and candidates with NULL labels are
    * excluded — an unknown label defines neither side.
    *
    * Scale shape: one broadcast-queries scoring pass localCheckpointed
    * once, two bounded k=1 top-k reductions over its label-split halves,
    * then a bounded per-query join — the [[knnLabelEval]] discipline. */
  def tripletMargin(emb: DataFrame, idCol: String, embCol: String,
                    labelCol: String, queryPred: Column): DataFrame = {
    val base = labeledBase(emb, idCol, embCol, labelCol, castLong = true)
      .where(col("__lab").isNotNull)
    val q = base.where(queryPred)
      .select(col(idCol).as("query_id"), col("__lab").as("__qlab"),
        col("__v").as("__qv"))
    val scored = base.crossJoin(broadcast(q))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), col("__lab"), col("__qlab"),
        exactCosKey(intDot(col("__qv"), col("__v")), col("__n"))
          .as("__key"))
      .localCheckpoint(eager = false)
    tripletReadout(q.select(col("query_id")), scored, idCol)
  }

  /** [[tripletMargin]]'s best-positive/hardest-negative readout over a
    * prepared key-scored frame (query_id, idCol, __qlab, __lab, __key)
    * — shared by the exact and IVF-gated variants so the label-split
    * k=1 reductions and the NULL-propagating margin compare have ONE
    * spelling. */
  private def tripletReadout(qIds: DataFrame, scored: DataFrame,
                             idCol: String): DataFrame = {
    def best(half: DataFrame, idOut: String, keyOut: String): DataFrame =
      topKPerQueryOrdered(half, idCol, 1,
          Seq(col("__key").desc_nulls_last, col(idCol).asc))
        .select(col("query_id"), col(idCol).as(idOut),
          col("__key").as(keyOut))
    val pos = best(scored.where(col("__lab") === col("__qlab")),
      "pos_id", "__pkey")
    val neg = best(scored.where(col("__lab") =!= col("__qlab")),
      "neg_id", "__nkey")
    qIds
      .join(pos, Seq("query_id"), "left")
      .join(neg, Seq("query_id"), "left")
      .select(col("query_id"), col("pos_id"), col("neg_id"),
        when(col("__pkey") > col("__nkey"), 1L)
          .when(col("__pkey") <= col("__nkey"), 0L)
          .otherwise(lit(null).cast("long")).as("margin_positive"))
  }

  /** [[tripletMargin]] composed over the IVF probe-list gate (the last
    * member of the retrieval-eval family's registered scale path, with
    * [[knnLabelEvalGated]] and [[labelNoiseAuditGated]]): best positive
    * and hardest negative are drawn from the query's `nProbe` probed
    * lists only. The ranking key is the same float-free [[exactCosKey]]
    * (the query norm is shared by both sides of every comparison and
    * cancels), so the gated margin flags stay hash-checkable. */
  def tripletMarginGated(emb: DataFrame, idCol: String, embCol: String,
                         labelCol: String, queryPred: Column,
                         cents: Seq[Seq[Long]], nProbe: Int): DataFrame = {
    val base = labeledBase(emb, idCol, embCol, labelCol, castLong = true)
      .where(col("__lab").isNotNull)
    val scored = ivfGatedScoredKey(base, idCol, queryPred, cents, nProbe)
      .localCheckpoint(eager = false)
    tripletReadout(
      base.where(queryPred).select(col(idCol).as("query_id")),
      scored, idCol)
  }

  /** [[ivfGatedScored]] with the integer [[exactCosKey]] instead of the
    * float cosine — the [[tripletReadout]] contract. Kept as a separate
    * projection (not one frame carrying both scores) because the gated
    * eval paths localCheckpoint their scored frame: a shared frame
    * would MATERIALIZE whichever score the consumer doesn't use. */
  private def ivfGatedScoredKey(base: DataFrame, idCol: String,
                                queryPred: Column, cents: Seq[Seq[Long]],
                                nProbe: Int): DataFrame = {
    require(nProbe > 0 && nProbe <= cents.size,
      s"nProbe must be in [1, ${cents.size}], got $nProbe")
    val cNorms: Seq[Long] = cents.map(v => v.map(x => x * x).sum)
    val withKey = base.withColumn("__key", centKeys(cents, cNorms, col("__v")))
    val c = withKey.withColumn("list_id", nearestCid)
      .select(col(idCol), col("__lab"), col("__v"), col("__n"),
        col("list_id"))
    val q = withKey.where(queryPred)
      .withColumn("__probe", probeListCol(cents.size, nProbe))
      .select(col(idCol).as("query_id"), col("__lab").as("__qlab"),
        col("__v").as("__qv"), explode(col("__probe")).as("list_id"))
    c.join(broadcast(q), Seq("list_id"))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), col("__qlab"), col("__lab"),
        exactCosKey(intDot(col("__qv"), col("__v")), col("__n"))
          .as("__key"))
  }

  /** Matryoshka / dimension-truncation retrieval audit: per query, how
    * many of the exact top-k under the FULL embedding survive in the
    * top-k computed from only the first `prefixDim` components — the
    * readout that tells a pipeline whether truncated (cheaper) vectors
    * can serve retrieval, the question Matryoshka-style training
    * (Kusupati et al. 2022, arXiv:2205.13147) answers by construction
    * and every storage-tiering decision asks of ordinary embeddings.
    * Same exact quantized-integer arithmetic on both rankings (the
    * truncated ranking is just [[intDot]] over the sliced prefix), same
    * (cosine DESC, id ASC) tie order; the overlap count is an int64 —
    * nothing floats on the surface. Scale shape: two broadcast-queries
    * scoring passes over one corpus scan each, two bounded top-k
    * reductions, one ≤k×k-per-query semi-join — the [[knnLabelEval]]
    * discipline. */
  def truncationRecall(emb: DataFrame, idCol: String, embCol: String,
                       queryPred: Column, k: Int, prefixDim: Int)
      : DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be >= 1, got $prefixDim")
    val base = emb.select(col(idCol), quantize(col(embCol)).as("__v"))
      .withColumn("__p", slice(col("__v"), 1, prefixDim))
      .withColumn("__n", intDot(col("__v"), col("__v")))
      .withColumn("__pn", intDot(col("__p"), col("__p")))
    val q = base.where(queryPred)
      .select(col(idCol).as("query_id"), col("__v").as("__qv"),
        col("__p").as("__qp"), col("__n").as("__qn"),
        col("__pn").as("__qpn"))
    val scored = base.crossJoin(broadcast(q))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        cosineQ(intDot(col("__qv"), col("__v")), col("__qn"), col("__n"))
          .as("cosine"),
        cosineQ(intDot(col("__qp"), col("__p")), col("__qpn"), col("__pn"))
          .as("__pcos"))
      .localCheckpoint(eager = false)
    val full = topKPerQuery(scored, idCol, k)
      .select(col("query_id"), col(idCol))
    val trunc = topKPerQueryOrdered(
        scored.select(col("query_id"), col(idCol),
          col("__pcos").as("cosine")), idCol, k,
        Seq(col("cosine").desc, col(idCol).asc))
      .select(col("query_id"), col(idCol))
    q.select(col("query_id"))
      .join(full.join(trunc, Seq("query_id", idCol), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_kept")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        lit(k.toLong).as("k"))
  }

  /** Cluster-balanced deterministic sampling — the diversity-preserving
    * subset selection of a curation pipeline (sample a fixed QUOTA from
    * every embedding cluster instead of uniformly, so rare modes survive
    * the downsample; the cluster-sampling step of data-map/DoReMi-style
    * recipes): assign with the SAME trained coarse quantizer as
    * [[ivfTopK]]/[[semDedup]], order each cluster by the deterministic
    * content-hash coin (the q100/q124 sampling discipline — never a
    * float random), keep the first `quota`. Surface is all-int64
    * (cid, id, coin, rank).
    *
    * Scale shape: the per-cluster rank rides [[topKPerQueryOrdered]]'s
    * partition-local bounded top-k (each partition forwards ≤ quota rows
    * per cluster before anything shuffles) — NOT a window over the raw
    * corpus partitioned by the bounded-cardinality cid, which would
    * funnel a corpus slice through one task. */
  def clusterBalancedSample(emb: DataFrame, idCol: String, embCol: String,
                            cents: Seq[Seq[Long]], quota: Int): DataFrame = {
    require(quota >= 1, s"quota must be >= 1, got $quota")
    val coin = graft.text.TextAnalysis.charPolyHash(
      concat(lit("cbs:"), col(idCol).cast("string")))
    val scored = ivfAssignments(emb, idCol, embCol, cents)
      .select(col("cid").as("query_id"), col(idCol), coin.as("coin"))
    topKPerQueryOrdered(scored, idCol, quota,
        Seq(col("coin").asc, col(idCol).asc))
      .select(col("query_id").as("cid"), col(idCol), col("coin"),
        col("rank"))
  }

  /** Deterministic Rademacher (±1) projection matrix for
    * Johnson-Lindenstrauss dimensionality reduction: entry (j, i) is the
    * parity of one SplitMix64-style mix of the flat index — fixed
    * arithmetic, so the matrix is part of the OPERATOR DEFINITION (the
    * oracle embeds the rows as literals, like the sign-LSH planes) and
    * never a runtime random draw. Achlioptas 2001 shows ±1 entries carry
    * the full JL distance-preservation guarantee of Gaussian matrices;
    * unlike Gaussians they keep every projected coordinate an EXACT
    * integer dot product of the quantized vector. */
  def rademacherPlanes(projDim: Int, dim: Int, seed: Long = 42L): Seq[Seq[Long]] =
    Seq.tabulate(projDim)(j => Seq.tabulate(dim) { i =>
      var x = seed + (j.toLong * dim + i + 1L) * 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      if (((x ^ (x >>> 31)) & 1L) == 0L) 1L else -1L
    })

  /** JL-projected brute-force cosine top-k — the dimensionality-reduction
    * scale path for similarity search: every vector is projected
    * dim → projDim through the fixed ±1 [[rademacherPlanes]] matrix (each
    * projected coordinate one codegen'd [[intDot]] against a literal sign
    * row — exact integers), then cosine ranking runs ENTIRELY in the
    * projected space with the same bounded partition-local top-k as
    * [[bruteForceTopK]]. At 100 TB the projection is a map-only 8×
    * shrink of the vectors that every downstream scoring pass then pays
    * instead of the full dimension — the classic sketch-first ANN layout;
    * recall vs the exact ranking is pinned by SimilaritySpec. Fully
    * hash-checkable: projection, norms, and cosine are the oracle's
    * arithmetic verbatim. */
  def jlTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             embCol: String, k: Int, projDim: Int): DataFrame = {
    // one bounded driver read fixes dim; queries and corpus then share the
    // identical literal sign matrix (a per-frame derivation could diverge)
    val dim = corpus.select(size(col(embCol))).first().getInt(0)
    val planes = rademacherPlanes(projDim, dim)
    def projected(df: DataFrame, vCol: String, nCol: String): DataFrame = {
      val qv = quantize(col(embCol))
      df.select(col(idCol),
          array(planes.map(p => intDot(qv, lit(p.toArray))): _*).as(vCol))
        .withColumn(nCol, intDot(col(vCol), col(vCol)))
    }
    val q = projected(queries, "qv", "qn").withColumnRenamed(idCol, "query_id")
    val c = projected(corpus, "cv", "cn")
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol),
        cosineQ(intDot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
    topKPerQuery(scored, idCol, k)
  }

  /** Per-vector int8 scalar-quantization (SQ8) codes over an
    * ALREADY-QUANTIZED `array<long>` column: scale
    * `sv = max(1, ceil(maxabs / 127))` (exact ceiling division in
    * integers), code_i = sign(x_i) * (|x_i| div sv) ∈ [-127, 127].
    * Truncating |x| keeps Spark's `div` (toward zero) and DuckDB's `//`
    * (floor) in agreement — both see only non-negative operands — so the
    * codes, not just the scores, hash-check. Returns (codes, sv). */
  def sq8Encode(qv: Column): (Column, Column) = {
    val maxabs = array_max(transform(qv, x => abs(x)))
    val sv = greatest(lit(1L), (maxabs + lit(126L)) .divide(lit(127L)).cast("long"))
    val codes = transform(qv, x =>
      when(x < 0L, -(abs(x) / sv).cast("long")).otherwise((x / sv).cast("long")))
    (codes, sv)
  }

  /** [[sq8Encode]] staged as three stacked projections so `qv` and `sv`
    * are MATERIALIZED attributes by the time the codes lambda runs. The
    * single-Column spelling embeds sv's whole array_max derivation
    * inside the per-element lambda — interpreted HOF evaluation then
    * recomputes an O(dim) reduction for EVERY element (O(dim²) per row,
    * 6× the whole brute-force scorer at sf0.1); as attributes each is
    * computed once per row, and CollapseProject leaves multi-use
    * attributes alone so the staging survives optimization. Value-
    * identical to [[sq8Encode]] (same arithmetic, SimilaritySpec's
    * naive-parity pin covers both paths through sq8TopK). */
  private def sq8EncodeStaged(df: DataFrame, idCol: String,
                              embCol: String): DataFrame =
    df.select(col(idCol), quantize(col(embCol)).as("__qv"))
      .withColumn("sv", greatest(lit(1L),
        (array_max(transform(col("__qv"), x => abs(x))) + lit(126L))
          .divide(lit(127L)).cast("long")))
      .select(col(idCol),
        transform(col("__qv"), x =>
          when(x < 0L, -(abs(x) / col("sv")).cast("long"))
            .otherwise((x / col("sv")).cast("long"))).as("cc"),
        col("sv"))

  /** SQ8 asymmetric cosine top-k — the 8×-compression scale path for
    * similarity search (faiss's SQ8 re-expressed relationally): corpus
    * vectors are stored as int8 codes plus ONE per-vector scale
    * ([[sq8Encode]] — 1 byte/dim instead of 8), and scoring reconstructs
    * each corpus vector as `code_i * sv` (an exact integer) against the
    * FULL-precision query — the standard asymmetric-distance trick that
    * keeps query precision free. The reconstruction never materializes:
    * dot(q, code*sv) = sv * dot(q, code), one codegen'd [[intDot]] on the
    * slim code array and one multiply, so the O(Q×N) loop touches 8×
    * fewer bytes than [[bruteForceTopK]]. At 100 TB the corpus-side
    * memory/scan win is the whole point; recall vs exact ranking is
    * pinned by SimilaritySpec. Fully hash-checkable: codes, scales,
    * norms, and cosine are integer-exact and mirrored verbatim. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              embCol: String, k: Int): DataFrame = {
    val c = sq8EncodeStaged(corpus, idCol, embCol)
      // reconstructed squared norm = sv² * dot(cc, cc), exact in longs:
      // |code| ≤ 127 ⇒ dot ≤ 127²·dim; sv² ≤ (1e5·Scale/127)² stays far
      // under 2^63 for the e5-scaled unit-norm embeddings this targets
      .withColumn("cn", col("sv") * col("sv") * intDot(col("cc"), col("cc")))
    val q = queries.select(col(idCol).as("query_id"),
        quantize(col(embCol)).as("qv"))
      .withColumn("qn", intDot(col("qv"), col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol),
        cosineQ(col("sv") * intDot(col("qv"), col("cc")),
          col("qn"), col("cn")).as("cosine"))
    topKPerQuery(scored, idCol, k)
  }

  /** Top-k rank-AGREEMENT audit between the exact and IVF-gated
    * rankings — the intersection metric of Fagin, Kumar, Sivakumar 2003
    * ("Comparing top k lists", SODA; the unweighted core of Webber et
    * al. 2010's RBO): AO@k = (1/k)·Σ_{d=1..k} |top_d(exact) ∩
    * top_d(gated)| / d. Where q240's recall@k only asks "did the gated
    * list CONTAIN the exact top-k", AO@k is top-weighted — an item both
    * sides rank FIRST counts in every prefix, so a gate that keeps the
    * right set but scrambles the order scores lower.
    *
    * Float-free: a matched id with ranks (re, rg) is in both depth-d
    * prefixes for every d ≥ max(re, rg), so AO's numerator over the
    * common denominator L·k (L = lcm(1..k)) is
    * Σ_matched Σ_{d=max(re,rg)}^{k} L/d — ONE integer weight per
    * matched row, looked up from a k-entry literal array, summed by a
    * map-side-combinable aggregate (never a per-depth grid join). The
    * surface is int64 (n_matched, ao_num, ao_den, floor-ppm).
    *
    * Scale shape: both rankings are the existing bounded-top-k
    * operators; the agreement join touches ≤ k rows per query. */
  def gateRankAgreement(queries: DataFrame, corpus: DataFrame,
                        idCol: String, embCol: String, k: Int,
                        cents: Seq[Seq[Long]], nProbe: Int): DataFrame = {
    val (l, weights) = aoWeights(k)
    gateRankAgreementImpl(queries, corpus, idCol, embCol, k, l, weights,
      cents, nProbe)
  }

  /** The lcm(1..k) common denominator and the per-match-rank prefix-
    * credit weights of the AO@k integer spelling — shared by
    * [[gateRankAgreement]] and [[gateKnobCurve]] so the arithmetic has
    * one spelling. k is bounded at 25: L = lcm(1..k) and the downstream
    * `ao_num · 10⁶` ppm render are computed in int64, and lcm(1..26)
    * already exceeds what `Σ weights · 10⁶` keeps exact (lcm grows like
    * e^k — at k=43 L itself overflows Long SILENTLY, and the ppm
    * multiply overflows near k≈29), so an AO@100 caller must widen to
    * BigInt/DECIMAL rather than read silently wrong agreement numbers.
    * 25 covers every practical top-k audit with a safety margin. */
  private def aoWeights(k: Int): (Long, Seq[Long]) = {
    require(k >= 1 && k <= 25,
      s"k must be in [1, 25], got $k: AO@k's lcm(1..k) common " +
        "denominator and its ppm render are int64 arithmetic, which " +
        "silently overflows past k=25 - widen to DECIMAL before raising")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val l = (1 to k).foldLeft(1L)((a, d) => a / gcd(a, d) * d)
    (l, (1 to k).map(m => (m to k).map(d => l / d).sum))
  }

  private def gateRankAgreementImpl(queries: DataFrame, corpus: DataFrame,
                                    idCol: String, embCol: String, k: Int,
                                    L: Long, weights: Seq[Long],
                                    cents: Seq[Seq[Long]],
                                    nProbe: Int): DataFrame = {
    // weights(m) = Σ_{d=m..k} L/d — the matched pair's total prefix credit
    val aoDen = L * k
    val exact = bruteForceTopK(queries, corpus, idCol, embCol, k)
      .select(col("query_id"), col(idCol), col("rank").as("__re"))
    val gated = ivfTopK(queries, corpus, idCol, embCol, k,
        nCentroids = cents.size, nProbe = nProbe,
        trainedCents = Some(cents))
      .select(col("query_id"), col(idCol), col("rank").as("__rg"))
    val agreed = exact.join(gated, Seq("query_id", idCol))
      .select(col("query_id"),
        element_at(typedLit(weights),
          greatest(col("__re"), col("__rg")).cast("int")).as("__w"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_matched"), sum(col("__w")).as("ao_num"))
    queries.select(col(idCol).as("query_id"))
      .join(agreed, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("ao_num"), lit(0L)).as("ao_num"),
        lit(aoDen).as("ao_den"))
      .withColumn("ao_ppm", expr("(ao_num * 1000000) div ao_den"))
  }

  /** The IVF gate's KNOB CURVE — recall@k and AO@k of the gated ranking
    * vs the exact one at EVERY candidate nProbe, aggregated over the
    * query set: the tuning readout a 100 TB deployment reads BEFORE
    * fixing the gate's one knob (exactly what q219 provides for LSH
    * banding and q149c for k-means rounds; q240/q244 pin single points
    * of this curve at nProbe=4).
    *
    * ONE scoring pass serves every knob point: queries probe ALL
    * nCentroids lists once, each (query, candidate) pair carries the
    * PROBE RANK of the candidate's list in that query's probe order,
    * and each nProbe is then a filter `probe_rank <= nProbe` over the
    * checkpointed scored frame — never a re-score per knob (the sweep
    * costs one exact pass + k bounded top-k reductions). Both rankings
    * are the same exact integer arithmetic as [[ivfTopK]]/
    * [[bruteForceTopK]], so the whole curve hash-checks. Because a
    * gated candidate set is a SUBSET of the corpus, a matched pair's
    * gated rank never exceeds its exact rank, and growing nProbe only
    * grows each candidate set — so recall_ppm and ao_ppm are
    * NON-DECREASING in nProbe and the full probe (nProbe = nCentroids)
    * reads exactly 10⁶ ppm on both; SimilaritySpec pins all three
    * claims. Scale shape: the full-probe scoring is the audit's cost by
    * construction (the q240 contract) — a production sweep runs it on a
    * bounded query/corpus sample, then deploys the chosen knob. Output:
    * one row per nProbe — (n_probe, n_queries, n_matched, recall_ppm,
    * ao_num, ao_den, ao_ppm), all int64 floor-ppm. */
  def gateKnobCurve(queries: DataFrame, corpus: DataFrame, idCol: String,
                    embCol: String, k: Int, cents: Seq[Seq[Long]],
                    nProbes: Seq[Int]): DataFrame = {
    val (l, weights) = aoWeights(k)
    val knobs = nProbes.distinct.sorted
    require(knobs.nonEmpty && knobs.head >= 1 && knobs.last <= cents.size,
      s"nProbes must be non-empty, in [1, ${cents.size}]; got $nProbes")
    val aoDen = l * k
    val cNorms: Seq[Long] = cents.map(v => v.map(x => x * x).sum)
    val c = withQuantized(corpus, idCol, embCol, "cv", "cn").drop(embCol)
      .withColumn("__key", centKeys(cents, cNorms, col("cv")))
      .withColumn("list_id", nearestCid)
      .drop("__key")
    val q = withQuantized(queries, idCol, embCol, "qv", "qn").drop(embCol)
      .withColumnRenamed(idCol, "query_id")
      .withColumn("__key", centKeys(cents, cNorms, col("qv")))
      // full probe list in rank order — pos+1 IS the probe rank
      .withColumn("__probe", probeListCol(cents.size, cents.size))
      .select(col("query_id"), col("qv"), col("qn"),
        posexplode(col("__probe")).as(Seq("__pi", "list_id")))
      .select(col("query_id"), col("qv"), col("qn"), col("list_id"),
        (col("__pi") + 1).as("probe_rank"))
    val scored = c.join(broadcast(q), Seq("list_id"))
      .select(col("query_id"), col(idCol), col("probe_rank"),
        cosineQ(intDot(col("qv"), col("cv")), col("qn"), col("cn"))
          .as("cosine"))
      .localCheckpoint(eager = false)
    val exact = bruteForceTopK(queries, corpus, idCol, embCol, k)
      .select(col("query_id"), col(idCol), col("rank").as("__re"))
      .localCheckpoint(eager = false)
    val nq = queries.agg(count(lit(1)).as("__nq"))
    knobs.map { np =>
      val gated = topKPerQuery(
        scored.where(col("probe_rank") <= np)
          .select(col("query_id"), col(idCol), col("cosine")), idCol, k)
        .select(col("query_id"), col(idCol), col("rank").as("__rg"))
      exact.join(gated, Seq("query_id", idCol))
        .select(element_at(typedLit(weights),
          greatest(col("__re"), col("__rg")).cast("int")).as("__w"))
        .agg(count(lit(1)).as("n_matched"),
          coalesce(sum(col("__w")), lit(0L)).as("ao_num"))
        .crossJoin(broadcast(nq))
        .select(lit(np.toLong).as("n_probe"),
          col("__nq").as("n_queries"), col("n_matched"),
          expr(s"(n_matched * 1000000) div (${k}L * __nq)")
            .as("recall_ppm"),
          col("ao_num"), (lit(aoDen) * col("__nq")).as("ao_den"),
          expr(s"(ao_num * 1000000) div (${aoDen}L * __nq)").as("ao_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Deterministic random hyperplanes for sign-LSH (fixed seed — planes are
    * part of the operator definition, not runtime randomness). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Hyperplanes scalar-quantized like the embeddings, so sign tests run as
    * exact integer dot products. The sign of the quantized dot equals the
    * sign of the double dot except within ~1e-5 of the decision boundary —
    * LSH already assigns boundary vectors arbitrarily, so bucketing quality
    * is unchanged. */
  def quantizePlanes(planes: Seq[Seq[Double]]): Seq[Seq[Long]] =
    planes.map(_.map(x => math.round(x * Scale)))

  /** Sign-LSH bucket id over an ALREADY-QUANTIZED embedding column: bit i =
    * intDot(qv, plane_i) > 0. Each plane test is one codegen'd
    * [[graft.expressions.IntDotProduct]] over the shared quantized column —
    * not an interpreted `aggregate(zip_with(...))` per plane re-deriving the
    * cast embedding (the HOF trap IntDotProduct exists to kill). Rows whose
    * vector length differs from the planes' dimension fail fast (a silent
    * NULL-pad would collapse every wrong-dim vector into bucket 0 and
    * degrade the bucket join toward a cross join). */
  def lshBucketQ(qv: Column, qPlanes: Seq[Seq[Long]]): Column = {
    val dim = qPlanes.headOption.map(_.size).getOrElse(0)
    val bucket = qPlanes.zipWithIndex.map { case (p, i) =>
      when(intDot(qv, typedLit(p)) > 0L, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    // three-way: a NULL vector gets a NULL bucket (joins nothing — the row
    // is skipped, not a crash with a NULL-corrupted message); only a
    // present wrong-dim vector fail-fasts.
    when(qv.isNull, lit(null).cast("long"))
      .when(size(qv) === dim, bucket)
      .otherwise(raise_error(concat(
        lit(s"lshBucket: embedding dim mismatch, expected $dim, got "),
        size(qv).cast("string"))).cast("long"))
  }

  /** Sign-LSH bucket id of a raw `array<float>` embedding — quantizes both
    * sides and delegates to [[lshBucketQ]]. Callers that already carry a
    * quantized column (e.g. [[annTopK]]) should use [[lshBucketQ]] directly
    * so the per-plane dots share one materialized input. */
  def lshBucket(emb: Column, planes: Seq[Seq[Double]]): Column =
    lshBucketQ(quantize(emb), quantizePlanes(planes))

  /** EXACT centroid-ranking key — the float-free replacement for the
    * per-centroid cosine. For one vector, ranking centroids by
    * cos = dot/(|v|·|c|) is ranking by dot/√cnrm (|v| is shared across
    * centroids, so it cancels), which is ranking by sign(dot)·dot²/cnrm.
    * This key is that ratio scaled to integer NANOUNITS:
    *
    *   key = sign(dot) · floor(dot²·10⁹ / cnrm)
    *
    * computed exactly by the codegen'd
    * [[graft.expressions.CosRankKey]] kernel (one unscaled BigInteger
    * chain — the original DECIMAL(38,0) column spelling computed the
    * identical integer through ~8 checked BigDecimal ops per pair and
    * cost 2-3× on the IVF family; the oracles' HUGEINT spelling in
    * cosKeySql is unchanged). Both engines compute the identical
    * integer, so a cluster assignment can NEVER flip between engines
    * or DuckDB versions — the round-7/8 q149 hash drift was exactly a
    * 1-ulp float-cosine assignment flip relocating one vector. Ratios
    * closer than one nanounit (≈1e-16 relative at this data's norms,
    * below float32 embedding noise) tie and break by cid,
    * deterministically and identically in both engines.
    *
    * Magnitudes (dim ≤ 64, components quantized to ≤ 1e5): |dot| ≤
    * 6.4e11, dot² ≤ 4.1e23, dot² DIV cnrm ≤ |v|²
    * ≤ 6.4e11 (Cauchy–Schwarz), so key ≤ 6.4e20 — comfortably inside
    * DECIMAL(38,0)/HUGEINT. A zero-norm CENTROID
    * has no cosine to anything → NULL key (ranked last, the old
    * try_divide/NULLS-LAST contract); a zero-norm VECTOR has dot = 0 to
    * every centroid → key 0 everywhere → the argmax tie-break lands it
    * in the first probeable list, as before. */
  private[graft] def exactCosKey(dot: Column, cnrm: Column): Column =
    graft.expressions.CosRankKey.cosRankKey(dot, cnrm)

  /** Per-row array of [[exactCosKey]]s of a quantized vector to each
    * centroid (1-based positions = cid) — integer dots via the codegen'd
    * expression. Needs no vector-norm column: the norm is shared across
    * centroids and cancels out of the ranking. */
  private def centKeys(cents: Seq[Seq[Long]], cNorms: Seq[Long],
                       vCol: Column): Column =
    array(cents.indices.map { j =>
      exactCosKey(intDot(vCol, typedLit(cents(j))), lit(cNorms(j)))
    }: _*)

  /** Nearest-centroid id (1-based) over a materialized `__key` column
    * (the [[centKeys]] array the caller must have bound — binding it once
    * keeps the nCentroids dot products evaluated once, not per reference):
    * argmax with the deterministic smallest-cid tie-break (array_position
    * returns the FIRST position of the max; equal exact keys are equal in
    * both engines, unlike float ties). The coalesce fires only when every
    * centroid has zero norm (all keys NULL): the vector lands in list 1,
    * the same list the oracle's NULLS-LAST row_number assigns. The
    * non-nullable result also lets join IsNotNull predicates
    * constant-fold instead of duplicating the assignment. */
  private val nearestCid: Column =
    coalesce(expr("array_position(__key, array_max(__key))").cast("long"),
      lit(1L))

  /** The deterministic seed rule shared by every trained quantizer here
    * (IVF centroids, PQ codebooks, the IVF-PQ coarse gate): the first `n`
    * corpus vectors in id order, quantized — ONE bounded driver collect
    * (n × dim longs), mirrored by the oracles' row_number-LIMIT CTE. */
  private def seedVectors(corpus: DataFrame, idCol: String, embCol: String,
                          n: Int): Seq[Seq[Long]] =
    corpus.orderBy(col(idCol)).limit(n)
      .select(quantize(col(embCol)).as("cv")).collect()
      .map(_.getSeq[Long](0).toSeq).toSeq

  /** Per-cluster population and EXACT inertia (Σ squared L2 distance in
    * the quantized integer space) of the corpus under the q32-trained
    * coarse quantizer — the cluster-quality readout (elbow curves, drift
    * monitoring, rebalancing decisions) every embedding pipeline needs
    * next to the ANN search itself. dist²(x,c) = |x|² + |c|² − 2⟨x,c⟩:
    * every term is an exact integer (one codegen [[intDot]] against the
    * assigned centroid literal — element_at on the broadcast-literal
    * centroid array, O(dim) per row, no join), the aggregate is
    * map-side combined on ≤ nCentroids keys, and the sum rides in
    * DECIMAL(38,0) so corpus-scale inertia cannot overflow long. Same
    * seeding / Lloyd refinement / assignment as [[ivfTopK]], so the
    * oracle shares the training CTEs verbatim. Empty clusters are
    * absent (no vectors, no row), like the SQL GROUP BY. */
  def ivfClusterStats(corpus: DataFrame, idCol: String, embCol: String,
                      nCentroids: Int = 16, kmeansIters: Int = 0,
                      trainedCents: Option[Seq[Seq[Long]]] = None)
      : DataFrame = {
    val cents = trainedCents.getOrElse(
      trainCentroids(corpus, idCol, embCol, nCentroids, kmeansIters))
    val assigned = assignWith(corpus, idCol, embCol, cents)
    val cNorms: Seq[Long] = cents.map(v => v.map(x => x * x).sum)
    val centArr = array(cents.map(v => typedLit(v)): _*)
    val normArr = array(cNorms.map(lit): _*)
    assigned
      .withColumn("__dist2",
        col("cn") + element_at(normArr, col("cid").cast("int")) -
          lit(2L) * intDot(col("cv"),
            element_at(centArr, col("cid").cast("int"))))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_assigned"),
        sum(col("__dist2").cast("decimal(38,0)")).as("inertia"))
  }

  /** Seed + `iters` Lloyd rounds on the FULL corpus: the trained coarse
    * quantizer as plain driver values — the TRAINED-ARTIFACT entry
    * (`registry.Shared` memoizes one per (session, dir, knobs), the PQ-codebook
    * pattern: q32's search and the whole q149 family share one training
    * instead of six). Deterministic, so a cached result is
    * value-identical to retraining. */
  def trainCentroids(corpus: DataFrame, idCol: String, embCol: String,
                     nCentroids: Int, iters: Int): Seq[Seq[Long]] = {
    val init = seedVectors(corpus, idCol, embCol, nCentroids)
    val cq = withQuantized(corpus, idCol, embCol, "cv", "cn").drop(embCol)
    refineCentroids(cq, init, iters)
  }

  /** Assign the quantized corpus to its nearest centroid: the shared
    * back half of [[ivfClusterStats]] and the bisection diagnostics. */
  private def assignWith(corpus: DataFrame, idCol: String, embCol: String,
                         cents: Seq[Seq[Long]]): DataFrame = {
    val cq = withQuantized(corpus, idCol, embCol, "cv", "cn").drop(embCol)
    val cNorms: Seq[Long] = cents.map(v => v.map(x => x * x).sum)
    cq.withColumn("__key", centKeys(cents, cNorms, col("cv")))
      .withColumn("cid", nearestCid)
  }

  /** [[assignWith]] plus `__ck` = the exact cosine-key to the ASSIGNED
    * centroid (1-based element_at over the key array) — the shared
    * prologue of [[semDedup]] and [[prototypePruning]]; one definition
    * so a fix to the assigned-key derivation can never reach one
    * operator and miss the other (their oracles share the sck CTE for
    * the same reason). */
  private def assignedWithKey(corpus: DataFrame, idCol: String,
                              embCol: String,
                              cents: Seq[Seq[Long]]): DataFrame =
    assignWith(corpus, idCol, embCol, cents)
      .withColumn("__ck", element_at(col("__key"), col("cid").cast("int")))

  /** DIAGNOSTIC (r10 driver-divergence bisection, VERDICT r9 item 1):
    * the per-vector final assignment — the ultimate localizer between
    * "training/assignment diverged" and "the inertia readout diverged".
    * Pure int64 surface. */
  private[graft] def ivfAssignments(corpus: DataFrame, idCol: String,
                                    embCol: String,
                                    cents: Seq[Seq[Long]]): DataFrame =
    assignWith(corpus, idCol, embCol, cents)
      .select(col(idCol), col("cid"))

  /** DIAGNOSTIC: the final trained centroids as (cid, pos, coord) rows —
    * a plan-time constant emitted via the session (the mirrored oracle
    * re-derives them from its own training CTEs, so a hash match here
    * proves the two training loops computed identical integer
    * centroids). Coordinates are quantized ints, cnorm-free: every
    * value is far below 2^53. */
  private[graft] def ivfCentroidRows(spark: org.apache.spark.sql.SparkSession,
                                     cents: Seq[Seq[Long]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.flatMap { case (v, j) =>
      v.zipWithIndex.map { case (c, p) => ((j + 1).toLong, (p + 1).toLong, c) }
    }.toDF("cid", "pos", "coord")
  }

  /** DIAGNOSTIC: per-round assignment histograms (round 0 = seed
    * centroids, round r = after r Lloyd updates) — if a Lloyd round is
    * where the driver's oracle diverges, the first red round names it.
    * `perRound(r)` supplies the round-r centroids (memoized by the
    * caller; bounded: diagnostics run at gate scale). */
  private[graft] def ivfRoundHist(corpus: DataFrame, idCol: String,
                                  embCol: String, iters: Int,
                                  perRound: Int => Seq[Seq[Long]])
      : DataFrame =
    (0 to iters).map { r =>
      assignWith(corpus, idCol, embCol, perRound(r))
        .groupBy("cid").agg(count(lit(1)).as("n_assigned"))
        .select(lit(r.toLong).as("round"), col("cid"), col("n_assigned"))
    }.reduce(_ unionByName _)

  /** SemDeDup — semantic deduplication via embedding clusters (Abbas et
    * al. 2023, arXiv:2303.09540): cluster the corpus with the SAME
    * trained coarse quantizer as [[ivfTopK]]/[[ivfClusterStats]], then
    * within each cluster prune every vector that has cosine ≥ ε to a
    * vector of higher keep-priority, where keep-priority follows the
    * paper's rule — the member with the LOWEST cosine similarity to its
    * cluster centroid is kept first (it is the most "exemplar-distant",
    * preserving diversity). This is the paper's upper-triangular
    * formulation: x is pruned iff SOME y earlier in the priority order
    * (any y, kept or pruned — not sequential-greedy) is ε-close to x.
    *
    * Exactness: priority is the integer [[exactCosKey]] to the assigned
    * centroid (ascending, NULLS FIRST — a zero-norm centroid has no
    * cosine, so its whole cluster falls back to id order), ties by id;
    * the ε-gate is the float-free cross-multiplied comparison
    * cos(x,y) ≥ εn/εd  ⟺  dot > 0  ∧  dot²·εd² ≥ |x|²·|y|²·εn²
    * in DECIMAL(38,0) (dot² ≤ 4.1e23, |x|²·|y|² ≤ 2.6e26 at the 1e5
    * quantization grid with dim ≤ 64 — inside 38 digits with ε² factors
    * up to ~1e10). The whole output surface is integer: no float ever
    * enters, so no engine or version can disagree.
    *
    * Scale shape: the within-cluster pairwise join is the published
    * algorithm's cost model — clustering exists exactly to bound it.
    * Pairs per cluster are (n/k)²/2, so k MUST scale with the corpus
    * (the paper uses 50k clusters for LAION-440M; a fixed k at 100 TB
    * would funnel the corpus through k join keys). The operator takes
    * the trained centroids as input so the caller controls k; the
    * registered query's k=16 is gate-scale only. Everything else is
    * an equi-join on cid plus map-side-combinable aggregation — no
    * window, no driver materialization beyond the k×dim centroids. */
  def semDedup(corpus: DataFrame, idCol: String, embCol: String,
               cents: Seq[Seq[Long]], epsNum: Long, epsDen: Long)
      : DataFrame = {
    require(epsNum > 0 && epsDen > 0 && epsNum < epsDen,
      s"semDedup needs 0 < eps < 1 as a ratio, got $epsNum/$epsDen")
    // localCheckpoint: this assignment frame (k intDot products +
    // exactCosKey per vector) feeds BOTH pair sides and the final keep
    // join — without materialization the per-vector assignment subtree
    // would run three times per query (the prefixJaccardPairs shared-
    // stage discipline; blocks are reclaimed by ContextCleaner on GC)
    val a = assignedWithKey(corpus, idCol, embCol, cents)
      .select(col(idCol), col("cv"), col("cn"), col("cid"), col("__ck"))
      .localCheckpoint(eager = false)
    val x = a.select(col(idCol).as("xid"), col("cv").as("xv"),
      col("cn").as("xn"), col("cid"), col("__ck").as("xck"))
    val y = a.select(col(idCol).as("yid"), col("cv").as("yv"),
      col("cn").as("yn"), col("cid").as("ycid"), col("__ck").as("yck"))
    // y precedes x in keep-priority: ck ASC NULLS FIRST, id ASC
    val earlier = (col("yck") < col("xck")) ||
      (col("yck") === col("xck") && col("yid") < col("xid")) ||
      (col("yck").isNull &&
        (col("xck").isNotNull || col("yid") < col("xid")))
    val dot = intDot(col("xv"), col("yv"))
    val dotD = dot.cast("decimal(38,0)")
    val gate = (dot > 0) &&
      (dotD * dotD * lit(epsDen * epsDen) >=
        col("xn").cast("decimal(38,0)") * col("yn") * lit(epsNum * epsNum))
    val pruned = x.join(y, col("cid") === col("ycid") && earlier)
      .where(gate)
      .select(col("xid")).distinct()
    a.select(col(idCol), col("cid"))
      .join(pruned.select(col("xid").as(idCol), lit(0L).as("__kept")),
        Seq(idCol), "left")
      .select(col(idCol), col("cid"),
        coalesce(col("__kept"), lit(1L)).as("kept"))
  }

  /** Prototype-based data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws", arXiv:2206.14486): rank every example by its cosine
    * similarity to its cluster's prototype (the k-means centroid — the
    * paper's self-supervised prototypicality metric) and KEEP the
    * hardest fraction — the examples FARTHEST from their prototype —
    * which the paper shows beats random pruning in the abundant-data
    * regime. The complement of [[semDedup]] over the same trained
    * artifact: SemDeDup removes redundancy (near-duplicate pairs),
    * prototype pruning removes the easy/typical core.
    *
    * Exactness: the prototypicality rank is the integer [[exactCosKey]]
    * to the assigned centroid, ascending NULLS FIRST (hardest first; a
    * zero-norm centroid's cluster falls back to id order), ties by id;
    * `kept` = rank·keepDen ≤ n_cluster·keepNum — the keep fraction as a
    * cross-multiplied integer comparison, never a float quantile. The
    * whole surface (rank, cluster size, keep flag) is int64.
    *
    * Scale shape: one per-cluster window (rank + size) — bounded by the
    * cluster size, so as with [[semDedup]] the centroid count k must
    * scale with the corpus to keep clusters bounded; the registered
    * query's k=16 is gate-scale only. No driver materialization beyond
    * the k×dim centroids the caller already holds. */
  def prototypePruning(corpus: DataFrame, idCol: String, embCol: String,
                       cents: Seq[Seq[Long]], keepNum: Long, keepDen: Long)
      : DataFrame = {
    require(keepNum >= 0 && keepDen > 0 && keepNum <= keepDen,
      s"prototypePruning needs 0 <= keep <= 1 as a ratio, " +
        s"got $keepNum/$keepDen")
    val a = assignedWithKey(corpus, idCol, embCol, cents)
    val byHardness = Window.partitionBy("cid")
      .orderBy(col("__ck").asc_nulls_first, col(idCol).asc)
    val cluster = Window.partitionBy("cid")
    a.select(col(idCol), col("cid"),
        row_number().over(byHardness).cast("long").as("rnk"),
        count(lit(1)).over(cluster).as("n_cluster"))
      .withColumn("kept",
        (col("rnk") * keepDen <= col("n_cluster") * keepNum).cast("long"))
  }

  /** The `nProbe` nearest centroid ids (1-based) from a bound `__key`
    * array: sort (nullFlag, −key, cid) structs — valid first, key desc,
    * cid asc — then slice. Shared by [[ivfTopK]] and [[ivfPqTopK]] so
    * the probe tie-break can never drift between the two IVF paths, and
    * float-free like the assignment ([[exactCosKey]]) so the probe ORDER
    * itself can never drift between engines either. A ZERO-NORM centroid
    * has a NULL key; its nullFlag sorts it to the END of the probe order
    * (the oracles' ckey DESC NULLS LAST), its nk coalesces to 0 so the
    * struct comparison among invalid centroids falls to cid
    * (SimilaritySpec pins the probe side with a zero-norm seed). */
  private def probeListCol(nCentroids: Int, nProbe: Int): Column =
    slice(transform(array_sort(
      array((0 until nCentroids).map(j => struct(
        col("__key").getItem(j).isNull.cast("int").as("nul"),
        coalesce(col("__key").getItem(j) * lit(-1),
          lit(0).cast("decimal(38,0)")).as("nk"),
        lit(j + 1L).as("cid"))): _*)),
      s => s.getField("cid")), 1, nProbe)

  /** Lloyd's k-means refinement of the coarse quantizer, fully
    * deterministic: fixed iteration count, integer centroid coordinates
    * (floor of the per-dimension mean of assigned quantized vectors), the
    * smallest-cid argmax tie-break, and empty clusters keeping their
    * previous centroid. Each iteration is one distributed
    * assignment+aggregation job collecting nCentroids × dim slim rows to
    * the driver — the classic bounded-driver-state training loop; the
    * result is a plan-time constant like the initial centroids, so the
    * operator stays oracle-checkable in exact arithmetic. */
  private def refineCentroids(c: DataFrame, init: Seq[Seq[Long]],
                              iters: Int): Seq[Seq[Long]] = {
    var cents = init
    for (_ <- 0 until iters) {
      val cNorms = cents.map(v => v.map(x => x * x).sum)
      val sums = c
        .withColumn("__key", centKeys(cents, cNorms, col("cv")))
        .withColumn("cid", nearestCid)
        .select(col("cid"), posexplode(col("cv")))
        .groupBy("cid", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      val byCid = sums.groupBy(_.getLong(0))
      cents = cents.zipWithIndex.map { case (old, j) =>
        byCid.get(j + 1L) match {
          case Some(rows) => rows.sortBy(_.getInt(1)).toSeq
            // floorDiv ≡ floor(s/n) exactly, with no double transit at
            // all — the training chain is integer-closed at ANY scale
            // (the r9 floor(toDouble/…) was exact only while the sums
            // stayed below 2^53)
            .map(r => Math.floorDiv(r.getLong(2), r.getLong(3)))
          case None => old
        }
      }
    }
    cents
  }

  /** IVF-style ANN top-k: corpus vectors are partitioned into `nCentroids`
    * inverted lists by nearest centroid; each query probes its `nProbe`
    * nearest lists and ranks only those candidates by exact quantized
    * cosine. Coarse quantizer: the first `nCentroids` corpus vectors in id
    * order, optionally refined by `kmeansIters` deterministic Lloyd
    * iterations ([[refineCentroids]]). Everything is exact integer/IEEE
    * arithmetic mirrored op-for-op by a SQL oracle — unlike sign-LSH, this
    * ANN path is fully hash-verifiable.
    *
    * Scale: assignment is per-row map work against broadcast centroid
    * literals (no shuffle); the probe join fans each corpus row out to the
    * queries probing its list (bounded by nProbe × |queries| / nCentroids
    * on average); ranking reuses the bounded local-top-k merge. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, embCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              kmeansIters: Int = 0,
              trainFraction: Double = 1.0,
              trainedCents: Option[Seq[Seq[Long]]] = None): DataFrame = {
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val cq = withQuantized(corpus, idCol, embCol, "cv", "cn").drop(embCol)
    // trainedCents: a caller-supplied pre-trained quantizer — the shared-
    // artifact path (`registry.Shared` memoizes one [[trainCentroids]] per
    // (session, dir, knobs); q32 and the q149 family train once between
    // them). MUST equal what this function would train itself for the
    // oracle mirror to hold, which the deterministic trainer guarantees
    // for the same (corpus, knobs).
    val cents = trainedCents.getOrElse {
      // Driver action at plan time: collect the tiny centroid set.
      val init: Seq[Seq[Long]] =
        seedVectors(corpus, idCol, embCol, nCentroids)
      // The 100 TB training contract: every Lloyd iteration scans its
      // training set, so the quantizer trains on a bounded DETERMINISTIC
      // id-hash sample (trainFraction < 1 — production IVF trains on a
      // sample and assigns the full corpus in one pass); centroids stay
      // plan-time constants either way, and with nProbe = nCentroids the
      // search result is exact REGARDLESS of where the centroids came
      // from (quantizer quality moves recall, never correctness —
      // SimilaritySpec pins both claims).
      val train =
        if (trainFraction >= 1.0) cq
        // 1e9 granularity: a 1e-6-scale fraction (the realistic input at
        // corpus scale) must still select a non-empty stratum, not
        // silently round to `< 0` and train on nothing
        else cq.where(pmod(xxhash64(col(idCol)), lit(1000000000L)) <
          lit(math.max(1L, math.round(trainFraction * 1e9))))
      refineCentroids(train, init, kmeansIters)
    }
    val cNorms: Seq[Long] = cents.map(v => v.map(x => x * x).sum)

    val c = cq
      .withColumn("__key", centKeys(cents, cNorms, col("cv")))
      .withColumn("list_id", nearestCid)
      .drop("__key")
    val q = withQuantized(queries, idCol, embCol, "qv", "qn").drop(embCol)
      .withColumnRenamed(idCol, "query_id")
      .withColumn("__key", centKeys(cents, cNorms, col("qv")))
      // nProbe nearest centroids: sort (−cos, cid) structs — cos desc, cid asc
      .withColumn("__probe", probeListCol(cents.size, nProbe))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("__probe")).as("list_id"))
    val scored = c.join(broadcast(q), Seq("list_id"))
      .select(col("query_id"), col(idCol),
        cosineQ(intDot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
    topKPerQuery(scored, idCol, k)
  }

  /** Product-quantization ANN top-k (Jégou, Douze, Schmid 2011, IEEE
    * TPAMI 33(1), "Product quantization for nearest neighbor search"):
    * each quantized vector is split into `numSubspaces` contiguous
    * subvectors; every subspace learns its own `codebookSize`-entry
    * codebook (deterministic seeds = the first `codebookSize` corpus
    * vectors' subvectors in id order, refined by `trainIters` Lloyd
    * iterations with integer floor means — the [[refineCentroids]]
    * discipline per subspace); a corpus vector is ENCODED as its
    * per-subspace nearest-codebook-entry ids, and search runs
    * asymmetric-distance computation (ADC): the query precomputes a
    * (subspace, code) → partial-squared-L2 lookup table against the
    * codebooks, and each corpus vector's approximate distance is the SUM
    * of LUT hits for its codes — exact squared L2 to the vector's
    * codebook RECONSTRUCTION, approximate only through quantization.
    *
    * Determinism: everything is integer arithmetic on quantized values
    * (encoding argmin drops the code-independent |sub|² term; the
    * first-min tie-break picks the smallest code; Lloyd means floor
    * through one mirrored double divide), so the operator is fully
    * oracle-checkable like [[ivfTopK]].
    *
    * Scale: this is THE memory-bound ANN shape — the corpus is scanned
    * once to 8-byte × `numSubspaces` code rows (vs dim × 8 raw: 16×
    * compression at dim=64, M=4), training/LUT state is bounded driver
    * state (`numSubspaces × codebookSize × subDim` longs), the LUT join
    * is a broadcast, and the per-query aggregation is a map-side-combined
    * integer sum. NULL vectors encode to NULL codes and drop out of the
    * ADC join; a present wrong-dimension vector FAIL-FASTS (the
    * [[lshBucketQ]] guard discipline — see [[pqWithSubs]]). Composing
    * with [[ivfTopK]]'s coarse partitioning bounds the scan too —
    * [[ivfPqTopK]]; here the inverted-list gate is omitted. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             embCol: String, k: Int, numSubspaces: Int = 4,
             codebookSize: Int = 16, trainIters: Int = 1,
             trained: Option[(Int, Seq[Seq[Seq[Long]]])] = None): DataFrame = {
    val (subDim, cb) = trained.getOrElse(
      pqTrain(corpus, idCol, embCol, numSubspaces, codebookSize, trainIters))
    requireTrainedShape(cb, numSubspaces, codebookSize)
    val cqv = corpus.select(col(idCol), quantize(col(embCol)).as("cv"))
    val codes = pqCodes(cqv, idCol, cb, subDim)
    val lut = pqLut(queries, idCol, embCol, cb, subDim)
    val scored = codes.join(broadcast(lut), Seq("m", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("pd")).as("adist"))
    topKPerQueryOrdered(scored, idCol, k,
      Seq(col("adist").asc, col(idCol).asc))
  }

  /** A pre-`trained` artifact must match the caller's knobs — the code
    * paths derive everything from the codebooks, so a mismatch would
    * otherwise be consumed silently (wrong-codebook ANN results, no
    * error). Codebooks may be SMALLER than codebookSize (corpora with
    * fewer rows than seeds), never larger. */
  private def requireTrainedShape(cb: Seq[Seq[Seq[Long]]],
                                  numSubspaces: Int,
                                  codebookSize: Int): Unit = {
    require(cb.size == numSubspaces,
      s"trained artifact has ${cb.size} subspaces, caller requested $numSubspaces")
    require(cb.headOption.forall(_.size <= codebookSize),
      s"trained artifact has ${cb.head.size} codes/subspace, caller requested <= $codebookSize")
  }

  /** Bind the per-subspace slice columns `__sub_m` of `vCol`, with the
    * [[lshBucketQ]] three-way guard: a NULL vector gets NULL subvectors
    * (→ NULL scores → NULL codes → the row drops out of the ADC join);
    * a PRESENT wrong-dimension vector fail-fasts — without the guard,
    * `slice` would hand short subvectors to the truncating dot product
    * and the vector would encode to valid-looking garbage codes and be
    * RANKED (an artificially small |cb_j|²−2·dot score), silently
    * displacing true neighbors. */
  private def pqWithSubs(df: DataFrame, vCol: String, numSubspaces: Int,
                         subDim: Int): DataFrame = {
    val dim = numSubspaces * subDim
    (0 until numSubspaces).foldLeft(df) { (d, m) =>
      d.withColumn(s"__sub_$m",
        when(col(vCol).isNull, lit(null).cast("array<bigint>"))
          .when(size(col(vCol)) === dim,
            slice(col(vCol), m * subDim + 1, subDim))
          .otherwise(raise_error(concat(
            lit(s"pq: embedding dim mismatch, expected $dim, got "),
            size(col(vCol)).cast("string"))).cast("array<bigint>")))
    }
  }

  /** Bind the 1-based argmin code columns `__code_m` over bound score
    * arrays: score_j = |cb_j|² − 2·(sub·cb_j) — the |sub|² term is
    * constant across j and dropped; array_position takes the FIRST
    * minimum, i.e. the smallest code on ties. */
  private def pqWithCodes(df: DataFrame, cb: Seq[Seq[Seq[Long]]]): DataFrame =
    cb.indices.foldLeft(df) { (d, m) =>
      d.withColumn(s"__sc_$m", array(cb(m).map { e =>
          lit(e.map(x => x * x).sum) -
            lit(2L) * intDot(col(s"__sub_$m"), typedLit(e))
        }: _*))
        .withColumn(s"__code_$m",
          expr(s"array_position(__sc_$m, array_min(__sc_$m))"))
    }

  /** Train the per-subspace PQ codebooks: deterministic seeds = the first
    * `codebookSize` corpus vectors' subvectors in id order (one bounded
    * driver collect, the IVF-centroid budget class), refined by
    * `trainIters` Lloyd iterations — one distributed
    * assignment+aggregation job per iteration collecting
    * numSubspaces × codebookSize × subDim slim rows; floor means keep the
    * codebooks integer (and mirrored). Returns (subDim, codebooks) —
    * callers that consume the same training from several operators (q87
    * and q92 share one artifact) pass it back via the `trained` param;
    * the caller owns parameter consistency. */
  private[graft] def pqTrain(corpus: DataFrame, idCol: String, embCol: String,
                      numSubspaces: Int, codebookSize: Int,
                      trainIters: Int): (Int, Seq[Seq[Seq[Long]]]) = {
    require(numSubspaces > 0, "numSubspaces must be positive")
    require(codebookSize > 0, "codebookSize must be positive")
    require(trainIters >= 0, "trainIters must be >= 0")
    val cqv = corpus.select(col(idCol), quantize(col(embCol)).as("cv"))
    val seeds: Seq[Seq[Long]] =
      seedVectors(corpus, idCol, embCol, codebookSize)
    // dim comes off the seed collect — no separate 1-row probe job
    val dim = seeds.headOption.map(_.size).getOrElse(0)
    require(dim > 0 && dim % numSubspaces == 0,
      s"embedding dim $dim must be a positive multiple of $numSubspaces")
    val subDim = dim / numSubspaces
    var cb: Seq[Seq[Seq[Long]]] = (0 until numSubspaces).map(m =>
      seeds.map(_.slice(m * subDim, (m + 1) * subDim)))
    for (_ <- 0 until trainIters) {
      val codeArray = array(cb.indices.map(m => col(s"__code_$m")): _*)
      val sums = pqWithCodes(pqWithSubs(cqv, "cv", numSubspaces, subDim), cb)
        .select(codeArray.as("codes"), posexplode(col("cv")))
        .select(expr(s"CAST(pos DIV $subDim AS INT)").as("m"), col("pos"),
          col("col").as("v"), col("codes"))
        .withColumn("code", expr("element_at(codes, m + 1)"))
        .groupBy("m", "code", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      val grouped = sums.groupBy(r => (r.getInt(0), r.getLong(1)))
      cb = (0 until numSubspaces).map { m =>
        cb(m).zipWithIndex.map { case (old, j) =>
          grouped.get((m, (j + 1).toLong)) match {
            case Some(rows) => rows.sortBy(_.getInt(2)).toSeq
              // integer-closed floor mean (see refineCentroids)
              .map(r => Math.floorDiv(r.getLong(3), r.getLong(4)))
            case None => old
          }
        }
      }
    }
    (subDim, cb)
  }

  /** Encode the quantized corpus to slim (id, m, code) rows. */
  private def pqCodes(cqv: DataFrame, idCol: String, cb: Seq[Seq[Seq[Long]]],
                      subDim: Int): DataFrame = {
    val codeArray = array(cb.indices.map(m => col(s"__code_$m")): _*)
    pqWithCodes(pqWithSubs(cqv, "cv", cb.size, subDim), cb)
      .select(col(idCol), posexplode(codeArray))
      .select(col(idCol), col("pos").as("m"), col("col").as("code"))
  }

  /** Query-side ADC lookup table: (query_id, m, code) → full partial
    * squared L2 |qsub − cb_j|² = |qsub|² − 2·(qsub·cb_j) + |cb_j|², with
    * |qsub|² bound once per subspace. */
  private def pqLut(queries: DataFrame, idCol: String, embCol: String,
                    cb: Seq[Seq[Seq[Long]]], subDim: Int): DataFrame = {
    val numSubspaces = cb.size
    val qb = (0 until numSubspaces).foldLeft(
        pqWithSubs(queries.select(col(idCol).as("query_id"),
          quantize(col(embCol)).as("qv")), "qv", numSubspaces, subDim)) {
        (d, m) =>
        d.withColumn(s"__qn_$m", intDot(col(s"__sub_$m"), col(s"__sub_$m")))
      }
    val lutEntries: Seq[Column] = for {
      m <- 0 until numSubspaces
      (e, j) <- cb(m).zipWithIndex
    } yield struct(lit(m).as("m"), lit((j + 1).toLong).as("code"),
      (col(s"__qn_$m") - lit(2L) * intDot(col(s"__sub_$m"), typedLit(e)) +
        lit(e.map(x => x * x).sum)).as("pd"))
    qb.select(col("query_id"), explode(array(lutEntries: _*)).as("e"))
      .select(col("query_id"), col("e.m").as("m"), col("e.code").as("code"),
        col("e.pd").as("pd"))
  }

  /** IVF-PQ: [[ivfTopK]]'s inverted-list gate composed with [[pqTopK]]'s
    * ADC ranking — the production-scale ANN shape (Jégou et al. 2011,
    * §IV: "IVFADC"): the coarse quantizer (first `nCentroids` corpus
    * vectors, unrefined — the oracle-mirrored seed rule) routes each
    * corpus vector to one inverted list; each query probes its `nProbe`
    * nearest lists and ADC-ranks ONLY those candidates via the broadcast
    * LUT. Candidate volume per query drops by ~nProbe/nCentroids while
    * the scan stays on 8-byte-per-subspace codes — the two bounds
    * compose multiplicatively. Simplification vs the paper: PQ encodes
    * raw vectors, not residuals (residual codebooks are
    * per-coarse-cell, which would break the single-LUT broadcast and
    * the oracle's shared-codebook mirror; documented trade).
    *
    * Deterministic end-to-end (coarse argmax = q32's cosine rule, PQ =
    * q87's integer rule), so the COMPOSITION is hash-checkable too. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                embCol: String, k: Int, nCentroids: Int = 16,
                nProbe: Int = 4, numSubspaces: Int = 4,
                codebookSize: Int = 16, trainIters: Int = 1,
                trained: Option[(Int, Seq[Seq[Seq[Long]]])] = None): DataFrame = {
    require(nProbe > 0 && nProbe <= nCentroids,
      s"nProbe must be in [1, $nCentroids]")
    val (subDim, cb) = trained.getOrElse(
      pqTrain(corpus, idCol, embCol, numSubspaces, codebookSize, trainIters))
    requireTrainedShape(cb, numSubspaces, codebookSize)
    // Coarse quantizer: first-nCentroids seeds, exactly q32's
    // unrefined-init rule (kmeansIters = 0), so the list assignment
    // mirrors the existing oracle CTE shape.
    val cents: Seq[Seq[Long]] =
      seedVectors(corpus, idCol, embCol, nCentroids)
    val cNorms: Seq[Long] = cents.map(v => v.map(x => x * x).sum)
    val cqv = corpus.select(col(idCol), quantize(col(embCol)).as("cv"))
      .withColumn("cn", intDot(col("cv"), col("cv")))
    val assigned = cqv
      .withColumn("__key", centKeys(cents, cNorms, col("cv")))
      .withColumn("list_id", nearestCid)
      .select(col(idCol), col("list_id"))
    val q = queries.select(col(idCol).as("query_id"),
        quantize(col(embCol)).as("qv"))
      .withColumn("qn", intDot(col("qv"), col("qv")))
      .withColumn("__key", centKeys(cents, cNorms, col("qv")))
      .withColumn("__probe", probeListCol(cents.size, nProbe))
      .select(col("query_id"), explode(col("__probe")).as("list_id"))
    // (query_id, vec_id) candidates from probed lists — slim both sides.
    val cand = assigned.join(broadcast(q), Seq("list_id"))
      .select(col("query_id"), col(idCol))
    val codes = pqCodes(cqv.drop("cn"), idCol, cb, subDim)
    val lut = pqLut(queries, idCol, embCol, cb, subDim)
    val scored = cand.join(codes, idCol)
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("pd")).as("adist"))
    topKPerQueryOrdered(scored, idCol, k,
      Seq(col("adist").asc, col(idCol).asc))
  }

  /** Recall-tunable ANN via BANDED sign-LSH — the vector analog of
    * MinHash banding: `bands` independent groups of `planesPerBand`
    * hyperplanes each; a corpus vector is a candidate for a query if ALL
    * bits agree in AT LEAST ONE band. Single-band LSH ([[annTopK]])
    * trades recall for candidate-set size with one knob; banding adds
    * the second knob (more bands = higher recall at more candidates),
    * which is how production ANN tunes recall targets.
    *
    * Scale: per-band buckets ride a slim (band, bucket, id) join;
    * candidate pairs are `distinct`-ed BEFORE the quantized vectors are
    * re-attached for exact scoring (the MinHash distinct-then-reattach
    * shape — a pair matching in many bands is scored once). Fully
    * deterministic, so oracle-checkable with plane literals. */
  def annTopKBanded(queries: DataFrame, corpus: DataFrame,
                    idCol: String, embCol: String, k: Int,
                    bands: Int = 4, planesPerBand: Int = 4): DataFrame = {
    val dim = corpus.select(size(col(embCol))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    val qPlanes = quantizePlanes(hyperplanes(bands * planesPerBand, dim))
    // each band's bucket goes through lshBucketQ so it carries the same
    // NULL-vector / dim-mismatch three-way guard as the single-band path
    // (a silently NULL-padded wrong-dim vector would degrade candidate
    // quality undetected)
    def bandBuckets(qv: Column): Column =
      posexplode(array((0 until bands).map { b =>
        lshBucketQ(qv, qPlanes.slice(b * planesPerBand, (b + 1) * planesPerBand))
      }: _*))
    // quantized frames bound ONCE; the banded explode derives from them
    // and only slim (band, bucket, id) rows ride the candidate join —
    // vectors re-attach from the un-exploded frames (no distinct needed
    // to undo an explode, no second evaluation of the bucket subtree).
    val qq = withQuantized(queries, idCol, embCol, "qv", "qn")
      .withColumnRenamed(idCol, "query_id").drop(embCol)
    val cq = withQuantized(corpus, idCol, embCol, "cv", "cn").drop(embCol)
    val qBanded = qq.select(col("query_id"), bandBuckets(col("qv")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    val cBanded = cq.select(col(idCol), bandBuckets(col("cv")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    val cand = cBanded.join(broadcast(qBanded), Seq("band", "bucket"))
      .select("query_id", idCol).distinct()
    val scored = cand
      .join(cq, idCol)
      .join(broadcast(qq), "query_id")
      .select(col("query_id"), col(idCol),
        cosineQ(intDot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
    topKPerQuery(scored, idCol, k)
  }

  /** Embedding-cosine near-duplicate pairs — the dedup-family member that
    * works on vectors instead of shingles: sign-LSH bucketing (all
    * `numPlanes` sign bits must agree) gates an exact quantized-cosine
    * verification, returning (id_a, id_b, cosine) for bucket-sharing pairs
    * with cosine >= `minCosine`.
    *
    * Scale: never all-pairs — only intra-bucket pairs materialize, and
    * `numPlanes` sets the bucket granularity (pick ~log2(n / target bucket
    * size); 2^numPlanes buckets). Natural corpora still skew (a dense
    * semantic cluster lands in one bucket), so buckets above
    * `maxBucketSize` are dropped with the count observed as the
    * "cosine_lsh" metric — the same cap discipline as the MinHash/SimHash
    * paths. Everything here is deterministic (fixed-seed planes, exact
    * integer arithmetic), so the operator is fully oracle-checkable with
    * the plane literals mirrored into SQL. */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
                         minCosine: Double, numPlanes: Int = 8,
                         maxBucketSize: Int = 1000): DataFrame = {
    val dim = corpus.select(size(col(embCol))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    val qPlanes = quantizePlanes(hyperplanes(numPlanes, dim))
    val c = withQuantized(corpus, idCol, embCol, "cv", "cn")
      .withColumn("bucket", lshBucketQ(col("cv"), qPlanes)).drop(embCol)
    val sizes = c.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .observe("cosine_lsh",
        sum(when(col("__n") > maxBucketSize, 1L).otherwise(0L)).as("dropped_buckets"),
        sum(when(col("__n") > maxBucketSize, col("__n")).otherwise(0L)).as("dropped_rows"))
    val kept = c.join(sizes.where(col("__n") <= maxBucketSize), "bucket")
      .drop("__n")
    val a = kept.select(col("bucket"), col(idCol).as("id_a"),
      col("cv").as("cv_a"), col("cn").as("cn_a"))
    val b = kept.select(col("bucket"), col(idCol).as("id_b"),
      col("cv").as("cv_b"), col("cn").as("cn_b"))
    a.join(b, "bucket")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineQ(intDot(col("cv_a"), col("cv_b")),
          col("cn_a"), col("cn_b")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** ANN top-k via sign-LSH: only corpus vectors sharing the query's bucket
    * are scored (candidate set ≈ corpus/2^planes per query), then exact
    * quantized cosine ranks them with the same bounded-merge as
    * [[bruteForceTopK]]. Recall < 1 by construction — this is the scale
    * path; bruteForceTopK is the exact baseline.
    *
    * The plane dimension is derived from the first corpus row (one tiny
    * driver action at plan time); any row with a different dim fails fast
    * in [[lshBucket]]. */
  def annTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, embCol: String, k: Int,
              numPlanes: Int = 8): DataFrame = {
    val dim = corpus.select(size(col(embCol))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    val qPlanes = quantizePlanes(hyperplanes(numPlanes, dim))
    val q = withQuantized(queries, idCol, embCol, "qv", "qn")
      .withColumn("bucket", lshBucketQ(col("qv"), qPlanes))
      .withColumnRenamed(idCol, "query_id")
      .select("query_id", "qv", "qn", "bucket")
    val c = withQuantized(corpus, idCol, embCol, "cv", "cn")
      .withColumn("bucket", lshBucketQ(col("cv"), qPlanes)).drop(embCol)
    val scored = c.join(broadcast(q), Seq("bucket"))
      .select(col("query_id"), col(idCol),
        cosineQ(intDot(col("qv"), col("cv")), col("qn"), col("cn")).as("cosine"))
    topKPerQuery(scored, idCol, k)
  }
}
