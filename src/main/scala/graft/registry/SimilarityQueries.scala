package graft
package registry

import graft.similarity.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The similarity / ANN rows: exact cosine top-k, LSH, JL, SQ8, PQ and
  * IVF searches, and the evaluation readouts over the IVF training.
  * q149a–c are diagnostic rows (see their comment). */
object SimilarityQueries {

  import Tables.t
  import Shared._

  /** Banded-LSH plane literals for the q54 oracle: (band, bit weight,
    * plane) rows — plane j sits in band j/planesPerBand with in-band bit
    * weight 1 << (j % planesPerBand), exactly
    * [[graft.similarity.Similarity.annTopKBanded]]'s slicing. */
  private def bandedPlanesSql(bands: Int, planesPerBand: Int,
                              dim: Int = 64): String =
    Similarity.quantizePlanes(
        Similarity.hyperplanes(bands * planesPerBand, dim))
      .zipWithIndex.map { case (p, j) =>
        s"(${j / planesPerBand}, ${1L << (j % planesPerBand)}, " +
          s"${p.mkString("[", ",", "]")}::BIGINT[])"
      }.mkString(", ")

  /** The sign-LSH path mirrored into SQL. The hyperplanes are part of the
    * operator definition (fixed seed 42, quantized like the embeddings), so
    * their literals can be EMBEDDED in the oracle — which makes the whole
    * LSH bucketing deterministic and hash-checkable, not engine-internal.
    * `dim` is pinned to the testdata's embedding dimension (64 at every
    * SF); the Spark side derives it from the data and builds the identical
    * planes. Produces CTEs `planes` (w = bit weight, pv = plane), `bk`
    * (vec_id → bucket), `c` (quantized vector + norm + bucket). */
  private def lshCtes(numPlanes: Int, dim: Int = 64): String = {
    val planeRows = Similarity
      .quantizePlanes(Similarity.hyperplanes(numPlanes, dim))
      .zipWithIndex.map { case (p, i) =>
        s"(${1L << i}, ${p.mkString("[", ",", "]")}::BIGINT[])"
      }.mkString(", ")
    s"""planes AS (SELECT * FROM (VALUES $planeRows) pl(w, pv)),
       |bk AS (
       |  SELECT n.vec_id,
       |    CAST(sum(CASE WHEN CAST(list_sum(list_transform(range(1, len(n.v)+1),
       |      i -> n.v[i]*p.pv[i])) AS BIGINT) > 0 THEN p.w ELSE 0 END) AS BIGINT) AS bucket
       |  FROM n CROSS JOIN planes p GROUP BY n.vec_id),
       |c AS (SELECT n.vec_id, n.v, n.nrm, bk.bucket FROM n JOIN bk USING (vec_id)),
       |""".stripMargin
  }

  /** The PQ oracle chain (q87, reused by q92): subvector split, seed
    * codebooks (first 16 corpus vectors), one Lloyd iteration with floor
    * means, argmin encode, query LUT with the full |qsub−cv|² expansion.
    * Consumes EMB_CTE's `n`; produces `codes` and `lut`. */
  private val PQ_CTES: String =
    """subs AS (SELECT unnest(range(0, 4)) AS m),
      |cs AS (
      |  SELECT n.vec_id, s.m, list_slice(n.v, s.m*16+1, (s.m+1)*16) AS sv
      |  FROM n CROSS JOIN subs s),
      |seeds AS (
      |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS code
      |  FROM n ORDER BY vec_id LIMIT 16),
      |cb0 AS (SELECT c.m, s.code, c.sv AS cv
      |        FROM seeds s JOIN cs c USING (vec_id)),
      |psc0 AS (
      |  SELECT c.vec_id, c.m, b.code,
      |    CAST(list_sum(list_transform(range(1, len(b.cv)+1),
      |      i -> b.cv[i]*b.cv[i])) AS BIGINT)
      |    - 2 * CAST(list_sum(list_transform(range(1, len(c.sv)+1),
      |      i -> c.sv[i]*b.cv[i])) AS BIGINT) AS score
      |  FROM cs c JOIN cb0 b ON c.m = b.m),
      |asn0 AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT vec_id, m, code, row_number() OVER (PARTITION BY vec_id, m
      |      ORDER BY score ASC, code ASC) AS rn FROM psc0) WHERE rn = 1),
      |sd AS (SELECT unnest(range(1, 17)) AS i),
      |mu AS (
      |  SELECT a.m, a.code, sd.i,
      |    CAST(CASE WHEN sum(c.sv[sd.i]) >= 0
      |              THEN sum(c.sv[sd.i]) // count(*)
      |              ELSE -((-sum(c.sv[sd.i]) + count(*) - 1) // count(*))
      |         END AS BIGINT) AS mv
      |  FROM asn0 a JOIN cs c ON a.vec_id = c.vec_id AND a.m = c.m
      |  CROSS JOIN sd GROUP BY a.m, a.code, sd.i),
      |cb1 AS (
      |  SELECT b.m, b.code, COALESCE(l.cv, b.cv) AS cv FROM cb0 b
      |  LEFT JOIN (SELECT m, code, list(mv ORDER BY i) AS cv
      |             FROM mu GROUP BY m, code) l
      |    ON b.m = l.m AND b.code = l.code),
      |psc1 AS (
      |  SELECT c.vec_id, c.m, b.code,
      |    CAST(list_sum(list_transform(range(1, len(b.cv)+1),
      |      i -> b.cv[i]*b.cv[i])) AS BIGINT)
      |    - 2 * CAST(list_sum(list_transform(range(1, len(c.sv)+1),
      |      i -> c.sv[i]*b.cv[i])) AS BIGINT) AS score
      |  FROM cs c JOIN cb1 b ON c.m = b.m),
      |codes AS (
      |  SELECT vec_id, m, code FROM (
      |    SELECT vec_id, m, code, row_number() OVER (PARTITION BY vec_id, m
      |      ORDER BY score ASC, code ASC) AS rn FROM psc1) WHERE rn = 1),
      |pq AS (SELECT vec_id AS query_id, m, sv FROM cs WHERE vec_id < 10),
      |lut AS (
      |  SELECT q.query_id, b.m, b.code,
      |    CAST(list_sum(list_transform(range(1, len(q.sv)+1),
      |      i -> q.sv[i]*q.sv[i])) AS BIGINT)
      |    - 2 * CAST(list_sum(list_transform(range(1, len(q.sv)+1),
      |      i -> q.sv[i]*b.cv[i])) AS BIGINT)
      |    + CAST(list_sum(list_transform(range(1, len(b.cv)+1),
      |      i -> b.cv[i]*b.cv[i])) AS BIGINT) AS pd
      |  FROM pq q JOIN cb1 b ON q.m = b.m),
      |""".stripMargin

  // -------------------------------------------------------------- oracle --

  /** Brute-force quantized-cosine top-5 (queries = vec_id < 10) — the
    * oracle for BOTH q19 (IntDotProduct spelled directly) and q55 (HOF
    * spelling rewritten to IntDotProduct by the optimizer rule). */
  private val BRUTE_TOPK_SQL: String = EMB_CTE +
    s"""p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
      |    ${cosSql("q", "c")} AS cosine
      |  FROM n q, n c WHERE q.vec_id < 10),
      |r AS (
      |  SELECT query_id, vec_id, cosine,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY cosine DESC, vec_id ASC) AS rank
      |  FROM p)
      |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  /** JL-projected cosine top-5 (q135): the ±1 Rademacher rows embedded as
    * literals (the lshCtes discipline — the matrix is operator definition,
    * not runtime randomness), projection/norm/cosine mirroring
    * [[graft.similarity.Similarity.jlTopK]] op for op. */
  private val JL_TOPK_SQL: String = {
    val rows = Similarity.rademacherPlanes(projDim = 8, dim = 64)
      .zipWithIndex.map { case (p, j) =>
        s"($j, ${p.mkString("[", ",", "]")}::BIGINT[])"
      }.mkString(", ")
    EMB_CTE +
      s"""jlp AS (SELECT * FROM (VALUES $rows) pl(j, pv)),
         |y AS (
         |  SELECT n.vec_id,
         |    list(CAST(list_sum(list_transform(range(1, len(n.v)+1),
         |      i -> n.v[i]*p.pv[i])) AS BIGINT) ORDER BY p.j) AS yv
         |  FROM n CROSS JOIN jlp p GROUP BY n.vec_id),
         |yn AS (
         |  SELECT vec_id, yv,
         |    CAST(list_sum(list_transform(range(1, len(yv)+1),
         |      i -> yv[i]*yv[i])) AS BIGINT) AS nrm
         |  FROM y),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    CAST(CAST(list_sum(list_transform(range(1, len(q.yv)+1),
         |        i -> q.yv[i]*c.yv[i])) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE)))
         |      AS cosine
         |  FROM yn q, yn c WHERE q.vec_id < 10),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM p)
         |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin
  }

  // Mirrors Similarity.sq8TopK: per-vector sv = max(1, ceil(maxabs/127))
  // (integer `//` ≡ Spark's `div` — operands non-negative), codes truncate
  // |x| toward zero, reconstruction stays virtual via sv·dot(q, code).
  private val SQ8_ANN_SQL: String =
    EMB_CTE +
      """sq AS (
        |  SELECT vec_id, v,
        |    GREATEST(1, (list_max(list_transform(v, x -> abs(x))) + 126) // 127)
        |      AS sv
        |  FROM e),
        |cd AS (
        |  SELECT vec_id, sv,
        |    list_transform(v, x -> CASE WHEN x < 0 THEN -((-x) // sv)
        |                                ELSE x // sv END) AS cc
        |  FROM sq),
        |cn AS (
        |  SELECT vec_id, sv, cc,
        |    sv * sv * CAST(list_sum(list_transform(range(1, len(cc)+1),
        |      i -> cc[i]*cc[i])) AS BIGINT) AS cn
        |  FROM cd),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    CAST(c.sv * CAST(list_sum(list_transform(range(1, len(q.v)+1),
        |        i -> q.v[i]*c.cc[i])) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE)))
        |      AS cosine
        |  FROM n q, cn c WHERE q.vec_id < 10),
        |r AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p)
        |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin

  /** The oracles' HUGEINT mirror of [[Similarity.exactCosKey]]: the
    * float-free centroid-ranking key sign(dot)·floor(dot²·10⁹/cnrm),
    * assembled as (dot² // cnrm)·10⁹ + ((dot² % cnrm)·10⁹) // cnrm so no
    * intermediate exceeds HUGEINT, NULL for a zero-norm centroid (the
    * consumers rank `ckey DESC NULLS LAST, cid ASC`). Spark computes
    * the identical integer in DECIMAL(38,0), so the cluster
    * assignment/probe ORDER can never drift with a DuckDB version's
    * int128→double rounding — the round-7/8 q149 failure mode, where a
    * 1-ulp float-cosine flip relocated one vector and shifted every
    * downstream centroid mean and inertia sum. */
  private def cosKeySql(dot: String, cnrm: String): String = {
    val d2 = s"(CAST($dot AS HUGEINT) * $dot)"
    val mag = s"((($d2 // $cnrm) * 1000000000) + " +
      s"(($d2 % $cnrm) * 1000000000) // $cnrm)"
    s"CASE WHEN $cnrm = 0 THEN NULL WHEN $dot < 0 THEN -$mag ELSE $mag END"
  }

  /** One mirrored assignment round against centroid CTE `centCte`
    * (cid, cv, cnrm): dots (sd$sfx), exact keys (k$sfx — kept visible so
    * probe CTEs can rank with the same key), winner per vector (a$sfx). */
  private def ivfAssignCtes(centCte: String, sfx: String): String =
    s"""sd$sfx AS (
       |  SELECT n.vec_id, c.cid,
       |    CAST(list_sum(list_transform(range(1, len(n.v)+1),
       |      i -> n.v[i]*c.cv[i])) AS BIGINT) AS dot,
       |    c.cnrm AS cnrm
       |  FROM n, $centCte c),
       |k$sfx AS (
       |  SELECT vec_id, cid,
       |    ${cosKeySql("dot", "cnrm")} AS ckey
       |  FROM sd$sfx),
       |a$sfx AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ckey DESC NULLS LAST, cid ASC) AS rn FROM k$sfx)
       |  WHERE rn = 1),
       |""".stripMargin

  // q32's mirrored IVF training pipeline — seed centroids (first 16
  // corpus vectors), two Lloyd iterations with floor-mean integer
  // centroids and the EXACT-KEY assignment (cosKeySql — float-free, so
  // no DuckDB version can rank apart from Spark), then the final
  // per-vector assignment. Shared VERBATIM by the IVF search (q32) and
  // the inertia readout (q149), so the two oracles can never train
  // apart. Consumes EMB_CTE's `n`; produces `cent` (cid, cv, cnrm),
  // `kf` (all final exact keys — the probe CTEs rank over it), and
  // `assign` (vec_id → cid).
  private val IVF_TRAIN_CTES: String =
    """dims AS (SELECT unnest(range(1, (SELECT max(len(v)) FROM n) + 1)) AS i),
      |c0 AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS cv
      |  FROM n ORDER BY vec_id LIMIT 16),
      |c0n AS (
      |  SELECT cid, cv, CAST(list_sum(list_transform(range(1, len(cv)+1),
      |    i -> cv[i]*cv[i])) AS BIGINT) AS cnrm FROM c0),
      |""".stripMargin +
    ivfAssignCtes("c0n", "0") +
    """m0 AS (
      |  SELECT a.cid, d.i,
      |    CAST(CASE WHEN sum(n.v[d.i]) >= 0
      |              THEN sum(n.v[d.i]) // count(*)
      |              ELSE -((-sum(n.v[d.i]) + count(*) - 1) // count(*))
      |         END AS BIGINT) AS mv
      |  FROM a0 a JOIN n USING (vec_id) CROSS JOIN dims d
      |  GROUP BY a.cid, d.i),
      |c1 AS (
      |  SELECT c.cid, COALESCE(l.cv, c.cv) AS cv FROM c0 c
      |  LEFT JOIN (SELECT cid, list(mv ORDER BY i) AS cv FROM m0 GROUP BY cid) l
      |    USING (cid)),
      |c1n AS (
      |  SELECT cid, cv, CAST(list_sum(list_transform(range(1, len(cv)+1),
      |    i -> cv[i]*cv[i])) AS BIGINT) AS cnrm FROM c1),
      |""".stripMargin +
    ivfAssignCtes("c1n", "1") +
    """m1 AS (
      |  SELECT a.cid, d.i,
      |    CAST(CASE WHEN sum(n.v[d.i]) >= 0
      |              THEN sum(n.v[d.i]) // count(*)
      |              ELSE -((-sum(n.v[d.i]) + count(*) - 1) // count(*))
      |         END AS BIGINT) AS mv
      |  FROM a1 a JOIN n USING (vec_id) CROSS JOIN dims d
      |  GROUP BY a.cid, d.i),
      |c2 AS (
      |  SELECT c.cid, COALESCE(l.cv, c.cv) AS cv FROM c1 c
      |  LEFT JOIN (SELECT cid, list(mv ORDER BY i) AS cv FROM m1 GROUP BY cid) l
      |    USING (cid)),
      |cent AS (
      |  SELECT cid, cv, CAST(list_sum(list_transform(range(1, len(cv)+1),
      |    i -> cv[i]*cv[i])) AS BIGINT) AS cnrm FROM c2),
      |""".stripMargin +
    ivfAssignCtes("cent", "f") +
    """assign AS (SELECT vec_id, cid FROM af),
      |""".stripMargin

  /** The q32 probe-list gate as shared CTE text: each query's `nProbe`
    * nearest centroids under the exact-key order (ckey DESC NULLS LAST,
    * cid ASC — [[graft.similarity.Similarity]]'s probeListCol verbatim)
    * and the gated candidate set. Consumes IVF_TRAIN_CTES' `kf` and
    * `assign`; produces `probe` (query_id, cid) and `cand` (query_id,
    * vec_id). One spelling shared by q32 and the gated retrieval-eval
    * family (q238/q239/q240) so the gate can never drift between its
    * consumers. `excludeSelf` drops the query's own row (the labeled
    * kNN contract); q32/q240 keep self on both sides. */
  private def ivfGateCtes(queryPredSql: String, nProbe: Int,
                          excludeSelf: Boolean): String = {
    val selfFilter = if (excludeSelf) "\n  WHERE a.vec_id <> p.query_id" else ""
    s"""probe AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ckey DESC NULLS LAST, cid ASC) AS rn
       |    FROM kf WHERE $queryPredSql)
       |  WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id FROM probe p JOIN assign a ON p.cid = a.cid$selfFilter),
       |""".stripMargin
  }

  /** The assigned-centroid exact cosine-key attach (`sck`: vec_id, cid,
    * ckey) — the SQL mirror of Similarity.assignedWithKey, shared by
    * the q213/q215 oracles so the assigned-key derivation has ONE
    * spelling per engine. Consumes IVF_TRAIN_CTES' `assign` and `kf`. */
  private val SCK_CTE: String =
    """sck AS (
      |  SELECT a.vec_id, a.cid, k.ckey
      |  FROM assign a JOIN kf k ON a.vec_id = k.vec_id AND a.cid = k.cid),
      |""".stripMargin

  val queries: Seq[Query] = Seq(
    // Per-cluster k-means inertia (similarity/Similarity.ivfClusterStats)
    // — the cluster-quality readout over q32's coarse quantizer: exact
    // integer dist² = |x|²+|c|²−2⟨x,c⟩ per assigned vector, summed in
    // DECIMAL(38,0). The training loop is q32's (shared CTEs in the
    // oracle); the readout adds one O(dim) codegen dot per row and a
    // 16-key aggregate. The HASHED surface splits the decimal inertia
    // into two BIGINT limbs (hi = DIV 10¹², lo = MOD 10¹²): r7-r9
    // showed the driver's comparator treats an int128-typed column
    // (Spark DECIMAL(38,0) / DuckDB HUGEINT) differently from int64 —
    // e.g. DuckDB's pandas path renders both as float64, lossy past
    // 2^53 and repr-divergent from pyarrow's Decimal below it — so the
    // contract is: hashed columns are int64 in BOTH engines, at
    // magnitudes < 2^53 (limbs < 10¹²; total for inertia < 10²⁴, far
    // above any reachable scale — the decimal carries the true sum).
    Query("q149_kmeans_inertia", ((s, dir) =>
      Similarity.ivfClusterStats(t(s, dir, "embeddings"), "vec_id",
        "embedding", nCentroids = 16, kmeansIters = 2,
        trainedCents = Some(ivfTrained(s, dir, 16, 2)))
        .select(col("cid"), col("n_assigned"),
          expr("CAST(inertia DIV 1000000000000 AS BIGINT)").as("inertia_hi"),
          expr("CAST(inertia % 1000000000000 AS BIGINT)").as("inertia_lo"))),
      // Mirrors ivfClusterStats: q32's training CTEs verbatim, then the
      // exact integer |x|²+|c|²−2⟨x,c⟩ readout summed per cluster; the
      // HUGEINT sum ships as two BIGINT limbs (// 10¹², % 10¹²) so the
      // hashed surface is int64-typed in both engines (see the Spark-side
      // q149 comment: int128-typed hashed columns are what the driver's
      // comparator renders engine-differently). Both operands nonnegative,
      // so // and % agree across division conventions.
      Some(EMB_CTE + IVF_TRAIN_CTES +
      """inr AS (
        |  SELECT a.cid, n.nrm, cent.cnrm,
        |    CAST(list_sum(list_transform(range(1, len(n.v)+1),
        |      i -> n.v[i]*cent.cv[i])) AS BIGINT) AS dot
        |  FROM assign a JOIN n USING (vec_id) JOIN cent ON a.cid = cent.cid)
        |SELECT cid, count(*) AS n_assigned,
        |  CAST(sum(nrm + cnrm - 2 * dot) // 1000000000000 AS BIGINT) AS inertia_hi,
        |  CAST(sum(nrm + cnrm - 2 * dot) % 1000000000000 AS BIGINT) AS inertia_lo
        |FROM inr GROUP BY cid""".stripMargin)),

    // DIAGNOSTIC ROWS q149a–c: bisection readouts of q149, not product
    // queries; they stay registered so the oracle keeps checking them.
    // r10 DIAGNOSTICS (VERDICT r9 item 1) — q149's training pipeline
    // read out at intermediate points on pure-int64 surfaces, so a
    // still-red q149 in CORRECTNESS_r10 comes with the first diverging
    // stage named: per-vector assignment, final centroid coordinates,
    // per-round assignment histograms. All ride the ivfTrained artifact
    // — one training (per knob set) for the whole family plus q32.
    Query("q149a_ivf_assign", ((s, dir) =>
      Similarity.ivfAssignments(t(s, dir, "embeddings"), "vec_id",
        "embedding", ivfTrained(s, dir, 16, 2))),
      // r10 DIAGNOSTICS for the q149 driver-hash divergence (VERDICT r9
      // item 1): the shared training CTEs read out at intermediate points
      // on pure-int64 surfaces — per-vector final assignment, final
      // centroid coordinates, and per-round assignment histograms. The
      // first red row names the first diverging training stage; all green
      // while q149 stays red implicates the inertia readout (or the
      // comparator).
      Some(EMB_CTE + IVF_TRAIN_CTES +
      """sel AS (SELECT vec_id, cid FROM assign)
        |SELECT vec_id, cid FROM sel""".stripMargin)),
    Query("q149b_ivf_centroids", ((s, dir) =>
      Similarity.ivfCentroidRows(s, ivfTrained(s, dir, 16, 2))),
      Some(EMB_CTE + IVF_TRAIN_CTES +
      """sel AS (
        |  SELECT cid, d.i AS pos, CAST(cv[d.i] AS BIGINT) AS coord
        |  FROM cent CROSS JOIN dims d WHERE d.i <= len(cv))
        |SELECT cid, pos, coord FROM sel""".stripMargin)),
    Query("q149c_ivf_round_hist", ((s, dir) =>
      Similarity.ivfRoundHist(t(s, dir, "embeddings"), "vec_id",
        "embedding", iters = 2, r => ivfTrained(s, dir, 16, r))),
      Some(EMB_CTE + IVF_TRAIN_CTES +
      """sel AS (
        |  SELECT 0 AS round, cid, count(*) AS n_assigned FROM a0 GROUP BY cid
        |  UNION ALL
        |  SELECT 1 AS round, cid, count(*) AS n_assigned FROM a1 GROUP BY cid
        |  UNION ALL
        |  SELECT 2 AS round, cid, count(*) AS n_assigned FROM af GROUP BY cid)
        |SELECT CAST(round AS BIGINT) AS round, cid, n_assigned
        |FROM sel""".stripMargin)),

    // Brute-force quantized-cosine top-k (exact ANN baseline).
    Query("q19_cosine_topk", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
    }),
      Some(BRUTE_TOPK_SQL)),

    // Sign-LSH bucketed ANN top-k. Recall is approximate by construction,
    // but every step is deterministic (fixed-seed quantized planes, exact
    // integer cosine), so the oracle mirrors the planes as SQL literals and
    // the result is fully hash-checked.
    Query("q20_ann_lsh", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.annTopK(q, emb, "vec_id", "embedding", k = 3)
    }),
      Some(EMB_CTE + lshCtes(numPlanes = 8) +
      s"""q AS (SELECT * FROM c WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
        |    ${cosSql("q", "t")} AS cosine
        |  FROM q JOIN c t ON q.bucket = t.bucket),
        |r AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 3""".stripMargin)),

    // Recall-tunable banded sign-LSH ANN (the vector analog of MinHash
    // banding: all bits of ANY band agree → candidate; distinct pairs
    // scored exactly once). Hash-checked like q20 via plane literals.
    Query("q54_ann_banded", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.annTopKBanded(q, emb, "vec_id", "embedding", k = 3,
        bands = 4, planesPerBand = 4)
    }),
      Some(EMB_CTE +
      s"""planes AS (SELECT * FROM (VALUES ${bandedPlanesSql(4, 4)}) pl(band, w, pv)),
         |bk AS (
         |  SELECT n.vec_id, p.band,
         |    CAST(sum(CASE WHEN CAST(list_sum(list_transform(range(1, len(n.v)+1),
         |      i -> n.v[i]*p.pv[i])) AS BIGINT) > 0 THEN p.w ELSE 0 END) AS BIGINT) AS bucket
         |  FROM n CROSS JOIN planes p GROUP BY n.vec_id, p.band),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |  FROM bk q JOIN bk c ON q.band = c.band AND q.bucket = c.bucket
         |  WHERE q.vec_id < 10),
         |scored AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    ${cosSql("q", "t")} AS cosine
         |  FROM cand JOIN n q ON cand.query_id = q.vec_id
         |  JOIN n t ON cand.vec_id = t.vec_id),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 3""".stripMargin)),

    // Embedding-cosine near-duplicate pairs: sign-LSH bucket gating into
    // exact quantized-cosine verification, with the bucket-size cap and
    // observed drop metric — the vector-space member of the dedup family,
    // fully hash-checked (planes mirrored into the oracle).
    Query("q41_embed_neardup", ((s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", minCosine = 0.2, numPlanes = 8, maxBucketSize = 200)),
      Some(EMB_CTE + lshCtes(numPlanes = 8) +
      s"""bsz AS (SELECT bucket, count(*) AS bn FROM c GROUP BY bucket),
        |k AS (SELECT c.* FROM c JOIN bsz USING (bucket) WHERE bn <= 200),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    ${cosSql("a", "b")} AS cosine
        |  FROM k a JOIN k b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.2""".stripMargin)),

    // IVF-style ANN top-k — deterministic k-means-refined coarse quantizer
    // (2 Lloyd iterations, integer centroids) + probe-list search + exact
    // quantized cosine: the fully oracle-checkable ANN path (sign-LSH q20
    // stays rows-only because its planes are engine-internal).
    Query("q32_ivf_topk", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, kmeansIters = 2,
        trainedCents = Some(ivfTrained(s, dir, 16, 2)))
    }),
      Some(EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = false) +
      s"""scored AS (
        |  SELECT c.query_id, c.vec_id,
        |    ${cosSql("q", "t")} AS cosine
        |  FROM cand c JOIN n q ON c.query_id = q.vec_id JOIN n t ON c.vec_id = t.vec_id),
        |r AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin)),

    // Johnson-Lindenstrauss sketch-first ANN: the fixed Rademacher ±1
    // matrix (Achlioptas 2001) projects 64 → 8 dims, then the whole
    // cosine ranking runs in the projected space — the
    // dimensionality-reduction member of the ANN family (IVF gates by
    // partition, PQ compresses the codes, JL shrinks the vectors
    // themselves, 8× fewer multiply-adds per scored pair at any corpus
    // size). Every projected coordinate is an exact integer dot against
    // a literal sign row, so the oracle replays the identical matrix and
    // the result is fully hash-checked; recall vs q19's exact ranking is
    // pinned by SimilaritySpec.
    Query("q135_jl_topk", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.jlTopK(q, emb, "vec_id", "embedding", k = 5, projDim = 8)
    }),
      Some(JL_TOPK_SQL)),

    // SQ8 scalar-quantization ANN (faiss SQ8, asymmetric): corpus
    // vectors live as int8 codes + one per-vector scale (8× smaller),
    // queries stay full-precision, and dot(q, sv·code) = sv·dot(q, code)
    // keeps the reconstruction virtual — the memory-bandwidth member of
    // the ANN family (IVF gates, PQ quantizes subspaces, JL shrinks
    // dims, SQ8 shrinks bytes-per-dim). Codes use only non-negative
    // truncating division, so Spark's `div` and the oracle's `//` agree
    // sign-safely and codes, scales, and scores all hash-check; recall
    // vs q19's exact ranking is pinned by SimilaritySpec.
    Query("q141_sq8_ann", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.sq8TopK(q, emb, "vec_id", "embedding", k = 5)
    }),
      Some(SQ8_ANN_SQL)),

    // Product-quantization ANN (ADC): per-subspace codebooks trained by
    // one deterministic Lloyd iteration, corpus encoded to 4 code ids,
    // search = broadcast LUT join + integer partial-distance sum — the
    // memory-bound ANN shape, fully hash-checked (codebook training
    // mirrored in SQL like q32's k-means).
    Query("q87_pq_ann", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.pqTopK(q, emb, "vec_id", "embedding", k = 5,
        numSubspaces = 4, codebookSize = 16, trainIters = 1,
        trained = Some(pqTrained(s, dir)))
    }),
      // PQ-ADC mirrored end-to-end: subvector split, seed codebooks (first 16
      // corpus vectors), one Lloyd iteration with floor means, argmin encode
      // (score drops the code-independent |sub|² term; smallest-code
      // tie-break), query LUT with the full |qsub−cv|² expansion, integer
      // partial-distance sum, (adist asc, vec_id asc) rank.
      Some(EMB_CTE + PQ_CTES +
      """ad AS (
        |  SELECT l.query_id, c.vec_id, CAST(sum(l.pd) AS BIGINT) AS adist
        |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
        |  GROUP BY l.query_id, c.vec_id),
        |r2 AS (
        |  SELECT query_id, vec_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist ASC, vec_id ASC) AS rank
        |  FROM ad)
        |SELECT query_id, vec_id, adist, rank FROM r2 WHERE rank <= 5""".stripMargin)),

    // IVF-PQ composition (Jégou et al.'s IVFADC): q32's coarse
    // inverted-list gate routes each query to nProbe lists, q87's PQ-ADC
    // ranks only those candidates — candidate volume and bytes-per-
    // candidate bound multiplicatively; hash-checked end-to-end by
    // composing both proven oracle chains.
    Query("q92_ivfpq_ann", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 4, numSubspaces = 4,
        codebookSize = 16, trainIters = 1,
        trained = Some(pqTrained(s, dir)))
    }),
      // IVF-PQ: q32's unrefined coarse gate (assignment + nProbe=4 probe
      // lists, cosine rule verbatim) composed with q87's PQ chain — ADC
      // runs only on candidates from probed lists.
      Some(EMB_CTE +
      """cc0 AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS cv
        |  FROM n ORDER BY vec_id LIMIT 16),
        |cc0n AS (
        |  SELECT cid, cv, CAST(list_sum(list_transform(range(1, len(cv)+1),
        |    i -> cv[i]*cv[i])) AS BIGINT) AS cnrm FROM cc0),
        |cs0 AS (
        |  SELECT n.vec_id, c.cid,
        |    CAST(list_sum(list_transform(range(1, len(n.v)+1),
        |      i -> n.v[i]*c.cv[i])) AS BIGINT) AS dot,
        |    c.cnrm AS cnrm
        |  FROM n, cc0n c),
        |ck0 AS (
        |  SELECT vec_id, cid,
        |""".stripMargin +
      s"    ${cosKeySql("dot", "cnrm")} AS ckey\n" +
      """  FROM cs0),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ckey DESC NULLS LAST, cid ASC) AS rn FROM ck0)
        |  WHERE rn = 1),
        |probe AS (
        |  SELECT vec_id AS query_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ckey DESC NULLS LAST, cid ASC) AS rn
        |    FROM ck0 WHERE vec_id < 10)
        |  WHERE rn <= 4),
        |cand AS (
        |  SELECT p.query_id, a.vec_id FROM probe p JOIN assign a ON p.cid = a.cid),
        |""".stripMargin + PQ_CTES +
      """ad AS (
        |  SELECT l.query_id, c.vec_id, CAST(sum(l.pd) AS BIGINT) AS adist
        |  FROM cand cd
        |  JOIN codes c ON cd.vec_id = c.vec_id
        |  JOIN lut l ON l.query_id = cd.query_id
        |    AND c.m = l.m AND c.code = l.code
        |  GROUP BY l.query_id, c.vec_id),
        |r2 AS (
        |  SELECT query_id, vec_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist ASC, vec_id ASC) AS rank
        |  FROM ad)
        |SELECT query_id, vec_id, adist, rank FROM r2 WHERE rank <= 5""".stripMargin)),

    // The optimizer rule driven end-to-end: the SAME brute-force top-k as
    // q19, but every dot product spelled the way a USER would write it —
    // the `aggregate(zip_with(...))` higher-order function — with
    // GraftOptimizations installed on the session. RewriteHofIntDot swaps
    // in the codegen'd IntDotProduct kernel (PlanSpec asserts the
    // optimized plan), and the result hash-checks against q19's oracle
    // verbatim. The quantization coalesces each element to make the array
    // type non-null-element (the rule's safety precondition: the kernel
    // reads raw long slots).
    Query("q55_hof_dot_rewrite", ((s, dir) => {
      // Session hygiene: install the rule set on an ISOLATED session
      // (same SparkContext, fresh SessionState seeded from the builder
      // options) so the shared session every other registered query runs
      // on is never mutated — PlanSpec asserts the outer session's rule
      // list stays empty and q19's plan is identical after q55 has run.
      val iso = s.newSession()
      graft.plans.GraftOptimizations.install(iso)
      def qz(e: Column): Column = transform(e, x =>
        coalesce(round(x.cast("double") * lit(Similarity.Scale)).cast("long"),
          lit(0L)))
      def hof(a: String, b: String): Column = expr(
        s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
      val emb = t(iso, dir, "embeddings")
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), qz(col("embedding")).as("qv"))
        .withColumn("qn", hof("qv", "qv"))
      val c = emb.select(col("vec_id"), qz(col("embedding")).as("cv"))
        .withColumn("cn", hof("cv", "cv"))
      val scored = c.crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id"),
          Similarity.cosineQ(hof("qv", "cv"), col("qn"), col("cn")).as("cosine"))
      Similarity.topKPerQuery(scored, "vec_id", k = 5)
    }),
      // q55 computes the identical result through the HOF spelling + the
      // optimizer rewrite — same oracle, verbatim.
      Some(BRUTE_TOPK_SQL)),

    // Mean-pool + L2-normalize embeddings per group of 50 vectors
    // (chunk→document pooling): exact integer pooled sums, one
    // deterministic divide-by-sqrt for the unit vector.
    Query("q63_pooled_embeddings", ((s, dir) =>
      Similarity.pooledUnitEmbeddings(
        t(s, dir, "embeddings").withColumn("group_id",
          expr("vec_id DIV 50")),
        "group_id", "embedding")),
      // n2 = Σ_dim s_q² with s_q a 50-member group sum of 1e5-quantized
      // unit-ish components: n2 ≤ 64·(50·1e5)² = 1.6e15 < 2^53 (bounded by
      // GROUP SIZE and DIMS, never corpus size; measured 7.4e11 at sf0.1),
      // so the AS BIGINT wash is value-exact and the later n2→DOUBLE is
      // int64→double — correctly rounded identically in every engine (the
      // r10 respell that emptied the HashSurfaceSpec HUGEINT-cast
      // allowlist).
      Some("""WITH e AS (
        |  SELECT vec_id // 50 AS group_id,
        |    list_transform(embedding::DOUBLE[],
        |      x -> CAST(round(x * 100000.0) AS BIGINT)) AS v
        |  FROM embeddings),
        |q AS (
        |  SELECT group_id, unnest(range(len(v))) AS dim, unnest(v) AS q
        |  FROM e),
        |sums AS (
        |  SELECT group_id, dim, CAST(sum(q) AS BIGINT) AS s_q
        |  FROM q GROUP BY group_id, dim),
        |norms AS (
        |  SELECT group_id, CAST(sum(CAST(s_q AS HUGEINT) * s_q) AS BIGINT) AS n2
        |  FROM sums GROUP BY group_id)
        |SELECT s.group_id, s.dim, s.s_q,
        |  CASE WHEN n.n2 = 0 THEN NULL
        |       ELSE CAST(s.s_q AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE)) END AS unit
        |FROM sums s JOIN norms n USING (group_id)""".stripMargin)),

    // ANN recall audit — the eval harness for the approximate family:
    // recall@3 of the banded sign-LSH path (q54's operator) against the
    // exact brute-force ranking (q19's), per query. BOTH sides are
    // deterministic (fixed-seed quantized planes, integer cosines), so
    // the recall itself is hash-checkable — the approximate index's
    // quality becomes a regression-testable number instead of a hope.
    // hits ride a left join + integer sum; the one divide is /k.
    Query("q179_ann_recall", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        k = 3).select("query_id", "vec_id")
      val approx = Similarity.annTopKBanded(q, emb, "vec_id", "embedding",
        k = 3, bands = 4, planesPerBand = 4)
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(col("query_id"), lit(3L).as("k"), col("hits"),
          (col("hits").cast("double") / lit(3.0)).as("recall"))
    }),
      // Mirrors q179: the q19 brute-force ranking and the q54 banded-LSH
      // ranking (plane literals), joined per query — integer hits, /3.
      Some(EMB_CTE +
      s"""bp AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ${cosSql("q", "c")} AS cosine
         |  FROM n q, n c WHERE q.vec_id < 10),
         |br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM bp),
         |bt AS (SELECT query_id, vec_id FROM br WHERE rank <= 3),
         |planes AS (SELECT * FROM (VALUES ${bandedPlanesSql(4, 4)})
         |  pl(band, w, pv)),
         |bk AS (
         |  SELECT n.vec_id, p.band,
         |    CAST(sum(CASE WHEN CAST(list_sum(list_transform(
         |      range(1, len(n.v)+1), i -> n.v[i]*p.pv[i])) AS BIGINT) > 0
         |      THEN p.w ELSE 0 END) AS BIGINT) AS bucket
         |  FROM n CROSS JOIN planes p GROUP BY n.vec_id, p.band),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
         |  FROM bk q JOIN bk c ON q.band = c.band AND q.bucket = c.bucket
         |  WHERE q.vec_id < 10),
         |scored AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    ${cosSql("q", "t")} AS cosine
         |  FROM cand JOIN n q ON cand.query_id = q.vec_id
         |  JOIN n t ON cand.vec_id = t.vec_id),
         |ar AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM scored),
         |at AS (SELECT query_id, vec_id FROM ar WHERE rank <= 3),
         |h AS (
         |  SELECT bt.query_id, CAST(count(at.vec_id) AS BIGINT) AS hits
         |  FROM bt LEFT JOIN at
         |    ON bt.query_id = at.query_id AND bt.vec_id = at.vec_id
         |  GROUP BY bt.query_id)
         |SELECT query_id, CAST(3 AS BIGINT) AS k, hits,
         |  CAST(hits AS DOUBLE) / 3.0 AS recall
         |FROM h""".stripMargin)),

    // Embedding class separation — the embedding-QUALITY audit behind
    // every "train a classifier on these vectors" decision: per label,
    // the mean squared distance to the OWN class centroid (cohesion)
    // vs the squared distance to the NEAREST other centroid
    // (separation); ratio < 1 means classes overlap. All-integer by
    // construction: vectors quantize to the q19 1e5 grid, centroids
    // are per-dimension integer floor-means (Σ DIV n — the mirrored
    // spelling), distances are integer sums of squared differences in
    // DECIMAL(38,0), and the one divide is the final ratio. Label
    // domain is bounded (centroid frame broadcasts); the per-vector
    // pass is one posexplode + two bounded joins.
    Query("q209_embedding_separation", ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val dims = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(Similarity.quantize(col("embedding"))))
        .select(col("vec_id"), col("label"), col("pos").as("dim"),
          col("col").as("q"))
      val cent = dims.groupBy("label", "dim")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .select(col("label").as("c_label"), col("dim"),
          expr("CASE WHEN sq >= 0 THEN sq DIV n " +
            "ELSE -((-sq + n - 1) DIV n) END").as("c"))
      // dist²(vector, every centroid) — label domain bounded, broadcast
      val dist = dims.join(broadcast(cent), Seq("dim"))
        .select(col("vec_id"), col("label"), col("c_label"),
          ((col("q") - col("c")) * (col("q") - col("c"))).as("d2term"))
        .groupBy("vec_id", "label", "c_label")
        .agg(sum(d38(col("d2term"))).as("d2"))
      val own = dist.where(col("label") === col("c_label"))
        .select(col("vec_id"), col("label"), col("d2").as("own_d2"))
      val other = dist.where(col("label") =!= col("c_label"))
        .groupBy("vec_id").agg(min(col("d2")).as("nearest_other_d2"))
      own.join(other, "vec_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("own_d2")).as("sum_own_d2"),
          sum(col("nearest_other_d2")).as("sum_other_d2"))
        .select(col("label"), col("n_vecs"),
          col("sum_own_d2").cast("long").as("sum_own_d2"),
          col("sum_other_d2").cast("long").as("sum_other_d2"),
          // Σd² ≈ 2.2·10¹² at sf0.1 (linear in vectors) — limb-rendered
          try_divide(hugeAsDouble(col("sum_own_d2")),
            hugeAsDouble(col("sum_other_d2"))).as("overlap_ratio"))
    }),
      // Mirrors q209: 1e5 quantization, the identical explicit-floor
      // centroid CASE (both engines' integer division truncates toward
      // zero, the CASE makes both floor), HUGEINT distance sums, one
      // divide.
      Some(s"""WITH dims AS (
        |  SELECT vec_id, label,
        |    generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(round(unnest(embedding)::DOUBLE * 100000.0) AS BIGINT)
        |      AS q
        |  FROM embeddings),
        |cent AS (
        |  SELECT label AS c_label, dim,
        |    CASE WHEN sum(q) >= 0 THEN CAST(sum(q) AS BIGINT) // count(*)
        |      ELSE -((-CAST(sum(q) AS BIGINT) + count(*) - 1) // count(*))
        |      END AS c
        |  FROM dims GROUP BY label, dim),
        |dist AS (
        |  SELECT d.vec_id, d.label, c.c_label,
        |    CAST(sum(CAST((d.q - c.c) AS HUGEINT) * (d.q - c.c))
        |      AS HUGEINT) AS d2
        |  FROM dims d JOIN cent c ON d.dim = c.dim
        |  GROUP BY d.vec_id, d.label, c.c_label),
        |own AS (
        |  SELECT vec_id, label, d2 AS own_d2 FROM dist
        |  WHERE label = c_label),
        |other AS (
        |  SELECT vec_id, min(d2) AS nearest_other_d2 FROM dist
        |  WHERE label <> c_label GROUP BY vec_id)
        |SELECT o.label, count(*) AS n_vecs,
        |  CAST(sum(o.own_d2) AS BIGINT) AS sum_own_d2,
        |  CAST(sum(t.nearest_other_d2) AS BIGINT) AS sum_other_d2,
        |  ${hugeAsDoubleSql("sum(o.own_d2)")} /
        |    ${hugeAsDoubleSql("sum(t.nearest_other_d2)")} AS overlap_ratio
        |FROM own o JOIN other t ON o.vec_id = t.vec_id
        |GROUP BY o.label""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup
    // over the SAME memoized IVF training as q32/q149 (one artifact,
    // four consumers), keep-lowest-centroid-similarity priority, exact
    // integer epsilon gate (3/10) — the per-vector keep/prune decision
    // is fully hash-checked, float-free end to end.
    Query("q213_semdedup", ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        ivfTrained(s, dir, 16, 2), epsNum = 3L, epsDen = 10L)),
      // SemDeDup: shares the IVF training CTEs verbatim with q32/q149
      // (same centroids, same exact-key assignment), then the keep-
      // priority order (assigned-centroid ckey ASC NULLS FIRST, vec_id
      // ASC) and the cross-multiplied HUGEINT epsilon gate — cos ≥ 3/10
      // ⟺ dot > 0 ∧ dot²·100 ≥ nrm_x·nrm_y·9. Integer surface only.
      Some(EMB_CTE + IVF_TRAIN_CTES + SCK_CTE +
      """pd AS (
        |  SELECT x.vec_id AS xid,
        |    CAST(list_sum(list_transform(range(1, len(nx.v)+1),
        |      i -> nx.v[i]*ny.v[i])) AS BIGINT) AS dot,
        |    nx.nrm AS xn, ny.nrm AS yn
        |  FROM sck x JOIN sck y ON x.cid = y.cid
        |    AND (y.ckey < x.ckey
        |         OR (y.ckey = x.ckey AND y.vec_id < x.vec_id)
        |         OR (y.ckey IS NULL
        |             AND (x.ckey IS NOT NULL OR y.vec_id < x.vec_id)))
        |  JOIN n nx ON x.vec_id = nx.vec_id
        |  JOIN n ny ON y.vec_id = ny.vec_id),
        |pruned AS (
        |  SELECT DISTINCT xid FROM pd
        |  WHERE dot > 0
        |    AND CAST(dot AS HUGEINT) * dot * 100 >=
        |        CAST(xn AS HUGEINT) * yn * 9)
        |SELECT s.vec_id, s.cid,
        |  CAST(CASE WHEN p.xid IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM sck s LEFT JOIN pruned p ON s.vec_id = p.xid""".stripMargin)),

    // Prototype-based data pruning (Sorscher et al. 2022): keep the
    // hardest half of every cluster — rank by exact integer cosine-key
    // to the assigned centroid (same memoized IVF training as
    // q32/q149/q213), keep fraction as a cross-multiplied integer.
    Query("q215_prototype_pruning", ((s, dir) =>
      Similarity.prototypePruning(t(s, dir, "embeddings"), "vec_id",
        "embedding", ivfTrained(s, dir, 16, 2), keepNum = 1L,
        keepDen = 2L)),
      // Prototype pruning: same trained centroids and exact-key
      // assignment; hardest-first rank (ckey ASC NULLS FIRST, id ASC)
      // within the cluster, keep fraction 1/2 as rnk·2 ≤ n_cluster·1.
      Some(EMB_CTE + IVF_TRAIN_CTES + SCK_CTE +
      """r AS (
        |  SELECT vec_id, cid,
        |    CAST(row_number() OVER (PARTITION BY cid
        |      ORDER BY ckey ASC NULLS FIRST, vec_id ASC) AS BIGINT) AS rnk,
        |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n_cluster
        |  FROM sck)
        |SELECT vec_id, cid, rnk, n_cluster,
        |  CAST(CASE WHEN rnk * 2 <= n_cluster * 1 THEN 1 ELSE 0 END
        |    AS BIGINT) AS kept
        |FROM r""".stripMargin)),

    // Hard-negative mining: per query, the top-5 most-similar vectors
    // with a DIFFERENT label — contrastive-training data prep on the
    // q19 exact-cosine arithmetic, hash-checked.
    Query("q221_hard_negatives", ((s, dir) =>
      Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10, k = 5)),
      // Hard negatives: the q19 brute-force cosine chain with a label
      // inequality on the pair (which also drops self-pairs), same
      // deterministic (cosine DESC, id ASC) rank.
      Some(EMB_CTE +
      s"""l AS (SELECT vec_id, label FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q JOIN l ql ON q.vec_id = ql.vec_id,
        |       n c JOIN l cl ON c.vec_id = cl.vec_id
        |  WHERE q.vec_id < 10 AND cl.label <> ql.label),
        |r AS (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p)
        |SELECT query_id, vec_id, cosine, rank FROM r
        |WHERE rank <= 5""".stripMargin)),

    // Label-aware retrieval eval (MRR, hits@5, first relevant rank)
    // over the exact cosine ranking — the embedding-quality readout,
    // spelled without a corpus-sized window (bounded top-k + aggregate
    // rank identity); rr is the surface's one mirrored float divide.
    Query("q222_knn_eval", ((s, dir) =>
      Similarity.knnLabelEval(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10, k = 5)),
      // kNN retrieval eval: the oracle ranks ALL candidates per query
      // (window spelling — equivalent to the Spark side's aggregate rank
      // identity over the same total order), then reduces to the three
      // metrics; rr mirrors the Spark side's 1.0/rank double divide.
      Some(EMB_CTE +
      s"""l AS (SELECT vec_id, label FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ql.label AS qlab, cl.label AS clab,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q JOIN l ql ON q.vec_id = ql.vec_id,
        |       n c JOIN l cl ON c.vec_id = cl.vec_id
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, qlab, clab,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p)
        |SELECT query_id,
        |  CAST(min(CASE WHEN clab = qlab THEN rank END) AS BIGINT)
        |    AS first_rel_rank,
        |  CAST(sum(CASE WHEN clab = qlab AND rank <= 5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hits_at_5,
        |  CAST(1.0 AS DOUBLE) /
        |    CAST(min(CASE WHEN clab = qlab THEN rank END) AS DOUBLE) AS rr
        |FROM r GROUP BY query_id""".stripMargin)),

    // kNN label propagation: majority label of the 5 exact-cosine
    // nearest neighbors — semi-supervised labeling over the q19
    // ranking arithmetic; all-int64 surface (prediction + votes).
    Query("q224_knn_classify", ((s, dir) =>
      Similarity.knnClassify(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10, k = 5)),
      // kNN classification: the oracle ranks all non-self candidates per
      // query (window spelling of the same total order), takes the top-5
      // label votes, and picks the (votes DESC, label ASC) majority —
      // integer votes, so the majority can never drift.
      Some(EMB_CTE +
      s"""l AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
        |       FROM embeddings WHERE label IS NOT NULL),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, cl.lab AS clab,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q, n c JOIN l cl ON c.vec_id = cl.vec_id
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, clab,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p),
        |v AS (
        |  SELECT query_id, clab, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY query_id, clab),
        |m AS (
        |  SELECT query_id, clab, votes,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY votes DESC, clab ASC) AS rn
        |  FROM v)
        |SELECT query_id, clab AS pred_label, votes
        |FROM m WHERE rn = 1""".stripMargin)),

    // Cluster–label purity over the memoized IVF training (the
    // q32/q149/q213/q215 artifact): per-cluster majority label and
    // integer-ppm purity — the data-map readout; all-int64 surface.
    Query("q223_cluster_purity", ((s, dir) =>
      Similarity.clusterPurity(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", ivfTrained(s, dir, 16, 2))),
      // Cluster purity: label contingency over the SAME mirrored IVF
      // training as q32/q149/q213/q215 (`assign`), majority by
      // (n_label DESC, label ASC), purity as BIGINT floor-division ppm.
      Some(EMB_CTE + IVF_TRAIN_CTES +
      """lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lb
        |        FROM embeddings),
        |cont AS (
        |  SELECT a.cid, l.lb, count(*) AS n_label
        |  FROM assign a JOIN lab l USING (vec_id)
        |  GROUP BY a.cid, l.lb),
        |tot AS (
        |  SELECT cid, CAST(sum(n_label) AS BIGINT) AS n_assigned
        |  FROM cont GROUP BY cid),
        |maj AS (
        |  SELECT cid, lb, n_label,
        |    row_number() OVER (PARTITION BY cid
        |                       ORDER BY n_label DESC, lb ASC) AS rn
        |  FROM cont WHERE lb IS NOT NULL)
        |SELECT t.cid, t.n_assigned, m.lb AS majority_label,
        |  m.n_label AS n_majority,
        |  (m.n_label * 1000000) // t.n_assigned AS purity_ppm
        |FROM tot t LEFT JOIN maj m ON t.cid = m.cid AND m.rn = 1""".stripMargin)),

    // Cluster-balanced deterministic sampling: a fixed 20-row quota per
    // IVF cluster (shared q32/q149 training), ordered by the content-
    // hash coin — diversity-preserving downsampling; all-int64 surface,
    // ranked by the partition-local bounded top-k, never a raw-corpus
    // window on the 16-value cid.
    Query("q228_cluster_sample", ((s, dir) =>
      Similarity.clusterBalancedSample(t(s, dir, "embeddings"), "vec_id",
        "embedding", ivfTrained(s, dir, 16, 2), quota = 20)),
      // Cluster-balanced sample: the mirrored IVF assignment (`assign`),
      // the charPolyHash coin over 'cbs:' || id, and a per-cluster rank —
      // the oracle's window spelling of the same (coin ASC, id ASC) total
      // order the Spark side ranks with its bounded top-k.
      Some(EMB_CTE + IVF_TRAIN_CTES +
      s"""cs AS (SELECT vec_id, 'cbs:' || CAST(vec_id AS VARCHAR) AS s
         |       FROM embeddings),
         |coin AS (SELECT vec_id, ${charPolySql("s")} AS coin FROM cs),
         |r AS (
         |  SELECT a.cid, a.vec_id, c.coin,
         |    row_number() OVER (PARTITION BY a.cid
         |                       ORDER BY c.coin ASC, a.vec_id ASC) AS rank
         |  FROM assign a JOIN coin c USING (vec_id))
         |SELECT cid, vec_id, coin, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 20""".stripMargin)),

    // Triplet-margin audit: best positive vs hardest negative per query,
    // ordered and compared by the exact integer cosine key (shared query
    // norm cancels) — the contrastive-data quality readout; int64 ids +
    // a 0/1 margin flag, no float anywhere.
    Query("q229_triplet_margin", ((s, dir) =>
      Similarity.tripletMargin(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10)),
      // Triplet margin: the oracle ranks each label-split half by the
      // SAME HUGEINT cosine key the IVF oracles use (cosKeySql — query
      // norm shared, so the key order is the cosine order), then compares
      // the two keys; every arithmetic step is integer.
      Some(EMB_CTE +
      s"""l AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
         |      FROM embeddings WHERE label IS NOT NULL),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |    ql.lab AS qlab, cl.lab AS clab,
         |    CAST(list_sum(list_transform(range(1, len(q.v)+1),
         |      i -> q.v[i]*c.v[i])) AS BIGINT) AS dot,
         |    c.nrm AS cnrm
         |  FROM n q JOIN l ql ON q.vec_id = ql.vec_id,
         |       n c JOIN l cl ON c.vec_id = cl.vec_id
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |k AS (
         |  SELECT query_id, vec_id, qlab, clab,
         |    ${cosKeySql("dot", "cnrm")} AS ckey
         |  FROM p),
         |pos AS (
         |  SELECT query_id, vec_id AS pos_id, ckey AS pkey FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ckey DESC NULLS LAST, vec_id ASC) AS rn
         |    FROM k WHERE clab = qlab) WHERE rn = 1),
         |neg AS (
         |  SELECT query_id, vec_id AS neg_id, ckey AS nkey FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ckey DESC NULLS LAST, vec_id ASC) AS rn
         |    FROM k WHERE clab <> qlab) WHERE rn = 1)
         |SELECT q2.vec_id AS query_id, pos.pos_id, neg.neg_id,
         |  CASE WHEN pos.pkey > neg.nkey THEN CAST(1 AS BIGINT)
         |       WHEN pos.pkey <= neg.nkey THEN CAST(0 AS BIGINT)
         |       ELSE NULL END AS margin_positive
         |FROM (SELECT vec_id FROM l WHERE vec_id < 10) q2
         |LEFT JOIN pos ON q2.vec_id = pos.query_id
         |LEFT JOIN neg ON q2.vec_id = neg.query_id""".stripMargin)),

    // Label-noise audit: kNN-majority vs own label per query (confident-
    // learning disagreement core) — candidate-mislabel flags over the
    // q224 machinery; all-int64 surface, 50 queries at gate scale.
    Query("q236_label_noise", ((s, dir) =>
      Similarity.labelNoiseAudit(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 50, k = 5)),
      // Label noise: the q224 majority spelling at 50 queries, joined to
      // the point's own label — integer flags.
      Some(EMB_CTE +
      s"""l AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
        |       FROM embeddings WHERE label IS NOT NULL),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, cl.lab AS clab,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q, n c JOIN l cl ON c.vec_id = cl.vec_id
        |  WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, clab,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p),
        |v AS (
        |  SELECT query_id, clab, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY query_id, clab),
        |m AS (
        |  SELECT query_id, clab, votes,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY votes DESC, clab ASC) AS rn
        |  FROM v)
        |SELECT m.query_id, ol.lab AS own_label, m.clab AS pred_label,
        |  m.votes,
        |  CAST(CASE WHEN m.clab <> ol.lab THEN 1 ELSE 0 END AS BIGINT)
        |    AS suspect
        |FROM m JOIN l ol ON m.query_id = ol.vec_id
        |WHERE m.rn = 1""".stripMargin)),

    // Matryoshka truncation audit: top-5 under the 16-dim prefix vs the
    // full 64-dim exact ranking — integer overlap count per query, the
    // storage-tiering readout; same quantized arithmetic both rankings.
    Query("q232_matryoshka_recall", ((s, dir) =>
      Similarity.truncationRecall(t(s, dir, "embeddings"), "vec_id",
        "embedding", col("vec_id") < 10, k = 5, prefixDim = 16)),
      // Matryoshka recall: both rankings re-derived from the same
      // quantized lists (prefix = v[1..16]), the q19 window spelling for
      // each, then an equi-join overlap count — integer surface.
      Some(EMB_CTE +
      s"""pp AS (
        |  SELECT vec_id, v, nrm,
        |    CAST(list_sum(list_transform(range(1, 17), i -> v[i]*v[i]))
        |      AS BIGINT) AS pnrm
        |  FROM n),
        |pr AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ${cosSql("q", "c")} AS cosine,
        |    CAST(CAST(list_sum(list_transform(range(1, 17),
        |        i -> q.v[i]*c.v[i])) AS BIGINT) AS DOUBLE)
        |      / (sqrt(CAST(q.pnrm AS DOUBLE)) * sqrt(CAST(c.pnrm AS DOUBLE)))
        |      AS pcos
        |  FROM pp q, pp c
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |fr AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
        |    FROM pr) WHERE rn <= 5),
        |tr AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY pcos DESC, vec_id ASC) AS rn
        |    FROM pr) WHERE rn <= 5),
        |ov AS (
        |  SELECT f.query_id, count(*) AS n_kept
        |  FROM fr f JOIN tr t
        |    ON f.query_id = t.query_id AND f.vec_id = t.vec_id
        |  GROUP BY f.query_id)
        |SELECT q2.vec_id AS query_id,
        |  CAST(COALESCE(ov.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(5 AS BIGINT) AS k
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q2
        |LEFT JOIN ov ON q2.vec_id = ov.query_id""".stripMargin)),

    // IVF-GATED kNN retrieval eval — the q222 readout composed over the
    // q32 probe-list gate (shared memoized training, nProbe=4): MRR /
    // hits@5 / first-relevant rank against the candidates in each
    // query's probed lists — the scale path registered as a green row
    // instead of scaladoc prose. Ranks are within-gate ranks, the
    // number a production retrieval system observes.
    Query("q238_knn_eval_gated", ((s, dir) =>
      Similarity.knnLabelEvalGated(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10, k = 5,
        cents = ivfTrained(s, dir, 16, 2), nProbe = 4)),
      // Gated kNN eval: the q222 readout over the q32 probe-list gate —
      // the shared training CTEs + the shared gate CTEs, then the window
      // rank WITHIN the gated candidate set; the left join from the query
      // universe keeps gate-emptied queries visible as (NULL, 0, NULL).
      Some(EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = true) +
      s"""l AS (SELECT vec_id, label FROM embeddings),
        |p2 AS (
        |  SELECT cd.query_id, cd.vec_id, ql.label AS qlab, cl.label AS clab,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM cand cd
        |  JOIN n q ON cd.query_id = q.vec_id
        |  JOIN n c ON cd.vec_id = c.vec_id
        |  JOIN l ql ON cd.query_id = ql.vec_id
        |  JOIN l cl ON cd.vec_id = cl.vec_id),
        |r AS (
        |  SELECT query_id, qlab, clab,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p2),
        |agg AS (
        |  SELECT query_id,
        |    CAST(min(CASE WHEN clab = qlab THEN rank END) AS BIGINT)
        |      AS first_rel_rank,
        |    CAST(sum(CASE WHEN clab = qlab AND rank <= 5 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hits_at_5
        |  FROM r GROUP BY query_id)
        |SELECT q2.vec_id AS query_id, a.first_rel_rank,
        |  COALESCE(a.hits_at_5, 0) AS hits_at_5,
        |  CAST(1.0 AS DOUBLE) / CAST(a.first_rel_rank AS DOUBLE) AS rr
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q2
        |LEFT JOIN agg a ON q2.vec_id = a.query_id""".stripMargin)),

    // IVF-GATED label-noise audit — q236's confident-learning
    // disagreement flags with the kNN majority drawn from the probed
    // lists only (the q32 gate applied to the q224 majority); 50
    // queries, all-int64 surface.
    Query("q239_label_noise_gated", ((s, dir) =>
      Similarity.labelNoiseAuditGated(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 50, k = 5,
        cents = ivfTrained(s, dir, 16, 2), nProbe = 4)),
      // Gated label noise: the q236 majority spelling over the q32
      // probe-list gate (50 queries) — the confident-learning audit as a
      // production pipeline would actually run it.
      Some(EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 50", 4, excludeSelf = true) +
      s"""l AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
        |       FROM embeddings WHERE label IS NOT NULL),
        |p2 AS (
        |  SELECT cd.query_id, cd.vec_id, cl.lab AS clab,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM cand cd
        |  JOIN n q ON cd.query_id = q.vec_id
        |  JOIN n c ON cd.vec_id = c.vec_id
        |  JOIN l cl ON cd.vec_id = cl.vec_id),
        |r AS (
        |  SELECT query_id, vec_id, clab,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM p2),
        |v AS (
        |  SELECT query_id, clab, count(*) AS votes
        |  FROM r WHERE rank <= 5 GROUP BY query_id, clab),
        |m AS (
        |  SELECT query_id, clab, votes,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY votes DESC, clab ASC) AS rn
        |  FROM v)
        |SELECT m.query_id, ol.lab AS own_label, m.clab AS pred_label,
        |  m.votes,
        |  CAST(CASE WHEN m.clab <> ol.lab THEN 1 ELSE 0 END AS BIGINT)
        |    AS suspect
        |FROM m JOIN l ol ON m.query_id = ol.vec_id
        |WHERE m.rn = 1""".stripMargin)),

    // IVF-GATED triplet-margin audit — the last member of the
    // retrieval-eval family's registered scale path (q229 over the q32
    // gate): best positive and hardest negative drawn from the probed
    // lists only, ranked and compared by the same float-free integer
    // cosine key.
    Query("q242_triplet_margin_gated", ((s, dir) =>
      Similarity.tripletMarginGated(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10,
        cents = ivfTrained(s, dir, 16, 2), nProbe = 4)),
      // Gated triplet margin: the q229 spelling (HUGEINT cosine key,
      // label-split rank-1 halves, NULL-propagating margin compare) over
      // the shared gate CTEs' candidate set.
      Some(EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = true) +
      s"""l AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
         |      FROM embeddings WHERE label IS NOT NULL),
         |p2 AS (
         |  SELECT cd.query_id, cd.vec_id, ql.lab AS qlab, cl.lab AS clab,
         |    CAST(list_sum(list_transform(range(1, len(q.v)+1),
         |      i -> q.v[i]*c.v[i])) AS BIGINT) AS dot,
         |    c.nrm AS cnrm
         |  FROM cand cd
         |  JOIN n q ON cd.query_id = q.vec_id
         |  JOIN n c ON cd.vec_id = c.vec_id
         |  JOIN l ql ON cd.query_id = ql.vec_id
         |  JOIN l cl ON cd.vec_id = cl.vec_id),
         |k2 AS (
         |  SELECT query_id, vec_id, qlab, clab,
         |    ${cosKeySql("dot", "cnrm")} AS ckey
         |  FROM p2),
         |pos AS (
         |  SELECT query_id, vec_id AS pos_id, ckey AS pkey FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ckey DESC NULLS LAST, vec_id ASC) AS rn
         |    FROM k2 WHERE clab = qlab) WHERE rn = 1),
         |neg AS (
         |  SELECT query_id, vec_id AS neg_id, ckey AS nkey FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ckey DESC NULLS LAST, vec_id ASC) AS rn
         |    FROM k2 WHERE clab <> qlab) WHERE rn = 1)
         |SELECT q2.vec_id AS query_id, pos.pos_id, neg.neg_id,
         |  CASE WHEN pos.pkey > neg.nkey THEN CAST(1 AS BIGINT)
         |       WHEN pos.pkey <= neg.nkey THEN CAST(0 AS BIGINT)
         |       ELSE NULL END AS margin_positive
         |FROM (SELECT vec_id FROM l WHERE vec_id < 10) q2
         |LEFT JOIN pos ON q2.vec_id = pos.query_id
         |LEFT JOIN neg ON q2.vec_id = neg.query_id""".stripMargin)),

    // IVF-GATED hard-negative mining — q221's contrastive-data pass
    // over the q32 probe-list gate: the hardest other-label neighbors
    // from the probed lists only, same exact gated arithmetic as the
    // rest of the family.
    Query("q245_hard_negatives_gated", ((s, dir) =>
      Similarity.hardNegativesGated(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10, k = 5,
        cents = ivfTrained(s, dir, 16, 2), nProbe = 4)),
      // Gated hard negatives: the q221 spelling (label inequality, cosine
      // rank <= 5) over the shared gate CTEs' candidate set.
      Some(EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = true) +
      s"""l AS (SELECT vec_id, label FROM embeddings),
         |p2 AS (
         |  SELECT cd.query_id, cd.vec_id,
         |    ${cosSql("q", "c")} AS cosine
         |  FROM cand cd
         |  JOIN n q ON cd.query_id = q.vec_id
         |  JOIN n c ON cd.vec_id = c.vec_id
         |  JOIN l ql ON cd.query_id = ql.vec_id
         |  JOIN l cl ON cd.vec_id = cl.vec_id
         |  WHERE cl.label <> ql.label),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM p2)
         |SELECT query_id, vec_id, cosine, rank FROM r
         |WHERE rank <= 5""".stripMargin)),

    // Top-weighted rank agreement between the gated and exact rankings
    // (Fagin et al. 2003's intersection metric — the order-sensitive
    // companion to q240's set recall): one integer prefix-credit weight
    // per matched id, floor-ppm surface, no float anywhere.
    Query("q244_gate_rank_agreement", ((s, dir) =>
      Similarity.gateRankAgreement(
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        cents = ivfTrained(s, dir, 16, 2), nProbe = 4)),
      // Rank agreement: both rankings' window spellings, the per-matched
      // prefix-credit CASE (weights Σ_{d=max(re,rg)..5} 60/d over the
      // lcm-300 denominator), floor-ppm — integers end to end.
      Some(EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = false) +
      s"""gs AS (
        |  SELECT c.query_id, c.vec_id,
        |    ${cosSql("q", "t")} AS cosine
        |  FROM cand c JOIN n q ON c.query_id = q.vec_id
        |  JOIN n t ON c.vec_id = t.vec_id),
        |gr AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rg
        |  FROM gs),
        |g5 AS (SELECT query_id, vec_id, rg FROM gr WHERE rg <= 5),
        |bp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q, n c WHERE q.vec_id < 10),
        |br AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS re
        |  FROM bp),
        |b5 AS (SELECT query_id, vec_id, re FROM br WHERE re <= 5),
        |m AS (
        |  SELECT b5.query_id,
        |    CASE greatest(b5.re, g5.rg)
        |      WHEN 1 THEN 137 WHEN 2 THEN 77 WHEN 3 THEN 47
        |      WHEN 4 THEN 27 ELSE 12 END AS w
        |  FROM b5 JOIN g5
        |    ON b5.query_id = g5.query_id AND b5.vec_id = g5.vec_id),
        |agg AS (
        |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_matched,
        |    CAST(sum(w) AS BIGINT) AS ao_num
        |  FROM m GROUP BY query_id)
        |SELECT q2.vec_id AS query_id,
        |  COALESCE(a.n_matched, 0) AS n_matched,
        |  COALESCE(a.ao_num, 0) AS ao_num,
        |  CAST(300 AS BIGINT) AS ao_den,
        |  (COALESCE(a.ao_num, 0) * 1000000) // 300 AS ao_ppm
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q2
        |LEFT JOIN agg a ON q2.vec_id = a.query_id""".stripMargin)),

    // The gate's recall delta, pinned (the q179 audit pattern applied
    // to the IVF gate): recall@5 of the q32 probe-list ranking against
    // the q19 exact brute-force ranking, per query — the measured cost
    // of running the retrieval-eval family gated. Both sides are
    // deterministic integer arithmetic, so the delta itself
    // hash-checks.
    Query("q240_ivf_recall", ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = t(s, dir, "embeddings").where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id",
        "embedding", k = 5).select("query_id", "vec_id")
      val gated = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, kmeansIters = 2,
        trainedCents = Some(ivfTrained(s, dir, 16, 2)))
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(gated, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(col("query_id"), lit(5L).as("k"), col("hits"),
          (col("hits").cast("double") / lit(5.0)).as("recall"))
    }),
      // IVF-gate recall audit (the q179 shape): the q32 gated ranking's
      // top-5 vs the q19 exact brute-force top-5, integer hits, /5.
      Some(EMB_CTE + IVF_TRAIN_CTES +
      ivfGateCtes("vec_id < 10", 4, excludeSelf = false) +
      s"""gs AS (
        |  SELECT c.query_id, c.vec_id,
        |    ${cosSql("q", "t")} AS cosine
        |  FROM cand c JOIN n q ON c.query_id = q.vec_id
        |  JOIN n t ON c.vec_id = t.vec_id),
        |gr AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM gs),
        |g5 AS (SELECT query_id, vec_id FROM gr WHERE rank <= 5),
        |bp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q, n c WHERE q.vec_id < 10),
        |br AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM bp),
        |b5 AS (SELECT query_id, vec_id FROM br WHERE rank <= 5),
        |h AS (
        |  SELECT b5.query_id, CAST(count(g5.vec_id) AS BIGINT) AS hits
        |  FROM b5 LEFT JOIN g5
        |    ON b5.query_id = g5.query_id AND b5.vec_id = g5.vec_id
        |  GROUP BY b5.query_id)
        |SELECT query_id, CAST(5 AS BIGINT) AS k, hits,
        |  CAST(hits AS DOUBLE) / 5.0 AS recall
        |FROM h""".stripMargin)),

    // The IVF gate's KNOB CURVE: recall@5 and AO@5 vs exact at every
    // nProbe in {1,2,4,16,8 sorted} over the shared trained centroids —
    // the tuning readout before fixing the gate's one knob (q219's
    // banding curve / q149c's round histogram, for the gate). ONE
    // probe-rank-carrying scoring pass serves all five knob points;
    // both metrics are provably monotone in nProbe and the full probe
    // reads 10⁶ ppm (SimilaritySpec pins it).
    Query("q247_gate_knob_curve", ((s, dir) =>
      Similarity.gateKnobCurve(
        t(s, dir, "embeddings").where(col("vec_id") < 10),
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        cents = ivfTrained(s, dir, 16, 2),
        nProbes = Seq(1, 2, 4, 8, 16))),
      // Gate knob curve: the q244 weights and the q240 overlap, swept —
      // ONE probe-RANK attach (the gate CTE's row_number uncapped), each
      // knob a filter against it, per-knob windows, then the aggregate
      // floor-ppm curve; weights/denominator literals are q244's (L=60).
      Some(EMB_CTE + IVF_TRAIN_CTES +
      s"""proberk AS (
        |  SELECT vec_id AS query_id, cid, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY ckey DESC NULLS LAST, cid ASC)
        |    AS probe_rank
        |  FROM kf WHERE vec_id < 10),
        |sc AS (
        |  SELECT p.query_id, a.vec_id, p.probe_rank,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM proberk p JOIN assign a ON p.cid = a.cid
        |  JOIN n q ON p.query_id = q.vec_id
        |  JOIN n c ON a.vec_id = c.vec_id),
        |bp AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    ${cosSql("q", "c")} AS cosine
        |  FROM n q, n c WHERE q.vec_id < 10),
        |b5 AS (
        |  SELECT query_id, vec_id, re FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS re
        |    FROM bp) WHERE re <= 5),
        |knobs AS (SELECT unnest([1, 2, 4, 8, 16]) AS n_probe),
        |gr AS (
        |  SELECT k2.n_probe, s2.query_id, s2.vec_id,
        |    row_number() OVER (PARTITION BY k2.n_probe, s2.query_id
        |      ORDER BY s2.cosine DESC, s2.vec_id ASC) AS rg
        |  FROM sc s2 JOIN knobs k2 ON s2.probe_rank <= k2.n_probe),
        |g5 AS (SELECT n_probe, query_id, vec_id, rg FROM gr WHERE rg <= 5),
        |nqc AS (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10),
        |m AS (
        |  SELECT g5.n_probe,
        |    CASE greatest(b5.re, g5.rg)
        |      WHEN 1 THEN 137 WHEN 2 THEN 77 WHEN 3 THEN 47
        |      WHEN 4 THEN 27 ELSE 12 END AS w
        |  FROM b5 JOIN g5
        |    ON b5.query_id = g5.query_id AND b5.vec_id = g5.vec_id),
        |agg AS (
        |  SELECT n_probe, CAST(count(*) AS BIGINT) AS n_matched,
        |    CAST(COALESCE(sum(w), 0) AS BIGINT) AS ao_num
        |  FROM m GROUP BY n_probe)
        |SELECT CAST(k3.n_probe AS BIGINT) AS n_probe,
        |  CAST(nq AS BIGINT) AS n_queries,
        |  COALESCE(a.n_matched, 0) AS n_matched,
        |  CAST((COALESCE(a.n_matched, 0) * 1000000) // (5 * nq)
        |    AS BIGINT) AS recall_ppm,
        |  COALESCE(a.ao_num, 0) AS ao_num,
        |  CAST(300 * nq AS BIGINT) AS ao_den,
        |  CAST((COALESCE(a.ao_num, 0) * 1000000) // (300 * nq)
        |    AS BIGINT) AS ao_ppm
        |FROM knobs k3 CROSS JOIN nqc
        |LEFT JOIN agg a ON k3.n_probe = a.n_probe""".stripMargin)),
  )
}
