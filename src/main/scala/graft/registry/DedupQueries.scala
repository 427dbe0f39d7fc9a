package graft
package registry

import graft.dedup.Dedup
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** The dedup rows: exact and near-duplicate detection (MinHash/SimHash LSH,
  * prefix Jaccard, poly-MinHash, fuzzy names) and the cluster labels
  * built over them. */
object DedupQueries {

  import Tables.t
  import Shared._
  import Query.NoOracle

  /** Naive all-pairs fuzzy-match oracle, shared by q110 (segment-blocked
    * + banded kernel) and q115 (length-banded + optimizer-rewritten
    * built-in) — both must produce exactly these pairs. */
  private val FUZZY_PAIRS_ORACLE =
    """WITH names AS (
      |  SELECT DISTINCT 'stop_' || CAST(user_id AS VARCHAR) AS name
      |  FROM events),
      |p AS (
      |  SELECT a.name AS name_a, b.name AS name_b,
      |    CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
      |  FROM names a JOIN names b ON a.name < b.name)
      |SELECT name_a, name_b, dist FROM p WHERE dist <= 2""".stripMargin

  /** Shared q66/q67 oracle CTEs: per-document 60-bit poly-SimHash
    * fingerprints (`docfp`: doc_id, fp — zero-token docs carry fp 0,
    * mirroring the kernel's empty-array result). The token hash is
    * poly31 | (poly131 << 30), bit j votes +1/-1 over all tokens. */
  private lazy val POLY_SIMHASH_CTES: String =
    s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
       |th AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
       |hh AS (
       |  SELECT doc_id,
       |    ${charPolySqlM("tok", 31L, 1000000007L)} |
       |      (${charPolySqlM("tok", 131L, 998244353L)} << 30) AS h
       |  FROM th),
       |votes AS (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM hh CROSS JOIN (SELECT unnest(range(60)) AS j) bits
       |  GROUP BY doc_id, j),
       |fps AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
       |      AS BIGINT) AS fp
       |  FROM votes GROUP BY doc_id),
       |docfp AS (
       |  SELECT t.doc_id, CAST(COALESCE(f.fp, 0) AS BIGINT) AS fp
       |  FROM toks t LEFT JOIN fps f ON t.doc_id = f.doc_id),
       |""".stripMargin

  /** The pigeonhole band slicing of [[graft.dedup.Dedup.bandWidths]] as a
    * DuckDB VALUES table (band, bit offset, in-band mask) — generated
    * from the SAME Scala helper the operator uses. */
  private def polySimhashBandsSql(maxHamming: Int): String = {
    val widths = Dedup.bandWidths(60, maxHamming + 1)
    val offsets = widths.scanLeft(0)(_ + _)
    widths.indices.map { b =>
      s"(${b}, ${offsets(b)}, ${(1L << widths(b)) - 1L}::BIGINT)"
    }.mkString(", ")
  }

  /** Shared oracle body for the df-capped inverted-index Jaccard
    * (q38 bigram / q43 trigram): `shingleSql` builds the distinct shingle
    * list from a token list `tk`; shingles with document frequency > `cap`
    * are removed from every set before scoring, mirroring
    * [[graft.dedup.Dedup.jaccardPairs]]'s maxDf semantics exactly. */
  private def dfCappedJaccardSql(shingleSql: String, cap: Long,
                                 minJ: Double): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, lang, source, $shingleSql AS sg FROM toks),
       |post AS (
       |  SELECT doc_id, lang, source, unnest(sg) AS shingle
       |  FROM sh WHERE len(sg) > 0),
       |dfreq AS (
       |  SELECT lang, source, shingle, count(*) AS df
       |  FROM post GROUP BY lang, source, shingle),
       |kept AS (
       |  SELECT p.doc_id, p.lang, p.source, p.shingle
       |  FROM post p JOIN dfreq d
       |    ON p.lang = d.lang AND p.source = d.source AND p.shingle = d.shingle
       |  WHERE d.df <= $cap),
       |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS cnt
       |  FROM kept a JOIN kept b
       |    ON a.lang = b.lang AND a.source = b.source
       |   AND a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id_a, id_b,
       |  CAST(cnt AS DOUBLE) / CAST(na.n + nb.n - cnt AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes na ON inter.id_a = na.doc_id
       |JOIN sizes nb ON inter.id_b = nb.doc_id
       |WHERE CAST(cnt AS DOUBLE) / CAST(na.n + nb.n - cnt AS DOUBLE) >= $minJ""".stripMargin

  /** Shared τ=0.4 exact-Jaccard ground-truth spelling: the all-pairs
    * bigram-Jaccard join over relation `rel` (doc_id, sg) as CTEs `tp`
    * (scored pairs) and `tpf` (the τ-filtered truth set) — ONE
    * definition for its three consumers (q130 reports it, q219 audits
    * against it, q220 attributes it), mirroring the Spark side's
    * truthPairCache sharing so a threshold or tokenization tweak can
    * never drift one oracle copy apart from the others. */
  private def truthPairCtes(rel: String): String =
    s"""tp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
       |    CAST(len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))
       |      AS DOUBLE) AS jaccard
       |  FROM $rel a JOIN $rel b ON a.doc_id < b.doc_id),
       |tpf AS (SELECT id_a, id_b, jaccard FROM tp WHERE jaccard >= 0.4),
       |""".stripMargin

  /** The (doc_id, non-empty distinct-bigram list) staging the truth
    * pairs are scored over — q130/q220's opening chain. */
  private val TRUTH_BASE_CTES: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, $BIGRAM_SQL AS sg FROM toks),
       |s2 AS (SELECT doc_id, sg FROM sh WHERE len(sg) > 0),
       |""".stripMargin

  val queries: Seq[Query] = Seq(
    // Near-dup SPLIT LEAKAGE audit — the eval-contamination check the
    // split alone cannot give: an id-hash split scatters near-duplicate
    // documents across splits, so a test document with a train near-dup
    // inflates eval. Composes two existing artifacts — q51's connected-
    // component cluster labels and q116's assignment — and reports every
    // cluster with a train member AND a val/test member. At 100 TB both
    // inputs are materialized tables; the audit is one bounded join +
    // aggregate over cluster LABELS (multi-member clusters only), never
    // the corpus texts. (Bench note: per cache-cold pass, the FIRST
    // consumer of the session's cluster artifact pays its build — q117
    // sorts before q51, so the build cost shows up here and q51 reads
    // the cached artifact, exactly the production sharing the artifact
    // section of README documents.)
    Query("q117_split_leakage", ((s, dir) => {
      val sp = t(s, dir, "documents")
        .select(col("doc_id"), splitAssignment.as("split"))
      docClusters(s, dir).join(sp, col("id") === col("doc_id"))
        .groupBy("cluster_id")
        .agg(count(when(col("split") === "train", lit(1))).as("n_train"),
          count(when(col("split") === "val", lit(1))).as("n_val"),
          count(when(col("split") === "test", lit(1))).as("n_test"))
        .where(col("n_train") > 0L && (col("n_val") > 0L || col("n_test") > 0L))
    }),
      // Leakage audit over the SAME recursive-CTE clusters as q51 — only
      // clusters mixing train with val/test survive.
      Some(s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |),
         |sp AS (
         |  SELECT doc_id, $SPLIT_CASE_SQL AS split FROM documents),
         |j AS (
         |  SELECT c.cluster_id, s.split
         |  FROM clusters c JOIN sp s ON c.id = s.doc_id)
         |SELECT cluster_id,
         |  count(CASE WHEN split = 'train' THEN 1 END) AS n_train,
         |  count(CASE WHEN split = 'val' THEN 1 END) AS n_val,
         |  count(CASE WHEN split = 'test' THEN 1 END) AS n_test
         |FROM j GROUP BY cluster_id
         |HAVING n_train > 0 AND (n_val > 0 OR n_test > 0)""".stripMargin)),

    // Fuzzy entity matching — the edit-distance member of the dedup
    // family: stop-name pairs within Levenshtein distance 2, found via
    // LENGTH × SEGMENT blocking (Dedup.fuzzyNamePairs — the PassJoin
    // segment-pigeonhole: candidates must share a content segment at an
    // aligned position WITHIN the length band, so candidate generation
    // is subquadratic on realistic vocabularies, never weaker than the
    // length band alone, and the observed fuzzy_block.candidates metric
    // exposes degenerate corpora). levenshtein is integer dynamic
    // programming, identical in both engines, and the oracle is the
    // naive all-pairs filter — the hash match IS the blocking's
    // completeness proof.
    Query("q110_fuzzy_names", ((s, dir) => {
      val names = t(s, dir, "events")
        .select(concat(lit("stop_"), col("user_id").cast("string"))
          .as("name")).distinct()
      Dedup.fuzzyNamePairs(names, "name", maxDist = 2)
    }),
      Some(FUZZY_PAIRS_ORACLE)),

    // The RewriteBoundedLevenshtein rule driven end-to-end: the SAME
    // fuzzy pairs as q110, but spelled the way a USER would write them —
    // a length-band join verified by the BUILT-IN `levenshtein(...) <= 2`
    // predicate — on a session with GraftOptimizations installed. The
    // rule swaps the predicate's full-table levenshtein for the banded
    // kernel (PlanSpec asserts the optimized plan); the projected dist
    // value keeps the built-in (it is observable output, not a
    // threshold decision). Hash-checks against q110's oracle verbatim.
    Query("q115_fuzzy_rewrite", ((s, dir) => {
      val iso = s.newSession()
      graft.plans.GraftOptimizations.install(iso)
      val names = t(iso, dir, "events")
        .select(concat(lit("stop_"), col("user_id").cast("string"))
          .as("name")).distinct()
        .withColumn("len", length(col("name")))
      val a = names.select(col("name").as("name_a"),
        explode(expr("sequence(len - 2, len + 2)")).as("len"))
      val b = names.select(col("name").as("name_b"), col("len"))
      a.join(b, "len")
        .where(col("name_a") < col("name_b") &&
          levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
    }),
      // q115 computes the identical pairs through the built-in levenshtein
      // spelling + the optimizer rewrite — same oracle, verbatim.
      Some(FUZZY_PAIRS_ORACLE)),

    // --- training-data pipeline operators (beyond the reference) ---

    // Exact dedup by content hash.
    Query("q15_dedup_exact", ((s, dir) =>
      Dedup.exactDupGroups(t(s, dir, "documents"), "doc_id", "text")),
      Some("""SELECT sha256(text) AS text_hash, count(*) AS n_dups,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY sha256(text)""".stripMargin)),

    // The deduplicated corpus itself (all columns, min-id representative
    // per distinct content) — the left-semi formulation that moves
    // full-width rows once.
    Query("q42_dedup_corpus", ((s, dir) =>
      Dedup.dedupCorpus(t(s, dir, "documents"), "doc_id", "text")),
      Some("""SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id) FROM documents GROUP BY sha256(text))""".stripMargin)),

    // Exact TRIGRAM-shingle Jaccard with the df cap — the generalized
    // shingle grain (n-gram fold) through the same inverted-index +
    // hot-shingle-cap machinery as q18/q38.
    Query("q43_trigram_jaccard", ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), minJaccard = 0.05, maxDf = Some(20L),
        shingleN = 3)),
      Some(dfCappedJaccardSql(TRIGRAM_SQL, cap = 20L, minJ = 0.05))),

    // Near-dup clustering: connected components (large-star/small-star to
    // fixpoint) over exact-Jaccard pairs — pairwise matches become
    // keep-one-per-group clusters. The oracle computes the same
    // components via a recursive transitive-closure CTE. Built once per
    // (session, dir) and shared with q53, like the mart (clusters are a
    // materialized artifact in a production corpus pipeline).
    Query("q51_dup_clusters", ((s, dir) => docClusters(s, dir)),
      Some(DUP_CLUSTERS_SQL)),

    // The near-dup-deduplicated corpus: q51's clusters applied back to
    // the documents — non-representative members dropped, singletons
    // untouched. The full dedup ladder's end deliverable.
    Query("q53_neardup_corpus", ((s, dir) =>
      Dedup.nearDupCorpus(t(s, dir, "documents"), "doc_id",
        docClusters(s, dir))),
      Some(s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |)
         |SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""".stripMargin)),

    // Best-member representative selection: q51's clusters applied with
    // the production keep rule — the LONGEST member of each near-dup
    // cluster survives (tie → min id) instead of the minimum id. One
    // hash aggregate of (score, -id) structs per cluster, no window sort.
    Query("q73_neardup_best", ((s, dir) =>
      Dedup.nearDupCorpusBest(t(s, dir, "documents"), "doc_id",
        docClusters(s, dir), col("n_chars"))),
      Some(s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cid, d.n_chars
         |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id),
         |keep AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      PARTITION BY cid ORDER BY n_chars DESC, doc_id ASC) AS rn
         |    FROM lab) WHERE rn = 1)
         |SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM keep)""".stripMargin)),

    // MinHash + LSH near-dup candidate pairs (rows-only check: xxhash64
    // has no DuckDB equivalent).
    Query("q16_minhash_pairs", ((s, dir) =>
      Dedup.minhashCandidatePairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 64, bands = 16)),
      NoOracle),

    // SimHash 64-bit fingerprints (rows-only check).
    Query("q17_simhash", ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("simhash"))
    }),
      NoOracle),

    // Exact bigram-shingle Jaccard within lang×source blocks (posting-list
    // inverted-index join — same semantics as the all-pairs oracle).
    Query("q18_ngram_jaccard", ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), minJaccard = 0.15)),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, lang, source, $BIGRAM_SQL AS sg
         |  FROM toks),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
         |    CAST(len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)) AS DOUBLE)
         |      AS jaccard
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.15""".stripMargin)),

    // q18 with the hot-shingle document-frequency cap active: shingles
    // occurring in more than maxDf docs of a block are removed from every
    // set before scoring — the bound on the posting join's Σ df² term
    // (boilerplate shingles in templated corpora). df is deterministic, so
    // the capped operator is still hash-checked against a DuckDB oracle
    // applying the identical filter.
    Query("q38_jaccard_maxdf", ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), minJaccard = 0.1, maxDf = Some(10L))),
      Some(dfCappedJaccardSql(BIGRAM_SQL, cap = 10L, minJ = 0.1))),

    // Prefix-filtered exact Jaccard join (All-Pairs/PPJoin): NO blocking
    // columns and NO df cap — rarity-ordered prefixes alone make the
    // candidate join subquadratic while staying COMPLETE for J ≥ τ. The
    // oracle is the unblocked all-pairs join, so the hash match IS the
    // completeness proof of the prefix filter. Shared artifact: q219
    // audits and q220 attributes this same verified pair set.
    Query("q130_prefix_jaccard", ((s, dir) => truthPairs(s, dir)),
      // deliberately the NAIVE all-pairs spelling (no prefix filter, no
      // blocking): equality with the operator's prefix-filtered plan is
      // exactly the completeness claim under test.
      Some(TRUTH_BASE_CTES + truthPairCtes("s2") +
      """res AS (SELECT id_a, id_b, jaccard FROM tpf)
        |SELECT id_a, id_b, jaccard FROM res""".stripMargin)),

    // Candidate-generation recall/precision audit: the banded poly-LSH
    // candidate set (q58's artifact) measured against the exact τ=0.4
    // PPJoin ground truth (q130's artifact) — integer counts only, so
    // the audit is itself on the hard hash gate. The truth side is
    // first mapped through the candidate generator's exact-dup
    // REPRESENTATIVES (min id per text hash): the generator collapses
    // identical texts before banding (those pairs are the exact-dedup
    // rung's job), so comparing against uncollapsed truth would count
    // structurally-unreachable pairs as misses and understate recall
    // on any corpus with exact duplicates.
    Query("q219_lsh_recall", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ids = docs.select(col("doc_id"),
        sha2(col("text"), 256).as("__h"))
      val rep = ids.groupBy("__h").agg(min(col("doc_id")).as("rep"))
      val dmap = ids.join(rep, "__h").select(col("doc_id"), col("rep"))
      val collapsed = truthPairs(s, dir)
        .join(dmap.select(col("doc_id").as("id_a"), col("rep").as("ra")),
          "id_a")
        .join(dmap.select(col("doc_id").as("id_b"), col("rep").as("rb")),
          "id_b")
        .where(col("ra") =!= col("rb"))
        .select(least(col("ra"), col("rb")).as("id_a"),
          greatest(col("ra"), col("rb")).as("id_b"))
        .distinct()
      Dedup.recallAudit(collapsed, polyCands(s, dir))
    }),
      // Recall/precision audit of the banded poly-LSH candidates against
      // the exact τ=0.4 truth pairs — the same polyCandCtes chain as q58
      // plus the SHARED truth-pair spelling, reduced to one row of
      // counts. The truth is first COLLAPSED through the candidate
      // generator's exact-dup representatives (min id per sha256(text) —
      // the q42 spelling): the generator never emits a pair involving a
      // non-representative id (identical texts are the exact-dedup rung's
      // job), so an uncollapsed truth would count those pairs as false
      // misses and systematically understate recall on any corpus with
      // exact duplicates.
      Some(polyCandCtes(64, 16, 200) +
      truthPairCtes("shf") +
      """reps AS (
        |  SELECT sha256(text) AS h, min(doc_id) AS rep
        |  FROM documents GROUP BY sha256(text)),
        |dmap AS (
        |  SELECT d.doc_id, r.rep FROM documents d
        |  JOIN reps r ON sha256(d.text) = r.h),
        |ctp AS (
        |  SELECT DISTINCT least(ma.rep, mb.rep) AS id_a,
        |    greatest(ma.rep, mb.rep) AS id_b
        |  FROM tpf t
        |  JOIN dmap ma ON t.id_a = ma.doc_id
        |  JOIN dmap mb ON t.id_b = mb.doc_id
        |  WHERE ma.rep <> mb.rep),
        |hit AS (
        |  SELECT t.id_a FROM ctp t JOIN cand c
        |    ON t.id_a = c.id_a AND t.id_b = c.id_b)
        |SELECT
        |  CAST((SELECT count(*) FROM ctp) AS BIGINT) AS n_truth,
        |  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
        |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit""".stripMargin)),

    // Cross-source duplication matrix over the confirmed τ=0.4 pairs:
    // which source pairs share verified near-duplicate content, counted
    // per unordered pair with the intra-source diagonal kept.
    Query("q220_source_overlap", ((s, dir) =>
      Dedup.sourceOverlap(truthPairs(s, dir), t(s, dir, "documents"),
        "doc_id", "source")),
      // Cross-source duplication matrix over the confirmed τ=0.4 pairs
      // (the SHARED truth-pair spelling): sources attach per endpoint,
      // unordered-normalized, counted per cell with the intra-source
      // diagonal kept.
      Some(TRUTH_BASE_CTES + truthPairCtes("s2") +
      """x AS (
        |  SELECT least(sa.source, sb.source) AS source_a,
        |    greatest(sa.source, sb.source) AS source_b
        |  FROM tpf p
        |  JOIN documents sa ON p.id_a = sa.doc_id
        |  JOIN documents sb ON p.id_b = sb.doc_id)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM x GROUP BY source_a, source_b""".stripMargin)),

    // Bag-of-words canonical dedup: sorted-distinct-token canonical key
    // — collapses reorderings/repetition changes exact hashing misses,
    // with no pair join at all (the cheap middle rung of the ladder).
    Query("q218_canonical_dedup", ((s, dir) =>
      Dedup.canonicalDedup(t(s, dir, "documents"), "doc_id", "text")),
      // Bag-of-words canonical dedup: sorted distinct token list as the
      // canonical key (lowercase ASCII words — binary sort order agrees
      // between engines), min-id representative, group size, kept flag.
      Some(s"""WITH k AS (
         |  SELECT doc_id,
         |    array_to_string(list_sort(list_distinct($TOKENS_SQL)), ' ')
         |      AS ck
         |  FROM documents),
         |g AS (
         |  SELECT ck, min(doc_id) AS cluster_id,
         |    CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM k GROUP BY ck)
         |SELECT k.doc_id AS id, g.cluster_id, g.cluster_size,
         |  CAST(CASE WHEN k.doc_id = g.cluster_id THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_canonical
         |FROM k JOIN g ON k.ck = g.ck""".stripMargin)),

    // SimHash banded near-dup pairs (rows-only check: xxhash64-derived
    // fingerprints are engine-defined).
    Query("q26_simhash_pairs", ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 8)),
      NoOracle),

    // The composed near-dup pipeline: MinHash-LSH candidate generation
    // gated into exact Jaccard verification (jaccardOnPairs) — candidates
    // bound the O(pairs) verification work, the production shape at scale.
    // Rows-only (LSH candidates are engine-defined).
    Query("q37_dedup_pipeline", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val candidates = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16)
      Dedup.jaccardOnPairs(candidates, docs, "doc_id", "text")
        .where(col("jaccard") >= 0.5)
    }),
      NoOracle),

    // --- polynomial-family MinHash: the ORACLE-EXPRESSIBLE LSH path ---
    // (xxhash64 MinHash — q16/q37 — can never hash-check against DuckDB;
    // this family's every ingredient has an exact SQL mirror, so the
    // signature math, the banding, and the gated pipeline are each
    // END-TO-END hash-checked.)

    // The signatures themselves, exploded to (doc_id, seed_i, component):
    // component j = min over bigram shingles of
    // (a_j * charPolyHash(s) + b_j) mod 1e9+7, recomputed verbatim by the
    // oracle from the same affine coefficients.
    Query("q57_poly_minhash_sig", ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bigramShingles(TextAnalysis.tokens(col("text"))).as("sh"))
        .where(size(col("sh")) > 0)
        .select(col("doc_id"),
          posexplode(Dedup.polyMinhashSignature(col("sh"), 16)))
        .select(col("doc_id"), col("pos").cast("long").as("seed_i"),
          col("col").as("component"))),
      // q16_minhash_pairs / q17_simhash: intentionally no oracle — xxhash64
      // internals are engine-defined (rows-only check). The POLY family
      // below (q57-q59) is the oracle-expressible counterpart.
      Some(polyBaseCtes(16) +
      s"""post AS (SELECT doc_id, unnest(sg) AS s FROM shf),
         |ph AS (SELECT doc_id, ${charPolySql("s")} AS h FROM post)
         |SELECT doc_id, i AS seed_i, min((a*h + b) % 1000000007) AS component
         |FROM ph CROSS JOIN seeds GROUP BY doc_id, i""".stripMargin)),

    // Banded LSH candidate pairs over poly signatures — band keys are the
    // raw component slices (array equi-join both engines express), with
    // the exact-dup collapse and the bucket cap mirrored in SQL. Built
    // once per (session, dir) and shared with q59's verification.
    Query("q58_poly_minhash_pairs", ((s, dir) => polyCands(s, dir)),
      Some(polyCandCtes(64, 16, 200) +
      """sigl AS (SELECT doc_id, list(m ORDER BY i) AS sl FROM sig GROUP BY doc_id)
        |SELECT c.id_a, c.id_b,
        |  CAST(len(list_filter(range(1, 65), j -> sa.sl[j] = sb.sl[j])) AS DOUBLE)
        |    / 64.0 AS est_jaccard
        |FROM cand c
        |JOIN sigl sa ON c.id_a = sa.doc_id
        |JOIN sigl sb ON c.id_b = sb.doc_id""".stripMargin)),

    // The full LSH-gated dedup pipeline, hash-checked: poly-LSH candidate
    // generation feeding exact-Jaccard verification — q37's shape with an
    // oracle instead of a property.
    Query("q59_poly_dedup_pipeline", ((s, dir) =>
      Dedup.jaccardOnPairs(polyCands(s, dir), t(s, dir, "documents"),
          "doc_id", "text")
        .where(col("jaccard") >= 0.5)),
      Some(polyCandCtes(64, 16, 200) +
      """scored AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
        |    (CAST(len(a.sg) + len(b.sg) AS DOUBLE)
        |      - CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)) AS jaccard
        |  FROM cand c
        |  JOIN shf a ON c.id_a = a.doc_id
        |  JOIN shf b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin)),

    // The oracle-expressible SimHash family (q17/q26's hash-checked
    // sibling, like q57-q59 for MinHash): 60-bit fingerprints from two
    // mirrorable polynomial token hashes packed side by side.
    Query("q66_poly_simhash", ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Dedup.polySimhash64(TextAnalysis.tokens(col("text"))).as("fp"))),
      Some(POLY_SIMHASH_CTES +
      """out AS (SELECT doc_id, fp FROM docfp)
        |SELECT doc_id, fp FROM out""".stripMargin)),

    // Pigeonhole-banded near-dup pairs over the poly fingerprint —
    // banding, bucket cap, and Hamming filter all mirrored in SQL.
    Query("q67_poly_simhash_pairs", ((s, dir) =>
      Dedup.polySimhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 8)),
      Some(POLY_SIMHASH_CTES +
      s"""rep AS (SELECT fp, min(doc_id) AS id FROM docfp GROUP BY fp),
         |bands(band, off, mask) AS (VALUES ${polySimhashBandsSql(8)}),
         |bd AS (
         |  SELECT r.id, r.fp, b.band, (r.fp >> b.off) & b.mask AS chunk
         |  FROM rep r CROSS JOIN bands b),
         |bsz AS (SELECT band, chunk, count(*) AS n FROM bd GROUP BY band, chunk),
         |kept AS (
         |  SELECT d.id, d.fp, d.band, d.chunk FROM bd d
         |  JOIN bsz z ON d.band = z.band AND d.chunk = z.chunk AND z.n <= 1000)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM kept a JOIN kept b
         |  ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 8""".stripMargin)),

    // Incremental dedup — the daily-ingest shape: near-dup candidates of
    // the NEW batch against the standing corpus (and within the batch),
    // never re-deriving corpus×corpus pairs. Poly family end-to-end, so
    // banding, caps, the cross flag, and the similarity estimate all
    // hash-check.
    Query("q72_incremental_dedup", ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalPolyMinhashPairs(
        docs.where(col("doc_id") % 5L =!= 0L),
        docs.where(col("doc_id") % 5L === 0L),
        "doc_id", "text")
    }),
      Some(polyBaseCtes(64) +
      """sided AS (
        |  SELECT doc_id, text, sg,
        |    (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS is_new
        |  FROM shf),
        |uniq AS (SELECT min(doc_id) AS doc_id, is_new
        |         FROM sided GROUP BY text, is_new),
        |usg AS (SELECT u.doc_id, u.is_new, s.sg
        |        FROM uniq u JOIN sided s ON u.doc_id = s.doc_id),
        |post AS (SELECT doc_id, unnest(sg) AS s FROM usg),
        |ph AS (SELECT doc_id, """.stripMargin + charPolySql("s") +
      """ AS h FROM post),
        |sig AS (
        |  SELECT doc_id, i, min((a*h + b) % 1000000007) AS m
        |  FROM ph CROSS JOIN seeds GROUP BY doc_id, i),
        |bandk AS (
        |  SELECT doc_id, i // 4 AS band, list(m ORDER BY i) AS bk
        |  FROM sig GROUP BY doc_id, band),
        |bsz AS (SELECT band, bk, count(*) AS n FROM bandk GROUP BY band, bk),
        |kept AS (
        |  SELECT k.doc_id, k.band, k.bk, u.is_new FROM bandk k
        |  JOIN bsz z ON k.band = z.band AND k.bk = z.bk AND z.n <= 200
        |  JOIN uniq u ON k.doc_id = u.doc_id),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    (CASE WHEN a.is_new <> b.is_new THEN 1 ELSE 0 END)::BIGINT AS is_cross
        |  FROM kept a JOIN kept b
        |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
        |  WHERE a.is_new = 1 OR b.is_new = 1),
        |sigl AS (SELECT doc_id, list(m ORDER BY i) AS sl FROM sig GROUP BY doc_id)
        |SELECT c.id_a, c.id_b, c.is_cross,
        |  CAST(len(list_filter(range(1, 65), j -> sa.sl[j] = sb.sl[j])) AS DOUBLE)
        |    / 64.0 AS est_jaccard
        |FROM cand c
        |JOIN sigl sa ON c.id_a = sa.doc_id
        |JOIN sigl sb ON c.id_b = sb.doc_id""".stripMargin)),

    // Asymmetric Jaccard CONTAINMENT pairs — the subset-duplication
    // detector symmetric Jaccard misses (a short document quoted inside
    // a long one: containment ~1 in the short direction, Jaccard tiny).
    // Same blocked inverted-index shape as q18.
    Query("q102_containment", ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), minContainment = 0.25)),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
         |sh0 AS (SELECT doc_id, lang, source, $BIGRAM_SQL AS sg FROM toks),
         |sh AS (SELECT * FROM sh0 WHERE len(sg) > 0),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.sg, b.sg)) AS BIGINT) AS inter,
         |    CAST(len(a.sg) AS BIGINT) AS n_a,
         |    CAST(len(b.sg) AS BIGINT) AS n_b
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source
         |   AND a.doc_id < b.doc_id),
         |c AS (
         |  SELECT id_a, id_b, inter,
         |    CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS contain_a,
         |    CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS contain_b
         |  FROM p)
         |SELECT id_a, id_b, inter, contain_a, contain_b FROM c
         |WHERE contain_a >= 0.25 OR contain_b >= 0.25""".stripMargin)),

    // Corpus-slice similarity matrix: mergeable group-level MinHash —
    // the signature of a (lang, source) slice is the slot-wise MIN of
    // its documents' poly signatures (MinHash-of-union = min-of-
    // signatures, associative+commutative → map-side combinable), then
    // pairwise agreement between the bounded set of groups. The sketch
    // MERGE property is what the oracle re-derives from raw shingles.
    Query("q96_group_minhash", ((s, dir) =>
      Dedup.groupJaccardMatrix(t(s, dir, "documents"), "text",
        Seq("lang", "source"), numHashes = 16)),
      // The oracle computes each group's union signature DIRECTLY from the
      // raw shingle pool — agreeing with Spark's min-of-member-signatures
      // is precisely the MinHash merge property under test.
      Some(s"""WITH toks AS (
         |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
         |sh0 AS (SELECT doc_id, lang, source, $BIGRAM_SQL AS sg FROM toks),
         |shf AS (SELECT * FROM sh0 WHERE len(sg) > 0),
         |seeds(i, a, b) AS (VALUES ${polySeedsSql(16)}),
         |post AS (SELECT lang, source, unnest(sg) AS s FROM shf),
         |ph AS (SELECT lang, source, ${charPolySql("s")} AS h FROM post),
         |gsig AS (
         |  SELECT lang || '|' || source AS gkey, i,
         |    min((a*h + b) % 1000000007) AS component
         |  FROM ph CROSS JOIN seeds GROUP BY gkey, i)
         |SELECT x.gkey AS group_a, y.gkey AS group_b,
         |  count(*) FILTER (x.component = y.component) AS n_agree,
         |  CAST(count(*) FILTER (x.component = y.component) AS DOUBLE) / 16.0
         |    AS est_jaccard
         |FROM gsig x JOIN gsig y ON x.i = y.i AND x.gkey < y.gkey
         |GROUP BY x.gkey, y.gkey""".stripMargin)),

    // Duplicate-cluster SIZE DISTRIBUTION — the dedup ladder's summary
    // report ("how much duplication, in what shape?"): a histogram of
    // q51's near-dup cluster sizes, with the un-clustered complement
    // reported as the size-1 row (edge-derived clusters are always ≥2;
    // singletons exist only as documents with no near-dup edge). Rides
    // the SHARED cluster artifact (one build per session feeds
    // q51/q53/q73/q117 and this) and the shared recursive-CTE oracle —
    // the aggregate itself is cluster-count-bounded.
    Query("q167_cluster_sizes", ((s, dir) => {
      val cl = docClusters(s, dir).groupBy("cluster_id")
        .agg(count(lit(1)).as("sz"))
      val hist = cl.groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      // the size-1 row is n_docs − n_in: one sum over the two 1-row
      // counts, so no cross join
      val singletons = t(s, dir, "documents")
        .agg(count(lit(1)).as("v"))
        .unionByName(cl.agg((-coalesce(sum(col("sz")), lit(0L))).as("v")))
        .agg(sum(col("v")).as("n_clusters"))
        .select(lit(1L).as("sz"), col("n_clusters"))
      hist.unionByName(singletons)
        .select(col("sz").as("cluster_size"), col("n_clusters"))
    }),
      // Mirrors q167: the shared recursive-CTE clusters, the same
      // size histogram + complement singleton row.
      Some(s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |),
         |cs AS (
         |  SELECT cluster_id, count(*) AS sz FROM clusters
         |  GROUP BY cluster_id),
         |hist AS (
         |  SELECT CAST(sz AS BIGINT) AS cluster_size,
         |    count(*) AS n_clusters
         |  FROM cs GROUP BY sz),
         |compl AS (
         |  SELECT CAST(1 AS BIGINT) AS cluster_size,
         |    (SELECT count(*) FROM documents) -
         |      COALESCE((SELECT CAST(sum(sz) AS BIGINT) FROM cs), 0)
         |      AS n_clusters)
         |SELECT * FROM hist UNION ALL SELECT * FROM compl""".stripMargin)),

    // Jaro-Winkler similar-token pairs (expressions/JaroWinkler — a
    // native codegen kernel; Spark has no built-in) — the record-
    // linkage scorer that complements the edit-distance family: q110
    // counts operations, this rewards shared prefixes and forgives
    // transpositions, the classic name/title matcher. Candidate space
    // is the bounded top-200 vocabulary blocked on the initial byte
    // (the Winkler boost's own structure: high-JW pairs share a
    // prefix), so the self-join broadcasts and the kernel runs on a
    // few thousand pairs, not the corpus square. The double is
    // BIT-EXACT vs DuckDB's jaro_winkler_similarity (both byte-level,
    // same operation order — JaroWinklerSpec pins the classic Winkler
    // examples and non-ASCII byte semantics).
    Query("q173_jaro_winkler", ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val top = tf.orderBy(col("freq").desc, col("tok")).limit(200)
        .select(col("tok"), substring(col("tok"), 1, 1).as("init"))
      top.as("a").join(broadcast(top.as("b")),
          col("a.init") === col("b.init") && col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
        .withColumn("jw", graft.expressions.JaroWinkler
          .jaroWinklerOf(col("tok_a"), col("tok_b")))
        .where(col("jw") >= 0.6)
    }),
      // Mirrors q173: same top-200 vocabulary (freq desc, token asc),
      // same initial-byte blocking, DuckDB's byte-level
      // jaro_winkler_similarity against the byte-level kernel.
      Some(s"""WITH toks AS (
         |  SELECT unnest($TOKENS_SQL) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
         |top AS (SELECT tok FROM tf ORDER BY freq DESC, tok LIMIT 200),
         |w AS (SELECT tok, substr(tok, 1, 1) AS init FROM top)
         |SELECT a.tok AS tok_a, b.tok AS tok_b,
         |  jaro_winkler_similarity(a.tok, b.tok) AS jw
         |FROM w a JOIN w b ON a.init = b.init AND a.tok < b.tok
         |WHERE jaro_winkler_similarity(a.tok, b.tok) >= 0.6""".stripMargin)),

    // Entity resolution end-to-end — block → score → cluster →
    // canonicalize, the full record-linkage pipeline over one query:
    // q173's initial-byte blocking and bit-exact Jaro-Winkler scoring
    // produce the match edges, the q51 iterative-CC operator (two-star
    // alternation, checkpointed rounds) merges transitive matches, and
    // the min-string label is the canonical entity key. String ids ride
    // the whole ladder (the CC fingerprint hashes them; min is
    // lexicographic in both engines). The oracle replays blocking +
    // scoring and resolves transitivity with the q51 recursive CTE.
    Query("q177_jw_entities", ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val top = tf.orderBy(col("freq").desc, col("tok")).limit(200)
        .select(col("tok"), substring(col("tok"), 1, 1).as("init"))
      val pairs = top.as("a").join(broadcast(top.as("b")),
          col("a.init") === col("b.init") && col("a.tok") < col("b.tok"))
        .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
        .where(graft.expressions.JaroWinkler
          .jaroWinklerOf(col("tok_a"), col("tok_b")) >= 0.6)
      Dedup.dupClusters(pairs, "tok_a", "tok_b")
        .select(col("id").as("tok"), col("cluster_id").as("entity_id"))
    }),
      // Mirrors q177: q173's blocking + scoring as the edge set, the q51
      // recursive-CTE transitive closure, min-string canonical labels.
      Some(s"""WITH toks AS (
         |  SELECT unnest($TOKENS_SQL) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
         |top AS (SELECT tok FROM tf ORDER BY freq DESC, tok LIMIT 200),
         |w AS (SELECT tok, substr(tok, 1, 1) AS init FROM top),
         |e0 AS (
         |  SELECT a.tok AS ta, b.tok AS tb
         |  FROM w a JOIN w b ON a.init = b.init AND a.tok < b.tok
         |  WHERE jaro_winkler_similarity(a.tok, b.tok) >= 0.6),
         |sym AS (
         |  SELECT ta AS a, tb AS b FROM e0
         |  UNION SELECT tb, ta FROM e0),
         |reach AS (
         |  WITH RECURSIVE r(src, dst) AS (
         |    SELECT a, a FROM sym
         |    UNION
         |    SELECT r.src, s.b FROM r JOIN sym s ON r.dst = s.a)
         |  SELECT * FROM r)
         |SELECT src AS tok, min(dst) AS entity_id
         |FROM reach GROUP BY src""".stripMargin)),

    // Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    // "Winnowing: Local Algorithms for Document Fingerprinting",
    // SIGMOD'03 — the MOSS algorithm): hash every k-gram, slide a
    // w-window over the hash sequence, keep each window's MINIMUM
    // (rightmost on ties = the min over (hash, -pos) — this spelling
    // uses leftmost-min, deterministic either way when mirrored), and
    // the distinct selected hashes are the document's fingerprint set —
    // guaranteed to share a fingerprint with any document overlapping
    // by ≥ w+k-1 characters, which plain q24-style whole-doc hashing
    // cannot promise. All integer polynomial hashes; the set renders
    // hash-checkable as (count, XOR-fold) scalars.
    Query("q197_winnowing", ((s, dir) =>
      // ONE codegen pass per document (expressions/WinnowFingerprints):
      // no per-gram row explosion, no per-doc window shuffle — the
      // oracle still spells the full relational derivation (gram rows,
      // frame minima, distinct), so the hash match doubles as the
      // kernel's correctness proof. 3.6 s → sub-second at sf0.1.
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.expressions.TextKernels.winnowOf(col("text"), 8, 4)
            .as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fingerprints"),
          aggregate(col("fps"), lit(0L),
            (a, x) => a.bitwiseXOR(x)).as("fp_xor"))),
      // Mirrors q197: identical k-grams (1-based substr), poly hashes,
      // 4-hash window minima, distinct + XOR fold.
      Some(s"""WITH g0 AS (
         |  SELECT doc_id,
         |    CASE WHEN length(text) >= 8
         |      THEN list_transform(range(1, length(text) - 6),
         |        i -> substr(text, i, 8))
         |      ELSE [] END AS grams
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(grams) AS gram,
         |    generate_subscripts(grams, 1) - 1 AS pos
         |  FROM g0),
         |h AS (
         |  SELECT doc_id, pos, ${charPolySql("gram")} AS hh FROM g),
         |m AS (
         |  SELECT doc_id,
         |    count(*) OVER wi AS nwin, min(hh) OVER wi AS wmin
         |  FROM h
         |  WINDOW wi AS (PARTITION BY doc_id ORDER BY pos
         |                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
         |sel AS (
         |  SELECT DISTINCT doc_id, wmin FROM m WHERE nwin = 4)
         |SELECT d.doc_id,
         |  CAST(count(sel.wmin) AS BIGINT) AS n_fingerprints,
         |  COALESCE(bit_xor(sel.wmin), 0) AS fp_xor
         |FROM documents d LEFT JOIN sel ON d.doc_id = sel.doc_id
         |GROUP BY d.doc_id""".stripMargin)),
  )
}
