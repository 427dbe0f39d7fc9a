package graft
package registry

import graft.analytics.Dashboard
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.{CorpusOps, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The corpus-curation rows: decontamination, tf-idf/BM25 retrieval,
  * mixture and shard planning, char-grain dup spans and the end-to-end
  * curation reports. q158a–c are diagnostic rows (see their comment). */
object CorpusQueries {

  import Tables.t
  import Shared._

  /** q86's query vocabulary — sorted, so the Spark pivot slots and the
    * oracle's generated slot columns line up position-for-position. */
  private val BM25_TERMS = Seq("customer", "merge", "spark", "stream")

  /** The BM25 oracle CTE chain (no leading WITH, trailing comma) and its
    * score expression, GENERATED from the same term list as the Spark side
    * so the per-term pivot slots and the left-to-right score additions
    * (double addition is order-sensitive) match the operator exactly.
    * Constant subexpressions (k1+1, 1-b) are spelled as arithmetic on both
    * sides — identical IEEE folds either way. Shared by q86 and q89. */
  private def bm25Ctes(terms: Seq[String]): (String, String) = {
    val ts = terms.distinct.sorted
    val inList = ts.map(t => s"'$t'").mkString(", ")
    val slotCols = ts.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN term = '$t' THEN c END) AS __c_$i"
    }.mkString(",\n    ")
    val scoreSum = ts.indices.map(i => s"COALESCE(__c_$i, 0.0)")
      .mkString(" + ")
    val ctes =
      s"""toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |dl AS (SELECT doc_id AS id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
         |stats AS (SELECT count(*) AS n_docs,
         |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
         |post AS (SELECT doc_id AS id, unnest(tk) AS term FROM toks),
         |tf AS (SELECT id, term, count(*) AS tf FROM post
         |       WHERE term IN ($inList) GROUP BY id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |contrib AS (
         |  SELECT id, term,
         |    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |       / (CAST(df AS DOUBLE) + 0.5))
         |     * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
         |     / (CAST(tf AS DOUBLE)
         |       + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS c
         |  FROM tf JOIN dl USING (id) CROSS JOIN stats JOIN dfreq USING (term)),
         |piv AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS n_terms_matched,
         |    $slotCols
         |  FROM contrib GROUP BY id),
         |""".stripMargin
    (ctes, scoreSum)
  }

  /** q86's oracle: the BM25 CTE chain + the top-k cut. */
  private def bm25Sql(terms: Seq[String], topK: Int): String = {
    val (ctes, scoreSum) = bm25Ctes(terms)
    s"""WITH $ctes
       |bmfinal AS (SELECT id, n_terms_matched, $scoreSum AS score FROM piv)
       |SELECT id, n_terms_matched, score FROM bmfinal
       |ORDER BY score DESC, id ASC LIMIT $topK""".stripMargin
  }

  /** q89's oracle: BM25 ranks × exact-cosine ranks for query vector 0,
    * blended by reciprocal-rank fusion. The cosine CTE mirrors
    * BRUTE_TOPK_SQL's arithmetic verbatim (query norm first). */
  private def rrfSql(terms: Seq[String], listK: Int, rrfK: Int,
                     outK: Int): String = {
    val (ctes, scoreSum) = bm25Ctes(terms)
    EMB_CTE + ctes +
      s"""bmr AS (
         |  SELECT id, row_number() OVER (ORDER BY s DESC, id ASC) AS rank_a
         |  FROM (SELECT id, $scoreSum AS s FROM piv)),
         |bmtop AS (SELECT id, rank_a FROM bmr WHERE rank_a <= $listK),
         |vp AS (
         |  SELECT c.vec_id AS id,
         |    ${cosSql("q", "c")} AS cosine
         |  FROM n q, n c WHERE q.vec_id = 0),
         |vr AS (
         |  SELECT id, row_number() OVER (ORDER BY cosine DESC, id ASC) AS rank_b
         |  FROM vp),
         |vtop AS (SELECT id, rank_b FROM vr WHERE rank_b <= $listK),
         |fused AS (
         |  SELECT COALESCE(a.id, b.id) AS id, a.rank_a, b.rank_b,
         |    COALESCE(1.0 / ($rrfK.0 + CAST(a.rank_a AS DOUBLE)), 0.0)
         |    + COALESCE(1.0 / ($rrfK.0 + CAST(b.rank_b AS DOUBLE)), 0.0) AS rrf
         |  FROM bmtop a FULL OUTER JOIN vtop b ON a.id = b.id)
         |SELECT id, rank_a, rank_b, rrf FROM fused
         |ORDER BY rrf DESC, id ASC LIMIT $outK""".stripMargin
  }

  /** Exact trigram decontamination — shared by q48 (exact shuffle path)
    * and q71 (Bloom-gated path): the gate changes the plan, not the rows. */
  private lazy val DECON_SQL: String =
    s"""WITH toks AS (
       |  SELECT doc_id, text, lang, source, n_chars, $TOKENS_SQL AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, $TRIGRAM_SQL AS sg
       |  FROM toks),
       |ev AS (
       |  SELECT DISTINCT unnest(sg) AS shingle FROM sh WHERE doc_id % 10 = 0),
       |bad AS (
       |  SELECT DISTINCT p.doc_id
       |  FROM (SELECT doc_id, unnest(sg) AS shingle FROM sh
       |        WHERE doc_id % 10 <> 0) p
       |  JOIN ev ON p.shingle = ev.shingle)
       |SELECT doc_id, text, lang, source, n_chars FROM documents
       |WHERE doc_id % 10 <> 0
       |  AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  /** toks + the positional-trigram posting `ps` (doc_id, pos, shingle)
    * — the staging q137 (dup-span detector) and q233 (scrub transform)
    * share, factored so the two oracles can never tokenize apart. */
  private lazy val POS_TRI_PS_CTES: String =
    s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
       |ps AS (
       |  SELECT doc_id, unnest(range(1, len(tk) - 1)) - 1 AS pos,
       |    unnest($POS_TRIGRAM_SQL) AS shingle
       |  FROM toks),
       |""".stripMargin

  /** Char 12-gram rolling-hash postings `ch` (doc_id, pos, h) over
    * documents — grams via 1-based substr (codepoint semantics both
    * engines), the SAME poly hash as the Spark kernel (the q197
    * winnowing mirror discipline: the oracle spells the per-substring
    * derivation, the hash match proves the rolling kernel). Shared by
    * q237 (char dup spans) and q243 (char contamination) so the char
    * grain has ONE spelling. Lazy: built via charPolySql. */
  private lazy val CHAR12_CTES: String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest(range(1, length(text) - 10)) - 1 AS pos,
       |    unnest(list_transform(range(1, length(text) - 10),
       |      i -> substr(text, i, 12))) AS gram
       |  FROM documents),
       |ch AS (SELECT doc_id, pos, ${charPolySql("gram")} AS h FROM g),
       |""".stripMargin

  // The q158 tf-idf staging, shared VERBATIM by the main oracle and the
  // r10 bisection diagnostics (q158a/b/c) so the diagnostic oracles can
  // never drift from the surface they bisect. Ends with `p` (pairs
  // post-minShared, pre-norm-join).
  private val TFIDF3_CTES: String =
    s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
       |tf AS (
       |  SELECT doc_id AS id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($POS_TRIGRAM_SQL) AS term
       |        FROM toks)
       |  GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |nn AS (SELECT count(*) AS n_docs FROM documents),
       |elig AS (
       |  SELECT term, (n_docs * 1000000) // df AS q_idf
       |  FROM dfq, nn
       |  WHERE df >= 2 AND df * 1000 <= 200 * n_docs),
       |w AS (
       |  SELECT id, term, CAST(tf AS HUGEINT) * q_idf AS w
       |  FROM tf JOIN elig USING (term)),
       |nrm AS (SELECT id, count(*) AS n_terms, sum(w * w) AS nrm
       |        FROM w GROUP BY id),
       |p AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared,
       |    sum(a.w * b.w) AS dot
       |  FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= 3),
       |""".stripMargin

  val queries: Seq[Query] = Seq(
    // Graded contamination: per-train-document fractional n-gram overlap
    // with the eval corpus — the thresholdable score behind q48's boolean
    // drop decision (one shared 3-gram ≠ a 40% leak).
    Query("q132_contamination_score", ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusOps.contaminationScore(
        docs.where(col("doc_id") % 10L =!= 0L),
        docs.where(col("doc_id") % 10L === 0L),
        "doc_id", "text", n = 3)
    }),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |sh AS (SELECT doc_id, $TRIGRAM_SQL AS sg FROM toks),
         |ev AS (
         |  SELECT DISTINCT unnest(sg) AS shingle FROM sh
         |  WHERE doc_id % 10 = 0),
         |p AS (
         |  SELECT doc_id, unnest(sg) AS shingle FROM sh
         |  WHERE doc_id % 10 <> 0),
         |h AS (
         |  SELECT p.doc_id, count(*) AS n_hits
         |  FROM p JOIN ev ON p.shingle = ev.shingle GROUP BY p.doc_id)
         |SELECT s.doc_id, CAST(len(s.sg) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) /
         |    CAST(len(s.sg) AS DOUBLE) AS contamination
         |FROM sh s LEFT JOIN h USING (doc_id)
         |WHERE s.doc_id % 10 <> 0""".stripMargin)),

    // The composed corpus-curation pipeline — the end-to-end production
    // shape a training-data user runs: quality filter → exact dedup (per
    // filtered train split) → eval-set decontamination → per-(lang,
    // source) corpus stats. Every stage is an operator registered on its
    // own above; this query proves they compose in one DAG.
    Query("q52_corpus_pipeline", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = TextAnalysis
        .qualityFeatures(col("text"), Seq("the", "a"))
        .getField("quality_score")
      val filtered = docs.withColumn("quality", quality)
        .where(col("quality") >= 0.5)
      val train = filtered.where(col("doc_id") % 10L =!= 0L)
      val evalSet = docs.where(col("doc_id") % 10L === 0L)
      val deduped = Dedup.dedupCorpus(train, "doc_id", "text")
      val clean = CorpusOps.decontaminate(deduped, evalSet,
        "doc_id", "text", n = 3)
      clean.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          Dashboard.exactAvg(col("quality")).as("avg_quality"))
    }),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, text, lang, source, n_chars, $TOKENS_SQL AS tk
         |  FROM documents),
         |g AS (
         |  SELECT *, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct,
         |    len(list_filter(tk, t -> t IN ('the','a'))) AS n_stop
         |  FROM toks),
         |scored AS (
         |  SELECT doc_id, text, lang, source, n_chars, tk,
         |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE
         |      0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 200.0)
         |      + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |      + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |    END AS quality
         |  FROM g),
         |train AS (
         |  SELECT * FROM scored WHERE quality >= 0.5 AND doc_id % 10 <> 0),
         |dedup AS (
         |  SELECT * FROM train WHERE doc_id IN (
         |    SELECT min(doc_id) FROM train GROUP BY sha256(text))),
         |evsh AS (
         |  SELECT DISTINCT unnest($TRIGRAM_SQL) AS shingle
         |  FROM toks WHERE doc_id % 10 = 0),
         |bad AS (
         |  SELECT DISTINCT p.doc_id
         |  FROM (SELECT doc_id, unnest($TRIGRAM_SQL) AS shingle
         |        FROM dedup) p
         |  JOIN evsh ON p.shingle = evsh.shingle),
         |clean AS (
         |  SELECT * FROM dedup WHERE doc_id NOT IN (SELECT doc_id FROM bad))
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  ${exactAvgSql("quality")} AS avg_quality
         |FROM clean GROUP BY lang, source""".stripMargin)),

    // Benchmark decontamination: drop train docs (doc_id % 10 != 0)
    // sharing any trigram with the "eval set" (doc_id % 10 == 0) — the
    // test-set-leakage guard, as a distinct-shingle join + left-anti.
    Query("q48_decontaminate", ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusOps.decontaminate(
        docs.where(col("doc_id") % 10L =!= 0L),
        docs.where(col("doc_id") % 10L === 0L),
        "doc_id", "text", n = 3)
    }),
      Some(DECON_SQL)),

    // Bloom-gated decontamination: the fixed-size sketch drops clean
    // postings inside the scan's codegen stage BEFORE the shuffle; the
    // fpp sliver is verified away by the exact join, so the rows are
    // bit-identical to q48 (whose oracle this reuses verbatim).
    Query("q71_decontaminate_bloom", ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusOps.decontaminateBloom(
        docs.where(col("doc_id") % 10L =!= 0L),
        docs.where(col("doc_id") % 10L === 0L),
        "doc_id", "text", n = 3, capacity = 1L << 17)
    }),
      // the Bloom gate changes the SHAPE, never the rows — q71 reuses
      // q48's oracle verbatim (the same exact-decontamination SQL)
      Some(DECON_SQL)),

    // Context chunking: overlapping 12-token windows every 8 tokens —
    // the sequence-packing precursor, per-row generate with bound slices.
    Query("q49_chunk_docs", ((s, dir) =>
      CorpusOps.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 12, stride = 8)),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |st AS (
         |  SELECT doc_id, tk, unnest(range(0, len(tk), 8)) AS s
         |  FROM toks WHERE len(tk) > 0)
         |SELECT doc_id,
         |  s // 8 AS chunk_idx,
         |  CAST(len(list_slice(tk, s + 1, least(s + 12, len(tk)))) AS BIGINT)
         |    AS n_chunk_tokens,
         |  array_to_string(list_slice(tk, s + 1, least(s + 12, len(tk))), ' ')
         |    AS chunk_text
         |FROM st""".stripMargin)),

    // Deterministic mixture resampling: per-source permille rates via the
    // content-hash threshold — the training-mix constructor (the q45
    // stratified sample generalized to per-group rates).
    Query("q68_mixture_sample", ((s, dir) =>
      CorpusOps.mixtureSample(t(s, dir, "documents"), "text", "source",
        permille = Map("src0" -> 900, "src1" -> 500, "src2" -> 250),
        defaultPermille = 100)),
      Some(s"""SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE ${charPolySql("text")} % 1000 <
         |  CASE WHEN source = 'src2' THEN 250
         |       WHEN source = 'src1' THEN 500
         |       WHEN source = 'src0' THEN 900
         |       ELSE 100 END""".stripMargin)),

    // Per-document top-5 TF-IDF terms (score = tf × N/df — log-free so
    // every arithmetic step mirrors exactly; see CorpusOps scaladoc).
    Query("q60_tfidf", ((s, dir) =>
      CorpusOps.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text",
        topK = 5)),
      Some(s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |post AS (SELECT doc_id, unnest(tk) AS term FROM toks),
         |tf AS (SELECT doc_id AS id, term, count(*) AS tf
         |       FROM post GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT id, term, tf, df,
         |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
         |r AS (
         |  SELECT id, term, tf, df, score,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, term ASC) AS rank
         |  FROM scored)
         |SELECT id, term, tf, df, score, rank FROM r WHERE rank <= 5""".stripMargin)),

    // Per-document novelty (fraction of bigram shingles unique to the
    // document corpus-wide) and Gini-Simpson lexical diversity — the
    // log-free complements of q61's repetition signals.
    Query("q90_novelty", ((s, dir) =>
      CorpusOps.noveltyDiversity(t(s, dir, "documents"), "doc_id", "text",
        n = 2)),
      Some(s"""WITH toks AS (SELECT doc_id AS id, $TOKENS_SQL AS tk FROM documents),
         |tc AS (
         |  SELECT id, t, count(*) AS c
         |  FROM (SELECT id, unnest(tk) AS t FROM toks) GROUP BY id, t),
         |mo AS (SELECT id, CAST(sum(c*c) AS BIGINT) AS sumsq,
         |  CAST(sum(c) AS BIGINT) AS n_tokens FROM tc GROUP BY id),
         |post AS (
         |  SELECT id, unnest($BIGRAM_SQL) AS sh FROM toks),
         |dfreq AS (SELECT sh, count(*) AS df FROM post GROUP BY sh),
         |nv AS (
         |  SELECT id, count(*) AS n_shingles,
         |    count(*) FILTER (df = 1) AS n_novel
         |  FROM post JOIN dfreq USING (sh) GROUP BY id)
         |SELECT t.id,
         |  COALESCE(m.n_tokens, 0) AS n_tokens,
         |  COALESCE(v.n_shingles, 0) AS n_shingles,
         |  COALESCE(v.n_novel, 0) AS n_novel,
         |  CASE WHEN COALESCE(v.n_shingles, 0) = 0 THEN 0.0
         |    ELSE CAST(v.n_novel AS DOUBLE) / CAST(v.n_shingles AS DOUBLE)
         |  END AS novelty,
         |  CASE WHEN COALESCE(m.n_tokens, 0) = 0 THEN 0.0
         |    ELSE 1.0 - (CAST(m.sumsq AS DOUBLE)
         |      / (CAST(m.n_tokens AS DOUBLE) * CAST(m.n_tokens AS DOUBLE)))
         |  END AS gini
         |FROM toks t
         |LEFT JOIN mo m ON t.id = m.id
         |LEFT JOIN nv v ON t.id = v.id""".stripMargin)),

    // Hybrid retrieval: BM25 top-50 (q86's scorer) fused with the exact
    // cosine top-50 for query vector 0 by reciprocal-rank fusion — the
    // standard lexical+vector blend, needing only ranks (no cross-scorer
    // calibration), so the whole pipeline stays hash-checkable. The rank
    // windows run over ALREADY-bounded top-k lists (≤ 50 rows), so the
    // unpartitioned window is k-bounded, not corpus-bounded.
    Query("q89_hybrid_rrf", ((s, dir) => {
      val wb = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("id").asc)
      val bm = CorpusOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          BM25_TERMS, topK = 50)
        .withColumn("rank", row_number().over(wb).cast("long"))
        .select(col("id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val vec = Similarity.bruteForceTopK(emb.where(col("vec_id") === 0),
          emb, "vec_id", "embedding", k = 50)
        .select(col("vec_id").as("id"), col("rank"))
      graft.operators.Fusion.rrf(bm, vec, "id", k = 20)
    }),
      Some(rrfSql(BM25_TERMS, listK = 50, rrfK = 60, outK = 20))),

    // Exact corpus heavy hitters (count > total/30) through a per-partition
    // Misra-Gries candidate gate: bounded sketch state prunes the long tail
    // pre-shuffle, the exact recount + threshold make the output provably
    // sketch-independent — hash-checked against plain GROUP BY / HAVING.
    Query("q88_heavy_hitters", ((s, dir) =>
      CorpusOps.heavyHitters(t(s, dir, "documents"), "text", k = 30)),
      Some(s"""WITH toks AS (SELECT $TOKENS_SQL AS tk FROM documents),
         |post AS (SELECT unnest(tk) AS term FROM toks),
         |tot AS (SELECT count(*) AS n_total FROM post),
         |c AS (SELECT term, count(*) AS cnt FROM post GROUP BY term)
         |SELECT c.term, c.cnt, t.n_total FROM c CROSS JOIN tot t
         |WHERE c.cnt * 30 > t.n_total""".stripMargin)),

    // Exact-substring duplication spans (CorpusOps.dupSpans — the Lee et
    // al. suffix-array dedup signal re-expressed relationally): per-doc
    // duplicated-position share and longest duplicated run; max_run+2
    // lower-bounds the longest cross-doc duplicated substring at the
    // 3-gram grain.
    Query("q137_dup_spans", ((s, dir) =>
      CorpusOps.dupSpans(t(s, dir, "documents"), "doc_id", "text", n = 3)),
      Some(POS_TRI_PS_CTES +
      s"""d AS (
         |  SELECT shingle FROM ps GROUP BY shingle
         |  HAVING count(DISTINCT doc_id) >= 2),
         |fl AS (
         |  SELECT ps.doc_id, ps.pos, d.shingle IS NOT NULL AS dup
         |  FROM ps LEFT JOIN d USING (shingle)),
         |runs AS (
         |  SELECT doc_id,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM fl WHERE dup),
         |rl AS (
         |  SELECT doc_id, max(cnt) AS max_run FROM (
         |    SELECT doc_id, grp, count(*) AS cnt FROM runs
         |    GROUP BY doc_id, grp) GROUP BY doc_id),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_shingles,
         |    count(*) FILTER (dup) AS n_dup
         |  FROM fl GROUP BY doc_id)
         |SELECT a.doc_id, a.n_shingles, a.n_dup,
         |  CAST(a.n_dup AS DOUBLE) / CAST(a.n_shingles AS DOUBLE) AS dup_share,
         |  CAST(COALESCE(r.max_run, 0) AS BIGINT) AS max_run
         |FROM agg a LEFT JOIN rl r USING (doc_id)""".stripMargin)),

    // BM25 top-k retrieval over the corpus for a literal query-term set —
    // log-free rational idf and fixed-order pivot summation keep every
    // arithmetic step bit-mirrorable (CorpusOps.bm25TopK scaladoc); the
    // final top-k is a TakeOrdered, not a global sort.
    Query("q86_bm25", ((s, dir) =>
      CorpusOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        BM25_TERMS, topK = 20)),
      Some(bm25Sql(BM25_TERMS, topK = 20))),

    // Gopher-family repetition quality signals: duplicate-bigram fraction
    // and top-bigram coverage per document, bigrams WITH multiplicity via
    // the (id, pos)⋈(id, pos+1) posting self-join.
    Query("q61_repetition", ((s, dir) =>
      CorpusOps.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")),
      Some(s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest($POS_BIGRAM_SQL) AS bg
         |  FROM toks),
         |perbg AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY doc_id, bg),
         |perdoc AS (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         |    count(*) AS n_distinct_bigrams, max(n) AS top_bigram_n
         |  FROM perbg GROUP BY doc_id)
         |SELECT t.doc_id AS id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  COALESCE(p.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(p.n_distinct_bigrams, 0) AS n_distinct_bigrams,
         |  COALESCE(p.top_bigram_n, 0) AS top_bigram_n,
         |  CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
         |       ELSE CAST(p.n_bigrams - p.n_distinct_bigrams AS DOUBLE)
         |            / CAST(p.n_bigrams AS DOUBLE) END AS dup_bigram_frac,
         |  CASE WHEN len(t.tk) = 0 THEN 0.0
         |       ELSE CAST(COALESCE(p.top_bigram_n, 0) * 2 AS DOUBLE)
         |            / CAST(len(t.tk) AS DOUBLE) END AS top_bigram_frac
         |FROM toks t LEFT JOIN perdoc p ON t.doc_id = p.doc_id""".stripMargin)),

    // Sequential concat-and-cut packing into 2048-token budgets within
    // (lang, source) blocks — the pretraining data layout; the only
    // ordering is the per-block running sum.
    Query("q62_pack_sequences", ((s, dir) =>
      CorpusOps.packSequences(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), budget = 2048L)),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
         |base AS (
         |  SELECT lang, source, doc_id, CAST(len(tk) AS BIGINT) AS n_tokens
         |  FROM toks),
         |off AS (
         |  SELECT lang, source, doc_id, n_tokens,
         |    COALESCE(CAST(sum(n_tokens) OVER (
         |      PARTITION BY lang, source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |      AS start_offset
         |  FROM base)
         |SELECT lang, source, doc_id, n_tokens, start_offset,
         |  start_offset // 2048 AS bin
         |FROM off""".stripMargin)),

    // Sparse TF-IDF cosine pairs (CorpusOps.tfidfCosinePairs) — the
    // weighted-vector pairwise-similarity member: integer-quantized
    // idf (N·10⁶ DIV df), DECIMAL(38,0) dots and norms, df-capped
    // 3-gram-shingle postings (the unigram space on this corpus is 31
    // dense terms — Σdf² quadratic; 3-grams are the sparse vocabulary
    // where the cap actually bites: measured 2.8M join rows at sf0.1
    // vs 480M for unigrams). minShared=3 prunes the pair aggregate
    // before the norm joins. The HASHED surface is integer/decimal-only
    // — (id_a, id_b, n_shared, dot, cos_key_nano) — AND so is the
    // MEMBERSHIP gate: `cos >= 0.5` respelled as the staged-floor
    // integer `cos_key_nano >= 0.25e9` (see CorpusOps.cosKeyNano),
    // because a float gate decides membership on the HUGEINT→DOUBLE
    // cast whose rounding drifts across driver DuckDB versions (the r8
    // hash-miss class: a pair within one ulp of 0.5 joins the output in
    // one engine and not the other). cos itself stays on the operator's
    // API and is value-pinned in CorpusOpsSpec.
    // ... and the decimal dot itself ships as two BIGINT limbs
    // (hi = DIV 10¹², lo = MOD 10¹²) for the same reason as q149's
    // inertia: an int128-typed hashed column (DECIMAL(38,0)/HUGEINT)
    // is rendered differently from int64 by the driver's comparator
    // (float64 past 2^53 on the DuckDB pandas path, repr-divergent
    // below it), while int64 limbs < 10¹² are conversion-proof in any
    // engine. Total for dot < 10²⁴ (hi < 10¹² < 2^53); dot ≥ 0 always
    // (tf-idf weights are positive), so DIV/MOD agree across engines.
    Query("q158_tfidf_cosine_pairs", ((s, dir) =>
      CorpusOps.tfidfCosinePairsFrom(tfidfShared(s, dir))
        .where(col("cos_key_nano") >= 250000000L)
        .select(col("id_a"), col("id_b"), col("n_shared"),
          expr("CAST(dot DIV 1000000000000 AS BIGINT)").as("dot_hi"),
          expr("CAST(dot % 1000000000000 AS BIGINT)").as("dot_lo"),
          col("cos_key_nano"))),
      // Mirrors tfidfCosinePairs: BIGINT-floor q_idf, HUGEINT dots/norms
      // internally, and the staged-floor integer membership gate —
      // floor(floor(1e9·dot/lo)·dot/hi) >= 0.25e9 with lo/hi = min/max
      // norm — identical integer floors in both engines, no int128→double
      // cast anywhere (the r8 drift class). The staging never forms dot²
      // or nrm·nrm (both overflow int128 at sf0.1); largest intermediate
      // is dot·1e9. The HASHED dot ships as two BIGINT limbs (the r9
      // resolution: int128-TYPED surface columns — HUGEINT here,
      // DECIMAL(38,0) on the Spark side — are rendered engine-differently
      // by the driver's comparator; int64 limbs < 10¹² cannot be).
      Some(TFIDF3_CTES +
      """keyed AS (
        |  SELECT id_a, id_b, n_shared, dot,
        |    (((dot * 1000000000) // least(na.nrm, nb.nrm)) * dot)
        |      // greatest(na.nrm, nb.nrm) AS cos_key_nano
        |  FROM p
        |  JOIN nrm na ON p.id_a = na.id
        |  JOIN nrm nb ON p.id_b = nb.id)
        |SELECT id_a, id_b, n_shared,
        |  CAST(dot // 1000000000000 AS BIGINT) AS dot_hi,
        |  CAST(dot % 1000000000000 AS BIGINT) AS dot_lo,
        |  CAST(cos_key_nano AS BIGINT) AS cos_key_nano
        |FROM keyed
        |WHERE cos_key_nano >= 250000000
        |""".stripMargin)),

    // DIAGNOSTIC ROWS q158a–c: bisection readouts of q158, not product
    // queries; they stay registered so the oracle keeps checking them.
    // r10 DIAGNOSTICS (VERDICT r9 item 1) — q158's staged pipeline read
    // out at three intermediate points on pure-int64 surfaces: eligible-
    // vocabulary aggregate, per-doc norms (10¹² limbs), per-pair dots
    // pre-gate. The first red row in CORRECTNESS_r10 names the first
    // diverging stage. All four consumers share ONE tfidfShared staged
    // build per (session, dir) — the weighted-postings checkpoint is
    // the materialized artifact, charged to the pass's first consumer.
    Query("q158a_tfidf_elig", ((s, dir) =>
      tfidfShared(s, dir)
        .elig.agg(count(lit(1)).as("n_terms"),
          min(col("q_idf")).as("min_q_idf"),
          max(col("q_idf")).as("max_q_idf"),
          // decimal sum + limbs: a plain long sum would WRAP silently at
          // corpus scale (non-ANSI) while the oracle's HUGEINT sum stays
          // exact — the diagnostic itself must never be the divergence
          sum(col("q_idf").cast("decimal(38,0)")).as("sq"))
        .select(col("n_terms"), col("min_q_idf"), col("max_q_idf"),
          expr("CAST(sq DIV 1000000000000 AS BIGINT)").as("sum_q_idf_hi"),
          expr("CAST(sq % 1000000000000 AS BIGINT)").as("sum_q_idf_lo"))),
      // r10 DIAGNOSTICS for the q158 driver-hash divergence (VERDICT r9
      // item 1): the same staged CTEs, read out at three intermediate
      // points on pure-BIGINT surfaces. Whichever is the FIRST red row in
      // CORRECTNESS_r10 names the first diverging stage; all green while
      // q158 stays red implicates the final keyed/gate stage (or the
      // comparator itself).
      Some(TFIDF3_CTES +
      """sel AS (SELECT 1 AS one)
        |SELECT count(*) AS n_terms,
        |  CAST(min(q_idf) AS BIGINT) AS min_q_idf,
        |  CAST(max(q_idf) AS BIGINT) AS max_q_idf,
        |  CAST(sum(q_idf) // 1000000000000 AS BIGINT) AS sum_q_idf_hi,
        |  CAST(sum(q_idf) % 1000000000000 AS BIGINT) AS sum_q_idf_lo
        |FROM elig""".stripMargin)),
    Query("q158b_tfidf_norms", ((s, dir) =>
      tfidfShared(s, dir)
        .norms.select(col("id"), col("n_terms"),
          expr("CAST(nrm DIV 1000000000000 AS BIGINT)").as("nrm_hi"),
          expr("CAST(nrm % 1000000000000 AS BIGINT)").as("nrm_lo"))),
      Some(TFIDF3_CTES +
      """sel AS (SELECT 1 AS one)
        |SELECT id, n_terms,
        |  CAST(nrm // 1000000000000 AS BIGINT) AS nrm_hi,
        |  CAST(nrm % 1000000000000 AS BIGINT) AS nrm_lo
        |FROM nrm""".stripMargin)),
    Query("q158c_tfidf_pairs", ((s, dir) =>
      tfidfShared(s, dir)
        .pairs.select(col("id_a"), col("id_b"), col("n_shared"),
          expr("CAST(dot DIV 1000000000000 AS BIGINT)").as("dot_hi"),
          expr("CAST(dot % 1000000000000 AS BIGINT)").as("dot_lo"))),
      Some(TFIDF3_CTES +
      """sel AS (SELECT 1 AS one)
        |SELECT id_a, id_b, n_shared,
        |  CAST(dot // 1000000000000 AS BIGINT) AS dot_hi,
        |  CAST(dot % 1000000000000 AS BIGINT) AS dot_lo
        |FROM p""".stripMargin)),

    // Corpus health report — the capstone composition: the one-page
    // (metric, value) summary a data curator reads before a training
    // run, assembled from operators the engine already proves
    // one-by-one. Exact-dup mass from the q15 hash groups, near-dup
    // mass from the SHARED q51 cluster artifact (one CC build per
    // session feeds five queries and this), language spread, volume,
    // and the exact lower-median document length computed on the
    // value GRID (bounded cumulative window, the q163 discipline).
    // Every value is a BIGINT — nothing to drift; the oracle replays
    // each metric with its own family's established SQL.
    Query("q200_corpus_report", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      def row(name: String, v: Column) =
        d.agg(v.cast("long").as("value")).select(lit(name).as("metric"),
          col("value"))
      val dupGroups = d.groupBy(sha2(col("text"), 256).as("h"))
        .agg(count(lit(1)).as("n"))
      val exactDups = dupGroups
        .agg(coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
          .cast("long").as("value"))
        .select(lit("n_exact_dup_docs").as("metric"), col("value"))
      val nearDups = docClusters(s, dir)
        .agg(count(lit(1)).cast("long").as("value"))
        .select(lit("n_neardup_clustered").as("metric"), col("value"))
      val grid = d.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val medianChars = grid
        .withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("nn", sum(col("cnt")).over())
        .where(col("cum") >= expr("(nn + 1) DIV 2"))
        .agg(min(col("n_chars")).cast("long").as("value"))
        .select(lit("median_chars").as("metric"), col("value"))
      row("n_docs", count(lit(1)))
        .unionByName(row("n_distinct_texts",
          countDistinct(sha2(col("text"), 256))))
        .unionByName(exactDups)
        .unionByName(nearDups)
        .unionByName(row("n_langs", countDistinct(col("lang"))))
        .unionByName(row("total_chars", sum(col("n_chars"))))
        .unionByName(medianChars)
    }),
      // Mirrors q200: each metric in its family's established spelling;
      // near-dup mass rides the q51 recursive CTE.
      Some(s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |),
         |grid AS (
         |  SELECT n_chars, count(*) AS cnt FROM documents GROUP BY n_chars),
         |cum AS (
         |  SELECT n_chars,
         |    sum(cnt) OVER (ORDER BY n_chars ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM grid),
         |nn AS (SELECT count(*) AS nn FROM documents)
         |SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value
         |FROM documents
         |UNION ALL
         |SELECT 'n_distinct_texts',
         |  CAST(count(DISTINCT sha256(text)) AS BIGINT) FROM documents
         |UNION ALL
         |SELECT 'n_exact_dup_docs', CAST(COALESCE(sum(n), 0) AS BIGINT)
         |FROM (SELECT count(*) AS n FROM documents GROUP BY sha256(text))
         |WHERE n > 1
         |UNION ALL
         |SELECT 'n_neardup_clustered', CAST(count(*) AS BIGINT)
         |FROM clusters
         |UNION ALL
         |SELECT 'n_langs', CAST(count(DISTINCT lang) AS BIGINT)
         |FROM documents
         |UNION ALL
         |SELECT 'total_chars', CAST(sum(n_chars) AS BIGINT) FROM documents
         |UNION ALL
         |SELECT 'median_chars', CAST(min(n_chars) AS BIGINT)
         |FROM cum CROSS JOIN nn WHERE cum >= (nn + 1) // 2""".stripMargin)),

    // The curation FUNNEL end-to-end — the whole training-data pipeline
    // as one query, each stage an operator the engine proves elsewhere,
    // chained: raw → exact dedup (q15's min-id representatives) →
    // near-dup dedup (q51's shared cluster artifact; keep the
    // min-label representative of each cluster) → decontamination
    // (q48's trigram-overlap rule against the held-out eval slice) →
    // quality gate (length ≥ 100) → deterministic stratified sample
    // (q45's per-language content-hash rates). The report is the
    // (stage, surviving docs, surviving chars) funnel a curator signs
    // off on — and the composition is the "a reference user could run
    // their whole pipeline here" claim, verified stage by stage.
    Query("q210_curation_funnel", ((s, dir) => {
      val docs = t(s, dir, "documents")
      val s1 = docs
      // exact-dedup representatives
      val keep = Dedup.exactDupGroups(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val s2 = docs.join(keep, "doc_id")
      // near-dup representatives: not clustered, or the cluster label
      val cl = docClusters(s, dir)
      val s3 = s2.join(cl, s2("doc_id") === cl("id"), "left")
        .where(col("cluster_id").isNull ||
          col("cluster_id") === col("doc_id"))
        .select(docs.columns.toIndexedSeq.map(col): _*)
      // decontaminate vs the doc_id%10==0 holdout (q48 rule); the
      // holdout rows themselves leave the training pool
      val s4 = CorpusOps.decontaminate(
        s3.where(col("doc_id") % 10L =!= 0L),
        docs.where(col("doc_id") % 10L === 0L),
        "doc_id", "text", n = 3)
      val s5 = s4.where(col("n_chars") >= 100L)
      val rate = when(col("lang") === "en", lit(700L))
        .when(col("lang") === "es", lit(400L)).otherwise(lit(150L))
      val s6 = s5.where(TextAnalysis.charPolyHash(col("text")) % 1000L < rate)
      def stage(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_chars")), lit(0L)).as("n_chars"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_chars"))
      stage("1_raw", s1)
        .unionByName(stage("2_exact_dedup", s2))
        .unionByName(stage("3_neardup_dedup", s3))
        .unionByName(stage("4_decontaminated", s4))
        .unionByName(stage("5_quality", s5))
        .unionByName(stage("6_sampled", s6))
    }),
      // Mirrors q210: each stage in its family's established SQL,
      // chained; the near-dup stage rides the q51 recursive CTE.
      Some(s"""WITH clusters AS (
         |$DUP_CLUSTERS_SQL
         |),
         |keep AS (
         |  SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY sha256(text)),
         |s2 AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
         |s3 AS (
         |  SELECT s2.* FROM s2 LEFT JOIN clusters c ON s2.doc_id = c.id
         |  WHERE c.cluster_id IS NULL OR c.cluster_id = s2.doc_id),
         |tr AS (
         |  SELECT doc_id, text, lang, source, n_chars, $TOKENS_SQL AS tk
         |  FROM s3 WHERE doc_id % 10 <> 0),
         |trsh AS (
         |  SELECT doc_id, $TRIGRAM_SQL AS sg
         |  FROM tr),
         |evt AS (
         |  SELECT doc_id, $TOKENS_SQL AS tk FROM documents
         |  WHERE doc_id % 10 = 0),
         |ev AS (
         |  SELECT DISTINCT unnest($TRIGRAM_SQL) AS shingle
         |  FROM evt),
         |bad AS (
         |  SELECT DISTINCT p.doc_id
         |  FROM (SELECT doc_id, unnest(sg) AS shingle FROM trsh) p
         |  JOIN ev ON p.shingle = ev.shingle),
         |s4 AS (
         |  SELECT doc_id, text, lang, source, n_chars FROM tr
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
         |s5 AS (SELECT * FROM s4 WHERE n_chars >= 100),
         |s6 AS (
         |  SELECT * FROM s5
         |  WHERE ${charPolySql("text")} % 1000 <
         |    CASE WHEN lang = 'en' THEN 700
         |         WHEN lang = 'es' THEN 400 ELSE 150 END)
         |SELECT '1_raw' AS stage, count(*) AS n_docs,
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) AS n_chars
         |FROM documents
         |UNION ALL SELECT '2_exact_dedup', count(*),
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM s2
         |UNION ALL SELECT '3_neardup_dedup', count(*),
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM s3
         |UNION ALL SELECT '4_decontaminated', count(*),
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM s4
         |UNION ALL SELECT '5_quality', count(*),
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM s5
         |UNION ALL SELECT '6_sampled', count(*),
         |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM s6""".stripMargin)),

    // CCNet/fastText-style target-affinity filter: hashed bag-of-tokens
    // linear classifier with integer ppm weights (target = lang 'en'),
    // 512 buckets, Laplace-smoothed, above-corpus-mean selection — the
    // quality/domain scoring stage of a curation pipeline, fully
    // hash-checked.
    Query("q214_affinity_filter", ((s, dir) =>
      text.CorpusOps.affinityScore(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en", buckets = 512)),
      // Affinity filter: poly-hashed token buckets (512), smoothed integer
      // ppm weights t/r per bucket, mean over document tokens, selection
      // by cross-multiplied above-corpus-mean — all integer, zero-token
      // documents surface with zeros.
      Some(s"""WITH toks AS (
         |  SELECT doc_id, (lang = 'en') AS t, unnest($TOKENS_SQL) AS tok
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, t, ${charPolySql("tok")} % 512 AS f FROM toks),
         |w AS (
         |  SELECT f,
         |    ((sum(CASE WHEN t THEN 1 ELSE 0 END) + 1) * 1000000)
         |      // (count(*) + 2) AS w
         |  FROM feats GROUP BY f),
         |scored AS (
         |  SELECT fe.doc_id, count(*) AS n_tokens, sum(w.w) AS sw
         |  FROM feats fe JOIN w USING (f) GROUP BY fe.doc_id),
         |perdoc AS (
         |  SELECT d.doc_id,
         |    CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
         |    CAST(COALESCE(s.sw // s.n_tokens, 0) AS BIGINT) AS affinity_ppm
         |  FROM documents d LEFT JOIN scored s USING (doc_id)),
         |m AS (SELECT sum(affinity_ppm) AS tot, count(*) AS n FROM perdoc)
         |SELECT p.doc_id, p.n_tokens, p.affinity_ppm,
         |  CAST(CASE WHEN CAST(p.affinity_ppm AS HUGEINT) * m.n >= m.tot
         |       THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM perdoc p CROSS JOIN m""".stripMargin)),

    // Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1
    // rule family): token-count bounds, mean-token-length bounds,
    // minimum stop-word count, maximum most-frequent-token share —
    // every rule an integer cross-multiplication, per-rule flags plus
    // the conjunction, fully hash-checked.
    Query("q216_gopher_rules", ((s, dir) =>
      text.CorpusOps.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        stopwords = Seq("the", "a", "of"), minTokens = 30L,
        maxTokens = 1000L, minAvgLen = 3L, maxAvgLen = 6L, minStop = 1L,
        maxTopShareNum = 1L, maxTopShareDen = 8L)),
      // Gopher rule filter: one (doc, token) count aggregate feeds all
      // four integer cross-multiplied rules; zero-token docs surface via
      // the left join with zeroed features (the word-count rule rejects
      // them).
      Some(s"""WITH tok AS (
         |  SELECT doc_id, unnest($TOKENS_SQL) AS tok FROM documents),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
         |f AS (
         |  SELECT doc_id, sum(tf) AS n_tokens,
         |    sum(tf * length(tok)) AS sum_token_len,
         |    sum(CASE WHEN tok IN ('the', 'a', 'of') THEN tf ELSE 0 END)
         |      AS n_stop,
         |    max(tf) AS max_tf
         |  FROM tf GROUP BY doc_id),
         |r AS (
         |  SELECT d.doc_id,
         |    CAST(COALESCE(f.n_tokens, 0) AS BIGINT) AS n_tokens,
         |    CAST(COALESCE(f.sum_token_len, 0) AS BIGINT) AS sum_token_len,
         |    CAST(COALESCE(f.n_stop, 0) AS BIGINT) AS n_stop,
         |    CAST(COALESCE(f.max_tf, 0) AS BIGINT) AS max_tf
         |  FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id)
         |SELECT doc_id, n_tokens, sum_token_len, n_stop, max_tf,
         |  CAST(CASE WHEN n_tokens >= 30 AND n_tokens <= 1000
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_words,
         |  CAST(CASE WHEN sum_token_len >= 3 * n_tokens
         |    AND sum_token_len <= 6 * n_tokens AND n_tokens > 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_avg_len,
         |  CAST(CASE WHEN n_stop >= 1 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
         |  CAST(CASE WHEN max_tf * 8 <= n_tokens * 1
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_repetition,
         |  CAST(CASE WHEN (n_tokens >= 30 AND n_tokens <= 1000)
         |    AND (sum_token_len >= 3 * n_tokens
         |      AND sum_token_len <= 6 * n_tokens AND n_tokens > 0)
         |    AND n_stop >= 1 AND max_tf * 8 <= n_tokens * 1
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM r""".stripMargin)),

    // DSIR-style importance weights + proportional resampling (Xie et
    // al. 2023): smoothed likelihood ratio of poly-hashed bigram
    // features between the target slice (lang 'zh') and the raw corpus,
    // DECIMAL(38,0) cross-multiplied to integer ppm, deterministic
    // content-hash coin for the keep decision.
    Query("q217_dsir_weight", ((s, dir) =>
      text.CorpusOps.dsirWeight(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "zh", buckets = 256)),
      // DSIR weights: poly-hashed bigram buckets (256), smoothed
      // likelihood ratio cross-multiplied in HUGEINT (mirrors the Spark
      // side's DECIMAL(38,0)) then floored to BIGINT ppm; the keep coin
      // is the content-hash threshold, never a float probability.
      Some(s"""WITH toks AS (
         |  SELECT doc_id, lang, $TOKENS_SQL AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id, (lang = 'zh') AS t, unnest($BIGRAM_SQL) AS s
         |  FROM toks),
         |feats AS (
         |  SELECT doc_id, t, ${charPolySql("s")} % 256 AS f FROM sh),
         |pb AS (
         |  SELECT f, count(*) AS r_f,
         |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS t_f
         |  FROM feats GROUP BY f),
         |tot AS (SELECT sum(r_f) AS r_tot, sum(t_f) AS t_tot FROM pb),
         |w AS (
         |  SELECT f,
         |    CAST((CAST(t_f + 1 AS HUGEINT) * (r_tot + 256) * 1000000)
         |      // (CAST(r_f + 1 AS HUGEINT) * (t_tot + 256)) AS BIGINT) AS w
         |  FROM pb CROSS JOIN tot),
         |sc AS (
         |  SELECT fe.doc_id, count(*) AS n_shingles, sum(w.w) AS sw
         |  FROM feats fe JOIN w USING (f) GROUP BY fe.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(s.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(s.sw // s.n_shingles, 0) AS BIGINT) AS weight_ppm,
         |  CAST(CASE WHEN
         |      ${charPolySql("('dsir:' || CAST(d.doc_id AS VARCHAR))")}
         |        * 48271 % 1000000007 % 2000000
         |        < COALESCE(s.sw // s.n_shingles, 0)
         |    THEN 1 ELSE 0 END AS BIGINT) AS sampled
         |FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id""".stripMargin)),

    // Per-source trigram diversity (distinct-n / Self-BLEU family):
    // occurrences vs corpus-wide distinct trigrams as integer ppm —
    // the template/boilerplate detector; all-int64 surface.
    Query("q225_ngram_diversity", ((s, dir) =>
      text.CorpusOps.ngramDiversity(t(s, dir, "documents"), "doc_id",
        "text", "source", n = 3)),
      // Trigram diversity per source: positional (non-distinct) trigrams,
      // the q158 staging's term spelling; ppm floor division on
      // non-negative BIGINTs mirrors Spark's `div`.
      Some(s"""WITH toks AS (SELECT doc_id, source, $TOKENS_SQL AS tk
         |             FROM documents),
         |tg AS (
         |  SELECT source, unnest($POS_TRIGRAM_SQL) AS term
         |  FROM toks),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_ngrams,
         |    CAST(count(DISTINCT term) AS BIGINT) AS n_distinct
         |  FROM tg GROUP BY source)
         |SELECT d.source,
         |  COALESCE(a.n_ngrams, 0) AS n_ngrams,
         |  COALESCE(a.n_distinct, 0) AS n_distinct,
         |  CASE WHEN COALESCE(a.n_ngrams, 0) > 0
         |       THEN (a.n_distinct * 1000000) // a.n_ngrams
         |       ELSE 0 END AS diversity_ppm
         |FROM (SELECT DISTINCT source FROM documents) d
         |LEFT JOIN agg a ON d.source = a.source""".stripMargin)),

    // Data-constrained mixing planner (Muennighoff et al. 2023): equal
    // per-source token targets under a repeat cap R*=4 — epoch counts,
    // planned tokens, shortfall; pure integer arithmetic end-to-end.
    Query("q226_repeat_plan", ((s, dir) =>
      text.CorpusOps.repeatPlan(t(s, dir, "documents"), "text", "source",
        budgetTokens = 2000000L, maxEpochs = 4L)),
      // Repeat planner: equal-share targets, cap R*=4, positive-integer
      // ceiling identity (a+b-1)//b — pure BIGINT arithmetic throughout.
      Some(s"""WITH inv AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len($TOKENS_SQL)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |t AS (
         |  SELECT *, CAST(2000000 // (SELECT count(*) FROM inv) AS BIGINT)
         |    AS target_tokens FROM inv),
         |p AS (
         |  SELECT *, least(target_tokens, n_tokens * 4) AS planned_tokens
         |  FROM t)
         |SELECT source, n_docs, n_tokens, target_tokens, planned_tokens,
         |  CASE WHEN n_tokens > 0
         |       THEN (planned_tokens + n_tokens - 1) // n_tokens
         |       ELSE 0 END AS n_epochs,
         |  target_tokens - planned_tokens AS shortfall
         |FROM p""".stripMargin)),

    // t-closeness audit: per-source language distribution vs the global
    // one, categorical EMD (= total variation) cross-multiplied in
    // DECIMAL(38,0), integer-ppm surface, verdict at t = 1/5 — the
    // distributional member of the privacy family (q148/q191).
    Query("q235_t_closeness", ((s, dir) =>
      text.CorpusOps.tCloseness(t(s, dir, "documents"), "source", "lang",
        tNum = 1L, tDen = 5L)),
      // t-closeness: the same cross-multiplied HUGEINT terms over the
      // full class x value grid, floor-divided to ppm — pure integers.
      Some("""WITH counts AS (
        |  SELECT source AS cls, lang AS v, count(*) AS n_cv
        |  FROM documents GROUP BY source, lang),
        |per_class AS (
        |  SELECT cls, CAST(sum(n_cv) AS BIGINT) AS n_c
        |  FROM counts GROUP BY cls),
        |per_val AS (
        |  SELECT v, CAST(sum(n_cv) AS BIGINT) AS n_v
        |  FROM counts GROUP BY v),
        |tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS N FROM per_val),
        |grid AS (
        |  SELECT pc.cls, pc.n_c, t.N,
        |    abs(CAST(COALESCE(c.n_cv, 0) AS HUGEINT) * t.N
        |        - CAST(pv.n_v AS HUGEINT) * pc.n_c) AS term
        |  FROM per_class pc CROSS JOIN per_val pv
        |  LEFT JOIN counts c ON pc.cls = c.cls AND pv.v = c.v
        |  CROSS JOIN tot t),
        |agg AS (
        |  SELECT cls, any_value(n_c) AS n_rows, any_value(N) AS N2,
        |    sum(term) AS num
        |  FROM grid GROUP BY cls)
        |SELECT cls AS source, n_rows,
        |  CAST((num * 1000000) //
        |    (CAST(n_rows AS HUGEINT) * N2 * 2) AS BIGINT) AS tv_ppm,
        |  CAST(CASE WHEN num * 5 >
        |    CAST(n_rows AS HUGEINT) * N2 * 2 * 1
        |    THEN 1 ELSE 0 END AS BIGINT) AS violates
        |FROM agg""".stripMargin)),

    // Balanced shard planner: token-mass-even output sharding via the
    // two-pass size-desc rank and a snake round-robin deal — the
    // write-side step of a corpus materialization; all-int64 surface.
    Query("q234_shard_plan", ((s, dir) =>
      text.CorpusOps.shardPlan(t(s, dir, "documents"), "doc_id", "text",
        nShards = 8)),
      // Shard plan: the window spelling of the same size-desc rank and
      // the identical snake-deal CASE arithmetic — pure integers.
      Some(s"""WITH sz AS (
         |  SELECT doc_id, CAST(len($TOKENS_SQL) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_tokens,
         |    row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC)
         |      AS rank
         |  FROM sz)
         |SELECT doc_id, n_tokens, CAST(rank AS BIGINT) AS rank,
         |  CASE WHEN (rank - 1) % 16 < 8 THEN (rank - 1) % 16
         |       ELSE 16 - 1 - ((rank - 1) % 16) END AS shard
         |FROM r""".stripMargin)),

    // Duplicate-span SCRUB: the q137 detector turned into the transform
    // a user materializes — tokens covered by any cross-document dup
    // trigram removed, cleaned text + removal accounting; per-DOCUMENT
    // windowed-max coverage, string reassembly with exact token joins.
    Query("q233_dedup_scrub", ((s, dir) =>
      text.CorpusOps.dedupScrub(t(s, dir, "documents"), "doc_id",
        "text", n = 3)),
      // Dedup scrub: the q137 shingle spelling, dup starts, a dense
      // per-token windowed max (ROWS n-1 PRECEDING ≡ positions — the
      // token series is dense), ordered string_agg reassembly of the
      // uncovered tokens.
      Some(POS_TRI_PS_CTES +
      s"""d AS (
         |  SELECT shingle FROM ps GROUP BY shingle
         |  HAVING count(DISTINCT doc_id) >= 2),
         |st AS (
         |  SELECT ps.doc_id, ps.pos, 1 AS flag
         |  FROM ps JOIN d USING (shingle)),
         |tp AS (
         |  SELECT doc_id, i - 1 AS pos, tk[i] AS tok
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
         |        FROM toks)),
         |cov AS (
         |  SELECT tp.doc_id, tp.pos, tp.tok,
         |    max(COALESCE(st.flag, 0)) OVER (
         |      PARTITION BY tp.doc_id ORDER BY tp.pos
         |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
         |  FROM tp LEFT JOIN st ON tp.doc_id = st.doc_id
         |    AND tp.pos = st.pos),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(covered) AS BIGINT) AS n_removed,
         |    string_agg(CASE WHEN covered = 0 THEN tok END, ' '
         |      ORDER BY pos) AS clean_text
         |  FROM cov GROUP BY doc_id)
         |SELECT d2.doc_id,
         |  COALESCE(a.n_tokens, 0) AS n_tokens,
         |  COALESCE(a.n_removed, 0) AS n_removed,
         |  COALESCE(a.clean_text, '') AS clean_text
         |FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id""".stripMargin)),

    // Char-grain duplicate spans — q137's detector at the grain Lee et
    // al. 2021 actually deduplicates (character substrings, k=12
    // codepoints), windows hashed by the O(n) rolling kernel so the
    // posting explode ships int64s, not k-char strings. max_run + 11
    // lower-bounds the longest cross-document duplicated substring.
    // Rides the shared char-posting artifact (one build, two consumers
    // with q243 — the truthPairs discipline).
    Query("q237_char_dup_spans", ((s, dir) =>
      text.CorpusOps.charDupSpansFromPostings(charPostings12(s, dir),
        "doc_id")),
      // Char-grain dup spans: the q137 shape over 12-codepoint windows —
      // grams via 1-based substr (codepoint semantics both engines), the
      // SAME poly hash as the Spark kernel (the q197 winnowing mirror
      // discipline: the oracle spells the per-substring derivation, the
      // hash match proves the rolling kernel), then dup set / islands /
      // share verbatim from q137.
      Some(CHAR12_CTES +
      s"""d AS (
         |  SELECT h AS shingle FROM ch GROUP BY h
         |  HAVING count(DISTINCT doc_id) >= 2),
         |fl AS (
         |  SELECT ch.doc_id, ch.pos, d.shingle IS NOT NULL AS dup
         |  FROM ch LEFT JOIN d ON ch.h = d.shingle),
         |runs AS (
         |  SELECT doc_id,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM fl WHERE dup),
         |rl AS (
         |  SELECT doc_id, max(cnt) AS max_run FROM (
         |    SELECT doc_id, grp, count(*) AS cnt FROM runs
         |    GROUP BY doc_id, grp) GROUP BY doc_id),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_shingles,
         |    count(*) FILTER (dup) AS n_dup
         |  FROM fl GROUP BY doc_id)
         |SELECT a.doc_id, a.n_shingles, a.n_dup,
         |  CAST(a.n_dup AS DOUBLE) / CAST(a.n_shingles AS DOUBLE) AS dup_share,
         |  CAST(COALESCE(r.max_run, 0) AS BIGINT) AS max_run
         |FROM agg a LEFT JOIN rl r USING (doc_id)""".stripMargin)),

    // Char-grain contamination score — q132's graded decontamination
    // readout at the character grain published overlap policies
    // threshold (12-codepoint windows here), over the SAME shared
    // char-posting artifact as q237; same train/eval split as q48/q132.
    Query("q243_char_contamination", ((s, dir) =>
      text.CorpusOps.charContamination(t(s, dir, "documents"),
        charPostings12(s, dir), "doc_id",
        trainPred = col("doc_id") % 10 =!= 0,
        evalPred = col("doc_id") % 10 === 0)),
      // Char-grain contamination: distinct per-train-doc window hashes vs
      // the eval slice's distinct hash set, share with NULL-on-zero —
      // the q132 readout over the shared char CTEs.
      Some(CHAR12_CTES +
      """tr AS (SELECT DISTINCT doc_id, h FROM ch WHERE doc_id % 10 <> 0),
        |evh AS (SELECT DISTINCT h FROM ch WHERE doc_id % 10 = 0),
        |tot AS (
        |  SELECT d.doc_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_windows
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
        |  LEFT JOIN (SELECT doc_id, count(*) AS n FROM tr
        |             GROUP BY doc_id) c USING (doc_id)),
        |hits AS (
        |  SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM tr JOIN evh USING (h) GROUP BY tr.doc_id)
        |SELECT t.doc_id, t.n_windows, COALESCE(hi.n_hits, 0) AS n_hits,
        |  CASE WHEN t.n_windows > 0
        |       THEN CAST(COALESCE(hi.n_hits, 0) AS DOUBLE)
        |              / CAST(t.n_windows AS DOUBLE)
        |       ELSE NULL END AS contamination
        |FROM tot t LEFT JOIN hits hi ON t.doc_id = hi.doc_id""".stripMargin)),

    // Char-grain duplicate-span SCRUB — q233's removing transform at
    // q237's 12-codepoint grain (Lee et al. 2021 end-to-end: detect AND
    // cut character-wise), over the SAME shared char-posting artifact;
    // duplicated windows merge into covered islands per document and
    // the cleaned text is one per-row fold over the island list — no
    // per-codepoint explode ever ships (that brute force is the
    // oracle's spelling).
    Query("q246_char_dedup_scrub", ((s, dir) =>
      text.CorpusOps.charDedupScrub(t(s, dir, "documents"),
        charPostings12(s, dir), "doc_id", "text", k = 12)),
      // Char-grain scrub: dup windows over the shared char CTEs, then the
      // BRUTE-FORCE per-codepoint spelling of coverage — a dense char
      // explode, the q233 windowed max at ROWS 11 PRECEDING (positions ≡
      // rows on the dense series), ordered ''-joined string_agg of the
      // uncovered codepoints. The Spark side cuts islands with substr
      // folds instead; the hash match proves the two reassemblies equal.
      Some(CHAR12_CTES +
      """d AS (
        |  SELECT h FROM ch GROUP BY h
        |  HAVING count(DISTINCT doc_id) >= 2),
        |st AS (
        |  SELECT ch.doc_id, ch.pos, 1 AS flag FROM ch JOIN d USING (h)),
        |cp AS (
        |  SELECT doc_id, i - 1 AS pos, substr(text, i, 1) AS c
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |        FROM documents)),
        |cov AS (
        |  SELECT cp.doc_id, cp.pos, cp.c,
        |    max(COALESCE(st.flag, 0)) OVER (
        |      PARTITION BY cp.doc_id ORDER BY cp.pos
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS covered
        |  FROM cp LEFT JOIN st ON cp.doc_id = st.doc_id
        |    AND cp.pos = st.pos),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chars,
        |    CAST(sum(covered) AS BIGINT) AS n_removed,
        |    string_agg(CASE WHEN covered = 0 THEN c END, ''
        |      ORDER BY pos) AS clean_text
        |  FROM cov GROUP BY doc_id)
        |SELECT d2.doc_id,
        |  COALESCE(a.n_chars, 0) AS n_chars,
        |  COALESCE(a.n_removed, 0) AS n_removed,
        |  COALESCE(a.clean_text, '') AS clean_text
        |FROM documents d2 LEFT JOIN agg a ON d2.doc_id = a.doc_id""".stripMargin)),
  )
}
