package graft
package registry

import graft.operators.Rank
import graft.text.{CorpusOps, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The text rows: per-document language, quality, token and n-gram
  * statistics, samplers over the corpus, sketches and the bigram-LM
  * fluency readouts. */
object TextQueries {

  import Tables.t
  import Shared._

  /** The q162 per-document bigram-LM fluency frame (doc_id, n_bigrams,
    * fluency), shared by q162 and q231's rank-bucketing readout — code
    * reuse, not a memoized artifact: the frame is two hash aggregates
    * and two key joins, cheap enough to re-plan per consumer. The
    * fluency double is the q162 oracle's op-for-op mirrored divide
    * chain, so its ORDER (q231's bucketing key) is engine-stable. */
  private def lmFluencyFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val grams = docs.select(col("doc_id"), posexplode(
        TextAnalysis.posNgrams(TextAnalysis.tokens(col("text")), 2)))
      .select(col("doc_id"), col("pos"), col("col").as("bigram"),
        substring_index(col("col"), " ", 1).as("prefix"))
    val bs = grams.groupBy("bigram").agg(count(lit(1)).as("n_ab"))
    val ps = grams.groupBy("prefix").agg(count(lit(1)).as("n_a"))
    val scored = grams.join(bs, "bigram").join(ps, "prefix")
      .select(col("doc_id"), col("pos"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("r"))
    val perDoc = scored.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("r"))))
        .as("rs"))
      .select(col("doc_id"), size(col("rs")).cast("long").as("n_bigrams"),
        (aggregate(col("rs"), lit(0.0),
          (acc, x) => acc + x.getField("r")) /
          size(col("rs")).cast("double")).as("fluency"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("fluency"))
  }

  /** Naive per-lang window top-k oracle, shared by q113 (bounded
    * two-window groupTopK) and q120 (mergeable top-k aggregate) — both
    * must produce exactly this shortlist. */
  private lazy val TOP_QUALITY_ORACLE: String =
    s"""WITH f AS (
       |  SELECT doc_id, lang, $TOKENS_SQL AS tk FROM documents),
       |g AS (
       |  SELECT doc_id, lang,
       |    CAST(len(tk) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
       |    CAST(len(list_filter(tk, t -> t IN ('the','a'))) AS BIGINT) AS n_stop
       |  FROM f),
       |q AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE
       |      0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 200.0)
       |      + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |      + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |    END AS quality_score
       |  FROM g),
       |r AS (
       |  SELECT doc_id, lang, quality_score,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY quality_score DESC, doc_id ASC) AS BIGINT) AS qrank
       |  FROM q)
       |SELECT doc_id, lang, quality_score, qrank FROM r WHERE qrank <= 5""".stripMargin

  /** Shared q138/q199 CMS oracle: both builds (relational explode-agg
    * and the native TypedImperativeAggregate) answer the same
    * estimates because they share the hash derivation — one oracle
    * pins the equivalence. */
  private lazy val CMS_ORACLE: String = {
    val (as, bs) = graft.expressions.SignatureKernels.polyCoeffs(4)
    val seedRows = (0 until 4).map(d =>
      s"($d, ${as(d)}::BIGINT, ${bs(d)}::BIGINT)").mkString(", ")
    s"""WITH tok AS (SELECT unnest($TOKENS_SQL) AS tok FROM documents),
       |tf AS (
       |  SELECT tok, count(*) AS freq, ${charPolySql("tok")} AS ph
       |  FROM tok GROUP BY tok),
       |sd AS (SELECT * FROM (VALUES $seedRows) s(d, a, b)),
       |bk AS (
       |  SELECT s.d, ((s.a * f.ph + s.b) % 1000000007) % 256 AS w,
       |    sum(f.freq) AS counter
       |  FROM tf f CROSS JOIN sd s GROUP BY 1, 2),
       |top AS (SELECT tok, freq, ph FROM tf
       |        ORDER BY freq DESC, tok LIMIT 20)
       |SELECT t.tok, t.freq,
       |  CAST(min(b.counter) AS BIGINT) AS cms_estimate,
       |  CAST(min(b.counter) - t.freq AS BIGINT) AS overestimate
       |FROM top t CROSS JOIN sd s
       |JOIN bk b ON b.d = s.d
       |  AND b.w = ((s.a * t.ph + s.b) % 1000000007) % 256
       |GROUP BY t.tok, t.freq""".stripMargin
  }

  // The q162 bigram-LM fluency staging, shared VERBATIM by q162 and the
  // q231 bucket readout so the two oracles can never drift. Ends with
  // `flu` (doc_id, n_bigrams, fluency).
  private lazy val LM_FLUENCY_CTES: String =
    s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    tk[i] || ' ' || tk[i+1] AS bigram, tk[i] AS prefix
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
       |        FROM toks)),
       |bs AS (SELECT bigram, count(*) AS n_ab FROM g GROUP BY bigram),
       |ps AS (SELECT prefix, count(*) AS n_a FROM g GROUP BY prefix),
       |scored AS (
       |  SELECT doc_id, pos,
       |    CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS r
       |  FROM g JOIN bs USING (bigram) JOIN ps USING (prefix)),
       |per_doc AS (
       |  SELECT doc_id, list(r ORDER BY pos) AS l
       |  FROM scored GROUP BY doc_id),
       |flu AS (
       |  SELECT d.doc_id,
       |    COALESCE(CAST(len(l) AS BIGINT), 0) AS n_bigrams,
       |    list_reduce(list_prepend(0.0, l), (a, b) -> a + b)
       |      / CAST(len(l) AS DOUBLE) AS fluency
       |  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id),
       |""".stripMargin

  val queries: Seq[Query] = Seq(
    // O4 in a columnar format: ORC write + read-back (schema preserved by
    // the format, unlike CSV) through the same aggregate as q31 — source
    // AND sink coverage for the second columnar format Spark ships.
    // Proportional-allocation sampling by the largest-remainder
    // (Hamilton) method: per-source quotas floor(n_g·k/N) plus one for
    // the groups with the largest integer remainders (n_g·k mod N, ties
    // to the lexicographically first source) — the EXACT-total-size
    // stratified sample (Σ quotas ≡ k) neither the threshold (q45/q68)
    // nor systematic (q100) samplers guarantee per group. Quota math
    // runs over the bounded per-group count table (window over #groups
    // rows); members are picked per group by deterministic content-hash
    // rank, so the whole draw is integer-exact and hash-checkable.
    Query("q108_proportional_sample", ((s, dir) => {
      // k = 77 keeps the largest-remainder branch ACTIVE on the equal-
      // count source distribution (k = 100 would make every remainder 0
      // and leave the tie-break dead code the oracle never exercises):
      // equal counts -> equal remainders -> the leftover goes to the
      // lexicographically first sources, testing the tie rule itself
      val k = 77L
      val d = t(s, dir, "documents")
      val counts = d.groupBy("source").agg(count(lit(1)).as("n_g"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy() // bounded: one row per source
      val wRem = org.apache.spark.sql.expressions.Window
        .orderBy(expr(s"(n_g * ${k}L) % total").desc, col("source").asc)
      val quotas = counts
        .withColumn("total", sum(col("n_g")).over(wAll))
        .withColumn("base", expr(s"n_g * ${k}L DIV total"))
        .withColumn("leftover",
          (lit(k) - sum(col("base")).over(wAll)))
        .withColumn("extra",
          when(row_number().over(wRem) <= col("leftover"), 1L).otherwise(0L))
        .select(col("source"), (col("base") + col("extra")).as("quota"))
      // Per-source pick ranks, scale-safely: a window partitioned by
      // `source` alone over the RAW corpus would put one source's entire
      // corpus slice in a single task. Since only ranks ≤ quota ≤ k
      // matter, Rank.groupTopK prunes per (source, input-partition)
      // first and exact-ranks the k·P survivors — both windows bounded.
      Rank.groupTopK(d,
          Seq("source"),
          Seq(TextAnalysis.charPolyHash(col("text")).asc, col("doc_id").asc),
          k = k.toInt, rankCol = "pick_rank")
        .join(broadcast(quotas), "source")
        .where(col("pick_rank") <= col("quota"))
        .select(col("doc_id"), col("source"), col("pick_rank"))
    }),
      Some(s"""WITH counts AS (
         |  SELECT source, count(*) AS n_g FROM documents GROUP BY source),
         |tq AS (
         |  SELECT source, n_g,
         |    (n_g * 77) // sum(n_g) OVER () AS base,
         |    (n_g * 77) % sum(n_g) OVER () AS rem
         |  FROM counts),
         |q AS (
         |  SELECT source, base +
         |    CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
         |      <= 77 - sum(base) OVER () THEN 1 ELSE 0 END AS quota
         |  FROM tq),
         |r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${charPolySql("text")} ASC, doc_id ASC) AS pick_rank
         |  FROM documents)
         |SELECT r.doc_id, r.source, r.pick_rank
         |FROM r JOIN q USING (source) WHERE r.pick_rank <= q.quota""".stripMargin)),

    // Deterministic train/val/test split — the dataset-partitioning
    // primitive every training pipeline runs last: membership from the
    // mirrorable polynomial hash of the DOCUMENT ID (id-hash, not
    // content-hash: a later text edit must not move a document between
    // splits and silently contaminate eval), 90/5/5 by permille
    // threshold. Pure per-row predicate — no shuffle, no RNG state;
    // the same document lands in the same split on every engine, run,
    // and partitioning.
    Query("q116_dataset_split", ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), splitAssignment.as("split"))
    }),
      Some(s"""SELECT doc_id, lang, $SPLIT_CASE_SQL AS split FROM documents""")),

    // The SAME shortlist as q113 through the third spelling of per-group
    // top-k: a typed MERGEABLE AGGREGATE (operators/TopKAggregate). One
    // hash-aggregate pass — the k-bounded buffers partial-combine
    // MAP-SIDE, so only #groups × k rows cross the shuffle (the naive
    // window moves every row; groupTopK moves k·P survivors). PlanSpec
    // asserts the partial ObjectHashAggregate below the exchange; the
    // q113 oracle proves value identity.
    Query("q120_topk_aggregate", ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityFeatures(col("text"), Seq("the", "a"))
            .getField("quality_score").as("quality_score"))
      val top = graft.operators.TopKAggregate.topK(5)(
        col("quality_score"), col("doc_id"))
      d.groupBy("lang").agg(top.as("tops"))
        .select(col("lang"), posexplode(col("tops")))
        .select(col("col.id").as("doc_id"), col("lang"),
          col("col.score").as("quality_score"),
          (col("pos") + 1).cast("long").as("qrank"))
    }),
      // q120 computes the identical shortlist through the mergeable
      // top-k AGGREGATE — same oracle, verbatim.
      Some(TOP_QUALITY_ORACLE)),

    // Token-rarity signal — the corpus-frequency quality score used to
    // weight sampling toward novel content: per document, the mean
    // document-frequency ratio of its DISTINCT tokens (low = rare
    // vocabulary). All integer until one mirrored double divide: df from
    // the distinct (doc, token) posting (map-side combined), sum-of-df
    // per doc via the token-keyed join, corpus size N as the 1-row
    // scalar attach (the q60 shape, declared in PlanSpec). Zero-token
    // documents surface with NULL ratio, never divide-by-zero.
    Query("q114_token_rarity", ((s, dir) => {
      val d = t(s, dir, "documents")
      val post = d.select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
      val dfreq = post.groupBy("tok").agg(count(lit(1)).as("df"))
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val per = post.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("df")).as("sum_df"))
      d.select(col("doc_id")).crossJoin(nDocs)
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tok"), lit(0L)).as("n_distinct_tokens"),
          coalesce(col("sum_df"), lit(0L)).as("sum_df"),
          when(col("n_tok").isNull, lit(null))
            .otherwise(col("sum_df").cast("double") /
              (col("n_tok") * col("n_docs")).cast("double"))
            .as("mean_df_ratio"))
    }),
      Some(s"""WITH post AS (
         |  SELECT doc_id, unnest(list_distinct($TOKENS_SQL)) AS tok
         |  FROM documents),
         |dfreq AS (SELECT tok, count(*) AS df FROM post GROUP BY tok),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |per AS (
         |  SELECT p.doc_id, count(*) AS n_tok,
         |    CAST(sum(df) AS BIGINT) AS sum_df
         |  FROM post p JOIN dfreq USING (tok) GROUP BY p.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(per.n_tok, 0) AS n_distinct_tokens,
         |  COALESCE(per.sum_df, 0) AS sum_df,
         |  CASE WHEN per.n_tok IS NULL THEN NULL
         |       ELSE CAST(per.sum_df AS DOUBLE)
         |            / CAST(per.n_tok * n.n_docs AS DOUBLE) END AS mean_df_ratio
         |FROM documents d CROSS JOIN n
         |LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin)),

    // Per-group top-k as a first-class operator (Rank.groupTopK): the
    // 5 highest-quality documents per language by the q22 quality score
    // — the curation shortlist shape ("best docs per slice"). The group
    // column is bounded-cardinality, exactly the shape where the naive
    // per-group window funnels a corpus slice through one task; the
    // operator's local-prune + exact-rank keeps every window partition
    // bounded while the oracle computes the naive window — the hash
    // match proves the pruning loses nothing.
    Query("q113_top_quality_per_lang", ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityFeatures(col("text"), Seq("the", "a"))
            .getField("quality_score").as("quality_score"))
      Rank.groupTopK(d, Seq("lang"),
        Seq(col("quality_score").desc, col("doc_id").asc),
        k = 5, rankCol = "qrank")
    }),
      // The oracle is the NAIVE per-lang window — groupTopK's local-prune
      // + exact-rank hashes equal only if the pruning loses nothing.
      Some(TOP_QUALITY_ORACLE)),

    // χ²-distinctive terms per language (text/CorpusOps.chi2Terms) —
    // the supervised keyword extractor: which terms over-index in each
    // class. 2×2 document-presence contingency in exact decimals, two
    // mirrored double divides, no logs; the top-k window runs over the
    // vocabulary-bounded aggregate, never the corpus.
    Query("q144_chi2_terms", ((s, dir) =>
      CorpusOps.chi2Terms(t(s, dir, "documents"), "doc_id", "lang",
        "text", topK = 5)),
      // Mirrors chi2Terms: exact integer contingency cells, two mirrored
      // double divides; the `diff > 0` keyword filter also proves no
      // denominator is zero (c+d = 0 or b+d = 0 forces diff = 0).
      Some(s"""WITH toks AS (SELECT doc_id, lang, $TOKENS_SQL AS tk FROM documents),
         |pres AS (
         |  SELECT DISTINCT lang AS class, doc_id AS id, unnest(tk) AS term
         |  FROM toks),
         |aa AS (SELECT class, term, count(*) AS a FROM pres
         |       GROUP BY class, term),
         |nt AS (SELECT term, CAST(sum(a) AS BIGINT) AS n_t FROM aa
         |       GROUP BY term),
         |nc AS (SELECT lang AS class, count(*) AS n_c FROM documents
         |       GROUP BY lang),
         |nn AS (SELECT count(*) AS n_docs FROM documents),
         |cells AS (
         |  SELECT class, term, a, n_t - a AS b, n_c - a AS c,
         |    n_docs - n_t - n_c + a AS d, n_docs
         |  FROM aa JOIN nt USING (term) JOIN nc USING (class) CROSS JOIN nn),
         |sc AS (
         |  SELECT class, term, a AS n_class_term,
         |    CAST(n_docs AS DOUBLE)
         |      * (CAST(a*d - b*c AS DOUBLE) / CAST((a+b)*(c+d) AS DOUBLE))
         |      * (CAST(a*d - b*c AS DOUBLE) / CAST((a+c)*(b+d) AS DOUBLE))
         |      AS chi2
         |  FROM cells WHERE a*d - b*c > 0),
         |r AS (
         |  SELECT class, term, n_class_term, chi2,
         |    row_number() OVER (PARTITION BY class
         |                       ORDER BY chi2 DESC, term ASC) AS rank
         |  FROM sc)
         |SELECT class, term, n_class_term, chi2, rank FROM r
         |WHERE rank <= 5""".stripMargin)),

    // Token-distribution concentration — the Herfindahl index
    // Σ(tf/n)² = Σtf²/n² per document: the unigram-DISTRIBUTION quality
    // signal (high HHI = few tokens dominate = template/boilerplate
    // text) complementing q61's bigram repetition and q114's corpus-df
    // rarity. Entropy would need the libm-divergent ln; HHI carries the
    // same concentration ordering with integer-exact Σtf² and ONE
    // double divide. Zero-token docs report NULL, never divide-by-zero.
    Query("q127_token_concentration", ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val agg = tf.groupBy("doc_id").agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * col("tf")).as("sum_tf2"))
      t(s, dir, "documents").select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          (col("sum_tf2").cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double")).as("hhi"))
    }),
      // NULL hhi for zero-token docs falls out of the LEFT JOIN on both
      // sides; sum_tf2/n² casts are exact below 2^53.
      Some(s"""WITH tok AS (
         |  SELECT doc_id, unnest($TOKENS_SQL) AS tok FROM documents),
         |tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
         |agg AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    count(*) AS n_distinct,
         |    CAST(sum(tf * tf) AS BIGINT) AS sum_tf2
         |  FROM tf GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(n_tokens, 0) AS n_tokens,
         |  COALESCE(n_distinct, 0) AS n_distinct,
         |  CAST(sum_tf2 AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE)
         |    AS hhi
         |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // Vocabulary coverage — the tokenizer-training readout: the top-V
    // corpus tokens by frequency with each rank's CUMULATIVE share of
    // all token occurrences ("how much of the corpus does a V-entry
    // vocab cover?"). Top-V is TakeOrdered (no global sort); the rank /
    // cumulative window runs over the ≤V surviving rows only (the q89
    // bounded-window discipline); counts stay exact BIGINT until the one
    // final share division.
    Query("q131_vocab_coverage", ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val total = tf.agg(sum(col("freq")).as("__total"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("freq").desc, col("tok"))
      tf.orderBy(col("freq").desc, col("tok")).limit(100)
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_freq", sum(col("freq")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
        .crossJoin(broadcast(total))
        .select(col("rank"), col("tok"), col("freq"), col("cum_freq"),
          (col("cum_freq").cast("double") /
            col("__total").cast("double")).as("cum_share"))
    }),
      Some(s"""WITH tok AS (
         |  SELECT unnest($TOKENS_SQL) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS freq FROM tok GROUP BY tok),
         |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM tf),
         |top AS (SELECT tok, freq FROM tf ORDER BY freq DESC, tok LIMIT 100),
         |c AS (
         |  SELECT row_number() OVER (ORDER BY freq DESC, tok) AS rank,
         |    tok, freq,
         |    CAST(sum(freq) OVER (ORDER BY freq DESC, tok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_freq
         |  FROM top)
         |SELECT rank, tok, freq, cum_freq,
         |  CAST(cum_freq AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
         |FROM c CROSS JOIN tot""".stripMargin)),

    // Term co-occurrence with lift (CorpusOps.termCooccurrence) — the
    // collocation/PMI-ranking signal (lift = n_ab·N/(n_a·n_b); PMI is
    // its ln, monotone, so ranking is identical without the libm-
    // divergent transcendental). Fanout discipline: df-cap kills the
    // stopword quadratic, per-doc rarest-20 caps each document at
    // C(20,2) pairs; exact DECIMAL products, ONE double divide. (790‰
    // keeps the df-cap ACTIVE on the synthetic 31-term vocabulary —
    // every term but one sits at 75-80% presence, so a conventional
    // 300‰ cap leaves one eligible term and an empty, untested result.)
    Query("q125_pmi_cooccur", ((s, dir) =>
      graft.text.CorpusOps.termCooccurrence(t(s, dir, "documents"),
        "doc_id", "text", minDf = 3L, maxDfPermille = 790L,
        perDocTerms = 20, minSupport = 3L)),
      // Mirrors termCooccurrence op-for-op: same df gates, same per-doc
      // rarity rank, DECIMAL(38,0) products, one double divide.
      Some(s"""WITH tok AS (
         |  SELECT doc_id, unnest($TOKENS_SQL) AS term FROM documents),
         |p AS (SELECT DISTINCT doc_id, term FROM tok),
         |dfreq AS (SELECT term, count(*) AS df FROM p GROUP BY term),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |elig AS (
         |  SELECT term, df FROM dfreq, nd
         |  WHERE df >= 3 AND df * 1000 <= 790 * n_docs),
         |ranked AS (
         |  SELECT p.doc_id, p.term,
         |    row_number() OVER (PARTITION BY p.doc_id
         |                       ORDER BY e.df ASC, p.term ASC) AS rk
         |  FROM p JOIN elig e USING (term)),
         |kept AS (SELECT doc_id, term FROM ranked WHERE rk <= 20),
         |pairs AS (
         |  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_ab
         |  FROM kept a JOIN kept b
         |    ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY a.term, b.term)
         |SELECT term_a, term_b, n_ab, da.df AS n_a, db.df AS n_b,
         |  CAST(CAST(n_ab AS DECIMAL(38,0)) * n_docs AS DOUBLE) /
         |  CAST(CAST(da.df AS DECIMAL(38,0)) * db.df AS DOUBLE) AS lift
         |FROM pairs
         |JOIN elig da ON pairs.term_a = da.term
         |JOIN elig db ON pairs.term_b = db.term, nd
         |WHERE n_ab >= 3""".stripMargin)),

    // Weighted sampling WITHOUT replacement by priority sampling
    // (operators/PrioritySample, Duffield–Lund–Thorup): k highest
    // w/u priorities with u from the content hash and the priority in
    // exact integer arithmetic — the fourth sampler spelling (threshold
    // q45/q68, systematic q100, largest-remainder q108) and the only
    // one with principled UNEQUAL per-row inclusion probabilities
    // (∝ n_chars here). Top-k is TakeOrderedAndProject: bounded heaps
    // per partition, k·P rows to the merge, no global sort.
    Query("q124_priority_sample", ((s, dir) =>
      graft.operators.PrioritySample.sample(
        t(s, dir, "documents").select("doc_id", "n_chars", "text"),
        100, col("n_chars"), TextAnalysis.charPolyHash(col("text")),
        col("doc_id"))
        .select("doc_id", "n_chars", "priority")),
      // Mirrors PrioritySample: `//` ≡ Spark's `div` on positive BIGINTs
      // (both truncate), so the priorities are integer-identical.
      Some(s"""SELECT doc_id, n_chars,
         |  (n_chars * 1000000000000) // (${charPolySql("text")} + 1)
         |    AS priority
         |FROM documents
         |ORDER BY priority DESC, doc_id ASC LIMIT 100""".stripMargin)),

    // One BPE tokenizer-training step: the corpus-wide argmax adjacent
    // pair (count desc, pair asc — one bounded driver action) merged
    // greedily into every document by the codegen'd graft_bpe_merge
    // scan. The oracle recomputes the argmax and mirrors the greedy
    // fold exactly.
    Query("q84_bpe_merge", ((s, dir) => {
      val d = t(s, dir, "documents")
      val (pa, pb, _) = CorpusOps.topAdjacentPair(d, "doc_id", "text")
        .getOrElse(("", "", 0L))
      val merged = graft.expressions.TextKernels.bpeMergeOf(
        TextAnalysis.tokens(col("text")), pa, pb)
      d.select(col("doc_id"), lit(pa).as("pair_a"), lit(pb).as("pair_b"),
        array_join(merged, " ").as("merged_text"),
        size(merged).cast("long").as("n_after"))
    }),
      Some(s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |bg AS (
         |  SELECT unnest($POS_BIGRAM_SQL) AS bg
         |  FROM toks),
         |cnt AS (SELECT bg, count(*) AS n FROM bg GROUP BY bg),
         |top AS (
         |  SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b
         |  FROM cnt
         |  ORDER BY n DESC, string_split(bg, ' ')[1] ASC,
         |    string_split(bg, ' ')[2] ASC
         |  LIMIT 1),
         |m AS (
         |  SELECT t.doc_id, p.a, p.b,
         |    CASE WHEN len(t.tk) = 0 THEN CAST([] AS VARCHAR[])
         |    ELSE list_reduce(list_transform(t.tk, x -> [x]), (acc, x) ->
         |      CASE WHEN acc[-1] = p.a AND x[1] = p.b
         |           THEN list_append(acc[1:len(acc)-1], p.a || ' ' || p.b)
         |           ELSE list_concat(acc, x) END) END AS mg
         |  FROM toks t CROSS JOIN top p)
         |SELECT doc_id, a AS pair_a, b AS pair_b,
         |  array_to_string(mg, ' ') AS merged_text,
         |  CAST(len(mg) AS BIGINT) AS n_after
         |FROM m""".stripMargin)),

    // Deterministic corpus shuffle: training order = global rank by a
    // seeded content hash — reproducible from the seed alone, computed
    // by the two-pass range-partitioned ranking (RankSpec pins the
    // no-single-task-window plan), not a global window sort.
    Query("q76_corpus_shuffle", ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("h", TextAnalysis.charPolyHash(
          concat(lit("seed42:"), col("doc_id").cast("string"))))
      graft.operators.Rank.globalRank(d, Seq(col("h"), col("doc_id")),
          "shuffle_pos")
        .select("doc_id", "h", "shuffle_pos")
    }),
      Some(s"""WITH sk AS (
         |  SELECT doc_id, 'seed42:' || CAST(doc_id AS VARCHAR) AS sk
         |  FROM documents),
         |h AS (SELECT doc_id, ${charPolySql("sk")} AS h FROM sk)
         |SELECT doc_id, h,
         |  row_number() OVER (ORDER BY h, doc_id) AS shuffle_pos
         |FROM h""".stripMargin)),

    // Systematic sampling — every k-th document in deterministic
    // content-hash order (q76's two-pass global rank): unlike q45's
    // Bernoulli-style hash threshold, systematic sampling guarantees
    // EXACTLY floor(n/k) rows with even coverage of the shuffled order —
    // the survey-sampling discipline for held-out/eval splits.
    Query("q100_systematic_sample", ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("h", TextAnalysis.charPolyHash(
          concat(lit("seed42:"), col("doc_id").cast("string"))))
      graft.operators.Rank.globalRank(d, Seq(col("h"), col("doc_id")),
          "shuffle_pos")
        .where(col("shuffle_pos") % 10L === 0L)
        .select("doc_id", "lang", "source", "shuffle_pos")
    }),
      Some(s"""WITH sk AS (
         |  SELECT doc_id, lang, source,
         |    'seed42:' || CAST(doc_id AS VARCHAR) AS sk
         |  FROM documents),
         |h AS (SELECT doc_id, lang, source, ${charPolySql("sk")} AS h FROM sk),
         |r AS (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (ORDER BY h, doc_id) AS shuffle_pos
         |  FROM h)
         |SELECT doc_id, lang, source, shuffle_pos
         |FROM r WHERE shuffle_pos % 10 = 0""".stripMargin)),

    // Language-ID heuristic (marker-word overlap + argmax).
    Query("q21_langid", ((s, dir) => {
      val d = t(s, dir, "documents")
      val tk = TextAnalysis.tokens(col("text"))
      val scores = TextAnalysis.langScores(tk)
      val predicted = TextAnalysis.predictedLang(scores)
      d.select((col("doc_id") +: col("lang").as("labeled_lang") +:
        scores.map { case (l, c) => c.as(s"score_$l") }) :+
        predicted.as("predicted") :+
        (predicted === col("lang")).as("is_match"): _*)
    }),
      Some(s"""WITH toks AS (
         |  SELECT doc_id, lang, $TOKENS_SQL AS tk FROM documents),
         |sc AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(tk, t -> t IN ('the','a','of'))) AS BIGINT) AS score_en,
         |    CAST(len(list_filter(tk, t -> t IN ('data','table','fast'))) AS BIGINT) AS score_es,
         |    CAST(len(list_filter(tk, t -> t IN ('scan','merge','hash'))) AS BIGINT) AS score_de,
         |    CAST(len(list_filter(tk, t -> t IN ('row','value','sort'))) AS BIGINT) AS score_fr,
         |    CAST(len(list_filter(tk, t -> t IN ('join','query','group'))) AS BIGINT) AS score_zh
         |  FROM toks),
         |pr AS (
         |  SELECT *, CASE
         |    WHEN score_en >= score_es AND score_en >= score_de
         |     AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
         |    WHEN score_es >= score_en AND score_es >= score_de
         |     AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
         |    WHEN score_de >= score_en AND score_de >= score_es
         |     AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
         |    WHEN score_fr >= score_en AND score_fr >= score_es
         |     AND score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
         |    WHEN score_zh >= score_en AND score_zh >= score_es
         |     AND score_zh >= score_de AND score_zh >= score_fr THEN 'zh'
         |    ELSE 'und' END AS predicted
         |  FROM sc)
         |SELECT doc_id, lang AS labeled_lang, score_en, score_es, score_de,
         |  score_fr, score_zh, predicted, (predicted = lang) AS is_match
         |FROM pr""".stripMargin)),

    // Quality scoring (length/stopword/type-token features).
    Query("q22_quality", ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          TextAnalysis.qualityFeatures(col("text"), Seq("the", "a")).as("q"))
        .select(col("doc_id"), col("q.n_chars"), col("q.n_tokens"),
          col("q.n_distinct"), col("q.ttr"), col("q.avg_token_len"),
          col("q.stopword_ratio"), col("q.quality_score"))
    }),
      Some(s"""WITH f AS (
         |  SELECT doc_id, length(text) AS n_chars, $TOKENS_SQL AS tk
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         |    CAST(list_sum(list_transform(tk, t -> length(t))) AS BIGINT) AS sum_len,
         |    CAST(len(list_filter(tk, t -> t IN ('the','a'))) AS BIGINT) AS n_stop
         |  FROM f)
         |SELECT doc_id, n_chars, n_tokens, n_distinct,
         |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
         |  CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
         |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
         |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
         |    0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 200.0)
         |    + 0.3 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |    + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |  END AS quality_score
         |FROM g""".stripMargin)),

    // Token counting: whitespace + regex tokenizers.
    Query("q23_token_stats", ((s, dir) => {
      val d = t(s, dir, "documents")
      val ws = size(TextAnalysis.tokens(col("text"))).cast("long")
      val re = size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long")
      d.select(col("doc_id"), ws.as("ws_tokens"), re.as("re_tokens"),
        try_divide(length(col("text")).cast("double"), ws.cast("double"))
          .as("chars_per_token"))
    }),
      Some(s"""SELECT doc_id,
         |  CAST(len($TOKENS_SQL) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS re_tokens,
         |  CAST(length(text) AS DOUBLE) / CAST(len($TOKENS_SQL) AS BIGINT)
         |    AS chars_per_token
         |FROM documents""".stripMargin)),

    // Document fingerprinting (rolling polynomial hashes).
    Query("q24_fingerprint", ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.charPolyHash(col("text")).as("char_fp"),
        TextAnalysis.tokenFingerprint(TextAnalysis.tokens(col("text")))
          .as("token_fp"))
    }),
      Some(s"""SELECT doc_id,
         |  ${charPolySql("text")} AS char_fp,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform($TOKENS_SQL,
         |      t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(range(1, length(t)+1),
         |               j -> CAST(ord(t[j]) AS BIGINT))),
         |           (c,d) -> (c*31+d) % 1000000007))),
         |    (a,h) -> (a*131+h) % 1000000007) AS token_fp
         |FROM documents""".stripMargin)),

    // Deterministic stratified sampling: per-language keep rates applied
    // via a content-hash threshold (charPolyHash mod 1000) — reproducible
    // downsampling with no RNG state, the training-data mixing primitive.
    Query("q45_stratified_sample", ((s, dir) => {
      val rate = when(col("lang") === "en", lit(700L))
        .when(col("lang") === "es", lit(400L))
        .otherwise(lit(150L))
      t(s, dir, "documents")
        .where(TextAnalysis.charPolyHash(col("text")) % 1000L < rate)
        .select("doc_id", "lang", "source", "n_chars")
    }),
      Some(s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE ${charPolySql("text")} % 1000 <
         |  CASE WHEN lang = 'en' THEN 700
         |       WHEN lang = 'es' THEN 400
         |       ELSE 150 END""".stripMargin)),

    // Vocabulary mining: top-10 terms per language by document-term
    // frequency — explode + map-side-combined count + bounded per-group
    // rank, with the (count desc, term asc) deterministic tie-break.
    Query("q46_top_terms", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val terms = t(s, dir, "documents")
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("term").asc)
      terms.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 10)
    }),
      Some(s"""WITH terms AS (
         |  SELECT lang, unnest($TOKENS_SQL) AS term FROM documents),
         |counted AS (
         |  SELECT lang, term, count(*) AS n FROM terms GROUP BY lang, term),
         |ranked AS (
         |  SELECT lang, term, n,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY n DESC, term ASC) AS rank
         |  FROM counted)
         |SELECT lang, term, n, rank FROM ranked WHERE rank <= 10""".stripMargin)),

    // Count-Min sketch (operators/CountMin): the FIXED-SIZE mergeable
    // frequency summary — 4×256 counters whatever the corpus size, the
    // streaming/partition-mergeable complement to q88's exact heavy
    // hitters and q40's HLL. Output: the top-20 true tokens with true
    // freq, CMS estimate, and the one-sided error (estimate − true ≥ 0
    // ALWAYS — CountMinSpec pins it corpus-wide; the hash check pins the
    // exact counter arithmetic, affine depth hashes mirrored as oracle
    // literals).
    Query("q138_cms_sketch", ((s, dir) => {
      val (depth, width) = (4, 256)
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val cms = graft.operators.CountMin.sketch(tf, "tok", "freq",
        depth, width)
      val top = tf.orderBy(col("freq").desc, col("tok")).limit(20)
      graft.operators.CountMin.estimate(top, cms, "tok", depth, width)
        .withColumn("overestimate", col("cms_estimate") - col("freq"))
    }),
      // the affine depth coefficients are the polyCoeffs constants embedded
      // verbatim (operator definition, not runtime state) — the same
      // literal-embedding rule as the q57 MinHash seeds
      Some(CMS_ORACLE)),

    // The tokenizer rewrite driven end-to-end: q23's token stats with the
    // tokenization spelled the way a USER would write it — the
    // `filter(split(...))` higher-order function — with GraftOptimizations
    // installed. RewriteHofTokens swaps in the codegen'd graft_tokens
    // kernel (PlanSpec asserts the optimized plan) and the result
    // hash-checks against q23's oracle verbatim.
    Query("q65_hof_tokens_rewrite", ((s, dir) => {
      // isolated-session install, exactly as in q55 — no shared-session
      // optimizer mutation from inside the registered-query map
      val iso = s.newSession()
      graft.plans.GraftOptimizations.install(iso)
      val d = t(iso, dir, "documents")
      val hofTokens = expr("filter(split(text, ' '), t -> t != '')")
      val ws = size(hofTokens).cast("long")
      val re = size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long")
      d.select(col("doc_id"), ws.as("ws_tokens"), re.as("re_tokens"),
        try_divide(length(col("text")).cast("double"), ws.cast("double"))
          .as("chars_per_token"))
    }),
      // q65 is q23 with the tokenization HOF-spelled and optimizer-rewritten
      // to the graft_tokens kernel — same semantics, same oracle.
      Some(s"""SELECT doc_id,
         |  CAST(len($TOKENS_SQL) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS re_tokens,
         |  CAST(length(text) AS DOUBLE) / CAST(len($TOKENS_SQL) AS BIGINT)
         |    AS chars_per_token
         |FROM documents""".stripMargin)),

    // PII redaction over text enriched with deterministic synthetic
    // emails/IDs (the raw corpus carries none — the enrichment makes the
    // scrub observable and is mirrored verbatim in the oracle).
    Query("q64_pii_redaction", ((s, dir) => {
      val enriched = concat(col("text"),
        when(col("doc_id") % 3L === 0L,
          concat(lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5L === 0L,
          concat(lit(" ref "), (col("doc_id") * 1234567L).cast("string")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .withColumn("redacted", TextAnalysis.redactPii(enriched))
        .select(col("doc_id"), col("redacted"),
          (col("redacted") =!= enriched).as("was_redacted"))
    }),
      Some("""WITH enr AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' ref ' || CAST(doc_id * 1234567 AS VARCHAR)
        |         ELSE '' END AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, t,
        |    regexp_replace(
        |      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |  FROM enr)
        |SELECT doc_id, redacted, (redacted <> t) AS was_redacted FROM red""".stripMargin)),

    // Automated Readability Index — the text-quality family's
    // READABILITY member (q22 scores surface quality, q162 fluency;
    // this is the classic grade-level formula): ARI = 4.71·(chars/
    // words) + 0.5·(words/sentences) − 21.43. Letters/words/sentences
    // are integer counts off the token kernel (sentence = '.' '!' '?'
    // token-final punctuation, a deterministic proxy both engines
    // spell identically); the formula's constants are literals and the
    // two ratios are mirrored divides. Zero-word/zero-sentence docs
    // yield NULL, never a crash.
    Query("q192_readability", ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_words"),
          aggregate(col("tk"), lit(0L),
            (a, x) => a + length(x).cast("long")).as("n_chars"),
          aggregate(col("tk"), lit(0L), (a, x) =>
            a + when(x.endsWith(".") || x.endsWith("!") || x.endsWith("?"),
              1L).otherwise(0L)).as("n_sents"))
      toks.select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_sents"),
        (lit(4.71) * try_divide(col("n_chars").cast("double"),
          col("n_words").cast("double")) +
          lit(0.5) * try_divide(col("n_words").cast("double"),
            col("n_sents").cast("double")) - lit(21.43)).as("ari"))
    }),
      // Mirrors q192: the same token-derived counts and the ARI formula
      // with exponent-form literals (a bare 4.71 would parse DECIMAL).
      Some(s"""WITH toks AS (
         |  SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |c AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
         |    CAST(list_sum(list_transform(tk, x -> length(x)))
         |      AS BIGINT) AS n_chars,
         |    CAST(list_sum(list_transform(tk, x ->
         |      CASE WHEN suffix(x, '.') OR suffix(x, '!') OR
         |        suffix(x, '?') THEN 1 ELSE 0 END)) AS BIGINT) AS n_sents
         |  FROM toks)
         |SELECT doc_id, n_words,
         |  COALESCE(n_chars, 0) AS n_chars, COALESCE(n_sents, 0) AS n_sents,
         |  4.71e0 * (CAST(COALESCE(n_chars, 0) AS DOUBLE) /
         |    NULLIF(CAST(n_words AS DOUBLE), 0)) +
         |  0.5e0 * (CAST(n_words AS DOUBLE) /
         |    NULLIF(CAST(COALESCE(n_sents, 0) AS DOUBLE), 0)) - 21.43e0
         |    AS ari
         |FROM c""".stripMargin)),

    // Count-Min sketch via the NATIVE Catalyst imperative aggregate
    // (expressions/CmsSketchAgg — TypedImperativeAggregate: the whole
    // depth×width counter matrix is ONE aggregation buffer, merged
    // element-wise by ObjectHashAggregate's real partial aggregation).
    // q138 builds the same sketch relationally (explode depth cells →
    // hash-agg); this build moves ONE fixed-size buffer per partition
    // instead of depth× exploded rows — the smallest shuffle a keyed
    // 100 TB stream can pay. Same hash derivation by construction, so
    // the estimates hash-check against the SAME oracle as q138.
    Query("q199_cms_native_agg", ((s, dir) => {
      val (depth, width) = (4, 256)
      val (as, bs) = graft.expressions.SignatureKernels.polyCoeffs(depth)
      val tf = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val sketch = tf.agg(graft.expressions.CmsSketchAgg
        .cmsOf(col("tok"), col("freq"), depth, width).as("sk"))
      val top = tf.orderBy(col("freq").desc, col("tok")).limit(20)
      val est = top.crossJoin(broadcast(sketch))
        .withColumn("ph", TextAnalysis.charPolyHash(col("tok")))
        .withColumn("cms_estimate",
          (0 until depth).map { d =>
            element_at(col("sk"),
              (((lit(as(d)) * col("ph") + lit(bs(d))) %
                lit(graft.expressions.SignatureKernels.PolyMod)) %
                lit(width.toLong)).cast("int") + lit(d * width + 1))
          }.reduce(least(_, _)))
      est.select(col("tok"), col("freq"), col("cms_estimate"),
        (col("cms_estimate") - col("freq")).as("overestimate"))
    }),
      // The native TypedImperativeAggregate build (q199) answers the SAME
      // estimates — the hash derivation is shared by construction, so the
      // oracle is shared verbatim: passing both is exactly the
      // relational ≡ imperative equivalence claim.
      Some(CMS_ORACLE)),

    // Unicode NFC normalization (expressions/NfcNormalize) — the
    // canonical-form cleaning step ahead of every byte-keyed operator
    // (content-hash dedup, shingles, fingerprints): composed é and
    // decomposed e+U+0301 are the SAME text to a reader and DIFFERENT
    // bytes to q15/q24/q42. The raw corpus is ASCII (trivially NFC), so
    // the q64 discipline applies: enrich deterministically with
    // decomposed combining sequences, mirrored verbatim in the oracle —
    // the doc_id%3 rows then genuinely compose, pinned by codepoint
    // counts and a post-normalization codepoint fingerprint. Canonical
    // composition is Unicode-standard-defined, which is why the JDK
    // normalizer and DuckDB's utf8proc nfc_normalize hash-match.
    Query("q165_nfc_normalize", ((s, dir) => {
      // the suffix is DECOMPOSED in the source bytes: 'e' followed by
      // combining acute U+0301, 'a' followed by combining grave U+0300
      // (it renders composed in most editors) — NFC composes both
      val enriched = concat(col("text"),
        when(col("doc_id") % 3L === 0L,
          lit(" café voilà")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), enriched.as("raw"),
          graft.expressions.NfcNormalize.nfc(enriched).as("norm"))
        .select(col("doc_id"),
          (col("norm") =!= col("raw")).as("was_denormalized"),
          length(col("raw")).cast("long").as("n_chars_raw"),
          length(col("norm")).cast("long").as("n_chars_nfc"),
          TextAnalysis.charPolyHash(col("norm")).as("nfc_fp"))
    }),
      // Mirrors q165: the identical decomposed enrichment built from
      // chr() codepoints (769 = U+0301 combining acute, 768 = U+0300
      // combining grave), utf8proc's nfc_normalize against the JDK
      // normalizer, codepoint counts and the shared charPoly fingerprint.
      Some(s"""WITH enr AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0
         |         THEN ' cafe' || chr(769) || ' voila' || chr(768)
         |         ELSE '' END AS raw
         |  FROM documents),
         |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM enr)
         |SELECT doc_id, norm <> raw AS was_denormalized,
         |  CAST(length(raw) AS BIGINT) AS n_chars_raw,
         |  CAST(length(norm) AS BIGINT) AS n_chars_nfc,
         |  ${charPolySql("norm")} AS nfc_fp
         |FROM n""".stripMargin)),

    // Vocabulary APPLY — the tokenize-to-ids step a pretraining
    // pipeline runs after q131 builds the vocab and q84 trains merges:
    // every token maps to its vocab id (frequency rank; OOV → 0 = unk)
    // and each document re-assembles its ORDERED id sequence. The
    // reassembly is the q162 determinism pattern (sort collected
    // (pos, id) structs, then fold), rendered hash-checkable as scalars
    // by the q24 rolling fingerprint ((a·31 + id) mod 1e9+7 over the
    // sequence) — no array column ever reaches the output. The vocab is
    // a bounded broadcast join (100 rows); unknown-token counts ride
    // the same pass.
    Query("q164_vocab_apply", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val vw = Window.orderBy(col("freq").desc, col("tok"))
      val vocab = tf.orderBy(col("freq").desc, col("tok")).limit(100)
        .withColumn("id", row_number().over(vw).cast("long"))
        .select(col("tok"), col("id"))
      val g = docs.select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
      val perDoc = g.join(broadcast(vocab), Seq("tok"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("id"), lit(0L)).as("id"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("id"))))
          .as("ps"))
        .select(col("doc_id"),
          size(col("ps")).cast("long").as("n_tokens"),
          aggregate(col("ps"), lit(0L),
            (a, x) => (a * 31L + x.getField("id")) % 1000000007L)
            .as("ids_fp"),
          aggregate(col("ps"), lit(0L),
            (a, x) => a + when(x.getField("id") === 0L, 1L).otherwise(0L))
            .as("n_unk"))
      docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_unk"), lit(0L)).as("n_unk"), col("ids_fp"))
    }),
      // Mirrors q164: the same frequency-ranked 100-term vocab, 1-based
      // positions (pos i−1 unneeded — only ORDER matters to the fold),
      // OOV→0, and the identical (a·31 + id) mod 1e9+7 fold over the
      // position-ordered id list. Empty docs: zero counts, NULL fp.
      Some(s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |tf AS (
         |  SELECT tok, count(*) AS freq
         |  FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY tok),
         |vocab AS (
         |  SELECT tok, CAST(ROW_NUMBER() OVER
         |    (ORDER BY freq DESC, tok) AS BIGINT) AS id
         |  FROM tf ORDER BY freq DESC, tok LIMIT 100),
         |g AS (
         |  SELECT doc_id, i AS pos, tk[i] AS tok
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
         |        FROM toks)),
         |j AS (
         |  SELECT doc_id, pos, COALESCE(v.id, 0) AS id
         |  FROM g LEFT JOIN vocab v USING (tok)),
         |per AS (
         |  SELECT doc_id, list(id ORDER BY pos) AS ids FROM j
         |  GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(CAST(len(ids) AS BIGINT), 0) AS n_tokens,
         |  COALESCE(CAST(len(list_filter(ids, x -> x = 0)) AS BIGINT), 0)
         |    AS n_unk,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), ids),
         |    (a, x) -> (a * 31 + x) % 1000000007) AS ids_fp
         |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin)),

    // N-gram language-model fluency score — the LM-scoring member of
    // the text-quality family (q21 langid, q22 heuristics, q114 rarity,
    // q127 concentration): each document's mean corpus-bigram
    // conditional probability P(b|a) = n_ab / n_a("a" as bigram
    // prefix), the ln-free monotone stand-in for per-token perplexity
    // (mean log-prob would drag in libm). The exactness pattern is NEW
    // here: the per-doc mean sums FLOATING ratios, which a shuffle
    // reduces in nondeterministic order — so the ratios are collected,
    // sorted by token POSITION, and folded left-associatively from 0.0
    // (aggregate() over sort_array ≡ the oracle's list(… ORDER BY pos)
    // + list_reduce), making every intermediate rounding identical in
    // both engines. Stats are two map-side-combined aggregates; the
    // per-doc list is document-length-bounded (the q49 chunking bound
    // at corpus scale).
    Query("q162_lm_fluency", ((s, dir) => lmFluencyFrame(s, dir)),
      // Mirrors q162: positional bigrams (1-based tk[i] ‖ tk[i+1], pos =
      // i−1 to match posexplode), the same two count tables, and the
      // SAME left-associative fold over the position-ordered ratio list —
      // list(r ORDER BY pos) + list_reduce from 0.0 ≡ Spark's
      // sort_array + aggregate, so every intermediate double rounds
      // identically.
      Some(LM_FLUENCY_CTES +
      """sel AS (SELECT doc_id, n_bigrams, fluency FROM flu)
        |SELECT doc_id, n_bigrams, fluency FROM sel""".stripMargin)),

    // Tokenizer fertility by language: tokens per million chars as
    // integer floor division over the table's own n_chars inventory —
    // the multilingual token-budget balancer; all-int64 surface.
    Query("q227_tokenizer_fertility", ((s, dir) =>
      text.CorpusOps.tokenizerFertility(t(s, dir, "documents"), "text",
        "lang", "n_chars")),
      // Tokenizer fertility: per-lang token/char inventories (the table's
      // n_chars column, engine-neutral), BIGINT floor-division rate.
      Some(s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len($TOKENS_SQL)) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  CASE WHEN CAST(sum(n_chars) AS BIGINT) > 0
         |       THEN (CAST(sum(len($TOKENS_SQL)) AS BIGINT) * 1000000)
         |              // CAST(sum(n_chars) AS BIGINT)
         |       ELSE 0 END AS tokens_per_mchar
         |FROM documents GROUP BY lang""".stripMargin)),

    // Code-switch detector: language-ID the head and tail halves of each
    // token stream with the q21 marker scorer, flag disagreement —
    // mixed-language pages; integer counts + fixed tie order, no
    // explode, no shuffle.
    Query("q230_code_switch", ((s, dir) =>
      text.CorpusOps.codeSwitch(t(s, dir, "documents"), "doc_id",
        "text")),
      // Code-switch: the q21 marker scorer applied to the head/tail halves
      // of the token array (range-slice spelling of Spark's slice), with
      // the q21 CASE tie order per half — integer counts, string labels,
      // boolean flag.
      Some({
      def scoreSql(half: String, lang: String, words: Seq[String]) =
        s"len(list_filter($half, t -> t IN " +
          words.map(w => s"'$w'").mkString("(", ",", ")") + s")) AS ${lang}"
      def halfScores(half: String) = graft.text.TextAnalysis.LangMarkers
        .map { case (l, ws) => scoreSql(half, l, ws) }.mkString(",\n|    ")
      def caseSql(p: String) = {
        val langs = graft.text.TextAnalysis.LangMarkers.map(_._1)
        langs.map { l =>
          val geAll = langs.filter(_ != l)
            .map(o => s"$p.$l >= $p.$o").mkString(" AND ")
          s"WHEN $geAll THEN '$l'"
        }.mkString("CASE\n|      ", "\n|      ", "\n|      ELSE 'und' END")
      }
      s"""WITH toks AS (SELECT doc_id, $TOKENS_SQL AS tk FROM documents),
         |halves AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    list_transform(range(1, len(tk) // 2 + 1), i -> tk[i]) AS hd,
         |    list_transform(range(len(tk) // 2 + 1, len(tk) + 1),
         |      i -> tk[i]) AS tl
         |  FROM toks),
         |h AS (
         |  SELECT doc_id, n_tokens,
         |    ${halfScores("hd")}
         |  FROM halves),
         |t2 AS (
         |  SELECT doc_id,
         |    ${halfScores("tl")}
         |  FROM halves),
         |pr AS (
         |  SELECT h.doc_id, h.n_tokens,
         |    ${caseSql("h")} AS lang_head,
         |    ${caseSql("t2")} AS lang_tail
         |  FROM h JOIN t2 ON h.doc_id = t2.doc_id)
         |SELECT doc_id, n_tokens, lang_head, lang_tail,
         |  (lang_head <> lang_tail) AS is_mixed
         |FROM pr""".stripMargin
    })),

    // CCNet-style perplexity buckets: rank the corpus by the q162
    // bigram-LM fluency (two-pass global rank, no one-task window) and
    // cut into head/middle/tail terciles by the integer identity
    // (rank−1)·3 div n — the quality-stratification stage of a curation
    // pipeline. Surface: doc_id, n_bigrams, rank, bucket — all int64
    // (the fluency double drives only the ORDER, mirrored op-for-op).
    Query("q231_perplexity_buckets", ((s, dir) => {
      val f = lmFluencyFrame(s, dir)
      val ranked = graft.operators.Rank.globalRank(f,
        Seq(col("fluency").desc_nulls_last, col("doc_id").asc), "rank")
      // corpus count straight off the documents table — lmFluencyFrame
      // left-joins FROM documents, so the row counts are provably equal
      // and counting the frame would re-run its bigram explode + joins
      ranked.crossJoin(broadcast(
          t(s, dir, "documents").agg(count(lit(1)).as("__n"))))
        .select(col("doc_id"), col("n_bigrams"),
          col("rank").cast("long").as("rank"),
          expr("((rank - 1) * 3) div __n").as("bucket"))
    }),
      // Perplexity buckets: the SAME fluency CTEs as q162 (one spelling
      // per engine), a corpus-total rank over (fluency DESC NULLS LAST,
      // doc_id), and the integer tercile identity.
      Some(LM_FLUENCY_CTES +
      """r AS (
        |  SELECT doc_id, n_bigrams,
        |    row_number() OVER (ORDER BY fluency DESC NULLS LAST,
        |                       doc_id ASC) AS rank,
        |    (SELECT count(*) FROM documents) AS n
        |  FROM flu)
        |SELECT doc_id, n_bigrams, CAST(rank AS BIGINT) AS rank,
        |  ((rank - 1) * 3) // n AS bucket
        |FROM r""".stripMargin)),
  )
}
