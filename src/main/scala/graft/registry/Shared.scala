package graft
package registry

import graft.dedup.Dedup
import graft.functions.WeatherOps
import graft.pipelines.DiffTimes
import graft.similarity.Similarity
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers used by more than one query family: the memoized artifacts
  * (the diffs mart, cluster labels, poly-LSH candidates, truth pairs, char
  * postings, PQ/IVF trainings, tf-idf stages) and the oracle SQL
  * fragments several families interpolate. A helper used by one family
  * lives in that family's file. */
object Shared {

  import Tables.t

  // ----------------------------------------------------------- artifacts --

  /** The diffs mart is a materialized TABLE in the reference (diff_times.py
    * rebuilds `trip_updates_with_diffs`, and every dashboard query reads
    * it); caching the built mart per (session, dir) mirrors that — q03-q07
    * aggregate the one cached build instead of re-running the join
    * pipeline per query. Every DataFrame artifact here is a
    * [[SessionKeyedCache.persisted]] entry keyed by dir. */
  private val martCache = SessionKeyedCache.persisted()

  private[graft] def diffMart(s: SparkSession, dir: String): DataFrame =
    martCache.getOrBuild(s, dir)(buildDiffMart(s, dir).persist())

  /** The near-dup cluster labels are likewise a materialized artifact in
    * any production corpus pipeline (clusters are computed once, then
    * consumed by reporting AND by corpus filtering); q51, q53, q73,
    * q117, q167, q200 and q210 share one cached build per (session, dir)
    * instead of each re-running the full LSH-candidate +
    * connected-components subtree. On reset the
    * clustering's retained checkpoint blocks are released too. */
  private val clustersCache =
    SessionKeyedCache.persisted(Dedup.releaseClusterState)

  private[registry] def docClusters(s: SparkSession, dir: String): DataFrame =
    clustersCache.getOrBuild(s, dir)(Dedup.dupClusters(
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        Seq("lang", "source"), minJaccard = 0.05)).persist())

  /** Poly-LSH candidate pairs, shared by q58 (the pairs themselves), q59
    * (their exact verification) and q219 (LSH recall) — in production the candidate set is
    * materialized once and fanned out to scoring/reporting consumers. */
  private val polyCandCache = SessionKeyedCache.persisted()

  private[registry] def polyCands(s: SparkSession, dir: String): DataFrame =
    polyCandCache.getOrBuild(s, dir)(Dedup.polyMinhashCandidatePairs(
      t(s, dir, "documents"), "doc_id", "text", numHashes = 64,
      bands = 16).persist())

  /** The exact-Jaccard (τ = 0.4) pair set is ground TRUTH for three
    * consumers — q130 reports it, q219 audits the banded LSH against
    * it, q220 attributes it across sources — so like the candidate set
    * above it is materialized once per (session, dir); in production
    * the verified-pair table is exactly such a shared artifact. */
  private val truthPairCache = SessionKeyedCache.persisted()

  private[registry] def truthPairs(s: SparkSession, dir: String): DataFrame =
    truthPairCache.getOrBuild(s, dir)(Dedup.prefixJaccardPairs(
      t(s, dir, "documents"), "doc_id", "text", minJaccard = 0.4).persist())

  /** The char 12-gram rolling-hash posting table — like the cluster
    * labels and truth pairs, a materialized artifact any char-grain
    * pipeline builds once and fans out (q237 dup spans, q243
    * contamination and q246 scrub share one build per (session, dir)). */
  private val charPostingsCache = SessionKeyedCache.persisted()

  private[registry] def charPostings12(s: SparkSession,
                                       dir: String): DataFrame =
    charPostingsCache.getOrBuild(s, dir)(text.CorpusOps.charPostings(
      t(s, dir, "documents"), "doc_id", "text", k = 12).persist())

  /** Drop every memoized artifact: persisted frames are released and
    * unpersisted, trained values released. */
  private[graft] def resetArtifacts(): Unit =
    Seq(martCache, clustersCache, polyCandCache, truthPairCache,
      charPostingsCache, pqTrainedCache, ivfTrainedCache, tfidfStagesCache)
      .foreach(_.reset())

  /** PQ codebooks are a trained ARTIFACT like the cluster labels: trained
    * once per (session, dir, knobs) and consumed by q87's flat ADC and
    * q92's IVF-gated ADC — two Lloyd trainings of the IDENTICAL
    * codebooks would be pure waste in any production pipeline. */
  private val pqTrainedCache =
    new SessionKeyedCache[(Int, Seq[Seq[Seq[Long]]])]()

  private[registry] def pqTrained(s: SparkSession, dir: String,
                                  numSubspaces: Int = 4, codebookSize: Int = 16,
                                  trainIters: Int = 1): (Int, Seq[Seq[Seq[Long]]]) =
    pqTrainedCache.getOrBuild(s,
      s"$dir|M=$numSubspaces|K=$codebookSize|iters=$trainIters") {
      Similarity.pqTrain(t(s, dir, "embeddings"),
        "vec_id", "embedding", numSubspaces = numSubspaces,
        codebookSize = codebookSize, trainIters = trainIters)
    }

  /** IVF coarse-quantizer centroids, trained once per (session, dir,
    * knobs) — the pqTrained discipline for the OTHER trained artifact:
    * q32's search shares the (16, iters=2) training with the whole q149
    * family (stats + three bisection diagnostics), and q149c's per-round
    * histograms hit the iters=0/1 keys instead of retraining each.
    * Plain driver values (nCentroids × dim longs). */
  private val ivfTrainedCache = new SessionKeyedCache[Seq[Seq[Long]]]()

  private[registry] def ivfTrained(s: SparkSession, dir: String,
                                   nCentroids: Int, iters: Int): Seq[Seq[Long]] =
    ivfTrainedCache.getOrBuild(s, s"$dir|n=$nCentroids|iters=$iters") {
      Similarity.trainCentroids(t(s, dir, "embeddings"),
        "vec_id", "embedding", nCentroids, iters)
    }

  /** The q158 tf-idf staged frames (weighted postings + eligible-vocab
    * localCheckpoints and their three readouts), built once per
    * (session, dir) and shared by q158 and its three bisection
    * diagnostics — the mart/cluster artifact pattern; release drops the
    * checkpoint blocks eagerly. Knobs are fixed (all four consumers
    * share them) and named in the key for honesty. */
  private val tfidfStagesCache =
    new SessionKeyedCache[text.CorpusOps.TfidfStages](
      text.CorpusOps.releaseTfidfStages)

  private[registry] def tfidfShared(s: SparkSession,
                                    dir: String): text.CorpusOps.TfidfStages =
    tfidfStagesCache.getOrBuild(s,
      s"$dir|ngram=3|minDf=2|maxDfPermille=200|minShared=3") {
      text.CorpusOps.tfidfStages(t(s, dir, "documents"),
        "doc_id", "text", ngram = 3, minDf = 2L, maxDfPermille = 200L,
        minShared = 3L)
    }

  /** events → (realtime, schedule) GTFS-shaped frames → DiffTimes pipeline
    * (E3). The composite key (trip_id, start_date, stop_sequence, stop_id)
    * is a bijection of event_id, so the join is 1:1 but still exercises the
    * 4-column composite-key shuffle join with the stop_id string→long cast
    * (reference scripts/diff_times.py:95-101). Threshold 4102444800 (year
    * 2100) makes the P7 sentinel filter active on 2024-epoch data. */
  private[registry] def buildDiffMart(s: SparkSession, dir: String): DataFrame = {
    // Two independent reads: tu/gd must not share a Dataset lineage, or
    // Spark's ambiguous-self-join check misfires on downstream rollups.
    val ev = t(s, dir, "events")
    val ev2 = t(s, dir, "events")
    val ets = unix_timestamp(col("ts"))
    val epoch0 = timestamp_seconds(lit(0L))
    val wid = lit(200L) + (col("event_id") % 700L)
    val tu = ev.select(
      expr("CAST(event_id DIV 100 AS STRING)").as("trip_id"),
      to_date(col("ts")).as("start_date"),
      (col("event_id") % 100L).as("stop_sequence"),
      col("user_id").cast("string").as("stop_id"),
      when(col("value") < 20d, epoch0).otherwise(col("ts")).as("arrival_time"),
      when(col("value") > 180d, epoch0)
        .otherwise(timestamp_seconds(ets + expr("CAST(value AS BIGINT)")))
        .as("departure_time"),
      WeatherOps.weatherGroup(wid).as("weather_group"),
      concat(lit("wx_"), (col("event_id") % 5L).cast("string")).as("weather_description"),
      WeatherOps.kelvinToCelsius(col("value") + lit(250.0)).as("temperature"),
      col("ts").as("created_at"),
      col("ts").as("updated_at"))
    val gd = ev2.select(
      expr("CAST(event_id DIV 100 AS STRING)").as("trip_id"),
      to_date(col("ts")).as("start_date"),
      (col("event_id") % 100L).as("stop_sequence"),
      col("user_id").as("stop_id"),
      concat(lit("r"), (col("user_id") % 10L).cast("string")).as("route_id"),
      concat(lit("stop_"), col("user_id").cast("string")).as("stop_name"),
      concat(lit("Route "), (col("user_id") % 10L).cast("string")).as("route_long_name"),
      date_trunc("minute", col("ts")).as("arrival_time"),
      timestamp_seconds(unix_timestamp(date_trunc("minute", col("ts"))) + 60L)
        .as("departure_time"),
      concat_ws(", ", (col("user_id") % 90L).cast("string"),
        (col("user_id") % 180L).cast("string")).as("geo_coordinates"))
    DiffTimes.build(tu, gd, tz = "UTC", sentinelThresholdSecs = 4102444800L)
  }

  private[registry] val EXACT_AVG = "CAST(sum(CAST(%s AS DECIMAL(20,6))) AS DOUBLE) / count(%s)"

  private[registry] def exactAvgSql(c: String) = EXACT_AVG.format(c, c)

  /** Renders a DECIMAL(38,0) integer aggregate as DOUBLE through int64
    * limbs instead of a direct int128→double cast — the one conversion
    * whose rounding has drifted across DuckDB versions (the r7-r9
    * q149/q158 hash-miss class, closed for final surfaces by the limb
    * columns in 24abc0e; this closes it for RENDERED doubles too). Both
    * engines compute hi = trunc(M/10¹⁶) and lo = M % 10¹⁶ (both
    * truncate toward zero with dividend-sign remainder — verified for
    * DuckDB `//`/`%` on HUGEINT and Spark's IntegralDivide/Remainder on
    * decimals), each an exact int64, then the fixed IEEE chain
    * hi→double · 1e16 + lo→double: three correctly-rounded ops that are
    * bit-identical on every engine and version. Exact for |M| < 2⁵³,
    * within ~2 ulp of M above it; total for |M| < 9.2·10³⁴ (past that
    * hi overflows int64 — the largest caller value is q160's 3.3·10³²
    * moment at sf0.1, with the per-site growth law documented at each
    * call site). Mirror of [[hugeAsDoubleSql]]. */
  private[registry] val LIMB = 10000000000000000L // 10^16

  private[registry] def hugeAsDouble(c: Column): Column =
    call_function("div", c, lit(LIMB).cast("decimal(19,0)")).cast("double") *
      lit(1.0e16) +
      (c % lit(LIMB).cast("decimal(19,0)")).cast("long").cast("double")

  /** Oracle-side mirror of [[hugeAsDouble]]: the identical limb spelling
    * over DuckDB HUGEINT. Spelled with explicit CASTs so HashSurfaceSpec's
    * taint lint sees the AS BIGINT wash inside each double cast. */
  private[registry] def hugeAsDoubleSql(e: String): String =
    s"(CAST(CAST(($e) // 10000000000000000 AS BIGINT) AS DOUBLE) * 1e16" +
      s" + CAST(CAST(($e) % 10000000000000000 AS BIGINT) AS DOUBLE))"

  /** q116/q117's deterministic 90/5/5 split assignment: permille
    * threshold over the mirrorable id hash (charPolyHash is always
    * non-negative, so plain % matches the oracle's). */
  private[registry] def splitAssignment: Column = {
    val h = TextAnalysis.charPolyHash(
      concat(lit("split:"), col("doc_id").cast("string"))) % 1000L
    when(h < 900L, lit("train")).when(h < 950L, lit("val"))
      .otherwise(lit("test"))
  }

  /** SQL mirror of [[splitAssignment]] over a relation exposing doc_id. */
  private[registry] lazy val SPLIT_CASE_SQL: String =
    s"""CASE WHEN ${charPolySql("('split:' || CAST(doc_id AS VARCHAR))")} % 1000 < 900
       |     THEN 'train'
       |     WHEN ${charPolySql("('split:' || CAST(doc_id AS VARCHAR))")} % 1000 < 950
       |     THEN 'val' ELSE 'test' END""".stripMargin

  /** DuckDB mirror of the generalized codepoint polynomial hash
    * h = (h*mult + cp) mod `mod` over expression `e`. */
  private[registry] def charPolySqlM(e: String, mult: Long, mod: Long) =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e)+1), i -> CAST(ord($e[i]) AS BIGINT))), " +
      s"(a,b) -> (a*$mult+b) % $mod)"

  /** DuckDB mirror of TextAnalysis.charPolyHash over expression `e`. */
  private[registry] def charPolySql(e: String) = charPolySqlM(e, 31L, 1000000007L)

  /** The mirrored quantized-cosine expression between two EMB_CTE rows
    * aliased `a` and `b` (exact BIGINT dot, the ONE double divide) —
    * the single spelling every embedding oracle interpolates (VERDICT
    * r11 item 6 discipline: ~20 inline copies invited a half-updated
    * arithmetic tweak; a named builder cannot drift). */
  private[registry] def cosSql(a: String, b: String): String =
    s"CAST(CAST(list_sum(list_transform(range(1, len($a.v)+1), " +
      s"i -> $a.v[i]*$b.v[i])) AS BIGINT) AS DOUBLE) " +
      s"/ (sqrt(CAST($a.nrm AS DOUBLE)) * sqrt(CAST($b.nrm AS DOUBLE)))"

  /** DuckDB mirror of TextAnalysis.tokens. */
  private[registry] val TOKENS_SQL = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** Positional (non-distinct) word bigrams/trigrams over a bound token
    * list `tk` — the ONE spelling of the n-gram transform every oracle
    * composes (VERDICT r11 item 6: repeated CTE text invites a
    * half-updated tokenization tweak; a named builder cannot drift). */
  private[registry] val POS_BIGRAM_SQL =
    "list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])"

  private[registry] val POS_TRIGRAM_SQL =
    "list_transform(range(1, len(tk) - 1), " +
      "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])"

  private[registry] val BIGRAM_SQL = s"list_distinct($POS_BIGRAM_SQL)"

  private[registry] val TRIGRAM_SQL = s"list_distinct($POS_TRIGRAM_SQL)"

  /** The poly-MinHash affine coefficients as a DuckDB VALUES list — the
    * same [[graft.expressions.SignatureKernels.polyCoeffs]] constants the
    * Spark kernel uses (operator constants are part of the definition, so
    * the oracle embeds them verbatim — the q20/q54 plane-literal pattern). */
  private[registry] def polySeedsSql(numHashes: Int): String = {
    val (as, bs) = graft.expressions.SignatureKernels.polyCoeffs(numHashes)
    (0 until numHashes).map(j =>
      s"(${j}::BIGINT, ${as(j)}::BIGINT, ${bs(j)}::BIGINT)").mkString(", ")
  }

  /** Shared poly-MinHash oracle CTEs: shingled documents (`shf`: doc_id,
    * text, non-empty distinct bigram list) and the seed table. */
  private[registry] def polyBaseCtes(numHashes: Int): String =
    s"""WITH toks AS (SELECT doc_id, text, $TOKENS_SQL AS tk FROM documents),
       |sh0 AS (SELECT doc_id, text, $BIGRAM_SQL AS sg FROM toks),
       |shf AS (SELECT doc_id, text, sg FROM sh0 WHERE len(sg) > 0),
       |seeds(i, a, b) AS (VALUES ${polySeedsSql(numHashes)}),
       |""".stripMargin

  /** q58/q59 shared CTEs through the candidate-pair set: exact-dup
    * collapse (min-id representative per identical text — the SHA-256
    * grouping's SQL mirror), per-shingle charPolyHash, per-component
    * affine minima, contiguous band slices as list keys, the bucket-size
    * cap, and the distinct (id_a < id_b) band-join candidates. */
  private[registry] def polyCandCtes(numHashes: Int, bands: Int,
                                     maxBucketSize: Int): String = {
    val rows = numHashes / bands
    polyBaseCtes(numHashes) +
      s"""uniq AS (SELECT min(doc_id) AS doc_id FROM shf GROUP BY text),
         |usg AS (SELECT u.doc_id, s.sg FROM uniq u JOIN shf s ON u.doc_id = s.doc_id),
         |post AS (SELECT doc_id, unnest(sg) AS s FROM usg),
         |ph AS (SELECT doc_id, ${charPolySql("s")} AS h FROM post),
         |sig AS (
         |  SELECT doc_id, i, min((a*h + b) % 1000000007) AS m
         |  FROM ph CROSS JOIN seeds GROUP BY doc_id, i),
         |bandk AS (
         |  SELECT doc_id, i // $rows AS band, list(m ORDER BY i) AS bk
         |  FROM sig GROUP BY doc_id, band),
         |bsz AS (SELECT band, bk, count(*) AS n FROM bandk GROUP BY band, bk),
         |kept AS (
         |  SELECT k.doc_id, k.band, k.bk FROM bandk k
         |  JOIN bsz z ON k.band = z.band AND k.bk = z.bk AND z.n <= $maxBucketSize),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM kept a JOIN kept b
         |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |""".stripMargin
  }

  /** Shared q51/q53 oracle: exact-Jaccard pair graph → connected
    * components via a recursive transitive-closure CTE, labels = the
    * component minimum (mirror of [[graft.dedup.Dedup.dupClusters]]'
    * min-label fixpoint). */
  private[registry] lazy val DUP_CLUSTERS_SQL: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, source, $TOKENS_SQL AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, lang, source, $BIGRAM_SQL AS sg
       |  FROM toks WHERE len(tk) >= 2),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) /
       |    CAST(len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg)) AS DOUBLE)
       |      AS jaccard
       |  FROM sh a JOIN sh b
       |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
       |e AS (SELECT id_a, id_b FROM p WHERE jaccard >= 0.05),
       |sym AS (
       |  SELECT id_a AS a, id_b AS b FROM e
       |  UNION SELECT id_b, id_a FROM e),
       |reach AS (
       |  WITH RECURSIVE r(src, dst) AS (
       |    SELECT a, a FROM sym
       |    UNION
       |    SELECT r.src, s.b FROM r JOIN sym s ON r.dst = s.a)
       |  SELECT * FROM r)
       |SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src""".stripMargin

  /** Shared oracle CTEs: quantized embeddings + integer norms (the q19
    * formulation, factored for the LSH-path oracles). */
  private[registry] val EMB_CTE: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding::DOUBLE[],
      |    x -> CAST(round(x * 100000.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, v,
      |    CAST(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i])) AS BIGINT) AS nrm
      |  FROM e),
      |""".stripMargin
}
