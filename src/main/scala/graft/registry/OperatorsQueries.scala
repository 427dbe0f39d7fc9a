package graft
package registry

import graft.analytics.Dashboard
import graft.multimodal.MultiModal
import graft.operators.{AsOfJoin, RangeJoin, Salt, Sessionize, Upsert}
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The relational-operator rows: star/bucketed/salted/as-of/range joins,
  * upsert and latest-per-key, sessionization, funnels and attribution,
  * graph operators, set operators and grouping sets, and the multimodal
  * binary-column plumbing. */
object OperatorsQueries {

  import Tables.t
  import Shared._

  /** DuckDB: UTF-8 bytes of string expression `e` as a BIGINT list (byte i
    * recovered from the hex dump — DuckDB has no direct blob-byte indexing).
    * Mirrors what Spark-side binary operators see, so blob oracles stay
    * byte-exact for non-ASCII text too. */
  private def utf8BytesSql(e: String) =
    s"list_transform(range(1, octet_length(encode($e)) + 1), i -> " +
      s"CAST((strpos('0123456789ABCDEF', substr(hex(encode($e)), 2*i-1, 1)) - 1) * 16 " +
      s"+ strpos('0123456789ABCDEF', substr(hex(encode($e)), 2*i, 1)) - 1 AS BIGINT))"

  private lazy val MM_FEATURES_SQL: String =
    s"""WITH b AS (
       |  SELECT doc_id, n_chars, ${utf8BytesSql("text")} AS bytes
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(bytes) AS BIGINT) AS byte_len,
       |  CASE WHEN len(bytes) = 0 THEN -1 ELSE bytes[1] END AS first_byte,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), bytes),
       |    (a,x) -> (a*31+x) % 1000000007) AS content_fp,
       |  n_chars % 640 AS width,
       |  n_chars % 480 AS height,
       |  CAST(len(bytes) AS BIGINT) % 30 + 1 AS n_frames
       |FROM b""".stripMargin

  val queries: Seq[Query] = Seq(
    // J1-J4 broadcast star join + exact-decimal aggregates.
    Query("q02_star_join", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice", "l_discount")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val n = t(s, dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
      val r = t(s, dir, "region")
      val p = t(s, dir, "part").select("p_partkey")
      // Explicit broadcast ONLY for the fixed-cardinality dims (nation=25,
      // region=5). customer/supplier/part grow with the scale factor — a
      // broadcast hint on them would OOM executors at 100 TB; AQE picks
      // broadcast when they happen to be small (as at test SFs) and
      // shuffle joins when they are not.
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1d) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),
      Some("""SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY r_name, n_name""".stripMargin)),

    // S9 — conditional upsert merge of two keyed snapshots.
    Query("q08_upsert", ((s, dir) => {
      val ev = t(s, dir, "events")
      def snap(pred: Column): DataFrame = ev.where(pred)
        .groupBy("user_id", "event_type")
        .agg(max_by(col("value"), col("event_id")).as("value"),
          min(col("event_id")).as("created_id"),
          max(col("event_id")).as("updated_id"))
      val target = snap(col("event_id") % 3L < 2L)
      val updates = snap(col("event_id") % 3L === 2L)
      Upsert.upsert(Some(target), updates, Seq("user_id", "event_type"),
        compareCols = Seq("value"), createdCol = Some("created_id"))
    }),
      Some("""WITH old AS (
        |  SELECT user_id, event_type, arg_max(value, event_id) AS value,
        |    min(event_id) AS created_id, max(event_id) AS updated_id
        |  FROM events WHERE event_id % 3 < 2 GROUP BY user_id, event_type),
        |new AS (
        |  SELECT user_id, event_type, arg_max(value, event_id) AS value,
        |    min(event_id) AS created_id, max(event_id) AS updated_id
        |  FROM events WHERE event_id % 3 = 2 GROUP BY user_id, event_type)
        |SELECT
        |  COALESCE(t.user_id, u.user_id) AS user_id,
        |  COALESCE(t.event_type, u.event_type) AS event_type,
        |  CASE WHEN u.user_id IS NOT NULL AND (t.user_id IS NULL
        |         OR t.value IS DISTINCT FROM u.value)
        |       THEN u.value ELSE t.value END AS value,
        |  COALESCE(t.created_id, u.created_id) AS created_id,
        |  CASE WHEN u.user_id IS NOT NULL AND (t.user_id IS NULL
        |         OR t.value IS DISTINCT FROM u.value)
        |       THEN u.updated_id ELSE t.updated_id END AS updated_id
        |FROM old t FULL OUTER JOIN new u
        |  ON t.user_id = u.user_id AND t.event_type = u.event_type""".stripMargin)),

    // S10 — insert-if-absent (anti-join append).
    Query("q09_insert_if_absent", ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      val target = ev.where(col("event_id") % 4L =!= 0L)
      val updates = ev.where(col("event_id") % 4L === 0L)
      Upsert.insertIfAbsent(target, updates, Seq("user_id", "event_type"))
    }),
      Some("""SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id % 4 <> 0
        |UNION ALL
        |SELECT e.event_id, e.user_id, e.event_type, e.value
        |FROM events e
        |WHERE e.event_id % 4 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM events t
        |  WHERE t.event_id % 4 <> 0 AND t.user_id = e.user_id
        |    AND t.event_type = e.event_type)""".stripMargin)),

    // Latest-per-key via max_by (the upsert-shaped dedup, SURVEY.md §2.5).
    Query("q10_latest_per_key", ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("event_id"), col("value"), unix_timestamp(col("ts")).as("ts_epoch"))
      Upsert.latestPerKey(ev, Seq("user_id", "event_type"), col("event_id"))
    }),
      Some("""SELECT user_id, event_type,
        |  max(event_id) AS event_id,
        |  arg_max(value, event_id) AS value,
        |  arg_max(FLOOR(epoch(ts))::BIGINT, event_id) AS ts_epoch
        |FROM events GROUP BY user_id, event_type""".stripMargin)),

    // Window formulation of latest-per-key (row_number over key partition).
    Query("q14_window_latest", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("event_id"), col("value"))
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("event_id").desc)
      ev.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }),
      Some("""SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin)),

    // Spatial proximity self-join via GRID BUCKETING — the spatial
    // sibling of LSH candidate generation: points land in coarse grid
    // cells, one side explodes to its 3×3 neighborhood, candidates come
    // from the cell equi-join (never all pairs), and the exact integer
    // squared-distance filter verifies. Cell size = radius guarantees
    // NO MISSES (two points within r are at most one cell apart on each
    // axis — the pigeonhole completeness argument SimHash banding uses).
    // Coordinates are synthetic integer (lat, lon) spread by the
    // mirrorable polynomial hash (a bare user_id % m would collapse ids
    // onto a tiny lattice of coincident points, and coincident points
    // make every co-located pair match — quadratic output that says
    // nothing about the grid); the hash spread keeps expected per-cell
    // density uniform, so the candidate:output ratio stays the bounded
    // 9-cell constant.
    Query("q107_spatial_pairs", ((s, dir) => {
      val r2 = 100L // radius² — radius 10 units
      val cell = 10L // = radius: the no-miss grid size
      def coord(prefix: String): Column =
        TextAnalysis.charPolyHash(
          concat(lit(prefix), col("user_id").cast("string"))) % 100L
      val pts = t(s, dir, "events")
        .select(col("user_id")).distinct()
        .select(col("user_id").as("id"),
          coord("lat_").as("lat"), coord("lon_").as("lon"))
      val a = pts.select(col("id").as("id_a"), col("lat").as("lat_a"),
          col("lon").as("lon_a"),
          expr(s"lat DIV ${cell}L").as("cx"), expr(s"lon DIV ${cell}L").as("cy"))
        .select(col("id_a"), col("lat_a"), col("lon_a"),
          explode(expr("sequence(cx - 1, cx + 1)")).as("cx"), col("cy"))
        .select(col("id_a"), col("lat_a"), col("lon_a"), col("cx"),
          explode(expr("sequence(cy - 1, cy + 1)")).as("cy"))
      val b = pts.select(col("id").as("id_b"), col("lat").as("lat_b"),
        col("lon").as("lon_b"),
        expr(s"lat DIV ${cell}L").as("cx"), expr(s"lon DIV ${cell}L").as("cy"))
      val d2 = (col("lat_a") - col("lat_b")) * (col("lat_a") - col("lat_b")) +
        (col("lon_a") - col("lon_b")) * (col("lon_a") - col("lon_b"))
      // B keeps its ONE home cell while A explodes to 9, so a qualifying
      // pair matches in exactly one (cx, cy) — no dedup pass needed
      a.join(b, Seq("cx", "cy"))
        .where(col("id_a") < col("id_b") && d2 <= lit(r2))
        .select(col("id_a"), col("id_b"), d2.as("dist2"))
    }),
      // The oracle is the NAIVE all-pairs filter — the grid path hashes
      // equal only if its candidate neighborhood misses nothing, which is
      // the completeness claim under test.
      Some(s"""WITH ids AS (SELECT DISTINCT user_id AS id FROM events),
         |pts AS (
         |  SELECT id,
         |    ${charPolySql("('lat_' || CAST(id AS VARCHAR))")} % 100 AS lat,
         |    ${charPolySql("('lon_' || CAST(id AS VARCHAR))")} % 100 AS lon
         |  FROM ids),
         |p AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    (a.lat - b.lat)*(a.lat - b.lat)
         |      + (a.lon - b.lon)*(a.lon - b.lon) AS dist2
         |  FROM pts a JOIN pts b ON a.id < b.id)
         |SELECT id_a, id_b, dist2 FROM p WHERE dist2 <= 100""".stripMargin)),

    // Debounce / consecutive-duplicate suppression — the event-stream
    // cleaning primitive (a retrying client fires the same event a few
    // seconds apart; training pipelines keep one): q44's gap
    // sessionization keyed by (user, event_type) with a 60 s gap, each
    // burst collapsed to its span and a suppressed count. The window
    // partitions by the high-cardinality user key; the collapse is one
    // partitioning-aligned aggregate.
    Query("q146_debounce", ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("event_id"), unix_timestamp(col("ts")).as("ts_epoch"))
      Sessionize.assignSessions(ev, Seq("user_id", "event_type"),
          "ts_epoch", "event_id", gapSeconds = 60L)
        .groupBy("user_id", "event_type", "session_seq")
        .agg(min(col("ts_epoch")).as("first_ts"),
          max(col("ts_epoch")).as("last_ts"),
          count(lit(1)).as("n_events"),
          (count(lit(1)) - lit(1L)).as("n_suppressed"))
    }),
      // Mirrors q146: q44's session SQL keyed by (user_id, event_type)
      // with a 60 s gap, collapsed per session.
      Some("""WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |  FROM events),
        |lg AS (
        |  SELECT user_id, event_type, event_id, ts_epoch,
        |    lag(ts_epoch) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts_epoch ASC, event_id ASC) AS prev_ts
        |  FROM e),
        |ss AS (
        |  SELECT user_id, event_type, ts_epoch,
        |    CAST(sum(CASE WHEN prev_ts IS NULL OR ts_epoch - prev_ts > 60
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id, event_type
        |            ORDER BY ts_epoch ASC, event_id ASC
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM lg)
        |SELECT user_id, event_type, session_seq,
        |  min(ts_epoch) AS first_ts, max(ts_epoch) AS last_ts,
        |  count(*) AS n_events, count(*) - 1 AS n_suppressed
        |FROM ss GROUP BY user_id, event_type, session_seq""".stripMargin)),

    // The whole-operator custom plan driven end-to-end: per-group
    // top-k as a FIRST-CLASS physical operator (plans/GroupTopKPlan —
    // logical node + planner Strategy + UnaryExecNode, injected via
    // GraftOptimizations.install, the §7.4(c) escalation layer).
    // GroupTopKExec declares ClusteredDistribution(group) + in-
    // partition (group, order) sort, so EnsureRequirements plans one
    // exchange + one sort and the exec is a streaming O(1)-state run
    // counter — no window, no per-group heap, nothing buffered.
    // Hash-checks against the row_number oracle; physical-plan shape
    // and groupTopK parity pinned in GroupTopKPhysicalSpec.
    Query("q155_group_topk_exec", ((s, dir) => {
      val iso = s.newSession()
      graft.plans.GraftOptimizations.install(iso)
      val docs = t(iso, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      graft.plans.GroupTopKPlan.topK(docs, Seq("lang", "source"),
        Seq("n_chars" -> false, "doc_id" -> true), k = 3)
    }),
      // Mirrors q155: the independent row_number spelling of the custom
      // exec's top-k contract.
      Some("""WITH r AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY lang, source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, source, n_chars FROM r WHERE rn <= 3""".stripMargin)),

    // Set-operator family — INTERSECT / EXCEPT in both SQL-standard
    // DISTINCT and bag (ALL) semantics over two deterministic event
    // slices. Spark's intersect/except desugar to aggregates and
    // left-anti/left-semi joins; the four cardinalities in one output
    // pin the distinct-vs-multiplicity contract (bag counts exceed set
    // counts exactly by the duplicate mass).
    Query("q154_set_ops", ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.where(col("user_id") % 3L === 0L).select("user_id")
      val b = ev.where(col("user_id") % 2L === 0L).select("user_id")
      def n(label: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n")).select(lit(label).as("op"), col("n"))
      n("intersect", a.intersect(b))
        .unionByName(n("intersect_all", a.intersectAll(b)))
        .unionByName(n("except", a.except(b)))
        .unionByName(n("except_all", a.exceptAll(b)))
    }),
      // Mirrors q154: SQL-standard set-op semantics are the shared
      // contract — Spark's intersect/except(All) vs the operators
      // themselves.
      Some("""WITH a AS (SELECT user_id FROM events WHERE user_id % 3 = 0),
        |b AS (SELECT user_id FROM events WHERE user_id % 2 = 0)
        |SELECT 'intersect' AS op, count(*) AS n
        |  FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT 'intersect_all', count(*)
        |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |UNION ALL
        |SELECT 'except', count(*)
        |  FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT 'except_all', count(*)
        |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)""".stripMargin)),

    // GROUPING SETS — the last member of the multi-granularity family
    // (q07 rollup, q79 cube): an EXPLICIT set list {(type, hr), (type),
    // (hr)} that neither rollup nor cube can spell (cube would add the
    // grand total). One pass, grouping-id disambiguates the NULL-keyed
    // rows; sums ride q105's micro-unit integers so double formatting
    // and decimal-tie rounding never enter the hash.
    Query("q150_grouping_sets", ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        (floor(unix_timestamp(col("ts")) / lit(3600.0)) % lit(24L))
          .as("hr"),
        col("value"))
      ev.groupingSets(
          Seq(Seq(col("event_type"), col("hr")), Seq(col("event_type")),
            Seq(col("hr"))),
          col("event_type"), col("hr"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long"))
            .as("sum_value_micro"),
          (grouping(col("event_type")) * 2 + grouping(col("hr")))
            .cast("long").as("gid"))
    }),
      // Mirrors q150: explicit GROUPING SETS with the grouping-id
      // disambiguator; micro-unit integer sums (q105 discipline).
      Some("""WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(FLOOR(epoch(ts))::BIGINT / 3600.0) AS BIGINT) % 24
        |      AS hr,
        |    value
        |  FROM events)
        |SELECT event_type, hr, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_value_micro,
        |  CAST(GROUPING(event_type)*2 + GROUPING(hr) AS BIGINT) AS gid
        |FROM e
        |GROUP BY GROUPING SETS ((event_type, hr), (event_type), (hr))""".stripMargin)),

    // Event-type transition matrix — first-order sequence mining over
    // the event log (the Markov-chain / user-path primitive): per-user
    // (previous type → type) successor pairs with occurrence and
    // distinct-user counts. One lag window partitioned by
    // high-cardinality user_id (ordered by epoch + event_id tiebreak),
    // then a map-side-combined pair aggregate — no self-join, one
    // shuffle each.
    Query("q129_transitions", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts_epoch"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n_transitions"),
          countDistinct(col("user_id")).as("n_users"))
    }),
      Some("""WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |  FROM events),
        |lagged AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_epoch ASC, event_id ASC) AS prev_type
        |  FROM e)
        |SELECT prev_type, event_type AS next_type,
        |  count(*) AS n_transitions,
        |  count(DISTINCT user_id) AS n_users
        |FROM lagged WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type""".stripMargin)),

    // PageRank centrality over the stop-transition graph (consecutive
    // stops within a trip — the q129 edge discipline, here on stop
    // nodes): which stops sit on the most-travelled-through paths. The
    // operator (operators/PageRank) is the canonical iterative
    // join+agg, made hash-checkable by FIXED-POINT integer arithmetic —
    // double-sum PageRank is shuffle-order-dependent and could never be
    // oracle-hashed; the 1e-12-unit BIGINT spelling is exact in both
    // engines, so the oracle unrolls the identical 3 iterations.
    Query("q134_stop_pagerank", ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("event_id DIV 100 AS trip", "event_id % 100 AS seq",
          "user_id")
      val edges = ev.as("a").join(ev.as("b"),
          col("a.trip") === col("b.trip") &&
            col("a.seq") + 1 === col("b.seq"))
        .groupBy(col("a.user_id").as("src"), col("b.user_id").as("dst"))
        .agg(count(lit(1)).as("weight"))
      graft.operators.PageRank
        .fixedPoint(edges, "src", "dst", "weight", iters = 3)
        .withColumnRenamed("node", "stop_id")
    }),
      // the oracle unrolls the SAME 3 fixed-point iterations — every
      // operation is integer-exact, so the hash match pins the whole
      // iterative computation, not just its shape
      Some("""WITH ev AS (
        |  SELECT event_id // 100 AS trip, event_id % 100 AS seq, user_id
        |  FROM events),
        |e AS (
        |  SELECT a.user_id AS src, b.user_id AS dst, count(*) AS w
        |  FROM ev a JOIN ev b ON a.trip = b.trip AND a.seq + 1 = b.seq
        |  GROUP BY a.user_id, b.user_id),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |c0 AS (
        |  SELECT 1000000000000 // count(*) AS r0,
        |    (15 * (1000000000000 // count(*))) // 100 AS base
        |  FROM n),
        |ow AS (SELECT src, sum(w) AS wtot FROM e GROUP BY src),
        |rt0 AS (SELECT node, r0 AS r FROM n CROSS JOIN c0),
        |s1 AS (
        |  SELECT e.dst, sum((r.r * e.w) // ow.wtot) AS s
        |  FROM e JOIN rt0 r ON e.src = r.node JOIN ow ON e.src = ow.src
        |  GROUP BY e.dst),
        |rt1 AS (
        |  SELECT n.node, base + (85 * COALESCE(s1.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN s1 ON n.node = s1.dst CROSS JOIN c0),
        |s2 AS (
        |  SELECT e.dst, sum((r.r * e.w) // ow.wtot) AS s
        |  FROM e JOIN rt1 r ON e.src = r.node JOIN ow ON e.src = ow.src
        |  GROUP BY e.dst),
        |rt2 AS (
        |  SELECT n.node, base + (85 * COALESCE(s2.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN s2 ON n.node = s2.dst CROSS JOIN c0),
        |s3 AS (
        |  SELECT e.dst, sum((r.r * e.w) // ow.wtot) AS s
        |  FROM e JOIN rt2 r ON e.src = r.node JOIN ow ON e.src = ow.src
        |  GROUP BY e.dst),
        |rt3 AS (
        |  SELECT n.node, base + (85 * COALESCE(s3.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN s3 ON n.node = s3.dst CROSS JOIN c0)
        |SELECT node AS stop_id, CAST(r AS BIGINT) AS pr_fp,
        |  CAST(r AS DOUBLE) / CAST(1000000000000 AS DOUBLE) AS pagerank
        |FROM rt3""".stripMargin)),

    // 2-D Pareto frontier (operators/Skyline): orders no other order
    // both postdates AND out-prices — the non-dominated set when two
    // desiderata don't collapse into one score. Per-x max aggregate →
    // local-prune + exact cummax scan (the groupTopK pigeonhole with
    // cummax) → broadcast frontier join-back; the corpus never sorts
    // globally and never self-joins. Oracle is an independent NOT
    // EXISTS dominance spelling over the per-date maxima.
    Query("q126_pareto_frontier", ((s, dir) =>
      graft.operators.Skyline.frontier2D(
        t(s, dir, "orders").select(col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("order_epoch"),
          col("o_totalprice")),
        "order_epoch", "o_totalprice")),
      // INDEPENDENT spelling (not an op-mirror): NOT EXISTS dominance over
      // the per-date maxima — equivalent because a row below its date's
      // max price is dominated at its own date, and frontier dates are
      // exactly those no later date matches-or-beats.
      Some("""WITH o AS (
        |  SELECT o_orderkey, FLOOR(epoch(o_orderdate))::BIGINT AS order_epoch,
        |    o_totalprice
        |  FROM orders),
        |g AS (
        |  SELECT order_epoch, max(o_totalprice) AS ymax
        |  FROM o GROUP BY order_epoch),
        |fx AS (
        |  SELECT order_epoch, ymax FROM g a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM g b
        |    WHERE b.order_epoch > a.order_epoch AND b.ymax >= a.ymax))
        |SELECT o.o_orderkey, o.order_epoch, o.o_totalprice
        |FROM o JOIN fx ON o.order_epoch = fx.order_epoch
        |  AND o.o_totalprice = fx.ymax""".stripMargin)),

    // The BUILT-IN session_window sessionization (vs q44's window-sum
    // Sessionize): grouping by the gap-merged session window directly.
    // Boundary semantics differ from q44 — session_window starts a NEW
    // session at exactly gap distance (diff >= gap) where Sessionize
    // continues (diff > gap) — so the oracle encodes the >= rule.
    // Event times are truncated to whole seconds on both sides first.
    Query("q82_session_window", ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        timestamp_seconds(unix_timestamp(col("ts"))).as("tss"))
      ev.groupBy(col("user_id"), session_window(col("tss"), "1800 seconds"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("start_epoch"),
          unix_timestamp(col("session_window.end")).as("end_epoch"),
          col("n_events"))
    }),
      Some("""WITH e AS (
        |  SELECT user_id, FLOOR(epoch(ts))::BIGINT AS t FROM events),
        |m AS (
        |  SELECT user_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL
        |           OR t - lag(t) OVER w >= 1800 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (
        |  SELECT user_id, t,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(t) AS start_epoch,
        |  max(t) + 1800 AS end_epoch, count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin)),

    // Multimodal binary-column plumbing with stubbed (deterministic) decode.
    Query("q25_multimodal", ((s, dir) => {
      implicit val ss: SparkSession = s
      MultiModal.extractFeatures(
        MultiModal.mediaFromDocuments(t(s, dir, "documents"))).toDF()
    }),
      // q25 operates on the UTF-8 BYTES of the media blob (the Spark side
      // decodes binary), so the oracle folds over octets, not characters —
      // byte-exact for non-ASCII text too.
      Some(MM_FEATURES_SQL)),

    // The Arrow-batched multimodal path driven end-to-end: identical
    // features to q25, but extracted through per-partition Arrow
    // VectorSchemaRoot batches (the columnar decoder interface at scale).
    // Shares q25's oracle verbatim — byte-exact parity is the contract.
    Query("q56_multimodal_arrow", ((s, dir) => {
      implicit val ss: SparkSession = s
      MultiModal.extractFeaturesArrow(
        MultiModal.mediaFromDocuments(t(s, dir, "documents"))).toDF()
    }),
      // q56 extracts the identical features through Arrow batches — same
      // oracle, verbatim.
      Some(MM_FEATURES_SQL)),

    // PNG/JPEG header PARSE from real byte layouts (VERDICT r14 item 6)
    // — the decode stubs upgraded a notch without codecs: blobs carry a
    // genuine PNG signature+IHDR or JPEG SOI+APP0+SOF0 prefix, and the
    // parser reads width/height/bit-depth back by byte arithmetic alone
    // (fixed offsets for PNG; a marker SCAN for JPEG's SOF0, the way a
    // segment walker finds it). header_fp covers every blob byte, so
    // the oracle — which assembles the identical bytes and parses them
    // at the same offsets — breaks on any single-byte divergence in
    // either the builder or the reader.
    Query("q268_image_header_parse", ((s, dir) =>
      MultiModal.parseImageHeaders(
        MultiModal.imageHeaderBlobs(t(s, dir, "documents")))),
      // Mirrors q268: assemble the identical PNG/JPEG header hex (DuckDB
      // slices blobs only through their hex image, so the oracle works in
      // hex space throughout — byte k lives at hex chars 2k+1..2k+2), then
      // parse at the same offsets: PNG fixed, JPEG via the FFC0 scan; the
      // charPoly fingerprint over the full hex pins byte-exact builder
      // parity.
      Some((s"""WITH m AS (
         |  SELECT doc_id,
         |    (n_chars % 640) + 1 AS w, (n_chars % 480) + 1 AS h,
         |    CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 16 END AS d
         |  FROM documents),
         |hx0 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN
         |      '89504E470000000D49484452' ||
         |      lpad(upper(to_hex(w)), 8, '0') ||
         |      lpad(upper(to_hex(h)), 8, '0') ||
         |      lpad(upper(to_hex(d)), 2, '0') || '02000000'
         |    ELSE
         |      'FFD8FFE000104A46494600010100000100010000FFC0001108' ||
         |      lpad(upper(to_hex(h)), 4, '0') ||
         |      lpad(upper(to_hex(w)), 4, '0') ||
         |      '03012200021101031101'
         |    END AS hx
         |  FROM m),
         |p AS (
         |  SELECT doc_id, hx,
         |    ('0x' || substring(hx, 1, 8))::BIGINT = 2303741511 AS is_png,
         |    strpos(hx, 'FFC0') AS sof
         |  FROM hx0)
         |SELECT doc_id,
         |  CASE WHEN is_png THEN 'png'
         |       WHEN ('0x' || substring(hx, 1, 4))::BIGINT = 65496
         |         THEN 'jpeg' ELSE 'unknown' END AS fmt,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 33, 8))::BIGINT
         |       ELSE ('0x' || substring(hx, sof + 14, 4))::BIGINT
         |  END AS width,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 41, 8))::BIGINT
         |       ELSE ('0x' || substring(hx, sof + 10, 4))::BIGINT
         |  END AS height,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 49, 2))::BIGINT
         |       ELSE ('0x' || substring(hx, sof + 8, 2))::BIGINT
         |  END AS bit_depth,
         |  ${charPolySql("hx")} AS header_fp
         |FROM p""".stripMargin))),

    // The adversarial sibling (VERDICT r15 missing #3): JPEG blobs whose
    // APP1 payload embeds the FFC0 byte pair BEFORE the true SOF0 — the
    // blob a locate()-style marker scan mis-parses (it finds the decoy
    // and reads the APP1 payload as a frame header). parseImageHeaders
    // now WALKS segments by their declared lengths (MultiModal
    // .sofHexPos — a bounded when/otherwise hop chain, mirrored in the
    // oracle as chained CASE hops), so both engines land on the true
    // SOF0; width/height/bit_depth and the full-blob header_fp
    // hash-check. q268's own oracle still finds SOF0 by strpos — on
    // decoy-free blobs scan ≡ walk, which doubles as the walk's
    // regression pin there.
    Query("q268b_jpeg_segment_walk", ((s, dir) =>
      MultiModal.parseImageHeaders(
        MultiModal.imageHeaderBlobsAdversarial(t(s, dir, "documents")))),
      // Mirrors q268b: the identical adversarial blob assembly (APP1
      // payload opening with an FFC0 decoy), and the SAME bounded segment
      // walk as chained CASE hops — pos0 = 5 (first marker after SOI in
      // 1-based hex chars), each hop stops on FFC0 or advances 4 + 2·L
      // hex chars past the declared segment length. strpos would find the
      // decoy at char 49; the walk lands on the true SOF0 at 61.
      Some((s"""WITH m AS (
         |  SELECT doc_id,
         |    (n_chars % 640) + 1 AS w, (n_chars % 480) + 1 AS h,
         |    CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 16 END AS d
         |  FROM documents),
         |hx0 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN
         |      '89504E470000000D49484452' ||
         |      lpad(upper(to_hex(w)), 8, '0') ||
         |      lpad(upper(to_hex(h)), 8, '0') ||
         |      lpad(upper(to_hex(d)), 2, '0') || '02000000'
         |    ELSE
         |      'FFD8FFE000104A46494600010100000100010000' ||
         |      'FFE10008FFC0' || lpad(upper(to_hex(h)), 4, '0') || '0000' ||
         |      'FFC0001108' ||
         |      lpad(upper(to_hex(h)), 4, '0') ||
         |      lpad(upper(to_hex(w)), 4, '0') ||
         |      '03012200021101031101'
         |    END AS hx
         |  FROM m),
         |w0 AS (SELECT doc_id, hx, 5::BIGINT AS pos FROM hx0),
         |w1 AS (SELECT doc_id, hx,
         |  CASE WHEN substring(hx, pos::INT, 4) = 'FFC0' THEN pos
         |       ELSE pos + 4 + 2 * TRY_CAST(
         |         '0x' || substring(hx, pos::INT + 4, 4) AS BIGINT) END
         |  AS pos FROM w0),
         |w2 AS (SELECT doc_id, hx,
         |  CASE WHEN substring(hx, pos::INT, 4) = 'FFC0' THEN pos
         |       ELSE pos + 4 + 2 * TRY_CAST(
         |         '0x' || substring(hx, pos::INT + 4, 4) AS BIGINT) END
         |  AS pos FROM w1),
         |w3 AS (SELECT doc_id, hx,
         |  CASE WHEN substring(hx, pos::INT, 4) = 'FFC0' THEN pos
         |       ELSE pos + 4 + 2 * TRY_CAST(
         |         '0x' || substring(hx, pos::INT + 4, 4) AS BIGINT) END
         |  AS pos FROM w2),
         |p AS (
         |  SELECT doc_id, hx, pos AS sof,
         |    ('0x' || substring(hx, 1, 8))::BIGINT = 2303741511 AS is_png
         |  FROM w3)
         |SELECT doc_id,
         |  CASE WHEN is_png THEN 'png'
         |       WHEN ('0x' || substring(hx, 1, 4))::BIGINT = 65496
         |         THEN 'jpeg' ELSE 'unknown' END AS fmt,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 33, 8))::BIGINT
         |       ELSE ('0x' || substring(hx, sof::INT + 14, 4))::BIGINT
         |  END AS width,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 41, 8))::BIGINT
         |       ELSE ('0x' || substring(hx, sof::INT + 10, 4))::BIGINT
         |  END AS height,
         |  CASE WHEN is_png THEN ('0x' || substring(hx, 49, 2))::BIGINT
         |       ELSE ('0x' || substring(hx, sof::INT + 8, 2))::BIGINT
         |  END AS bit_depth,
         |  ${charPolySql("hx")} AS header_fp
         |FROM p""".stripMargin))),

    // Bucketed co-located join: both sides of the user_id join (and both
    // aggregations) read one bucketed table, so the plan has NO shuffle
    // before the join — the pre-partitioning scale path for repeated joins
    // on the same key (at 100 TB this is the difference between reading
    // co-located buckets and re-shuffling the fact table every query).
    Query("q33_bucketed_join", ((s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      s.sql("DROP TABLE IF EXISTS ev_bucketed")
      // The in-memory catalog forgets tables across JVMs but the warehouse
      // directory persists — clear the location or saveAsTable refuses.
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "ev_bucketed")
      loc.getFileSystem(s.sessionState.newHadoopConf()).delete(loc, true)
      ev.write.mode("overwrite").format("parquet")
        .bucketBy(8, "user_id").sortBy("user_id").saveAsTable("ev_bucketed")
      val a = s.table("ev_bucketed").groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          Dashboard.exactAvg(col("value")).as("avg_value"))
      val b = s.table("ev_bucketed").where(col("event_type") === "click")
        .groupBy("user_id").agg(count(lit(1)).as("n_clicks"))
      a.join(b, Seq("user_id"), "left")
        .select(col("user_id"), col("n_events"), col("avg_value"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
    }),
      Some(s"""WITH a AS (
         |  SELECT user_id, count(*) AS n_events,
         |    ${exactAvgSql("value")} AS avg_value
         |  FROM events GROUP BY user_id),
         |b AS (
         |  SELECT user_id, count(*) AS n_clicks FROM events
         |  WHERE event_type = 'click' GROUP BY user_id)
         |SELECT a.user_id, a.n_events, a.avg_value,
         |  COALESCE(b.n_clicks, 0) AS n_clicks
         |FROM a LEFT JOIN b ON a.user_id = b.user_id""".stripMargin)),

    // Skew-salting join at driver level: the events fact (probe, salted by
    // content hash) joined to a per-user dimension replicated ×buckets —
    // row-identical to the unsalted join, so the plain-SQL oracle
    // hash-checks it. The declarative fallback for hot keys AQE's skew
    // split can't fix (power-law ids concentrating one reducer).
    Query("q39_salted_join", ((s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val dim = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("user_events"))
      Salt.saltedJoin(ev, dim, Seq("user_id"), buckets = 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("user_events")).as("sum_user_events"),
          Dashboard.exactAvg(col("value")).as("avg_value"))
    }),
      Some(s"""WITH dim AS (
         |  SELECT user_id, count(*) AS user_events FROM events GROUP BY user_id)
         |SELECT e.event_type, count(*) AS n,
         |  CAST(sum(d.user_events) AS BIGINT) AS sum_user_events,
         |  ${exactAvgSql("value")} AS avg_value
         |FROM events e JOIN dim d ON e.user_id = d.user_id
         |GROUP BY e.event_type""".stripMargin)),

    // Gap-based sessionization: one shuffle, two shared-frame windows
    // (lag + running sum), deterministic tie-breaks — the visits/episodes
    // grouping every event pipeline needs.
    Query("q44_sessionize", ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ts_epoch"))
      Sessionize.assignSessions(ev, Seq("user_id"), "ts_epoch", "event_id",
        gapSeconds = 1800L)
    }),
      Some("""SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |  CAST(sum(CASE WHEN prev_ts IS NULL
        |                  OR FLOOR(epoch(ts))::BIGINT - prev_ts > 1800
        |                THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id
        |          ORDER BY FLOOR(epoch(ts))::BIGINT ASC, event_id ASC
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    lag(FLOOR(epoch(ts))::BIGINT) OVER (PARTITION BY user_id
        |      ORDER BY FLOOR(epoch(ts))::BIGINT ASC, event_id ASC) AS prev_ts
        |  FROM events)""".stripMargin)),

    // Multimodal frame sampling: 1→N generator over fixed-size frames of
    // the blob, every 2nd frame kept, per-frame fingerprint.
    Query("q34_frame_sample", ((s, dir) => {
      implicit val ss: SparkSession = s
      MultiModal.sampleFrames(
        MultiModal.mediaFromDocuments(t(s, dir, "documents")), step = 2).toDF()
    }),
      // q40_peak_hours_approx: intentionally no oracle — the HLL estimate is
      // engine-defined (rows-only check; tolerance pinned in DashboardSpec).
      Some(s"""WITH b AS (
         |  SELECT doc_id, ${utf8BytesSql("text")} AS bytes FROM documents),
         |f AS (
         |  SELECT doc_id, bytes,
         |    unnest(list_filter(range(0,
         |      CAST(ceil(len(bytes) / 32.0) AS BIGINT)), i -> i % 2 = 0)) AS frame_idx
         |  FROM b),
         |g AS (
         |  SELECT doc_id, frame_idx,
         |    list_slice(bytes, frame_idx * 32 + 1,
         |      least(frame_idx * 32 + 32, len(bytes))) AS fb
         |  FROM f)
         |SELECT doc_id, frame_idx,
         |  CAST(len(fb) AS BIGINT) AS frame_len,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), fb),
         |    (a,x) -> (a*31+x) % 1000000007) AS frame_fp
         |FROM g""".stripMargin)),

    // Multimodal resize: per-row downsample of the blob + scaled dims.
    Query("q35_resize", ((s, dir) => {
      implicit val ss: SparkSession = s
      MultiModal.resizeStub(
        MultiModal.mediaFromDocuments(t(s, dir, "documents")), factor = 3).toDF()
    }),
      Some(s"""WITH b AS (
         |  SELECT doc_id, n_chars, ${utf8BytesSql("text")} AS bytes
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_chars,
         |    list_transform(range(0, CAST(ceil(len(bytes) / 3.0) AS BIGINT)),
         |      i -> bytes[i * 3 + 1]) AS sampled
         |  FROM b)
         |SELECT doc_id,
         |  (n_chars % 640) // 3 AS width,
         |  (n_chars % 480) // 3 AS height,
         |  CAST(len(sampled) AS BIGINT) AS out_len,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sampled),
         |    (a,x) -> (a*31+x) % 1000000007) AS out_fp
         |FROM r""".stripMargin)),

    // As-of join: each click gets the user's latest purchase at-or-before
    // it — the temporal-attach operator (trade←quote, event←state). ONE
    // shuffle (union + window sweep, AsOfJoinSpec pins the plan), no
    // range-join explosion; oracle is DuckDB's native ASOF LEFT JOIN.
    // The right side is pre-aggregated to one row per (user, second) so
    // the tie-free contract holds on both engines.
    Query("q69_asof_join", ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts")).as("p_epoch"),
          col("value"))
        .groupBy("user_id", "p_epoch").agg(max("value").as("purchase_value"))
      AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts_epoch", "p_epoch",
        matchedTimeCol = "purchase_epoch")
    }),
      Some("""SELECT l.user_id, l.event_id, l.ts_epoch,
        |  r.purchase_value, r.p_epoch AS purchase_epoch
        |FROM (SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |      FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (
        |  SELECT user_id, FLOOR(epoch(ts))::BIGINT AS p_epoch,
        |    max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r
        |ON l.user_id = r.user_id AND l.ts_epoch >= r.p_epoch""".stripMargin)),

    // Range join: clicks within ±1 h of each error event per user —
    // bucketized to an equi-join on (user, bucket) with bounded interval
    // replication (RangeJoinSpec pins the no-nested-loop plan); the
    // oracle is the naive BETWEEN join DuckDB runs as an IEJoin.
    Query("q70_range_join", ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_timestamp(col("ts")).as("click_epoch"))
      val errors = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          (unix_timestamp(col("ts")) - 3600L).as("lo"),
          (unix_timestamp(col("ts")) + 3600L).as("hi"))
      RangeJoin.pointInInterval(clicks, errors, Seq("user_id"),
          "click_epoch", "lo", "hi", bucketWidth = 7200L)
        .select("user_id", "error_id", "click_id", "click_epoch")
    }),
      Some("""SELECT c.user_id, e.event_id AS error_id, c.event_id AS click_id,
        |  c.click_epoch
        |FROM (SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS click_epoch
        |      FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS err_epoch
        |      FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id
        | AND c.click_epoch BETWEEN e.err_epoch - 3600 AND e.err_epoch + 3600""".stripMargin)),

    // q69's FORWARD direction: the earliest purchase at-or-after each
    // click (time-to-conversion attach). Same one-shuffle union+window
    // sweep; the oracle flips DuckDB's ASOF inequality.
    Query("q85_asof_forward", ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts")).as("p_epoch"),
          col("value"))
        .groupBy("user_id", "p_epoch").agg(max("value").as("purchase_value"))
      AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts_epoch", "p_epoch",
        matchedTimeCol = "purchase_epoch", forward = true)
    }),
      Some("""SELECT l.user_id, l.event_id, l.ts_epoch,
        |  r.purchase_value, r.p_epoch AS purchase_epoch
        |FROM (SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |      FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (
        |  SELECT user_id, FLOOR(epoch(ts))::BIGINT AS p_epoch,
        |    max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) r
        |ON l.user_id = r.user_id AND l.ts_epoch <= r.p_epoch""".stripMargin)),

    // Ordered conversion funnel over the event stream (Funnel.userStages
    // — shared with FunnelSpec so the staging rule cannot drift): one
    // hash aggregate with conditional mins, one tiny stage rollup; never
    // a self-join per stage. Integer epochs end-to-end.
    Query("q93_funnel", ((s, dir) =>
      graft.analytics.Funnel.userStages(t(s, dir, "events"), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase"))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))),
      Some("""WITH pu AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view'
        |      THEN FLOOR(epoch(ts))::BIGINT END) AS v,
        |    min(CASE WHEN event_type = 'click'
        |      THEN FLOOR(epoch(ts))::BIGINT END) AS c,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN FLOOR(epoch(ts))::BIGINT END) AS p
        |  FROM events GROUP BY user_id),
        |st AS (
        |  SELECT CAST(CASE
        |    WHEN v IS NOT NULL AND c IS NOT NULL AND p IS NOT NULL
        |      AND v <= c AND c <= p THEN 3
        |    WHEN v IS NOT NULL AND c IS NOT NULL AND v <= c THEN 2
        |    WHEN v IS NOT NULL THEN 1
        |    ELSE 0 END AS BIGINT) AS stage
        |  FROM pu)
        |SELECT stage, count(*) AS n_users FROM st GROUP BY stage""".stripMargin)),

    // Weekly cohort retention: cohort = ISO week of a user's first event;
    // retention(k) = users active in cohort-week + k over cohort size.
    // ONE events scan: per-user distinct weeks collect in one shuffle
    // (bounded by the corpus timespan in weeks), the exploded
    // (cohort, offset) counts land in a TINY frame that is
    // localCheckpoint-pinned so its two consumers don't re-run the big
    // aggregation — and cohort_size needs no second pass at all: every
    // user is active in their own cohort week, so size = n_active at
    // offset 0.
    Query("q94_cohort_retention", ((s, dir) => {
      val perUser = t(s, dir, "events")
        .select(col("user_id"),
          unix_timestamp(date_trunc("week", col("ts"))).as("wk"))
        .groupBy("user_id")
        .agg(min(col("wk")).as("cohort"), collect_set(col("wk")).as("wks"))
      val ret = perUser
        .select(col("cohort"), explode(col("wks")).as("wk"))
        .groupBy(col("cohort"),
          expr("(wk - cohort) DIV 604800").as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .localCheckpoint()
      val sizes = ret.where(col("week_offset") === 0L)
        .select(col("cohort"), col("n_active").as("cohort_size"))
      ret.join(broadcast(sizes), "cohort")
        .select(col("cohort"), col("week_offset"), col("n_active"),
          col("cohort_size"),
          (col("n_active").cast("double") / col("cohort_size").cast("double"))
            .as("retention"))
    }),
      Some("""WITH act AS (
        |  SELECT DISTINCT user_id,
        |    FLOOR(epoch(date_trunc('week', ts)))::BIGINT AS wk
        |  FROM events),
        |fw AS (SELECT user_id, min(wk) AS cohort FROM act GROUP BY user_id),
        |sz AS (SELECT cohort, count(*) AS cohort_size FROM fw GROUP BY cohort),
        |ret AS (
        |  SELECT f.cohort, (a.wk - f.cohort) // 604800 AS week_offset,
        |    count(*) AS n_active
        |  FROM act a JOIN fw f USING (user_id)
        |  GROUP BY f.cohort, week_offset)
        |SELECT r.cohort, r.week_offset, r.n_active, s.cohort_size,
        |  CAST(r.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
        |    AS retention
        |FROM ret r JOIN sz s USING (cohort)""".stripMargin)),

    // Exact triangle counting (operators/Graph.triangleCounts) — the
    // clustering-structure census over the trip-sequence co-travel
    // graph (same synthetic edge derivation as q134's PageRank). The
    // degree-ordered wedge algorithm: orient each undirected edge from
    // its lower-(degree,id) endpoint, self-join oriented edges on the
    // shared low vertex, close each wedge against the edge set — each
    // triangle found exactly once, wedge fanout bounded by oriented
    // out-degree (≤ O(√m)) instead of raw degree, which is what keeps
    // the star-node hub from exploding the join at 100 TB. All-integer:
    // ids, degrees, counts — nothing to drift.
    Query("q168_triangles", ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("event_id DIV 100 AS trip", "event_id % 100 AS seq",
          "user_id")
      val edges = ev.as("a").join(ev.as("b"),
          col("a.trip") === col("b.trip") &&
            col("a.seq") + 1 === col("b.seq"))
        .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      graft.operators.Graph.triangleCounts(edges, "src", "dst")
    }),
      // Mirrors q168: identical edge derivation (the q134 CTE), identical
      // degree orientation, wedge join and closure — integer-only.
      Some("""WITH ev AS (
        |  SELECT event_id // 100 AS trip, event_id % 100 AS seq, user_id
        |  FROM events),
        |e0 AS (
        |  SELECT a.user_id AS s, b.user_id AS d
        |  FROM ev a JOIN ev b ON a.trip = b.trip AND a.seq + 1 = b.seq),
        |und AS (
        |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |  FROM e0 WHERE s <> d),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY node),
        |ori AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
        |         THEN und.a ELSE und.b END AS lo,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
        |         THEN und.b ELSE und.a END AS hi
        |  FROM und
        |  JOIN deg da ON da.node = und.a
        |  JOIN deg db ON db.node = und.b),
        |w AS (
        |  SELECT e1.lo AS x, e1.hi AS u, e2.hi AS v
        |  FROM ori e1 JOIN ori e2 ON e1.lo = e2.lo AND e1.hi < e2.hi),
        |tri AS (
        |  SELECT x, u, v FROM w JOIN und ON w.u = und.a AND w.v = und.b)
        |SELECT node, count(*) AS n_triangles
        |FROM (SELECT unnest([x, u, v]) AS node FROM tri)
        |GROUP BY node""".stripMargin)),

    // Bounded-depth BFS levels (operators/Graph.bfsLevels) — hop
    // distance from a fixed hub over the same co-travel graph: the
    // reachability / blast-radius primitive (how far does an incident
    // at this stop propagate?). Fixed depth bound = fixed join count =
    // shallow unrolled lineage (the q134 fixed-iteration discipline);
    // each round joins only the NEW frontier against the adjacency
    // list and anti-joins the visited set — the slim-frontier shape
    // that scales as ordinary shuffles. The oracle spells the same
    // traversal as a recursive CTE; min(level) per node is the
    // engine-independent contract.
    Query("q169_bfs_levels", ((s, dir) => {
      val ev = t(s, dir, "events")
        .selectExpr("event_id DIV 100 AS trip", "event_id % 100 AS seq",
          "user_id")
      val edges = ev.as("a").join(ev.as("b"),
          col("a.trip") === col("b.trip") &&
            col("a.seq") + 1 === col("b.seq"))
        .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      graft.operators.Graph.bfsLevels(edges, "src", "dst",
        source = 1L, maxDepth = 4)
    }),
      // Mirrors q169: the same graph symmetrized, a recursive CTE whose
      // UNION-dedup on (node, lvl) terminates at the lvl < 4 bound, then
      // min(lvl) per node — levels are small integers, exact everywhere.
      Some("""WITH RECURSIVE ev AS (
        |  SELECT event_id // 100 AS trip, event_id % 100 AS seq, user_id
        |  FROM events),
        |e0 AS (
        |  SELECT a.user_id AS s, b.user_id AS d
        |  FROM ev a JOIN ev b ON a.trip = b.trip AND a.seq + 1 = b.seq),
        |und AS (
        |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |  FROM e0 WHERE s <> d),
        |adj AS (
        |  SELECT a AS s, b AS d FROM und
        |  UNION ALL SELECT b, a FROM und),
        |bfs(node, lvl) AS (
        |  SELECT CAST(1 AS BIGINT), 0
        |  UNION
        |  SELECT adj.d, bfs.lvl + 1
        |  FROM bfs JOIN adj ON adj.s = bfs.node
        |  WHERE bfs.lvl < 4)
        |SELECT node, CAST(min(lvl) AS INT) AS level
        |FROM bfs GROUP BY node""".stripMargin)),

    // First-touch attribution — the session-level conversion readout
    // COMPOSED from the q44 sessionizer: per (user, session), the
    // entry event type (first by time, deterministic tiebreak) and
    // whether the session converted; rolled up per entry channel into
    // sessions / conversions / one-divide conversion rate. Everything
    // after the sessionizer is a bounded two-level aggregate — the
    // analytics query marketing teams actually run on the operator the
    // engine already proves.
    Query("q195_first_touch", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), unix_timestamp(col("ts")).as("ts_epoch"))
      val sess = Sessionize.assignSessions(ev, Seq("user_id"), "ts_epoch",
        "event_id", gapSeconds = 1800L)
      val first = Window.partitionBy("user_id", "session_seq")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
      val perSession = sess
        .withColumn("rn", row_number().over(first))
        .groupBy("user_id", "session_seq")
        .agg(max(when(col("rn") === 1, col("event_type"))).as("first_type"),
          max((col("event_type") === "purchase").cast("long"))
            .as("converted"))
      perSession.groupBy("first_type")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("converted")).as("n_converted"))
        .select(col("first_type"), col("n_sessions"), col("n_converted"),
          try_divide(col("n_converted").cast("double"),
            col("n_sessions").cast("double")).as("conversion_rate"))
    }),
      // Mirrors q195: the q44 session CTE, first-event pick, two-level
      // rollup, one divide.
      Some("""WITH s AS (
        |  SELECT user_id, event_id, event_type, ts_epoch,
        |    CAST(sum(CASE WHEN prev_ts IS NULL OR ts_epoch - prev_ts > 1800
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id
        |            ORDER BY ts_epoch ASC, event_id ASC
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM (
        |    SELECT user_id, event_id, event_type,
        |      FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |      lag(FLOOR(epoch(ts))::BIGINT) OVER (PARTITION BY user_id
        |        ORDER BY FLOOR(epoch(ts))::BIGINT ASC, event_id ASC)
        |        AS prev_ts
        |    FROM events)),
        |r AS (
        |  SELECT user_id, session_seq, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY ts_epoch ASC, event_id ASC) AS rn
        |  FROM s),
        |ps AS (
        |  SELECT r.user_id, r.session_seq,
        |    max(CASE WHEN r.rn = 1 THEN r.event_type END) AS first_type,
        |    max(CASE WHEN r.event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM r GROUP BY r.user_id, r.session_seq)
        |SELECT first_type, count(*) AS n_sessions,
        |  CAST(sum(converted) AS BIGINT) AS n_converted,
        |  CAST(sum(converted) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS conversion_rate
        |FROM ps GROUP BY first_type""".stripMargin)),

    // Linear multi-touch attribution — q195's fairness-corrected
    // sibling: every event in a CONVERTING session shares the credit
    // equally (1/n per event) instead of the first touch taking all of
    // it. Fractional credits are the float-sum trap; the mirrored
    // spelling quantizes each session's per-event credit to micro-units
    // ONCE (1e6 DIV n — integer division, identical everywhere) and
    // sums exact integers per channel; the displayed credit is one
    // divide at the end.
    Query("q196_linear_attribution", ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), unix_timestamp(col("ts")).as("ts_epoch"))
      val sess = Sessionize.assignSessions(ev, Seq("user_id"), "ts_epoch",
        "event_id", gapSeconds = 1800L)
      val stats = sess.groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_ev"),
          max((col("event_type") === "purchase").cast("long"))
            .as("converted"))
      sess.join(stats, Seq("user_id", "session_seq"))
        .where(col("converted") === 1L)
        .withColumn("credit_micro", expr("1000000 DIV n_ev"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit_micro")).as("credit_micro_total"))
        .withColumn("credit",
          col("credit_micro_total").cast("double") / lit(1000000.0))
    }),
      // Mirrors q196: the q44 session CTE, integer micro-credits
      // (1e6 DIV n), exact sums, one displayed divide.
      Some("""WITH s AS (
        |  SELECT user_id, event_id, event_type, ts_epoch,
        |    CAST(sum(CASE WHEN prev_ts IS NULL OR ts_epoch - prev_ts > 1800
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id
        |            ORDER BY ts_epoch ASC, event_id ASC
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM (
        |    SELECT user_id, event_id, event_type,
        |      FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |      lag(FLOOR(epoch(ts))::BIGINT) OVER (PARTITION BY user_id
        |        ORDER BY FLOOR(epoch(ts))::BIGINT ASC, event_id ASC)
        |        AS prev_ts
        |    FROM events)),
        |st AS (
        |  SELECT user_id, session_seq, count(*) AS n_ev,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM s GROUP BY user_id, session_seq)
        |SELECT s.event_type, count(*) AS n_touches,
        |  CAST(sum(1000000 // st.n_ev) AS BIGINT) AS credit_micro_total,
        |  CAST(sum(1000000 // st.n_ev) AS DOUBLE) / 1000000.0 AS credit
        |FROM s JOIN st
        |  ON s.user_id = st.user_id AND s.session_seq = st.session_seq
        |WHERE st.converted = 1
        |GROUP BY s.event_type""".stripMargin)),

    // Time-to-convert — per converting user, the seconds from their
    // FIRST 'view' to their first subsequent 'purchase' (the funnel
    // family's latency readout next to q93's stage counts): two
    // min-aggregates per user (commutative — shuffle-proof), an
    // integer difference, and the population's lower-median picked by
    // Rank.globalRank's two-pass distributed rank — the converters
    // frame is one row per converting USER, which grows with the data,
    // so the unpartitioned row_number window r15 flagged here was the
    // single-task scale shape; the two-pass rank produces identical
    // rank values (total order via the user_id tiebreak) and the
    // population count rides the rank output's pinned sorted pass as a
    // 1-row broadcast.
    Query("q198_time_to_convert", ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_type"), unix_timestamp(col("ts")).as("ep"))
      val per = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ep")))
          .as("first_view"))
      val purch = ev.where(col("event_type") === "purchase")
        .join(per, "user_id")
        .where(col("first_view").isNotNull && col("ep") >= col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(min(col("ep")).as("first_purchase"))
        .select(col("user_id"),
          (col("first_purchase") - col("first_view")).as("ttc_sec"))
      val ranked = graft.operators.Rank.globalRank(purch,
        Seq(col("ttc_sec").asc, col("user_id").asc), "rn")
      val tot = ranked.agg(count(lit(1)).as("n"))
      ranked
        .crossJoin(broadcast(tot))
        .where(col("rn") === expr("(n + 1) DIV 2"))
        .select(col("n").cast("long").as("n_converters"),
          col("ttc_sec").as("median_ttc_sec"))
    }),
      // Mirrors q198: commutative min-aggregates, integer latency, the
      // deterministic lower-median pick over the converters frame.
      Some("""WITH e AS (
        |  SELECT user_id, event_type, FLOOR(epoch(ts))::BIGINT AS ep
        |  FROM events),
        |fv AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ep END) AS first_view
        |  FROM e GROUP BY user_id),
        |tc AS (
        |  SELECT e.user_id,
        |    min(e.ep) - fv.first_view AS ttc_sec
        |  FROM e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'purchase' AND fv.first_view IS NOT NULL
        |    AND e.ep >= fv.first_view
        |  GROUP BY e.user_id, fv.first_view),
        |r AS (
        |  SELECT ttc_sec,
        |    row_number() OVER (ORDER BY ttc_sec ASC, user_id ASC) AS rn,
        |    count(*) OVER () AS n
        |  FROM tc)
        |SELECT CAST(n AS BIGINT) AS n_converters,
        |  ttc_sec AS median_ttc_sec
        |FROM r WHERE rn = (n + 1) // 2""".stripMargin)),
  )
}
