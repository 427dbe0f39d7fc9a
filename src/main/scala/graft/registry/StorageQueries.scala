package graft
package registry

import graft.analytics.Dashboard
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The storage rows: file-format round trips, partitioned layouts and
  * overwrites, compaction, checksums, malformed-input tolerance, CDC and
  * SCD2, and the data-quality audits that gate a publish. */
object StorageQueries {

  import Tables.t
  import Shared._

  /** q111/q118's NULL-safe full-row hash over events. EVERY column rides
    * the row encoding (an anti-entropy checksum that skips columns
    * declares diverged replicas in sync); NULLs take an explicit sentinel
    * on BOTH sides (concat_ws would silently drop the field AND its
    * separator — non-injective and diverging from the oracle's
    * NULL-propagating ||); the double renders through the micro-unit
    * integer channel (q105). The '|' delimiter must not occur in string
    * fields — true of this schema; escape before generalizing. */
  private def eventsRowHash: Column = {
    def f(c: Column): Column = coalesce(c, lit("<null>"))
    TextAnalysis.charPolyHash(concat_ws("|",
      f(col("event_id").cast("string")),
      f(col("user_id").cast("string")),
      f(col("event_type")),
      f(unix_timestamp(col("ts")).cast("string")),
      f(floor(col("value") * lit(1000000.0) + lit(0.5))
        .cast("long").cast("string")),
      f(col("props"))))
  }

  /** SQL mirror of [[eventsRowHash]]'s row string (pre-hash). */
  private lazy val EVENTS_ROW_SQL: String =
    """COALESCE(CAST(event_id AS VARCHAR), '<null>') || '|' ||
      |    COALESCE(CAST(user_id AS VARCHAR), '<null>') || '|' ||
      |    COALESCE(event_type, '<null>') || '|' ||
      |    COALESCE(CAST(FLOOR(epoch(ts))::BIGINT AS VARCHAR), '<null>') || '|' ||
      |    COALESCE(CAST(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
      |      AS VARCHAR), '<null>') || '|' ||
      |    COALESCE(props, '<null>')""".stripMargin

  /** q136's sequential bin plan (per-(event_type, day) "file" rows →
    * cumulative-DIV-500 bins) — shared by the q136 plan readout and the
    * q241 executed-compaction audit so the two oracles can never pack
    * apart. Ends with `b` (event_type, day_epoch, n_rows, bin). */
  private val COMPACT_PLAN_CTES: String =
    """WITH f AS (
      |  SELECT event_type,
      |    FLOOR(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
      |    count(*) AS n_rows
      |  FROM events GROUP BY 1, 2),
      |b AS (
      |  SELECT event_type, day_epoch, n_rows,
      |    CAST((sum(n_rows) OVER (PARTITION BY event_type
      |       ORDER BY day_epoch
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |       - n_rows) // 500 AS BIGINT) AS bin
      |  FROM f)
      |""".stripMargin

  val queries: Seq[Query] = Seq(
    // Order-independent table checksum — the anti-entropy primitive for
    // verifying replicas/migrations without moving data: every row
    // hashes through the mirrorable polynomial hash of its canonical
    // string form, and the checksum is the EXACT decimal sum of row
    // hashes (commutative — partitioning and row order cannot perturb
    // it; decimal(38,0) cannot overflow at any corpus size, where a
    // long sum would wrap silently around 1e12 rows). Emitted as a
    // string: both engines print a scale-0 decimal as a plain integer.
    Query("q111_table_checksum", ((s, dir) => {
      t(s, dir, "events")
        .select(eventsRowHash.as("h"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h").cast("decimal(38,0)")).cast("string").as("checksum"))
        .select(lit("events").as("table_name"), col("n_rows"),
          col("checksum"))
    }),
      Some(s"""WITH rs AS (
         |  SELECT $EVENTS_ROW_SQL AS r FROM events),
         |h AS (SELECT ${charPolySql("r")} AS h FROM rs)
         |SELECT 'events' AS table_name, count(*) AS n_rows,
         |  CAST(sum(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS checksum
         |FROM h""".stripMargin)),

    // Partition-scoped checksums — q111's anti-entropy primitive at the
    // granularity repair actually needs: one commutative checksum per
    // event_type partition, so two replicas that disagree localize the
    // divergence to the partitions to re-sync instead of "somewhere in
    // 100 TB". Same NULL-safe full-row hash, same order-independent
    // decimal sum — the per-partition sums add up to q111's total by
    // construction.
    Query("q118_partition_checksums", ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), eventsRowHash.as("h"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h").cast("decimal(38,0)")).cast("string").as("checksum"))
    }),
      Some(s"""WITH rs AS (
         |  SELECT event_type, $EVENTS_ROW_SQL AS r FROM events),
         |h AS (SELECT event_type, ${charPolySql("r")} AS h FROM rs)
         |SELECT event_type, count(*) AS n_rows,
         |  CAST(sum(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS checksum
         |FROM h GROUP BY event_type""".stripMargin)),

    // Compaction (OPTIMIZE) planner — the small-file coalescing pass
    // every streaming-ingested lake needs: per (event_type, day) "file"
    // row counts packed SEQUENTIALLY in day order into ~target-size
    // output bins (bin = pre-file cumulative DIV target). Sequential
    // packing — not first-fit-decreasing — because it PRESERVES the
    // clustering key: each output file covers a contiguous day range, so
    // min/max pruning on day survives the rewrite. Scale shape: the
    // window runs over FILE METADATA (one row per file, partitioned by
    // the table's partition column) — metadata-sized like a real
    // OPTIMIZE planner, never over data rows; the data movement it
    // plans is the bin-grouped rewrite, one shuffle keyed by bin.
    Query("q136_compaction_plan", ((s, dir) => {
      val files = t(s, dir, "events")
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(count(lit(1)).as("n_rows"))
      // rows per output file (bytes in production); the plan arithmetic
      // is Compaction.plan — ONE spelling shared with the q241 executor
      graft.operators.Compaction.plan(files, "event_type", "day_epoch",
          targetRows = 500L)
        .withColumn("n_bin_rows",
          sum(col("n_rows")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type"), col("bin"))))
        .select(col("event_type"), col("day_epoch"), col("n_rows"),
          col("bin"), col("n_bin_rows"))
    }),
      Some(COMPACT_PLAN_CTES +
      """SELECT event_type, day_epoch, n_rows, bin,
        |  CAST(sum(n_rows) OVER (PARTITION BY event_type, bin) AS BIGINT)
        |    AS n_bin_rows
        |FROM b""".stripMargin)),

    // Compaction EXECUTED (the q136 plan's rewrite, VERDICT r11 item 3):
    // events rewrite into one parquet file per (event_type, bin) under a
    // manifest commit (the GTFS-RT connector's crash-safe protocol), and
    // the read-back — through the manifest, like any reader — reports
    // per-bin rows, physical file count, and the covered day range. The
    // oracle recomputes the PLAN arithmetic only, so the hash match
    // proves the executed layout delivers exactly the planned bins: all
    // rows present, one file per bin, contiguous day coverage.
    Query("q241_compaction_exec", ((s, dir) => {
      val out = s"target/compact_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(out), true) // fresh run
      val ev = t(s, dir, "events").select(col("event_type"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"),
        col("event_id"), col("user_id"), col("value"))
      graft.operators.Compaction.execute(ev, "event_type", "day_epoch",
        targetRows = 500L, outDir = out, runId = "q241")
      graft.operators.Compaction.readCompacted(s, out)
        .groupBy(col("event_type"), col("bin").cast("long").as("bin"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("_metadata.file_path")).as("n_files"),
          min(col("day_epoch")).as("min_day_epoch"),
          max(col("day_epoch")).as("max_day_epoch"))
    }),
      // The executed compaction must deliver exactly the PLAN: per
      // (event_type, bin) the planned row total, ONE physical file, and
      // the planned contiguous day range. The oracle never sees the
      // files — n_files is the literal 1 the executor contracts — so a
      // split bin, a lost row, or a day landing in the wrong bin all
      // hash-mismatch.
      Some(COMPACT_PLAN_CTES +
      """SELECT event_type, bin, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_files,
        |  min(day_epoch) AS min_day_epoch,
        |  max(day_epoch) AS max_day_epoch
        |FROM b GROUP BY event_type, bin""".stripMargin)),

    // Compaction pruning MEASURED (VERDICT r12 item 4): the
    // clustering-preserving bins exist so min/max file skipping
    // survives the rewrite — this row reads a compacted lake back
    // through the committed per-file min/max sidecar with a fixed
    // 7-day key-range and reports how many files the range read PLANS
    // OVER vs the lake's total (inputFiles — the planned scan list
    // itself, bounded driver metadata), plus the rows/events returned.
    // The compacted table is the per-(event_type, day) daily rollup —
    // metadata-sized at every sf, so the bin count (and the pruning
    // ratio) is scale-free; the oracle recomputes all four numbers
    // from the plan arithmetic alone, so the hash match proves the
    // EXECUTED skip list equals the planned overlap set.
    Query("q248_compaction_pruned_read", ((s, dir) => {
      val out = s"target/compactprune_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(out), true) // fresh run
      val sm = t(s, dir, "events")
        .groupBy(col("event_type"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(count(lit(1)).as("n_events"))
      graft.operators.Compaction.execute(sm, "event_type", "day_epoch",
        targetRows = 6L, outDir = out, runId = "q248")
      // one driver scalar (the corpus' first day) anchors the window
      val minDay = sm.agg(min(col("day_epoch"))).collect()(0).getLong(0)
      val (rlo, rhi) = (minDay + 12L * 86400L, minDay + 18L * 86400L)
      val full = graft.operators.Compaction.readCompacted(s, out)
      val pruned = graft.operators.Compaction.readCompactedRange(
        s, out, "day_epoch", rlo, rhi)
      pruned.agg(count(lit(1)).as("n_rows_range"),
          coalesce(sum(col("n_events")), lit(0L)).as("n_events_range"))
        .select(lit(full.inputFiles.length.toLong).as("n_files_total"),
          lit(pruned.inputFiles.length.toLong).as("n_files_selected"),
          col("n_rows_range"), col("n_events_range"))
    }),
      // Pruned-read audit: every number recomputed from PLAN arithmetic
      // alone (daily-rollup rows pack 1-per-day, so bin = (rank-1)//6 —
      // the q136 cumulative spelling at n_rows=1), overlap = bins whose
      // [lo,hi] meets the fixed 7-day window; the hash match proves the
      // executed sidecar skip list equals the planned overlap set and one
      // file per bin survived.
      Some("""WITH sm AS (
        |  SELECT event_type,
        |    FLOOR(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, day_epoch, n_events,
        |    CAST((row_number() OVER (PARTITION BY event_type
        |      ORDER BY day_epoch) - 1) // 6 AS BIGINT) AS bin
        |  FROM sm),
        |bins AS (
        |  SELECT event_type, bin, min(day_epoch) AS lo,
        |    max(day_epoch) AS hi
        |  FROM b GROUP BY event_type, bin),
        |rng AS (
        |  SELECT min(day_epoch) + 12 * 86400 AS rlo,
        |    min(day_epoch) + 18 * 86400 AS rhi
        |  FROM sm)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM bins) AS n_files_total,
        |  (SELECT CAST(count(*) AS BIGINT) FROM bins, rng
        |   WHERE lo <= rhi AND hi >= rlo) AS n_files_selected,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b, rng
        |   WHERE day_epoch BETWEEN rlo AND rhi) AS n_rows_range,
        |  (SELECT CAST(COALESCE(sum(n_events), 0) AS BIGINT) FROM b, rng
        |   WHERE day_epoch BETWEEN rlo AND rhi) AS n_events_range""".stripMargin)),

    // One-pass dataset profiler — the data-quality summary every
    // ingestion gate runs first: per column its null count, distinct
    // count, and min/max rendered as strings (one schema for every
    // type). ONE scan computes all columns' stats simultaneously (a
    // per-column loop would scan once per column); the per-column rows
    // come from a literal unpivot of the single aggregate row.
    Query("q105_profile", ((s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val cols = Seq("event_id", "user_id", "event_type", "value")
      // doubles render to strings as MICRO-UNIT INTEGERS
      // (floor(x·1e6 + 0.5)): shortest-roundtrip double formatting
      // diverges between engines (Java flips to scientific notation
      // below 1e-3) and even a decimal cast can round decimal-tie
      // values differently (Spark rounds the shortest STRING half-up,
      // DuckDB rounds the binary double) — floor over pure binary
      // arithmetic is the only channel with no string/decimal step
      def render(c: String): Column => Column =
        if (c == "value")
          (x: Column) => floor(x * lit(1000000.0) + lit(0.5))
            .cast("long").cast("string")
        else (x: Column) => x.cast("string")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"__n_$c"),
          count_distinct(col(c)).as(s"__d_$c"),
          render(c)(min(col(c))).as(s"__min_$c"),
          render(c)(max(col(c))).as(s"__max_$c"))
      }
      val total = count(lit(1)).as("__total")
      val one = ev.agg(total, aggs: _*)
      val rows = cols.map { c =>
        struct(lit(c).as("col_name"),
          (col("__total") - col(s"__n_$c")).as("n_null"),
          col(s"__d_$c").as("n_distinct"),
          col(s"__min_$c").as("min_str"),
          col(s"__max_$c").as("max_str"))
      }
      one.select(explode(array(rows: _*)).as("p"))
        .select(col("p.col_name"), col("p.n_null"), col("p.n_distinct"),
          col("p.min_str"), col("p.max_str"))
    }),
      Some("""WITH s AS (
        |  SELECT count(*) AS total,
        |    count(event_id) AS n_e, count(DISTINCT event_id) AS d_e,
        |    CAST(min(event_id) AS VARCHAR) AS mn_e,
        |    CAST(max(event_id) AS VARCHAR) AS mx_e,
        |    count(user_id) AS n_u, count(DISTINCT user_id) AS d_u,
        |    CAST(min(user_id) AS VARCHAR) AS mn_u,
        |    CAST(max(user_id) AS VARCHAR) AS mx_u,
        |    count(event_type) AS n_t, count(DISTINCT event_type) AS d_t,
        |    CAST(min(event_type) AS VARCHAR) AS mn_t,
        |    CAST(max(event_type) AS VARCHAR) AS mx_t,
        |    count(value) AS n_v, count(DISTINCT value) AS d_v,
        |    CAST(CAST(floor(min(value) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) AS mn_v,
        |    CAST(CAST(floor(max(value) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR) AS mx_v
        |  FROM events)
        |SELECT 'event_id' AS col_name, total - n_e AS n_null,
        |  d_e AS n_distinct, mn_e AS min_str, mx_e AS max_str FROM s
        |UNION ALL
        |SELECT 'user_id', total - n_u, d_u, mn_u, mx_u FROM s
        |UNION ALL
        |SELECT 'event_type', total - n_t, d_t, mn_t, mx_t FROM s
        |UNION ALL
        |SELECT 'value', total - n_v, d_v, mn_v, mx_v FROM s""".stripMargin)),

    // Dynamic partition overwrite — the surgical-rewrite contract behind
    // user-erasure/compaction on a partitioned lake: a full snapshot
    // partitioned by event_type, then ONE partition rewritten with user
    // 5's click rows erased. partitionOverwriteMode=dynamic replaces
    // only partitions present in the incoming frame (static mode would
    // TRUNCATE the whole table to just clicks — the classic data-loss
    // foot-gun this option exists to prevent); untouched partitions'
    // files are asserted byte-identical by PartitionOverwriteSpec.
    Query("q103_partition_overwrite", ((s, dir) => {
      val out = s"target/gdpr_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      val cleaned = ev.where(col("event_type") === "click" &&
        col("user_id") =!= 5L)
      // dynamic overwrite replaces only partitions PRESENT in the frame:
      // an empty frame would no-op and the erasure would silently fail
      // (user 5's rows surviving on disk while the oracle excludes them)
      // — fail loudly instead; a real erasure job with a possibly-empty
      // remainder must DELETE the partition, not overwrite it
      require(!cleaned.isEmpty,
        "q103: cleaned click partition is empty — dynamic overwrite " +
          "would no-op instead of erasing")
      cleaned.write.mode("overwrite").partitionBy("event_type")
        .option("partitionOverwriteMode", "dynamic").parquet(out)
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(when(col("user_id") === 5L, lit(1))).as("n_user5"),
          sum(col("event_id")).as("sum_ids"))
    }),
      Some("""WITH m AS (
        |  SELECT * FROM events
        |  WHERE NOT (event_type = 'click' AND user_id = 5))
        |SELECT event_type, count(*) AS n,
        |  count(CASE WHEN user_id = 5 THEN 1 END) AS n_user5,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM m GROUP BY event_type""".stripMargin)),

    // CSV quoting/escaping round-trip under HOSTILE content — q31 proves
    // the plain round-trip; this proves the quoting layer: every payload
    // embeds the delimiter, the quote character, and a NEWLINE, the
    // fields Spark must quote+escape on write and re-assemble on read
    // (multiLine=true: embedded newlines make naive line-splitting
    // corrupt records). The oracle never parses the CSV — it recomputes
    // the expected payloads from the parquet source, so the hash match
    // proves write→read is the identity on content the format exists to
    // protect.
    Query("q121_csv_quoting", ((s, dir) => {
      val out = s"target/csvq_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(",\"\n"), col("lang")).as("payload"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").option("multiLine", "true")
        .schema("doc_id LONG, payload STRING").csv(out)
        .agg(count(lit(1)).as("n_rows"),
          sum(TextAnalysis.charPolyHash(col("payload")).cast("decimal(38,0)"))
            .cast("string").as("payload_checksum"))
    }),
      // The oracle recomputes payloads from parquet, never parsing CSV —
      // the hash match proves Spark's quote/escape/multiline round-trip
      // is the identity.
      Some(s"""WITH p AS (
         |  SELECT text || ',"' || chr(10) || lang AS payload
         |  FROM documents)
         |SELECT count(*) AS n_rows,
         |  CAST(sum(CAST(${charPolySql("payload")} AS DECIMAL(38,0)))
         |    AS VARCHAR) AS payload_checksum
         |FROM p""".stripMargin)),

    // SCD2 history build (operators/Scd2) — the warehouse dual of the
    // upsert family: the events log collapsed to validity intervals of
    // each user's event_type, so any past dimension state is one
    // point-in-time predicate away. Two stacked windows share a single
    // hash shuffle of the slim projection (the change filter preserves
    // partitioning — Scd2Spec pins one Exchange); at 100 TB the shuffle
    // keys on high-cardinality user_id and per-key state is the key's
    // own short change history.
    Query("q122_scd2_history", ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), unix_timestamp(col("ts")).as("ts_epoch"))
      graft.operators.Scd2.buildHistory(ev, Seq("user_id"),
        Seq("event_type"), "ts_epoch", "event_id")
    }),
      // Mirrors Scd2.buildHistory: lag-detected changes (rn=1 OR
      // IS DISTINCT FROM ≡ Spark's first || !(lag <=> attr)), then
      // lead-closed intervals + version over the surviving rows.
      Some("""WITH ordered AS (
        |  SELECT user_id, event_type,
        |    FLOOR(epoch(ts))::BIGINT AS ts_epoch, event_id,
        |    lag(event_type) OVER w AS prev_attr,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY FLOOR(epoch(ts))::BIGINT ASC, event_id ASC)),
        |changes AS (
        |  SELECT * FROM ordered
        |  WHERE rn = 1 OR prev_attr IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, ts_epoch AS valid_from,
        |  lead(ts_epoch) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version
        |FROM changes
        |WINDOW w2 AS (PARTITION BY user_id
        |              ORDER BY ts_epoch ASC, event_id ASC)""".stripMargin)),

    // Referential-integrity audit — the pre-publication gate of any
    // warehouse load: per-relationship orphan counts with min/max
    // offending key. Each check is a LEFT ANTI join against the
    // parent's DISTINCT keys (slim build side, key-partitioned — the
    // q09 shape as an audit), then a 1-row aggregate; 100 TB children
    // stream through without materializing matches. Parents are
    // deterministically THINNED (keys ≡0 mod 97 dropped — the q119
    // injected-breakage discipline) because the synthetic data is
    // referentially clean and an all-zero audit would leave the
    // positive path untested; part/supplier stay intact to prove the
    // zero path too.
    Query("q128_fk_audit", ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def audit(rel: String, child: DataFrame, key: String,
                parentKeys: DataFrame): DataFrame = {
        val orphans = child.join(parentKeys, Seq(key), "left_anti")
        orphans.agg(count(lit(1)).as("n_orphans"),
            min(col(key)).as("min_orphan_key"),
            max(col(key)).as("max_orphan_key"))
          .crossJoin(child.agg(count(lit(1)).as("n_children")))
          .select(lit(rel).as("relationship"), col("n_children"),
            col("n_orphans"), col("min_orphan_key"), col("max_orphan_key"))
      }
      val thinnedOrders = t(s, dir, "orders")
        .where(col("o_orderkey") % 97L =!= 0L)
        .select(col("o_orderkey").as("l_orderkey")).distinct()
      val thinnedCust = t(s, dir, "customer")
        .where(col("c_custkey") % 97L =!= 0L)
        .select(col("c_custkey").as("o_custkey")).distinct()
      audit("lineitem->orders", li.select("l_orderkey"), "l_orderkey",
          thinnedOrders)
        .unionByName(audit("lineitem->part", li.select("l_partkey"),
          "l_partkey",
          t(s, dir, "part").select(col("p_partkey").as("l_partkey")).distinct()))
        .unionByName(audit("lineitem->supplier", li.select("l_suppkey"),
          "l_suppkey",
          t(s, dir, "supplier").select(col("s_suppkey").as("l_suppkey")).distinct()))
        .unionByName(audit("orders->customer",
          t(s, dir, "orders").select("o_custkey"), "o_custkey", thinnedCust))
    }),
      // Anti-join spelled as NOT IN over the thinned parent key set; the
      // intact part/supplier relationships prove the audit's zero path.
      Some("""WITH ok AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0),
        |ck AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0),
        |a1 AS (
        |  SELECT 'lineitem->orders' AS relationship,
        |    (SELECT count(*) FROM lineitem) AS n_children,
        |    count(*) AS n_orphans, min(l_orderkey) AS min_orphan_key,
        |    max(l_orderkey) AS max_orphan_key
        |  FROM lineitem WHERE l_orderkey NOT IN (SELECT * FROM ok)),
        |a2 AS (
        |  SELECT 'lineitem->part',
        |    (SELECT count(*) FROM lineitem),
        |    count(*), min(l_partkey), max(l_partkey)
        |  FROM lineitem
        |  WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
        |a3 AS (
        |  SELECT 'lineitem->supplier',
        |    (SELECT count(*) FROM lineitem),
        |    count(*), min(l_suppkey), max(l_suppkey)
        |  FROM lineitem
        |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
        |a4 AS (
        |  SELECT 'orders->customer',
        |    (SELECT count(*) FROM orders),
        |    count(*), min(o_custkey), max(o_custkey)
        |  FROM orders WHERE o_custkey NOT IN (SELECT * FROM ck))
        |SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4""".stripMargin)),

    // Functional-dependency audit — the intra-table sibling of q128's
    // cross-table FK audit (column-level data profiling: "is A → B a
    // key-like dependency?"). For each candidate pair, ONE aggregate
    // computes |distinct(det)| and |distinct(det, dep)|; the dependency
    // holds iff they're equal, and the difference counts determinant
    // values with conflicting dependents. Map-side-combined distinct
    // aggregates, no joins, no windows — 100 TB children stream
    // through; the audited columns are non-null here so Spark's and the
    // oracle's multi-column DISTINCT NULL rules never diverge.
    Query("q143_fd_audit", ((s, dir) => {
      def audit(df: DataFrame, table: String, det: String,
                dep: String): DataFrame =
        df.agg(count_distinct(col(det)).as("n_det"),
            count_distinct(col(det), col(dep)).as("n_pairs"))
          .select(lit(s"$table: $det -> $dep").as("dependency"),
            col("n_det"), col("n_pairs"),
            (col("n_pairs") - col("n_det")).as("n_violating"),
            (col("n_pairs") === col("n_det")).cast("long").as("fd_holds"))
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      audit(orders, "orders", "o_orderkey", "o_orderstatus")
        .unionByName(audit(orders, "orders", "o_custkey", "o_orderpriority"))
        .unionByName(audit(li, "lineitem", "l_orderkey", "l_returnflag"))
        .unionByName(audit(li, "lineitem", "l_partkey", "l_linestatus"))
    }),
      // Mirrors the q143 one-pass distinct-pair audit; the audited columns
      // are non-null, so multi-column DISTINCT NULL rules never engage.
      Some("""WITH a1 AS (
        |  SELECT 'orders: o_orderkey -> o_orderstatus' AS dependency,
        |    count(DISTINCT o_orderkey) AS n_det,
        |    count(DISTINCT (o_orderkey, o_orderstatus)) AS n_pairs
        |  FROM orders),
        |a2 AS (
        |  SELECT 'orders: o_custkey -> o_orderpriority',
        |    count(DISTINCT o_custkey),
        |    count(DISTINCT (o_custkey, o_orderpriority))
        |  FROM orders),
        |a3 AS (
        |  SELECT 'lineitem: l_orderkey -> l_returnflag',
        |    count(DISTINCT l_orderkey),
        |    count(DISTINCT (l_orderkey, l_returnflag))
        |  FROM lineitem),
        |a4 AS (
        |  SELECT 'lineitem: l_partkey -> l_linestatus',
        |    count(DISTINCT l_partkey),
        |    count(DISTINCT (l_partkey, l_linestatus))
        |  FROM lineitem),
        |u AS (
        |  SELECT * FROM a1 UNION ALL SELECT * FROM a2
        |  UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4)
        |SELECT dependency, n_det, n_pairs,
        |  n_pairs - n_det AS n_violating,
        |  CAST(n_pairs = n_det AS BIGINT) AS fd_holds
        |FROM u""".stripMargin)),

    // k-anonymity audit — the privacy gate before a dataset ships: how
    // many quasi-identifier cells (event_type × hour × value decade)
    // have fewer than k members, and how many rows sit in those
    // re-identifiable cells, at k ∈ {2, 5, 10}. One slim-key
    // map-side-combined groupBy builds the cell histogram; the audit
    // itself is a 1-row aggregate over cells — no joins, no windows,
    // and the row count crossing the shuffle is the CELL count.
    Query("q148_k_anonymity", ((s, dir) => {
      val cells = t(s, dir, "events")
        .select(col("event_type"),
          (floor(unix_timestamp(col("ts")) / lit(3600.0)) % lit(24L))
            .as("hr"),
          floor(col("value") / lit(10.0)).as("vband"))
        .groupBy("event_type", "hr", "vband")
        .agg(count(lit(1)).as("n"))
      def below(k: Int) = Seq(
        sum((col("n") < k.toLong).cast("long")).as(s"n_cells_lt$k"),
        sum(when(col("n") < k.toLong, col("n")).otherwise(lit(0L)))
          .as(s"n_rows_lt$k"))
      cells.agg(count(lit(1)).as("n_cells"), (Seq(min(col("n")).as("min_cell"))
        ++ below(2) ++ below(5) ++ below(10)): _*)
    }),
      // Mirrors q148: identical quasi-identifier cell derivation (BIGINT
      // floors), then the 1-row audit over the cell histogram.
      Some("""WITH cells AS (
        |  SELECT event_type,
        |    CAST(floor(FLOOR(epoch(ts))::BIGINT / 3600.0) AS BIGINT) % 24
        |      AS hr,
        |    CAST(floor(value / 10.0) AS BIGINT) AS vband,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT count(*) AS n_cells, min(n) AS min_cell,
        |  CAST(sum(CASE WHEN n < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_lt2,
        |  CAST(sum(CASE WHEN n < 2 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_lt2,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_lt5,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_lt5,
        |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_lt10,
        |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_lt10
        |FROM cells""".stripMargin)),

    // Snapshot diff / CDC extract (operators/Upsert.snapshotDiff) — the
    // read-side inverse of q08's merge: two deterministic versions of
    // orders (old drops keys ≡3 mod 10 and doubles price on keys ≡0
    // mod 7; new drops keys ≡7 mod 10), diffed into added/removed/
    // changed rows. One full-outer join on the key, both sides large
    // (no broadcast), only the compared projection shuffles; unchanged
    // keys die inside the join projection. ×2 on a double is exact, so
    // the changed-price rows hash-match the oracle bit-for-bit.
    Query("q123_snapshot_diff", ((s, dir) => {
      val orders = t(s, dir, "orders")
      val oldV = orders.where(col("o_orderkey") % 10L =!= 3L)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 7L === 0L, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      val newV = orders.where(col("o_orderkey") % 10L =!= 7L)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.operators.Upsert.snapshotDiff(oldV, newV, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
    }),
      // Mirrors snapshotDiff: FULL OUTER + IS DISTINCT FROM change
      // predicate ≡ Spark's !(<=>); presence via key IS NULL (keys are
      // non-null in both versions).
      Some("""WITH old_v AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |new_v AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 7),
        |d AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    o.o_orderstatus AS old_o_orderstatus,
        |    n.o_orderstatus AS new_o_orderstatus,
        |    o.o_totalprice AS old_o_totalprice,
        |    n.o_totalprice AS new_o_totalprice,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |         WHEN n.o_orderkey IS NULL THEN 'removed'
        |         WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |           THEN 'changed' END AS change_type
        |  FROM old_v o FULL OUTER JOIN new_v n
        |    ON o.o_orderkey = n.o_orderkey)
        |SELECT * FROM d WHERE change_type IS NOT NULL""".stripMargin)),

    // Corrupt-file-tolerant scans — the fault-isolation contract a
    // 100 TB lake needs at the FILE granularity (q101 covers the ROW
    // granularity): a landing directory holds two healthy parquet
    // generations and one garbage file a crashed writer left behind;
    // `ignoreCorruptFiles` skips exactly the unreadable file instead of
    // failing the whole scan, and the aggregate over the survivors
    // hash-matches the oracle reading only the healthy files. The
    // option is set per-read, never session-wide — silently skipping
    // corrupt data must be an explicit, local decision.
    Query("q119_corrupt_tolerance", ((s, dir) => {
      val out = s"target/corrupt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.where(col("event_id") % 2L === 0L)
        .write.mode("overwrite").parquet(s"$out/g1")
      ev.where(col("event_id") % 2L =!= 0L)
        .write.mode("overwrite").parquet(s"$out/g2")
      val bad = new java.io.File(s"$out/bad"); bad.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/bad/junk.parquet"),
        "this is not a parquet file".getBytes)
      s.read
        // explicit schema: inference reads footers, and a garbage file
        // can abort it before row-level tolerance even applies — a
        // production tolerant read pins the expected schema anyway
        .schema(ev.schema)
        .option("recursiveFileLookup", "true")
        .option("ignoreCorruptFiles", "true")
        .parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Dashboard.exactAvg(col("value")).as("avg_value"),
          sum(col("event_id")).as("sum_ids"))
    }),
      // The oracle reads NO corrupt directory — only the healthy rows; the
      // hash match proves the tolerant scan skipped exactly the garbage
      // file (an over-eager skip of a healthy file would change counts).
      Some(s"""SELECT event_type, count(*) AS n,
         |  ${exactAvgSql("value")} AS avg_value,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM events GROUP BY event_type""".stripMargin)),

    // Schema evolution across file generations: generation 1 lacks the
    // `value` column, generation 2 carries it; `mergeSchema` unifies the
    // footers at read time (union-by-name: missing columns surface as
    // NULL, never a positional mis-bind) — the long-lived-dataset
    // contract every production lake needs. The oracle rebuilds the same
    // two generations as a UNION ALL with a typed NULL.
    Query("q97_schema_evolution", ((s, dir) => {
      val out = s"target/schevo_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
      ev.where(col("event_id") % 2 === 0)
        .select("event_id", "event_type")
        .write.mode("overwrite").parquet(s"$out/gen1")
      ev.where(col("event_id") % 2 =!= 0)
        .select("event_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$out/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$out/gen1", s"$out/gen2")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("n_with_value"),
          Dashboard.exactAvg(col("value")).as("avg_value"),
          sum(col("event_id")).as("sum_ids"))
    }),
      Some(s"""WITH m AS (
         |  SELECT event_id, event_type, NULL::DOUBLE AS value
         |  FROM events WHERE event_id % 2 = 0
         |  UNION ALL
         |  SELECT event_id, event_type, value
         |  FROM events WHERE event_id % 2 <> 0)
         |SELECT event_type, count(*) AS n,
         |  count(value) AS n_with_value,
         |  ${exactAvgSql("value")} AS avg_value,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM m GROUP BY event_type""".stripMargin)),

    Query("q74_orc_roundtrip", ((s, dir) => {
      val out = s"target/orc_rt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Dashboard.exactAvg(col("value")).as("avg_value"),
          sum(col("event_id")).as("sum_ids"))
    }),
      Some(s"""SELECT event_type, count(*) AS n,
         |  ${exactAvgSql("value")} AS avg_value,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM events GROUP BY event_type""".stripMargin)),

    // JSON-lines roundtrip — the training-data interchange format:
    // write documents as JSONL, read back with an EXPLICIT schema (a
    // schema-inference pass over 100 TB is a full extra scan), aggregate.
    Query("q83_jsonl_roundtrip", ((s, dir) => {
      val out = s"target/jsonl_rt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").json(out)
      s.read.schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .json(out)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"))
    }),
      Some("""SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id
        |FROM documents GROUP BY lang, source""".stripMargin)),

    // Hive-style partitioned layout + partition PRUNING: the write lays
    // events out by event_type directory, and the read-back filter is
    // satisfied from the file listing — the scan never opens the other
    // partitions (PlanSpec asserts the PartitionFilters entry). The
    // data-layout primitive that turns a 100 TB scan into a 20 TB one.
    Query("q75_partitioned_pruning", ((s, dir) => {
      val out = s"target/part_rt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      s.read.parquet(out).where(col("event_type") === "click")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
          Dashboard.exactAvg(col("value")).as("avg_value"),
          sum(col("event_id")).as("sum_ids"))
    }),
      Some(s"""SELECT user_id, count(*) AS n_clicks,
         |  ${exactAvgSql("value")} AS avg_value,
         |  CAST(sum(event_id) AS BIGINT) AS sum_ids
         |FROM events WHERE event_type = 'click' GROUP BY user_id""".stripMargin)),

    // Malformed-record accounting at ingestion: the raw corpus parses
    // cleanly, so every 7th row's props is deterministically corrupted
    // (the q64 enrichment precedent — injected breakage is mirrored
    // verbatim in the oracle) and the extraction must DEGRADE, not
    // abort: get_json_object yields NULL on malformed input, the oracle
    // guards with json_valid, and the per-type rollup counts exactly
    // which rows survived — the dead-letter bookkeeping every
    // unvalidated-input pipeline needs.
    Query("q101_malformed_json", ((s, dir) => {
      val ev = t(s, dir, "events")
      val enriched = when(col("event_id") % 7L === 0L,
        concat(lit("{broken"), col("props"))).otherwise(col("props"))
      val k = get_json_object(enriched, "$.k").cast("long")
      ev.select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_valid"),
          sum(col("k")).as("sum_k"))
    }),
      Some("""WITH e AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 7 = 0 THEN '{broken' || props
        |         ELSE props END AS pr
        |  FROM events),
        |x AS (
        |  SELECT event_type,
        |    CASE WHEN json_valid(pr)
        |         THEN CAST(json_extract_string(pr, '$.k') AS BIGINT) END AS k
        |  FROM e)
        |SELECT event_type, count(*) AS n, count(k) AS n_valid,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM x GROUP BY event_type""".stripMargin)),

    // Z-order (Morton) sort key over quantized (user, value): the
    // multi-dimensional layout key behind min-max file skipping —
    // computed as a pure codegen'd shift/or fold, bit-for-bit mirrored
    // in the oracle (ZOrder.zorderedWrite is the layout pass itself;
    // ZOrderSpec proves disjoint per-file z ranges + 2-D locality).
    Query("q81_zorder_key", ((s, dir) => {
      val ev = t(s, dir, "events")
      // % (not pmod) to match the oracle's % exactly; zValue's
      // non-negative contract holds because user_id >= 0 in this schema
      val x = col("user_id") % lit(256L)
      val y = greatest(least(floor(col("value")).cast("long"), lit(255L)),
        lit(0L))
      ev.select(col("event_id"), x.as("xq"), y.as("yq"),
        graft.operators.ZOrder.zValue(Seq(x, y), bits = 8).as("z"))
    }),
      Some("""WITH q AS (
        |  SELECT event_id, user_id % 256 AS xq,
        |    greatest(least(CAST(floor(value) AS BIGINT), 255), 0) AS yq
        |  FROM events)
        |SELECT event_id, xq, yq,
        |  list_reduce(list_transform(range(0, 8), i ->
        |    (((xq >> i) & 1) << (2*i)) | (((yq >> i) & 1) << (2*i+1))),
        |    (a, b) -> a | b) AS z
        |FROM q""".stripMargin)),

    // XML extraction (Spark 4 built-in from_xml) — the remaining
    // semi-structured SOURCE surface next to JSON q13/q101/q83 and CSV
    // q31/q121: events render to a deterministic XML envelope
    // (mirrored verbatim — the q64 enrichment discipline, here
    // exercising the PARSER, not a corpus property) and from_xml
    // schema-parses it back; nulls where the document is broken (every
    // 11th row drops a closing tag) — degrade, not abort, the q101
    // malformed-ingestion contract. The oracle extracts the same
    // fields with anchored regexes — equal values, engine-independent.
    Query("q188_xml_extract", ((s, dir) => {
      val xml = when(col("event_id") % 11L === 0L,
        concat(lit("<e><t>"), col("event_type"), lit("</t><v>"),
          col("v_micro").cast("string"), lit("</v>")))
        .otherwise(concat(lit("<e><t>"), col("event_type"),
          lit("</t><v>"), col("v_micro").cast("string"), lit("</v></e>")))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType)))
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
        .withColumn("doc", xml)
        .withColumn("p", from_xml(col("doc"), schema,
          java.util.Collections.singletonMap("mode", "PERMISSIVE")))
        .select(col("event_id"),
          col("p.t").as("xml_type"), col("p.v").as("xml_micro"),
          (col("p.t") <=> col("event_type") &&
            col("p.v") <=> col("v_micro")).as("roundtrip_ok"))
    }),
      // Mirrors q188: the identical envelope (broken rows verbatim), a
      // well-formedness gate + regex field extraction standing in for the
      // XML parser, null-safe round-trip equality.
      Some("""WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events),
        |d AS (
        |  SELECT event_id, event_type, v_micro,
        |    CASE WHEN event_id % 11 = 0
        |      THEN '<e><t>' || event_type || '</t><v>' || v_micro || '</v>'
        |      ELSE '<e><t>' || event_type || '</t><v>' || v_micro ||
        |        '</v></e>' END AS doc
        |  FROM e),
        |p AS (
        |  SELECT event_id, event_type, v_micro,
        |    CASE WHEN regexp_matches(doc, '^<e><t>.*</t><v>.*</v></e>$')
        |      THEN regexp_extract(doc, '<t>(.*)</t>', 1) END AS xml_type,
        |    CASE WHEN regexp_matches(doc, '^<e><t>.*</t><v>.*</v></e>$')
        |      THEN CAST(regexp_extract(doc, '<v>(.*)</v>', 1) AS BIGINT)
        |      END AS xml_micro
        |  FROM d)
        |SELECT event_id, xml_type, xml_micro,
        |  (xml_type IS NOT DISTINCT FROM event_type) AND
        |    (xml_micro IS NOT DISTINCT FROM v_micro) AS roundtrip_ok
        |FROM p""".stripMargin)),

    // l-diversity audit — k-anonymity's (q148) necessary complement:
    // a quasi-identifier cell can be large (k-safe) yet carry ONE
    // sensitive value, which still discloses it. Per QI cell (hour ×
    // value band), the count of DISTINCT sensitive values
    // (event_type) and the dominant value's share — integer counts
    // from a two-level aggregate (bounded cell domain), one divide for
    // the share; the summary rolls up how many cells violate l ∈
    // {2, 3} and how many rows sit in them.
    Query("q191_l_diversity", ((s, dir) => {
      val byVal = t(s, dir, "events")
        .select(
          (floor(unix_timestamp(col("ts")) / lit(3600.0)) % lit(24L))
            .as("hr"),
          floor(col("value") / lit(10.0)).as("vband"), col("event_type"))
        .groupBy("hr", "vband", "event_type")
        .agg(count(lit(1)).as("n"))
      val cells = byVal.groupBy("hr", "vband")
        .agg(sum(col("n")).as("n_rows"),
          count(lit(1)).as("l_distinct"), max(col("n")).as("n_top"))
      cells.agg(count(lit(1)).as("n_cells"),
        sum((col("l_distinct") < 2L).cast("long")).as("n_cells_l_lt2"),
        sum(when(col("l_distinct") < 2L, col("n_rows")).otherwise(lit(0L)))
          .as("n_rows_l_lt2"),
        sum((col("l_distinct") < 3L).cast("long")).as("n_cells_l_lt3"),
        sum(when(col("l_distinct") < 3L, col("n_rows")).otherwise(lit(0L)))
          .as("n_rows_l_lt3"),
        max(try_divide(col("n_top").cast("double"),
          col("n_rows").cast("double"))).as("max_dominance"))
    }),
      // Mirrors q191: identical QI cells, two-level aggregate, rollup.
      Some("""WITH bv AS (
        |  SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) % 24 AS hr,
        |    CAST(floor(value / 10.0) AS BIGINT) AS vband, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |cells AS (
        |  SELECT hr, vband, CAST(sum(n) AS BIGINT) AS n_rows,
        |    count(*) AS l_distinct, CAST(max(n) AS BIGINT) AS n_top
        |  FROM bv GROUP BY hr, vband)
        |SELECT count(*) AS n_cells,
        |  CAST(sum(CASE WHEN l_distinct < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_l_lt2,
        |  CAST(sum(CASE WHEN l_distinct < 2 THEN n_rows ELSE 0 END)
        |    AS BIGINT) AS n_rows_l_lt2,
        |  CAST(sum(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cells_l_lt3,
        |  CAST(sum(CASE WHEN l_distinct < 3 THEN n_rows ELSE 0 END)
        |    AS BIGINT) AS n_rows_l_lt3,
        |  max(CAST(n_top AS DOUBLE) / CAST(n_rows AS DOUBLE))
        |    AS max_dominance
        |FROM cells""".stripMargin)),
  )
}
