package graft
package registry

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The statistics rows: distribution tests, robust estimators, rolling and
  * time-series windows, and classifier/eval metrics — each reduced to an
  * exact integer or mirrored-float surface the oracle reproduces. */
object StatsQueries {

  import Tables.t
  import Shared._

  val queries: Seq[Query] = Seq(
    // Equal-width histogram (operators/Histogram) — the distribution
    // readout between q105's min/max profile and q50's exact
    // percentiles. Two 1-row-bounded passes: a broadcast min/max
    // aggregate, then arithmetic bin assignment whose shuffle carries at
    // most nBins rows per partition. Bin ids are exact BIGINT floors
    // both sides; edges render in q105's micro-unit integers, so the
    // whole histogram hash-checks.
    Query("q142_histogram", ((s, dir) =>
      graft.operators.Histogram.equalWidth(
        t(s, dir, "lineitem"), "l_extendedprice", nBins = 16)),
      // Mirrors Histogram.equalWidth: BIGINT floors for bin ids, micro-unit
      // integer rendering for the edges, CASE instead of dividing by a
      // zero-width range.
      Some("""WITH xs AS (
        |  SELECT l_extendedprice::DOUBLE AS x FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |mm AS (SELECT min(x) AS lo, max(x) AS hi FROM xs),
        |b AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |              ELSE LEAST(15, CAST(floor((x - lo) * 16.0 / (hi - lo))
        |                                  AS BIGINT)) END AS bin,
        |    lo, hi
        |  FROM xs, mm),
        |g AS (SELECT bin, lo, hi, count(*) AS n FROM b GROUP BY bin, lo, hi)
        |SELECT bin,
        |  CAST(floor((lo + CAST(bin AS DOUBLE) * (hi - lo) / 16.0)
        |    * 1000000.0 + 0.5) AS BIGINT) AS bin_lo_micro,
        |  CAST(floor((lo + CAST(bin + 1 AS DOUBLE) * (hi - lo) / 16.0)
        |    * 1000000.0 + 0.5) AS BIGINT) AS bin_hi_micro,
        |  n
        |FROM g""".stripMargin)),

    // Two-sample χ² distribution-drift audit — "do clicks and views
    // draw from the same value distribution?", the monitoring gate
    // between data generations (PSI's ln-free sibling, the q144
    // discipline applied to numeric histograms): fixed-width value
    // bands, observed-vs-expected per band under the pooled marginals,
    // per-band χ² contributions. One conditional aggregate builds the
    // band table; the totals attach is a 1-row broadcast (q60 shape);
    // integer counts exact, the e/χ² divides mirrored op-for-op.
    Query("q152_chi2_drift", ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_type").isin("view", "click") &&
          col("value").isNotNull)
        .select(col("event_type"), floor(col("value") / lit(5.0)).as("vband"))
      val cells = ev.groupBy("vband").agg(
        sum((col("event_type") === "view").cast("long")).as("o_a"),
        sum((col("event_type") === "click").cast("long")).as("o_b"))
      val totals = cells.agg(sum(col("o_a")).as("n_a"),
        sum(col("o_b")).as("n_b"))
      val d = (c: Column) => c.cast("double")
      cells.crossJoin(broadcast(totals))
        .withColumn("e_a", d(col("o_a") + col("o_b")) *
          (d(col("n_a")) / d(col("n_a") + col("n_b"))))
        .withColumn("e_b", d(col("o_a") + col("o_b")) *
          (d(col("n_b")) / d(col("n_a") + col("n_b"))))
        .select(col("vband"), col("o_a"), col("o_b"), col("e_a"), col("e_b"),
          ((d(col("o_a")) - col("e_a")) * (d(col("o_a")) - col("e_a")) /
            col("e_a") +
            (d(col("o_b")) - col("e_b")) * (d(col("o_b")) - col("e_b")) /
              col("e_b")).as("chi2"))
    }),
      // Mirrors q152: integer band counts, pooled-marginal expectations
      // and χ² contributions with op-for-op mirrored divides.
      Some("""WITH e AS (
        |  SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS vband
        |  FROM events
        |  WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
        |cells AS (
        |  SELECT vband,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS o_a,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS o_b
        |  FROM e GROUP BY vband),
        |t AS (
        |  SELECT CAST(sum(o_a) AS BIGINT) AS n_a,
        |    CAST(sum(o_b) AS BIGINT) AS n_b
        |  FROM cells),
        |sel AS (
        |  SELECT vband, o_a, o_b,
        |    (o_a + o_b)::DOUBLE * (n_a::DOUBLE / (n_a + n_b)::DOUBLE) AS e_a,
        |    (o_a + o_b)::DOUBLE * (n_b::DOUBLE / (n_a + n_b)::DOUBLE) AS e_b
        |  FROM cells, t)
        |SELECT vband, o_a, o_b, e_a, e_b,
        |  (o_a::DOUBLE - e_a) * (o_a::DOUBLE - e_a) / e_a
        |    + (o_b::DOUBLE - e_b) * (o_b::DOUBLE - e_b) / e_b AS chi2
        |FROM sel""".stripMargin)),

    // Trailing moving average over a bounded ROWS frame — the
    // fixed-width window-frame member (q95 buckets time, q99 positions,
    // q139/q140 densify; this is the classic last-3-observations
    // smoother). Per-user frames partition by the high-cardinality key;
    // values ride micro-unit integers inside the frame sum so the
    // average is one mirrored divide of exact integers — no
    // order-dependent float accumulation inside the window.
    Query("q153_moving_avg", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
        .rowsBetween(-2, org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"), col("value"))
        .withColumn("sum3_micro",
          sum(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long"))
            .over(w))
        .withColumn("n3", count(col("value")).over(w))
        .withColumn("ma",
          try_divide(col("sum3_micro").cast("double"),
            col("n3").cast("double")) / lit(1000000.0))
        .select("user_id", "event_id", "ts_epoch", "sum3_micro", "n3", "ma")
    }),
      // Mirrors q153: micro-unit frame sums, one mirrored divide
      // (NULLIF ≡ try_divide on the all-NULL frame edge).
      Some("""WITH e AS (
        |  SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
        |    value
        |  FROM events)
        |SELECT user_id, event_id, ts_epoch,
        |  CAST(sum(v_micro) OVER w AS BIGINT) AS sum3_micro,
        |  CAST(count(value) OVER w AS BIGINT) AS n3,
        |  (CAST(sum(v_micro) OVER w AS BIGINT)::DOUBLE
        |    / NULLIF(CAST(count(value) OVER w AS BIGINT), 0))
        |    / 1000000.0 AS ma
        |FROM e
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY ts_epoch ASC, event_id ASC
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // SLIDING event-time windows (q47 is the tumbling member): error rate
    // over 1-hour windows every 15 minutes — each event lands in exactly
    // window/slide = 4 windows; the oracle materializes the same 4
    // assignments per event with a range(0,4) unnest. Conditional counts
    // stay integer; one mirrored divide for the rate.
    Query("q95_sliding_error_rate", ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === "error", lit(1))).as("n_errors"))
        .select(unix_timestamp(col("window.start")).as("window_start"),
          unix_timestamp(col("window.end")).as("window_end"),
          col("n_events"), col("n_errors"),
          (col("n_errors").cast("double") / col("n_events").cast("double"))
            .as("error_rate"))),
      Some("""WITH k AS (SELECT unnest(range(0, 4)) AS i),
        |w AS (
        |  SELECT (FLOOR(epoch(ts) / 900)::BIGINT - k.i) * 900 AS window_start,
        |    event_type
        |  FROM events CROSS JOIN k
        |  WHERE ts IS NOT NULL),
        |agg AS (
        |  SELECT window_start, count(*) AS n_events,
        |    count(*) FILTER (event_type = 'error') AS n_errors
        |  FROM w GROUP BY window_start)
        |SELECT window_start, window_start + 3600 AS window_end,
        |  n_events, n_errors,
        |  CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS error_rate
        |FROM agg""".stripMargin)),

    // Time-series densification (gap fill) — the regular-grid repair
    // every downstream window/forecast op assumes: the per-(user, day)
    // aggregate LEFT-JOINED onto the full user × calendar spine, absent
    // days zero-filled. The calendar derives from the data's own min/max
    // day (two-row aggregate → sequence → broadcast); the user dimension
    // never collects to the driver — the spine is users crossJoin
    // broadcast(days), so it stays partitioned by user while the join
    // shuffles only the slim daily aggregate. Day sums keep the
    // exact-decimal discipline before the one final double cast.
    Query("q139_gap_fill", ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.groupBy(col("user_id"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day_epoch"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double")
            .as("day_value"))
      val cal = daily.agg(min(col("day_epoch")).as("d0"),
          max(col("day_epoch")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"), lit(86400L)))
          .as("day_epoch"))
      ev.select("user_id").distinct()
        .crossJoin(broadcast(cal))
        .join(daily, Seq("user_id", "day_epoch"), "left")
        .select(col("user_id"), col("day_epoch"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("day_value"), lit(0.0d)).as("day_value"))
    }),
      Some("""WITH ev AS (
        |  SELECT user_id,
        |    FLOOR(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day_epoch) AS d0, max(day_epoch) AS d1 FROM ev),
        |cal AS (
        |  SELECT unnest(range(d0, d1 + 86400, 86400)) AS day_epoch FROM b),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id, c.day_epoch,
        |  COALESCE(e.n_events, 0) AS n_events,
        |  COALESCE(e.day_value, 0.0) AS day_value
        |FROM u CROSS JOIN cal c
        |LEFT JOIN ev e ON e.user_id = u.user_id
        |  AND e.day_epoch = c.day_epoch""".stripMargin)),

    // Linear interpolation of missing values — the gap-REPAIR
    // counterpart to q139's gap fill: masked points (a deterministic
    // mirrorable 1-in-5 poly-hash mask, since the testdata has no real
    // NULLs) are reconstructed from the nearest observed neighbors on
    // each side, boundary gaps clamp to the single available neighbor.
    // Neighbor discovery is last/first IGNORE NULLS over per-user
    // windows (bounded by one user's history — never a global sort or a
    // self-join per gap); the interpolation arithmetic
    // pv + (nv − pv)·(x − x0)/(x1 − x0) is left-associative in both
    // engines, so the doubles match bit-for-bit.
    Query("q140_interpolate", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val wPrev = w.rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
      val wNext = w.rowsBetween(1, org.apache.spark.sql.expressions.Window
        .unboundedFollowing)
      val obsX = when(col("v").isNotNull, col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          (TextAnalysis.charPolyHash(
            concat(lit("gap:"), col("event_id").cast("string"))) % 5L === 0L)
            .as("masked"))
        .withColumn("v", when(!col("masked"), col("value")))
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("px", last(obsX, ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nx", first(obsX, ignoreNulls = true).over(wNext))
        .select(col("event_id"), col("user_id"), col("masked"),
          when(!col("masked"), col("v"))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv")) *
                (col("event_id") - col("px")) / (col("nx") - col("px")))
            .otherwise(coalesce(col("pv"), col("nv")))
            .as("value_filled"))
    }),
      Some(s"""WITH m AS (
         |  SELECT event_id, user_id,
         |    ${charPolySql("('gap:' || CAST(event_id AS VARCHAR))")} % 5 = 0
         |      AS masked,
         |    CASE WHEN NOT
         |      ${charPolySql("('gap:' || CAST(event_id AS VARCHAR))")} % 5 = 0
         |      THEN value END AS v
         |  FROM events),
         |w AS (
         |  SELECT event_id, user_id, masked, v,
         |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         |    last_value(CASE WHEN v IS NOT NULL THEN event_id END
         |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS px,
         |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY event_id
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN v IS NOT NULL THEN event_id END
         |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
         |  FROM m)
         |SELECT event_id, user_id, masked,
         |  CASE WHEN NOT masked THEN v
         |       WHEN pv IS NOT NULL AND nv IS NOT NULL
         |       THEN pv + (nv - pv) * (event_id - px) / (nx - px)
         |       ELSE COALESCE(pv, nv) END AS value_filled
         |FROM w""".stripMargin)),

    // Equi-depth (quantile) bins of the price column
    // (operators/Histogram.equalDepth) — the feature-binning sibling of
    // q142's equal-width histogram: equal ROW mass per bin, which is
    // what a heavy-tailed column needs before bucketized training.
    // Interpolated percentile boundaries would ulp-drift between
    // engines; the bin is instead pure integer arithmetic on the exact
    // global rank ((rk−1)·8 DIV n, Rank.globalRank's two-pass spelling —
    // no single-task window), so the whole result hash-checks.
    Query("q156_equidepth_bins", ((s, dir) =>
      graft.operators.Histogram.equalDepth(
        t(s, dir, "lineitem")
          .select("l_extendedprice", "l_orderkey", "l_linenumber"),
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"), nBins = 8)),
      // Mirrors Histogram.equalDepth: the bin is integer arithmetic on the
      // exact global rank (ROW_NUMBER over the same total order globalRank
      // range-sorts by), micro-unit integer bounds — no interpolated
      // percentile boundary ever exists in either engine.
      Some("""WITH xs AS (
        |  SELECT l_extendedprice::DOUBLE AS x, l_orderkey, l_linenumber
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |nn AS (SELECT count(*) AS total FROM xs),
        |r AS (
        |  SELECT x, ROW_NUMBER() OVER
        |    (ORDER BY x, l_orderkey, l_linenumber) AS rk
        |  FROM xs)
        |SELECT ((rk - 1) * 8) // total AS bin, count(*) AS n,
        |  CAST(floor(min(x) * 1000000.0 + 0.5) AS BIGINT) AS lo_micro,
        |  CAST(floor(max(x) * 1000000.0 + 0.5) AS BIGINT) AS hi_micro
        |FROM r, nn GROUP BY 1""".stripMargin)),

    // Leave-one-out target encoding — the categorical-feature encoder
    // that per-category plain means would leak (a row's own target
    // inside its encoding): enc(row) = (Σ_group target − target_row) /
    // (n_group − 1). One map-side-combined aggregate over the bounded
    // category domain, broadcast back, pure arithmetic per row — no
    // window, no self-join; the group sum rides exact BIGINT (n_chars
    // is integral) so the one double divide is the only float. A
    // singleton category encodes NULL (try_divide), never a 0/0.
    Query("q157_target_encode", ((s, dir) => {
      val d = t(s, dir, "documents")
      val g = d.groupBy("lang").agg(sum(col("n_chars")).as("__sum"),
        count(lit(1)).as("__n"))
      d.join(broadcast(g), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          try_divide((col("__sum") - col("n_chars")).cast("double"),
            (col("__n") - lit(1L)).cast("double")).as("loo_mean_chars"))
    }),
      // Mirrors q157: exact integral group sums (DuckDB's HUGEINT sum ≡
      // Spark's long sum at these magnitudes), the CASE NULL is
      // try_divide's singleton-category contract.
      Some("""WITH g AS (
        |  SELECT lang, sum(n_chars) AS s, count(*) AS n
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars,
        |  CASE WHEN n = 1 THEN NULL
        |       ELSE CAST(s - n_chars AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |  END AS loo_mean_chars
        |FROM documents d JOIN g USING (lang)""".stripMargin)),

    // Rolling MEDIAN over a bounded ROWS frame — q153's robust sibling
    // (median shrugs off the spike that drags a mean). Exact, not
    // approximate: values ride micro-unit integers, the ≤5-element
    // frame is collected, sorted, and indexed at the LOWER median
    // (k = ⌈n/2⌉) — integer all the way, no interpolation to spell
    // differently across engines. The collected frame is bounded by the
    // frame width (5), not the partition, so per-row state is O(1);
    // the window partitions by the high-cardinality user key.
    Query("q170_rolling_median", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
        .rowsBetween(-4, org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
        .withColumn("frame", sort_array(collect_list(col("v_micro")).over(w)))
        .select(col("user_id"), col("event_id"), col("ts_epoch"),
          size(col("frame")).cast("long").as("n5"),
          element_at(col("frame"),
            ((size(col("frame")) + 1) / 2).cast("int")).as("med_micro"))
        .withColumn("med", col("med_micro").cast("double") / lit(1000000.0))
    }),
      // Mirrors q170: identical micro-unit quantization, identical frame,
      // list-collect + sort + 1-based lower-median index — all integer.
      Some("""WITH e AS (
        |  SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_epoch,
        |    list_sort(list(v_micro) OVER w) AS frame
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY ts_epoch ASC, event_id ASC
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, ts_epoch,
        |  CAST(len(frame) AS BIGINT) AS n5,
        |  frame[CAST((len(frame) + 1) // 2 AS INT)] AS med_micro,
        |  CAST(frame[CAST((len(frame) + 1) // 2 AS INT)] AS DOUBLE)
        |    / 1000000.0 AS med
        |FROM f""".stripMargin)),

    // Exact ROC AUC (Mann-Whitney U) — the label-vs-score audit a
    // training pipeline runs on every heuristic quality signal ("does
    // the score actually rank positives above negatives?"). The
    // rank-sum spelling is all-integer: scores quantize to micro-units
    // (exact, mirrored), aggregate to the distinct-score grid with
    // per-score positive/negative counts (map-side combined — the fact
    // table never sorts), then the cumulative negatives-below-v over the
    // GRID come from Rank.globalPrefixSum's two-pass distributed scan —
    // the grid's cardinality is the DISTINCT values of a continuous
    // column, which grows with the data, so an unpartitioned cumulative
    // window here would move the whole grid through one task (the
    // r15-flagged shape); the two-pass scan range-partitions the grid
    // and broadcasts only #partitions offset rows. 2·num =
    // Σ_v np_v·(2·cum_neg_below(v) + nn_v) — concordant pairs doubled
    // plus ties once. AUC = num2 / (2·P·N) is the single mirrored
    // divide.
    Query("q171_auc", ((s, dir) => {
      val grid = t(s, dir, "events")
        .select(
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("pos"))
        .groupBy("v_micro")
        .agg(sum(col("pos")).as("np"),
          sum(lit(1L) - col("pos")).as("nn"))
      graft.operators.Rank
        .globalPrefixSum(grid, Seq(col("v_micro")), Seq("nn" -> "cum_nn_inc"))
        // exclusive (strictly-below) = inclusive − own contribution
        .withColumn("cum_nn", col("cum_nn_inc") - col("nn"))
        .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
          sum(col("np") * (lit(2L) * col("cum_nn") + col("nn")))
            .as("num2"))
        .select(col("n_pos"), col("n_neg"), col("num2"),
          try_divide(col("num2").cast("double"),
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
            .as("auc"))
    }),
      // Mirrors q171: identical quantized score grid, per-score
      // positive/negative counts, the same strictly-below cumulative
      // window and the doubled concordant+ties numerator; one divide.
      Some("""WITH g AS (
        |  SELECT CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS nn
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT np, nn,
        |    COALESCE(sum(nn) OVER (ORDER BY v_micro ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_nn
        |  FROM g)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(nn) AS BIGINT) AS n_neg,
        |  CAST(sum(np * (2 * cum_nn + nn)) AS BIGINT) AS num2,
        |  CAST(sum(np * (2 * cum_nn + nn)) AS DOUBLE) /
        |    CAST(2 * sum(np) * sum(nn) AS DOUBLE) AS auc
        |FROM c""".stripMargin)),

    // Benford first-digit audit — the fabricated-data / instrumentation-
    // bug detector over a magnitude-spanning measure: natural positive
    // measurements lead with 1 ~30% of the time; uniform leading digits
    // flag synthetic or truncated feeds. Digit extraction is INTEGER
    // (first char of the micro-unit BIGINT's decimal rendering — never
    // log10, whose boundary rounding is engine-dependent); the nine
    // Benford shares are hardcoded 17-digit literals identical in both
    // engines, so expected counts and χ² contributions are mirrored
    // double arithmetic over exact integer counts.
    Query("q172_benford", ((s, dir) => {
      import s.implicits._
      // the nine shares as JVM double literals; the oracle spells the
      // same digits in exponent form, which both parsers round-to-
      // nearest identically (DuckDB's BARE decimal literal would parse
      // as DECIMAL and cast — off by 1 ulp)
      val benford = Seq(
        1 -> 0.30102999566398120, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829993, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514)
      val exp = benford.toDF("digit", "share")
      // filter on the QUANTIZED value, not the raw one: 0 < value <
      // 5e-7 rounds to v_micro = 0, whose leading digit '0' would be
      // counted in n_total yet excluded from the nine displayed rows —
      // expected counts would no longer sum to the observed total
      // (round-8 ADVICE); v_micro >= 1 keeps n_total = Σ observed
      val obs = t(s, dir, "events")
        .select(floor(col("value") * lit(1000000.0) + lit(0.5))
          .cast("long").as("v_micro"))
        .where(col("v_micro") >= 1L)
        .select(substring(col("v_micro").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("observed"))
      val n = obs.agg(sum(col("observed")).as("n_total"))
      exp.join(obs, Seq("digit"), "left")
        .na.fill(0L, Seq("observed"))
        .crossJoin(broadcast(n))
        .select(col("digit"), col("observed"), col("share"),
          (col("n_total").cast("double") * col("share")).as("expected"))
        .withColumn("chi2_term",
          (col("observed").cast("double") - col("expected")) *
            (col("observed").cast("double") - col("expected")) /
            col("expected"))
    }),
      // Mirrors q172: the same integer first-digit extraction (decimal
      // rendering of the micro-unit BIGINT, never log10), the same nine
      // hardcoded Benford literals, op-for-op χ² terms.
      Some("""WITH obs AS (
        |  SELECT CAST(substr(CAST(v_micro AS VARCHAR), 1, 1) AS INT)
        |      AS digit,
        |    count(*) AS observed
        |  FROM (SELECT CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
        |          AS v_micro
        |        FROM events)
        |  WHERE v_micro >= 1 GROUP BY 1),
        |ex AS (SELECT * FROM (VALUES
        |  (1, 0.3010299956639812e0), (2, 0.17609125905568124e0),
        |  (3, 0.12493873660829993e0), (4, 0.09691001300805642e0),
        |  (5, 0.07918124604762482e0), (6, 0.06694678963061322e0),
        |  (7, 0.05799194697768673e0), (8, 0.05115252244738129e0),
        |  (9, 0.04575749056067514e0)) t(digit, share)),
        |n AS (SELECT CAST(sum(observed) AS BIGINT) AS n_total FROM obs),
        |j AS (
        |  SELECT ex.digit, CAST(COALESCE(obs.observed, 0) AS BIGINT)
        |      AS observed, ex.share,
        |    CAST(n.n_total AS DOUBLE) * ex.share AS expected
        |  FROM ex LEFT JOIN obs ON ex.digit = obs.digit CROSS JOIN n)
        |SELECT digit, observed, share, expected,
        |  (CAST(observed AS DOUBLE) - expected) *
        |    (CAST(observed AS DOUBLE) - expected) / expected AS chi2_term
        |FROM j""".stripMargin)),

    // Per-group simple linear regression (OLS) — the drift/trend fit a
    // feature-store job runs per segment (price-per-unit slope by
    // return flag). Five integer moments (n, Σx, Σy, Σxy, Σx²) ride
    // one map-side-combined aggregate in DECIMAL(38,0) ≡ HUGEINT —
    // quantity is a whole-number double (exact BIGINT cast) and price
    // quantizes to cents — and BOTH closed forms keep integer
    // numerators/denominators until their single mirrored divide:
    // slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept =
    // (ΣyΣx²−ΣxΣxy)/(nΣx²−(Σx)²) — no slope-feeds-intercept float
    // chaining. Degenerate groups (constant x) yield NULL via
    // try_divide, never a 0/0.
    Query("q174_ols_group", ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
            .as("y"))
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
          sum(d38(col("x")) * col("y")).as("sxy"),
          sum(d38(col("x")) * col("x")).as("sxx"))
        // the moment terms grow ~n² (intercept numerator 4.4·10¹⁹ at
        // sf0.1, past int64) — all four rendered through the
        // hugeAsDouble limb chain, never a direct int128→double cast
        .select(col("l_returnflag"), col("n"),
          try_divide(
            hugeAsDouble(
              d38(col("n")) * col("sxy") - col("sx") * col("sy")),
            hugeAsDouble(
              d38(col("n")) * col("sxx") - col("sx") * col("sx")))
            .as("slope_cents_per_unit"),
          try_divide(
            hugeAsDouble(
              col("sy") * col("sxx") - col("sx") * col("sxy")),
            hugeAsDouble(
              d38(col("n")) * col("sxx") - col("sx") * col("sx")))
            .as("intercept_cents"))
    }),
      // Mirrors q174: cents quantization, HUGEINT moments, the same two
      // integer-numerator closed forms, one divide each.
      Some(s"""WITH li AS (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM li GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  ${hugeAsDoubleSql("n * sxy - sx * sy")} /
        |    NULLIF(${hugeAsDoubleSql("n * sxx - sx * sx")}, 0)
        |    AS slope_cents_per_unit,
        |  ${hugeAsDoubleSql("sy * sxx - sx * sxy")} /
        |    NULLIF(${hugeAsDoubleSql("n * sxx - sx * sx")}, 0)
        |    AS intercept_cents
        |FROM m""".stripMargin)),

    // Cumulative DISTINCT count over an ordered stream — "how many
    // distinct event types has this user touched so far?", the
    // engagement-breadth curve. COUNT(DISTINCT) is not a window
    // function in either engine; the scale-safe spelling is the
    // first-occurrence flag (row_number over (user, type) = 1) summed
    // cumulatively — two windows over the SAME (user, time) partition
    // order, so one sort serves both; all integers.
    Query("q175_cumulative_distinct", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts_epoch"))
      val firstW = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
      val cumW = Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base
        .withColumn("first_seen",
          when(row_number().over(firstW) === 1, lit(1L)).otherwise(lit(0L)))
        .withColumn("cum_distinct_types", sum(col("first_seen")).over(cumW))
        .select("user_id", "event_id", "ts_epoch", "cum_distinct_types")
    }),
      // Mirrors q175: the same first-occurrence flag and cumulative sum
      // over the identical (user, time, id) order.
      Some("""WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_epoch,
        |    CASE WHEN row_number() OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY ts_epoch ASC, event_id ASC) = 1
        |      THEN 1 ELSE 0 END AS first_seen
        |  FROM e)
        |SELECT user_id, event_id, ts_epoch,
        |  CAST(sum(first_seen) OVER (PARTITION BY user_id
        |    ORDER BY ts_epoch ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_distinct_types
        |FROM f""".stripMargin)),

    // Interval islands (gaps-and-islands) — merge each user's
    // overlapping activity intervals [ts, ts+300s) into maximal
    // "islands" and report the count and covered seconds: the
    // session-coverage audit that q44's gap-based sessionizer doesn't
    // answer (coverage dedups overlap; a session SUM would double-count
    // bursts). The running-max-of-interval-end window detects island
    // starts, the cumulative flag sum numbers islands, and min/max per
    // island yield exact integer coverage — the whole operator is two
    // windows on one (user, time) sort plus a bounded aggregate.
    Query("q176_interval_islands", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val span = 300L
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("s"))
        .withColumn("e", col("s") + lit(span))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("s").asc, col("event_id").asc)
      val prevMax = ord.rowsBetween(Window.unboundedPreceding, -1)
      val runW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base
        .withColumn("prev_end", max(col("e")).over(prevMax))
        .withColumn("new_island",
          when(col("prev_end").isNull || col("s") > col("prev_end"), lit(1L))
            .otherwise(lit(0L)))
        .withColumn("island", sum(col("new_island")).over(runW))
        .groupBy("user_id", "island")
        .agg(min(col("s")).as("i_start"), max(col("e")).as("i_end"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("i_end") - col("i_start")).as("covered_sec"))
    }),
      // Mirrors q176: identical 300 s intervals, running-max island
      // detection, island numbering, exact integer coverage.
      Some("""WITH e AS (
        |  SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS s,
        |    FLOOR(epoch(ts))::BIGINT + 300 AS e
        |  FROM events),
        |flags AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN max(e) OVER (PARTITION BY user_id
        |        ORDER BY s ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR s > max(e) OVER (PARTITION BY user_id
        |        ORDER BY s ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_island,
        |    event_id
        |  FROM e),
        |isl AS (
        |  SELECT user_id, s, e,
        |    sum(new_island) OVER (PARTITION BY user_id
        |      ORDER BY s ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flags),
        |agg AS (
        |  SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(i_end - i_start) AS BIGINT) AS covered_sec
        |FROM agg GROUP BY user_id""".stripMargin)),

    // Deterministic negative sampling — the contrastive-pair generator
    // (each observed (order, part) positive gets k pseudo-random
    // negatives from the catalog). RNG would be run-dependent; the draw
    // here is a seeded integer LCG on the example's own key
    // ((x·1103515245 + 12345) mod 2³¹−1, x pre-reduced so the product
    // never overflows BIGINT at any SF), mapped into the catalog by
    // modulo and bumped one slot on collision with the positive —
    // reproducible from the data alone, trivially mirrored, and embarr-
    // assingly parallel (no shuffle at all until the optional dim join;
    // the catalog size is a one-row broadcast scalar).
    Query("q178_negative_sample", ((s, dir) => {
      val np = t(s, dir, "part")
        .agg(max(col("p_partkey")).as("np"))
      val pos = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"), col("l_partkey"))
        .withColumn("j", explode(array(lit(0L), lit(1L))))
      pos.crossJoin(broadcast(np))
        .withColumn("x",
          (col("l_orderkey") * lit(8L) + col("l_linenumber") * lit(2L) +
            col("j")) % lit(1000000007L))
        .withColumn("cand",
          (col("x") * lit(1103515245L) + lit(12345L)) % lit(2147483647L)
            % col("np") + lit(1L))
        .select(col("l_orderkey"), col("l_linenumber"), col("j"),
          when(col("cand") === col("l_partkey"),
            col("cand") % col("np") + lit(1L))
            .otherwise(col("cand")).as("neg_partkey"))
    }),
      // Mirrors q178: identical LCG, modular catalog map, collision bump.
      Some("""WITH np AS (SELECT max(p_partkey) AS np FROM part),
        |pos AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_partkey, unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS j
        |  FROM lineitem),
        |d AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, j, np,
        |    (l_orderkey * 8 + l_linenumber * 2 + j) % 1000000007 AS x
        |  FROM pos CROSS JOIN np),
        |c AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, j, np,
        |    (x * 1103515245 + 12345) % 2147483647 % np + 1 AS cand
        |  FROM d)
        |SELECT l_orderkey, l_linenumber, j,
        |  CASE WHEN cand = l_partkey THEN cand % np + 1 ELSE cand END
        |    AS neg_partkey
        |FROM c""".stripMargin)),

    // Two-sample Kolmogorov-Smirnov statistic — the strongest of the
    // drift screens (q144/q152 band counts, q159 skew, this compares
    // WHOLE distributions): D = max |F₁(v) − F₂(v)| between the view
    // and click value distributions. Exactly computable with NO floats
    // until the last divide: cross-multiply the ECDFs —
    // |C₁(v)·N₂ − C₂(v)·N₁| — so the max runs over integers (cents
    // cross-products in DECIMAL(38,0) ≡ HUGEINT headroom). Both ECDFs
    // accumulate over the DISTINCT-value grid in ONE
    // Rank.globalPrefixSum two-pass scan — the grid's cardinality is
    // the distinct micro-values of a continuous column, which grows
    // with the data, so the unpartitioned cumulative window r15 flagged
    // here was the single-task scale shape; the two-pass scan is
    // grid-distributed and value-identical — fed by one
    // map-side-combined aggregate of the fact scan.
    Query("q180_ks_test", ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val grid = t(s, dir, "events")
        .where(col("event_type").isin("view", "click"))
        .select(
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"),
          when(col("event_type") === "view", lit(1L)).otherwise(lit(0L))
            .as("is1"))
        .groupBy("v_micro")
        .agg(sum(col("is1")).as("n1_v"),
          sum(lit(1L) - col("is1")).as("n2_v"))
      val totals = grid.agg(sum(col("n1_v")).as("n1"),
        sum(col("n2_v")).as("n2"))
      graft.operators.Rank
        .globalPrefixSum(grid, Seq(col("v_micro")),
          Seq("n1_v" -> "c1", "n2_v" -> "c2"))
        .crossJoin(broadcast(totals))
        .select(col("n1"), col("n2"),
          abs(d38(col("c1")) * col("n2") - d38(col("c2")) * col("n1"))
            .as("diff"))
        .groupBy("n1", "n2")
        .agg(max(col("diff")).as("d_num"))
        .select(col("n1"), col("n2"),
          col("d_num").cast("long").as("d_num"),
          // n1·n2 growth (10¹¹ at sf0.1) — limb-rendered
          try_divide(hugeAsDouble(col("d_num")),
            hugeAsDouble(d38(col("n1")) * col("n2"))).as("ks"))
    }),
      // Mirrors q180: identical micro-unit grid, cumulative ECDF counts,
      // cross-multiplied integer deviations (HUGEINT), one divide.
      Some(s"""WITH g AS (
        |  SELECT CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1_v,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n2_v
        |  FROM events WHERE event_type IN ('view', 'click')
        |  GROUP BY 1),
        |c AS (
        |  SELECT v_micro, n1_v, n2_v,
        |    sum(n1_v) OVER (ORDER BY v_micro ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
        |    sum(n2_v) OVER (ORDER BY v_micro ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
        |  FROM g),
        |tot AS (
        |  SELECT CAST(sum(n1_v) AS BIGINT) AS n1,
        |    CAST(sum(n2_v) AS BIGINT) AS n2
        |  FROM g),
        |d AS (
        |  SELECT n1, n2,
        |    abs(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
        |      AS diff
        |  FROM c CROSS JOIN tot)
        |SELECT n1, n2, CAST(max(diff) AS BIGINT) AS d_num,
        |  ${hugeAsDoubleSql("max(diff)")} /
        |    ${hugeAsDoubleSql("CAST(n1 AS HUGEINT) * n2")} AS ks
        |FROM d GROUP BY n1, n2""".stripMargin)),

    // Changepoint detection (largest level shift) — per user, the
    // position where the 3-observation trailing window and the
    // 3-observation leading window differ most: the shift locator that
    // follows q180's "did the distribution move?" with "WHERE did it
    // move?". Both frames are bounded ROWS windows on one (user, time)
    // sort; the jump is an exact integer difference of micro-unit frame
    // sums scaled by the opposite frame's count (cross-multiplied —
    // |s_lead·n_trail − s_trail·n_lead| — so no division enters the
    // ranking), and the per-user argmax is a bounded row_number pick
    // with a deterministic (jump desc, time asc) tiebreak.
    Query("q181_changepoint", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
      val trail = ord.rowsBetween(-3, -1)
      val lead = ord.rowsBetween(0, 2)
      val base = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
      val scored = base
        .withColumn("s_trail", sum(col("v_micro")).over(trail))
        .withColumn("n_trail", count(col("v_micro")).over(trail))
        .withColumn("s_lead", sum(col("v_micro")).over(lead))
        .withColumn("n_lead", count(col("v_micro")).over(lead))
        .where(col("n_trail") === 3 && col("n_lead") === 3)
        .withColumn("jump",
          abs(col("s_lead") * col("n_trail") -
            col("s_trail") * col("n_lead")))
      val pick = Window.partitionBy("user_id")
        .orderBy(col("jump").desc, col("ts_epoch").asc, col("event_id").asc)
      scored.withColumn("rn", row_number().over(pick))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("ts_epoch"),
          col("jump").as("jump_x3_micro"))
    }),
      // Mirrors q181: identical bounded frames, cross-multiplied integer
      // jump, per-user argmax with the same deterministic tiebreak.
      Some("""WITH e AS (
        |  SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts_epoch,
        |    sum(v_micro) OVER wt AS s_trail,
        |    count(v_micro) OVER wt AS n_trail,
        |    sum(v_micro) OVER wl AS s_lead,
        |    count(v_micro) OVER wl AS n_lead
        |  FROM e
        |  WINDOW wt AS (PARTITION BY user_id
        |      ORDER BY ts_epoch ASC, event_id ASC
        |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
        |    wl AS (PARTITION BY user_id
        |      ORDER BY ts_epoch ASC, event_id ASC
        |      ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)),
        |j AS (
        |  SELECT user_id, event_id, ts_epoch,
        |    abs(s_lead * n_trail - s_trail * n_lead) AS jump
        |  FROM s WHERE n_trail = 3 AND n_lead = 3),
        |r AS (
        |  SELECT user_id, event_id, ts_epoch, jump,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY jump DESC, ts_epoch ASC, event_id ASC) AS rn
        |  FROM j)
        |SELECT user_id, event_id, ts_epoch,
        |  CAST(jump AS BIGINT) AS jump_x3_micro
        |FROM r WHERE rn = 1""".stripMargin)),

    // Cramér's V — the contingency-strength companion to q166's kappa
    // (kappa asks "do two labelings agree?"; V asks "are two
    // categoricals associated at all?", normalized to [0,1] so it is
    // comparable across tables). Rides the identical bounded
    // contingency aggregate; χ² terms are the q152 mirrored-divide
    // spelling over integer counts, and V = sqrt(χ²/(n·min(r−1,c−1)))
    // adds one mirrored sqrt. The second rater is the q166 perturbation
    // so the association is real but imperfect.
    Query("q182_cramers_v", ((s, dir) => {
      val d = (x: Column) => x.cast("double")
      val ct = t(s, dir, "events")
        .select(col("event_type").as("a"),
          when(col("event_id") % 7L === 0L, lit("view"))
            .otherwise(col("event_type")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
      val ra = ct.groupBy("a").agg(sum(col("c")).as("ra"))
      val rb = ct.groupBy("b").agg(sum(col("c")).as("rb"))
      val n = ct.agg(sum(col("c")).as("n"),
        countDistinct(col("a")).as("nr"), countDistinct(col("b")).as("nc"))
      // full r×c grid (zero cells contribute their expected mass)
      val grid = ra.crossJoin(rb)
        .join(ct, Seq("a", "b"), "left")
        .na.fill(0L, Seq("c"))
      // χ² is a SUM OF DOUBLES — engine-order-dependent unless folded
      // deterministically: the q162 pattern (sort the bounded grid by
      // cell key, fold left-associatively — identical roundings both
      // sides; 0.0+t ≡ t makes the inits equivalent)
      val chi2 = grid.crossJoin(broadcast(n))
        .select(col("a"), col("b"),
          ((d(col("c")) - d(col("ra")) * col("rb") / col("n")) *
            (d(col("c")) - d(col("ra")) * col("rb") / col("n")) /
            (d(col("ra")) * col("rb") / col("n"))).as("term"))
        .agg(sort_array(collect_list(struct(col("a"), col("b"),
          col("term")))).as("ts"))
        .select(aggregate(col("ts"), lit(0.0),
          (acc, x) => acc + x.getField("term")).as("chi2"))
      n.crossJoin(broadcast(chi2))
        .select(col("n"), col("chi2"),
          sqrt(col("chi2") / (d(col("n")) *
            d(least(col("nr"), col("nc")) - lit(1L)))).as("cramers_v"))
    }),
      // Mirrors q182: q166's contingency + perturbed rater, the full r×c
      // grid, op-for-op χ² terms folded with the q162 sorted
      // left-associative reduce, one mirrored sqrt.
      Some("""WITH r0 AS (
        |  SELECT event_type AS a,
        |    CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END AS b
        |  FROM events),
        |ct AS (SELECT a, b, count(*) AS c FROM r0 GROUP BY a, b),
        |ra AS (SELECT a, CAST(sum(c) AS BIGINT) AS ra FROM ct GROUP BY a),
        |rb AS (SELECT b, CAST(sum(c) AS BIGINT) AS rb FROM ct GROUP BY b),
        |nn AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT b) AS BIGINT) AS nc
        |  FROM ct),
        |grid AS (
        |  SELECT ra.a, rb.b, ra.ra, rb.rb, COALESCE(ct.c, 0) AS c
        |  FROM ra CROSS JOIN rb
        |  LEFT JOIN ct ON ct.a = ra.a AND ct.b = rb.b),
        |terms AS (
        |  SELECT a, b,
        |    (CAST(c AS DOUBLE) - CAST(ra AS DOUBLE) * rb / n) *
        |    (CAST(c AS DOUBLE) - CAST(ra AS DOUBLE) * rb / n) /
        |    (CAST(ra AS DOUBLE) * rb / n) AS term
        |  FROM grid CROSS JOIN nn),
        |chi AS (
        |  SELECT list_reduce(list_prepend(0.0, list(term ORDER BY a, b)),
        |    (x, y) -> x + y) AS chi2
        |  FROM terms)
        |SELECT n, chi2,
        |  sqrt(chi2 / (CAST(n AS DOUBLE) *
        |    CAST(least(nr, nc) - 1 AS DOUBLE))) AS cramers_v
        |FROM chi CROSS JOIN nn""".stripMargin)),

    // Quantile mapping (rank-based quantile normalization) — map every
    // click value onto the view distribution's value at the same
    // quantile: the distribution-matching transform (batch-effect
    // correction, score calibration across cohorts). Ranks come from
    // the q76 two-pass distributed Rank (range-partition + offset
    // broadcast — NO single-reducer global window over raw rows, the
    // PlanSpec hygiene rule), the index map ⌊(r−1)·N₁/N₂⌋+1 is integer
    // division, and the lookup is an equi-join on the mapped rank —
    // values stay micro-unit integers end to end.
    Query("q183_quantile_map", ((s, dir) => {
      val base = t(s, dir, "events")
        .where(col("event_type").isin("view", "click"))
        .select(col("event_id"), col("event_type"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
      val view = base.where(col("event_type") === "view")
      val click = base.where(col("event_type") === "click")
      val vr = graft.operators.Rank.globalRank(view,
          Seq(col("v_micro"), col("event_id")), "r")
        .select(col("v_micro").as("mapped_micro"), col("r").as("ref_r"))
      val cr = graft.operators.Rank.globalRank(click,
        Seq(col("v_micro"), col("event_id")), "r")
      val totals = base.agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n1"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n2"))
      cr.crossJoin(broadcast(totals))
        .withColumn("target_r", expr("((r - 1) * n1) DIV n2 + 1"))
        .join(vr, col("target_r") === col("ref_r"))
        .select(col("event_id"), col("v_micro"), col("target_r"),
          col("mapped_micro"))
    }),
      // Mirrors q183: row_number over the identical total order stands in
      // for the two-pass rank (same contract), integer index map, lookup.
      Some("""WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events WHERE event_type IN ('view', 'click')),
        |v AS (
        |  SELECT v_micro AS mapped_micro,
        |    row_number() OVER (ORDER BY v_micro ASC, event_id ASC) AS ref_r
        |  FROM e WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id, v_micro,
        |    row_number() OVER (ORDER BY v_micro ASC, event_id ASC) AS r
        |  FROM e WHERE event_type = 'click'),
        |t AS (
        |  SELECT CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2
        |  FROM e)
        |SELECT c.event_id, c.v_micro,
        |  ((c.r - 1) * t.n1) // t.n2 + 1 AS target_r,
        |  v.mapped_micro
        |FROM c CROSS JOIN t
        |JOIN v ON ((c.r - 1) * t.n1) // t.n2 + 1 = v.ref_r""".stripMargin)),

    // Per-group mode (most frequent value, deterministic tiebreak) —
    // the categorical imputer / dominant-label readout: count per
    // (group, value), then one bounded argmax window over the COUNTS
    // (value-domain-bounded, the q171 grid discipline), ties broken by
    // value order so both engines pick the same winner.
    Query("q184_mode_per_group", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
      val pick = Window.partitionBy("user_id")
        .orderBy(col("n").desc, col("event_type").asc)
      counts.withColumn("rn", row_number().over(pick))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
    }),
      // Mirrors q184: identical counts and (count desc, value asc) pick.
      Some("""WITH counts AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY user_id, event_type),
        |r AS (
        |  SELECT user_id, event_type, n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type ASC) AS rn
        |  FROM counts)
        |SELECT user_id, event_type AS mode_type, n FROM r
        |WHERE rn = 1""".stripMargin)),

    // Decision-stump split finder — weighted Gini impurity of every
    // candidate threshold over a banded feature: THE classic
    // feature-quality primitive (tree splits, feature selection,
    // univariate drift localization). Cumulative class counts over the
    // band grid give every split's left/right tallies in one window
    // pass; impurity for a split is the fully INTEGER rational
    // [(t_l²−p_l²−n_l²)·t_r + (t_r²−p_r²−n_r²)·t_l] / (t_l·t_r·T) —
    // products in DECIMAL(38,0) ≡ HUGEINT, one mirrored divide per
    // split row. Minimize downstream at will; the full curve is the
    // richer artifact.
    Query("q185_split_gini", ((s, dir) => {
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val grid = t(s, dir, "events")
        .select(floor(col("value") / lit(50.0)).cast("long").as("band"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("pos"))
        .groupBy("band")
        .agg(sum(col("pos")).as("p_v"), sum(lit(1L) - col("pos")).as("n_v"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("band")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val totals = grid.agg(sum(col("p_v")).as("pt"), sum(col("n_v")).as("nt"))
      grid
        .withColumn("p_l", sum(col("p_v")).over(w))
        .withColumn("n_l", sum(col("n_v")).over(w))
        .crossJoin(broadcast(totals))
        .select(col("band"),
          (col("p_l") + col("n_l")).as("t_l"),
          (col("pt") - col("p_l") + col("nt") - col("n_l")).as("t_r"),
          col("p_l"), col("n_l"),
          (col("pt") - col("p_l")).as("p_r"),
          (col("nt") - col("n_l")).as("n_r"))
        .where(col("t_r") > 0)
        .select(col("band"), col("t_l"), col("t_r"),
          try_divide(
            ((d38(col("t_l")) * col("t_l") - d38(col("p_l")) * col("p_l") -
              d38(col("n_l")) * col("n_l")) * col("t_r") +
              (d38(col("t_r")) * col("t_r") - d38(col("p_r")) * col("p_r") -
                d38(col("n_r")) * col("n_r")) * col("t_l")).cast("double"),
            (d38(col("t_l")) * col("t_r") * (col("t_l") + col("t_r")))
              .cast("double")).as("weighted_gini"))
    }),
      // Mirrors q185: identical bands, cumulative class counts, the
      // integer rational with HUGEINT products, one divide per split.
      Some("""WITH g AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS band,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p_v,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_v
        |  FROM events GROUP BY 1),
        |cum AS (
        |  SELECT band, p_v, n_v,
        |    sum(p_v) OVER (ORDER BY band ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_l,
        |    sum(n_v) OVER (ORDER BY band ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_l
        |  FROM g),
        |tot AS (
        |  SELECT CAST(sum(p_v) AS BIGINT) AS pt,
        |    CAST(sum(n_v) AS BIGINT) AS nt
        |  FROM g),
        |sp AS (
        |  SELECT band, p_l, n_l, p_l + n_l AS t_l,
        |    pt - p_l AS p_r, nt - n_l AS n_r,
        |    (pt - p_l) + (nt - n_l) AS t_r
        |  FROM cum CROSS JOIN tot)
        |SELECT band, CAST(t_l AS BIGINT) AS t_l, CAST(t_r AS BIGINT) AS t_r,
        |  CAST((CAST(t_l AS HUGEINT) * t_l - CAST(p_l AS HUGEINT) * p_l -
        |      CAST(n_l AS HUGEINT) * n_l) * t_r +
        |    (CAST(t_r AS HUGEINT) * t_r - CAST(p_r AS HUGEINT) * p_r -
        |      CAST(n_r AS HUGEINT) * n_r) * t_l AS DOUBLE) /
        |  CAST(CAST(t_l AS HUGEINT) * t_r * (t_l + t_r) AS DOUBLE)
        |    AS weighted_gini
        |FROM sp WHERE t_r > 0""".stripMargin)),

    // Calibration bins (reliability diagram) — "when the score says
    // 0.7, does the label happen 70% of the time?": per score band,
    // the observed positive rate vs the mean score. Counts and
    // micro-unit score sums are exact integers; the two rates are one
    // mirrored divide each — the eval readout that complements q171's
    // ranking-quality AUC with probability-quality.
    Query("q186_calibration_bins", ((s, dir) => {
      t(s, dir, "events")
        .select(floor(col("value") / lit(50.0)).cast("long").as("bin"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
          sum(col("v_micro")).as("sum_micro"))
        .select(col("bin"), col("n"), col("n_pos"),
          try_divide(col("n_pos").cast("double"), col("n").cast("double"))
            .as("pos_rate"),
          try_divide(col("sum_micro").cast("double"),
            col("n").cast("double")).as("mean_score_micro"))
    }),
      // Mirrors q186: identical bands, integer tallies, two divides.
      Some("""WITH b AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events)
        |SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pos_rate,
        |  CAST(sum(v_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_score_micro
        |FROM b GROUP BY bin""".stripMargin)),

    // Confusion matrix + precision/recall/F1 — the classifier eval
    // triple over the q166 perturbed second labeling (prediction =
    // perturbed, truth = actual, positive class 'view'): four integer
    // cells from ONE contingency pass, and each metric keeps an
    // integer numerator and denominator until its single divide — F1
    // spelled 2TP/(2TP+FP+FN), never the p·r/(p+r) float chain.
    Query("q187_confusion_f1", ((s, dir) => {
      val cells = t(s, dir, "events")
        .select((col("event_type") === "view").as("act"),
          (when(col("event_id") % 7L === 0L, lit("view"))
            .otherwise(col("event_type")) === "view").as("pred"))
        .agg(
          sum(when(col("act") && col("pred"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("act") && col("pred"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("act") && !col("pred"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("act") && !col("pred"), 1L).otherwise(0L)).as("tn"))
      cells.select(col("tp"), col("fp"), col("fn"), col("tn"),
        try_divide(col("tp").cast("double"),
          (col("tp") + col("fp")).cast("double")).as("precision"),
        try_divide(col("tp").cast("double"),
          (col("tp") + col("fn")).cast("double")).as("recall"),
        try_divide((lit(2L) * col("tp")).cast("double"),
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .as("f1"))
    }),
      // Mirrors q187: one contingency pass, integer-numerator metrics,
      // F1 as 2TP/(2TP+FP+FN).
      Some("""WITH c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'view' AND
        |      (CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END)
        |        = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN event_type <> 'view' AND
        |      (CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END)
        |        = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN event_type = 'view' AND
        |      (CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END)
        |        <> 'view' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN event_type <> 'view' AND
        |      (CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END)
        |        <> 'view' THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM events)
        |SELECT tp, fp, fn, tn,
        |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        |  CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
        |  CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
        |FROM c""".stripMargin)),

    // Theil-Sen robust slope per user — the outlier-immune trend
    // estimator (median of all pairwise slopes; breakdown point 29%)
    // that q174's OLS is not: one wild spike moves OLS arbitrarily,
    // moves Theil-Sen not at all. The pair join is PER-USER (bounded
    // fanout: per-key depth, not corpus² — the growth axis is users,
    // and the probe replica's ×10 users keeps per-user pair counts
    // constant); each slope is ONE mirrored divide of integer deltas,
    // and the median is the lower-median row_number pick under a
    // deterministic (slope, id, id) total order. Same-timestamp pairs
    // are excluded (undefined slope), ties in slope break by ids.
    Query("q189_theil_sen", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_epoch"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
      val pairs = e.as("a").join(e.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.ts_epoch") > col("a.ts_epoch"))
        .select(col("a.user_id").as("user_id"),
          col("a.event_id").as("ida"), col("b.event_id").as("idb"),
          ((col("b.v_micro") - col("a.v_micro")).cast("double") /
            (col("b.ts_epoch") - col("a.ts_epoch")).cast("double"))
            .as("slope"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("slope").asc, col("ida").asc, col("idb").asc)
      val cnt = Window.partitionBy("user_id")
      pairs
        .withColumn("rn", row_number().over(w))
        .withColumn("n_pairs", count(lit(1)).over(cnt))
        .where(col("rn").cast("long") === expr("(n_pairs + 1) DIV 2"))
        .select(col("user_id"), col("n_pairs"),
          col("slope").as("theil_sen_slope"))
    }),
      // Mirrors q189: identical pair condition, one mirrored divide per
      // slope, the same deterministic lower-median pick.
      Some("""WITH e AS (
        |  SELECT user_id, event_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events),
        |p AS (
        |  SELECT a.user_id, a.event_id AS ida, b.event_id AS idb,
        |    CAST(b.v_micro - a.v_micro AS DOUBLE) /
        |      CAST(b.ts_epoch - a.ts_epoch AS DOUBLE) AS slope
        |  FROM e a JOIN e b
        |    ON a.user_id = b.user_id AND b.ts_epoch > a.ts_epoch),
        |r AS (
        |  SELECT user_id, slope,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY slope ASC, ida ASC, idb ASC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_pairs
        |  FROM p)
        |SELECT user_id, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  slope AS theil_sen_slope
        |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin)),

    // Seasonal baseline residuals — deviation of every observation from
    // its (day-of-week, hour) seasonal mean: the "is this value odd FOR
    // A TUESDAY 9AM?" normalization behind rush-hour-aware anomaly
    // flags. The calendar keys derive from epoch INTEGER arithmetic
    // ((d+4) mod 7, engine-independent — never the engines' dayofweek,
    // whose week origin differs), the baseline is one bounded
    // (168-bucket) aggregate broadcast back, and the residual keeps an
    // integer numerator (x·n − Σ) until the final mirrored divides.
    Query("q190_seasonal_residual", ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"),
          unix_timestamp(col("ts")).as("ep"),
          floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
            .as("v_micro"))
        .withColumn("dow", expr("(ep DIV 86400 + 4) % 7"))
        .withColumn("hod", expr("(ep % 86400) DIV 3600"))
      val base = e.groupBy("dow", "hod")
        .agg(count(lit(1)).as("n_b"), sum(col("v_micro")).as("sum_b"))
      e.join(broadcast(base), Seq("dow", "hod"))
        .select(col("event_id"), col("dow"), col("hod"), col("n_b"),
          (col("v_micro") * col("n_b") - col("sum_b"))
            .as("residual_num_micro"))
        .withColumn("residual",
          col("residual_num_micro").cast("double") /
            col("n_b").cast("double") / lit(1000000.0))
    }),
      // Mirrors q190: identical integer calendar keys, bounded baseline,
      // integer residual numerator, the same two divides.
      Some("""WITH e AS (
        |  SELECT event_id, FLOOR(epoch(ts))::BIGINT AS ep,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        |  FROM events),
        |k AS (
        |  SELECT event_id, v_micro,
        |    (ep // 86400 + 4) % 7 AS dow, (ep % 86400) // 3600 AS hod
        |  FROM e),
        |b AS (
        |  SELECT dow, hod, count(*) AS n_b,
        |    CAST(sum(v_micro) AS BIGINT) AS sum_b
        |  FROM k GROUP BY dow, hod)
        |SELECT k.event_id, k.dow, k.hod, b.n_b,
        |  k.v_micro * b.n_b - b.sum_b AS residual_num_micro,
        |  CAST(k.v_micro * b.n_b - b.sum_b AS DOUBLE) /
        |    CAST(b.n_b AS DOUBLE) / 1000000.0 AS residual
        |FROM k JOIN b ON k.dow = b.dow AND k.hod = b.hod""".stripMargin)),

    // Rolling DISTINCT count over a bounded ROWS frame — q170's
    // distinct sibling ("how many different event types in the last 5
    // observations?"): the frame is collected (O(frame) state, bounded
    // by width not partition), de-duplicated, and counted — integers
    // only; the mirrored spelling is list → distinct → length in both
    // engines.
    Query("q193_rolling_distinct", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
        .rowsBetween(-4, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts_epoch"))
        .withColumn("k5",
          size(array_distinct(collect_list(col("event_type")).over(w)))
            .cast("long"))
        .select("user_id", "event_id", "ts_epoch", "k5")
    }),
      // Mirrors q193: identical frame, list → distinct → length.
      Some("""WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    FLOOR(epoch(ts))::BIGINT AS ts_epoch
        |  FROM events)
        |SELECT user_id, event_id, ts_epoch,
        |  CAST(len(list_distinct(list(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts_epoch ASC, event_id ASC
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))) AS BIGINT) AS k5
        |FROM e""".stripMargin)),

    // Bitset-encoded distinct over a bounded domain — the roaring-
    // bitmap idea at its smallest: map the (bounded, enumerable) value
    // domain to bit positions via a broadcast dictionary, OR the masks
    // per key, popcount = distinct count. bit_or is commutative/
    // associative (map-side combinable, shuffle-order-proof — the
    // integer sibling of the HLL merge, but EXACT), the mask itself is
    // a carryable set representation later stages can intersect/union
    // without re-touching rows, and countDistinct rides along as the
    // in-query parity audit.
    Query("q194_bitset_distinct", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dict = t(s, dir, "events").select("event_type").distinct()
        .withColumn("idx",
          (row_number().over(Window.orderBy("event_type")) - 1)
            .cast("long"))
      t(s, dir, "events").join(broadcast(dict), "event_type")
        .groupBy("user_id")
        .agg(bit_or(expr("CAST(1 AS BIGINT) << idx")).as("type_mask"),
          countDistinct(col("event_type")).as("k"))
        .select(col("user_id"), col("type_mask"),
          bit_count(col("type_mask")).cast("long").as("k_bits"), col("k"))
    }),
      // Mirrors q194: same alphabetic bit dictionary, bit_or masks,
      // popcount, and the countDistinct parity column.
      Some("""WITH d AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT)
        |      AS idx
        |  FROM (SELECT DISTINCT event_type FROM events)),
        |j AS (
        |  SELECT e.user_id, e.event_type, d.idx
        |  FROM events e JOIN d USING (event_type))
        |SELECT user_id,
        |  CAST(bit_or(CAST(1 AS BIGINT) << idx) AS BIGINT) AS type_mask,
        |  CAST(bit_count(bit_or(CAST(1 AS BIGINT) << idx)) AS BIGINT)
        |    AS k_bits,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS k
        |FROM j GROUP BY user_id""".stripMargin)),

    // Cohen's kappa between two categorical columns — chance-corrected
    // agreement, the label-quality audit (annotator consistency, rule
    // vs model agreement) that raw accuracy overstates when the
    // marginals are skewed. Entirely integer-exact: the algebraic form
    // κ = (n·Σdiag − Σ_k ra_k·rb_k) / (n² − Σ_k ra_k·rb_k) clears both
    // probability denominators, so the ONLY double is the final
    // mirrored divide. One contingency aggregate (bounded label
    // domain), marginals re-aggregated from it — the fact table scans
    // once.
    Query("q166_cohens_kappa", ((s, dir) => {
      // rater A is the event label; rater B is a deterministic noisy
      // second annotator (every 7th event relabeled 'view') — the q64
      // enrichment discipline: the raw schema has no second rater, the
      // mirrored perturbation gives the audit real disagreement
      val ct = t(s, dir, "events")
        .select(col("event_type").as("a"),
          when(col("event_id") % 7L === 0L, lit("view"))
            .otherwise(col("event_type")).as("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("c"))
      val n = ct.agg(sum(col("c")).as("n"), sum(when(col("a") === col("b"),
        col("c")).otherwise(lit(0L))).as("n_agree"))
      // products in DECIMAL(38,0) ≡ the oracle's HUGEINT — n² and the
      // marginal products exceed 2⁶³ long before a 100 TB event log does
      val d38 = (x: Column) => x.cast("decimal(38,0)")
      val ra = ct.groupBy("a").agg(sum(col("c")).as("ra"))
      val rb = ct.groupBy("b").agg(sum(col("c")).as("rb"))
      val cross = ra.join(rb, col("a") === col("b"))
        .agg(sum(d38(col("ra")) * col("rb")).as("sum_marg"))
      n.crossJoin(broadcast(cross))
        .select(col("n").as("n_rows"), col("n_agree"),
          col("sum_marg").cast("long").as("sum_marg"),
          // n² growth (9·10¹⁰ at sf0.1) — limb-rendered
          try_divide(
            hugeAsDouble(
              d38(col("n")) * col("n_agree") - col("sum_marg")),
            hugeAsDouble(d38(col("n")) * col("n") - col("sum_marg")))
            .as("kappa"))
    }),
      // Mirrors q166: identical perturbed second rater, the same
      // denominator-cleared integer form, HUGEINT products, one divide.
      Some(s"""WITH r AS (
        |  SELECT event_type AS a,
        |    CASE WHEN event_id % 7 = 0 THEN 'view' ELSE event_type END AS b
        |  FROM events),
        |ct AS (SELECT a, b, count(*) AS c FROM r GROUP BY a, b),
        |nn AS (
        |  SELECT CAST(sum(c) AS HUGEINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
        |      AS n_agree
        |  FROM ct),
        |ra AS (SELECT a, CAST(sum(c) AS HUGEINT) AS ra FROM ct GROUP BY a),
        |rb AS (SELECT b, CAST(sum(c) AS HUGEINT) AS rb FROM ct GROUP BY b),
        |cr AS (
        |  SELECT CAST(sum(ra * rb) AS BIGINT) AS sum_marg
        |  FROM ra JOIN rb ON ra.a = rb.b)
        |SELECT CAST(n AS BIGINT) AS n_rows, n_agree, sum_marg,
        |  ${hugeAsDoubleSql("n * n_agree - sum_marg")} /
        |    ${hugeAsDoubleSql("n * n - sum_marg")} AS kappa
        |FROM nn, cr""".stripMargin)),

    // Weighted median — the quantile family's WEIGHTED member (q50
    // exact, q151 sketched, q156 equi-depth are all unit-weight): the
    // price level at which half the shipped QUANTITY sits, per return
    // flag. Entirely integer-exact: weights aggregate to the (flag,
    // price) value domain first (map-side combined — the shuffle
    // carries the price grid, not rows), the cumulative sum windows
    // over that AGGREGATED frame (the PlanSpec hygiene exception: an
    // unbounded value domain would first quantize to a grid, q160's
    // discipline), and the median is the min price with 2·cum ≥ total
    // — no halving, no interpolation, no doubles anywhere but the
    // passthrough price itself.
    Query("q163_weighted_median", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("price"),
          floor(col("l_quantity")).cast("long").as("qty"))
      val agg = li.groupBy("flag", "price").agg(sum(col("qty")).as("w"))
      // tot as a whole-partition window over the SAME aggregated frame —
      // not a separate aggregate branch, which would rescan the fact
      // table (.explain showed two ReadSchema scans for the join
      // spelling); both windows share one partitioning, so the plan is
      // one scan + one exchange
      val cw = Window.partitionBy("flag").orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tw = Window.partitionBy("flag")
      agg.withColumn("cum", sum(col("w")).over(cw))
        .withColumn("tot", sum(col("w")).over(tw))
        .where(col("cum") * 2L >= col("tot"))
        .groupBy("flag", "tot")
        .agg(min(col("price")).as("weighted_median_price"))
    }),
      // Mirrors q163: the same (flag, price)-grid weight aggregate,
      // cumulative window, and 2·cum ≥ tot pick — BIGINT casts pin
      // DuckDB's HUGEINT sums back to Spark's long.
      Some("""WITH a AS (
        |  SELECT l_returnflag AS flag, l_extendedprice AS price,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT flag, price, w,
        |    CAST(sum(w) OVER (PARTITION BY flag ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum,
        |    CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tot
        |  FROM a)
        |SELECT flag, tot, min(price) AS weighted_median_price
        |FROM c
        |WHERE cum * 2 >= tot
        |GROUP BY flag, tot""".stripMargin)),

    // Trailing exponentially-weighted moving average per user — the
    // recency-weighted member of the smoothing family (q153 is the
    // uniform ROWS-frame mean). α = 1/2 over the last 8 observations,
    // spelled as an EXPLICIT dyadic-weight lag chain (weights 2⁻¹…2⁻⁷
    // with the recursion's initialization mass 2⁻⁷ on the oldest term —
    // exactly y₇=x₇; yₖ=(xₖ+yₖ₊₁)/2, so Σw = 1): every weight and every
    // x·2⁻ᵏ product is EXACT in binary floating point, and the one
    // rounding per addition happens in the same left-associative order
    // in both engines — a pow()/EWM-library spelling would be
    // libm-divergent. Rows without full 8-history emit NULL (no
    // renormalization divide). One window, partitioned by
    // high-cardinality user_id.
    Query("q161_ewma", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_epoch").asc, col("event_id").asc)
      val weights = Seq(0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625,
        0.0078125, 0.0078125)
      val terms = weights.zipWithIndex.map { case (wt, k) =>
        (if (k == 0) col("value") else lag(col("value"), k).over(w)) * lit(wt)
      }
      t(s, dir, "events").where(col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_epoch"), col("value"))
        .withColumn("ewma", terms.reduceLeft(_ + _))
        .select("event_id", "user_id", "ts_epoch", "ewma")
    }),
      // Mirrors q161: the identical dyadic-weight lag chain, summed in the
      // identical left-associative order; a NULL lag (short history)
      // NULL-propagates in both engines.
      Some("""WITH e AS (
        |  SELECT event_id, user_id, FLOOR(epoch(ts))::BIGINT AS ts_epoch,
        |    value
        |  FROM events WHERE value IS NOT NULL),
        |l AS (
        |  SELECT event_id, user_id, ts_epoch,
        |    value AS x0, lag(value, 1) OVER w AS x1,
        |    lag(value, 2) OVER w AS x2, lag(value, 3) OVER w AS x3,
        |    lag(value, 4) OVER w AS x4, lag(value, 5) OVER w AS x5,
        |    lag(value, 6) OVER w AS x6, lag(value, 7) OVER w AS x7
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY ts_epoch ASC, event_id ASC))
        |SELECT event_id, user_id, ts_epoch,
        |  x0*0.5 + x1*0.25 + x2*0.125 + x3*0.0625 + x4*0.03125 +
        |    x5*0.015625 + x6*0.0078125 + x7*0.0078125 AS ewma
        |FROM l""".stripMargin)),

    // One-pass Pearson correlation MATRIX over the fact table's numeric
    // columns — the multi-column completion of q77's single pair and
    // q105's univariate profile (feature-selection / collinearity
    // screening). ALL C(4,2) pairs ride ONE aggregate: Catalyst dedupes
    // the repeated per-column moment buffers (sum, sum-of-squares appear
    // in 3 pairs each), so the table is scanned once and the shuffle
    // carries one moments row; stack() unpivots that row — no per-pair
    // re-scan, no union of 6 aggregate branches.
    //
    // Moments ride micro-unit INTEGERS in DECIMAL(38,0) (≡ the oracle's
    // HUGEINT), not q77's DECIMAL(15,6): DuckDB sizes a decimal product
    // at p1+p2 and cross-products of any width wide enough for price²
    // bind-error past the 38 cap, while Pearson is invariant under the
    // positive scaling, so both engines run the identical exact-integer
    // pipeline and spend doubles only on the final cast/sqrt/divide.
    // DECIMAL(38,0) headroom: |q| ≤ 7·10¹⁰ here → n·Σqq ≈ 10³²; at
    // 10¹² rows drop the quantization unit accordingly.
    Query("q160_corr_matrix", ((s, dir) => {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cs.indices; j <- (i + 1) until cs.size
      } yield (cs(i), cs(j))
      def q(c: String) =
        floor(col(c) * lit(1000000.0) + lit(0.5)).cast("decimal(38,0)")
      val n = count(lit(1)).cast("decimal(38,0)")
      val moments =
        cs.flatMap(c => Seq(sum(q(c)).as(s"s_$c"),
          sum(q(c) * q(c)).as(s"ss_$c"))) ++
        pairs.map { case (a, b) => sum(q(a) * q(b)).as(s"sx_${a}__$b") }
      val aggd = t(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows"), n.as("__n") +: moments: _*)
      // moments reach n²·q² ≈ 3.3·10³² at sf0.1 (n² growth law; the
      // hugeAsDouble domain holds to ~×16 data — recompute the limb
      // split at larger gates) — rendered through the limb chain, never
      // a direct int128→double cast
      def corr(a: String, b: String) = try_divide(
        hugeAsDouble(
          col("__n") * col(s"sx_${a}__$b") - col(s"s_$a") * col(s"s_$b")),
        sqrt(hugeAsDouble(
          col("__n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a"))) *
          sqrt(hugeAsDouble(
            col("__n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))))
      val withCorrs = aggd.select(col("n_rows") +:
        pairs.map { case (a, b) => corr(a, b).as(s"c_${a}__$b") }: _*)
      val stackArgs = pairs
        .map { case (a, b) => s"'$a', '$b', c_${a}__$b" }.mkString(", ")
      withCorrs
        .select(col("n_rows"), expr(
          s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, corr)"))
        .select("col_a", "col_b", "n_rows", "corr")
    }),
      // Mirrors q160: HUGEINT micro-unit moments (≡ Spark's DECIMAL(38,0)
      // integer pipeline), one moments CTE, six UNION ALL readout rows —
      // the unpivot of Spark's stack() over the same single-aggregate
      // moments row; doubles enter only at the final cast/sqrt/divide.
      Some({
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cs.indices; j <- (i + 1) until cs.size
      } yield (cs(i), cs(j))
      def q(c: String) = s"CAST(floor($c * 1000000.0 + 0.5) AS HUGEINT)"
      val moments = cs.map(c =>
        s"sum(${q(c)}) AS s_$c, sum(${q(c)} * ${q(c)}) AS ss_$c")
        .mkString(", ")
      val cross = pairs.map { case (a, b) =>
        s"sum(${q(a)} * ${q(b)}) AS sx_${a}__$b"
      }.mkString(", ")
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n_rows,
           |  ${hugeAsDoubleSql(s"n*sx_${a}__$b - s_$a*s_$b")} /
           |    (sqrt(${hugeAsDoubleSql(s"n*ss_$a - s_$a*s_$a")}) *
           |     sqrt(${hugeAsDoubleSql(s"n*ss_$b - s_$b*s_$b")}))
           |    AS corr FROM m""".stripMargin
      }.mkString("\n|UNION ALL\n|".stripMargin)
      s"""WITH m AS (
         |  SELECT count(*) AS n_rows, CAST(count(*) AS HUGEINT) AS n,
         |    $moments, $cross
         |  FROM lineitem)
         |$rows""".stripMargin
    })),

    // Join-key skew audit — the pre-flight report that decides q39's
    // salting question ("is this key safe to shuffle on?") as data, not
    // folklore: rows/keys/max-per-key, the heaviest key's share, and
    // skew factor = max·n_keys/n_rows (1.0 = perfectly uniform). Two
    // map-side-combined aggregates per audited key (per-key counts →
    // moments-of-counts); integer until the three labeled divides.
    // Median-of-counts interpolates on integers — exact in any
    // interpolation spelling (the q145 precedent); p99 is deliberately
    // absent (0.99·(n−1) is not dyadic; its interpolation term is
    // engine-order-dependent).
    Query("q159_key_skew", ((s, dir) => {
      def audit(df: DataFrame, keyCol: String, label: String): DataFrame =
        df.where(col(keyCol).isNotNull)
          .groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
          .agg(count(lit(1)).as("n_keys"), sum(col("__c")).as("n_rows"),
            max(col("__c")).as("max_per_key"),
            expr("percentile(__c, 0.5D)").as("med_per_key"))
          .select(lit(label).as("audited_key"), col("n_rows"),
            col("n_keys"), col("max_per_key"), col("med_per_key"),
            (col("max_per_key").cast("double") /
              col("n_rows").cast("double")).as("max_share"),
            (col("max_per_key") * col("n_keys")).cast("double")
              ./(col("n_rows").cast("double")).as("skew_factor"))
      audit(t(s, dir, "events"), "user_id", "events.user_id")
        .unionByName(audit(t(s, dir, "lineitem"), "l_partkey",
          "lineitem.l_partkey"))
        .unionByName(audit(t(s, dir, "lineitem"), "l_returnflag",
          "lineitem.l_returnflag"))
    }),
      // Mirrors q159: per-key counts, then moments of the counts; the
      // median interpolates on integers (exact in any spelling, the q145
      // precedent), the three divides are the only doubles.
      Some("""WITH a1 AS (
        |  SELECT count(*) AS c FROM events
        |  WHERE user_id IS NOT NULL GROUP BY user_id),
        |a2 AS (
        |  SELECT count(*) AS c FROM lineitem
        |  WHERE l_partkey IS NOT NULL GROUP BY l_partkey),
        |a3 AS (
        |  SELECT count(*) AS c FROM lineitem
        |  WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag),
        |s AS (
        |  SELECT 'events.user_id' AS audited_key, sum(c) AS n_rows,
        |    count(*) AS n_keys, max(c) AS max_per_key,
        |    quantile_cont(c, 0.5) AS med_per_key
        |  FROM a1
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey', sum(c), count(*), max(c),
        |    quantile_cont(c, 0.5) FROM a2
        |  UNION ALL
        |  SELECT 'lineitem.l_returnflag', sum(c), count(*), max(c),
        |    quantile_cont(c, 0.5) FROM a3)
        |SELECT audited_key, CAST(n_rows AS BIGINT) AS n_rows, n_keys,
        |  max_per_key, med_per_key,
        |  CAST(max_per_key AS DOUBLE) / CAST(n_rows AS DOUBLE) AS max_share,
        |  CAST(max_per_key * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
        |    AS skew_factor
        |FROM s""".stripMargin)),
  )
}
