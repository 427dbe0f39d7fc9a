package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint

/** Plan-snapshot golden tests: the scale-critical plan shapes asserted so a
  * refactor that silently reintroduces a shuffle, drops a broadcast, or
  * hints a scaling dimension fails CI — not the 100 TB run. Uses the
  * sf0.001 testdata (plan shapes, not data volumes, are under test). */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Execute and return the FINAL physical plan (AQE re-plans at runtime;
    * the pre-execution plan would assert the wrong thing). AQE's toString
    * appends the superseded "== Initial Plan ==" — strip it, or every
    * node would be counted twice. Only the top-level marker is cut: a
    * cached artifact built under AQE prints its own nested final and
    * initial plans, indented inside its `InMemoryRelation`, and those
    * stay in the text. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.linesIterator
      .takeWhile(!_.startsWith("+- == Initial Plan =="))
      .mkString("\n")
  }

  test("finalPlan cuts only the top-level initial plan: a cached AQE " +
    "artifact's nested final and initial plans stay in the text every " +
    "plan assertion reads") {
    // q59 reads the persisted poly-LSH candidates, built under AQE on the
    // distributed path (at sf0.001 they otherwise finish on the driver as
    // a local relation, which prints no nested AQE plan): rebuilt at -1
    val lines = SparkSpec.withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      SparkEntry.resetCaches()
      finalPlan(SparkEntry.queries("q59_poly_dedup_pipeline")(spark, sf))
    }.linesIterator.toSeq
    SparkEntry.resetCaches()
    assert(lines.exists(_.contains("InMemoryRelation")), lines.mkString("\n"))
    assert(lines.exists(l => l.trim.startsWith("+- == Initial Plan ==") &&
      !l.startsWith("+-")), s"no nested initial plan:\n${lines.mkString("\n")}")
    assert(!lines.exists(_.startsWith("+- == Initial Plan ==")))
  }

  test("q33: the bucketed co-located join plans ZERO shuffle Exchanges — " +
    "both aggregations and the join reuse the bucket partitioning (a " +
    "BroadcastExchange of the small aggregated side is a size-based " +
    "planner call, not a repartition of the data)") {
    val plan = finalPlan(SparkEntry.queries("q33_bucketed_join")(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning") &&
      !plan.contains("ShuffleQueryStage"),
      s"bucketed join reintroduced a shuffle:\n$plan")
    assert(plan.contains("SelectedBucketsCount"),
      s"scan is not bucket-aware:\n$plan")
  }

  test("q29: the historical star join is four broadcast hash joins over " +
    "one stop_times scan — no shuffle join anywhere") {
    val plan = finalPlan(SparkEntry.queries("q29_historical")(spark, sf))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(nBroadcast === 4, s"expected 4 broadcast joins, plan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"dimension join fell back to a shuffle join:\n$plan")
  }

  test("q02: exactly the two fixed-cardinality dims (nation, region) carry " +
    "broadcast hints — scaling dims are left to AQE") {
    val df = SparkEntry.queries("q02_star_join")(spark, sf)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.size === 2,
      s"expected 2 broadcast hints (nation, region), got ${hints.size}")
    val hinted = hints.map(_.child.output.map(_.name).toSet)
    assert(hinted.exists(_.contains("n_nationkey")) &&
      hinted.exists(_.contains("r_regionkey")),
      s"hints sit on the wrong relations: $hinted")
  }

  test("q44: sessionization is ONE shuffle — lag and the running sum " +
    "share the (user_id) partitioning and sort") {
    val plan = finalPlan(SparkEntry.queries("q44_sessionize")(spark, sf))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles === 1, s"expected exactly 1 shuffle:\n$plan")
  }

  test("q46: term counting is map-side combined (partial aggregation " +
    "below the shuffle)") {
    val plan = finalPlan(SparkEntry.queries("q46_top_terms")(spark, sf))
    assert(plan.contains("partial_count"),
      s"no partial aggregation before the shuffle:\n$plan")
  }

  test("q02: column pruning reaches the lineitem scan (6 columns, not 16)") {
    // plan strings truncate scan metadata at 100 chars by default — widen
    // so the full ReadSchema is inspectable
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val df = SparkEntry.queries("q02_star_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val scan = plan.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("lineitem"))
      .getOrElse(fail(s"no lineitem scan found:\n$plan"))
    val schema = scan.split("ReadSchema: ").last
    val nCols = "l_[a-z]+".r.findAllIn(schema).toSet.size
    assert(nCols === 6, s"lineitem scan reads $nCols columns: $schema")
  }

  test("q94: cohort retention reads the events table exactly ONCE — " +
    "cohort sizes come from the offset-0 counts, not a second pass") {
    val plan = finalPlan(SparkEntry.queries("q94_cohort_retention")(spark, sf))
    // the healthy plan has ZERO FileScans (the tiny (cohort, offset)
    // frame is localCheckpoint-pinned, so the final plan reads the
    // checkpoint RDD); a regression that re-derives cohort sizes from
    // the events table would surface as exactly one
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans === 0,
      s"q94 re-scans events ($scans FileScans):\n$plan")
  }

  test("q88: every documents scan is pruned to the text column — the " +
    "heavy-hitter passes never read doc metadata") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val df = SparkEntry.queries("q88_heavy_hitters")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("documents"))
      .toSeq
    assert(scans.nonEmpty, s"no documents scan found:\n$plan")
    scans.foreach { scan =>
      val schema = scan.split("ReadSchema: ").last
      assert(!schema.contains("lang") && !schema.contains("source") &&
        !schema.contains("n_chars") && !schema.contains("doc_id"),
        s"documents scan reads more than text: $schema")
    }
  }

  /** The DECLARED product joins: the two brute-force cosine baselines
    * (every corpus vector × every query, 10-row side broadcast — a
    * BroadcastNestedLoopJoin is the correct physical shape there), and
    * q60's scalar-attach (corpus count N joined onto every tf row: the
    * build side is a 1-ROW aggregate, so the "nested loop" is a constant
    * broadcast — the standard scalar-subquery shape, safe at any scale;
    * q86's (N, avgdl) stats attach and q88's total-count attach are the
    * same 1-row shape; q89 embeds both the brute-force cosine baseline
    * AND the q86 stats attach; q125's corpus-total attach, q128's
    * per-relationship child-count attach, q131's total-token-count
    * attach, and q134's N-derived rank-constant attach are likewise
    * 1-ROW aggregate broadcasts; q135 is the JL-projected member of the
    * brute-force cosine family — same every-corpus-vector × broadcast-
    * queries product, scored in the reduced dimension; q139's spine is
    * users × the broadcast CALENDAR — the days side is a bounded
    * min/max-derived sequence, and the product IS the densified output
    * grid, not an intermediate that later collapses; q141 is the
    * SQ8-compressed member of the brute-force cosine family; q142's
    * range attach and q144's corpus-count attach are 1-ROW aggregate
    * broadcasts, the q60 scalar shape; q156's total-count attach to the
    * ranked rows and q158's n_docs attach to the df table are the same
    * 1-row scalar shape (the q158a/b/c r10 bisection diagnostics read
    * the same staged frames, so they inherit the same declared attach);
    * q166's kappa readout joins two 1-ROW aggregate
    * frames — both sides constant; q172's total-count attach to the
    * 9-digit grid, q178's catalog-size attach, q180's/q183's
    * sample-totals attaches, q182's n/chi2 scalar chain, and q185's
    * class-totals attach are all the same 1-ROW aggregate broadcast;
    * q179 embeds the q19 brute-force cosine baseline it audits;
    * q214's corpus-mean attach for the above-mean selection rule is
    * the same 1-ROW aggregate broadcast; q217's (R, T) feature-totals
    * attach onto the bucket table is the same 1-ROW shape; q219's
    * whole OUTPUT is three crossed 1-ROW count aggregates — constant ×
    * constant, never data × data; q221 is the label-filtered member of
    * the brute-force cosine family — same corpus × broadcast-queries
    * product as q19; q222/q224/q229 are the eval/classify/margin
    * members of the same family (corpus × broadcast-queries scoring);
    * q226's source-count attach onto the per-source inventory is the
    * q60 1-ROW scalar shape, as is q231's corpus-count attach onto the
    * ranked fluency frame; q235's class×value grid crosses two
    * bounded AGGREGATE frames plus a 1-ROW total — the q219
    * constant × constant shape). */
  private val declaredBruteForce =
    Set("q19_cosine_topk", "q55_hof_dot_rewrite", "q60_tfidf", "q86_bm25",
      "q88_heavy_hitters", "q89_hybrid_rrf", "q114_token_rarity",
      "q125_pmi_cooccur", "q128_fk_audit", "q131_vocab_coverage",
      "q134_stop_pagerank", "q135_jl_topk", "q139_gap_fill",
      "q141_sq8_ann", "q142_histogram", "q144_chi2_terms",
      "q152_chi2_drift", "q156_equidepth_bins", "q158_tfidf_cosine_pairs",
      "q158a_tfidf_elig", "q158b_tfidf_norms", "q158c_tfidf_pairs",
      "q166_cohens_kappa", "q172_benford", "q178_negative_sample",
      "q179_ann_recall", "q180_ks_test", "q182_cramers_v",
      "q183_quantile_map", "q185_split_gini",
      // q198's converter-count attach onto the two-pass-ranked rows is
      // the same 1-ROW aggregate broadcast (the q156 shape)
      "q198_time_to_convert", "q199_cms_native_agg",
      "q214_affinity_filter", "q217_dsir_weight", "q219_lsh_recall",
      "q221_hard_negatives", "q222_knn_eval", "q224_knn_classify",
      "q226_repeat_plan", "q229_triplet_margin",
      "q231_perplexity_buckets", "q232_matryoshka_recall",
      "q235_t_closeness", "q236_label_noise",
      // q240/q244/q247 embed the q19 brute-force baseline they audit
      // the IVF gate against (the q179 shape; q247 additionally scores
      // the FULL probe — the sweep's top knob point is exact by
      // construction); the gated side itself is key-based — as are the
      // OTHER gated-family members (q238/q239/q242), which therefore
      // carry no exemption: the probe join is an equi-join
      "q240_ivf_recall", "q244_gate_rank_agreement",
      "q247_gate_knob_curve")

  test("blanket plan guard: NO query plans a CartesianProduct, and only " +
    "the declared brute-force baselines plan a BroadcastNestedLoopJoin — " +
    "every candidate generator, dedup path, and join stays key-based") {
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val plan = finalPlan(SparkEntry.queries(q)(spark, sf))
      val cart = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
        !declaredBruteForce.contains(q)
      if (cart || bnlj)
        Some(s"$q: cartesian=$cart undeclaredBNLJ=$bnlj")
      else None
    }
    assert(bad.isEmpty, s"product joins found:\n${bad.mkString("\n")}")
  }

  test("q55: the HOF dot-product spelling is rewritten to the codegen'd " +
    "IntDotProduct kernel — no interpreted ArrayAggregate survives in the " +
    "optimized plan") {
    val df = SparkEntry.queries("q55_hof_dot_rewrite")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_int_dot"),
      s"rewrite did not fire:\n$optimized")
    assert(!optimized.contains("zip_with") && !optimized.contains("aggregate("),
      s"interpreted HOF survives in the optimized plan:\n$optimized")
  }

  test("q65: the HOF tokenization spelling is rewritten to the codegen'd " +
    "graft_tokens kernel — no interpreted filter(split(...)) survives in " +
    "the optimized plan") {
    val df = SparkEntry.queries("q65_hof_tokens_rewrite")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_tokens"),
      s"rewrite did not fire:\n$optimized")
    assert(!optimized.contains("filter(split("),
      s"interpreted HOF survives in the optimized plan:\n$optimized")
  }

  test("q120: the mergeable top-k aggregate partial-combines MAP-SIDE — " +
    "an ObjectHashAggregate with partial_topkaggregate sits below the " +
    "group exchange, so only #groups × k buffered rows cross the shuffle") {
    val plan = finalPlan(SparkEntry.queries("q120_topk_aggregate")(spark, sf))
    assert(plan.contains("ObjectHashAggregate"),
      s"typed aggregate did not plan ObjectHashAggregate:\n$plan")
    assert("partial_?topkaggregate".r.findFirstIn(plan.toLowerCase).isDefined,
      s"no partial (map-side) top-k aggregation below the shuffle:\n$plan")
  }

  test("q115: the built-in thresholded levenshtein predicate is rewritten " +
    "to the banded graft_bounded_levenshtein kernel, while the projected " +
    "dist VALUE keeps the built-in (full distance is observable there)") {
    val df = SparkEntry.queries("q115_fuzzy_rewrite")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_bounded_levenshtein"),
      s"rewrite did not fire:\n$optimized")
    assert(optimized.contains("levenshtein("),
      s"the projected dist value should keep the built-in:\n$optimized")
  }

  test("q55/q65 session hygiene: running the rewrite queries leaves the " +
    "shared session's optimizer untouched — other queries' plans are " +
    "identical with and without q55/q65 having run") {
    import spark.implicits._
    // a probe with the exact HOF shape the rules target, planned on the
    // SHARED session: if install leaked, this would come back rewritten
    def probePlan(): String = Seq((Seq(1L, 2L), Seq(3L, 4L))).toDF("a", "b")
      .selectExpr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS d",
        "filter(split('x y', ' '), t -> t != '') AS tk")
      .queryExecution.optimizedPlan.toString
      .replaceAll("#\\d+", "#") // exprIds differ per planning, shapes must not
    // other suites (GraftOptimizationsSpec) legitimately install on the
    // shared session — start this test from a clean rule list and restore
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = saved.filterNot(
        graft.plans.GraftOptimizations.rules.contains)
      val before = probePlan()
      SparkEntry.queries("q55_hof_dot_rewrite")(spark, sf).collect()
      SparkEntry.queries("q65_hof_tokens_rewrite")(spark, sf).collect()
      assert(!spark.experimental.extraOptimizations.exists(
        graft.plans.GraftOptimizations.rules.contains),
        "the registered-query map mutated the shared session's rule list")
      val after = probePlan()
      assert(after === before)
      assert(!after.contains("graft_int_dot") && !after.contains("graft_tokens"),
        s"rewrite leaked onto the shared session:\n$after")
    } finally spark.experimental.extraOptimizations = saved
  }

  /** Queries allowed to plan an UNPARTITIONED window, each over a frame
    * whose cardinality is provably bounded — by a fixed dimension
    * domain, a LIMIT, a max-length grid, or a local-prune pass — never
    * by raw fact/corpus rows (r16 sweep; justifications inline):
    *  - q89  — RRF fusion over the UNION of two top-k-limited lists
    *  - q108 — quota windows over one row per `source` (bounded domain)
    *  - q126 — Skyline.frontier2D's global pass over per-partition
    *           frontier survivors (the local prune bounds the frame)
    *  - q131/q164 — vocab ranking over a LIMIT-100 frame
    *  - q185 — split grid bounded by the value domain / 50 bands
    *  - q194 — bit-position dictionary over distinct event_type
    *  - q200 — median scan over the n_chars grid (max doc length) */
  private val boundedUnpartitionedWindows = Set(
    "q89_hybrid_rrf", "q108_proportional_sample", "q126_pareto_frontier",
    "q131_vocab_coverage", "q164_vocab_apply", "q185_split_gini",
    "q194_bitset_distinct", "q200_corpus_report")

  test("window partition-key hygiene: (a) no registered query plans a " +
    "window partitioned ONLY by bounded-cardinality dimension columns " +
    "over raw corpus-sized input — such partitions grow with the data " +
    "and funnel a corpus slice through one task (the q76 two-pass rank " +
    "or the q108 per-partition bounded top-k is the spelling for that " +
    "shape; windows whose input is already bounded — fed by an " +
    "aggregate or a pruning window below — are the allowed exceptions); " +
    "and (b) no registered query plans an UNPARTITIONED window over a " +
    "data-proportional frame — the r15-flagged single-task shape " +
    "(q171/q180/q198's value grids and converter sets, since respelled " +
    "onto Rank.globalRank/globalPrefixSum). Allowed unpartitioned " +
    "windows: the two-pass operators' #partitions-row metadata windows " +
    "(orderSpec references only __pid) and the documented " +
    "bounded-frame whitelist above — NOT q171/q180/q198.") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val boundedDims = Set("day_type", "weather_group", "weather_description",
      "event_type", "lang", "source")
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val partitionedHazards = plan.collect {
        case w: LWindow if w.partitionSpec.nonEmpty &&
          w.partitionSpec.forall(
            _.references.toSeq.map(_.name).forall(boundedDims)) &&
          w.child.collect {
            case a: Aggregate => a
            case ww: LWindow => ww
          }.isEmpty =>
          s"$q: window partitioned by " +
            s"[${w.partitionSpec.map(_.sql).mkString(", ")}] over raw input"
      }
      val unpartitionedHazards = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          // the two-pass rank/prefix-sum offset windows order a
          // #partitions-row aggregate by __pid — bounded metadata.
          // (orderSpec must be NONEMPTY: an order-free whole-frame
          // window is just as single-task and gets no structural pass)
          !(w.orderSpec.nonEmpty &&
            w.orderSpec.flatMap(_.child.references.toSeq.map(_.name))
              .forall(_ == "__pid")) &&
          !boundedUnpartitionedWindows.contains(q) =>
          s"$q: UNPARTITIONED window ordered by " +
            s"[${w.orderSpec.map(_.sql).mkString(", ")}]"
      }
      partitionedHazards ++ unpartitionedHazards
    }
    assert(bad.isEmpty, s"scale-hazard windows:\n${bad.mkString("\n")}")
  }

  test("q75: the partitioned read-back prunes at the file listing — the " +
    "event_type predicate lands in PartitionFilters, not a row-level " +
    "Filter over all partitions") {
    val df = SparkEntry.queries("q75_partitioned_pruning")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*event_type[^\\]]*click".r
        .findFirstIn(plan).isDefined,
      s"partition pruning missing from the scan:\n$plan")
  }

  test("E1 merge: Realtime.microBatch against a parquet snapshot plans " +
    "exactly ONE shuffle Exchange — repeated-key resolution and the S9 " +
    "upsert share one keyed aggregation over snapshot ∪ observations") {
    import graft.gtfs._
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    def feed(stops: (Int, Long)*): Array[Byte] =
      Rt.encode(FeedMessage(FeedHeader("2.0", Some(1717200000L)),
        Seq(FeedEntity("e", None, Some(TripUpdate(
          TripDescriptor(Some("T1"), None, Some("20240601"), None),
          stops.map { case (seq, arr) => StopTimeUpdate(Some(seq),
            Some(StopTimeEvent(None, Some(arr), None)), None, Some("10"))
          }, None, None))))))
    val path = "target/plan_e1_merge"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    pipelines.Realtime.microBatch(spark.createDataset(Seq(feed((1, 100L)))),
      None, None).write.parquet(path)
    val merged = pipelines.Realtime.microBatch(
      spark.createDataset(Seq(feed((1, 150L), (1, 160L), (2, 300L)))), None,
      Some(spark.read.parquet(path)))
    val plan = finalPlan(merged)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles === 1, s"expected exactly 1 shuffle:\n$plan")
    assert(!plan.contains("Join"), s"the merge plans a join:\n$plan")
  }

  test("q01: the fact-fact composite-key join carries NO broadcast hint " +
    "(a hint here OOMs executors at 100 TB; tiny-SF broadcasts are AQE's " +
    "size-based call, which scales), and the W1 global sort is present") {
    val df = SparkEntry.queries("q01_diff_mart")(spark, sf)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"unexpected join hints: $hints")
    val plan = finalPlan(df)
    assert(plan.contains("Sort"), s"W1 global sort missing:\n$plan")
  }
}
