package graft.dedup

import graft.SparkSpec
import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup operator semantics on a corpus small enough to reason about. */
class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Every operator's distributed path for every input size: tests that
    * assert on its internals (star rounds, snapshots, checkpoints, the
    * hashed verification) need it, since broadcast-sized inputs otherwise
    * finish on the driver. */
  private def distributed[T](body: => T): T =
    SparkSpec.withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  /** `body` on the driver finish (the default threshold), then on the
    * distributed path. */
  private def bothPaths(body: => Unit): Unit = { body; distributed(body) }

  /** Counts the jobs started on this thread under a tag value, and keeps
    * the metrics QueryExecutionListeners observe, while registered. */
  private final class JobProbe {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    private val tag = "graft.test.probe"
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val seen = new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.Row]()
    val jobListener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(jobs.add)
    }
    val qeListener: org.apache.spark.sql.util.QueryExecutionListener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (k, v) => seen.put(k, v) }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
    def tagged[T](value: String)(body: => T): T = {
      spark.sparkContext.setLocalProperty(tag, value)
      try body finally spark.sparkContext.setLocalProperty(tag, null)
    }
    /** Jobs tagged `value`, once the listener bus has caught up with a
      * sentinel job and every named metric has arrived. */
    def jobsTagged(value: String, metrics: String*): Int = {
      tagged("sentinel")(spark.range(1).count())
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((!jobs.contains("sentinel") || !metrics.forall(seen.containsKey)) &&
             System.nanoTime() < deadline) Thread.sleep(20)
      jobs.toArray.count(_ == value)
    }
    def observed(metric: String): org.apache.spark.sql.Row = {
      val m = seen.get(metric)
      assert(m != null, s"$metric never reached the listener; saw ${seen.keySet()}")
      m
    }
  }

  private def probing[T](body: JobProbe => T): T = {
    val p = new JobProbe
    spark.sparkContext.addSparkListener(p.jobListener)
    spark.listenerManager.register(p.qeListener)
    try body(p)
    finally {
      spark.listenerManager.unregister(p.qeListener)
      spark.sparkContext.removeSparkListener(p.jobListener)
    }
  }

  /** Whether `df`'s plan reads one LocalRelation of its own output's
    * shape, as every driver finish's result does. */
  private def finishedOnDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().exists {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.output.map(_.name) == df.columns.toSeq
      case _ => false
    }

  private val corpus = docs(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy cat", // near-dup of 1
    3L -> "completely different content about spark engines",
    4L -> "the quick brown fox jumps over the lazy dog",  // exact dup of 1
    5L -> "solo",                                          // 1 token: no shingles
    6L -> "")                                              // empty

  test("exactDupGroups: one group per distinct text with min id kept") {
    val g = Dedup.exactDupGroups(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // (n_dups, keep_id): {1,4} collapse to keep 1
    assert(g === Set((2L, 1L), (1L, 2L), (1L, 3L), (1L, 5L), (1L, 6L)))
  }

  test("dedupCorpus keeps exactly the min-id representative rows, full width") {
    val kept = Dedup.dedupCorpus(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // doc 4 (exact dup of 1) is dropped; everything else survives verbatim
    assert(kept.map(_._1) === Set(1L, 2L, 3L, 5L, 6L))
    assert(kept.contains(1L -> "the quick brown fox jumps over the lazy dog"))
  }

  test("trigram jaccardPairs equals the naive sliding(3) computation") {
    import spark.implicits._
    val blocked = corpus.withColumn("b", lit("x"))
    val got = Dedup.jaccardPairs(blocked, "doc_id", "text", Seq("b"), 0.05,
        shingleN = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def shingles(s: String): Set[String] = {
      val tk = s.split(" ").filter(_.nonEmpty)
      tk.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val all = corpus.collect().map(r => r.getLong(0) -> r.getString(1))
    val want = (for {
      (ia, ta) <- all; (ib, tb) <- all if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      inter = sa.intersect(sb).size if inter > 0
      j = inter.toDouble / sa.union(sb).size.toDouble
      if j >= 0.05
    } yield (ia, ib) -> j).toMap
    assert(got === want)
  }

  test("minhash candidates: finds the near-dup pair, skips short/empty docs, " +
    "collapses exact dups to the min-id representative") {
    val pairs = Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
      numHashes = 64, bands = 32) // r=2: high sensitivity for a tiny corpus
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L)), s"expected (1,2) among $ids")
    // doc 4 is an exact dup of 1 → only representative 1 appears
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // docs 5/6 have no shingles → never pair
    assert(!pairs.exists(p => p._1 >= 5L || p._2 >= 5L))
    // est_jaccard of (1,2) must be high (8 of 9 shingles shared)
    pairs.filter(p => (p._1, p._2) == (1L, 2L))
      .foreach(p => assert(p._3 > 0.5))
  }

  test("minhash bucket cap drops oversized buckets") {
    // 30 identical-prefix docs with distinct tails would normally bucket
    // together in most bands; cap 5 suppresses those buckets entirely.
    val many = docs((1L to 30L).map(i =>
      i -> s"shared shared shared shared shared shared tail$i"): _*)
    val cappedDf = Dedup.minhashCandidatePairs(many, "doc_id", "text",
      numHashes = 64, bands = 16, maxBucketSize = 5)
    // collect() (not count()) so the metric lands on THIS QueryExecution —
    // count() builds and runs a separate one
    val capped = cappedDf.collect().length.toLong
    val uncapped = Dedup.minhashCandidatePairs(many, "doc_id", "text",
      numHashes = 64, bands = 16, maxBucketSize = 1000).count()
    assert(capped < uncapped)
    // the drop is OBSERVED, not silent: the metric row reports the
    // suppressed buckets
    val metrics = cappedDf.queryExecution.observedMetrics
    assert(metrics.contains("minhash_lsh"), metrics.keySet)
    assert(metrics("minhash_lsh").getAs[Long]("dropped_buckets") > 0L)
  }

  test("jaccardPairs (inverted index) equals the naive all-pairs computation") {
    import spark.implicits._
    val blocked = corpus.withColumn("b", lit("x"))
    val got = Dedup.jaccardPairs(blocked, "doc_id", "text", Seq("b"), 0.05)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // Naive reference computation in Scala:
    def shingles(s: String): Set[String] = {
      val tk = s.split(" ").filter(_.nonEmpty)
      tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }
    val all = corpus.collect().map(r => r.getLong(0) -> r.getString(1))
    val want = (for {
      (ia, ta) <- all; (ib, tb) <- all if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty && sb.nonEmpty
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      if j >= 0.05
    } yield (ia, ib) -> j).toMap
    assert(got === want)
  }

  test("jaccardPairs maxDf removes boilerplate shingles from every set " +
    "and equals the naive computation over the reduced sets") {
    // 12 docs sharing a boilerplate prefix ("terms of service apply") plus a
    // distinctive tail; docs 1/2 share their tails too. The boilerplate
    // shingles hit df=12 > cap, so capped similarity comes from tails only.
    val many = docs((1L to 12L).map { i =>
      val tail = if (i <= 2) "alpha beta gamma delta" else s"tail$i x$i y$i z$i"
      i -> s"terms of service apply $tail"
    }: _*).withColumn("b", lit("x"))
    val cap = 10L
    val got = Dedup.jaccardPairs(many, "doc_id", "text", Seq("b"),
        minJaccard = 0.05, maxDf = Some(cap))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // Naive reference with the same df filter applied to the sets:
    def shingles(s: String): Set[String] = {
      val tk = s.split(" ").filter(_.nonEmpty)
      tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }
    val all = many.collect().map(r => r.getLong(0) -> r.getString(1))
    val df = all.flatMap { case (_, t) => shingles(t) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val reduced = all.map { case (id, t) =>
      id -> shingles(t).filter(df(_) <= cap) }.toMap
    val want = (for {
      (ia, _) <- all; (ib, _) <- all if ia < ib
      sa = reduced(ia); sb = reduced(ib)
      inter = sa.intersect(sb).size if inter > 0
      j = inter.toDouble / sa.union(sb).size.toDouble
      if j >= 0.05
    } yield (ia, ib) -> j).toMap
    assert(got === want)
    // the cap actually changed the result: uncapped sees the boilerplate
    // overlap between every doc pair
    val uncapped = Dedup.jaccardPairs(many, "doc_id", "text", Seq("b"),
      minJaccard = 0.05).count()
    assert(got.size < uncapped)
  }

  test("prefixJaccardPairs equals the naive all-pairs computation at " +
    "several thresholds (prefix-filter completeness) and observes its " +
    "candidate count") {
    // Mixed corpus: exact dups, a near-dup pair, disjoint docs, a
    // shared-boilerplate family (common shingles land OUTSIDE rarity
    // prefixes — the case that would expose an unsound prefix), and
    // short/empty docs.
    val many = docs((1L to 10L).map { i =>
      val t = i match {
        case 1L => "the quick brown fox jumps over the lazy dog"
        case 2L => "the quick brown fox jumps over the lazy cat"
        case 3L => "the quick brown fox jumps over the lazy dog"
        case 4L => "completely different content about spark engines"
        case 5L => "solo"
        case 6L => ""
        case i  => s"terms of service apply to item$i and variant$i here"
      }
      i -> t
    }: _*)
    def shingles(s: String): Set[String] = {
      val tk = s.split(" ").filter(_.nonEmpty)
      tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }
    val all = many.collect().map(r => r.getLong(0) -> r.getString(1))
    for (tau <- Seq(0.2, 0.5, 0.8)) bothPaths {
      val result = Dedup.prefixJaccardPairs(many, "doc_id", "text", tau)
      val got = result.collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val want = (for {
        (ia, ta) <- all; (ib, tb) <- all if ia < ib
        sa = shingles(ta); sb = shingles(tb)
        if sa.nonEmpty && sb.nonEmpty
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
        if j >= tau
      } yield (ia, ib) -> j).toMap
      assert(got === want, s"tau=$tau")
      // the candidate metric is observed and covers at least the output
      val m = result.queryExecution.observedMetrics
      assert(m.contains("prefix_jaccard"), m.keySet)
      assert(m("prefix_jaccard").getAs[Long]("candidate_pairs") >= got.size)
    }
  }

  test("prefixJaccardPairs: hashed and string verification paths are " +
    "byte-equal (the injectivity-guarded xxhash64 fast path vs the " +
    "spark.graft.dedup.hashedVerify=false fallback)") { distributed {
    val many = docs((1L to 12L).map { i =>
      val t = i match {
        case 1L => "the quick brown fox jumps over the lazy dog"
        case 2L => "the quick brown fox jumps over the lazy cat"
        case 3L => "the quick brown fox jumps over the lazy dog"
        case i  => s"terms of service apply to item$i and variant$i here"
      }
      i -> t
    }: _*)
    def run(): Map[(Long, Long), Double] =
      Dedup.prefixJaccardPairs(many, "doc_id", "text", 0.4).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val hashed = run()
    spark.conf.set("spark.graft.dedup.hashedVerify", "false")
    try {
      val strings = run()
      assert(hashed === strings)
      assert(hashed.nonEmpty) // the parity must be over a non-trivial set
    } finally spark.conf.unset("spark.graft.dedup.hashedVerify")
  }}

  test("dupClusters: components get their min id, chains converge, " +
    "disjoint clusters stay apart") {
    import spark.implicits._
    // a 5-node chain (diameter 4 → several propagation rounds) + a pair
    val pairs = Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dupClusters: 10k-node path graph converges in O(log n) star " +
    "rounds, not O(diameter) propagation rounds") { distributed {
    import spark.implicits._
    val n = 10000L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.connectedComponents(
      pairs.select(col("id_a").as("a"), col("id_b").as("b")),
      maxIters = 30, checkpointDir = None)
    assert(rounds <= 15, s"expected ≤15 star rounds on a 10k chain, got $rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === n)
    assert(got.forall(_._2 == 1L))
  }}

  test("dupClusters: reliable-checkpoint mode (cluster durability) " +
    "produces identical clusters") { distributed {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ccp").toString
    val pairs = Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L), (10L, 11L),
      (7L, 7L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 7L -> 7L))
  }}

  test("local-mode round snapshots are released eagerly: persistent RDDs " +
    "do not accumulate with round count, and releaseClusterState drops " +
    "what the labels still read") { distributed {
    import spark.implicits._
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val pairs = (1L until 3000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.connectedComponents(
      pairs.select(col("id_a").as("a"), col("id_b").as("b")),
      maxIters = 30, checkpointDir = None)
    assert(labels.count() === 3000L)
    assert(rounds >= 3) // enough rounds that accumulation would show
    val during = persisted -- before
    assert(during.size <= 3,
      s"${during.size} persistent RDDs for $rounds rounds — superseded " +
        "localCheckpoint blocks are not being released")
    Dedup.releaseClusterState(labels)
    val after = persisted -- before
    assert(after.isEmpty, s"release left ${after.size} persistent RDDs")
  }}

  test("dupClusters convergence is observable: per-round edge cardinality " +
    "and the converged summary reach QueryExecutionListeners") { distributed {
    import spark.implicits._
    val seen = new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => seen.put(k, v) }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
      val (labels, rounds) = Dedup.connectedComponents(
        pairs.select(col("id_a").as("a"), col("id_b").as("b")),
        maxIters = 30, checkpointDir = None)
      assert(labels.count() === 4L)
      // listener delivery is async — poll until the summary lands
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.containsKey("graft_cc_summary") &&
             System.nanoTime() < deadline) Thread.sleep(50)
      val summary = seen.get("graft_cc_summary")
      assert(summary != null,
        s"graft_cc_summary never reached the listener; saw ${seen.keySet()}")
      assert(summary.getAs[Int]("rounds") === rounds)
      assert(summary.getAs[Long]("ids") === 4L)
      // round 0 = the base (distinct, self-loop-free) edge set: 3 edges
      val r0 = seen.get("graft_cc_round_0")
      assert(r0 != null && r0.getAs[Long]("edges") === 3L)
      // every star round reported a cardinality a monitor could alarm on
      (1 to rounds).foreach(i =>
        assert(seen.containsKey(s"graft_cc_round_$i"), s"missing round $i"))
    } finally spark.listenerManager.unregister(listener)
  }}

  test("a broadcast-sized edge set is solved on the driver: dupClusters " +
    "runs at most 4 jobs, leaves no persistent RDD, and reports " +
    "graft_cc_summary with 0 rounds") {
    import spark.implicits._
    // 180 edges, as many as corpus_dedup's verified pairs: 30 chains of
    // 7 ids, each listed from its far end so the star loop needs rounds;
    // repartitioned, so they are not a local relation and are counted
    // (an edge set already on the driver is solved as it stands, below)
    val pairs = (0 until 30).flatMap(c => (6 to 1 by -1).map(i =>
        (c * 10L + i, c * 10L + i + 1))).toDF("id_a", "id_b").repartition(2)
    assert(pairs.count() === 180L)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    probing { p =>
      val before = persisted
      val labels = p.tagged("cc")(Dedup.dupClusters(pairs))
      val left = persisted -- before
      assert(left.isEmpty, s"dupClusters left ${left.size} persistent RDDs")
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === (0 until 30).flatMap(c => (1 to 7).map(i =>
        (c * 10L + i) -> (c * 10L + 1))).toMap)
      val n = p.jobsTagged("cc", "graft_cc_summary")
      assert(n <= 4, s"dupClusters ran $n jobs")
      val summary = p.observed("graft_cc_summary")
      assert(summary.getAs[Int]("rounds") === 0)
      assert(summary.getAs[Long]("ids") === 210L)
    }
  }

  test("nearDupCorpus drops exactly the non-representative cluster " +
    "members; singletons survive") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val docsAll = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L)
      .map(i => (i, s"text$i")).toDF("doc_id", "text")
    val kept = Dedup.nearDupCorpus(docsAll, "doc_id", Dedup.dupClusters(pairs))
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 5L, 10L)) // 2,3 fold into 1; 11 into 10
  }

  test("nearDupCorpusBest keeps the highest-scoring member per cluster " +
    "(tie toward min id); singletons survive") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val docsAll = Seq(
      (1L, "a", 5L), (2L, "b", 9L), (3L, "c", 9L), // cluster {1,2,3}: 2 wins (tie 2 vs 3 → min id)
      (4L, "d", 1L), (5L, "e", 2L),                // singletons
      (10L, "f", 3L), (11L, "g", 7L))              // cluster {10,11}: 11 wins
      .toDF("doc_id", "text", "len")
    val kept = Dedup.nearDupCorpusBest(docsAll, "doc_id",
        Dedup.dupClusters(pairs), col("len"))
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L, 5L, 11L))
  }

  test("jaccardOnPairs verifies exactly the supplied candidate pairs") {
    import spark.implicits._
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.jaccardOnPairs(cand, corpus, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.keySet === Set((1L, 2L), (1L, 3L)))
    assert(out((1L, 2L)) > 0.5)
    assert(out((1L, 3L)) === 0.0)
  }

  test("incrementalPolyMinhashPairs: every pair touches the batch, a " +
    "batch copy of a corpus text is reported at est 1.0 with the cross " +
    "flag, corpus-internal near-dups are NOT re-derived") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon eta")) // 2~3: corpus-internal
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // copy of 1
      (11L, "totally different content with no overlap at all"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalPolyMinhashPairs(corpus, batch,
        "doc_id", "text")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.contains((1L, 10L)), s"batch copy not reported: $got")
    assert(got((1L, 10L)) === ((1L, 1.0))) // cross flag + exact signature
    assert(!got.contains((2L, 3L)), "corpus-internal pair re-derived")
    assert(got.keys.forall(p => p._1 >= 10L || p._2 >= 10L))
  }

  test("incrementalPolyMinhashPairs equals the full-union poly pairs " +
    "restricted to batch-touching ids (when no text spans both sides)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 25).map(i => s"w$i")
    // unique texts (id token appended) with heavy shared structure
    val docs = (1L to 60L).map { i =>
      val base = (0 until 10).map(_ => vocab(rnd.nextInt(vocab.size)))
      (i, (base :+ s"id$i").mkString(" "))
    }.toDF("doc_id", "text")
    val corpus = docs.where($"doc_id" % 5L =!= 0L)
    val batch = docs.where($"doc_id" % 5L === 0L)
    val batchIds = batch.collect().map(_.getLong(0)).toSet
    val incr = Dedup.incrementalPolyMinhashPairs(corpus, batch,
        "doc_id", "text")
      .select("id_a", "id_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.polyMinhashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => batchIds(p._1) || batchIds(p._2)).toSet
    assert(incr === full)
    assert(incr.nonEmpty)
  }

  test("fuzzyNamePairs: segment blocking finds EXACTLY the brute-force " +
    "edit-distance pairs on an adversarial vocabulary (shared prefixes, " +
    "length changes, short strings, transposed-ish edits)") {
    import spark.implicits._
    val vocab = Seq(
      "stop_1", "stop_2", "stop_12", "stop_123", "stop_124", "stop_1234",
      "stpo_1",              // two substitutions from stop_1
      "sto_1", "stop", "st", // deletions, short strings
      "a", "ab", "abc", "x", // very short — empty-segment edge
      "depot_1", "depot_9", "the_terminal", "the_termina1")
    // brute-force reference over all pairs
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      x <- vocab; y <- vocab if x < y
      d = lev(x, y) if d <= 2
    } yield (x, y, d.toLong)).toSet
    bothPaths {
      val got = Dedup.fuzzyNamePairs(vocab.toDF("name"), "name", maxDist = 2)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got === expected,
        s"missed: ${expected -- got}; extra: ${got -- expected}")
    }
    assert(expected.nonEmpty)
  }

  test("broadcast-sized inputs finish on the driver: prefixJaccardPairs " +
    "and fuzzyNamePairs each run at most 2 jobs, and each observation " +
    "reaches a QueryExecutionListener with candidates >= output rows") {
    import spark.implicits._
    val many = docs((1L to 40L).map { i =>
      i -> (if (i % 4 == 0) s"the quick brown fox jumps over the lazy dog $i"
        else s"terms of service apply to item$i and variant${i % 3} here")
    }: _*)
    val names = (0 until 60).map(i => s"stop_${i % 25}${"x" * (i % 3)}")
      .toDF("name")
    probing { p =>
      val pairs = p.tagged("near_dup")(
        Dedup.prefixJaccardPairs(many, "doc_id", "text", 0.5).collect())
      val fuzzy = p.tagged("fuzzy")(
        Dedup.fuzzyNamePairs(names, "name", maxDist = 2).collect())
      assert(pairs.nonEmpty && fuzzy.nonEmpty)
      val nearJobs = p.jobsTagged("near_dup", "prefix_jaccard", "fuzzy_block")
      assert(nearJobs <= 2, s"prefixJaccardPairs ran $nearJobs jobs")
      val fuzzyJobs = p.jobsTagged("fuzzy")
      assert(fuzzyJobs <= 2, s"fuzzyNamePairs ran $fuzzyJobs jobs")
      assert(p.observed("prefix_jaccard").getAs[Long]("candidate_pairs") >=
        pairs.length)
      assert(p.observed("fuzzy_block").getAs[Long]("candidates") >=
        fuzzy.length)
    }
  }

  test("spark.sql.autoBroadcastJoinThreshold=-1 restores the distributed " +
    "plans of prefixJaccardPairs, fuzzyNamePairs and dupClusters") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val names = Seq("stop_1", "stop_2").toDF("name")
    def ops() = Seq(
      Dedup.prefixJaccardPairs(corpus, "doc_id", "text", 0.5),
      Dedup.fuzzyNamePairs(names, "name"),
      Dedup.dupClusters(pairs))
    assert(ops().forall(finishedOnDriver))
    distributed {
      val plans = ops()
      assert(!plans.exists(finishedOnDriver))
      plans.foreach(df => assert(df.collect().nonEmpty))
      plans.foreach(Dedup.releaseClusterState)
    }
  }

  /** A corpus whose near-duplicates every LSH banding finds. */
  private lazy val lshCorpus = docs((1L to 40L).map { i =>
    i -> (if (i % 4 == 0) s"the quick brown fox jumps over the lazy dog ${i % 8}"
      else s"terms of service apply to item$i and variant${i % 3} here")
  }: _*)

  test("broadcast-sized LSH inputs finish on the driver: each banding and " +
    "jaccardOnPairs runs at most 2 jobs with its collect, an edge set " +
    "already on the driver clusters with no job, the whole pipeline runs " +
    "at most 4, and each banding's observation reaches a " +
    "QueryExecutionListener") {
    def lshClusters(candidates: DataFrame): DataFrame =
      Dedup.dupClusters(Dedup.jaccardOnPairs(candidates, lshCorpus, "doc_id", "text")
        .where(col("jaccard") >= 0.5))
    probing { p =>
      val xx = p.tagged("minhash")(
        Dedup.minhashCandidatePairs(lshCorpus, "doc_id", "text").collect())
      val cands = p.tagged("poly")(Dedup.polyMinhashCandidatePairs(
        lshCorpus, "doc_id", "text", bands = 32))
      val verified = p.tagged("poly")(
        Dedup.jaccardOnPairs(cands, lshCorpus, "doc_id", "text"))
      val labels = p.tagged("cc")(
        Dedup.dupClusters(verified.where(col("jaccard") >= 0.5)))
      val clusters = p.tagged("cc_collect")(labels.collect())
      val pipeline = p.tagged("pipeline")(lshClusters(
        Dedup.polyMinhashCandidatePairs(lshCorpus, "doc_id", "text", bands = 32))
        .collect())
      assert(xx.nonEmpty)
      assert(pipeline.toSet === clusters.toSet)
      // the two "quick brown fox" texts, each copy collapsed to its min id
      assert(clusters.filter(_.getLong(1) == 4L).map(_.getLong(0)).toSet ===
        Set(4L, 8L), clusters.mkString(", "))
      val minhashJobs = p.jobsTagged("minhash", "minhash_lsh",
        "poly_minhash_lsh", "graft_cc_summary")
      assert(minhashJobs <= 2, s"minhashCandidatePairs ran $minhashJobs jobs")
      val polyJobs = p.jobsTagged("poly")
      assert(polyJobs <= 3, s"banding and verification ran $polyJobs jobs")
      assert(p.jobsTagged("cc") === 0, "a local edge set ran jobs")
      assert(p.jobsTagged("cc_collect") <= 1)
      val pipelineJobs = p.jobsTagged("pipeline")
      assert(pipelineJobs <= 4, s"the clusters pipeline ran $pipelineJobs jobs")
      Seq("minhash_lsh", "poly_minhash_lsh").foreach { m =>
        assert(p.observed(m).getAs[Long]("dropped_buckets") === 0L)
        assert(p.observed(m).getAs[Long]("dropped_rows") === 0L)
      }
      assert(p.observed("graft_cc_summary").getAs[Int]("rounds") === 0)
    }
  }

  test("warm session: an LSH clusters pass over a JSON corpus compiles no " +
    "generated class once two passes have run (the distributed pipeline " +
    "compiles about 160 per pass)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen").toString + "/docs"
    lshCorpus.write.json(dir)
    def pass(): Unit = {
      val docs = spark.read.schema("doc_id long, text string").json(dir)
      val labels = Dedup.dupClusters(Dedup.jaccardOnPairs(
          Dedup.polyMinhashCandidatePairs(docs, "doc_id", "text", bands = 32),
          docs, "doc_id", "text")
        .where(col("jaccard") >= 0.5))
      assert(labels.collect().nonEmpty)
      Dedup.releaseClusterState(labels)
    }
    pass(); pass()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass(); pass()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles === 0L, s"two warm passes compiled $compiles classes")
  }

  test("spark.sql.autoBroadcastJoinThreshold=-1 restores the distributed " +
    "plans of both bandings, jaccardOnPairs and dupClusters over a local " +
    "edge set, with the same rows") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    def ops() = Seq(
      Dedup.minhashCandidatePairs(corpus, "doc_id", "text"),
      Dedup.polyMinhashCandidatePairs(corpus, "doc_id", "text", bands = 32),
      Dedup.jaccardOnPairs(pairs, corpus, "doc_id", "text"),
      Dedup.dupClusters(edges))
    val onDriver = ops()
    assert(onDriver.forall(finishedOnDriver))
    distributed {
      val plans = ops()
      assert(!plans.exists(finishedOnDriver))
      plans.zip(onDriver).foreach { case (df, local) =>
        assert(df.collect().nonEmpty)
        assert(df.collect().toSet === local.collect().toSet)
      }
      plans.foreach(Dedup.releaseClusterState)
    }
  }

  test("an estimate-triggered driver finish stops collecting at the " +
    "threshold: parquet inputs estimated under it but decoded over it run " +
    "the distributed plans of all four estimate-triggered operators, with " +
    "the same rows") {
    import org.apache.spark.sql.graftbridge.Bridge
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bound").toString
    // 600 documents over 10 distinct 300-token texts (near-duplicates:
    // each rewrites its own 30-token block of one base text) and 6000
    // names over 50 distinct ones: parquet's dictionary pages keep the
    // files, and so Catalyst's estimates, small, while every document
    // read back expands to its own hundreds of shingles and its 64-long
    // signature
    val rnd = new scala.util.Random(7)
    def tokens(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(200)}")
    val base = tokens(300)
    val texts = Vector.tabulate(10)(k => base.patch(k * 30, tokens(30), 30).mkString(" "))
    (1L to 600L).map(i => (i, texts((i % 10).toInt))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/docs")
    (1 to 6000).map(i => s"${"stop name " * 9}${i % 50}").toDF("name")
      .coalesce(1).write.parquet(s"$dir/names")
    val corpus = spark.read.parquet(s"$dir/docs")
    val names = spark.read.parquet(s"$dir/names")
    val threshold = 128L * 1024
    assert(Bridge.estimatedBytes(corpus) < threshold / 2 &&
      Bridge.estimatedBytes(names) < threshold / 2)
    val pairs = (1L to 599L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def ops() = Seq(
      Dedup.prefixJaccardPairs(corpus, "doc_id", "text", 0.5),
      Dedup.fuzzyNamePairs(names, "name"),
      Dedup.polyMinhashCandidatePairs(corpus, "doc_id", "text"),
      Dedup.jaccardOnPairs(pairs, corpus, "doc_id", "text"))
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    // unbounded by the decoded bytes, the same inputs finish on the driver
    val unbounded = ops()
    assert(unbounded.forall(finishedOnDriver))
    val want = unbounded.map(rows)
    assert(want.forall(_.nonEmpty))
    SparkSpec.withConf("spark.sql.autoBroadcastJoinThreshold", threshold.toString) {
      val bounded = ops()
      bounded.foreach(df => assert(!finishedOnDriver(df), df.columns.mkString(",")))
      assert(bounded.map(rows) === want)
    }
  }

  test("a collect over the threshold stops its own job: each task ships " +
    "at most the threshold, the job is cancelled once the shipped rows pass " +
    "it, and the abandoned collect reports as a failed execution") {
    import org.apache.spark.scheduler.{JobFailed, SparkListener,
      SparkListenerJobEnd, SparkListenerTaskEnd}
    import org.apache.spark.sql.graftbridge.Bridge
    // 200 partitions of 8 rows of 16 KB: Catalyst sizes the string at 20
    // bytes, so the estimate is about 45 KB; the rows decode to 26 MB
    val df = spark.range(0, 1600, 1, 200)
      .select(col("id"), repeat(lit("x"), 16384).as("s"))
    val threshold = 64L * 1024
    val succeeded = new java.util.concurrent.atomic.AtomicInteger
    val failedJobs = new java.util.concurrent.atomic.AtomicInteger
    val failedQueries = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason == org.apache.spark.Success) succeeded.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobResult.isInstanceOf[JobFailed]) failedJobs.incrementAndGet()
    }
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    d: Long): Unit = ()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = failedQueries.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      SparkSpec.withConf("spark.sql.autoBroadcastJoinThreshold", threshold.toString) {
        assert(Bridge.estimatedBytes(df) < threshold)
        assert(Bridge.collectIfFits(df).isEmpty)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while ((failedJobs.get == 0 || failedQueries.get == 0) &&
               System.nanoTime() < deadline) Thread.sleep(20)
        assert(failedJobs.get === 1)
        assert(failedQueries.get === 1)
        // the 4 cores' first tasks, and the few launched before the
        // cancel reached the scheduler, of the 200 a whole collect runs
        assert(succeeded.get < 100, s"${succeeded.get} tasks succeeded")
        // a part that fits is collected whole through the same path
        val part = df.where(col("id") < 3)
        assert(Bridge.collectIfFits(part).map(_.map(_.getLong(0)).toSet)
          .contains(Set(0L, 1L, 2L)))
      }
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("simhash: identical texts share a fingerprint; pairs collapse them") {
    import spark.implicits._
    val fps = corpus.where(length(col("text")) > 0)
      .select(col("doc_id"),
        Dedup.simhash64(TextAnalysis.tokens(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === fps(4L))
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // collapsed into 1
    assert(pairs.contains((1L, 2L)))                     // near-dup caught
  }

  test("canonicalDedup: word reorderings and repetition changes collapse " +
    "to the min-id representative; distinct token sets stay apart") {
    import spark.implicits._
    val docs = Seq(
      1L -> "alpha beta gamma",
      2L -> "gamma alpha beta",        // reordering of 1
      3L -> "alpha alpha beta gamma",  // repetition change of 1
      4L -> "alpha beta",              // strict subset: different set
      5L -> "delta")
      .toDF("doc_id", "text")
    val out = Dedup.canonicalDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) === ((1L, 3L, 1L)))
    assert(out(2L) === ((1L, 3L, 0L)))
    assert(out(3L) === ((1L, 3L, 0L)))
    assert(out(4L) === ((4L, 1L, 1L)))
    assert(out(5L) === ((5L, 1L, 1L)))
  }

  test("recallAudit: counts truth, candidates, and their intersection") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val cand = Seq((1L, 2L), (5L, 6L), (7L, 8L), (9L, 10L))
      .toDF("id_a", "id_b")
    val r = Dedup.recallAudit(truth, cand).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 4L, 2L)))
  }

  test("sourceOverlap: unordered pair cells aggregate both orientations " +
    "and keep the intra-source diagonal") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "b"), (5L, "a"))
      .toDF("doc_id", "source")
    // (1,2): a-b; (4,3): b-a folds into a-b; (1,5): a-a diagonal
    val pairs = Seq((1L, 2L), (3L, 4L), (1L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.sourceOverlap(pairs, docs, "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out === Map(("a", "b") -> 2L, ("a", "a") -> 1L))
  }
}
