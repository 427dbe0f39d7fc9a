package graft

/** Pins the cache semantics every memoized artifact (PQ codebooks, IVF
  * centroids, tf-idf stages, and the persisted mart, cluster, candidate,
  * truth-pair and posting frames) relies on: build-once
  * per (session, key), first-published-wins under a racing build,
  * release hooks on reset, and key isolation. */
class SessionKeyedCacheSpec extends SparkSpec {

  test("getOrBuild builds once per key and returns the cached value on " +
    "every later hit; distinct keys build independently") {
    val cache = new SessionKeyedCache[java.lang.Integer]()
    var builds = 0
    def get(key: String) = cache.getOrBuild(spark, key) {
      builds += 1; Int.box(builds)
    }
    assert(get("a") == 1 && get("a") == 1 && builds == 1)
    assert(get("b") == 2 && builds == 2)
    assert(get("a") == 1)
  }

  test("racing builders: the FIRST published artifact wins for both — " +
    "the loser's build result is discarded AND released, never served") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val cache = new SessionKeyedCache[java.lang.Integer](
      v => released.add(v.intValue()))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (1 to 2).map { i =>
      new Thread(() => {
        val v = cache.getOrBuild(spark, "k") {
          barrier.await() // both threads pass the empty-cache check
          Int.box(i)
        }
        results.add(v.intValue())
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val got = results.toArray(Array.empty[Integer]).map(_.intValue()).toSet
    assert(got.size == 1, s"both callers must see ONE artifact, got $got")
    // and later hits serve that same winner
    assert(cache.getOrBuild(spark, "k")(Int.box(99)).intValue() ==
      got.head)
    // the discarded build's release hook ran exactly once, on the loser
    // (an off-heap-backed artifact must not leak until GC) — the winner
    // stays live and unreleased
    val rel = released.toArray(Array.empty[Integer]).map(_.intValue()).toSet
    assert(rel == Set(1, 2) - got.head,
      s"exactly the losing build must be released; winner=$got released=$rel")
  }

  test("reset runs the release hook on every live entry and empties the " +
    "cache — the next get rebuilds") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val cache = new SessionKeyedCache[String](released += _)
    cache.getOrBuild(spark, "x")("vx")
    cache.getOrBuild(spark, "y")("vy")
    cache.reset()
    assert(released.sorted == Seq("vx", "vy"))
    var rebuilt = false
    cache.getOrBuild(spark, "x") { rebuilt = true; "vx2" }
    assert(rebuilt)
  }

  test("persisted frames: a losing build leaves the plan-equal winner " +
    "persisted, and only the loser is released") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val cache = SessionKeyedCache.persisted(df => released.add(df))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        val df = cache.getOrBuild(spark, "race") {
          barrier.await() // both threads pass the empty-cache check
          val d = spark.range(50).selectExpr("id * 7 AS v").persist()
          built.add(d)
          d
        }
        results.add(df)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val winner = results.peek()
    assert(results.toArray.forall(_ eq winner))
    assert(built.size == 2)
    assert(winner.asInstanceOf[org.apache.spark.sql.DataFrame]
      .storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "discarding the losing build unpersisted the winner")
    assert(released.size == 1 && !(released.peek() eq winner))
    cache.reset()
  }

  test("persisted frames: reset releases each frame while it is still " +
    "persisted, then unpersists it") {
    import org.apache.spark.storage.StorageLevel
    val levelAtRelease = scala.collection.mutable.ArrayBuffer.empty[StorageLevel]
    val cache = SessionKeyedCache.persisted(df => levelAtRelease += df.storageLevel)
    val df = cache.getOrBuild(spark, "k")(
      spark.range(20).selectExpr("id + 1 AS w").persist())
    assert(df.count() == 20L)
    cache.reset()
    assert(levelAtRelease.size == 1 && levelAtRelease.head != StorageLevel.NONE)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("the cluster-label artifact: reset runs dupClusters' " +
    "releaseClusterState, dropping the snapshots the labels still read") {
    SparkSpec.withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      import spark.implicits._
      def persisted = spark.sparkContext.getPersistentRDDs.keySet
      val before = persisted
      val cache = SessionKeyedCache.persisted(
        graft.dedup.Dedup.releaseClusterState)
      val pairs = (1L until 400L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val labels = cache.getOrBuild(spark, "clusters")(
        graft.dedup.Dedup.dupClusters(pairs).persist())
      assert(labels.count() == 400L)
      assert((persisted -- before).nonEmpty)
      cache.reset()
      assert((persisted -- before).isEmpty,
        "reset left the cluster state's persistent RDDs behind")
    }
  }
}
