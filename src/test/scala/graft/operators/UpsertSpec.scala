package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S9/S10 merge semantics: changed / unchanged / new / missing keys,
  * created_at preservation, idempotence (SURVEY.md §5 items 2-3). */
class UpsertSpec extends SparkSpec {

  // (key, value, created, updated)
  private def df(rows: (Long, String, Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v", "created", "updated")
  }

  private def collect(d: DataFrame): Set[(Long, String, Long, Long)] =
    d.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3))).toSet

  private val target = df(
    (1L, "a", 10L, 10L), // will be unchanged
    (2L, "b", 10L, 10L), // will change
    (3L, "c", 10L, 10L)) // missing from updates

  private val updates = df(
    (1L, "a", 20L, 20L), // same value → keep target row entirely
    (2L, "B", 20L, 20L), // changed value → take update, preserve created
    (4L, "d", 20L, 20L)) // new key → insert

  test("S9 upsert: changed/unchanged/new/missing key resolution") {
    val out = collect(Upsert.upsert(Some(target), updates, Seq("k"),
      compareCols = Seq("v"), createdCol = Some("created")))
    assert(out === Set(
      (1L, "a", 10L, 10L), // unchanged: update ignored, updated_at kept
      (2L, "B", 10L, 20L), // changed: new value, created preserved, updated stamped
      (3L, "c", 10L, 10L), // missing: passthrough
      (4L, "d", 20L, 20L)  // new: inserted as-is
    ))
  }

  test("S9 upsert is idempotent: applying the same updates twice = once") {
    val once = Upsert.upsert(Some(target), updates, Seq("k"),
      Seq("v"), Some("created"))
    val twice = Upsert.upsert(Some(once), updates, Seq("k"),
      Seq("v"), Some("created"))
    assert(collect(once) === collect(twice))
  }

  test("S9 upsert over randomized snapshots stays idempotent and key-unique") {
    val rnd = new scala.util.Random(7L)
    for (_ <- 1 to 5) {
      def snap(stamp: Long) = df((1L to 20L).flatMap { k =>
        if (rnd.nextBoolean()) Some((k, rnd.nextInt(3).toString, stamp, stamp))
        else None
      }: _*)
      val t0 = snap(1L); val u = snap(2L)
      val m1 = Upsert.upsert(Some(t0), u, Seq("k"), Seq("v"), Some("created"))
      val m2 = Upsert.upsert(Some(m1), u, Seq("k"), Seq("v"), Some("created"))
      assert(collect(m1) === collect(m2))
      val keys = m1.select("k").collect().map(_.getLong(0))
      assert(keys.length === keys.distinct.length)
      // merged key set = union of inputs
      val want = (t0.select("k").collect() ++ u.select("k").collect())
        .map(_.getLong(0)).toSet
      assert(keys.toSet === want)
    }
  }

  test("S9 upsert: a key with a NULL part (an absent start_date) merges " +
    "into its stored row instead of duplicating it") {
    import spark.implicits._
    def frame(rows: (Long, Option[String], String, Long, Long)*) =
      rows.toDF("trip", "start_date", "v", "created", "updated")
    val tgt = frame((1L, None, "a", 10L, 10L), (2L, Some("d"), "b", 10L, 10L))
    val upd = frame((1L, None, "A", 20L, 20L), (2L, None, "n", 20L, 20L))
    val out = Upsert.upsert(Some(tgt), upd, Seq("trip", "start_date"),
      Seq("v"), Some("created")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(out === Set(
      (1L, None, "A", 10L, 20L),      // NULL-part key matched and updated
      (2L, Some("d"), "b", 10L, 10L), // untouched
      (2L, None, "n", 20L, 20L)))     // NULL part ≠ "d": a new key
  }

  test("S9 upsert: NULL→NULL compare columns count as unchanged, " +
    "NULL→value as a change") {
    import spark.implicits._
    def frame(rows: (Long, Option[String], Long, Long)*) =
      rows.toDF("k", "v", "created", "updated")
    val tgt = frame((1L, None, 10L, 10L), (2L, None, 10L, 10L))
    val upd = frame((1L, None, 20L, 20L), (2L, Some("x"), 20L, 20L))
    val out = Upsert.upsert(Some(tgt), upd, Seq("k"), Seq("v"), Some("created"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getLong(2), r.getLong(3))).toSet
    assert(out === Set(
      (1L, None, 10L, 10L),        // unchanged: the stored row stays
      (2L, Some("x"), 10L, 20L)))  // changed: taken, created preserved
  }

  test("S9 upsert with an order column: repeated update keys resolve to " +
    "the newest row before the change test") {
    import spark.implicits._
    def frame(rows: (Long, String, Long, Long, Long)*) =
      rows.toDF("k", "v", "seq", "created", "updated")
    val tgt = frame((1L, "a", 1L, 10L, 10L), (2L, "b", 1L, 10L, 10L))
    val upd = frame(
      (1L, "A", 3L, 20L, 20L), (1L, "stale", 2L, 20L, 20L), // newest: "A"
      (2L, "B", 2L, 20L, 20L), (2L, "b", 4L, 20L, 20L),     // newest = stored
      (3L, "old", 1L, 20L, 20L), (3L, "c", 5L, 20L, 20L))   // new key
    val out = Upsert.upsert(Some(tgt), upd, Seq("k"), Seq("v"), Some("created"),
      order = Some(col("seq"))).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(out === Set(
      (1L, "A", 3L, 10L, 20L),
      (2L, "b", 1L, 10L, 10L),   // newest update unchanged: stored row kept
      (3L, "c", 5L, 20L, 20L)))
  }

  test("S10 insertIfAbsent: only new keys are appended") {
    val out = collect(Upsert.insertIfAbsent(target, updates, Seq("k")))
    assert(out === Set(
      (1L, "a", 10L, 10L), (2L, "b", 10L, 10L), (3L, "c", 10L, 10L),
      (4L, "d", 20L, 20L)))
  }

  test("latestPerKey keeps the row with the max order column") {
    import spark.implicits._
    val d = Seq((1L, "old", 1L), (1L, "new", 2L), (2L, "only", 5L))
      .toDF("k", "v", "seq")
    val out = Upsert.latestPerKey(d, Seq("k"), col("seq")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((1L, "new"), (2L, "only")))
  }

  test("snapshotDiff classifies added/removed/changed and drops unchanged") {
    import spark.implicits._
    val oldV = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val newV = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "v")
    val out = Upsert.snapshotDiff(oldV, newV, Seq("k"), Seq("v")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)),
        r.getString(3))).toSet
    assert(out === Set(
      (2L, Some("b"), Some("B"), "changed"),
      (3L, Some("c"), None, "removed"),
      (4L, None, Some("d"), "added")))
    // key 1 (unchanged) never appears
  }

  test("snapshotDiff is null-safe: NULL→NULL is unchanged, NULL→value is " +
    "a change") {
    import spark.implicits._
    val oldV = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("k", "v")
    val newV = Seq((1L, Option.empty[String]), (2L, Option("x")))
      .toDF("k", "v")
    val out = Upsert.snapshotDiff(oldV, newV, Seq("k"), Seq("v")).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    assert(out === Set((2L, "changed")))
  }

  test("snapshotDiff of a snapshot against itself is empty") {
    val out = Upsert.snapshotDiff(target, target, Seq("k"),
      Seq("v", "created", "updated"))
    assert(out.count() === 0L)
  }
}
