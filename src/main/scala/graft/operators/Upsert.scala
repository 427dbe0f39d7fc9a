package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Set-oriented replacements for the reference's row-at-a-time Postgres
  * sinks (SURVEY.md §2.1 S9/S10).
  *
  * S9 (`reference/scripts/realtime_extractor.py:191-236`): `INSERT … ON
  * CONFLICT (key) DO UPDATE SET … WHERE <a compare column changed>` —
  * update a matched row only when the prediction actually changed,
  * preserving `created_at` and restamping `updated_at`.
  *
  * S10 (`reference/scripts/historical_extractor.py:85-88`): `ON CONFLICT DO
  * NOTHING` — insert only keys not already present.
  *
  * Neither loops on the driver, so both scale with the shuffle. S9 is
  * one keyed aggregation over `target ∪ updates`: a single exchange
  * hash-partitions the union on the key and each group resolves its
  * target row and newest update row in one pass. S10 is a left-anti join
  * that hash-partitions both sides on the key. At 100 TB the target
  * snapshot rewrite is the standard parquet-without-ACID pattern; with a
  * table format it would be a MERGE.
  */
object Upsert {

  /** Keep the newest row per key (deterministic pre-dedup for S9: the feed
    * may repeat a key across entities — SURVEY.md §7.4): [[upsert]] into
    * no target. `order` must be totally ordered per key (e.g. a
    * monotonically increasing id). */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Column): DataFrame =
    upsert(None, df, keys, Nil, None, Some(order))

  /** S9 — conditional merge. Matched keys take the update row only when any
    * of `compareCols` differs; `createdCol` (if present in the schema) is
    * preserved from the target for matched keys. Unmatched update keys are
    * inserted; unmatched target keys pass through. With `target` None
    * (no snapshot yet) every key is unmatched, so the result is the
    * newest update row per key.
    *
    * One aggregation over `target ∪ updates`, grouped by `keys` (grouping
    * is null-safe, like `<=>`: a key with a NULL part matches its stored
    * row). Each input row carries two source-tagged orderings, and
    * `max_by` skips NULL orderings, so per key one `max_by` picks the
    * target row and another picks the update row ranked highest by
    * `order`. With `order` set, `updates` may repeat a key and the newest
    * row wins in the same pass (no second shuffle). `order` is evaluated
    * in a projection over `updates`, so a nondeterministic id works.
    *
    * Requires `target` and `updates` to share column names, `target` to
    * hold at most one row per key, and `updates` too when `order` is None.
    */
  def upsert(target: Option[DataFrame], updates: DataFrame, keys: Seq[String],
             compareCols: Seq[String],
             createdCol: Option[String] = None,
             order: Option[Column] = None): DataFrame = {
    require(target.forall(_.columns.sameElements(updates.columns)),
      "target/updates schemas must match")
    val dataCols = updates.columns.filterNot(keys.contains).toSeq
    def tagged(df: DataFrame, tOrd: Column, uOrd: Column): DataFrame =
      df.select(keys.map(col) :+ struct(dataCols.map(col): _*).as("__row") :+
        tOrd.as("__t_ord") :+ uOrd.as("__u_ord"): _*)
    val resolved = (target.map(tagged(_, lit(0), lit(null))).toSeq :+
        tagged(updates, lit(null).cast(IntegerType), order.getOrElse(lit(0))))
      .reduce(_ union _)
      .groupBy(keys.map(col): _*)
      .agg(max_by(col("__row"), col("__t_ord")).as("__t"),
        max_by(col("__row"), col("__u_ord")).as("__u"))
    val tPresent = col("__t").isNotNull
    val uPresent = col("__u").isNotNull
    val changed = compareCols.map(c => !(col(s"__t.$c") <=> col(s"__u.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val takeUpdate = uPresent && (!tPresent || changed)
    resolved.select(keys.map(col) ++ dataCols.map { c =>
      if (createdCol.contains(c)) coalesce(col(s"__t.$c"), col(s"__u.$c")).as(c)
      else when(takeUpdate, col(s"__u.$c")).otherwise(col(s"__t.$c")).as(c)
    }: _*)
  }

  /** Snapshot diff (CDC extract) — the read-side inverse of [[upsert]]:
    * given two versions of a table, emit one row per key whose state
    * differs, classified `added` (key only in `newDf`), `removed` (only
    * in `oldDf`) or `changed` (present in both, any of `compareCols`
    * differs null-safely). Unchanged keys — the overwhelming majority of
    * a production snapshot pair — are dropped inside the join's
    * projection, so nothing downstream ever sees them.
    *
    * Same scale shape as upsert: one full-outer sort-merge join
    * hash-partitioned on the key, both sides large (no broadcast), and
    * only `keys ++ compareCols` are shuffled — the diff of two 100 TB
    * snapshots moves two slim projections once. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    val o = oldDf.select(
      (keys.map(col) ++ compareCols.map(col) :+ lit(true).as("__o")): _*).as("o")
    val n = newDf.select(
      (keys.map(col) ++ compareCols.map(col) :+ lit(true).as("__n")): _*).as("n")
    val cond: Column = keys.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    val oPresent = col("o.__o").isNotNull
    val nPresent = col("n.__n").isNotNull
    val changed = compareCols.map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _)
    o.join(n, cond, "full_outer")
      .withColumn("change_type",
        when(!oPresent, lit("added"))
          .when(!nPresent, lit("removed"))
          .when(changed, lit("changed")))
      .where(col("change_type").isNotNull)
      .select(keys.map(k => coalesce(col(s"o.$k"), col(s"n.$k")).as(k)) ++
        compareCols.flatMap(c => Seq(col(s"o.$c").as(s"old_$c"),
          col(s"n.$c").as(s"new_$c"))) :+ col("change_type"): _*)
  }

  /** S10 — append only rows whose key is absent from the target. */
  def insertIfAbsent(target: DataFrame, updates: DataFrame,
                     keys: Seq[String]): DataFrame = {
    val newRows = updates.join(
      target.select(keys.map(col): _*).distinct(), keys, "left_anti")
    target.unionByName(newRows)
  }
}
