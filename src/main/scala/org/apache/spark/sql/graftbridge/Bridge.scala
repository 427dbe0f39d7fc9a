package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst-Expression bridge. Spark 4's public `Column` wraps
  * api-agnostic ColumnNodes; the classic converter lives in a
  * `private[sql]` helper, so libraries adding native expressions expose it
  * through a one-file shim in the sql namespace (the established pattern
  * for Spark extension libraries). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Dataset from a raw LogicalPlan (`Dataset.ofRows` is private[sql]) —
    * needed by custom whole-operator plans (GroupTopKPlan) to hand a
    * user-built logical node back to the session for analysis. */
  def dataset(spark: org.apache.spark.sql.SparkSession,
              plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed LogicalPlan behind a DataFrame (classic API accessor). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Spark's own CAST_OVERFLOW error (SparkArithmeticException with the
    * engine's error class), for native kernels that replicate an ANSI
    * cast and must fail with the SAME exception the built-in chain
    * throws — `QueryExecutionErrors` is `private[sql]`. */
  def castOverflowError(value: Any,
                        from: org.apache.spark.sql.types.DataType,
                        to: org.apache.spark.sql.types.DataType)
      : ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .castingCauseOverflowError(value, from, to)

  /** The engine's one rule for finishing a byte-tiny operator on the
    * driver: `bytes` of driver-held data are allowed when they are
    * within the session's `spark.sql.autoBroadcastJoinThreshold`, the
    * same test the planner applies before broadcasting a relation. The
    * threshold is therefore the driver memory bound, and -1 turns every
    * driver finish off. */
  def fitsOnDriver(spark: org.apache.spark.sql.SparkSession,
                   bytes: BigInt): Boolean =
    bytes >= 0 && bytes <= spark.asInstanceOf[
      org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** Catalyst's size estimate for a DataFrame's optimized plan, the
    * number the planner's own broadcast choice reads. Planning only: it
    * runs no job. */
  def estimatedBytes(df: org.apache.spark.sql.DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** A DataFrame's rows in Catalyst's internal form, collected as one
    * tracked SQL execution: `Dataset.collect`'s path without the
    * conversion to external rows, so values keep the representation
    * Catalyst's orderings compare (UTF8String, not String). */
  def collectInternal(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
      qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** The collect behind every estimate-triggered driver finish: `df`'s
    * rows in internal form when Catalyst's estimate plus `held` bytes
    * already on the driver pass [[fitsOnDriver]], and the rows' decoded
    * bytes then stay within what the same threshold leaves. An estimate
    * can sit far below the real data (a compressed columnar source,
    * text that expands when shingled), so the collect itself is bounded:
    * each task ships its partition's rows only until they alone pass
    * the budget, and the job is cancelled as soon as the shipped rows
    * together pass it. The driver then drops what it took and returns
    * None, and the caller runs its distributed plan; the abandoned
    * collect ends as a failed SQL execution, so it reports no observed
    * metrics. The driver holds at most the budget in accepted rows, plus
    * the task results in flight when the total crosses it (each at most
    * the budget and one row). Work spent on an abandoned collect is at
    * most about the budget per task that ran, except the shuffle stages
    * below the final one, which run in full; the distributed plan then
    * computes everything again.
    * Rows of a `LocalTableScanExec` are already on the driver and are
    * taken without a job. -1 collects nothing. */
  def collectIfFits(df: org.apache.spark.sql.DataFrame, held: BigInt = 0)
      : Option[Array[org.apache.spark.sql.catalyst.InternalRow]] = {
    val spark = df.sparkSession
    if (!fitsOnDriver(spark, estimatedBytes(df) + held)) return None
    val budget = (spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold - held).toLong
    val qe = df.queryExecution
    try org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
        qe, Some("collect")) {
      qe.executedPlan match {
        case l: org.apache.spark.sql.execution.LocalTableScanExec =>
          val rows = l.executeCollect()
          if (rows.map(rowBytes).sum > budget) throw OverBudget
          Some(rows)
        case p => Some(collectWithin(p.execute(), budget))
      }
    } catch { case OverBudget => None }
  }

  /** Thrown inside a bounded collect's SQL execution once its rows pass
    * the budget, so that execution ends as failed. */
  private object OverBudget extends RuntimeException(
    "collect passed the driver-finish threshold", null, false, false)

  /** The `UnsafeRow`s of `rdd` while their bytes stay within `budget`,
    * else [[OverBudget]]: per-task caps and a job cancelled from the
    * result handler, as [[collectIfFits]] describes. */
  private def collectWithin(
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      budget: Long): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    val parts = new Array[Array[UnsafeRow]](rdd.getNumPartitions)
    val total = new java.util.concurrent.atomic.AtomicLong
    val job = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.SimpleFutureAction[Unit]]
    def over(): Unit = Option(job.get).foreach(_.cancel())
    job.set(rdd.sparkContext.submitJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val out = Array.newBuilder[UnsafeRow]
        var bytes = 0L
        while (bytes <= budget && it.hasNext) {
          val r = it.next().asInstanceOf[UnsafeRow].copy()
          bytes += r.getSizeInBytes
          out += r
        }
        out.result()
      },
      rdd.partitions.indices,
      (i: Int, rows: Array[UnsafeRow]) =>
        if (total.addAndGet(rows.map(_.getSizeInBytes.toLong).sum) <= budget)
          parts(i) = rows
        else over(),
      ()))
    if (total.get > budget) over()
    scala.concurrent.Await.ready(job.get, scala.concurrent.duration.Duration.Inf)
    if (total.get > budget) throw OverBudget
    job.get.get()
    parts.flatten
  }

  /** A collected row's decoded bytes, as [[collectIfFits]] counts them
    * (collected rows are always `UnsafeRow`s). */
  def rowBytes(r: org.apache.spark.sql.catalyst.InternalRow): Long =
    r.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
      .getSizeInBytes

  /** A DataFrame over driver-held internal rows of `schema` (names,
    * types and nullability kept). */
  def localFrame(spark: org.apache.spark.sql.SparkSession,
                 schema: org.apache.spark.sql.types.StructType,
                 rows: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame =
    dataset(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
      rows))

  /** The checkpointed RDD behind a `localCheckpoint`'d Dataset, if any.
    * `Dataset.unpersist` only clears CacheManager entries; a local
    * checkpoint's blocks are an RDD-LEVEL persist on the `LogicalRDD`
    * the returned Dataset wraps, so releasing them eagerly needs the
    * RDD itself. Returns None for any other plan shape (callers fall
    * back to the dataset-level unpersist). */
  def localCheckpointRdd(
      df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
