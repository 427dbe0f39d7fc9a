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
