package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge to the `private[sql]` plan-construction surface (Spark 4 moved
  * the classic implementations behind `classic.*`): build a DataFrame from
  * a custom LogicalPlan, read a DataFrame's analyzed plan, and register an
  * extra planner strategy on a live session. One-file shim inside the sql
  * package namespace — the standard pattern for Catalyst extension
  * libraries that ship whole custom operators. */
object PlanShim {

  private def classicSession(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classicSession(spark), plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** `schema` with every field nullable, nested ones too — how file
    * sources read any schema. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** A Column over an already-RESOLVED Catalyst expression (attribute refs
    * keep their exprIds, so the analyzer re-binds them against any plan
    * that still carries those attributes — the mechanism every MERGE
    * implementation uses to re-apply the statement's resolved conditions
    * and assignment values onto its own dataflow). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Re-plan a DataFrame as `LogicalRDD` over its own executed `toRdd`,
    * flipping the `isStreaming` flag — the two directions V1 streaming
    * needs (both are Spark's own recipes):
    *   - streaming = true: a `Source.getBatch` return value
    *     (MicroBatchExecution asserts the spliced plan is
    *     streaming-flagged; Delta's `createDataFrame(..., isStreaming =
    *     true)` plays the same trick one level lower);
    *   - streaming = false: a `Sink.addBatch` input re-wrapped so it can
    *     be fed to a normal batch writer (the incoming frame is bound to
    *     the query's IncrementalExecution and cannot be re-planned —
    *     Spark's own ForeachBatchSink does exactly this re-wrap).
    * The inner plan still optimizes and executes normally — pushdown,
    * codegen — and only the already-computed rows cross the boundary.
    * Evaluation stays lazy; `toRdd` builds the RDD graph without running
    * a job. */
  private def replanned(spark: SparkSession, df: DataFrame,
                        streaming: Boolean): DataFrame =
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      df.queryExecution.toRdd,
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]], streaming))

  def asStreaming(spark: SparkSession, df: DataFrame): DataFrame =
    replanned(spark, df, streaming = true)

  def executedBatch(spark: SparkSession, df: DataFrame): DataFrame =
    replanned(spark, df, streaming = false)

  /** Idempotently append a planner strategy to the session. */
  def addStrategy(spark: SparkSession, st: SparkStrategy): Unit = {
    val exp = classicSession(spark).experimental
    if (!exp.extraStrategies.contains(st))
      exp.extraStrategies = exp.extraStrategies :+ st
  }
}
