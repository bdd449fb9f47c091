package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal private[sql] bridge for the graft library: build a
  * DataFrame from a custom LogicalPlan or from internal rows, and
  * extract a Column's Catalyst expression — hooks a library adding its
  * own operators and writers needs, all package-private in Spark 4's
  * classic module.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = spark match {
    case s: classic.SparkSession => classic.Dataset.ofRows(s, plan)
    case other => throw new UnsupportedOperationException(
      s"graft: custom planner operators require a classic SparkSession, got ${other.getClass.getName}")
  }

  /** A DataFrame over rows already in Catalyst's internal form. */
  def internalDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame = spark match {
    case s: classic.SparkSession => s.internalCreateDataFrame(rows, schema)
    case other => throw new UnsupportedOperationException(
      s"graft: internal-row DataFrames require a classic SparkSession, got ${other.getClass.getName}")
  }

  /** Throws TaskKilledException once `ctx`'s task has been killed. */
  def killTaskIfInterrupted(ctx: org.apache.spark.TaskContext): Unit =
    ctx.killTaskIfInterrupted()

  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** 0.0/-0.0 and NaN bit patterns collapse to canonical forms, the
    * same normalization Spark applies to Aggregate/Window/Join keys —
    * required for any custom operator that groups by raw binary rows.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
