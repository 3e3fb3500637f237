package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** `private[sql]` escape hatch for building Columns from custom Catalyst
  * expressions (the same technique every Spark extension library uses —
  * frameless, spark-daria, sedona all ship an `org.apache.spark.sql`
  * bridge object). Kept to minimal conversions, plus the Catalyst-row
  * passes below.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * `private[sql]`) — the entry point for whole-operator custom plans
    * (graft.plans.AsOfJoin).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `f` applied to `df`'s rows as Catalyst rows, collected: the one way
    * a narrow pass reads a layout to the driver without converting every
    * row to an external `Row`. Both halves of the session policy live
    * here so no caller can miss one: the RDD comes from
    * `queryExecution.toRdd` built inside a SQL execution (as
    * `Dataset.rdd` is), so the jobs the plan runs to produce it (a cache
    * build's exchanges) carry the session's job artifact state; and the
    * collect runs under that state too, so the pass's tasks compile
    * under the same executor classloader as the session's SQL jobs and
    * share their generated classes. Rows may be one REUSED object per
    * iterator: a pass that buffers them must copy.
    */
  def collectRows[T](df: DataFrame)(f: RDD[InternalRow] => RDD[T])
      : Array[T] = {
    val rdd = f(internalRdd(df))
    df.sparkSession.asInstanceOf[classic.SparkSession].artifactManager
      .withResources(rdd.collect())
  }

  /** `f` applied to `df`'s Catalyst rows, re-wrapped as a DataFrame of
    * `schema` (`internalCreateDataFrame` is `private[sql]`; the SNIPPETS
    * DatasetFactory pattern): a narrow pass that runs inside its
    * consumer's own SQL jobs, with no external-`Row` round trip and no
    * per-schema encoder class. The scan copies each row into its own
    * UnsafeRow before any operator buffers it, so `f` may hand back one
    * reused mutable row.
    */
  def mapRows(df: DataFrame, schema: StructType)(
      f: RDD[InternalRow] => RDD[InternalRow]): DataFrame =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(f(internalRdd(df)), schema)

  private def internalRdd(df: DataFrame): RDD[InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("rdd"))(qe.toRdd)
  }
}
