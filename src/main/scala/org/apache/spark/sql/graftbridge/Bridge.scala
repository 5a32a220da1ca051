package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset,
  ExpressionUtils, SparkSession => CSparkSession}

/** Minimal `private[sql]` bridge (the standard library escape hatch for
  * Spark extensions that define their own logical operators): a custom
  * [[graft.plans.TopKPerKey]] node needs `Dataset.ofRows` to become a
  * user-facing DataFrame, and that constructor is package-private to
  * `org.apache.spark.sql`. The one other thing across the boundary is
  * [[ResultFrame]], the CQL front door's result DataFrame, which
  * subclasses the package-private `Dataset` constructor to collect
  * its local rows without a Spark action. All other graft code stays
  * on public APIs.
  */
object Bridge {
  /** Wrap a logical plan as a DataFrame on this session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** The analyzed logical plan backing a DataFrame. */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[_]].queryExecution.analyzed

  /** Wrap a Catalyst expression as a user-facing Column — lets
    * connector internals use graft's own expressions (UDT pack/
    * unpack) without requiring the session to carry the SQL
    * extension registration.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression backing a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
