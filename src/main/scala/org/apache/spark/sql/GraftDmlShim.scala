package org.apache.spark.sql

import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.V1Table

/** The second (and last) `private[sql]` doorway besides
  * [[GraftStreamingShim]], for the SQL DML surface (`MERGE INTO` /
  * `UPDATE` / `DELETE`). It has three one-line pass-throughs:
  *  - the analyzer hands a session-catalog V1 table to DML statements
  *    wrapped in the `private[sql]` [[V1Table]];
  *  - MERGE's analyzed source plan needs `Dataset.ofRows` (also
  *    `private[sql]`) to become a DataFrame for the merge builder;
  *  - the statements' analyzed conditions and values reach the engine as
  *    `Column`s through `classic.ExpressionUtils.column`, `private[sql]`
  *    to Scala callers.
  * All DML logic lives in `graft.plans.SqlDml`. */
object GraftDmlShim {

  /** The catalog entry when `table` is the session catalog's V1 wrapper
    * over a `graft`-provider table; None for every other connector
    * table. */
  def graftCatalogTable(table: Any): Option[CatalogTable] = table match {
    case v1: V1Table if v1.v1Table.provider.exists(_.equalsIgnoreCase("graft")) =>
      Some(v1.v1Table)
    case _ => None
  }

  /** Analyzed logical plan → DataFrame (MERGE source rehydration). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst expression → Column (DML conditions and values). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
