package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the `private[sql]` Column↔Expression converters —
  * the supported extension-point pattern for libraries that add native
  * Catalyst expressions (Spark 4 moved `new Column(expr)` behind
  * `org.apache.spark.sql.classic.ExpressionUtils`). */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER Column→Expression conversion: `expression` wraps lazily in a
    * ColumnNodeExpression that only Dataset analysis unwraps — an
    * expression returned from a FunctionRegistry builder bypasses that,
    * so convert the node here (function-registration path). */
  def expressionEager(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a logical plan as a DataFrame (for custom logical operators). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's own `private[sql]` schema union — the merge parquet's
    * `mergeSchema` inference applies to file footers: fields of `a` in
    * order, then `b`'s new ones; nested structs merged recursively; an
    * incompatible type throws. Both sides are made nullable, as every
    * parquet read sees them. */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
                   b: org.apache.spark.sql.types.StructType,
                   caseSensitive: Boolean): org.apache.spark.sql.types.StructType =
    a.asNullable.merge(b.asNullable, caseSensitive)

  /** `s` with every field nullable, as a parquet read of it sees it. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** The analyzed logical plan backing a DataFrame. */
  def analyzed(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
