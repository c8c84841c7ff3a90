package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal Column <-> catalyst Expression bridge. Spark 4 made the Column
  * constructor private ([[org.apache.spark.sql.classic.ExpressionUtils]] is
  * `private[sql]`), so libraries that define native codegen'd expressions —
  * like [[graft.functions.VerifyMatch]] — need this one-hop shim in the sql
  * package. This is the standard pattern for Spark-4 extension libraries; it
  * touches no internals beyond the two conversion calls.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `s` with every field and element nullable, as Spark reads a file. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** Register a native function on a LIVE session (the extensions hook only
    * runs at session construction; `sessionState` is `private[sql]`).
    */
  def registerFunction(spark: SparkSession,
                       id: org.apache.spark.sql.catalyst.FunctionIdentifier,
                       info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)
}
