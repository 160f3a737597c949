package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column <-> Expression conversion that
  * Spark 4.x hides behind `classic.ExpressionUtils`. Declared inside
  * `package org.apache.spark.sql` so graft's custom Catalyst expressions
  * (RollingHash, CosineSimilarity, ...) can be exposed as Columns without
  * going through the string-based function registry.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Bridge into `private[sql] classic.Dataset.ofRows` — a V1
    * streaming Source's `getBatch` must hand the engine a DataFrame
    * over a plan it built itself (an `isStreaming` relation over the
    * micro-batch's files, the FileStreamSource discipline), which is
    * exactly what `ofRows` constructs.
    */
  def ofRows(s: classic.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame = classic.Dataset.ofRows(s, plan)

  /** Bridge into `private[sql] classic.SparkSession.cloneSession`: a
    * session sharing `s`'s SparkContext, cache and shared state, with a
    * copy of its conf, temp views and registered functions.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `d`'s analyzed plan as a Dataset of session `s` (the `ofRows`
    * shape, keeping `d`'s encoder): later plans built on the result
    * read `s`'s conf.
    */
  def rebind[T](d: Dataset[T], s: SparkSession): Dataset[T] =
    ofRows(s.asInstanceOf[classic.SparkSession], d.queryExecution.analyzed)
      .as(d.encoder)

  /** `private[spark] StructType.asNullable`: every field, nested ones
    * included, nullable — the schema a parquet scan reads back.
    */
  def asNullable(t: types.StructType): types.StructType = t.asNullable

  /** Wait until every scheduler event posted so far has reached the
    * listeners (`private[spark]` listener bus): listener totals read
    * right after an action otherwise miss its last task ends.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
