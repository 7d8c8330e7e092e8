package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge. Spark 4 moved these conversions behind
  * `private[sql] classic.ExpressionUtils`; custom Catalyst expressions (our
  * codegen'd vector ops) still need them, so this one-file shim lives in the
  * `org.apache.spark.sql` package — the same approach widely-used Spark
  * extension libraries take.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Column → a REAL (unresolved) Catalyst expression tree, not the opaque
    * `ColumnNodeExpression` wrapper [[expression]] yields. The wrapper is
    * fine inside DataFrame plans (the analyzer unwraps it at the plan
    * boundary) but cannot be spliced into a SQL plan by a function-registry
    * builder — the analyzer never looks inside it and codegen then refuses
    * it. This converter produces ordinary UnresolvedFunction/Literal nodes
    * the SQL analyzer resolves in place.
    */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** True when the session's SQL cache holds no entries — the observable
    * for persist-lifecycle regression tests (operators must release their
    * cached intermediates; round-3 verdict item #1).
    */
  def sqlCacheIsEmpty(spark: SparkSession): Boolean =
    spark.sharedState.cacheManager.isEmpty

  /** Blocks until every listener event posted so far has been delivered:
    * the bus is asynchronous, so a `QueryExecutionListener` may not yet
    * have seen an action that already returned.
    */
  def drainListenerBus(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Compile `df`'s physical plan NOW and return it re-wrapped as an
    * RDD-backed frame (r17). Two properties the stamped-schema read
    * paths need: (a) session confs influencing the plan are captured at
    * THIS call (`toRdd` forces analysis → optimization → physical
    * planning eagerly, and SQLExecutionRDD snapshots the session conf
    * for the executors), so a caller can scope a conf flip around this
    * call instead of mutating the session for the frame's lazy
    * lifetime; (b) no outer optimizer — whatever query or session the
    * frame later composes under — can rewrite through the RDD
    * boundary, so a plan whose correctness depends on those confs
    * (field-id parquet resolution with nested pruning off) stays
    * correct under composition. Caller contract: `df` must be
    * exchange-free (scan + projections/filters) — compiling it then
    * runs no Spark jobs. Costs one codegen break and the loss of
    * pushdown from above; callers project what they need INSIDE `df`.
    */
  def fencePlan(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(cdf.queryExecution.toRdd, cdf.schema)
  }
}
