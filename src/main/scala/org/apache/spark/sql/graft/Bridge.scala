package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Spark 4.x made [[Column]] expression-agnostic (ColumnNode based); the
  * classic Expression accessors are `private[sql]`. This tiny shim lives in
  * the `org.apache.spark.sql` namespace to expose the two conversions our
  * custom Catalyst expressions need. No Spark internals are modified.
  */
object Bridge {
  /** Wrap a Catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst Expression backing a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully CONVERT a Column's node tree into a plain Catalyst Expression
    * tree (UnresolvedFunction and friends, which the analyzer then
    * resolves), unlike [[expression]] which wraps the node behind an
    * opaque ColumnNodeExpression leaf the analyzer passes through but
    * codegen cannot evaluate. Required when a column-algebra builder is
    * injected as a SQL function: the function's body must be a real
    * expression tree inside the registered plan. */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a LogicalPlan as a DataFrame (classic Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed LogicalPlan behind a DataFrame. */
  def logicalPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** The ACTIVE session's function registry (session-registered UDFs +
    * builtins), if a session is active. `sessionState` is `private[sql]`,
    * hence the shim. Used by the Filter.Custom determinism guard: a
    * session-registered `asNondeterministic()` UDF invoked by name via
    * `expr("f(col)")` only exists here, not in `FunctionRegistry.builtin`. */
  def sessionFunctionRegistry
      : Option[org.apache.spark.sql.catalyst.analysis.FunctionRegistry] =
    SparkSession.getActiveSession.collect {
      case s: org.apache.spark.sql.classic.SparkSession =>
        s.sessionState.functionRegistry
    }

  /** Free an RDD's cached blocks. `RDD.unpersist` WARNs on every locally
    * checkpointed RDD that its lineage cannot recompute afterwards;
    * graft releases such RDDs only once nothing reads them again. */
  def releaseBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
