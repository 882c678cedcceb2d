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

  /** Spark's own ordering of a type's Catalyst values (UTF-8 byte order
    * for strings), as `ORDER BY` and `min` apply it. */
  def ordering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(dt)

  /** A DataFrame over rows that already hold Catalyst values. */
  def internalFrame(spark: SparkSession,
                    rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** One parquet scan over directories with the given schema. Unlike
    * `spark.read.parquet(dirs: _*)` it does not WARN "All paths were
    * ignored" when every directory name starts with `_`: the directories
    * are listed as they are, and their `_`- and `.`-prefixed files are
    * skipped as usual. Listing runs on the driver, as `spark.read` does
    * for up to `parallelPartitionDiscovery.threshold` paths. */
  def parquetDirs(spark: SparkSession, dirs: Seq[String],
                  schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val index = new InMemoryFileIndex(spark, dirs.map(new org.apache.hadoop.fs.Path(_)),
      Map.empty, Some(schema), FileStatusCache.getOrCreate(spark), None, None)
    val partitionCols = index.partitionSchema.fieldNames.toSet
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.filterNot(f => partitionCols(f.name))).asNullable
    val relation = HadoopFsRelation(index, index.partitionSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty)(spark)
    ofRows(spark, LogicalRelation(relation, isStreaming = false))
  }
}
