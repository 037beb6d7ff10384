package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal accessor for `private[sql]` plan→DataFrame construction — the
  * standard OSS Spark-connector shim pattern (Delta Lake and Iceberg ship
  * the same kind of `org.apache.spark.sql.*` bridge). Used by the graft
  * catalog's dynamic-partition-overwrite command, which holds an already
  * analyzed query plan and needs to execute it as a regular DataFrame
  * write; no other private surface is touched.
  */
object GraftSqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** V2 connector `Predicate` → V1 `sources.Filter` (None when the
    * predicate shape has no V1 equivalent). Used by the graft catalog's
    * metadata-only DELETE (`SupportsDeleteV2.canDeleteWhere`) to evaluate
    * partition-column predicates against `k=v` directory values with the
    * same translation Spark itself uses for V1 sinks.
    */
  def predicateToV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** Credit bytes/records to the running task's OUTPUT metrics — what the
    * stock file writers do via their committer protocol. Used by the graft
    * catalog's direct hive-layout task writer so `bytesWritten` in the UI,
    * listeners, and profiles reflects its files too.
    */
  def addTaskOutputMetrics(bytes: Long, records: Long): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) {
      val om = tc.taskMetrics().outputMetrics
      om.setBytesWritten(om.bytesWritten + bytes)
      om.setRecordsWritten(om.recordsWritten + records)
    }
  }

  /** Wrap a batch plan's rows as a STREAMING DataFrame — the v1
    * `Source.getBatch` contract requires `isStreaming = true` on the
    * returned frame. Lazy: the RDD evaluates when the micro-batch runs.
    * Used by the graft snapshot manifest-tail source.
    */
  def streamingDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** Catalyst `Expression` → classic `Column` — the Spark-4 ColumnNode
    * bridge (`ExpressionUtils.column`). Used by the graft catalog's
    * merge-on-read UPDATE command to re-apply resolved SET/WHERE
    * expressions over its own file-position read.
    */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Classic `Column` → Catalyst `Expression`, the inverse bridge. Used by
    * `graft.functions.GraftFunctions` to build its native expressions over
    * caller Columns without a session function registry.
    */
  def expressionOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The errors Spark's own arithmetic, cast and `element_at` raise under
    * ANSI mode, for `graft.functions.VectorKernels`, which must fail exactly
    * where the SQL forms it replaces failed.
    */
  def arithmeticOverflow(e: ArithmeticException): ArithmeticException =
    errors.QueryExecutionErrors.arithmeticOverflowError(e.getMessage, "", null)

  def castOverflow(v: Any, from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): ArithmeticException =
    errors.QueryExecutionErrors.castingCauseOverflowError(v, from, to)

  def elementAtIndexError(index: Int, n: Int): ArrayIndexOutOfBoundsException =
    errors.QueryExecutionErrors.invalidElementAtIndexError(index, n, null)

  def indexOfZeroError(): RuntimeException =
    errors.QueryExecutionErrors.invalidIndexOfZeroError(null)

  /** Catalyst `Expression` → V1 `sources.Filter` (None when untranslatable)
    * — the same conversion Spark applies before V1 pushdown. Used by the
    * graft catalog's FILE-granularity row-level groups to evaluate the
    * pushed command condition against parquet footer stats.
    */
  def expressionToV1(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)
}
