package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public Column API and catalyst Expressions.
  *
  * Spark 4 moved the Column ↔ Expression conversions behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); a shim
  * in an `org.apache.spark.sql` subpackage is the standard way for
  * extension libraries to register custom expressions without forking.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a catalyst Expression (the
    * default ColumnNodeToExpressionConverter). Unlike [[expression]] —
    * which wraps the node in a lazy ColumnNodeExpression that only
    * Dataset analysis unwraps — the result is a plain catalyst tree
    * (possibly with UnresolvedFunction leaves), which is what
    * FunctionRegistry builders must return for SQL call sites.
    */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Standard wrong-arity analysis error (the same error class Spark's
    * own FunctionRegistry builders raise) — `QueryCompilationErrors` is
    * `private[sql]`, hence the shim.
    */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Nothing =
    throw org.apache.spark.sql.errors.QueryCompilationErrors
      .wrongNumArgsError(name, Seq(expected), actual,
        "", "", "")

  /** The exact column-definition list Spark's JDBC writer will emit in
    * CREATE TABLE for `schema` under `url`'s dialect
    * (`JdbcUtils.schemaString` is `private[sql]`) — lets specs pin the
    * per-dialect DDL (identifier quoting + type mapping) the registry's
    * two target engines receive, without a live database.
    */
  def jdbcSchemaString(url: String,
                       schema: org.apache.spark.sql.types.StructType,
                       customTypes: Option[String] = None): String = {
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils.schemaString(
      dialect, schema, caseSensitive = false, customTypes)
  }

  /** Number of partitions a file scan actually selected after partition
    * pruning (`FileSourceScanExec.selectedPartitions` is `private[sql]`)
    * — lets specs assert pruning happened instead of trusting the plan
    * text. Returns the first file scan's count, if any.
    */
  def scanSelectedPartitionCount(
      plan: org.apache.spark.sql.execution.SparkPlan): Option[Int] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def find(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case s: QueryStageExec => find(s.plan)
      case f: FileSourceScanExec => Some(f)
      case other => other.children.view.flatMap(find).headOption
    }
    find(plan).map(_.selectedPartitions.partitionCount)
  }

  /** Bloom-filter build as a native catalyst aggregate
    * (`BloomFilterAggregate` has no public `functions._` surface):
    * `value` must be a LongType hash (pair it with `xxhash64`, the hash
    * [[bloomMightContain]] probes with). Returns the serialized filter
    * as one binary value.
    */
  def bloomFilterAgg(value: Column, estimatedItems: Long, numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(value),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())

  /** Codegen'd Bloom probe (`BloomFilterMightContain`) against a
    * driver-held serialized filter — the native replacement for a Scala
    * UDF closure over a broadcast sketch: stays inside WholeStageCodegen
    * and keeps the enclosing filter pushdown-eligible. `value` must be
    * the same `xxhash64` hash the filter was built from.
    */
  def bloomMightContain(bloomBytes: Array[Byte], value: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(bloomBytes,
        org.apache.spark.sql.types.BinaryType),
      expression(value)))

  /** Block until every queued SparkListener event has been delivered
    * (`SparkContext.listenerBus` is `private[spark]`) — metrics
    * listeners are async, so a guard reading accumulated task metrics
    * right after an action must drain the bus first or it reads a
    * stale partial sum. BEST-EFFORT: waitUntilEmpty throws
    * TimeoutException if the bus never settles (e.g. a cancelled
    * query's tasks still posting events past the wait) — metric
    * accounting must never abort the caller's run, so the timeout is
    * swallowed. Returns whether the drain COMPLETED: a `false` means
    * the subsequent metric read may undercount, and callers gating on
    * the metric (Verify's driver-fetch cap) must surface that the
    * reading was partial rather than silently passing on it.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(30000L); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** RDD ids of the `LogicalRDD` leaves of a Dataset's analyzed plan
    * (`LogicalRDD` is `private[sql]`). For a Dataset returned by
    * an eager local checkpoint this is exactly the persisted checkpoint RDD —
    * letting callers measure and release THAT RDD's blocks precisely,
    * instead of diffing `getPersistentRDDs` around the call (which
    * mis-attributes anything another thread persists concurrently, and
    * on release would unpersist a foreign pipeline's live cache).
    */
  def logicalRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }

  /** DataFrame from a hand-built LogicalPlan (`Dataset.ofRows` went
    * `private[sql]` with the Spark 4 classic split) — the seam custom
    * logical operators use to enter the public Dataset API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A new session over the same context and cache registry, with a
    * copy of `spark`'s session state (`cloneSession` is `private[sql]`):
    * confs set on the clone never reach `spark`.
    */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
