package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for the classic (non-Connect) API.
  *
  * Spark 4 made `ExpressionUtils` `private[sql]`; custom-expression
  * libraries reach it through a shim in the `org.apache.spark.sql`
  * namespace (the documented extension-point escape hatch — the public
  * alternative, session-registered SQL functions, is also provided via
  * `graft.expr.GraftExtensions`).
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (`Dataset.ofRows` went
    * private[sql] with the classic/Connect split) — the construction
    * step every whole-operator extension needs.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session planner's full strategy list (built-ins + extension-
    * injected + experimental) — lets extension code probe whether a
    * strategy is ALREADY present before appending to extraStrategies.
    */
  def plannerStrategies(spark: SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    spark.sessionState.planner.strategies

  /** Names of extension-injected operator-optimization rules (the
    * injectOptimizerRule channel; experimental.extraOptimizations is
    * visible to callers directly).
    */
  def optimizerRuleNames(spark: SparkSession): Seq[String] =
    spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .map(_.ruleName)

  /** Spark's runtime-filter bloom machinery as explicit user-callable
    * aggregates: `BloomFilterAggregate` (distributed, mergeable sketch
    * build — what InjectRuntimeFilter plants under joins) and its
    * `might_contain` probe. Neither is in the public FunctionRegistry
    * (UNRESOLVED_ROUTINE from SQL), hence the shim. `c` must be a LONG
    * hash (feed `xxhash64(...)`), matching the runtime filter's own
    * contract.
    */
  def bloomFilterAgg(c: Column, estimatedItems: Long, numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(c),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits), 0, 0)
      .toAggregateExpression())

  /** `might_contain` accepts the sketch only as a CONSTANT or a scalar
    * subquery (its type check rejects a joined column) — mirror the
    * runtime filter's own shape: the 1-row bloom frame rides in as a
    * scalar subquery over its analyzed plan.
    */
  def mightContain(bloomScalar: org.apache.spark.sql.DataFrame,
                   value: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        bloomScalar.queryExecution.analyzed),
      expression(value)))

  /** Re-wrap a BATCH DataFrame as a STREAMING one for a DSv1
    * `Source.getBatch` return value — the KafkaSource construction
    * (`internalCreateDataFrame(rdd, schema, isStreaming = true)`, which
    * went private[sql]). The plan stays fully DISTRIBUTED: `toRdd` is
    * the lazily-compiled physical RDD lineage (file-split scans,
    * shuffles, joins — nothing executes here, and nothing ever passes
    * through the driver), and MicroBatchExecution's
    * `assert(batch.isStreaming)` contract is satisfied by the flag.
    */
  def asStreamingFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** MEASURED in-memory bytes of `df`'s cache: the column buffers' own
    * size accumulator, summed as the buffers were built. None unless
    * `df` is cached and every partition of its buffers is loaded — a
    * plan's size ESTIMATE is never returned (an explode's estimate does
    * not grow with its fan-out).
    */
  def cachedBytes(df: org.apache.spark.sql.DataFrame): Option[Long] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .map(_.sizeInBytesStats.value.longValue)
  }

  /** Register a SQL function on an ALREADY-RUNNING session (the
    * extensions path requires configuring the session builder up front;
    * this covers notebooks/tests attaching to an existing one).
    * `sessionState` is private[sql], hence this lives in the shim.
    */
  def registerFunction(spark: SparkSession, name: String, info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(new FunctionIdentifier(name), info, builder)
}
