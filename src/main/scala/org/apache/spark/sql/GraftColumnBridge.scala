package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ⇄ Expression converters — the
  * standard packaging trick for Catalyst extensions living outside the
  * Spark tree (Spark 4 moved `Column.expr`/`new Column(expr)` behind
  * `classic.ExpressionUtils`).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Bridge to the `private[sql]` streaming-frame constructor: a V1
  * streaming Source's `getBatch` must return a DataFrame whose logical
  * plan carries `isStreaming = true` (MicroBatchExecution asserts it),
  * and the only way to mint one over a BaseRelation is
  * `LogicalRelation(relation, isStreaming = true)` + `Dataset.ofRows` —
  * exactly how Delta's source does it (`DeltaLog.createDataFrame`).
  */
object GraftStreamingBridge {
  def streamingFrame(spark: SparkSession,
                     relation: sources.BaseRelation): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      execution.datasources.LogicalRelation(relation, isStreaming = true))
}

/** Bridge to the `private[sql]` one-leaf frame constructor: `df`'s rows
  * under a single `LogicalRDD` over its executed RDD, built the way
  * `Dataset.checkpoint` builds its result — but with no checkpoint and
  * no second storage copy. Frames derived from the result analyze,
  * optimize and print that one leaf instead of `df`'s whole lineage.
  *
  * `toRdd` plans `df` now; with AQE on that also runs any shuffle stage
  * its final plan depends on (an aggregate feeding a join, say). The
  * result's own rows are computed when it is first used.
  */
object GraftPlanBridge {
  def oneLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** A frame over a resolved logical plan (analysis runs now; nothing
    * executes until an action). */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s rows as Catalyst rows: its executed plan's `executeCollect`
    * under a new SQL execution id, as `Dataset.collect` runs it, but
    * without decoding the rows through the Row encoder. */
  def collectInternal(df: DataFrame): Array[catalyst.InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** Caches `df` with its cache's column-buffer RDD marked for a local
    * checkpoint, and returns it. The job that first fills the cache then
    * also truncates the buffers' lineage, so a plan over the cache ships
    * the cache scan only, not the plan that computed the cache. The mark
    * must come before that job (an RDD that has run a job never
    * checkpoints), so a cache that is already filled keeps its lineage.
    * The storage level stays the one `cache()` sets, memory and disk.
    * Once the cache is released, the buffers cannot be recomputed.
    */
  def cacheWithoutLineage(df: DataFrame): DataFrame = {
    df.cache()
    cacheBuilder(df).foreach { b =>
      if (!b.isCachedColumnBuffersLoaded) b.cachedColumnBuffers.localCheckpoint()
    }
    df
  }

  /** The column-buffer RDD of `df`'s cache, or `None` if `df` is not
    * cached. Its storage level is NONE once the cache is released. */
  def cacheBuffers(df: DataFrame): Option[RDD[_]] =
    cacheBuilder(df).map(_.cachedColumnBuffers)

  private def cacheBuilder(df: DataFrame): Option[execution.columnar.CachedRDDBuilder] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.cacheBuilder)
  }
}

/** Bridge to the resolved `autoBroadcastJoinThreshold` (SQLConf parses
  * the size-string forms — "10MB", "-1" — which a raw conf.get string
  * would force callers to re-implement).
  */
object GraftConfBridge {
  def autoBroadcastJoinThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .autoBroadcastJoinThreshold
}

/** Bridge to the `private[sql]` extensions a session was built with:
  * the optimizer rules they inject, so an installer can tell which rules
  * the session already runs.
  */
object GraftSessionBridge {
  def extensionOptimizerRules(spark: SparkSession)
      : Seq[catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan]] =
    spark.asInstanceOf[classic.SparkSession].extensions.buildOptimizerRules(spark)
}

/** Bridge to the `private[sql]` session-state registries — imperative
  * (per-session) registration of table-valued functions, for sessions
  * built without `spark.sql.extensions` (the extensions path registers
  * the same builders via `injectTableFunction`).
  */
object GraftRegistryBridge {
  def registerTableFunction(
      spark: SparkSession, name: String,
      info: catalyst.expressions.ExpressionInfo,
      builder: Seq[catalyst.expressions.Expression] => catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
      .registerFunction(catalyst.FunctionIdentifier(name), info, builder)
}
