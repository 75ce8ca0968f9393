package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column<->Expression converters — the classic
  * (non-Connect) path for wiring custom Catalyst expressions into the Column
  * API in Spark 4.x. Only place in the codebase inside the Spark namespace. */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Truncate a DataFrame's LOGICAL lineage to a flat `LogicalRDD` node —
    * the internal move of `Dataset.checkpoint`, without writing data. A
    * plan that references a persisted frame several times (a connected-
    * components round, a refinery stage) would otherwise re-analyze that
    * frame's whole tree at every reference. The leaf's physical scan is the
    * source's executed plan, cache-substituted (a fresh QueryExecution is
    * made here after any `persist`). Under AQE building it runs the
    * source's shuffle stages and cache fill here; with AQE off it is lazy. */
  def flattenLineage(df: DataFrame): DataFrame = {
    val c = df.asInstanceOf[classic.Dataset[Row]]
    // fresh QueryExecution so a persist() issued after `df` was constructed
    // is picked up by the cache-substitution phase
    val fresh = classic.Dataset.ofRows(c.sparkSession, c.logicalPlan)
    val leaf = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(fresh.queryExecution.toRdd, fresh, isStreaming = false)
    classic.Dataset.ofRows(c.sparkSession, leaf)
  }

  /** Compute the cache entry of a persisted frame in one job and return
    * its row count, summed from the cached batches: its cached RDD,
    * counted. `Dataset.count()` plans a partial and a final aggregate over
    * the cache, which under AQE runs as three jobs (the cache stage, the
    * partial-count shuffle, the final count). On a filled entry the job
    * reads the cached batches only. 0 on a frame that holds no entry. */
  def fillCache(df: Dataset[_]): Long = {
    val c = df.asInstanceOf[classic.Dataset[_]]
    c.sparkSession.sharedState.cacheManager.lookupCachedData(c)
      .fold(0L)(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers
        .map(_.numRows.toLong).fold(0L)(_ + _))
  }

  /** (total, largest) bytes, memory plus disk, of the broadcast values and
    * pieces the driver's block manager holds until the ContextCleaner. */
  def broadcastBytes(spark: SparkSession): (Long, Long) = {
    val bm = spark.sparkContext.env.blockManager
    val sizes = bm.getMatchingBlockIds(_.isBroadcast).distinct
      .map(bm.getStatus(_).fold(0L)(s => s.memSize + s.diskSize))
    (sizes.sum, sizes.maxOption.getOrElse(0L))
  }
}
