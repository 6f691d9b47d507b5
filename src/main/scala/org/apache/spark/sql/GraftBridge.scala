package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column constructor so the engine's
  * native Catalyst expressions (graft.functions._) are usable from the
  * public DataFrame API — the standard extension-library pattern for
  * Spark 4's decoupled Column API. */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** A DataFrame over an already-built logical plan (`Dataset.ofRows`
    * is `private[sql]`) — the handle connector-side optimizer rules
    * need to compose DataFrame-level operators (aggregates, windows)
    * onto a spliced subtree. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-tag a derived batch DataFrame as a STREAMING frame — the V1
    * streaming `Source.getBatch` contract (MicroBatchExecution asserts
    * `isStreaming` on the returned plan). `toRdd` is lazy, so the
    * distributed derivation still executes only when the micro-batch
    * runs; this is the standard pattern for sources whose batches are
    * themselves Catalyst-planned queries (Delta's source does the
    * same). */
  def asStreamingDataFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The wrapped target table of a row-level operation relation
    * (`RowLevelOperationTable` is `private[sql]`): Spark's analyzer
    * substitutes this wrapper for the target of a rewritten
    * UPDATE/MERGE/DELETE, and connector-side optimizer rules need to
    * see through it to recognize their own tables. */
  def rowLevelOperationTarget(
      t: connector.catalog.Table): Option[connector.catalog.Table] =
    t match {
      case r: connector.write.RowLevelOperationTable => Some(r.table)
      case _ => None
    }

  /** Run `body` on a thread of `exec` that carries the calling thread's
    * Spark local properties (job group and job tags included) and active
    * session. `SQLExecution.withThreadLocalCaptured` takes the classic
    * session type. */
  def withThreadLocalCaptured[T](spark: SparkSession,
                                 exec: java.util.concurrent.ExecutorService)(
      body: => T): java.util.concurrent.CompletableFuture[T] =
    execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], exec)(body)

  /** A fixed pool of named daemon threads (`ThreadUtils` is
    * `private[spark]`). */
  def daemonPool(threads: Int, prefix: String): java.util.concurrent.ExecutorService =
    org.apache.spark.util.ThreadUtils.newDaemonFixedThreadPool(threads, prefix)

  /** Spark's own schema merge (`StructType.merge` is `private[sql]`),
    * the one parquet `mergeSchema` applies to file footers: fields of
    * `a` first, then those only `b` has; incompatible types throw. */
  def mergeSchemas(a: types.StructType, b: types.StructType): types.StructType =
    a.merge(b, internal.SQLConf.get.caseSensitiveAnalysis)

  /** The persisted RDD behind a `localCheckpoint`ed Dataset, if any —
    * the handle needed to RELEASE checkpoint storage explicitly
    * (`rdd.unpersist()`): `Dataset.unpersist` only touches
    * CacheManager-registered plans, which a checkpoint is not, so
    * without this the storage lives until driver-side RDD GC. */
  def checkpointRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df match {
      case d: classic.Dataset[_] => d.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
        case _ => None
      }
      case _ => None
    }
}
