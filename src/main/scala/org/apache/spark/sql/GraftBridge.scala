package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` surface: Spark 4 backs `Column` by ColumnNode
  * (Connect-compatible), so turning a raw Catalyst `Expression` into a
  * `Column` goes through `classic.ExpressionUtils`. Extension libraries
  * conventionally host this one-liner inside the `org.apache.spark.sql`
  * package.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes (≤ 0 =
    * broadcast disabled) — `sessionState` is `private[sql]`; size-gated
    * broadcast hints need the same number the planner uses.
    */
  def autoBroadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Build a DataFrame over an RDD of INTERNAL rows
    * (`internalCreateDataFrame` is `private[sql]`) — the zipWithIndex /
    * prefix-scan operators produce InternalRows directly so downstream
    * plans skip the external-Row encoder pass a
    * `createDataFrame(RDD[Row], schema)` inserts per row per column.
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** A DataFrame over driver-held INTERNAL rows as a `LocalRelation`
    * (`Dataset.ofRows` is `private[sql]`): the rows live in the plan, whose
    * size statistics let the planner broadcast it, and no block is stored.
    */
  def localRelation(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Spark's own rule for the file and directory names a file-source
    * listing skips (`_`/`.` prefixes, in-flight `._COPYING_` copies, but
    * not `_metadata`/`_common_metadata` or `_col=v` partition
    * directories); `HadoopFSUtils` is `private[spark]`.
    */
  def hiddenFromListing(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Wait until the listener bus has delivered every queued event
    * (`listenerBus` is `private[spark]`), so a listener's counts cover
    * every job the caller has already run.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `rdd.unpersist(false)` without its warning: on a locally
    * checkpointed RDD, `unpersist` logs that the lineage "cannot be
    * recomputed" once per RDD, which is the intended terminal state of
    * every checkpoint release. This does what `unpersist` does after that
    * line — `unpersistRDD` (`private[spark]`) drops the
    * blocks and the persistent-RDD entry, and the RDD's own storage level
    * (a private field, no setter) is reset to NONE.
    */
  def unpersistQuietly(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    rddStorageLevel.set(rdd, org.apache.spark.storage.StorageLevel.NONE)
  }

  private lazy val rddStorageLevel: java.lang.reflect.Field = {
    val f = classOf[org.apache.spark.rdd.RDD[_]].getDeclaredField("storageLevel")
    f.setAccessible(true)
    f
  }

  /** The error the decimal `SUM` raises under ANSI mode when its total
    * passes 38 digits (`QueryExecutionErrors` is `private[sql]`).
    */
  def decimalSumOverflow(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.overflowInSumOfDecimalError(null, "")
}
