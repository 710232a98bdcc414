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

  /** Non-blocking read of an [[Observation]]'s metrics (`getOrEmpty` is
    * `private[sql]`; the public `get` blocks forever if the observed
    * action never fires its listener — callers that piggyback a metric on
    * a checkpoint materialization need a bounded poll instead).
    */
  def observationResult(o: Observation): Map[String, Any] = o.getOrEmpty

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
}
