package graft.core

import org.apache.spark.sql.DataFrame

/** Shared size gate for broadcast-hint decisions on DERIVED small frames
  * (IVF probe lists, query-term lists, distinct-value rank tables): hint
  * only when a SIZED anchor frame's plan-statistics size × a replication
  * factor fits a ceiling. Plan statistics only — no extra job; RDD-backed
  * anchors report the conservative `defaultSizeInBytes` maximum and so
  * never gate in, erring toward the shuffled plan, never toward an
  * oversized broadcast.
  *
  * Ceiling: 8× the session's `autoBroadcastJoinThreshold` (these hints
  * prune corpus-side exchanges, worth more memory than the planner's
  * generic default). A cluster that DISABLES auto-broadcast (threshold
  * ≤ 0) keeps the `spark.graft.probeBroadcast.maxBytes` fallback
  * (default 80 MB); operators who disabled broadcasts as a hard OOM
  * guard set that ≤ 0 and the gate never opens — the explicit cluster
  * config wins. (Extracted round 17 from the IVF probe gate so the
  * lexical-search and encode ops share one posture.)
  */
private[graft] object SizeGate {
  def fitsBroadcast(sized: DataFrame, replication: Int): Boolean = {
    val spark = sized.sparkSession
    val thresh = org.apache.spark.sql.GraftBridge.autoBroadcastThreshold(spark)
    val ceiling =
      if (thresh > 0) BigInt(thresh) * 8
      else BigInt(spark.conf
        .get("spark.graft.probeBroadcast.maxBytes", (80L << 20).toString).toLong)
    val est = sized.queryExecution.optimizedPlan.stats.sizeInBytes * replication
    ceiling > 0 && est <= ceiling
  }
}
