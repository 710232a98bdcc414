package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical._

/** Eager `localCheckpoint` with aggregate metrics computed BY the
  * materialization job itself (`Dataset.observe`) — the round-17
  * replacement for the probe-after-checkpoint shape every iterative
  * operator paid: convergence sums, node/edge counts and split sizes
  * used to be a SECOND job re-scanning the checkpoint blocks that the
  * materialization pass had just streamed (at corpus scale, a full extra
  * pass over DISK_ONLY blocks per round). The observation's accumulators
  * ride the checkpoint action, so the probe is free.
  *
  * The metrics are read synchronously from the observed frame's own
  * executed plan once the checkpoint action returns: the scheduler merges
  * every task's accumulator update before it releases the job's waiter,
  * so no listener delivery is waited on — empty and zero-partition inputs
  * included. Should the plan hold no observed row, the helper recomputes
  * the metrics with one aggregate over the MATERIALIZED blocks (cheap:
  * the exact job this helper exists to remove).
  * `spark.graft.checkpointProbe.forceFallback = true` takes that path
  * unconditionally — the spec's hook for pinning it.
  *
  * [[stats]] is the home of the chain ops' eager scalar statistics (the
  * reference's compile-time `run_query` probes): it checkpoints only when
  * that saves recomputing a shuffled upstream.
  */
private[graft] object CheckpointProbe {

  private val ids = new AtomicLong(0L)

  /** Checkpoint `df` eagerly and return (checkpointed frame, metric
    * values in `metrics` order). Aggregate columns only (the
    * `Dataset.observe` contract).
    */
  def apply(df: DataFrame, metrics: (String, Column)*): (DataFrame, Seq[Any]) =
    checkpoint(new Observed(df, metrics))

  /** Eager scalar statistics over `df`: (the frame later steps must build
    * on, metric values in `metrics` order). Two paths, chosen by a
    * property of the plan ([[shuffled]]):
    *   - a SHUFFLED upstream (join, aggregate, window, global sort,
    *     repartition, distinct, expand) is computed once: the metrics ride
    *     one `localCheckpoint` ([[apply]]) and the returned frame reads its
    *     blocks, so the step's own action and every later one (a sort, a
    *     write) skip the prefix. The blocks live until
    *     [[Chain.releaseCheckpoints]] or garbage collection.
    *   - a NARROW upstream (scans, projections, filters, an earlier
    *     checkpoint) keeps the column-pruned aggregate and returns `df`
    *     itself: checkpointing a bare scan would store every column to
    *     save one pruned read.
    * Both paths evaluate the same aggregate expressions over the same
    * rows, so the values — and the SQL faces built from them — agree.
    */
  def stats(df: DataFrame, metrics: (String, Column)*): (DataFrame, Seq[Any]) = {
    val o = new Observed(df, metrics)
    // the observed frame's optimized plan is the one the checkpoint then
    // executes: testing it, not `df`'s, optimizes the prefix once
    if (shuffled(o.frame)) checkpoint(o) else (df, aggregate(df, o.named))
  }

  /** `df` with `metrics` attached as a uniquely named observation. */
  private final class Observed(val df: DataFrame, metrics: Seq[(String, Column)]) {
    require(metrics.nonEmpty, "checkpoint_probe: at least one metric")
    val named: Seq[Column] = metrics.map { case (n, c) => c.as(n) }
    val name = s"graft_checkpoint_probe_${ids.incrementAndGet()}"
    val frame: DataFrame = df.observe(name, named.head, named.tail: _*)
  }

  private def checkpoint(o: Observed): (DataFrame, Seq[Any]) = {
    val force = o.df.sparkSession.conf
      .get("spark.graft.checkpointProbe.forceFallback", "false").toBoolean
    if (force) {
      val cp = o.df.localCheckpoint()
      (cp, aggregate(cp, o.named))
    } else {
      val cp = o.frame.localCheckpoint()
      o.frame.queryExecution.observedMetrics.get(o.name) match {
        case Some(row) => (cp, o.named.indices.map(row.get))
        case None => (cp, aggregate(cp, o.named))
      }
    }
  }

  /** Does computing `df` plan a shuffle? True when its optimized plan
    * (subqueries included) holds a join, aggregate, window, global sort,
    * repartition, deduplication or expand node; cached relations and
    * checkpoints are leaves, so their upstream does not count.
    */
  def shuffled(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case n @ (_: Join | _: Aggregate | _: Window | _: RepartitionOperation |
                _: RebalancePartitions | _: Deduplicate | _: Distinct | _: Expand) => n
      case s: Sort if s.global => s
    }.nonEmpty

  /** One aggregate job over `df`, values in `named` order. */
  private def aggregate(df: DataFrame, named: Seq[Column]): Seq[Any] = {
    val row = df.agg(named.head, named.tail: _*).collect()(0)
    named.indices.map(row.get)
  }
}
