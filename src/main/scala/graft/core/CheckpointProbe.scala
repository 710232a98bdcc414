package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

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
  * so no listener delivery is waited on. Empty, zero-partition and
  * AQE-emptied inputs (a runtime-empty join side, aggregate, window,
  * sort, repartition or union input) all carry their observed row. A
  * plan that holds none means Spark's observation contract changed: the
  * helper throws an `IllegalStateException` naming the observation
  * rather than silently paying the second job it exists to remove.
  *
  * [[stats]] is the home of the chain ops' eager scalar statistics (the
  * reference's compile-time `run_query` probes): it checkpoints only when
  * that saves recomputing a shuffled upstream. [[scalars]] reads an eager
  * ungrouped probe whose frame is not built on (describe's row, a fit's
  * Gram pass, quantile picks, size guards, Bloom filters) in one job
  * instead of an aggregate's two; SessionSpec's census keeps the ops'
  * eager ungrouped reads here.
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
    *     checkpoint) returns `df` itself and reads the metrics with
    *     [[scalars]]: checkpointing a bare scan would store every column to
    *     save one pruned read.
    * Both paths evaluate the same aggregate expressions over the same
    * rows, so the values — and the SQL faces built from them — agree.
    */
  def stats(df: DataFrame, metrics: (String, Column)*): (DataFrame, Seq[Any]) = {
    val o = new Observed(df, metrics)
    // the observed frame's optimized plan is the one the checkpoint then
    // executes: testing it, not `df`'s, optimizes the prefix once
    if (shuffled(o.frame)) checkpoint(o) else (df, drain(o))
  }

  /** Eager scalar statistics over `df` (metric values in `metrics` order)
    * in ONE job and no checkpoint: the metrics are observed on the
    * column-pruned frame, which is drained once. An ungrouped
    * `df.agg(…).collect()` runs as two jobs under AQE (the partial
    * aggregate's map stage, then the final one). Aggregate columns only,
    * and none distinct (the `Dataset.observe` contract).
    */
  def scalars(df: DataFrame, metrics: (String, Column)*): Seq[Any] =
    drain(new Observed(df, metrics))

  /** `df` with `metrics` attached as a uniquely named observation. Only
    * the metrics' aggregate leaves are observed; each metric closes on
    * the driver from the leaves' merged values ([[values]]). Spark also
    * evaluates an observation on every task's partial result (for its
    * accumulator report) and logs any failure there: a closing such as
    * a sample variance divides by n − 1, which a one-row partition makes
    * zero under ANSI.
    */
  private final class Observed(val df: DataFrame, metrics: Seq[(String, Column)]) {
    require(metrics.nonEmpty, "checkpoint_probe: at least one metric")
    val name = s"graft_checkpoint_probe_${ids.incrementAndGet()}"
    /** The metrics as the analyzer resolves them over `df`. */
    private val resolved: Seq[Expression] = {
      val named = metrics.map { case (n, c) => c.as(n) }
      df.agg(named.head, named.tail: _*).queryExecution.analyzed match {
        case a: Aggregate => a.aggregateExpressions.map {
          case Alias(e, _) => e
          case e => e
        }
        case other => throw new IllegalStateException(s"checkpoint_probe: $other")
      }
    }
    private val leaves: Seq[Expression] = resolved
      .flatMap(_.collect { case a: AggregateExpression => a.canonicalized -> a })
      .distinctBy(_._1).map(_._2)
    require(leaves.nonEmpty, "checkpoint_probe: the metrics hold no aggregate")
    private val slot: Map[Expression, Int] = leaves.map(_.canonicalized).zipWithIndex.toMap
    val frame: DataFrame = {
      val cols = leaves.zipWithIndex.map { case (a, i) => GraftBridge.column(a).as(s"_leaf$i") }
      df.observe(name, cols.head, cols.tail: _*)
    }

    /** The metric values, in `metrics` order, from the observed row. */
    def values(row: Row): Seq[Any] = resolved.map { m =>
      val closed = m.transformUp {
        case a: AggregateExpression => Literal.create(row.get(slot(a.canonicalized)), a.dataType)
      }
      CatalystTypeConverters.convertToScala(closed.eval(), closed.dataType)
    }
  }

  private def checkpoint(o: Observed): (DataFrame, Seq[Any]) = {
    val cp = o.frame.localCheckpoint()
    try (cp, observed(o, o.frame.queryExecution))
    catch { case e: IllegalStateException => Chain.releaseCheckpoints(cp); throw e }
  }

  /** Run `o`'s frame, projected to no columns, once; read the metrics
    * from the query execution that ran. (A query execution that never
    * ran reads a zero row, not no row: the metrics must come from the
    * one that was executed.)
    */
  private def drain(o: Observed): Seq[Any] = {
    // the empty projection above the observation prunes the scan below it
    // to the columns the metrics read
    val qe = o.frame.select().queryExecution
    SQLExecution.withNewExecutionId(qe, Some(o.name)) {
      qe.executedPlan.execute().foreachPartition(rows => while (rows.hasNext) rows.next())
    }
    observed(o, qe)
  }

  private def observed(o: Observed, qe: QueryExecution): Seq[Any] =
    qe.observedMetrics.get(o.name) match {
      case Some(row) => o.values(row)
      case None =>
        throw new IllegalStateException(s"checkpoint_probe: observation ${o.name} " +
          "left no observed row after its job")
    }

  /** Is `df` computed by one task? True when its physical plan holds no
    * exchange (nor the adaptive wrapper that plans one) and its RDD has
    * one partition, as a small checkpoint's does; planning it runs no job.
    */
  def onePartition(df: DataFrame): Boolean = {
    val qe = df.queryExecution
    qe.executedPlan.collectFirst { case p @ (_: AdaptiveSparkPlanExec | _: Exchange) => p }.isEmpty &&
      qe.toRdd.getNumPartitions == 1
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
}
