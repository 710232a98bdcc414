package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of one op: latency covers every phase of the op and nothing of
  * the harness's release or check work.
  */
final case class OpResult(id: Int, item: String, latencyS: Double, ok: Boolean,
                          digest: String, error: String)

/** Timing, tracing and job bookkeeping shared by every workload. One client
  * thread drives all ops, so "the current span" is a plain field.
  */
final class Harness(val spark: SparkSession, val tracer: Tracer,
                    val listener: Option[JobListener], val opTimeoutS: Double) {
  val sc = spark.sparkContext
  private val nanoMinusMillis = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val watchdog = new java.util.Timer("graftbench-watchdog", true)
  val results = mutable.ArrayBuffer.empty[OpResult]
  /** Time the run loop spent on the benchmark's own checks and samples,
    * which the measured wall excludes.
    */
  var untimedNs = 0L

  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      listener.foreach(_.drain(sc)) // jobs of this work belong to no op
      untimedNs += System.nanoTime() - t0
    }
  }

  /** Untimed run of op `id`'s work, so the timed runs see warm code paths.
    * The duration of an op's first such run is kept as its cold latency; a
    * failure shows in the timed runs. No collection is forced here or
    * between ops, so the collections an op's allocation causes are charged
    * to the timed ops.
    */
  val coldS = mutable.HashMap.empty[Int, Double]

  def prime(id: Int)(body: => Unit): Unit = untimed {
    val t0 = System.nanoTime()
    try guarded(s"prime-$id", "prime")(body)
    catch { case _: Exception => () }
    finally {
      coldS.getOrElseUpdate(id, (System.nanoTime() - t0) / 1e9)
      release()
    }
  }

  /** Run `body` under job group `group` with a watchdog that cancels the
    * group after `opTimeoutS`.
    */
  private def guarded[T](group: String, desc: String)(body: => T): T = {
    sc.setJobGroup(group, desc, interruptOnCancel = true)
    val cancel = new java.util.TimerTask {
      def run(): Unit = sc.cancelJobGroup(group)
    }
    watchdog.schedule(cancel, (opTimeoutS * 1000).toLong)
    try body
    finally {
      cancel.cancel()
      sc.clearJobGroup()
    }
  }

  /** Run `body` as a child span of `parent`; jobs it launches are filed
    * under the new span.
    */
  def phase[T](op: Int, parent: Span, name: String)(body: Span => T): T = {
    val s = tracer.start(name, op, parent.id)
    val g0 = if (tracer.enabled) JvmClock.gcMillis() else 0L
    if (tracer.enabled) sc.setLocalProperty(JobListener.SpanKey, s.id.toString)
    try body(s)
    finally {
      tracer.end(s)
      if (tracer.enabled) {
        s.attrs("gc_s") = (JvmClock.gcMillis() - g0) / 1000.0
        sc.setLocalProperty(JobListener.SpanKey, parent.id.toString)
      }
    }
  }

  /** Run one op under its own job group and a watchdog that cancels the
    * group after `opTimeoutS`. Failures and timeouts are results, not
    * exceptions.
    */
  def op(id: Int, item: String, attrs: (String, Any)*)(body: Span => String): OpResult = {
    val root = tracer.start("op", id, -1)
    root.attrs("item") = item
    attrs.foreach { case (k, v) => root.attrs(k) = v }
    if (tracer.enabled) sc.setLocalProperty(JobListener.SpanKey, root.id.toString)
    val res =
      try {
        val digest = guarded(s"op-$id", item)(body(root))
        OpResult(id, item, tracer.end(root), ok = true, digest, "")
      } catch {
        case e: Throwable =>
          val sec = tracer.end(root)
          OpResult(id, item, sec, ok = false, "", e.toString.take(400))
      } finally sc.setLocalProperty(JobListener.SpanKey, null)
    root.attrs("ok") = res.ok
    closeJobs(id)
    results += res
    res
  }

  /** File the jobs the listener saw since the last call as child spans. */
  def closeJobs(op: Int): Unit = listener.foreach { l =>
    l.drain(sc).foreach { j =>
      val t0 = j.startMs * 1000000L + nanoMinusMillis
      val t1 = (if (j.endMs >= 0) j.endMs else j.startMs) * 1000000L + nanoMinusMillis
      tracer.addJob(op, j.span, t0, t1, Seq(
        "job" -> j.jobId, "stages" -> j.stages, "tasks" -> j.tasks,
        "failed_tasks" -> j.failedTasks, "task_s" -> j.taskMs / 1000.0,
        "task_cpu_s" -> j.cpuNs / 1e9,
        "shuffle_read_mb" -> j.shuffleRead / 1048576.0,
        "shuffle_write_mb" -> j.shuffleWrite / 1048576.0,
        "spill_mb" -> j.spill / 1048576.0))
    }
  }

  /** Build phase: graft chain construction, with the driver thread's
    * allocation recorded on the span.
    */
  def build[T](op: Int, parent: Span)(body: => T): T = phase(op, parent, "build") { s =>
    val a0 = JvmClock.threadAllocBytes()
    val out = body
    s.attrs("alloc_mb") = (JvmClock.threadAllocBytes() - a0) / 1048576.0
    out
  }

  /** Plan phase: wrap `df` in `action` (analysis happens here), then force
    * optimization and physical planning of the result.
    */
  def plan(op: Int, parent: Span)(action: => DataFrame): DataFrame = phase(op, parent, "plan") { s =>
    val df = action
    val qe = df.queryExecution
    val t0 = System.nanoTime()
    qe.optimizedPlan
    val t1 = System.nanoTime()
    val physical = qe.executedPlan
    val t2 = System.nanoTime()
    if (tracer.enabled) {
      val (nodes, exchanges) = Harness.planShape(physical)
      s.attrs("optimize_s") = (t1 - t0) / 1e9
      s.attrs("physical_s") = (t2 - t1) / 1e9
      s.attrs("plan_nodes") = nodes
      s.attrs("exchanges") = exchanges
    }
    df
  }

  /** Exec phase: run `action`, then sample the storage the op left behind
    * (checkpoint blocks, persists) before it is released.
    */
  def exec[T](op: Int, parent: Span)(action: => T): T = phase(op, parent, "exec") { s =>
    val out = action
    sampleStorage(s)
    out
  }

  /** Record on `s` the cached and checkpointed blocks alive right now. */
  def sampleStorage(s: Span): Unit = if (tracer.enabled) {
    val infos = sc.getRDDStorageInfo
    s.attrs("storage_mb") = infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
    s.attrs("storage_blocks") = infos.map(_.numCachedPartitions).sum
  }

  /** Drop everything an op cached or checkpointed, as `graft.Bench` does
    * between queries.
    */
  def release(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def stop(): Unit = watchdog.cancel()
}

object Harness {
  /** Order-independent digest that reads every column: row count plus the
    * sum of xxhash64 over all columns, summed as two 32-bit halves so the
    * long sums cannot overflow. Columns are renamed by position first, so
    * duplicate or awkward output names cannot break the select.
    */
  def digestFrame(df: DataFrame): DataFrame = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(pos.columns.map(col): _*)
    pos.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      sum(shiftright(col("h"), 32)).as("hi"),
      sum(col("h").bitwiseAND(lit(0xffffffffL))).as("lo"))
  }

  def digestString(df: DataFrame): String = {
    val r = df.collect()(0)
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  /** Node and exchange counts of a physical plan; under AQE the counts are
    * taken from the plan AQE starts from, which holds every planned
    * exchange.
    */
  def planShape(p: org.apache.spark.sql.execution.SparkPlan): (Int, Int) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val root = p match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val nodes = root.collectWithSubqueries { case n => n }
    (nodes.size, nodes.count(_.isInstanceOf[Exchange]))
  }

  /** Bytes and data files under a directory tree. */
  def dirSize(dir: Path): (Long, Int) = {
    if (!Files.exists(dir)) (0L, 0)
    else {
      val st = Files.walk(dir)
      try {
        val files = st.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_")).toArray.map(_.asInstanceOf[Path])
        (files.map(Files.size).sum, files.length)
      } finally st.close()
    }
  }
}
