package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import graft.core.GraftSession

/** What the harness mains ([[Bench]], [[Verify]]) share: the session they
  * run in, one timed run per query, and the JSON they write.
  */
object Harness {

  /** [[GraftSession.builder]] plus the two settings only the harness sets:
    * AQE may broadcast a join side up to 64 MB, and parquet
    * TIMESTAMP(NANOS) columns read as longs instead of failing. Every
    * committed events.parquet carries `ts` as micros; the flag is kept so
    * older nanos fixtures still read.
    */
  def session(cores: Int): SparkSession = {
    val spark = GraftSession.builder(cores)
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One run: wall seconds, what the body threw (a watchdog cancel
    * included), and what the scheduler did under the run's job group.
    * Stages and tasks count completed stages; shuffle bytes sum over the
    * group's task ends.
    */
  final case class Run(sec: Double, error: Option[Throwable], jobs: Int,
                       stages: Int, tasks: Int,
                       shuffleReadBytes: Long, shuffleWriteBytes: Long) {
    def ok: Boolean = error.isEmpty

    /** The counters as JSON object members, for a status line. */
    def countersJson: String =
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""shuffle_read_mb":${fmt3(shuffleReadBytes / 1048576.0)},""" +
        s""""shuffle_write_mb":${fmt3(shuffleWriteBytes / 1048576.0)}"""
  }

  private lazy val watchdog = new java.util.Timer("graft-harness-watchdog", true)

  /** Runs `body` under job group `name`; after `timeoutSec` the watchdog
    * cancels the group instead of letting the run hang. Afterwards drops
    * everything the body cached or checkpointed, so runs stay independent.
    */
  def run(spark: SparkSession, name: String, timeoutSec: Long)(body: => Any): Run = {
    val sc = spark.sparkContext
    val listener = counter(sc)
    listener.begin(name)
    sc.setJobGroup(name, name, interruptOnCancel = true)
    val cancel = new java.util.TimerTask {
      def run(): Unit = sc.cancelJobGroup(name)
    }
    watchdog.schedule(cancel, timeoutSec * 1000)
    val t0 = System.nanoTime()
    val error = try { body; None } catch { case e: Throwable => Some(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    cancel.cancel()
    sc.clearJobGroup()
    // storage left behind by one query (persisted barriers, checkpoint
    // blocks) must not distort the next one. clearCache only drops
    // CacheManager entries — localCheckpoint blocks are plain RDD persists
    // and need the explicit sweep.
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    // the counts are complete once the bus has delivered the run's events;
    // a bus still busy after Spark's 10 s wait leaves them short instead
    // of failing the run
    try GraftBridge.drainListenerBus(sc)
    catch { case _: java.util.concurrent.TimeoutException => () }
    val c = listener.take(name)
    Run(sec, error, c.jobs.get, c.stages.get, c.tasks.get, c.read.get, c.write.get)
  }

  private final class Counts {
    val jobs, stages, tasks = new AtomicInteger(0)
    val read, write = new AtomicLong(0L)
  }

  /** The one listener per context: counts jobs, stages, tasks and shuffle
    * bytes by the job group of the job that submitted them, for the groups
    * a run is counting; every other group is ignored.
    */
  private final class GroupCounter extends SparkListener {
    private val byGroup = new ConcurrentHashMap[String, Counts]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()

    private def groupOf(props: java.util.Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

    private def counts(group: String): Option[Counts] = Option(byGroup.get(group))

    private def stageCounts(stageId: Int): Option[Counts] =
      Option(stageGroup.get(stageId)).flatMap(counts)

    /** Counts `group` from zero. */
    def begin(group: String): Unit = byGroup.put(group, new Counts)

    /** The group's counts, after which the group is no longer counted. */
    def take(group: String): Counts = {
      stageGroup.values.removeIf(_ == group)
      byGroup.remove(group)
    }

    override def onJobStart(j: SparkListenerJobStart): Unit =
      groupOf(j.properties).flatMap(counts).foreach(_.jobs.incrementAndGet())

    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      groupOf(s.properties).filter(byGroup.containsKey)
        .foreach(stageGroup.put(s.stageInfo.stageId, _))

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stageCounts(s.stageInfo.stageId).foreach { c =>
        c.stages.incrementAndGet()
        c.tasks.addAndGet(s.stageInfo.numTasks)
      }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      for (c <- stageCounts(t.stageId); m <- Option(t.taskMetrics)) {
        c.read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
  }

  private val counters = new java.util.WeakHashMap[SparkContext, GroupCounter]()

  private def counter(sc: SparkContext): GroupCounter = counters.synchronized(
    counters.computeIfAbsent(sc, { _ =>
      val l = new GroupCounter
      sc.addSparkListener(l)
      l
    }))

  /** Locale-fixed decimal formatting: `f"$x%.3f"` follows the JVM default
    * locale and renders `12,345` under a decimal-comma locale — invalid JSON.
    */
  def fmt3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in an oracle's SQL text would otherwise make
    * `json.load` of oracle_sql.json fail and silently zero the
    * correctness check.
    */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
