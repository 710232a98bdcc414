package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBridge, SparkContext, Success}
import org.apache.spark.scheduler._

/** Minimal JSON object writer: numbers, strings and booleans only. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** One traced interval. Times are `System.nanoTime` readings; `parent` is -1
  * for an op's root span. Every span of one op carries that op's id.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      t0: Long, var t1: Long, attrs: mutable.LinkedHashMap[String, Any]) {
  def toJson: String = Json.obj((Seq[(String, Any)]("id" -> id, "parent" -> parent, "op" -> op,
    "name" -> name, "t0" -> t0, "t1" -> t1) ++ attrs.toSeq): _*)
}

/** Spans recorded at the benchmark's own call boundaries into graft and
  * Spark. When tracing is off every call is a no-op except the clock reads
  * the caller needs anyway; when on, spans stay in memory until [[write]].
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def start(name: String, op: Int, parent: Int): Span = {
    val s = Span(if (enabled) nextId else -1, parent, op, name, System.nanoTime(), 0L,
      mutable.LinkedHashMap.empty)
    if (enabled) { nextId += 1; spans += s }
    s
  }

  def end(s: Span): Double = { s.t1 = System.nanoTime(); (s.t1 - s.t0) / 1e9 }

  def addJob(op: Int, parent: Int, t0: Long, t1: Long, attrs: Seq[(String, Any)]): Unit =
    if (enabled) {
      spans += Span(nextId, parent, op, "job", t0, t1, mutable.LinkedHashMap(attrs: _*))
      nextId += 1
    }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach(s => sb.append(s.toJson).append('\n'))
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Per-job record assembled from listener events. */
final class JobRec(val jobId: Int, val span: Int, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** SparkListener that files every job under the benchmark span that was
  * current on the launching thread (the `graftbench.span` local property)
  * and sums its tasks' metrics. Registered only in traced runs.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Wait for the bus, then hand over and forget every job seen so far. */
  def drain(sc: SparkContext): Seq[JobRec] = {
    BenchBridge.drainListenerBus(sc)
    synchronized {
      val out = jobs.values.toSeq
      jobs.clear()
      stageJob.clear()
      out
    }
  }
}

object JobListener {
  val SpanKey = "graftbench.span"
}

/** Heap retained between ops: occupancy right after a full collection,
  * sampled by the run loop at block boundaries. Forcing the collection
  * makes the sample the live set, independent of where the collector
  * happened to be. A collection lets Spark's ContextCleaner drop the blocks
  * of broadcasts and shuffles that became unreachable, which the next
  * collection frees, so collections repeat until the live set stops
  * shrinking.
  */
object RetainedHeap {
  private def collectMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def sampleMb(): Double = {
    var last = collectMb()
    var rounds = 0
    var shrinking = true
    while (shrinking && rounds < 10) {
      Thread.sleep(100) // time for the cleaner thread
      val now = collectMb()
      shrinking = now < last - 1.0
      last = math.min(last, now)
      rounds += 1
    }
    last
  }
}

object JvmClock {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def threadAllocBytes(): Long = threads.getCurrentThreadAllocatedBytes

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
