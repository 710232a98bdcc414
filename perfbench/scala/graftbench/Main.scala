package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. `perfbench/run.py` builds it, prepares inputs, launches
  * it, checks what it wrote against DuckDB and prints the metrics.
  *
  *   run  --workload W --seed N --seconds S --trace 0|1 --out DIR --data DIR
  *   draw --workload W --seed N --count K [--costs F]  (prints the seeded draw)
  *
  * `--costs` names the catalog cost table used to stratify its draw and
  * `--verified` a file of query→digest pairs already checked for this build.
  *
  * `run` writes into `--out`: `run.json` (set-up, calibration, wall excluding
  * the benchmark's own checks and heap samples, retained heap),
  * `ops.jsonl` (one line per op), `spans.jsonl` when tracing, and the
  * workload's check artifacts.
  */
object Main {
  val Cores = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts.getOrElse("seed", "0").toLong
    val workload = opts.getOrElse("workload", "")
    mode match {
      case "draw" =>
        val k = opts.getOrElse("count", "50").toInt
        Workloads.draw(workload, seed, k, opts).foreach(println)
      case "run" =>
        run(workload, seed, opts("seconds").toDouble, opts.getOrElse("trace", "0") == "1",
          Paths.get(opts("out")), opts("data"), opts)
      case _ =>
        System.err.println("usage: Main run|draw --workload W --seed N ...")
        sys.exit(2)
    }
  }

  def session(out: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the digest hashes every output column, map-typed ones included
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .config("spark.ui.enabled", "false")
      // room for the generated classes of a whole primed block (default 100
      // entries), so a timed op does not compile again what its prime did
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // keep Spark's status store (job, stage and SQL history) small, so the
      // retained-heap sample measures the library rather than that history
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(out.resolve("checkpoints").toString)
    spark
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
          out: Path, data: String, opts: Map[String, String]): Unit = {
    Files.createDirectories(out)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(out)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val listener = if (trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val h = new Harness(spark, new Tracer(trace), listener, opTimeoutS = 30)
    val w = Workloads(workload, h, seed, data, out, opts)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = (1 to SetupReps).map(_ => timed(w.setup()))
    listener.foreach(_.drain(spark.sparkContext))
    h.release()
    System.gc()
    val calibrateS = Calibrate.run()

    val blocks = w.blocks
    var heapMb = RetainedHeap.sampleMb()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var id = 0
    var done = 0
    // whole blocks of the workload's draw until the deadline has passed
    while (done < w.minBlocks || System.nanoTime() - h.untimedNs < deadline) {
      val block = blocks.next()
      w.prime(block, id)
      block.foreach { item =>
        w.runOp(id, item)
        h.release()
        id += 1
      }
      heapMb = math.max(heapMb, h.untimed(RetainedHeap.sampleMb()))
      done += 1
    }
    val wallS = (System.nanoTime() - t0 - h.untimedNs) / 1e9

    val checkT0 = System.nanoTime()
    w.check()
    val checkS = (System.nanoTime() - checkT0) / 1e9

    val ops = new StringBuilder
    h.results.foreach { r =>
      ops.append(Json.obj("id" -> r.id, "item" -> r.item, "latency_s" -> r.latencyS,
        "cold_s" -> h.coldS.getOrElse(r.id, 0.0), "ok" -> r.ok, "digest" -> r.digest,
        "error" -> r.error)).append('\n')
    }
    Files.writeString(out.resolve("ops.jsonl"), ops.toString)
    if (trace) h.tracer.write(out.resolve("spans.jsonl"))
    Files.writeString(out.resolve("run.json"), Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "session_s" -> sessionS, "setup_reps_s" -> setupS,
      "x_calibrate_s" -> calibrateS, "wall_s" -> wallS, "untimed_s" -> h.untimedNs / 1e9,
      "check_s" -> checkS,
      "retained_heap_mb" -> heapMb, "cores" -> Cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0) + "\n")
    h.stop()
    spark.stop()
  }
}

/** Host calibration: a fixed, data-independent integer loop (xorshift64*
  * mixing) whose time tracks the host's single-core speed, so drift between
  * two sets of runs reads as a ratio. About 2 s on a current x86 core.
  */
object Calibrate {
  val Iterations = 850000000L

  def loop(n: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    while (i < n) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    acc
  }

  def run(): Double = {
    loop(1000000L) // compile the loop before it is timed
    val t0 = System.nanoTime()
    val acc = loop(Iterations)
    val s = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) println("") // keeps the loop's result live
    s
  }
}
