package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
import Harness.q

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Stall-proof by construction: `oracle_sql.json` is written BEFORE the query
  * loop, every query's parquet is flushed as it completes, and a status line is
  * appended to `_verify_status.jsonl` per query — so a killed or timed-out run
  * still yields a correctness signal for everything that finished. Each query
  * additionally runs under a watchdog (`SPARK_GRAFT_QUERY_TIMEOUT`, sec,
  * default 600) that cancels its Spark job group rather than hanging the whole
  * dump, and an optional global budget (`SPARK_GRAFT_TIME_BUDGET`, sec) skips
  * the remaining queries once exceeded. A status line carries the query's
  * seconds and scheduler counters ([[Harness.run]]), so
  * `SPARK_GRAFT_ONLY=q_name` times and profiles one query.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()

    // Oracle SQL first: a stall in any later query must not cost the round the
    // whole oracle map (round 4 failure mode: rc=124 → empty correctness file).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val statusPath = Paths.get(s"$outDir/_verify_status.jsonl")
    def status(line: String): Unit = {
      Files.writeString(statusPath, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      System.err.println(s"[verify] $line")
    }

    val budgetSec = sys.env.get("SPARK_GRAFT_TIME_BUDGET").map(_.toDouble)
    val queryTimeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "600").toLong
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9

    // Dev convenience: SPARK_GRAFT_ONLY=q_a,q_b runs a subset (the driver
    // never sets it, so the gate always runs everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      if (budgetSec.exists(elapsed > _)) {
        status(s"""{"q":${q(name)},"status":"skipped_budget"}""")
      } else {
        val r = Harness.run(spark, name, queryTimeoutSec) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        r.error match {
          case None =>
            status(f"""{"q":${q(name)},"status":"ok","sec":${r.sec}%.2f,${r.countersJson}}""")
          case Some(e) =>
            status(s"""{"q":${q(name)},"status":"fail","err":${q(e.toString.take(300))},${r.countersJson}}""")
        }
      }
    }
    spark.stop()
  }
}
