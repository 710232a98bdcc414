package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: write the formatted physical plan of SparkEntry queries to
  * `<out_dir>/<q_name>_<suffix>.txt` — the before/after plan evidence an
  * optimization round commits under `plans/<tag>/`. Runs in the harness
  * session (`SPARK_GRAFT_CPUS` cores, default 32), so the plans are the
  * ones Bench and Verify execute.
  *
  * usage: sbt "Test/runMain graft.PlanDump <sf_dir> <out_dir> <suffix> [q_name,...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sf_dir> <out_dir> <suffix> [q_name,...]")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names: Seq[String] =
      if (args.length > 3) args(3).split(",").toSeq
      else SparkEntry.queries.keys.toSeq
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      // a harness run, so chain-build side effects (checkpoints) do not
      // leak across dumps and the build's jobs are counted
      val r = Harness.run(spark, name, timeoutSec = 300) {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"), plan.getBytes("UTF-8"))
      }
      r.error match {
        case None => System.err.println(s"[plans] wrote ${name}_$suffix.txt {${r.countersJson}}")
        case Some(e) => System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
