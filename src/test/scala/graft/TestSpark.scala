package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Chain, GraftSession, ParquetSource}

/** One shared local session for the whole suite (Spark startup is ~5s;
  * per-suite sessions would dominate test time).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // same function surface a production session gets from
    // spark.sql.extensions=graft.functions.GraftExtensions
    graft.functions.GraftFunctions.register(s)
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  def table(name: String): Chain = {
    val df = ParquetSource.read(spark, s"$sfDir/$name.parquet")
    df.createOrReplaceTempView(name)
    Chain(spark, name, df)
  }

  def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Structural scan counter for one-corpus-scan plan pins: walks the
    * FINAL adaptive plan (query stages unwrapped, reused exchanges NOT
    * descended — a reused exchange is by definition not a second
    * execution). Corpora under test must be FILE scans, not local
    * relations.
    */
  def countScans(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    var scans = 0
    def walk(n: org.apache.spark.sql.execution.SparkPlan): Unit = {
      n match {
        case _: FileSourceScanExec => scans += 1
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => ()
      }
      n match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: ReusedExchangeExec => ()
        case _ =>
          n.children.foreach(walk)
          n.subqueries.foreach(walk)
      }
    }
    walk(p)
    scans
  }
}
