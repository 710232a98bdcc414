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

  /** Run `body` with the iteration gate closed
    * (`spark.graft.iterBroadcast.maxRows=0`): connected components then
    * take the distributed contraction loop instead of the driver finish.
    */
  def gateClosed[T](body: => T): T = {
    spark.conf.set("spark.graft.iterBroadcast.maxRows", "0")
    try body finally spark.conf.unset("spark.graft.iterBroadcast.maxRows")
  }

  /** Each Dataset action `build` runs, as its executed plan's text (a
    * failed action as "FAILED <exception>").
    */
  def actionsDuring(build: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add("FAILED " + e)
    }
    // events of earlier actions still queued would reach the new listener
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      build
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

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
