package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.ParquetSource
import TestSpark._

/** `ParquetSource.read`: the schema is inferred once per session and
  * path, the remembered-schema read is indistinguishable from a plain
  * `spark.read.parquet`, and any change to the files or the parquet
  * settings triggers a new inference. Each test reads in a fresh session
  * so no other suite's reads have filled its entries.
  */
class ParquetSourceSpec extends AnyFunSuite {

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"parquet-source-${java.util.UUID.randomUUID}"
    val started = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && group == j.properties.getProperty("spark.jobGroup.id"))
          started.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain(sc)
      (r, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "")

  /** Order-independent digest of every column: (Σ xxhash64, row count). */
  private def digest(df: DataFrame): (BigDecimal, Long) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast(DecimalType(38, 0))
    val r = df.agg(sum(h), count(lit(1))).head()
    (BigDecimal(Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)), r.getLong(1))
  }

  /** One parquet file with a single unannotated `binary b` column,
    * written by parquet-mr directly.
    */
  private def writeBinaryParquet(path: String, values: Seq[String]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val out = HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try values.foreach(v => w.write(rows.newGroup().append("b", v)))
    finally w.close()
  }

  test("a remembered schema reads every sf0.001 table exactly like a plain read") {
    val s = spark.newSession()
    val tables = new java.io.File(sfDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(tables.size >= 10, s"expected the sf0.001 tables under $sfDir, got $tables")
    tables.foreach { t =>
      val path = s"$sfDir/$t"
      val (first, firstJobs) = jobsDuring(ParquetSource.read(s, path))
      val (second, secondJobs) = jobsDuring(ParquetSource.read(s, path))
      assert(firstJobs == 1, s"$t: first read should infer the schema in one job")
      assert(secondJobs == 0, s"$t: second read ran $secondJobs job(s)")
      val plain = s.read.parquet(path)
      assert(second.schema.json == plain.schema.json, t)
      assert(plan(second) == plan(plain), t)
      assert(digest(second) == digest(plain), t)
      // each read is a fresh relation: no attribute id is shared, so a
      // self-join of two reads analyses as it does with plain reads
      val ids = first.queryExecution.analyzed.output.map(_.exprId).toSet
      assert(second.queryExecution.analyzed.output.forall(a => !ids(a.exprId)), t)
    }
  }

  test("a rewrite, an appended file, a new partition or an inference setting infers again") {
    val s = spark.newSession()
    val dir = Files.createTempDirectory("parquet_source").toFile
    def read(p: String): (StructType, Int) = jobsDuring(ParquetSource.read(s, p).schema)
    /** Setting `key` to `value` retypes `column` of the remembered `path`
      * from `before` to `after`; unsetting it again restores `before`.
      * Each change infers once, and the next read reuses the result.
      */
    def flip(path: String, column: String, key: String, value: String,
             before: DataType, after: DataType): Unit = {
      assert(read(path) match { case (sc, jobs) => jobs == 0 && sc(column).dataType == before })
      s.conf.set(key, value)
      try {
        assert(read(path) match { case (sc, jobs) => jobs == 1 && sc(column).dataType == after }, key)
        assert(read(path)._2 == 0, key)
      } finally s.conf.unset(key)
      assert(read(path) match { case (sc, jobs) => jobs == 1 && sc(column).dataType == before }, key)
    }
    try {
      val flat = s"$dir/flat"
      s.range(10).toDF("id").write.parquet(flat)
      assert(read(flat)._2 == 1)
      assert(read(flat) == ((new StructType().add("id", LongType), 0)))

      // overwritten with an extra column
      s.range(10).selectExpr("id", "id * 2 AS twice").write.mode("overwrite").parquet(flat)
      val (rewritten, rewriteJobs) = read(flat)
      assert(rewriteJobs == 1)
      assert(rewritten.fieldNames.toSeq == Seq("id", "twice"))
      assert(read(flat)._2 == 0)

      // a file appended
      s.range(10, 25).selectExpr("id", "id * 2 AS twice").write.mode("append").parquet(flat)
      assert(read(flat)._2 == 1)
      assert(ParquetSource.read(s, flat).count() == 25)
      assert(read(flat)._2 == 0)

      // partition-directory typing: a setting that turns it off, then a
      // new partition value that retypes the column
      val parted = s"$dir/parted"
      s.range(6).selectExpr("id", "CAST(id % 2 AS INT) AS p").write.partitionBy("p").parquet(parted)
      assert(read(parted)._2 == 1)
      flip(parted, "p", "spark.sql.sources.partitionColumnTypeInference.enabled", "false",
        IntegerType, StringType)
      s.range(3).selectExpr("id", "'x' AS p").write.mode("append").partitionBy("p").parquet(parted)
      val (strs, newPartJobs) = read(parted)
      assert(newPartJobs == 1 && strs("p").dataType == StringType)
      assert(read(parted)._2 == 0)

      val stamped = s"$dir/stamped"
      s.range(2).selectExpr("id", "TIMESTAMP'2024-01-01 10:00:00' + make_interval(0, 0, 0, 0, CAST(id AS INT)) AS t")
        .write.partitionBy("t").parquet(stamped)
      assert(read(stamped)._2 == 1)
      flip(stamped, "t", "spark.sql.timestampType", "TIMESTAMP_NTZ", TimestampType, TimestampNTZType)

      // a parquet setting; the file carries no Spark schema (Spark-written
      // files do, and their schema wins over binaryAsString), so its
      // unannotated binary column is inferred
      val bin = s"$dir/bin"
      writeBinaryParquet(s"$bin/part-0.parquet", Seq("a", "b", "c"))
      assert(read(bin) == ((new StructType().add("b", BinaryType), 1)))
      flip(bin, "b", "spark.sql.parquet.binaryAsString", "true", BinaryType, StringType)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("building q_events_session leaves the session conf unchanged") {
    val s: SparkSession = spark.newSession()
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val before = s.conf.getAll
    val df = SparkEntry.queries("q_events_session")(s, sfDir)
    val after = s.conf.getAll
    val changed = (before.toSet diff after.toSet) ++ (after.toSet diff before.toSet)
    assert(changed.isEmpty, s"building the query changed session settings: $changed")
    assert(df.columns.toSeq.contains("n_events"))
  }
}
