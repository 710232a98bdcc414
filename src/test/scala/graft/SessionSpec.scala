package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession
import graft.ops._
import TestSpark._

/** Session-level surface: FQTN resolution/validation, dataset bind with
  * metadata sync, table-type introspection; the one session-config site
  * and the harness run.
  */
class SessionSpec extends AnyFunSuite {
  import spark.implicits._

  private lazy val sess = GraftSession(spark)

  test("resolveFqtn completes partial names from the default namespace") {
    assert(sess.namespace == "spark_catalog.default")
    assert(sess.resolveFqtn("t") == "spark_catalog.default.t")
    assert(sess.resolveFqtn("db.t") == "spark_catalog.db.t")
    assert(sess.resolveFqtn("cat.db.t") == "cat.db.t")
  }

  test("malformed fqtns and namespaces fail loudly") {
    intercept[IllegalArgumentException](sess.resolveFqtn("a.b.c.d"))
    intercept[IllegalArgumentException](sess.resolveFqtn("has space"))
    intercept[IllegalArgumentException](sess.resolveFqtn("double..dot"))
    intercept[IllegalArgumentException](sess.resolveFqtn(""))
    intercept[IllegalArgumentException](sess.changeNamespace("just_catalog"))
    intercept[IllegalArgumentException](sess.changeNamespace("a.b.c"))
  }

  test("changeNamespace redirects partial-name resolution") {
    val s2 = GraftSession(spark)
    s2.changeNamespace("cat2.db2")
    assert(s2.resolveFqtn("t") == "cat2.db2.t")
    assert(s2.resolveFqtn("db.t") == "cat2.db.t")
  }

  test("csv/json/orc sources round-trip rows and register render-referenceable views") {
    val src = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    val base = java.nio.file.Files.createTempDirectory("graft_src").toString
    src.write.option("header", "true").csv(s"$base/csv")
    src.write.json(s"$base/json")
    src.write.orc(s"$base/orc")

    val fromCsv = sess.datasetFromCsv(s"$base/csv", "src_csv")
    assert(rows(fromCsv.df.select("id", "name", "v")) == rows(src))
    // explicit schema skips inference
    val typed = sess.datasetFromCsv(s"$base/csv", "src_csv_t",
      schemaDdl = Some("id BIGINT, name STRING, v DOUBLE"))
    assert(rows(typed.df) == rows(src))

    val fromJson = sess.datasetFromJson(s"$base/json", "src_json")
    assert(rows(fromJson.df.select("id", "name", "v")) == rows(src))

    val fromOrc = sess.datasetFromOrc(s"$base/orc", "src_orc")
    assert(rows(fromOrc.df) == rows(src))

    // bound views render through the SQL face like any entry table
    val c = fromOrc.filterRows(Seq("v > 2"))
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("text source reads line-per-row and whole-file corpora into chains") {
    import graft.ext._
    val base = java.nio.file.Files.createTempDirectory("graft_txt")
    java.nio.file.Files.writeString(base.resolve("a.txt"), "first line\nsecond line\n")
    java.nio.file.Files.writeString(base.resolve("b.txt"), "third line\n")
    val lines = sess.datasetFromText(base.toString, "src_txt")
    assert(lines.df.columns.toSeq == Seq("text"))
    assert(lines.df.collect().map(_.getString(0)).sorted.toSeq
      == Seq("first line", "second line", "third line"))
    // whole-file mode: one row per file (the one-document-per-file layout)
    val docs = sess.datasetFromText(base.toString, "src_docs", wholeFile = true)
    assert(docs.df.count() == 2)
    // the bound corpus flows straight into the text ops + renders by name
    assert(lines.tokenCounts("text").df.where("n_tokens = 2").count() == 3)
    assert(rows(spark.sql(lines.filterRows(Seq("text LIKE '%line%'")).sql()))
      == rows(lines.df))
  }

  test("dataset binds temp views, managed tables, and full fqtns; missing names explain themselves") {
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("sess_view")
    assert(sess.dataset("sess_view").df.count() == 1L)
    assert(sess.tableType("sess_view") == "TEMPORARY")

    spark.sql("DROP TABLE IF EXISTS sess_table")
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .write.format("parquet").saveAsTable("sess_table")
    assert(sess.dataset("sess_table").df.count() == 2L)
    assert(sess.dataset("spark_catalog.default.sess_table").df.count() == 2L)
    assert(sess.dataset("spark_catalog.default.sess_table").entryName
      == "spark_catalog.default.sess_table")
    assert(sess.tableType("sess_table") == "MANAGED")

    val e = intercept[NoSuchElementException](sess.dataset("no_such_table"))
    assert(e.getMessage.contains("spark_catalog.default.no_such_table"))
  }

  test("table type/state sync on bind mirrors the reference taxonomy") {
    // ≅ TableState/TableType (reference primitives/enums.py:18-62) synced
    // on dataset() bind: persisted table → IN_DW, session temp view →
    // IN_MEMORY, unresolvable name → UNKNOWN/UNKNOWN (lenient, not a throw)
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("sess_state_view")
    spark.sql("DROP TABLE IF EXISTS sess_state_table")
    Seq((1L, "x")).toDF("id", "v").write.format("parquet").saveAsTable("sess_state_table")
    assert(sess.tableState("sess_state_table") == "IN_DW")
    assert(sess.tableType("sess_state_table") == "MANAGED")
    assert(sess.tableState("sess_state_view") == "IN_MEMORY")
    assert(sess.tableType("sess_state_view") == "TEMPORARY")
    assert(sess.tableState("sess_never_bound") == "UNKNOWN")
    assert(sess.tableType("sess_never_bound") == "UNKNOWN")
  }

  test("src/main builds sessions in one place and ships no dev mains") {
    import scala.jdk.CollectionConverters._
    val sources = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.size > 50, s"expected the library sources, got ${sources.size}")
    def occurrences(needle: String): Seq[String] = sources.flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      val n = java.util.regex.Pattern.quote(needle).r.findAllMatchIn(text).size
      Seq.fill(n)(f.getFileName.toString)
    }.sorted
    assert(occurrences("SparkSession.builder()") == Seq("GraftSession.scala"))
    assert(occurrences("def main(") == Seq("Bench.scala", "Verify.scala"))
  }

  test("a harness run counts the jobs of its own job group") {
    // a collect of a range needs no exchange: one job, one stage
    val one = Harness.run(spark, "session-spec-count", timeoutSec = 60)(spark.range(10).collect())
    assert(one.ok, one.error)
    assert((one.jobs, one.stages) == ((1, 1)), one.countersJson)
    // count() aggregates through an exchange, and AQE runs its map side as
    // a job of its own: 4 range partitions, then 1 final partition
    val count = Harness.run(spark, "session-spec-count", timeoutSec = 60)(spark.range(10).count())
    assert(count.ok, count.error)
    assert((count.jobs, count.stages, count.tasks) == ((2, 2, 5)), count.countersJson)
    assert(count.shuffleWriteBytes > 0 && count.shuffleReadBytes > 0, count.countersJson)
    // the counts are per run: a run of the same group without jobs reads 0
    val none = Harness.run(spark, "session-spec-count", timeoutSec = 60)(())
    assert(none.ok && none.jobs == 0 && none.stages == 0, none.countersJson)
  }

  test("the harness watchdog cancels a run that outlives its timeout") {
    val r = Harness.run(spark, "session-spec-timeout", timeoutSec = 1) {
      spark.sparkContext.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(120000))
    }
    assert(!r.ok)
    assert(r.sec < 60, s"cancelled after ${r.sec} s")
    assert(r.jobs == 1, r.countersJson)
  }
}
