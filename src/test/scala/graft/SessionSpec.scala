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

  private lazy val mainSources: List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("src/main builds sessions in one place and ships no dev mains") {
    val sources = mainSources
    assert(sources.size > 50, s"expected the library sources, got ${sources.size}")
    def occurrences(needle: String): Seq[String] = sources.flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      val n = java.util.regex.Pattern.quote(needle).r.findAllMatchIn(text).size
      Seq.fill(n)(f.getFileName.toString)
    }.sorted
    assert(occurrences("SparkSession.builder()") == Seq("GraftSession.scala"))
    assert(occurrences("def main(") == Seq("Bench.scala", "Verify.scala"))
  }

  test("src/main launches foreachBatch once and spells the profile-sink protocol once") {
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val defName = """\bdef\s+(\w+)""".r
    val protocol = Seq("foreachBatch", "checkpointGuard", "dynamicOverwrite", "markBatchApplied")
    // (helper, file, enclosing def) for every code use outside the helper's own def
    val uses = mainSources.flatMap { f =>
      import scala.jdk.CollectionConverters._
      var enclosing = ""
      java.nio.file.Files.readAllLines(f).asScala.toSeq.filterNot(isComment).flatMap { line =>
        defName.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
        protocol.filter(h => line.contains(h) && !line.contains(s"def $h"))
          .map(h => (h, f.getFileName.toString, enclosing))
      }
    }
    // the launcher and the profile-sink body; besides them only the
    // test-facing guard wrapper and the journaled tables' own
    // touched-partition replace
    assert(uses.sorted == Seq(
      ("checkpointGuard", "EventStreams.scala", "batchAlreadyApplied"),
      ("checkpointGuard", "EventStreams.scala", "runProfileSink"),
      ("dynamicOverwrite", "EventStreams.scala", "replaceTouched"),
      ("dynamicOverwrite", "EventStreams.scala", "runProfileSink"),
      ("foreachBatch", "EventStreams.scala", "drainForeachBatch"),
      ("markBatchApplied", "EventStreams.scala", "runProfileSink")), uses.mkString("\n"))
  }

  test("src/main spells the exact-sum contracts only in graft.core.Exact") {
    // the decimal accumulator types and the fixed-point quantizer, as an
    // op would spell them by hand; SparkEntry's oracle SQL is the
    // independent reference and keeps its own spelling
    val needles = Seq("DecimalType(38, 4)", "DecimalType(38, 8)", "Exact.Wide",
      "DECIMAL(38,4)", "DECIMAL(38,8)", "DECIMAL(38,${Exact.Scale})",
      "lit(1e6) + lit(0.5)", "lit(1e12) + lit(0.5)", "* 1000000 + 0.5", "* 1e12 + 0.5")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val exempt = Set("graft/core/Exact.scala", "graft/SparkEntry.scala")
    val checked = mainSources.filterNot(f => exempt.exists(e => f.toString.endsWith(e)))
    assert(checked.size == mainSources.size - 2, "both exempt files must exist")
    val hits = for {
      f <- checked
      (line, i) <- java.nio.file.Files.readAllLines(f).toArray(Array.empty[String]).zipWithIndex
      if !isComment(line)
      needle <- needles if line.contains(needle)
    } yield s"${f.getFileName}:${i + 1}: $needle"
    assert(hits.isEmpty, hits.mkString("exact-sum contract spelled outside Exact:\n", "\n", ""))
    val fpqDefs = mainSources.flatMap { f =>
      "def fpq\\b".r.findAllMatchIn(java.nio.file.Files.readString(f)).map(_ => f.getFileName.toString)
    }
    assert(fpqDefs == Seq("Exact.scala"), s"expected one fpq definition, found $fpqDefs")
  }

  test("src/main reads eager ungrouped statistics only through CheckpointProbe") {
    // under AQE an ungrouped `df.agg(…).collect()` or `df.count()` runs as
    // two jobs (the partial aggregate's map stage, then the final one);
    // CheckpointProbe observes the same aggregates on one drained pass.
    // Every other eager read is named here with the reason it stays.
    val allowed: Map[(String, String, String), String] = Map(
      ("AggOps.scala", "describeTable", "agg") -> "grouped: the stacked per-feature profile",
      ("AggOps.scala", "describeTable", "count") ->
        "RelationalGroupedDataset.count(): a lazy grouped count",
      ("AggOps.scala", "isotonicFit", "agg") -> "grouped: <= buckets rows",
      ("Bench.scala", "emit", "count") -> "grouped: the bench's warm-up query",
      ("Bench.scala", "timeOne", "count") -> "the bench's timed action",
      ("DedupOps.scala", "pairOut", "count") ->
        ("fuzzy_pairs' tinyCap probe counts limit(cap + 1): its global limit needs a " +
          "single-partition exchange on either path"),
      ("EncodeOps.scala", "nanFree", "count") ->
        "RelationalGroupedDataset.count(): impute's lazy grouped mode count",
      ("SelectionOps.scala", "bucketCounts", "agg") -> "grouped: <= buckets rows",
      ("SelectionOps.scala", "lmModel", "agg") -> "grouped: <= buckets rows",
      ("TextOps.scala", "mixByTemperature", "agg") -> "grouped: one row per stratum",
      ("TextOps.scala", "mixByTokenBudget", "agg") -> "grouped: one row per stratum",
      ("TextOps.scala", "searchTfidf", "agg") -> "distinct: bm25's N and avgdl (countDistinct)",
      ("TextOps.scala", "searchTfidfIndex", "agg") -> "distinct: the render-time N (countDistinct)",
      ("TextOps.scala", "tfidf", "agg") -> "distinct: the render-time N (countDistinct)")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val found = mainSources.filterNot(_.getFileName.toString == "CheckpointProbe.scala").flatMap { f =>
      import scala.jdk.CollectionConverters._
      val text = java.nio.file.Files.readAllLines(f).asScala
        .map(l => if (isComment(l)) "" else l).mkString("\n")
      val defs = """\bdef\s+(\w+)""".r.findAllMatchIn(text).map(m => (m.start, m.group(1))).toSeq
      def enclosing(pos: Int) = defs.takeWhile(_._1 < pos).lastOption.fold("")(_._2)
      // `.agg(` whose balanced argument list is followed by a collect
      val aggs = """\.agg\(""".r.findAllMatchIn(text).filter { m =>
        var (i, depth) = (m.end, 1)
        while (depth > 0 && i < text.length) {
          if (text(i) == '(') depth += 1 else if (text(i) == ')') depth -= 1
          i += 1
        }
        """^\s*\.(collect|head|first)\(\)""".r.findFirstIn(text.substring(i)).nonEmpty
      }.map(m => (f.getFileName.toString, enclosing(m.start), "agg"))
      val counts = """\.count\(\)""".r.findAllMatchIn(text)
        .map(m => (f.getFileName.toString, enclosing(m.start), "count"))
      aggs ++ counts
    }
    assert(found.toSet == allowed.keySet,
      s"unlisted: ${found.toSet -- allowed.keySet}; gone: ${allowed.keySet -- found.toSet}")
  }

  /** (file, enclosing def) of every src/main code line holding `needle`. */
  private def uses(needle: String): Seq[(String, String)] = mainSources.flatMap { f =>
    import scala.jdk.CollectionConverters._
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    var enclosing = ""
    java.nio.file.Files.readAllLines(f).asScala.toSeq.filterNot(isComment).flatMap { line =>
      """\bdef\s+(\w+)""".r.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
      if (line.contains(needle)) Seq(f.getFileName.toString -> enclosing) else Nil
    }
  }.sorted

  test("src/main observes metrics in one mechanism and runs one connected-components loop") {
    // CheckpointProbe's one observation (inside its Observed class) and the
    // chain verb that hands a caller's Observation to Spark
    assert(uses("Observation(").isEmpty, uses("Observation(").mkString("\n"))
    assert(uses(".observe(").map(_._1) == Seq("Chain.scala", "CheckpointProbe.scala"),
      uses(".observe(").mkString("\n"))
    assert(uses(".observe(").contains("Chain.scala" -> "observed"))
    // one connected-components body: the contraction loop in DedupOps
    assert(uses("while (!converged") == Seq("DedupOps.scala" -> "contractComponents"),
      uses("while (!converged").mkString("\n"))
  }

  test("src/main spells the vector norm, the ANN training sample and the IVF cell probe once") {
    // withNorm is the one (id, vector, norm) frame; the two row-keeping
    // sites project the norm because they filter no rows through it
    assert(uses("sqrt(Exact.dot(") == Seq("SimilarityOps.scala" -> "clusterEmbeddings",
      "SimilarityOps.scala" -> "clusterEval", "SimilarityOps.scala" -> "withNorm"),
      uses("sqrt(Exact.dot(").mkString("\n"))
    assert(uses("orderBy(xxhash64(") == Seq("SimilarityOps.scala" -> "trainSample"),
      uses("orderBy(xxhash64(").mkString("\n"))
    // the ANN family ranks in two windows, the nprobe cell probe and the
    // per-query top-k finish; the IVF pair miner assigns cells without
    // one. DedupOps' other two are the keep-one pick and the n-gram
    // prefix filter's rarity order
    val annWindows = uses("row_number().over(")
      .filter(u => Set("SimilarityOps.scala", "DedupOps.scala")(u._1))
    assert(annWindows == Seq("DedupOps.scala" -> "keepOnePerCluster",
      "DedupOps.scala" -> "ngramJaccardPairs", "SimilarityOps.scala" -> "probeCells",
      "SimilarityOps.scala" -> "rankTopK"), annWindows.mkString("\n"))
    assert(uses("<= nprobe") == Seq("SimilarityOps.scala" -> "probeCells"),
      uses("<= nprobe").mkString("\n"))
  }

  test("src/main spells the two-sample side count, the equal-width bin and the quantile reference read once") {
    // the base/other tag and its per-side count: the tag union and the
    // side count every two-sample face builds on
    assert(uses("lit(tag).as(\"_s\")") == Seq("AggOps.scala" -> "tagUnion"),
      uses("lit(tag).as(\"_s\")").mkString("\n"))
    assert(uses("count(when(col(\"_s\") === 0") == Seq("AggOps.scala" -> "sideCounts"),
      uses("count(when(col(\"_s\") === 0").mkString("\n"))
    // psiProfile, histogram and the numeric drift face bin through one home
    assert(uses("floor((x - lit(lo))") == Seq("AggOps.scala" -> "equalWidthBin"),
      uses("floor((x - lit(lo))").mkString("\n"))
    // the KLL cutoff read of psiQuantileProfile and the quantile drift face
    assert(uses(".toDouble / buckets") == Seq("AggOps.scala" -> "quantileReference"),
      uses(".toDouble / buckets").mkString("\n"))
  }

  test("a second GraftSession on one session re-registers no kernel") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-registry-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    // the function registry logs its replacement warning under its own
    // package; the suite's session logs at ERROR, so lift it to WARN here
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger("org.apache.spark.sql.catalyst.analysis")
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    try {
      GraftSession(spark)
      GraftSession(spark)
    } finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
    import scala.jdk.CollectionConverters._
    val replaced = lines.asScala.filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
    val missing = graft.functions.GraftFunctions.registeredNames
      .filterNot(n => spark.catalog.functionExists(n))
    assert(missing.isEmpty, s"unresolvable kernels: $missing")
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
