package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import TestSpark._

/** The seven stored-profile sinks share one body
  * (`EventStreams.runProfileSink`: replay guard, touched-partition
  * rewrite, checkpoint release); every case here runs over each of them.
  * Batch 1 spreads 24 keys (and 24 hourly windows, the drift sinks' key)
  * over 8 profile partitions; batch 2 touches key k1 in hour 1 only.
  */
class ProfileSinkSpec extends AnyFunSuite {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** One stored-profile sink: `refRows` is the row count of the reference
    * profile a drift sink pins at start (0: the sink keeps none), and
    * `touched` checks the stored values after the touched-key batch.
    */
  private case class Sink(label: String, run: (DataFrame, String, String) => Unit,
                          refRows: Long = 0, touched: String => Unit = _ => ())

  private lazy val reference = (1 to 12).map(i => row(i, i % 3, 0)).toDF()

  private val sinks = Seq(
    Sink("distinct sketch", (df, name, ck) => EventStreams.sinkDistinctSketchToTable(
      df, Seq("g"), "user_id", name, ck, profileBuckets = 8), touched = name => {
      // estimates survive the bucketed rewrite: k1 merges batch-1 user 1
      // with batch-2 users 30..39, every other key keeps its one user
      val est = spark.sql(s"SELECT g, hll_sketch_estimate(_sk) FROM $name")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.size == 24)
      assert(est("k1") >= 10 && est("k1") <= 12, s"k1 estimate ${est("k1")}")
      assert(est("k2") == 1L, s"untouched key estimate changed: ${est("k2")}")
    }),
    Sink("freq sketch", (df, name, ck) => EventStreams.sinkFreqSketchToTable(
      df, Seq("g"), "user_id", name, ck, profileBuckets = 8)),
    Sink("quantile sketch", (df, name, ck) => EventStreams.sinkQuantileSketchToTable(
      df, Seq("g"), "value", name, ck, profileBuckets = 8)),
    Sink("drift", (df, name, ck) => EventStreams.sinkDriftUpsertToTable(
      df, reference, "g", "1 hour", name, ck, profileBuckets = 8), refRows = 3),
    Sink("numeric drift", (df, name, ck) => EventStreams.sinkDriftNumericUpsertToTable(
      df, reference, "value", "1 hour", 0.0, 1.0, 4, name, ck, profileBuckets = 8),
      refRows = 4),
    Sink("calibration", (df, name, ck) => EventStreams.sinkCalibrationUpsertToTable(
      df, "value", "label", name, ck, buckets = 4, groupBy = Seq("g"), profileBuckets = 8)),
    Sink("agreement", (df, name, ck) => EventStreams.sinkAgreementUpsertToTable(
      df, "a", "b", name, ck, groupBy = Seq("g"), profileBuckets = 8)))

  private val base = 1704067200L * 1000000000L
  private def row(i: Int, key: Int, hour: Int) =
    ProfileRow(s"k$key", base + hour * 3600L * 1000000000L + i * 1000000000L, i.toLong,
      (i % 10) / 10.0 + 0.05, (i % 2).toDouble, s"l${i % 3}", s"l${key % 2}")
  private val batch1 = (1 to 24).map(i => row(i, i, i))
  private val batch2 = (30 to 39).map(i => row(i, 1, 1))

  private def checkpoint(): String = Files.createTempDirectory("graft_ckpt_ps").toString

  private def drain(sink: Sink, in: Seq[ProfileRow], name: String,
                    ckpt: String = checkpoint()): Unit = {
    val ms = MemoryStream[ProfileRow]
    if (in.nonEmpty) ms.addData(in: _*)
    sink.run(ms.toDF(), name, ckpt)
  }

  private def fresh(sink: Sink, test: String): String = {
    val name = s"ps_${test}_${sinks.indexOf(sink)}"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"DROP TABLE IF EXISTS ${name}_ref")
    name
  }

  /** Sorted rows as JSON (sketch columns are binary, whose Row text is
    * an object identity).
    */
  private def snapshot(name: String): Seq[String] =
    spark.table(name).select(to_json(struct(col("*")))).collect().map(_.getString(0))
      .sorted.toSeq

  test("profile sinks: an all-empty stream creates no profile table") {
    for (sink <- sinks) {
      val name = fresh(sink, "empty")
      drain(sink, Nil, name)
      assert(!spark.catalog.tableExists(name), sink.label)
      // the drift sinks pin their reference profile (one row per reference
      // value or bucket) at sink start, batches or not
      val ref = s"${name}_ref"
      assert(spark.catalog.tableExists(ref) == sink.refRows > 0, sink.label)
      if (sink.refRows > 0) assert(spark.table(ref).count() == sink.refRows, sink.label)
    }
  }

  test("profile sinks: a batch id already marked applied is skipped") {
    for (sink <- sinks) {
      val name = fresh(sink, "replay")
      drain(sink, batch1, name)
      val applied = snapshot(name)
      // a checkpoint whose batch 0 the table already records: its stream
      // id is fixed up front, so the marker names the identity the sink
      // resolves when the stream starts
      val ckpt = checkpoint()
      Files.writeString(Paths.get(ckpt, "metadata"),
        s"""{"id":"${java.util.UUID.randomUUID()}"}""")
      EventStreams.markBatchApplied(spark, name,
        EventStreams.checkpointIdentity(spark, ckpt), 0L)
      drain(sink, batch2, name, ckpt)
      val skipped = snapshot(name) == applied
      assert(skipped, s"${sink.label}: the replayed batch was applied")
      // the same rows under a new checkpoint do change the table
      drain(sink, batch2, name)
      val changed = snapshot(name) != applied
      assert(changed, s"${sink.label}: batch 2 never changes the table")
    }
  }

  test("profile sinks: a batch touching one key rewrites only that key's partition") {
    for (sink <- sinks) {
      val name = fresh(sink, "touched")
      drain(sink, batch1, name)
      val dir = Paths.get(new java.net.URI(
        spark.sql(s"DESCRIBE TABLE EXTENDED $name")
          .where("col_name = 'Location'").collect()(0).getString(1)))
      val before = dataFiles(dir)
      assert(before.keySet.map(_.getParent).size > 1, s"${sink.label}: one partition only")
      drain(sink, batch2, name)
      val after = dataFiles(dir)
      val rewritten = after.filter { case (p, t) => !before.get(p).contains(t) }
        .keySet.map(_.getParent)
      assert(rewritten.size == 1, s"${sink.label}: rewrote partitions $rewritten")
      val untouched = before.filter { case (p, _) => !rewritten.contains(p.getParent) }
      assert(untouched.nonEmpty && untouched.forall { case (p, t) => after.get(p).contains(t) },
        s"${sink.label}: untouched partitions must keep their files (same path, same mtime)")
      sink.touched(name)
    }
  }

  test("profile sinks: a two-batch drain leaves no cached blocks behind") {
    for (sink <- sinks) {
      val name = fresh(sink, "release")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      drain(sink, batch1, name)
      drain(sink, batch2, name)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"${sink.label}: the merge left cached RDDs $left")
    }
  }

  test("drift sinks: a _ts value column or an eps outside (0, 1) refuses before the reference is pinned") {
    // `_ts` is the event time the sink derives; counting it would silently
    // profile the wrong column
    val events = MemoryStream[ProfileRow].toDF().withColumn("_ts", col("value"))
    val ref = reference.withColumn("_ts", col("value"))
    val drifts = Seq[(String, (String, String, Double) => Unit)](
      "drift" -> ((name, v, eps) => EventStreams.sinkDriftUpsertToTable(
        events, ref, v, "1 hour", name, checkpoint(), eps = eps)),
      "numeric drift" -> ((name, v, eps) => EventStreams.sinkDriftNumericUpsertToTable(
        events, ref, v, "1 hour", 0.0, 1.0, 4, name, checkpoint(), eps = eps)))
    for ((label, run) <- drifts; (v, eps) <- Seq(("_ts", 1e-6), ("value", 0.0), ("value", 1.0))) {
      val name = s"ps_refuse_${label.replace(' ', '_')}"
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"DROP TABLE IF EXISTS ${name}_ref")
      intercept[IllegalArgumentException](run(name, v, eps))
      assert(!spark.catalog.tableExists(s"${name}_ref"),
        s"$label pinned its reference before refusing ($v, eps $eps)")
    }
  }

  /** Data files under a table directory (relative path -> mtime). */
  private def dataFiles(dir: Path): Map[Path, Long] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
    }.map(p => dir.relativize(p) -> Files.getLastModifiedTime(p).toMillis).toMap
    finally walk.close()
  }
}

case class ProfileRow(g: String, ts: Long, user_id: Long, value: Double, label: Double,
                      a: String, b: String)
