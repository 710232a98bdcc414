package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import TestSpark._

class StreamingSpec extends AnyFunSuite {

  private def eventsDir(): String = {
    val dir = Files.createTempDirectory("graft_events").toString
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      Paths.get(dir, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("streaming tumbling agg equals the batch face") {
    val dir = eventsDir()
    val q = EventStreams.streamingTumblingAgg(
      EventStreams.readEventStream(spark, dir), "1 hour", "2 hours", Seq("event_type"))
      .writeStream.format("memory").queryName("t_sink").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = rows(spark.sql(
      "SELECT CAST(window.start AS STRING), event_type, n_events, value_sum FROM t_sink"))
    val batch = EventStreams.tumblingAgg(
      spark.read.parquet(s"$sfDir/events.parquet"), "1 hour", Seq("event_type"))
    val batched = rows(batch.selectExpr(
      "CAST(window_start AS STRING)", "event_type", "n_events", "value_sum"))
    assert(streamed == batched)
  }

  test("watermark drops too-late events in append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def evt(id: Long, minutesFromMidnight: Long): Evt = {
      // 2024-01-01 00:00 UTC + offset, as epoch nanos
      val base = 1704067200L * 1000000000L
      Evt(id, base + minutesFromMidnight * 60L * 1000000000L, 1L, "click", 1.0, "{}")
    }
    val ms = MemoryStream[Evt]
    val agg = graft.streaming.EventStreams.streamingTumblingAgg(
      ms.toDF(), "1 hour", "30 minutes", Seq("event_type"))
    val q = agg.writeStream.format("memory").queryName("late_sink")
      .outputMode("append").start()
    // batch 1: two events in [00:00,01:00), one at 02:10 to push the
    // watermark to 01:40 and finalize the first window
    ms.addData(evt(1, 10), evt(2, 20), evt(3, 130))
    q.processAllAvailable()
    // batch 2: a late event for the already-finalized [00:00,01:00) window
    ms.addData(evt(4, 30))
    q.processAllAvailable()
    // batch 3: advance watermark far enough to flush remaining windows
    ms.addData(evt(5, 600))
    q.processAllAvailable()
    q.stop()
    val firstWindow = spark.sql(
      "SELECT n_events FROM late_sink WHERE CAST(window.start AS STRING) = '2024-01-01 00:00:00'")
      .collect().map(_.getLong(0)).toSeq
    assert(firstWindow == Seq(2L),
      s"late event must be dropped from the finalized window, got $firstWindow")
  }

  test("flatMapGroupsWithState sessions close on timeout and match session semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = 1704067200L * 1000000000L
    def evt(id: Long, user: Long, min: Long, v: Double): Evt =
      Evt(id, base + min * 60L * 1000000000L, user, "click", v, "{}")
    val ms = MemoryStream[Evt]
    val q = graft.streaming.EventStreams
      .statefulSessions(ms.toDF(), gapMinutes = 30, watermark = "0 minutes")
      .writeStream.format("memory").queryName("state_sink").outputMode("append").start()
    // user 1: two sessions (10,20) and (120); user 2: one session (15)
    ms.addData(evt(1, 1, 10, 1.5), evt(2, 1, 20, 2.25), evt(3, 2, 15, 4.0))
    q.processAllAvailable()
    ms.addData(evt(4, 1, 120, 8.0)) // gap > 30min → closes user 1's first session
    q.processAllAvailable()
    ms.addData(evt(5, 3, 600, 0.5)) // watermark → 600min: times out everything open
    q.processAllAvailable()
    ms.addData(evt(6, 3, 1200, 0.5)) // one more advance to flush timeouts
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT user_id, CAST(session_start AS STRING), CAST(session_end AS STRING), n_events, value_sum FROM state_sink")
      .collect().map(_.toString).sorted.toSeq
    assert(got.contains("[1,2024-01-01 00:10:00,2024-01-01 00:50:00,2,3.75]"),
      s"user1 first session missing in $got")
    assert(got.contains("[2,2024-01-01 00:15:00,2024-01-01 00:45:00,1,4.0]"),
      s"user2 session missing in $got")
    assert(got.exists(_.startsWith("[1,2024-01-01 02:00:00")),
      s"user1 second session missing in $got")
  }

  test("streaming dedup drops redeliveries within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = 1704067200L * 1000000000L
    def evt(id: Long, min: Long): Evt =
      Evt(id, base + min * 60L * 1000000000L, 1L, "click", 1.0, "{}")
    val ms = MemoryStream[Evt]
    val q = EventStreams.streamingDedup(ms.toDF(), Seq("event_id"), "1 hour")
      .writeStream.format("memory").queryName("dedup_sink").outputMode("append").start()
    ms.addData(evt(1, 0), evt(2, 5))
    q.processAllAvailable()
    ms.addData(evt(1, 10), evt(3, 20)) // id 1 redelivered inside the horizon
    q.processAllAvailable()
    q.stop()
    val ids = spark.sql("SELECT event_id FROM dedup_sink")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"redelivery must be dropped, got $ids")
  }

  test("batch session windows: gap semantics and end = last + gap") {
    import org.apache.spark.sql.functions._
    val sessions = EventStreams.sessionAgg(
      spark.read.parquet(s"$sfDir/events.parquet"), "30 minutes", Seq("user_id"))
    // session_end - session_start >= 30 minutes always (end = last event + gap)
    val bad = sessions.where(
      col("session_end").cast("timestamp").cast("long") -
        col("session_start").cast("timestamp").cast("long") < 30L * 60)
    assert(bad.count() == 0)
    // events are conserved
    val total = sessions.agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == spark.read.parquet(s"$sfDir/events.parquet").count())
  }

  test("streaming append sink drains to a table exactly once across restarts") {
    val dir = eventsDir()
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    spark.sql("DROP TABLE IF EXISTS stream_append_t")
    val deduped = EventStreams.streamingDedup(
      EventStreams.readEventStream(spark, dir), Seq("event_id"), "1 hour")
    EventStreams.sinkAppendToTable(deduped, "stream_append_t", ckpt)
    val n = spark.table("stream_append_t").count()
    assert(n == spark.read.parquet(s"$sfDir/events.parquet").count())
    // restart with the same checkpoint: no new data -> no duplicate rows
    val deduped2 = EventStreams.streamingDedup(
      EventStreams.readEventStream(spark, dir), Seq("event_id"), "1 hour")
    EventStreams.sinkAppendToTable(deduped2, "stream_append_t", ckpt)
    assert(spark.table("stream_append_t").count() == n)
  }

  test("stream-stream range enrich matches points to containing intervals, half-open") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val pts = MemoryStream[(Long, java.sql.Timestamp)]
    val ivs = MemoryStream[(String, java.sql.Timestamp, java.sql.Timestamp)]
    val joined = EventStreams.streamingRangeEnrich(
      pts.toDF().toDF("pid", "pt"), ivs.toDF().toDF("tag", "s", "e"),
      "pt", "s", "e", watermark = "10 minutes", maxIntervalLength = "1 hour")
    val q = joined.writeStream.format("memory").queryName("range_sink")
      .outputMode("append").start()
    // intervals: A=[0,30), B=[20,50); points at 10 (A), 25 (A+B), 30 (B only:
    // half-open at A's end), 55 (neither)
    ivs.addData(("A", ts(0), ts(30)), ("B", ts(20), ts(50)))
    pts.addData((1L, ts(10)), (2L, ts(25)), (3L, ts(30)), (4L, ts(55)))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT pid, tag FROM range_sink")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "A"), (2L, "A"), (2L, "B"), (3L, "B")),
      s"half-open containment matches expected, got $got")
  }

  test("streaming dedup-ingest sink drops cross-batch near-dups and maintains its index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS stream_corpus_t")
    spark.sql("DROP TABLE IF EXISTS stream_corpus_idx")
    val tA = "the quick brown fox jumps over the lazy dog near the river bank"
    val tB = "completely different content about distributed query engines and shuffles"
    val tC = "yet another unrelated document describing parquet file layouts in detail"
    def sink(ms: MemoryStream[Doc], ckpt: String) =
      EventStreams.sinkDedupAppendToTable(ms.toDF(), "stream_corpus_t", "stream_corpus_idx",
        "doc_id", "text", ckpt, shingleWords = 2, numHashes = 32, bands = 8,
        estThreshold = 0.5, indexBuckets = 4)
    // batch 1: two distinct docs -> both land, index bootstrapped
    val ms1 = MemoryStream[Doc]
    ms1.addData(Doc(1L, tA), Doc(2L, tB))
    sink(ms1, Files.createTempDirectory("graft_ckpt_d1").toString)
    assert(spark.table("stream_corpus_t").count() == 2)
    assert(spark.table("stream_corpus_idx").count() > 0)
    // batch 2: 3 = re-text of an INDEXED doc (cross-batch dup -> dropped),
    // 4 = new (kept), 5 = exact re-text of 4 within the batch (dropped)
    val ms2 = MemoryStream[Doc]
    ms2.addData(Doc(3L, tA), Doc(4L, tC), Doc(5L, tC))
    sink(ms2, Files.createTempDirectory("graft_ckpt_d2").toString)
    val ids = spark.table("stream_corpus_t")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L), s"expected survivors 1,2,4 — got $ids")
    // the index now also covers doc 4: a batch-3 re-text of 4 is dropped too
    val ms3 = MemoryStream[Doc]
    ms3.addData(Doc(6L, tC))
    sink(ms3, Files.createTempDirectory("graft_ckpt_d3").toString)
    val ids3 = spark.table("stream_corpus_t")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids3 == Seq(1L, 2L, 4L), s"index must cover batch-2 survivors — got $ids3")
    // batch-INTERNAL near-dups: 7 and 8 are small edits of each other (not
    // exact), both novel vs the index; dedupWithinBatch keeps only doc 7
    val tD = "structured streaming checkpoints offsets and state to recover exactly once semantics"
    val tD2 = "structured streaming checkpoints offsets and state to recover exactly once guarantees"
    val ms4 = MemoryStream[Doc]
    ms4.addData(Doc(7L, tD), Doc(8L, tD2))
    EventStreams.sinkDedupAppendToTable(ms4.toDF(), "stream_corpus_t", "stream_corpus_idx",
      "doc_id", "text", Files.createTempDirectory("graft_ckpt_d4").toString,
      shingleWords = 2, numHashes = 32, bands = 8, estThreshold = 0.5,
      indexBuckets = 4, dedupWithinBatch = true)
    val ids4 = spark.table("stream_corpus_t")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids4 == Seq(1L, 2L, 4L, 7L), s"within-batch near-dup must drop doc 8 — got $ids4")
  }

  test("streaming embedding-ingest sink drops semantic near-dups and extends its IVF index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext._
    implicit val sql = spark.sqlContext
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS stream_vec_t")
    spark.sql("DROP TABLE IF EXISTS stream_vec_idx")
    // 8-dim near-orthogonal directions with per-vector noise
    def v(axis: Int, noise: Float): Array[Float] =
      Array.tabulate(8)(i => (if (i == axis) 1.0f else 0.0f) +
        (if (i == (axis + 1) % 8) noise else 0.0f))
    def sink(ms: MemoryStream[Vec], ckpt: String) =
      EventStreams.sinkEmbeddingAppendToTable(ms.toDF(), "stream_vec_t",
        "stream_vec_idx", "vec_id", "embedding", ckpt,
        threshold = 0.9, nprobe = 4, nlist = 2, indexBuckets = 4)
    // batch 1: two distinct directions -> both land, index bootstrapped
    val ms1 = MemoryStream[Vec]
    ms1.addData(Vec(1L, v(0, 0.05f)), Vec(2L, v(3, 0.05f)))
    sink(ms1, Files.createTempDirectory("graft_ckpt_v1").toString)
    assert(spark.table("stream_vec_t").count() == 2)
    assert(spark.table("stream_vec_idx").where("_id IS NULL").count() > 0)
    // batch 2: 3 ~ vector 1 (semantic dup -> dropped), 4 = new direction
    val ms2 = MemoryStream[Vec]
    ms2.addData(Vec(3L, v(0, 0.08f)), Vec(4L, v(6, 0.05f)))
    sink(ms2, Files.createTempDirectory("graft_ckpt_v2").toString)
    val ids = spark.table("stream_vec_t")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L), s"expected survivors 1,2,4 — got $ids")
    // the index now covers vector 4: a batch-3 near-copy of it drops too
    val ms3 = MemoryStream[Vec]
    ms3.addData(Vec(5L, v(6, 0.02f)))
    sink(ms3, Files.createTempDirectory("graft_ckpt_v3").toString)
    val ids3 = spark.table("stream_vec_t")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids3 == Seq(1L, 2L, 4L), s"index must cover batch-2 survivors — got $ids3")
    // the maintained index answers ANN probes for everything ingested
    val hits = graft.core.Chain(spark, "probe",
      Seq(Vec(100L, v(3, 0.04f))).toDF("vec_id", "embedding"))
      .searchIvfIndex(spark.table("stream_vec_idx"), "vec_id", "embedding",
        k = 1, nprobe = 2)
      .df.collect()
    assert(hits.length == 1 && hits(0).getAs[Long]("neighbor_id") == 2L,
      s"probe near direction 3 must hit vector 2 — got ${hits.mkString(",")}")
  }

  test("streaming PQ-ingest sink screens by ADC distance and extends its IVFADC index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext._
    implicit val sql = spark.sqlContext
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS stream_pq_t")
    spark.sql("DROP TABLE IF EXISTS stream_pq_idx")
    def v(axis: Int, noise: Float): Array[Float] =
      Array.tabulate(8)(i => (if (i == axis) 1.0f else 0.0f) +
        (if (i == (axis + 1) % 8) noise else 0.0f))
    // the codebook is a pinned pipeline artifact: trained ONCE on the
    // direction basis, reused by every batch (per-batch refits would
    // silently re-metric the dedup threshold)
    val model = graft.core.Chain(spark, "pq_model_train",
      (0 until 8).map(a => Vec(a.toLong, v(a, 0.03f))).toDF("vec_id", "embedding"))
      .pqFit("vec_id", "embedding", m = 2, ks = 4, trainSample = 8, iters = 10)
    def sink(ms: MemoryStream[Vec], ckpt: String) =
      EventStreams.sinkPqAppendToTable(ms.toDF(), "stream_pq_t",
        "stream_pq_idx", "vec_id", "embedding", ckpt,
        model.df, maxDist = 0.5, nprobe = 4, nlist = 2, indexBuckets = 4)
    // batch 1: two distinct directions -> both land, index bootstrapped
    val ms1 = MemoryStream[Vec]
    ms1.addData(Vec(1L, v(0, 0.05f)), Vec(2L, v(3, 0.05f)))
    sink(ms1, Files.createTempDirectory("graft_ckpt_pq1").toString)
    assert(spark.table("stream_pq_t").count() == 2)
    val idxRows = spark.table("stream_pq_idx")
    assert(idxRows.where("_id IS NULL").count() > 0, "centroid markers present")
    assert(idxRows.where("_id IS NOT NULL AND _pc IS NULL").count() == 0,
      "every posting carries a code")
    // batch 2: 3 ~ vector 1 (ADC near-dup -> dropped), 4 = new direction
    val ms2 = MemoryStream[Vec]
    ms2.addData(Vec(3L, v(0, 0.08f)), Vec(4L, v(6, 0.05f)))
    sink(ms2, Files.createTempDirectory("graft_ckpt_pq2").toString)
    val ids = spark.table("stream_pq_t")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L), s"expected survivors 1,2,4 — got $ids")
    // the extended index now covers vector 4: a batch-3 near-copy drops
    val ms3 = MemoryStream[Vec]
    ms3.addData(Vec(5L, v(6, 0.02f)))
    sink(ms3, Files.createTempDirectory("graft_ckpt_pq3").toString)
    val ids3 = spark.table("stream_pq_t")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids3 == Seq(1L, 2L, 4L), s"got $ids3")
    // the maintained index answers IVFADC probes over everything ingested
    val hits = graft.core.Chain(spark, "pq_probe",
      Seq(Vec(100L, v(3, 0.04f))).toDF("vec_id", "embedding"))
      .searchIvfPq(model.df, spark.table("stream_pq_idx"), "vec_id", "embedding",
        k = 1, nprobe = 2)
      .df.collect()
    assert(hits.length == 1 && hits(0).getAs[Long]("neighbor_id") == 2L,
      s"probe near direction 3 must hit vector 2 — got ${hits.mkString(",")}")
  }

  test("streaming PQ sink bootstraps a residual index; later batches self-detect its codebook") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext._
    implicit val sql = spark.sqlContext
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS stream_rpq_t")
    spark.sql("DROP TABLE IF EXISTS stream_rpq_idx")
    def v(axis: Int, noise: Float): Array[Float] =
      Array.tabulate(8)(i => (if (i == axis) 1.0f else 0.0f) +
        (if (i == (axis + 1) % 8) noise else 0.0f))
    val model = graft.core.Chain(spark, "rpq_model_train",
      (0 until 8).map(a => Vec(a.toLong, v(a, 0.03f))).toDF("vec_id", "embedding"))
      .pqFit("vec_id", "embedding", m = 2, ks = 4, trainSample = 8, iters = 10)
    // maxDist 1e-6: nothing screens out — this test pins the INDEX
    // metric plumbing, not the threshold (Round15Spec pins the measured
    // dedup margins on the lattice)
    def sink(ms: MemoryStream[Vec], ckpt: String) =
      EventStreams.sinkPqAppendToTable(ms.toDF(), "stream_rpq_t",
        "stream_rpq_idx", "vec_id", "embedding", ckpt,
        model.df, maxDist = 1e-6, nprobe = 2, nlist = 2, indexBuckets = 4,
        byResidual = true)
    val ms1 = MemoryStream[Vec]
    ms1.addData(Vec(1L, v(0, 0.05f)), Vec(2L, v(3, 0.05f)))
    sink(ms1, Files.createTempDirectory("graft_ckpt_rpq1").toString)
    val idx1 = spark.table("stream_rpq_idx")
    // the 2-row bootstrap fits min(ks=4, sample=2) = 2 residual centers
    // per block — the embedded codebook records the FITTED size and every
    // later consumer reads it back, so the index stays self-consistent
    assert(idx1.where("_cid = -1 AND _id IS NULL").count() == 2 * 2,
      "bootstrap embeds the m x min(ks, sample) residual codebook")
    val ms2 = MemoryStream[Vec]
    ms2.addData(Vec(3L, v(0, 0.08f)), Vec(4L, v(6, 0.05f)))
    sink(ms2, Files.createTempDirectory("graft_ckpt_rpq2").toString)
    val idx2 = spark.table("stream_rpq_idx")
    assert(idx2.where("_cid = -1 AND _id IS NULL").count() == 2 * 2,
      "appends must not duplicate the codebook rows")
    // the appended rows carry codes in the HISTORY's residual metric:
    // a fresh assign of the same vectors against the saved index
    // reproduces (cid, code) exactly
    val appended = idx2.where("_id IN (3, 4)")
      .select("_id", "_cid", "_pc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    val reassign = graft.core.Chain(spark, "rpq_re",
      Seq(Vec(3L, v(0, 0.08f)), Vec(4L, v(6, 0.05f))).toDF("vec_id", "embedding"))
      .ivfPqIndexAssign(idx2, model.df, "vec_id", "embedding")
      .df.select("_id", "_cid", "_pc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    assert(appended == reassign,
      s"appended codes must match the embedded-codebook assign: $appended vs $reassign")
    // residual probes answer over everything ingested
    val hits = graft.core.Chain(spark, "rpq_probe",
      Seq(Vec(100L, v(3, 0.04f))).toDF("vec_id", "embedding"))
      .searchIvfPq(model.df, idx2, "vec_id", "embedding", k = 1, nprobe = 2)
      .df.collect()
    assert(hits.length == 1 && hits(0).getAs[Long]("neighbor_id") == 2L,
      s"probe near direction 3 must hit vector 2 — got ${hits.mkString(",")}")
  }

  test("streaming distinct-sketch profile accumulates across batches and survives redelivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = 1704067200L * 1000000000L
    def evt(id: Long, tpe: String, user: Long) =
      Evt(id, base + id * 60L * 1000000000L, user, tpe, 1.0, "{}")
    spark.sql("DROP TABLE IF EXISTS stream_profile_t")
    def drain(events: Evt*): Unit = {
      val ms = MemoryStream[Evt]
      ms.addData(events: _*)
      EventStreams.sinkDistinctSketchToTable(ms.toDF(), Seq("event_type"), "user_id",
        "stream_profile_t", Files.createTempDirectory("graft_ckpt_p").toString)
    }
    // batch 1: clicks from users 1..20; views from 1..5
    drain((1L to 20L).map(u => evt(u, "click", u)) ++
      (1L to 5L).map(u => evt(100 + u, "view", u)): _*)
    // batch 2: clicks from users 11..30 (10 new); views unchanged (all dups)
    drain((11L to 30L).map(u => evt(200 + u, "click", u)): _*)
    // batch 3: exact redelivery of batch 2 — register-wise idempotent
    drain((11L to 30L).map(u => evt(300 + u, "click", u)): _*)
    val est = spark.sql(
      "SELECT event_type, hll_sketch_estimate(_sk) FROM stream_profile_t")
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    assert(math.abs(est("click") - 30.0) / 30.0 <= 0.15,
      s"click distinct ~30 across batches, got ${est("click")}")
    assert(math.abs(est("view") - 5.0) / 5.0 <= 0.15,
      s"view distinct ~5, got ${est("view")}")
  }

  test("streaming tfidf-index ingest keeps retrieval fresh without a metadata step") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext._
    import graft.ops._
    implicit val sql = spark.sqlContext
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS stream_tfidf_corpus")
    spark.sql("DROP TABLE IF EXISTS stream_tfidf_idx")
    def sink(ms: MemoryStream[Doc], ckpt: String) =
      EventStreams.sinkTfidfAppendToTable(ms.toDF(), "stream_tfidf_corpus",
        "stream_tfidf_idx", "doc_id", "text", ckpt, indexBuckets = 4)
    val t1 = "spark shuffles data between executors during wide transformations"
    val t2 = "parquet encodes columns with dictionaries and statistics"
    val t3 = "watermarks bound streaming state for event time aggregations"
    val ms1 = MemoryStream[Doc]
    ms1.addData(Doc(1L, t1), Doc(2L, t2))
    sink(ms1, Files.createTempDirectory("graft_ckpt_ti1").toString)
    // batch 2: doc 1 replayed (must not duplicate), doc 3 new
    val ms2 = MemoryStream[Doc]
    ms2.addData(Doc(1L, t1), Doc(3L, t3))
    sink(ms2, Files.createTempDirectory("graft_ckpt_ti2").toString)
    assert(spark.table("stream_tfidf_corpus").count() == 3)
    // the index answers EXACTLY like a one-shot retrieval over the corpus
    // table — df/N fresh across both batches with no refresh step
    val corpus = graft.core.Chain(spark, "c", spark.table("stream_tfidf_corpus"))
    val queries = graft.core.Chain(spark, "q",
      Seq(Doc(100L, "spark executors")).toDF("doc_id", "text"))
    val direct = corpus.searchTfidf(queries, "doc_id", "text", "doc_id", "text", k = 3)
    val viaIdx = queries.searchTfidfIndex(spark.table("stream_tfidf_idx"),
      "doc_id", "text", k = 3)
    assert(rows(direct.df) == rows(viaIdx.df))
    // replayed doc 1 appended no duplicate postings
    val post1 = spark.table("stream_tfidf_idx").where("doc_id = 1")
      .groupBy("term").count().where("count > 1").count()
    assert(post1 == 0, "replay must not duplicate postings")
  }

  test("profile sink rewrites only touched buckets, not the whole table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = 1704067200L * 1000000000L
    def evt(id: Long, tpe: String, user: Long) =
      Evt(id, base + id * 60L * 1000000000L, user, tpe, 1.0, "{}")
    spark.sql("DROP TABLE IF EXISTS stream_profile_bkt_t")
    def drain(events: Evt*): Unit = {
      val ms = MemoryStream[Evt]
      ms.addData(events: _*)
      EventStreams.sinkDistinctSketchToTable(ms.toDF(), Seq("event_type"), "user_id",
        "stream_profile_bkt_t", Files.createTempDirectory("graft_ckpt_pb").toString,
        profileBuckets = 8)
    }
    // batch 1: 24 event types spread the keys across the 8 hash buckets
    drain((1L to 24L).map(i => evt(i, s"type_$i", i)): _*)
    val tableDir = Paths.get(new java.net.URI(
      spark.sql("DESCRIBE TABLE EXTENDED stream_profile_bkt_t")
        .where("col_name = 'Location'").collect()(0).getString(1)))
    def dataFiles(): Map[String, Long] = {
      val out = scala.collection.mutable.Map[String, Long]()
      Files.walk(tableDir).forEach { p =>
        val n = p.getFileName.toString
        if (Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith("."))
          out(tableDir.relativize(p).toString) = Files.getLastModifiedTime(p).toMillis
      }
      out.toMap
    }
    val before = dataFiles()
    assert(before.nonEmpty)
    // batch 2: one key -> one touched bucket; every other bucket's files
    // must survive the batch byte-identical (same path, same mtime)
    drain((30L to 39L).map(i => evt(100 + i, "type_1", i)): _*)
    val after = dataFiles()
    val surviving = before.filter { case (p, t) => after.get(p).contains(t) }
    assert(surviving.nonEmpty,
      s"untouched buckets must keep their files; before=${before.keySet}, after=${after.keySet}")
    assert(surviving.size < after.size,
      "the touched bucket must actually be rewritten")
    // estimates unchanged by the bucketed rewrite
    val est = spark.sql(
      "SELECT event_type, hll_sketch_estimate(_sk) FROM stream_profile_bkt_t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.size == 24)
    assert(est("type_1") >= 10 && est("type_1") <= 12,
      s"type_1 merges batch-1 user 1 with batch-2 users 30..39, got ${est("type_1")}")
    assert(est("type_2") == 1L, s"untouched key estimate unchanged, got ${est("type_2")}")
  }

  test("streaming upsert sink converges under redelivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = 1704067200L * 1000000000L
    def evt(id: Long, v: Double) = Evt(id, base + id * 60L * 1000000000L, 1L, "click", v, "{}")
    spark.sql("DROP TABLE IF EXISTS stream_upsert_t")
    val ckpt1 = Files.createTempDirectory("graft_ckpt_u1").toString
    val ms1 = MemoryStream[Evt]
    ms1.addData(evt(1, 1.0), evt(2, 2.0))
    EventStreams.sinkUpsertToTable(ms1.toDF(), "stream_upsert_t", Seq("event_id"), ckpt1)
    // redelivery of event 2 (new value) + a new event, fresh checkpoint —
    // the at-least-once replay scenario
    val ckpt2 = Files.createTempDirectory("graft_ckpt_u2").toString
    val ms2 = MemoryStream[Evt]
    ms2.addData(evt(2, 20.0), evt(3, 3.0))
    EventStreams.sinkUpsertToTable(ms2.toDF(), "stream_upsert_t", Seq("event_id"), ckpt2)
    val got = spark.table("stream_upsert_t").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    assert(got == Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0))
  }

  test("streaming drift sink converges to the batch face as windows accumulate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = 1704067200L * 1000000000L
    def evt(id: Long, tpe: String, hour: Long) =
      Evt(id, base + hour * 3600L * 1000000000L + (id % 60) * 1000000000L,
        id, tpe, 1.0, "{}")
    // accepted reference: 80/20 click/view mix
    val ref = ((1L to 8L).map(i => evt(i, "click", 0)) ++
      (9L to 10L).map(i => evt(i, "view", 0))).toDF()
    spark.sql("DROP TABLE IF EXISTS drift_t")
    spark.sql("DROP TABLE IF EXISTS drift_t_ref")
    var seen = Seq.empty[Evt]
    def drain(events: Evt*): Unit = {
      seen = seen ++ events
      val ms = MemoryStream[Evt]
      ms.addData(events: _*)
      EventStreams.sinkDriftUpsertToTable(ms.toDF(), ref, "event_type", "1 hour",
        "drift_t", Files.createTempDirectory("graft_ckpt_dr").toString,
        profileBuckets = 4)
      // invariant after EVERY batch: table == batch face over all data so far
      val got = rows(spark.table("drift_t").drop("_pb"))
      val want = rows(EventStreams.driftByWindow(seen.toDF(), ref, "event_type", "1 hour"))
      assert(got == want, s"sink diverged from batch face after ${seen.size} events")
    }
    // hour 0 matches the reference mix -> psi ~ 0 for that window
    drain((1L to 8L).map(i => evt(100 + i, "click", 0)) ++
      (9L to 10L).map(i => evt(100 + i, "view", 0)): _*)
    val h0 = spark.table("drift_t").select("psi_total").distinct().collect()
    assert(h0.length == 1 && math.abs(h0(0).getDouble(0)) < 1e-9)
    // hour 1 is all views (shifted) — and hour 0 gains more clicks (merge)
    drain((1L to 5L).map(i => evt(200 + i, "view", 1)) ++
      (1L to 4L).map(i => evt(300 + i, "click", 0)): _*)
    val totals = spark.table("drift_t").select("window_start", "psi_total")
      .distinct().collect().map(r => r.get(0).toString -> r.getDouble(1)).toMap
    assert(totals.size == 2)
    assert(totals.values.max > 0.25, "an all-view hour must read as a population shift")
    // a vanished category still has its reference row in every window
    assert(spark.table("drift_t").where("cnt_other = 0").count() > 0)
  }

  test("upsert and dedup-ingest sinks run an all-empty stream to clean completion") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // a stream yielding no non-empty batch never creates its target tables;
    // the trailing caller-session refreshTable must be guarded, not throw
    spark.sql("DROP TABLE IF EXISTS empty_upsert_t")
    val msU = MemoryStream[Evt]
    EventStreams.sinkUpsertToTable(msU.toDF(), "empty_upsert_t", Seq("event_id"),
      Files.createTempDirectory("graft_ckpt_eu").toString)
    assert(!spark.catalog.tableExists("empty_upsert_t"))
    spark.sql("DROP TABLE IF EXISTS empty_corpus_t")
    spark.sql("DROP TABLE IF EXISTS empty_corpus_idx")
    val msD = MemoryStream[Doc]
    EventStreams.sinkDedupAppendToTable(msD.toDF(), "empty_corpus_t", "empty_corpus_idx",
      "doc_id", "text", Files.createTempDirectory("graft_ckpt_ed").toString,
      shingleWords = 2, numHashes = 16, bands = 4, indexBuckets = 2)
    assert(!spark.catalog.tableExists("empty_corpus_t"))
    assert(!spark.catalog.tableExists("empty_corpus_idx"))
  }

  test("append, tfidf- and embedding-ingest sinks finish an all-empty stream cleanly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // every sink's trailing caller-session refreshTable is guarded on
    // tableExists — each must complete an all-empty stream without
    // throwing and without leaving phantom rows
    spark.sql("DROP TABLE IF EXISTS empty_append_t")
    val msA = MemoryStream[Evt]
    EventStreams.sinkAppendToTable(msA.toDF(), "empty_append_t",
      Files.createTempDirectory("graft_ckpt_ea").toString)
    if (spark.catalog.tableExists("empty_append_t"))
      assert(spark.table("empty_append_t").count() == 0)

    spark.sql("DROP TABLE IF EXISTS empty_tf_corpus")
    spark.sql("DROP TABLE IF EXISTS empty_tf_idx")
    val msT = MemoryStream[Doc]
    EventStreams.sinkTfidfAppendToTable(msT.toDF(), "empty_tf_corpus", "empty_tf_idx",
      "doc_id", "text", Files.createTempDirectory("graft_ckpt_et").toString,
      indexBuckets = 2)
    assert(!spark.catalog.tableExists("empty_tf_corpus"))
    assert(!spark.catalog.tableExists("empty_tf_idx"))

    spark.sql("DROP TABLE IF EXISTS empty_vec_t")
    spark.sql("DROP TABLE IF EXISTS empty_vec_idx")
    val msV = MemoryStream[Vec]
    EventStreams.sinkEmbeddingAppendToTable(msV.toDF(), "empty_vec_t", "empty_vec_idx",
      "vec_id", "embedding", Files.createTempDirectory("graft_ckpt_ev").toString,
      threshold = 0.9, nlist = 2, indexBuckets = 2)
    assert(!spark.catalog.tableExists("empty_vec_t"))
    assert(!spark.catalog.tableExists("empty_vec_idx"))
  }
}

case class Evt(event_id: Long, ts: Long, user_id: Long, event_type: String,
               value: Double, props: String)

case class Doc(doc_id: Long, text: String)

case class Vec(vec_id: Long, embedding: Array[Float])
