package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Chain
import graft.ops._
import graft.ext._
import graft.streaming.EventStreams
import TestSpark._

/** Gates for the round-12 batch: segmented funnel/cohort faces (the
  * per-campaign/per-platform readouts), the streaming funnel composition
  * (late data must REWRITE the greedy chain — pinned before a user
  * invents a wrong incremental one), the calibration monitoring sink
  * (additive accumulator merges converging to the batch face), the
  * at-least-once replay guard for the additive profile sinks, the
  * one-corpus-scan plan shape of grouped calibrationProfile, the
  * literal-cutoff single-reference-scan shape of the quantile-drift
  * ops, and the bench gate's confirmation-pass noise model.
  */
class Round12Spec extends AnyFunSuite {
  import spark.implicits._

  private val base = 1704067200L * 1000000000L
  private def evt(id: Long, minute: Long, user: Long, tpe: String) =
    Evt(id, base + minute * 60L * 1000000000L, user, tpe, 1.0, "{}")
  private def ldt(minute: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(1704067200L + minute * 60L, 0,
      java.time.ZoneOffset.UTC)

  // structural scan counter: walks the FINAL adaptive plan (query stages
  // unwrapped, reused exchanges NOT descended — a reused exchange is by
  // definition not a second execution)
  private def countScans(p: org.apache.spark.sql.execution.SparkPlan): Int = {
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

  // ---- segmented funnel ---------------------------------------------------

  test("funnel_profile grouped: independent chains per segment, user in both") {
    // seg s1: user 1 completes A->B; seg s2: the SAME user has B before A
    // (only A counts) — segments never see each other's events
    val df = Seq(
      ("s1", 1L, 10L, "A"), ("s1", 1L, 20L, "B"),
      ("s2", 1L, 5L, "B"), ("s2", 1L, 30L, "A"),
      ("s2", 2L, 1L, "A"), ("s2", 2L, 2L, "B"))
      .map { case (g, u, m, tp) => (g, u, ldt(m), tp) }
      .toDF("seg", "user_id", "ts", "event_type")
    val got = EventStreams.funnelProfile(df, "event_type", Seq("A", "B"),
      groupBy = Seq("seg"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(got == Map(("s1", 1) -> 1L, ("s1", 2) -> 1L,
      ("s2", 1) -> 2L, ("s2", 2) -> 1L), s"got $got")
  }

  test("funnel grouped fuzz: grouped run equals ungrouped per-segment runs") {
    val rnd = new scala.util.Random(4321)
    val steps = Seq("A", "B", "C")
    val all = Seq("A", "B", "C", "X")
    // ts = i: globally unique, so the greedy chain has no tie ambiguity
    val evs = (1 to 400).map { i =>
      (s"g${rnd.nextInt(3)}", rnd.nextInt(40).toLong, ldt(i.toLong),
        all(rnd.nextInt(all.length)))
    }
    val df = evs.toDF("seg", "user_id", "ts", "event_type")
    val grouped = EventStreams.funnelProfile(df, "event_type", steps,
      groupBy = Seq("seg")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    val groupedLat = EventStreams.funnelLatency(df, "event_type", steps,
      Seq(0.5), groupBy = Seq("seg")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getDouble(4), r.getLong(5))))
      .toMap
    Seq("g0", "g1", "g2").foreach { g =>
      val sub = df.where(col("seg") === g)
      val single = EventStreams.funnelProfile(sub, "event_type", steps)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      steps.indices.foreach { i =>
        assert(grouped.getOrElse((g, i + 1), 0L) == single.getOrElse(i + 1, 0L),
          s"$g step ${i + 1}: grouped vs per-segment")
      }
      val singleLat = EventStreams.funnelLatency(sub, "event_type", steps, Seq(0.5))
        .collect().map(r => r.getInt(0) -> ((r.getDouble(3), r.getLong(4)))).toMap
      singleLat.foreach { case (step, v) =>
        assert(groupedLat((g, step)) == v, s"$g latency step $step")
      }
    }
  }

  test("funnel grouped + within: the deadline rides the per-segment chain") {
    val df = Seq(
      ("s1", 1L, 0L, "A"), ("s1", 1L, 5L, "B"),  // converts inside 10 min
      ("s2", 1L, 0L, "A"), ("s2", 1L, 30L, "B")) // past the deadline
      .map { case (g, u, m, tp) => (g, u, ldt(m), tp) }
      .toDF("seg", "user_id", "ts", "event_type")
    val got = EventStreams.funnelProfile(df, "event_type", Seq("A", "B"),
      within = Some("10 MINUTES"), groupBy = Seq("seg")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(got == Map(("s1", 1) -> 1L, ("s1", 2) -> 1L,
      ("s2", 1) -> 1L, ("s2", 2) -> 0L), s"got $got")
  }

  test("cohort_retention grouped: cohorts anchored independently per segment") {
    val day = 24 * 60L
    val df = Seq(
      ("p1", 1L, 0L), ("p1", 1L, day), ("p1", 2L, 0L),
      ("p2", 1L, day), ("p2", 1L, 2 * day))
      .map { case (p, u, m) => (p, u, ldt(m)) }
      .toDF("platform", "user_id", "ts")
    val got = EventStreams.cohortRetention(df, groupBy = Seq("platform"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getInt(2)) ->
        ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // user 1's p2 cohort is Jan 2 even though they were active Jan 1 in p1
    assert(got == Map(
      ("p1", "2024-01-01", 0) -> ((2L, 2L, 1.0)),
      ("p1", "2024-01-01", 1) -> ((1L, 2L, 0.5)),
      ("p2", "2024-01-02", 0) -> ((1L, 1L, 1.0)),
      ("p2", "2024-01-02", 1) -> ((1L, 1L, 1.0))), s"got $got")
  }

  test("cohort grouped fuzz: grouped run equals ungrouped per-segment runs") {
    val rnd = new scala.util.Random(9876)
    val day = 24 * 60L
    val evs = (1 to 300).map { i =>
      (s"p${rnd.nextInt(3)}", rnd.nextInt(25).toLong,
        ldt(rnd.nextInt(20).toLong * day + rnd.nextInt(1440).toLong))
    }
    val df = evs.toDF("plat", "user_id", "ts")
    val grouped = EventStreams.cohortRetention(df, periodDays = 7,
      groupBy = Seq("plat")).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getInt(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    Seq("p0", "p1", "p2").foreach { p =>
      val single = EventStreams.cohortRetention(df.where(col("plat") === p),
        periodDays = 7).collect()
        .map(r => (r.getDate(0).toString, r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      val mine = grouped.collect { case ((`p`, cd, per), v) => (cd, per) -> v }.toMap
      assert(mine == single, s"$p: grouped grid vs per-segment run")
    }
  }

  test("grouped funnel/cohort/calibration scale shape: lint-safe on a file scan") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("seg", expr("CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END"))
    graft.core.ScaleLint.assertSafe(EventStreams.funnelProfile(
      ev, "event_type", Seq("signup", "click", "purchase"), groupBy = Seq("seg")))
    graft.core.ScaleLint.assertSafe(EventStreams.funnelLatency(
      ev, "event_type", Seq("signup", "click"), Seq(0.5), groupBy = Seq("seg")))
    graft.core.ScaleLint.assertSafe(EventStreams.cohortRetention(
      ev, groupBy = Seq("seg")))
    Chain(spark, "evc", ev
      .withColumn("score", expr("CAST(event_id % 89 AS DOUBLE) / CAST(89 AS DOUBLE)"))
      .withColumn("label", expr("CAST(event_id % 3 = 0 AS INT)")))
      .calibrationProfile("score", "label", 8, groupBy = Seq("seg"))
      .assertScaleSafe()
  }

  // ---- streaming funnel composition (round-11 verdict ask #3) -------------

  test("streaming funnel: upsert-activity composition converges under late data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS funnel_acts_t")
    // batch 1: user 1 has B(10) BEFORE A(20) -> B must not count; batch 2
    // delivers a LATE A(5), which moves t_A earlier and makes B(10) count:
    // the greedy chain is NOT incremental, the closer must re-derive it
    // an off-funnel event type ("X") checks the pre-upsert step filter
    val b1 = Seq(evt(1, 20, 1, "A"), evt(2, 10, 1, "B"), evt(3, 40, 2, "A"),
      evt(9, 30, 1, "X"))
    val b2 = Seq(evt(4, 5, 1, "A"))
    def drain(events: Seq[Evt]): Unit = {
      val ms = MemoryStream[Evt]
      ms.addData(events: _*)
      EventStreams.sinkFunnelActivityToTable(ms.toDF(), "event_type",
        Seq("A", "B"), "funnel_acts_t",
        java.nio.file.Files.createTempDirectory("graft_ckpt_fn").toString)
    }
    drain(b1)
    val before = EventStreams.funnelProfile(spark.table("funnel_acts_t"),
      "event_type", Seq("A", "B"))
      .where(col("step") === 2).collect()(0).getLong(2)
    assert(before == 0L, "B-before-A must not count before the late arrival")
    drain(b2)
    assert(spark.table("funnel_acts_t").where(col("event_type") === "X").isEmpty,
      "off-funnel events filter out before the upsert")
    val got = rows(EventStreams.funnelProfile(spark.table("funnel_acts_t"),
      "event_type", Seq("A", "B")))
    val want = rows(EventStreams.funnelProfile((b1 ++ b2).toDF(),
      "event_type", Seq("A", "B")))
    assert(got == want, "stored-activity closer must equal the all-events batch face")
    val after = EventStreams.funnelProfile(spark.table("funnel_acts_t"),
      "event_type", Seq("A", "B"))
      .where(col("step") === 2).collect()(0).getLong(2)
    assert(after == 1L, "the late step-1 event must rewrite the chain")
  }

  test("streaming cohort wrapper: grouped activity upsert converges under late data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS cohort_acts_g")
    val day = 24 * 60L
    // segment derived per event (user 1 active in both platforms); the
    // late batch moves user 1's platform-a cohort from day 1 to day 0
    val b1 = Seq(evt(1, day, 1, "e"), evt(2, day + 5, 1, "e"), evt(3, 10, 2, "e"))
    val b2 = Seq(evt(5, 20, 1, "e"))
    def withSeg(events: Seq[Evt]) =
      events.toDF().withColumn("plat",
        expr("CASE WHEN event_id % 2 = 0 THEN 'b' ELSE 'a' END"))
    def drain(events: Seq[Evt]): Unit = {
      val ms = MemoryStream[Evt]
      ms.addData(events: _*)
      EventStreams.sinkCohortActivityToTable(
        ms.toDF().withColumn("plat",
          expr("CASE WHEN event_id % 2 = 0 THEN 'b' ELSE 'a' END")),
        "cohort_acts_g",
        java.nio.file.Files.createTempDirectory("graft_ckpt_cg").toString,
        groupBy = Seq("plat"))
    }
    drain(b1)
    drain(b2)
    val got = rows(EventStreams.cohortRetention(spark.table("cohort_acts_g"),
      "user_id", "d", groupBy = Seq("plat")))
    val want = rows(EventStreams.cohortRetention(withSeg(b1 ++ b2),
      "user_id", groupBy = Seq("plat")))
    assert(got == want, "stored-activity closer must equal the all-events batch face")
  }

  // ---- calibration monitoring sink (round-11 verdict ask #4) --------------

  test("calibration sink: additive merges converge to the batch face; all-invalid group kept") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS cal_sink_t")
    // a NULL group value accumulates across batches like any other group
    val b1 = Seq(("a", 0.10, 0), ("a", 0.15, 1), ("a", 0.90, 1), ("b", 0.50, 0),
      (null.asInstanceOf[String], 0.30, 1))
    // group z arrives with ONLY out-of-range scores: the batch face keeps
    // it (full spine, null ece) and the sink must converge to that
    val b2 = Seq(("a", 0.12, 0), ("b", 0.55, 1), ("z", 2.0, 1), ("z", 2.0, 0),
      (null.asInstanceOf[String], 0.35, 0))
    def drain(rowsIn: Seq[(String, Double, Int)]): Unit = {
      val ms = MemoryStream[(String, Double, Int)]
      ms.addData(rowsIn: _*)
      EventStreams.sinkCalibrationUpsertToTable(
        ms.toDF().toDF("g", "score", "label"), "score", "label", "cal_sink_t",
        java.nio.file.Files.createTempDirectory("graft_ckpt_cal").toString,
        buckets = 4, groupBy = Seq("g"))
    }
    drain(b1)
    drain(b2)
    val visible = Seq("g", "bucket", "bucket_lo", "bucket_hi", "n",
      "score_avg", "pos_rate", "ece")
    val got = rows(spark.table("cal_sink_t").select(visible.map(col): _*))
    val want = rows(Chain(spark, "calall", (b1 ++ b2).toDF("g", "score", "label"))
      .calibrationProfile("score", "label", 4, groupBy = Seq("g")).df
      .select(visible.map(col): _*))
    assert(got == want, "stored table must equal the batch face over all delivered rows")
    val z = spark.table("cal_sink_t").where(col("g") === "z")
    assert(z.count() == 4 && z.where(col("ece").isNotNull).count() == 0,
      "all-invalid group: full spine, null ece")
  }

  test("calibration sink ungrouped: converges to the batch face") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS cal_sink_u")
    val b1 = Seq((0.10, 0), (0.90, 1))
    val b2 = Seq((0.30, 1), (Double.NaN, 1))
    def drain(rowsIn: Seq[(Double, Int)], name: String): Unit = {
      val ms = MemoryStream[(Double, Int)]
      ms.addData(rowsIn: _*)
      EventStreams.sinkCalibrationUpsertToTable(
        ms.toDF().toDF("score", "label"), "score", "label", name,
        java.nio.file.Files.createTempDirectory("graft_ckpt_calu").toString,
        buckets = 4)
    }
    drain(b1, "cal_sink_u")
    drain(b2, "cal_sink_u")
    val visible = Seq("bucket", "bucket_lo", "bucket_hi", "n",
      "score_avg", "pos_rate", "ece")
    val got = rows(spark.table("cal_sink_u").select(visible.map(col): _*))
    val want = rows(Chain(spark, "calu", (b1 ++ b2).toDF("score", "label"))
      .calibrationProfile("score", "label", 4).df.select(visible.map(col): _*))
    assert(got == want)
  }

  test("agreement sink: additive class-frame merges converge to the batch face") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    spark.sql("DROP TABLE IF EXISTS agree_sink_t")
    // two raters drifting apart across batches; a null on either side
    // drops the row on BOTH faces
    val b1 = Seq(("g1", "x", "x"), ("g1", "x", "y"), ("g2", "x", "x"))
    val b2 = Seq(("g1", "y", "y"), ("g1", "z", "x"), ("g2", null, "x"))
    def drain(rowsIn: Seq[(String, String, String)]): Unit = {
      val ms = MemoryStream[(String, String, String)]
      ms.addData(rowsIn: _*)
      EventStreams.sinkAgreementUpsertToTable(
        ms.toDF().toDF("g", "a", "b"), "a", "b", "agree_sink_t",
        java.nio.file.Files.createTempDirectory("graft_ckpt_ag").toString,
        groupBy = Seq("g"))
    }
    drain(b1)
    drain(b2)
    val got = rows(spark.table("agree_sink_t").drop("_pb"))
    val want = rows(Chain(spark, "agall",
      (b1 ++ b2).toDF("g", "a", "b"))
      .agreementProfile("a", "b", groupBy = Seq("g")).df)
    assert(got == want, "stored table must equal the batch face over all delivered rows")
  }

  test("null group values survive the grouped closings (calibration, cohort, agreement)") {
    // a NULL group value groups like any other value everywhere else in
    // the engine — the joins back must match it null-safely instead of
    // silently dropping its rows (round-12 review finding)
    val cal = Seq((null.asInstanceOf[String], 0.5, 1), ("g", 0.5, 0), ("g", 2.0, 1))
      .toDF("seg", "score", "label")
    val out = Chain(spark, "ng_cal", cal)
      .calibrationProfile("score", "label", 4, groupBy = Seq("seg"))
    val got = out.df.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1)) -> r).toMap
    assert(got.size == 8, "2 groups x 4 buckets — null group included")
    assert(got((None, 2L)).getLong(4) == 1L, "null group keeps its counts")
    assert(got((None, 2L)).getDouble(7) == 0.5, "null group closes a real ece")
    cal.createOrReplaceTempView("ng_cal")
    assert(rows(spark.sql(out.sql())) == rows(out.df),
      "rendered face must keep null groups too")
    val ev = Seq(("p", 1L, ldt(0)), (null.asInstanceOf[String], 1L, ldt(0)),
      (null.asInstanceOf[String], 1L, ldt(24 * 60L)))
      .toDF("plat", "user_id", "ts")
    val coh = EventStreams.cohortRetention(ev, groupBy = Seq("plat")).collect()
    assert(coh.count(_.isNullAt(0)) == 2,
      s"null segment keeps its cohort grid rows, got ${coh.toSeq}")
    val ag = Seq((null.asInstanceOf[String], "x", "x"), ("g", "x", "y"))
      .toDF("seg", "a", "b")
    val agOut = Chain(spark, "ng_ag", ag).agreementProfile("a", "b", groupBy = Seq("seg"))
    assert(agOut.df.where(col("seg").isNull).count() == 1,
      "null group keeps its class row")
    ag.createOrReplaceTempView("ng_ag")
    assert(rows(spark.sql(agOut.sql())) == rows(agOut.df),
      "agreement rendered face must keep null groups too")
  }

  test("saveUpsert: a null key value overwrites its stored row instead of duplicating") {
    spark.sql("DROP TABLE IF EXISTS upsert_null_t")
    Chain(spark, "u1", Seq((Some("k"), 1), (None, 1)).toDF("k", "v"))
      .saveUpsert("upsert_null_t", Seq("k"))
    Chain(spark, "u2", Seq((Option.empty[String], 2)).toDF("k", "v"))
      .saveUpsert("upsert_null_t", Seq("k"))
    val got = spark.table("upsert_null_t").collect()
      .map(r => Option(r.getString(0)) -> r.getInt(1)).toMap
    assert(got == Map(Some("k") -> 1, None -> 2),
      s"null key must be REPLACED on re-delivery, got $got")
  }

  // ---- at-least-once replay guard (ADVICE, medium) -------------------------

  test("replay guard: a re-fired batchId is skipped, a rotated checkpoint is not") {
    spark.sql("DROP TABLE IF EXISTS guard_t")
    spark.range(1).toDF("x").write.format("parquet").saveAsTable("guard_t")
    assert(!EventStreams.batchAlreadyApplied(spark, "guard_t", "/ck/a", 0),
      "no marker yet: batch 0 must apply")
    EventStreams.markBatchApplied(spark, "guard_t", "/ck/a", 0)
    assert(EventStreams.batchAlreadyApplied(spark, "guard_t", "/ck/a", 0),
      "re-fired batch 0 must be skipped")
    assert(!EventStreams.batchAlreadyApplied(spark, "guard_t", "/ck/a", 1),
      "the next batch must apply")
    assert(!EventStreams.batchAlreadyApplied(spark, "guard_t", "/ck/b", 0),
      "a NEW checkpoint restarts ids at 0 — a deliberate reprocess, not a replay")
    EventStreams.markBatchApplied(spark, "guard_t", "/ck/a", 1)
    assert(EventStreams.batchAlreadyApplied(spark, "guard_t", "/ck/a", 0) &&
      EventStreams.batchAlreadyApplied(spark, "guard_t", "/ck/a", 1),
      "marker is monotone: every batch at or below it is applied")
    assert(!EventStreams.batchAlreadyApplied(spark, "guard_missing_t", "/ck/a", 0),
      "no table: nothing was ever applied")
  }

  // ---- one-scan plan shapes (round-11 verdict asks #5, #6) -----------------

  test("calibration_profile grouped: ONE corpus scan in the physical plan") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("score", expr("CAST(event_id % 89 AS DOUBLE) / CAST(89 AS DOUBLE)"))
      .withColumn("label", expr("CAST(event_id % 3 = 0 AS INT)"))
    val df = Chain(spark, "cal_scan", ev)
      .calibrationProfile("score", "label", 8, groupBy = Seq("event_type")).df
    df.collect()
    val scans = countScans(df.queryExecution.executedPlan)
    assert(scans == 1,
      s"grouped calibration must scan the corpus exactly once, got $scans")
  }

  test("quantile-drift ops: reference side collected once, absent from the lazy plan") {
    // the reference comes from a DIFFERENT file than the events side, so
    // its absence from the plan is checkable by path
    val ref = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_quantity").as("value"))
    val ddf = EventStreams.driftByWindowQuantile(
      spark.read.parquet(s"$sfDir/events.parquet"), ref, "value", "1 hour", 4,
      k = 1024)
    assert(!ddf.queryExecution.analyzed.toString.contains("lineitem"),
      "driftByWindowQuantile: the reference must ride the plan as literals")
    assert(ddf.count() > 0)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val pq = Chain(spark, "liq", li.where("l_suppkey % 2 = 0"))
      .psiQuantileProfile(li.where("l_suppkey % 2 = 1"), "l_extendedprice", 4).df
    pq.collect()
    val scans = countScans(pq.queryExecution.executedPlan)
    assert(scans == 1,
      s"psiQuantileProfile: only `other` may appear in the lazy plan, got $scans scans")
  }

  // ---- bench gate confirmation model (round-11 verdict ask #1) -------------

  test("bench confirmation: only gate-breaching queries are re-timed") {
    import graft.Bench.{confirmTargets, parseBaseline}
    assert(confirmTargets(Map("q_a" -> 1.0), Map("q_a" -> 1.6)) == Seq("q_a"),
      "a 1.6x regression over the floors is a target")
    assert(confirmTargets(Map("q_a" -> 0.05), Map("q_a" -> 0.1)).isEmpty,
      "below the 0.15s absolute floor a ratio crossing is jitter")
    assert(confirmTargets(Map("q_a" -> 0.11), Map("q_a" -> 0.2)).isEmpty,
      "below the 0.25s delta floor a ratio crossing is noise")
    assert(confirmTargets(Map.empty, Map("q_a" -> 9.0)).isEmpty,
      "new queries have no baseline to breach")
    assert(confirmTargets(Map("q_a" -> 1.0), Map("q_a" -> 1.4)).isEmpty,
      "under the 1.5x threshold nothing re-times")
    // min-keeping convergence: one clean confirmation timing empties the
    // target set — a single slow pass (or two) cannot redden the gate
    val base = Map("q_a" -> 1.0, "q_b" -> 1.0)
    val afterStall = Map("q_a" -> 1.8, "q_b" -> 1.1)
    assert(confirmTargets(base, afterStall) == Seq("q_a"))
    val afterConfirm = afterStall.updated("q_a", math.min(1.8, 1.05))
    assert(confirmTargets(base, afterConfirm).isEmpty,
      "a clean re-time clears the breach — only all-passes-slow survives")
    val parsed = parseBaseline(
      """{"queries":{"q_x":1.234,"q_y":0.5},"skipped":["q_z"],"metric":"total","value":9.9}""")
    assert(parsed == Map("q_x" -> 1.234, "q_y" -> 0.5),
      "summary-line parse: per-query seconds only, skipped names ignored")
  }

  // ---- reserved-name guards (ADVICE, low) ----------------------------------

  test("reserved-name guards: grouped/windowed ops refuse colliding key columns") {
    val df = Seq((1.0, "x")).toDF("v", "n")
    intercept[IllegalArgumentException] {
      Chain(spark, "g1", df).trimmedMeanSketch("v", 0.1, groupBy = Seq("n"))
    }
    intercept[IllegalArgumentException] {
      Chain(spark, "g2", df).quantileProfileSketch(Seq("v"), Seq(0.5), groupBy = Seq("n"))
    }
    intercept[IllegalArgumentException] {
      EventStreams.quantilesByWindow(df, "v", "1 hour", Seq(0.5), keys = Seq("value"))
    }
    intercept[IllegalArgumentException] {
      EventStreams.funnelProfile(df, "event_type", Seq("A"), groupBy = Seq("n_users"))
    }
    intercept[IllegalArgumentException] {
      EventStreams.funnelLatency(df, "event_type", Seq("A", "B"), Seq(0.5),
        groupBy = Seq("prob"))
    }
    intercept[IllegalArgumentException] {
      EventStreams.cohortRetention(df, groupBy = Seq("period"))
    }
  }

  test("sliding windowed censuses: each event lands in both hopping windows") {
    // 1-hour windows hopping every 30 min: event at minute m belongs to
    // the windows starting at floor30(m) and floor30(m) − 30
    val ev = Seq(evt(1, 10, 1, "e"), evt(2, 40, 2, "e"), evt(3, 70, 1, "e"),
      evt(4, 100, 3, "e")).toDF()
    val d = EventStreams.distinctByWindow(ev, "user_id", "1 hour",
      slide = Some("30 minutes")).collect()
      .map(r => r.getAs[java.time.LocalDateTime](0).toString ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(d == Map(
      "2023-12-31T23:30" -> ((1L, 1L)),
      "2024-01-01T00:00" -> ((2L, 2L)),
      "2024-01-01T00:30" -> ((2L, 2L)),
      "2024-01-01T01:00" -> ((2L, 2L)),
      "2024-01-01T01:30" -> ((1L, 1L))), s"got $d")
    val h = EventStreams.heavyHittersByWindow(ev, "user_id", "1 hour", k = 2,
      slide = Some("30 minutes")).collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0).toString, r.getInt(3)) ->
        r.getString(1)).toMap
    // window 00:00 holds users 1 and 2 once each — (cnt DESC, item ASC)
    assert(h(("2024-01-01T00:00", 1)) == "1" && h(("2024-01-01T00:00", 2)) == "2",
      s"got $h")
  }

  test("contamination index: saved-gram probe equals the one-shot face; appends stay fresh") {
    val docs = table("documents")
    val eval = docs.filterRows(Seq("doc_id < 25"))
    spark.sql("DROP TABLE IF EXISTS contam_idx_t")
    eval.contaminationIndex("text", n = 8).save("contam_idx_t", overwrite = true)
    val probe = docs.flagContaminatedIndex(spark.table("contam_idx_t"),
      "doc_id", "text", n = 8)
    assert(rows(probe.df) == rows(docs.flagContaminated(eval, "doc_id", "text", n = 8).df),
      "stored-index probe must equal the one-shot face")
    probe.assertScaleSafe()
    // a new eval task APPENDS its grams — the next probe sees them with
    // no rebuild step (duplicate hashes across appends are re-distincted)
    docs.filterRows(Seq("doc_id >= 25 AND doc_id < 30"))
      .contaminationIndex("text", n = 8).saveAppend("contam_idx_t")
    spark.catalog.refreshTable("contam_idx_t")
    val evalAll = docs.filterRows(Seq("doc_id < 30"))
    assert(rows(docs.flagContaminatedIndex(spark.table("contam_idx_t"),
        "doc_id", "text", n = 8).df) ==
      rows(docs.flagContaminated(evalAll, "doc_id", "text", n = 8).df),
      "appended grams must be visible by construction")
  }

  // ---- weighted n-way RRF (round-11 verdict ask #7) ------------------------

  test("rrf_fuse_weighted: hand-verified three-list weighted fusion") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "doc_id", "rank")
    val cL = Seq((1L, 10L, 1), (1L, 13L, 2)).toDF("query_id", "doc_id", "rank")
    val out = Chain(spark, "rw_a", a)
      .rrfFuseWeighted(Seq((Chain(spark, "rw_b", b), 0.5),
        (Chain(spark, "rw_c", cL), 0.25)), selfWeight = 1.0, k = 4)
      .df.collect()
      .map(r => r.getLong(1) -> ((r.getDouble(2), r.getInt(3)))).toMap
    def c0(r: Int) = 1.0 / (60.0 + r)
    def c1(r: Int) = 0.5 / (60.0 + r)
    def c2(r: Int) = 0.25 / (60.0 + r)
    // fixed left-assoc fold: (c0 + c1) + c2 — asserted EXACTLY
    assert(out(10L)._1 == c0(1) + 0.0 + c2(1), "doc 10: lists 0 and 2")
    assert(out(11L)._1 == c0(2) + c1(1) + 0.0, "doc 11: lists 0 and 1")
    assert(out(12L)._1 == 0.0 + c1(2) + 0.0, "doc 12: list 1 only")
    assert(out(13L)._1 == 0.0 + 0.0 + c2(2), "doc 13: list 2 only")
    // doc 11 (1/62 + 0.5/61 ≈ .0243) outranks doc 10 (1.25/61 ≈ .0205)
    assert(out(11L)._2 == 1 && out(10L)._2 == 2, "weights re-rank the fusion")
    intercept[IllegalArgumentException] {
      Chain(spark, "rw_a2", a).rrfFuseWeighted(Seq((Chain(spark, "rw_b2", b), 0.0)))
    }
    intercept[IllegalArgumentException] {
      Chain(spark, "rw_a3", a).rrfFuseWeighted(Nil)
    }
  }
}
