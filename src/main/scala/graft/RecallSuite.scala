package graft

import org.apache.spark.sql.SparkSession
import graft.core.{Chain, ParquetSource}
import graft.ext._

/** The ANN recall record [[Bench]] emits beside its timings: recall@10 of
  * every approximate search path against its reference, each with a floor.
  */
object RecallSuite {
  /** Per path (name, recall@10, floor), and the flat-IVF curve by nprobe. */
  final case class Result(recalls: Seq[(String, Double, Double)],
                          ivfCurve: Seq[(Int, Double)]) {
    def ok: Boolean = recalls.forall { case (_, r, floor) => r >= floor }
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
  def measure(spark: SparkSession, sfDir: String): Result = {
    val embDf = ParquetSource.read(spark, s"$sfDir/embeddings.parquet")
    val emb = Chain(spark, "bench_embeddings", embDf)
    val queries = embDf.where("vec_id < 20")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(emb.cosineTopK(queries, "vec_id", "embedding", 10).df)
    def recallOf(approx: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 1.0 else approx.intersect(exact).size.toDouble / exact.size
    val ivfCurve = Seq(2, 4, 8, 12).map { np =>
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
    val recalls = Seq(
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
    Result(recalls, ivfCurve)
  }
}
