package graft.ext

import graft.core.{Chain, Exact}
import graft.core.Exact.fpq
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Data-selection and retrieval-evaluation operators for training-data
  * pipelines (beyond the reference surface — SURVEY §2.4). Two families:
  *
  *  - DSIR-style importance-resampling selection (Xie et al., "Data
  *    Selection for Language Models via Importance Resampling", NeurIPS
  *    2023): hashed-n-gram bag features, a bounded bucket model of
  *    log(p_target / p_raw), per-document scores as a pure projection,
  *    Gumbel-top-k selection.
  *  - Retrieval evaluation (recall@k / MRR@k / nDCG@k) over a run frame
  *    against binary-relevance qrels — the measurement half of the
  *    tf-idf/BM25/ANN retrieval family.
  *
  * All float steps are quantized to 1e-6 fixed point BEFORE any
  * cross-row combination ([[graft.core.Exact.fpq]]), so every output is
  * a pure integer function of the input rows — bit-identical across
  * partitionings and engines.
  */
object SelectionOps {
  /** First 8 hex digits of an md5 string parsed digit-by-digit into a
    * 32-bit value — the same explicit `ascii(c) − 48|87` arithmetic as
    * [[graft.ops.ProjectOps.shard]]: the one hex-to-int every SQL engine
    * spells identically (no conv()/hex-cast portability trap).
    */
  def hex8(h: Column): Column =
    (1 to 8).map { i =>
      val ch = substring(h, i, 1)
      (ascii(ch) - when(ch >= lit("a"), lit(87)).otherwise(lit(48))).cast("long")
    }.reduceLeft((acc, d) => acc * lit(16L) + d)

  /** The DSIR feature bag as a pure Column expression: word unigrams ++
    * bigrams of the lowercased whitespace tokens (the paper's
    * hashed-n-gram featurization). This is the REFERENCE formulation the
    * native kernels ([[graft.functions.DsirScore]] /
    * [[graft.functions.DsirBuckets]]) must agree with gram-for-gram —
    * spec-pinned; the hot paths use the kernels.
    */
  def uniBi(text: Column): Column = {
    val toks = TextOps.tokens(text)
    concat(toks, TopNgramsShared.gramsExpr(toks, 2))
  }

  /** Hashed feature bucket of one gram: hex8(md5(gram)) mod B —
    * byte-identical to [[graft.functions.DsirScore]]'s digest-byte
    * arithmetic (the first 8 hex chars ARE the first 4 digest bytes).
    */
  def gramBucket(g: Column, buckets: Int): Column =
    hex8(md5(g)) % lit(buckets.toLong)
}

final class SelectionOps(private val c: Chain) extends AnyVal {
  import SelectionOps._

  /** dsir_model(target, text_col, buckets): fit the DSIR importance model
    * — one row per hash bucket b ∈ [0, B) with the raw-corpus gram count
    * `n_raw`, the target-corpus gram count `n_target`, and the add-1
    * smoothed fixed-point log importance ratio
    *
    *   w_fp(b) = fpq(ln((n_target+1)/(N_t+B))) − fpq(ln((n_raw+1)/(N_r+B)))
    *
    * where N_t/N_r are total gram counts. A document's importance
    * log-weight under the hashed-unigram+bigram bag model is the sum of
    * w_fp over its gram occurrences (see [[dsirScore]]). Fit the model on
    * a hash sample ([[graft.ops.JoinOps.sampleHash]]) when the raw
    * corpus is the full 100 TB — the bucket distribution converges long
    * before the corpus is exhausted.
    *
    * Scale shape: ONE scan of each side, each folding into a ≤ B-row
    * bucket-count aggregate; the two bounded frames are collected eagerly
    * (≤ B rows each — the literal-frames pattern of the drift family) and
    * the B-row model is emitted as a driver-local relation, so no
    * downstream consumer can ever re-trigger the corpus scans through its
    * lineage. Non-renderable (model-producing, like the index family).
    */
  def dsirModel(target: Chain, textCol: String, buckets: Int = 8192): Chain = {
    require(buckets >= 16 && buckets <= 65536,
      s"dsir_model: buckets must be in [16, 65536], got $buckets — the " +
        "model is collected to the driver and broadcast as a literal")
    Seq(c.df -> "raw chain", target.df -> "target chain").foreach { case (df, who) =>
      require(df.columns.contains(textCol),
        s"dsir_model: $who is missing text column '$textCol'")
    }
    def bucketCounts(df: DataFrame): Array[Long] = {
      val counts = new Array[Long](buckets)
      df.select(explode(graft.functions.DsirBuckets(
          TextOps.tokens(col(textCol)), buckets)).as("_b"))
        .groupBy("_b").agg(count(lit(1)).as("_n"))
        .collect() // bounded: ≤ `buckets` rows by construction
        .foreach(r => counts(r.getInt(0)) = r.getLong(1))
      counts
    }
    val raw = bucketCounts(c.df)
    val tgt = bucketCounts(target.df)
    val nR = raw.sum
    val nT = tgt.sum
    // quantize each smoothed log-probability separately (not the ratio):
    // the per-side term is what the score replay sums, and floor-rounding
    // the sides independently is the convention the oracle can replay
    def fpLog(cnt: Long, tot: Long): Long =
      Exact.fpqHost(math.log((cnt + 1.0d) / (tot.toDouble + buckets)))
    val rows = (0 until buckets).map { b =>
      Row(b.toLong, tgt(b), raw(b), fpLog(tgt(b), nT) - fpLog(raw(b), nR))
    }
    val schema = StructType(Seq(
      StructField("bucket", LongType, nullable = false),
      StructField("n_target", LongType, nullable = false),
      StructField("n_raw", LongType, nullable = false),
      StructField("w_fp", LongType, nullable = false)))
    val df2 = c.spark.createDataFrame(
      c.spark.sparkContext.parallelize(rows, 1), schema)
    c.next("dsir_model", df2, None,
      Map("buckets" -> buckets.toString, "text_col" -> textCol))
  }

  /** dsir_score(model, text_col): stamp each row with its DSIR importance
    * log-weight — `dsir_score_fp` = Σ over the document's unigram+bigram
    * occurrences of the model's fixed-point bucket weight — plus
    * `dsir_n_grams` (the bag size). The model frame is a [[dsirModel]]
    * output (or any (bucket, w_fp) frame covering 0..B−1).
    *
    * Scale shape: the model is collected once (≤ 65536 rows, bounded by
    * the dsir_model guard) into a weight table that rides the plan as a
    * referenced array, so scoring is a PURE PROJECTION — one corpus scan,
    * zero joins, zero shuffles, and the whole gram fold is ONE native
    * codegen expression ([[graft.functions.DsirScore]]; the higher-order
    * `aggregate`/`transform` formulation is interpreted and measured ~4×
    * slower). This is the apply half of a fit/apply split: fit the model
    * once, score any number of corpus batches.
    */
  def dsirScore(model: DataFrame, textCol: String): Chain = {
    require(c.df.columns.contains(textCol),
      s"dsir_score: chain is missing text column '$textCol'")
    Seq("dsir_score_fp", "dsir_n_grams").foreach(n =>
      require(!c.df.columns.contains(n),
        s"dsir_score: output column '$n' already exists on the chain"))
    Seq("bucket", "w_fp").foreach(n => require(model.columns.contains(n),
      s"dsir_score: model frame is missing column '$n'"))
    val rows = model.select(col("bucket").cast("long"), col("w_fp").cast("long"))
      .collect() // bounded: dsir_model guards buckets ≤ 65536
    val b = rows.length
    require(b >= 16 && b <= 65536,
      s"dsir_score: model must have between 16 and 65536 bucket rows, got $b")
    val weights = new Array[Long](b)
    val seen = new Array[Boolean](b)
    rows.foreach { r =>
      val idx = r.getLong(0)
      require(idx >= 0 && idx < b,
        s"dsir_score: model bucket $idx outside [0, $b) — model rows must " +
          "cover exactly the contiguous bucket range")
      require(!seen(idx.toInt), s"dsir_score: duplicate model bucket $idx")
      seen(idx.toInt) = true
      weights(idx.toInt) = r.getLong(1)
    }
    val toks = TextOps.tokens(col(textCol))
    // |unigrams| + |bigrams| = 2n − 1 for n ≥ 1, 0 for an empty array —
    // cheap arithmetic instead of materializing the gram array
    val nGrams = when(size(toks) === 0, lit(0L))
      .otherwise((size(toks) * lit(2) - lit(1)).cast("long"))
    val df2 = c.df
      .withColumn("dsir_n_grams", nGrams)
      .withColumn("dsir_score_fp",
        graft.functions.DsirScore(toks, weights))
    c.next("dsir_score", df2, None, Map("text_col" -> textCol))
  }

  /** dsir_select(target, text_col, k, key_cols, buckets): DSIR data
    * selection end-to-end — fit the importance model ([[dsirModel]]),
    * score every document ([[dsirScore]]), add per-document Gumbel noise
    * at the same 1e-6 fixed-point scale, and keep the k rows with the
    * largest `dsir_key_fp = dsir_score_fp + gumbel_fp` (the Gumbel-top-k
    * trick samples WITHOUT replacement ∝ the importance weights — the
    * paper's resampling step, made deterministic by deriving the Gumbel
    * from md5('gumbel|' ‖ key) instead of an RNG, the
    * [[graft.ops.JoinOps.sampleHash]] reproducibility convention).
    *
    * Scale shape: two corpus scans (bucket counts, then scoring — the fit
    * needs the GLOBAL raw distribution before any row can be scored;
    * inherent to the method) + one target scan, then a TakeOrdered top-k
    * (per-partition heaps, never a global sort). Fit on a hash sample and
    * score with [[dsirScore]] directly when even the counting scan is too
    * expensive at full corpus size.
    */
  def dsirSelect(target: Chain, textCol: String, k: Int,
                 keyCols: Seq[String], buckets: Int = 8192): Chain = {
    require(k >= 1, s"dsir_select: k must be >= 1, got $k")
    require(keyCols.nonEmpty, "dsir_select: keyCols must identify rows " +
      "(Gumbel noise and the deterministic tie-break both key on them)")
    keyCols.foreach(n => require(c.df.columns.contains(n),
      s"dsir_select: chain is missing key column '$n'"))
    val model = dsirModel(target, textCol, buckets)
    val scored = dsirScore(model.df, textCol)
    val gumKey = concat_ws("|",
      (lit("gumbel") +: keyCols.map(col(_).cast("string"))): _*)
    val u = (hex8(md5(gumKey)).cast("double") + lit(0.5)) / lit(4294967296.0)
    val gFp = fpq(-log(-log(u)))
    val df2 = scored.df.withColumn("dsir_key_fp", col("dsir_score_fp") + gFp)
    val picked = df2.orderBy(
      (col("dsir_key_fp").desc +: keyCols.map(col(_).asc)): _*).limit(k)
    c.next("dsir_select", picked, None,
      Map("k" -> k.toString, "buckets" -> buckets.toString))
  }

  /** lm_model(text_col, buckets): fit a hashed-n-gram unigram+bigram
    * language model on this chain (a CLEAN reference corpus — the CCNet
    * recipe fits on Wikipedia; Wenzek et al., "CCNet: Extracting High
    * Quality Monolingual Datasets from Web Crawl Data", LREC 2020) — one
    * row per hash bucket b ∈ [0, B) with the gram count `n` and the add-1
    * smoothed fixed-point log-probability
    *
    *   lp_fp(b) = fpq(ln((n_b + 1) / (N + B)))
    *
    * where N is the total gram count. A document's negative log-likelihood
    * under the model is −Σ lp_fp over its gram occurrences (see
    * [[lmScore]]) — the hash-bucketed, exactly-replayable stand-in for the
    * KenLM 5-gram perplexity CCNet uses (same featurization as
    * [[dsirModel]]; DSIR models the RATIO of two corpora, this models the
    * absolute likelihood under one).
    *
    * Scale shape: ONE scan folding into a ≤ B-row bucket-count aggregate,
    * collected eagerly (bounded by the buckets guard) and emitted as a
    * driver-local relation — downstream consumers can never re-trigger
    * the corpus scan through lineage. Fit on a hash sample
    * ([[graft.ops.JoinOps.sampleHash]]) when the reference corpus is
    * itself huge. Non-renderable (model-producing).
    */
  def lmModel(textCol: String, buckets: Int = 8192): Chain = {
    require(buckets >= 16 && buckets <= 65536,
      s"lm_model: buckets must be in [16, 65536], got $buckets — the " +
        "model is collected to the driver and broadcast as a literal")
    require(c.df.columns.contains(textCol),
      s"lm_model: chain is missing text column '$textCol'")
    val counts = new Array[Long](buckets)
    c.df.select(explode(graft.functions.DsirBuckets(
        TextOps.tokens(col(textCol)), buckets)).as("_b"))
      .groupBy("_b").agg(count(lit(1)).as("_n"))
      .collect() // bounded: ≤ `buckets` rows by construction
      .foreach(r => counts(r.getInt(0)) = r.getLong(1))
    val tot = counts.sum
    def fpLog(cnt: Long): Long =
      Exact.fpqHost(math.log((cnt + 1.0d) / (tot.toDouble + buckets)))
    val rows = (0 until buckets).map(b => Row(b.toLong, counts(b), fpLog(counts(b))))
    val schema = StructType(Seq(
      StructField("bucket", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("lp_fp", LongType, nullable = false)))
    val df2 = c.spark.createDataFrame(
      c.spark.sparkContext.parallelize(rows, 1), schema)
    c.next("lm_model", df2, None,
      Map("buckets" -> buckets.toString, "text_col" -> textCol))
  }

  /** lm_score(model, text_col): stamp each row with its quality score
    * under a [[lmModel]] language model — the CCNet perplexity-filter
    * apply step:
    *
    *   lm_n_grams     the unigram+bigram bag size (2n − 1 tokens, 0 empty)
    *   lm_nll_sum_fp  −Σ lp_fp over the document's gram occurrences
    *                  (total negative log-likelihood, 1e-6 nats)
    *   lm_nll_fp      floor(lm_nll_sum_fp / lm_n_grams + 0.5) — the
    *                  per-gram average NLL; perplexity is exp(nll), so
    *                  ranking/thresholding on lm_nll_fp IS the CCNet
    *                  head/middle/tail split (NTILE over lm_nll_fp ranks
    *                  identically). NULL for gram-less documents (nothing
    *                  to score — CCNet drops them).
    *
    * Every term is the model's fixed-point integer, so scores are pure
    * integer functions of the input — bit-identical across partitionings
    * and engines (the oracle replays the whole pipeline in DuckDB).
    *
    * Scale shape: the model is collected once (≤ 65536 rows, bounded by
    * the lm_model guard) and rides the plan as a referenced long[], so
    * scoring is a PURE PROJECTION — one corpus scan, zero joins, zero
    * shuffles; the gram fold is the [[graft.functions.DsirScore]] codegen
    * kernel (weights = −lp_fp works unchanged: the kernel is just
    * Σ weights(bucket)). Fit once, score any number of corpus batches.
    */
  def lmScore(model: DataFrame, textCol: String): Chain = {
    require(c.df.columns.contains(textCol),
      s"lm_score: chain is missing text column '$textCol'")
    Seq("lm_n_grams", "lm_nll_sum_fp", "lm_nll_fp").foreach(n =>
      require(!c.df.columns.contains(n),
        s"lm_score: output column '$n' already exists on the chain"))
    Seq("bucket", "lp_fp").foreach(n => require(model.columns.contains(n),
      s"lm_score: model frame is missing column '$n'"))
    val rows = model.select(col("bucket").cast("long"), col("lp_fp").cast("long"))
      .collect() // bounded: lm_model guards buckets ≤ 65536
    val b = rows.length
    require(b >= 16 && b <= 65536,
      s"lm_score: model must have between 16 and 65536 bucket rows, got $b")
    val weights = new Array[Long](b)
    val seen = new Array[Boolean](b)
    rows.foreach { r =>
      val idx = r.getLong(0)
      require(idx >= 0 && idx < b,
        s"lm_score: model bucket $idx outside [0, $b) — model rows must " +
          "cover exactly the contiguous bucket range")
      require(!seen(idx.toInt), s"lm_score: duplicate model bucket $idx")
      seen(idx.toInt) = true
      // negate here so the kernel's Σ weights(bucket) IS the NLL sum —
      // lp_fp is a floor-quantized log-prob (≤ 0 for any real model, but
      // the negation is exact either way: pure int64)
      weights(idx.toInt) = -r.getLong(1)
    }
    val toks = TextOps.tokens(col(textCol))
    val nGrams = when(size(toks) === 0, lit(0L))
      .otherwise((size(toks) * lit(2) - lit(1)).cast("long"))
    val nllSum = graft.functions.DsirScore(toks, weights)
    val df2 = c.df
      .withColumn("lm_n_grams", nGrams)
      .withColumn("lm_nll_sum_fp", nllSum)
      .withColumn("lm_nll_fp",
        when(col("lm_n_grams") === 0L, lit(null).cast("long"))
          .otherwise(floor(col("lm_nll_sum_fp").cast("double") /
            col("lm_n_grams").cast("double") + lit(0.5)).cast("long")))
    c.next("lm_score", df2, None, Map("text_col" -> textCol))
  }

  /** rank_eval(qrels, query_col, doc_col, rank_col, k): retrieval-quality
    * metrics of this chain (a run frame: one row per retrieved (query,
    * doc) with its 1-based rank) against binary-relevance qrels — one row
    * per judged query:
    *
    *   n_rel     judged-relevant docs for the query
    *   hits      relevant docs retrieved at rank ≤ k
    *   recall_fp fpq(hits / n_rel)
    *   rr_fp     fpq(1 / first-relevant-rank ≤ k), 0 when no hit (MRR@k)
    *   dcg_fp    Σ_{hits at rank r} fpq(1 / log2(r+1))
    *   idcg_fp   Σ_{r=1..min(n_rel,k)} fpq(1 / log2(r+1))
    *   ndcg_fp   fpq(dcg_fp / idcg_fp) — binary-gain nDCG@k
    *   ap_fp     (Σ_{i-th hit at rank r} fpq(i / r)) DIV n_rel — AP@k
    *             with the TREC n_rel denominator (mean over queries =
    *             MAP@k); i/r is precision at the i-th relevant rank
    *
    * (Järvelin & Kekäläinen, "Cumulated gain-based evaluation of IR
    * techniques", TOIS 2002.) Every per-rank term is quantized BEFORE the
    * integer sum, so the metrics are pure integer functions of the run —
    * engine-exact. Queries with no qrels are excluded (unscoreable);
    * judged queries with no retrieved hit emit zero metrics.
    *
    * Scale shape: the run is already top-k'd per query (≤ |Q|·k rows) and
    * qrels are judgment-sized; one (query, doc) equi-join + two
    * query-keyed aggregates — AQE broadcasts the smaller side. The idcg
    * term folds over `sequence(1, min(n_rel, k))` per query: O(k) compute
    * per query, no extra scan.
    */
  def rankEval(qrels: Chain, queryCol: String, docCol: String,
               rankCol: String, k: Int): Chain = {
    require(k >= 1, s"rank_eval: k must be >= 1, got $k")
    Seq(queryCol, docCol, rankCol).foreach(n =>
      require(c.df.columns.contains(n),
        s"rank_eval: run chain is missing column '$n'"))
    Seq(queryCol, docCol).foreach(n => require(qrels.df.columns.contains(n),
      s"rank_eval: qrels chain is missing column '$n'"))
    val reserved = Seq("n_rel", "hits", "recall_fp", "rr_fp", "dcg_fp",
      "idcg_fp", "ndcg_fp", "ap_fp", "_minr")
    reserved.foreach(n => require(n == queryCol || !c.df.columns.contains(n),
      s"rank_eval: run column '$n' collides with a metric output name"))

    val gain = fpq(lit(1e0) / log2(col(rankCol).cast("double") + lit(1.0)))
    // _hi = 1-based index of the hit among the query's hits in rank order
    // (ranks are unique within a run query) — precision@r = _hi / r
    val hw = Window.partitionBy(col(queryCol))
      .orderBy(col(rankCol).cast("long").asc)
    val hitsAgg = c.df
      .where(col(rankCol).cast("long").between(1L, k.toLong))
      .join(qrels.df.select(col(queryCol), col(docCol)).distinct(),
        Seq(queryCol, docCol))
      .withColumn("_hi", row_number().over(hw))
      .groupBy(queryCol)
      .agg(count(lit(1)).as("hits"),
        min(col(rankCol).cast("long")).as("_minr"),
        sum(gain).as("dcg_fp"),
        sum(fpq(col("_hi").cast("double") / col(rankCol).cast("double")))
          .as("_apnum"))
    val byQuery = qrels.df.select(col(queryCol), col(docCol)).distinct()
      .groupBy(queryCol).agg(count(lit(1)).as("n_rel"))
    val idcg = aggregate(
      sequence(lit(1L), least(col("n_rel"), lit(k.toLong))), lit(0L),
      (acc, r) => acc + fpq(lit(1e0) / log2(r.cast("double") + lit(1.0))))
    val df2 = byQuery.join(hitsAgg, Seq(queryCol), "left")
      .select(col(queryCol), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        fpq(coalesce(col("hits"), lit(0L)).cast("double") * lit(1e0) /
          col("n_rel").cast("double")).as("recall_fp"),
        when(col("_minr").isNull, lit(0L))
          .otherwise(fpq(lit(1e0) / col("_minr").cast("double"))).as("rr_fp"),
        coalesce(col("dcg_fp"), lit(0L)).as("dcg_fp"),
        idcg.as("idcg_fp"),
        when(coalesce(col("dcg_fp"), lit(0L)) === 0L, lit(0L))
          .otherwise(fpq(col("dcg_fp").cast("double") / idcg.cast("double")))
          .as("ndcg_fp"),
        expr("COALESCE(_apnum, 0L) DIV n_rel").as("ap_fp"))
    c.next("rank_eval", df2, None, Map("k" -> k.toString))
  }
}
