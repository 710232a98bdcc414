package graft.ext

import graft.core.{Chain, Exact}
import graft.functions.SignSketch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * `cosineTopK` is the exact baseline: broadcast the (small) query set,
  * stream the corpus once, per-query top-k via window — one shuffle on
  * query_id. Three approximate paths trade recall for candidate volume:
  *
  *  - [[hammingCosineTopK]] — sketch-rerank: a packed sign-projection
  *    sketch scores EVERY corpus row cheaply (XOR+popcount), only the
  *    best `rerankPerQuery` per query get the exact dot product. On
  *    isotropic embeddings (no cluster structure) this is the strongest
  *    recall-per-cost dial — bucketing schemes provably can't beat a
  *    cheap linear prescan there, which is why FAISS ships binary-flat
  *    prefilters. Measured on the test embeddings: recall@10 ≈ 0.95 at
  *    15% rerank (256 planes).
  *  - [[lshCosineTopK]] — banded sign-LSH buckets: sub-linear candidate
  *    generation (equi-join on band keys, with query-side multi-probe);
  *    the right shape when embeddings cluster, weaker on isotropic data.
  *  - [[ivfCosineTopK]] — IVF-flat with spherical k-means centroids
  *    trained on a bounded, hash-deterministic sample; each query probes
  *    `nprobe` of `nlist` cells.
  */
final class SimilarityOps(private val c: Chain) extends AnyVal {

  /** Exact cosine top-k of each query vector against the corpus (this
    * chain). Queries are broadcast; dot products use exact decimal
    * accumulation so ranking is bit-stable across partitionings.
    *
    * The top-k/index family is NON-RENDERABLE by design: each op joins a
    * second frame (queries / a saved index) or embeds a trained model, so
    * one source-parameterized SELECT cannot express it — `sql()` raises
    * `UnsupportedOperationException` naming the op (RenderSpec pins this).
    * The scalar compression ops ([[quantizeEmbeddings]],
    * [[dequantizeEmbeddings]]) do render.
    */
  def cosineTopK(queries: DataFrame, idCol: String, vecCol: String, k: Int): Chain = {
    // the norm is computed below the nested-loop join, once per vector,
    // not per pair ([[SimilarityOps.withNorm]]); a repartition barrier
    // here would only add an exchange whose partitioning the broadcast
    // and the join discard
    val corpus = SimilarityOps.withNorm(c.df, idCol, vecCol, "neighbor_id", "_vc", "_nc")
    val qs = SimilarityOps.withNorm(queries, idCol, vecCol, "query_id", "_vq", "_nq")
    val cos = Exact.dot(col("_vq"), col("_vc")) / col("_nq") / col("_nc")
    val scored = corpus.crossJoin(broadcast(qs))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
    c.next("cosine_topk", SimilarityOps.rankTopK(scored, "cosine", ascending = false, k), None)
  }

  /** hard_negatives(queries, positives, …): contrastive-training negative
    * mining — for each query, the top-`k` most-similar corpus rows that
    * are NOT labeled positives for that query, optionally also dropping
    * candidates whose cosine reaches `fnThreshold` (the standard
    * "denoised hard negatives" move: an unlabeled candidate nearly as
    * close as a positive is more likely a missing label than a negative,
    * and training on it as a negative poisons the encoder — RocketQA,
    * Qu et al., NAACL'21).
    *
    * `positives` carries the labeled (query, doc) pairs as
    * `(posQueryCol, posDocCol)`; it is broadcast (labeled pairs are
    * tiny next to the corpus) and excluded with a left-anti join, so
    * the scale shape is exactly [[cosineTopK]]'s: ONE corpus scan
    * against broadcast queries, one shuffle on query_id for the top-k
    * window. Scoring uses the same exact-decimal dot, so ranking — and
    * the threshold comparison — is bit-stable across partitionings.
    * Non-renderable (joins two side frames), like the rest of the
    * top-k family.
    */
  def hardNegatives(queries: DataFrame, positives: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    posQueryCol: String = "query_id", posDocCol: String = "doc_id",
                    fnThreshold: Option[Double] = None): Chain = {
    fnThreshold.foreach(t => require(!t.isNaN,
      "hard_negatives: fnThreshold must not be NaN (no cosine compares true against NaN)"))
    // no barrier: the norm stays below the join, as in [[cosineTopK]]
    val corpus = SimilarityOps.withNorm(c.df, idCol, vecCol, "neighbor_id", "_vc", "_nc")
    val qs = SimilarityOps.withNorm(queries, idCol, vecCol, "query_id", "_vq", "_nq")
    val pos = positives
      .select(col(posQueryCol).as("query_id"), col(posDocCol).as("neighbor_id"))
    val cos = Exact.dot(col("_vq"), col("_vc")) / col("_nq") / col("_nc")
    val scored = corpus.crossJoin(broadcast(qs))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
      .join(broadcast(pos), Seq("query_id", "neighbor_id"), "left_anti")
    val denoised = fnThreshold.fold(scored)(t => scored.where(col("cosine") < lit(t)))
    c.next("hard_negatives",
      SimilarityOps.rankTopK(denoised, "cosine", ascending = false, k), None)
  }

  /** Sketch-rerank top-k: every corpus row is scored against each query by
    * the Hamming distance of `planes`-bit sign-projection sketches (a few
    * XOR+popcount words — [[graft.functions.SignSketch]]), the best
    * `rerankPerQuery` candidates per query are reranked with the exact
    * dot product, and the top `k` survive.
    *
    * Scale shape: the sketch pass streams the corpus once against
    * broadcast queries and shuffles only `(query_id, neighbor_id, ham)`
    * tuples — the wide vectors stay out of the candidate shuffle and come
    * back via a join only for the `rerankPerQuery` survivors. Candidate
    * volume per query is explicit (`rerankPerQuery`), not a bucket-luck
    * outcome. `P[sketch bit agrees] = 1 − θ/π`, so Hamming ranks by angle
    * with binomial error ~√planes — 256 planes separates cos 0.3 from
    * noise at ~3σ on 64-dim embeddings.
    */
  /** mmr_rerank(queries, …): Maximal Marginal Relevance diversified top-k
    * (Carbonell & Goldstein, SIGIR'98) — the standard rerank between
    * retrieval and a context window / labeling budget when near-duplicate
    * hits waste slots. Per query: pool the `poolK` most-cosine-similar
    * corpus rows, then greedily pick `k` of them, each step maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s)` (ties broken by id;
    * the first pick is the plain argmax of relevance, i.e. the same row
    * cosineTopK ranks 1).
    *
    * Scale shape: the pool stage IS [[cosineTopK]] (one corpus scan vs
    * broadcast queries, one shuffle for the per-query window) and
    * everything after operates on the pooled frame — ≤ |queries|·poolK
    * rows, localCheckpointed once so the k greedy sweeps re-read a
    * materialized block instead of re-scoring the corpus. Each sweep is
    * one join of remaining×selected ON query_id (bounded: ≤ poolK·k rows
    * per query) + one max + one pick-1 window; k·3 tiny stages total,
    * NEVER a second corpus scan. Selection state re-checkpoints per sweep
    * (released eagerly), so lineage stays O(1) like the iterative cluster
    * ops. All pairwise scores ride the exact-decimal dot, so the greedy
    * argmax — and therefore the whole selection — is a pure function of
    * the inputs. Non-renderable (joins a second frame + iterative).
    */
  def mmrRerank(queries: DataFrame, idCol: String, vecCol: String, k: Int,
                poolK: Int = 50, lambdaPct: Int = 70): Chain = {
    require(k >= 1 && poolK >= k && poolK <= 1000,
      s"mmr_rerank: need 1 <= k <= poolK <= 1000, got k=$k poolK=$poolK " +
        "(the pool is a per-query driver-bounded frame — cap it, don't stream it)")
    require(lambdaPct >= 0 && lambdaPct <= 100,
      s"mmr_rerank: lambdaPct must be in [0, 100], got $lambdaPct")
    val corpus = SimilarityOps.withNorm(c.df, idCol, vecCol, "neighbor_id", "_vc", "_nc")
    val qs = SimilarityOps.withNorm(queries, idCol, vecCol, "query_id", "_vq", "_nq")
    val rel = Exact.dot(col("_vq"), col("_vc")) / col("_nq") / col("_nc")
    val pool = DedupOps.checkpointRound(SimilarityOps.rankTopK(
      corpus.crossJoin(broadcast(qs))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("_vc"), col("_nc"),
          rel.cast("double").as("rel")), "rel", ascending = false, poolK).drop("rank"))
    val lam = lambdaPct / 100.0
    def pick1(scored: DataFrame, step: Int) =
      SimilarityOps.rankTopK(scored, "_score", ascending = false, 1)
        .select(col("query_id"), col("neighbor_id"), col("_vc"), col("_nc"),
          col("rel"), lit(step).as("mmr_rank"))
    var selected = DedupOps.checkpointRound(
      pick1(pool.withColumn("_score", lit(lam) * col("rel")), 1))
    // the selected frame is ≤ |queries|·k rows but checkpointRound-backed
    // (defaultSizeInBytes statistics), so no broadcast ever fires on its
    // own and every sweep shuffles the pool twice; gate a hint on the
    // QUERY batch's plan statistics × k (the [[maybeBroadcastProbes]]
    // posture — round 17), so small probe batches sweep exchange-free on
    // the selected side while huge ingest batches keep the shuffled plan
    val hintSelected = SimilarityOps.fitsBroadcast(queries, k)
    def maybeB(df: DataFrame): DataFrame = if (hintSelected) broadcast(df) else df
    for (step <- 2 to k) {
      val remaining = pool.join(
        maybeB(selected.select(col("query_id"), col("neighbor_id"))),
        Seq("query_id", "neighbor_id"), "left_anti")
      val sel = maybeB(selected.select(col("query_id"),
        col("_vc").as("_vs"), col("_nc").as("_ns")))
      val pairSim = (Exact.dot(col("_vc"), col("_vs")) / col("_nc") / col("_ns"))
        .cast("double")
      val scored = remaining.join(sel, Seq("query_id"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(first(col("_vc")).as("_vc"), first(col("_nc")).as("_nc"),
          first(col("rel")).as("rel"), max(pairSim).as("_maxSim"))
        .withColumn("_score",
          lit(lam) * col("rel") - lit(1.0 - lam) * col("_maxSim"))
      val next = DedupOps.checkpointRound(
        selected.unionByName(pick1(scored, step)))
      DedupOps.releaseRound(selected)
      selected = next
    }
    val out = selected.select(col("query_id"), col("neighbor_id"),
      col("rel").as("relevance"), col("mmr_rank"))
    DedupOps.releaseRound(pool)
    c.next("mmr_rerank", out, None)
  }

  def hammingCosineTopK(queries: DataFrame, idCol: String, vecCol: String, k: Int,
                        planes: Int = 256, rerankPerQuery: Int = 100): Chain = {
    require(rerankPerQuery >= k, s"rerankPerQuery ($rerankPerQuery) must be >= k ($k)")
    def prep(df: DataFrame, idAs: String, vAs: String, nAs: String, sAs: String) =
      SimilarityOps.withNorm(df, idCol, vecCol, idAs, vAs, nAs)
        .withColumn(sAs, SignSketch(col(vAs), planes))
    val corpus = prep(c.df, "neighbor_id", "_vc", "_nc", "_skc")
    val qs = prep(queries, "query_id", "_vq", "_nq", "_skq")
    // pass 1: cheap hamming score, ids only through the top-N shuffle
    val hams = corpus.select(col("neighbor_id"), col("_skc"))
      .crossJoin(broadcast(qs.select(col("query_id"), col("_skq"))))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        SignSketch.hamming(col("_skq"), col("_skc")).as("_ham"))
    val survivors = SimilarityOps.rankTopK(hams, "_ham", ascending = true, rerankPerQuery)
      .select(col("query_id"), col("neighbor_id"))
    // pass 2: exact rerank of the survivors only
    val cos = Exact.dot(col("_vq"), col("_vc")) / col("_nq") / col("_nc")
    val scored = survivors
      .join(corpus.select(col("neighbor_id"), col("_vc"), col("_nc")), Seq("neighbor_id"))
      .join(broadcast(qs.select(col("query_id"), col("_vq"), col("_nq"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
    c.next("cosine_topk_hamming",
      SimilarityOps.rankTopK(scored, "cosine", ascending = false, k), None)
  }

  /** IVF-flat top-k: spherical k-means centroids trained on a bounded,
    * hash-deterministic corpus sample (one declared driver collect of
    * ≤ `trainSample` vectors + ≤ `trainIters` Lloyd iterations — the
    * compile-time-introspection pattern, same as the encoders' stats
    * jobs); every corpus vector is assigned to its best cell, each query
    * probes its `nprobe` nearest cells and reranks those candidates with
    * exact cosine. Candidate volume ≈ nprobe/nlist of the corpus per
    * query — the standard recall/cost dial.
    *
    * `assign` > 1 = MULTI-ASSIGNMENT (the SPANN-style boundary
    * duplication): each corpus vector lives in its top-`assign` cells,
    * not just its best one. Scores are already exact here — a
    * candidate-shortlist "residual re-rank" would re-compute the same
    * exact cosines — so IVF's only recall loss is a true neighbor
    * sitting in a cell the query never probes, and the two levers
    * against it are probing more cells (`nprobe`) or duplicating
    * boundary vectors into runner-up cells (`assign`). Candidate volume
    * ≈ assign × nprobe / nlist of the corpus. Measured frontier on the
    * bench embeddings (sf0.1, nlist=16, recorded in bench.json): at
    * EQUAL candidate budget single-assignment with more probes wins —
    * np4×a2 0.740 vs np8×a1 0.775, np6×a2 0.865 vs np12×a1 0.895 — so
    * np8×a1 stays the headline; `assign` is the dial for fine-grained
    * nlist regimes where per-cell fan-out is the cheaper side of the
    * trade (index built once, probed by many query batches). Duplicated
    * (query, candidate) pairs from two probed cells dedup before
    * ranking, so results stay exact-k.
    */
  def ivfCosineTopK(queries: DataFrame, idCol: String, vecCol: String, k: Int,
                    nlist: Int = 16, nprobe: Int = 4,
                    trainSample: Int = 4096, trainIters: Int = 15,
                    assign: Int = 1): Chain = {
    require(assign >= 1 && assign <= nlist,
      s"assign must be in [1, nlist=$nlist], got $assign")
    val corpus = SimilarityOps.withNorm(c.df, idCol, vecCol, "neighbor_id", "_vc", "_nc")
    val centers = SimilarityOps.sphericalKMeans(
      SimilarityOps.trainSample(corpus, "neighbor_id", "_vc", trainSample), nlist, trainIters)
    val assigned = corpus.withColumn("_cid", SimilarityOps.cellIds(col("_vc"), centers, assign))
    val qs = SimilarityOps.withNorm(queries, idCol, vecCol, "query_id", "_vq", "_nq")
    val probes = SimilarityOps.probeCells(qs,
        broadcast(SimilarityOps.centroidFrame(c.spark, centers)), "query_id", nprobe)
      .select(col("query_id"), col("_vq"), col("_nq"), col("_cid"))
    // under multi-assignment the same (query, candidate) pair can arrive
    // via two probed cells: the exact cosine is deterministic, so distinct
    // on the scored triple is exact
    val cos = Exact.dot(col("_vq"), col("_vc")) / col("_nq") / col("_nc")
    val scoredRaw = assigned
      .join(SimilarityOps.maybeBroadcastProbes(queries, probes, nprobe), Seq("_cid"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
    val scored = if (assign == 1) scoredRaw else scoredRaw.distinct()
    c.next("cosine_topk_ivf", SimilarityOps.rankTopK(scored, "cosine", ascending = false, k), None)
  }

  /** ivf_index(id, vec): the PERSISTENT half of incremental ANN — train
    * spherical k-means centroids once (bounded hash-deterministic sample +
    * driver Lloyd iterations, the encoders' compile-time-introspection
    * pattern), assign every corpus vector to its best cell, and emit ONE
    * frame holding both: centroid rows (`_id` NULL, `_v` = unit center,
    * `_n` = 1.0) and assignment rows (`_cid`, `_id`, `_v`, `_n`). Save
    * with `saveBucketed(name, Seq("_cid"), n)`; every future query batch
    * then probes with [[searchIvfIndex]] and every ingest batch extends it
    * with [[ivfIndexAssign]] + `saveAppend` — no retraining, no corpus
    * re-assignment, the same save-the-postings investment as
    * [[graft.ext.DedupOps.minhashIndex]] for embeddings.
    *
    * Id types: `idCol` must be integral (cast losslessly to a long `_id`
    * column) or string (passes through natively; centroid marker rows
    * then carry a null string `_id`); any other type fails loudly at the
    * op boundary, and probe/assign/dedup callers must present the SAME
    * id family the index was built with.
    */
  def ivfIndex(idCol: String, vecCol: String, nlist: Int = 16,
               trainSample: Int = 4096, trainIters: Int = 15): Chain = {
    // integral ids cast to long, string ids pass through (centroid marker
    // rows carry a null of the SAME type); other types fail loudly — the
    // old unconditional cast nulled string ids, and a null-id index is
    // read back as all-centroids: probes silently return nothing
    val (idExpr, idType) = SimilarityOps.indexId("ivf_index", c.df, idCol)
    val corpus = SimilarityOps.withNorm(c.df, idExpr, vecCol, "_id", "_v", "_n")
    val centers = SimilarityOps.sphericalKMeans(
      SimilarityOps.trainSample(corpus, "_id", "_v", trainSample), nlist, trainIters)
    val assigned = SimilarityOps.flatPostings(corpus, centers)
    val centroidRows = SimilarityOps.centroidFrame(c.spark, centers)
      .select(col("_cid"), lit(null).cast(idType).as("_id"),
        col("_cv").as("_v"), col("_cn").as("_n"))
    c.next("ivf_index", assigned.unionByName(centroidRows), None)
  }

  /** ivf_index_assign(index, id, vec): assign THIS chain's (new) vectors to
    * the saved index's cells — the ingest half of incremental ANN. Reads
    * the centroid rows back (one bounded driver collect of `nlist` rows),
    * assigns in one codegen projection, and returns rows in the index
    * schema for a plain `saveAppend` onto the index table. Per-batch work
    * is proportional to the batch; the historical corpus is never
    * re-assigned.
    */
  def ivfIndexAssign(index: DataFrame, idCol: String, vecCol: String): Chain = {
    SimilarityOps.requireIndex("ivf_index_assign", index, SimilarityOps.FlatIndex, c.df, idCol)
    val (idExpr, _) = SimilarityOps.indexId("ivf_index_assign", c.df, idCol)
    c.next("ivf_index_assign", SimilarityOps.flatPostings(
      SimilarityOps.withNorm(c.df, idExpr, vecCol, "_id", "_v", "_n"),
      SimilarityOps.collectCentroids(index)), None)
  }

  /** search_ivf_index(index, k, nprobe): probe a saved [[ivfIndex]] table
    * with THIS chain's rows as the query set (receiver = queries, index =
    * parameter — the same shape as
    * [[graft.ext.DedupOps.dedupAgainstIndex]]). Centroids come off the
    * index's own rows (so probe geometry always matches the stored
    * assignments — there is nothing to drift); each query ranks the
    * centroids, visits its `nprobe` best cells, and exact-reranks the
    * candidates. The candidate join broadcasts the (tiny) probe set
    * against the index scan — the index side neither shuffles before its
    * join nor joins back for vectors (they ride in the index rows), so
    * per-batch cost is one index scan + one shuffle of scored candidates
    * on query_id.
    */
  def searchIvfIndex(index: DataFrame, idCol: String, vecCol: String,
                     k: Int, nprobe: Int = 4): Chain = {
    SimilarityOps.requireIndex("search_ivf_index", index, SimilarityOps.FlatIndex, c.df, idCol)
    val qs = SimilarityOps.withNorm(c.df, idCol, vecCol, "query_id", "_vq", "_nq")
    val probes = SimilarityOps.probeCells(qs, SimilarityOps.indexCentroids(index), "query_id", nprobe)
      .select(col("query_id"), col("_vq"), col("_nq"), col("_cid"))
    val cos = Exact.dot(col("_vq"), col("_v")) / col("_nq") / col("_n")
    val scored = SimilarityOps.flatMembers(index)
      .join(SimilarityOps.maybeBroadcastProbes(c.df, probes, nprobe), Seq("_cid"))
      .where(col("query_id") =!= col("_id"))
      .select(col("query_id"), col("_id").as("neighbor_id"), cos.as("cosine"))
    c.next("search_ivf_index", SimilarityOps.rankTopK(scored, "cosine", ascending = false, k), None)
  }

  /** quantize_embeddings(vec): symmetric per-vector int8 quantization —
    * `<vec>_q: array<tinyint>` + `<vec>_qscale: double`, with
    * `q_i = floor(x_i / qscale + 0.5)` and `qscale = maxabs / 127`
    * (zero vectors quantize to zeros at scale 1). A float32 embedding
    * column is usually the dominant byte volume of a vector corpus; int8
    * cuts the stored index (IVF cells, ANN reranks) 4× at a recall cost
    * the spec gates. One interpreted higher-order pass per row — a
    * STORAGE op run once at ingest, not in a per-pair hot path (the hot
    * paths stay on the codegen kernels).
    */
  /** centroid_by_group(group_by, vec_col): per-group per-dimension mean
    * vector → one row per group with `centroid: array<double>` — the
    * SemDeDup-style cluster summary (centroids for semantic-dedup cells,
    * per-source embedding profiles, IVF seeding from labeled data).
    *
    * Exactness: elements round to 1e-12 fixed-point longs via explicit
    * double arithmetic (`floor(x·1e12 + 0.5)`, half-up — the
    * [[graft.functions.FixedPointDot]] regime; decimal CASTs round
    * differently across engines on arbitrary float expansions, IEEE
    * double ops do not), and the integer sum accumulates in
    * DECIMAL(38,0) — exact, order-independent of partitioning, and
    * hash-matching the DuckDB oracle, with 38 digits of headroom.
    * NaN posture: a vector containing NaN or ±Inf is excluded WHOLE (one
    * poisoned element would otherwise corrupt that dimension against the
    * others); null vectors are excluded; null ELEMENTS simply don't
    * contribute to their dimension; zero vectors are valid contributors
    * (only cosine, not a mean, breaks on them).
    * Ragged inputs average each position over the vectors that carry it
    * (posexplode semantics) — uniform-dimension corpora are unaffected.
    *
    * Scale shape: posexplode fans each row into d (pos, val) pairs, but
    * the per-(group, pos) decimal sums partial-aggregate map-side, so the
    * shuffle carries ≤ #groups × d rows per mapper, never the corpus; the
    * final array reassembly groups #groups × d rows — driver-free, one
    * interpreted transform over #groups rows only.
    */
  def centroidByGroup(groupBy: Seq[String], vecCol: String,
                      as: String = "centroid"): Chain = {
    require(groupBy.nonEmpty, "centroid_by_group needs at least one group key")
    val exploded = SimilarityOps.finiteElements(c.df, groupBy, vecCol)
    // 1e-12 fixed-point longs via explicit double arithmetic
    // (floor(x*1e12 + 0.5), half-up): decimal CASTs round differently
    // across engines on arbitrary float expansions, but these IEEE double
    // ops are bit-identical everywhere — the FixedPointDot regime. The
    // integer sum accumulates in DECIMAL(38,0): exact, order-independent,
    // and 38 digits of headroom (1e12-row groups of |x|<=1e13 fit).
    val xx = Exact.fpq(col("_val").cast("double"), 12)
    val perDim = exploded.groupBy(groupBy.head, groupBy.tail :+ "_pos": _*)
      .agg(Exact.fixedMean(xx, count(xx), 12).as("_v"))
    val df2 = perDim.groupBy(groupBy.head, groupBy.tail: _*)
      .agg(transform(
        sort_array(collect_list(struct(col("_pos").as("p"), col("_v").as("v")))),
        s => s.getField("v")).as(as))
    val gs = groupBy.mkString(", ")
    c.next("centroid_by_group", df2, Some(
      s"SELECT $gs, transform(sort_array(collect_list(struct(_pos, _v))), " +
        s"s -> s._v) AS ${graft.core.Naming.quoteId(as)} FROM (" +
        s"SELECT $gs, _pos, ${Exact.fixedMeanSql(Exact.fpqSql("CAST(_val AS DOUBLE)", 12), "COUNT(_val)", 12)} AS _v FROM (" +
        s"${SimilarityOps.finiteElementsSql(vecCol)}) GROUP BY $gs, _pos) GROUP BY $gs"))
  }

  /** embedding_moments(group_by, vec_col): per-group per-DIMENSION mean
    * and variance of an embedding column — `n_vecs`, `mean:
    * array<double>`, `variance: array<double>` — the embedding-space
    * drift census ([[centroidByGroup]]'s second-moment companion: a
    * retrained encoder or a source shift moves per-dimension means and
    * variances long before ANN recall visibly degrades; compare two
    * snapshots' moment frames like any profile pair). Exactness is the
    * centroid regime: elements and their squares quantize to 1e-12
    * fixed-point longs via explicit IEEE double arithmetic, integer sums
    * accumulate in DECIMAL(38,0) (order/partitioning-independent), one
    * deterministic IEEE division chain per readout, and variance =
    * E[x²] − mean² clamped at 0 (the clamp absorbs the ±2e-12
    * quantization wobble on constant dimensions — deterministic, both
    * engines compute the identical chain). NaN/±Inf vectors are excluded
    * WHOLE; ragged inputs census each position over the vectors carrying
    * it (`n_vecs` = the widest position's count). Scale: the
    * centroidByGroup shape — posexplode fans d rows/vector but
    * per-(group, pos) sums partial-aggregate map-side, so the shuffle
    * carries ≤ #groups × d rows per mapper, never the corpus.
    *
    * Magnitude bound: the per-row quantization `floor(x²·1e12 + 0.5)`
    * goes through a LONG on the Spark face, which saturates at
    * Long.MaxValue once |x| ≳ 3e3 (x²·1e12 > 9.2e18), while DuckDB
    * casts FLOOR's double straight to DECIMAL(38,0) — above that the
    * two faces diverge. Coordinates that large are outside the op's
    * domain anyway: 1e-12 fixed-point is meaningless at 1e6-scale
    * squares, and real embedding coordinates are O(1). Normalize (or
    * [[quantizeEmbeddings]]) first if a pathological source emits them.
    */
  def embeddingMoments(groupBy: Seq[String], vecCol: String): Chain = {
    require(groupBy.nonEmpty, "embedding_moments needs at least one group key")
    require(c.df.columns.contains(vecCol),
      s"embedding_moments: chain is missing column '$vecCol'")
    Seq("n_vecs", "mean", "variance", "_pos", "_val").foreach(r =>
      require(!groupBy.contains(r),
        s"embedding_moments: group column '$r' collides with an internal/output name"))
    val exploded = SimilarityOps.finiteElements(c.df, groupBy, vecCol)
    val xd = col("_val").cast("double")
    val perDim = exploded.groupBy(groupBy.head, groupBy.tail :+ "_pos": _*)
      .agg(count(col("_val")).as("_n"),
        Exact.fixedMean(Exact.fpq(xd, 12), count(col("_val")), 12).as("_m"),
        Exact.fixedMean(Exact.fpq(xd * xd, 12), count(col("_val")), 12).as("_m2"))
      .withColumn("_var", greatest(col("_m2") - col("_m") * col("_m"), lit(0.0)))
    val df2 = perDim.groupBy(groupBy.head, groupBy.tail: _*)
      .agg(max(col("_n")).as("n_vecs"),
        transform(sort_array(collect_list(struct(col("_pos").as("p"), col("_m").as("v")))),
          s => s.getField("v")).as("mean"),
        transform(sort_array(collect_list(struct(col("_pos").as("p"), col("_var").as("v")))),
          s => s.getField("v")).as("variance"))
    val gs = groupBy.mkString(", ")
    val xS = "CAST(_val AS DOUBLE)"
    val mS = Exact.fixedMeanSql(Exact.fpqSql(xS, 12), "COUNT(_val)", 12)
    val m2S = Exact.fixedMeanSql(Exact.fpqSql(s"$xS * $xS", 12), "COUNT(_val)", 12)
    c.next("embedding_moments", df2, Some(
      s"SELECT $gs, MAX(_n) AS n_vecs, " +
        "transform(sort_array(collect_list(struct(_pos, _m))), s -> s._m) AS mean, " +
        "transform(sort_array(collect_list(struct(_pos, _var))), s -> s._var) AS variance FROM (" +
        s"SELECT $gs, _pos, COUNT(_val) AS _n, " +
        s"$mS AS _m, GREATEST($m2S - ($mS) * ($mS), 0.0) AS _var FROM (" +
        s"${SimilarityOps.finiteElementsSql(vecCol)}) GROUP BY $gs, _pos) GROUP BY $gs"))
  }

  /** embedding_drift(other, group_by): compare two [[embeddingMoments]]
    * snapshots — per (group, dimension):
    *
    *   n_left / n_right   each snapshot's vector count
    *   mean_gap_fp        floor((mean_l − mean_r)·1e9 + 0.5) — the signed
    *                      per-dimension mean shift in 1e-9 fixed-point
    *   var_ratio_fp       floor(var_l / var_r·1e6 + 0.5) when var_r > 0,
    *                      NULL otherwise (a constant dimension has no
    *                      meaningful ratio) — variance inflation in ppm
    *
    * The moment frames are group-cardinality tiny (≤ #groups rows, d-wide
    * arrays), so this is a census-on-census join: both sides explode to
    * (group, dim) and meet in ONE null-safe equi-join (the
    * psiTerms `<=>` regime — null group values pair, never drop);
    * only groups present in BOTH snapshots report (drift against nothing
    * is not drift — new/retired groups show up in the corpus censuses).
    * Quantization rides the already-deterministic moment chains (both
    * engines computed identical IEEE doubles — see [[embeddingMoments]]),
    * so the fixed-point outputs hash-match across engines. This is the
    * op SCALING.md's drift recipe promises: a retrained encoder or a
    * source shift moves per-dimension means/variances long before ANN
    * recall visibly degrades.
    */
  def embeddingDrift(other: Chain, groupBy: Seq[String]): Chain = {
    require(groupBy.nonEmpty, "embedding_drift needs at least one group key")
    val need = groupBy ++ Seq("n_vecs", "mean", "variance")
    need.foreach(n => require(c.df.columns.contains(n),
      s"embedding_drift: left frame is missing '$n' — both sides must be " +
        "embeddingMoments outputs over the same grouping"))
    need.foreach(n => require(other.df.columns.contains(n),
      s"embedding_drift: right frame is missing '$n'"))
    Seq("pos", "n_left", "n_right", "mean_gap_fp", "var_ratio_fp").foreach(n =>
      require(!groupBy.contains(n),
        s"embedding_drift: group column '$n' collides with an output name"))
    groupBy.foreach(n => require(!n.startsWith("_r_"),
      s"embedding_drift: group column '$n' collides with the right-side rename prefix"))
    val gcols = groupBy.map(col)
    val l = c.df.select(gcols ++ Seq(col("n_vecs").as("n_left"),
      col("variance").as("_lvar")) :+ posexplode(col("mean")).as(Seq("pos", "_lm")): _*)
      .withColumn("_lvv", col("_lvar")(col("pos"))).drop("_lvar")
    val r = other.df.select(groupBy.map(n => col(n).as(s"_r_$n")) ++
      Seq(col("n_vecs").as("n_right"), col("variance").as("_rvar")) :+
      posexplode(col("mean")).as(Seq("_rpos", "_rm")): _*)
      .withColumn("_rvv", col("_rvar")(col("_rpos"))).drop("_rvar")
    val cond = groupBy.map(n => col(n) <=> col(s"_r_$n")).reduce(_ && _) &&
      col("pos") === col("_rpos")
    val gap = Exact.fpq(col("_lm") - col("_rm"), 9).as("mean_gap_fp")
    val vr = when(col("_rvv") > 0, Exact.fpq(col("_lvv") / col("_rvv")))
      .as("var_ratio_fp")
    val df2 = l.join(r, cond)
      .select(gcols ++ Seq(col("pos"), col("n_left"), col("n_right"), gap, vr): _*)
    val q = graft.core.Naming.quoteId _
    val gq = groupBy.map(q)
    val rightSrc = if (other.steps.isEmpty) other.entryName else s"(${other.sql()})"
    def half(src: String, nAs: String, posAs: String,
             mAs: String, vAs: String, gAs: String => String) =
      s"SELECT ${groupBy.map(n => s"${q(n)} AS ${gAs(n)}").mkString(", ")}, " +
        s"n_vecs AS $nAs, $posAs, _mv AS $mAs, ${q("variance")}[$posAs] AS $vAs " +
        s"FROM $src LATERAL VIEW posexplode(${q("mean")}) _e AS $posAs, _mv"
    val lSql = half("{{source}}", "n_left", "pos", "_lm", "_lvv", n => q(n))
    val rSql = half(rightSrc, "n_right", "_rpos", "_rm", "_rvv", n => s"`_r_$n`")
    val onSql = (groupBy.map(n => s"l.${q(n)} <=> r.`_r_$n`") :+ "l.pos = r._rpos")
      .mkString(" AND ")
    c.next("embedding_drift", df2, Some(
      s"SELECT ${gq.map(n => s"l.$n").mkString(", ")}, l.pos, n_left, n_right, " +
        s"${Exact.fpqSql("(_lm - _rm)", 9)} AS mean_gap_fp, " +
        s"CASE WHEN _rvv > 0 THEN ${Exact.fpqSql("_lvv / _rvv")} END AS var_ratio_fp " +
        s"FROM ($lSql) l JOIN ($rSql) r ON $onSql"))
  }

  /** cluster_eval(cluster_col, vec_col, max_clusters): centroid-based
    * cluster-quality census — one row per cluster:
    *
    *   n         usable member count (non-null cluster, usable vector)
    *   intra_fp  fpq-mean cosine distance 1 − cos(x, own centroid)
    *   sil_fp    fpq-mean SIMPLIFIED silhouette (b − a) / max(a, b),
    *             a = distance to own centroid, b = min distance to any
    *             OTHER centroid — the centroid stand-in for Rousseeuw's
    *             O(n²) pairwise silhouette (Rousseeuw, J. Comput. Appl.
    *             Math. 1987; the simplified form is the standard
    *             large-n evaluation, e.g. Hruschka et al. 2004)
    *
    * fpq = floor(x·1e6 + 0.5), quantized PER ROW before the integer sum
    * (the engine-exact convention), so both statistics are pure integer
    * functions of the input. Positive sil_fp ⇒ members sit closer to
    * their own centroid than to any rival — the per-cluster readout for
    * "did this clustering/labeling actually separate the space" over a
    * [[clusterEmbeddings]] assignment, an ivfIndexAssign cell map, or any
    * labeled partition. A single-cluster input has no rival: sil_fp = 0.
    *
    * Scale shape: scan 1 fits per-cluster centroids exactly (the
    * [[centroidByGroup]] decimal fold — one exchange keyed on (cluster,
    * dim)) into a bounded frame, refused loudly past `maxClusters` (the
    * centroids become literal arrays; K·dim doubles must fit a plan
    * constant). Scan 2 is a pure projection: K codegen'd exact dots per
    * row (the [[bestCellId]] literal-centroid regime) + one final
    * aggregate on the cluster key. A zero-norm centroid (members cancel)
    * refuses loudly — cosine geometry is undefined there.
    */
  def clusterEval(clusterCol: String, vecCol: String,
                  maxClusters: Int = 1024): Chain = {
    require(c.df.columns.contains(clusterCol),
      s"cluster_eval: chain is missing cluster column '$clusterCol'")
    require(c.df.columns.contains(vecCol),
      s"cluster_eval: chain is missing vector column '$vecCol'")
    require(maxClusters >= 1 && maxClusters <= 65536,
      s"cluster_eval: maxClusters must be in [1, 65536], got $maxClusters")
    Seq("n", "intra_fp", "sil_fp").foreach(n =>
      require(n == clusterCol || !c.df.columns.contains(n),
        s"cluster_eval: column '$n' collides with an output name — rename first"))
    val v = col(vecCol)
    // a projected norm, not withNorm: the rows keep every source column
    // (the cluster key and the scan-2 distances read them), and the norm
    // feeds the distances as well as the usability filter
    val nrm = sqrt(Exact.dot(v, v))
    val usable = c.df.where(col(clusterCol).isNotNull &&
      v.isNotNull && SimilarityOps.usableVec(v, nrm))
    // scan 1: exact per-cluster centroids (the centroidByGroup decimal
    // fold), collected bounded — limit(K+1) caps the driver transfer so
    // an over-cardinality cluster column refuses instead of OOMing
    val xx = Exact.fpq(col("_val").cast("double"), 12)
    val centRows = usable
      .select(col(clusterCol).as("_ce_k"), posexplode(v).as(Seq("_pos", "_val")))
      .groupBy("_ce_k", "_pos")
      .agg(Exact.fixedMean(xx, count(xx), 12).as("_v"),
        count(xx).as("_n"))
      .groupBy("_ce_k")
      .agg(transform(
          sort_array(collect_list(struct(col("_pos").as("p"), col("_v").as("v")))),
          s => s.getField("v")).as("_cv"),
        max("_n").as("_n"))
      .limit(maxClusters + 1)
      .collect()
    require(centRows.length <= maxClusters,
      s"cluster_eval: more than $maxClusters distinct clusters — this op " +
        "collects one centroid per cluster as a plan literal; raise " +
        "maxClusters only if K·dim doubles genuinely fit the driver")
    require(centRows.nonEmpty,
      "cluster_eval: no usable rows (null clusters / unusable vectors)")
    // deterministic cluster order: sort driver-side by string form
    val ordered = centRows.sortBy(r => String.valueOf(r.get(0)))
    val centers = ordered.map(_.getSeq[Double](1).toArray)
    // centroid norms under the SAME fixed-point rule as Exact.dot, so the
    // oracle can replay them: Σ round(c_i² · 1e12) / 1e12, then sqrt
    val centNorms = centers.map { cv =>
      var acc = 0L
      cv.foreach { x => acc += Exact.fpqHost(x * x, 12) }
      math.sqrt(acc.toDouble / 1e12)
    }
    centNorms.zipWithIndex.foreach { case (cn, i) =>
      require(cn > 0.0, s"cluster_eval: centroid of cluster " +
        s"'${ordered(i).get(0)}' has zero norm — its members cancel and " +
        "cosine geometry is undefined; evaluate in euclidean space or " +
        "drop the degenerate cluster")
    }
    import Exact.fpq
    // scan 2: K literal-centroid distances per row, own/other split by the
    // when-chain cluster index (bounded K, driven by the same ordering)
    val dists = SimilarityOps.centroidDists(v, nrm, centers, centNorms)
    val ownIdx = ordered.zipWithIndex.tail.foldLeft(
      when(col(clusterCol) === lit(ordered.head.get(0)), lit(0))) {
      case (acc, (r, i)) => acc.when(col(clusterCol) === lit(r.get(0)), lit(i))
    }
    val a = element_at(col("_ce_d"), col("_ce_own") + 1)
    val b = array_min(filter(col("_ce_d"),
      (_, i) => i =!= col("_ce_own")))
    val sil =
      if (centers.length == 1) lit(0L)
      else fpq(when(greatest(a, b) > 0.0, (b - a) / greatest(a, b))
        .otherwise(lit(0.0)))
    val perRow = usable
      .withColumn("_ce_d", dists)
      .withColumn("_ce_own", ownIdx)
      .select(col(clusterCol), fpq(a).as("_ce_afp"), sil.as("_ce_sfp"))
    val df2 = perRow.groupBy(clusterCol)
      .agg(count(lit(1)).as("n"),
        floor(sum("_ce_afp").cast("double") / count(lit(1)).cast("double") +
          lit(0.5)).cast("long").as("intra_fp"),
        floor(sum("_ce_sfp").cast("double") / count(lit(1)).cast("double") +
          lit(0.5)).cast("long").as("sil_fp"))
    c.next("cluster_eval", df2, None,
      Map("cluster_col" -> clusterCol, "vec_col" -> vecCol))
  }

  /** pq_fit(id_col, vec_col, m, ks, train_sample, iters): fit a product
    * quantizer (Jégou, Douze & Schmid, "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011) — split each vector into `m` equal
    * blocks and k-means each block independently to `ks` centroids; a
    * vector then encodes as m small codes ([[pqEncode]]: 64-dim float →
    * 8 bytes at m=8/ks=256 vs 64 at int8 — the compression rung below
    * [[quantizeEmbeddings]]). Model frame: one row per (block, cid) with
    * the block centroid, save/load like the other persistent artifacts.
    *
    * The fit follows the [[pcaFit]]/[[ivfIndex]] training pattern: a
    * bounded hash-deterministic sample (`orderBy(xxhash64(id))` —
    * k-means of m blocks needs thousands of rows, not the corpus), plain
    * euclidean Lloyd's with seeded deterministic init and worst-served
    * empty-cell re-seeding on the driver — the model is a pure function
    * of the data. Non-renderable (model-producing).
    */
  def pqFit(idCol: String, vecCol: String, m: Int = 8, ks: Int = 16,
            trainSample: Int = 2048, iters: Int = 10): Chain = {
    require(m >= 1 && m <= 64, s"pq_fit: m must be in [1, 64], got $m")
    require(ks >= 2 && ks <= 256,
      s"pq_fit: ks must be in [2, 256] (codes are one byte), got $ks")
    require(iters >= 1, s"pq_fit: iters must be >= 1, got $iters")
    Seq(idCol, vecCol).foreach(cn => require(c.df.columns.contains(cn),
      s"pq_fit: chain is missing column '$cn'"))
    // NaN-coordinate vectors are excluded from the fit (the centroidByGroup
    // gate): one NaN in the sample would poison its centroid's mean and
    // silently strand whole code ranges — pqEncode NULLs such vectors, the
    // fit must skip them for the same reason
    val sample = SimilarityOps.trainSample(
      c.df.where(SimilarityOps.finiteVec(col(vecCol))), idCol, vecCol, trainSample)
    require(sample.length >= ks,
      s"pq_fit needs at least ks=$ks usable sample rows, got ${sample.length}")
    val dim = sample(0).length
    require(sample.forall(_.length == dim),
      s"pq_fit: inconsistent vector dims in training sample (expected $dim)")
    require(dim % m == 0,
      s"pq_fit: dim $dim is not divisible by m=$m blocks")
    val bd = dim / m
    val rows = (0 until m).flatMap { b =>
      val blockVecs = sample.map(v => java.util.Arrays.copyOfRange(v, b * bd, (b + 1) * bd))
      val centers = SimilarityOps.euclideanKMeans(blockVecs, ks, iters)
      centers.zipWithIndex.map { case (cv, ci) =>
        org.apache.spark.sql.Row(b, ci, cv.toSeq)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("block",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false)))
    c.next("pq_fit", c.spark.createDataFrame(
      c.spark.sparkContext.parallelize(rows, 1), schema), None,
      Map("m" -> m.toString, "ks" -> ks.toString))
  }

  /** pq_encode(model, vec_col, as): encode each vector under a [[pqFit]]
    * model — `as` (default `pq_code`) is the array of m per-block
    * euclidean-nearest centroid ids, computed by the
    * [[graft.functions.PqEncode]] codegen kernel (the codebook rides the
    * plan as ONE flat double[]; a greatest()-over-structs composition
    * builds m·ks expression trees and falls off the JIT cliff at real
    * codebook sizes). Encoding is a pure PER-ROW function, so plain
    * IEEE arithmetic with the kernel's fixed scan order is already
    * partitioning- and engine-proof; ties break to the smaller cid. One
    * bounded driver collect of the m·ks model rows; scoring is a PURE
    * PROJECTION. Null vectors yield null codes, NaN coordinates yield
    * NULL (the usableVec posture), wrong-length vectors throw.
    */
  def pqEncode(model: DataFrame, vecCol: String,
               as: String = "pq_code"): Chain = {
    require(c.df.columns.contains(vecCol),
      s"pq_encode: chain is missing vector column '$vecCol'")
    require(!c.df.columns.contains(as),
      s"pq_encode: output column '$as' already exists on the chain")
    val centers = SimilarityOps.collectPqModel(model)
    val df2 = c.df.withColumn(as,
      graft.functions.PqEncode(col(vecCol), centers))
    c.next("pq_encode", df2, None, Map("vec_col" -> vecCol))
  }

  /** pq_decode(model, code_col, as): reconstruct the quantized vector —
    * the concatenation of each block's centroid — as `array<double>`,
    * usable by every ANN op (the [[dequantizeEmbeddings]] counterpart).
    * Reconstruction error is the k-means quantization error the
    * [[pqFit]] codebooks were trained to minimize; recall of exact
    * ranking over decoded vectors is the quality dial (QuantGate-style
    * floor in the specs). Null codes stay null; out-of-range codes
    * throw (ANSI element_at — a silent wrong centroid is never useful).
    */
  def pqDecode(model: DataFrame, codeCol: String,
               as: String = "pq_decoded"): Chain = {
    require(c.df.columns.contains(codeCol),
      s"pq_decode: chain is missing code column '$codeCol'")
    require(!c.df.columns.contains(as),
      s"pq_decode: output column '$as' already exists on the chain")
    val centers = SimilarityOps.collectPqModel(model)
    val df2 = c.df.withColumn(as,
      when(col(codeCol).isNotNull,
        SimilarityOps.pqDecodeColumn(col(codeCol), centers)))
    c.next("pq_decode", df2, None, Map("code_col" -> codeCol))
  }

  /** search_pq(model, queries, id_col, vec_col, code_col, k): top-k
    * nearest neighbors of each raw query against a PQ-CODED corpus by
    * asymmetric distance (ADC — Jégou et al. TPAMI 2011): this chain
    * carries (id, [[pqEncode]] codes), the queries carry raw vectors,
    * and scoring meets only the codes — the corpus never materializes
    * decoded float vectors, so the whole pass streams m bytes per row
    * against broadcast queries (the [[cosineTopK]] shape with the
    * [[graft.functions.PqAdcDist]] codegen kernel in place of the dot).
    * Output: (query_id, neighbor_id, adc_dist, rank) — rank by ascending
    * squared euclidean distance; every same-code neighbor of a query
    * ties EXACTLY and orders by the deterministic neighbor_id
    * tie-break. Distance quality is the PQ quantization error (the
    * pqDecode recall gate); self-matches are excluded like the rest of
    * the top-k family. Queries are usableVec-filtered; null codes drop.
    */
  def searchPq(model: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, codeCol: String = "pq_code",
               k: Int = 10): Chain = {
    require(k >= 1, s"search_pq: k must be >= 1, got $k")
    Seq(idCol, codeCol).foreach(cn => require(c.df.columns.contains(cn),
      s"search_pq: corpus chain is missing column '$cn'"))
    Seq(idCol, vecCol).foreach(cn => require(queries.columns.contains(cn),
      s"search_pq: query frame is missing column '$cn'"))
    val centers = SimilarityOps.collectPqModel(model)
    val qs = SimilarityOps.withNorm(queries, idCol, vecCol, "query_id", "_vq", "_nq")
      .drop("_nq")
    val corpus = c.df
      .select(col(idCol).as("neighbor_id"), col(codeCol).as("_pc"))
      .where(col("_pc").isNotNull)
    val scored = corpus.crossJoin(broadcast(qs))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist",
        graft.functions.PqAdcDist(col("_pc"), col("_vq"), centers))
    val df2 = SimilarityOps.rankTopK(scored, "adc_dist", ascending = true, k)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"), col("rank"))
    c.next("search_pq", df2, None, Map("k" -> k.toString))
  }

  /** ivf_pq_index(pq_model, id, vec, nlist): the IVFADC index of Jégou et
    * al. TPAMI 2011 — coarse IVF cells (spherical k-means, the [[ivfIndex]]
    * train) whose postings store PQ CODES instead of raw vectors, so the
    * searchable corpus shrinks to m bytes per row while probes keep the
    * cell-pruned shape. One corpus scan: cell assignment and PQ encoding
    * are both codegen projections ([[graft.functions.PqEncode]]), the two
    * models ride the plan as flat literal tables. Schema unions the two
    * row kinds: corpus rows `(_cid, _id, _pc, null, null)`, centroid
    * marker rows `(_cid, null, null, _v, _n)` — one parquet table, the
    * same save-the-postings investment as [[ivfIndex]]. By default codes
    * are the RAW-vector codebook (FAISS's `by_residual=false` regime):
    * encoding stays a pure per-row function shared with
    * [[pqEncode]]/[[searchPq]], so full-scan ADC and IVFADC rank
    * candidates identically — recall differences come only from cell
    * pruning, which the bench gate measures. `assign > 1` posts each
    * row's code to its `assign` nearest cells (corpus-side duplication:
    * index grows ×assign in the m-byte codes only, recall at fixed
    * nprobe rises — the frontier witness the flat-IVF family records);
    * probe with `searchIvfPq(indexAssign = assign)` so duplicates
    * collapse.
    *
    * `byResidual = true` is Jégou et al. §III's actual encoding (FAISS
    * `by_residual=true`): codes quantize the RESIDUAL x − centroid(cell).
    * On CLUSTERED corpora the codebook then only spans cell-local
    * variance (better codes at equal m·ks — the lattice spec pins that
    * regime), and in every regime per-cell residual distances break the
    * same-code ties that dominate raw-face pruning loss (bench: np8
    * recovers 0.940 of full probe vs raw 0.660). On ISOTROPIC data with
    * few cells the residual is a mixture with LARGER per-block variance
    * than the raw vector and quantization degrades (bench documents the
    * measured pair) — choose the face per corpus geometry. The
    * passed `pqModel` then contributes ONLY its (m, ks) block geometry
    * (so raw and residual faces compare at an equal byte budget); the
    * codebook itself is refit on the train sample's residuals and
    * EMBEDDED in the index as a third row kind (`_cid = -1`,
    * `_pc = [block, code]`, `_v` = sub-centroid) — probes and
    * incremental assigns self-detect it, so a residual index can never
    * be probed with the wrong distance tables. Under multi-assign each
    * replica encodes against ITS OWN cell's centroid (the residual is
    * cell-dependent), one extra kernel pass per replica.
    */
  def ivfPqIndex(pqModel: DataFrame, idCol: String, vecCol: String,
                 nlist: Int = 16, trainSample: Int = 4096,
                 trainIters: Int = 15, assign: Int = 1,
                 byResidual: Boolean = false): Chain = {
    require(assign >= 1 && assign <= nlist,
      s"ivf_pq_index: assign must be in [1, nlist=$nlist], got $assign")
    Seq(idCol, vecCol).foreach(cn => require(c.df.columns.contains(cn),
      s"ivf_pq_index: chain is missing column '$cn'"))
    val spark = c.spark
    val (idExpr, idType) = SimilarityOps.indexId("ivf_pq_index", c.df, idCol)
    val pqCenters = SimilarityOps.collectPqModel(pqModel)
    val corpus = SimilarityOps.withNorm(c.df, idExpr, vecCol, "_id", "_v", "_n")
    val trainVecs = SimilarityOps.trainSample(corpus, "_id", "_v", trainSample)
    val centers = SimilarityOps.sphericalKMeans(trainVecs, nlist, trainIters)
    val resCbOpt =
      if (!byResidual) None
      else Some(SimilarityOps.fitResidualCodebook(
        trainVecs, centers, pqCenters.length, pqCenters(0).length, trainIters))
    val assigned = SimilarityOps.pqPostings(corpus, centers, assign,
      resCbOpt.getOrElse(pqCenters), byResidual)
    val centroidRows = SimilarityOps.centroidFrame(spark, centers)
      .select(col("_cid"), lit(null).cast(idType).as("_id"),
        lit(null).cast("array<int>").as("_pc"),
        col("_cv").as("_v"), col("_cn").as("_n"))
    val withCents = assigned.unionByName(centroidRows)
    val full = resCbOpt match {
      case None => withCents
      case Some(resCb) => withCents.unionByName(
        SimilarityOps.residualCodebookRows(spark, resCb)
          .select(col("_cid"), lit(null).cast(idType).as("_id"),
            col("_pc"), col("_v"), lit(null).cast("double").as("_n")))
    }
    c.next("ivf_pq_index", full, None,
      Map("nlist" -> nlist.toString, "by_residual" -> byResidual.toString))
  }

  /** ivf_pq_index_assign(index, pq_model, id, vec): assign THIS chain's
    * (new) vectors to a saved [[ivfPqIndex]]'s cells and PQ-encode them —
    * the ingest half of incremental IVFADC (the [[ivfIndexAssign]]
    * counterpart). One bounded driver collect of the nlist centroid rows;
    * assignment and encoding are one codegen projection; returns rows in
    * the index schema for a plain `saveAppend`/`appendBucketed` onto the
    * index table. Per-batch work is proportional to the batch; the
    * historical postings are never re-encoded. A residual index
    * ([[ivfPqIndex]] `byResidual = true`) is self-detected from its
    * embedded codebook rows: the batch then assigns FIRST and encodes
    * x − centroid(cell) per replica with that codebook — `pqModel` is
    * superseded, so appended codes always live in the same metric as the
    * history.
    */
  def ivfPqIndexAssign(index: DataFrame, pqModel: DataFrame,
                       idCol: String, vecCol: String,
                       assign: Int = 1): Chain = {
    require(assign >= 1, s"ivf_pq_index_assign: assign must be >= 1, got $assign")
    SimilarityOps.requireIndex("ivf_pq_index_assign", index, SimilarityOps.PqIndex, c.df, idCol)
    val centers = SimilarityOps.collectCentroids(index)
    require(assign <= centers.length,
      s"ivf_pq_index_assign: assign ($assign) exceeds the index's nlist (${centers.length})")
    val (idExpr, _) = SimilarityOps.indexId("ivf_pq_index_assign", c.df, idCol)
    val resCbOpt = SimilarityOps.collectResidualCodebook(index)
    c.next("ivf_pq_index_assign", SimilarityOps.pqPostings(
      SimilarityOps.withNorm(c.df, idExpr, vecCol, "_id", "_v", "_n"), centers, assign,
      resCbOpt.getOrElse(SimilarityOps.collectPqModel(pqModel)), resCbOpt.isDefined), None)
  }

  /** search_ivf_pq(pq_model, index, id, vec, k, nprobe): IVFADC search —
    * probe a saved [[ivfPqIndex]] with THIS chain's rows as the query set
    * (receiver = queries, the [[searchIvfIndex]] shape). Each query ranks
    * the centroid marker rows (broadcast, nlist rows), visits its
    * `nprobe` best cells, and ADC-scores ONLY those cells' codes with the
    * [[graft.functions.PqAdcDist]] kernel — per-batch cost is one index
    * scan restricted by the probe join (broadcast when the batch is
    * small — [[SimilarityOps.maybeBroadcastProbes]]; shuffled `_cid`
    * equi-join for corpus-sized batches) plus one shuffle of scored
    * candidates on query_id, and the candidate bytes moved are
    * m per row, not the decoded vectors. This is the scale regime
    * [[searchPq]]'s full-scan ADC documents as its next rung: at 100 TB
    * the probe join prunes (nlist - nprobe)/nlist of the corpus before
    * any distance is computed, and the pruned scan still pushes the _cid
    * filter into the index's parquet (partition the saved index by _cid
    * for static pruning). Output: (query_id, neighbor_id, adc_dist,
    * rank) — ascending squared euclidean ADC distance, neighbor_id
    * tie-break, identical to [[searchPq]] on any candidate both visit
    * (raw-codebook indexes). A residual index ([[ivfPqIndex]]
    * `byResidual = true`) is self-detected from its embedded codebook:
    * each probe row then carries the per-cell residual q − centroid
    * (computed ONCE per (query, cell) — the per-cell distance-table
    * trick of Jégou §III) and ADC runs in the residual metric with the
    * embedded codebook, superseding `pqModel`; under multi-assign the
    * same neighbor probed via two cells keeps its MINIMUM distance.
    */
  def searchIvfPq(pqModel: DataFrame, index: DataFrame, idCol: String,
                  vecCol: String, k: Int = 10, nprobe: Int = 4,
                  indexAssign: Int = 1): Chain = {
    require(k >= 1, s"search_ivf_pq: k must be >= 1, got $k")
    require(nprobe >= 1, s"search_ivf_pq: nprobe must be >= 1, got $nprobe")
    require(indexAssign >= 1,
      s"search_ivf_pq: indexAssign must be >= 1, got $indexAssign")
    Seq(idCol, vecCol).foreach(cn => require(c.df.columns.contains(cn),
      s"search_ivf_pq: query chain is missing column '$cn'"))
    SimilarityOps.requireIndex("search_ivf_pq", index, SimilarityOps.PqIndex, c.df, idCol)
    val (adcCenters, residual, probes) = SimilarityOps.pqProbes(index, pqModel,
      SimilarityOps.withNorm(c.df, idCol, vecCol, "query_id", "_vq", "_nq"), "query_id", nprobe)
    val scoredRaw = index.where(col("_id").isNotNull && col("_pc").isNotNull)
      .join(SimilarityOps.maybeBroadcastProbes(c.df, probes, nprobe), Seq("_cid"))
      .where(col("query_id") =!= col("_id"))
      .select(col("query_id"), col("_id").as("neighbor_id"),
        graft.functions.PqAdcDist(col("_pc"), col("_vq"), adcCenters).as("adc_dist"))
    // a multi-assign index ([[ivfPqIndex]] assign > 1) can surface the
    // same (query, neighbor) via two probed cells — dedup before ranking.
    // Raw codes: the triples tie exactly, distinct is exact. Residual
    // codes differ per cell, so keep the MINIMUM distance (deterministic
    // min — the FAISS multi-assign semantics). Declared by the caller so
    // the common single-assign path pays no extra exchange (the
    // ivfCosineTopK convention).
    val scored =
      if (indexAssign == 1) scoredRaw
      else if (!residual) scoredRaw.distinct()
      else scoredRaw.groupBy(col("query_id"), col("neighbor_id"))
        .agg(min(col("adc_dist")).as("adc_dist"))
    c.next("search_ivf_pq", SimilarityOps.rankTopK(scored, "adc_dist", ascending = true, k),
      None, Map("k" -> k.toString, "nprobe" -> nprobe.toString))
  }

  /** search_ivf_pq_rerank(pq_model, index, corpus, id, vec, k,
    * rerank_per_query, nprobe): IVFADC + exact refine — the re-ranking
    * stage of Jégou/Tavenard/Douze/Amsaleg "Searching in one billion
    * vectors" (ICASSP 2011, IVFADC+R), with the refinement codes
    * replaced by the raw vectors (the FAISS refine-flat variant): stage
    * 1 probes the saved [[ivfPqIndex]] and keeps each query's top
    * `rerankPerQuery` ADC candidates (m bytes/row moved, cells pruned);
    * stage 2 fetches ONLY those candidates' raw vectors from `corpus`
    * by id and reranks with the exact fixed-point cosine (the
    * [[hammingCosineTopK]] pass-2 shape — the raw corpus stays cold
    * except for the shortlist, candidate ids equi-join it). Quality:
    * ADC quantization error then affects only candidate SELECTION,
    * never the final order — on the bench embeddings recall@10 climbs
    * from the ADC-ranked 0.195 toward the cell-pruning ceiling
    * (recorded in bench.json with floors). Works over raw and residual
    * indexes alike (stage 1 self-detects the embedded codebook).
    * Output: (query_id, neighbor_id, cosine, rank) — descending exact
    * cosine, neighbor id tie-break.
    */
  def searchIvfPqRerank(pqModel: DataFrame, index: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String, k: Int = 10,
                        rerankPerQuery: Int = 50, nprobe: Int = 4,
                        indexAssign: Int = 1): Chain = {
    require(rerankPerQuery >= k,
      s"search_ivf_pq_rerank: rerankPerQuery ($rerankPerQuery) must be >= k ($k)")
    Seq(idCol, vecCol).foreach(cn => require(corpus.columns.contains(cn),
      s"search_ivf_pq_rerank: corpus frame is missing column '$cn'"))
    val cand = searchIvfPq(pqModel, index, idCol, vecCol,
      k = rerankPerQuery, nprobe = nprobe, indexAssign = indexAssign)
      .df.select(col("query_id"), col("neighbor_id"))
    val corp = SimilarityOps.withNorm(corpus, idCol, vecCol, "neighbor_id", "_vc", "_nc")
    val qs = SimilarityOps.withNorm(c.df, idCol, vecCol, "query_id", "_vq", "_nq")
    val cos = Exact.dot(col("_vq"), col("_vc")) / col("_nq") / col("_nc")
    val scored = cand
      .join(corp, Seq("neighbor_id"))
      .join(SimilarityOps.maybeBroadcastProbes(c.df, qs, 1), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
    c.next("search_ivf_pq_rerank", SimilarityOps.rankTopK(scored, "cosine", ascending = false, k),
      None, Map("k" -> k.toString, "rerank" -> rerankPerQuery.toString,
        "nprobe" -> nprobe.toString))
  }

  /** truncate_embeddings(vec_col, dim, renormalize, as): keep the first
    * `dim` coordinates — the Matryoshka representation move (Kusupati et
    * al., NeurIPS 2022: MRL-trained embeddings nest usable sub-embeddings
    * at prefix lengths; even for non-MRL embeddings this is the standard
    * storage/recall dial before int8 quantization). With
    * `renormalize = true` (the default — cosine geometry needs unit-ish
    * norms after truncation) the output is `array<double>` re-normalized
    * under the exact fixed-point norm via the [[graft.functions
    * .TruncateRenorm]] codegen kernel — ONE flat O(dim) loop per row (the
    * transform/slice column composition hits the Int8Quantize
    * CollapseProject O(d²) trap). Without, it is a plain guarded slice
    * preserving the element type.
    *
    * Contracts: shorter-than-dim vectors throw (silent shortening is
    * wrong, never useful); with renormalization, a NaN coordinate or
    * zero-norm prefix yields NULL (nothing usable — the usableVec
    * posture) and a null ELEMENT throws; null vectors stay null. Pure
    * projection — no shuffle, scan-speed at any corpus size; compose with
    * [[quantizeEmbeddings]] for the full storage ladder.
    */
  def truncateEmbeddings(vecCol: String, dim: Int, renormalize: Boolean = true,
                         as: String = "embedding_t"): Chain = {
    require(dim >= 1 && dim <= 65536,
      s"truncate_embeddings: dim must be in [1, 65536], got $dim")
    require(c.df.columns.contains(vecCol),
      s"truncate_embeddings: chain is missing vector column '$vecCol'")
    require(!c.df.columns.contains(as),
      s"truncate_embeddings: output column '$as' already exists on the chain")
    val v = col(vecCol)
    val vq = graft.core.Naming.quoteId(vecCol)
    val aq = graft.core.Naming.quoteId(as)
    if (renormalize)
      c.next("truncate_embeddings",
        c.df.withColumn(as, graft.functions.TruncateRenorm(v, dim)),
        // engine-specific face: the registered kernel (the KLL-face rule —
        // Spark-executable, plan ≡ the DataFrame face)
        Some(s"SELECT *, truncate_renorm($vq, $dim) AS $aq FROM {{source}}"),
        Map("dim" -> dim.toString, "renormalize" -> "true"))
    else {
      val out = when(v.isNull,
          lit(null).cast(c.df.schema(vecCol).dataType))
        .when(size(v) < dim, raise_error(concat(
          lit(s"truncate_embeddings: vector shorter than dim=$dim (len "),
          size(v).cast("string"), lit(")"))))
        .otherwise(slice(v, 1, dim))
      c.next("truncate_embeddings", c.df.withColumn(as, out),
        Some(s"SELECT *, CASE WHEN $vq IS NULL THEN NULL " +
          s"WHEN size($vq) < $dim THEN raise_error(concat(" +
          s"'truncate_embeddings: vector shorter than dim=$dim (len ', " +
          s"CAST(size($vq) AS STRING), ')')) " +
          s"ELSE slice($vq, 1, $dim) END AS $aq FROM {{source}}"),
        Map("dim" -> dim.toString, "renormalize" -> "false"))
    }
  }

  def quantizeEmbeddings(vecCol: String): Chain = {
    val qName = graft.core.Naming.cleanse(s"${vecCol}_q")
    val sName = graft.core.Naming.cleanse(s"${vecCol}_qscale")
    // one codegen kernel instead of transform/array_max composition:
    // higher-order functions run interpreted AND CollapseProject inlines
    // the scale into every element's lambda (O(d²)/row, recomputed again
    // under any downstream Filter/Generate) — the kernel is one flat O(d)
    // loop per evaluation site. Null vector → null struct; coalesce
    // reproduces the CASE face's scale = 1.0 there.
    val qz = graft.functions.Int8Quantize(col(vecCol))
    val df2 = c.df
      .withColumn("_graft_qz", qz)
      .withColumn(sName, coalesce(col("_graft_qz.qscale"), lit(1.0)))
      .withColumn(qName, col("_graft_qz.q"))
      .drop("_graft_qz")
    // SQL face: the scale lands as a real column first (inner SELECT), so
    // the quantize lambda references it exactly like the Column face does
    val vc = graft.core.Naming.quoteId(vecCol)
    val maxabsS = s"array_max(transform($vc, _x -> abs(CAST(_x AS DOUBLE))))"
    c.next("quantize_embeddings", df2, Some(
      s"SELECT *, transform($vc, _x -> " +
        s"CAST(FLOOR(CAST(_x AS DOUBLE) / $sName + 0.5) AS TINYINT)) AS $qName " +
        s"FROM (SELECT *, CASE WHEN $maxabsS > 0 THEN $maxabsS / 127.0 ELSE 1.0 END " +
        s"AS $sName FROM {{source}})"))
  }

  /** dequantize_embeddings(q, scale, as): reconstruct `x̂_i = q_i·scale`
    * as an array<float> usable by every ANN op. Reconstruction error is
    * bounded by scale/2 per coordinate (≤ maxabs/254).
    */
  def dequantizeEmbeddings(qCol: String, scaleCol: String, as: String): Chain =
    c.next("dequantize_embeddings",
      c.df.withColumn(as,
        transform(col(qCol), v => (v.cast("double") * col(scaleCol)).cast("float"))),
      Some(s"SELECT *, transform(${graft.core.Naming.quoteId(qCol)}, _v -> " +
        s"CAST(CAST(_v AS DOUBLE) * ${graft.core.Naming.quoteId(scaleCol)} AS FLOAT)) " +
        s"AS ${graft.core.Naming.quoteId(as)} FROM {{source}}"))

  /** pca_fit(id, vec, dim): fit a `dim`-component PCA of the embedding
    * column and return it as a SMALL model frame
    * `(_pc, _eigval, _explained, _axis, _mean)` — one row per component,
    * save/load it like the other persistent artifacts (minhash postings,
    * IVF index). The fit follows the [[ivfIndex]] training pattern:
    * covariance is computed on a bounded, hash-deterministic sample
    * (`orderBy(xxhash64(id)).limit(trainSample)` — PCA of d≤a few hundred
    * dims needs thousands of rows, not the corpus; FAISS trains its
    * PCA/OPQ transforms the same way), eigendecomposed on the driver by
    * cyclic Jacobi (d×d, deterministic sweep order), components ordered by
    * eigenvalue descending with a fixed sign convention (largest-|coord|
    * entry positive) — so the model is bit-reproducible under any
    * partitioning, and so is every projection made with it.
    */
  def pcaFit(idCol: String, vecCol: String, dim: Int,
             trainSample: Int = 4096): Chain = {
    require(dim >= 1, s"pca dim must be >= 1, got $dim")
    val sample = SimilarityOps.trainSample(c.df, idCol, vecCol, trainSample)
    require(sample.length >= 2, s"pca_fit needs >= 2 sample rows, got ${sample.length}")
    val d = sample(0).length
    require(sample.forall(_.length == d),
      s"pca_fit: inconsistent vector dims in training sample (expected $d)")
    require(dim <= d, s"pca dim $dim exceeds vector dim $d")
    c.next("pca_fit",
      SimilarityOps.fitPcaModel(c.df.sparkSession, sample, dim), None)
  }

  /** pca_project(model, vec, as): apply a [[pcaFit]] model to this chain's
    * vectors — adds `as` = `V·(x − μ)` as `array<double>`. The model is
    * read back in ONE bounded driver collect (`dim` rows) and carried as a
    * plan-time constant into [[graft.functions.PcaProject]], a codegen
    * kernel — the per-row apply stays inside whole-stage codegen, no
    * broadcast join, no interpreted higher-order functions. Rows whose
    * vector length mismatches the model project to null (degrade, don't
    * kill the scan). Typical use: fit once, `save` the model, project
    * every ingest batch and ANN-search in the projected space (2-4× less
    * vector I/O at a spec-gated recall cost), optionally composing with
    * [[quantizeEmbeddings]] for another 4-8×.
    */
  def pcaProject(model: DataFrame, vecCol: String, as: String): Chain = {
    require(Seq("_pc", "_axis", "_mean").forall(model.columns.contains),
      s"model must have columns (_pc, _axis, _mean) from pcaFit; got ${model.columns.mkString(", ")}")
    val rows = model.select(col("_pc"), col("_axis"), col("_mean"))
      .orderBy(col("_pc").asc).collect()
    require(rows.nonEmpty, "pca model has no component rows")
    require(rows.map(_.getLong(0)).sameElements(rows.indices.map(_.toLong)),
      "pca model component ids must be exactly 0..dim-1")
    val mean = rows.head.getSeq[Double](2).toArray
    val matrix = rows.flatMap(_.getSeq[Double](1).toArray)
    require(matrix.length == rows.length * mean.length,
      s"pca model axis/mean dims disagree (${matrix.length} vs ${rows.length}×${mean.length})")
    c.next("pca_project",
      c.df.withColumn(as,
        graft.functions.PcaProject(col(vecCol), mean, matrix)), None)
  }

  /** dedup_against_ivf_index(index, id, vec, threshold): INCREMENTAL
    * semantic dedup — drop every row of THIS chain (the ingest batch)
    * whose exact cosine against ANY vector in the saved [[ivfIndex]]
    * reaches `threshold`; survivors keep all columns. The embedding
    * sibling of [[graft.ext.DedupOps.dedupAgainstIndex]]: history is
    * never re-mined, per-batch work is the batch's cell probes.
    *
    * Each batch vector probes its `nprobe` nearest cells (centroids come
    * off the index's own rows, so probe geometry always matches the
    * stored assignments) and is exact-cosine-verified against those
    * cells' members only — so a "drop" is always TRUE (verified ≥
    * threshold); what `nprobe` dials is recall of drops near cell
    * boundaries, the same trade as `nassign` in
    * [[graft.ext.DedupClusterOps.dedupNearEmbedding]]. Survivors are
    * meant to be appended to the index via
    * [[ivfIndexAssign]] + `saveAppend`, closing the ingest loop.
    */
  def dedupAgainstIvfIndex(index: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nprobe: Int = 4): Chain = {
    SimilarityOps.requireIndex("dedup_against_ivf_index", index, SimilarityOps.FlatIndex,
      c.df, idCol)
    // same id dispatch as the build side (the old unconditional long cast
    // nulled string ids: the anti-join matched nothing and the dedup
    // silently no-opped); zero-norm/NaN batch vectors never probe — a NaN
    // cosine passes `>= threshold` (NaN compares greatest) and would
    // silently DELETE corrupted-embedding rows as duplicates
    val (idExpr, _) = SimilarityOps.indexId("dedup_against_ivf_index", c.df, idCol)
    val qs = SimilarityOps.withNorm(c.df, idExpr, vecCol, "_qid", "_vq", "_nq")
    val probes = SimilarityOps.probeCells(qs, SimilarityOps.indexCentroids(index), "_qid", nprobe)
      .select(col("_qid"), col("_vq"), col("_nq"), col("_cid"))
    val cos = Exact.dot(col("_vq"), col("_v")) / col("_nq") / col("_n")
    val dropIds = SimilarityOps.flatMembers(index)
      .join(SimilarityOps.maybeBroadcastProbes(c.df, probes, nprobe), Seq("_cid"))
      .where(cos >= threshold)
      .select(col("_qid")).distinct()
    val survivors = c.df.join(dropIds,
      idExpr === dropIds("_qid"), "left_anti")
    c.next("dedup_against_ivf_index", survivors, None)
  }

  /** dedup_against_ivf_pq_index(index, pq_model, id, vec, max_dist,
    * nprobe): the [[dedupAgainstIvfIndex]] screen at IVFADC storage cost —
    * a batch row drops when its ADC squared-euclidean distance
    * ([[graft.functions.PqAdcDist]], the [[searchPq]] metric) to ANY code
    * in its `nprobe` probed cells of a saved [[ivfPqIndex]] is ≤
    * `maxDist`. The history side streams m BYTES per row (codes, never
    * vectors), so the per-batch probe cost is the pruned code scan plus
    * the anti-join — the semantic-dedup shape for corpora whose raw
    * embeddings are archived cold. `maxDist` is in the PQ-quantized
    * metric: calibrate it against [[searchPq]] distances of known
    * duplicates (it absorbs the codebook's quantization error — a
    * too-tight threshold under-drops, never over-drops). NaN/zero-norm
    * batch vectors never probe and always survive (a NaN distance fails
    * `<=`, but they are filtered anyway — consistent with the build-side
    * exclusion).
    */
  def dedupAgainstIvfPqIndex(index: DataFrame, pqModel: DataFrame,
                             idCol: String, vecCol: String, maxDist: Double,
                             nprobe: Int = 4): Chain = {
    require(maxDist >= 0.0 && !maxDist.isNaN,
      s"dedup_against_ivf_pq_index: maxDist must be >= 0, got $maxDist")
    require(nprobe >= 1, s"dedup_against_ivf_pq_index: nprobe must be >= 1, got $nprobe")
    SimilarityOps.requireIndex("dedup_against_ivf_pq_index", index, SimilarityOps.PqIndex,
      c.df, idCol)
    val (idExpr, _) = SimilarityOps.indexId("dedup_against_ivf_pq_index", c.df, idCol)
    // a residual index moves the threshold into the residual metric:
    // calibrate it against residual-index distances, not raw-code ones
    val (adcCenters, _, probes) = SimilarityOps.pqProbes(index, pqModel,
      SimilarityOps.withNorm(c.df, idExpr, vecCol, "_qid", "_vq", "_nq"), "_qid", nprobe)
    val dropIds = index.where(col("_id").isNotNull && col("_pc").isNotNull)
      .join(SimilarityOps.maybeBroadcastProbes(c.df, probes, nprobe), Seq("_cid"))
      .where(graft.functions.PqAdcDist(col("_pc"), col("_vq"), adcCenters) <= maxDist)
      .select(col("_qid")).distinct()
    val survivors = c.df.join(dropIds,
      idExpr === dropIds("_qid"), "left_anti")
    c.next("dedup_against_ivf_pq_index", survivors, None)
  }

  /** LSH top-k: the first `bands × rows` bits of the sign-projection
    * sketch ([[graft.functions.SignSketch]], native codegen) are sliced
    * into `bands` keys of `rows` bits; candidates are corpus vectors
    * sharing a band key with the query, generated by an equi-join on
    * `(band, key)` — sub-linear, corpus-partitionable. Query-side
    * multi-probe additionally probes every band key with `multiProbe` of
    * its bits flipped one at a time (queries are tiny; extra probes cost
    * only broadcast rows). Exact cosine rerank within candidates.
    */
  def lshCosineTopK(queries: DataFrame, idCol: String, vecCol: String, k: Int,
                    planes: Int = 64, bands: Int = 4, rows: Int = 4,
                    multiProbe: Int = 2): Chain = {
    require(bands * rows <= planes, s"bands*rows (${bands * rows}) must fit in planes ($planes)")
    require(multiProbe >= 0 && multiProbe <= rows,
      s"multiProbe must be in [0, rows], got $multiProbe")
    def prep(df: DataFrame, idAs: String, vAs: String, nAs: String) =
      SimilarityOps.withNorm(df, idCol, vecCol, idAs, vAs, nAs)
        .withColumn("_sk", SignSketch(col(vAs), planes))
    // band b's key = bits [b*rows, (b+1)*rows) of the sketch
    def bandKey(b: Int) = {
      val word = (b * rows) / 64
      shiftright(col("_sk")(word), (b * rows) % 64)
        .bitwiseAND(lit((1L << rows) - 1L))
    }
    // the corpus keeps its neighbor_id barrier: the candidates' distinct
    // and the rerank join on neighbor_id both use its partitioning; the
    // query side feeds broadcasts only, so it takes none
    val corpus = prep(c.df, "neighbor_id", "_vc", "_nc").repartition(col("neighbor_id"))
    val qs = prep(queries, "query_id", "_vq", "_nq")
    val corpusB = corpus.select(col("neighbor_id"),
        posexplode(array((0 until bands).map(bandKey): _*)).as(Seq("_band", "_bk")))
    val qsB = qs.select(col("query_id"),
        posexplode(array((0 until bands).map(bandKey): _*)).as(Seq("_band", "_bk")))
      // multi-probe: the query also visits each band key with bit j flipped
      .select(col("query_id"), col("_band"), explode(array(
        (col("_bk") +: (0 until multiProbe).map(j => col("_bk").bitwiseXOR(lit(1L << j)))): _*
      )).as("_bk"))
    val candidates = corpusB.join(broadcast(qsB), Seq("_band", "_bk"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val cos = Exact.dot(col("_vq"), col("_vc")) / col("_nq") / col("_nc")
    val scored = candidates
      .join(corpus.select(col("neighbor_id"), col("_vc"), col("_nc")), Seq("neighbor_id"))
      .join(broadcast(qs.select(col("query_id"), col("_vq"), col("_nq"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
    c.next("cosine_topk_lsh",
      SimilarityOps.rankTopK(scored, "cosine", ascending = false, k), None)
  }

  /** cluster_embeddings(id, vec, k): first-class spherical k-means over
    * the embedding column — the semantic corpus-partitioning primitive
    * (topic discovery, SemDeDup-style cluster-then-dedup, per-cluster
    * sampling). Appends `cluster`, labeled by the MINIMUM member id of
    * each cluster (stable, meaningful labels — the connected-components
    * convention — instead of arbitrary centroid ordinals). Rows whose
    * vector fails the [[SimilarityOps.usableVec]] guard (null, zero-norm,
    * NaN component) get a NULL cluster — a corrupted embedding is
    * unknowable, it must not merge into a real cluster. Ids may be
    * integral or string (the ANN-family admission rule).
    *
    * Training runs on a bounded hash-deterministic sample (`trainSample`
    * rows via one declared driver collect — the [[ivfIndex]] regime), so
    * centroids are a pure function of the data, not the partitioning;
    * assignment is ONE codegen projection (greatest over per-centroid
    * exact dots — no shuffle), the label map is a k-row aggregate
    * broadcast back. At 100 TB: one scan to assign, one tiny exchange for
    * the label map, nothing iterative on the full corpus.
    */
  def clusterEmbeddings(idCol: String, vecCol: String, k: Int,
                        trainSample: Int = 4096, trainIters: Int = 15,
                        as: String = "cluster"): Chain = {
    require(k >= 1, s"cluster_embeddings needs k >= 1, got $k")
    val (idExpr, idType) = SimilarityOps.indexId("cluster_embeddings", c.df, idCol)
    val trainVecs = SimilarityOps.trainSample(
      SimilarityOps.withNorm(c.df, idExpr, vecCol, "_id", "_v", "_n"), "_id", "_v", trainSample)
    // empty corpus / every vector failing the usableVec guard: every row
    // is degenerate by definition — return a null cluster column instead
    // of tripping sphericalKMeans' nonEmpty require (the empty-input
    // contract the rest of the family honors)
    if (trainVecs.isEmpty)
      return c.next("cluster_embeddings",
        c.df.withColumn(as, lit(null).cast(idType)), None)
    val centers = SimilarityOps.sphericalKMeans(trainVecs, k, trainIters)
    // a projected norm, not withNorm: every row is kept (an unusable vector
    // gets a null cluster), so there is no filter to push through it
    val usable = SimilarityOps.usableVec(col(vecCol), sqrt(Exact.dot(col(vecCol), col(vecCol))))
    val assigned = c.df.withColumn("_ce_cid",
      when(usable, SimilarityOps.bestCellId(col(vecCol), centers)))
    val labels = assigned.where(col("_ce_cid").isNotNull)
      .groupBy(col("_ce_cid")).agg(min(idExpr).as(as))
    val df2 = assigned
      .join(broadcast(labels), Seq("_ce_cid"), "left")
      .drop("_ce_cid")
    // restore the source column order (using-join moved _ce_cid to front)
    val outCols = c.df.columns.map(col).toSeq :+ col(as)
    c.next("cluster_embeddings", df2.select(outCols: _*), None)
  }
}

object SimilarityOps {
  /** (groups…, `_pos`, `_val`) for every element of the non-null vectors
    * that carry no NaN/±Inf (a poisoned vector is excluded WHOLE) — the
    * per-dimension fold input of centroidByGroup and embeddingMoments.
    */
  private[ext] def finiteElements(df: DataFrame, groupBy: Seq[String],
                                  vecCol: String): DataFrame = {
    df.where(finiteVec(col(vecCol)))
      .select(groupBy.map(col) :+ posexplode(col(vecCol)).as(Seq("_pos", "_val")): _*)
  }

  /** A non-null vector with no NaN or ±Inf element. */
  private[ext] def finiteVec(v: Column): Column =
    v.isNotNull && !Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .map(x => coalesce(array_contains(v, lit(x)), lit(false)))
      .reduce(_ || _)

  /** [[finiteElements]] as SQL over `{{source}}`. */
  private[ext] def finiteElementsSql(vecCol: String): String = {
    val vq = graft.core.Naming.quoteId(vecCol)
    s"SELECT * FROM {{source}} LATERAL VIEW posexplode($vq) _t AS _pos, _val WHERE $vq IS NOT NULL AND " +
      Seq("NaN", "Infinity", "-Infinity")
        .map(f => s"NOT coalesce(array_contains($vq, float('$f')), false)").mkString(" AND ")
  }

  /** Broadcast-hint the IVF probe frame only when the BATCH side's
    * plan-statistics size (× nprobe replication) says it fits: probe rows
    * carry the full query vector replicated `nprobe` times, so an
    * unconditional `broadcast(probes)` — right for interactive query
    * batches, where the hint guarantees the index scan is pruned before
    * any shuffle — would force a 10M-row ingest-screen batch past AQE's
    * judgment and OOM the driver. The ceiling is 8× the session's
    * `autoBroadcastJoinThreshold` (the probe join prunes
    * (nlist−nprobe)/nlist of the index scan, worth more memory than the
    * planner's generic default; 8 × 10 MB default still fits any executor).
    * Above it the hint is omitted and the `_cid` equi-join shuffles —
    * AQE still picks a broadcast at runtime if the materialized probe
    * stage turns out small. A cluster that DISABLES auto-broadcast
    * (threshold ≤ 0, the OOM-protection config) keeps a fallback
    * ceiling for this gate instead of losing the hint entirely:
    * without it a small query batch would shuffle the whole index on
    * nlist keys, and AQE cannot rescue it there (its own runtime
    * threshold inherits the disabled value). That fallback is
    * `spark.graft.probeBroadcast.maxBytes` (default 80 MB = 8 × the
    * 10 MB planner default); operators who disabled broadcasts as a
    * hard OOM guard set it ≤ 0 and the hint is never forced — the
    * explicit cluster config wins. Estimation is plan
    * statistics only (no extra job), and
    * over-estimates (the batch frame's full width vs the probe
    * projection; RDD-backed lineage — localCheckpoint, createDataFrame —
    * reports the conservative `defaultSizeInBytes` maximum and so never
    * hints) — erring toward the shuffled plan, never toward an
    * oversized broadcast.
    */
  private[ext] def maybeBroadcastProbes(batch: DataFrame, probes: DataFrame,
                                        nprobe: Int): DataFrame =
    if (fitsBroadcast(batch, nprobe)) broadcast(probes) else probes

  /** The gate behind [[maybeBroadcastProbes]], reusable for any
    * derived-frame hint whose size is bounded by a SIZED frame's plan
    * statistics × a replication factor (round 17: [[TextOps.searchTfidf]]
    * gates its query-term pruning the same way). Same posture: plan
    * statistics only (no extra job), over-estimates err toward NOT
    * hinting, and the `spark.graft.probeBroadcast.maxBytes` fallback
    * honors hard no-broadcast cluster configs (≤ 0 → never true).
    */
  private[ext] def fitsBroadcast(sized: DataFrame, replication: Int): Boolean =
    graft.core.SizeGate.fitsBroadcast(sized, replication)

  /** A usable vector for cosine ranking: positive finite norm AND no NaN
    * component. The guard every cosine path filters on. A zero-norm
    * vector yields a NaN cosine (0/0) — and NaN compares GREATEST in
    * Spark SQL, so unguarded it would (a) outrank every real neighbor in
    * a top-k DESC window and (b) pass `cosine >= threshold`, pairing the
    * broken vector with everything in its cell and merging real documents
    * into one bogus dedup cluster. A NaN COMPONENT is sneakier: the
    * fixed-point exact dot rounds NaN products to 0, so the norm stays
    * finite and the vector would rank with a silently wrong partial
    * direction — `array_contains(v, NaN)` catches it (NaN = NaN is TRUE
    * under Spark SQL equality; the probe is codegen'd and linear). Rows
    * failing the guard never rank, never match, never enter an index or a
    * training sample, and SURVIVE dedup untouched (a corrupted embedding
    * is unknowable, not a duplicate); null vectors fail the
    * null-propagated predicate and drop too.
    */
  private[ext] def usableVec(v: Column, n: Column): Column =
    !isnan(n) && (n > lit(0.0)) &&
      !coalesce(array_contains(v, lit(Double.NaN)), lit(false))

  // ---------------------------------------------------------------------
  // The ANN skeleton. Every op of the family (exact, sketch, LSH and IVF
  // top-k, the IVF and IVFADC indexes with their assign, search and dedup
  // faces, cluster_embeddings, the PQ and PCA fits, the IVF pair miner) is
  // built from these steps, each written once:
  //   withNorm     the (id, vector, norm) frame of usable vectors
  //   trainSample  the bounded, hash-ordered sample a driver fit trains on
  //   cellIds      the cell(s) a vector is posted to
  //   probeCells   each query's nprobe best cells of an index
  //   rankTopK     the per-query ranked finish
  // ---------------------------------------------------------------------

  /** `(idAs, vAs, nAs)`: each row's id, vector and norm
    * sqrt(Exact.dot(v, v)), keeping only [[usableVec]] rows (a NaN cosine
    * would rank FIRST). The norm is GENERATED (a one-element explode), not
    * projected: the optimizer pushes a filter through a projection by
    * copying the projected expression into it — the usability test read
    * the norm twice and the projection once, three dot products per
    * vector — while a filter on a generated column stays above its
    * Generate, so each vector's dot product runs once.
    */
  private[ext] def withNorm(df: DataFrame, idCol: String, vecCol: String,
                            idAs: String, vAs: String, nAs: String): DataFrame =
    withNorm(df, col(idCol), vecCol, idAs, vAs, nAs)

  /** [[withNorm]] over an id expression: the index family's [[indexId]]. */
  private[ext] def withNorm(df: DataFrame, id: Column, vecCol: String,
                            idAs: String, vAs: String, nAs: String): DataFrame =
    df.select(id.as(idAs), col(vecCol).as(vAs),
        explode(array(sqrt(Exact.dot(col(vecCol), col(vecCol))))).as(nAs))
      .where(usableVec(col(vAs), col(nAs)))

  /** The training sample of every driver-side fit: the first `n` rows of
    * `df` in `(xxhash64(id), id)` order, `vec` collected as doubles. One
    * bounded, declared driver collect (the encoders' compile-time
    * introspection pattern); the hash order makes the sample, and so the
    * model, a function of the data alone, never of the partitioning.
    */
  private[ext] def trainSample(df: DataFrame, id: String, vec: String,
                               n: Int): Array[Array[Double]] =
    df.orderBy(xxhash64(col(id)).asc, col(id).asc).limit(n)
      .select(col(vec).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** The cell id(s) `v` is posted to, in the scan stage (no crossJoin, no
    * window, no shuffle): its best cell ([[bestCellId]]) at `assign` = 1,
    * one row per top-`assign` cell ([[topCellIds]], exploded) above that
    * — the SPANN-style boundary duplication. Centroids are unit vectors
    * and the vector's norm is fixed per row, so the raw-dot argmax is the
    * cosine argmax; ties go to the smaller cid, the probe side's order.
    */
  private[ext] def cellIds(v: Column, centers: Array[Array[Double]], assign: Int): Column =
    if (assign == 1) bestCellId(v, centers) else explode(topCellIds(v, centers, assign))

  /** The saved-index admission every assign, search and dedup face runs:
    * the index carries the builder's `cols`, and the batch id is a
    * clusterable type of the index `_id`'s family — a string query id
    * compared with a long index id implicit-casts to null and silently
    * drops every candidate.
    */
  private[ext] def requireIndex(op: String, index: DataFrame, cols: (String, Seq[String]),
                                batch: DataFrame, idCol: String): Unit = {
    val (builder, names) = cols
    require(names.forall(index.columns.contains),
      s"index must have columns (${names.mkString(", ")}) from $builder; " +
        s"got ${index.columns.mkString(", ")}")
    val qdt = batch.schema(idCol).dataType
    DedupOps.requireClusterableId(op, idCol, qdt)
    val idt = index.schema("_id").dataType
    require(DedupOps.isIntegralId(qdt) == DedupOps.isIntegralId(idt),
      s"$op: query id '$idCol' (${qdt.simpleString}) and index _id " +
        s"(${idt.simpleString}) must share a type family")
  }

  private[ext] val FlatIndex = "ivfIndex" -> Seq("_cid", "_id", "_v", "_n")
  private[ext] val PqIndex = "ivfPqIndex" -> Seq("_cid", "_id", "_pc", "_v", "_n")

  /** A saved index's centroid marker rows `(_cid, _cv, _cn)`, broadcast
    * (nlist rows). Probe geometry comes off the index's own rows, so it
    * always matches the stored assignments; `_cid >= 0` skips the
    * residual-codebook rows a residual IVFADC index carries at -1.
    */
  private[ext] def indexCentroids(index: DataFrame): DataFrame =
    broadcast(index.where(col("_id").isNull && col("_cid") >= 0)
      .select(col("_cid"), col("_v").as("_cv"), col("_n").as("_cn")))

  /** Each query's `nprobe` best cells: the queries `(qid, _vq, _nq)` cross
    * the broadcast centroids `(_cid, _cv, _cn)`, rank them by exact
    * cosine (ties to the smaller cid, the [[cellIds]] order) and keep
    * `(qid, _vq, _nq, _cv, _cid)` of the first `nprobe`. The candidate
    * join then visits only those cells' members — the IVF recall/cost
    * dial: candidate volume ≈ assign × nprobe / nlist of the corpus.
    */
  private[ext] def probeCells(qs: DataFrame, centroids: DataFrame, qid: String,
                              nprobe: Int): DataFrame = {
    val qSim = Exact.dot(col("_vq"), col("_cv")) / col("_nq") / col("_cn")
    val w = Window.partitionBy(col(qid)).orderBy(col("_qs").desc, col("_cid").asc)
    qs.crossJoin(centroids)
      .select(col(qid), col("_vq"), col("_nq"), col("_cv"), col("_cid"), qSim.as("_qs"))
      .withColumn("_pr", row_number().over(w))
      .where(col("_pr") <= nprobe)
      .drop("_qs", "_pr")
  }

  /** The IVFADC probe: [[probeCells]] over the index's centroids, with the
    * ADC codebook to score the probed codes by. A residual index (its
    * embedded codebook found, `pqModel` superseded) turns each probe
    * row's vector into the per-cell residual q − centroid, computed once
    * per (query, cell) and reused for every code in the cell — Jégou's
    * per-cell distance table. Returns (codebook, residual?, probes
    * `(qid, _vq, _cid)`).
    */
  private[ext] def pqProbes(index: DataFrame, pqModel: DataFrame, qs: DataFrame,
                            qid: String, nprobe: Int)
      : (Array[Array[Array[Double]]], Boolean, DataFrame) = {
    val resCbOpt = collectResidualCodebook(index)
    val probes = probeCells(qs, indexCentroids(index), qid, nprobe)
    val vq = if (resCbOpt.isEmpty) col("_vq") else graft.functions.VecSub(col("_vq"), col("_cv"))
    (resCbOpt.getOrElse(collectPqModel(pqModel)), resCbOpt.isDefined,
      probes.select(col(qid), vq.as("_vq"), col("_cid")))
  }

  /** The family's ranked finish: per `query_id`, rows ordered by `score`
    * (descending unless `ascending`) with `neighbor_id` ascending on
    * ties, numbered `rank` from 1 and cut at `k` — one shuffle on
    * query_id. The exact-decimal scores make the ranking, and so the
    * cut, independent of the partitioning.
    */
  private[ext] def rankTopK(scored: DataFrame, score: String, ascending: Boolean,
                            k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(if (ascending) col(score).asc else col(score).desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF-flat postings `(_cid, _id, _v, _n)` of a [[withNorm]] frame
    * `(_id, _v, _n)`: each vector in its best cell.
    */
  private[ext] def flatPostings(vecs: DataFrame, centers: Array[Array[Double]]): DataFrame =
    vecs.withColumn("_cid", bestCellId(col("_v"), centers))
      .select(col("_cid"), col("_id"), col("_v").cast("array<double>").as("_v"), col("_n"))

  /** The member rows of a saved IVF-flat index. The usability guard also
    * covers indexes built before the build-side exclusion existed.
    */
  private[ext] def flatMembers(index: DataFrame): DataFrame =
    index.where(col("_id").isNotNull && usableVec(col("_v"), col("_n")))

  /** IVFADC postings `(_cid, _id, _pc, null _v, null _n)` of a [[withNorm]]
    * frame `(_id, _v, _n)`, shared by the build and the incremental
    * assign. Raw codes are cell-independent: encode once, BEFORE the
    * multi-assign explode, so replicas share the kernel pass. Residual
    * codes are cell-DEPENDENT: assign first, then encode x − centroid(cell)
    * per replica (VecSub + PqEncode, both codegen kernels in the scan
    * stage). Vectors PqEncode nulls drop.
    */
  private[ext] def pqPostings(vecs: DataFrame, centers: Array[Array[Double]], assign: Int,
                              codebook: Array[Array[Array[Double]]],
                              residual: Boolean): DataFrame = {
    def encode(df: DataFrame, v: Column) =
      df.withColumn("_pc", graft.functions.PqEncode(v, codebook)).where(col("_pc").isNotNull)
    def assignCells(df: DataFrame) = df.withColumn("_cid", cellIds(col("_v"), centers, assign))
    val posted =
      if (!residual) assignCells(encode(vecs, col("_v")))
      else encode(assignCells(vecs),
        graft.functions.VecSub(col("_v"), cellCentroidAt(col("_cid"), centers)))
    posted.select(col("_cid"), col("_id"), col("_pc"),
      lit(null).cast("array<double>").as("_v"), lit(null).cast("double").as("_n"))
  }

  /** Id admission for the persistent ANN index family: integral ids cast
    * losslessly to long (compatible with previously saved indexes),
    * string ids pass through (the index `_id` column is then string and
    * centroid marker rows carry a null string), anything else fails
    * loudly — the same dispatch as the cluster family, minus the
    * surrogate (the index carries ids, it never aggregates them).
    */
  private[ext] def indexId(op: String, df: org.apache.spark.sql.DataFrame,
                           idCol: String): (org.apache.spark.sql.Column, String) = {
    val dt = df.schema(idCol).dataType
    DedupOps.requireClusterableId(op, idCol, dt)
    if (DedupOps.isIntegralId(dt)) (col(idCol).cast("long"), "long")
    else (col(idCol), "string")
  }

  /** Plain euclidean Lloyd's on the driver for [[SimilarityOps.pqFit]]'s
    * per-block codebooks: seeded deterministic k-means++ (squared
    * euclidean weighting), assign by min distance (index-ascending ties),
    * recenter to the mean, worst-served empty-cell re-seeding — the
    * [[sphericalKMeans]] conventions in euclidean geometry (PQ codebooks
    * quantize magnitudes too; spherical recentring would throw that
    * away).
    */
  private[ext] def euclideanKMeans(
      vecs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(vecs.nonEmpty, "k-means needs a non-empty training sample")
    val dim = vecs(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < dim) { val d = a(j) - b(j); s += d * d; j += 1 }
      s
    }
    val rnd = new scala.util.Random(42)
    val centers = scala.collection.mutable.ArrayBuffer(vecs(rnd.nextInt(vecs.length)))
    while (centers.length < math.min(k, vecs.length)) {
      val dist = vecs.map(x => centers.map(d2(x, _)).min)
      val total = dist.sum
      if (total == 0.0) centers += vecs(rnd.nextInt(vecs.length))
      else {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < vecs.length - 1 && r > dist(i)) { r -= dist(i); i += 1 }
        centers += vecs(i)
      }
    }
    var cs = centers.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Int](cs.length)
      val bestD = new Array[Double](vecs.length)
      var xi = 0
      while (xi < vecs.length) {
        val x = vecs(xi)
        var best = 0; var bd = Double.MaxValue
        var ci = 0
        while (ci < cs.length) {
          val d = d2(x, cs(ci))
          if (d < bd) { bd = d; best = ci }
          ci += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += x(j); j += 1 }
        counts(best) += 1
        bestD(xi) = bd
        xi += 1
      }
      val empties = cs.indices.filter(counts(_) == 0)
      val reseeds: Iterator[Array[Double]] =
        if (empties.isEmpty) Iterator.empty
        else vecs.indices.sortBy(i => (-bestD(i), i)).iterator.map(vecs)
      cs = cs.indices.map { ci =>
        if (counts(ci) == 0) { if (reseeds.hasNext) reseeds.next() else cs(ci) }
        else sums(ci).map(_ / counts(ci))
      }.toArray
      it += 1
    }
    cs
  }

  /** Read a [[SimilarityOps.pqFit]] model frame back as per-block center
    * arrays — one bounded declared driver collect (m·ks ≤ 64·256 rows),
    * contiguity-checked.
    */
  private[ext] def collectPqModel(model: DataFrame): Array[Array[Array[Double]]] = {
    Seq("block", "cid", "centroid").foreach(cn =>
      require(model.columns.contains(cn),
        s"pq model frame is missing column '$cn' (from pqFit)"))
    val rows = model.select(col("block").cast("int"), col("cid").cast("int"),
        col("centroid").cast("array<double>"))
      .orderBy(col("block").asc, col("cid").asc).collect()
    require(rows.nonEmpty, "pq model frame is empty")
    val m = rows.map(_.getInt(0)).max + 1
    val ks = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * ks,
      s"pq model must cover blocks 0..${m - 1} × cids 0..${ks - 1} " +
        s"contiguously, got ${rows.length} rows")
    val out = Array.ofDim[Array[Double]](m, ks)
    rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    out.map(_.toArray)
  }

  /** Reconstruction of a PQ code array: concat of the m looked-up block
    * centroids as array<double>. (Lives here: `typedLit`.)
    */
  private[ext] def pqDecodeColumn(
      code: org.apache.spark.sql.Column,
      centers: Array[Array[Array[Double]]]): org.apache.spark.sql.Column =
    concat(centers.zipWithIndex.map { case (blockCs, b) =>
      element_at(typedLit(blockCs.map(_.toSeq).toSeq),
        element_at(code, b + 1) + lit(1))
    }.toIndexedSeq: _*)

  /** Cosine distances 1 − cos(vec, centroid_i) against literal centroids
    * as one array column — [[graft.ext.SimilarityOps.clusterEval]]'s
    * scoring kernel. (Lives here, not in the value class: `typedLit`'s
    * implicit encoder can't materialize there — the bestCellId rule.)
    */
  private[ext] def centroidDists(
      vec: org.apache.spark.sql.Column,
      nrm: org.apache.spark.sql.Column,
      centers: Array[Array[Double]],
      norms: Array[Double]): org.apache.spark.sql.Column =
    array(centers.zipWithIndex.map { case (cv, i) =>
      lit(1.0) - Exact.dot(vec, typedLit(cv.toSeq)) / nrm / lit(norms(i))
    }.toIndexedSeq: _*)

  /** Best (max-dot) cell id for a vector against literal unit centroids in
    * ONE codegen projection: `greatest()` over (dot, −cid) structs — ties
    * break to the smaller cid. (Lives here, not in the value class:
    * `typedLit`'s implicit encoder can't materialize there.)
    */
  private[ext] def bestCellId(
      vec: org.apache.spark.sql.Column,
      centers: Array[Array[Double]]): org.apache.spark.sql.Column = {
    val cellStructs = centers.zipWithIndex.map { case (cv, i) =>
      struct(Exact.dot(vec, typedLit(cv.toSeq)).as("_s"), lit(-i).as("_negcid"))
    }
    val best =
      if (cellStructs.length == 1) cellStructs.head else greatest(cellStructs.toSeq: _*)
    (-best.getField("_negcid")).cast("long")
  }

  /** Top-`a` cell ids for a vector — [[bestCellId]]'s multi-assignment
    * twin: sort the (dot, -cid) structs descending (same score-then-
    * smaller-cid order `greatest` uses, so a = 1 reproduces bestCellId
    * exactly) and take the first `a` cids. Still one codegen'd scalar
    * projection over literal centroids — no crossJoin, no shuffle; the
    * explode the caller applies fans each corpus row to its `a` cells.
    */
  private[ext] def topCellIds(
      vec: org.apache.spark.sql.Column,
      centers: Array[Array[Double]], a: Int): org.apache.spark.sql.Column = {
    val cellStructs = centers.zipWithIndex.map { case (cv, i) =>
      struct(Exact.dot(vec, typedLit(cv.toSeq)).as("_s"), lit(-i).as("_negcid"))
    }
    val sorted = sort_array(array(cellStructs.toIndexedSeq: _*), asc = false)
    transform(slice(sorted, 1, a), s => (-s.getField("_negcid")).cast("long"))
  }

  /** Read a saved [[SimilarityOps.ivfIndex]]'s centroid rows back as the
    * literal center array — one bounded, declared driver collect of
    * `nlist` rows (the same compile-time-introspection pattern that
    * trained them). Ordered by cid so assignment tie-breaks reproduce.
    */
  private[ext] def collectCentroids(index: DataFrame): Array[Array[Double]] = {
    // `_cid >= 0` excludes the residual-codebook rows an
    // ivfPqIndex(byResidual = true) table carries at _cid = -1
    val rows = index.where(col("_id").isNull && col("_cid") >= 0)
      .select(col("_cid"), col("_v").cast("array<double>"))
      .orderBy(col("_cid").asc).collect()
    require(rows.nonEmpty, "index has no centroid rows (_id IS NULL) — was it built by ivfIndex?")
    require(rows.map(_.getLong(0)).sameElements(rows.indices.map(_.toLong)),
      "centroid cids must be exactly 0..nlist-1")
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** The centroid of cell `cid` as a literal-lookup column — `element_at`
    * over the nlist×d literal table, codegen'd like [[bestCellId]]'s
    * scan. (Lives here: `typedLit`.)
    */
  private[ext] def cellCentroidAt(
      cid: org.apache.spark.sql.Column,
      centers: Array[Array[Double]]): org.apache.spark.sql.Column =
    element_at(typedLit(centers.map(_.toSeq).toSeq), (cid + lit(1L)).cast("int"))

  /** Fit the per-block residual codebook of an IVFADC index (Jégou et
    * al. TPAMI 2011 §III, FAISS `by_residual=true`): assign each train
    * vector to its best coarse cell (max exact dot, ties to the smaller
    * cid — the [[bestCellId]] order, replayed driver-side), subtract the
    * centroid, and k-means each residual block. On clustered corpora the
    * codes then only span cell-LOCAL variance — better codes at equal
    * m·ks than the raw-vector codebook. A sample smaller than ks fits
    * min(ks, sample) centers per block (the k-means seeding bound) — the
    * embedded codebook records the FITTED size, and every consumer reads
    * it back from the index, so a small-bootstrap index stays
    * self-consistent at reduced resolution.
    */
  private[ext] def fitResidualCodebook(
      sample: Array[Array[Double]], centers: Array[Array[Double]],
      m: Int, ks: Int, iters: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "residual codebook needs a training sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim is not divisible by m=$m blocks")
    val bd = dim / m
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) { s += a(j) * b(j); j += 1 }
      s
    }
    val residuals = sample.map { x =>
      var best = 0; var bestDot = Double.NegativeInfinity
      var i = 0
      while (i < centers.length) {
        val d = dot(x, centers(i))
        if (d > bestDot) { bestDot = d; best = i } // strict > keeps smaller cid on ties
        i += 1
      }
      val r = new Array[Double](dim)
      var j = 0
      while (j < dim) { r(j) = x(j) - centers(best)(j); j += 1 }
      r
    }
    (0 until m).map { b =>
      val blockVecs = residuals.map(v =>
        java.util.Arrays.copyOfRange(v, b * bd, (b + 1) * bd))
      euclideanKMeans(blockVecs, ks, iters)
    }.toArray
  }

  /** Residual codebook rows for embedding in the index table (the third
    * row kind): `(_cid = -1, _id = null, _pc = [block, code],
    * _v = sub-centroid, _n = null)` — the index stays ONE self-contained
    * parquet table; probes MUST use the codebook the codes were written
    * with, so shipping it inside the index removes the
    * model-index-mismatch failure mode entirely.
    */
  private[ext] def residualCodebookRows(
      spark: org.apache.spark.sql.SparkSession,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val rows = for {
      (blockCs, b) <- cb.zipWithIndex
      (cv, t) <- blockCs.zipWithIndex
    } yield (-1L, Array(b, t).toSeq, cv.toSeq)
    spark.createDataFrame(rows.toIndexedSeq)
      .toDF("_cid", "_pc", "_v")
      .select(col("_cid"), col("_pc").cast("array<int>"),
        col("_v").cast("array<double>"))
  }

  /** Read an index's embedded residual codebook back (None for a
    * raw-codebook index) — one bounded, declared driver collect of m·ks
    * rows, the [[collectCentroids]] pattern. Cost posture: every probe/
    * screen/assign call pays this read once at construction. On a SAVED
    * index the `_cid = -1` predicate pushes into parquet and a raw index
    * answers from row-group statistics alone (all groups have _cid ≥ 0 —
    * a footer-only read); an UNSAVED chain-backed index re-executes its
    * build DAG for the probe, which is one more reason the index is a
    * save-the-postings investment (SCALING.md).
    */
  private[ext] def collectResidualCodebook(
      index: DataFrame): Option[Array[Array[Array[Double]]]] = {
    val rows = index.where(col("_cid") === -1 && col("_id").isNull)
      .select(col("_pc").cast("array<int>"), col("_v").cast("array<double>"))
      .collect()
    if (rows.isEmpty) None
    else {
      val m = rows.map(_.getSeq[Int](0).head).max + 1
      val ks = rows.map(_.getSeq[Int](0)(1)).max + 1
      require(rows.length == m * ks,
        s"embedded residual codebook must cover blocks 0..${m - 1} × codes " +
          s"0..${ks - 1} contiguously, got ${rows.length} rows")
      val out = Array.ofDim[Array[Double]](m, ks)
      rows.foreach { r =>
        val bc = r.getSeq[Int](0)
        out(bc.head)(bc(1)) = r.getSeq[Double](1).toArray
      }
      Some(out.map(_.toArray))
    }
  }

  /** Trained centroids as a broadcastable frame `(_cid, _cv, _cn)`;
    * `_cn` is 1.0 — spherical k-means returns unit-normalized centers.
    * (Lives here, not in the value class: closures can't nest there.)
    */
  private[ext] def centroidFrame(
      spark: org.apache.spark.sql.SparkSession,
      centers: Array[Array[Double]]): DataFrame =
    spark.createDataFrame(centers.zipWithIndex.toIndexedSeq.map { case (v, i) =>
      (i.toLong, v)
    }).toDF("_cid", "_cv").withColumn("_cn", lit(1.0))

  /** Mean + covariance + Jacobi eigendecomposition of a bounded training
    * sample, emitted as the [[SimilarityOps.pcaFit]] model frame. (Lives
    * here, not in the value class: `createDataFrame`'s implicit encoder
    * can't materialize there.) All arithmetic runs in a fixed driver-side
    * order, so the model is bit-reproducible.
    */
  private[ext] def fitPcaModel(
      spark: org.apache.spark.sql.SparkSession,
      sample: Array[Array[Double]],
      dim: Int): DataFrame = {
    val d = sample(0).length
    val n = sample.length
    val mean = new Array[Double](d)
    sample.foreach { v => var i = 0; while (i < d) { mean(i) += v(i); i += 1 } }
    var mi = 0
    while (mi < d) { mean(mi) /= n; mi += 1 }
    val cov = Array.ofDim[Double](d, d)
    val cent = new Array[Double](d)
    sample.foreach { v =>
      var i = 0
      while (i < d) { cent(i) = v(i) - mean(i); i += 1 }
      i = 0
      while (i < d) {
        var j = i
        while (j < d) { cov(i)(j) += cent(i) * cent(j); j += 1 }
        i += 1
      }
    }
    var ci = 0
    while (ci < d) {
      var j = ci
      while (j < d) { cov(ci)(j) /= (n - 1); cov(j)(ci) = cov(ci)(j); j += 1 }
      ci += 1
    }
    val (eigvals, eigvecs) = jacobiEig(cov)
    val order = (0 until d).sortBy(j => (-eigvals(j), j)).take(dim)
    val totalVar = eigvals.map(math.max(0.0, _)).sum
    val rows = order.zipWithIndex.map { case (j, pc) =>
      val axis = Array.tabulate(d)(i => eigvecs(i)(j))
      // fixed sign: the largest-|coordinate| entry (first on ties) is positive
      var best = 0
      var i = 1
      while (i < d) { if (math.abs(axis(i)) > math.abs(axis(best))) best = i; i += 1 }
      val signed = if (axis(best) < 0) axis.map(-_) else axis
      val ev = math.max(0.0, eigvals(j))
      (pc.toLong, ev, if (totalVar > 0) ev / totalVar else 0.0,
        signed.toSeq, mean.toSeq)
    }
    spark.createDataFrame(rows.toIndexedSeq)
      .toDF("_pc", "_eigval", "_explained", "_axis", "_mean")
  }

  /** Symmetric eigendecomposition by cyclic Jacobi on the driver —
    * deterministic (fixed (p,q) sweep order, fixed convergence test), the
    * right tool for the small d×d covariance of [[SimilarityOps.pcaFit]]
    * (d = embedding dim; cost O(d³) per sweep, ~8 sweeps at d=64).
    * Returns (eigenvalues, V) with eigenvector j in COLUMN j of V.
    */
  private[ext] def jacobiEig(
      aIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = aIn.length
    val a = Array.tabulate(n, n)((i, j) => aIn(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    val scale = math.max(off(), {
      var s = 0.0; var i = 0; while (i < n) { s += a(i)(i) * a(i)(i); i += 1 }; s
    })
    val tol = math.max(scale * 1e-26, Double.MinPositiveValue)
    var sweep = 0
    while (sweep < 100 && off() > tol) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val cos = 1.0 / math.sqrt(t * t + 1.0)
            val sin = t * cos
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = cos * akp - sin * akq
              a(k)(q) = sin * akp + cos * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = cos * apk - sin * aqk
              a(q)(k) = sin * apk + cos * aqk
              k += 1
            }
            k = 0
            while (k < n) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = cos * vkp - sin * vkq
              v(k)(q) = sin * vkp + cos * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Spherical k-means on the driver: k-means++ seeding (deterministic
    * PRNG), assign by max dot product, recenter to the normalized mean.
    * Bounded: `vecs` is a capped sample, `iters` a fixed iteration count.
    * Empty cells re-seed deterministically from the worst-served vectors
    * (lowest best-dot first, one per empty cell).
    */
  private[ext] def sphericalKMeans(
      vecs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(vecs.nonEmpty, "k-means needs a non-empty training sample")
    val dim = vecs(0).length
    def norm(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val xs = vecs.map(norm)
    val rnd = new scala.util.Random(42)
    // k-means++ seeding on angular distance (1 - dot)
    val centers = scala.collection.mutable.ArrayBuffer(xs(rnd.nextInt(xs.length)))
    while (centers.length < math.min(k, xs.length)) {
      val d2 = xs.map { x =>
        var best = Double.MinValue
        centers.foreach { ct =>
          var d = 0.0; var j = 0
          while (j < dim) { d += x(j) * ct(j); j += 1 }
          if (d > best) best = d
        }
        val dist = math.max(0.0, 1.0 - best)
        dist * dist
      }
      val total = d2.sum
      if (total == 0.0) centers += xs(rnd.nextInt(xs.length))
      else {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < xs.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
        centers += xs(i)
      }
    }
    var cs = centers.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Int](cs.length)
      val bestDots = new Array[Double](xs.length)
      var xi = 0
      while (xi < xs.length) {
        val x = xs(xi)
        var best = 0; var bestDot = Double.MinValue
        var ci = 0
        while (ci < cs.length) {
          var d = 0.0; var j = 0
          while (j < dim) { d += x(j) * cs(ci)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = ci }
          ci += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += x(j); j += 1 }
        counts(best) += 1
        bestDots(xi) = bestDot
        xi += 1
      }
      // empty cells re-seed deterministically from the worst-served vectors
      // (lowest best-dot, index-ascending tiebreak, one vector per cell) —
      // a dead centroid would waste one of nlist cells forever; the re-seed
      // points it at the region the current centers explain worst
      val empties = cs.indices.filter(counts(_) == 0)
      val reseeds: Iterator[Array[Double]] =
        if (empties.isEmpty) Iterator.empty
        else xs.indices.sortBy(i => (bestDots(i), i)).iterator.map(xs)
      cs = cs.indices.map { ci =>
        if (counts(ci) == 0) { if (reseeds.hasNext) reseeds.next() else cs(ci) }
        else norm(sums(ci))
      }.toArray
      it += 1
    }
    cs
  }
}
