package graft.ext

import graft.core.{Chain, Exact}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines: MinHash+LSH,
  * SimHash, exact n-gram Jaccard, and embedding-cosine — each as a
  * candidate-pair producer `(id_a, id_b, score)`.
  *
  * Scale posture: MinHash/SimHash are the 100 TB paths — candidate
  * generation is a shuffle on band buckets (no O(n²) pair space); oversized
  * buckets (degenerate bands) are dropped with a declared cap, the standard
  * guard against hot keys. The exact-Jaccard op is the verification/oracle
  * path and is only all-pairs when given no candidate set.
  */
final class DedupOps(private val c: Chain) extends AnyVal {
  import DedupOps._

  /** minhash_lsh(id, text): word-shingle MinHash signatures banded into
    * buckets; pairs sharing a band bucket are emitted with their estimated
    * Jaccard (fraction of agreeing minhashes). numHashes = bands × rows.
    */
  def minhashLsh(
      idCol: String,
      textCol: String,
      shingleWords: Int = 3,
      numHashes: Int = 32,
      bands: Int = 4,
      estThreshold: Double = 0.8,
      maxBucket: Int = 1000): Chain = {
    val rows = numHashes / bands
    // tokens → hashed shingles → signature, all in native codegen kernels
    // (one pass, two hash mixes per shingle); the repartition is a
    // materialization barrier: both bucket-join sides read this one
    // exchange (a ReusedExchange), so the signature is computed once
    val sh = graft.functions.ShingleHashes(TextOps.tokens(col(textCol)), shingleWords)
    val sigs = c.df.select(col(idCol).as("_id"),
      graft.functions.Sketches.minhashSignature(sh, numHashes).as("_mh"))
      .repartition(col("_id"))
    val banded = sigs.select(col("_id"), col("_mh"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b) +: (0 until rows).map(r => col("_mh")(b * rows + r)): _*)): _*))
        .as(Seq("_band", "_bh")))
    // drop degenerate buckets (declared cap — hot-key guard)
    val sized = banded
      .withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_band"), col("_bh"))))
      .where(col("_bsz") <= maxBucket)
    val l = sized.select(col("_band"), col("_bh"), col("_id").as("id_a"), col("_mh").as("_mha"))
    val r = sized.select(col("_band"), col("_bh"), col("_id").as("id_b"), col("_mh").as("_mhb"))
    val pairs = l.join(r, Seq("_band", "_bh")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.functions.PositionAgreeCount(col("_mha"), col("_mhb"))
          .cast("double") / numHashes).as("est_jaccard"))
      .distinct()
      .where(col("est_jaccard") >= estThreshold)
    c.next("dedup_minhash", pairs, None)
  }

  /** minhash_index(id, text): the persistent half of INCREMENTAL dedup —
    * this corpus's banded MinHash postings as rows `(_bh, _id, _mh)`
    * (band-bucket hash, doc id, full signature). Save once with
    * `saveBucketed(name, Seq("_bh"), n)`: every future ingest batch then
    * probes the index with NO index-side shuffle (the bucketed layout
    * already satisfies the join distribution) and, crucially, without
    * re-mining the historical corpus — the alternative, re-running pair
    * mining over old ∪ new, re-shuffles 100 TB on every ingest.
    *
    * The band id is mixed into the bucket hash, so `_bh` alone is the join
    * key; a cross-band 64-bit hash collision only creates an extra
    * candidate that signature verification then rejects. Oversized buckets
    * are dropped at BUILD time (`maxBucket`, the usual hot-key guard) AND
    * re-checked at probe time over the accumulated postings — per-batch
    * appends each pass the build-time cap locally while their union does
    * not. Build parameters (numHashes, bands, shingleWords) are persisted
    * as constant metadata columns and validated on probe.
    */
  def minhashIndex(
      idCol: String,
      textCol: String,
      shingleWords: Int = 3,
      numHashes: Int = 32,
      bands: Int = 4,
      maxBucket: Int = 1000): Chain = {
    val banded = DedupOps.bandedMinhash(c.df, idCol, textCol, shingleWords, numHashes, bands)
    val sized = banded
      .withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_bh"))))
      .where(col("_bsz") <= maxBucket)
      // build parameters ride along as constant columns (RLE'd to nothing in
      // parquet): dedupAgainstIndex validates EVERY one — a bands or
      // shingleWords mismatch keeps the signature width identical while
      // producing disjoint band hashes, i.e. a probe that silently drops
      // nothing; the metadata makes that loud instead.
      .select(col("_bh"), col("_id"), col("_mh"),
        lit(numHashes).as("_nh"), lit(bands).as("_bands"),
        lit(shingleWords).as("_sw"))
    c.next("minhash_index", sized, None)
  }

  /** dedup_against_index(index, id, text): the probe half of INCREMENTAL
    * dedup — drop every batch row whose estimated Jaccard against ANY
    * indexed document reaches `estThreshold`; survivors keep all columns.
    * `index` is a [[minhashIndex]] frame or the saved bucketed table
    * (`spark.table(name)`).
    *
    * Scale shape: the batch's banded keys equi-join the index on `_bh` —
    * with a bucketed index the index side neither shuffles nor re-scans
    * beyond the probed buckets, and AQE broadcasts the (small) batch side.
    * Verification is one codegen signature-agreement count per candidate;
    * the final anti-join removes dropped ids. Build parameters must match
    * the index's: every persisted build parameter (numHashes, bands,
    * shingleWords) is validated up front — any mismatch would silently
    * produce disjoint band hashes and a probe that drops nothing.
    */
  def dedupAgainstIndex(
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 3,
      numHashes: Int = 32,
      bands: Int = 4,
      estThreshold: Double = 0.8,
      maxBucket: Int = 1000): Chain = {
    require(Seq("_bh", "_id", "_mh").forall(index.columns.contains),
      s"index must have columns (_bh, _id, _mh) from minhashIndex; got ${index.columns.mkString(", ")}")
    // loud build-parameter guard, checked eagerly on ONE index row (bounded
    // declared action): ANY mismatched build parameter — numHashes, bands,
    // shingleWords — yields disjoint band hashes, so the probe would
    // silently drop NOTHING rather than error at runtime. numHashes is
    // cross-checked against the physical signature width; bands and
    // shingleWords come from the metadata columns minhashIndex persists
    // (pre-metadata indexes fall back to the width-only check).
    val hasMeta = Seq("_nh", "_bands", "_sw").forall(index.columns.contains)
    val metaCols = size(col("_mh")).as("_w") +:
      (if (hasMeta) Seq(col("_nh"), col("_bands"), col("_sw")) else Nil)
    index.select(metaCols: _*).limit(1).collect().headOption.foreach { r =>
      require(r.getInt(0) == numHashes,
        s"dedup_against_index: batch numHashes=$numHashes but index signature width is ${r.getInt(0)}")
      if (hasMeta) {
        require(r.getAs[Int]("_nh") == numHashes,
          s"dedup_against_index: batch numHashes=$numHashes but index was built with numHashes=${r.getAs[Int]("_nh")}")
        require(r.getAs[Int]("_bands") == bands,
          s"dedup_against_index: batch bands=$bands but index was built with bands=${r.getAs[Int]("_bands")}")
        require(r.getAs[Int]("_sw") == shingleWords,
          s"dedup_against_index: batch shingleWords=$shingleWords but index was built with shingleWords=${r.getAs[Int]("_sw")}")
      }
    }
    val banded = DedupOps.bandedMinhash(c.df, idCol, textCol, shingleWords, numHashes, bands)
    val probe = banded.select(col("_id"), col("_bh"), col("_mh"))
    // probe-time hot-bucket guard: postings APPENDED across many ingest
    // batches can accumulate past the build-time cap (each batch's window
    // only saw its own rows), re-creating the join skew the cap exists to
    // prevent — so the bound is re-checked here over the ACCUMULATED
    // bucket. On a bucketed index table the window's required distribution
    // is already satisfied by the layout, so this adds no index-side
    // exchange (spec-asserted in ScaleOpsSpec).
    val idx = index
      .withColumn("_ibsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_bh"))))
      .where(col("_ibsz") <= maxBucket)
      .select(col("_bh"), col("_mh").as("_imh"))
    val est = graft.functions.PositionAgreeCount(col("_mh"), col("_imh"))
      .cast("double") / numHashes
    val dropIds = probe.join(idx, Seq("_bh"))
      .where(est >= estThreshold)
      .select(col("_id")).distinct()
    val survivors = c.df.join(dropIds, c.df(idCol) === dropIds("_id"), "left_anti")
    c.next("dedup_against_index", survivors, None)
  }

  /** simhash(id, text): 64-bit token-hash sign sketch; candidate pairs share
    * one of four 16-bit bands and have Hamming distance ≤ maxHamming.
    */
  def simhashPairs(
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): Chain = {
    // native codegen SimHash64 kernel over the token array; barrier: both
    // bucket-join sides read this one exchange (a ReusedExchange), so the
    // signature is computed once
    val withSig = c.df.select(col(idCol).as("_id"),
      graft.functions.Sketches.simhash64(TextOps.tokens(col(textCol))).as("_sim"))
      .repartition(col("_id"))
    val banded = withSig.select(col("_id"), col("_sim"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("_sim"), b * 16).bitwiseAND(lit(0xffffL))): _*)).as(Seq("_band", "_bh")))
    val sized = banded
      .withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_band"), col("_bh"))))
      .where(col("_bsz") <= maxBucket)
    val l = sized.select(col("_band"), col("_bh"), col("_id").as("id_a"), col("_sim").as("_sa"))
    val r = sized.select(col("_band"), col("_bh"), col("_id").as("id_b"), col("_sim").as("_sb"))
    val pairs = l.join(r, Seq("_band", "_bh")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("_sa").bitwiseXOR(col("_sb"))).cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
    c.next("dedup_simhash", pairs, None)
  }

  /** ngram_jaccard(id, text): exact word n-gram set Jaccard between all
    * pairs above a threshold. Two strategies, auto-selected:
    *
    * - threshold ≥ 0.7: prefix-filtered similarity join (PPJoin lineage,
    *   SIGMOD'08) — jaccard ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉, so any qualifying pair
    *   shares an element within the first |A|−⌈t·|A|⌉+1 sorted shingles;
    *   only those prefixes are exploded and equi-joined, then candidates
    *   are verified with the codegen merge-count kernel
    *   ([[graft.functions.SortedArrayIntersectCount]]). At t=0.9 the
    *   exploded volume is ~10% of the full inverted index.
    * - threshold < 0.7 (prefixes approach whole sets): inverted-index
    *   count join — explode all shingles, equi-join on the shingle, count
    *   matches per pair, |A∪B| = |A|+|B|−|A∩B|.
    *
    * Both are exact (the prefix theorem guarantees no pair ≥ t is missed)
    * and avoid any O(n²) cross join.
    */
  def ngramJaccardPairs(
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.9,
      measure: String = "jaccard"): Chain = {
    require(Seq("jaccard", "containment").contains(measure),
      s"measure must be jaccard or containment, got $measure")
    // tokens → sorted distinct 64-bit shingle hashes in one codegen pass
    // (graft.functions.ShingleHashes): every downstream shuffle, sort and
    // merge-compare is over fixed-width longs instead of shingle strings.
    // The repartition is a materialization barrier: the postings explode
    // and the id_a / id_b verification join-backs read this one exchange
    // (a ReusedExchange), so the kernel runs once per document.
    val side = c.df.select(col(idCol).as("_id"),
        graft.functions.ShingleHashes(TextOps.tokens(col(textCol)), n).as("_sh"))
      .withColumn("_sz", size(col("_sh")))
      .repartition(col("_id"))
    // the PPJoin prefix/length/positional filters are JACCARD theorems
    // (containment ≥ t puts no bound on the size RATIO — a 10-gram doc
    // fully inside a 10⁶-gram doc scores 1.0), so the containment measure
    // always takes the inverted-index strategy, which enumerates exactly
    // the pairs sharing ≥ 1 shingle — complete for any positive threshold
    val pairs =
      if (measure == "jaccard" && threshold >= 0.7) {
        // PPJoin's essential trick: order the shingle universe by ASCENDING
        // document frequency so every prefix holds the RAREST shingles —
        // candidate pairs must share a rare shingle, which collapses the
        // prefix-join volume. Each document's prefix (its sz−⌈t·sz⌉+1
        // rarest shingles) falls out of one window over (df, hash); the
        // verification merge uses the plain hash-sorted arrays (hash
        // equality implies identical df, so any consistent order works).
        val ex0 = side.select(col("_id"), col("_sz"), explode(col("_sh")).as("_h"))
        val dfreq = ex0.groupBy(col("_h")).agg(count(lit(1)).as("_df"))
        val byRarity = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_id")).orderBy(col("_df"), col("_h"))
        // the repartition on _h is a materialization barrier AND the join
        // distribution: both self-join sides reuse ONE exchange (the
        // df-join + rarity window run once, not once per side) and arrive
        // already hash-partitioned on the join key
        val ex = ex0.join(dfreq, Seq("_h"))
          .withColumn("_rn", row_number().over(byRarity))
          .where(col("_rn") <= col("_sz") - ceil(lit(threshold) * col("_sz")).cast("int") + 1)
          .select(col("_id"), col("_sz"), col("_rn"), col("_h"))
          .repartition(col("_h"))
        // length filter IN candidate generation (PPJoin proper): jaccard ≥ t
        // forces |A|/|B| ∈ [t, 1/t], so size-incompatible pairs never reach
        // the distinct or the verification join-backs.
        //
        // POSITIONAL filter (the other half of PPJoin): a shared element at
        // 1-based rarity positions (i, j) bounds the overlap by
        // 1 + min(|A|−i, |B|−j) — everything shared besides it sits strictly
        // AFTER both positions in the global rarity order. jaccard ≥ t needs
        // overlap ≥ t/(1+t)·(|A|+|B|); a qualifying pair's FIRST common
        // element always passes the bound (its suffixes contain the whole
        // overlap), so keeping pairs where ANY shared prefix row passes is
        // exact — while candidates whose only shared prefix elements sit too
        // deep die before the distinct and the verification join-backs. The
        // 1e-9 slack keeps double rounding from over-pruning an
        // integer-boundary bound.
        val overlapBound = lit(threshold / (1.0 + threshold))
        val candidates = ex.select(col("_id").as("id_a"), col("_sz").as("_pa"),
            col("_rn").as("_ra"), col("_h"))
          .join(ex.select(col("_id").as("id_b"), col("_sz").as("_pb"),
            col("_rn").as("_rb"), col("_h")), Seq("_h"))
          .where(col("id_a") < col("id_b") &&
            col("_pa") >= ceil(lit(threshold) * col("_pb")) &&
            col("_pb") >= ceil(lit(threshold) * col("_pa")) &&
            (lit(1) + least(col("_pa") - col("_ra"), col("_pb") - col("_rb"))).cast("double")
              >= overlapBound * (col("_pa") + col("_pb")).cast("double") - lit(1e-9))
          .select(col("id_a"), col("id_b")).distinct()
        candidates
          .join(side.select(col("_id").as("id_a"), col("_sh").as("_sha"), col("_sz").as("_sza")), Seq("id_a"))
          .join(side.select(col("_id").as("id_b"), col("_sh").as("_shb"), col("_sz").as("_szb")), Seq("id_b"))
          .withColumn("_inter",
            graft.functions.SortedArrayIntersectCount(col("_sha"), col("_shb")))
      } else {
        // inverted-index count join; set sizes ride along the exploded rows
        // and through the pair groupBy (functionally dependent on the ids),
        // so no join-back against the document sides is needed. The _h
        // repartition is the shared barrier + join distribution: both
        // self-join sides reuse one exchange of the exploded postings
        val ex = side.select(col("_id"), col("_sz"), explode(col("_sh")).as("_h"))
          .repartition(col("_h"))
        ex.select(col("_id").as("id_a"), col("_sz").as("_sza"), col("_h"))
          .join(ex.select(col("_id").as("id_b"), col("_sz").as("_szb"), col("_h")), Seq("_h"))
          .where(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"), col("_sza"), col("_szb"))
          .agg(count(lit(1)).cast("int").as("_inter"))
      }
    val score = measure match {
      case "jaccard" => col("_inter").cast("double") /
        (col("_sza") + col("_szb") - col("_inter")).cast("double")
      // overlap coefficient: |A∩B| / min(|A|,|B|) — the subset-document
      // detector (boilerplate wrappers, quote-with-commentary, excerpts)
      case "containment" => col("_inter").cast("double") /
        least(col("_sza"), col("_szb")).cast("double")
    }
    val scored = pairs.select(col("id_a"), col("id_b"), score.as(measure))
      .where(col(measure) >= threshold)
    c.next(s"dedup_ngram_$measure", scored, None)
  }

  /** embedding_cosine_pairs(id, vec): ALL pairs with exact cosine ≥
    * threshold over an embedding column (exact decimal dot products —
    * partitioning-independent results).
    *
    * Exact pair mining at a near-noise threshold is inherently Ω(n²) —
    * when qualifying pairs sit within a few σ of the random-cosine floor
    * (the test data's 0.4 pairs do), no bucketing scheme can prune without
    * missing pairs. The plan makes that unavoidable quadratic stage cheap
    * and distributed instead of pretending it away:
    *
    *  1. one codegen pass sketches each vector to `planes` hyperplane sign
    *     bits ([[graft.functions.SignSketch]]);
    *  2. the quadratic stage is an exhaustive BLOCK equi-join carrying
    *     only `(id, sketch)` — left rows keyed by `hash(id) mod blocks`,
    *     right rows replicated once per block, joined on the block id:
    *     every unordered pair meets exactly once, the physical plan is a
    *     partitioned shuffle join (never CartesianProduct), and each pair
    *     costs an XOR+popcount Hamming check;
    *  3. pairs within the Hamming acceptance bound (mean + 6σ at the
    *     threshold angle — `P[bit differs] = θ/π`, so a qualifying pair
    *     fails with P < 1e-9) join their vectors back for the exact
    *     rerank; the exact `cosine >= threshold` filter makes the final
    *     answer identical to the all-pairs formulation.
    *
    * At production near-dup thresholds (≥ 0.7) prefer [[minhashLsh]] /
    * [[simhashPairs]] — sub-quadratic candidate generation. `maxRows`
    * guards the quadratic stage: above it, this op refuses and points to
    * the sketch paths (raise it deliberately for verification runs).
    */
  def embeddingCosinePairs(idCol: String, vecCol: String, threshold: Double,
                           planes: Int = 1024, blocks: Int = 32,
                           maxRows: Long = 1000000L): Chain = {
    // declared size guard on the quadratic stage
    val n = graft.core.CheckpointProbe.scalars(c.df, "_n" -> count(lit(1))).head
      .asInstanceOf[Long]
    require(n <= maxRows,
      s"embeddingCosinePairs is exact and Ω(n²): corpus has $n rows > maxRows=$maxRows; " +
        "use minhashLsh/simhashPairs for sub-quadratic near-dup mining or raise maxRows deliberately")
    // zero-norm/NaN vectors never pair: their NaN cosine passes
    // `>= threshold` (NaN compares greatest) and one such vector would
    // merge everything it meets into a single bogus cluster
    val base = SimilarityOps.withNorm(c.df, idCol, vecCol, "_id", "_v", "_norm")
      .withColumn("_sk", graft.functions.SignSketch(col("_v"), planes))
      // barrier: the id_a / id_b join-backs read this one exchange (a
      // ReusedExchange), so the norm is computed once per vector
      .repartition(col("_id"))
    // Hamming acceptance: bits disagree w.p. θ/π per plane; qualifying
    // pairs (cos >= threshold) have mean planes·θ/π and σ² = planes·p(1-p)
    val p = math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val hamTau = math.ceil(planes * p + 6.0 * math.sqrt(planes * p * (1 - p))).toInt
    val l = base.select(col("_id").as("id_a"), col("_sk").as("_ska"))
      .withColumn("_blk", pmod(xxhash64(col("id_a")), lit(blocks)))
    val r = base.select(col("_id").as("id_b"), col("_sk").as("_skb"))
      .withColumn("_blk", explode(sequence(lit(0L), lit(blocks - 1L))))
    val candidates = l.join(r, Seq("_blk"))
      .where(col("id_a") < col("id_b"))
      .where(graft.functions.SignSketch.hamming(col("_ska"), col("_skb")) <= hamTau)
      .select(col("id_a"), col("id_b"))
    val cos = Exact.dot(col("_va"), col("_vb")) / col("_na") / col("_nb")
    val pairs = candidates
      .join(base.select(col("_id").as("id_a"), col("_v").as("_va"), col("_norm").as("_na")), Seq("id_a"))
      .join(base.select(col("_id").as("id_b"), col("_v").as("_vb"), col("_norm").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("cosine"))
      .where(col("cosine") >= threshold)
    c.next("dedup_embedding", pairs, None)
  }

  /** dup_spans(id, text, window_tokens): maximal token ranges of each
    * document covered by some `windowTokens`-token window that appears
    * verbatim in at least one OTHER document — span-level exact dedup
    * (the "Deduplicating Training Data Makes Language Models Better"
    * substring pass, windowed instead of suffix-array'd: a shared
    * substring of ≥ w tokens always contains a shared w-token window, so
    * windowed detection finds exactly the ≥ w-token duplicated regions).
    * Output: `(id, span_start, span_end)` — token offsets into the
    * normalized (lowercased, whitespace-split) token stream, half-open.
    *
    * Scale shape: one codegen pass hashes every window position
    * ([[graft.functions.WindowHashes]]), one shuffle on the window hash
    * finds cross-document windows (the repartition is the shared barrier:
    * the frequency aggregate and the join-back reuse ONE exchange), one
    * shuffle on the id merges overlapping windows into maximal spans via
    * running-max interval islands. Linear in total tokens — the same
    * Θ(total windows) as the suffix-array formulation, with no global
    * sort. Hash equality stands in for window equality (64-bit; collision
    * odds as documented on [[graft.functions.ShingleHashes]]).
    */
  def dupSpans(idCol: String, textCol: String, windowTokens: Int = 16): Chain = {
    require(windowTokens >= 2, s"windowTokens must be >= 2, got $windowTokens")
    val wh = c.df.select(col(idCol),
        posexplode(graft.functions.WindowHashes(TextOps.tokens(col(textCol)), windowTokens))
          .as(Seq("_pos", "_h")))
    // "window appears in ≥ 2 documents" ⟺ min(id) ≠ max(id) over the hash
    // partition — one window pass on ONE exchange of the exploded windows.
    // (The aggregate-then-join-back formulation scans and hashes the corpus
    // twice: column pruning specializes each branch's exchange, so Catalyst
    // can't reuse one for the other.)
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("_h"))
    val hits = wh
      .withColumn("_mn", min(col(idCol)).over(byHash))
      .withColumn("_mx", max(col(idCol)).over(byHash))
      .where(col("_mn") =!= col("_mx"))
      .select(col(idCol), col("_pos"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_pos"))
    // interval islands: a window starts a new span iff it begins past the
    // running max end of everything before it (touching windows merge —
    // the covered token union is what a span is)
    val prevMaxEnd = max(col("_pos") + windowTokens)
      .over(w1.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    val spans = hits
      .withColumn("_brk", when(prevMaxEnd.isNull || col("_pos") > prevMaxEnd, 1).otherwise(0))
      .withColumn("_gid", sum(col("_brk")).over(
        w1.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_gid"))
      .agg(min(col("_pos")).as("span_start"),
        (max(col("_pos")) + windowTokens).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
    c.next("dup_spans", spans, None)
  }

  /** strip_dup_spans(id, text, window_tokens): remove cross-document
    * duplicated windows from every document EXCEPT the smallest-id owner
    * of each window — one copy of every duplicated region survives the
    * corpus (the span-removal counterpart of [[dupSpans]]; doc-level
    * dedup throws away whole documents for one boilerplate footer, this
    * keeps the unique remainder). Adds `<text>_stripped`: the surviving
    * tokens of the NORMALIZED token stream, space-joined ('' when the
    * whole document was duplicated elsewhere).
    *
    * Same linear shape as [[dupSpans]] plus one anti-join of token
    * positions against covered positions and a per-document ordered
    * reassembly (sort_array over (pos, token) structs — per-row work,
    * no extra shuffle beyond the id aggregation).
    */
  def stripDupSpans(idCol: String, textCol: String, windowTokens: Int = 16): Chain = {
    require(windowTokens >= 2, s"windowTokens must be >= 2, got $windowTokens")
    val wh = c.df.select(col(idCol),
        posexplode(graft.functions.WindowHashes(TextOps.tokens(col(textCol)), windowTokens))
          .as(Seq("_pos", "_h")))
    // owner = min(id) over the hash partition; a row needs stripping iff its
    // id isn't the owner (which already implies ≥ 2 docs share the window).
    // Same single-exchange shape as [[dupSpans]] — no aggregate join-back.
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("_h"))
    val covered = wh
      .withColumn("_own", min(col(idCol)).over(byHash))
      .where(col(idCol) =!= col("_own"))
      .select(col(idCol),
        explode(sequence(col("_pos"), col("_pos") + windowTokens - 1)).as("_tp"))
      .distinct()
    val toks = c.df.select(col(idCol),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("_tp", "_tok")))
    val kept = toks.join(covered, Seq(idCol, "_tp"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("_tp"), col("_tok")))).as("_ordered"))
      .select(col(idCol),
        concat_ws(" ", transform(col("_ordered"), x => x.getField("_tok"))).as("_stripped"))
    val out = graft.core.Naming.cleanse(s"${textCol}_stripped")
    val df2 = c.df.join(rebuilt, Seq(idCol), "left")
      .withColumn(out, coalesce(col("_stripped"), lit("")))
      .drop("_stripped")
    c.next("strip_dup_spans", df2, None)
  }

  /** fuzzy_pairs(id, str, max_dist): edit-distance pair mining — every
    * unordered pair of rows whose strings sit within `maxDist` Levenshtein
    * edits, as `(id_a, id_b, dist)` with `id_a` the smaller id. The
    * entity-resolution primitive lexical shingles miss (typo'd names, IDs
    * off by a keystroke, OCR noise); null strings never pair.
    *
    * Candidate generation is PassJoin's pigeonhole partitioning (Li,
    * Deng, Feng — VLDB'11 family; public literature): the SHORTER string
    * of a pair (ties by id) is cut into maxDist+1 contiguous segments —
    * at edit distance ≤ maxDist at least one segment survives unedited
    * and appears EXACTLY in the longer string, shifted at most maxDist
    * positions. The short side emits its maxDist+1 segments; the long
    * side emits the substrings such a segment could occupy: (Δlen+1
    * candidate short-lengths) × (maxDist+1 segments) × (≤ 2·maxDist+1
    * shifts) keys — O(maxDist³) per row, CONSTANT in corpus size. Pairs
    * then equi-join on (short-length, segment-index, segment-text) —
    * bucketed by segment text, never all-pairs — dedupe to one candidate
    * per pair, and verify with the threshold-bounded Levenshtein kernel
    * (early-abandons above maxDist).
    *
    * Strings shorter than 2·maxDist+1 fall below the pigeonhole's working
    * regime (segments degenerate toward single characters); any valid
    * pair whose shorter side has < maxDist+1 characters has BOTH sides
    * that short, so the tiny family all-pairs against itself through a
    * length-keyed equi join (bounded ≤ 2·maxDist+1 fan-out per row) —
    * guarded by `tinyCap` with a loud refusal, because an all-pairs face
    * must always be declared, never silent.
    */
  def fuzzyPairs(idCol: String, strCol: String, maxDist: Int,
                 tinyCap: Int = 10000): Chain = {
    require(maxDist >= 1 && maxDist <= 4,
      s"fuzzy_pairs needs max_dist in [1, 4] (candidate fan-out is cubic in it), got $maxDist")
    val k = maxDist + 1
    val base = c.df
      .select(col(idCol).as("_id"), col(strCol).as("_s"))
      .where(col("_s").isNotNull)
      .withColumn("_l", length(col("_s")))
    def pairOut(aId: Column, bId: Column, aS: Column, bS: Column) = Seq(
      least(aId, bId).as("id_a"), greatest(aId, bId).as("id_b"),
      levenshtein(aS, bS).cast("int").as("dist"))

    // tiny family: both sides of any pair whose shorter side < k chars
    // have length <= 2*maxDist — all-pairs within the (capped) tiny set
    val tinyRaw = base.where(col("_l") <= 2 * maxDist)
    // declared bounded probe, gates the cap: limit(cap+1) early-stops the
    // scan at the cap instead of counting the whole corpus — the gate
    // only needs to know WHETHER the family exceeds tinyCap, never by
    // how much
    val tinyN = tinyRaw.limit(tinyCap + 1).count()
    require(tinyN <= tinyCap,
      s"fuzzy_pairs: > $tinyCap strings of length <= ${2 * maxDist} exceed tinyCap=$tinyCap — " +
        "the sub-pigeonhole family pairs all-against-all; raise tinyCap deliberately " +
        "or pre-filter trivial strings")
    val tiny = tinyRaw.localCheckpoint() // cap-checked: at most tinyCap rows
    // all-pairs within the tiny family, expressed as a LENGTH-keyed equi
    // join (each left row fans out to the ≤ 2·maxDist+1 admissible right
    // lengths) — execution-equivalent to the broadcast theta join but
    // hash-joined, so the declared bounded fan-out lints as such
    val tinyL = tiny
      .select(col("_id").as("_ida"), col("_s").as("_sa"), col("_l").as("_la"))
      .withColumn("_lb",
        explode(array((-maxDist to maxDist).map(d => col("_la") + d): _*)))
      .where(col("_lb") >= 0 && col("_lb") <= 2 * maxDist)
    val tinyPairs = tinyL
      .join(tiny.select(col("_id").as("_idb"), col("_s").as("_sb"),
        col("_l").as("_lb")), Seq("_lb"))
      .where(col("_ida") < col("_idb") &&
        least(col("_la"), col("_lb")) < k &&
        levenshtein(col("_sa"), col("_sb"), maxDist) >= 0)
      .select(pairOut(col("_ida"), col("_idb"), col("_sa"), col("_sb")): _*)

    // pigeonhole family: shorter side (by (len, id)) indexes its k
    // segments; longer side probes every substring a surviving segment
    // could occupy. Segment j of an l-char string: the first k - l%k
    // segments take FLOOR(l/k) chars, the rest one more.
    def segLen(j: Column, l: Column) =
      floor(l / k).cast("int") + when(j >= lit(k) - l % k, 1).otherwise(0)
    def segStart(j: Column, l: Column) = // 0-based
      (floor(l / k) * j).cast("int") + greatest(lit(0), j - (lit(k) - (l % k).cast("int")))
    val idx = base.where(col("_l") >= k).select(
      col("_id"), col("_s"), col("_l"),
      explode(array((0 until k).map { j =>
        struct(col("_l").as("_kl"), lit(j).as("_kj"),
          col("_s").substr(segStart(lit(j), col("_l")) + 1, segLen(lit(j), col("_l"))).as("_kseg"))
      }: _*)).as("_k"))
    // probe keys: (delta, j, shift) over 0..maxDist × 0..k-1 × ±maxDist,
    // enumerated as ONE exploded index decoded arithmetically, so the
    // generated code holds one key expression whatever the key count (an
    // array of per-key `when(…, struct(…))` inlined 45 copies at
    // maxDist = 2 and outgrew the 64 KB method limit)
    val width = 2 * maxDist + 1
    def div(a: Column, b: Int) = floor(a / b).cast("int")
    val pk = col("_pk")
    val delta = div(pk, k * width)
    val j = div(pk, width) % k
    val shift = pk % width - maxDist
    val lp = col("_l") - delta // candidate shorter length
    val pos = segStart(j, lp) + shift
    val len = segLen(j, lp)
    val probe = base.where(col("_l") >= k)
      .select(col("_id"), col("_s"), col("_l"),
        explode(sequence(lit(0), lit((maxDist + 1) * k * width - 1))).as("_pk"))
      .where(lp >= k && pos >= 0 && pos + len <= col("_l"))
      .select(col("_id"), col("_s"), col("_l"),
        struct(lp.as("_kl"), j.as("_kj"), col("_s").substr(pos + 1, len).as("_kseg")).as("_k"))
    val cands = probe.as("e").join(idx.as("i"),
      col("e._k") === col("i._k") &&
        (col("i._l") < col("e._l") ||
          (col("i._l") === col("e._l") && col("i._id") < col("e._id"))))
      .select(col("i._id").as("_ia"), col("e._id").as("_ib"),
        col("i._s").as("_sa"), col("e._s").as("_sb"))
      .distinct()
      .where(levenshtein(col("_sa"), col("_sb"), maxDist) >= 0)
      .select(pairOut(col("_ia"), col("_ib"), col("_sa"), col("_sb")): _*)
    c.next("fuzzy_pairs", tinyPairs.unionByName(cands), None)
  }
}

object DedupOps {

  /** compact_index(table): periodic maintenance for an APPENDED minhash
    * postings table ([[DedupOps.minhashIndex]] +
    * [[graft.streaming.EventStreams.sinkDedupAppendToTable]]) — distinct
    * the postings (at-least-once replays can duplicate them; duplicates
    * are harmless to correctness but inflate every probe), drop buckets
    * whose ACCUMULATED size exceeds `maxBucket` (per-batch appends each
    * passed the build-time cap locally while their union did not —
    * dropping a degenerate bucket trades recall on boilerplate-shingle
    * bands for bounded join fan-out, the same call the build-time cap
    * makes), and rewrite in the same bucketed layout via staging + rename
    * swap (the [[graft.core.Chain.saveUpsert]] pattern: the live name is
    * never dangling). One full index rewrite — schedule it like any
    * compaction, not per batch.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                   buckets: Int, maxBucket: Int = 1000): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val idx = spark.table(table)
    require(Seq("_bh", "_id", "_mh").forall(idx.columns.contains),
      s"$table is not a minhash postings table; columns: ${idx.columns.mkString(", ")}")
    val kept = idx.distinct()
      .withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_bh"))))
      .where(col("_bsz") <= maxBucket)
      .drop("_bsz")
    val staging = s"${table}_graft_compact_staging"
    val retired = s"${table}_graft_compact_retired"
    kept.repartition(buckets, col("_bh"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, "_bh").sortBy("_bh").saveAsTable(staging)
    spark.sql(s"DROP TABLE IF EXISTS `$retired`")
    spark.sql(s"ALTER TABLE `$table` RENAME TO `$retired`")
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
    spark.sql(s"DROP TABLE `$retired`")
    spark.catalog.refreshTable(table)
  }

  /** Band count for a target Jaccard threshold: among the divisors of
    * `numHashes`, pick the b whose banded-LSH S-curve midpoint
    * `(1/b)^(r/numHashes)` (r = numHashes/b) lands closest to — preferring
    * at or below — the threshold, so pairs AT the declared threshold have
    * ≥ ~50% per-band-family candidate recall instead of inheriting a fixed
    * default tuned for a different threshold.
    */
  def bandsForThreshold(numHashes: Int, threshold: Double): Int = {
    require(numHashes > 0, s"numHashes must be positive, got $numHashes")
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    def curveMid(b: Int): Double = math.pow(1.0 / b, b.toDouble / numHashes)
    // below-threshold candidates win (higher recall at the threshold);
    // fall back to the closest overall when every curve sits above
    val below = divisors.filter(curveMid(_) <= threshold)
    val pool = if (below.nonEmpty) below else divisors
    pool.minBy(b => math.abs(curveMid(b) - threshold))
  }

  /** Word n-gram shingles; documents shorter than n words fall back to the
    * whole token array joined (one shingle).
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
  }

  /** True for the id types the cluster family runs natively (lossless
    * cast to long).
    */
  private[ext] def isIntegralId(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** Loud id-type admission for the dedup/cluster family: integral ids run
    * natively, string ids (UUID/URL keys — what real corpora use) run
    * through a collision-checked xxhash64 surrogate, anything else fails
    * HERE instead of silently null-casting downstream (the old
    * `cast("long")` turned a string-keyed corpus into all-singleton
    * clusters: dedup returned its input unchanged with no error).
    */
  private[ext] def requireClusterableId(op: String, colName: String,
                                        dt: org.apache.spark.sql.types.DataType): Unit =
    if (!isIntegralId(dt) && dt != org.apache.spark.sql.types.StringType)
      throw new IllegalArgumentException(
        s"$op: id column '$colName' must be integral (tinyint/smallint/int/bigint) " +
          s"or string, got ${dt.simpleString}; cast or relabel through a surrogate key first")

  /** Distinct (surrogate, original) id map over both pair columns of a
    * string-keyed pair frame — surrogate = xxhash64(id), checkpointed, and
    * COLLISION-CHECKED without a separate pass: the map is built as ONE
    * aggregation keyed by the surrogate (`collect_set` of the original
    * ids — size 1 everywhere unless two ids collide), and the collision
    * probe rides the checkpoint's own materialization job as observed
    * metrics ([[graft.core.CheckpointProbe]]), so detection costs zero
    * extra scans. Two distinct ids hashing to one surrogate would silently
    * merge their components, so a collision fails loudly instead.
    * P(collision) ≈ n²/2⁶⁵ — negligible below ~10⁸ ids, detected above.
    * The map's checkpoint blocks are released EAGERLY by
    * [[translateLabels]] once the translated frame is materialized — they
    * never reach the result plan.
    */
  private[ext] def surrogateIdMap(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val (m, probe) = graft.core.CheckpointProbe(pairs
      .select(explode(array(col(aCol), col(bCol))).as("_oid"))
      .where(col("_oid").isNotNull)
      .groupBy(xxhash64(col("_oid")).as("_sid"))
      .agg(collect_set(col("_oid")).as("_oids"))
      .select(element_at(col("_oids"), 1).as("_oid"), col("_sid"), size(col("_oids")).as("_k")),
      "_maxdup" -> max(col("_k")), "_nids" -> sum(col("_k")), "_nsids" -> count(lit(1)))
    val maxDup = Option(probe(0)).fold(0L)(_.asInstanceOf[Number].longValue)
    if (maxDup > 1L) {
      val nIds = Option(probe(1)).fold(0L)(_.asInstanceOf[Number].longValue)
      val nSids = Option(probe(2)).fold(0L)(_.asInstanceOf[Number].longValue)
      releaseRound(m)
      throw new IllegalStateException(
        s"xxhash64 surrogate collision among $nIds distinct ids " +
          s"(${nIds - nSids} colliding) — clustering would " +
          "silently merge unrelated documents; relabel ids through a unique " +
          "integral surrogate (e.g. a persisted dimension with a generated key)")
    }
    m
  }

  /** Type-dispatch a pair frame's id columns into a CHECKPOINTED long edge
    * frame `(a, b)` with `a = least`, `b = greatest` of the two ids (a
    * pair with one null id is the other id's self-pair; an all-null pair
    * drops), plus its row count, observed by the checkpoint job itself.
    * Integral ids cast losslessly (one materialization of the upstream
    * miner); string ids map through the collision-checked xxhash64
    * surrogate (the returned map translates labels back to original ids);
    * any other type — and mixed families — fails loudly here.
    *
    * The string path checkpoints the raw PAIR columns first and derives
    * both the surrogate map and the edge frame from that truncated frame,
    * so the upstream miner (the expensive LSH/PPJoin stage) runs ONCE —
    * not once for the map and again for the edges. The scratch pair
    * checkpoint is released here; [[components]] releases the edge frame.
    */
  private[ext] def clusterEdges(op: String, pairs: DataFrame, aCol: String,
                                bCol: String): (DataFrame, Long, Option[DataFrame]) = {
    val dtA = pairs.schema(aCol).dataType
    val dtB = pairs.schema(bCol).dataType
    requireClusterableId(op, aCol, dtA)
    requireClusterableId(op, bCol, dtB)
    if (isIntegralId(dtA) != isIntegralId(dtB))
      throw new IllegalArgumentException(
        s"$op: id columns must share a type family, got " +
          s"$aCol ${dtA.simpleString} vs $bCol ${dtB.simpleString}")
    def edges(df: DataFrame, a: Column, b: Column): (DataFrame, Long) = {
      val (e, probe) = graft.core.CheckpointProbe(
        df.select(least(a, b).as("a"), greatest(a, b).as("b")).where(col("a").isNotNull),
        "_n" -> count(lit(1)))
      (e, probe(0).asInstanceOf[Long])
    }
    if (isIntegralId(dtA)) {
      val (e, n) = edges(pairs, col(aCol).cast("long"), col(bCol).cast("long"))
      (e, n, None)
    } else {
      val p = checkpointRound(pairs.select(col(aCol), col(bCol)))
      val m = surrogateIdMap(p, aCol, bCol)
      def sid(c: String) = when(col(c).isNotNull, xxhash64(col(c)))
      val (e, n) = edges(p, sid(aCol), sid(bCol))
      releaseRound(p)
      (e, n, Some(m))
    }
  }

  /** Connected components of a pair frame: `(id, cluster_id)` for every id
    * appearing in a pair, `cluster_id` = the component's minimum id (the
    * minimum ORIGINAL id for string ids). The one engine behind
    * [[DedupClusterOps.clusterPairs]] and
    * [[DedupClusterOps.clusterPairsContraction]].
    *
    * The edge frame's row count comes from its own checkpoint job. When
    * the edges pass the iteration gate ([[iterBroadcastFits]], the same
    * `spark.graft.iterBroadcast.*` predicate that hints the loops'
    * broadcasts), they are collected once and the components close on the
    * driver by union-find ([[localComponents]]) — one job, no rounds, and
    * labels held in the plan as a local relation, so nothing is left to
    * release. Past the gate, the distributed contraction loop runs
    * ([[contractComponents]]); `maxIters` bounds only that loop.
    */
  private[ext] def components(op: String, pairs: DataFrame, aCol: String, bCol: String,
                              maxIters: Int): DataFrame = {
    val (edges, nEdges, idMap) = clusterEdges(op, pairs, aCol, bCol)
    val labels =
      if (iterBroadcastFits(edges.sparkSession, edges.schema, nEdges)) {
        val local = localComponents(edges)
        releaseRound(edges)
        local
      } else contractComponents(op, edges, maxIters)
    idMap.fold(labels)(m => translateLabels(labels, m))
  }

  /** Union-find over a collected `(a, b)` long edge frame: the node ids
    * sorted into an index, each root the smallest index (so the smallest
    * id) of its set — linking always hangs the larger root under the
    * smaller one, with path halving on every find. The edges cross to the
    * driver as one primitive array per partition, in one job.
    */
  private[ext] def localComponents(edges: DataFrame): DataFrame = {
    val parts = edges.queryExecution.toRdd.mapPartitions { rows =>
      val b = Array.newBuilder[Long]
      rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect()
    val ends = parts.flatten
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    sorted.indices.foreach { i =>
      if (i == 0 || sorted(i) != sorted(i - 1)) { sorted(n) = sorted(i); n += 1 }
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var k = 0
    while (k < ends.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, ends(k)))
      val rb = find(java.util.Arrays.binarySearch(ids, ends(k + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      k += 2
    }
    val rows = (0 until n).map { i =>
      org.apache.spark.sql.catalyst.InternalRow(ids(i), ids(find(i)))
    }
    org.apache.spark.sql.GraftBridge.localRelation(edges.sparkSession,
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType)
        .add("cluster_id", org.apache.spark.sql.types.LongType),
      rows)
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14), the distributed body of [[components]] for edge
    * frames past the iteration gate. Per round, large-star hangs every
    * node's larger neighbors onto its minimum neighbor and small-star
    * re-hangs the smaller ones; components contract to stars in
    * O(log² diameter) rounds whatever the id order along a chain, and the
    * working set is the edge list, which SHRINKS as components collapse.
    * Each round is two groupBy-min + join-back passes, both partitioned by
    * node id — no driver state. Every round is eagerly `localCheckpoint`ed
    * (truncation is load-bearing: a round reads its predecessor several
    * times, so without it the plan tree grows with rounds) and each dead
    * round's blocks are released at once. The result plan reads the `ids`
    * and final edge checkpoints; the consumer frees them with
    * [[graft.core.Chain.releaseCheckpoints]].
    */
  private def contractComponents(op: String, edgesIn: DataFrame,
                                 maxIters: Int): DataFrame = {
    val ids = checkpointRound(
      edgesIn.select(explode(array(col("a"), col("b"))).as("id")).distinct())
    // the edge count rides the checkpoint materialization
    // ([[graft.core.CheckpointProbe]]) — it drives BOTH the fixpoint
    // probe and the in-loop broadcast gate, with no separate count job
    val (edges0, edgeProbe) = graft.core.CheckpointProbe(
      edgesIn.where(col("a") =!= col("b")).distinct(), "_cp_n" -> count(lit(1)))
    var edges = edges0
    releaseRound(edgesIn)
    var prevCnt = edgeProbe(0).asInstanceOf[Long]
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      // LARGE-STAR: hang every node's LARGER neighbors onto its minimum
      // neighborhood member — emitted edges always point (larger → smaller)
      val sym = edges.select(col("a").as("v"), col("b").as("u"))
        .unionByName(edges.select(col("b").as("v"), col("a").as("u")))
      // the per-node min frames are bounded by the round's MEASURED edge
      // count (≤ 2·edges distinct centers) — broadcast-hint them when
      // small, because both are aggregation outputs over checkpointRound
      // frames whose statistics are the defaultSizeInBytes maximum, so no
      // broadcast fires on its own
      val bound = if (prevCnt > Long.MaxValue / 2) Long.MaxValue else prevCnt * 2
      val mins = maybeBroadcastSmall(
        sym.groupBy("v").agg(least(min(col("u")), first(col("v"))).as("m")), bound)
      val ls = checkpointRound(sym.join(mins, "v").where(col("u") > col("v"))
        .select(col("u").as("a"), col("m").as("b")).distinct())
      // SMALL-STAR: per center, re-hang its smaller neighbors AND itself
      // onto the smallest of them. The broadcast hint goes on the join
      // side only: a hint under the union is no join relation, and Spark
      // drops it with a HintErrorLogger warning on every round
      val mins2 = ls.groupBy("a").agg(min(col("b")).as("m"))
      // fixpoint = the round was the identity on the edge set (stars
      // only). The edge count RIDES the round's checkpoint; the
      // set-equality anti-join runs ONLY when counts tie — two distinct
      // sets of equal size are equal iff one difference is empty, so a
      // still-shrinking round pays no extra driver barrier
      val (ss, ssProbe) = graft.core.CheckpointProbe(
        ls.join(maybeBroadcastSmall(mins2, bound), "a")
          .select(col("b").as("a"), col("m").as("b"))
          .unionByName(mins2.select(col("a"), col("m").as("b")))
          .where(col("a") =!= col("b")).distinct(),
        "_cp_n" -> count(lit(1)))
      releaseRound(ls)
      val cnt = ssProbe(0).asInstanceOf[Long]
      converged = cnt == prevCnt &&
        ss.join(edges, Seq("a", "b"), "left_anti").isEmpty
      prevCnt = cnt
      releaseRound(edges)
      edges = ss
      it += 1
    }
    if (!converged) {
      releaseRound(ids)
      releaseRound(edges)
      throw new IllegalStateException(
        s"$op did not converge in $maxIters contraction rounds — raise maxIters")
    }
    val stars = maybeBroadcastSmall(
      edges.select(col("a").as("_star_id"), col("b").as("_sroot")), prevCnt)
    ids.join(stars, ids("id") === col("_star_id"), "left")
      .select(col("id"), coalesce(col("_sroot"), col("id")).as("cluster_id"))
  }

  /** Translate a long-surrogate labels frame `(id, cluster_id)` back to
    * original string ids: ONE long-keyed join against the surrogate map
    * translates the member ids, CHECKPOINTED so the canonicalization
    * below reads it twice without recomputing the join; the
    * representative is then re-derived as the component's minimum
    * ORIGINAL id with one long-keyed agg + join-back on the SURROGATE
    * cluster key. (The old shape translated the surrogate representative
    * through a second map join only to discard it for the min, and its
    * untruncated canonicalization join duplicated the whole translate
    * subtree in the plan.) No string-keyed shuffle remains. Contract
    * unchanged from the integral path: `cluster_id` = the component's
    * minimum id under the id column's own ordering, whatever the id
    * type. Everything here runs on the labels frame (one row per
    * clustered doc, ≪ corpus). Every checkpoint the labels plan reads, and
    * the map's, is superseded by the translated frame and released
    * eagerly; the translated checkpoint rides in the result plan until the
    * consumer's [[graft.core.Chain.releaseCheckpoints]].
    */
  private[ext] def translateLabels(labels: DataFrame, m: DataFrame): DataFrame = {
    val t = checkpointRound(labels
      .join(m.select(col("_sid").as("_ms"), col("_oid").as("_mo")),
        col("id") === col("_ms"))
      .select(col("_mo").as("id"), col("cluster_id").as("_csid")))
    Chain.releaseCheckpoints(labels)
    releaseRound(m)
    // one explicit exchange on the surrogate cluster key feeds BOTH the
    // min aggregation and the join-back (ReusedExchange — the same
    // one-exchange-two-consumers shape as the IVF self-join)
    val tp = t.repartition(col("_csid"))
    val mins = tp.groupBy(col("_csid")).agg(min(col("id")).as("_cmin"))
    tp.join(mins, "_csid").select(col("id"), col("_cmin").as("cluster_id"))
  }

  /** Eagerly materialize + TRUNCATE an iterative round's frame:
    * `localCheckpoint` replaces the logical plan with a `LogicalRDD`, so
    * round N+1's plan does not nest round N's (a round that references its
    * predecessor 2-3 times otherwise grows the plan tree — and every
    * action's plan-description rendering — geometrically). Pair with
    * [[releaseRound]]: checkpoint blocks have no automatic unpersist, and
    * leaking one frame per round is the storage residue that inflated
    * long-session benchmarks.
    */
  private[ext] def checkpointRound(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Free a dead [[checkpointRound]] frame's blocks (the checkpointed RDD
    * sits under the Dataset's `LogicalRDD`). Only call once nothing will
    * read the frame again — a truncated plan cannot recompute.
    */
  private[ext] def releaseRound(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.GraftBridge.unpersistQuietly(lr.rdd)
      case _ => ()
    }

  /** Broadcast-hint an iterative round's small frame when a MEASURED row
    * count says it fits. Round frames are [[checkpointRound]] outputs
    * (RDD-backed), whose plan statistics are the conservative
    * `defaultSizeInBytes` maximum — so neither the planner's
    * auto-broadcast nor AQE ever picks a broadcast for them and every
    * in-loop join shuffles BOTH sides, even when the label/contribution
    * map is a few hundred rows (measured round-17: ~9 scheduler jobs per
    * label-propagation round at sf0.1, nearly all exchange stages of tiny
    * frames). The iterative ops already pay one bounded driver read per
    * round (the convergence probe), so the gate rides a count the loop
    * ALREADY has — no extra job, and the decision scales with the data:
    * a corpus-sized label map at 100 TB stays on the shuffle path.
    * Ceiling: `spark.graft.iterBroadcast.maxRows` (default 1,000,000 —
    * a (long, long) label map at 1 M rows builds a ~32 MB hash relation,
    * the [[SimilarityOps.maybeBroadcastProbes]] posture); set ≤ 0 to
    * never hint (the hard no-broadcast cluster posture). The row cap is
    * ALSO byte-aware (round 18, ADVICE): the dedup loops always key on
    * long surrogates, but [[graft.ext.GraphOps]] rank maps may key on
    * arbitrary-width strings (URLs/hosts) — near the row cap a
    * string-keyed map could build a 100–300 MB hash relation twice per
    * sweep. The row count is scaled by a schema-estimated row width
    * (strings/binary charged `spark.graft.iterBroadcast.stringBytes`,
    * default 48 — wider than the planner's 20-byte guess because these
    * frames carry ids, not prose) against
    * `spark.graft.iterBroadcast.maxBytes` (default 64 MB, the bench
    * AQE auto-broadcast ceiling).
    */
  private[ext] def maybeBroadcastSmall(df: DataFrame, measuredRows: Long): DataFrame =
    if (iterBroadcastFits(df.sparkSession, df.schema, measuredRows)) broadcast(df) else df

  /** The one iteration gate: does a frame of `schema` with `measuredRows`
    * rows fit the `spark.graft.iterBroadcast.*` row and byte caps? It
    * decides the loops' broadcast hints ([[maybeBroadcastSmall]]) and
    * whether [[components]] closes on the driver.
    */
  private[ext] def iterBroadcastFits(spark: org.apache.spark.sql.SparkSession,
                                     schema: org.apache.spark.sql.types.StructType,
                                     measuredRows: Long): Boolean = {
    val conf = spark.conf
    val cap = conf.get("spark.graft.iterBroadcast.maxRows", "1000000").toLong
    val maxBytes = conf.get("spark.graft.iterBroadcast.maxBytes",
      (64L << 20).toString).toLong
    val stringBytes = conf.get("spark.graft.iterBroadcast.stringBytes", "48").toLong
    cap > 0 && measuredRows >= 0 && measuredRows <= cap &&
      broadcastFits(schema, measuredRows, maxBytes, stringBytes)
  }

  /** Byte gate for [[maybeBroadcastSmall]]: rows × estimated row width ≤
    * maxBytes, where variable-width fields (string/binary) are charged
    * `stringBytes`, non-atomic fields (array/map/struct) at least
    * `stringBytes` or what their members are charged (one element per
    * array, one entry per map) if more, and fixed-width fields their
    * type's `defaultSize`. Factored out so the spec can pin the decision
    * without building million-row frames.
    */
  private[graft] def broadcastFits(schema: org.apache.spark.sql.types.StructType,
                                 rows: Long, maxBytes: Long,
                                 stringBytes: Long): Boolean = {
    import org.apache.spark.sql.types._
    def width(t: DataType): Long = t match {
      case StringType | BinaryType => stringBytes
      case a: ArrayType => math.max(stringBytes, width(a.elementType))
      case m: MapType => math.max(stringBytes, width(m.keyType) + width(m.valueType))
      case s: StructType => math.max(stringBytes, s.fields.map(f => width(f.dataType)).sum)
      case other => math.max(8L, other.defaultSize.toLong)
    }
    val rowBytes = schema.fields.map(f => width(f.dataType)).sum
    maxBytes > 0 && rows <= maxBytes / math.max(1L, rowBytes)
  }

  /** Shared banded-MinHash derivation for the incremental-dedup pair
    * ([[DedupOps.minhashIndex]] / [[DedupOps.dedupAgainstIndex]]): one row
    * per (doc, band) as `(_id, _mh, _bh)` where `_bh` = xxhash64(band id ‖
    * the band's signature rows) — the band id is mixed in so `_bh` alone
    * keys the bucket join. The signature is computed in the Project below
    * the Generate, so the codegen shingle/signature kernels run once per
    * document, not once per band row, with no exchange in between.
    */
  private[ext] def bandedMinhash(df: DataFrame, idCol: String, textCol: String,
                                 shingleWords: Int, numHashes: Int, bands: Int): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val rows = numHashes / bands
    val sh = graft.functions.ShingleHashes(TextOps.tokens(col(textCol)), shingleWords)
    df.select(col(idCol).as("_id"),
        graft.functions.Sketches.minhashSignature(sh, numHashes).as("_mh"))
      .select(col("_id"), col("_mh"),
        explode(array((0 until bands).map(b =>
          xxhash64(lit(b) +: (0 until rows).map(r => col("_mh")(b * rows + r)): _*)): _*))
          .as("_bh"))
  }
}

/** Cluster assignment over near-duplicate candidate pairs — the step every
  * dedup pipeline runs AFTER pair mining: connected components, each doc
  * labeled with the smallest id in its component (pick `cluster_id = id`
  * rows to keep, drop the rest).
  */
final class DedupClusterOps(private val c: Chain) extends AnyVal {

  /** cluster_pairs(id_a, id_b): connected components, `(id, cluster_id)`
    * for every id appearing in a pair, `cluster_id` = the component's
    * minimum id. One engine ([[DedupOps.components]]): an edge set within
    * the `spark.graft.iterBroadcast.*` gate is collected once and closed
    * on the driver by union-find; a larger one runs the distributed
    * large-star/small-star contraction loop, whose round count `maxIters`
    * bounds (exceeding it fails loudly). A result from the distributed
    * loop reads its checkpoint blocks until the consumer calls
    * [[graft.core.Chain.releaseCheckpoints]] on it (after the last read);
    * a driver-closed result holds its labels in the plan.
    *
    * Id types: integral ids run natively; STRING ids (UUID/URL corpus
    * keys) run through the collision-checked xxhash64 surrogate and
    * translate back on output, with `cluster_id` canonicalized to the
    * component's minimum ORIGINAL id — the same representative contract
    * as the integral path, whatever the id type. Other types fail loudly
    * ([[DedupOps.requireClusterableId]]).
    */
  def clusterPairs(idACol: String = "id_a", idBCol: String = "id_b",
                   maxIters: Int = 20): Chain =
    c.next("dedup_clusters",
      DedupOps.components("cluster_pairs", c.df, idACol, idBCol, maxIters), None)

  /** cluster_pairs_contraction(id_a, id_b): [[clusterPairs]] under its
    * historical name and round bound — the same engine, the same labels.
    */
  def clusterPairsContraction(idACol: String = "id_a", idBCol: String = "id_b",
                              maxIters: Int = 50): Chain =
    c.next("dedup_clusters",
      DedupOps.components("cluster_pairs_contraction", c.df, idACol, idBCol, maxIters), None)

  /** dedup_near(id, text, n, threshold, keep_by): the end-to-end near-dup
    * corpus pass — mine exact n-gram-Jaccard pairs, connect them into
    * clusters, and keep ONE representative document per cluster: the first
    * under the `keepBy` ordering (e.g. `n_chars DESC` keeps the longest,
    * `quality DESC` the best-scored), id ascending as the deterministic
    * tiebreak; singleton documents always survive. This is the decision
    * step the pair/cluster ops feed — what a user actually runs to shrink
    * a corpus.
    *
    * Scale shape = ngramJaccardPairs (PPJoin / inverted index, no n²) +
    * clusterPairs (a driver union-find within the iteration gate, the
    * contraction loop past it) + one labels join and
    * one window over the cluster id. The labels frame is one row per
    * CLUSTERED doc (≪ corpus); AQE broadcasts it when small. The result
    * plan embeds the labels frame's checkpoint blocks —
    * [[graft.core.Chain.releaseCheckpoints]] on the result frees them once
    * nothing reads it again.
    *
    * Id types: `idCol` must be integral (tinyint/smallint/int/bigint —
    * runs natively) or string (UUID/URL corpus keys — runs through the
    * collision-checked xxhash64 surrogate and translates back on
    * output); any other type fails loudly at the op boundary — cast or
    * relabel through a surrogate key first.
    */
  def dedupNear(idCol: String, textCol: String, n: Int = 3, threshold: Double = 0.5,
                keepBy: Seq[(String, String)] = Nil,
                candidates: String = "exact",
                numHashes: Int = 32, bands: Int = 0): Chain = {
    // fail on unsupported id types BEFORE any mining work
    DedupOps.requireClusterableId("dedup_near", idCol, c.df.schema(idCol).dataType)
    // candidate miner: "exact" n-gram Jaccard is the oracle-exact default;
    // "minhash" swaps in banded-LSH mining — the 100 TB dial when even
    // PPJoin's verified candidate set is too large (estimates replace
    // exact scores; the cluster/keep-one stages are identical).
    // `numHashes`/`bands` tune the minhash banding; bands = 0 derives the
    // band count from the threshold via the (1/b)^(r/numHashes) S-curve so
    // candidate recall AT the declared threshold is controlled rather than
    // inherited from a fixed default (which put the curve midpoint near
    // j≈0.84 and halved recall for pairs near a 0.8 threshold).
    val pairs = candidates match {
      case "exact" => new DedupOps(c).ngramJaccardPairs(idCol, textCol, n, threshold)
      case "minhash" =>
        val b = if (bands > 0) bands
          else DedupOps.bandsForThreshold(numHashes, threshold)
        new DedupOps(c).minhashLsh(idCol, textCol,
          shingleWords = n, numHashes = numHashes, bands = b, estThreshold = threshold)
      case other => throw new IllegalArgumentException(
        s"dedup_near candidates must be exact or minhash, got $other")
    }
    keepOnePerCluster(new DedupClusterOps(pairs).clusterPairs(), idCol, keepBy, "dedup_near")
  }

  /** dedup_near_embedding(id, vec, threshold, keep_by): the SEMANTIC
    * sibling of [[dedupNear]] — mine embedding-cosine near-dup pairs,
    * connect them into clusters, keep one representative per cluster
    * (first under `keepBy`, id ascending tiebreak; singletons survive).
    * This is the SemDeDup-shaped pass (Abbas et al., arXiv:2303.09540)
    * production corpora run AFTER lexical dedup: paraphrases and
    * re-renders that share no n-grams but embed together.
    *
    * `candidates = "exact"` mines with the guarded Ω(n²) block join
    * ([[graft.ext.DedupOps.embeddingCosinePairs]] — oracle-exact, size-
    * capped); `"ivf"` is the corpus-scale dial: spherical k-means cells
    * over a bounded training sample, each vector assigned to its
    * `nassign` nearest cells, pairs mined within SHARED cells only —
    * candidate volume ≈ nassign²·Σ cell² instead of n². Boundary pairs
    * whose vectors share no assigned cell are missed; `nassign` is the
    * recall dial (recall-gated in the spec — the usual SemDeDup regime
    * of a TIGHT threshold keeps near-identical pairs co-located). The
    * cluster and keep-one stages are identical to the lexical op.
    *
    * Id types: `idCol` must be integral (tinyint/smallint/int/bigint —
    * runs natively) or string (collision-checked xxhash64 surrogate,
    * translated back on output; string ids also pass through the IVF
    * cell index natively); any other type fails loudly at the op
    * boundary — cast or relabel through a surrogate key first.
    */
  def dedupNearEmbedding(idCol: String, vecCol: String, threshold: Double,
                         keepBy: Seq[(String, String)] = Nil,
                         candidates: String = "exact",
                         nlist: Int = 16, nassign: Int = 2,
                         trainSample: Int = 4096,
                         trainIters: Int = 15, maxRows: Long = 1000000L): Chain = {
    // fail on unsupported id types BEFORE any mining work
    DedupOps.requireClusterableId("dedup_near_embedding", idCol,
      c.df.schema(idCol).dataType)
    val pairs = candidates match {
      case "exact" =>
        new DedupOps(c).embeddingCosinePairs(idCol, vecCol, threshold, maxRows = maxRows)
      case "ivf" =>
        ivfCandidatePairs(idCol, vecCol, threshold, nlist, nassign,
          trainSample, trainIters)
      case other => throw new IllegalArgumentException(
        s"dedup_near_embedding candidates must be exact or ivf, got $other")
    }
    keepOnePerCluster(new DedupClusterOps(pairs).clusterPairs(), idCol, keepBy,
      "dedup_near_embedding")
  }

  /** The IVF candidate-pair miner behind `dedupNearEmbedding(candidates =
    * "ivf")`: spherical k-means cells over a bounded sample, each vector
    * assigned to its `nassign` nearest cells, pairs mined within SHARED
    * cells only and exact-cosine verified. Exposed `private[ext]` so the
    * plan-shape spec can pin the ReusedExchange directly.
    */
  private[ext] def ivfCandidatePairs(idCol: String, vecCol: String,
                                     threshold: Double, nlist: Int, nassign: Int,
                                     trainSample: Int, trainIters: Int): Chain = {
    require(nassign >= 1 && nassign <= nlist,
      s"nassign must be in [1, nlist], got $nassign (nlist=$nlist)")
    val spark = c.df.sparkSession
    // ids pass through untyped (ranking, windows and pair comparisons
    // all work on any orderable type); the cluster stage downstream
    // owns the integral/string dispatch
    // zero-norm/NaN vectors never pair (NaN cosine passes the threshold
    // and would merge whole cells); they stay singletons and SURVIVE the
    // dedup untouched
    val corpus = SimilarityOps.withNorm(c.df, idCol, vecCol, "_id", "_v", "_n")
      // barrier: the nassign > 1 top-m window is partitioned by _id and
      // reads this exchange's partitioning
      .repartition(col("_id"))
    // bounded hash-deterministic training sample → driver k-means
    // (the declared compile-time-introspection pattern)
    val trainVecs = corpus
      .orderBy(xxhash64(col("_id")).asc, col("_id").asc)
      .limit(trainSample)
      .select(col("_v").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val centers = SimilarityOps.sphericalKMeans(trainVecs, nlist, trainIters)
    // the trailing repartition(_cid) is load-bearing twice over: the
    // self-join below reads `assigned` on BOTH sides, and without a
    // common exchange each side would recompute the whole assignment
    // (the crossJoin+window for nassign>1) — with it, both sides reuse
    // ONE exchange (ReusedExchange) that is ALSO the join's required
    // partitioning, so the pair stage adds no further shuffle
    val assigned = (
      if (nassign <= 1)
        corpus.withColumn("_cid", SimilarityOps.bestCellId(col("_v"), centers))
          .select(col("_id"), col("_v"), col("_n"), col("_cid"))
      else {
        // top-m cells per vector: broadcast the nlist centroids, rank
        // by cosine — one id-partitioned window, no extra corpus pass
        val centroids = broadcast(SimilarityOps.centroidFrame(spark, centers))
        val sim = Exact.dot(col("_v"), col("_cv")) / col("_n") / col("_cn")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("_id")).orderBy(col("_cs").desc, col("_cid").asc)
        corpus.crossJoin(centroids)
          .select(col("_id"), col("_v"), col("_n"), col("_cid"), sim.as("_cs"))
          .withColumn("_r", row_number().over(w)).where(col("_r") <= nassign)
          .select(col("_id"), col("_v"), col("_n"), col("_cid"))
      }).repartition(col("_cid"))
    val l = assigned.select(col("_cid"), col("_id").as("id_a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val r = assigned.select(col("_cid"), col("_id").as("id_b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    val cos = Exact.dot(col("_va"), col("_vb")) / col("_na") / col("_nb")
    val p = l.join(r, Seq("_cid")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("cosine"))
      .where(col("cosine") >= threshold)
      .distinct() // a pair sharing several assigned cells emits once
    c.next("dedup_embedding_ivf", p, None)
  }

  /** Shared decision tail of the end-to-end dedup ops: left-join the
    * cluster labels (one row per CLUSTERED doc, ≪ corpus — AQE broadcasts
    * it when small), default unlabeled docs to their own singleton
    * cluster, keep row 1 per cluster under the `keepBy` ordering with id
    * ascending as the deterministic tiebreak.
    */
  private def keepOnePerCluster(clusters: Chain, idCol: String,
                                keepBy: Seq[(String, String)], op: String): Chain = {
    // labels carry the corpus's own id type (integral path: long; string
    // path: original strings, already translated back) — join on the raw
    // id, never a lossy cast
    val labels = clusters.df
      .select(col("id").as("_lid"), col("cluster_id").as("_lcl"))
    val withCl = c.df.join(labels, col(idCol) === col("_lid"), "left")
      .withColumn("_cl", coalesce(col("_lcl"), col(idCol)))
    val ord = keepBy.map { case (cn, dir) =>
      if (dir.equalsIgnoreCase("DESC")) col(cn).desc else col(cn).asc
    } :+ col(idCol).asc
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_cl")).orderBy(ord: _*)
    val cols = c.df.columns.toSeq
    val df2 = withCl.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(cols.map(col): _*)
    c.next(op, df2, None)
  }
}
