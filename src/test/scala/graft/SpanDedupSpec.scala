package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Chain
import graft.ext._
import graft.ops._
import TestSpark._

/** Span-level exact dedup (dupSpans/stripDupSpans), end-to-end near-dup
  * retention (dedupNear), and the quantile gate.
  */
class SpanDedupSpec extends AnyFunSuite {

  // doc 2 embeds tokens w4..w11 of doc 1 (8 shared tokens); doc 3 unrelated
  private def spanDocs = {
    import spark.implicits._
    Seq(
      (1L, (0 until 20).map(i => s"w$i").mkString(" ")),
      (2L, "x0 x1 w4 w5 w6 w7 w8 w9 w10 w11 y0 y1"),
      (3L, "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9")
    ).toDF("doc_id", "text")
  }

  test("dupSpans emits maximal duplicated token ranges per document") {
    val spans = Chain(spark, "docs", spanDocs)
      .dupSpans("doc_id", "text", windowTokens = 4)
      .df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // doc 1: 4-token windows starting at 4..8 are shared → union [4, 12);
    // doc 2: the same windows sit at starts 2..6 → union [2, 10); doc 3: none
    assert(spans == Set((1L, 4, 12), (2L, 2, 10)))
  }

  test("dupSpans merges only overlapping or touching windows") {
    import spark.implicits._
    // two disjoint shared regions in one doc must yield two spans
    val docs = Seq(
      (1L, "a0 a1 a2 a3 GAP0 GAP1 GAP2 b0 b1 b2 b3".toLowerCase),
      (2L, "p0 a0 a1 a2 a3 q0 q1 q2 q3 q4 b0 b1 b2 b3 r0".toLowerCase)
    ).toDF("doc_id", "text")
    val spans = Chain(spark, "docs", docs)
      .dupSpans("doc_id", "text", windowTokens = 4)
      .df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((1L, 0, 4), (1L, 7, 11), (2L, 1, 5), (2L, 10, 14)))
  }

  test("stripDupSpans keeps the smallest-id owner's copy and strips the rest") {
    val out = Chain(spark, "docs", spanDocs)
      .stripDupSpans("doc_id", "text", windowTokens = 4)
      .df.select("doc_id", "text_stripped").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 owns every shared window (min id) → survives whole (normalized)
    assert(out(1L) == (0 until 20).map(i => s"w$i").mkString(" "))
    // doc 2 loses positions [2, 10)
    assert(out(2L) == "x0 x1 y0 y1")
    // doc 3 untouched
    assert(out(3L) == "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9")
  }

  test("stripDupSpans empties a document fully contained elsewhere") {
    import spark.implicits._
    val docs = Seq(
      (1L, "c0 c1 c2 c3 c4 c5"),
      (2L, "c0 c1 c2 c3 c4 c5")).toDF("doc_id", "text")
    val out = Chain(spark, "docs", docs)
      .stripDupSpans("doc_id", "text", windowTokens = 4)
      .df.select("doc_id", "text_stripped").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "c0 c1 c2 c3 c4 c5")
    assert(out(2L) == "")
  }

  test("dedupNear keeps one representative per cluster by the keep ordering") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", 35L),
      (2L, "alpha beta gamma delta epsilon zeta extra", 41L),
      (3L, "totally unrelated content here now", 33L)
    ).toDF("doc_id", "text", "n_chars")
    val kept = Chain(spark, "docs", docs)
      .dedupNear("doc_id", "text", n = 2, threshold = 0.5,
        keepBy = Seq("n_chars" -> "DESC"))
      .df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // docs 1/2 cluster (bigram jaccard 5/6); the longer doc 2 survives
    assert(kept == Seq(2L, 3L))
  }

  test("dedupNear with the driver finish is hash-equal to the distributed loop") {
    // sf-scaled end-to-end: same miner, both component paths (the driver
    // union-find below the iteration gate, the contraction loop with the
    // gate closed), same survivors
    val docs = table("documents")
    def run() = rows(docs.dedupNear("doc_id", "text", n = 3, threshold = 0.5,
      keepBy = Seq("n_chars" -> "DESC")).df)
    val local = run()
    val distributed = gateClosed(run())
    assert(local == distributed)
  }

  test("dedup/cluster family handles string ids, equal to numeric relabeling") {
    import spark.implicits._
    // UUID-shaped relabeling of the real corpus, ORDER-PRESERVING (zero-
    // padded) so the keep-one id tiebreak ranks identically — survivors
    // must be the same documents as the numeric run
    val docsN = table("documents")
    val strDf = docsN.df.withColumn("doc_uid",
      format_string("doc-%012d-%08x", col("doc_id"), pmod(col("doc_id") * 2654435761L, lit(4294967296L))))
      .drop("doc_id")
    def surv(df: org.apache.spark.sql.DataFrame) =
      rows(df.select("text", "n_chars"))
    val keptNum = surv(docsN.dedupNear("doc_id", "text", n = 3, threshold = 0.5,
      keepBy = Seq("n_chars" -> "DESC")).df)
    val keptStr = surv(Chain(spark, "sdocs", strDf)
      .dedupNear("doc_uid", "text", n = 3, threshold = 0.5,
        keepBy = Seq("n_chars" -> "DESC")).df)
    assert(keptNum == keptStr, "string-keyed dedup must keep the same documents")
    // the distributed loop agrees on the string-keyed corpus too
    val keptStrC = gateClosed(surv(Chain(spark, "sdocs", strDf)
      .dedupNear("doc_uid", "text", n = 3, threshold = 0.5,
        keepBy = Seq("n_chars" -> "DESC")).df))
    assert(keptStr == keptStrC)
    // direct cluster op on string pairs: same components as the long
    // fixture, with the representative canonicalized to the component's
    // MINIMUM id — the same contract as the integral path
    val sPairs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b")
    val comp = Chain(spark, "sp", sPairs).clusterPairs().df.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    val compC = gateClosed(Chain(spark, "sp", sPairs).clusterPairsContraction().df.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap)
    assert(compC == comp)
  }

  test("dedup/cluster ops fail loudly on unsupported or mixed id types") {
    import spark.implicits._
    val dblDocs = Chain(spark, "dd", Seq((1.5, "alpha beta gamma"), (2.5, "alpha beta gamma"))
      .toDF("doc_id", "text"))
    val e1 = intercept[IllegalArgumentException](
      dblDocs.dedupNear("doc_id", "text"))
    assert(e1.getMessage.contains("doc_id") && e1.getMessage.contains("double"))
    val e2 = intercept[IllegalArgumentException](
      dblDocs.dedupNearEmbedding("doc_id", "text", threshold = 0.9))
    assert(e2.getMessage.contains("doc_id"))
    // mixed families in a pair frame: loud, not silently null-cast
    val mixed = Seq((1L, "b")).toDF("id_a", "id_b")
    val e3 = intercept[IllegalArgumentException](
      Chain(spark, "mp", mixed).clusterPairs().df)
    assert(e3.getMessage.contains("type family"))
    // timestamps are neither integral nor string
    val tsPairs = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))).toDF("id_a", "id_b")
    val e4 = intercept[IllegalArgumentException](
      Chain(spark, "tp", tsPairs).clusterPairsContraction().df)
    assert(e4.getMessage.contains("id_a"))
  }

  test("containment measure finds subset documents Jaccard misses") {
    import spark.implicits._
    val core = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, core), // 8 tokens -> contained verbatim in 2
      (2L, core + " plus a very long tail of extra content " +
        Seq.fill(40)("filler").mkString(" ")),
      (3L, "unrelated words entirely here now")).toDF("doc_id", "text")
    val c = Chain(spark, "docs", docs)
    val cont = c.ngramJaccardPairs("doc_id", "text", n = 2, threshold = 0.9,
      measure = "containment")
      .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)),
      s"doc 1 is fully contained in doc 2: $cont")
    // symmetric jaccard can't see it at any high threshold
    val jac = c.ngramJaccardPairs("doc_id", "text", n = 2, threshold = 0.5)
      .df.collect()
    assert(jac.isEmpty, s"jaccard(1,2) is far below 0.5: ${jac.mkString(",")}")
    val e = intercept[IllegalArgumentException](
      c.ngramJaccardPairs("doc_id", "text", measure = "dice"))
    assert(e.getMessage.contains("measure"))
  }

  test("bandsForThreshold lands the LSH S-curve at the declared threshold") {
    import graft.ext.DedupOps.bandsForThreshold
    // threshold 0.8 with 32 hashes: b=8 (midpoint ~0.59) -> per-pair
    // candidate recall at j=0.8 is 1-(1-0.8^4)^8 ~ 0.985, vs ~0.5 at the
    // old fixed b=4
    assert(bandsForThreshold(32, 0.8) == 8)
    assert(bandsForThreshold(32, 0.5) == 16)
    // near-exact threshold keeps long rows (few bands)
    assert(bandsForThreshold(32, 0.97) <= 4)
    def recallAt(j: Double, numHashes: Int, b: Int): Double = {
      val r = numHashes / b
      1.0 - math.pow(1.0 - math.pow(j, r), b)
    }
    for (t <- Seq(0.5, 0.6, 0.7, 0.8, 0.9); nh <- Seq(32, 64)) {
      val b = bandsForThreshold(nh, t)
      assert(nh % b == 0)
      assert(recallAt(t, nh, b) >= 0.5,
        s"recall at declared threshold $t (numHashes=$nh, bands=$b) " +
          s"= ${recallAt(t, nh, b)} must be >= 0.5")
    }
  }

  test("filterByQuantile keeps the per-group top fraction, tie-stable") {
    import spark.implicits._
    val df = ((1 to 8).map(v => ("g1", v)) ++ Seq(("g2", 10), ("g2", 20)))
      .toDF("grp", "v")
    val top = Chain(spark, "t", df)
      .filterByQuantile("v", 0.75, Seq("grp"))
      .df.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    // g1: cume_dist > .75 → v ∈ {7, 8}; g2: 20 (cume 1.0) only
    assert(top == Set(("g1", 7), ("g1", 8), ("g2", 20)))
    val bottom = Chain(spark, "t", df)
      .filterByQuantile("v", 0.75, Seq("grp"), keep = "bottom")
      .df.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(bottom == ((1 to 6).map(("g1", _)).toSet + (("g2", 10))))
  }

  test("filterByQuantile SQL face matches the DataFrame face") {
    val c = table("orders").filterByQuantile("o_totalprice", 0.75,
      Seq("o_orderpriority"))
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }
}
