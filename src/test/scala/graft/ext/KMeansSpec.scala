package graft.ext

import org.scalatest.funsuite.AnyFunSuite

/** Driver-side spherical k-means invariants, in particular the
  * empty-cell re-seed (round-6 "What's wrong #1": the doc promised a
  * worst-served re-seed; the code kept dead centroids where they were).
  */
class KMeansSpec extends AnyFunSuite {

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum

  test("empty cells re-seed from the worst-served vector: no dead centroid") {
    // three well-separated directions with heavy duplication; k = 4 > 3
    // distinct clusters forces empty cells (duplicate seeds tie-break to
    // the first center, leaving the duplicates unserved every round)
    val a = Array(1.0, 0.0, 0.0, 0.0)
    val b = Array(0.0, 1.0, 0.0, 0.0)
    val cdir = Array(0.0, 0.0, 1.0, 0.0)
    val vecs = Array.fill(8)(a) ++ Array.fill(3)(b) ++ Array.fill(2)(cdir)
    val cs = SimilarityOps.sphericalKMeans(vecs, k = 4, iters = 8)
    assert(cs.length == 4)
    // every distinct input direction ends up served by some centroid —
    // with kept-in-place dead cells a duplicated seed would leave one
    // direction uncovered whenever seeding collapses
    for (d <- Seq(a, b, cdir)) {
      val best = cs.map(ct => dot(unit(d), ct)).max
      assert(best > 0.99, s"direction ${d.mkString(",")} unserved: best dot $best")
    }
    // determinism: the re-seed rule is a pure function of the input
    val cs2 = SimilarityOps.sphericalKMeans(vecs, k = 4, iters = 8)
    assert(cs.map(_.toSeq).toSeq == cs2.map(_.toSeq).toSeq)
  }

  test("k-means still converges on clean clusters and returns unit centers") {
    val rnd = new scala.util.Random(7)
    val base = Array(
      Array(5.0, 0.0, 0.0, 0.0), Array(0.0, 5.0, 0.0, 0.0),
      Array(0.0, 0.0, 5.0, 0.0), Array(0.0, 0.0, 0.0, 5.0))
    val vecs = Array.tabulate(80) { i =>
      base(i % 4).map(_ + (rnd.nextDouble() - 0.5) * 0.2)
    }
    val cs = SimilarityOps.sphericalKMeans(vecs, k = 4, iters = 10)
    for (ct <- cs)
      assert(math.abs(math.sqrt(ct.map(x => x * x).sum) - 1.0) < 1e-9)
    for (bdir <- base) {
      val best = cs.map(ct => dot(unit(bdir), ct)).max
      assert(best > 0.98, s"cluster direction unrecovered: $best")
    }
  }

  test("ivf pair mining reuses ONE assignment exchange across the self-join") {
    // the pair stage reads `assigned` on both join sides; the trailing
    // repartition(_cid) must make that a shared exchange (ReusedExchange),
    // not two executions of the crossJoin+window assignment — the guard
    // against silently doubling the assignment pass at corpus scale
    val spark = graft.TestSpark.spark
    val emb = graft.TestSpark.table("embeddings")
    val pairs = new DedupClusterOps(emb)
      .ivfCandidatePairs("vec_id", "embedding", threshold = 0.4,
        nlist = 4, nassign = 2, trainSample = 512, trainIters = 5).df
    // the plan is adaptive: ReusedExchange appears once the initial plan
    // is laid out — assert on the pre-execution initialPlan (the
    // documented AQE assertion pattern; inputPlan predates
    // EnsureRequirements and would be vacuous)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"expected a ReusedExchange across the assignment self-join; plan:\n$plan")
  }

  test("ivf pair mining at nassign = 2 mines the pairs of the crossJoin + window assignment") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.core.Exact
    import graft.TestSpark.{rows, spark, table}
    val emb = table("embeddings")
    val (nlist, nassign, sample, iters, threshold) = (4, 2, 512, 5, 0.4)
    val got = new DedupClusterOps(emb).ivfCandidatePairs("vec_id", "embedding",
      threshold, nlist, nassign, sample, iters).df
    // the reference: the top-m assignment the miner used before cellIds,
    // every vector crossed with the broadcast centroids and ranked by
    // cosine in an id-partitioned window
    val corpus = SimilarityOps.withNorm(emb.df, "vec_id", "embedding", "_id", "_v", "_n")
    val centers = SimilarityOps.sphericalKMeans(
      SimilarityOps.trainSample(corpus, "_id", "_v", sample), nlist, iters)
    val sim = Exact.dot(col("_v"), col("_cv")) / col("_n") / col("_cn")
    val w = Window.partitionBy(col("_id")).orderBy(col("_cs").desc, col("_cid").asc)
    val assigned = corpus.crossJoin(broadcast(SimilarityOps.centroidFrame(spark, centers)))
      .select(col("_id"), col("_v"), col("_n"), col("_cid"), sim.as("_cs"))
      .withColumn("_r", row_number().over(w)).where(col("_r") <= nassign)
    val l = assigned.select(col("_cid"), col("_id").as("id_a"),
      col("_v").as("_va"), col("_n").as("_na"))
    val r = assigned.select(col("_cid"), col("_id").as("id_b"),
      col("_v").as("_vb"), col("_n").as("_nb"))
    val cos = Exact.dot(col("_va"), col("_vb")) / col("_na") / col("_nb")
    val ref = l.join(r, Seq("_cid")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("cosine"))
      .where(col("cosine") >= threshold).distinct()
    val expected = rows(ref)
    assert(expected.nonEmpty, "the fixture must mine some pairs")
    assert(rows(got) == expected)
    // the assignments agree cell for cell, not only where pairs clear
    // the threshold
    val cells = corpus.select(col("_id"),
      SimilarityOps.cellIds(col("_v"), centers, nassign).as("_cid"))
    assert(rows(cells) == rows(assigned.select(col("_id"), col("_cid"))))
  }
}
