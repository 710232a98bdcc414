package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.core.Chain
import graft.ext._
import TestSpark._

/** The one connected-components engine behind clusterPairs,
  * clusterPairsContraction, dedupNear and dedupNearEmbedding: below the
  * iteration gate the labels close on the driver (union-find over one
  * collect), past it the distributed contraction loop runs. Every case
  * runs both paths — the gate open (default) and closed
  * (`spark.graft.iterBroadcast.maxRows=0`) — and compares the labels row
  * for row.
  */
class ComponentsSpec extends AnyFunSuite {
  import spark.implicits._

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  /** (local rows, distributed rows) of `op` over a fresh chain of `pairs`.
    * With `localStores = false` the local build must leave no stored
    * block (integral ids: the labels live in the plan); string ids keep
    * their translated checkpoint on either path. Both results release to
    * the baseline.
    */
  private def bothPaths(pairs: DataFrame, localStores: Boolean = false)(
      op: Chain => Chain): (Seq[String], Seq[String]) = {
    val base = persisted
    val local = op(Chain(spark, "p", pairs))
    val localRows = rows(local.df)
    if (!localStores) assert(persisted == base, "the driver finish leaves no stored block")
    local.releaseCheckpoints()
    assert(persisted == base)
    val distributedRows = gateClosed {
      val out = op(Chain(spark, "p", pairs))
      val got = rows(out.df)
      out.releaseCheckpoints()
      got
    }
    assert(persisted == base, "release returns storage to its baseline")
    (localRows, distributedRows)
  }

  test("components: chain plus star with a self-pair, both paths label the minimum") {
    val pairs = (((1L until 12L).map(i => (i, i + 1)) ++
      Seq((50L, 51L), (50L, 52L), (53L, 50L), (70L, 70L))).toDF("id_a", "id_b"))
    val (local, distributed) = bothPaths(pairs)(_.clusterPairs())
    assert(local == distributed)
    val want = ((1L to 12L).map(i => s"[$i,1]") ++
      Seq(50L, 51L, 52L, 53L).map(i => s"[$i,50]") :+ "[70,70]").sorted
    assert(local == want)
  }

  test("components: the 400-hop path lands every node on 0 on both paths") {
    val path = (0L to 400L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val (local, distributed) = bothPaths(path)(_.clusterPairsContraction(maxIters = 25))
    assert(local == distributed)
    assert(local.size == 401 && local.forall(_.endsWith(",0]")))
  }

  test("components: string ids translate back to the minimum original id on both paths") {
    val pairs = Seq(("u-3", "u-2"), ("u-2", "u-1"), ("u-9", "u-7"), ("u-5", "u-5"))
      .toDF("id_a", "id_b")
    val (local, distributed) = bothPaths(pairs, localStores = true)(_.clusterPairs())
    assert(local == distributed)
    assert(local == Seq("[u-1,u-1]", "[u-2,u-1]", "[u-3,u-1]", "[u-5,u-5]",
      "[u-7,u-7]", "[u-9,u-7]"))
  }

  test("components: an empty pair frame gives empty labels on both paths") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (local, distributed) = bothPaths(empty)(_.clusterPairs())
    assert(local.isEmpty && distributed.isEmpty)
    assert(Chain(spark, "p", empty).clusterPairs().df.columns.toSeq == Seq("id", "cluster_id"))
  }

  test("dedupNearEmbedding: driver and distributed labels agree on a deep chain") {
    // embeddings forming one long similarity CHAIN (each vector close to
    // its neighbor, far from the rest): v_i = unit(cos(i*step), sin(i*step))
    // — consecutive cosines ≈ cos(0.35) = 0.939 pass the 0.9 threshold,
    // two-apart cos(0.7) = 0.765 fails; the adversarial diameter shape,
    // plus isolated singletons
    val step = 0.35
    val chain = (0 until 24).map { i =>
      (i.toLong, Seq(math.cos(i * step), math.sin(i * step)), s"d$i")
    }
    val iso = Seq((100L, Seq(0.0, -1.0), "iso1"), (101L, Seq(-1.0, 0.0), "iso2"))
    val df = (chain ++ iso).toDF("vec_id", "embedding", "meta")
    val (local, distributed) = bothPaths(df)(_.dedupNearEmbedding("vec_id", "embedding", 0.9))
    assert(distributed == local, s"distributed=$distributed\nlocal=$local")
    // the fixture clusters: most of its 26 rows drop as duplicates
    assert(local.size < 26 / 2, local.toString)
  }
}
