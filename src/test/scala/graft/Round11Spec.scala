package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{Chain, ScaleLint}
import graft.ops._
import graft.ext._
import TestSpark._

/** Round-11 hardening: ANSI divide-by-zero guards on the degenerate
  * inputs the profile ops are meant to flag (constant columns, zero
  * weight mass), the corrMatrix pairwise/listwise equality, the
  * fuzzyPairs early-stop cap probe, empty-input clusterEmbeddings, the
  * pseudonymize salt-free render face, and the two new ScaleLint rules
  * (literal-domain window keys; aggregated BNLJ builds warn unless
  * stats-bounded).
  */
class Round11Spec extends AnyFunSuite {
  import spark.implicits._

  // ---- corrMatrix degenerate pairs -------------------------------------

  test("corr_matrix: zero-variance column yields null corr (no ANSI abort); SQL face agrees") {
    val df = Seq((1.0, 5.0, 1.0), (2.0, 5.0, 2.0), (3.0, 5.0, 3.0))
      .toDF("x", "konst", "y")
    for (mode <- Seq("pairwise", "listwise")) {
      val c = Chain(spark, "cm0", df).corrMatrix(Seq("x", "konst", "y"), deletion = mode)
      val got = c.df.collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      assert(got(("x", "konst")).isEmpty, s"$mode: constant pair must be null")
      assert(got(("konst", "y")).isEmpty, s"$mode: constant pair must be null")
      assert(got(("x", "y")).exists(v => math.abs(v - 1.0) < 1e-12),
        s"$mode: clean pair still computes")
      df.createOrReplaceTempView("cm0")
      assert(rows(spark.sql(c.sql())) == rows(c.df), s"$mode face diverged")
    }
  }

  test("corr_matrix: single-row group yields null corr under group_by") {
    val df = Seq(("a", 1.0, 2.0), ("b", 1.0, 2.0), ("b", 2.0, 5.0), ("b", 3.0, 8.0))
      .toDF("g", "x", "y")
    val got = Chain(spark, "cm1", df)
      .corrMatrix(Seq("x", "y"), groupBy = Seq("g")).df.collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(got("a").isEmpty, "n=1 group: zero variance -> null, not a crash")
    assert(got("b").contains(1.0))
  }

  test("corr_matrix pairwise equals listwise bit for bit on complete columns") {
    // complete frame: pairwise == listwise by definition, and the exact
    // sums make the values match bit-for-bit
    val li = table("lineitem")
    val pw = li.corrMatrix(Seq("l_quantity", "l_extendedprice", "l_discount"))
    val lw = li.corrMatrix(Seq("l_quantity", "l_extendedprice", "l_discount"),
      deletion = "listwise")
    assert(rows(pw.df) == rows(lw.df))
    // the declared mode is the plan: pairwise keeps per-pair counts, and
    // the aggregate runs at the action, over the source
    for ((c, first) <- Seq(pw -> "_n_", lw -> "_n")) {
      val agg = c.df.queryExecution.analyzed.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          a.aggregateExpressions.map(_.name)
      }
      assert(agg.exists(_.head.startsWith(first)), s"expected a lazy aggregate, got $agg")
    }
    // incomplete frame: true pairwise (per-pair n)
    val holey = Seq((Some(1.0), Some(2.0)), (None, Some(3.0)), (Some(2.0), Some(4.0)),
      (Some(3.0), None)).toDF("a", "b")
    val hp = Chain(spark, "cmh", holey).corrMatrix(Seq("a", "b"))
    val hAgg = hp.df.queryExecution.analyzed.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.aggregateExpressions.map(_.name)
    }.get
    assert(hAgg.exists(_.startsWith("_n_")),
      s"missing values must keep per-pair counts, got $hAgg")
    holey.createOrReplaceTempView("cmh")
    assert(rows(spark.sql(hp.sql())) == rows(hp.df))
  }

  // ---- weightedAgg zero weight mass ------------------------------------

  test("weighted_agg: zero-weight group yields null wavg (no ANSI abort); SQL face agrees") {
    val df = Seq(("a", 10.0, 0.0), ("a", 20.0, 0.0), ("b", 10.0, 1.0), ("b", 30.0, 3.0))
      .toDF("g", "x", "w")
    val c = Chain(spark, "wa0", df).weightedAgg(Seq("g"), "x", "w")
    val got = c.df.collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got("a").isEmpty, "zero weight mass -> null wavg")
    assert(got("b").contains(25.0))
    df.createOrReplaceTempView("wa0")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  // ---- clusterEmbeddings empty input -----------------------------------

  test("cluster_embeddings: empty input and all-degenerate vectors return null clusters") {
    val schema = "id LONG, v ARRAY<DOUBLE>"
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    val ce = Chain(spark, "ce0", empty).clusterEmbeddings("id", "v", 2)
    assert(ce.df.columns.toSeq == Seq("id", "v", "cluster"))
    assert(ce.df.count() == 0)
    val broken = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(Double.NaN, 1.0))).toDF("id", "v")
    val cb = Chain(spark, "ce1", broken).clusterEmbeddings("id", "v", 2)
    val out = cb.df.collect()
    assert(out.length == 2 && out.forall(_.isNullAt(2)),
      "every degenerate vector gets a null cluster, and nothing crashes")
  }

  // ---- pseudonymize render face ----------------------------------------

  test("pseudonymize renders a {{salt}} placeholder, never the secret") {
    val df = Seq((1L, "alice")).toDF("id", "name")
    val c = Chain(spark, "pz", df).pseudonymize(Seq("name"), "sekrit-42")
    assert(!c.sql().contains("sekrit-42"), "rendered face must not carry the salt")
    assert(c.sql().contains("{{salt}}"))
    val lit = Chain(spark, "pz", df).pseudonymize(Seq("name"), "sekrit-42",
      saltInRender = true)
    assert(lit.sql().contains("sekrit-42"), "opt-in literal render still available")
  }

  // ---- fuzzyPairs early-stop probe -------------------------------------

  test("fuzzy_pairs tiny-cap probe early-stops via limit(cap+1), result unchanged") {
    val names = SparkEntry.namesFixtureDf(spark)
    // behavior: same pairs as before the probe change (round-10 spec pins
    // the pair set; here pin the guard still fires and the happy path runs)
    val got = Chain(spark, "names", names).fuzzyPairs("id", "name", 2).df.count()
    assert(got > 0)
    assertThrows[IllegalArgumentException](
      Chain(spark, "names", names).fuzzyPairs("id", "name", 2, tinyCap = 1))
  }

  // ---- ScaleLint: literal-domain window keys ---------------------------

  test("scale lint warns on literal-derived window partition keys, silent on data keys") {
    val li = table("lineitem")
    // ungrouped quantileProfile partitions its window by the melted
    // column-name literal — domain = #cols, a global window in disguise
    val qp = li.quantileProfile(Seq("l_quantity", "l_discount"), Seq(0.5))
    val fs = ScaleLint.lint(qp.df)
    val f = fs.find(_.rule == "low-domain-window-key")
    assert(f.isDefined, s"literal-domain key must lint: $fs")
    assert(f.get.severity == "warn" && f.get.detail.contains("2 distinct"))
    qp.assertScaleSafe() // warn never fails the gate
    // a data-column partition key breaks the literal proof -> silence
    val grouped = li.quantileProfile(Seq("l_quantity"), Seq(0.5),
      groupBy = Seq("l_returnflag"))
    assert(!ScaleLint.lint(grouped.df).exists(_.rule == "low-domain-window-key"),
      "hash-keyed window must not lint")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag")).orderBy(col("l_orderkey"))
    val hashKeyed = Chain(spark, "x", li.df.withColumn("rn", row_number().over(w)))
    assert(!ScaleLint.lint(hashKeyed.df).exists(_.rule == "low-domain-window-key"))
  }

  test("scale lint: aggregated BNLJ build is warn-level without a stats bound") {
    // crossTable's margin product joins an aggregated broadcast with no
    // provable row bound -> warn (not info, not error); the gate passes
    val ct = table("customer").crossTable("c_mktsegment", "c_nationkey")
    val fs = ct.assertScaleSafe().scaleFindings
    val agg = fs.filter(_.rule == "nested-loop-join-aggregated")
    assert(agg.nonEmpty && agg.forall(_.severity == "warn"),
      s"unbounded aggregated build must warn: $fs")
  }
}
