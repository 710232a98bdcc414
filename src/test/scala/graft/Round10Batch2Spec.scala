package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Chain
import graft.ops._
import graft.ext._
import TestSpark._

/** Round-10 batch 2: quantile/entropy profiles, k-anonymity, n-way splits,
  * PassJoin fuzzy pairs, n-gram census, embedding k-means. Driver oracles
  * pin the happy paths; these specs pin the edges — NaN/null exclusion,
  * floor conventions, pigeonhole completeness vs brute force, degenerate
  * vectors, guards — and each rendered-SQL face.
  */
class Round10Batch2Spec extends AnyFunSuite {
  import spark.implicits._

  // ---- quantile profile ------------------------------------------------

  test("quantile_profile: nearest-rank picks, per-column NaN/null exclusion; SQL face agrees") {
    val df = Seq(
      (Some(1.0), Some(10.0)), (Some(2.0), Some(20.0)), (Some(3.0), Some(Double.NaN)),
      (Some(4.0), None), (Some(5.0), Some(40.0))).toDF("a", "b")
    val c = Chain(spark, "qp", df).quantileProfile(Seq("a", "b"), Seq(0.0, 0.5, 1.0))
    val got = c.df.collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    // a: 5 clean values -> median rank floor(.5*4)+1 = 3 -> 3.0
    assert(got(("a", 0.0)) == ((1.0, 5L)) && got(("a", 0.5)) == ((3.0, 5L)) &&
      got(("a", 1.0)) == ((5.0, 5L)))
    // b: NaN and null excluded -> (10, 20, 40), median rank 2 -> 20.0, n=3
    assert(got(("b", 0.0)) == ((10.0, 3L)) && got(("b", 0.5)) == ((20.0, 3L)) &&
      got(("b", 1.0)) == ((40.0, 3L)))
    df.createOrReplaceTempView("qp")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("quantile_profile grouped computes each stratum's own ranks; SQL face agrees") {
    val df = Seq(("g1", 1.0), ("g1", 3.0), ("g2", 10.0), ("g2", 30.0), ("g2", 50.0))
      .toDF("g", "x")
    val c = Chain(spark, "qpg", df).quantileProfile(Seq("x"), Seq(0.5), groupBy = Seq("g"))
    val got = c.df.collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got == Map("g1" -> 1.0, "g2" -> 30.0), s"got $got") // rank floor(.5*(n-1))+1
    df.createOrReplaceTempView("qpg")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  // ---- entropy profile -------------------------------------------------

  test("entropy_profile: uniform = ln(k), constant = 0, nulls excluded; SQL face agrees") {
    val df = Seq(("a", "x", Some("only")), ("b", "x", None), ("c", "x", Some("only")),
      ("d", "x", Some("only"))).toDF("u", "k", "p")
    val c = Chain(spark, "ep", df).entropyProfile(Seq("u", "k", "p"))
    val got = c.df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val (un, ud, ue, us) = got("u")
    assert(un == 4 && ud == 4 && math.abs(ue - math.log(4)) < 1e-5)
    assert(math.abs(us - 0.75) < 1e-12) // 1 - 4*(1/4)^2
    val (kn, kd, ke, ks) = got("k")
    assert(kn == 4 && kd == 1 && math.abs(ke) < 1e-5 && math.abs(ks) < 1e-12)
    val (pn, pd, pe, _) = got("p")
    assert(pn == 3 && pd == 1 && math.abs(pe) < 1e-5) // null dropped, rest constant
    df.createOrReplaceTempView("ep")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  // ---- k-anonymity -----------------------------------------------------

  test("k_anonymity_violations reports only under-k classes, nulls are a class; SQL face agrees") {
    val df = Seq(("US", Some(1)), ("US", Some(1)), ("US", Some(1)),
      ("DE", Some(2)), ("DE", None), (null, None)).toDF("country", "grp")
    val c = Chain(spark, "ka", df).kAnonymityViolations(Seq("country", "grp"), 2)
    val got = c.df.collect()
      .map(r => (Option(r.getString(0)), Option(r.get(1)), r.getLong(2))).toSet
    assert(got == Set(
      (Some("DE"), Some(2), 1L), (Some("DE"), None, 1L), (None, None, 1L)), s"got $got")
    assertThrows[IllegalArgumentException](
      Chain(spark, "ka", df).kAnonymityViolations(Seq("country"), 1))
    df.createOrReplaceTempView("ka")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  // ---- dataset splits --------------------------------------------------

  test("dataset_splits stratified: per-stratum floor-convention sizes; SQL face agrees") {
    val df = (1 to 10).map(i => ("big", i)) ++ (1 to 5).map(i => ("small", i))
    val d2 = df.toDF("s", "k")
    val c = Chain(spark, "dss", d2).datasetSplits(
      Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2), Seq("k" -> "ASC"), strata = Seq("s"))
    val got = c.df.groupBy("s", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // big: floor(.6*10)=6, floor(.8*10)=8 -> 6/2/2; small: 3/1/1
    assert(got == Map(("big", "train") -> 6L, ("big", "val") -> 2L, ("big", "test") -> 2L,
      ("small", "train") -> 3L, ("small", "val") -> 1L, ("small", "test") -> 1L), s"got $got")
    // ordered assignment: stratum-local rank 1 is train, last is test
    val first = c.df.where(col("s") === "big" && col("k") === 1).collect()(0).getAs[String]("split")
    val last = c.df.where(col("s") === "big" && col("k") === 10).collect()(0).getAs[String]("split")
    assert(first == "train" && last == "test")
    d2.createOrReplaceTempView("dss")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("dataset_splits global: zipWithIndex labels equal the windowed SQL face") {
    val d2 = (1 to 20).map(i => (i, s"r$i")).toDF("k", "v")
    val c = Chain(spark, "dsg", d2).datasetSplits(
      Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25), Seq("k" -> "DESC"))
    val bySplit = c.df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit == Map("train" -> 10L, "val" -> 5L, "test" -> 5L))
    // DESC order: the largest keys are train
    assert(c.df.where(col("split") === "train").agg(min("k")).collect()(0).getInt(0) == 11)
    d2.createOrReplaceTempView("dsg")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
    assertThrows[IllegalArgumentException](Chain(spark, "dsg", d2).datasetSplits(
      Seq("a" -> 0.5, "b" -> 0.6), Seq("k" -> "ASC")))
    assertThrows[IllegalArgumentException](Chain(spark, "dsg", d2).datasetSplits(
      Seq("a" -> 0.5, "a" -> 0.5), Seq("k" -> "ASC")))
  }

  // ---- fuzzy pairs -----------------------------------------------------

  test("fuzzy_pairs equals brute-force levenshtein on the planted-typo fixture") {
    val names = SparkEntry.namesFixtureDf(spark)
    val got = Chain(spark, "names", names).fuzzyPairs("id", "name", 2)
      .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rowsL = SparkEntry.namesFixture
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, sa) <- rowsL; (ib, sb) <- rowsL
      if ia < ib && sa != null && sb != null && lev(sa, sb) <= 2
    } yield (ia, ib, lev(sa, sb))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("fuzzy_pairs at max_dist=1 shrinks to the 1-edit families and the tinyCap guard fires") {
    val names = SparkEntry.namesFixtureDf(spark)
    val got1 = Chain(spark, "names", names).fuzzyPairs("id", "name", 1)
      .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // every dist-1-or-0 pair from the dist-2 result, nothing else
    val got2 = Chain(spark, "names", names).fuzzyPairs("id", "name", 2)
      .df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got1 == got2.filter(_._3 <= 1))
    assertThrows[IllegalArgumentException](
      Chain(spark, "names", names).fuzzyPairs("id", "name", 2, tinyCap = 1))
    assertThrows[IllegalArgumentException](
      Chain(spark, "names", names).fuzzyPairs("id", "name", 9))
  }

  // ---- top ngrams ------------------------------------------------------

  test("top_ngrams: occurrence counts, short docs dropped, deterministic ties; SQL face agrees") {
    val df = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "cat"), (4L, "  "),
      (5L, null.asInstanceOf[String]), (6L, "THE CAT sat")).toDF("id", "text")
    val c = Chain(spark, "tn", df).topNgrams("text", 2, 3)
    val got = c.df.collect().map(r => r.getString(0) -> r.getLong(1)).toList
    // "the cat" x3, "cat sat" x2, then alphabetical first of the 1-count grams
    assert(got == List("the cat" -> 3L, "cat sat" -> 2L, "cat ran" -> 1L), s"got $got")
    df.createOrReplaceTempView("tn")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("top_ngrams grouped ranks within each group; SQL face agrees") {
    val df = Seq(("a", "x y x y"), ("a", "x y"), ("b", "p q")).toDF("g", "text")
    val c = Chain(spark, "tng", df).topNgrams("text", 2, 1, groupBy = Seq("g"))
    val got = c.df.collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map("a" -> ("x y", 3L), "b" -> ("p q", 1L)), s"got $got")
    df.createOrReplaceTempView("tng")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  // ---- cluster embeddings ----------------------------------------------

  test("cluster_embeddings: lattice recovery, min-id labels, degenerate vectors -> null") {
    val base = SparkEntry.embFixtureDf(spark)
    val poisoned = base.unionByName(
      Seq((100L, Seq(Float.NaN, 1.0f)), (101L, Seq(0.0f, 0.0f)))
        .toDF("vec_id", "embedding"))
    val c = Chain(spark, "ce", poisoned).clusterEmbeddings("vec_id", "embedding", 4)
    val got = c.df.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    (0 until 24).foreach(i => assert(got(i.toLong) == i % 4, s"vec $i -> ${got(i.toLong)}"))
    assert(got(100L) == -1L && got(101L) == -1L) // NaN / zero-norm never merge
  }

  // ---- drift (PSI) -------------------------------------------------------

  test("psi_profile: identical populations score 0, shifted ones > 0, empty side -> null") {
    val base = Seq.tabulate(100)(i => (i % 10).toDouble).toDF("x")
    val same = Chain(spark, "pp", base).psiProfile(base, "x", 0.0, 10.0, 5)
    assert(same.df.select("psi_total").distinct().collect()(0).getDouble(0) == 0.0)
    assert(same.df.count() == 5)
    val shifted = Seq.tabulate(100)(i => (i % 10).toDouble / 2).toDF("x")
    val drift = Chain(spark, "pp", base).psiProfile(shifted, "x", 0.0, 10.0, 5)
    assert(drift.df.select("psi_total").distinct().collect()(0).getDouble(0) > 0.25,
      "a halved domain must read as a population shift")
    // every term non-negative (both factors share a sign by construction)
    assert(drift.df.where(col("psi_term") < 0).count() == 0)
    val empty = Chain(spark, "pp", base).psiProfile(
      base.where(col("x") < -1), "x", 0.0, 10.0, 5)
    val r = empty.df.select("psi_term", "psi_total").collect()
    assert(r.forall(row => row.isNullAt(0) && row.isNullAt(1)),
      "an empty side must surface null terms, never a fake zero")
  }

  test("psi_categorical_profile: one-sided values eps-floor, identical mixes score 0") {
    val base = (Seq.fill(8)("en") ++ Seq.fill(2)("de")).toDF("lang")
    val other = (Seq.fill(8)("en") ++ Seq.fill(2)("fr")).toDF("lang")
    val c = Chain(spark, "pc", base).psiCategoricalProfile(other, "lang")
    val got = c.df.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set("en", "de", "fr"))
    assert(got("en")._3 == 0.0) // same share both sides
    assert(got("de")._1 == 2 && got("de")._2 == 0 && got("de")._3 > 0)
    assert(got("fr")._1 == 0 && got("fr")._2 == 2 && got("fr")._3 > 0)
    val zero = Chain(spark, "pc", base).psiCategoricalProfile(base, "lang")
    assert(zero.df.select("psi_total").distinct().collect()(0).getDouble(0) == 0.0)
  }

  // ---- trimmed mean --------------------------------------------------------

  test("trimmed_mean: drops floor(trim*n) per end, NaN/null excluded, over-trim -> null; SQL face agrees") {
    // 10 clean values 1..10 with an outlier pair replaced: trim=0.2 drops
    // 2 from each end -> mean of 3..8 = 5.5 regardless of the extremes
    val df = (Seq(-1000.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 5000.0)
      .map(Some(_)) ++ Seq(None, Some(Double.NaN))).map(Tuple1(_)).toDF("x")
    val c = Chain(spark, "tm", df).trimmedMean("x", 0.2)
    val r = c.df.collect()(0)
    assert(r.getDouble(0) == 5.5 && r.getLong(1) == 6 && r.getLong(2) == 10, s"got $r")
    df.createOrReplaceTempView("tm")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
    // grouped + over-trim: a 1-row group at trim 0.4 keeps its row
    // (floor(0.4*1)=0); at n=2, floor(.4*2)=0 keeps both; a group trimmed
    // empty surfaces null — force with trim close to .5 on a 2-row group?
    // floor(.49*2)=0 -> cannot empty with n>=1 and trim<.5 EXCEPT n=0
    val g = Seq(("a", Some(1.0)), ("a", Some(100.0)), ("b", None)).toDF("g", "x")
    val cg = Chain(spark, "tmg", g).trimmedMean("x", 0.25, groupBy = Seq("g"))
    val got = cg.df.collect().map(r2 => r2.getString(0) ->
      (if (r2.isNullAt(1)) null else r2.getDouble(1), r2.getLong(2))).toMap
    assert(got("a") == ((50.5, 2L)) && got("b") == ((null, 0L)), s"got $got")
    g.createOrReplaceTempView("tmg")
    assert(rows(spark.sql(cg.sql())) == rows(cg.df))
    assertThrows[IllegalArgumentException](Chain(spark, "tm", df).trimmedMean("x", 0.5))
  }

  // ---- cross table ---------------------------------------------------------

  test("cross_table: independent margins score 0, zero-observed cells present; SQL face agrees") {
    // perfectly independent 2x2: every cell o == e -> chi2 == 0
    val ind = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("a", "y"),
      ("b", "x"), ("b", "y")).toDF("u", "v")
    val c0 = Chain(spark, "ct0", ind).crossTable("u", "v")
    assert(c0.df.select("chi2_total").distinct().collect()(0).getDouble(0) == 0.0)
    assert(c0.df.select("dof").distinct().collect()(0).getLong(0) == 1L)
    // dependent 2x2 with a zero-observed cell; null rows excluded whole
    val dep = Seq(Some("a") -> Some("x"), Some("a") -> Some("x"),
      Some("b") -> Some("y"), Some("b") -> Some("y"),
      Some("a") -> Some("y"), None -> Some("x"), Some("a") -> None)
      .map { case (u, v) => (u.orNull, v.orNull) }.toDF("u", "v")
    val c1 = Chain(spark, "ct1", dep).crossTable("u", "v")
    val cells = c1.df.collect().map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(cells.size == 4)
    assert(cells(("b", "x"))._1 == 0L)            // zero-observed cell present
    assert(cells(("b", "x"))._2 == 2.0 * 2.0 / 5) // expected from margins, nulls dropped
    val tot = c1.df.select("chi2_total").distinct().collect()(0).getDouble(0)
    assert(tot > 0.0)
    dep.createOrReplaceTempView("ct1")
    assert(rows(spark.sql(c1.sql())) == rows(c1.df))
    ind.createOrReplaceTempView("ct0")
    assert(rows(spark.sql(c0.sql())) == rows(c0.df))
  }

  test("cross_table: totals come from the margins, so the plan holds no Expand") {
    // COUNT(DISTINCT …) totals planned an Expand whose grouping-set order
    // changed from run to run
    val ct = table("customer").crossTable("c_mktsegment", "c_nationkey")
    val expands = ct.df.queryExecution.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }
    assert(expands.isEmpty, s"unexpected Expand in cross_table's plan: $expands")
    val levels = ct.df.select(countDistinct("value_a"), countDistinct("value_b"), max("dof")).head()
    assert(levels.getLong(2) == (levels.getLong(0) - 1) * (levels.getLong(1) - 1))
  }

  // ---- extract pattern -----------------------------------------------------

  test("extract_pattern: groups, no-match and null normalize to NULL; SQL face agrees") {
    val df = Seq(Some("v2.13-rc1"), Some("no version here"), None).map(Tuple1(_)).toDF("t")
    val c = Chain(spark, "xp", df).extractPattern("t",
      "v([0-9]+)\\.([0-9]+)", Seq("major" -> 1, "minor" -> 2, "whole" -> 0))
    val got = c.df.collect().map(r => Option(r.getString(0)) ->
      (Option(r.getString(1)), Option(r.getString(2)), Option(r.getString(3)))).toMap
    assert(got(Some("v2.13-rc1")) == ((Some("2"), Some("13"), Some("v2.13"))))
    assert(got(Some("no version here")) == ((None, None, None)))
    assert(got(None) == ((None, None, None)))
    assertThrows[IllegalArgumentException](
      Chain(spark, "xp", df).extractPattern("t", "v(.)", Seq("a" -> 1, "a" -> 1)))
    df.createOrReplaceTempView("xp")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  // ---- empty-input contract ----------------------------------------------

  test("round-10 ops complete on empty input with the contract schema") {
    val emptyNums = Seq.empty[(String, Double, Double)].toDF("g", "x", "w")
    val e1 = Chain(spark, "e1", emptyNums).histogram("x", 0.0, 10.0, 4)
    assert(e1.df.count() == 4 && e1.df.agg(sum("cnt")).collect()(0).getLong(0) == 0)
    val e2 = Chain(spark, "e2", emptyNums).quantileProfile(Seq("x"), Seq(0.5))
    assert(e2.df.columns.sameElements(Array("col_name", "prob", "value", "n")) &&
      e2.df.count() == 0)
    val e3 = Chain(spark, "e3", emptyNums).entropyProfile(Seq("g"))
    assert(e3.df.count() == 0)
    val e4 = Chain(spark, "e4", emptyNums).weightedAgg(Seq("g"), "x", "w")
    assert(e4.df.count() == 0)
    val e5 = Chain(spark, "e5", emptyNums).skewProfile(Seq("g"), 5)
    assert(e5.df.count() == 0)
    val e6 = Chain(spark, "e6", emptyNums).kAnonymityViolations(Seq("g"), 3)
    assert(e6.df.count() == 0)
    val e7 = Chain(spark, "e7", emptyNums).corrMatrix(Seq("x", "w"))
    assert(e7.df.count() == 1) // ungrouped aggregate: one all-null-stats row
    val e8 = Chain(spark, "e8", emptyNums)
      .datasetSplits(Seq("a" -> 0.5, "b" -> 0.5), Seq("x" -> "ASC"))
    assert(e8.df.columns.contains("split") && e8.df.count() == 0)
    val emptyDocs = Seq.empty[(Long, String)].toDF("id", "text")
    val e9 = Chain(spark, "e9", emptyDocs).topNgrams("text", 2, 5)
    assert(e9.df.columns.sameElements(Array("ngram", "cnt")) && e9.df.count() == 0)
    val e10 = Chain(spark, "e10", emptyDocs).fuzzyPairs("id", "text", 2)
    assert(e10.df.columns.sameElements(Array("id_a", "id_b", "dist")) && e10.df.count() == 0)
    val e11 = Chain(spark, "e11", emptyDocs).countPattern("text", Seq("d" -> "[0-9]+"))
    assert(e11.df.columns.contains("n_d") && e11.df.count() == 0)
    val e12 = Chain(spark, "e12", emptyDocs)
      .extractPattern("text", "([0-9]+)", Seq("num" -> 1))
    assert(e12.df.columns.contains("num") && e12.df.count() == 0)
    val e13 = Chain(spark, "e13", emptyNums).psiProfile(emptyNums, "x", 0.0, 10.0, 4)
    assert(e13.df.count() == 4 &&
      e13.df.where(col("psi_total").isNotNull).count() == 0)
    val e14 = Chain(spark, "e14", emptyNums).psiCategoricalProfile(emptyNums, "g")
    assert(e14.df.count() == 0)
    val e15 = Chain(spark, "e15", emptyNums).shard(4, Seq("g"))
    assert(e15.df.columns.contains("shard") && e15.df.count() == 0)
    val e16 = Chain(spark, "e16", emptyNums).pseudonymize(Seq("g"), "s")
    assert(e16.df.count() == 0)
    // Spark (both faces) emits NO rows for grouping sets over empty input —
    // even for the () set, unlike a plain ungrouped aggregate. Pinned so a
    // Spark behavior change is noticed.
    val e17 = Chain(spark, "e17", emptyNums).groupingSetsAgg(
      Seq(Seq("g"), Seq()), Seq("x" -> Seq("SUM")))
    assert(e17.df.count() == 0)
    emptyNums.createOrReplaceTempView("e17")
    assert(spark.sql(e17.sql()).count() == 0, "faces agree on empty input")
  }

  // ---- plan shapes (scale posture) --------------------------------------

  test("fuzzy_pairs plan: every join is an equi-join — no cartesian, no nested loop") {
    val names = SparkEntry.namesFixtureDf(spark)
    val c = Chain(spark, "names", names).fuzzyPairs("id", "name", 2)
    val plan = c.df.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pigeonhole candidates must equi-join on segment keys:\n${plan.take(1500)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"the tiny family is a length-keyed equi join now, not a theta join:\n${plan.take(1500)}")
    c.assertScaleSafe()
  }

  test("round-10 ops pass the library's own scale lint") {
    table("customer").crossTable("c_mktsegment", "c_nationkey").assertScaleSafe()
    table("customer").entropyProfile(Seq("c_mktsegment")).assertScaleSafe()
    table("customer").kAnonymityViolations(Seq("c_mktsegment"), 8).assertScaleSafe()
    table("customer").pseudonymize(Seq("c_name"), "s").assertScaleSafe()
    table("lineitem").skewProfile(Seq("l_suppkey"), 5).assertScaleSafe()
    table("lineitem").weightedAgg(Seq("l_returnflag"), "l_extendedprice", "l_quantity")
      .assertScaleSafe()
    table("lineitem").quantileProfile(Seq("l_quantity"), Seq(0.5),
      groupBy = Seq("l_returnflag")).assertScaleSafe()
    table("lineitem").corrMatrix(Seq("l_quantity", "l_discount"),
      deletion = "listwise").assertScaleSafe()
    table("orders").histogram("o_totalprice", 0.0, 500000.0, 8,
      groupBy = Seq("o_orderstatus")).assertScaleSafe()
    table("orders").datasetSplits(Seq("a" -> 0.5, "b" -> 0.5),
      Seq("o_orderkey" -> "ASC"), strata = Seq("o_orderstatus")).assertScaleSafe()
    table("documents").topNgrams("text", 2, 10).assertScaleSafe()
    table("documents").countPattern("text", Seq("d" -> "[0-9]+")).assertScaleSafe()
    table("documents").shard(8, Seq("doc_id")).assertScaleSafe()
    table("customer").extractPattern("c_name", "([0-9]+)", Seq("num" -> 1))
      .assertScaleSafe()
    val orders = table("orders")
    Chain(spark, "of", orders.df.where("o_orderstatus = 'F'"))
      .psiProfile(orders.df.where("o_orderstatus = 'O'"), "o_totalprice",
        0.0, 500000.0, 8).assertScaleSafe()
    Chain(spark, "cl", table("customer").df.where("c_nationkey < 13"))
      .psiCategoricalProfile(table("customer").df.where("c_nationkey >= 13"),
        "c_mktsegment").assertScaleSafe()
    val ev = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet")
    graft.core.Chain(spark, "ed",
      graft.streaming.EventStreams.driftByWindow(ev, ev, "event_type", "1 hour"))
      .assertScaleSafe()
  }

  test("top_ngrams plan: global top-k is TakeOrderedAndProject, never a full sort") {
    val plan = table("documents").topNgrams("text", 2, 25)
      .df.queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n${plan.take(1200)}")
  }

  test("cluster_embeddings plan: one label-map exchange, corpus assigned without a shuffle") {
    val c = Chain(spark, "ce", SparkEntry.embFixtureDf(spark))
      .clusterEmbeddings("vec_id", "embedding", 4)
    // sparkPlan predates EnsureRequirements (no exchanges yet) — read the
    // AQE initialPlan, the pre-execution plan WITH exchanges
    val plan = c.df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan.toString
      case p => p.toString
    }
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"only the k-row label aggregate may shuffle (got $exchanges):\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the label map must broadcast back:\n${plan.take(1200)}")
  }

  test("cluster_embeddings admits string ids and labels by min string id") {
    val df = SparkEntry.embFixtureDf(spark)
      .select(concat(lit("doc-"), format_string("%02d", col("vec_id"))).as("sid"),
        col("embedding"))
    val c = Chain(spark, "ces", df).clusterEmbeddings("sid", "embedding", 4)
    val got = c.df.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    // min string id of cluster (i mod 4) is doc-00 .. doc-03
    got.foreach { case (sid, label) =>
      val i = sid.stripPrefix("doc-").toInt
      assert(label == f"doc-${i % 4}%02d", s"$sid -> $label")
    }
  }
}
