package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._
import TestSpark._

/** Operator-semantics specs over the sf0.001 fixtures. The exhaustive
  * per-operator correctness gate is the DuckDB differential in
  * tools/check_oracle.py (59 queries); these specs pin behaviors the oracle
  * can't see — naming, null handling, chain-vs-rendered-SQL equivalence,
  * guards.
  */
class OpsSpec extends AnyFunSuite {

  test("chain face and rendered-SQL face agree (CTE assembly)") {
    val chain = table("lineitem")
      .filterRows(Seq("l_discount > 0.05"))
      .math(Seq("l_extendedprice * (1 - l_discount)"), Seq("net"))
      .aggregate(Seq("l_returnflag"), Seq("net" -> Seq("SUM", "AVG"), "l_orderkey" -> Seq("COUNT")))
    assert(rows(spark.sql(chain.sql())) == rows(chain.df))
    assert(chain.sql().startsWith("WITH "))
  }

  test("VIEWS render mode materializes one view per step") {
    val chain = table("orders")
      .filterRows(Seq("o_totalprice > 100000"))
      .datetrunc(Seq("o_orderdate" -> "month"))
    chain.sql("VIEWS", "views_out").split(";\n").foreach(spark.sql)
    assert(rows(spark.table("views_out")) == rows(chain.df))
  }

  test("dedupe keeps exactly one row per key and is idempotent") {
    val once = table("lineitem").dedupe(Seq("l_orderkey"),
      Seq("l_linenumber" -> "DESC", "l_extendedprice" -> "DESC"))
    val keys = once.df.select("l_orderkey").distinct().count()
    assert(once.df.count() == keys)
    val twice = once.dedupe(Seq("l_orderkey"),
      Seq("l_linenumber" -> "DESC", "l_extendedprice" -> "DESC"))
    assert(rows(twice.df) == rows(once.df))
  }

  test("union keep_dupes=false gives set semantics") {
    val o = table("orders")
    val u = o.union(o, keepDupes = false)
    assert(u.df.count() == o.df.count())
    val ua = o.union(o, keepDupes = true)
    assert(ua.df.count() == 2 * o.df.count())
  }

  test("lag/lead are inverse on a dense series") {
    val c = table("orders")
      .lagCols(Seq("o_totalprice"), Seq(1, -1), Nil, Seq("o_orderkey" -> "ASC"))
    val bad = c.df
      .withColumn("back", lag(col("lag_o_totalprice__1"), 1)
        .over(org.apache.spark.sql.expressions.Window.orderBy("o_orderkey")))
      .where(col("back").isNotNull && col("back") =!= col("o_totalprice"))
    assert(bad.count() == 0)
  }

  test("sessionize: strict-gap boundaries, per-key ordinals, SQL face agrees") {
    import java.sql.Timestamp
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      // user 1: two events 10 min apart, one EXACTLY gap later (continues —
      // boundary is strictly greater), one gap+1s later (new session)
      (1L, 10L, ts("2024-01-01 00:00:00")),
      (2L, 10L, ts("2024-01-01 00:10:00")),
      (3L, 10L, ts("2024-01-01 01:10:00")), // 3600s after #2: same session
      (4L, 10L, ts("2024-01-01 02:10:01")), // 3601s after #3: new session
      // user 2: a single event is session 1
      (5L, 20L, ts("2024-01-05 12:00:00"))
    ).toDF("event_id", "user_id", "ts")
    val c = graft.core.Chain(spark, "sess_fx", df)
      .sessionize(Seq("user_id"), "ts", 3600L, Seq("event_id"))
    val got = c.df.select("event_id", "session_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 1L), s"got $got")
    // rendered SQL face computes the identical sessions
    df.createOrReplaceTempView("sess_fx")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
    // one exchange: both window passes share the user_id partitioning
    // (post-execution AQE toString prints initial AND final plans — count
    // nodes on initialPlan instead)
    val plan = c.df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(exchanges == 1, s"sessionize must cost exactly one shuffle, saw $exchanges")
    // the composed per-session aggregate reuses that same exchange:
    // grouping keys (user_id, session_id) are a superset of the window
    // partitioning, so the whole session_stats pipeline is ONE shuffle
    val stats = c.aggregate(Seq("user_id", "session_id"),
      Seq("event_id" -> Seq("COUNT")))
    val statsPlan = stats.df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val statsEx = statsPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(statsEx == 1,
      s"sessionize+aggregate must share one shuffle, saw $statsEx")
  }

  test("pivot/unpivot round-trip") {
    val pivoted = table("lineitem").pivot(
      Seq("l_linestatus"), "l_returnflag", "l_quantity", "SUM", Seq("A", "N", "R"))
    val back = pivoted.unpivot("qty", "flag", Seq("a", "n", "r"))
    assert(back.df.count() == pivoted.df.count() * 3)
    // total mass preserved
    val direct = table("lineitem").df.agg(
      sum(col("l_quantity").cast("decimal(38,4)"))).collect()(0).getDecimal(0)
    val round = back.df.agg(
      sum(col("qty").cast("decimal(38,4)"))).collect()(0).getDecimal(0)
    assert(direct.compareTo(round) == 0)
  }

  test("train_test_split matches requested fraction and order") {
    val c = table("orders").trainTestSplit(Seq("o_orderkey" -> "ASC"), 0.8)
    val n = c.df.count()
    val train = c.df.where("tt_split = 'TRAIN'")
    assert(train.count() == math.floor(0.8 * n).toLong)
    val maxTrainKey = train.agg(max("o_orderkey")).collect()(0).getLong(0)
    val minTestKey = c.df.where("tt_split = 'TEST'")
      .agg(min("o_orderkey")).collect()(0).getLong(0)
    assert(maxTrainKey < minTestKey)
  }

  test("stratified split keeps every stratum's proportion; SQL face agrees") {
    import spark.implicits._
    // global 80/20 on 12 rows takes 9 TRAIN and can starve the rare class;
    // stratified takes floor(0.8·10)=8 from a and floor(0.8·2)=1 from b
    val df = ((1 to 10).map(i => ("a", i)) ++ Seq(("b", 11), ("b", 12)))
      .toDF("g", "id")
    val c = graft.core.Chain(spark, "tts_fx", df)
      .trainTestSplitStratified(Seq("g"), Seq("id" -> "ASC"), 0.8)
    val byStratum = c.df.groupBy("g", "tt_split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byStratum == Map(("a", "TRAIN") -> 8L, ("a", "TEST") -> 2L,
      ("b", "TRAIN") -> 1L, ("b", "TEST") -> 1L), s"got $byStratum")
    df.createOrReplaceTempView("tts_fx")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("one_hot_encode dummies partition the rows") {
    val c = table("customer").oneHotEncode("c_mktsegment")
    val dummyCols = c.df.columns.filter(_.startsWith("c_mktsegment_"))
    assert(dummyCols.length == 5)
    val rowSums = c.df.select(dummyCols.map(col).reduce(_ + _).as("s"))
      .where("s <> 1")
    assert(rowSums.count() == 0)
  }

  test("label_encode is a dense 1-based code in value order") {
    val c = table("customer").labelEncode("c_mktsegment", includeValuesArray = true)
    val pairs = c.df.select("c_mktsegment", "c_mktsegment_encoded").distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(pairs("AUTOMOBILE") == 1 && pairs("MACHINERY") == 5)
    val arr = c.df.select("all_values_array").first().getSeq[String](0)
    assert(arr == Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
  }

  test("impute fills nulls and flags them") {
    import spark.implicits._
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("x")
    val c = graft.core.Chain(spark, "t", df).impute(Seq("x" -> "mean"), flagMissingVals = true)
    val got = c.df.orderBy("x").collect().map(r => (r.getDouble(0), r.getInt(1)))
    assert(got.toSeq == Seq((1.0, 0), (2.0, 1), (3.0, 0)))
  }

  test("describe profiles every column with exact counts") {
    val d = table("part").describeTable().df.collect()
      .map(r => r.getString(0) -> r).toMap
    assert(d.size == 6)
    assert(d("p_partkey").getAs[Long]("unique_count") == 200L)
    assert(d("p_name").getAs[String]("dtype") == "string")
    assert(d("p_retailprice").getAs[Long]("null_count") == 0L)
  }

  test("raw-SQL guards block destructive statements") {
    val sess = graft.core.GraftSession(spark)
    intercept[IllegalArgumentException](sess.query("DROP TABLE x"))
    assert(sess.isScarySql("delete from t"))
    assert(!sess.isScarySql("SELECT deleted_flag FROM t")) // word-boundary, not substring
    val li = table("lineitem")
    intercept[IllegalArgumentException](li.applySql("TRUNCATE TABLE y"))
  }

  test("sample_group_k_agg equals the window face and partial-aggregates map-side") {
    val keys = Seq("l_orderkey", "l_linenumber", "l_partkey")
    val win = table("lineitem").sampleGroupK(Seq("l_returnflag"), 20, keys).df
    val agg = table("lineitem").sampleGroupKAgg(Seq("l_returnflag"), 20, keys).df
    assert(rows(agg) == rows(win))
    // the point of the aggregate face: a partial (map-side) ObjectHashAggregate
    // bounds what the exchange carries to ~k candidates per group per task
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(plan.contains("partial_bottomk_hash_agg"))
    // SQL face of the registered kernel keeps the same kept-set
    table("lineitem")
    val viaSql = spark.sql(
      "SELECT _r.* FROM (SELECT explode(bottomk_hash_agg(" +
        "concat_ws('|', CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING), CAST(l_partkey AS STRING)), " +
        "struct(l_orderkey, l_linenumber, l_partkey, l_returnflag), 20)) AS _r " +
        "FROM lineitem GROUP BY l_returnflag)")
    val viaDf = agg.selectExpr("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag")
    assert(rows(viaSql) == rows(viaDf))
  }

  test("sample_weighted keeps rows in proportion to their weight") {
    import spark.implicits._
    import graft.core.Chain
    val df = (1 to 4400).map(i => (i.toLong, (i % 11) / 10.0)).toDF("id", "w")
    val kept = Chain(spark, "t", df).sampleWeighted("w", Seq("id")).df
    val rates = kept.groupBy("w").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // the endpoints are exact: w=0 keeps nothing, w=1 keeps everything
    assert(!rates.contains(0.0))
    assert(rates(1.0) == 400L)
    // interior weights track the keep probability (fixed data, fixed hash —
    // the margin covers binomial spread at 400 rows per bucket)
    for (wv <- Seq(0.2, 0.5, 0.8)) {
      val p = rates.getOrElse(wv, 0L).toDouble / 400.0
      assert(math.abs(p - wv) < 0.12, s"keep rate $p for weight $wv")
    }
    // null and NaN weights drop, never silently keep — an unguarded NaN
    // clamps to 1.0 under least/greatest (NaN compares greatest) and would
    // keep the row with P ≈ 1
    val withNull = Seq((1L, Option(0.9)), (2L, None: Option[Double]),
      (3L, Option(Double.NaN))).toDF("id", "w")
    assert(Chain(spark, "t", withNull).sampleWeighted("w", Seq("id")).df
      .where("id = 2 OR id = 3").count() == 0)
    // SQL face agrees (NaN guard present in the rendered text too)
    withNull.createOrReplaceTempView("w_nan_src")
    val sql = Chain(spark, "w_nan_src", withNull).sampleWeighted("w", Seq("id")).sql()
    assert(spark.sql(sql).where("id = 2 OR id = 3").count() == 0)
  }

  test("sample_group_top_k equals the score window face; null scores never rank") {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq("l_orderkey", "l_linenumber", "l_partkey")
    val agg = table("lineitem").sampleGroupTopK(Seq("l_returnflag"), 10,
      "l_extendedprice", keys).df
    val tiebreak = concat_ws("|", keys.map(col(_).cast("string")): _*)
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").cast("double").desc, tiebreak.asc)
    val win = table("lineitem").df.where(col("l_extendedprice").isNotNull)
      .withColumn("_rn", row_number().over(w)).where(col("_rn") <= 10).drop("_rn")
    assert(rows(agg) == rows(win))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_topk_score_agg"))
    // ascending keeps the cheapest instead
    val lo = table("lineitem").sampleGroupTopK(Seq("l_returnflag"), 1,
      "l_extendedprice", keys, ascending = true).df
      .select(min(col("l_extendedprice"))).head().getDouble(0)
    val globalMin = table("lineitem").df
      .select(min(col("l_extendedprice"))).head().getDouble(0)
    assert(lo == globalMin)
    // null AND NaN scores are excluded, not ranked first or last — an
    // unskipped NaN compares greatest, so under DESC it would beat every
    // real score and promote junk rows into "keep the k best"
    import spark.implicits._
    val withNulls = graft.core.Chain(spark, "n", Seq(
      ("g", Option(2.0), 1L), ("g", None: Option[Double], 2L),
      ("g", Option(Double.NaN), 4L), ("g", Option(1.0), 3L))
      .toDF("g", "s", "id"))
    val kept = withNulls.sampleGroupTopK(Seq("g"), 2, "s", Seq("id")).df
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L))
    // the rendered SQL window face filters NaN identically
    withNulls.df.createOrReplaceTempView("nan_score_src")
    val keptSql = spark.sql(graft.core.Chain(spark, "nan_score_src", withNulls.df)
      .sampleGroupTopK(Seq("g"), 2, "s", Seq("id")).sql())
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptSql == Seq(1L, 3L))
    // SQL face of the registered kernel keeps the same kept-set
    table("lineitem")
    val viaSql = spark.sql(
      "SELECT _r.* FROM (SELECT explode(topk_score_agg(CAST(l_extendedprice AS DOUBLE), " +
        "concat_ws('|', CAST(l_orderkey AS STRING), CAST(l_linenumber AS STRING), CAST(l_partkey AS STRING)), " +
        "struct(l_orderkey, l_linenumber, l_partkey, l_returnflag), 10, false)) AS _r " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY l_returnflag)")
    val viaDf = agg.selectExpr("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag")
    assert(rows(viaSql) == rows(viaDf))
  }

  test("bottom-k/top-k aggregates equal their window faces on randomized data") {
    import spark.implicits._
    import graft.core.Chain
    import org.apache.spark.sql.expressions.Window
    // many random group sizes around k — the regime where boundary
    // eviction, merge order and serialization actually get exercised
    val rnd = new scala.util.Random(7)
    // ~5% NaN scores mixed in: the aggregate skips them at update and the
    // window face filters them — equivalence must hold THROUGH the NaN path
    val df = (1 to 3000).map { i =>
      val s = if (rnd.nextInt(20) == 0) Double.NaN else rnd.nextDouble() * 100
      (rnd.nextInt(80).toString, i.toLong, s)
    }.toDF("g", "k", "s").repartition(13)
    val c = Chain(spark, "rand", df)
    val aggK = c.sampleGroupKAgg(Seq("g"), 7, Seq("k")).df
    val winK = c.sampleGroupK(Seq("g"), 7, Seq("k")).df
    assert(rows(aggK) == rows(winK))
    val aggT = c.sampleGroupTopK(Seq("g"), 7, "s", Seq("k")).df
    val tb = concat_ws("|", col("k").cast("string"))
    val wT = Window.partitionBy("g").orderBy(col("s").cast("double").desc, tb.asc)
    val winT = df.where(col("s").isNotNull && !isnan(col("s").cast("double")))
      .withColumn("_rn", row_number().over(wT)).where(col("_rn") <= 7).drop("_rn")
    assert(rows(aggT) == rows(winT))
  }

  test("exact AVG/STDDEV drop NaN from numerator AND denominator together") {
    import spark.implicits._
    import graft.core.Chain
    // cast(NaN as decimal) is null, so the exact SUM always skipped NaN —
    // but a COUNT over the raw column counts it, silently biasing the mean
    // low (30/3 = 10 instead of 30/2 = 15); both faces must agree
    val df = Seq(("a", 10.0), ("a", 20.0), ("a", Double.NaN)).toDF("g", "x")
    val agg = Chain(spark, "nanavg", df)
      .aggregate(Seq("g"), Seq("x" -> Seq("AVG", "STDDEV", "MEDIAN", "VARIANCE")))
    val r = agg.df.collect()(0)
    val mean = r.getAs[Double]("x_avg")
    val sd = r.getAs[Double]("x_stddev")
    val med = r.getAs[Double]("x_median")
    val vr = r.getAs[Double]("x_var")
    assert(mean == 15.0, s"NaN must not inflate the count: got mean $mean")
    assert(math.abs(sd - math.sqrt(50.0)) < 1e-12, s"stddev over the real pair: got $sd")
    // median: NaN sorts greatest — unguarded it ranks and drags the
    // median to 20; excluded, the median of {10, 20} interpolates to 15
    assert(med == 15.0, s"NaN must never rank in MEDIAN: got $med")
    assert(vr == 50.0, s"variance shares the stddev gates: got $vr")
    // the rendered SQL face computes the identical statistics
    df.createOrReplaceTempView("nanavg")
    val rs = spark.sql(agg.sql()).collect()(0)
    assert(rs.getAs[Double]("x_avg") == mean && rs.getAs[Double]("x_stddev") == sd &&
      rs.getAs[Double]("x_median") == med && rs.getAs[Double]("x_var") == vr)
    // linear regression excludes the NaN row from the fit entirely (an
    // inconsistent count would bias the slope denominator)
    val lr = Chain(spark, "nlr",
      Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (Double.NaN, 1.0)).toDF("x2", "y2"))
      .linearRegression(Nil, "y2", "x2").df.collect()(0)
    assert(lr.getAs[Long]("n") == 3L, s"NaN row must not count: ${lr.getAs[Long]("n")}")
    assert(math.abs(lr.getAs[Double]("slope") - 2.0) < 1e-9)
  }

  test("one NaN does not poison bin/scaler statistics; NaN rows degrade row-wise") {
    import spark.implicits._
    import graft.core.Chain
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, Double.NaN))
      .toDF("id", "x")
    val c = Chain(spark, "nanstats", df)
    // equal-width bins come from the REAL range [10, 40] (unguarded, max()
    // returns NaN and every bin would go null); the NaN row bins to null
    // (unguarded, least(NaN, k) = k would drop it into the LAST bin)
    val bins = c.bin("equalwidth", 3, "x").df.collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(bins(1L) == Some(0) && bins(4L) == Some(2), s"real rows bin by real range: $bins")
    assert(bins(5L).isEmpty, "NaN must bin to null, not the last bin")
    // min-max scaling over the real range; the NaN row scales to NaN
    val mm = c.minMaxScaler(Seq("x")).df.collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(mm(1L) == 0.0 && mm(4L) == 1.0, s"real range must be [10,40]: $mm")
    assert(mm(5L).isNaN)
    // standard-scaler statistics equal the NaN-free computation (an
    // unguarded count would count the NaN row and bias mu/sd low)
    val a = c.standardScaler(Seq("x")).df
      .where("id = 1").select("x_scaled").head().getDouble(0)
    val b = Chain(spark, "cl", df.where("NOT isnan(x)")).standardScaler(Seq("x")).df
      .where("id = 1").select("x_scaled").head().getDouble(0)
    assert(a == b, s"NaN row must not bias mu/sd: $a vs $b")
    // robust outliers: median/MAD come from the real values (median 25,
    // MAD 10 over {10,20,30,40}); the NaN row itself flags as an outlier
    val ro = c.flagOutliersRobust("x").df.collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("x_outlier_robust")).toMap
    assert(ro == Map(1L -> false, 2L -> false, 3L -> false, 4L -> false, 5L -> true),
      s"only the NaN row flags: $ro")
    val mz4 = c.flagOutliersRobust("x").df.where("id = 4")
      .select("x_mzscore").head().getDouble(0)
    assert(math.abs(mz4 - 0.6745 * 15.0 / 10.0) < 1e-12,
      s"median/MAD must come from the real values: $mz4")
  }

  test("robustScaler: nearest-rank median/IQR, zero-IQR scales by 1, NaN passes through") {
    import spark.implicits._
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0),
      ("a", Double.NaN),           // never ranks, passes through as NaN
      ("b", 7.0), ("b", 7.0), ("b", 7.0) // constant group: IQR 0 -> scale 1
    ).toDF("g", "x")
    val c = graft.core.Chain(spark, "rs_fx", df).robustScaler("x", Seq("g"))
    val got = c.df.collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // group a (NaN excluded): n=5, ranks q1=2, med=3, q3=4 -> q1=2, med=3,
    // q3=4, IQR=2; x=5 scales to 1.0
    val aScaled = got.filter(t => t._1 == "a" && !t._2.isNaN)
      .map(t => t._2 -> t._3).toMap
    assert(aScaled == Map(1.0 -> -1.0, 2.0 -> -0.5, 3.0 -> 0.0, 4.0 -> 0.5, 5.0 -> 1.0),
      s"got $aScaled")
    assert(got.filter(_._1 == "b").forall(_._3 == 0.0), "constant group centers to 0")
    assert(got.exists(t => t._2.isNaN && t._3.isNaN), "NaN passes through row-wise")
    // rendered SQL face computes the identical scaling
    df.createOrReplaceTempView("rs_fx")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
    // one exchange: rank and the three rank-picks share the group partitioning
    val plan = c.df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(exchanges == 1, s"robustScaler must cost exactly one shuffle, saw $exchanges")
  }

  test("impute median/mode fills are NaN-excluded like every other statistic") {
    import spark.implicits._
    import graft.core.Chain
    // median: NaN sorts greatest, so an unguarded percentile ranks it and
    // drags the fill toward the corrupt end; the NaN-excluded median of
    // {1, 3, 100} is 3. The null row receives the fill; the NaN row is
    // not null and passes through untouched.
    val dfMed = Seq((1L, Option(1.0)), (2L, Option(3.0)), (3L, Option(100.0)),
      (4L, Option(Double.NaN)), (5L, Option.empty[Double])).toDF("id", "x")
    val med = Chain(spark, "nanimp", dfMed).impute(Seq("x" -> "median"))
    val medFill = med.df.where("id = 5").select("x").head().getDouble(0)
    assert(medFill == 3.0, s"median fill must exclude NaN: got $medFill")
    // mean fill agrees with the NaN-excluded mean (Exact.avg contract)
    val meanFill = Chain(spark, "nanimp", dfMed).impute(Seq("x" -> "mean"))
      .df.where("id = 5").select("x").head().getDouble(0)
    assert(meanFill == 104.0 / 3.0, s"mean fill must exclude NaN: got $meanFill")
    // the rendered SQL face embeds the same driver-computed literal
    dfMed.createOrReplaceTempView("nanimp")
    val sqlFill = spark.sql(med.sql()).where("id = 5").select("x").head().getDouble(0)
    assert(sqlFill == medFill, s"SQL face fill disagrees: $sqlFill vs $medFill")
    // mode: three corrupt NaN readings must not beat the honest plurality
    val dfMode = Seq((1L, Option(1.0)), (2L, Option(1.0)), (3L, Option(Double.NaN)),
      (4L, Option(Double.NaN)), (5L, Option(Double.NaN)), (6L, Option.empty[Double]))
      .toDF("id", "x")
    val modeFill = Chain(spark, "nanimp2", dfMode).impute(Seq("x" -> "mode"))
      .df.where("id = 6").select("x").head().getDouble(0)
    assert(modeFill == 1.0, s"mode fill must exclude NaN: got $modeFill")
  }

  test("bin(equalwidth) refuses an all-NaN column by name instead of an NPE") {
    import spark.implicits._
    import graft.core.Chain
    val df = Seq(Option(Double.NaN), Option(Double.NaN), Option.empty[Double]).toDF("x")
    val e = intercept[IllegalArgumentException](
      Chain(spark, "allnan", df).bin("equalwidth", 3, "x"))
    assert(e.getMessage.contains("x"), s"error must name the column: ${e.getMessage}")
  }

  test("stddev excludes a value whose square overflows the decimal accumulator") {
    import spark.implicits._
    import graft.core.Chain
    // 1e16 fits DECIMAL(38,4) (34 integer digits) but its square (1e32)
    // overflows DECIMAL(38,8) (30 digits). Under ANSI (the Spark 4
    // default) the overflow raises — loud, never wrong. Under non-ANSI
    // the cast nulls: before, the row counted in n and Sx while dropping
    // from Sxx — a finite but WRONG stddev; now the whole row leaves the
    // statistic (consistent exclusion, like NaN), so the result is the
    // stddev of {1, 2, 3} exactly.
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 1.0e16)).toDF("g", "x")
    val raised = intercept[Exception](
      df.agg(graft.core.Exact.stddev(col("x")).as("sd")).head())
    assert(raised.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE") ||
      raised.getMessage.contains("cannot be represented"),
      s"ANSI overflow must raise the decimal-range error: ${raised.getMessage.take(200)}")
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val sd = df.agg(graft.core.Exact.stddev(col("x")).as("sd")).head().getDouble(0)
      assert(sd == 1.0, s"stddev over the in-range values {1,2,3}: got $sd")
      // the rendered SQL face carries the same gate
      val agg = Chain(spark, "ovf", df).aggregate(Seq("g"), Seq("x" -> Seq("STDDEV")))
      df.createOrReplaceTempView("ovf")
      val rs = spark.sql(agg.sql()).head().getAs[Double]("x_stddev")
      assert(rs == agg.df.head().getAs[Double]("x_stddev") && rs == 1.0,
        s"SQL face must agree: $rs")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("observed metrics piggyback on the running action") {
    val obs = org.apache.spark.sql.Observation("ops_spec_obs")
    val c = table("orders").observed(obs,
      Seq(count(lit(1)).as("n"), max(col("o_totalprice")).as("mx")))
    val n = c.df.count()
    val metrics = obs.get
    assert(metrics("n") == n)
    assert(metrics("mx").asInstanceOf[Double] > 0.0)
    // semantics-neutral: the SQL face renders pass-through
    assert(rows(spark.sql(c.sql())) == rows(table("orders").df))
  }

  test("diff_against classifies added/removed/changed with null-safe fingerprints") {
    import spark.implicits._
    import graft.core.Chain
    val oldV = Chain(spark, "v_old", Seq(
      (1L, Option("a")), (2L, Option("b")), (3L, Option("")),
      (4L, None: Option[String])).toDF("k", "v"))
    val newV = Chain(spark, "v_new", Seq(
      (2L, Option("b2")), (3L, None: Option[String]),
      (4L, None: Option[String]), (5L, Option("e"))).toDF("k", "v"))
    val got = oldV.diffAgainst(newV, Seq("k")).df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // 3: '' vs null must read as changed (sentinel, not concat_ws collapse);
    // 4: null vs null is unchanged and must not appear
    assert(got == Map(1L -> "removed", 2L -> "changed", 3L -> "changed", 5L -> "added"))
    intercept[IllegalArgumentException](
      oldV.diffAgainst(Chain(spark, "w", newV.df.withColumnRenamed("v", "w")), Seq("k")))
    // null KEYS match null-safely: a null-keyed row on both sides compares
    // fingerprints (changed/unchanged), never a spurious added+removed pair
    val oldN = Chain(spark, "nk_old", Seq(
      (None: Option[Long], Option("x")), (Some(1L), Option("a"))).toDF("k", "v"))
    val newSame = Chain(spark, "nk_new1", Seq(
      (None: Option[Long], Option("x")), (Some(1L), Option("a"))).toDF("k", "v"))
    assert(oldN.diffAgainst(newSame, Seq("k")).df.count() == 0)
    val newChanged = Chain(spark, "nk_new2", Seq(
      (None: Option[Long], Option("y")), (Some(1L), Option("a"))).toDF("k", "v"))
    val gotN = oldN.diffAgainst(newChanged, Seq("k")).df.collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toMap
    assert(gotN == Map(-1L -> "changed"))
  }

  test("save guards against silent overwrite") {
    val c = table("region")
    c.save("t_save_guard", "TABLE", overwrite = true)
    intercept[IllegalStateException](c.save("t_save_guard", "TABLE"))
    c.save("t_save_guard", "TABLE", overwrite = true)
    assert(spark.table("t_save_guard").count() == c.df.count())
  }

  test("save writes local tables without a chmod process: same modes, checksums and rows") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.PosixFilePermissions
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val dir = Files.createTempDirectory("graft_local_fs")
    val fs = new graft.core.QuietRawLocalFileSystem
    fs.initialize(dir.toUri, spark.sparkContext.hadoopConfiguration)
    for (mode <- Seq("640", "755", "600")) {
      val f = new Path(dir.resolve(s"f$mode").toUri)
      fs.create(f).close()
      fs.setPermission(f, new FsPermission(mode))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(f.toUri))) ==
        new FsPermission(mode).toString)
    }
    val c = table("nation")
    c.save("t_save_local", overwrite = true)
    c.save("t_save_local", overwrite = true)
    val loc = spark.sql("DESCRIBE FORMATTED t_save_local").where("col_name = 'Location'")
      .head().getString(1)
    val names = Files.list(Paths.get(new java.net.URI(loc))).toArray.map(_.toString.split('/').last)
    val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.forall(p => names.contains(s".$p.crc")),
      s"every part file keeps its checksum: ${names.toSeq}")
    assert(names.contains("_SUCCESS"))
    assert(rows(spark.table("t_save_local")) == rows(c.df))
  }
}
