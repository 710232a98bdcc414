package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.ops._

/** Driver contract — one `queries` entry (+ DuckDB oracle SQL where
  * expressible) per implemented operator from SURVEY.md §2.
  *
  * Oracle-parity notes (why the SQL looks the way it does):
  *   - Floating SUM/AVG/STDDEV route through exact decimal accumulation on
  *     BOTH sides (`CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DOUBLE)`) so the
  *     result is independent of accumulation order — Spark partitioning and
  *     DuckDB's single-threaded fold then agree bit-for-bit.
  *   - DuckDB window/rank/extract functions return BIGINT where Spark
  *     returns INT; oracles cast to align schemas.
  *   - All outputs avoid session-zoned timestamps (inputs are parquet
  *     timezone-naive, read as TIMESTAMP_NTZ).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): Chain =
    Chain(s, name, ParquetSource.read(s, s"$dir/$name.parquet"))

  /** Exact-decimal aggregate SQL helpers mirroring [[graft.core.Exact]]. */
  private def dsum(x: String) = s"CAST(SUM(CAST($x AS DECIMAL(38,4))) AS DOUBLE)"
  private def davg(x: String) = s"${dsum(x)} / COUNT($x)"
  private def dsum8(x: String) = s"CAST(SUM(CAST($x AS DECIMAL(38,8))) AS DOUBLE)"
  private def dsumOver(x: String, over: String) =
    s"CAST(SUM(CAST($x AS DECIMAL(38,4))) OVER $over AS DOUBLE)"

  /** Flagship pipeline on sf=0.001 (tutorial replay per FIXTURES.md §B):
    * join → datetrunc → rename → aggregate → lag → moving_avg →
    * target_encode → impute → train_test_split.
    */
  def entry(spark: SparkSession): DataFrame = entryChain(spark).df

  /** [[entry]] as a chain, for its SQL face and `releaseCheckpoints`. */
  def entryChain(spark: SparkSession): Chain = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    li.join(o, "inner", Seq("l_orderkey" -> "o_orderkey"))
      .datetrunc(Seq("o_orderdate" -> "week"))
      .rename(Seq("o_orderdate_week" -> "order_week"))
      .aggregate(Seq("l_partkey", "order_week"),
        Seq("l_extendedprice" -> Seq("SUM", "AVG")))
      .lagCols(Seq("l_extendedprice_sum"), Seq(1, 2),
        Seq("l_partkey"), Seq("order_week" -> "ASC"))
      .movingAvg(Seq("l_extendedprice_sum"), Seq(4),
        Seq("order_week" -> "ASC"), Seq("l_partkey"))
      .targetEncode("l_partkey", "l_extendedprice_sum")
      .impute(Seq("lag_l_extendedprice_sum_1" -> "mean"))
      .trainTestSplit(Seq("l_partkey" -> "ASC", "order_week" -> "ASC"), 0.8)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ extQueries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- projections / column ops (SURVEY §2.2 #1-8)
    "q_drop_columns" -> ((s, d) =>
      t(s, d, "lineitem")
        .dropColumns(includeCols = Seq("l_orderkey", "l_linenumber", "l_quantity")).df),
    "q_rename" -> ((s, d) =>
      t(s, d, "orders").rename(Seq("o_orderdate" -> "order_date")).df),
    // the decimal(12,2) cast (HALF_UP rounding) is round-tripped back to
    // double: a DECIMAL in the final schema reaches the driver's compare as
    // python Decimal('904.00') from Spark parquet but float 904.0 from
    // DuckDB, hash-mismatching on representation despite equal values
    "q_cast" -> ((s, d) =>
      t(s, d, "lineitem")
        .dropColumns(includeCols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))
        .castCols(Seq("l_linenumber" -> "bigint", "l_quantity" -> "int",
          "l_extendedprice" -> "decimal(12,2)"))
        .castCols(Seq("l_extendedprice" -> "double")).df),
    "q_concat" -> ((s, d) =>
      t(s, d, "customer").concatCols(Seq("c_name", "'-'", "c_mktsegment"), "c_label").df),
    "q_substring" -> ((s, d) =>
      t(s, d, "customer").substringCol("c_name", 1, 8).df),
    "q_math" -> ((s, d) =>
      t(s, d, "lineitem").math(
        Seq("l_extendedprice * (1 - l_discount)", "net_price * (1 + l_tax)"),
        Seq("net_price", "gross_price")).df),
    "q_if_then" -> ((s, d) =>
      t(s, d, "orders").ifThen(
        Seq("o_totalprice > 300000" -> "'BIG'", "o_totalprice > 150000" -> "'MED'"),
        "'SMALL'", "size_band").df),
    "q_to_date" -> ((s, d) =>
      t(s, d, "orders")
        .math(Seq("date_format(o_orderdate, 'yyyy-MM-dd')"), Seq("od_str"))
        .toDateCols(Seq("od_str" -> "yyyy-MM-dd")).df),

    // ---- filters / sort / dedup / rank (#9-12)
    "q_filter" -> ((s, d) =>
      t(s, d, "lineitem").filterRows(
        Seq("l_shipdate >= '1996-01-01'", "l_discount > 0.03")).df),
    "q_order" -> ((s, d) =>
      t(s, d, "orders").orderRows(Seq("o_totalprice" -> "DESC", "o_orderkey" -> "ASC")).df),
    "q_dedupe" -> ((s, d) =>
      t(s, d, "lineitem").dedupe(Seq("l_orderkey"),
        Seq("l_linenumber" -> "DESC", "l_extendedprice" -> "DESC")).df),
    "q_rank" -> ((s, d) =>
      t(s, d, "orders").rank(
        Seq("o_totalprice" -> "DESC", "o_orderkey" -> "ASC"),
        partitionBy = Seq("o_orderpriority"), rankType = "dense_rank",
        alias = "price_rank").df),

    // ---- joins / sets (#13-17)
    "q_join" -> ((s, d) =>
      t(s, d, "lineitem").join(t(s, d, "orders"), "inner",
        Seq("l_orderkey" -> "o_orderkey")).df),
    "q_simple_join" -> ((s, d) =>
      t(s, d, "customer").rename(Seq("c_nationkey" -> "n_nationkey"))
        .simpleJoin(t(s, d, "nation"), "inner", Seq("n_nationkey")).df),
    "q_multi_join" -> ((s, d) =>
      t(s, d, "lineitem").multiJoin(Seq(
        t(s, d, "orders").rename(Seq("o_orderkey" -> "l_orderkey")) -> Seq("l_orderkey"),
        t(s, d, "part").rename(Seq("p_partkey" -> "l_partkey")) -> Seq("l_partkey")),
        "inner").df),
    "q_union" -> ((s, d) =>
      t(s, d, "orders").filterRows(Seq("o_totalprice > 100000"))
        .union(t(s, d, "orders").filterRows(Seq("o_orderstatus = 'F'")),
          keepDupes = false).df),
    "q_multi_union" -> ((s, d) => {
      val cols = Seq("c_custkey", "c_mktsegment", "c_acctbal")
      t(s, d, "customer").filterRows(Seq("c_mktsegment = 'BUILDING'"))
        .multiUnion(Seq(
          t(s, d, "customer").filterRows(Seq("c_mktsegment = 'MACHINERY'")),
          t(s, d, "customer").filterRows(Seq("c_acctbal < 0"))), cols).df
    }),

    // ---- aggregates (#18-23)
    "q_aggregate" -> ((s, d) =>
      t(s, d, "lineitem").aggregate(
        Seq("l_returnflag", "l_linestatus"),
        Seq(
          "l_quantity" -> Seq("SUM", "AVG"),
          "l_extendedprice" -> Seq("SUM", "MIN", "MAX"),
          "l_orderkey" -> Seq("COUNT_DISTINCT"),
          "l_linenumber" -> Seq("COUNT"))).df),
    "q_conditional_agg" -> ((s, d) =>
      t(s, d, "lineitem").conditionalAgg(
        Seq("l_linestatus"),
        Seq("l_returnflag = 'R'", "l_discount > 0.02"),
        "l_extendedprice", "SUM").df),
    "q_aggregate_string" -> ((s, d) =>
      t(s, d, "customer").aggregateString(
        Seq("c_nationkey"), ",", Seq("c_mktsegment"),
        distinct = true, ordered = true).df),
    "q_describe" -> ((s, d) => t(s, d, "part").describeTable().df),
    // exact-decimal sample variance face under its own oracle
    "q_agg_variance" -> ((s, d) =>
      t(s, d, "lineitem").aggregate(Seq("l_returnflag"),
        Seq("l_extendedprice" -> Seq("VARIANCE"))).df),
    "q_linear_regression" -> ((s, d) =>
      t(s, d, "lineitem").linearRegression(
        Seq("l_returnflag"), y = "l_extendedprice", x = "l_quantity").df),
    "q_market_basket" -> ((s, d) =>
      t(s, d, "lineitem").marketBasket("l_orderkey", "l_partkey", ",").df),

    // ---- window / time-series (#24-29)
    "q_lag" -> ((s, d) =>
      t(s, d, "lineitem").lagCols(
        Seq("l_quantity"), Seq(1, -1), Seq("l_suppkey"),
        Seq("l_shipdate" -> "ASC", "l_orderkey" -> "ASC", "l_linenumber" -> "ASC")).df),
    "q_moving_avg" -> ((s, d) =>
      t(s, d, "lineitem").movingAvg(
        Seq("l_extendedprice"), Seq(4),
        Seq("l_shipdate" -> "ASC", "l_orderkey" -> "ASC", "l_linenumber" -> "ASC"),
        Seq("l_suppkey")).df),
    "q_rolling_agg" -> ((s, d) =>
      t(s, d, "lineitem").rollingAgg(
        Seq("l_quantity" -> Seq("SUM", "MIN")),
        Seq("l_shipdate" -> "ASC", "l_orderkey" -> "ASC", "l_linenumber" -> "ASC"),
        offsets = (-2, 0), groupBy = Seq("l_suppkey")).df),
    // frame-edge values: FIRST/LAST over a rolling frame with a UNIQUE
    // order chain (suppkey partition + shipdate/orderkey/linenumber/partkey)
    "q_rolling_firstlast" -> ((s, d) =>
      t(s, d, "lineitem").rollingAgg(
        Seq("l_quantity" -> Seq("FIRST", "LAST")),
        Seq("l_shipdate" -> "ASC", "l_orderkey" -> "ASC",
          "l_linenumber" -> "ASC", "l_partkey" -> "ASC"),
        offsets = (-2, 0), groupBy = Seq("l_suppkey")).df),
    "q_cumulative_agg" -> ((s, d) =>
      t(s, d, "orders").cumulativeAgg(
        Seq("o_totalprice" -> Seq("SUM", "MAX")),
        Seq("o_orderdate" -> "ASC", "o_orderkey" -> "ASC"),
        groupBy = Seq("o_custkey")).df),
    "q_timeseries_agg" -> ((s, d) =>
      t(s, d, "orders").timeseriesAgg(
        Seq("o_totalprice" -> Seq("SUM")),
        "o_orderdate", Seq(7), "day", Seq("o_custkey")).df),
    "q_train_test_split" -> ((s, d) =>
      t(s, d, "orders").trainTestSplit(Seq("o_orderkey" -> "ASC"), 0.8).df),
    // per-stratum 80/20: every priority class keeps its proportion
    "q_tt_split_stratified" -> ((s, d) =>
      t(s, d, "orders").trainTestSplitStratified(
        Seq("o_orderpriority"), Seq("o_orderkey" -> "ASC"), 0.8).df),
    // batch sessionization: per-user 12h-gap session ordinals over events
    "q_sessionize" -> ((s, d) =>
      Chain(s, "events", readEvents(s, d))
        .sessionize(Seq("user_id"), "ts", 43200L, Seq("event_id")).df),
    // composed: sessionize → per-session summary (count/value/bounds) —
    // the funnel-analysis shape, one extra exchange on the session key
    "q_session_stats" -> ((s, d) =>
      Chain(s, "events", readEvents(s, d))
        .sessionize(Seq("user_id"), "ts", 43200L, Seq("event_id"))
        .aggregate(Seq("user_id", "session_id"),
          Seq("value" -> Seq("SUM", "COUNT"), "ts" -> Seq("MIN", "MAX"))).df),

    // time-series regularization: daily per-priority grid over Q1'95 with
    // order totals forward-filled across gap days
    "q_resample_fill" -> ((s, d) =>
      t(s, d, "orders")
        .aggregate(Seq("o_orderpriority", "o_orderdate"),
          Seq("o_totalprice" -> Seq("SUM")))
        .resampleFill(Seq("o_orderpriority"), "o_orderdate",
          "1995-01-01", "1995-03-01", "day", Seq("o_totalprice_sum")).df),
    // linear variant: interior gaps interpolate, edges stay null
    "q_resample_interp" -> ((s, d) =>
      t(s, d, "orders")
        .aggregate(Seq("o_orderpriority", "o_orderdate"),
          Seq("o_totalprice" -> Seq("SUM")))
        .resampleFill(Seq("o_orderpriority"), "o_orderdate",
          "1995-01-01", "1995-03-01", "day", Seq("o_totalprice_sum"),
          method = "linear").df),

    // ---- dates (#30-35)
    "q_datetrunc" -> ((s, d) =>
      t(s, d, "orders").datetrunc(
        Seq("o_orderdate" -> "week", "o_orderdate" -> "month")).df),
    "q_datepart" -> ((s, d) =>
      t(s, d, "orders").datepart(
        Seq("o_orderdate" -> "year", "o_orderdate" -> "month", "o_orderdate" -> "day")).df),
    "q_dateadd" -> ((s, d) =>
      t(s, d, "orders").dateadd("day", "o_orderdate", 30).df),
    "q_datediff" -> ((s, d) =>
      t(s, d, "orders")
        .math(Seq("TIMESTAMP '1998-01-01 00:00:00'"), Seq("ref_date"))
        .datediffCols("day", "o_orderdate", "ref_date").df),
    "q_datespine" -> ((s, d) =>
      t(s, d, "orders")
        .datespine("o_orderdate", "1995-01-01", "1995-03-31", "day")
        .aggregate(Seq("o_orderdate_spine"), Seq("o_orderkey" -> Seq("COUNT"))).df),
    "q_datespine_groups" -> ((s, d) =>
      t(s, d, "orders")
        .datespineGroups(Seq("o_orderpriority"), "o_orderdate",
          "1995-01-01", "1995-12-01", "month")
        .aggregate(Seq("o_orderpriority", "o_orderdate_spine"),
          Seq("o_orderkey" -> Seq("COUNT"))).df),

    // ---- encoders / ML prep (#36-43)
    "q_one_hot_encode" -> ((s, d) =>
      t(s, d, "customer").oneHotEncode("c_mktsegment").df),
    "q_label_encode" -> ((s, d) =>
      t(s, d, "customer").labelEncode("c_mktsegment").df),
    "q_target_encode" -> ((s, d) =>
      t(s, d, "orders").targetEncode("o_orderpriority", "o_totalprice").df),
    "q_impute" -> ((s, d) =>
      t(s, d, "customer")
        .math(Seq("CASE WHEN c_acctbal < 500 THEN CAST(NULL AS DOUBLE) ELSE c_acctbal END"),
          Seq("acct2"))
        .impute(Seq("acct2" -> "mean"), flagMissingVals = true).df),
    // NaN-excluded fill statistics under oracle: NaN is injected into BOTH
    // imputed columns (negatives -> NaN for the median column, the top of
    // the range -> NaN for the mode column), so an unguarded median would
    // rank NaN greatest and an unguarded mode could elect NaN; the fills
    // must come from the real values only. Integer-valued doubles keep the
    // interpolated median bit-exact across engines; NaN rows are filtered
    // AFTER imputation so the OUTPUT is NaN-free (the fill value is the
    // proof, and the driver hash never sees a NaN)
    "q_impute_nan" -> ((s, d) =>
      t(s, d, "customer")
        .math(Seq(
          "CASE WHEN c_acctbal < 0 THEN CAST('NaN' AS DOUBLE) WHEN c_acctbal < 500 THEN CAST(NULL AS DOUBLE) ELSE FLOOR(c_acctbal) END",
          "CASE WHEN c_acctbal > 9000 THEN CAST('NaN' AS DOUBLE) WHEN c_acctbal < 500 THEN CAST(NULL AS DOUBLE) ELSE FLOOR(c_acctbal / 1000) END"),
          Seq("acct3", "seg4"))
        .impute(Seq("acct3" -> "median", "seg4" -> "mode"))
        .filterRows(Seq("NOT isnan(acct3) AND NOT isnan(seg4)")).df),
    "q_bin" -> ((s, d) =>
      t(s, d, "orders").bin("equalwidth", 10, "o_totalprice").df),
    // global NTILE face: PrefixScan positions + bucket arithmetic (no
    // single-task window); o_orderkey tiebreak makes the assignment
    // deterministic so both engines agree on tied prices
    "q_bin_ntile" -> ((s, d) =>
      t(s, d, "orders").bin("ntile", 7, "o_totalprice",
        tiebreak = Seq("o_orderkey")).df),
    // data-quality gate: per-flag z-scores and 2-sigma outlier flags from
    // exact decimal window statistics
    "q_flag_outliers" -> ((s, d) =>
      t(s, d, "lineitem").flagOutliers("l_extendedprice",
        Seq("l_returnflag"), z = 2.0).df),
    // per-group heavy-tail clamp; nearest-rank bounds, so engine-exact
    "q_winsorize" -> ((s, d) =>
      t(s, d, "lineitem").winsorize("l_extendedprice",
        Seq("l_returnflag"), pLow = 0.05, pHigh = 0.95).df),
    // median/IQR scaling — nearest-rank order stats, engine-exact
    "q_robust_scaler" -> ((s, d) =>
      t(s, d, "lineitem").robustScaler("l_extendedprice", Seq("l_returnflag")).df),
    // the robust (median/MAD, Iglewicz–Hoaglin modified z) variant — the
    // 50%-breakdown gate classic z-scores lack
    "q_flag_outliers_robust" -> ((s, d) =>
      t(s, d, "lineitem").flagOutliersRobust("l_extendedprice",
        Seq("l_returnflag"), z = 3.5).df),
    "q_standard_scaler" -> ((s, d) =>
      t(s, d, "lineitem").standardScaler(Seq("l_extendedprice")).df),
    "q_min_max_scaler" -> ((s, d) =>
      t(s, d, "part").minMaxScaler(Seq("p_retailprice")).df),
    "q_levenshtein" -> ((s, d) =>
      t(s, d, "customer").levenshteinCols(Seq("c_name"), "c_mktsegment").df),

    // ---- reshape + escape hatch (#44-46)
    "q_pivot" -> ((s, d) =>
      t(s, d, "lineitem").pivot(
        Seq("l_linestatus"), "l_returnflag", "l_quantity", "SUM",
        listOfVals = Seq("A", "N", "R")).df),
    "q_unpivot" -> ((s, d) =>
      t(s, d, "part").unpivot("val", "metric", Seq("p_size", "p_retailprice")).df),
    "q_apply" -> ((s, d) =>
      t(s, d, "lineitem").applySql(
        "SELECT l_returnflag, COUNT(*) AS cnt FROM {{source_table}} GROUP BY l_returnflag").df),
    // user-defined named transform (define_transform parity): registered
    // template bound with args, executed + rendered like a built-in step
    "q_named_transform" -> ((s, d) => {
      val sess = graft.core.GraftSession(s)
      val tpl = sess.defineTransform("priority_totals", Seq("group_col", "min_price"),
        "SELECT {{group_col}}, COUNT(*) AS n, " +
          s"${dsum("o_totalprice")} AS total " +
          "FROM {{source_table}} WHERE o_totalprice >= {{min_price}} GROUP BY {{group_col}}")
      t(s, d, "orders").transformNamed(tpl,
        Map("group_col" -> "o_orderpriority", "min_price" -> "100000")).df
    }),

    // ---- set ops / grouping sets / sketches beyond the reference surface
    "q_intersect" -> ((s, d) =>
      t(s, d, "orders").filterRows(Seq("o_totalprice > 100000"))
        .intersectRows(t(s, d, "orders").filterRows(Seq("o_orderstatus = 'F'"))).df),
    "q_except" -> ((s, d) =>
      t(s, d, "orders").filterRows(Seq("o_totalprice > 100000"))
        .exceptRows(t(s, d, "orders").filterRows(Seq("o_orderstatus = 'F'"))).df),
    "q_cube" -> ((s, d) =>
      t(s, d, "lineitem").cubeAgg(Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity" -> Seq("SUM"), "l_orderkey" -> Seq("COUNT"))).df),
    "q_rollup" -> ((s, d) =>
      t(s, d, "lineitem").rollupAgg(Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity" -> Seq("SUM"))).df),
    // explicit grouping sets: targeted multi-granularity rollup (the
    // GROUP BY GROUPING SETS generalization of cube/rollup)
    "q_grouping_sets" -> ((s, d) =>
      t(s, d, "lineitem").groupingSetsAgg(
        Seq(Seq("l_returnflag", "l_linestatus"), Seq("l_returnflag"), Seq()),
        Seq("l_quantity" -> Seq("SUM"), "l_orderkey" -> Seq("COUNT"))).df),
    // rank-tile family: NTILE + PERCENT_RANK + CUME_DIST over one unique
    // total order (ties impossible → tile/ratio values engine-exact)
    "q_ntile" -> ((s, d) =>
      t(s, d, "lineitem")
        .rank(Seq(("l_extendedprice", "DESC"), ("l_orderkey", "ASC"), ("l_linenumber", "ASC")),
          Seq("l_returnflag"), "ntile", "tile", ntileBuckets = 8)
        .rank(Seq(("l_extendedprice", "DESC"), ("l_orderkey", "ASC"), ("l_linenumber", "ASC")),
          Seq("l_returnflag"), "percent_rank", "pct_rank")
        .rank(Seq(("l_extendedprice", "DESC"), ("l_orderkey", "ASC"), ("l_linenumber", "ASC")),
          Seq("l_returnflag"), "cume_dist", "cum_dist").df),
    // equi-width histogram, empty buckets present (hi=500000 covers the
    // fixture's o_totalprice max ~499979; w = 31250.0 exact)
    "q_histogram" -> ((s, d) =>
      t(s, d, "orders").histogram("o_totalprice", 0.0, 500000.0, 16).df),
    // grouped face: group discovery rides the ONE counts aggregate via a
    // null bucket (no corpus-side spine distinct); w = 62500.0 exact
    "q_histogram_grouped" -> ((s, d) =>
      t(s, d, "orders").histogram("o_totalprice", 0.0, 500000.0, 8,
        groupBy = Seq("o_orderstatus")).df),
    // pairwise Pearson in long form — all gated sums in one scan
    "q_corr_matrix" -> ((s, d) =>
      t(s, d, "lineitem").corrMatrix(
        Seq("l_quantity", "l_extendedprice", "l_discount")).df),
    // listwise deletion mode: shared per-column sums, one shared n
    "q_corr_matrix_listwise" -> ((s, d) =>
      t(s, d, "lineitem").corrMatrix(
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        deletion = "listwise").df),
    // hot-key census: top-10 heaviest keys with corpus share
    "q_skew_profile" -> ((s, d) =>
      t(s, d, "lineitem").skewProfile(Seq("l_suppkey"), 10).df),
    // join preflight: exact inner-join output size + hottest keys
    "q_join_cardinality" -> ((s, d) =>
      t(s, d, "lineitem").joinCardinalityProfile(t(s, d, "orders"),
        Seq("l_orderkey" -> "o_orderkey"), topK = 10).df),
    // weighted mean per group (the quality-weighted-by-tokens regime)
    "q_weighted_agg" -> ((s, d) =>
      t(s, d, "lineitem").weightedAgg(Seq("l_returnflag"), "l_extendedprice", "l_quantity").df),
    // stable shard assignment from md5(key) — portable digit-parse, no conv()
    "q_shard" -> ((s, d) =>
      t(s, d, "documents").shard(16, Seq("doc_id")).df),
    // salted stable pseudonymization of a key column
    "q_anonymize" -> ((s, d) =>
      t(s, d, "customer").pseudonymize(Seq("c_name"), "graft-salt").df),
    // exact nearest-rank quantiles in long form, one melt + one window
    "q_quantile_profile" -> ((s, d) =>
      t(s, d, "lineitem").quantileProfile(
        Seq("l_quantity", "l_extendedprice"), Seq(0.25, 0.5, 0.75, 0.95)).df),
    // categorical balance census: counts, Shannon entropy, Simpson index
    "q_entropy_profile" -> ((s, d) =>
      t(s, d, "customer").entropyProfile(Seq("c_mktsegment", "c_nationkey")).df),
    // privacy audit: equivalence classes under k over the quasi-identifiers
    "q_k_anonymity" -> ((s, d) =>
      t(s, d, "customer").kAnonymityViolations(Seq("c_nationkey", "c_mktsegment"), 8).df),
    // n-way deterministic split labels, stratified per order status
    "q_dataset_splits" -> ((s, d) =>
      t(s, d, "orders").datasetSplits(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        Seq("o_orderkey" -> "ASC"), strata = Seq("o_orderstatus")).df),
    // numeric drift: PSI between the F and O order populations
    "q_psi_profile" -> ((s, d) => {
      val orders = t(s, d, "orders")
      Chain(s, "orders_f", orders.df.where("o_orderstatus = 'F'"))
        .psiProfile(orders.df.where("o_orderstatus = 'O'"),
          "o_totalprice", 0.0, 500000.0, 16).df
    }),
    // equal-frequency PSI on the fixed numeric fixture: base (g < 2,
    // 120 rows) sits inside KLL's exact regime, so the quantile cutoffs
    // are literal inclusive-rank order statistics and the oracle replays
    // the whole profile
    "q_psi_quantile" -> ((s, d) => {
      val f = numFixtureDf(s)
      Chain(s, "num_base", f.where("g < 2"))
        .psiQuantileProfile(f.where("g >= 2"), "x", 4).df
    }),
    // per-slice numeric drift: the grouped face — every bucket, total,
    // and psi_total closes per order priority
    "q_psi_grouped" -> ((s, d) => {
      val orders = t(s, d, "orders")
      Chain(s, "orders_f", orders.df.where("o_orderstatus = 'F'"))
        .psiProfile(orders.df.where("o_orderstatus = 'O'"),
          "o_totalprice", 0.0, 500000.0, 16, groupBy = Seq("o_orderpriority")).df
    }),
    // per-slice equal-frequency drift on the fixed fixture: per-group
    // KLL cutoffs sit inside the exact regime (~60 base rows per grp),
    // so the oracle replays the whole grouped profile
    "q_psi_quantile_grouped" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val f = numFixtureDf(s).withColumn("grp", col("x").cast("long") % 2)
      Chain(s, "num_base", f.where("g < 2"))
        .psiQuantileProfile(f.where("g >= 2"), "x", 4, groupBy = Seq("grp")).df
    }),
    // categorical drift: segment mix between the two nation halves
    "q_psi_categorical" -> ((s, d) => {
      val cust = t(s, d, "customer")
      Chain(s, "cust_lo", cust.df.where("c_nationkey < 13"))
        .psiCategoricalProfile(cust.df.where("c_nationkey >= 13"), "c_mktsegment").df
    }),
    // per-slice categorical drift: segment mix per custkey-third —
    // every value row, total, and psi_total closes per group
    "q_psi_categorical_grouped" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val cust = t(s, d, "customer").df.withColumn("grp", col("c_custkey") % 3)
      Chain(s, "cust_lo", cust.where("c_nationkey < 13"))
        .psiCategoricalProfile(cust.where("c_nationkey >= 13"), "c_mktsegment",
          groupBy = Seq("grp")).df
    }),
    // contingency table + chi-square independence decomposition
    "q_cross_table" -> ((s, d) =>
      t(s, d, "customer").crossTable("c_mktsegment", "c_nationkey").df),
    // inter-annotator agreement: a deterministic second "rater" that
    // disagrees on every 7th customer — replayable in the oracle
    "q_agreement" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, when}
      val cust = t(s, d, "customer").df
        .withColumn("rater_b", when(col("c_custkey") % 7 === 0, lit("BUILDING"))
          .otherwise(col("c_mktsegment")))
      Chain(s, "cust_agree", cust).agreementProfile("c_mktsegment", "rater_b").df
    }),
    // robust location: 10%-trimmed mean per return flag
    "q_trimmed_mean" -> ((s, d) =>
      t(s, d, "lineitem").trimmedMean("l_extendedprice", 0.1,
        groupBy = Seq("l_returnflag")).df),
    // corpus-scale KLL twins of the two exact order-statistic profiles,
    // on the fixed numeric fixture: group sizes (60) sit inside KLL's
    // exact (no-compaction) regime, so the sketch cutoffs are the literal
    // inclusive-rank order statistics and the oracle replays the cutoff
    // search (cumWeight >= p·n in shared IEEE double) — the
    // q_percentile_sketch posture; randomized-compaction behavior stays
    // rank-band-gated in Round11SketchSpec
    "q_trimmed_mean_sketch" -> ((s, d) =>
      Chain(s, "num_fixtures", numFixtureDf(s))
        .trimmedMeanSketch("x", 0.1, Seq("g")).df),
    "q_quantile_profile_sketch" -> ((s, d) =>
      Chain(s, "num_fixtures", numFixtureDf(s))
        .quantileProfileSketch(Seq("x"), Seq(0.25, 0.5, 0.95), Seq("g")).df),
    // deterministic hash sample as the driver face (round-6 ask: hard
    // oracle signal) — Bernoulli sampleRows stays spec-side (OpsSpec), its
    // output is partition-layout-dependent by construction
    "q_sample" -> ((s, d) =>
      t(s, d, "lineitem").sampleHash(0.3, Seq("l_orderkey", "l_suppkey")).df),
    // mergeable HLL sketch columns: per-(flag,status) sketches unioned up
    // to per-flag estimates. l_quantity's ≤50 distinct values keep every
    // sketch in the DataSketches coupon (exact) regime at ANY sf, so the
    // plain COUNT DISTINCT oracle hash-matches while the query still runs
    // the full sketch build+merge machinery on sf-scaled input; the
    // approximate regime stays gated in QuantGateSpec
    "q_distinct_sketch" -> ((s, d) =>
      t(s, d, "lineitem")
        .distinctSketches(Seq("l_returnflag", "l_linestatus"), "l_quantity")
        .mergeDistinctSketches(Seq("l_returnflag"), "l_quantity_sketch").df),
    // mergeable KLL quantile sketches on the fixed numeric fixture: group
    // sizes (60) sit below k=200, so build and merge stay in KLL's exact
    // (no-compaction) regime and the oracle pins the literal quantiles;
    // randomized-compaction behavior stays epsilon-gated in QuantGateSpec
    "q_percentile_sketch" -> ((s, d) =>
      Chain(s, "num_fixtures", numFixtureDf(s))
        .percentileSketches(Seq("g", "h"), "x")
        .mergePercentileSketches(Seq("g"), "x_qsketch").df),
    // approx aggregate on the fixed numeric fixture: percentile_approx is
    // exact at n ≤ accuracy and approx_count_distinct is a deterministic
    // function of the (fixed) input, so the oracle pins literal rows
    "q_approx_agg" -> ((s, d) =>
      Chain(s, "num_fixtures", numFixtureDf(s)).approxAgg(Seq("g"), "x").df),
    // mergeable frequent-items sketches: per-(lang, ingest-shard) build,
    // rolled up to per-lang top-3 sources by sketch merge. Capacity 64 >
    // distinct sources, so counts are exact and the DuckDB top-k oracle
    // hash-matches (the approximate regime is gated in QuantGateSpec)
    "q_freq_items" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val docs = t(s, d, "documents")
      val sharded = Chain(s, "documents",
        docs.df.withColumn("_shard", pmod(col("doc_id"), lit(8))))
      sharded.freqSketches(Seq("lang", "_shard"), "source", maxMapSize = 64)
        .mergeFreqSketches(Seq("lang"), "source_fsketch", k = 3)
        .dropColumns(excludeCols = Seq("lb", "ub")).df
    }),

    // ---- scale-path joins / sampling beyond the reference surface:
    // as-of, range and skew-salted joins, deterministic hash sampling,
    // QUALIFY-style top-k per group
    "q_asof_join" -> ((s, d) => {
      val fin = t(s, d, "orders").filterRows(Seq("o_orderstatus = 'F'"))
        .aggregate(Seq("o_custkey", "o_orderdate"), Seq("o_totalprice" -> Seq("MAX")))
      t(s, d, "orders").asofJoin(fin, Seq("o_custkey"), "o_orderdate", "o_orderdate").df
    }),
    "q_asof_join_fwd" -> ((s, d) => {
      val fin = t(s, d, "orders").filterRows(Seq("o_orderstatus = 'F'"))
        .aggregate(Seq("o_custkey", "o_orderdate"), Seq("o_totalprice" -> Seq("MAX")))
      t(s, d, "orders").asofJoin(fin, Seq("o_custkey"), "o_orderdate", "o_orderdate",
        direction = "forward").df
    }),
    "q_asof_join_nearest" -> ((s, d) => {
      val fin = t(s, d, "orders").filterRows(Seq("o_orderstatus = 'F'"))
        .aggregate(Seq("o_custkey", "o_orderdate"), Seq("o_totalprice" -> Seq("MAX")))
      t(s, d, "orders").asofJoin(fin, Seq("o_custkey"), "o_orderdate", "o_orderdate",
        direction = "nearest").df
    }),
    "q_asof_join_tolerance" -> ((s, d) => {
      val fin = t(s, d, "orders").filterRows(Seq("o_orderstatus = 'F'"))
        .aggregate(Seq("o_custkey", "o_orderdate"), Seq("o_totalprice" -> Seq("MAX")))
      t(s, d, "orders").asofJoin(fin, Seq("o_custkey"), "o_orderdate", "o_orderdate",
        tolerance = Some("INTERVAL 30 DAY")).df
    }),
    "q_range_join" -> ((s, d) => {
      val iv = t(s, d, "orders")
        .filterRows(Seq("o_orderdate >= '1995-01-01'", "o_orderdate < '1996-01-01'"))
        .datetrunc(Seq("o_orderdate" -> "month"))
        .aggregate(Seq("o_orderdate_month"), Seq("o_orderkey" -> Seq("COUNT")))
        .dateadd("day", "o_orderdate_month", 10)
      t(s, d, "lineitem").rangeJoin(iv, "l_shipdate",
        "o_orderdate_month", "o_orderdate_month_add_10_day",
        bucketSeconds = 10L * 24 * 3600).df
    }),
    "q_join_salted" -> ((s, d) =>
      t(s, d, "lineitem").joinSalted(t(s, d, "orders"), "inner",
        Seq("l_orderkey" -> "o_orderkey"), saltBuckets = 8).df),
    // profile-fed salting: only measured hot keys replicate (ns ∝ count,
    // capped), the cold majority passes through; result = the plain join
    "q_join_salted_auto" -> ((s, d) =>
      t(s, d, "lineitem").joinSaltedAuto(t(s, d, "orders"), "inner",
        Seq("l_orderkey" -> "o_orderkey"), saltBuckets = 4, minHotCount = 3,
        maxHotKeys = 5000).df),
    // SCD type-2 dimension maintenance: a supplier history with pre-closed
    // versions (%7), keys with NO current row (%13 — re-appear in the
    // snapshot and must re-insert), a snapshot that changes acctbal (%10)
    // and drops keys (%11 — closeMissing closes them). One full-outer
    // join; the oracle replays all four branches
    "q_scd2_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, to_date, when}
      val sup = t(s, d, "supplier").df
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      val current = sup.where("s_suppkey % 13 <> 0")
        .withColumn("valid_from", to_date(lit("1990-01-01")))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
      val closed = sup.where("s_suppkey % 7 = 0")
        .withColumn("s_acctbal", col("s_acctbal") - 50.0)
        .withColumn("valid_from", to_date(lit("1985-01-01")))
        .withColumn("valid_to", to_date(lit("1990-01-01")))
        .withColumn("is_current", lit(false))
      val hist = Chain(s, "scd_hist", current.unionByName(closed))
      val snap = Chain(s, "scd_snap", sup.where("s_suppkey % 11 <> 0")
        .withColumn("s_acctbal", when(col("s_suppkey") % 10 === 0,
          col("s_acctbal") + 100.0).otherwise(col("s_acctbal"))))
      hist.scd2Merge(snap, Seq("s_suppkey"), Seq("s_name", "s_acctbal"),
        "1995-06-01", closeMissing = true).df
    }),
    // row-level dataset diff: synthetic old/new versions of orders —
    // removed (in old only), added (in new only), changed (priority bumped)
    "q_diff_tables" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, when}
      val oldV = t(s, d, "orders").filterRows(Seq("o_orderkey % 3 != 0"))
      val newV = t(s, d, "orders").filterRows(Seq("o_orderkey % 5 != 0"))
        .transformDf("bump_priority")(df => df.withColumn("o_orderpriority",
          when(col("o_orderkey") % 7 === 0, lit("9-DIFF"))
            .otherwise(col("o_orderpriority"))))
      oldV.diffAgainst(newV, Seq("o_orderkey")).df
    }),
    // balanced subsets: exactly 200 lineitems per returnflag, chosen by
    // deterministic hash rank — reproducible under any partitioning
    "q_sample_group_k" -> ((s, d) =>
      t(s, d, "lineitem").sampleGroupK(Seq("l_returnflag"), 200,
        Seq("l_orderkey", "l_linenumber", "l_partkey")).df),
    // same kept-set as q_sample_group_k, computed as the mergeable bounded
    // aggregate (map-side combine) — the two faces must stay hash-equal
    "q_sample_group_k_agg" -> ((s, d) =>
      t(s, d, "lineitem").sampleGroupKAgg(Seq("l_returnflag"), 200,
        Seq("l_orderkey", "l_linenumber", "l_partkey")).df),
    // score-ranked curation: the 3 highest-price lineitems per returnflag
    // via the same mergeable bounded aggregate
    "q_sample_group_top_k" -> ((s, d) =>
      t(s, d, "lineitem").sampleGroupTopK(Seq("l_returnflag"), 3,
        "l_extendedprice", Seq("l_orderkey", "l_linenumber", "l_partkey")).df),
    "q_sample_hash" -> ((s, d) =>
      t(s, d, "lineitem").sampleHash(0.1,
        Seq("l_orderkey", "l_linenumber", "l_partkey")).df),
    // per-row importance sampling: P(keep) = quantity/50 — engine-exact
    // (floor/hex-format of a 2^60 scaling is exact double arithmetic)
    "q_sample_weighted" -> ((s, d) =>
      t(s, d, "lineitem")
        .math(Seq("l_quantity / 50.0"), Seq("w"))
        .sampleWeighted("w", Seq("l_orderkey", "l_linenumber", "l_partkey")).df),
    "q_sample_stratified" -> ((s, d) =>
      t(s, d, "lineitem").sampleHashStratified("l_returnflag",
        Seq("A" -> 0.05, "N" -> 0.2, "R" -> 0.5),
        Seq("l_orderkey", "l_linenumber", "l_partkey")).df),
    "q_rank_qualify" -> ((s, d) =>
      t(s, d, "orders").rank(
        Seq("o_totalprice" -> "DESC", "o_orderkey" -> "ASC"),
        partitionBy = Seq("o_orderpriority"), rankType = "row_number",
        alias = "rn", qualifyFilter = Some("rn <= 3")).df),
    // per-group exact quantile gate: top quartile of order value per priority
    "q_filter_quantile" -> ((s, d) =>
      t(s, d, "orders").filterByQuantile("o_totalprice", 0.75,
        Seq("o_orderpriority")).df),
    // ungrouped face: distributed tie-stable cutoff (per-value counts +
    // PrefixScan cume over the distinct-value frame) → one pushdown-able
    // range predicate — no global window
    "q_filter_quantile_global" -> ((s, d) =>
      t(s, d, "orders").filterByQuantile("o_totalprice", 0.9).df)
  )

  /** LLM-data-pipeline extension queries (SURVEY §2.4 / north star):
    * text analysis, dedup (exact/minhash/simhash/ngram/embedding),
    * similarity search, multimodal plumbing, event windows.
    */
  private def extQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.ext._
    import graft.streaming.EventStreams
    Map(
      "q_text_tokens" -> ((s, d) => t(s, d, "documents").tokenCounts("text").df),
      // exact corpus-overlap census: all documents vs the doc_id < 250
      // slice, at normalized-fingerprint grain
      "q_corpus_overlap" -> ((s, d) =>
        t(s, d, "documents").corpusOverlap(
          t(s, d, "documents").filterRows(Seq("doc_id < 250")), "text").df),
      // per-lang containment against the same reference slice
      "q_corpus_overlap_grouped" -> ((s, d) =>
        t(s, d, "documents").corpusOverlapByGroup(
          t(s, d, "documents").filterRows(Seq("doc_id < 250")),
          Seq("lang"), "text").df),
      // generic pattern census (entity/format counting)
      "q_count_pattern" -> ((s, d) =>
        t(s, d, "customer").countPattern("c_name",
          Seq("digits" -> "[0-9]+", "words" -> "[A-Za-z]+")).df),
      // named capture-group extraction (structured-field pulling)
      "q_extract_pattern" -> ((s, d) =>
        t(s, d, "customer").extractPattern("c_name",
          "(Customer)#0*([0-9]+)", Seq("tag" -> 1, "cust_num" -> 2)).df),
      "q_text_quality" -> ((s, d) => t(s, d, "documents").qualityScore("text").df),
      "q_gopher_rules" -> ((s, d) => t(s, d, "documents").gopherRules("text").df),
    // pinned-coefficient scoring face of logisticRegression: the logit is a
    // fixed left-associated double multiply-add chain — IEEE-exact on both
    // engines, so it hash-compares without float-literal round-trips (the
    // IRLS fit itself is exp-dependent and stays spec-gated)
    "q_logistic_score" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, length, size}
      val docs = t(s, d, "documents").transformDf("features")(df => df
        .withColumn("f_len", length(col("text")).cast("double"))
        .withColumn("f_tok",
          size(graft.ext.TextOps.tokens(col("text"))).cast("double")))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("idx",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("feature",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("coef",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      val rows: java.util.List[org.apache.spark.sql.Row] = java.util.Arrays.asList(
        org.apache.spark.sql.Row(0, "(intercept)", -2.5),
        org.apache.spark.sql.Row(1, "f_len", 0.003),
        org.apache.spark.sql.Row(2, "f_tok", 0.02))
      docs.scoreLogistic(s.createDataFrame(rows, schema), "q").df
        .select(col("doc_id"), col("q_logit"), (col("q_logit") > 0).as("flag"))
    }),
      "q_text_langid" -> ((s, d) => t(s, d, "documents").langId("text").df),
      "q_text_fingerprint" -> ((s, d) =>
        t(s, d, "documents").fingerprintCol("text").df),
      // fixed-corpus face (round-6 ask: literal-pinned oracle for the
      // deterministic hash kernels); the sf-scaled path stays spec-side
      "q_text_rolling_fp" -> ((s, d) =>
        Chain(s, "doc_fixtures", docFixtureDf(s))
          .rollingFingerprintCol("text", 8)
          .dropColumns(includeCols = Seq("doc_id", "text_rfp")).df),
      "q_tfidf" -> ((s, d) => t(s, d, "documents").tfidf("doc_id", "text").df),
      // sparse lexical retrieval: docs 0-2 as queries, top-5 docs each via
      // the inverted-index join (the lexical complement of q_sim_topk)
      "q_search_tfidf" -> ((s, d) => {
        val docs = t(s, d, "documents")
        val queries = t(s, d, "documents").filterRows(Seq("doc_id < 3"))
        docs.searchTfidf(queries, "doc_id", "text", "doc_id", "text", k = 5).df
      }),
      // the SAME retrieval through the persistent inverted index: postings
      // built once (term-keyed, bucketable), probed by the query set —
      // oracle-equal to q_search_tfidf by construction
      "q_search_tfidf_index" -> ((s, d) => {
        val idx = t(s, d, "documents").tfidfIndex("doc_id", "text")
        t(s, d, "documents").filterRows(Seq("doc_id < 3"))
          .searchTfidfIndex(idx.df, "doc_id", "text", k = 5).df
      }),
      // hybrid-retrieval closer: reciprocal-rank fusion of two lexical
      // rankings over the same corpus (raw-idf and log-idf tf-idf — two
      // genuinely different scoring regimes, both DuckDB-replayable);
      // rank-based, so the oracle replays both pipelines and the exact
      // two-term IEEE fusion sum
      "q_rrf_fuse" -> ((s, d) => {
        val docs = t(s, d, "documents")
        val queries = t(s, d, "documents").filterRows(Seq("doc_id < 3"))
        val lexRaw = docs.searchTfidf(queries, "doc_id", "text", "doc_id", "text", k = 5)
        val lexLog = docs.searchTfidf(queries, "doc_id", "text", "doc_id", "text",
          k = 5, idf = "log")
        lexRaw.rrfFuse(lexLog, k = 5).df
      }),
      // the weighted N-WAY fusion: three DuckDB-replayable rankings
      // (raw idf at weight 1, log idf at 0.5, raw idf over the even-id
      // half-corpus at 0.25 — weights are exact powers of two, the fused
      // score a fixed left-assoc IEEE sum of exact divisions)
      "q_rrf_weighted" -> ((s, d) => {
        val docs = t(s, d, "documents")
        val docsEven = t(s, d, "documents").filterRows(Seq("doc_id % 2 = 0"))
        val queries = t(s, d, "documents").filterRows(Seq("doc_id < 3"))
        val lexRaw = docs.searchTfidf(queries, "doc_id", "text", "doc_id", "text", k = 5)
        val lexLog = docs.searchTfidf(queries, "doc_id", "text", "doc_id", "text",
          k = 5, idf = "log")
        val lexEven = docsEven.searchTfidf(queries, "doc_id", "text", "doc_id", "text", k = 5)
        lexRaw.rrfFuseWeighted(Seq((lexLog, 0.5), (lexEven, 0.25)), k = 5).df
      }),
      // BM25-scored retrieval (transcendental idf/length normalization —
      // rank-agreement-gated in QuantGateSpec, rows-only here)
      // fixed-corpus face: BM25 ranks (integers) over the pinned fixtures
      // are a pure function of the corpus given the deterministic
      // score-then-id window order; ranking quality at sf scale stays
      // gated in QuantGateSpec (rank correlation + self-retrieval)
      "q_search_bm25" -> ((s, d) => {
        val docs = Chain(s, "doc_fixtures", docFixtureDf(s))
        val queries = Chain(s, "doc_fixtures", docFixtureDf(s))
          .filterRows(Seq("doc_id <= 2"))
        docs.searchTfidf(queries, "doc_id", "text", "doc_id", "text", k = 3,
          scoring = "bm25")
          .dropColumns(includeCols = Seq("query_id", "doc_id", "rank")).df
      }),
      "q_text_repetition" -> ((s, d) =>
        t(s, d, "documents").repetitionScore("text", n = 3).df),
      // classifier reliability census: deterministic pseudo-probability
      // from n_chars, deterministic label from doc_id — both replayable
      // in the oracle; 10 equal-width buckets + the fixed-point ECE
      "q_calibration" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val docs = t(s, d, "documents").df
          .withColumn("score", (col("n_chars") % 97).cast("double") / lit(97.0))
          .withColumn("label", (col("doc_id") % 3 === 0).cast("int"))
        Chain(s, "docs_cal", docs).calibrationProfile("score", "label", 10).df
      }),
      // eval-set decontamination: docs sharing any 8-gram with the "eval"
      // subset (doc_id < 25) get flagged
      "q_text_decontaminate" -> ((s, d) => {
        val docs = t(s, d, "documents")
        val eval = t(s, d, "documents").filterRows(Seq("doc_id < 25"))
        docs.flagContaminated(eval, "doc_id", "text", n = 8).df
      }),
      // the persistent-index face: eval grams hashed ONCE into a saved
      // set, probed per corpus batch — output-identical to the one-shot
      // face (same oracle)
      "q_text_decontaminate_index" -> ((s, d) => {
        val docs = t(s, d, "documents")
        val eval = t(s, d, "documents").filterRows(Seq("doc_id < 25"))
        val idx = eval.contaminationIndex("text", n = 8)
        docs.flagContaminatedIndex(idx.df, "doc_id", "text", n = 8).df
      }),
      // blocklist-scale variant: Bloom prefilter map-side + exact confirm —
      // bit-identical output (same oracle), corpus-side join input shrinks
      // to the contaminated fraction
      "q_text_decontaminate_bloom" -> ((s, d) => {
        val docs = t(s, d, "documents")
        val eval = t(s, d, "documents").filterRows(Seq("doc_id < 25"))
        docs.flagContaminatedBloom(eval, "doc_id", "text", n = 8,
          expectedItems = 100000L).df
      }),
      // graded decontamination: per-doc fraction of distinct 8-grams shared
      // with the eval subset — what a drop/audit policy actually thresholds
      "q_text_contamination" -> ((s, d) => {
        val docs = t(s, d, "documents")
        val eval = t(s, d, "documents").filterRows(Seq("doc_id < 25"))
        docs.contaminationScore(eval, "doc_id", "text", n = 8).df
      }),
      "q_chunk_text" -> ((s, d) =>
        t(s, d, "documents").chunkText("doc_id", "text",
          chunkTokens = 64, overlap = 16).df),
      "q_text_scrub" -> ((s, d) => t(s, d, "documents").scrubText("text").df),
      "q_text_normalize" -> ((s, d) =>
        t(s, d, "documents").normalizeText("text").df),
      // OOV-rate quality score: corpus-trained top-512 char-trigram vocab,
      // per-doc in-vocabulary fraction (the hash-exact form of perplexity
      // filtering)
      "q_text_coverage" -> ((s, d) =>
        t(s, d, "documents").charGramCoverage("doc_id", "text", n = 3,
          vocabSize = 512).df),
      "q_text_scrub_pii" -> ((s, d) => t(s, d, "documents").scrubPii("text").df),
      // cap the dominant language at a token budget, keep the rest whole —
      // deterministic hash mix (budget derived from one bounded stats agg)
      "q_mix_by_budget" -> ((s, d) =>
        t(s, d, "documents").mixByTokenBudget("lang", "n_chars",
          Seq("en" -> 30000L, "de" -> 30000L), Seq("doc_id")).df),
      // temperature mixing: per-language budgets ∝ tokens^0.5, normalized
      // to a 60k-token target (alpha<1 upweights low-resource languages)
      "q_mix_by_temperature" -> ((s, d) =>
        t(s, d, "documents").mixByTemperature("lang", "n_chars", 0.5,
          60000L, Seq("doc_id")).df),
      // seeded, content-keyed epoch shuffle: deterministic training order
      "q_epoch_shuffle" -> ((s, d) =>
        t(s, d, "documents").epochShuffle(1L, Seq("doc_id")).df),
      "q_dedup_exact" -> ((s, d) =>
        t(s, d, "documents")
          .union(t(s, d, "documents").math(Seq("doc_id + 10000"), Seq("doc_id")))
          .dedupExact("doc_id", "text").df),
      // prefix-filter (PPJoin) strategy at t=0.9 …
      // PassJoin edit-distance pair mining on the planted-typo fixture
      "q_fuzzy_pairs" -> ((s, d) =>
        Chain(s, "names_fixtures", namesFixtureDf(s)).fuzzyPairs("id", "name", 2).df),
      // corpus bigram frequency census (top 25, count-desc/gram-asc ties)
      "q_top_ngrams" -> ((s, d) =>
        t(s, d, "documents").topNgrams("text", n = 2, k = 25).df),
      // corpus-scale twin: one mergeable frequent-items sketch instead of
      // the full-domain gram census shuffle; exact regime on this corpus
      "q_top_ngrams_sketch" -> ((s, d) =>
        t(s, d, "documents").topNgramsSketch("text", n = 2, k = 25,
          maxMapSize = 2048).df),
      // spherical k-means over the pinned lattice fixture: the 4 recovered
      // clusters are the lattice clusters (vec_id mod 4) by construction,
      // labeled by min member id — a pure function of the fixture
      "q_cluster_embeddings" -> ((s, d) =>
        Chain(s, "emb_fixtures", embFixtureDf(s))
          .clusterEmbeddings("vec_id", "embedding", 4)
          .df.select("vec_id", "cluster")),
      "q_dedup_ngram" -> ((s, d) =>
        t(s, d, "documents").ngramJaccardPairs("doc_id", "text", n = 2, threshold = 0.9).df),
      // … and the inverted-index strategy at t=0.5 (trigrams keep the
      // posting lists short), each verified against its own-threshold oracle
      "q_dedup_ngram_ii" -> ((s, d) =>
        t(s, d, "documents").ngramJaccardPairs("doc_id", "text", n = 3, threshold = 0.5).df),
      // overlap-coefficient measure: |A∩B|/min — the subset-document
      // detector (excerpts, boilerplate wrappers) symmetric Jaccard misses
      "q_dedup_containment" -> ((s, d) =>
        t(s, d, "documents").ngramJaccardPairs("doc_id", "text", n = 3, threshold = 0.6,
          measure = "containment").df),
      // page-authority prior over a lineitem-derived link graph (order →
      // part, folded to 5000 nodes so degrees vary and some nodes dangle);
      // fixed-point INTEGER PageRank, so the oracle replays the exact
      // 3-sweep recurrence in DuckDB and hash-matches
      "q_link_rank" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        Chain(s, "link_edges", t(s, d, "lineitem").df
          .select((col("l_orderkey") % 5000).as("src"),
            (col("l_partkey") % 5000).as("dst")))
          .linkRank("src", "dst", iterations = 3).df
      }),
      // host-level authority rollup: distinct page edges labeled with
      // their host (page DIV 10 → 500 hosts), collapsed to weighted host
      // edges inside the op; the oracle replays the weighted integer
      // recurrence (shares enter as w · (pr // outdeg_w))
      "q_link_rank_host" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, expr}
        Chain(s, "host_edges", t(s, d, "lineitem").df
          .select((col("l_orderkey") % 5000).as("src_page"),
            (col("l_partkey") % 5000).as("dst_page")).distinct()
          .select(expr("src_page DIV 10").as("src_host"),
            expr("dst_page DIV 10").as("dst_host")))
          .linkRankHost("src_host", "dst_host", iterations = 3).df
      }),
      // explicit-weight face: edge weight = summed quantity, same integer
      // recurrence with shares entering as w · (pr // out-weight)
      "q_link_rank_weighted" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        Chain(s, "wedges", t(s, d, "lineitem").df
          .select((col("l_orderkey") % 2000).as("src"),
            (col("l_partkey") % 2000).as("dst"),
            col("l_quantity").cast("bigint").as("w")))
          .linkRankWeighted("src", "dst", "w", iterations = 3).df
      }),
      // cluster assignment over the exact near-dup pairs (connected
      // components, min-id label per component) — the keep/drop decision
      // step after pair mining
      "q_dedup_clusters" -> ((s, d) =>
        t(s, d, "documents").ngramJaccardPairs("doc_id", "text", n = 3, threshold = 0.5)
          .clusterPairs().df),
      // the same components through the op's historical contraction
      // name (the same engine: a driver union-find within the iteration
      // gate, the large-star/small-star loop past it), hash-checked
      // against the same recursive-CTE oracle
      "q_dedup_clusters_ii" -> ((s, d) =>
        t(s, d, "documents").ngramJaccardPairs("doc_id", "text", n = 3, threshold = 0.5)
          .clusterPairsContraction().df),
      // the STRING-ID face of the cluster family under the driver oracle:
      // same mined pairs relabeled to zero-padded string keys, clustered
      // through the collision-checked xxhash64 surrogate path, cluster_id
      // canonicalized to the component's minimum id — so the recursive-CTE
      // oracle over the SAME string keys must match hash-exactly
      "q_dedup_clusters_str" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, format_string}
        t(s, d, "documents").ngramJaccardPairs("doc_id", "text", n = 3, threshold = 0.5)
          .transformDf("string_ids")(df => df
            .withColumn("id_a", format_string("doc-%09d", col("id_a")))
            .withColumn("id_b", format_string("doc-%09d", col("id_b"))))
          .clusterPairs().df
      }),
      // token-budget pack assignment (batch assembly before training),
      // scoped per language
      "q_pack_sequences" -> ((s, d) =>
        t(s, d, "documents").packSequences("n_chars", 20000L,
          orderBy = Seq("doc_id"), partitionBy = Seq("lang")).df),
      // stride-scheduled proportional interleave: en rows appear 3:1 to
      // zh rows from the start of the ordered stream; unlisted langs drop
      "q_interleave" -> ((s, d) =>
        t(s, d, "documents").interleaveByWeight("lang",
          Seq("en" -> 3L, "zh" -> 1L), orderBy = Seq("doc_id")).df),
      // UniMax water-filling allocation census (budget 220k, 2-epoch cap
      // at sf0.01: the four small langs cap at 2 epochs, en takes the
      // leftover as a ~0.78 keep fraction — all three branches live)
      "q_unimax_alloc" -> ((s, d) =>
        t(s, d, "documents").uniMaxAllocation("lang", "n_chars",
          totalBudget = 220000L, maxEpochs = 2).df),
      // the apply face: per-stratum derived keep fractions as the
      // engine-side md5 threshold, epochs carried for the loader
      "q_mix_unimax" -> ((s, d) =>
        t(s, d, "documents").mixUniMax("lang", "n_chars", 220000L, 2,
          keyCols = Seq("doc_id")).df),
      // token-budget face: pack boundaries track subword load (bpeish
      // count), the unit a pretraining loader actually packs by
      "q_pack_sequences_tokens" -> ((s, d) =>
        t(s, d, "documents").packSequencesByTokens("text", 4000L,
          orderBy = Seq("doc_id"), partitionBy = Seq("lang")).df),
      // the other loader tail: stride-interleave the source mix FIRST,
      // then pack the mixed stream in its own order (UNGROUPED — one
      // global token stream, the shape real loaders feed): exercises the
      // PrefixScan ungrouped path end-to-end behind an exact oracle;
      // ties in interleave_key break by (lang, doc_id), the op's own
      // global-order convention
      "q_loader_stream" -> ((s, d) =>
        t(s, d, "documents").interleaveByWeight("lang",
          Seq("en" -> 3L, "zh" -> 1L), orderBy = Seq("doc_id"))
          .packSequencesByTokens("text", 4000L,
            orderBy = Seq("interleave_key", "lang", "doc_id")).df),
      // composed loader-prep tail: UniMax-mixed survivors packed to the
      // token budget per lang — the two stages chain on one Chain, and
      // the oracle nests the two replay SQLs the same way
      "q_loader_prep" -> ((s, d) =>
        t(s, d, "documents").mixUniMax("lang", "n_chars", 220000L, 2, Seq("doc_id"))
          .packSequencesByTokens("text", 4000L, orderBy = Seq("doc_id"),
            partitionBy = Seq("lang")).df),
      // span-level exact dedup: maximal cross-document duplicated 8-token
      // windows, and the strip pass that keeps one copy corpus-wide
      "q_dup_spans" -> ((s, d) =>
        t(s, d, "documents").dupSpans("doc_id", "text", windowTokens = 8).df),
      "q_strip_dup_spans" -> ((s, d) =>
        t(s, d, "documents").stripDupSpans("doc_id", "text", windowTokens = 8).df),
      // end-to-end near-dup corpus dedup: pairs → clusters → keep the
      // longest doc per cluster (deterministic id tiebreak)
      "q_dedup_near" -> ((s, d) =>
        t(s, d, "documents").dedupNear("doc_id", "text", n = 3, threshold = 0.5,
          keepBy = Seq("n_chars" -> "DESC")).df),
      // the corpus-scale dial: same pipeline with banded-LSH candidate
      // mining (estimates, no exact pair verification) — gated in
      // QuantGateSpec against the exact variant, rows-only here
      // fixed-corpus face: minhash candidate mining is hash-deterministic,
      // so the end-to-end kept-set pins; sf-scale drop behavior stays
      // gated in QuantGateSpec
      "q_dedup_near_minhash" -> ((s, d) =>
        Chain(s, "doc_fixtures", docFixtureDf(s))
          .dedupNear("doc_id", "text", n = 2, threshold = 0.5,
            candidates = "minhash", numHashes = 32, bands = 8)
          .dropColumns(includeCols = Seq("doc_id")).df),
      // fixed-corpus face: the banded-LSH pair miner is a pure function of
      // its input, so the oracle pins the exact (id_a, id_b, est_jaccard)
      // rows; sf-scaled recall behavior stays gated in QuantGateSpec
      "q_dedup_minhash" -> ((s, d) =>
        Chain(s, "doc_fixtures", docFixtureDf(s)).minhashLsh("doc_id", "text",
          shingleWords = 2, numHashes = 32, bands = 8, estThreshold = 0.5).df),
      // incremental ingest dedup: even-id docs are the indexed historical
      // corpus, odd-id docs the incoming batch; batch docs near-duplicating
      // an indexed doc drop, the rest survive (QuantGateSpec floors the
      // recall/precision vs exact cross-split Jaccard)
      "q_dedup_incremental" -> ((s, d) => {
        val docs = Chain(s, "doc_fixtures", docFixtureDf(s))
        val idx = docs.filterRows(Seq("doc_id % 2 = 0"))
          .minhashIndex("doc_id", "text", shingleWords = 2, numHashes = 32, bands = 8)
        docs.filterRows(Seq("doc_id % 2 = 1"))
          .dedupAgainstIndex(idx.df, "doc_id", "text",
            shingleWords = 2, numHashes = 32, bands = 8, estThreshold = 0.5)
          .dropColumns(includeCols = Seq("doc_id")).df
      }),
      // fixed-corpus face, same rationale as q_dedup_minhash
      // incremental SEMANTIC ingest dedup: even-id vectors are the saved
      // IVF index, odd-id vectors the batch; drops are exact-verified
      // (QuantGateSpec floors the recall vs exact cross-split cosine)
      "q_dedup_incremental_sem" -> ((s, d) => {
        val emb = Chain(s, "emb_fixtures", embFixtureDf(s))
        val idx = emb.filterRows(Seq("vec_id < 12"))
          .ivfIndex("vec_id", "embedding", nlist = 4)
        // 0.9921 splits the cross-split max-cosines (0.986-0.9924) with
        // >= 1.5e-4 margin on every decision — far above FP noise, so the
        // drop set is stable and the survivor ids pin exactly
        emb.filterRows(Seq("vec_id >= 12"))
          .dedupAgainstIvfIndex(idx.df, "vec_id", "embedding", 0.9921, nprobe = 4)
          .dropColumns(includeCols = Seq("vec_id")).df
      }),
      // incremental semantic dedup at IVFADC storage cost: the PQ-coded
      // history screens the batch by ADC distance; maxDist 1.0 splits the
      // fixture's min distances (drops <= 0.985, survivors >= 1.018 —
      // >= 0.015 margin each side, kernel-exact values)
      "q_dedup_incremental_pq" -> ((s, d) => {
        val emb = Chain(s, "emb_fixtures", embFixtureDf(s))
        val model = emb.pqFit("vec_id", "embedding", m = 2, ks = 4,
          trainSample = 24, iters = 10)
        val idx = emb.filterRows(Seq("vec_id < 12"))
          .ivfPqIndex(model.df, "vec_id", "embedding", nlist = 4, trainSample = 24)
        emb.filterRows(Seq("vec_id >= 12"))
          .dedupAgainstIvfPqIndex(idx.df, model.df, "vec_id", "embedding",
            maxDist = 1.0, nprobe = 4)
          .dropColumns(includeCols = Seq("vec_id")).df
      }),
      "q_dedup_simhash" -> ((s, d) =>
        Chain(s, "doc_fixtures", docFixtureDf(s))
          .simhashPairs("doc_id", "text", maxHamming = 16).df),
      "q_dedup_embedding" -> ((s, d) =>
        t(s, d, "embeddings").embeddingCosinePairs("vec_id", "embedding", 0.4).df),
      // SemDeDup-shaped end-to-end semantic dedup: exact cosine pairs →
      // connected components → keep the lowest id per cluster (embedding
      // column dropped from the output: the scalar columns hash-compare)
      "q_dedup_embedding_near" -> ((s, d) =>
        t(s, d, "embeddings")
          .dedupNearEmbedding("vec_id", "embedding", 0.4)
          .dropColumns(includeCols = Seq("vec_id", "label")).df),
      // the IVF candidate face of the same op, pinned to a PROVABLY
      // complete regime: nassign = nlist assigns every vector to every
      // cell, so the shared-cell pair space covers all pairs and the
      // output is exactly the exact face's — the oracle is the same
      // recursive-CTE component labeling over a bounded vec_id slice
      // (fixed size across SFs; exercises the top-m cell-assignment
      // window and shared-cell mining of DedupOps' ivf path)
      "q_dedup_embedding_near_ivf" -> ((s, d) =>
        t(s, d, "embeddings").filterRows(Seq("vec_id < 500"))
          .dedupNearEmbedding("vec_id", "embedding", 0.4,
            candidates = "ivf", nlist = 4, nassign = 4)
          .dropColumns(includeCols = Seq("vec_id", "label")).df),
      // int8 storage quantization, exploded to scalars for the oracle:
      // pure elementwise arithmetic, bit-identical across engines
      // per-label centroid vectors, exploded to scalars for the oracle
      // (same convention as q_pca_project/q_quantize_embedding)
      "q_group_centroid" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, posexplode}
        t(s, d, "embeddings").centroidByGroup(Seq("label"), "embedding")
          .df.select(col("label"), posexplode(col("centroid")).as(Seq("pos", "v")))
      }),
      // per-dim mean/variance census — the q_group_centroid fold plus the
      // quantized second moment; exploded for the oracle like the centroid
      "q_embedding_moments" -> ((s, d) => {
        import org.apache.spark.sql.functions.{arrays_zip, col, posexplode}
        t(s, d, "embeddings").embeddingMoments(Seq("label"), "embedding")
          .df.select(col("label"), col("n_vecs"),
            posexplode(arrays_zip(col("mean"), col("variance"))).as(Seq("pos", "mv")))
          .select(col("label"), col("n_vecs"), col("pos"),
            col("mv.mean").as("mean_v"), col("mv.variance").as("var_v"))
      }),
      // moment-census drift between two snapshots (even/odd vec_id halves
      // stand in for before/after): per-(label, dim) mean gap in 1e-9
      // fixed-point and variance ratio in ppm, null-safe label join
      "q_embedding_drift" -> ((s, d) => {
        val left = t(s, d, "embeddings").filterRows(Seq("vec_id % 2 = 0"))
          .embeddingMoments(Seq("label"), "embedding")
        val right = t(s, d, "embeddings").filterRows(Seq("vec_id % 2 = 1"))
          .embeddingMoments(Seq("label"), "embedding")
        left.embeddingDrift(right, Seq("label")).df
      }),
      "q_quantize_embedding" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, posexplode}
        val q = t(s, d, "embeddings").quantizeEmbeddings("embedding")
        q.df.select(col("vec_id"), col("embedding_qscale"),
          posexplode(col("embedding_q")).as(Seq("pos", "qval")))
          .select(col("vec_id"), col("pos"), col("qval"), col("embedding_qscale"))
      }),
      "q_sim_topk" -> ((s, d) => {
        val emb = t(s, d, "embeddings")
        emb.cosineTopK(emb.df.where("vec_id < 5"), "vec_id", "embedding", 10).df
      }),
      // IVFADC + exact refine (Jégou et al. ICASSP'11's re-ranking stage
      // with raw vectors): at FULL probe with rerank >= corpus the
      // shortlist covers every non-self candidate, so the refined output
      // IS the exact cosine top-10 — the q_sim_topk oracle replays the
      // whole pipeline (index build + ADC candidates + id-join rerank)
      // hash-exact; the shortlist regime is lattice-spec'd and
      // bench-gated (ivfadc_rerank_np8)
      "q_search_pq_ivf_rerank" -> ((s, d) => {
        val emb = t(s, d, "embeddings")
        val model = emb.pqFit("vec_id", "embedding", m = 8, ks = 16,
          trainSample = 2048, iters = 10)
        val idx = emb.ivfPqIndex(model.df, "vec_id", "embedding", nlist = 16)
        Chain(s, "rq", emb.df.where("vec_id < 5"))
          .searchIvfPqRerank(model.df, idx.df, emb.df, "vec_id", "embedding",
            k = 10, rerankPerQuery = 1000000, nprobe = 16).df
      }),
      // hard-negative mining for contrastive training: exact cosine
      // ranking minus each query's labeled positives (q -> q+1, q+2) and
      // minus near-positive candidates at cosine >= 0.36 (the RocketQA
      // denoising cut — 0.36 sits at the fixture's 99.9th percentile, so
      // the filter provably bites while leaving k survivors); the oracle
      // replays exclusion + ranking over the same fixed-point dot
      "q_hard_negatives" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val emb = t(s, d, "embeddings")
        val qs = emb.df.where("vec_id < 5")
        val pos = qs.select(col("vec_id").as("query_id"), (col("vec_id") + 1).as("doc_id"))
          .union(qs.select(col("vec_id").as("query_id"), (col("vec_id") + 2).as("doc_id")))
        emb.hardNegatives(qs, pos, "vec_id", "embedding", 10,
          fnThreshold = Some(0.36)).df
      }),
      // fixed-embedding face, same rationale as q_sim_topk_hamming: the
      // multi-probe LSH candidate set and exact rerank are pure functions
      // of the pinned lattice vectors
      "q_sim_topk_lsh" -> ((s, d) => {
        val emb = Chain(s, "emb_fixtures", embFixtureDf(s))
        emb.lshCosineTopK(emb.df.where("vec_id < 4"), "vec_id", "embedding", 5)
          .dropColumns(includeCols = Seq("query_id", "neighbor_id", "rank")).df
      }),
      // fixed-embedding face: driver k-means is deterministic (seeded,
      // hash-ordered sample), so the probed cells and exact rerank pin;
      // sf-scale recall stays gated in QuantGateSpec
      "q_sim_topk_ivf" -> ((s, d) => {
        val emb = Chain(s, "emb_fixtures", embFixtureDf(s))
        emb.ivfCosineTopK(emb.df.where("vec_id < 4"), "vec_id", "embedding", 5,
          nlist = 4, nprobe = 2)
          .dropColumns(includeCols = Seq("query_id", "neighbor_id", "rank")).df
      }),
      // persistent IVF index: build once, probe through the saved-index
      // path — must pin the SAME rows as the one-shot q_sim_topk_ivf
      // (QuantGateSpec additionally asserts path equality + recall at sf)
      "q_sim_topk_ivf_index" -> ((s, d) => {
        val emb = Chain(s, "emb_fixtures", embFixtureDf(s))
        val idx = emb.ivfIndex("vec_id", "embedding", nlist = 4)
        Chain(s, "queries", emb.df.where("vec_id < 4"))
          .searchIvfIndex(idx.df, "vec_id", "embedding", 5, nprobe = 2)
          .dropColumns(includeCols = Seq("query_id", "neighbor_id", "rank")).df
      }),
      // sketch-rerank ANN: 256-bit sign sketches score the whole corpus
      // cheaply, exact rerank of the top 25% per query (recall@10 = 1.0 on
      // the test embeddings — QuantGateSpec asserts the 0.8 floor)
      // fixed-embedding face: formula-generated lattice vectors make the
      // sketch-rerank ordering a pure function — the oracle pins the exact
      // (query_id, neighbor_id, rank) rows (cosine dropped: integer output
      // hash-compares across engines without float-literal round-trips);
      // recall floors on the sf-scaled corpus stay gated in QuantGateSpec
      "q_sim_topk_hamming" -> ((s, d) => {
        val emb = Chain(s, "emb_fixtures", embFixtureDf(s))
        emb.hammingCosineTopK(emb.df.where("vec_id < 4"), "vec_id", "embedding", 5,
          planes = 64, rerankPerQuery = 12)
          .dropColumns(includeCols = Seq("query_id", "neighbor_id", "rank")).df
      }),
      // MMR diversified rerank over the pinned lattice (one query per
      // cluster, pool 10, pick 5, λ=0.5): the greedy selection is a pure
      // function of the fixture (exact-decimal pairwise cosines), so the
      // picked (query, neighbor, step) triples pin as literals — the
      // hand-check is that rank 1 is cosineTopK's rank 1 and later picks
      // leave the query's own cluster once its near-dups saturate
      "q_mmr_rerank" -> ((s, d) => {
        val emb = Chain(s, "emb_fixtures", embFixtureDf(s))
        emb.mmrRerank(emb.df.where("vec_id < 4"), "vec_id", "embedding",
          k = 5, poolK = 10, lambdaPct = 50)
          .dropColumns(includeCols = Seq("query_id", "neighbor_id", "mmr_rank")).df
      }),
      // DSIR importance model (target = English docs, raw = full corpus):
      // 1024 hashed uni+bigram buckets, add-1 smoothed fixed-point log
      // ratios — every output is an integer, so the oracle replays the
      // identical count→quantized-log pipeline and hash-matches
      "q_dsir_model" -> ((s, d) => {
        val docs = t(s, d, "documents")
        docs.dsirModel(docs.filterRows(Seq("lang = 'en'")), "text",
          buckets = 1024).df
      }),
      // end-to-end DSIR selection: score every doc under the model above,
      // add md5-derived deterministic Gumbel noise, keep the top 100 by
      // score+noise with a doc_id tiebreak — the full resampling step
      // replayed by the oracle (scores are exact integer sums of model
      // weights; the Gumbel is a pure function of doc_id)
      "q_dsir_select" -> ((s, d) => {
        val docs = t(s, d, "documents")
        docs.dsirSelect(docs.filterRows(Seq("lang = 'en'")), "text",
          k = 100, keyCols = Seq("doc_id"), buckets = 1024)
          .dropColumns(includeCols = Seq("doc_id", "lang", "dsir_n_grams",
            "dsir_score_fp", "dsir_key_fp")).df
      }),
      // CCNet-style hashed-LM quality model fit on the clean slice
      // (lang='en'): 1024 hashed uni+bigram buckets, add-1 smoothed
      // fixed-point log-probs — pure integers, oracle hash-matches the
      // replayed count→quantized-log pipeline
      "q_lm_model" -> ((s, d) => {
        val docs = t(s, d, "documents")
        docs.filterRows(Seq("lang = 'en'")).lmModel("text", buckets = 1024).df
      }),
      // CCNet perplexity-filter apply step: every doc scored under the
      // model above — integer NLL sum over gram occurrences plus the
      // per-gram average; scoring is a pure projection (model rides the
      // plan as a literal weight table), so the oracle replays the whole
      // integer pipeline and hash-matches
      "q_lm_score" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val docs = t(s, d, "documents")
        val model = docs.filterRows(Seq("lang = 'en'")).lmModel("text", buckets = 1024)
        docs.lmScore(model.df, "text")
          .df.select(col("doc_id"), col("lang"), col("lm_n_grams"),
            col("lm_nll_sum_fp"), col("lm_nll_fp"))
      }),
      // l-diversity audit: (segment, nation) classes whose bucketed
      // account balance shows < 5 distinct values — 32 of 125 classes
      // violate at sf0.01, so the HAVING provably bites
      "q_l_diversity" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, floor, lit}
        val cust = t(s, d, "customer")
        Chain(s, "ldiv", cust.df.withColumn("ab",
          floor(col("c_acctbal") / lit(2000.0)).cast("long")))
          .lDiversityViolations(Seq("c_mktsegment", "c_nationkey"), "ab", l = 5).df
      }),
      // product quantization on the pinned lattice: the deterministic fit
      // (hash-ordered sample, seeded k-means) makes the 2-block/4-code
      // assignment a constant of the fixture — the oracle replays the
      // cluster (vec_id % 4) → code pattern
      "q_pq_encode" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, posexplode}
        val fix = Chain(s, "pq_fix", embFixtureDf(s))
        val model = fix.pqFit("vec_id", "embedding", m = 2, ks = 4,
          trainSample = 24, iters = 10)
        fix.pqEncode(model.df, "embedding")
          .df.select(col("vec_id"), posexplode(col("pq_code")).as(Seq("pos", "code")))
      }),
      // ADC search over PQ codes on the pinned lattice: each query's
      // nearest code is its own planted cluster's, so the top-5 are the
      // five siblings in id order (same-code ties, deterministic
      // tie-break) — the oracle enumerates query + 4·rank
      "q_search_pq" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val fix = Chain(s, "pq_fix", embFixtureDf(s))
        val model = fix.pqFit("vec_id", "embedding", m = 2, ks = 4,
          trainSample = 24, iters = 10)
        val corpus = Chain(s, "pq_corpus", fix.pqEncode(model.df, "embedding")
          .df.select(col("vec_id"), col("pq_code")))
        corpus.searchPq(model.df, embFixtureDf(s).where("vec_id < 4"),
            "vec_id", "embedding", k = 5)
          .df.select(col("query_id"), col("neighbor_id"), col("rank"))
      }),
      // IVFADC over the pinned lattice: nlist=4 cells recover the 4
      // planted clusters, nprobe=2 visits the query's own cell first, and
      // same-code ADC ties order by neighbor id — so the top-5 are the
      // five same-cluster siblings, identical rows to full-scan q_search_pq
      // (cell pruning drops only strictly-farther candidates here)
      "q_search_pq_ivf" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val fix = Chain(s, "pq_fix", embFixtureDf(s))
        val model = fix.pqFit("vec_id", "embedding", m = 2, ks = 4,
          trainSample = 24, iters = 10)
        val idx = fix.ivfPqIndex(model.df, "vec_id", "embedding",
          nlist = 4, trainSample = 24)
        Chain(s, "queries", embFixtureDf(s).where("vec_id < 4"))
          .searchIvfPq(model.df, idx.df, "vec_id", "embedding",
            k = 5, nprobe = 2)
          .df.select(col("query_id"), col("neighbor_id"), col("rank"))
      }),
      // multi-assign IVFADC face: codes posted to 2 cells, probed at the
      // same budget with duplicate collapse — extra replicas are strictly
      // farther codes, so the top-5 stay the five planted siblings
      "q_search_pq_ivf_a2" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val fix = Chain(s, "pq_fix", embFixtureDf(s))
        val model = fix.pqFit("vec_id", "embedding", m = 2, ks = 4,
          trainSample = 24, iters = 10)
        val idx = fix.ivfPqIndex(model.df, "vec_id", "embedding",
          nlist = 4, trainSample = 24, assign = 2)
        Chain(s, "queries", embFixtureDf(s).where("vec_id < 4"))
          .searchIvfPq(model.df, idx.df, "vec_id", "embedding",
            k = 5, nprobe = 2, indexAssign = 2)
          .df.select(col("query_id"), col("neighbor_id"), col("rank"))
      }),
      // residual IVFADC (Jégou §III, by_residual=true): codes quantize
      // x − centroid(cell), probes carry the per-cell residual, ADC runs
      // with the index-embedded codebook. Measured on the lattice first
      // (house convention): distances shift to the residual metric
      // (0.872–0.985 for siblings) but the top-5 stay the five planted
      // same-cluster siblings in id order at every probe budget — the
      // same pinned rows as the raw face
      "q_search_pq_ivf_res" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val fix = Chain(s, "pq_fix", embFixtureDf(s))
        val model = fix.pqFit("vec_id", "embedding", m = 2, ks = 4,
          trainSample = 24, iters = 10)
        val idx = fix.ivfPqIndex(model.df, "vec_id", "embedding",
          nlist = 4, trainSample = 24, byResidual = true)
        Chain(s, "queries", embFixtureDf(s).where("vec_id < 4"))
          .searchIvfPq(model.df, idx.df, "vec_id", "embedding",
            k = 5, nprobe = 2)
          .df.select(col("query_id"), col("neighbor_id"), col("rank"))
      }),
      // Bloom-prefiltered join: lineitem probed against small parts —
      // the prefilter is execution detail, so the oracle is the PLAIN
      // inner join (false positives provably fall out in the equi-join)
      "q_join_bloom" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        t(s, d, "lineitem")
          .joinBloomPrefiltered(t(s, d, "part").filterRows(Seq("p_size < 10")),
            Seq("l_partkey" -> "p_partkey"), expectedItems = 100000L)
          .df.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("p_size"), col("p_retailprice"))
      }),
      // ROC AUC over a deterministic correlated score/label fixture with
      // planted ties — midrank Mann–Whitney, integer numerator/
      // denominator, the one closing division the only float op
      "q_auc" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, lit, when}
        val docs = t(s, d, "documents")
        Chain(s, "aucd", docs.df.select(col("doc_id"),
          (((col("doc_id") * 37) % 101).cast("double") / lit(101.0)).as("score"),
          when((col("doc_id") * 53) % 101 < (col("doc_id") * 37) % 101,
            lit(1.0)).otherwise(lit(0.0)).as("label")))
          .aucProfile("score", "label").df
      }),
      // Spearman rank correlation of n_chars vs a noisy monotone twin —
      // midrank integers, exact decimal moment sums, ties on both sides
      "q_spearman" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        val docs = t(s, d, "documents")
        Chain(s, "spd", docs.df.select(col("doc_id"), col("n_chars"),
          (col("n_chars") + col("doc_id") % 50).as("noisy")))
          .spearmanCorr("n_chars", "noisy").df
      }),
      // Welch's t mean-shift test, en vs non-en n_chars: exact-decimal
      // moments, fixed IEEE t/df chains — the oracle replays the same
      // conditional sums and combination order
      "q_t_test" -> ((s, d) => {
        val docs = t(s, d, "documents")
        docs.filterRows(Seq("lang = 'en'"))
          .tTestProfile(docs.df.where("lang <> 'en'"), "n_chars").df
      }),
      // χ² homogeneity of the source mix, en vs non-en: per-cell
      // (o−e)²/e quantized before the decimal sum, df = values − 1
      "q_chi2_homogeneity" -> ((s, d) => {
        val docs = t(s, d, "documents")
        docs.filterRows(Seq("lang = 'en'"))
          .chiSquareHomogeneity(docs.df.where("lang <> 'en'"), "source").df
      }),
      // frequency encoding: category share as a pure window ratio
      "q_frequency_encode" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        t(s, d, "customer").frequencyEncode("c_mktsegment", normalize = true)
          .df.select(col("c_custkey"), col("c_mktsegment"),
            col("c_mktsegment_freq"))
      }),
      // m-estimate smoothed target encoding: category mean shrunk toward
      // the global mean by m = 25 pseudo-observations (exact decimal sums
      // on both sides; the oracle replays the same combination order)
      "q_target_encode_smoothed" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        t(s, d, "orders")
          .targetEncodeSmoothed("o_orderpriority", "o_totalprice", m = 25.0)
          .df.select(col("o_orderkey"), col("o_orderpriority"),
            col("o_orderpriority_target_enc_sm"))
      }),
      // t-closeness audit on the same quasi/sensitive fixture: classes
      // whose bucketed-balance mix sits > 0.3 TVD from the global mix —
      // 39 of 125 classes violate at sf0.01
      "q_t_closeness" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, floor, lit}
        val cust = t(s, d, "customer")
        Chain(s, "tclo", cust.df.withColumn("ab",
          floor(col("c_acctbal") / lit(2000.0)).cast("long")))
          .tClosenessViolations(Seq("c_mktsegment", "c_nationkey"), "ab",
            tFp = 300000L).df
      }),
      // source-concentration Gini over the corpus: integer sorted-count
      // identity, the closing division the only float op
      "q_gini" -> ((s, d) =>
        t(s, d, "documents").giniConcentration("source").df),
      // Jensen–Shannon divergence of the source mix, en vs non-en — the
      // bounded symmetric drift census; per-value entropy terms quantized
      // before the integer sums, oracle replays shares/terms/closing
      "q_jsd_profile" -> ((s, d) => {
        val docs = t(s, d, "documents")
        docs.filterRows(Seq("lang = 'en'"))
          .jsdProfile(docs.df.where("lang <> 'en'"), "source").df
      }),
      // feature-relevance ranking: how much lang-label information do
      // source and a derived size bucket carry — per-feature MI +
      // uncertainty coefficient on the quantized entropy closing, one
      // melted corpus scan; the oracle replays both feature branches
      "q_feature_relevance" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, floor, lit}
        val docs = t(s, d, "documents")
        Chain(s, "fr_docs", docs.df.withColumn("size_bucket",
          floor(col("n_chars") / lit(500.0)).cast("long")))
          .featureRelevance("lang", Seq("source", "size_bucket")).df
      }),
      // Matryoshka truncation to the first 16 coordinates with exact
      // fixed-point re-normalization (one codegen kernel) — the oracle
      // replays slice, the round-regime norm, and the division
      "q_truncate_embeddings" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, posexplode}
        t(s, d, "embeddings").truncateEmbeddings("embedding", 16)
          .df.select(col("vec_id"), posexplode(col("embedding_t")).as(Seq("pos", "val")))
      }),
      // isotonic calibration fit over a deterministic integer fixture
      // whose bucket-4 rate spikes to 0.9 (thr = 900 on v in [400,499]) —
      // PAV must pool buckets 4..6 to 213000000/299; the oracle pins the
      // exact model (bucket counts are integer arithmetic, the pooled
      // rate replayed by hand — blocks and rounding verified offline)
      "q_isotonic_model" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, lit, when}
        val df = s.range(1000).select(col("id"),
          ((col("id") % 997).cast("double") / lit(997.0)).as("score"),
          when((col("id") * 7919) % 997 <
              when((col("id") % 997).between(400, 499), lit(900L))
                .otherwise(col("id") % 997),
            lit(1.0)).otherwise(lit(0.0)).as("label"))
        Chain(s, "iso_fit", df).isotonicFit("score", "label", buckets = 10).df
      }),
      // the apply half: every fixture row scored under the model above —
      // the oracle replays bucket mapping + the pinned model in DuckDB
      "q_isotonic_score" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, lit, when}
        val df = s.range(1000).select(col("id"),
          ((col("id") % 997).cast("double") / lit(997.0)).as("score"),
          when((col("id") * 7919) % 997 <
              when((col("id") % 997).between(400, 499), lit(900L))
                .otherwise(col("id") % 997),
            lit(1.0)).otherwise(lit(0.0)).as("label"))
        val fit = Chain(s, "iso_fit", df).isotonicFit("score", "label", buckets = 10)
        Chain(s, "iso_sc", df).isotonicScore(fit.df, "score")
          .df.select(col("id"), col("score"), col("score_cal_fp"), col("score_cal"))
      }),
      // two-sample Kolmogorov–Smirnov drift: en vs non-en n_chars
      // distributions — ECDFs quantized per jump point before the
      // difference, so the statistic is a pure integer the oracle replays
      "q_ks_profile" -> ((s, d) => {
        val docs = t(s, d, "documents")
        docs.filterRows(Seq("lang = 'en'"))
          .ksProfile(docs.df.where("lang <> 'en'"), "n_chars").df
      }),
      // dependence census of lang × source: joint/marginal entropies with
      // the entropyProfile quantized closing, MI = H(A)+H(B)−H(A,B) —
      // engine-exact, oracle replays the integer c·ln(c) sums
      "q_mutual_information" -> ((s, d) =>
        t(s, d, "documents").mutualInformation("lang", "source").df),
      // centroid-based cluster-quality census over the labeled embedding
      // lattice: per-label n / mean own-centroid cosine distance / mean
      // simplified silhouette, every per-row term 1e-6-quantized before
      // the integer sums — the oracle replays centroids, fixed-point
      // dots, norms, and the (b−a)/max(a,b) fold
      "q_cluster_eval" -> ((s, d) =>
        t(s, d, "embeddings").clusterEval("label", "embedding").df),
      // cross-source score calibration: per-source n_chars distributions
      // mapped onto the pooled distribution by rank fraction (quantile
      // normalization) — the oracle replays the rank/count windows, the
      // CEIL(r·N/n) nearest-rank index, and the rank-keyed lookup
      "q_quantile_normalize" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        t(s, d, "documents")
          .quantileNormalize("n_chars", groupBy = Seq("source"))
          .df.select(col("doc_id"), col("source"), col("n_chars"),
            col("n_chars_qnorm"))
      }),
      // retrieval-quality census over a deterministic synthetic run
      // (5 queries × top-10 of 60 candidates ranked by an integer mix)
      // against modular qrels — recall/MRR/DCG/nDCG@10 with per-term
      // 1e-6 quantization, so all metrics are exact integers
      "q_rank_eval" -> ((s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number}
        val docs = t(s, d, "documents").df
          .select(col("doc_id")).where(col("doc_id") < 60)
        val qs = s.range(5).select(col("id").as("query_id"))
        val grid = qs.crossJoin(docs)
          .withColumn("score", (col("doc_id") * 37 + col("query_id") * 17) % 101)
        val run = grid.withColumn("rank", row_number().over(
            Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
          .where(col("rank") <= 10)
          .select("query_id", "doc_id", "rank")
        val qrels = qs.crossJoin(docs).where(col("doc_id") % 5 === col("query_id"))
          .select("query_id", "doc_id")
        Chain(s, "run", run)
          .rankEval(Chain(s, "qrels", qrels), "query_id", "doc_id", "rank", k = 10).df
      }),
      // leakage-free grouped split: whole sources land in one half
      "q_split_by_group" -> ((s, d) =>
        t(s, d, "documents").trainTestSplitByGroup(Seq("source"), 0.5).df),
      // PCA on the pinned lattice fixtures: the fit is a bounded
      // hash-deterministic driver computation (cyclic Jacobi, fixed sign
      // convention) and the codegen projection a pure function, so the
      // 1e-4-quantized components pin exactly; variance/recall floors on
      // the real embeddings stay gated in QuantGateSpec
      "q_pca_project" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, posexplode, round}
        val emb = Chain(s, "emb_fixtures", embFixtureDf(s))
        val model = emb.pcaFit("vec_id", "embedding", dim = 4)
        emb.pcaProject(model.df, "embedding", "emb_p")
          .df.where(col("vec_id") < 6)
          .select(col("vec_id"), posexplode(col("emb_p")).as(Seq("pos", "comp")))
          .select(col("vec_id"), col("pos"),
            round(col("comp") * 10000).cast("long").as("qcomp"))
      }),
      // C4-style boilerplate stripping on a planted multi-line fixture
      // (the synthetic documents are single-line); exact deterministic
      // output → pinned oracle
      // crawl-style URL canonicalization over the planted rule fixture;
      // the oracle recomputes the chain in DuckDB (RE2) over the same rows
      "q_canonicalize_urls" -> ((s, d) =>
        Chain(s, "url_fixtures", urlFixtureDf(s)).canonicalizeUrls("url").df),
      // composed crawl dedup: canonicalize -> keep lowest id per canonical
      // key (the re-crawled page collapses; rows 6 and 11 collide)
      "q_crawl_dedup" -> ((s, d) =>
        Chain(s, "url_fixtures", urlFixtureDf(s)).canonicalizeUrls("url")
          .dedupe(Seq("url_canon"), Seq("url_id" -> "ASC")).df),
      "q_strip_boilerplate" -> ((s, d) =>
        Chain(s, "boiler_fixtures", boilerFixtureDf(s))
          .stripBoilerplate("doc_id", "text", Seq("source"))
          .dropColumns(includeCols = Seq("doc_id", "text_clean", "text_n_stripped")).df),
      "q_multimodal_decode" -> ((s, d) =>
        t(s, d, "documents").withMediaColumn("text")
          .decodeMedia("media")
          .dropColumns(excludeCols = Seq("media")).df),
      "q_multimodal_frames" -> ((s, d) =>
        t(s, d, "documents").withMediaColumn("text")
          .decodeMedia("media")
          .dropColumns(includeCols = Seq("doc_id", "n_frames"))
          .frameSample(2).df),
      // binary→binary resize through the pluggable boundary: the fake's
      // output length is a pure function of (payload length, target), so
      // the stamped metadata is oracle-replayable
      "q_multimodal_resize" -> ((s, d) =>
        t(s, d, "documents").withMediaColumn("text")
          .resizeMedia("media", 64, 64)
          .dropColumns(includeCols = Seq("doc_id", "width", "height", "byte_len")).df),
      // the composed multimodal curation pipeline (the q_llm_pipeline
      // analogue for media): ingest -> decode -> gate on decoded
      // dimensions -> resize -> embed -> per-format census with the
      // distinct-vector count (identical payload lengths embed
      // identically under the fake, so n_vecs replays from the length
      // arithmetic)
      "q_media_pipeline" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
        t(s, d, "documents")
          .withMediaColumn("text")
          .decodeMedia("media")
          .filterRows(Seq("width >= 300"))
          .resizeMedia("media", 64, 64)
          .extractFeatures("media", 4).df
          .groupBy(col("format"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("features")).as("n_vecs"))
      }),
      // binary→embedding through the pluggable encoder boundary: fake
      // features are k/1024 (exact in float32), exploded per convention
      "q_multimodal_features" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, posexplode}
        t(s, d, "documents").withMediaColumn("text")
          .extractFeatures("media", 4).df
          .select(col("doc_id"), posexplode(col("features")).as(Seq("pos", "f")))
          .select(col("doc_id"), col("pos"), col("f").cast("double").as("fval"))
      }),
      // the REAL pure-JVM header codec end-to-end: tiny VALID PNG/JPEG/GIF/
      // BMP payloads synthesized as literal fixtures (no media libraries in
      // the environment), decoded by ImageHeaderDecoder; the oracle pins the
      // parsed dimensions/format/frame-count per byte layout
      "q_multimodal_real" -> ((s, d) => {
        import org.apache.spark.sql.types._
        val rows = mediaFixtures.map { case (id, b) => org.apache.spark.sql.Row(id, b) }
        val schema = StructType(Seq(
          StructField("media_id", IntegerType, nullable = false),
          StructField("media", BinaryType)))
        val df = s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
        Chain(s, "media_fixtures", df)
          .decodeMedia("media", ImageHeaderDecoder)
          .dropColumns(excludeCols = Seq("media")).df
      }),
      // real audio-header codec end-to-end: WAV chunk walk + MP3 frame walk
      // on synthesized payloads, expectations pinned per byte layout
      "q_multimodal_audio" -> ((s, d) => {
        import org.apache.spark.sql.types._
        val rows = audioFixtures.map { case (id, b) => org.apache.spark.sql.Row(id, b) }
        val schema = StructType(Seq(
          StructField("audio_id", IntegerType, nullable = false),
          StructField("media", BinaryType)))
        val df = s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
        Chain(s, "audio_fixtures", df)
          .decodeAudio("media", AudioHeaderDecoder)
          .dropColumns(excludeCols = Seq("media")).df
      }),
      "q_events_tumbling" -> ((s, d) =>
        EventStreams.tumblingAgg(readEvents(s, d), "1 hour", Seq("event_type"))),
      "q_events_sliding" -> ((s, d) =>
        EventStreams.slidingAgg(readEvents(s, d), "1 hour", "30 minutes", Seq("event_type"))),
      "q_events_session" -> ((s, d) =>
        EventStreams.sessionAgg(readEvents(s, d), "30 minutes", Seq("user_id"))),
      // per-hour PSI drift of the event-type mix vs the corpus-wide mix
      "q_events_drift" -> ((s, d) => {
        val ev = readEvents(s, d)
        EventStreams.driftByWindow(ev, ev, "event_type", "1 hour")
      }),
      // the numeric twin: per-hour PSI of the value distribution over
      // [0, 256) in 16 equal bins vs the corpus-wide reference (the tail
      // above 256 exercises the out-of-range exclusion on both faces)
      "q_events_drift_num" -> ((s, d) => {
        val ev = readEvents(s, d)
        EventStreams.driftByWindowNumeric(ev, ev, "value", "1 hour", 0.0, 256.0, 16)
      }),
      // the equal-frequency windowed drift face: reference = every 50th
      // event (by id, deterministic), cutoffs at the reference quartiles.
      // k = 32768 keeps the reference (n/50 rows) in the exact regime
      // through sf ~1, so the oracle replays the rank-search cutoffs
      "q_events_drift_quantile" -> ((s, d) => {
        val ev = readEvents(s, d)
        EventStreams.driftByWindowQuantile(ev,
          ev.where("event_id % 50 = 0"), "value", "1 hour", 4, k = 32768)
      }),
      // per-hour quantile profile of event value: ONE mergeable KLL
      // aggregate per (hour, type) cell. k = 512 keeps every cell (≤ 51
      // valid values at sf0.1) deep inside the exact no-compaction
      // regime, so the readout is the literal inclusive-rank order
      // statistic and the oracle replays the rank search
      "q_events_quantiles" -> ((s, d) =>
        EventStreams.quantilesByWindow(readEvents(s, d), "value", "1 hour",
          Seq(0.5, 0.95), Seq("event_type"), k = 512)),
      // the HOPPING face: 1-hour windows every 30 minutes — each event
      // lands in two cells (that duplication IS the semantics; the
      // oracle enumerates both explicitly). k = 4096 keeps every window
      // (≈ 2 × the tumbling hourly count) exact through sf ~1
      "q_events_quantiles_sliding" -> ((s, d) =>
        EventStreams.quantilesByWindow(readEvents(s, d), "value", "1 hour",
          Seq(0.5, 0.95), k = 4096, slide = Some("30 minutes"))),
      // ordered-step conversion: strictly-increasing first-completion
      // times through signup -> click -> purchase
      "q_funnel" -> ((s, d) =>
        EventStreams.funnelProfile(readEvents(s, d), "event_type",
          Seq("signup", "click", "purchase"))),
      // time-to-convert quantiles over the same greedy chain: completing
      // users stay far below k = 16384, so the KLL readouts are exact
      // inclusive-rank order statistics and the oracle replays them
      "q_funnel_latency" -> ((s, d) =>
        EventStreams.funnelLatency(readEvents(s, d), "event_type",
          Seq("signup", "click", "purchase"), Seq(0.5, 0.95))),
      // the time-bounded funnel: conversions only count within 1 day of
      // entering (the "converted within T" product-analytics semantics)
      "q_funnel_within" -> ((s, d) =>
        EventStreams.funnelProfile(readEvents(s, d), "event_type",
          Seq("signup", "click", "purchase"), within = Some("1 DAY"))),
      // per-hour distinct users per type: one mergeable HLL sketch per
      // cell; ≤ ~60 distinct users per (hour, type) at sf0.1 keeps every
      // sketch in the coupon (exact) regime, so the estimate IS the
      // exact distinct count and the oracle replays COUNT(DISTINCT)
      "q_distinct_window" -> ((s, d) =>
        EventStreams.distinctByWindow(readEvents(s, d), "user_id",
          "1 hour", Seq("event_type"))),
      // per-hour top-5 users by event count: one mergeable frequent-items
      // sketch per window; <= 166 distinct users/hour at sf0.1 keeps the
      // sketch (capacity 2048) exact, so counts replay in the oracle
      "q_heavy_hitters_window" -> ((s, d) =>
        EventStreams.heavyHittersByWindow(readEvents(s, d), "user_id",
          "1 hour", k = 5)),
      // the HOPPING face: 1-hour windows every 30 minutes (each event
      // counted in two cells); sketch stays exact at 2x the tumbling
      // window count, so the oracle replays the per-window census
      "q_heavy_hitters_sliding" -> ((s, d) =>
        EventStreams.heavyHittersByWindow(readEvents(s, d), "user_id",
          "1 hour", k = 5, slide = Some("30 minutes"))),
      // day-cohort retention grid over (user, active day)
      "q_cohort_retention" -> ((s, d) =>
        EventStreams.cohortRetention(readEvents(s, d))),
      // the weekly face: 7-day periods anchored at each user's own first
      // day, activity deduped per (user, period)
      "q_cohort_weekly" -> ((s, d) =>
        EventStreams.cohortRetention(readEvents(s, d), periodDays = 7)),
      // the SEGMENTED funnel (per-campaign conversion): the greedy chain
      // runs independently inside each segment — partitioned by
      // (segment, user), one scan, one exchange. The segment here is
      // EVENT-derived (campaign-attribution semantics), so one user can
      // enter the funnel in both segments independently
      "q_funnel_grouped" -> ((s, d) => {
        import org.apache.spark.sql.functions.expr
        val ev = readEvents(s, d).withColumn("seg",
          expr("CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END"))
        EventStreams.funnelProfile(ev, "event_type",
          Seq("signup", "click", "purchase"), groupBy = Seq("seg"))
      }),
      // the segmented time-to-convert census: per-segment KLL latency
      // quantiles over the same per-(seg, user) greedy chain; completing
      // users per segment stay far below k, so the readouts are exact
      // inclusive-rank order statistics and the oracle replays them
      "q_funnel_latency_grouped" -> ((s, d) => {
        import org.apache.spark.sql.functions.expr
        val ev = readEvents(s, d).withColumn("seg",
          expr("CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END"))
        EventStreams.funnelLatency(ev, "event_type",
          Seq("signup", "click", "purchase"), Seq(0.5, 0.95), groupBy = Seq("seg"))
      }),
      // the SEGMENTED cohort grid (per-platform retention): a user is
      // cohorted by their first active day WITHIN each segment
      "q_cohort_grouped" -> ((s, d) => {
        import org.apache.spark.sql.functions.expr
        val ev = readEvents(s, d).withColumn("platform",
          expr("CASE WHEN user_id % 2 = 0 THEN 'ios' ELSE 'android' END"))
        EventStreams.cohortRetention(ev, groupBy = Seq("platform"))
      }),
      // the SEGMENTED agreement census (per-cohort rater QC): kappa,
      // marginals, and chance agreement computed independently per
      // segment — the grouped face of q_agreement, oracled end to end
      "q_agreement_grouped" -> ((s, d) => {
        import org.apache.spark.sql.functions.expr
        val cust = ParquetSource.read(s, s"$d/customer.parquet")
          .withColumn("seg", expr("CASE WHEN c_custkey % 2 = 0 THEN 'e' ELSE 'o' END"))
          .withColumn("rb", expr(
            "CAST(CASE WHEN c_custkey % 7 = 0 THEN 'BUILDING' ELSE c_mktsegment END AS STRING)"))
        Chain(s, "cust_ag", cust)
          .agreementProfile("c_mktsegment", "rb", groupBy = Seq("seg")).df
      }),
      // batch face of the calibration monitoring sink, exercising the
      // GROUPED one-scan path: per-event-type reliability census with a
      // deterministic pseudo-score/label; the value > 200 tail maps to an
      // out-of-range score, exercising invalid-row exclusion and the
      // fold of group discovery into the single corpus aggregate
      "q_events_calibration" -> ((s, d) => {
        import org.apache.spark.sql.functions.expr
        val ev = readEvents(s, d)
          .withColumn("score", expr("CASE WHEN value > 200.0 THEN CAST(2.0 AS DOUBLE) " +
            "ELSE CAST((user_id * 7 + event_id) % 89 AS DOUBLE) / CAST(89 AS DOUBLE) END"))
          .withColumn("label", expr("CAST(event_id % 3 = 0 AS INT)"))
        Chain(s, "events_cal", ev)
          .calibrationProfile("score", "label", 8, groupBy = Seq("event_type")).df
      }),
      "q_json_extract" -> ((s, d) =>
        Chain(s, "events", readEvents(s, d))
          .dropColumns(includeCols = Seq("event_id", "event_type", "props"))
          .jsonExtract("props", Seq(("$.k", "k_val", "int"))).df),
      // composed curation pipeline over the round's ops: canonicalize →
      // exact dedup on the canonical bytes → balanced per-language subset →
      // per-language summary. Every stage reproduces in the DuckDB oracle.
      "q_curation_pipeline" -> ((s, d) =>
        t(s, d, "documents")
          .normalizeText("text")
          .dedupExact("doc_id", "text_norm")
          .sampleGroupK(Seq("lang"), 20, Seq("doc_id"))
          .aggregate(Seq("lang"), Seq(
            "doc_id" -> Seq("COUNT"),
            "n_chars" -> Seq("SUM"))).df),
      // composed MODEL-scored curation (round-7 ops): engineer features →
      // score with a pinned logistic model (IEEE-exact logit) → keep the
      // 10 best docs per language via the mergeable top-k-by-score
      // aggregate → per-language summary. Exact end-to-end oracle.
      "q_model_curation_pipeline" -> ((s, d) => {
        import org.apache.spark.sql.functions.{col, length, size}
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("idx",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("feature",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("coef",
            org.apache.spark.sql.types.DoubleType, nullable = false)))
        val rows: java.util.List[org.apache.spark.sql.Row] = java.util.Arrays.asList(
          org.apache.spark.sql.Row(0, "(intercept)", -2.5),
          org.apache.spark.sql.Row(1, "f_len", 0.003),
          org.apache.spark.sql.Row(2, "f_tok", 0.02))
        t(s, d, "documents").transformDf("features")(df => df
          .withColumn("f_len", length(col("text")).cast("double"))
          .withColumn("f_tok",
            size(graft.ext.TextOps.tokens(col("text"))).cast("double")))
          .scoreLogistic(s.createDataFrame(rows, schema), "q")
          .sampleGroupTopK(Seq("lang"), 10, "q_logit", Seq("doc_id"))
          .aggregate(Seq("lang"), Seq(
            "doc_id" -> Seq("COUNT"),
            "q_logit" -> Seq("AVG"))).df
      }),
      // composed training-data pipeline: quality-gate → exact dedup →
      // token stats → per-language corpus summary
      "q_llm_pipeline" -> ((s, d) =>
        t(s, d, "documents")
          .qualityScore("text")
          .filterRows(Seq("quality > 0.5", "n_tokens >= 20"))
          .dedupExact("doc_id", "text")
          .tokenCounts("text")
          .aggregate(Seq("lang"), Seq(
            "doc_id" -> Seq("COUNT"),
            "n_tokens" -> Seq("SUM", "AVG"),
            "quality" -> Seq("AVG"))).df)
    )
  }

  /** Deterministic real-media fixtures for q_multimodal_real: minimal VALID
    * headers per format (see [[graft.ext.ImageHeaderDecoder]] for the spec
    * lineage), plus one non-media blob that must degrade to `unknown`.
    */
  private def mediaFixtures: Seq[(Int, Array[Byte])] = {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val png = b(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0, 0, 0, 13) ++ "IHDR".getBytes ++
      b(0, 0, 0, 64, 0, 0, 0, 48) // width=64, height=48 (big-endian)
    val jpeg = b(0xff, 0xd8, // SOI
      0xff, 0xc0, 0x00, 0x0b, 0x08, // SOF0, len=11, precision=8
      0x00, 0x30, 0x00, 0x40, 0x01) // height=48, width=64, 1 component
    val gifFrame = b(0x2c, 0, 0, 0, 0, 0x40, 0x01, 0xc8, 0x00, 0, // descriptor 320x200
      0x02, // LZW min code size
      0x01, 0x00, // one 1-byte data sub-block
      0x00) // sub-block terminator
    val gif = "GIF89a".getBytes ++ b(0x40, 0x01, 0xc8, 0x00, // 320x200 (little-endian)
      0x00, 0x00, 0x00) ++ gifFrame ++ gifFrame ++ b(0x3b) // 2 frames + trailer
    val bmp = b('B', 'M') ++ Array.fill[Byte](16)(0) ++
      b(10, 0, 0, 0, 20, 0, 0, 0) // width=10, height=20 (little-endian)
    Seq(1 -> png, 2 -> jpeg, 3 -> gif, 4 -> bmp, 5 -> "notmedia".getBytes)
  }

  /** Deterministic audio fixtures for q_multimodal_audio: a stereo 16-bit
    * 44.1 kHz WAV (100 samples), a mono 8-bit 8 kHz WAV (160 samples),
    * a 2-frame 128 kbps MPEG-1 Layer III stream, and a non-audio blob
    * that must degrade to `unknown`.
    */
  private def audioFixtures: Seq[(Int, Array[Byte])] = {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def fmt(ch: Int, rate: Int, align: Int, bits: Int): Array[Byte] =
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(ch) ++ le32(rate) ++
        le32(rate * align) ++ le16(align) ++ le16(bits)
    def wav(ch: Int, rate: Int, align: Int, bits: Int, dataBytes: Int): Array[Byte] = {
      val body = fmt(ch, rate, align, bits) ++
        "data".getBytes ++ le32(dataBytes) ++ Array.fill[Byte](dataBytes)(0)
      "RIFF".getBytes ++ le32(4 + body.length) ++ "WAVE".getBytes ++ body
    }
    // MPEG-1 Layer III, 128 kbps @ 44100, stereo, no padding:
    // frame length = 144 * 128000 / 44100 = 417 bytes
    val mp3Frame = Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0x00) ++
      Array.fill[Byte](413)(0)
    Seq(
      1 -> wav(ch = 2, rate = 44100, align = 4, bits = 16, dataBytes = 400),
      2 -> wav(ch = 1, rate = 8000, align = 1, bits = 8, dataBytes = 160),
      3 -> (mp3Frame ++ mp3Frame),
      4 -> "noise!!".getBytes)
  }

  /** Deterministic text fixtures for the hash-kernel queries
    * (q_text_rolling_fp / q_dedup_minhash / q_dedup_simhash): three
    * near-dup pairs (1,2 small edit; 3,4 small edit; 5,6 exact copy),
    * three distinct English docs and two non-English docs. Fixed input →
    * the kernels are pure functions → the oracle pins their literal
    * outputs (the q_multimodal_real pattern for text).
    */
  private[graft] def docFixtures: Seq[(Long, String)] = Seq(
    1L -> ("the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm windowsill near the garden"),
    2L -> ("the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm windowsill near the fence"),
    3L -> ("distributed query engines shuffle data between executors and " +
      "spill to disk when memory pressure rises above the configured threshold"),
    4L -> ("distributed query engines shuffle data between executors and " +
      "spill to disk when memory pressure rises beyond the configured threshold"),
    5L -> ("parquet files store columns in row groups with dictionary " +
      "encoding and statistics for predicate pushdown at scan time"),
    6L -> ("parquet files store columns in row groups with dictionary " +
      "encoding and statistics for predicate pushdown at scan time"),
    7L -> ("machine learning pipelines tokenize documents normalize unicode " +
      "and deduplicate near copies before any training epoch begins"),
    8L -> ("completely unrelated short text about cooking pasta with garlic " +
      "olive oil and fresh basil leaves from the garden"),
    9L -> ("der schnelle braune fuchs springt über den faulen hund während " +
      "die katze auf der warmen fensterbank schläft"),
    10L -> ("el rápido zorro marrón salta sobre el perro perezoso mientras " +
      "el gato duerme en la ventana cálida"))

  private def docFixtureDf(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = docFixtures.map { case (id, txt) => org.apache.spark.sql.Row(id, txt) }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
  }

  /** Deterministic embedding fixtures for q_sim_topk_hamming: 24 vectors
    * (dim 16) in 4 integer-lattice clusters with per-vector perturbation —
    * formula-generated, so the exact rerank ordering is pinnable.
    */
  private[graft] def embFixtures: Seq[(Long, Array[Float])] =
    (0 until 24).map { i =>
      val cluster = i % 4
      val v = Array.tabulate(16) { d =>
        val base = if ((d + cluster) % 4 == 0) 4.0f else ((d * (cluster + 2)) % 3).toFloat
        val jitter = (((i * 31 + d * 17) % 7) - 3) * 0.125f
        base + jitter
      }
      (i.toLong, v)
    }

  /** Deterministic numeric fixture for the approximate-aggregate queries
    * (q_approx_agg / q_percentile_sketch): 240 rows, 4 groups × 3 shards,
    * values (id·37) mod 101 — group sizes (60) sit inside the exact regime
    * of both percentile_approx (n ≤ accuracy) and KLL (n ≤ k), so the
    * outputs are pure functions of the fixture and the oracles pin them.
    */
  private def numFixtureDf(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(0, 240, 1, 2).select(
      (org.apache.spark.sql.functions.col("id") % 4).as("g"),
      ((org.apache.spark.sql.functions.col("id") / 4) % 3).as("h"),
      ((org.apache.spark.sql.functions.col("id") * 37) % 101).cast("double").as("x"))
  }

  /** Name fixtures for q_fuzzy_pairs: planted 1-and-2-edit typo families,
    * an exact duplicate, strings below the pigeonhole regime (the tiny
    * all-pairs family), a null, and unrelated far strings — every branch
    * of the PassJoin miner. The oracle recomputes all pairs with DuckDB's
    * own levenshtein over the same VALUES.
    */
  private[graft] def namesFixtureDf(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = namesFixture.map { case (id, nm) => org.apache.spark.sql.Row(id, nm) }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
  }

  private[graft] def namesFixture: Seq[(Long, String)] = Seq(
    (1L, "jonathan smith"), (2L, "jonathon smith"), (3L, "jon smith"),
    (4L, "claire dubois"), (5L, "clair dubois"), (6L, "claire dubios"),
    (7L, "zhang wei"), (8L, "zhang wei"), (9L, "wang wei"),
    (10L, "a"), (11L, "ab"), (12L, "b"), (13L, "abcd"), (14L, "abce"),
    (15L, "completely different entry"), (16L, "xylophone quartz"),
    (17L, null), (18L, "jonathan smyth"),
    (19L, "short"), (20L, "shirt"), (21L, "claire duboise"))

  /** Multi-line fixtures for q_strip_boilerplate: two multi-doc "sites"
    * with planted repeated footers/CTAs plus a single-doc site (can never
    * reach minDocs — must pass through untouched).
    */
  private[graft] def boilerFixtureDf(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = Seq(
      (1L, "news", "breaking market rally today\nshare this article\nsubscribe to the newsletter"),
      (2L, "news", "local team wins championship\nshare this article\nsubscribe to the newsletter"),
      (3L, "news", "weather stays mild this week\nshare this article"),
      (4L, "news", "elections set for next spring\nsubscribe to the newsletter\n\nextra analysis section"),
      (5L, "blog", "my sourdough journey begins\npowered by blogcraft"),
      (6L, "blog", "thoughts on distributed systems\npowered by blogcraft"),
      (7L, "solo", "unique text stands alone\nwith two lines")
    ).map { case (id, src, txt) => org.apache.spark.sql.Row(id, src, txt) }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("text", StringType, nullable = false)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
  }

  /** URL fixtures for q_canonicalize_urls: one row per canonicalization
    * rule (case, default ports, fragments, tracking params first/middle/
    * all, relative links, non-URL prose, null) — the oracle recomputes
    * the same regexp chain in DuckDB over these VALUES, so Java-vs-RE2
    * regex semantics are cross-checked, not assumed.
    */
  private[graft] def urlFixtureDf(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = Seq(
      (1L, "HTTP://Example.COM:80/Path/Page?a=1&utm_source=feed#frag"),
      (2L, "https://Shop.Example.com:443/"),
      (3L, "https://example.com:8443/x"),
      (4L, "http://example.com/?utm_campaign=x&utm_medium=y"),
      (5L, "http://example.com/a?fbclid=abc&id=9"),
      (6L, "  http://example.com/a  "),
      (7L, "/relative/path?gclid=z#top"),
      (8L, "not a url"),
      (9L, null),
      (10L, "FTP://Files.Example.com/MixedCasePath"),
      // canonicalizes identically to row 6 — the crawl-dedup collision
      (11L, "http://example.com:80/a#dup")
    ).map { case (id, u) => org.apache.spark.sql.Row(id, u) }
    val schema = StructType(Seq(
      StructField("url_id", LongType, nullable = false),
      StructField("url", StringType, nullable = true)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
  }

  private[graft] def embFixtureDf(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = embFixtures.map { case (id, v) => org.apache.spark.sql.Row(id, v.toSeq) }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
  }

  private def readEvents(s: SparkSession, d: String): DataFrame =
    ParquetSource.read(s, s"$d/events.parquet")

  def oracleSql: Map[String, String] = coreOracleSql ++ extOracleSql

  private def coreOracleSql: Map[String, String] = Map(
    "q_drop_columns" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "q_rename" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate AS order_date, o_orderpriority FROM orders",
    "q_cast" ->
      "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, CAST(l_quantity AS INTEGER) AS l_quantity, CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS l_extendedprice FROM lineitem",
    "q_concat" ->
      "SELECT *, CAST(c_name AS VARCHAR) || '-' || CAST(c_mktsegment AS VARCHAR) AS c_label FROM customer",
    "q_substring" ->
      "SELECT *, SUBSTRING(c_name, 1, 8) AS c_name_substr FROM customer",
    "q_math" ->
      "SELECT *, l_extendedprice * (1 - l_discount) AS net_price, (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS gross_price FROM lineitem",
    "q_if_then" ->
      "SELECT *, CASE WHEN o_totalprice > 300000 THEN 'BIG' WHEN o_totalprice > 150000 THEN 'MED' ELSE 'SMALL' END AS size_band FROM orders",
    "q_to_date" ->
      "SELECT *, CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS od_str FROM orders",
    "q_filter" ->
      "SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_discount > 0.03",
    "q_order" ->
      "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC",
    "q_dedupe" ->
      "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC, l_extendedprice DESC) AS rn FROM lineitem) WHERE rn = 1",
    "q_rank" ->
      "SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS price_rank FROM orders",
    "q_join" ->
      "SELECT l.*, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority FROM lineitem l INNER JOIN orders o ON l.l_orderkey = o.o_orderkey",
    "q_simple_join" ->
      "SELECT c.c_custkey, c.c_name, n.n_nationkey, c.c_acctbal, c.c_mktsegment, n.n_name, n.n_regionkey FROM customer c INNER JOIN nation n ON c.c_nationkey = n.n_nationkey",
    "q_multi_join" ->
      "SELECT l.*, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority, p.p_name, p.p_brand, p.p_type, p.p_size, p.p_retailprice FROM lineitem l INNER JOIN orders o ON l.l_orderkey = o.o_orderkey INNER JOIN part p ON l.l_partkey = p.p_partkey",
    "q_union" ->
      "SELECT * FROM orders WHERE o_totalprice > 100000 UNION SELECT * FROM orders WHERE o_orderstatus = 'F'",
    "q_multi_union" ->
      "SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_mktsegment = 'BUILDING' UNION ALL SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_mktsegment = 'MACHINERY' UNION ALL SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_acctbal < 0",
    "q_aggregate" ->
      s"SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS l_quantity_sum, ${davg("l_quantity")} AS l_quantity_avg, ${dsum("l_extendedprice")} AS l_extendedprice_sum, MIN(l_extendedprice) AS l_extendedprice_min, MAX(l_extendedprice) AS l_extendedprice_max, COUNT(DISTINCT l_orderkey) AS l_orderkey_count_distinct, COUNT(l_linenumber) AS l_linenumber_count FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "q_conditional_agg" ->
      s"SELECT l_linestatus, ${dsum("CASE WHEN (l_returnflag = 'R') AND (l_discount > 0.02) THEN l_extendedprice END")} AS l_extendedprice_sum_if FROM lineitem GROUP BY l_linestatus",
    "q_aggregate_string" ->
      "SELECT c_mktsegment, string_agg(DISTINCT CAST(c_nationkey AS VARCHAR), ',' ORDER BY CAST(c_nationkey AS VARCHAR)) AS c_nationkey_agg FROM customer GROUP BY c_mktsegment",
    "q_describe" -> describeOracle,
    "q_agg_variance" -> {
      val xx = "CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))"
      val sx = s"CAST(SUM(CASE WHEN $xx IS NOT NULL THEN CAST(l_extendedprice AS DECIMAL(38,4)) END) AS DOUBLE)"
      val sxx = s"CAST(SUM($xx) AS DOUBLE)"
      val n = s"CAST(COUNT($xx) AS DOUBLE)"
      s"SELECT l_returnflag, (($sxx - $sx * $sx / $n) / ($n - 1.0)) AS l_extendedprice_var FROM lineitem GROUP BY l_returnflag"
    },
    "q_linear_regression" ->
      s"""SELECT l_returnflag, slope, (_sy - slope * _sx) / _nd AS intercept, _n AS n FROM (SELECT l_returnflag, (_nd * _sxy - _sx * _sy) / (_nd * _sxx - _sx * _sx) AS slope, _sx, _sy, _nd, _n FROM (SELECT l_returnflag, CAST(COUNT(x) AS DOUBLE) AS _nd, COUNT(x) AS _n, ${dsum8("x")} AS _sx, ${dsum8("y")} AS _sy, ${dsum8("x * y")} AS _sxy, ${dsum8("x * x")} AS _sxx FROM (SELECT l_returnflag, CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN CAST(l_quantity AS DOUBLE) END AS x, CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL THEN CAST(l_extendedprice AS DOUBLE) END AS y FROM lineitem) GROUP BY l_returnflag))""",
    "q_market_basket" ->
      "SELECT l_orderkey, string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY CAST(l_partkey AS VARCHAR)) AS basket, COUNT(l_partkey) AS basket_size FROM lineitem GROUP BY l_orderkey",
    "q_lag" ->
      "SELECT *, LAG(l_quantity, 1) OVER w AS lag_l_quantity_1, LEAD(l_quantity, 1) OVER w AS lag_l_quantity__1 FROM lineitem WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC)",
    "q_moving_avg" ->
      s"SELECT *, ${dsumOver("l_extendedprice", "w")} / COUNT(l_extendedprice) OVER w AS mean_l_extendedprice_4 FROM lineitem WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)",
    "q_rolling_agg" ->
      s"SELECT *, ${dsumOver("l_quantity", "w")} AS sum_l_quantity__2_0, MIN(l_quantity) OVER w AS min_l_quantity__2_0 FROM lineitem WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
    "q_rolling_firstlast" ->
      "SELECT *, FIRST_VALUE(l_quantity) OVER w AS first_l_quantity__2_0, LAST_VALUE(l_quantity) OVER w AS last_l_quantity__2_0 FROM lineitem WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_partkey ASC ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
    "q_cumulative_agg" ->
      s"SELECT *, ${dsumOver("o_totalprice", "w")} AS sum_o_totalprice_cumulative, MAX(o_totalprice) OVER w AS max_o_totalprice_cumulative FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
    "q_timeseries_agg" ->
      s"SELECT *, ${dsumOver("o_totalprice", "w")} AS sum_o_totalprice_7day FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)",
    "q_train_test_split" ->
      "SELECT * EXCLUDE (_rn, _cnt), CASE WHEN _rn <= FLOOR(0.8 * _cnt) THEN 'TRAIN' ELSE 'TEST' END AS tt_split FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY o_orderkey ASC) AS _rn, COUNT(*) OVER () AS _cnt FROM orders)",
    "q_tt_split_stratified" ->
      "SELECT * EXCLUDE (_s_rn, _s_cnt), CASE WHEN _s_rn <= FLOOR(CAST('0.8' AS DOUBLE) * _s_cnt) THEN 'TRAIN' ELSE 'TEST' END AS tt_split FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey ASC) AS _s_rn, COUNT(*) OVER (PARTITION BY o_orderpriority) AS _s_cnt FROM orders)",
    "q_sessionize" ->
      "SELECT * EXCLUDE (_n), CAST(SUM(_n) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM (SELECT *, CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) IS NULL OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) + INTERVAL 43200 SECOND THEN 1 ELSE 0 END AS _n FROM events)",
    "q_session_stats" ->
      s"WITH sess AS (SELECT user_id, ts, value, CAST(SUM(_n) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM (SELECT *, CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) IS NULL OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) + INTERVAL 43200 SECOND THEN 1 ELSE 0 END AS _n FROM events)) SELECT user_id, session_id, ${dsum("value")} AS value_sum, COUNT(value) AS value_count, MIN(ts) AS ts_min, MAX(ts) AS ts_max FROM sess GROUP BY user_id, session_id",
    "q_datetrunc" ->
      "SELECT *, CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS o_orderdate_week, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS o_orderdate_month FROM orders",
    "q_datepart" ->
      "SELECT *, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_orderdate_year, CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS o_orderdate_month, CAST(EXTRACT(DAY FROM o_orderdate) AS INTEGER) AS o_orderdate_day FROM orders",
    "q_dateadd" ->
      "SELECT *, o_orderdate + INTERVAL 30 DAY AS o_orderdate_add_30_day FROM orders",
    "q_datediff" ->
      "SELECT *, TIMESTAMP '1998-01-01 00:00:00' AS ref_date, CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INTEGER) AS datediff_o_orderdate_ref_date FROM orders",
    "q_datespine" ->
      "SELECT CAST(d AS DATE) AS o_orderdate_spine, COUNT(o_orderkey) AS o_orderkey_count FROM (SELECT unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-03-31', INTERVAL 1 DAY)) AS d) s LEFT JOIN orders ON CAST(date_trunc('day', o_orderdate) AS DATE) = CAST(d AS DATE) GROUP BY 1",
    "q_datespine_groups" ->
      "SELECT g.o_orderpriority, CAST(d AS DATE) AS o_orderdate_spine, COUNT(o.o_orderkey) AS o_orderkey_count FROM (SELECT DISTINCT o_orderpriority FROM orders) g CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-12-01', INTERVAL 1 MONTH)) AS d) s LEFT JOIN orders o ON o.o_orderpriority = g.o_orderpriority AND CAST(date_trunc('month', o.o_orderdate) AS DATE) = CAST(d AS DATE) GROUP BY 1, 2",
    "q_resample_fill" ->
      (s"WITH agg AS (SELECT o_orderpriority, o_orderdate, ${dsum("o_totalprice")} AS o_totalprice_sum FROM orders GROUP BY 1, 2), " +
        "g AS (SELECT DISTINCT o_orderpriority FROM orders), " +
        "sp AS (SELECT g.o_orderpriority, CAST(d AS DATE) AS o_orderdate_spine FROM g CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-03-01', INTERVAL 1 DAY)) AS d) s) " +
        "SELECT sp.o_orderpriority, sp.o_orderdate_spine, a.o_orderdate, a.o_totalprice_sum, " +
        "LAST_VALUE(a.o_totalprice_sum IGNORE NULLS) OVER (PARTITION BY sp.o_orderpriority ORDER BY sp.o_orderdate_spine ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS o_totalprice_sum_filled " +
        "FROM sp LEFT JOIN agg a ON a.o_orderpriority = sp.o_orderpriority AND CAST(date_trunc('day', a.o_orderdate) AS DATE) = sp.o_orderdate_spine"),
    "q_resample_interp" -> {
      val over = "OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate_spine ASC"
      val backS = s"$over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      val fwdS = s"$over ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
      val x = "CAST(o_totalprice_sum AS DOUBLE)"
      val pv = s"LAST_VALUE($x IGNORE NULLS) $backS"
      val pp = s"LAST_VALUE(CASE WHEN $x IS NOT NULL THEN _pos END IGNORE NULLS) $backS"
      val nv = s"FIRST_VALUE($x IGNORE NULLS) $fwdS"
      val np = s"FIRST_VALUE(CASE WHEN $x IS NOT NULL THEN _pos END IGNORE NULLS) $fwdS"
      s"WITH agg AS (SELECT o_orderpriority, o_orderdate, ${dsum("o_totalprice")} AS o_totalprice_sum FROM orders GROUP BY 1, 2), " +
        "g AS (SELECT DISTINCT o_orderpriority FROM orders), " +
        "sp AS (SELECT g.o_orderpriority, CAST(d AS DATE) AS o_orderdate_spine FROM g CROSS JOIN (SELECT unnest(generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-03-01', INTERVAL 1 DAY)) AS d) s), " +
        "j AS (SELECT sp.o_orderpriority, sp.o_orderdate_spine, a.o_orderdate, a.o_totalprice_sum " +
        "FROM sp LEFT JOIN agg a ON a.o_orderpriority = sp.o_orderpriority AND CAST(date_trunc('day', a.o_orderdate) AS DATE) = sp.o_orderdate_spine), " +
        s"p AS (SELECT *, CAST(ROW_NUMBER() $over) AS DOUBLE) AS _pos FROM j) " +
        s"SELECT * EXCLUDE (_pos), CASE WHEN $x IS NOT NULL THEN $x ELSE $pv + ($nv - $pv) * (_pos - $pp) / ($np - $pp) END AS o_totalprice_sum_filled FROM p"
    },
    "q_one_hot_encode" ->
      "SELECT *, CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS c_mktsegment_automobile, CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS c_mktsegment_building, CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS c_mktsegment_furniture, CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS c_mktsegment_household, CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS c_mktsegment_machinery FROM customer",
    "q_label_encode" ->
      "SELECT *, CAST(DENSE_RANK() OVER (ORDER BY c_mktsegment) AS INTEGER) AS c_mktsegment_encoded FROM customer",
    "q_target_encode" ->
      s"SELECT *, ${dsumOver("o_totalprice", "(PARTITION BY o_orderpriority)")} / COUNT(o_totalprice) OVER (PARTITION BY o_orderpriority) AS o_orderpriority_target_encoded FROM orders",
    "q_impute" ->
      s"SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, COALESCE(acct2, (SELECT ${davg("acct2")} FROM (SELECT CASE WHEN c_acctbal < 500 THEN NULL ELSE c_acctbal END AS acct2 FROM customer))) AS acct2, CASE WHEN acct2 IS NULL THEN 1 ELSE 0 END AS acct2_missing_flag FROM (SELECT *, CASE WHEN c_acctbal < 500 THEN CAST(NULL AS DOUBLE) ELSE c_acctbal END AS acct2 FROM customer)",
    // NaN-excluded median/mode fills: MEDIAN over NOT isnan, mode from the
    // non-NaN plurality (count DESC, value ASC tie-break — the impute
    // contract); NaN rows filtered after imputation so the output is
    // NaN-free on both sides
    "q_impute_nan" ->
      ("WITH base AS (SELECT *, " +
        "CASE WHEN c_acctbal < 0 THEN CAST('NaN' AS DOUBLE) WHEN c_acctbal < 500 THEN NULL ELSE FLOOR(c_acctbal) END AS acct3, " +
        "CASE WHEN c_acctbal > 9000 THEN CAST('NaN' AS DOUBLE) WHEN c_acctbal < 500 THEN NULL ELSE FLOOR(c_acctbal / 1000) END AS seg4 FROM customer), " +
        "f AS (SELECT (SELECT MEDIAN(acct3) FROM base WHERE NOT isnan(acct3)) AS mf, " +
        "(SELECT seg4 FROM (SELECT seg4, COUNT(*) AS c FROM base WHERE seg4 IS NOT NULL AND NOT isnan(seg4) GROUP BY 1) ORDER BY c DESC, seg4 ASC LIMIT 1) AS sf) " +
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, " +
        "COALESCE(acct3, mf) AS acct3, COALESCE(seg4, sf) AS seg4 FROM base, f " +
        "WHERE NOT isnan(COALESCE(acct3, mf)) AND NOT isnan(COALESCE(seg4, sf))"),
    "q_bin" ->
      "SELECT * EXCLUDE (mn, w), CAST(LEAST(FLOOR((CAST(o_totalprice AS DOUBLE) - mn) / w), 9) AS INTEGER) AS o_totalprice_bin FROM orders, (SELECT CAST(MIN(o_totalprice) AS DOUBLE) AS mn, (CAST(MAX(o_totalprice) AS DOUBLE) - CAST(MIN(o_totalprice) AS DOUBLE)) / 10 AS w FROM orders) s",
    "q_bin_ntile" ->
      ("SELECT *, CAST(NTILE(7) OVER (ORDER BY o_totalprice ASC NULLS FIRST, " +
        "o_orderkey ASC NULLS FIRST) AS INTEGER) AS o_totalprice_bin FROM orders"),
    "q_standard_scaler" ->
      s"SELECT * EXCLUDE (mu, sd), (CAST(l_extendedprice AS DOUBLE) - mu) / sd AS l_extendedprice_scaled FROM lineitem, (SELECT ${davg("l_extendedprice")} AS mu, SQRT((${dsum8("l_extendedprice * l_extendedprice")} - ${dsum("l_extendedprice")} * ${dsum("l_extendedprice")} / CAST(COUNT(l_extendedprice) AS DOUBLE)) / (CAST(COUNT(l_extendedprice) AS DOUBLE) - 1.0)) AS sd FROM lineitem) s",
    "q_robust_scaler" -> {
      val xS = "CAST(l_extendedprice AS DOUBLE)"
      val wp = "PARTITION BY l_returnflag"
      def pick(p: String) =
        s"MAX(CASE WHEN _r_rn = FLOOR(CAST('$p' AS DOUBLE) * (_r_n - 1)) + 1 AND $xS IS NOT NULL THEN $xS END) OVER ($wp)"
      s"SELECT * EXCLUDE (_r_rn, _r_n, _r_q1, _r_med, _r_q3), " +
        s"CASE WHEN $xS IS NULL THEN NULL ELSE ($xS - _r_med) / (CASE WHEN (_r_q3 - _r_q1) = 0 THEN 1.0 ELSE (_r_q3 - _r_q1) END) END AS l_extendedprice_rscaled FROM (" +
        s"SELECT *, ${pick("0.25")} AS _r_q1, ${pick("0.5")} AS _r_med, ${pick("0.75")} AS _r_q3 FROM (" +
        s"SELECT *, ROW_NUMBER() OVER ($wp ORDER BY $xS ASC NULLS LAST) AS _r_rn, " +
        s"COUNT($xS) OVER ($wp) AS _r_n FROM lineitem))"
    },
    "q_winsorize" -> {
      val xS = "CAST(l_extendedprice AS DOUBLE)"
      val wp = "PARTITION BY l_returnflag"
      val loS = s"MAX(CASE WHEN _w_rn = FLOOR(0.05 * (_w_n - 1)) + 1 AND $xS IS NOT NULL THEN $xS END) OVER ($wp)"
      val hiS = s"MAX(CASE WHEN _w_rn = CEIL(0.95 * (_w_n - 1)) + 1 AND $xS IS NOT NULL THEN $xS END) OVER ($wp)"
      s"SELECT * EXCLUDE (_w_rn, _w_n, _w_lo, _w_hi), " +
        s"CASE WHEN $xS IS NULL THEN NULL ELSE GREATEST(LEAST($xS, _w_hi), _w_lo) END AS l_extendedprice_wins FROM (" +
        s"SELECT *, $loS AS _w_lo, $hiS AS _w_hi FROM (" +
        s"SELECT *, ROW_NUMBER() OVER ($wp ORDER BY $xS ASC NULLS LAST) AS _w_rn, " +
        s"COUNT($xS) OVER ($wp) AS _w_n FROM lineitem))"
    },
    "q_flag_outliers" -> {
      val over = "OVER (PARTITION BY l_returnflag)"
      val nS = s"CAST(COUNT(l_extendedprice) $over AS DOUBLE)"
      val sxS = s"CAST(SUM(CAST(CAST(l_extendedprice AS DOUBLE) AS DECIMAL(38,4))) $over AS DOUBLE)"
      val sxxS = s"CAST(SUM(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE) AS DECIMAL(38,8))) $over AS DOUBLE)"
      val muS = s"($sxS / $nS)"
      val sdS = s"SQRT(($sxxS - $sxS * $sxS / $nS) / ($nS - 1.0))"
      s"SELECT *, CASE WHEN $nS > 1 AND $sdS > 0 THEN (CAST(l_extendedprice AS DOUBLE) - $muS) / $sdS END AS l_extendedprice_zscore, " +
        s"($nS > 1 AND $sdS > 0 AND ABS(CAST(l_extendedprice AS DOUBLE) - $muS) > 2.0 * $sdS) AS l_extendedprice_outlier FROM lineitem"
    },
    "q_flag_outliers_robust" -> {
      val x = "CAST(l_extendedprice AS DOUBLE)"
      val over = "OVER (PARTITION BY l_returnflag)"
      val mzS = s"0.6745 * ($x - _m) / _mad"
      s"WITH m AS (SELECT *, quantile_cont($x, 0.5) $over AS _m FROM lineitem), " +
        s"m2 AS (SELECT *, quantile_cont(ABS($x - _m), 0.5) $over AS _mad, " +
        s"CAST(COUNT(l_extendedprice) $over AS DOUBLE) AS _n FROM m) " +
        "SELECT * EXCLUDE (_m, _mad, _n), " +
        s"CASE WHEN _n > 1 AND _mad > 0 THEN $mzS END AS l_extendedprice_mzscore, " +
        s"(_n > 1 AND _mad > 0 AND ABS($mzS) > 3.5) AS l_extendedprice_outlier_robust FROM m2"
    },
    "q_min_max_scaler" ->
      "SELECT * EXCLUDE (mn, mx), (CAST(p_retailprice AS DOUBLE) - mn) / (mx - mn) AS p_retailprice_scaled FROM part, (SELECT CAST(MIN(p_retailprice) AS DOUBLE) AS mn, CAST(MAX(p_retailprice) AS DOUBLE) AS mx FROM part) s",
    "q_levenshtein" ->
      "SELECT *, CAST(levenshtein(c_name, c_mktsegment) AS INTEGER) AS lev_c_name_c_mktsegment FROM customer",
    "q_pivot" ->
      s"SELECT l_linestatus, ${dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS a, ${dsum("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS n, ${dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS r FROM lineitem GROUP BY l_linestatus",
    "q_unpivot" ->
      "SELECT p_partkey, p_name, p_brand, p_type, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part UNION ALL SELECT p_partkey, p_name, p_brand, p_type, 'p_retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS val FROM part",
    "q_apply" ->
      "SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    "q_named_transform" ->
      (s"SELECT o_orderpriority, COUNT(*) AS n, ${dsum("o_totalprice")} AS total " +
        "FROM orders WHERE o_totalprice >= 100000 GROUP BY o_orderpriority"),
    "q_intersect" ->
      "SELECT * FROM orders WHERE o_totalprice > 100000 INTERSECT SELECT * FROM orders WHERE o_orderstatus = 'F'",
    "q_except" ->
      "SELECT * FROM orders WHERE o_totalprice > 100000 EXCEPT SELECT * FROM orders WHERE o_orderstatus = 'F'",
    "q_cube" ->
      s"SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS l_quantity_sum, COUNT(l_orderkey) AS l_orderkey_count FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)",
    "q_rollup" ->
      s"SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS l_quantity_sum FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",
    "q_grouping_sets" ->
      s"SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS l_quantity_sum, COUNT(l_orderkey) AS l_orderkey_count FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())",
    "q_ntile" ->
      "SELECT *, CAST(NTILE(8) OVER w AS INT) AS tile, PERCENT_RANK() OVER w AS pct_rank, CUME_DIST() OVER w AS cum_dist FROM lineitem WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC NULLS LAST, l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST)",
    "q_histogram" ->
      ("SELECT bucket, CAST('0.0' AS DOUBLE) + bucket * CAST('31250.0' AS DOUBLE) AS bucket_lo, " +
        "CAST('0.0' AS DOUBLE) + (bucket + 1) * CAST('31250.0' AS DOUBLE) AS bucket_hi, " +
        "CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt FROM (SELECT range AS bucket FROM range(0, 16)) " +
        "LEFT JOIN (SELECT LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - CAST('0.0' AS DOUBLE)) / CAST('31250.0' AS DOUBLE)) AS BIGINT), 15) AS bucket, " +
        "COUNT(*) AS cnt FROM orders WHERE o_totalprice IS NOT NULL AND NOT isnan(CAST(o_totalprice AS DOUBLE)) " +
        "AND CAST(o_totalprice AS DOUBLE) >= CAST('0.0' AS DOUBLE) AND CAST(o_totalprice AS DOUBLE) <= CAST('500000.0' AS DOUBLE) GROUP BY 1) USING (bucket)"),
    // null-safe spine join (IS NOT DISTINCT FROM) so a NULL group would
    // keep its counts — mirrors the DataFrame face's null-bucket fold
    "q_histogram_grouped" ->
      ("SELECT sp.o_orderstatus, sp.bucket, " +
        "CAST('0.0' AS DOUBLE) + sp.bucket * CAST('62500.0' AS DOUBLE) AS bucket_lo, " +
        "CAST('0.0' AS DOUBLE) + (sp.bucket + 1) * CAST('62500.0' AS DOUBLE) AS bucket_hi, " +
        "CAST(COALESCE(cc.cnt, 0) AS BIGINT) AS cnt " +
        "FROM (SELECT o_orderstatus, range AS bucket FROM (SELECT DISTINCT o_orderstatus FROM orders) CROSS JOIN range(0, 8)) sp " +
        "LEFT JOIN (SELECT o_orderstatus, LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - CAST('0.0' AS DOUBLE)) / CAST('62500.0' AS DOUBLE)) AS BIGINT), 7) AS bucket, " +
        "COUNT(*) AS cnt FROM orders WHERE o_totalprice IS NOT NULL AND NOT isnan(CAST(o_totalprice AS DOUBLE)) " +
        "AND CAST(o_totalprice AS DOUBLE) >= CAST('0.0' AS DOUBLE) AND CAST(o_totalprice AS DOUBLE) <= CAST('500000.0' AS DOUBLE) GROUP BY 1, 2) cc " +
        "ON sp.bucket = cc.bucket AND sp.o_orderstatus IS NOT DISTINCT FROM cc.o_orderstatus"),
    "q_corr_matrix" -> {
      def branch(a: String, b: String): String = {
        val both = s"$a IS NOT NULL AND $b IS NOT NULL AND NOT isnan(CAST($a AS DOUBLE)) AND NOT isnan(CAST($b AS DOUBLE))"
        s"SELECT '$a' AS col_a, '$b' AS col_b, (_nd * _sxy - _sx * _sy) / NULLIF(SQRT(_nd * _sxx - _sx * _sx) * SQRT(_nd * _syy - _sy * _sy), 0) AS corr, _n AS n FROM (" +
          s"SELECT CAST(COUNT(_x) AS DOUBLE) AS _nd, COUNT(_x) AS _n, ${dsum8("_x")} AS _sx, ${dsum8("_y")} AS _sy, " +
          s"${dsum8("_x * _y")} AS _sxy, ${dsum8("_x * _x")} AS _sxx, ${dsum8("_y * _y")} AS _syy FROM (" +
          s"SELECT CASE WHEN $both THEN CAST($a AS DOUBLE) END AS _x, CASE WHEN $both THEN CAST($b AS DOUBLE) END AS _y FROM lineitem))"
      }
      Seq(("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"))
        .map { case (a, b) => branch(a, b) }.mkString(" UNION ALL ")
    },
    "q_corr_matrix_listwise" -> {
      // listwise gate: a row leaves EVERY pair when any screened column is
      // null/NaN (the fixtures carry none, but the gate is the contract)
      val all = Seq("l_quantity", "l_extendedprice", "l_discount")
      val ok = all.map(cn =>
        s"$cn IS NOT NULL AND NOT isnan(CAST($cn AS DOUBLE))").mkString(" AND ")
      def branch(a: String, b: String): String =
        s"SELECT '$a' AS col_a, '$b' AS col_b, (_nd * _sxy - _sx * _sy) / NULLIF(SQRT(_nd * _sxx - _sx * _sx) * SQRT(_nd * _syy - _sy * _sy), 0) AS corr, _n AS n FROM (" +
          s"SELECT CAST(COUNT(_x) AS DOUBLE) AS _nd, COUNT(_x) AS _n, ${dsum8("_x")} AS _sx, ${dsum8("_y")} AS _sy, " +
          s"${dsum8("_x * _y")} AS _sxy, ${dsum8("_x * _x")} AS _sxx, ${dsum8("_y * _y")} AS _syy FROM (" +
          s"SELECT CASE WHEN $ok THEN CAST($a AS DOUBLE) END AS _x, CASE WHEN $ok THEN CAST($b AS DOUBLE) END AS _y FROM lineitem))"
      Seq(("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"))
        .map { case (a, b) => branch(a, b) }.mkString(" UNION ALL ")
    },
    "q_skew_profile" ->
      ("SELECT l_suppkey, CAST(cnt AS BIGINT) AS cnt, CAST(cnt AS DOUBLE) / CAST(_total AS DOUBLE) AS share FROM " +
        "(SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey) " +
        "CROSS JOIN (SELECT COUNT(*) AS _total FROM lineitem) " +
        "ORDER BY cnt DESC, l_suppkey ASC LIMIT 10"),
    "q_join_cardinality" -> {
      // joinCardinalityProfile replayed: per-side valid-key count frames,
      // exact decimal products, top-10 by (contrib DESC, key ASC)
      "WITH la AS (SELECT l_orderkey, COUNT(*) AS cnt_a FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1), " +
        "rb AS (SELECT o_orderkey, COUNT(*) AS cnt_b FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1), " +
        "m AS (SELECT l_orderkey, cnt_a, cnt_b, CAST(cnt_a AS DECIMAL(19,0)) * CAST(cnt_b AS DECIMAL(19,0)) AS _c " +
        "FROM la JOIN rb ON l_orderkey = o_orderkey), " +
        "ta AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS rows_a, COUNT(*) AS keys_a, MAX(cnt_a) AS max_mult_a FROM la), " +
        "tb AS (SELECT CAST(SUM(cnt_b) AS BIGINT) AS rows_b, COUNT(*) AS keys_b, MAX(cnt_b) AS max_mult_b FROM rb), " +
        "tm AS (SELECT COUNT(*) AS keys_matched, CAST(COALESCE(SUM(_c), 0) AS DOUBLE) AS est_rows FROM m), " +
        "top AS (SELECT * FROM m ORDER BY _c DESC, l_orderkey ASC LIMIT 10) " +
        "SELECT l_orderkey, cnt_a, cnt_b, CAST(_c AS DOUBLE) AS contrib, rows_a, rows_b, " +
        "keys_a, keys_b, keys_matched, max_mult_a, max_mult_b, est_rows " +
        "FROM top CROSS JOIN ta CROSS JOIN tb CROSS JOIN tm"
    },
    "q_weighted_agg" -> {
      // the fixed-point-long regime: DECIMAL(38,8) product sums cross 2^53
      // scaled here and the decimal->double conversion double-rounds
      // differently across engines (1-ulp drift observed)
      val both = "l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND " +
        "NOT isnan(CAST(l_extendedprice AS DOUBLE)) AND NOT isnan(CAST(l_quantity AS DOUBLE))"
      def fpS(e: String) =
        s"SUM(CAST(CAST(FLOOR(($e) * CAST('1000000.0' AS DOUBLE) + 0.5) AS BIGINT) AS DECIMAL(38,0)))"
      val sc = "CAST('1000000.0' AS DOUBLE)"
      s"SELECT l_returnflag, (CAST(_swxfp AS DOUBLE) / $sc) / NULLIF(CAST(_swfp AS DOUBLE) / $sc, 0) AS l_extendedprice_wavg, " +
        s"CAST(_swfp AS DOUBLE) / $sc AS l_quantity_wsum, n FROM (" +
        s"SELECT l_returnflag, ${fpS("_w * _x")} AS _swxfp, ${fpS("_w")} AS _swfp, COUNT(_x) AS n FROM (" +
        s"SELECT l_returnflag, CASE WHEN $both THEN CAST(l_extendedprice AS DOUBLE) END AS _x, " +
        s"CASE WHEN $both THEN CAST(l_quantity AS DOUBLE) END AS _w FROM lineitem) GROUP BY l_returnflag)"
    },
    "q_shard" -> {
      val digits = (1 to 8).map(i =>
        s"(CAST(ascii(substring(_h, $i, 1)) AS BIGINT) - CASE WHEN substring(_h, $i, 1) >= 'a' THEN 87 ELSE 48 END)")
        .reduceLeft((acc, d) => s"($acc * 16 + $d)")
      s"SELECT doc_id, text, lang, source, n_chars, $digits % 16 AS shard FROM " +
        "(SELECT *, md5(concat_ws('|', CAST(doc_id AS VARCHAR))) AS _h FROM documents)"
    },
    "q_anonymize" ->
      ("SELECT c_custkey, CASE WHEN c_name IS NULL THEN NULL ELSE " +
        "substring(md5(concat('graft-salt', '|', CAST(c_name AS VARCHAR))), 1, 16) END AS c_name, " +
        "c_nationkey, c_acctbal, c_mktsegment FROM customer"),
    "q_count_pattern" ->
      ("SELECT *, CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS BIGINT) AS n_digits, " +
        "CAST(len(regexp_extract_all(c_name, '[A-Za-z]+')) AS BIGINT) AS n_words FROM customer"),
    "q_extract_pattern" ->
      ("SELECT *, NULLIF(regexp_extract(c_name, '(Customer)#0*([0-9]+)', 1), '') AS tag, " +
        "NULLIF(regexp_extract(c_name, '(Customer)#0*([0-9]+)', 2), '') AS cust_num FROM customer"),
    "q_quantile_profile" -> {
      // nearest-rank picks recomputed branch-per-(column, prob); the same
      // FLOOR(p·(n−1))+1 index arithmetic as the DataFrame face
      def xS(cn: String) =
        s"CASE WHEN NOT isnan(CAST($cn AS DOUBLE)) THEN CAST($cn AS DOUBLE) END"
      val branches = for {
        cn <- Seq("l_quantity", "l_extendedprice"); p <- Seq(0.25, 0.5, 0.75, 0.95)
      } yield s"SELECT '$cn' AS col_name, CAST('$p' AS DOUBLE) AS prob, " +
        s"MAX(CASE WHEN _rn = FLOOR(CAST('$p' AS DOUBLE) * (_n - 1)) + 1 THEN _x END) AS value, " +
        s"MAX(_n) AS n FROM (SELECT ${xS(cn)} AS _x, " +
        s"ROW_NUMBER() OVER (ORDER BY ${xS(cn)} ASC NULLS LAST) AS _rn, " +
        s"COUNT(${xS(cn)}) OVER () AS _n FROM lineitem) WHERE _x IS NOT NULL"
      branches.mkString(" UNION ALL ")
    },
    "q_entropy_profile" -> {
      // fixed-point ln terms (the weighted_agg regime) so the float
      // entropy is partitioning- and engine-independent
      def br(cn: String) =
        s"SELECT '$cn' AS col_name, CAST(SUM(_cnt) AS BIGINT) AS n, COUNT(*) AS n_distinct, " +
          "FLOOR(LN(CAST(SUM(_cnt) AS DOUBLE)) * 1000000 + 0.5) / 1000000 - " +
          "(CAST(SUM(CAST(CAST(FLOOR(CAST(_cnt AS DOUBLE) * LN(CAST(_cnt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) / 1000000) / CAST(SUM(_cnt) AS DOUBLE) AS entropy, " +
          "1.0 - CAST(SUM(CAST(_cnt AS DECIMAL(19,0)) * CAST(_cnt AS DECIMAL(19,0))) AS DOUBLE) / (CAST(SUM(_cnt) AS DOUBLE) * CAST(SUM(_cnt) AS DOUBLE)) AS simpson " +
          s"FROM (SELECT CAST($cn AS VARCHAR) AS _v, COUNT(*) AS _cnt FROM customer " +
          s"WHERE $cn IS NOT NULL GROUP BY _v)"
      Seq("c_mktsegment", "c_nationkey").map(br).mkString(" UNION ALL ")
    },
    "q_k_anonymity" ->
      ("SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt FROM customer " +
        "GROUP BY c_nationkey, c_mktsegment HAVING COUNT(*) < 8"),
    "q_psi_quantile" -> {
      // psiQuantileProfile replayed on the fixed fixture: inclusive-rank
      // cutoffs at 0.25/0.5/0.75 of the base, bucket = #cutoffs strictly
      // below x, then the shared eps-floored fixed-point PSI arithmetic
      val epsS = "CAST('1.0E-6' AS DOUBLE)"
      val src = "SELECT CAST(i % 4 AS BIGINT) AS g, CAST((i * 37) % 101 AS DOUBLE) AS x FROM range(0, 240) t(i)"
      def cut(p: String) = s"MIN(CASE WHEN CAST(rn AS DOUBLE) >= CAST('$p' AS DOUBLE) * CAST(n AS DOUBLE) THEN x END)"
      def side(pred: String, as: String) =
        s"SELECT CASE WHEN x > c3 THEN 3 WHEN x > c2 THEN 2 WHEN x > c1 THEN 1 ELSE 0 END AS bucket, " +
          s"COUNT(*) AS $as FROM (SELECT x FROM src WHERE $pred AND x IS NOT NULL AND NOT isnan(x)) CROSS JOIN cu GROUP BY 1"
      def g(cnt: String, tot: String) = s"GREATEST(CAST($cnt AS DOUBLE) / $tot, $epsS)"
      s"WITH src AS ($src), " +
        "bv AS (SELECT x FROM src WHERE g < 2 AND x IS NOT NULL AND NOT isnan(x)), " +
        "r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn, COUNT(*) OVER () AS n FROM bv), " +
        s"cu AS (SELECT ${cut("0.25")} AS c1, ${cut("0.5")} AS c2, ${cut("0.75")} AS c3 FROM r), " +
        s"bb AS (${side("g < 2", "cb")}), ob AS (${side("g >= 2", "co")}), " +
        "sp AS (SELECT range AS bucket FROM range(0, 4)), " +
        "j AS (SELECT bucket, CAST(COALESCE(cb, 0) AS BIGINT) AS cnt_base, " +
        "CAST(COALESCE(co, 0) AS BIGINT) AS cnt_other FROM sp LEFT JOIN bb USING (bucket) LEFT JOIN ob USING (bucket)), " +
        "t AS (SELECT CAST(SUM(cnt_base) AS DOUBLE) AS tb, CAST(SUM(cnt_other) AS DOUBLE) AS tot FROM j), " +
        s"y AS (SELECT bucket, cnt_base, cnt_other, (${g("cnt_base", "tb")} - ${g("cnt_other", "tot")}) * " +
        s"(FLOOR(LN(${g("cnt_base", "tb")} / ${g("cnt_other", "tot")}) * 1000000 + 0.5) / 1000000) AS psi_term FROM j CROSS JOIN t), " +
        "z AS (SELECT CAST(SUM(CAST(FLOOR(psi_term * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000 AS psi_total FROM y) " +
        "SELECT bucket, CASE bucket WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3 END AS cut_lo, " +
        "CASE bucket WHEN 0 THEN c1 WHEN 1 THEN c2 WHEN 2 THEN c3 END AS cut_hi, " +
        "cnt_base, cnt_other, psi_term, psi_total FROM y CROSS JOIN z CROSS JOIN cu"
    },
    "q_psi_profile" -> {
      // the op's exact arithmetic replayed: eps-floored shares, 1e-6
      // fixed-point ln factor, 1e-12 fixed-point exact psi_total
      val loS = "CAST('0.0' AS DOUBLE)"; val wS = "CAST('31250.0' AS DOUBLE)"
      val epsS = "CAST('1.0E-6' AS DOUBLE)"
      def side(status: String, as: String) =
        s"SELECT LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - $loS) / $wS) AS BIGINT), 15) AS bucket, " +
          s"COUNT(*) AS $as FROM orders WHERE o_orderstatus = '$status' AND o_totalprice IS NOT NULL " +
          s"AND NOT isnan(CAST(o_totalprice AS DOUBLE)) AND CAST(o_totalprice AS DOUBLE) >= $loS " +
          s"AND CAST(o_totalprice AS DOUBLE) <= CAST('500000.0' AS DOUBLE) GROUP BY 1"
      s"WITH sp AS (SELECT range AS bucket FROM range(0, 16)), cb AS (${side("F", "cb")}), " +
        s"co AS (${side("O", "co")}), " +
        "j AS (SELECT bucket, CAST(COALESCE(cb, 0) AS BIGINT) AS cnt_base, " +
        "CAST(COALESCE(co, 0) AS BIGINT) AS cnt_other FROM sp LEFT JOIN cb USING (bucket) LEFT JOIN co USING (bucket)), " +
        "t AS (SELECT CAST(SUM(cnt_base) AS DOUBLE) AS tb, CAST(SUM(cnt_other) AS DOUBLE) AS tot FROM j), " +
        s"y AS (SELECT bucket, cnt_base, cnt_other, (GREATEST(CAST(cnt_base AS DOUBLE) / tb, $epsS) - GREATEST(CAST(cnt_other AS DOUBLE) / tot, $epsS)) * " +
        s"(FLOOR(LN(GREATEST(CAST(cnt_base AS DOUBLE) / tb, $epsS) / GREATEST(CAST(cnt_other AS DOUBLE) / tot, $epsS)) * 1000000 + 0.5) / 1000000) AS psi_term " +
        "FROM j CROSS JOIN t), " +
        "z AS (SELECT CAST(SUM(CAST(FLOOR(psi_term * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000 AS psi_total FROM y) " +
        s"SELECT bucket, $loS + bucket * $wS AS bucket_lo, $loS + (bucket + 1) * $wS AS bucket_hi, " +
        "cnt_base, cnt_other, psi_term, psi_total FROM y CROSS JOIN z"
    },
    "q_psi_grouped" -> {
      // the grouped face replayed: per-priority bucket counts, totals as
      // PARTITION BY windows, the same eps-floored fixed-point psi_term
      // (with the tot=0 → NULL guard the DataFrame face applies), and a
      // per-group 1e-12 fixed-point psi_total; spine groups = priorities
      // seen on EITHER side frame (excluded rows still vote)
      val loS = "CAST('0.0' AS DOUBLE)"; val wS = "CAST('31250.0' AS DOUBLE)"
      val epsS = "CAST('1.0E-6' AS DOUBLE)"
      def side(status: String, as: String) =
        s"SELECT o_orderpriority AS g, LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - $loS) / $wS) AS BIGINT), 15) AS bucket, " +
          s"COUNT(*) AS $as FROM orders WHERE o_orderstatus = '$status' AND o_totalprice IS NOT NULL " +
          s"AND NOT isnan(CAST(o_totalprice AS DOUBLE)) AND CAST(o_totalprice AS DOUBLE) >= $loS " +
          s"AND CAST(o_totalprice AS DOUBLE) <= CAST('500000.0' AS DOUBLE) GROUP BY 1, 2"
      def fl(cnt: String, tot: String) =
        s"CASE WHEN $tot = 0 THEN NULL ELSE GREATEST(CAST($cnt AS DOUBLE) / $tot, $epsS) END"
      s"WITH gs AS (SELECT DISTINCT o_orderpriority AS g FROM orders WHERE o_orderstatus = 'F' OR o_orderstatus = 'O'), " +
        "sp AS (SELECT g, range AS bucket FROM gs CROSS JOIN range(0, 16)), " +
        s"cb AS (${side("F", "cb")}), co AS (${side("O", "co")}), " +
        "j AS (SELECT sp.g, sp.bucket, CAST(COALESCE(cb, 0) AS BIGINT) AS cnt_base, " +
        "CAST(COALESCE(co, 0) AS BIGINT) AS cnt_other FROM sp " +
        "LEFT JOIN cb ON sp.g IS NOT DISTINCT FROM cb.g AND sp.bucket = cb.bucket " +
        "LEFT JOIN co ON sp.g IS NOT DISTINCT FROM co.g AND sp.bucket = co.bucket), " +
        "w2 AS (SELECT *, CAST(SUM(cnt_base) OVER (PARTITION BY g) AS DOUBLE) AS tb, " +
        "CAST(SUM(cnt_other) OVER (PARTITION BY g) AS DOUBLE) AS tot FROM j), " +
        s"y AS (SELECT g, bucket, cnt_base, cnt_other, (${fl("cnt_base", "tb")} - ${fl("cnt_other", "tot")}) * " +
        s"(FLOOR(LN(${fl("cnt_base", "tb")} / ${fl("cnt_other", "tot")}) * 1000000 + 0.5) / 1000000) AS psi_term FROM w2) " +
        "SELECT g AS o_orderpriority, bucket, " +
        s"$loS + bucket * $wS AS bucket_lo, $loS + (bucket + 1) * $wS AS bucket_hi, cnt_base, cnt_other, psi_term, " +
        "CAST(SUM(CAST(FLOOR(psi_term * 1000000000000 + 0.5) AS BIGINT)) OVER (PARTITION BY g) AS DOUBLE) / 1000000000000 AS psi_total FROM y"
    },
    "q_psi_quantile_grouped" -> {
      // grouped equal-frequency PSI replayed: per-group inclusive-rank
      // cutoffs (exact KLL regime), per-group bucketing/totals/psi_total,
      // null cut bounds where a group has no cutoffs
      val epsS = "CAST('1.0E-6' AS DOUBLE)"
      val src = "SELECT CAST(i % 4 AS BIGINT) AS g, CAST((i * 37) % 101 AS DOUBLE) AS x FROM range(0, 240) t(i)"
      def cut(p: String) = s"MIN(CASE WHEN CAST(rn AS DOUBLE) >= CAST('$p' AS DOUBLE) * CAST(n AS DOUBLE) THEN x END)"
      def side(pred: String, as: String) =
        s"SELECT w.grp, CASE WHEN x > c3 THEN 3 WHEN x > c2 THEN 2 WHEN x > c1 THEN 1 ELSE 0 END AS bucket, " +
          s"COUNT(*) AS $as FROM (SELECT grp, x FROM wg WHERE $pred AND x IS NOT NULL AND NOT isnan(x)) w " +
          "LEFT JOIN cu ON w.grp IS NOT DISTINCT FROM cu.grp GROUP BY 1, 2"
      def fl(cnt: String, tot: String) =
        s"CASE WHEN $tot = 0 THEN NULL ELSE GREATEST(CAST($cnt AS DOUBLE) / $tot, $epsS) END"
      s"WITH src AS ($src), " +
        "wg AS (SELECT g, x, CAST(x AS BIGINT) % 2 AS grp FROM src), " +
        "bv AS (SELECT grp, x FROM wg WHERE g < 2 AND x IS NOT NULL AND NOT isnan(x)), " +
        "r AS (SELECT grp, x, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x) AS rn, " +
        "COUNT(*) OVER (PARTITION BY grp) AS n FROM bv), " +
        s"cu AS (SELECT grp, ${cut("0.25")} AS c1, ${cut("0.5")} AS c2, ${cut("0.75")} AS c3 FROM r GROUP BY grp), " +
        "gs AS (SELECT DISTINCT grp FROM wg), " +
        "sp AS (SELECT grp, range AS bucket FROM gs CROSS JOIN range(0, 4)), " +
        s"bb AS (${side("g < 2", "cb")}), ob AS (${side("g >= 2", "co")}), " +
        "j AS (SELECT sp.grp, sp.bucket, CAST(COALESCE(cb, 0) AS BIGINT) AS cnt_base, " +
        "CAST(COALESCE(co, 0) AS BIGINT) AS cnt_other FROM sp " +
        "LEFT JOIN bb ON sp.grp IS NOT DISTINCT FROM bb.grp AND sp.bucket = bb.bucket " +
        "LEFT JOIN ob ON sp.grp IS NOT DISTINCT FROM ob.grp AND sp.bucket = ob.bucket), " +
        "w2 AS (SELECT *, CAST(SUM(cnt_base) OVER (PARTITION BY grp) AS DOUBLE) AS tb, " +
        "CAST(SUM(cnt_other) OVER (PARTITION BY grp) AS DOUBLE) AS tot FROM j), " +
        s"y AS (SELECT grp, bucket, cnt_base, cnt_other, (${fl("cnt_base", "tb")} - ${fl("cnt_other", "tot")}) * " +
        s"(FLOOR(LN(${fl("cnt_base", "tb")} / ${fl("cnt_other", "tot")}) * 1000000 + 0.5) / 1000000) AS psi_term FROM w2), " +
        "z AS (SELECT y.*, CAST(SUM(CAST(FLOOR(psi_term * 1000000000000 + 0.5) AS BIGINT)) OVER (PARTITION BY grp) AS DOUBLE) / 1000000000000 AS psi_total FROM y) " +
        "SELECT z.grp, z.bucket, " +
        "CASE z.bucket WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3 END AS cut_lo, " +
        "CASE z.bucket WHEN 0 THEN c1 WHEN 1 THEN c2 WHEN 2 THEN c3 END AS cut_hi, " +
        "cnt_base, cnt_other, psi_term, psi_total FROM z LEFT JOIN cu ON z.grp IS NOT DISTINCT FROM cu.grp"
    },
    "q_psi_categorical" -> {
      val epsS = "CAST('1.0E-6' AS DOUBLE)"
      def side(pred: String, as: String) =
        s"SELECT CAST(c_mktsegment AS VARCHAR) AS value, COUNT(*) AS $as FROM customer " +
          s"WHERE $pred AND c_mktsegment IS NOT NULL GROUP BY 1"
      s"WITH cb AS (${side("c_nationkey < 13", "cb")}), co AS (${side("c_nationkey >= 13", "co")}), " +
        "j AS (SELECT value, CAST(COALESCE(cb, 0) AS BIGINT) AS cnt_base, " +
        "CAST(COALESCE(co, 0) AS BIGINT) AS cnt_other FROM cb FULL JOIN co USING (value)), " +
        "t AS (SELECT CAST(SUM(cnt_base) AS DOUBLE) AS tb, CAST(SUM(cnt_other) AS DOUBLE) AS tot FROM j), " +
        s"y AS (SELECT value, cnt_base, cnt_other, (GREATEST(CAST(cnt_base AS DOUBLE) / tb, $epsS) - GREATEST(CAST(cnt_other AS DOUBLE) / tot, $epsS)) * " +
        s"(FLOOR(LN(GREATEST(CAST(cnt_base AS DOUBLE) / tb, $epsS) / GREATEST(CAST(cnt_other AS DOUBLE) / tot, $epsS)) * 1000000 + 0.5) / 1000000) AS psi_term " +
        "FROM j CROSS JOIN t), " +
        "z AS (SELECT CAST(SUM(CAST(FLOOR(psi_term * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000 AS psi_total FROM y) " +
        "SELECT value, cnt_base, cnt_other, psi_term, psi_total FROM y CROSS JOIN z"
    },
    "q_psi_categorical_grouped" -> {
      // the grouped categorical face: per-(grp, value) counts from both
      // sides, totals as PARTITION BY grp windows, same fixed-point
      // arithmetic with the tot=0 -> NULL guard
      val epsS = "CAST('1.0E-6' AS DOUBLE)"
      def side(pred: String, as: String) =
        s"SELECT c_custkey % 3 AS grp, CAST(c_mktsegment AS VARCHAR) AS value, COUNT(*) AS $as " +
          s"FROM customer WHERE $pred AND c_mktsegment IS NOT NULL GROUP BY 1, 2"
      def fl(cnt: String, tot: String) =
        s"CASE WHEN $tot = 0 THEN NULL ELSE GREATEST(CAST($cnt AS DOUBLE) / $tot, $epsS) END"
      s"WITH cb AS (${side("c_nationkey < 13", "cb")}), co AS (${side("c_nationkey >= 13", "co")}), " +
        "j AS (SELECT COALESCE(cb.grp, co.grp) AS grp, COALESCE(cb.value, co.value) AS value, " +
        "CAST(COALESCE(cb.cb, 0) AS BIGINT) AS cnt_base, CAST(COALESCE(co.co, 0) AS BIGINT) AS cnt_other " +
        "FROM cb FULL JOIN co ON cb.grp IS NOT DISTINCT FROM co.grp AND cb.value IS NOT DISTINCT FROM co.value), " +
        "w2 AS (SELECT *, CAST(SUM(cnt_base) OVER (PARTITION BY grp) AS DOUBLE) AS tb, " +
        "CAST(SUM(cnt_other) OVER (PARTITION BY grp) AS DOUBLE) AS tot FROM j), " +
        s"y AS (SELECT grp, value, cnt_base, cnt_other, (${fl("cnt_base", "tb")} - ${fl("cnt_other", "tot")}) * " +
        s"(FLOOR(LN(${fl("cnt_base", "tb")} / ${fl("cnt_other", "tot")}) * 1000000 + 0.5) / 1000000) AS psi_term FROM w2) " +
        "SELECT grp, value, cnt_base, cnt_other, psi_term, " +
        "CAST(SUM(CAST(FLOOR(psi_term * 1000000000000 + 0.5) AS BIGINT)) OVER (PARTITION BY grp) AS DOUBLE) / 1000000000000 AS psi_total FROM y"
    },
    "q_trimmed_mean" -> {
      val xS = "CAST(l_extendedprice AS DOUBLE)"
      val xrS = s"CASE WHEN NOT isnan($xS) THEN $xS END"
      val keepS = "_t_x IS NOT NULL AND _t_rn > FLOOR(CAST('0.1' AS DOUBLE) * _t_n) " +
        "AND _t_rn <= _t_n - FLOOR(CAST('0.1' AS DOUBLE) * _t_n)"
      val keptS = s"CASE WHEN $keepS THEN _t_x END"
      s"SELECT l_returnflag, CASE WHEN COUNT($keptS) = 0 THEN NULL ELSE " +
        s"CAST(SUM(CAST($keptS AS DECIMAL(38,4))) AS DOUBLE) / COUNT($keptS) END AS l_extendedprice_tmean, " +
        s"COUNT($keptS) AS n_kept, CAST(MAX(_t_n) AS BIGINT) AS n FROM (" +
        s"SELECT l_returnflag, $xrS AS _t_x, " +
        s"ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY $xrS ASC NULLS LAST) AS _t_rn, " +
        s"COUNT($xrS) OVER (PARTITION BY l_returnflag) AS _t_n FROM lineitem) GROUP BY l_returnflag"
    },
    "q_trimmed_mean_sketch" -> {
      // the KLL cutoff search replayed literally: in the exact regime the
      // inclusive-rank quantile at p is the smallest value whose 1-based
      // rank satisfies rank >= p·n, BOTH sides of the comparison in IEEE
      // double (DataSketches' naturalRank product) — engine-identical
      val src = "SELECT CAST(i % 4 AS BIGINT) AS g, CAST((i * 37) % 101 AS DOUBLE) AS x FROM range(0, 240) t(i)"
      def cut(p: String) = s"MIN(CASE WHEN CAST(rn AS DOUBLE) >= " +
        s"CAST('$p' AS DOUBLE) * CAST(n AS DOUBLE) THEN x END)"
      val keptS = "CASE WHEN s.x >= b._lo AND s.x <= b._hi THEN s.x END"
      s"WITH src AS ($src), " +
        "r AS (SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn, " +
        "COUNT(*) OVER (PARTITION BY g) AS n FROM src), " +
        s"b AS (SELECT g, ${cut("0.1")} AS _lo, ${cut("0.9")} AS _hi FROM r GROUP BY g) " +
        s"SELECT s.g, CAST(SUM(CAST($keptS AS DECIMAL(38,4))) AS DOUBLE) / COUNT($keptS) AS x_tmean, " +
        s"COUNT($keptS) AS n_kept, COUNT(s.x) AS n FROM src s JOIN b ON s.g = b.g GROUP BY s.g"
    },
    "q_quantile_profile_sketch" -> {
      val src = "SELECT CAST(i % 4 AS BIGINT) AS g, CAST((i * 37) % 101 AS DOUBLE) AS x FROM range(0, 240) t(i)"
      val branches = Seq(0.25, 0.5, 0.95).map { p =>
        s"SELECT g, 'x' AS col_name, CAST('$p' AS DOUBLE) AS prob, " +
          s"MIN(CASE WHEN CAST(rn AS DOUBLE) >= CAST('$p' AS DOUBLE) * CAST(n AS DOUBLE) THEN x END) AS value, " +
          "COUNT(x) AS n FROM r GROUP BY g"
      }
      s"WITH src AS ($src), " +
        "r AS (SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn, " +
        "COUNT(*) OVER (PARTITION BY g) AS n FROM src) " +
        branches.mkString(" UNION ALL ")
    },
    "q_agreement" -> {
      // agreementProfile replayed: marginal/diagonal counts on the class
      // frame, 1e-12 fixed-point chance-agreement terms, exact closings
      val vb = "CAST(CASE WHEN c_custkey % 7 = 0 THEN 'BUILDING' ELSE c_mktsegment END AS VARCHAR)"
      val src = "SELECT CAST(c_mktsegment AS VARCHAR) AS va, " + vb + " AS vb " +
        s"FROM customer WHERE c_mktsegment IS NOT NULL AND $vb IS NOT NULL"
      val peTerm = "CAST(FLOOR((CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000000000 + 0.5) AS BIGINT)"
      val po = "CAST(_agree AS DOUBLE) / CAST(n AS DOUBLE)"
      s"WITH src AS ($src), " +
        "cl AS (SELECT label, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b, " +
        "COALESCE(n_agree, 0) AS n_agree FROM " +
        "(SELECT va AS label, COUNT(*) AS n_a FROM src GROUP BY 1) " +
        "FULL JOIN (SELECT vb AS label, COUNT(*) AS n_b FROM src GROUP BY 1) USING (label) " +
        "LEFT JOIN (SELECT va AS label, COUNT(*) AS n_agree FROM src WHERE va = vb GROUP BY 1) USING (label)), " +
        "t AS (SELECT COUNT(*) AS n FROM src), " +
        s"st AS (SELECT CAST(SUM(n_agree) AS BIGINT) AS _agree, " +
        s"CAST(SUM($peTerm) AS DOUBLE) / 1000000000000 AS _pe FROM cl CROSS JOIN t) " +
        s"SELECT label, n_a, n_b, n_agree, $po AS po, _pe AS pe, " +
        s"CASE WHEN 1.0 - _pe = 0.0 THEN NULL ELSE ($po - _pe) / (1.0 - _pe) END AS kappa, n " +
        "FROM cl CROSS JOIN t CROSS JOIN st"
    },
    "q_agreement_grouped" -> {
      // the grouped face: every join/count/closing keyed by (seg, label)
      // or seg — same 1e-12 fixed-point pe regime as q_agreement
      val vb = "CAST(CASE WHEN c_custkey % 7 = 0 THEN 'BUILDING' ELSE c_mktsegment END AS VARCHAR)"
      val src = "SELECT CASE WHEN c_custkey % 2 = 0 THEN 'e' ELSE 'o' END AS seg, " +
        s"CAST(c_mktsegment AS VARCHAR) AS va, $vb AS vb " +
        s"FROM customer WHERE c_mktsegment IS NOT NULL AND $vb IS NOT NULL"
      val peTerm = "CAST(FLOOR((CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000000000 + 0.5) AS BIGINT)"
      val po = "CAST(_agree AS DOUBLE) / CAST(n AS DOUBLE)"
      s"WITH src AS ($src), " +
        "cl AS (SELECT seg, label, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b, " +
        "COALESCE(n_agree, 0) AS n_agree FROM " +
        "(SELECT seg, va AS label, COUNT(*) AS n_a FROM src GROUP BY 1, 2) " +
        "FULL JOIN (SELECT seg, vb AS label, COUNT(*) AS n_b FROM src GROUP BY 1, 2) USING (seg, label) " +
        "LEFT JOIN (SELECT seg, va AS label, COUNT(*) AS n_agree FROM src WHERE va = vb GROUP BY 1, 2) USING (seg, label)), " +
        "t AS (SELECT seg, COUNT(*) AS n FROM src GROUP BY 1), " +
        s"st AS (SELECT seg, CAST(SUM(n_agree) AS BIGINT) AS _agree, " +
        s"CAST(SUM($peTerm) AS DOUBLE) / 1000000000000 AS _pe FROM cl JOIN t USING (seg) GROUP BY 1) " +
        s"SELECT seg, label, n_a, n_b, n_agree, $po AS po, _pe AS pe, " +
        s"CASE WHEN 1.0 - _pe = 0.0 THEN NULL ELSE ($po - _pe) / (1.0 - _pe) END AS kappa, n " +
        "FROM cl JOIN t USING (seg) JOIN st USING (seg)"
    },
    "q_cross_table" -> {
      // the op's SQL face replayed over customer with DuckDB spellings
      val (a, b) = ("c_mktsegment", "c_nationkey")
      val w = s"$a IS NOT NULL AND $b IS NOT NULL"
      val eS = "CAST(_ra AS DOUBLE) * CAST(_cb AS DOUBLE) / CAST(_n AS DOUBLE)"
      val termS = s"(CAST(COALESCE(_o, 0) AS DOUBLE) - $eS) * (CAST(COALESCE(_o, 0) AS DOUBLE) - $eS) / ($eS)"
      val gridS =
        s"(SELECT CAST($a AS VARCHAR) AS value_a, COUNT(*) AS _ra FROM customer WHERE $w GROUP BY 1) " +
          s"CROSS JOIN (SELECT COUNT(*) AS _n, COUNT(DISTINCT CAST($a AS VARCHAR)) AS _ka, " +
          s"COUNT(DISTINCT CAST($b AS VARCHAR)) AS _kb FROM customer WHERE $w) " +
          s"JOIN (SELECT CAST($b AS VARCHAR) AS value_b, COUNT(*) AS _cb FROM customer WHERE $w GROUP BY 1) ON TRUE " +
          s"LEFT JOIN (SELECT CAST($a AS VARCHAR) AS value_a, CAST($b AS VARCHAR) AS value_b, COUNT(*) AS _o " +
          s"FROM customer WHERE $w GROUP BY 1, 2) USING (value_a, value_b)"
      s"SELECT value_a, value_b, CAST(COALESCE(_o, 0) AS BIGINT) AS cnt, $eS AS expected, " +
        s"$termS AS chi2_term, chi2_total, CAST((_ka - 1) * (_kb - 1) AS BIGINT) AS dof FROM $gridS " +
        s"CROSS JOIN (SELECT CAST(SUM(CAST(FLOOR(($termS) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS chi2_total FROM $gridS)"
    },
    "q_dataset_splits" -> {
      // boundary literals via the SAME scanLeft running sum the op uses,
      // so both engines parse the identical double
      val cums = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail.init
      val cases = cums.zip(Seq("train", "val")).map { case (cm, nm) =>
        s"WHEN _d_rn <= FLOOR(CAST('$cm' AS DOUBLE) * _d_cnt) THEN '$nm'"
      }.mkString(" ")
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, " +
        s"CASE $cases ELSE 'test' END AS split FROM (SELECT *, " +
        "ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey ASC NULLS FIRST) AS _d_rn, " +
        "COUNT(*) OVER (PARTITION BY o_orderstatus) AS _d_cnt FROM orders)"
    },
    "q_asof_join" ->
      ("WITH r AS (SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS o_totalprice_max " +
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey, o_orderdate) " +
        "SELECT l.*, r.o_totalprice_max FROM orders l ASOF LEFT JOIN r " +
        "ON l.o_custkey = r.o_custkey AND l.o_orderdate >= r.o_orderdate"),
    "q_asof_join_fwd" ->
      ("WITH r AS (SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS o_totalprice_max " +
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey, o_orderdate) " +
        "SELECT l.*, r.o_totalprice_max FROM orders l ASOF LEFT JOIN r " +
        "ON l.o_custkey = r.o_custkey AND l.o_orderdate <= r.o_orderdate"),
    // nearest = the closer of DuckDB's two ASOF directions per left row,
    // ties to backward (the pandas merge_asof rule); o_orderkey is unique
    // so the two candidate frames join back 1:1
    "q_asof_join_nearest" ->
      ("WITH r AS (SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS o_totalprice_max " +
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey, o_orderdate), " +
        "b AS (SELECT l.o_orderkey AS k, r.o_orderdate AS bt, r.o_totalprice_max AS bv " +
        "FROM orders l ASOF LEFT JOIN r ON l.o_custkey = r.o_custkey AND l.o_orderdate >= r.o_orderdate), " +
        "f AS (SELECT l.o_orderkey AS k, r.o_orderdate AS ft, r.o_totalprice_max AS fv " +
        "FROM orders l ASOF LEFT JOIN r ON l.o_custkey = r.o_custkey AND l.o_orderdate <= r.o_orderdate) " +
        "SELECT l.*, CASE WHEN bt IS NULL THEN fv WHEN ft IS NULL THEN bv " +
        "WHEN l.o_orderdate - bt <= ft - l.o_orderdate THEN bv ELSE fv END AS o_totalprice_max " +
        "FROM orders l JOIN b ON l.o_orderkey = b.k JOIN f ON l.o_orderkey = f.k"),
    // tolerance face: the backward ASOF match nulls out beyond 30 days
    "q_asof_join_tolerance" ->
      ("WITH r AS (SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS o_totalprice_max " +
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey, o_orderdate) " +
        "SELECT l.*, CASE WHEN r.o_orderdate IS NOT NULL AND " +
        "l.o_orderdate - r.o_orderdate <= INTERVAL 30 DAY THEN r.o_totalprice_max END " +
        "AS o_totalprice_max FROM orders l ASOF LEFT JOIN r " +
        "ON l.o_custkey = r.o_custkey AND l.o_orderdate >= r.o_orderdate"),
    // fingerprint-grain overlap census, all integer outputs
    "q_corpus_overlap" -> {
      val fp = raw"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"
      s"WITH lf AS (SELECT DISTINCT $fp AS fp FROM documents WHERE text IS NOT NULL), " +
        s"rf AS (SELECT DISTINCT $fp AS fp FROM documents WHERE doc_id < 250 AND text IS NOT NULL), " +
        "l AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_left FROM lf), " +
        "r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_right FROM rf), " +
        "c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common FROM lf WHERE fp IN (SELECT fp FROM rf)) " +
        "SELECT n_left, n_right, n_common, " +
        "CAST(CASE WHEN n_left + n_right - n_common > 0 THEN " +
        "n_common * 1000000 // (n_left + n_right - n_common) ELSE 0 END AS BIGINT) AS jaccard_fp " +
        "FROM l CROSS JOIN r CROSS JOIN c"
    },
    // per-lang containment vs the reference slice: distinct (lang, fp)
    // pairs left-joined to the reference fingerprints, one group close
    "q_corpus_overlap_grouped" -> {
      val fp = raw"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"
      s"SELECT lang, n_left, n_common, " +
        "CAST(CASE WHEN n_left > 0 THEN n_common * 1000000 // n_left ELSE 0 END AS BIGINT) AS contained_fp " +
        "FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_left, " +
        "CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_common FROM (" +
        s"SELECT DISTINCT lang, $fp AS fp FROM documents WHERE text IS NOT NULL) l LEFT JOIN (" +
        s"SELECT DISTINCT $fp AS fp, 1 AS hit FROM documents " +
        "WHERE doc_id < 250 AND text IS NOT NULL) r ON l.fp = r.fp GROUP BY lang)"
    },
    "q_range_join" ->
      ("WITH iv AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS o_orderdate_month, " +
        "COUNT(o_orderkey) AS o_orderkey_count FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1), " +
        "iv2 AS (SELECT *, o_orderdate_month + INTERVAL 10 DAY AS o_orderdate_month_add_10_day FROM iv) " +
        "SELECT l.*, iv2.o_orderdate_month, iv2.o_orderkey_count, iv2.o_orderdate_month_add_10_day " +
        "FROM lineitem l JOIN iv2 ON l.l_shipdate >= iv2.o_orderdate_month " +
        "AND l.l_shipdate < iv2.o_orderdate_month_add_10_day"),
    "q_join_salted" ->
      "SELECT l.*, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority FROM lineitem l INNER JOIN orders o ON l.l_orderkey = o.o_orderkey",
    // the salt is an implementation detail: the auto-salted join must
    // equal the plain join exactly
    "q_join_salted_auto" ->
      "SELECT l.*, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority FROM lineitem l INNER JOIN orders o ON l.l_orderkey = o.o_orderkey",
    // SCD2 merge replayed branch by branch: closed pass-through; current
    // rows kept / closed-missing / closed-changed; new versions for
    // changed keys and for keys with no current row (new + re-appearing)
    "q_scd2_merge" ->
      ("WITH sup AS (SELECT s_suppkey, s_name, s_acctbal FROM supplier), " +
        "hist AS (SELECT s_suppkey, s_name, s_acctbal, DATE '1990-01-01' AS valid_from, " +
        "CAST(NULL AS DATE) AS valid_to, TRUE AS is_current FROM sup WHERE s_suppkey % 13 <> 0 " +
        "UNION ALL SELECT s_suppkey, s_name, s_acctbal - 50.0, DATE '1985-01-01', DATE '1990-01-01', FALSE " +
        "FROM sup WHERE s_suppkey % 7 = 0), " +
        "snap AS (SELECT s_suppkey, s_name, CASE WHEN s_suppkey % 10 = 0 THEN s_acctbal + 100.0 " +
        "ELSE s_acctbal END AS s_acctbal FROM sup WHERE s_suppkey % 11 <> 0), " +
        "same AS (SELECT l.s_suppkey FROM hist l JOIN snap r ON l.s_suppkey = r.s_suppkey " +
        "WHERE l.is_current AND l.s_name IS NOT DISTINCT FROM r.s_name " +
        "AND l.s_acctbal IS NOT DISTINCT FROM r.s_acctbal) " +
        "SELECT * FROM hist WHERE NOT COALESCE(is_current, FALSE) " +
        "UNION ALL SELECT l.s_suppkey, l.s_name, l.s_acctbal, l.valid_from, " +
        "CASE WHEN r.s_suppkey IS NULL OR s.s_suppkey IS NULL THEN DATE '1995-06-01' ELSE l.valid_to END, " +
        "CASE WHEN r.s_suppkey IS NULL OR s.s_suppkey IS NULL THEN FALSE ELSE l.is_current END " +
        "FROM hist l LEFT JOIN snap r ON l.s_suppkey = r.s_suppkey " +
        "LEFT JOIN same s ON l.s_suppkey = s.s_suppkey WHERE l.is_current " +
        "UNION ALL SELECT r.s_suppkey, r.s_name, r.s_acctbal, DATE '1995-06-01', CAST(NULL AS DATE), TRUE " +
        "FROM hist l JOIN snap r ON l.s_suppkey = r.s_suppkey " +
        "WHERE l.is_current AND l.s_suppkey NOT IN (SELECT s_suppkey FROM same) " +
        "UNION ALL SELECT r.s_suppkey, r.s_name, r.s_acctbal, DATE '1995-06-01', CAST(NULL AS DATE), TRUE " +
        "FROM snap r LEFT JOIN (SELECT * FROM hist WHERE is_current) l ON r.s_suppkey = l.s_suppkey " +
        "WHERE l.s_suppkey IS NULL"),
    "q_diff_tables" ->
      ("WITH o AS (SELECT * FROM orders WHERE o_orderkey % 3 != 0), " +
        "n AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
        "CASE WHEN o_orderkey % 7 = 0 THEN '9-DIFF' ELSE o_orderpriority END AS o_orderpriority " +
        "FROM orders WHERE o_orderkey % 5 != 0) " +
        "SELECT o_orderkey, change_type FROM (" +
        "SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey, " +
        "CASE WHEN o.o_orderkey IS NULL THEN 'added' " +
        "WHEN n.o_orderkey IS NULL THEN 'removed' " +
        "WHEN o.o_custkey IS DISTINCT FROM n.o_custkey " +
        "OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus " +
        "OR o.o_totalprice IS DISTINCT FROM n.o_totalprice " +
        "OR o.o_orderdate IS DISTINCT FROM n.o_orderdate " +
        "OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority " +
        "THEN 'changed' END AS change_type " +
        "FROM o FULL OUTER JOIN n ON o.o_orderkey IS NOT DISTINCT FROM n.o_orderkey) " +
        "WHERE change_type IS NOT NULL"),
    "q_sample_hash" ->
      (s"SELECT * FROM lineitem WHERE md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), " +
        s"CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR))) < '${graft.ops.JoinOps.hashThreshold(0.1)}'"),
    "q_sample_weighted" ->
      ("SELECT * FROM (SELECT *, l_quantity / 50.0 AS w FROM lineitem) " +
        "WHERE w IS NOT NULL AND NOT isnan(CAST(w AS DOUBLE)) " +
        "AND md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), " +
        "CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR))) < " +
        "printf('%015x', LEAST(CAST(FLOOR(LEAST(GREATEST(CAST(w AS DOUBLE), 0.0), 1.0) * POW(16.0, 15)) AS BIGINT), " +
        "1152921504606846975))"),
    "q_sample_group_k" ->
      ("SELECT * EXCLUDE (_rn) FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag " +
        "ORDER BY md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR), " +
        "CAST(l_partkey AS VARCHAR))) ASC, concat_ws('|', CAST(l_orderkey AS VARCHAR), " +
        "CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR)) ASC) AS _rn FROM lineitem) " +
        "WHERE _rn <= 200"),
    "q_sample_group_top_k" ->
      ("SELECT * EXCLUDE (_rn) FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag " +
        "ORDER BY CAST(l_extendedprice AS DOUBLE) DESC, concat_ws('|', CAST(l_orderkey AS VARCHAR), " +
        "CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR)) ASC) AS _rn FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL " +
        "AND NOT isnan(CAST(l_extendedprice AS DOUBLE))) WHERE _rn <= 3"),
    // the aggregate face keeps the identical set: k smallest by
    // (md5(key), key), key unique per lineitem row
    "q_sample_group_k_agg" ->
      ("SELECT * EXCLUDE (_rn) FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag " +
        "ORDER BY md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR), " +
        "CAST(l_partkey AS VARCHAR))) ASC, concat_ws('|', CAST(l_orderkey AS VARCHAR), " +
        "CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR)) ASC) AS _rn FROM lineitem) " +
        "WHERE _rn <= 200"),
    // capacity (64) exceeds distinct sources, so the sketch counts are
    // exact and the top-k equals the plain GROUP-BY-count top-k
    "q_freq_items" ->
      ("WITH cnt AS (SELECT lang, source AS item, COUNT(*) AS est FROM documents GROUP BY 1, 2), " +
        "r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY est DESC, item ASC) AS INTEGER) AS rank FROM cnt) " +
        "SELECT lang, item, est, rank FROM r WHERE rank <= 3"),
    "q_rank_qualify" ->
      "SELECT * FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn FROM orders) WHERE rn <= 3",
    "q_filter_quantile" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
        "FROM (SELECT *, CUME_DIST() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC) " +
        "AS _graft_cd FROM orders WHERE o_totalprice IS NOT NULL " +
        "AND NOT isnan(CAST(o_totalprice AS DOUBLE))) WHERE _graft_cd > 0.75"),
    "q_filter_quantile_global" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
        "FROM (SELECT *, CUME_DIST() OVER (ORDER BY o_totalprice ASC) " +
        "AS _graft_cd FROM orders WHERE o_totalprice IS NOT NULL " +
        "AND NOT isnan(CAST(o_totalprice AS DOUBLE))) WHERE _graft_cd > 0.9"),
    "q_sample_stratified" ->
      (s"SELECT * FROM lineitem WHERE md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), " +
        s"CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR))) < " +
        s"CASE WHEN CAST(l_returnflag AS VARCHAR) = 'A' THEN '${graft.ops.JoinOps.hashThreshold(0.05)}' " +
        s"WHEN CAST(l_returnflag AS VARCHAR) = 'N' THEN '${graft.ops.JoinOps.hashThreshold(0.2)}' " +
        s"WHEN CAST(l_returnflag AS VARCHAR) = 'R' THEN '${graft.ops.JoinOps.hashThreshold(0.5)}' " +
        s"ELSE '${graft.ops.JoinOps.hashThreshold(0.0)}' END"),
    "q_sample" ->
      (s"SELECT * FROM lineitem WHERE md5(concat_ws('|', CAST(l_orderkey AS VARCHAR), " +
        s"CAST(l_suppkey AS VARCHAR))) < '${graft.ops.JoinOps.hashThreshold(0.3)}'"),
    // exact-regime sketch estimate: l_quantity has ≤50 distinct values at
    // any sf, inside the DataSketches coupon regime, so COUNT DISTINCT is
    // the exact expected estimate
    "q_distinct_sketch" ->
      ("SELECT l_returnflag, COUNT(DISTINCT l_quantity) AS l_quantity_sketch_estimate " +
        "FROM lineitem GROUP BY l_returnflag"),
    // literal pins over the fixed numeric fixture (240 rows, 4 groups of
    // 60): p50/p95 are the exact order statistics — KLL (q_percentile_
    // sketch) and percentile_approx (q_approx_agg) agree on them from two
    // independent implementations; the approx-distinct values are HLL++'s
    // deterministic linear-counting read-outs of each group's ~55-60
    // distinct values
    "q_percentile_sketch" ->
      ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(48.0 AS DOUBLE), CAST(95.0 AS DOUBLE)), " +
        "(1, 49.0, 94.0), (2, 49.0, 94.0), (3, 50.0, 95.0)) " +
        "AS t(g, x_qsketch_p50, x_qsketch_p95)"),
    "q_approx_agg" ->
      ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(58 AS BIGINT), CAST(48.0 AS DOUBLE), " +
        "CAST(95.0 AS DOUBLE), CAST(60 AS BIGINT)), " +
        "(1, 62, 49.0, 94.0, 60), (2, 57, 49.0, 94.0, 60), (3, 62, 50.0, 95.0, 60)) " +
        "AS t(g, x_approx_distinct, x_approx_p50, x_approx_p95, x_count)")
  )

  /** DuckDB oracles for the extension queries. The hash-kernel queries
    * (rolling fingerprint, minhash, simhash, hamming top-k) run on FIXED
    * fixture corpora ([[docFixtures]]/[[embFixtures]]), so their outputs
    * are pure functions of pinned input — the oracles are the literal
    * expected rows (q_multimodal_real pattern). The remaining sf-scaled
    * approximate families (LSH/IVF ANN, incremental minhash probe) stay
    * rows-only here and numerically gated in QuantGateSpec.
    */
  /** The q_canonicalize_urls oracle: recomputes the canonicalization
    * regexp chain in DuckDB (RE2) over the planted VALUES fixture —
    * shared with q_crawl_dedup, which wraps it in the keep-lowest-id
    * window.
    */
  private def urlCanonOracle: String = {
    val pref = raw"regexp_extract(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*')"
    val low = s"concat(lower($pref), substring(trim(url), length($pref) + 1))"
    val chain = Seq(
      raw"#.*" -> "",
      raw"^(http://[^/?#:]*):80([/?#].*)?$$" -> raw"\1\2",
      raw"^(https://[^/?#:]*):443([/?#].*)?$$" -> raw"\1\2",
      raw"&(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*" -> "",
      raw"\?(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*&?" -> "?",
      raw"\?$$" -> ""
    ).foldLeft(low) { case (acc, (p, r)) =>
      s"regexp_replace($acc, '$p', '$r', 'g')"
    }
    // DuckDB concat treats NULL args as '' (Spark null-propagates):
    // gate the whole chain on a null url explicitly
    "SELECT url_id, url, CASE WHEN url IS NULL THEN NULL ELSE " + chain +
      " END AS url_canon FROM (VALUES " +
      "(CAST(1 AS BIGINT), 'HTTP://Example.COM:80/Path/Page?a=1&utm_source=feed#frag'), " +
      "(2, 'https://Shop.Example.com:443/'), " +
      "(3, 'https://example.com:8443/x'), " +
      "(4, 'http://example.com/?utm_campaign=x&utm_medium=y'), " +
      "(5, 'http://example.com/a?fbclid=abc&id=9'), " +
      "(6, '  http://example.com/a  '), " +
      "(7, '/relative/path?gclid=z#top'), " +
      "(8, 'not a url'), " +
      "(9, NULL), " +
      "(10, 'FTP://Files.Example.com/MixedCasePath'), " +
      "(11, 'http://example.com:80/a#dup')) AS t(url_id, url)"
  }

  private def extOracleSql: Map[String, String] = {
    val toks = raw"string_split_regex(trim(lower(text)), '\s+')"
    // first 8 hex digits of an md5 column parsed digit-by-digit (the
    // shard/SelectionOps arithmetic — no conv() portability trap); `h`
    // must be a simple column reference (it is repeated 16 times)
    def hex8S(h: String) = (1 to 8).map { i =>
      s"(CAST(ascii(substring($h, $i, 1)) AS BIGINT) - " +
        s"CASE WHEN substring($h, $i, 1) >= 'a' THEN 87 ELSE 48 END)"
    }.reduceLeft((acc, d) => s"($acc * 16 + $d)")
    // DSIR uni+bigram bag of the token list `t` (matches
    // SelectionOps.uniBi: unigrams ++ space-joined adjacent pairs)
    val uniBiS = "list_concat(t, list_transform(range(1, len(t)), " +
      "i -> array_to_string(list_slice(t, i, i + 1), ' ')))"
    // the shared DSIR model pipeline at B=1024 (target = lang 'en'):
    // gram → md5 → hex8 → bucket, per-side counts, add-1 smoothed
    // fixed-point log ratio on a full 0..B-1 spine
    val dsirModelCtes =
      s"tk AS (SELECT $toks AS t, lang FROM documents), " +
        s"ug AS (SELECT unnest($uniBiS) AS g, lang FROM tk), " +
        "hb AS (SELECT md5(g) AS h, lang FROM ug), " +
        s"bk AS (SELECT ${hex8S("h")} % 1024 AS bucket, lang FROM hb), " +
        "rc AS (SELECT bucket, COUNT(*) AS nr FROM bk GROUP BY 1), " +
        "tc AS (SELECT bucket, COUNT(*) AS nt FROM bk WHERE lang = 'en' GROUP BY 1), " +
        "sp AS (SELECT unnest(range(0, 1024)) AS bucket), " +
        "j AS (SELECT sp.bucket, COALESCE(nt, 0) AS n_target, COALESCE(nr, 0) AS n_raw " +
        "FROM sp LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)), " +
        "tot AS (SELECT SUM(n_target) AS ntt, SUM(n_raw) AS nrt FROM j), " +
        "model AS (SELECT bucket, n_target, n_raw, " +
        "CAST(FLOOR(ln((CAST(n_target AS DOUBLE) + 1.0) / (CAST(ntt AS DOUBLE) + 1024.0)) * 1e6 + 0.5) AS BIGINT) - " +
        "CAST(FLOOR(ln((CAST(n_raw AS DOUBLE) + 1.0) / (CAST(nrt AS DOUBLE) + 1024.0)) * 1e6 + 0.5) AS BIGINT) AS w_fp " +
        "FROM j, tot)"
    // CCNet-style hashed-LM fit replayed (SelectionOps.lmModel): gram →
    // bucket exactly as the DSIR CTEs, counts over the clean lang='en'
    // slice only, add-1 smoothed quantized log-probs
    val lmModelCtes =
      s"ltk AS (SELECT $toks AS t FROM documents WHERE lang = 'en'), " +
        s"lug AS (SELECT unnest($uniBiS) AS g FROM ltk), " +
        "lhb AS (SELECT md5(g) AS h FROM lug), " +
        s"lbk AS (SELECT ${hex8S("h")} % 1024 AS bucket FROM lhb), " +
        "lbc AS (SELECT bucket, COUNT(*) AS n FROM lbk GROUP BY 1), " +
        "lsp AS (SELECT unnest(range(0, 1024)) AS bucket), " +
        "lj AS (SELECT lsp.bucket, COALESCE(n, 0) AS n FROM lsp LEFT JOIN lbc USING (bucket)), " +
        "ltot AS (SELECT SUM(n) AS nt FROM lj), " +
        "lmodel AS (SELECT bucket, n, " +
        "CAST(FLOOR(ln((CAST(n AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + 1024.0)) * 1e6 + 0.5) AS BIGINT) AS lp_fp " +
        "FROM lj, ltot)"
    // feature_relevance branch replay (one per feature): the
    // mutualInformation closing with the label as side B, renamed to the
    // op's output contract
    def frBranchS(fexpr: String, name: String): String = {
      val joint = s"SELECT $fexpr AS v, CAST(lang AS VARCHAR) AS l, COUNT(*) AS cfl " +
        s"FROM documents WHERE ($fexpr) IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2"
      def sln(cnt: String) =
        s"SUM(CAST(CAST(FLOOR(CAST($cnt AS DOUBLE) * LN(CAST($cnt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0)))"
      def hS(s0: String) =
        s"FLOOR(LN(CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 - " +
          s"(CAST($s0 AS DOUBLE) / 1000000) / CAST(n AS DOUBLE)"
      s"SELECT '$name' AS col_name, n, n_values, n_labels, h_feature, h_label, mi, " +
        s"CASE WHEN h_label > 0 THEN mi / h_label END AS u FROM (" +
        s"SELECT n, n_values, n_labels, h_feature, h_label, " +
        s"(h_feature + h_label) - h_fl AS mi FROM (" +
        s"SELECT CAST(n AS BIGINT) AS n, n_values, n_labels, ${hS("slnf")} AS h_feature, " +
        s"${hS("slnl")} AS h_label, ${hS("slnfl")} AS h_fl FROM " +
        s"(SELECT SUM(cfl) AS n, ${sln("cfl")} AS slnfl FROM ($joint)) " +
        s"CROSS JOIN (SELECT COUNT(*) AS n_values, ${sln("cm")} AS slnf FROM " +
        s"(SELECT v, SUM(cfl) AS cm FROM ($joint) GROUP BY v)) " +
        s"CROSS JOIN (SELECT COUNT(*) AS n_labels, ${sln("cm")} AS slnl FROM " +
        s"(SELECT l, SUM(cfl) AS cm FROM ($joint) GROUP BY l))))"
    }
    val stop = "['the','a','an','and','of','to','in','is','it','that']"
    val nchars = "CAST(LENGTH(text) AS DOUBLE)"
    val ntok = s"CAST(len($toks) AS DOUBLE)"
    val npunct = raw"CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)"
    val nstop = s"CAST(len(list_filter($toks, t -> list_contains($stop, t))) AS DOUBLE)"
    val markers = Map(
      "de" -> "['der','die','das','und','ist','ein','nicht','mit']",
      "en" -> "['the','and','of','to','is','in','a','that']",
      "es" -> "['el','los','las','de','y','un','una','es','que']",
      "fr" -> "['le','la','les','et','est','une','des','que']",
      "zh" -> "['的','是','了','在','我','有']")
    def score(lg: String) =
      s"CAST(len(list_filter($toks, t -> list_contains(${markers(lg)}, t))) AS INTEGER)"
    val blen = "octet_length(encode(text))"
    val evT = "make_timestamp(epoch_ns(ts) // 1000)"
    // exact-decimal dot products / norms over unnested embedding pairs
    val dotSql = "CAST(SUM(CAST(round(CAST(qx AS DOUBLE) * CAST(cx AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12"
    val normCte = "n AS (SELECT vec_id, SQRT(CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id)"
    def ngrams(n: Int) =
      raw"list_distinct(CASE WHEN len($toks) < $n THEN [array_to_string($toks, ' ')] ELSE list_transform(range(1, len($toks) - ${n - 2}), i -> array_to_string(list_slice($toks, i, i + ${n - 1}), ' ')) END)"
    // positional 8-token windows over the normalized token stream (DuckDB
    // 1-based slice → 0-based pos), shared by the span-dedup oracles
    val winCte =
      s"t AS (SELECT doc_id, $toks AS tk FROM documents), " +
        "w AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, " +
        "array_to_string(list_slice(tk, i, i + 7), ' ') AS win " +
        "FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i FROM t WHERE len(tk) >= 8))"
    def ngramJaccardSql(n: Int, threshold: Double) =
      s"WITH w AS (SELECT doc_id, ${ngrams(n)} AS ws FROM documents) SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) AS jaccard FROM w a JOIN w b ON a.doc_id < b.doc_id WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) >= $threshold"
    // UniMax water-filling census (wide intermediates in HUGEINT — the
    // Spark face uses DECIMAL(38,0); outputs CAST to BIGINT on both sides)
    def umAllocSql(b: Long, e: Int) =
      "SELECT stratum, CAST(tokens AS BIGINT) AS tokens, CAST(cap AS BIGINT) AS cap, " +
        "CAST(alloc AS BIGINT) AS alloc, " +
        "CAST((CAST(alloc AS HUGEINT) * 1000000) // tokens AS BIGINT) AS epochs_fp, " +
        "CAST(LEAST((CAST(alloc AS HUGEINT) * 1000000) // tokens, 1000000) AS BIGINT) AS keep_fp FROM (" +
        "SELECT stratum, tokens, cap, CASE WHEN _test THEN cap ELSE _q + " +
        "(CASE WHEN _seq - _m <= _r THEN 1 ELSE 0 END) END AS alloc FROM (" +
        "SELECT *, CASE WHEN _rcnt > 0 THEN _rbud // _rcnt ELSE 0 END AS _q, " +
        "CASE WHEN _rcnt > 0 THEN _rbud % _rcnt ELSE 0 END AS _r FROM (" +
        s"SELECT *, _k - _m AS _rcnt, $b - _cumm AS _rbud FROM (" +
        "SELECT *, SUM(CASE WHEN _test THEN 1 ELSE 0 END) OVER () AS _m, " +
        "COALESCE(SUM(CASE WHEN _test THEN cap END) OVER (), 0) AS _cumm FROM (" +
        s"SELECT *, CAST(cap AS HUGEINT) * (_k - _seq + 1) + (_cum - cap) <= $b AS _test FROM (" +
        "SELECT *, COUNT(*) OVER () AS _k, " +
        "ROW_NUMBER() OVER (ORDER BY cap ASC, stratum ASC) AS _seq, " +
        "SUM(cap) OVER (ORDER BY cap ASC, stratum ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum FROM (" +
        "SELECT CAST(lang AS VARCHAR) AS stratum, SUM(CAST(n_chars AS BIGINT)) AS tokens, " +
        s"SUM(CAST(n_chars AS BIGINT)) * $e AS cap FROM documents WHERE lang IS NOT NULL " +
        "GROUP BY 1 HAVING SUM(CAST(n_chars AS BIGINT)) > 0)))))))"
    Map(
      "q_text_tokens" ->
        s"SELECT *, CAST(len($toks) AS INTEGER) AS n_tokens, CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9${raw"\s"}]')) AS INTEGER) AS n_bpeish FROM documents",
      "q_text_quality" ->
        s"SELECT *, CAST(len($toks) AS INTEGER) AS n_tokens, $npunct / $nchars AS punct_ratio, $nstop / $ntok AS stopword_ratio, CAST(LENGTH(regexp_replace(text, '${raw"\s"}+', '', 'g')) AS DOUBLE) / $ntok AS avg_token_len, LEAST($ntok / 20.0, 1.0) * (1.0 - $npunct / $nchars) AS quality FROM documents",
      "q_gopher_rules" -> {
        val wc = raw"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len($toks) AS BIGINT) END"
        def overW(num: String) = s"CASE WHEN $wc > 0 THEN CAST($num AS DOUBLE) / $wc END"
        val meanLen = overW(raw"length(regexp_replace(text, '\s+', '', 'g'))")
        def occ(pat: String, w: Int) =
          s"CAST((length(text) - length(regexp_replace(text, '$pat', '', 'g'))) / $w AS BIGINT)"
        val sym = s"${occ("#", 1)} + ${occ("…", 1)} + ${occ(raw"\.\.\.", 3)}"
        val nLines = raw"(1 + CAST(length(text) - length(regexp_replace(text, '\n', '', 'g')) AS BIGINT))"
        val bullet = raw"CAST(len(regexp_extract_all(text, '(?m)^[ \t]*[-*•]')) AS DOUBLE) / $nLines"
        val ell = raw"CAST(len(regexp_extract_all(text, '(?m)(\.\.\.|…)$$')) AS DOUBLE) / $nLines"
        val alpha = overW(s"len(list_filter($toks, w -> regexp_matches(w, '[a-z]')))")
        val padded = raw"concat(' ', regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')"
        val stopH = Seq("the", "be", "to", "of", "and", "that", "have", "with")
          .map(w => s"(CASE WHEN contains($padded, ' $w ') THEN 1 ELSE 0 END)").mkString(" + ")
        val keep = s"COALESCE($wc BETWEEN 50 AND 100000 AND " +
          s"$meanLen BETWEEN CAST('3.0' AS DOUBLE) AND CAST('10.0' AS DOUBLE) AND " +
          s"${overW(sym)} <= CAST('0.1' AS DOUBLE) AND $bullet <= CAST('0.9' AS DOUBLE) AND " +
          s"$ell <= CAST('0.3' AS DOUBLE) AND $alpha >= CAST('0.8' AS DOUBLE) AND " +
          s"$stopH >= 2, FALSE)"
        s"SELECT *, $wc AS gr_word_count, $meanLen AS gr_mean_word_len, " +
          s"${overW(sym)} AS gr_symbol_ratio, $bullet AS gr_bullet_ratio, " +
          s"$ell AS gr_ellipsis_ratio, $alpha AS gr_alpha_ratio, " +
          s"CAST($stopH AS BIGINT) AS gr_stop_hits, $keep AS gr_keep FROM documents"
      },
      "q_text_langid" ->
        s"SELECT *, ${score("de")} AS score_de, ${score("en")} AS score_en, ${score("es")} AS score_es, ${score("fr")} AS score_fr, ${score("zh")} AS score_zh, CASE WHEN ${score("de")} >= ${score("en")} AND ${score("de")} >= ${score("es")} AND ${score("de")} >= ${score("fr")} AND ${score("de")} >= ${score("zh")} THEN 'de' WHEN ${score("en")} >= ${score("es")} AND ${score("en")} >= ${score("fr")} AND ${score("en")} >= ${score("zh")} THEN 'en' WHEN ${score("es")} >= ${score("fr")} AND ${score("es")} >= ${score("zh")} THEN 'es' WHEN ${score("fr")} >= ${score("zh")} THEN 'fr' ELSE 'zh' END AS lang_pred FROM documents",
      "q_text_fingerprint" ->
        raw"SELECT *, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_fp FROM documents",
      // calibrationProfile replayed: histogram-regime binning over [0,1]
      // (score = 1 folds into the top bucket), exact-decimal score sums,
      // 1e-6 fixed-point ECE terms, null ece when no valid rows
      "q_calibration" -> {
        // ece term = exact decimal |pos − ssum| (no floating-point step,
        // no quantization — matches the op's exact-decimal closing)
        val sS = "CAST(score AS DOUBLE)"
        val termS = "CASE WHEN n > 0 THEN ABS(CAST(_pos AS DECIMAL(29,8)) - CAST(_ssumd AS DECIMAL(29,8))) " +
          "ELSE CAST(0 AS DECIMAL(30,8)) END"
        "WITH src AS (SELECT CAST(n_chars % 97 AS DOUBLE) / CAST(97 AS DOUBLE) AS score, " +
          "CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label FROM documents), " +
          s"cnt AS (SELECT LEAST(CAST(FLOOR($sS * CAST('10.0' AS DOUBLE)) AS BIGINT), 9) AS bucket, " +
          "COUNT(*) AS _nb, " +
          s"SUM(CAST($sS AS DECIMAL(38,8))) AS _ssumd, " +
          "CAST(SUM(CASE WHEN CAST(label AS DOUBLE) <> CAST('0.0' AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS _pos " +
          s"FROM src WHERE score IS NOT NULL AND NOT isnan($sS) AND " +
          s"$sS >= CAST('0.0' AS DOUBLE) AND $sS <= CAST('1.0' AS DOUBLE) AND " +
          "label IS NOT NULL AND NOT isnan(CAST(label AS DOUBLE)) GROUP BY 1), " +
          "f AS (SELECT bucket, bucket * CAST('0.1' AS DOUBLE) AS bucket_lo, " +
          "(bucket + 1) * CAST('0.1' AS DOUBLE) AS bucket_hi, " +
          "CAST(COALESCE(_nb, 0) AS BIGINT) AS n, " +
          "CASE WHEN _nb > 0 THEN CAST(_ssumd AS DOUBLE) / _nb END AS score_avg, " +
          "CASE WHEN _nb > 0 THEN CAST(_pos AS DOUBLE) / CAST(_nb AS DOUBLE) END AS pos_rate, " +
          "_ssumd, _pos " +
          "FROM (SELECT range AS bucket FROM range(0, 10)) sp LEFT JOIN cnt USING (bucket)), " +
          s"t AS (SELECT SUM($termS) AS _q, CAST(SUM(n) AS BIGINT) AS _N FROM f) " +
          "SELECT bucket, bucket_lo, bucket_hi, n, score_avg, pos_rate, " +
          "CASE WHEN _N = 0 THEN NULL ELSE CAST(_q AS DOUBLE) / CAST(_N AS DOUBLE) END AS ece " +
          "FROM f CROSS JOIN t"
      },
      // fixed left-assoc double multiply-add — IEEE-exact on both engines
      "q_logistic_score" ->
        (s"SELECT doc_id, CAST(-2.5 AS DOUBLE) + CAST(LENGTH(text) AS DOUBLE) * CAST(0.003 AS DOUBLE) + " +
          s"CAST(len($toks) AS DOUBLE) * CAST(0.02 AS DOUBLE) AS q_logit, " +
          s"(CAST(-2.5 AS DOUBLE) + CAST(LENGTH(text) AS DOUBLE) * CAST(0.003 AS DOUBLE) + " +
          s"CAST(len($toks) AS DOUBLE) * CAST(0.02 AS DOUBLE)) > 0 AS flag FROM documents"),
      "q_search_tfidf" ->
        (s"WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents), " +
          "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term), " +
          "dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term), " +
          "n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents), " +
          "ti AS (SELECT tf.doc_id, tf.term, CAST(tf.tf * n.n AS DOUBLE) / dft.df_t AS tfidf FROM tf JOIN dft USING (term) CROSS JOIN n), " +
          "qt AS (SELECT doc_id AS query_id, term, COUNT(*) AS qtf FROM tok WHERE doc_id < 3 GROUP BY 1, 2), " +
          "sc AS (SELECT query_id, ti.doc_id, CAST(SUM(CAST(qtf * tfidf AS DECIMAL(38,4))) AS DOUBLE) AS score FROM qt JOIN ti USING (term) GROUP BY 1, 2) " +
          "SELECT * FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM sc) WHERE rank <= 5"),
      // both ranked pipelines replayed (raw idf = exact rational; log idf
      // = LN over integer-derived doubles, the entropy/BM25 regime), then
      // the fixed two-term IEEE fusion sum — rank ties close by doc_id
      "q_rrf_fuse" -> {
        val common =
          s"WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents), " +
            "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term), " +
            "dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term), " +
            "n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents), " +
            "qt AS (SELECT doc_id AS query_id, term, COUNT(*) AS qtf FROM tok WHERE doc_id < 3 GROUP BY 1, 2), "
        def ranked(scoreExpr: String, tag: String) =
          s"ti_$tag AS (SELECT tf.doc_id, tf.term, $scoreExpr AS tfidf FROM tf JOIN dft USING (term) CROSS JOIN n), " +
            s"sc_$tag AS (SELECT query_id, ti_$tag.doc_id, CAST(SUM(CAST(qtf * tfidf AS DECIMAL(38,4))) AS DOUBLE) AS score FROM qt JOIN ti_$tag USING (term) GROUP BY 1, 2), " +
            s"r_$tag AS (SELECT query_id, doc_id, rank FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank FROM sc_$tag) WHERE rank <= 5)"
        val rawScore = "CAST(tf.tf * n.n AS DOUBLE) / dft.df_t"
        val logScore = "CAST(tf.tf AS DOUBLE) * LN((CAST(n.n AS DOUBLE) + 1.0) / (CAST(dft.df_t AS DOUBLE) + 1.0) + 1.0)"
        def contrib(t: String) =
          s"COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST($t.rank AS DOUBLE)), CAST(0 AS DOUBLE))"
        common + ranked(rawScore, "a") + ", " + ranked(logScore, "b") + ", " +
          "f AS (SELECT COALESCE(r_a.query_id, r_b.query_id) AS query_id, " +
          "COALESCE(r_a.doc_id, r_b.doc_id) AS doc_id, " +
          s"${contrib("r_a")} + ${contrib("r_b")} AS rrf " +
          "FROM r_a FULL OUTER JOIN r_b ON r_a.query_id = r_b.query_id AND r_a.doc_id = r_b.doc_id) " +
          "SELECT query_id, doc_id, rrf, CAST(rank AS INTEGER) AS rank FROM " +
          "(SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank FROM f) WHERE rank <= 5"
      },
      // three rankings replayed (raw idf, log idf, raw idf over the
      // even-id half corpus), then the fixed left-assoc weighted fusion
      // sum (1, 0.5, 0.25 — exact powers of two) — rank ties close by
      // doc_id; two chained FULL OUTER joins mirror the fold order
      "q_rrf_weighted" -> {
        val common =
          s"WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents), " +
            "qt AS (SELECT doc_id AS query_id, term, COUNT(*) AS qtf FROM tok WHERE doc_id < 3 GROUP BY 1, 2), "
        def ranked(tag: String, where: String, scoreKind: String) = {
          val raw = s"CAST(tf_$tag.tf * n_$tag.n AS DOUBLE) / dft_$tag.df_t"
          val logS = s"CAST(tf_$tag.tf AS DOUBLE) * LN((CAST(n_$tag.n AS DOUBLE) + 1.0) / " +
            s"(CAST(dft_$tag.df_t AS DOUBLE) + 1.0) + 1.0)"
          val score = if (scoreKind == "log") logS else raw
          s"tf_$tag AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok$where GROUP BY doc_id, term), " +
            s"dft_$tag AS (SELECT term, COUNT(*) AS df_t FROM tf_$tag GROUP BY term), " +
            s"n_$tag AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents${where.replace("tok.", "")}), " +
            s"ti_$tag AS (SELECT tf_$tag.doc_id, tf_$tag.term, $score AS tfidf " +
            s"FROM tf_$tag JOIN dft_$tag USING (term) CROSS JOIN n_$tag), " +
            s"sc_$tag AS (SELECT query_id, ti_$tag.doc_id, CAST(SUM(CAST(qtf * tfidf AS DECIMAL(38,4))) AS DOUBLE) AS score " +
            s"FROM qt JOIN ti_$tag USING (term) GROUP BY 1, 2), " +
            s"r_$tag AS (SELECT query_id, doc_id, rank FROM (SELECT *, ROW_NUMBER() OVER " +
            s"(PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank FROM sc_$tag) WHERE rank <= 5)"
        }
        def contrib(w: String, t: String) =
          s"COALESCE(CAST($w AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST($t.rank AS DOUBLE)), CAST(0 AS DOUBLE))"
        common +
          ranked("a", "", "raw") + ", " +
          ranked("b", "", "log") + ", " +
          ranked("c", " WHERE doc_id % 2 = 0", "raw") + ", " +
          "f1 AS (SELECT COALESCE(r_a.query_id, r_b.query_id) AS query_id, " +
          "COALESCE(r_a.doc_id, r_b.doc_id) AS doc_id, " +
          s"${contrib("1", "r_a")} AS ca, ${contrib("0.5", "r_b")} AS cb " +
          "FROM r_a FULL OUTER JOIN r_b ON r_a.query_id = r_b.query_id AND r_a.doc_id = r_b.doc_id), " +
          "f AS (SELECT COALESCE(f1.query_id, r_c.query_id) AS query_id, " +
          "COALESCE(f1.doc_id, r_c.doc_id) AS doc_id, " +
          "COALESCE(f1.ca, CAST(0 AS DOUBLE)) + COALESCE(f1.cb, CAST(0 AS DOUBLE)) + " +
          s"${contrib("0.25", "r_c")} AS rrf " +
          "FROM f1 FULL OUTER JOIN r_c ON f1.query_id = r_c.query_id AND f1.doc_id = r_c.doc_id) " +
          "SELECT query_id, doc_id, rrf, CAST(rank AS INTEGER) AS rank FROM " +
          "(SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank FROM f) WHERE rank <= 5"
      },
      // the index probe must reproduce the one-shot retrieval exactly —
      // same oracle text as q_search_tfidf
      "q_search_tfidf_index" ->
        (s"WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents), " +
          "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term), " +
          "dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term), " +
          "n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents), " +
          "ti AS (SELECT tf.doc_id, tf.term, CAST(tf.tf * n.n AS DOUBLE) / dft.df_t AS tfidf FROM tf JOIN dft USING (term) CROSS JOIN n), " +
          "qt AS (SELECT doc_id AS query_id, term, COUNT(*) AS qtf FROM tok WHERE doc_id < 3 GROUP BY 1, 2), " +
          "sc AS (SELECT query_id, ti.doc_id, CAST(SUM(CAST(qtf * tfidf AS DECIMAL(38,4))) AS DOUBLE) AS score FROM qt JOIN ti USING (term) GROUP BY 1, 2) " +
          "SELECT * FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM sc) WHERE rank <= 5"),
      "q_tfidf" ->
        (s"WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents), " +
          "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term), " +
          "dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term), " +
          "n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents) " +
          "SELECT tf.doc_id, tf.term, tf.tf, dft.df_t, " +
          "CAST(tf.tf * n.n AS DOUBLE) / dft.df_t AS tfidf " +
          "FROM tf JOIN dft USING (term) CROSS JOIN n"),
      "q_text_scrub" ->
        raw"SELECT *, regexp_replace(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS text_clean FROM documents",
      // NFC + accent strip + lowercase + whitespace collapse; DuckDB's
      // strip_accents is the same NFD-and-drop-marks canonicalization
      "q_text_normalize" ->
        raw"SELECT *, trim(regexp_replace(lower(nfc_normalize(strip_accents(nfc_normalize(text)))), '\s+', ' ', 'g')) AS text_norm FROM documents",
      "q_curation_pipeline" ->
        (raw"WITH nd AS (SELECT *, trim(regexp_replace(lower(nfc_normalize(strip_accents(nfc_normalize(text)))), '\s+', ' ', 'g')) AS text_norm FROM documents), " +
          raw"dd AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(regexp_replace(lower(trim(text_norm)), '\s+', ' ', 'g')) ORDER BY doc_id) AS _rn FROM nd) WHERE _rn = 1), " +
          "sk AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang " +
          "ORDER BY md5(concat_ws('|', CAST(doc_id AS VARCHAR))) ASC, concat_ws('|', CAST(doc_id AS VARCHAR)) ASC) AS _rn2 FROM dd) WHERE _rn2 <= 20) " +
          "SELECT lang, COUNT(doc_id) AS doc_id_count, CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum FROM sk GROUP BY lang"),
      "q_model_curation_pipeline" ->
        (s"WITH f AS (SELECT doc_id, lang, CAST(-2.5 AS DOUBLE) + CAST(LENGTH(text) AS DOUBLE) * CAST(0.003 AS DOUBLE) + " +
          s"CAST(len($toks) AS DOUBLE) * CAST(0.02 AS DOUBLE) AS q_logit FROM documents), " +
          "k AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang " +
          "ORDER BY CAST(q_logit AS DOUBLE) DESC, concat_ws('|', CAST(doc_id AS VARCHAR)) ASC) AS _rn " +
          "FROM f WHERE q_logit IS NOT NULL) WHERE _rn <= 10) " +
          s"SELECT lang, COUNT(doc_id) AS doc_id_count, ${davg("q_logit")} AS q_logit_avg FROM k GROUP BY lang"),
      "q_text_coverage" ->
        ("WITH g AS (SELECT doc_id, substr(text, CAST(gs AS INTEGER), 3) AS gram " +
          "FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS gs " +
          "FROM documents WHERE length(text) >= 3)), " +
          "cnt AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY 1), " +
          "v AS (SELECT gram FROM (SELECT gram, ROW_NUMBER() OVER (ORDER BY c DESC, gram ASC) AS r FROM cnt) WHERE r <= 512), " +
          "s AS (SELECT g.doc_id, COUNT(*) AS total, COUNT(v.gram) AS iv FROM g LEFT JOIN v ON g.gram = v.gram GROUP BY 1) " +
          "SELECT d.*, COALESCE(CAST(iv AS DOUBLE) / total, 0.0) AS text_cov_3 FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id"),
      // PII chain rendered from the SAME pattern table as the Spark face
      // (DuckDB literals keep single backslashes; 'g' = replace-all)
      "q_text_scrub_pii" -> {
        val chain = graft.ext.TextOps.PiiPatterns.foldLeft("text") {
          case (acc, (p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
        }
        s"SELECT *, $chain AS text_clean FROM documents"
      },
      // the oracle re-derives the budget fractions from its own totals agg
      // and reproduces the md5-threshold math bit-for-bit (IEEE doubles +
      // truncating hex format are engine-independent)
      "q_mix_by_budget" -> {
        def th(lang: String, budget: Long) =
          s"(SELECT CASE WHEN t <= $budget THEN 'g' ELSE printf('%015x', " +
            s"CAST(floor($budget.0 / t * 1.152921504606846976e18) AS BIGINT)) END " +
            s"FROM tot WHERE s = '$lang')"
        "WITH tot AS (SELECT CAST(lang AS VARCHAR) AS s, SUM(CAST(n_chars AS BIGINT)) AS t " +
          "FROM documents GROUP BY 1) " +
          "SELECT d.* FROM documents d WHERE md5(concat_ws('|', CAST(doc_id AS VARCHAR))) < " +
          s"CASE WHEN CAST(lang AS VARCHAR) = 'en' THEN ${th("en", 30000L)} " +
          s"WHEN CAST(lang AS VARCHAR) = 'de' THEN ${th("de", 30000L)} ELSE 'g' END"
      },
      // the oracle re-derives quantized sqrt weights, the exact-integer
      // normalizer, and the md5-threshold math bit-for-bit (sqrt is
      // IEEE-correctly-rounded — the reason the driver query uses alpha=0.5)
      "q_mix_by_temperature" ->
        ("WITH tot AS (SELECT CAST(lang AS VARCHAR) AS s, SUM(CAST(n_chars AS BIGINT)) AS t " +
          "FROM documents WHERE lang IS NOT NULL GROUP BY 1 HAVING SUM(CAST(n_chars AS BIGINT)) > 0), " +
          "wq AS (SELECT s, t, CAST(floor(sqrt(CAST(t AS DOUBLE)) * 1048576) AS BIGINT) AS w FROM tot), " +
          "ws AS (SELECT SUM(w) AS wsum FROM wq), " +
          "th AS (SELECT s, CASE WHEN f >= 1.0 THEN 'g' ELSE printf('%015x', " +
          "CAST(floor(f * 1.152921504606846976e18) AS BIGINT)) END AS thv FROM " +
          "(SELECT s, LEAST(1.0, CAST(60000 AS DOUBLE) * CAST(w AS DOUBLE) / CAST(t AS DOUBLE) / " +
          "CAST(wsum AS DOUBLE)) AS f FROM wq CROSS JOIN ws)) " +
          "SELECT d.* FROM documents d JOIN th ON CAST(d.lang AS VARCHAR) = th.s " +
          "WHERE md5(concat_ws('|', CAST(doc_id AS VARCHAR))) < th.thv"),
      "q_epoch_shuffle" ->
        ("SELECT *, md5(concat_ws('|', '1', CAST(doc_id AS VARCHAR))) AS epoch_pos " +
          "FROM documents ORDER BY epoch_pos"),
      "q_chunk_text" ->
        (s"WITH t2 AS (SELECT doc_id, $toks AS tk, len($toks) AS n FROM documents) " +
          "SELECT doc_id, CAST(s // 48 AS INTEGER) AS chunk_idx, " +
          "array_to_string(list_slice(tk, s + 1, s + 64), ' ') AS chunk_text, " +
          "CAST(LEAST(64, n - s) AS INTEGER) AS n_chunk_tokens " +
          "FROM (SELECT doc_id, tk, n, unnest(range(0, greatest(n, 1), 48)) AS s FROM t2)"),
      "q_dedup_exact" ->
        raw"SELECT doc_id, text, lang, source, n_chars FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) ORDER BY doc_id) AS rn FROM (SELECT * FROM documents UNION ALL SELECT doc_id + 10000, text, lang, source, n_chars FROM documents)) WHERE rn = 1",
      "q_fuzzy_pairs" -> {
        // DuckDB recomputes every pair's levenshtein over the same VALUES —
        // the miner's pigeonhole candidates must lose nothing
        val vals = namesFixture.map {
          case (id, null) => s"($id, NULL)"
          case (1L, nm)   => s"(CAST(1 AS BIGINT), '$nm')"
          case (id, nm)   => s"($id, '$nm')"
        }.mkString(", ")
        s"WITH f AS (SELECT * FROM (VALUES $vals) AS t(id, name)) " +
          "SELECT a.id AS id_a, b.id AS id_b, CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist " +
          "FROM f a JOIN f b ON a.id < b.id WHERE levenshtein(a.name, b.name) <= 2"
      },
      "q_top_ngrams" ->
        (s"WITH t AS (SELECT $toks AS tk FROM documents WHERE text IS NOT NULL AND trim(text) <> ''), " +
          "g AS (SELECT array_to_string(list_slice(tk, i, i + 1), ' ') AS ngram " +
          "FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM t WHERE len(tk) >= 2)) " +
          "SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY ngram " +
          "ORDER BY cnt DESC, ngram ASC LIMIT 25"),
      // the sketch twin in its exact regime (31-token vocabulary => at
      // most 961 distinct bigrams << 0.75 x 2048): the frequent-items
      // sketch never purges, so counts are the census counts and both
      // error bounds collapse onto them — the oracle replays the census
      "q_top_ngrams_sketch" ->
        (s"WITH t AS (SELECT $toks AS tk FROM documents WHERE text IS NOT NULL AND trim(text) <> ''), " +
          "g AS (SELECT array_to_string(list_slice(tk, i, i + 1), ' ') AS ngram " +
          "FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM t WHERE len(tk) >= 2)), " +
          "c AS (SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY ngram " +
          "ORDER BY cnt DESC, ngram ASC LIMIT 25) " +
          "SELECT ngram, cnt, cnt AS cnt_lb, cnt AS cnt_ub FROM c"),
      "q_cluster_embeddings" -> {
        // the lattice fixture's k-means clusters ARE the construction
        // clusters (vec_id mod 4), labeled by min member id — sanity: ids
        // 0..3 land one per cluster, so the label equals the mod itself
        val vals = (0 until 24).map { i =>
          if (i == 0) "(CAST(0 AS BIGINT), CAST(0 AS BIGINT))" else s"($i, ${i % 4})"
        }.mkString(", ")
        s"SELECT * FROM (VALUES $vals) AS t(vec_id, cluster)"
      },
      "q_dedup_ngram" -> ngramJaccardSql(n = 2, threshold = 0.9),
      "q_dedup_ngram_ii" -> ngramJaccardSql(n = 3, threshold = 0.5),
      "q_dedup_containment" ->
        (s"WITH w AS (SELECT doc_id, ${ngrams(3)} AS ws FROM documents) " +
          "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
          "CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / CAST(LEAST(len(a.ws), len(b.ws)) AS DOUBLE) AS containment " +
          "FROM w a JOIN w b ON a.doc_id < b.doc_id " +
          "WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / CAST(LEAST(len(a.ws), len(b.ws)) AS DOUBLE) >= 0.6"),
      "q_dup_spans" ->
        (s"WITH $winCte, " +
          "sh AS (SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2), " +
          "sp AS (SELECT w.doc_id, w.pos FROM w JOIN sh USING (win)), " +
          "m AS (SELECT doc_id, pos, CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END AS brk " +
          "FROM (SELECT doc_id, pos, MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM sp)), " +
          "g AS (SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid FROM m) " +
          "SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start, " +
          "CAST(MAX(pos) + 8 AS INTEGER) AS span_end FROM g GROUP BY doc_id, gid"),
      "q_strip_dup_spans" ->
        (s"WITH $winCte, " +
          "own AS (SELECT win, MIN(doc_id) AS own FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2), " +
          "cov AS (SELECT DISTINCT w.doc_id, w.pos + u.o AS tp FROM w JOIN own USING (win) " +
          "CROSS JOIN (SELECT unnest(range(0, 8)) AS o) u WHERE w.doc_id <> own.own), " +
          "tokpos AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, tk[i] AS tok " +
          "FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM t)), " +
          "kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp LEFT JOIN cov " +
          "ON cov.doc_id = tp.doc_id AND cov.tp = tp.pos WHERE cov.doc_id IS NULL), " +
          "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt FROM kept GROUP BY doc_id) " +
          "SELECT d.*, COALESCE(a.txt, '') AS text_stripped FROM documents d LEFT JOIN agg a USING (doc_id)"),
      "q_dedup_near" ->
        (s"WITH RECURSIVE p AS (${ngramJaccardSql(n = 3, threshold = 0.5)}), " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
          "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
          "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
          "SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id), " +
          "cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id) " +
          "SELECT doc_id, text, lang, source, n_chars FROM (SELECT d.*, " +
          "ROW_NUMBER() OVER (PARTITION BY COALESCE(cl.cluster_id, d.doc_id) " +
          "ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn " +
          "FROM documents d LEFT JOIN cl ON cl.id = d.doc_id) WHERE rn = 1"),
      // PageRank replayed sweep by sweep: the SAME fixed-point integer
      // recurrence (init scale//n, share pr//outdeg, damping (85·m)//100,
      // dangling mass redistributed //n) — every intermediate is a BIGINT,
      // so the hash compare is exact; the final double readout divides two
      // exactly-representable values (one deterministic IEEE op)
      "q_link_rank" -> {
        val S = "1000000000000"
        def sweep(i: Int) =
          s"c$i AS (SELECT e.dst AS node, SUM(pr.pr // pr.od) AS c " +
            s"FROM pr${i - 1} pr JOIN e ON pr.node = e.src GROUP BY e.dst), " +
            s"pr$i AS (SELECT b.node, b.od, (SELECT (15 * $S) // (100 * n) FROM p) + " +
            s"(85 * (COALESCE(c.c, 0) + (SELECT (SELECT COALESCE(SUM(pr), 0) " +
            s"FROM pr${i - 1} WHERE od IS NULL) // n FROM p))) // 100 AS pr " +
            s"FROM base b LEFT JOIN c$i c ON b.node = c.node), "
        "WITH e AS (SELECT DISTINCT l_orderkey % 5000 AS src, l_partkey % 5000 AS dst FROM lineitem), " +
          "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
          "deg AS (SELECT src AS node, COUNT(*) AS od FROM e GROUP BY 1), " +
          "base AS (SELECT n.node, d.od FROM nodes n LEFT JOIN deg d ON n.node = d.node), " +
          "p AS (SELECT COUNT(*) AS n FROM nodes), " +
          s"pr0 AS (SELECT node, od, (SELECT $S // n FROM p) AS pr FROM base), " +
          sweep(1) + sweep(2) + sweep(3).stripSuffix(", ") +
          // CAST: the recursive SUM promotes pr to HUGEINT; Spark emits BIGINT
          s" SELECT node, CAST(pr AS BIGINT) AS rank_fp, CAST(pr AS DOUBLE) / CAST($S AS DOUBLE) AS rank FROM pr3"
      },
      // host rollup replayed: distinct page edges fold to (src_host,
      // dst_host, w = page-edge count), then the SAME integer recurrence
      // with each edge's share entering as w · (pr // out-weight)
      "q_link_rank_host" -> {
        val S = "1000000000000"
        def sweep(i: Int) =
          s"c$i AS (SELECT e.dst AS node, SUM(e.w * (pr.pr // pr.od)) AS c " +
            s"FROM pr${i - 1} pr JOIN e ON pr.node = e.src GROUP BY e.dst), " +
            s"pr$i AS (SELECT b.node, b.od, (SELECT (15 * $S) // (100 * n) FROM p) + " +
            s"(85 * (COALESCE(c.c, 0) + (SELECT (SELECT COALESCE(SUM(pr), 0) " +
            s"FROM pr${i - 1} WHERE od IS NULL) // n FROM p))) // 100 AS pr " +
            s"FROM base b LEFT JOIN c$i c ON b.node = c.node), "
        "WITH pe AS (SELECT DISTINCT l_orderkey % 5000 AS sp, l_partkey % 5000 AS dp FROM lineitem), " +
          "e AS (SELECT sp // 10 AS src, dp // 10 AS dst, COUNT(*) AS w FROM pe GROUP BY 1, 2), " +
          "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
          "deg AS (SELECT src AS node, SUM(w) AS od FROM e GROUP BY 1), " +
          "base AS (SELECT n.node, d.od FROM nodes n LEFT JOIN deg d ON n.node = d.node), " +
          "p AS (SELECT COUNT(*) AS n FROM nodes), " +
          s"pr0 AS (SELECT node, od, (SELECT $S // n FROM p) AS pr FROM base), " +
          sweep(1) + sweep(2) + sweep(3).stripSuffix(", ") +
          // CAST: SUM-promoted HUGEINT intermediates; Spark emits BIGINT
          s" SELECT node, CAST(pr AS BIGINT) AS rank_fp, CAST(pr AS DOUBLE) / CAST($S AS DOUBLE) AS rank FROM pr3"
      },
      // explicit weights replayed: the same weighted recurrence over
      // quantity-summed edges
      "q_link_rank_weighted" -> {
        val S = "1000000000000"
        def sweep(i: Int) =
          s"c$i AS (SELECT e.dst AS node, SUM(e.w * (pr.pr // pr.od)) AS c " +
            s"FROM pr${i - 1} pr JOIN e ON pr.node = e.src GROUP BY e.dst), " +
            s"pr$i AS (SELECT b.node, b.od, (SELECT (15 * $S) // (100 * n) FROM p) + " +
            s"(85 * (COALESCE(c.c, 0) + (SELECT (SELECT COALESCE(SUM(pr), 0) " +
            s"FROM pr${i - 1} WHERE od IS NULL) // n FROM p))) // 100 AS pr " +
            s"FROM base b LEFT JOIN c$i c ON b.node = c.node), "
        "WITH e AS (SELECT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst, " +
          "SUM(CAST(l_quantity AS BIGINT)) AS w FROM lineitem " +
          "WHERE CAST(l_quantity AS BIGINT) > 0 GROUP BY 1, 2), " +
          "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
          "deg AS (SELECT src AS node, SUM(w) AS od FROM e GROUP BY 1), " +
          "base AS (SELECT n.node, d.od FROM nodes n LEFT JOIN deg d ON n.node = d.node), " +
          "p AS (SELECT COUNT(*) AS n FROM nodes), " +
          s"pr0 AS (SELECT node, od, (SELECT $S // n FROM p) AS pr FROM base), " +
          sweep(1) + sweep(2) + sweep(3).stripSuffix(", ") +
          // CAST: SUM-promoted HUGEINT intermediates; Spark emits BIGINT
          s" SELECT node, CAST(pr AS BIGINT) AS rank_fp, CAST(pr AS DOUBLE) / CAST($S AS DOUBLE) AS rank FROM pr3"
      },
      "q_dedup_clusters" ->
        (s"WITH RECURSIVE p AS (${ngramJaccardSql(n = 3, threshold = 0.5)}), " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
          "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
          "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
          "SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id) " +
          "SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id"),
      // string-id face: identical component structure over zero-padded
      // string keys (ASCII byte order = numeric order, so MIN(r) picks the
      // same representative the canonicalized surrogate path does)
      "q_dedup_clusters_str" ->
        (s"WITH RECURSIVE p0 AS (${ngramJaccardSql(n = 3, threshold = 0.5)}), " +
          "p AS (SELECT printf('doc-%09d', id_a) AS id_a, printf('doc-%09d', id_b) AS id_b FROM p0), " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
          "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
          "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
          "SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id) " +
          "SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id"),
      "q_dedup_clusters_ii" ->
        (s"WITH RECURSIVE p AS (${ngramJaccardSql(n = 3, threshold = 0.5)}), " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
          "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
          "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
          "SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id) " +
          "SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id"),
      "q_pack_sequences" ->
        ("SELECT *, CAST(FLOOR(COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 20000) AS BIGINT) " +
          "AS pack_id FROM documents"),
      // stride interleave: key = i·1e6 // w per source, pure windows
      "q_interleave" ->
        ("SELECT * EXCLUDE (_il_w, _il_pos) FROM (SELECT *, " +
          "CAST(CAST(_il_pos AS BIGINT) * 1000000 // _il_w AS BIGINT) AS interleave_key FROM (" +
          "SELECT *, CASE WHEN CAST(lang AS VARCHAR) = 'en' THEN 3 " +
          "WHEN CAST(lang AS VARCHAR) = 'zh' THEN 1 ELSE NULL END AS _il_w, " +
          "ROW_NUMBER() OVER (PARTITION BY CAST(lang AS VARCHAR) ORDER BY doc_id) AS _il_pos " +
          "FROM documents) WHERE _il_w IS NOT NULL)"),
      // interleave replay nested under the UNGROUPED token-pack window,
      // ordered by the mixed-stream key (ties break lang, doc_id)
      "q_loader_stream" ->
        ("WITH il AS (SELECT * EXCLUDE (_il_w, _il_pos) FROM (SELECT *, " +
          "CAST(CAST(_il_pos AS BIGINT) * 1000000 // _il_w AS BIGINT) AS interleave_key FROM (" +
          "SELECT *, CASE WHEN CAST(lang AS VARCHAR) = 'en' THEN 3 " +
          "WHEN CAST(lang AS VARCHAR) = 'zh' THEN 1 ELSE NULL END AS _il_w, " +
          "ROW_NUMBER() OVER (PARTITION BY CAST(lang AS VARCHAR) ORDER BY doc_id) AS _il_pos " +
          "FROM documents) WHERE _il_w IS NOT NULL)) " +
          "SELECT *, CAST(FLOOR(COALESCE(SUM(pack_tokens) OVER (" +
          "ORDER BY interleave_key, lang, doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4000) AS BIGINT) AS pack_id " +
          "FROM (SELECT *, CAST(len(regexp_extract_all(lower(text), " +
          "'[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS pack_tokens FROM il)"),
      // UniMax: the water-filling census replays as pure window algebra
      // (prefix-feasibility tests over caps sorted ascending)
      "q_unimax_alloc" -> umAllocSql(220000L, 2),
      // apply face: the derived ppm fraction becomes the same 15-hex-digit
      // md5 threshold the sample_hash family pins; whole-keep strata
      // bypass the hash exactly
      "q_mix_unimax" ->
        (s"SELECT d.*, CAST(a.epochs_fp AS BIGINT) AS mix_epochs_fp FROM documents d JOIN (${umAllocSql(220000L, 2)}) a " +
          "ON CAST(d.lang AS VARCHAR) = a.stratum " +
          "WHERE a.keep_fp >= 1000000 OR md5(CONCAT_WS('|', CAST(d.doc_id AS VARCHAR))) < " +
          "printf('%015x', a.keep_fp * 1152921504606)"),
      // loader-prep composition: the pack fold runs over the mix replay
      "q_loader_prep" ->
        ("SELECT *, CAST(FLOOR(COALESCE(SUM(pack_tokens) OVER (PARTITION BY lang ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4000) AS BIGINT) AS pack_id " +
          "FROM (SELECT *, CAST(len(regexp_extract_all(lower(text), " +
          "'[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS pack_tokens FROM (" +
          s"SELECT d.*, CAST(a.epochs_fp AS BIGINT) AS mix_epochs_fp FROM documents d JOIN (${umAllocSql(220000L, 2)}) a " +
          "ON CAST(d.lang AS VARCHAR) = a.stratum " +
          "WHERE a.keep_fp >= 1000000 OR md5(CONCAT_WS('|', CAST(d.doc_id AS VARCHAR))) < " +
          "printf('%015x', a.keep_fp * 1152921504606)))"),
      // token-budget pack face: the same offset-binned cumulative fold,
      // over the bpeish subword-proxy count instead of n_chars
      "q_pack_sequences_tokens" ->
        ("SELECT *, CAST(FLOOR(COALESCE(SUM(pack_tokens) OVER (PARTITION BY lang ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4000) AS BIGINT) AS pack_id " +
          "FROM (SELECT *, CAST(len(regexp_extract_all(lower(text), " +
          "'[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS pack_tokens FROM documents)"),
      "q_text_repetition" ->
        (s"SELECT *, 1.0 - CAST(len(${ngrams(3)}) AS DOUBLE) / " +
          s"(CASE WHEN len($toks) < 3 THEN 1 ELSE len($toks) - 2 END) AS text_rep_3 FROM documents"),
      "q_text_decontaminate" ->
        (s"WITH eg AS (SELECT DISTINCT unnest(${ngrams(8)}) AS g FROM documents WHERE doc_id < 25), " +
          s"cg AS (SELECT doc_id, unnest(${ngrams(8)}) AS g FROM documents), " +
          "hit AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g)) " +
          "SELECT d.*, (h.doc_id IS NOT NULL) AS contaminated " +
          "FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id"),
      // the saved gram index changes WHERE the eval hashes live, not the
      // flagged set — identical oracle to the one-shot face
      "q_text_decontaminate_index" ->
        (s"WITH eg AS (SELECT DISTINCT unnest(${ngrams(8)}) AS g FROM documents WHERE doc_id < 25), " +
          s"cg AS (SELECT doc_id, unnest(${ngrams(8)}) AS g FROM documents), " +
          "hit AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g)) " +
          "SELECT d.*, (h.doc_id IS NOT NULL) AS contaminated " +
          "FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id"),
      // the Bloom prefilter is an internal optimization; the confirmed
      // output is identical to the exact variant, so the oracle is too
      "q_text_decontaminate_bloom" ->
        (s"WITH eg AS (SELECT DISTINCT unnest(${ngrams(8)}) AS g FROM documents WHERE doc_id < 25), " +
          s"cg AS (SELECT doc_id, unnest(${ngrams(8)}) AS g FROM documents), " +
          "hit AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g)) " +
          "SELECT d.*, (h.doc_id IS NOT NULL) AS contaminated " +
          "FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id"),
      "q_text_contamination" ->
        (s"WITH eg AS (SELECT DISTINCT unnest(${ngrams(8)}) AS g FROM documents WHERE doc_id < 25), " +
          s"cg AS (SELECT doc_id, unnest(${ngrams(8)}) AS g FROM documents), " +
          "tot AS (SELECT doc_id, COUNT(*) AS t FROM cg GROUP BY 1), " +
          "hit AS (SELECT cg.doc_id, COUNT(*) AS h FROM cg JOIN eg USING (g) GROUP BY 1) " +
          "SELECT d.*, COALESCE(CAST(h AS DOUBLE) / t, 0.0) AS contamination_8 " +
          "FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)"),
      "q_dedup_embedding" ->
        s"WITH $normCte, p AS (SELECT qid, cid, $dotSql AS dot FROM (SELECT a.vec_id AS qid, b.vec_id AS cid, unnest(a.embedding) AS qx, unnest(b.embedding) AS cx FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) GROUP BY qid, cid) SELECT qid AS id_a, cid AS id_b, dot / na.nrm / nb.nrm AS cosine FROM p JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = cid WHERE dot / na.nrm / nb.nrm >= 0.4",
      // same pair mining, then the recursive-CTE component labels + the
      // keep-lowest-id decision — the q_dedup_near oracle pattern over
      // the embedding space
      "q_dedup_embedding_near" ->
        (s"WITH RECURSIVE $normCte, " +
          s"pd AS (SELECT qid, cid, $dotSql AS dot FROM (SELECT a.vec_id AS qid, b.vec_id AS cid, unnest(a.embedding) AS qx, unnest(b.embedding) AS cx FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) GROUP BY qid, cid), " +
          "p AS (SELECT qid AS id_a, cid AS id_b FROM pd JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = cid WHERE dot / na.nrm / nb.nrm >= 0.4), " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
          "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
          "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
          "SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id), " +
          "cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id) " +
          "SELECT vec_id, label FROM (SELECT emb.vec_id, emb.label, " +
          "ROW_NUMBER() OVER (PARTITION BY COALESCE(cl.cluster_id, emb.vec_id) " +
          "ORDER BY emb.vec_id ASC) AS rn " +
          "FROM embeddings emb LEFT JOIN cl ON cl.id = emb.vec_id) WHERE rn = 1"),
      // complete-candidate IVF face ≡ exact face on the vec_id < 500
      // slice: same recursive-CTE oracle, filtered source
      "q_dedup_embedding_near_ivf" ->
        (s"WITH RECURSIVE e5 AS (SELECT * FROM embeddings WHERE vec_id < 500), " +
          "n5 AS (SELECT vec_id, SQRT(CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm FROM (SELECT vec_id, unnest(embedding) AS x FROM e5) GROUP BY vec_id), " +
          s"pd AS (SELECT qid, cid, $dotSql AS dot FROM (SELECT a.vec_id AS qid, b.vec_id AS cid, unnest(a.embedding) AS qx, unnest(b.embedding) AS cx FROM e5 a JOIN e5 b ON a.vec_id < b.vec_id) GROUP BY qid, cid), " +
          "p AS (SELECT qid AS id_a, cid AS id_b FROM pd JOIN n5 na ON na.vec_id = qid JOIN n5 nb ON nb.vec_id = cid WHERE dot / na.nrm / nb.nrm >= 0.4), " +
          "edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p), " +
          "nodes AS (SELECT DISTINCT src AS id FROM edges), " +
          "reach(id, r) AS (SELECT id, id FROM nodes UNION " +
          "SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id), " +
          "cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id) " +
          "SELECT vec_id, label FROM (SELECT emb.vec_id, emb.label, " +
          "ROW_NUMBER() OVER (PARTITION BY COALESCE(cl.cluster_id, emb.vec_id) " +
          "ORDER BY emb.vec_id ASC) AS rn " +
          "FROM e5 emb LEFT JOIN cl ON cl.id = emb.vec_id) WHERE rn = 1"),
      "q_group_centroid" ->
        ("SELECT label, CAST(pos AS INTEGER) AS pos, " +
          "CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / COUNT(val) / 1e12 AS v " +
          "FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS val " +
          "FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> isnan(x) OR NOT isfinite(x))) = 0) " +
          "GROUP BY label, pos"),
      // moments replayed: same 1e-12 quantization for x and x², same
      // division chain, variance clamped at 0
      "q_embedding_moments" ->
        ("SELECT label, CAST(MAX(n) OVER (PARTITION BY label) AS BIGINT) AS n_vecs, " +
          "CAST(pos AS INTEGER) AS pos, m AS mean_v, GREATEST(m2 - m * m, 0.0) AS var_v FROM (" +
          "SELECT label, pos, COUNT(val) AS n, " +
          "CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / COUNT(val) / 1e12 AS m, " +
          "CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / COUNT(val) / 1e12 AS m2 " +
          "FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS val " +
          "FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> isnan(x) OR NOT isfinite(x))) = 0) " +
          "GROUP BY label, pos)"),
      // drift = two nested copies of the moments chain (even/odd halves)
      // joined null-safe on (label, pos); the fixed-point gap/ratio ride
      // the identical IEEE chains both engines already compute for
      // q_embedding_moments
      "q_embedding_drift" -> {
        def momHalf(parity: Int): String =
          "SELECT label, MAX(n) OVER (PARTITION BY label) AS n_vecs, pos, m, " +
            "GREATEST(m2 - m * m, 0.0) AS var FROM (" +
            "SELECT label, pos, COUNT(val) AS n, " +
            "CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / COUNT(val) / 1e12 AS m, " +
            "CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * CAST(val AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / COUNT(val) / 1e12 AS m2 " +
            "FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS val " +
            s"FROM embeddings WHERE vec_id % 2 = $parity AND embedding IS NOT NULL " +
            "AND len(list_filter(embedding, x -> isnan(x) OR NOT isfinite(x))) = 0) " +
            "GROUP BY label, pos)"
        s"WITH moml AS (${momHalf(0)}), momr AS (${momHalf(1)}) " +
          "SELECT l.label, CAST(l.pos AS INTEGER) AS pos, " +
          "CAST(l.n_vecs AS BIGINT) AS n_left, CAST(r.n_vecs AS BIGINT) AS n_right, " +
          "CAST(FLOOR((l.m - r.m) * 1e9 + 0.5) AS BIGINT) AS mean_gap_fp, " +
          "CASE WHEN r.var > 0 THEN CAST(FLOOR(l.var / r.var * 1e6 + 0.5) AS BIGINT) END AS var_ratio_fp " +
          "FROM moml l JOIN momr r ON l.label IS NOT DISTINCT FROM r.label AND l.pos = r.pos"
      },
      "q_quantize_embedding" ->
        ("WITH s AS (SELECT vec_id, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma FROM embeddings), " +
          "sc AS (SELECT vec_id, CASE WHEN ma > 0 THEN ma / 127.0 ELSE 1.0 END AS qscale FROM s) " +
          "SELECT e.vec_id, CAST(i - 1 AS INTEGER) AS pos, " +
          "CAST(floor(CAST(embedding[i] AS DOUBLE) / qscale + 0.5) AS TINYINT) AS qval, " +
          "qscale AS embedding_qscale " +
          "FROM embeddings e JOIN sc USING (vec_id), " +
          "LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u"),
      "q_sim_topk" ->
        s"WITH $normCte, p AS (SELECT qid, cid, $dotSql AS dot FROM (SELECT a.vec_id AS qid, b.vec_id AS cid, unnest(a.embedding) AS qx, unnest(b.embedding) AS cx FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) GROUP BY qid, cid), sc AS (SELECT qid AS query_id, cid AS neighbor_id, dot / na.nrm / nb.nrm AS cosine FROM p JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = cid) SELECT * FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank FROM sc) WHERE rank <= 10",
      // full-probe all-candidate refine = exact cosine top-10: the
      // q_sim_topk replay gates the whole IVFADC+rerank pipeline
      "q_search_pq_ivf_rerank" ->
        s"WITH $normCte, p AS (SELECT qid, cid, $dotSql AS dot FROM (SELECT a.vec_id AS qid, b.vec_id AS cid, unnest(a.embedding) AS qx, unnest(b.embedding) AS cx FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) GROUP BY qid, cid), sc AS (SELECT qid AS query_id, cid AS neighbor_id, dot / na.nrm / nb.nrm AS cosine FROM p JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = cid) SELECT * FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank FROM sc) WHERE rank <= 10",
      // hard negatives = q_sim_topk's scoring minus the labeled-positive
      // pairs and minus candidates at/above the 0.36 denoising cut; the
      // oracle replays the same fixed-point dot, NOT EXISTS exclusion,
      // threshold, and ranking
      "q_hard_negatives" ->
        (s"WITH $normCte, p AS (SELECT qid, cid, $dotSql AS dot FROM (SELECT a.vec_id AS qid, b.vec_id AS cid, unnest(a.embedding) AS qx, unnest(b.embedding) AS cx FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND b.vec_id <> a.vec_id) GROUP BY qid, cid), " +
          "pos AS (SELECT vec_id AS qid, vec_id + 1 AS cid FROM embeddings WHERE vec_id < 5 UNION ALL SELECT vec_id, vec_id + 2 FROM embeddings WHERE vec_id < 5), " +
          "sc AS (SELECT qid AS query_id, cid AS neighbor_id, dot / na.nrm / nb.nrm AS cosine FROM p JOIN n na ON na.vec_id = qid JOIN n nb ON nb.vec_id = cid " +
          "WHERE NOT EXISTS (SELECT 1 FROM pos WHERE pos.qid = p.qid AND pos.cid = p.cid) AND dot / na.nrm / nb.nrm < 0.36) " +
          "SELECT * FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank FROM sc) WHERE rank <= 10"),
      // literal-pinned hash-kernel oracles over the fixed fixture corpora.
      // Values computed once from the pinned inputs and hand-sanity-checked:
      // the three engineered near-dup pairs (1,2 / 3,4 / 5,6) and ONLY those
      // surface in both pair miners; the exact-copy pair estimates 1.0 /
      // hamming 0; doc 2's one-word tail edit leaves its windowed-min
      // fingerprint equal to doc 1's; every hamming top-k neighbor list is
      // exactly the query's own lattice cluster (i mod 4), nearest first.
      "q_text_rolling_fp" ->
        ("SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(2398002810064504270 AS BIGINT)), " +
          "(2, 2398002810064504270), (3, 2397696734761130689), (4, 2397710139173803199), " +
          "(5, 2397710139173804219), (6, 2397710139173804219), (7, 2397710139172809632), " +
          "(8, 2397696734745146814), (9, -6272259428417212615), (10, -6492117907295654314)) " +
          "AS t(doc_id, text_rfp)"),
      "q_dedup_minhash" ->
        ("SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0.9375 AS DOUBLE)), " +
          "(3, 4, 0.71875), (5, 6, 1.0)) AS t(id_a, id_b, est_jaccard)"),
      "q_dedup_simhash" ->
        ("SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(6 AS INTEGER)), " +
          "(3, 4, 6), (5, 6, 0)) AS t(id_a, id_b, hamming)"),
      "q_canonicalize_urls" -> urlCanonOracle,
      // crawl dedup end-to-end: canonicalize then keep the lowest id per
      // canonical key (rows 6 and 11 collide; 6 survives)
      "q_crawl_dedup" ->
        (s"WITH c AS ($urlCanonOracle) SELECT url_id, url, url_canon FROM (" +
          "SELECT *, ROW_NUMBER() OVER (PARTITION BY url_canon ORDER BY url_id ASC) AS _rn FROM c) " +
          "WHERE _rn = 1"),
      "q_strip_boilerplate" ->
        ("SELECT * FROM (VALUES " +
          "(CAST(1 AS BIGINT), 'breaking market rally today', CAST(2 AS BIGINT)), " +
          "(2, 'local team wins championship', 2), " +
          "(3, 'weather stays mild this week', 1), " +
          "(4, 'elections set for next spring' || chr(10) || chr(10) || 'extra analysis section', 1), " +
          "(5, 'my sourdough journey begins', 1), " +
          "(6, 'thoughts on distributed systems', 1), " +
          "(7, 'unique text stands alone' || chr(10) || 'with two lines', 0)) " +
          "AS t(doc_id, text_clean, text_n_stripped)"),
      // PCA of the pinned lattice fixtures is a pure function (driver-side
      // deterministic fit + codegen projection); components quantized at
      // 1e-4 pin exactly
      "q_pca_project" ->
        ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(0 AS INTEGER), CAST(-27535 AS BIGINT)), " +
          "(0, 1, -41331), (0, 2, -25702), (0, 3, 497), " +
          "(1, 0, 73948), (1, 1, -5528), (1, 2, -79), (1, 3, 4938), " +
          "(2, 0, -20592), (2, 1, 50669), (2, 2, -22866), (2, 3, -7295), " +
          "(3, 0, -25495), (3, 1, -2044), (3, 2, 50604), (3, 3, 7328), " +
          "(4, 0, -29390), (4, 1, -45075), (4, 2, -29008), (4, 3, -5736), " +
          "(5, 0, 73803), (5, 1, -4211), (5, 2, 77), (5, 3, 3149)) " +
          "AS t(vec_id, pos, qcomp)"),
      // MMR picks over the pinned lattice at λ=0.5: rank 1 is always the
      // plain cosine argmax (12/17/18/15 — same as q_sim_topk_hamming's
      // rank 1), and the diversity term then pulls in OTHER clusters
      // (query 0 → 23 of cluster 3 at step 2; queries 1/2/3 likewise mix)
      // before finishing the home cluster — hand-checked against the
      // greedy recurrence; exact-decimal pairwise cosines make the
      // selection a pure function of the fixture
      "q_mmr_rerank" ->
        ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(12 AS BIGINT), CAST(1 AS INTEGER)), " +
          "(0, 23, 2), (0, 16, 3), (0, 8, 4), (0, 4, 5), " +
          "(1, 17, 1), (1, 8, 2), (1, 13, 3), (1, 21, 4), (1, 5, 5), " +
          "(2, 18, 1), (2, 14, 2), (2, 22, 3), (2, 23, 4), (2, 6, 5), " +
          "(3, 15, 1), (3, 10, 2), (3, 19, 3), (3, 23, 4), (3, 7, 5)) " +
          "AS t(query_id, neighbor_id, mmr_rank)"),
      // DSIR model replayed: identical gram/bucket/count/quantized-log
      // pipeline in DuckDB — pure integers, hash-exact
      "q_dsir_model" ->
        s"WITH $dsirModelCtes SELECT bucket, n_target, n_raw, w_fp FROM model",
      // DSIR selection replayed end-to-end: per-doc score = integer sum of
      // model bucket weights over the doc's gram occurrences (the model
      // spine covers every bucket, so the inner join loses nothing), plus
      // the md5-derived Gumbel at the same 1e-6 scale; top-100 under the
      // (key DESC, doc_id) total order matches the op's TakeOrdered
      "q_dsir_select" ->
        (s"WITH $dsirModelCtes, " +
          s"dt AS (SELECT doc_id, $toks AS t FROM documents), " +
          s"dg AS (SELECT doc_id, unnest($uniBiS) AS g FROM dt), " +
          "dh AS (SELECT doc_id, md5(g) AS h FROM dg), " +
          s"db AS (SELECT doc_id, ${hex8S("h")} % 1024 AS bucket FROM dh), " +
          "sc AS (SELECT doc_id, COUNT(*) AS dsir_n_grams, SUM(w_fp) AS dsir_score_fp " +
          "FROM db JOIN model USING (bucket) GROUP BY doc_id), " +
          "gu AS (SELECT doc_id, md5('gumbel|' || CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
          s"gk AS (SELECT doc_id, CAST(FLOOR(-ln(-ln((CAST(${hex8S("h")} AS DOUBLE) + 0.5) / 4294967296.0)) * 1e6 + 0.5) AS BIGINT) AS gfp FROM gu) " +
          "SELECT d.doc_id, d.lang, s.dsir_n_grams, CAST(s.dsir_score_fp AS BIGINT) AS dsir_score_fp, " +
          "CAST(s.dsir_score_fp + g.gfp AS BIGINT) AS dsir_key_fp " +
          "FROM documents d JOIN sc s USING (doc_id) JOIN gk g USING (doc_id) " +
          "ORDER BY dsir_key_fp DESC, d.doc_id LIMIT 100"),
      // hashed-LM model replayed: identical gram/bucket/count/quantized-
      // log pipeline in DuckDB — pure integers, hash-exact
      "q_lm_model" ->
        s"WITH $lmModelCtes SELECT bucket, n, lp_fp FROM lmodel",
      // LM scoring replayed: per-doc NLL = −Σ lp_fp over gram occurrences
      // (the model spine covers every bucket, so the inner join loses
      // nothing; every fixture doc has ≥ 1 gram), average NLL via the
      // same FLOOR(sum/n + 0.5) double arithmetic as the op
      "q_lm_score" ->
        (s"WITH $lmModelCtes, " +
          s"sdt AS (SELECT doc_id, $toks AS t FROM documents), " +
          s"sdg AS (SELECT doc_id, unnest($uniBiS) AS g FROM sdt), " +
          "sdh AS (SELECT doc_id, md5(g) AS h FROM sdg), " +
          s"sdb AS (SELECT doc_id, ${hex8S("h")} % 1024 AS bucket FROM sdh), " +
          "ssc AS (SELECT doc_id, COUNT(*) AS lm_n_grams, -SUM(lp_fp) AS lm_nll_sum_fp " +
          "FROM sdb JOIN lmodel USING (bucket) GROUP BY doc_id) " +
          "SELECT d.doc_id, d.lang, s.lm_n_grams, " +
          "CAST(s.lm_nll_sum_fp AS BIGINT) AS lm_nll_sum_fp, " +
          "CAST(FLOOR(CAST(s.lm_nll_sum_fp AS DOUBLE) / CAST(s.lm_n_grams AS DOUBLE) + 0.5) AS BIGINT) AS lm_nll_fp " +
          "FROM documents d JOIN ssc s USING (doc_id)"),
      // l-diversity replayed: same derived bucket, COUNT DISTINCT +
      // null-value bump, HAVING below l
      "q_l_diversity" ->
        ("WITH t AS (SELECT c_mktsegment, c_nationkey, " +
          "CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS ab FROM customer) " +
          "SELECT c_mktsegment, c_nationkey, COUNT(*) AS n, " +
          "COUNT(DISTINCT ab) + MAX(CASE WHEN ab IS NULL THEN 1 ELSE 0 END) AS n_sensitive " +
          "FROM t GROUP BY 1, 2 " +
          "HAVING COUNT(DISTINCT ab) + MAX(CASE WHEN ab IS NULL THEN 1 ELSE 0 END) < 5"),
      // ADC top-5 replayed structurally: neighbor = query + 4·rank (the
      // five same-cluster siblings in id order)
      "q_search_pq" ->
        ("SELECT query_id, query_id + 4 * rank AS neighbor_id, " +
          "CAST(rank AS INTEGER) AS rank FROM " +
          "(SELECT unnest(range(0, 4)) AS query_id) q " +
          "CROSS JOIN (SELECT unnest(range(1, 6)) AS rank) r"),
      // IVFADC replayed structurally: the probed own cell holds the five
      // same-code siblings (neighbor = query + 4·rank) — the same rows the
      // full-scan ADC face pins
      "q_search_pq_ivf" ->
        ("SELECT query_id, query_id + 4 * rank AS neighbor_id, " +
          "CAST(rank AS INTEGER) AS rank FROM " +
          "(SELECT unnest(range(0, 4)) AS query_id) q " +
          "CROSS JOIN (SELECT unnest(range(1, 6)) AS rank) r"),
      // multi-assign replicas are strictly-farther codes — same pinned
      // sibling rows as the single-assign face
      "q_search_pq_ivf_a2" ->
        ("SELECT query_id, query_id + 4 * rank AS neighbor_id, " +
          "CAST(rank AS INTEGER) AS rank FROM " +
          "(SELECT unnest(range(0, 4)) AS query_id) q " +
          "CROSS JOIN (SELECT unnest(range(1, 6)) AS rank) r"),
      // residual face: distances move to the residual metric but the
      // planted-cluster structure pins the identical sibling rows
      // (lattice-measured first — see the query comment)
      "q_search_pq_ivf_res" ->
        ("SELECT query_id, query_id + 4 * rank AS neighbor_id, " +
          "CAST(rank AS INTEGER) AS rank FROM " +
          "(SELECT unnest(range(0, 4)) AS query_id) q " +
          "CROSS JOIN (SELECT unnest(range(1, 6)) AS rank) r"),
      // PQ codes replayed as the pinned cluster pattern: lattice cluster
      // (vec_id % 4) 0..3 encode as (1,2) (2,3) (0,0) (3,1) — the fit is
      // a pure function of the constant fixture (spec-pinned)
      "q_pq_encode" ->
        ("SELECT vec_id, CAST(pos AS INTEGER) AS pos, CAST(CASE " +
          "WHEN vec_id % 4 = 0 THEN (CASE WHEN pos = 0 THEN 1 ELSE 2 END) " +
          "WHEN vec_id % 4 = 1 THEN (CASE WHEN pos = 0 THEN 2 ELSE 3 END) " +
          "WHEN vec_id % 4 = 2 THEN 0 " +
          "ELSE (CASE WHEN pos = 0 THEN 3 ELSE 1 END) END AS INTEGER) AS code " +
          "FROM (SELECT unnest(range(0, 24)) AS vec_id) v " +
          "CROSS JOIN (SELECT unnest(range(0, 2)) AS pos) p"),
      // bloom prefilter is invisible: the oracle is the plain join
      "q_join_bloom" ->
        ("SELECT l_orderkey, l_linenumber, l_partkey, p_size, p_retailprice " +
          "FROM lineitem JOIN (SELECT * FROM part WHERE p_size < 10) p " +
          "ON l_partkey = p_partkey"),
      // AUC replayed: the same midrank window, decimal rank sum, and
      // integer-over-integer closing division
      "q_auc" ->
        ("WITH b AS (SELECT CAST((doc_id * 37) % 101 AS DOUBLE) / 101.0 AS sc, " +
          "CASE WHEN (doc_id * 53) % 101 < (doc_id * 37) % 101 THEN 1 ELSE 0 END AS pos FROM documents), " +
          "r AS (SELECT pos, 2 * RANK() OVER (ORDER BY sc ASC) + COUNT(*) OVER (PARTITION BY sc) - 1 AS r2 FROM b), " +
          "a AS (SELECT COUNT(CASE WHEN pos = 1 THEN 1 END) AS n_pos, " +
          "COUNT(CASE WHEN pos = 0 THEN 1 END) AS n_neg, " +
          "SUM(CASE WHEN pos = 1 THEN CAST(r2 AS DECIMAL(38,0)) END) AS rsum FROM r) " +
          "SELECT n_pos, n_neg, (CAST(rsum AS DOUBLE) - CAST(n_pos * (n_pos + 1) AS DOUBLE)) / " +
          "CAST(2 * n_pos * n_neg AS DOUBLE) AS auc FROM a"),
      // Spearman replayed: midrank windows per column, DECIMAL(19)-cast
      // products before the sums, the same cov/sqrt(va·vb) closing
      "q_spearman" ->
        ("WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS xa, " +
          "CAST(n_chars + doc_id % 50 AS DOUBLE) AS xb FROM documents " +
          "WHERE n_chars IS NOT NULL), " +
          "r AS (SELECT 2 * RANK() OVER (ORDER BY xa ASC) + COUNT(*) OVER (PARTITION BY xa) - 1 AS ra, " +
          "2 * RANK() OVER (ORDER BY xb ASC) + COUNT(*) OVER (PARTITION BY xb) - 1 AS rb FROM b), " +
          "a AS (SELECT COUNT(*) AS n, SUM(CAST(ra AS DECIMAL(38,0))) AS sa_, " +
          "SUM(CAST(rb AS DECIMAL(38,0))) AS sb_, " +
          "SUM(CAST(ra AS DECIMAL(19,0)) * CAST(ra AS DECIMAL(19,0))) AS qa, " +
          "SUM(CAST(rb AS DECIMAL(19,0)) * CAST(rb AS DECIMAL(19,0))) AS qb, " +
          "SUM(CAST(ra AS DECIMAL(19,0)) * CAST(rb AS DECIMAL(19,0))) AS sab FROM r) " +
          "SELECT CAST(n AS BIGINT) AS n, " +
          "(CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa_ AS DOUBLE) * CAST(sb_ AS DOUBLE)) / " +
          "SQRT((CAST(n AS DOUBLE) * CAST(qa AS DOUBLE) - CAST(sa_ AS DOUBLE) * CAST(sa_ AS DOUBLE)) * " +
          "(CAST(n AS DOUBLE) * CAST(qb AS DOUBLE) - CAST(sb_ AS DOUBLE) * CAST(sb_ AS DOUBLE))) AS rho FROM a"),
      // Welch's t replayed: the same decimal-gated conditional moments,
      // stepwise mean/variance/standard-error/t/df double chains
      "q_t_test" -> {
        val xx = "CAST(x * x AS DECIMAL(38,8))"
        def mo(tag: Int, n: String, s0: String, q: String) =
          s"COUNT(CASE WHEN s = $tag THEN $xx END) AS $n, " +
            s"CAST(SUM(CASE WHEN s = $tag AND $xx IS NOT NULL THEN CAST(x AS DECIMAL(38,4)) END) AS DOUBLE) AS $s0, " +
            s"CAST(SUM(CASE WHEN s = $tag THEN $xx END) AS DOUBLE) AS $q"
        "WITH u AS (SELECT CAST(n_chars AS DOUBLE) AS x, " +
          "CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS s FROM documents), " +
          s"a AS (SELECT ${mo(0, "n1", "s1", "q1")}, ${mo(1, "n2", "s2", "q2")} FROM u), " +
          "b AS (SELECT n1, n2, " +
          "CASE WHEN n1 > 0 THEN s1 / CAST(n1 AS DOUBLE) END AS m1, " +
          "CASE WHEN n2 > 0 THEN s2 / CAST(n2 AS DOUBLE) END AS m2, " +
          "CASE WHEN n1 > 1 THEN (q1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) END AS v1, " +
          "CASE WHEN n2 > 1 THEN (q2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) END AS v2 FROM a), " +
          "c2 AS (SELECT n1, n2, m1, m2, v1, v2, " +
          "v1 / CAST(n1 AS DOUBLE) AS se1, v2 / CAST(n2 AS DOUBLE) AS se2 FROM b) " +
          "SELECT n1 AS n_base, n2 AS n_other, m1 AS mean_base, m2 AS mean_other, " +
          "v1 AS var_base, v2 AS var_other, " +
          "CASE WHEN n1 > 1 AND n2 > 1 AND (se1 + se2) > 0 THEN (m1 - m2) / SQRT(se1 + se2) END AS t_stat, " +
          "CASE WHEN n1 > 1 AND n2 > 1 AND (se1 + se2) > 0 THEN " +
          "((se1 + se2) * (se1 + se2)) / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0) + " +
          "se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)) END AS df FROM c2"
      },
      // χ² homogeneity replayed: tag counts, window margins, per-cell
      // quantized (o−e)²/e pairs, decimal sum / 1e6
      "q_chi2_homogeneity" ->
        ("WITH u AS (SELECT CAST(source AS VARCHAR) AS v, " +
          "CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS s FROM documents WHERE source IS NOT NULL), " +
          "g AS (SELECT v, COUNT(CASE WHEN s = 0 THEN 1 END) AS ca, " +
          "COUNT(CASE WHEN s = 1 THEN 1 END) AS cb FROM u GROUP BY v), " +
          "w AS (SELECT ca, cb, SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb FROM g), " +
          "t AS (SELECT na, nb, CAST(FLOOR((" +
          "(CAST(ca AS DOUBLE) - CAST(ca + cb AS DOUBLE) * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE)) * " +
          "(CAST(ca AS DOUBLE) - CAST(ca + cb AS DOUBLE) * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE)) / " +
          "(CAST(ca + cb AS DOUBLE) * CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE)) + " +
          "(CAST(cb AS DOUBLE) - CAST(ca + cb AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE)) * " +
          "(CAST(cb AS DOUBLE) - CAST(ca + cb AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE)) / " +
          "(CAST(ca + cb AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(na + nb AS DOUBLE))" +
          ") * 1e6 + 0.5) AS BIGINT) AS term FROM w) " +
          "SELECT CAST(MAX(na) AS BIGINT) AS n_base, CAST(MAX(nb) AS BIGINT) AS n_other, " +
          "COUNT(*) AS n_values, " +
          "CAST(SUM(CAST(term AS DECIMAL(38,0))) AS DOUBLE) / 1e6 AS chi2, " +
          "COUNT(*) - 1 AS df FROM t"),
      // frequency encoding replayed: the same window count ratio
      "q_frequency_encode" ->
        ("SELECT c_custkey, c_mktsegment, " +
          "CAST(COUNT(*) OVER (PARTITION BY c_mktsegment) AS DOUBLE) / " +
          "CAST(COUNT(*) OVER () AS DOUBLE) AS c_mktsegment_freq FROM customer"),
      // smoothed target encoding replayed: exact decimal sums, the same
      // NaN-excluding CASE, the same (sum + m·gmean)/(n + m) order
      "q_target_encode_smoothed" -> {
        val tCase = "CASE WHEN NOT isnan(CAST(o_totalprice AS DOUBLE)) THEN o_totalprice END"
        val gMean = s"${dsumOver(tCase, "()")} / CAST(COUNT($tCase) OVER () AS DOUBLE)"
        s"SELECT o_orderkey, o_orderpriority, " +
          s"(${dsumOver(tCase, "(PARTITION BY o_orderpriority)")} + CAST('25.0' AS DOUBLE) * ($gMean)) / " +
          s"(CAST(COUNT($tCase) OVER (PARTITION BY o_orderpriority) AS DOUBLE) + CAST('25.0' AS DOUBLE)) " +
          s"AS o_orderpriority_target_enc_sm FROM orders"
      },
      // t-closeness replayed: same derived bucket, window shares, the
      // class-present TVD fold ½(Σ|p−q| + 1 − Σq) with per-term
      // quantization, HAVING above t
      "q_t_closeness" ->
        ("WITH t AS (SELECT c_mktsegment, c_nationkey, " +
          "CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS ab FROM customer), " +
          "j AS (SELECT c_mktsegment, c_nationkey, ab, COUNT(*) AS c, " +
          "SUM(COUNT(*)) OVER (PARTITION BY c_mktsegment, c_nationkey) AS nc, " +
          "SUM(COUNT(*)) OVER (PARTITION BY ab) AS gs, " +
          "SUM(COUNT(*)) OVER () AS tn FROM t GROUP BY 1, 2, 3), " +
          "cl AS (SELECT c_mktsegment, c_nationkey, CAST(MAX(nc) AS BIGINT) AS n, " +
          "CAST(FLOOR(CAST(SUM(CAST(FLOOR(ABS(CAST(c AS DOUBLE) / CAST(nc AS DOUBLE) - " +
          "CAST(gs AS DOUBLE) / CAST(tn AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)) + 1000000 - " +
          "SUM(CAST(FLOOR(CAST(gs AS DOUBLE) / CAST(tn AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) " +
          "AS DOUBLE) / 2.0 + 0.5) AS BIGINT) AS tvd_fp FROM j GROUP BY 1, 2) " +
          "SELECT c_mktsegment, c_nationkey, n, tvd_fp FROM cl WHERE tvd_fp > 300000"),
      // Gini replayed: sorted-count ranks, integer Σ i·c, the same
      // (2·Σic − (V+1)·n)/(V·n) closing
      "q_gini" ->
        ("WITH g AS (SELECT CAST(source AS VARCHAR) AS v, COUNT(*) AS cnt FROM documents GROUP BY 1), " +
          "r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt ASC, v ASC NULLS FIRST) AS i FROM g), " +
          "a AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS n_values, " +
          "SUM(CAST(i * cnt AS DECIMAL(38,0))) AS sic FROM r) " +
          "SELECT n, n_values, (2.0 * CAST(sic AS DOUBLE) - CAST((n_values + 1) * n AS DOUBLE)) / " +
          "CAST(n_values * n AS DOUBLE) AS gini FROM a"),
      // JSD replayed: per-value tag counts, window totals, exact IEEE
      // shares, per-value quantized d·ln(d) terms, the same
      // h_mix − (h_base + h_other)/2 closing order
      "q_jsd_profile" ->
        ("WITH u AS (SELECT CAST(source AS VARCHAR) AS v, " +
          "CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS s FROM documents WHERE source IS NOT NULL), " +
          "g AS (SELECT v, COUNT(CASE WHEN s = 0 THEN 1 END) AS ca, " +
          "COUNT(CASE WHEN s = 1 THEN 1 END) AS cb FROM u GROUP BY v), " +
          "w AS (SELECT ca, cb, SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb FROM g), " +
          "t2 AS (SELECT na, nb, CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS p, " +
          "CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS q, " +
          "(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0 AS m FROM w), " +
          "agg AS (SELECT CAST(MAX(na) AS BIGINT) AS n_base, CAST(MAX(nb) AS BIGINT) AS n_other, " +
          "COUNT(*) AS n_values, " +
          "SUM(CAST(CASE WHEN p > 0 THEN CAST(FLOOR(p * ln(p) * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS DECIMAL(38,0))) AS slp, " +
          "SUM(CAST(CASE WHEN q > 0 THEN CAST(FLOOR(q * ln(q) * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS DECIMAL(38,0))) AS slq, " +
          "SUM(CAST(CASE WHEN m > 0 THEN CAST(FLOOR(m * ln(m) * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS DECIMAL(38,0))) AS slm FROM t2) " +
          "SELECT n_base, n_other, n_values, h_base, h_other, h_mix, " +
          "h_mix - (h_base + h_other) / 2.0 AS jsd FROM (" +
          "SELECT n_base, n_other, n_values, -(CAST(slp AS DOUBLE) / 1e6) AS h_base, " +
          "-(CAST(slq AS DOUBLE) / 1e6) AS h_other, -(CAST(slm AS DOUBLE) / 1e6) AS h_mix FROM agg)"),
      // feature_relevance replayed: one MI-closing branch per feature
      // (source, derived size bucket), UNION ALL — matching the op's
      // melted one-scan output contract
      "q_feature_relevance" ->
        (frBranchS("CAST(source AS VARCHAR)", "source") + " UNION ALL " +
          frBranchS("CAST(CAST(FLOOR(n_chars / 500.0) AS BIGINT) AS VARCHAR)",
            "size_bucket")),
      // truncate+renorm replayed: first-16 slice, the round-regime
      // fixed-point norm, per-coordinate division
      "q_truncate_embeddings" ->
        ("WITH s AS (SELECT vec_id, embedding[1:16] AS e FROM embeddings WHERE embedding IS NOT NULL), " +
          "n AS (SELECT vec_id, SQRT(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm " +
          "FROM (SELECT vec_id, unnest(e) AS x FROM s) GROUP BY vec_id) " +
          "SELECT s.vec_id, CAST(generate_subscripts(s.e, 1) - 1 AS INTEGER) AS pos, " +
          "CAST(unnest(s.e) AS DOUBLE) / n.nrm AS val " +
          "FROM s JOIN n USING (vec_id) WHERE n.nrm > 0"),
      // isotonic model pinned: bucket counts are pure integer arithmetic
      // over the range fixture; the PAV pool (buckets 4..6 → 712375) and
      // the floor(pos/n + 0.5) rounding were verified offline
      "q_isotonic_model" ->
        ("SELECT * FROM (VALUES " +
          "(CAST(0 AS BIGINT), CAST(103 AS BIGINT), CAST(4000000 AS BIGINT), CAST(38835 AS BIGINT)), " +
          "(1, 100, 14000000, 140000), (2, 100, 25000000, 250000), " +
          "(3, 99, 33000000, 333333), (4, 100, 90000000, 712375), " +
          "(5, 100, 57000000, 712375), (6, 99, 66000000, 712375), " +
          "(7, 100, 75000000, 750000), (8, 100, 86000000, 860000), " +
          "(9, 99, 95000000, 959596)) AS t(bucket, n, pos_fp, cal_fp)"),
      // isotonic scoring replayed: the same float bucket mapping joined
      // against the pinned model
      "q_isotonic_score" ->
        ("WITH m(bucket, cal_fp) AS (VALUES (CAST(0 AS BIGINT), CAST(38835 AS BIGINT)), " +
          "(1, 140000), (2, 250000), (3, 333333), (4, 712375), (5, 712375), " +
          "(6, 712375), (7, 750000), (8, 860000), (9, 959596)), " +
          "r AS (SELECT id, CAST(id % 997 AS DOUBLE) / 997.0 AS score FROM range(1000) t(id)) " +
          "SELECT r.id, r.score, m.cal_fp AS score_cal_fp, " +
          "CAST(m.cal_fp AS DOUBLE) / 1e6 AS score_cal FROM r JOIN m " +
          "ON m.bucket = LEAST(CAST(FLOOR(r.score * 10.0) AS BIGINT), 9)"),
      // KS replayed: per-value tag counts, cumulative windows over the
      // distinct values, 1e-6 quantization of each ECDF before the
      // difference, MAX of the integer gaps
      "q_ks_profile" ->
        ("WITH u AS (SELECT CAST(n_chars AS DOUBLE) AS v, " +
          "CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS s FROM documents WHERE n_chars IS NOT NULL), " +
          "g AS (SELECT v, COUNT(CASE WHEN s = 0 THEN 1 END) AS ca, " +
          "COUNT(CASE WHEN s = 1 THEN 1 END) AS cb FROM u GROUP BY v), " +
          "w AS (SELECT SUM(ca) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma, " +
          "SUM(cb) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb, " +
          "SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb FROM g) " +
          "SELECT CAST(MAX(na) AS BIGINT) AS n_base, CAST(MAX(nb) AS BIGINT) AS n_other, " +
          "MAX(ABS(CAST(FLOOR(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE) * 1e6 + 0.5) AS BIGINT) - " +
          "CAST(FLOOR(CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE) * 1e6 + 0.5) AS BIGINT))) AS ks_fp FROM w"),
      // MI replayed: joint counts once, marginals re-aggregated from the
      // joint frame, the entropyProfile quantized-ln closing for all
      // three entropies, MI as (h_a + h_b) − h_ab in the same order
      "q_mutual_information" ->
        ("WITH j AS (SELECT CAST(lang AS VARCHAR) AS va, CAST(source AS VARCHAR) AS vb, COUNT(*) AS cab " +
          "FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2), " +
          "ja AS (SELECT SUM(cab) AS n, COUNT(*) AS n_ab, " +
          "SUM(CAST(CAST(FLOOR(CAST(cab AS DOUBLE) * LN(CAST(cab AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS slnab FROM j), " +
          "ma AS (SELECT va, SUM(cab) AS cm FROM j GROUP BY va), " +
          "aa AS (SELECT COUNT(*) AS n_a, " +
          "SUM(CAST(CAST(FLOOR(CAST(cm AS DOUBLE) * LN(CAST(cm AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS slna FROM ma), " +
          "mb AS (SELECT vb, SUM(cab) AS cm FROM j GROUP BY vb), " +
          "bb AS (SELECT COUNT(*) AS n_b, " +
          "SUM(CAST(CAST(FLOOR(CAST(cm AS DOUBLE) * LN(CAST(cm AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS slnb FROM mb) " +
          "SELECT n, n_a, n_b, n_ab, h_a, h_b, h_ab, (h_a + h_b) - h_ab AS mi FROM (" +
          "SELECT CAST(n AS BIGINT) AS n, n_a, n_b, n_ab, " +
          "FLOOR(LN(CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 - (CAST(slna AS DOUBLE) / 1000000) / CAST(n AS DOUBLE) AS h_a, " +
          "FLOOR(LN(CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 - (CAST(slnb AS DOUBLE) / 1000000) / CAST(n AS DOUBLE) AS h_b, " +
          "FLOOR(LN(CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 - (CAST(slnab AS DOUBLE) / 1000000) / CAST(n AS DOUBLE) AS h_ab " +
          "FROM ja CROSS JOIN aa CROSS JOIN bb) WHERE n IS NOT NULL"),
      // cluster_eval replayed: exact decimal centroids (the
      // q_group_centroid fold), fixed-point row×centroid dots and norms
      // (the FixedPointDot round() regime), per-row 1e-6 quantization of
      // intra distance and simplified silhouette, integer means
      "q_cluster_eval" ->
        ("WITH rn AS (SELECT vec_id, SQRT(CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT)) AS DOUBLE) / 1e12) AS nrm " +
          "FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id), " +
          "base AS (SELECT e.vec_id, e.label, e.embedding, rn.nrm FROM embeddings e JOIN rn USING (vec_id) " +
          "WHERE e.label IS NOT NULL AND e.embedding IS NOT NULL AND NOT isnan(rn.nrm) AND rn.nrm > 0 " +
          "AND len(list_filter(e.embedding, x -> isnan(CAST(x AS DOUBLE)))) = 0), " +
          "cd AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS val FROM base), " +
          "cent AS (SELECT label, pos, CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / COUNT(val) / 1e12 AS cv " +
          "FROM cd GROUP BY label, pos), " +
          "cn AS (SELECT label, SQRT(CAST(SUM(CAST(FLOOR(cv * cv * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12) AS cnrm FROM cent GROUP BY label), " +
          "rx AS (SELECT vec_id, label, nrm, generate_subscripts(embedding, 1) - 1 AS pos, CAST(unnest(embedding) AS DOUBLE) AS x FROM base), " +
          "dots AS (SELECT r.vec_id, r.label, r.nrm, c.label AS label2, " +
          "CAST(SUM(CAST(round(r.x * c.cv * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS dot " +
          "FROM rx r JOIN cent c ON r.pos = c.pos GROUP BY r.vec_id, r.label, r.nrm, c.label), " +
          "dist AS (SELECT d.vec_id, d.label, d.label2, 1.0 - d.dot / d.nrm / cn.cnrm AS dd " +
          "FROM dots d JOIN cn ON cn.label = d.label2), " +
          "ab AS (SELECT vec_id, label, MIN(CASE WHEN label2 = label THEN dd END) AS a, " +
          "MIN(CASE WHEN label2 <> label THEN dd END) AS b FROM dist GROUP BY vec_id, label), " +
          "prw AS (SELECT label, CAST(FLOOR(a * 1e6 + 0.5) AS BIGINT) AS afp, " +
          "CAST(FLOOR((CASE WHEN GREATEST(a, b) > 0 THEN (b - a) / GREATEST(a, b) ELSE 0 END) * 1e6 + 0.5) AS BIGINT) AS sfp FROM ab) " +
          "SELECT label, COUNT(*) AS n, " +
          "CAST(FLOOR(CAST(SUM(afp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS intra_fp, " +
          "CAST(FLOOR(CAST(SUM(sfp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS sil_fp " +
          "FROM prw GROUP BY label"),
      // quantile normalization replayed: per-source RANK/COUNT windows,
      // pooled ROW_NUMBER lookup table, the same LEAST-before-CAST
      // CEIL(r·N/n) index arithmetic (IEEE doubles in both engines)
      "q_quantile_normalize" ->
        ("WITH s AS (SELECT doc_id, source, n_chars, " +
          "RANK() OVER (PARTITION BY source ORDER BY CAST(n_chars AS DOUBLE) ASC NULLS LAST) AS r, " +
          "COUNT(CAST(n_chars AS DOUBLE)) OVER (PARTITION BY source) AS gn FROM documents), " +
          "nn AS (SELECT COUNT(CAST(n_chars AS DOUBLE)) AS tot FROM documents), " +
          "rr AS (SELECT CAST(n_chars AS DOUBLE) AS v, " +
          "ROW_NUMBER() OVER (ORDER BY CAST(n_chars AS DOUBLE) ASC) AS rk " +
          "FROM documents WHERE n_chars IS NOT NULL) " +
          "SELECT s.doc_id, s.source, s.n_chars, rr.v AS n_chars_qnorm " +
          "FROM s CROSS JOIN nn LEFT JOIN rr ON rr.rk = " +
          "GREATEST(1, CAST(LEAST(CAST(tot AS DOUBLE), " +
          "CEIL(CAST(r AS DOUBLE) * CAST(tot AS DOUBLE) / CAST(gn AS DOUBLE))) AS BIGINT))"),
      // rank_eval replayed: same synthetic run/qrels, per-term 1e-6
      // quantization before every integer sum, division-before-multiply
      // matching the op's fpq(x) = floor(x*1e6 + 0.5) evaluation order
      "q_rank_eval" ->
        ("WITH ds AS (SELECT doc_id FROM documents WHERE doc_id < 60), " +
          "qs AS (SELECT unnest(range(0, 5)) AS query_id), " +
          "grid AS (SELECT query_id, doc_id, (doc_id * 37 + query_id * 17) % 101 AS score FROM qs, ds), " +
          "run AS (SELECT query_id, doc_id, CAST(ROW_NUMBER() OVER " +
          "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank FROM grid " +
          "QUALIFY rank <= 10), " +
          "qrels AS (SELECT query_id, doc_id FROM qs, ds WHERE doc_id % 5 = query_id), " +
          "rel AS (SELECT r.query_id, r.rank, CAST(ROW_NUMBER() OVER " +
          "(PARTITION BY r.query_id ORDER BY r.rank) AS BIGINT) AS hi FROM run r JOIN qrels q " +
          "ON r.query_id = q.query_id AND r.doc_id = q.doc_id WHERE r.rank BETWEEN 1 AND 10), " +
          "ha AS (SELECT query_id, COUNT(*) AS hits, MIN(CAST(rank AS BIGINT)) AS minr, " +
          "CAST(SUM(CAST(FLOOR(1.0 / log2(CAST(rank AS DOUBLE) + 1.0) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS dcg_fp, " +
          "CAST(SUM(CAST(FLOOR(CAST(hi AS DOUBLE) / CAST(rank AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS ap_num " +
          "FROM rel GROUP BY query_id), " +
          "bq AS (SELECT query_id, COUNT(*) AS n_rel FROM qrels GROUP BY query_id) " +
          "SELECT bq.query_id, bq.n_rel, COALESCE(hits, 0) AS hits, " +
          "CAST(FLOOR(CAST(COALESCE(hits, 0) AS DOUBLE) * 1.0 / CAST(n_rel AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS recall_fp, " +
          "CASE WHEN minr IS NULL THEN 0 ELSE CAST(FLOOR(1.0 / CAST(minr AS DOUBLE) * 1e6 + 0.5) AS BIGINT) END AS rr_fp, " +
          "CAST(COALESCE(dcg_fp, 0) AS BIGINT) AS dcg_fp, " +
          "CAST(list_sum(list_transform(range(1, LEAST(n_rel, 10) + 1), " +
          "r -> CAST(FLOOR(1.0 / log2(CAST(r AS DOUBLE) + 1.0) * 1e6 + 0.5) AS BIGINT))) AS BIGINT) AS idcg_fp, " +
          "CASE WHEN COALESCE(dcg_fp, 0) = 0 THEN 0 ELSE " +
          "CAST(FLOOR(CAST(dcg_fp AS DOUBLE) / CAST(list_sum(list_transform(range(1, LEAST(n_rel, 10) + 1), " +
          "r -> CAST(FLOOR(1.0 / log2(CAST(r AS DOUBLE) + 1.0) * 1e6 + 0.5) AS BIGINT))) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) END AS ndcg_fp, " +
          "CAST(COALESCE(ap_num, 0) // n_rel AS BIGINT) AS ap_fp " +
          "FROM bq LEFT JOIN ha USING (query_id)"),
      // grouped split: the md5-threshold decision is a pure function of
      // the source key — identical in any engine
      "q_split_by_group" ->
        ("SELECT *, CASE WHEN md5(CAST(source AS VARCHAR)) < '800000000000000' " +
          "THEN 'TRAIN' ELSE 'TEST' END AS tt_split FROM documents"),
      "q_sim_topk_hamming" ->
        ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(12 AS BIGINT), CAST(1 AS INTEGER)), " +
          "(0, 16, 2), (0, 4, 3), (0, 8, 4), (0, 20, 5), " +
          "(1, 17, 1), (1, 13, 2), (1, 5, 3), (1, 21, 4), (1, 9, 5), " +
          "(2, 18, 1), (2, 14, 2), (2, 6, 3), (2, 10, 4), (2, 22, 5), " +
          "(3, 15, 1), (3, 19, 2), (3, 7, 3), (3, 11, 4), (3, 23, 5)) " +
          "AS t(query_id, neighbor_id, rank)"),
      // IVF probe (nprobe 2 of 4 cells over the 4-cluster lattice) recalls
      // the full cluster lists — same pinned rows as the sketch-rerank
      // face; the saved-index path must answer identically
      "q_sim_topk_ivf" ->
        ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(12 AS BIGINT), CAST(1 AS INTEGER)), " +
          "(0, 16, 2), (0, 4, 3), (0, 8, 4), (0, 20, 5), " +
          "(1, 17, 1), (1, 13, 2), (1, 5, 3), (1, 21, 4), (1, 9, 5), " +
          "(2, 18, 1), (2, 14, 2), (2, 6, 3), (2, 10, 4), (2, 22, 5), " +
          "(3, 15, 1), (3, 19, 2), (3, 7, 3), (3, 11, 4), (3, 23, 5)) " +
          "AS t(query_id, neighbor_id, rank)"),
      "q_sim_topk_ivf_index" ->
        ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(12 AS BIGINT), CAST(1 AS INTEGER)), " +
          "(0, 16, 2), (0, 4, 3), (0, 8, 4), (0, 20, 5), " +
          "(1, 17, 1), (1, 13, 2), (1, 5, 3), (1, 21, 4), (1, 9, 5), " +
          "(2, 18, 1), (2, 14, 2), (2, 6, 3), (2, 10, 4), (2, 22, 5), " +
          "(3, 15, 1), (3, 19, 2), (3, 7, 3), (3, 11, 4), (3, 23, 5)) " +
          "AS t(query_id, neighbor_id, rank)"),
      // BM25 over the fixtures: each query retrieves itself first or
      // second (1 and 2 are near-dups sharing almost all terms), then the
      // garden-themed doc 8
      "q_search_bm25" ->
        ("SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS INTEGER)), " +
          "(1, 2, 2), (1, 8, 3), (2, 2, 1), (2, 1, 2), (2, 8, 3)) " +
          "AS t(query_id, doc_id, rank)"),
      // near-dup pairs (1,2) (3,4) (5,6) cluster; the lowest id of each
      // survives next to the five distinct docs
      "q_dedup_near_minhash" ->
        ("SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (3), (5), (7), (8), (9), (10)) " +
          "AS t(doc_id)"),
      // odd-id batch vs even-id indexed history: 1, 3, 5 near-duplicate
      // their indexed partners and drop; 7, 9 survive
      "q_dedup_incremental" ->
        "SELECT * FROM (VALUES (CAST(7 AS BIGINT)), (9)) AS t(doc_id)",
      // batch vectors 12, 16, 20 exceed the 0.9921 cosine vs indexed
      // history (first lattice cluster) and drop; the rest survive
      "q_dedup_incremental_sem" ->
        ("SELECT * FROM (VALUES (CAST(13 AS BIGINT)), (14), (15), (17), (18), (19), " +
          "(21), (22), (23)) AS t(vec_id)"),
      // ADC-screened incremental dedup: survivors are the batch rows whose
      // min distance to the history codes exceeds 1.0 (pinned kernel values)
      "q_dedup_incremental_pq" ->
        ("SELECT * FROM (VALUES (CAST(12 AS BIGINT)), (13), (14), (15), (23)) " +
          "AS t(vec_id)"),
      // the multi-probe LSH ranking recalls the full cluster lists — same
      // pinned rows as the sketch-rerank face
      "q_sim_topk_lsh" ->
        ("SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(12 AS BIGINT), CAST(1 AS INTEGER)), " +
          "(0, 16, 2), (0, 4, 3), (0, 8, 4), (0, 20, 5), " +
          "(1, 17, 1), (1, 13, 2), (1, 5, 3), (1, 21, 4), (1, 9, 5), " +
          "(2, 18, 1), (2, 14, 2), (2, 6, 3), (2, 10, 4), (2, 22, 5), " +
          "(3, 15, 1), (3, 19, 2), (3, 7, 3), (3, 11, 4), (3, 23, 5)) " +
          "AS t(query_id, neighbor_id, rank)"),
      "q_multimodal_decode" ->
        s"SELECT *, CAST($blen AS INTEGER) AS byte_len, CAST(64 + ($blen % 576) AS INTEGER) AS width, CAST(64 + (($blen * 7) % 416) AS INTEGER) AS height, CASE WHEN (ascii(substr(text, 1, 1)) % 2) = 0 THEN 'png' ELSE 'jpeg' END AS format, CAST(1 + ($blen % 8) AS INTEGER) AS n_frames FROM documents",
      "q_multimodal_frames" ->
        s"SELECT doc_id, n_frames, CAST(f AS INTEGER) AS frame_idx FROM (SELECT doc_id, n_frames, unnest(range(0, n_frames, 2)) AS f FROM (SELECT doc_id, CAST(1 + ($blen % 8) AS INTEGER) AS n_frames FROM documents))",
      "q_multimodal_resize" ->
        (s"SELECT doc_id, CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height, " +
          s"CAST(((COALESCE($blen, 0) + 4096) % 977) + 16 AS INTEGER) AS byte_len FROM documents"),
      "q_media_pipeline" ->
        (s"WITH m AS (SELECT doc_id, $blen AS len, 64 + ($blen % 576) AS width, " +
          "CASE WHEN (ascii(substr(text, 1, 1)) % 2) = 0 THEN 'png' ELSE 'jpeg' END AS format FROM documents), " +
          "f AS (SELECT format, ((len + 4096) % 977) + 16 AS rlen FROM m WHERE width >= 300) " +
          "SELECT format, COUNT(*) AS n_docs, COUNT(DISTINCT rlen) AS n_vecs FROM f GROUP BY format"),
      "q_multimodal_features" ->
        (s"SELECT doc_id, CAST(i AS INTEGER) AS pos, " +
          s"CAST((COALESCE($blen, 0) * (i + 1) % 100003) * 2654435761 % 1024 AS DOUBLE) / 1024 AS fval " +
          "FROM documents, LATERAL (SELECT unnest(range(0, 4)) AS i) u"),
      // literal expectations per fixture byte layout (PNG 64x48, JPEG SOF0
      // 64x48, GIF 320x200 with 2 image descriptors, BMP 10x20, unknown blob)
      "q_multimodal_real" ->
        ("SELECT * FROM (VALUES (1, 24, 64, 48, 'png', 1), (2, 12, 64, 48, 'jpeg', 1), " +
          "(3, 42, 320, 200, 'gif', 2), (4, 26, 10, 20, 'bmp', 1), " +
          "(5, 8, 0, 0, 'unknown', 1)) AS t(media_id, byte_len, width, height, format, n_frames)"),
      // literal expectations per fixture byte layout (stereo 16-bit 44.1k
      // WAV: 400/4 = 100 samples -> 2 ms; mono 8-bit 8k WAV: 160 samples
      // -> 20 ms; 2-frame 128 kbps MP3: 2304 samples -> 52 ms)
      "q_multimodal_audio" ->
        ("SELECT * FROM (VALUES (1, 444, 44100, 2, 16, CAST(100 AS BIGINT), CAST(2 AS BIGINT), 'wav'), " +
          "(2, 204, 8000, 1, 8, CAST(160 AS BIGINT), CAST(20 AS BIGINT), 'wav'), " +
          "(3, 834, 44100, 2, 0, CAST(2304 AS BIGINT), CAST(52 AS BIGINT), 'mp3'), " +
          "(4, 7, 0, 0, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT), 'unknown')) " +
          "AS t(audio_id, byte_len, sample_rate, channels, bits_per_sample, n_samples, duration_ms, audio_format)"),
      "q_events_tumbling" ->
        s"SELECT date_trunc('hour', $evT) AS window_start, event_type, COUNT(*) AS n_events, ${dsum("value")} AS value_sum FROM events GROUP BY 1, 2",
      "q_events_sliding" ->
        s"SELECT ws AS window_start, event_type, COUNT(*) AS n_events, ${dsum("value")} AS value_sum FROM (SELECT time_bucket(INTERVAL 30 MINUTE, $evT) AS ws, event_type, value FROM events UNION ALL SELECT time_bucket(INTERVAL 30 MINUTE, $evT) - INTERVAL 30 MINUTE, event_type, value FROM events) GROUP BY 1, 2",
      "q_events_drift" -> {
        // driftByWindow replayed: hour windows, ref = global mix, the
        // eps-floored fixed-point PSI arithmetic of the psi_* oracles
        val epsS = "CAST('1.0E-6' AS DOUBLE)"
        def g(cnt: String, tot: String) =
          s"GREATEST(CAST($cnt AS DOUBLE) / $tot, $epsS)"
        val termS = s"(${g("cnt_base", "tb")} - ${g("cnt_other", "tot")}) * " +
          s"(FLOOR(LN(${g("cnt_base", "tb")} / ${g("cnt_other", "tot")}) * 1000000 + 0.5) / 1000000)"
        s"WITH ref AS (SELECT CAST(event_type AS VARCHAR) AS value, COUNT(*) AS cnt_base FROM events WHERE event_type IS NOT NULL GROUP BY 1), " +
          s"wc AS (SELECT date_trunc('hour', $evT) AS window_start, CAST(event_type AS VARCHAR) AS value, COUNT(*) AS cnt_other FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2), " +
          "grid AS (SELECT window_start, value, cnt_base FROM (SELECT DISTINCT window_start FROM wc) CROSS JOIN ref), " +
          "j AS (SELECT window_start, value, CAST(COALESCE(cnt_base, 0) AS BIGINT) AS cnt_base, CAST(COALESCE(cnt_other, 0) AS BIGINT) AS cnt_other FROM grid FULL JOIN wc USING (window_start, value)), " +
          "t AS (SELECT window_start, CAST(SUM(cnt_base) AS DOUBLE) AS tb, CAST(SUM(cnt_other) AS DOUBLE) AS tot FROM j GROUP BY 1), " +
          s"y AS (SELECT window_start, value, cnt_base, cnt_other, $termS AS psi_term FROM j JOIN t USING (window_start)), " +
          "z AS (SELECT window_start, CAST(SUM(CAST(FLOOR(psi_term * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000 AS psi_total FROM y GROUP BY 1) " +
          "SELECT window_start, value, cnt_base, cnt_other, psi_term, psi_total FROM y JOIN z USING (window_start)"
      },
      "q_events_drift_num" -> {
        // driftByWindowNumeric replayed: psiProfile's equal-width binning
        // (x = hi folds into the top bucket, null/NaN/out-of-range
        // excluded), a spine-complete reference broadcast onto the
        // distinct-window grid, then the eps-floored fixed-point PSI
        val loS = "CAST('0.0' AS DOUBLE)"; val wS = "CAST('16.0' AS DOUBLE)"
        val hiS = "CAST('256.0' AS DOUBLE)"
        val epsS = "CAST('1.0E-6' AS DOUBLE)"
        val xS = "CAST(value AS DOUBLE)"
        val inS = s"value IS NOT NULL AND NOT isnan($xS) AND $xS >= $loS AND $xS <= $hiS"
        val bS = s"LEAST(CAST(FLOOR(($xS - $loS) / $wS) AS BIGINT), 15)"
        def g(cnt: String, tot: String) =
          s"GREATEST(CAST($cnt AS DOUBLE) / $tot, $epsS)"
        val termS = s"(${g("cnt_base", "tb")} - ${g("cnt_other", "tot")}) * " +
          s"(FLOOR(LN(${g("cnt_base", "tb")} / ${g("cnt_other", "tot")}) * 1000000 + 0.5) / 1000000)"
        s"WITH sp AS (SELECT range AS bucket FROM range(0, 16)), " +
          s"rf AS (SELECT $bS AS bucket, COUNT(*) AS cb FROM events WHERE $inS GROUP BY 1), " +
          "ref AS (SELECT bucket, CAST(COALESCE(cb, 0) AS BIGINT) AS cnt_base FROM sp LEFT JOIN rf USING (bucket)), " +
          s"wc AS (SELECT date_trunc('hour', $evT) AS window_start, $bS AS bucket, COUNT(*) AS co FROM events WHERE $inS GROUP BY 1, 2), " +
          "grid AS (SELECT window_start, bucket, cnt_base FROM (SELECT DISTINCT window_start FROM wc) CROSS JOIN ref), " +
          "j AS (SELECT window_start, bucket, cnt_base, CAST(COALESCE(co, 0) AS BIGINT) AS cnt_other FROM grid LEFT JOIN wc USING (window_start, bucket)), " +
          "t AS (SELECT window_start, CAST(SUM(cnt_base) AS DOUBLE) AS tb, CAST(SUM(cnt_other) AS DOUBLE) AS tot FROM j GROUP BY 1), " +
          s"y AS (SELECT window_start, bucket, cnt_base, cnt_other, $termS AS psi_term FROM j JOIN t USING (window_start)), " +
          "z AS (SELECT window_start, CAST(SUM(CAST(FLOOR(psi_term * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000 AS psi_total FROM y GROUP BY 1) " +
          s"SELECT window_start, bucket, $loS + bucket * $wS AS bucket_lo, $loS + (bucket + 1) * $wS AS bucket_hi, " +
          "cnt_base, cnt_other, psi_term, psi_total FROM y JOIN z USING (window_start)"
      },
      "q_events_drift_quantile" -> {
        // driftByWindowQuantile replayed: inclusive-rank reference
        // quartile cutoffs, bucket = #cutoffs strictly below x, then the
        // per-window eps-floored fixed-point PSI of q_events_drift_num
        val epsS = "CAST('1.0E-6' AS DOUBLE)"
        val xS = "CAST(value AS DOUBLE)"
        val okS = s"value IS NOT NULL AND NOT isnan($xS)"
        def cut(p: String) = s"MIN(CASE WHEN CAST(rn AS DOUBLE) >= CAST('$p' AS DOUBLE) * CAST(n AS DOUBLE) THEN x END)"
        val bS = "CASE WHEN x > c3 THEN 3 WHEN x > c2 THEN 2 WHEN x > c1 THEN 1 ELSE 0 END"
        def g(cnt: String, tot: String) = s"GREATEST(CAST($cnt AS DOUBLE) / $tot, $epsS)"
        val termS = s"(${g("cnt_base", "tb")} - ${g("cnt_other", "tot")}) * " +
          s"(FLOOR(LN(${g("cnt_base", "tb")} / ${g("cnt_other", "tot")}) * 1000000 + 0.5) / 1000000)"
        s"WITH rv AS (SELECT $xS AS x FROM events WHERE event_id % 50 = 0 AND $okS), " +
          "r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn, COUNT(*) OVER () AS n FROM rv), " +
          s"cu AS (SELECT ${cut("0.25")} AS c1, ${cut("0.5")} AS c2, ${cut("0.75")} AS c3 FROM r), " +
          s"rb AS (SELECT $bS AS bucket, COUNT(*) AS cb FROM rv CROSS JOIN cu GROUP BY 1), " +
          "ref AS (SELECT bucket, CAST(COALESCE(cb, 0) AS BIGINT) AS cnt_base FROM " +
          "(SELECT range AS bucket FROM range(0, 4)) sp LEFT JOIN rb USING (bucket)), " +
          s"ev AS (SELECT date_trunc('hour', $evT) AS window_start, $xS AS x FROM events WHERE $okS), " +
          s"wc AS (SELECT window_start, $bS AS bucket, COUNT(*) AS co FROM ev CROSS JOIN cu GROUP BY 1, 2), " +
          "grid AS (SELECT window_start, bucket, cnt_base FROM (SELECT DISTINCT window_start FROM wc) CROSS JOIN ref), " +
          "j AS (SELECT window_start, bucket, cnt_base, CAST(COALESCE(co, 0) AS BIGINT) AS cnt_other FROM grid LEFT JOIN wc USING (window_start, bucket)), " +
          "t AS (SELECT window_start, CAST(SUM(cnt_base) AS DOUBLE) AS tb, CAST(SUM(cnt_other) AS DOUBLE) AS tot FROM j GROUP BY 1), " +
          s"y AS (SELECT window_start, bucket, cnt_base, cnt_other, $termS AS psi_term FROM j JOIN t USING (window_start)), " +
          "z AS (SELECT window_start, CAST(SUM(CAST(FLOOR(psi_term * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000 AS psi_total FROM y GROUP BY 1) " +
          "SELECT window_start, bucket, CASE bucket WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3 END AS cut_lo, " +
          "CASE bucket WHEN 0 THEN c1 WHEN 1 THEN c2 WHEN 2 THEN c3 END AS cut_hi, " +
          "cnt_base, cnt_other, psi_term, psi_total FROM y JOIN z USING (window_start) CROSS JOIN cu"
      },
      "q_distinct_window" ->
        (s"SELECT date_trunc('hour', $evT) AS window_start, event_type, " +
          "COUNT(DISTINCT user_id) AS n_distinct, COUNT(user_id) AS n " +
          "FROM events GROUP BY 1, 2"),
      "q_heavy_hitters_window" -> {
        // exact-regime frequent-items readout = the literal per-window
        // count census, ranked (cnt DESC, item ASC), top 5
        s"WITH c AS (SELECT date_trunc('hour', $evT) AS window_start, " +
          "CAST(user_id AS VARCHAR) AS item, COUNT(*) AS cnt FROM events " +
          "WHERE user_id IS NOT NULL GROUP BY 1, 2), " +
          "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start " +
          "ORDER BY cnt DESC, item ASC) AS rank FROM c) " +
          "SELECT window_start, item, cnt, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5"
      },
      "q_heavy_hitters_sliding" -> {
        // hopping: each event enumerated into BOTH 1-hour windows that
        // contain it (the q_events_quantiles_sliding convention), then
        // the same exact-regime ranked census per window
        s"WITH u AS (SELECT time_bucket(INTERVAL 30 MINUTE, $evT) AS window_start, " +
          "CAST(user_id AS VARCHAR) AS item FROM events WHERE user_id IS NOT NULL " +
          s"UNION ALL SELECT time_bucket(INTERVAL 30 MINUTE, $evT) - INTERVAL 30 MINUTE, " +
          "CAST(user_id AS VARCHAR) FROM events WHERE user_id IS NOT NULL), " +
          "c AS (SELECT window_start, item, COUNT(*) AS cnt FROM u GROUP BY 1, 2), " +
          "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start " +
          "ORDER BY cnt DESC, item ASC) AS rank FROM c) " +
          "SELECT window_start, item, cnt, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 5"
      },
      "q_funnel_latency" -> {
        // the greedy chain's completion times replayed, then the KLL
        // exact-regime inclusive-rank search over per-user latencies
        // microsecond granularity then one double division — see the op's
        // truncation-vs-boundary-crossing note
        def lat(join: String) =
          s"SELECT CAST(lat AS DOUBLE) / 1000000.0 AS lat, ROW_NUMBER() OVER (ORDER BY lat) AS rn, " +
            s"COUNT(*) OVER () AS n FROM (SELECT date_diff('microsecond', s1.tp, $join) AS lat"
        def branch(i: Int, st: String, src: String, p: String) =
          s"SELECT $i AS step, '$st' AS step_value, CAST('$p' AS DOUBLE) AS prob, " +
            s"MIN(CASE WHEN CAST(rn AS DOUBLE) >= CAST('$p' AS DOUBLE) * CAST(n AS DOUBLE) THEN lat END) AS seconds, " +
            s"COUNT(*) AS n FROM $src HAVING COUNT(*) > 0"
        s"WITH e AS (SELECT user_id, $evT AS t, event_type FROM events), " +
          "s1 AS (SELECT user_id, MIN(t) AS tp FROM e WHERE event_type = 'signup' GROUP BY 1), " +
          "s2 AS (SELECT e.user_id, MIN(t) AS tp FROM e JOIN s1 USING (user_id) WHERE event_type = 'click' AND t > s1.tp GROUP BY 1), " +
          "s3 AS (SELECT e.user_id, MIN(t) AS tp FROM e JOIN s2 USING (user_id) WHERE event_type = 'purchase' AND t > s2.tp GROUP BY 1), " +
          s"r2 AS (${lat("s2.tp")} FROM s2 JOIN s1 USING (user_id))), " +
          s"r3 AS (${lat("s3.tp")} FROM s3 JOIN s1 USING (user_id))) " +
          Seq(branch(2, "click", "r2", "0.5"), branch(2, "click", "r2", "0.95"),
            branch(3, "purchase", "r3", "0.5"), branch(3, "purchase", "r3", "0.95"))
            .mkString(" UNION ALL ")
      },
      "q_funnel_within" -> {
        // the deadline variant: each later step must also land within
        // 1 day of the user's step-1 time (t1 carried through the chain)
        val n1 = "(SELECT COUNT(*) FROM s1)"
        def row(i: Int, st: String) =
          s"SELECT $i AS step, '$st' AS step_value, (SELECT COUNT(*) FROM s$i) AS n_users"
        s"WITH e AS (SELECT user_id, $evT AS t, event_type FROM events), " +
          "s1 AS (SELECT user_id, MIN(t) AS tp, MIN(t) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1), " +
          "s2 AS (SELECT e.user_id, MIN(t) AS tp, MIN(s1.t1) AS t1 FROM e JOIN s1 USING (user_id) " +
          "WHERE event_type = 'click' AND t > s1.tp AND t <= s1.t1 + INTERVAL 1 DAY GROUP BY 1), " +
          "s3 AS (SELECT e.user_id, MIN(t) AS tp FROM e JOIN s2 USING (user_id) " +
          "WHERE event_type = 'purchase' AND t > s2.tp AND t <= s2.t1 + INTERVAL 1 DAY GROUP BY 1) " +
          s"SELECT step, step_value, n_users, CASE WHEN $n1 = 0 THEN NULL ELSE " +
          s"CAST(n_users AS DOUBLE) / CAST($n1 AS DOUBLE) END AS conv_rate FROM (" +
          Seq(row(1, "signup"), row(2, "click"), row(3, "purchase")).mkString(" UNION ALL ") + ")"
      },
      "q_funnel" -> {
        // the sequential greedy chain replayed: t_k = earliest step-k
        // event strictly after t_{k-1}; conv_rate = n_k / n_1 exact
        val n1 = "(SELECT COUNT(*) FROM s1)"
        def row(i: Int, st: String) =
          s"SELECT $i AS step, '$st' AS step_value, (SELECT COUNT(*) FROM s$i) AS n_users"
        s"WITH e AS (SELECT user_id, $evT AS t, event_type FROM events), " +
          "s1 AS (SELECT user_id, MIN(t) AS tp FROM e WHERE event_type = 'signup' GROUP BY 1), " +
          "s2 AS (SELECT e.user_id, MIN(t) AS tp FROM e JOIN s1 USING (user_id) WHERE event_type = 'click' AND t > s1.tp GROUP BY 1), " +
          "s3 AS (SELECT e.user_id, MIN(t) AS tp FROM e JOIN s2 USING (user_id) WHERE event_type = 'purchase' AND t > s2.tp GROUP BY 1) " +
          s"SELECT step, step_value, n_users, CASE WHEN $n1 = 0 THEN NULL ELSE " +
          s"CAST(n_users AS DOUBLE) / CAST($n1 AS DOUBLE) END AS conv_rate FROM (" +
          Seq(row(1, "signup"), row(2, "click"), row(3, "purchase")).mkString(" UNION ALL ") + ")"
      },
      "q_cohort_retention" -> {
        s"WITH a AS (SELECT DISTINCT user_id, CAST($evT AS DATE) AS d FROM events), " +
          "c AS (SELECT user_id, MIN(d) AS cd FROM a GROUP BY 1), " +
          "j AS (SELECT cd AS cohort_day, CAST(date_diff('day', cd, d) AS INTEGER) AS period, " +
          "COUNT(*) AS n_active FROM a JOIN c USING (user_id) GROUP BY 1, 2), " +
          "z AS (SELECT cohort_day, n_active AS n_cohort FROM j WHERE period = 0) " +
          "SELECT cohort_day, period, n_active, n_cohort, " +
          "CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention " +
          "FROM j JOIN z USING (cohort_day)"
      },
      "q_cohort_weekly" -> {
        // 7-day periods anchored per user; (user, period) deduped before
        // counting — exact small-int / 7.0 double division, then floor
        s"WITH a AS (SELECT DISTINCT user_id, CAST($evT AS DATE) AS d FROM events), " +
          "c AS (SELECT user_id, MIN(d) AS cd FROM a GROUP BY 1), " +
          "p AS (SELECT DISTINCT user_id, cd, CAST(FLOOR(date_diff('day', cd, d) / 7.0) AS INTEGER) AS period " +
          "FROM a JOIN c USING (user_id)), " +
          "j AS (SELECT cd AS cohort_day, period, COUNT(*) AS n_active FROM p GROUP BY 1, 2), " +
          "z AS (SELECT cohort_day, n_active AS n_cohort FROM j WHERE period = 0) " +
          "SELECT cohort_day, period, n_active, n_cohort, " +
          "CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention " +
          "FROM j JOIN z USING (cohort_day)"
      },
      "q_funnel_grouped" -> {
        // the greedy chain replayed PER SEGMENT (event-derived, so the
        // joins carry (seg, user)); groups present = segments with ≥ 1
        // step event; correlated counts keep 0-user steps and the
        // null-conv_rate-when-nobody-entered contract
        def cnt(s: String) = s"(SELECT COUNT(*) FROM $s WHERE $s.seg = segs.seg)"
        def row(i: Int, st: String) =
          s"SELECT seg, $i AS step, '$st' AS step_value, ${cnt(s"s$i")} AS n_users, " +
            s"${cnt("s1")} AS n1 FROM segs"
        s"WITH e AS (SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS seg, " +
          s"user_id, $evT AS t, event_type FROM events " +
          "WHERE event_type IN ('signup', 'click', 'purchase')), " +
          "segs AS (SELECT DISTINCT seg FROM e), " +
          "s1 AS (SELECT seg, user_id, MIN(t) AS tp FROM e WHERE event_type = 'signup' GROUP BY 1, 2), " +
          "s2 AS (SELECT e.seg, e.user_id, MIN(t) AS tp FROM e JOIN s1 ON e.seg = s1.seg AND e.user_id = s1.user_id " +
          "WHERE event_type = 'click' AND t > s1.tp GROUP BY 1, 2), " +
          "s3 AS (SELECT e.seg, e.user_id, MIN(t) AS tp FROM e JOIN s2 ON e.seg = s2.seg AND e.user_id = s2.user_id " +
          "WHERE event_type = 'purchase' AND t > s2.tp GROUP BY 1, 2) " +
          "SELECT seg, step, step_value, n_users, CASE WHEN n1 = 0 THEN NULL ELSE " +
          "CAST(n_users AS DOUBLE) / CAST(n1 AS DOUBLE) END AS conv_rate FROM (" +
          Seq(row(1, "signup"), row(2, "click"), row(3, "purchase")).mkString(" UNION ALL ") + ")"
      },
      "q_funnel_latency_grouped" -> {
        // the grouped chain replayed with (seg, user)-keyed joins, then
        // the per-segment inclusive-rank search over per-user latencies
        def lat(join: String, src: String) =
          s"SELECT seg, CAST(lat AS DOUBLE) / 1000000.0 AS lat, " +
            "ROW_NUMBER() OVER (PARTITION BY seg ORDER BY lat) AS rn, " +
            "COUNT(*) OVER (PARTITION BY seg) AS n FROM " +
            s"(SELECT s1.seg, date_diff('microsecond', s1.tp, $join) AS lat " +
            s"FROM $src JOIN s1 ON $src.seg = s1.seg AND $src.user_id = s1.user_id)"
        def branch(i: Int, st: String, src: String, p: String) =
          s"SELECT seg, $i AS step, '$st' AS step_value, CAST('$p' AS DOUBLE) AS prob, " +
            s"MIN(CASE WHEN CAST(rn AS DOUBLE) >= CAST('$p' AS DOUBLE) * CAST(n AS DOUBLE) THEN lat END) AS seconds, " +
            s"COUNT(*) AS n FROM $src GROUP BY seg HAVING COUNT(*) > 0"
        s"WITH e AS (SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS seg, " +
          s"user_id, $evT AS t, event_type FROM events), " +
          "s1 AS (SELECT seg, user_id, MIN(t) AS tp FROM e WHERE event_type = 'signup' GROUP BY 1, 2), " +
          "s2 AS (SELECT e.seg, e.user_id, MIN(t) AS tp FROM e JOIN s1 ON e.seg = s1.seg AND e.user_id = s1.user_id " +
          "WHERE event_type = 'click' AND t > s1.tp GROUP BY 1, 2), " +
          "s3 AS (SELECT e.seg, e.user_id, MIN(t) AS tp FROM e JOIN s2 ON e.seg = s2.seg AND e.user_id = s2.user_id " +
          "WHERE event_type = 'purchase' AND t > s2.tp GROUP BY 1, 2), " +
          s"r2 AS (${lat("s2.tp", "s2")}), " +
          s"r3 AS (${lat("s3.tp", "s3")}) " +
          Seq(branch(2, "click", "r2", "0.5"), branch(2, "click", "r2", "0.95"),
            branch(3, "purchase", "r3", "0.5"), branch(3, "purchase", "r3", "0.95"))
            .mkString(" UNION ALL ")
      },
      "q_cohort_grouped" -> {
        // the per-platform grid: cohorts per (platform, user) first day
        s"WITH a AS (SELECT DISTINCT CASE WHEN user_id % 2 = 0 THEN 'ios' ELSE 'android' END AS platform, " +
          s"user_id, CAST($evT AS DATE) AS d FROM events), " +
          "c AS (SELECT platform, user_id, MIN(d) AS cd FROM a GROUP BY 1, 2), " +
          "j AS (SELECT a.platform, cd AS cohort_day, CAST(date_diff('day', cd, d) AS INTEGER) AS period, " +
          "COUNT(*) AS n_active FROM a JOIN c ON a.platform = c.platform AND a.user_id = c.user_id GROUP BY 1, 2, 3), " +
          "z AS (SELECT platform, cohort_day, n_active AS n_cohort FROM j WHERE period = 0) " +
          "SELECT platform, cohort_day, period, n_active, n_cohort, " +
          "CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS retention " +
          "FROM j JOIN z USING (platform, cohort_day)"
      },
      "q_events_calibration" -> {
        // grouped calibration replayed: per-event-type equal-width
        // buckets, exact-decimal accumulators, the |pos − ssum| exact
        // ece closing; spine groups = DISTINCT event_type over ALL rows
        // (the one-scan group-discovery contract)
        val sS = "CAST(score AS DOUBLE)"
        val termS = "CASE WHEN n > 0 THEN ABS(CAST(_pos AS DECIMAL(29,8)) - CAST(_ssumd AS DECIMAL(29,8))) " +
          "ELSE CAST(0 AS DECIMAL(30,8)) END"
        val wS = "CAST(0.125 AS DOUBLE)"
        "WITH src AS (SELECT event_type, " +
          "CASE WHEN value > 200.0 THEN CAST(2.0 AS DOUBLE) " +
          "ELSE CAST((user_id * 7 + event_id) % 89 AS DOUBLE) / CAST(89 AS DOUBLE) END AS score, " +
          "CAST(event_id % 3 = 0 AS INT) AS label FROM events), " +
          s"cnt AS (SELECT event_type, LEAST(CAST(FLOOR($sS * CAST('8.0' AS DOUBLE)) AS BIGINT), 7) AS bucket, " +
          "COUNT(*) AS _nb, " +
          s"SUM(CAST($sS AS DECIMAL(38,8))) AS _ssumd, " +
          "CAST(SUM(CASE WHEN CAST(label AS DOUBLE) <> CAST('0.0' AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS _pos " +
          s"FROM src WHERE score IS NOT NULL AND NOT isnan($sS) AND " +
          s"$sS >= CAST('0.0' AS DOUBLE) AND $sS <= CAST('1.0' AS DOUBLE) AND " +
          "label IS NOT NULL AND NOT isnan(CAST(label AS DOUBLE)) GROUP BY 1, 2), " +
          "sp AS (SELECT event_type, bucket FROM (SELECT DISTINCT event_type FROM src) " +
          "CROSS JOIN (SELECT range AS bucket FROM range(0, 8))), " +
          s"f AS (SELECT event_type, bucket, bucket * $wS AS bucket_lo, " +
          s"(bucket + 1) * $wS AS bucket_hi, " +
          "CAST(COALESCE(_nb, 0) AS BIGINT) AS n, " +
          "CASE WHEN _nb > 0 THEN CAST(_ssumd AS DOUBLE) / _nb END AS score_avg, " +
          "CASE WHEN _nb > 0 THEN CAST(_pos AS DOUBLE) / CAST(_nb AS DOUBLE) END AS pos_rate, " +
          "_ssumd, _pos " +
          "FROM sp LEFT JOIN cnt USING (event_type, bucket)), " +
          s"t AS (SELECT event_type, SUM($termS) AS _q, CAST(SUM(n) AS BIGINT) AS _N FROM f GROUP BY 1) " +
          "SELECT event_type, bucket, bucket_lo, bucket_hi, n, score_avg, pos_rate, " +
          "CASE WHEN _N = 0 THEN NULL ELSE CAST(_q AS DOUBLE) / CAST(_N AS DOUBLE) END AS ece " +
          "FROM f LEFT JOIN t USING (event_type)"
      },
      "q_events_quantiles" -> {
        // quantilesByWindow replayed: in the exact regime the KLL
        // inclusive-rank quantile at p is the smallest value whose
        // 1-based rank satisfies rank >= p·n, BOTH sides in IEEE double
        // (the q_quantile_profile_sketch convention), per (hour, type)
        val xS = "CASE WHEN NOT isnan(CAST(value AS DOUBLE)) THEN CAST(value AS DOUBLE) END"
        val branches = Seq(0.5, 0.95).map { p =>
          s"SELECT window_start, event_type, CAST('$p' AS DOUBLE) AS prob, " +
            s"MIN(CASE WHEN CAST(rn AS DOUBLE) >= CAST('$p' AS DOUBLE) * CAST(n AS DOUBLE) THEN x END) AS value, " +
            "COUNT(x) AS n FROM w GROUP BY 1, 2 HAVING COUNT(x) > 0"
        }
        s"WITH r AS (SELECT date_trunc('hour', $evT) AS window_start, event_type, $xS AS x FROM events), " +
          "w AS (SELECT window_start, event_type, x, " +
          "ROW_NUMBER() OVER (PARTITION BY window_start, event_type ORDER BY x ASC NULLS LAST) AS rn, " +
          "COUNT(x) OVER (PARTITION BY window_start, event_type) AS n FROM r) " +
          branches.mkString(" UNION ALL ")
      },
      "q_events_quantiles_sliding" -> {
        // the hopping face: each event enumerated into BOTH 1-hour
        // windows that contain it (start = its 30-min bucket and that
        // bucket − 30 min — the q_events_sliding convention), then the
        // same inclusive-rank search per window
        val xS = "CASE WHEN NOT isnan(CAST(value AS DOUBLE)) THEN CAST(value AS DOUBLE) END"
        val branches = Seq(0.5, 0.95).map { p =>
          s"SELECT window_start, CAST('$p' AS DOUBLE) AS prob, " +
            s"MIN(CASE WHEN CAST(rn AS DOUBLE) >= CAST('$p' AS DOUBLE) * CAST(n AS DOUBLE) THEN x END) AS value, " +
            "COUNT(x) AS n FROM w GROUP BY 1 HAVING COUNT(x) > 0"
        }
        s"WITH u AS (SELECT time_bucket(INTERVAL 30 MINUTE, $evT) AS window_start, $xS AS x FROM events " +
          s"UNION ALL SELECT time_bucket(INTERVAL 30 MINUTE, $evT) - INTERVAL 30 MINUTE, $xS FROM events), " +
          "w AS (SELECT window_start, x, " +
          "ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY x ASC NULLS LAST) AS rn, " +
          "COUNT(x) OVER (PARTITION BY window_start) AS n FROM u) " +
          branches.mkString(" UNION ALL ")
      },
      "q_json_extract" ->
        "SELECT event_id, event_type, props, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val FROM events",
      "q_llm_pipeline" ->
        (s"WITH q AS (SELECT *, CAST(len($toks) AS INTEGER) AS n_tokens, LEAST($ntok / 20.0, 1.0) * (1.0 - $npunct / $nchars) AS quality FROM documents), " +
          "f AS (SELECT * FROM q WHERE quality > 0.5 AND n_tokens >= 20), " +
          raw"dd AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) ORDER BY doc_id) AS rn FROM f) WHERE rn = 1) " +
          s"SELECT lang, COUNT(doc_id) AS doc_id_count, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_sum, AVG(n_tokens) AS n_tokens_avg, ${dsum("quality")} / COUNT(quality) AS quality_avg FROM dd GROUP BY lang"),
      "q_events_session" ->
        s"WITH e AS (SELECT user_id, $evT AS t, value FROM events), m AS (SELECT *, CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t) >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns FROM e), s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m) SELECT user_id, MIN(t) AS session_start, MAX(t) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events, ${dsum("value")} AS value_sum FROM s GROUP BY user_id, sid"
    )
  }

  /** Per-column UNION ALL profile of `part`, mirroring describeTable(). */
  private def describeOracle: String = {
    def num(colName: String, dtype: String): String = {
      val x = s"CAST($colName AS DOUBLE)"
      s"SELECT '$colName' AS feature, '$dtype' AS dtype, COUNT(*) AS row_count, " +
        s"COUNT(*) - COUNT($colName) AS null_count, COUNT(DISTINCT $colName) AS unique_count, " +
        s"(SELECT CAST($colName AS VARCHAR) AS v FROM part GROUP BY $colName ORDER BY COUNT(*) DESC, v ASC LIMIT 1) AS most_frequent, " +
        s"${dsum(x)} / COUNT($colName) AS mean, " +
        s"SQRT((${dsum8(s"$x * $x")} - ${dsum(x)} * ${dsum(x)} / CAST(COUNT($colName) AS DOUBLE)) / (CAST(COUNT($colName) AS DOUBLE) - 1.0)) AS std_dev, " +
        s"CAST(MIN($colName) AS VARCHAR) AS min_value, CAST(MAX($colName) AS VARCHAR) AS max_value FROM part"
    }
    def str(colName: String): String =
      s"SELECT '$colName' AS feature, 'string' AS dtype, COUNT(*) AS row_count, " +
        s"COUNT(*) - COUNT($colName) AS null_count, COUNT(DISTINCT $colName) AS unique_count, " +
        s"(SELECT CAST($colName AS VARCHAR) AS v FROM part GROUP BY $colName ORDER BY COUNT(*) DESC, v ASC LIMIT 1) AS most_frequent, " +
        s"CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS std_dev, " +
        s"CAST(MIN($colName) AS VARCHAR) AS min_value, CAST(MAX($colName) AS VARCHAR) AS max_value FROM part"
    Seq(
      num("p_partkey", "bigint"), str("p_name"), str("p_brand"), str("p_type"),
      num("p_size", "int"), num("p_retailprice", "double")
    ).mkString(" UNION ALL ")
  }
}
