package graft.ops

import graft.core.{Chain, Exact, Naming}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared aggregate-function dispatch. Floating-point SUM/AVG/STDDEV route
  * through [[graft.core.Exact]] so results are independent of partitioning —
  * required for reproducible results on a cluster and for oracle testing.
  */
private[graft] object AggFns {
  def resolve(fn: String, c: Column, dt: DataType): (Column, String) = {
    val floating = Exact.isFloating(dt)
    fn.toUpperCase match {
      case "SUM" => (if (floating) Exact.sum(c) else sum(c), "SUM")
      case "AVG" | "MEAN" => (if (floating) Exact.avg(c) else avg(c), "AVG")
      case "MIN" => (min(c), "MIN")
      case "MAX" => (max(c), "MAX")
      case "COUNT" => (count(c), "COUNT")
      case "COUNT_DISTINCT" | "COUNTDISTINCT" => (countDistinct(c), "COUNT_DISTINCT")
      case "STDDEV" | "STD" | "STDDEV_SAMP" =>
        (if (floating) Exact.stddev(c) else stddev(c), "STDDEV")
      case "VAR" | "VARIANCE" | "VAR_SAMP" =>
        (if (floating) Exact.variance(c) else var_samp(c), "VAR")
      // NaN never ranks (it sorts greatest and would drag the median
      // toward the corrupt end) — the engine-wide NaN exclusion posture
      case "MEDIAN" =>
        (percentile(if (floating) when(!isnan(c), c) else c, lit(0.5)), "MEDIAN")
      case other => throw new IllegalArgumentException(s"unknown aggregation $other")
    }
  }

  /** Column tag for a percentile: the full decimal representation with the
    * point as an underscore, so distinct percentiles never collide
    * (0.95 -> p95, 0.954 -> p95_4, 0.125 -> p12_5).
    */
  def percentileTag(p: Double): String = {
    val s = (BigDecimal(p.toString) * 100).underlying.stripTrailingZeros.toPlainString
    "p" + s.replace(".", "_").replace("-", "neg")
  }

  /** DuckDB/ANSI-parity SQL text for a resolved aggregate (deterministic
    * float form spelled out).
    */
  def sqlText(fn: String, colName: String, dt: DataType): String = {
    val floating = Exact.isFloating(dt)
    fn.toUpperCase match {
      case "SUM" if floating => Exact.sumSql(colName)
      // COUNT over the same decimal cast the sum accumulates: NaN casts
      // to null and leaves numerator and denominator together (the
      // Exact.avg contract — COUNT(col) would count NaN and bias low)
      case "AVG" | "MEAN" if floating => Exact.avgSql(colName)
      case "AVG" | "MEAN" => s"AVG($colName)"
      // spelled out through the same gated decimal moments as the column
      // face (Exact.stddev): a bare STDDEV(double) is accumulation-order
      // dependent AND propagates NaN into the whole group's statistic
      case "STDDEV" | "STD" | "STDDEV_SAMP" if floating => Exact.momentsSql(colName).stddev
      case "STDDEV" | "STD" | "STDDEV_SAMP" => s"STDDEV($colName)"
      case "VAR" | "VARIANCE" | "VAR_SAMP" if floating => Exact.momentsSql(colName).variance
      case "VAR" | "VARIANCE" | "VAR_SAMP" => s"VAR_SAMP($colName)"
      case "COUNT_DISTINCT" | "COUNTDISTINCT" => s"COUNT(DISTINCT $colName)"
      case "MEDIAN" if floating =>
        s"MEDIAN(CASE WHEN NOT isnan(CAST($colName AS DOUBLE)) THEN $colName END)"
      case "MEDIAN" => s"MEDIAN($colName)"
      case f => s"${f.toUpperCase}($colName)"
    }
  }

  /** Solve the augmented system [A | b] (a: d×(d+1), modified in place) by
    * Gaussian elimination with partial pivoting — deterministic fixed-order
    * arithmetic for the tiny IRLS normal equations. Throws on a singular
    * pivot (ridge regularization prevents this on real fits).
    */
  private[graft] def solveLinearSystem(a: Array[Array[Double]]): Array[Double] = {
    val d = a.length
    var colIdx = 0
    while (colIdx < d) {
      var piv = colIdx
      var r = colIdx + 1
      while (r < d) {
        if (math.abs(a(r)(colIdx)) > math.abs(a(piv)(colIdx))) piv = r
        r += 1
      }
      require(a(piv)(colIdx) != 0.0,
        s"singular normal matrix at column $colIdx — add ridge or drop collinear features")
      if (piv != colIdx) { val tmp = a(piv); a(piv) = a(colIdx); a(colIdx) = tmp }
      r = colIdx + 1
      while (r < d) {
        val f = a(r)(colIdx) / a(colIdx)(colIdx)
        var j = colIdx
        while (j <= d) { a(r)(j) -= f * a(colIdx)(j); j += 1 }
        r += 1
      }
      colIdx += 1
    }
    val x = new Array[Double](d)
    var i = d - 1
    while (i >= 0) {
      var s = a(i)(d)
      var j = i + 1
      while (j < d) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }
}

/** Aggregations — reference transforms #18-23 (SURVEY §2.2): aggregate,
  * conditional_agg, aggregate_string, describe, linear_regression,
  * market_basket. GROUP BYs shuffle once on the grouping keys with map-side
  * partial aggregation (Catalyst hash aggregate).
  */
final class AggOps(private val c: Chain) extends AnyVal {

  /** aggregate(group_by, aggregations): per-column agg lists; outputs named
    * `<col>_<agg>` (reference convention `SALESAMOUNT_SUM`,
    * tutorials/tutorial_extended.ipynb:4494-4576).
    */
  def aggregate(groupBy: Seq[String], aggregations: Seq[(String, Seq[String])]): Chain = {
    val types = c.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val aggCols = aggregations.flatMap { case (cn, fns) =>
      fns.map { fn =>
        val (column, label) = AggFns.resolve(fn, col(cn), types(cn))
        column.as(Naming.agg(cn, label))
      }
    }
    val df2 =
      if (groupBy.isEmpty) c.df.agg(aggCols.head, aggCols.tail: _*)
      else c.df.groupBy(groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    val aggSql = aggregations.flatMap { case (cn, fns) =>
      fns.map { fn =>
        val label = AggFns.resolve(fn, col(cn), types(cn))._2
        s"${AggFns.sqlText(fn, cn, types(cn))} AS ${Naming.agg(cn, label)}"
      }
    }
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    c.next("aggregate", df2, Some(
      s"SELECT ${(groupBy ++ aggSql).mkString(", ")} FROM {{source}}$grpSql"))
  }

  /** cube / rollup(group_by, aggregations): grouping-set aggregates (beyond
    * the reference surface — SURVEY §2.2 notes it has none). Same naming and
    * deterministic-float rules as `aggregate`.
    */
  def cubeAgg(groupBy: Seq[String], aggregations: Seq[(String, Seq[String])]): Chain =
    groupingSetAgg("cube", groupBy, aggregations)

  def rollupAgg(groupBy: Seq[String], aggregations: Seq[(String, Seq[String])]): Chain =
    groupingSetAgg("rollup", groupBy, aggregations)

  private def groupingSetAgg(kind: String, groupBy: Seq[String],
                             aggregations: Seq[(String, Seq[String])]): Chain = {
    val types = c.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val aggCols = aggregations.flatMap { case (cn, fns) =>
      fns.map { fn =>
        val (column, label) = AggFns.resolve(fn, col(cn), types(cn))
        column.as(Naming.agg(cn, label))
      }
    }
    val grouped =
      if (kind == "cube") c.df.cube(groupBy.map(col): _*)
      else c.df.rollup(groupBy.map(col): _*)
    val df2 = grouped.agg(aggCols.head, aggCols.tail: _*)
    val aggSql = aggregations.flatMap { case (cn, fns) =>
      fns.map { fn =>
        val label = AggFns.resolve(fn, col(cn), types(cn))._2
        s"${AggFns.sqlText(fn, cn, types(cn))} AS ${Naming.agg(cn, label)}"
      }
    }
    c.next(kind, df2, Some(
      s"SELECT ${(groupBy ++ aggSql).mkString(", ")} FROM {{source}} " +
        s"GROUP BY ${kind.toUpperCase}(${groupBy.mkString(", ")})"))
  }

  /** approx_agg(group_by, column): approximate distinct count (HLL++) and
    * approximate percentiles — the sketch aggregates a 100 TB profile pass
    * wants (bounded memory, one pass, mergeable). One scalar column per
    * percentile (an array-typed result column defeats generic row-sorting
    * consumers). The SQL face uses Spark's own `approx_count_distinct` /
    * `percentile_approx` function syntax — engine-specific estimates, so
    * it renders and executes under Spark but is not a cross-engine oracle.
    */
  def approxAgg(groupBy: Seq[String], column: String,
                percentiles: Seq[Double] = Seq(0.5, 0.95)): Chain = {
    val tags = percentiles.map(AggFns.percentileTag)
    require(tags.distinct.length == tags.length,
      s"percentile tags collide: $percentiles -> $tags")
    val pctAggs = percentiles.zip(tags).map { case (p, tag) =>
      percentile_approx(col(column), lit(p), lit(10000))
        .as(Naming.cleanse(s"${column}_approx_$tag"))
    }
    val aggs = Seq(
      approx_count_distinct(col(column)).as(Naming.cleanse(s"${column}_approx_distinct"))) ++
      pctAggs :+
      count(col(column)).as(Naming.cleanse(s"${column}_count"))
    val df2 =
      if (groupBy.isEmpty) c.df.agg(aggs.head, aggs.tail: _*)
      else c.df.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val cn = Naming.quoteId(column)
    val pctSql = percentiles.zip(tags).map { case (p, tag) =>
      s"PERCENTILE_APPROX($cn, ${p.toString}, 10000) AS ${Naming.cleanse(s"${column}_approx_$tag")}"
    }
    val aggSql = Seq(
      s"APPROX_COUNT_DISTINCT($cn) AS ${Naming.cleanse(s"${column}_approx_distinct")}") ++
      pctSql :+ s"COUNT($cn) AS ${Naming.cleanse(s"${column}_count")}"
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    c.next("approx_agg", df2, Some(
      s"SELECT ${(groupBy ++ aggSql).mkString(", ")} FROM {{source}}$grpSql"))
  }

  /** distinct_sketches(group_by, column): one mergeable HLL sketch
    * (binary, Apache DataSketches) per group — the SAVED half of
    * incremental distinct counting. Build per-day/per-source sketches
    * once; any coarser rollup later is a register-wise union of the
    * sketches ([[mergeDistinctSketches]]) instead of a rescan of the
    * rows — the same save-the-postings investment as the minhash index,
    * for COUNT(DISTINCT). `lgConfigK` trades size for error (2^lgK
    * registers; 12 → ~2.5 KB and ~1.6% standard error).
    */
  def distinctSketches(groupBy: Seq[String], column: String,
                       lgConfigK: Int = 12): Chain = {
    // the sketch hashes int/bigint/string/binary only; other types (double,
    // decimal, date, …) canonicalize through their string form — distinct
    // values stay distinct, so the count semantics are unchanged
    val in = c.df.schema(column).dataType match {
      case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BinaryType =>
        col(column)
      case _ => col(column).cast("string")
    }
    val sk = hll_sketch_agg(in, lit(lgConfigK))
      .as(Naming.cleanse(s"${column}_sketch"))
    val df2 =
      if (groupBy.isEmpty) c.df.agg(sk)
      else c.df.groupBy(groupBy.map(col): _*).agg(sk)
    // SQL face via Spark's hll_sketch_agg — renders/executes under Spark
    // (sketch BYTES can differ by merge order even when estimates agree,
    // so round-trip comparisons should go through hll_sketch_estimate)
    val inSql = c.df.schema(column).dataType match {
      case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BinaryType =>
        Naming.quoteId(column)
      case _ => s"CAST(${Naming.quoteId(column)} AS STRING)"
    }
    val skSql = s"HLL_SKETCH_AGG($inSql, $lgConfigK) AS ${Naming.cleanse(s"${column}_sketch")}"
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    c.next("distinct_sketches", df2, Some(
      s"SELECT ${(groupBy :+ skSql).mkString(", ")} FROM {{source}}$grpSql"))
  }

  /** distinct_sketch_merge(group_by, sketch_col): union saved HLL
    * sketches up to a coarser grouping and estimate. The union is
    * register-wise max — lossless once sketches are in dense mode; at low
    * cardinalities DataSketches' sparse→dense mode transitions can differ
    * between the merged and the direct single-pass path by a fraction of
    * a percent (spec gates the agreement at 2% and the absolute error at
    * 5%). Grouping empty = one global estimate.
    */
  def mergeDistinctSketches(groupBy: Seq[String], sketchCol: String,
                            estimateAs: String = ""): Chain = {
    val out = if (estimateAs.nonEmpty) estimateAs
      else Naming.cleanse(s"${sketchCol}_estimate")
    val est = hll_sketch_estimate(hll_union_agg(col(sketchCol))).as(out)
    val df2 =
      if (groupBy.isEmpty) c.df.agg(est)
      else c.df.groupBy(groupBy.map(col): _*).agg(est)
    // register-wise max union is merge-order-independent, so this face IS
    // deterministic (unlike raw sketch bytes) and round-trips exactly
    val estSql = s"HLL_SKETCH_ESTIMATE(HLL_UNION_AGG(${Naming.quoteId(sketchCol)})) AS $out"
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    c.next("distinct_sketch_merge", df2, Some(
      s"SELECT ${(groupBy :+ estSql).mkString(", ")} FROM {{source}}$grpSql"))
  }

  /** percentile_sketches(group_by, column, k): one mergeable KLL quantile
    * sketch (binary, Apache DataSketches) per group — the SAVED half of
    * incremental percentile profiling, the quantile sibling of
    * [[distinctSketches]]: build per-day/per-source sketches once, roll
    * any coarser grouping up later with [[mergePercentileSketches]]
    * instead of rescanning the rows. `k` trades size for rank error
    * (200 ≈ 1.65% normalized rank error, ~few KB). KLL compaction is
    * randomized, so estimates carry error bounds, not bit-identity across
    * ENGINES — but the SQL face below resolves to the same registered
    * kernel (`kll_sketch_agg`), so under Spark it plans and evaluates
    * identically to this DataFrame face.
    */
  def percentileSketches(groupBy: Seq[String], column: String,
                         k: Int = 200): Chain = {
    val sk = graft.functions.KllSketches.sketchAgg(col(column).cast("double"), k)
      .as(Naming.cleanse(s"${column}_qsketch"))
    val df2 =
      if (groupBy.isEmpty) c.df.agg(sk)
      else c.df.groupBy(groupBy.map(col): _*).agg(sk)
    val skSql = s"KLL_SKETCH_AGG(CAST(${Naming.quoteId(column)} AS DOUBLE), $k) " +
      s"AS ${Naming.cleanse(s"${column}_qsketch")}"
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    c.next("percentile_sketches", df2, Some(
      s"SELECT ${(groupBy :+ skSql).mkString(", ")} FROM {{source}}$grpSql"))
  }

  /** percentile_sketch_merge(group_by, sketch_col, percentiles): union
    * saved KLL sketches up to a coarser grouping and read quantile values
    * out — one scalar column per requested percentile (same `p50`-style
    * tags as [[approxAgg]]). Grouping empty = one global profile.
    */
  def mergePercentileSketches(groupBy: Seq[String], sketchCol: String,
                              percentiles: Seq[Double] = Seq(0.5, 0.95)): Chain = {
    val tags = percentiles.map(AggFns.percentileTag)
    require(tags.distinct.length == tags.length,
      s"percentile tags collide: $percentiles -> $tags")
    val merged = graft.functions.KllSketches.mergeAgg(col(sketchCol)).as("_merged")
    val g =
      if (groupBy.isEmpty) c.df.agg(merged)
      else c.df.groupBy(groupBy.map(col): _*).agg(merged)
    val out = percentiles.zip(tags).foldLeft(g) { case (df, (p, tag)) =>
      df.withColumn(Naming.cleanse(s"${sketchCol}_$tag"),
        graft.functions.KllSketches.quantile(col("_merged"), p))
    }.drop("_merged")
    // SQL face: merge in an inner aggregate, read quantiles out in the
    // outer select — same registered kernels, so Spark executes the
    // rendered text identically to the DataFrame face
    val qSqls = percentiles.zip(tags).map { case (p, tag) =>
      // the D suffix: a bare 0.5 parses as DECIMAL(1,1), not DOUBLE
      s"KLL_QUANTILE(_m, ${java.lang.Double.toString(p)}D) AS ${Naming.cleanse(s"${sketchCol}_$tag")}"
    }
    val grpCols = groupBy.mkString(", ")
    val innerGrp = if (groupBy.isEmpty) "" else s" GROUP BY $grpCols"
    val outerSel = (groupBy ++ qSqls).mkString(", ")
    val innerSel = (groupBy :+
      s"KLL_MERGE_AGG(${Naming.quoteId(sketchCol)}) AS _m").mkString(", ")
    c.next("percentile_sketch_merge", out, Some(
      s"SELECT $outerSel FROM (SELECT $innerSel FROM {{source}}$innerGrp)"))
  }

  /** freq_sketches(group_by, column, max_map_size): one mergeable
    * frequent-items (Misra–Gries) sketch per group — the heavy-hitters
    * member of the sketch-column family ([[distinctSketches]],
    * [[percentileSketches]]): build per-day/per-source sketches once,
    * roll coarser groupings up later by merging sketch columns.
    * `maxMapSize` (power of two) bounds memory; counts are EXACT while
    * the group's distinct count stays under ~0.75×maxMapSize and carry
    * ±n/maxMapSize beyond it. Non-string columns canonicalize through
    * their string form.
    */
  def freqSketches(groupBy: Seq[String], column: String,
                   maxMapSize: Int = 256): Chain = {
    val in = c.df.schema(column).dataType match {
      case org.apache.spark.sql.types.StringType => col(column)
      case _ => col(column).cast("string")
    }
    val sk = graft.functions.FreqSketches.sketchAgg(in, maxMapSize)
      .as(Naming.cleanse(s"${column}_fsketch"))
    val df2 =
      if (groupBy.isEmpty) c.df.agg(sk)
      else c.df.groupBy(groupBy.map(col): _*).agg(sk)
    val inSql = c.df.schema(column).dataType match {
      case org.apache.spark.sql.types.StringType => Naming.quoteId(column)
      case _ => s"CAST(${Naming.quoteId(column)} AS STRING)"
    }
    val skSql = s"FREQ_SKETCH_AGG($inSql, $maxMapSize) " +
      s"AS ${Naming.cleanse(s"${column}_fsketch")}"
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    c.next("freq_sketches", df2, Some(
      s"SELECT ${(groupBy :+ skSql).mkString(", ")} FROM {{source}}$grpSql"))
  }

  /** freq_sketch_topk(group_by, sketch_col, k): merge saved
    * frequent-items sketches up to a coarser grouping and explode the
    * top-k per group → (group…, item, est, lb, ub, rank). Deterministic
    * order (estimate DESC, item ASC); in the exact regime lb = est = ub
    * and the rows equal the exact GROUP-BY-count top-k — which is what
    * the correctness oracle pins. Grouping empty = one global top-k.
    */
  def mergeFreqSketches(groupBy: Seq[String], sketchCol: String,
                        k: Int = 10): Chain = {
    val merged = graft.functions.FreqSketches.mergeAgg(col(sketchCol)).as("_merged")
    val g =
      if (groupBy.isEmpty) c.df.agg(merged)
      else c.df.groupBy(groupBy.map(col): _*).agg(merged)
    val df2 = g
      .select((groupBy.map(col) :+
        posexplode(graft.functions.FreqSketches.topK(col("_merged"), k))): _*)
      .withColumn("rank", (col("pos") + 1).cast("int"))
      .select((groupBy.map(col) :+ col("col.item").as("item") :+
        col("col.est").as("est") :+ col("col.lb").as("lb") :+
        col("col.ub").as("ub") :+ col("rank")): _*)
    // SQL face: merge aggregate → posexplode the top-k structs → flatten.
    // Same registered kernels (freq_merge_agg / freq_topk), so the rendered
    // text executes identically to the DataFrame face under Spark.
    val grpCols = groupBy.mkString(", ")
    val innerGrp = if (groupBy.isEmpty) "" else s" GROUP BY $grpCols"
    val mergeSel = (groupBy :+
      s"FREQ_MERGE_AGG(${Naming.quoteId(sketchCol)}) AS _m").mkString(", ")
    val explSel = (groupBy :+ s"POSEXPLODE(FREQ_TOPK(_m, $k)) AS (pos, s)").mkString(", ")
    val outerSel = (groupBy ++ Seq("s.item AS item", "s.est AS est", "s.lb AS lb",
      "s.ub AS ub", "CAST(pos + 1 AS INT) AS rank")).mkString(", ")
    c.next("freq_sketch_topk", df2, Some(
      s"SELECT $outerSel FROM (SELECT $explSel FROM " +
        s"(SELECT $mergeSel FROM {{source}}$innerGrp))"))
  }

  /** conditional_agg(rules, agg_column, agg, distinct): aggregate with
    * CASE-guarded input (e.g. COUNT(DISTINCT CASE WHEN … THEN col END)).
    */
  def conditionalAgg(
      groupBy: Seq[String],
      rules: Seq[String],
      aggColumn: String,
      agg: String,
      distinct: Boolean = false,
      alias: String = ""): Chain = {
    val cond = rules.map(expr).reduce(_ && _)
    val guarded = when(cond, col(aggColumn))
    val dt = c.df.schema(aggColumn).dataType
    val fn = agg.toUpperCase
    val column =
      if (distinct && fn == "COUNT") countDistinct(guarded)
      else AggFns.resolve(fn, guarded, dt)._1
    val name = if (alias.nonEmpty) alias else Naming.cleanse(s"${aggColumn}_${agg}_if")
    val df2 =
      if (groupBy.isEmpty) c.df.agg(column.as(name))
      else c.df.groupBy(groupBy.map(col): _*).agg(column.as(name))
    val caseSql = s"CASE WHEN ${rules.map(r => s"($r)").mkString(" AND ")} THEN $aggColumn END"
    val aggSql =
      if (distinct && fn == "COUNT") s"COUNT(DISTINCT $caseSql)"
      else AggFns.sqlText(fn, caseSql, dt)
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    c.next("conditional_agg", df2, Some(
      s"SELECT ${(groupBy :+ s"$aggSql AS $name").mkString(", ")} FROM {{source}}$grpSql"))
  }

  /** aggregate_string(agg_columns, sep, group_by, distinct, order):
    * LISTAGG-style string aggregation; ordered output keeps results
    * deterministic regardless of partitioning.
    */
  def aggregateString(
      aggColumns: Seq[String],
      sep: String = ",",
      groupBy: Seq[String] = Nil,
      distinct: Boolean = true,
      ordered: Boolean = true): Chain = {
    val aggCols = aggColumns.map { cn =>
      val collected =
        if (distinct) collect_set(col(cn).cast("string"))
        else collect_list(col(cn).cast("string"))
      val arr = if (ordered || distinct) array_sort(collected) else collected
      concat_ws(sep, arr).as(Naming.cleanse(s"${cn}_agg"))
    }
    val df2 =
      if (groupBy.isEmpty) c.df.agg(aggCols.head, aggCols.tail: _*)
      else c.df.groupBy(groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    val aggSql = aggColumns.map { cn =>
      val d = if (distinct) "DISTINCT " else ""
      s"ARRAY_JOIN(ARRAY_SORT(COLLECT_${if (distinct) "SET" else "LIST"}(CAST($cn AS STRING))), '$sep') AS ${Naming.cleanse(s"${cn}_agg")}"
    }
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    c.next("aggregate_string", df2, Some(
      s"SELECT ${(groupBy ++ aggSql).mkString(", ")} FROM {{source}}$grpSql"))
  }

  /** describe(): per-column profile, one output row per input column
    * (reference output frame at tutorials/tutorial.ipynb:3714-3745: FEATURE,
    * DTYPE, counts, MOST_FREQUENT, MEAN, STD_DEV, …).
    *
    * Runs one full-table aggregate for the numeric stats plus one small
    * groupBy-per-column job for the deterministic mode (ties broken by
    * smallest value). Output size is O(n_columns) — driver assembly is
    * bounded and declared.
    */
  def describeTable(): Chain = {
    val spark = c.spark
    val fields = c.df.schema.fields.toSeq
    // one wide agg for the numeric/order stats. Deliberately NO
    // countDistinct here: n distinct-aggregates make Catalyst expand the
    // input n+1×, which dominated this operator's cost — distinct counts
    // come out of the stacked pass below instead.
    val statCols = fields.flatMap { f =>
      val cc = col(f.name)
      val numeric = f.dataType.isInstanceOf[NumericType]
      Seq(
        s"mean_${f.name}" -> (if (numeric) Exact.avg(cc.cast("double")) else lit(null).cast("double")),
        s"std_${f.name}" -> (if (numeric) Exact.stddev(cc.cast("double")) else lit(null).cast("double")),
        s"min_${f.name}" -> min(cc).cast("string"),
        s"max_${f.name}" -> max(cc).cast("string"))
    } :+ ("_total" -> count(lit(1)))
    val stats = statCols.map(_._1)
      .zip(graft.core.CheckpointProbe.scalars(c.df, statCols: _*)).toMap
    // row/null/unique counts + deterministic mode (ties → smallest value)
    // in ONE job: stack all columns to (feature, value) rows, count, then
    // rank-and-aggregate per feature — column count never multiplies scans
    // or jobs. (String-cast distinct equals native distinct for these
    // types; Spark's value→string rendering is injective.)
    val stackExpr = s"stack(${fields.length}, " +
      fields.map(f => s"'${f.name}', CAST(${f.name} AS STRING)").mkString(", ") + ")"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("feature")).orderBy(col("count").desc, col("v").asc_nulls_last)
    val profile: Map[String, (Long, Long, String)] = c.df
      .select(expr(stackExpr).as(Seq("feature", "v")))
      .groupBy(col("feature"), col("v")).count()
      .withColumn("_rn", row_number().over(w))
      .groupBy(col("feature"))
      .agg(
        sum(when(col("v").isNull, col("count")).otherwise(lit(0L))).as("nulls"),
        count(when(col("v").isNotNull, lit(1))).as("uniq"),
        max(when(col("_rn") === 1, col("v"))).as("mode"))
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val total = stats("_total").asInstanceOf[Long]
    val rows = fields.map { f =>
      val (nulls, uniq, mode) = profile(f.name)
      Row(f.name, f.dataType.simpleString, total,
        nulls, uniq, mode,
        stats(s"mean_${f.name}"), stats(s"std_${f.name}"),
        stats(s"min_${f.name}"), stats(s"max_${f.name}"))
    }
    val schema = StructType(Seq(
      StructField("feature", StringType), StructField("dtype", StringType),
      StructField("row_count", LongType), StructField("null_count", LongType),
      StructField("unique_count", LongType), StructField("most_frequent", StringType),
      StructField("mean", DoubleType), StructField("std_dev", DoubleType),
      StructField("min_value", StringType), StructField("max_value", StringType)))
    val df2 = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    // SQL face: per-column UNION ALL of stat SELECTs over {{source}} —
    // Spark-executable text of the same profile (deterministic-float mean/
    // stddev spelled out through the decimal accumulation, mode via an
    // ordered scalar subquery with the same smallest-value tie-break; ASC
    // NULLS LAST is explicit because Spark's default ASC is NULLS FIRST).
    // RenderSpec round-trips spark.sql(rendered) against the frame above.
    val face = fields.map { f =>
      val cn = Naming.quoteId(f.name)
      val numeric = f.dataType.isInstanceOf[NumericType]
      val x = s"CAST($cn AS DOUBLE)"
      // the column face's Exact.avg / Exact.stddev contracts, spelled out
      val mean = if (numeric) Exact.avgSql(x) else "CAST(NULL AS DOUBLE)"
      val std = if (numeric) Exact.momentsSql(x).stddev else "CAST(NULL AS DOUBLE)"
      s"SELECT '${f.name}' AS feature, '${f.dataType.simpleString}' AS dtype, " +
        s"COUNT(1) AS row_count, COUNT(1) - COUNT($cn) AS null_count, " +
        s"COUNT(DISTINCT $cn) AS unique_count, " +
        s"(SELECT _v FROM (SELECT CAST($cn AS STRING) AS _v, COUNT(1) AS _c " +
        s"FROM {{source}} GROUP BY CAST($cn AS STRING)) " +
        s"ORDER BY _c DESC, _v ASC NULLS LAST LIMIT 1) AS most_frequent, " +
        s"$mean AS mean, $std AS std_dev, " +
        s"CAST(MIN($cn) AS STRING) AS min_value, " +
        s"CAST(MAX($cn) AS STRING) AS max_value FROM {{source}}"
    }.mkString(" UNION ALL ")
    c.next("describe", df2, Some(face))
  }

  /** linear_regression(group_by, y, x): per-group OLS slope/intercept.
    * Computed from exact decimal sums (Sx, Sy, Sxy, Sxx) rather than
    * `regr_slope` so results are partitioning-independent:
    * slope = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²), intercept = (Sy − slope·Sx)/n.
    */
  def linearRegression(groupBy: Seq[String], y: String, x: String): Chain = {
    // NaN behaves like null: the decimal sums would skip a NaN product
    // anyway while count() counted the row — a silently biased slope
    val both = col(x).isNotNull && col(y).isNotNull &&
      !isnan(col(x).cast("double")) && !isnan(col(y).cast("double"))
    val xc = when(both, col(x).cast("double"))
    val yc = when(both, col(y).cast("double"))
    val aggs = Seq(
      count(xc).as("_n"), Exact.sum8(xc).as("_sx"), Exact.sum8(yc).as("_sy"),
      Exact.sum8(xc * yc).as("_sxy"), Exact.sum8(xc * xc).as("_sxx"))
    val g =
      if (groupBy.isEmpty) c.df.agg(aggs.head, aggs.tail: _*)
      else c.df.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val n = col("_n").cast("double")
    val slope = (n * col("_sxy") - col("_sx") * col("_sy")) /
      (n * col("_sxx") - col("_sx") * col("_sx"))
    val df2 = g
      .withColumn("slope", slope)
      .withColumn("intercept", (col("_sy") - col("slope") * col("_sx")) / n)
      .select((groupBy.map(col) ++ Seq(col("slope"), col("intercept"), col("_n").as("n"))): _*)
    val bothSql = s"$x IS NOT NULL AND $y IS NOT NULL AND " +
      s"NOT isnan(CAST($x AS DOUBLE)) AND NOT isnan(CAST($y AS DOUBLE))"
    val gCols = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    val frag =
      s"SELECT ${gCols}slope, (_sy - slope * _sx) / _nd AS intercept, _n AS n FROM (" +
        s"SELECT ${gCols}(_nd * _sxy - _sx * _sy) / (_nd * _sxx - _sx * _sx) AS slope, _sx, _sy, _nd, _n FROM (" +
        s"SELECT ${gCols}CAST(COUNT(_x) AS DOUBLE) AS _nd, COUNT(_x) AS _n, ${Exact.sum8Sql("_x")} AS _sx, ${Exact.sum8Sql("_y")} AS _sy, " +
        s"${Exact.sum8Sql("_x * _y")} AS _sxy, ${Exact.sum8Sql("_x * _x")} AS _sxx FROM (" +
        s"SELECT ${gCols}CASE WHEN $bothSql THEN CAST($x AS DOUBLE) END AS _x, " +
        s"CASE WHEN $bothSql THEN CAST($y AS DOUBLE) END AS _y FROM {{source}})$gBy))"
    c.next("linear_regression", df2, Some(frag))
  }

  /** logistic_regression(y, xs, iters, ridge): binary-response (y ∈ {0,1})
    * logistic fit by IRLS — the TRAINABLE counterpart of the heuristic
    * [[graft.ext.TextOps.qualityScore]]: a linear classifier over cheap
    * text features is the fastText/CCNet-shaped quality filter stage of an
    * LLM data pipeline. Each iteration is ONE distributed aggregation pass
    * computing the weighted Gram matrix X'WX (d(d+1)/2 exact-decimal sums,
    * d = |xs|+1 with intercept) and gradient X'Wz; the d×d normal system is
    * solved on the driver by Gaussian elimination with partial pivoting —
    * the declared bounded compile-time-introspection pattern (d is tiny;
    * the data never leaves the cluster). Deterministic: per-row terms are
    * double (order-free), accumulation is decimal (order-independent), the
    * solve is fixed-order — same data ⇒ same coefficients under any
    * partitioning (spec-asserted). Rows with a null label or feature are
    * excluded; `ridge` keeps separable data finite.
    *
    * Output: one row per coefficient `(idx, feature, coef)`, intercept
    * first. Scale note: the fit runs `iters` passes over the chain — at
    * corpus scale fit on a hash-sampled or cached chain (`sampleHash`);
    * the resulting model scores the full corpus in one codegen pass via
    * [[scoreLogistic]].
    */
  def logisticRegression(y: String, xs: Seq[String], iters: Int = 8,
                         ridge: Double = 1e-6): Chain = {
    require(xs.nonEmpty, "logistic_regression needs feature columns")
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    require(ridge >= 0.0, s"ridge must be >= 0, got $ridge")
    val d = xs.length + 1
    // exclude null AND NaN rows up front: a NaN feature would null out of
    // SOME Gram cells (its own products) but not others — an inconsistent
    // normal system, i.e. silently garbage coefficients, not just bias
    val notNull = (col(y) +: xs.map(col)).map(c0 =>
      c0.isNotNull && !isnan(c0.cast("double"))).reduce(_ && _)
    val base = c.df.where(notNull)
    val feats: Seq[Column] = lit(1.0) +: xs.map(col(_).cast("double"))
    val yc = col(y).cast("double")
    var beta = Array.fill(d)(0.0)
    var it = 0
    while (it < iters) {
      val eta = feats.zip(beta).map { case (f, b) => f * lit(b) }.reduce(_ + _)
      val mu = lit(1.0) / (lit(1.0) + exp(-eta))
      val w = greatest(mu * (lit(1.0) - mu), lit(1e-10))
      val z = eta + (yc - mu) / w
      val gramAggs = for { i <- 0 until d; j <- i until d }
        yield s"_g_${i}_$j" -> Exact.sum8(w * feats(i) * feats(j))
      val gradAggs = (0 until d).map(i => s"_b_$i" -> Exact.sum8(w * feats(i) * z))
      val rrow = graft.core.CheckpointProbe.scalars(base, (gramAggs ++ gradAggs): _*)
        .map(_.asInstanceOf[java.lang.Double])
      require(rrow.head != null,
        "logistic_regression: no rows with non-null label and features")
      val a = Array.ofDim[Double](d, d + 1)
      var k = 0
      for { i <- 0 until d; j <- i until d } {
        val v = rrow(k).doubleValue; a(i)(j) = v; a(j)(i) = v; k += 1
      }
      var i = 0
      while (i < d) {
        a(i)(d) = rrow(k).doubleValue; k += 1; a(i)(i) += ridge; i += 1
      }
      beta = AggFns.solveLinearSystem(a)
      it += 1
    }
    val names = "(intercept)" +: xs
    val modelRows: java.util.List[Row] = java.util.Arrays.asList(
      names.indices.map(i => Row(i, names(i), beta(i))): _*)
    val schema = StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("feature", StringType, nullable = false),
      StructField("coef", DoubleType, nullable = false)))
    // SQL face: the fitted model IS a plan-time constant, so it renders
    // as a VALUES literal — coefficients through the CAST('<repr>' AS
    // DOUBLE) string round-trip (IEEE-exact, the scoreLogistic pattern).
    // Same snapshot semantics as tfidf's N: re-run the op, not the text,
    // after the training data changes.
    val valuesSql = names.indices.map { i =>
      s"($i, '${names(i).replace("'", "''")}', CAST('${beta(i)}' AS DOUBLE))"
    }.mkString(", ")
    c.next("logistic_regression",
      c.df.sparkSession.createDataFrame(modelRows, schema),
      Some(s"SELECT idx, feature, coef FROM (VALUES $valuesSql) AS _m(idx, feature, coef)"))
  }

  /** score_logistic(model, as): apply a [[logisticRegression]] model to
    * this chain — adds `<as>_logit` = β·x built as a fixed left-associated
    * multiply-add chain (IEEE-exact, so the score reproduces bit-for-bit
    * on any engine — the hash-oracle face) and `<as>_prob` = sigmoid of
    * it. One bounded driver collect of the d model rows; the scoring
    * itself is a plain codegen projection over the corpus.
    */
  def scoreLogistic(model: DataFrame, as: String = "score"): Chain = {
    require(Seq("idx", "feature", "coef").forall(model.columns.contains),
      s"model must have columns (idx, feature, coef) from logisticRegression; " +
        s"got ${model.columns.mkString(", ")}")
    val rows = model.select(col("idx"), col("feature"), col("coef"))
      .orderBy(col("idx").asc).collect()
    require(rows.nonEmpty && rows.head.getString(1) == "(intercept)",
      "model must start with the (intercept) row at idx 0")
    val logit = rows.tail.foldLeft(lit(rows.head.getDouble(2))) { (acc, r) =>
      acc + col(r.getString(1)).cast("double") * lit(r.getDouble(2))
    }
    // SQL face: coefficients as CAST('<repr>' AS DOUBLE) — string→double
    // parse round-trips exactly, so the rendered text scores identically
    val logitSql = rows.tail.foldLeft(
      s"CAST('${rows.head.getDouble(2)}' AS DOUBLE)") { (acc, r) =>
      acc + s" + CAST(${r.getString(1)} AS DOUBLE) * CAST('${r.getDouble(2)}' AS DOUBLE)"
    }
    c.next("score_logistic", c.df
      .withColumn(s"${as}_logit", logit)
      .withColumn(s"${as}_prob",
        lit(1.0) / (lit(1.0) + exp(-col(s"${as}_logit")))), Some(
      s"SELECT *, $logitSql AS ${as}_logit, " +
        s"CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + EXP(-($logitSql))) AS ${as}_prob " +
        s"FROM {{source}}"))
  }

  /** isotonic_fit(score_col, label_col, buckets): fit a monotone
    * calibration map from raw scores to outcome rates — the standard fix
    * when [[calibrationProfile]] reports mis-calibration: bucket scores
    * on the [0,1] grid (floor(s·B), last bucket closed), pool adjacent
    * violators (PAV — Ayer et al., Ann. Math. Stat. 1955; the isotonic
    * regression of bucket outcome rates under bucket weights), and emit
    * one row per bucket b ∈ [0, B):
    *
    *   n        in-bucket (score, label) row count
    *   pos_fp   Σ fpq(label) — labels quantized to 1e-6 per row before
    *            the sum, so any numeric label calibrates engine-exactly
    *            (binary 0/1 labels give pos_fp = 1e6·positives)
    *   cal_fp   the pooled, non-decreasing calibrated rate
    *            floor(pos_fp/n + 0.5) of the bucket's PAV block, in 1e-6;
    *            empty buckets inherit the previous occupied block's value
    *            (leading empties take the first) — the step function is
    *            total on [0,1]
    *
    * Scale shape: ONE corpus scan into a ≤ B-row bucket aggregate
    * (map-side combined); PAV runs on the driver over the bounded frame
    * (exact BigInt cross-multiplication — no float rate compares) and the
    * model is emitted as a driver-local relation. Fit once, apply with
    * [[isotonicScore]] as a pure projection. Rows with null/NaN score or
    * label, or score outside [0,1], are excluded (the calibrationProfile
    * posture). Renderable as a VALUES literal (the logisticRegression
    * convention): all four columns are integers.
    */
  def isotonicFit(scoreCol: String, labelCol: String,
                  buckets: Int = 100): Chain = {
    require(buckets >= 2 && buckets <= 65536,
      s"isotonic_fit: buckets must be in [2, 65536], got $buckets — the " +
        "bucket frame is collected to the driver for the PAV pass")
    Seq(scoreCol, labelCol).foreach(cn => require(c.df.columns.contains(cn),
      s"isotonic_fit: chain is missing column '$cn'"))
    val s = col(scoreCol).cast("double")
    val l = col(labelCol).cast("double")
    val ok = s.isNotNull && !isnan(s) && s >= lit(0.0) && s <= lit(1.0) &&
      l.isNotNull && !isnan(l)
    val b = least(floor(s * lit(buckets.toDouble)).cast("long"),
      lit((buckets - 1).toLong))
    val fpl = Exact.fpq(l)
    val rows = c.df.where(ok)
      .groupBy(b.as("bucket"))
      .agg(count(lit(1)).as("n"), sum(fpl).as("pos_fp"))
      .collect() // bounded: ≤ `buckets` rows by construction
    require(rows.nonEmpty,
      "isotonic_fit: no usable (score, label) rows in [0,1] — nothing to calibrate")
    val n = new Array[Long](buckets)
    val pos = new Array[Long](buckets)
    rows.foreach { r =>
      val i = r.getLong(0).toInt
      n(i) = r.getLong(1); pos(i) = r.getLong(2)
    }
    val cal = AggOps.pavPool(pos, n)
    val schema = StructType(Seq(
      StructField("bucket", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("pos_fp", LongType, nullable = false),
      StructField("cal_fp", LongType, nullable = false)))
    val modelRows = (0 until buckets).map(i =>
      Row(i.toLong, n(i), pos(i), cal(i)))
    val valuesSql = (0 until buckets).map(i =>
      s"(CAST($i AS BIGINT), CAST(${n(i)} AS BIGINT), " +
        s"CAST(${pos(i)} AS BIGINT), CAST(${cal(i)} AS BIGINT))").mkString(", ")
    c.next("isotonic_fit",
      c.spark.createDataFrame(
        c.spark.sparkContext.parallelize(modelRows, 1), schema),
      Some("SELECT bucket, n, pos_fp, cal_fp FROM " +
        s"(VALUES $valuesSql) AS _m(bucket, n, pos_fp, cal_fp)"),
      Map("buckets" -> buckets.toString, "score_col" -> scoreCol))
  }

  /** isotonic_score(model, score_col, as): apply an [[isotonicFit]] model
    * — adds `<as>_fp` (the bucket's calibrated rate in 1e-6) and `<as>`
    * (the same as a double) per row; null/NaN/out-of-range scores yield
    * null (nothing to calibrate — visible, never clamped silently).
    *
    * One bounded driver collect of the B model rows; scoring is a PURE
    * codegen projection (the calibrated-rate table rides the plan as an
    * array literal — the scoreLogistic regime), renderable with the same
    * literal.
    */
  def isotonicScore(model: DataFrame, scoreCol: String,
                    as: String = "score_cal"): Chain = {
    require(c.df.columns.contains(scoreCol),
      s"isotonic_score: chain is missing column '$scoreCol'")
    Seq("bucket", "cal_fp").foreach(cn => require(model.columns.contains(cn),
      s"isotonic_score: model frame is missing column '$cn' (from isotonicFit)"))
    Seq(s"${as}_fp", as).foreach(cn => require(!c.df.columns.contains(cn),
      s"isotonic_score: output column '$cn' already exists on the chain"))
    val rows = model.select(col("bucket").cast("long"), col("cal_fp").cast("long"))
      .collect() // bounded: isotonic_fit guards buckets ≤ 65536
    val bCount = rows.length
    require(bCount >= 2 && bCount <= 65536,
      s"isotonic_score: model must have between 2 and 65536 bucket rows, got $bCount")
    val cal = new Array[Long](bCount)
    val seen = new Array[Boolean](bCount)
    rows.foreach { r =>
      val idx = r.getLong(0)
      require(idx >= 0 && idx < bCount,
        s"isotonic_score: model bucket $idx outside [0, $bCount) — model " +
          "rows must cover exactly the contiguous bucket range")
      require(!seen(idx.toInt), s"isotonic_score: duplicate model bucket $idx")
      seen(idx.toInt) = true
      cal(idx.toInt) = r.getLong(1)
    }
    val s = col(scoreCol).cast("double")
    val ok = s.isNotNull && !isnan(s) && s >= lit(0.0) && s <= lit(1.0)
    val b = least(floor(s * lit(bCount.toDouble)).cast("long"),
      lit((bCount - 1).toLong))
    val calArr = array(cal.toIndexedSeq.map(lit): _*)
    val fpOut = when(ok, element_at(calArr, (b + lit(1L)).cast("int")))
    val df2 = c.df
      .withColumn(s"${as}_fp", fpOut)
      .withColumn(as, Exact.fromFixed(col(s"${as}_fp")))
    val cn = Naming.quoteId(scoreCol)
    val sS = s"CAST($cn AS DOUBLE)"
    val okS = s"$sS IS NOT NULL AND NOT isnan($sS) AND $sS >= 0.0 AND $sS <= 1.0"
    val bS = s"LEAST(CAST(FLOOR($sS * CAST($bCount AS DOUBLE)) AS BIGINT), " +
      s"CAST(${bCount - 1} AS BIGINT))"
    val arrS = cal.mkString("ARRAY(", "L, ", "L)")
    c.next("isotonic_score", df2, Some(
      s"SELECT *, CASE WHEN $okS THEN element_at($arrS, CAST($bS + 1 AS INT)) END AS ${as}_fp, " +
        s"${Exact.fromFixedSql(s"CASE WHEN $okS THEN element_at($arrS, CAST($bS + 1 AS INT)) END")} AS $as " +
        s"FROM {{source}}"))
  }

  /** market_basket(transaction_id, agg_column, sep): items per transaction
    * as a deterministic (sorted) separated string + basket size.
    */
  def marketBasket(transactionId: String, aggColumn: String, sep: String = ","): Chain = {
    val df2 = c.df.groupBy(col(transactionId))
      .agg(
        concat_ws(sep, array_sort(collect_list(col(aggColumn).cast("string")))).as("basket"),
        count(col(aggColumn)).as("basket_size"))
    c.next("market_basket", df2, Some(
      s"SELECT $transactionId, ARRAY_JOIN(ARRAY_SORT(COLLECT_LIST(CAST($aggColumn AS STRING))), '$sep') AS basket, " +
        s"COUNT($aggColumn) AS basket_size FROM {{source}} GROUP BY $transactionId"))
  }

  /** grouping_sets(sets, aggregations): explicit grouping-set aggregate —
    * the generalized form of [[cubeAgg]]/[[rollupAgg]] (beyond the
    * reference surface, SURVEY §2.2): each listed set becomes one grouping
    * of the output, with the usual null-fill for columns absent from a
    * set. Same naming and deterministic-float rules as `aggregate`.
    *
    * Scale: Catalyst plans Expand + one hash aggregate — the input is
    * replicated once per set BEFORE the exchange with map-side partial
    * aggregation, so the shuffle carries one partial row per (set ×
    * group), not one per (set × input row). Prefer few, targeted sets
    * over CUBE's 2^k blowup on high-cardinality keys.
    */
  def groupingSetsAgg(sets: Seq[Seq[String]],
                      aggregations: Seq[(String, Seq[String])]): Chain = {
    require(sets.nonEmpty, "grouping_sets needs at least one set")
    val types = c.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val groupCols = sets.flatten.distinct
    val aggCols = aggregations.flatMap { case (cn, fns) =>
      fns.map { fn =>
        val (column, label) = AggFns.resolve(fn, col(cn), types(cn))
        column.as(Naming.agg(cn, label))
      }
    }
    val grouped = c.df.groupingSets(sets.map(_.map(col)), groupCols.map(col): _*)
    val df2 = grouped.agg(aggCols.head, aggCols.tail: _*)
    val aggSql = aggregations.flatMap { case (cn, fns) =>
      fns.map { fn =>
        val label = AggFns.resolve(fn, col(cn), types(cn))._2
        s"${AggFns.sqlText(fn, cn, types(cn))} AS ${Naming.agg(cn, label)}"
      }
    }
    val setsSql = sets.map(s => s"(${s.mkString(", ")})").mkString(", ")
    c.next("grouping_sets", df2, Some(
      s"SELECT ${(groupCols ++ aggSql).mkString(", ")} FROM {{source}} " +
        s"GROUP BY GROUPING SETS ($setsSql)"))
  }

  /** histogram(column, lo, hi, buckets, group_by): equi-width histogram —
    * the profile pass behind every "what does this column look like"
    * question at corpus scale. Rows land in bucket FLOOR((x−lo)/w) with
    * w = (hi−lo)/buckets; x = hi folds into the top bucket; rows outside
    * [lo, hi] — and null/NaN — are EXCLUDED (count the tails with a
    * separate filter if they matter). Empty buckets are PRESENT with
    * cnt = 0 (a gap is information); edges are emitted as `bucket_lo` /
    * `bucket_hi`.
    *
    * Scale: ONE corpus scan, ONE map-side-combined hash aggregate on
    * (group, bucket) — at most groups × (buckets + 1) rows ever shuffle.
    * Grouped, excluded rows keep a NULL bucket inside that same
    * aggregate, so group DISCOVERY rides the one pass (an all-excluded
    * group still emits its zero-count buckets) and spine padding folds
    * into the aggregate chain — per-group bucket→count map, exploded
    * against the spine — instead of a second corpus-side
    * distinct-groups scan (the [[calibrationProfile]] regime). A NULL
    * group value groups like any other value and keeps its counts (the
    * SQL face joins null-safely to match). Ungrouped, excluded rows
    * filter AT the scan (predicate pushed) and the Range spine joins
    * the bounded bucket frame. Edges and the bucket index use the same
    * IEEE double arithmetic in both faces, so the layout is
    * engine-exact.
    */
  def histogram(column: String, lo: Double, hi: Double, buckets: Int,
                groupBy: Seq[String] = Nil): Chain = {
    require(buckets > 0, s"histogram needs buckets > 0, got $buckets")
    require(hi > lo, s"histogram needs hi > lo, got [$lo, $hi]")
    require(!lo.isNaN && !hi.isNaN && !lo.isInfinite && !hi.isInfinite,
      s"histogram bounds must be finite, got [$lo, $hi]")
    val reservedHist = Seq("bucket", "bucket_lo", "bucket_hi", "cnt", "_m")
    require(groupBy.intersect(reservedHist).isEmpty,
      s"histogram group columns collide with output/internal names " +
        s"${groupBy.intersect(reservedHist).mkString(", ")} — rename first")
    val w = (hi - lo) / buckets
    val (in, b) = AggOps.equalWidthBin(column, lo, hi, buckets)
    val edges = AggOps.binEdges(lo, hi, buckets)
    val df2 =
      if (groupBy.isEmpty) {
        val counts = c.df.where(in).groupBy(b.as("bucket"))
          .agg(count(lit(1)).as("cnt"))
        val spineB = c.spark.range(buckets).select(col("id").as("bucket"))
        spineB.join(counts, Seq("bucket"), "left")
          .select((col("bucket") +: edges :+
            coalesce(col("cnt"), lit(0L)).as("cnt")): _*)
      } else {
        // excluded rows land in a null bucket so the ONE aggregate also
        // enumerates every group; the per-group map/explode fold pads the
        // spine without a second corpus scan or a second consumer of the
        // aggregate (the calibrationProfile pattern — a corpus-side
        // distinct-spine join would double the op's I/O at 100 TB)
        val counts0 = c.df
          .groupBy((groupBy.map(col) :+ when(in, b).as("bucket")): _*)
          .agg(count(when(in, lit(1))).as("cnt"))
        AggOps.foldPadCounts(counts0, groupBy, buckets, Seq("cnt" -> "cnt"))
          .select((groupBy.map(col) ++ (col("bucket") +: edges) :+ col("cnt")): _*)
      }
    // double literals through CAST('…' AS DOUBLE): a bare decimal literal
    // is exact DECIMAL in ANSI engines (the winsorize rationale)
    val loS = s"CAST('$lo' AS DOUBLE)"
    val hiS = s"CAST('$hi' AS DOUBLE)"
    val wS = s"CAST('$w' AS DOUBLE)"
    val inS = s"$column IS NOT NULL AND NOT isnan(CAST($column AS DOUBLE)) AND " +
      s"CAST($column AS DOUBLE) >= $loS AND CAST($column AS DOUBLE) <= $hiS"
    val spineS = AggOps.bucketSpineSql(buckets)
    // grouped SQL keeps the readable distinct-spine shape (the oracle /
    // render face is result-, not plan-, graded) but joins NULL-SAFELY so
    // a NULL group keeps its counts, matching the DataFrame face
    val sqlFace =
      if (groupBy.isEmpty)
        s"SELECT bucket, $loS + bucket * $wS AS bucket_lo, " +
          s"$loS + (bucket + 1) * $wS AS bucket_hi, COALESCE(cnt, 0) AS cnt " +
          s"FROM (SELECT explode($spineS) AS bucket) " +
          s"LEFT JOIN (SELECT LEAST(CAST(FLOOR((CAST($column AS DOUBLE) - $loS) / $wS) " +
          s"AS BIGINT), ${buckets - 1}) AS bucket, COUNT(*) AS cnt FROM {{source}} " +
          s"WHERE $inS GROUP BY bucket) USING (bucket)"
      else {
        val gSelSp = groupBy.map(g => s"sp.$g").mkString(", ") + ", "
        val gBy = ", " + groupBy.mkString(", ")
        val onS = (s"sp.bucket = cc.bucket" +:
          groupBy.map(g => s"sp.$g IS NOT DISTINCT FROM cc.$g")).mkString(" AND ")
        s"SELECT ${gSelSp}sp.bucket, $loS + sp.bucket * $wS AS bucket_lo, " +
          s"$loS + (sp.bucket + 1) * $wS AS bucket_hi, COALESCE(cc.cnt, 0) AS cnt " +
          s"FROM ((SELECT DISTINCT ${groupBy.mkString(", ")} FROM {{source}}) " +
          s"CROSS JOIN (SELECT explode($spineS) AS bucket)) sp " +
          s"LEFT JOIN (SELECT ${groupBy.mkString(", ")}, " +
          s"LEAST(CAST(FLOOR((CAST($column AS DOUBLE) - $loS) / $wS) " +
          s"AS BIGINT), ${buckets - 1}) AS bucket, COUNT(*) AS cnt FROM {{source}} " +
          s"WHERE $inS GROUP BY bucket$gBy) cc ON $onS"
      }
    c.next("histogram", df2, Some(sqlFace))
  }

  /** corr_matrix(columns, group_by, deletion): Pearson correlation in LONG
    * form — one `(col_a, col_b, corr, n)` row per unordered column pair
    * (a before b in the given order), the pre-modeling collinearity
    * screen. Two standard missing-data regimes:
    *
    *  - `"pairwise"` (default — the pandas/sklearn `corr()` convention):
    *    a row is excluded per PAIR when either side is null/NaN, so each
    *    pair's n is its own: 5 exact sums + 1 count per pair
    *    (5·k(k−1)/2 sums in total).
    *  - `"listwise"`: a row is excluded from EVERY pair when ANY screened
    *    column is null/NaN (the post-`dropna` convention) — one shared n,
    *    and the per-column Σx/Σx² are shared across pairs: 2k + k(k−1)/2
    *    sums, ~2.5× fewer at k = 5. On a frame with no missing values the
    *    two regimes give identical values.
    *
    * Scale: ONE lazy aggregate, grouped or not, in the declared mode; the
    * chain build runs no job. Every moment is an exact
    * `SUM(CAST(… AS DECIMAL(38,8)))` on long accumulators
    * ([[graft.core.Exact.sum8]]), so no bound has to be proven before the
    * pass. Each column's conversion (x, x², x·y) is computed once per row
    * and shared by every pair that reads it — the pair masks apply after
    * the conversion. The long-form explode runs on the tiny aggregated
    * frame. Exact sums make every value partitioning-independent; the
    * closing doubles are IEEE-exact across engines (the
    * linear_regression regime).
    */
  def corrMatrix(cols: Seq[String], groupBy: Seq[String] = Nil,
                 deletion: String = "pairwise"): Chain = {
    require(cols.size >= 2, s"corr_matrix needs >= 2 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, s"corr_matrix columns repeat: $cols")
    require(deletion == "pairwise" || deletion == "listwise",
      s"corr_matrix deletion must be pairwise or listwise, got $deletion")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (i, j)
    def finite(cn: String) =
      col(cn).isNotNull && !isnan(col(cn).cast("double"))
    val listwise = deletion == "listwise"
    val xs = cols.map(cn => col(cn).cast("double"))
    def sum(v: Column, rows: Column) = Exact.sum8(v, Some(rows))
    val aggs: Seq[Column] =
      if (listwise) {
        val allOk = cols.map(finite).reduce(_ && _)
        count(when(allOk, lit(1))).as("_n") +:
          (cols.indices.flatMap(i => Seq(sum(xs(i), allOk).as(s"_s_$i"),
            sum(xs(i) * xs(i), allOk).as(s"_ss_$i"))) ++
            pairs.map { case (i, j) => sum(xs(i) * xs(j), allOk).as(s"_sp_${i}_$j") })
      } else pairs.flatMap { case (i, j) =>
        val both = finite(cols(i)) && finite(cols(j))
        val p = s"${i}_$j"
        Seq(count(when(both, lit(1))).as(s"_n_$p"), sum(xs(i), both).as(s"_sx_$p"),
          sum(xs(j), both).as(s"_sy_$p"), sum(xs(i) * xs(j), both).as(s"_sxy_$p"),
          sum(xs(i) * xs(i), both).as(s"_sxx_$p"), sum(xs(j) * xs(j), both).as(s"_syy_$p"))
      }
    val g =
      if (groupBy.isEmpty) c.df.agg(aggs.head, aggs.tail: _*)
      else c.df.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (i, j) =>
      val p = s"${i}_$j"
      def closing(n: Column, sx: Column, sy: Column,
                  sxy: Column, sxx: Column, syy: Column) = {
        // a zero-variance (constant) column or a 0/1-row pair makes the
        // divisor exactly 0 — ANSI mode would abort the whole job on the
        // very inputs a collinearity screen flags. Degenerate pairs
        // surface a null corr instead (NULLIF in the render face; pandas'
        // NaN convention).
        val denom = sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)
        when(denom === lit(0.0), lit(null).cast("double"))
          .otherwise((n * sxy - sx * sy) / denom)
      }
      val (nL, corr) =
        if (listwise) (col("_n"), closing(col("_n").cast("double"),
          col(s"_s_$i"), col(s"_s_$j"), col(s"_sp_$p"), col(s"_ss_$i"), col(s"_ss_$j")))
        else (col(s"_n_$p"), closing(col(s"_n_$p").cast("double"),
          col(s"_sx_$p"), col(s"_sy_$p"), col(s"_sxy_$p"), col(s"_sxx_$p"), col(s"_syy_$p")))
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        corr.as("corr"), nL.as("n"))
    }
    val df2 = g.select((groupBy.map(col) :+ explode(array(rows: _*)).as("_p")): _*)
      .select((groupBy.map(col) ++ Seq(col("_p.col_a"), col("_p.col_b"),
        col("_p.corr"), col("_p.n"))): _*)
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    // the render face mirrors semantics branch-per-pair (correctness face;
    // the single-pass DataFrame plan is the performance path)
    val allOkS = cols.map(cn =>
      s"$cn IS NOT NULL AND NOT isnan(CAST($cn AS DOUBLE))").mkString(" AND ")
    val branches = pairs.map { case (i, j) =>
      val (a, b) = (cols(i), cols(j))
      val bothS =
        if (listwise) allOkS
        else s"$a IS NOT NULL AND $b IS NOT NULL AND " +
          s"NOT isnan(CAST($a AS DOUBLE)) AND NOT isnan(CAST($b AS DOUBLE))"
      s"SELECT $gSel'$a' AS col_a, '$b' AS col_b, " +
        s"(_nd * _sxy - _sx * _sy) / NULLIF(SQRT(_nd * _sxx - _sx * _sx) * SQRT(_nd * _syy - _sy * _sy), 0) AS corr, " +
        s"_n AS n FROM (SELECT ${gSel}CAST(COUNT(_x) AS DOUBLE) AS _nd, COUNT(_x) AS _n, " +
        s"${Exact.sum8Sql("_x")} AS _sx, ${Exact.sum8Sql("_y")} AS _sy, ${Exact.sum8Sql("_x * _y")} AS _sxy, " +
        s"${Exact.sum8Sql("_x * _x")} AS _sxx, ${Exact.sum8Sql("_y * _y")} AS _syy FROM (" +
        s"SELECT ${gSel}CASE WHEN $bothS THEN CAST($a AS DOUBLE) END AS _x, " +
        s"CASE WHEN $bothS THEN CAST($b AS DOUBLE) END AS _y FROM {{source}})$gBy)"
    }
    c.next("corr_matrix", df2, Some(branches.mkString(" UNION ALL ")))
  }

  /** trimmed_mean(column, trim, group_by): the robust location estimate —
    * drop FLOOR(trim·n) values from EACH end of the null/NaN-excluded
    * ascending order and average the rest exactly (one `<col>_tmean` row
    * per group with `n_kept` and `n`). The heavy-tail-safe mean the
    * profile family pairs with [[quantileProfile]]: a handful of
    * corrupt extremes move a plain mean arbitrarily but cannot touch a
    * 10%-trimmed one. A group whose trim swallows everything (n ≤ 2·cut)
    * surfaces a null mean, never 0/0. Ties at the cut rank keep an
    * arbitrary SET of the tied rows but always the same VALUES, so the
    * result is deterministic.
    *
    * Scale: one hash exchange on the group keys + an in-partition sort
    * (the rank windows), then one aggregate with exact-decimal
    * accumulation — partitioning-independent, the [[graft.core.Exact]]
    * regime.
    */
  def trimmedMean(column: String, trim: Double,
                  groupBy: Seq[String] = Nil): Chain = {
    require(trim >= 0.0 && trim < 0.5, s"trim must be in [0, 0.5), got $trim")
    val x = col(column).cast("double")
    val xr = when(!isnan(x), x)
    val wPart =
      if (groupBy.isEmpty) Window.partitionBy()
      else Window.partitionBy(groupBy.map(col): _*)
    val ranked = c.df
      .withColumn("_t_rn", row_number().over(wPart.orderBy(xr.asc_nulls_last)))
      .withColumn("_t_n", count(xr).over(wPart))
    val cut = floor(lit(trim) * col("_t_n"))
    val keep = xr.isNotNull && col("_t_rn") > cut && col("_t_rn") <= col("_t_n") - cut
    val kept = when(keep, xr)
    val outName = Naming.agg(column, "tmean")
    val aggs = Seq(
      (Exact.sum(kept) / count(kept)).as(outName),
      count(kept).as("n_kept"), max(col("_t_n")).as("n"))
    val g =
      if (groupBy.isEmpty) ranked.agg(aggs.head, aggs.tail: _*)
      else ranked.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // Exact.sum of an empty kept set is null, so null/0 stays null — no
    // ANSI divide-by-zero; make the contract explicit anyway
    val df2 = g.withColumn(outName,
      when(col("n_kept") === 0, lit(null).cast("double")).otherwise(col(outName)))
    val cn = Naming.quoteId(column)
    val xS = s"CAST($cn AS DOUBLE)"
    val xrS = s"CASE WHEN NOT isnan($xS) THEN $xS END"
    val wp = if (groupBy.isEmpty) "" else s"PARTITION BY ${groupBy.mkString(", ")}"
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    val keepS = s"_t_x IS NOT NULL AND _t_rn > FLOOR(CAST('$trim' AS DOUBLE) * _t_n) " +
      s"AND _t_rn <= _t_n - FLOOR(CAST('$trim' AS DOUBLE) * _t_n)"
    val keptS = s"CASE WHEN $keepS THEN _t_x END"
    c.next("trimmed_mean", df2, Some(
      s"SELECT $gSel CASE WHEN COUNT($keptS) = 0 THEN NULL ELSE " +
        s"${Exact.sumSql(keptS)} / COUNT($keptS) END AS $outName, " +
        s"COUNT($keptS) AS n_kept, MAX(_t_n) AS n FROM (" +
        s"SELECT $gSel$xrS AS _t_x, " +
        s"ROW_NUMBER() OVER ($wp ORDER BY $xrS ASC NULLS LAST) AS _t_rn, " +
        s"COUNT($xrS) OVER ($wp) AS _t_n FROM {{source}})$gBy"))
  }

  /** trimmed_mean_sketch(column, trim, group_by, k): the corpus-scale face
    * of [[trimmedMean]] — per-group mergeable KLL quantile sketches
    * ([[graft.functions.KllSketches]]) derive the two trim cutoffs
    * (inclusive-rank quantiles at `trim` and `1 − trim`), joined back for
    * ONE filtered exact-decimal mean pass. Same output contract as the
    * exact face: (`<col>_tmean`, `n_kept`, `n`) per group, null mean when
    * nothing survives the trim, NaN never enters the sketch or the mean,
    * `n` is the EXACT valid count (only the cutoff placement is sketched).
    * Cutoffs carry KLL's ±1.65% (k = 200) normalized rank error, so the
    * kept SET can differ from the exact face only for values within that
    * band of the cut ranks (Round11SketchSpec corners the disagreement
    * through the monotone-in-both-endpoints mean bound); at trim = 0 the
    * cutoffs are the sketch's retained exact min/max, so every valid value
    * is kept and the two faces agree bit-for-bit.
    *
    * Scale: two map-side-combined aggregate passes (sketch bounds, then
    * the closing mean) with one hash exchange each — no window, no
    * per-group sort, so the exact face's low-cardinality rank funnel (the
    * whole corpus through #distinct-group sort tasks) is gone. The SQL
    * face calls the registered KLL kernels (Spark-executable, engine-
    * specific by design — the ORACLE regime for sketch ops is the exact
    * face, the [[graft.ops.EncodeOps.winsorizeSketch]] posture).
    */
  def trimmedMeanSketch(column: String, trim: Double,
                        groupBy: Seq[String] = Nil, k: Int = 200): Chain = {
    require(trim >= 0.0 && trim < 0.5, s"trim must be in [0, 0.5), got $trim")
    val reservedTm = Seq(Naming.agg(column, "tmean"), "n_kept", "n",
      "_t_sk", "_t_lo", "_t_hi")
    require(groupBy.intersect(reservedTm).isEmpty,
      s"trimmed_mean_sketch group columns collide with output names " +
        s"${groupBy.intersect(reservedTm).mkString(", ")} — rename first")
    val x = col(column).cast("double")
    val xr = when(!isnan(x), x)
    val sk = graft.functions.KllSketches.sketchAgg(xr, k).as("_t_sk")
    val bounds = (
      if (groupBy.isEmpty) c.df.agg(sk)
      else c.df.groupBy(groupBy.map(col): _*).agg(sk))
      .select((groupBy.map(col) :+
        graft.functions.KllSketches.quantile(col("_t_sk"), trim).as("_t_lo") :+
        graft.functions.KllSketches.quantile(col("_t_sk"), 1.0 - trim).as("_t_hi")): _*)
    val joined =
      if (groupBy.isEmpty) c.df.crossJoin(broadcast(bounds))
      else c.df.join(bounds, groupBy, "left")
    // an empty/all-NaN group has a null sketch → null cutoffs → the keep
    // predicate is null for every row → nothing kept, null mean — the
    // exact face's contract without a special case
    val kept = when(xr >= col("_t_lo") && xr <= col("_t_hi"), xr)
    val outName = Naming.agg(column, "tmean")
    val aggs = Seq(
      (Exact.sum(kept) / count(kept)).as(outName),
      count(kept).as("n_kept"), count(xr).as("n"))
    val g =
      if (groupBy.isEmpty) joined.agg(aggs.head, aggs.tail: _*)
      else joined.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val df2 = g.withColumn(outName,
      when(col("n_kept") === 0, lit(null).cast("double")).otherwise(col(outName)))
    val cn = Naming.quoteId(column)
    val xS = s"CAST(s.$cn AS DOUBLE)"
    val xrS = s"CASE WHEN NOT isnan($xS) THEN $xS END"
    val xrAggS = s"CASE WHEN NOT isnan(CAST($cn AS DOUBLE)) THEN CAST($cn AS DOUBLE) END"
    def q(p: Double) = s"KLL_QUANTILE(KLL_SKETCH_AGG($xrAggS, $k), " +
      s"${java.lang.Double.toString(p)}D)"
    val boundsSel = (groupBy :+ s"${q(trim)} AS _t_lo" :+
      s"${q(1.0 - trim)} AS _t_hi").mkString(", ")
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    val joinSql =
      if (groupBy.isEmpty) s"CROSS JOIN (SELECT $boundsSel FROM {{source}}) b"
      else s"LEFT JOIN (SELECT $boundsSel FROM {{source}}$grpSql) b ON " +
        groupBy.map(g => s"s.$g = b.$g").mkString(" AND ")
    val keptS = s"CASE WHEN ($xrS) >= b._t_lo AND ($xrS) <= b._t_hi THEN $xrS END"
    val gSelS = if (groupBy.isEmpty) "" else groupBy.map(g => s"s.$g").mkString(", ") + ", "
    val gByS = if (groupBy.isEmpty) "" else " GROUP BY " + groupBy.map(g => s"s.$g").mkString(", ")
    c.next("trimmed_mean_sketch", df2, Some(
      s"SELECT ${gSelS}CASE WHEN COUNT($keptS) = 0 THEN NULL ELSE " +
        s"${Exact.sumSql(keptS)} / COUNT($keptS) END AS $outName, " +
        s"COUNT($keptS) AS n_kept, COUNT($xrS) AS n FROM {{source}} s $joinSql$gByS"))
  }

  /** calibration_profile(score_col, label_col, buckets): reliability
    * census for a probabilistic classifier — the calibration check every
    * model-scored curation pass needs before its scores gate a corpus
    * (is a 0.9 "quality" really right 90% of the time?). Equal-width
    * score buckets over [0, 1] (the [[histogram]] regime: score = 1
    * folds into the top bucket, null/NaN/out-of-range rows and rows with
    * null/NaN labels are EXCLUDED; every bucket present, empties carry
    * n = 0 with null stats). Per bucket: `n`, mean predicted score
    * (`score_avg`, exact-decimal accumulation), observed positive rate
    * (`pos_rate`, label ≠ 0 counts as positive), and the group's
    * expected calibration error `ece = Σ_b (n_b/N)·|pos_rate_b −
    * score_avg_b|` repeated on its rows — the summary number dashboards
    * alert on. The ECE numerator is the EXACT decimal Σ_b |pos_b −
    * ssum_b| over the already-exact integer/decimal accumulators
    * (n_b·|pos_rate_b − score_avg_b| = |pos_b − ssum_b| algebraically —
    * no floating-point step, no quantization, no 2^53 product bound),
    * closed by one double division, so the result is partitioning- and
    * engine-independent at any per-bucket count; a group with no valid
    * rows surfaces a null ece, never a zero divide.
    *
    * Scale: ONE corpus scan, ONE map-side-combined hash aggregate (≤
    * groups × (buckets + 1) rows out — invalid rows land in a null
    * bucket so group DISCOVERY rides the same pass, keeping the
    * all-invalid-group null-ece contract without a second corpus scan).
    * Grouped spine padding folds into the aggregate chain (per-group
    * bucket map, exploded against the spine — no corpus-side join, no
    * second consumer of the aggregate; Round12Spec pins the single
    * FileScan); ungrouped joins the Range spine. One more tiny aggregate
    * over the bounded bucket frame closes N/ece — nothing corpus-sized
    * past the first exchange. A NULL group value groups like any other
    * value and keeps its stats (the SQL face joins null-safely to
    * match).
    */
  def calibrationProfile(scoreCol: String, labelCol: String, buckets: Int = 10,
                         groupBy: Seq[String] = Nil): Chain = {
    require(buckets > 0, s"calibration_profile needs buckets > 0, got $buckets")
    // _m/_ssumd/_pos/_q/_N are the grouped one-scan path's internal
    // map-fold/accumulator columns — guarded like the sink's (the
    // ADVICE-flagged gap: a group column named _m would be shadowed by
    // the perGroup map alias)
    val reservedCal = Seq("bucket", "bucket_lo", "bucket_hi", "n", "score_avg",
      "pos_rate", "ece", "_m", "_ssumd", "_pos", "_q", "_N")
    require(groupBy.intersect(reservedCal).isEmpty,
      s"calibration_profile group columns collide with output/internal names " +
        s"${groupBy.intersect(reservedCal).mkString(", ")} — rename first")
    val w = 1.0 / buckets
    val s = col(scoreCol).cast("double")
    val l = col(labelCol).cast("double")
    val ok = s.isNotNull && !isnan(s) && s >= lit(0.0) && s <= lit(1.0) &&
      l.isNotNull && !isnan(l)
    val b = least(floor(s * lit(buckets.toDouble)).cast("long"),
      lit((buckets - 1).toLong))
    // ungrouped: invalid rows filter at the scan (predicate pushed);
    // grouped: invalid rows keep a null bucket so the one aggregate also
    // enumerates every group (all-invalid groups included)
    val counts0 =
      if (groupBy.isEmpty)
        c.df.where(ok).groupBy(b.as("bucket"))
          .agg(count(lit(1)).as("_nb"),
            Exact.sum8Decimal(s).as("_ssumd"),
            sum(when(l =!= lit(0.0), 1L).otherwise(0L)).as("_pos"))
      else
        c.df.groupBy((groupBy.map(col) :+ when(ok, b).as("bucket")): _*)
          .agg(count(when(ok, lit(1))).as("_nb"),
            Exact.sum8Decimal(when(ok, s)).as("_ssumd"),
            sum(when(ok && l =!= lit(0.0), 1L).otherwise(0L)).as("_pos"))
    val spineB = c.spark.range(buckets).select(col("id").as("bucket"))
    val frame =
      if (groupBy.isEmpty)
        spineB.join(counts0, Seq("bucket"), "left")
          .select((col("bucket") +: AggOps.calibrationStats(col("bucket"),
            col("_nb"), col("_ssumd"), col("_pos"), w)) :+ col("_ssumd") :+ col("_pos"): _*)
      else {
        // GROUPED spine padding folds into the aggregate chain itself:
        // one more bounded aggregate rolls each group's bucket rows into
        // a map, then the full spine explodes back out with map lookups.
        // The aggregate has ONE consumer, so nothing re-derives groups
        // from the corpus and nothing re-joins it — the optimizer can
        // neither split the ok-filter across two scan copies (which
        // breaks exchange reuse) nor collapse a groups-distinct back
        // into a second corpus scan. Null-bucket rows (all-invalid
        // groups) contribute no map entry but still carry their group.
        val perGroup = counts0.groupBy(groupBy.map(col): _*)
          .agg(map_from_entries(collect_list(when(col("bucket").isNotNull,
            struct(col("bucket"),
              struct(col("_nb"), col("_ssumd"), col("_pos")))))).as("_m"))
        val e = try_element_at(col("_m"), col("bucket"))
        perGroup
          .select((groupBy.map(col) :+
            explode(sequence(lit(0L), lit((buckets - 1).toLong))).as("bucket") :+
            col("_m")): _*)
          .select((groupBy.map(col) ++ (col("bucket") +: AggOps.calibrationStats(col("bucket"),
            e.getField("_nb"), e.getField("_ssumd"), e.getField("_pos"), w)) ++ Seq(
            e.getField("_ssumd").as("_ssumd"),
            e.getField("_pos").as("_pos"))): _*)
      }
    val df2 = AggOps.withCalibrationEce(frame, groupBy, Seq("_ssumd", "_pos"))
    val wS = s"CAST('$w' AS DOUBLE)"
    val sS = s"CAST(${Naming.quoteId(scoreCol)} AS DOUBLE)"
    val lS = s"CAST(${Naming.quoteId(labelCol)} AS DOUBLE)"
    val okS = s"${Naming.quoteId(scoreCol)} IS NOT NULL AND NOT isnan($sS) AND " +
      s"$sS >= CAST('0.0' AS DOUBLE) AND $sS <= CAST('1.0' AS DOUBLE) AND " +
      s"${Naming.quoteId(labelCol)} IS NOT NULL AND NOT isnan($lS)"
    val bS = s"LEAST(CAST(FLOOR($sS * CAST('$buckets.0' AS DOUBLE)) AS BIGINT), ${buckets - 1})"
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else ", " + groupBy.mkString(", ")
    val cntSql = s"SELECT ${gSel}$bS AS bucket, COUNT(*) AS _nb, " +
      s"${Exact.sum8DecimalSql(sS)} AS _ssumd, " +
      s"SUM(CASE WHEN $lS <> CAST('0.0' AS DOUBLE) THEN 1 ELSE 0 END) AS _pos " +
      s"FROM {{source}} WHERE $okS GROUP BY bucket$gBy"
    val statsSql =
      "COALESCE(_nb, 0) AS n, CASE WHEN _nb > 0 THEN CAST(_ssumd AS DOUBLE) / _nb END AS score_avg, " +
        "CASE WHEN _nb > 0 THEN CAST(_pos AS DOUBLE) / CAST(_nb AS DOUBLE) END AS pos_rate, " +
        "_ssumd, _pos "
    // grouped face joins NULL-SAFELY on the group keys (a null group
    // value groups like any other value — the DataFrame face's map fold
    // keeps its stats, so the rendered face must too)
    val frameSql =
      if (groupBy.isEmpty)
        s"SELECT bucket, bucket * $wS AS bucket_lo, (bucket + 1) * $wS AS bucket_hi, " +
          statsSql +
          s"FROM (SELECT explode(${AggOps.bucketSpineSql(buckets)}) AS bucket) " +
          s"LEFT JOIN ($cntSql) USING (bucket)"
      else {
        val onS = (Seq("sp.bucket = cnt.bucket") ++
          groupBy.map(g => s"(sp.$g = cnt.$g OR (sp.$g IS NULL AND cnt.$g IS NULL))"))
          .mkString(" AND ")
        s"SELECT ${groupBy.map(g => s"sp.$g").mkString(", ")}, sp.bucket AS bucket, " +
          s"sp.bucket * $wS AS bucket_lo, (sp.bucket + 1) * $wS AS bucket_hi, " +
          statsSql +
          s"FROM ((SELECT DISTINCT ${groupBy.mkString(", ")} FROM {{source}}) " +
          s"CROSS JOIN (SELECT explode(${AggOps.bucketSpineSql(buckets)}) AS bucket)) sp " +
          s"LEFT JOIN ($cntSql) cnt ON $onS"
      }
    // exact decimal term |pos − ssum| = n·|pos_rate − score_avg| with no
    // floating-point step (matches the DataFrame face bit for bit; the
    // (29,8) casts keep the difference inside every engine's 38-digit
    // cap so the scale never truncates)
    val termSql = "CASE WHEN n > 0 THEN ABS(CAST(_pos AS DECIMAL(29,8)) - " +
      "CAST(_ssumd AS DECIMAL(29,8))) ELSE CAST(0 AS DECIMAL(30,8)) END"
    val eceSql =
      if (groupBy.isEmpty)
        s"SELECT bucket, bucket_lo, bucket_hi, n, score_avg, pos_rate, " +
          "CASE WHEN _N = 0 THEN NULL ELSE " +
          "CAST(_q AS DOUBLE) / CAST(_N AS DOUBLE) END AS ece " +
          s"FROM ($frameSql) CROSS JOIN (SELECT SUM($termSql) AS _q, SUM(n) AS _N " +
          s"FROM ($frameSql))"
      else {
        // the N/ece total attaches NULL-SAFELY too — the DataFrame
        // face's window partitions a null group together, so the
        // rendered face must not drop its total on a USING equality
        val nsOn = groupBy
          .map(g => s"(f.$g = t.$g OR (f.$g IS NULL AND t.$g IS NULL))")
          .mkString(" AND ")
        s"SELECT ${groupBy.map(g => s"f.$g").mkString(", ")}, f.bucket AS bucket, " +
          "f.bucket_lo, f.bucket_hi, f.n, f.score_avg, f.pos_rate, " +
          "CASE WHEN t._N = 0 THEN NULL ELSE " +
          "CAST(t._q AS DOUBLE) / CAST(t._N AS DOUBLE) END AS ece " +
          s"FROM ($frameSql) f LEFT JOIN (SELECT ${gSel}SUM($termSql) AS _q, SUM(n) AS _N " +
          s"FROM ($frameSql) GROUP BY ${groupBy.mkString(", ")}) t ON $nsOn"
      }
    c.next("calibration_profile", df2, Some(eceSql))
  }

  /** cross_table(col_a, col_b): the contingency table with χ²-of-
    * independence decomposition — one row per (value_a × value_b) cell of
    * the observed margins (zero-observed cells INCLUDED: their expected
    * count still contributes to χ²), with observed `cnt`, `expected`
    * (row·col/n), the cell's `chi2_term` (o−e)²/e, the fixed-point-exact
    * `chi2_total`, and `dof` = (|A|−1)(|B|−1). The "is corpus source
    * independent of language" screen. Rows with a null on EITHER side are
    * excluded (margins are over observed categories).
    *
    * Determinism: expected counts and terms are pure IEEE arithmetic over
    * exact integers (engine-identical); the total sums 1e-6 fixed-point
    * terms (the [[entropyProfile]] regime), so it is partitioning- and
    * engine-independent.
    *
    * Scale: one hash aggregate for the cells + two margin aggregates, all
    * map-side combined; the margin cross join is declared and broadcasts
    * its (categorical-domain-sized) B side — the output IS that cross
    * product, so its size is the answer's size, never the corpus's.
    */
  def crossTable(colA: String, colB: String): Chain = {
    require(colA != colB, "cross_table needs two distinct columns")
    val both = col(colA).isNotNull && col(colB).isNotNull
    val va = col(colA).cast("string")
    val vb = col(colB).cast("string")
    val cells = c.df.where(both).groupBy(va.as("value_a"), vb.as("value_b"))
      .agg(count(lit(1)).as("_o"))
    val ra = c.df.where(both).groupBy(va.as("value_a")).agg(count(lit(1)).as("_ra"))
    val cb = c.df.where(both).groupBy(vb.as("value_b")).agg(count(lit(1)).as("_cb"))
    // the totals come from the margins (n = Σ row margins, and the level
    // counts are their row counts): two COUNT(DISTINCT …) over the input
    // planned an Expand whose grouping-set order varied from run to run
    val n = ra.agg(sum(col("_ra")).as("_n"), count(lit(1)).as("_ka"))
      .crossJoin(cb.agg(count(lit(1)).as("_kb")))
    // the margin cross product IS the output; ScaleLint reads the
    // aggregated broadcast build as the domain-sized (info-level) pattern
    // it is, and the one-row totals frames under the ungrouped-aggregate
    // bound
    val grid = ra.crossJoin(broadcast(cb)).crossJoin(broadcast(n))
      .join(cells, Seq("value_a", "value_b"), "left")
    val o = coalesce(col("_o"), lit(0L)).cast("double")
    val e = col("_ra").cast("double") * col("_cb").cast("double") / col("_n").cast("double")
    val term = (o - e) * (o - e) / e
    val t1 = grid.select(col("value_a"), col("value_b"),
      coalesce(col("_o"), lit(0L)).as("cnt"), e.as("expected"),
      term.as("chi2_term"),
      ((col("_ka") - 1) * (col("_kb") - 1)).as("dof"))
    val tot = t1.agg(Exact.fromFixed(Exact.fixedSum(Exact.fpq(col("chi2_term")))).as("chi2_total"))
    val df2 = t1.crossJoin(broadcast(tot))
      .select("value_a", "value_b", "cnt", "expected", "chi2_term",
        "chi2_total", "dof")
    val bothS = s"$colA IS NOT NULL AND $colB IS NOT NULL"
    def vS(cn: String) = s"CAST($cn AS STRING)"
    val eS = "(CAST(_ra AS DOUBLE) * CAST(_cb AS DOUBLE) / CAST(_n AS DOUBLE))"
    val dS = s"(CAST(COALESCE(_o, 0) AS DOUBLE) - CAST(_ra AS DOUBLE) * CAST(_cb AS DOUBLE) / CAST(_n AS DOUBLE))"
    val termS = s"$dS * $dS / $eS"
    c.next("cross_table", df2, Some(
      s"SELECT value_a, value_b, cnt, expected, chi2_term, chi2_total, dof FROM (" +
        s"SELECT value_a, value_b, COALESCE(_o, 0) AS cnt, " +
        s"CAST(_ra AS DOUBLE) * CAST(_cb AS DOUBLE) / CAST(_n AS DOUBLE) AS expected, " +
        s"$termS AS chi2_term, " +
        s"(_ka - 1) * (_kb - 1) AS dof FROM " +
        s"(SELECT ${vS(colA)} AS value_a, COUNT(*) AS _ra FROM {{source}} WHERE $bothS GROUP BY 1) " +
        s"CROSS JOIN (SELECT COUNT(*) AS _n, COUNT(DISTINCT ${vS(colA)}) AS _ka, " +
        s"COUNT(DISTINCT ${vS(colB)}) AS _kb FROM {{source}} WHERE $bothS) " +
        s"JOIN (SELECT ${vS(colB)} AS value_b, COUNT(*) AS _cb FROM {{source}} WHERE $bothS GROUP BY 1) ON TRUE " +
        s"LEFT JOIN (SELECT ${vS(colA)} AS value_a, ${vS(colB)} AS value_b, COUNT(*) AS _o " +
        s"FROM {{source}} WHERE $bothS GROUP BY 1, 2) USING (value_a, value_b)) " +
        s"CROSS JOIN (SELECT ${Exact.fromFixedSql(Exact.fixedSumSql(Exact.fpqSql(s"($termS)")))} AS chi2_total FROM " +
        s"(SELECT ${vS(colA)} AS value_a, COUNT(*) AS _ra FROM {{source}} WHERE $bothS GROUP BY 1) " +
        s"CROSS JOIN (SELECT COUNT(*) AS _n FROM {{source}} WHERE $bothS) " +
        s"JOIN (SELECT ${vS(colB)} AS value_b, COUNT(*) AS _cb FROM {{source}} WHERE $bothS GROUP BY 1) ON TRUE " +
        s"LEFT JOIN (SELECT ${vS(colA)} AS value_a, ${vS(colB)} AS value_b, COUNT(*) AS _o " +
        s"FROM {{source}} WHERE $bothS GROUP BY 1, 2) USING (value_a, value_b))"))
  }

  /** agreement_profile(col_a, col_b): inter-annotator agreement census —
    * the label-QC gate for any corpus scored by two raters (two model
    * versions, a model vs. human audit, two labeling passes). One row per
    * class value observed by EITHER rater: both raters' marginal counts,
    * the agreement count on that class, and the overall statistics
    * repeated per row — observed agreement `po`, chance agreement `pe`
    * (the product of marginals), and Cohen's kappa `(po − pe)/(1 − pe)`.
    * Rows where either label is null are EXCLUDED (count them with
    * [[describe]] if they matter). `pe` quantizes each class term at
    * 1e-12 fixed point before the exact integer sum (the PSI regime) so
    * the closing is partitioning- and engine-independent; a degenerate
    * input where pe = 1 (both raters constant on one class) surfaces a
    * null kappa — the 0/0 an ANSI runtime would otherwise abort on.
    *
    * Scale: ONE pass over the valid rows — each row melts to its two
    * rater labels (2 rows out per row in) and the class frame closes
    * with conditional counts in a single map-side-combined aggregate;
    * the total and the overall stats derive from the BOUNDED class frame
    * (n = Σ n_a by construction). Nothing corpus-sized past the one
    * exchange, nothing driver-side.
    */
  def agreementProfile(colA: String, colB: String,
                       groupBy: Seq[String] = Nil): Chain = {
    require(colA != colB, "agreement_profile needs two distinct columns")
    val reservedAg = Seq("label", "n_a", "n_b", "n_agree", "po", "pe", "kappa", "n")
    require(groupBy.intersect(reservedAg).isEmpty,
      s"agreement_profile group columns collide with output names " +
        s"${groupBy.intersect(reservedAg).mkString(", ")} — rename first")
    require(groupBy.forall(g => !g.startsWith("_t_") && !g.startsWith("_s_")),
      s"agreement_profile group columns may not start with the internal " +
        s"rename prefixes _t_/_s_: $groupBy — rename first")
    val df2 = AggOps.agreementClose(
      AggOps.agreementClassFrame(c.df, colA, colB, groupBy), groupBy)
    val bothS = s"${Naming.quoteId(colA)} IS NOT NULL AND ${Naming.quoteId(colB)} IS NOT NULL"
    val vaS = s"CAST(${Naming.quoteId(colA)} AS STRING)"
    val vbS = s"CAST(${Naming.quoteId(colB)} AS STRING)"
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else ", " + groupBy.mkString(", ")
    val peS = Exact.fromFixedSql(Exact.fixedSumSql(Exact.fpqSql(
      "(CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))", 12)), 12)
    val sqlFace =
      if (groupBy.isEmpty) {
        val clS = s"SELECT label, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b, " +
          "COALESCE(n_agree, 0) AS n_agree FROM " +
          s"(SELECT $vaS AS label, COUNT(*) AS n_a FROM {{source}} WHERE $bothS GROUP BY label) " +
          s"FULL JOIN (SELECT $vbS AS label, COUNT(*) AS n_b FROM {{source}} WHERE $bothS GROUP BY label) USING (label) " +
          s"LEFT JOIN (SELECT $vaS AS label, COUNT(*) AS n_agree FROM {{source}} WHERE $bothS AND $vaS = $vbS GROUP BY label) USING (label)"
        val totS = s"SELECT COUNT(*) AS n FROM {{source}} WHERE $bothS"
        val stS = s"SELECT SUM(n_agree) AS _agree, $peS AS _pe FROM ($clS) CROSS JOIN ($totS)"
        val poS = "CAST(_agree AS DOUBLE) / CAST(n AS DOUBLE)"
        s"SELECT label, n_a, n_b, n_agree, $poS AS po, _pe AS pe, " +
          s"CASE WHEN 1.0 - _pe = 0.0 THEN NULL ELSE ($poS - _pe) / (1.0 - _pe) END AS kappa, n " +
          s"FROM ($clS) CROSS JOIN ($totS) CROSS JOIN ($stS)"
      } else {
        // grouped face: the class frame comes from the SAME melt the
        // DataFrame face uses (no joins keyed by the groups at this
        // level), and the per-group joins back are NULL-SAFE — a null
        // group value keeps its classes, matching agreementClose
        def nsOn(l: String, r: String) = groupBy
          .map(g => s"($l.$g = $r.$g OR ($l.$g IS NULL AND $r.$g IS NULL))")
          .mkString(" AND ")
        val srcS = s"SELECT $gSel$vaS AS va, $vbS AS vb FROM {{source}} WHERE $bothS"
        val meltS =
          s"SELECT ${gSel}va AS label, 0 AS _s, CASE WHEN va = vb THEN 1 ELSE 0 END AS _agr FROM ($srcS) " +
            s"UNION ALL SELECT ${gSel}vb AS label, 1 AS _s, 0 AS _agr FROM ($srcS)"
        val clS = s"SELECT ${gSel}label, " +
          "CAST(SUM(CASE WHEN _s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
          "CAST(SUM(CASE WHEN _s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
          s"CAST(SUM(_agr) AS BIGINT) AS n_agree FROM ($meltS) GROUP BY label$gBy"
        val totS = s"SELECT ${gSel}COUNT(*) AS n FROM {{source}} WHERE $bothS " +
          s"GROUP BY ${groupBy.mkString(", ")}"
        val stS = s"SELECT ${groupBy.map(g => s"cl2.$g").mkString(", ")}, " +
          s"SUM(n_agree) AS _agree, $peS AS _pe FROM ($clS) cl2 JOIN ($totS) t2 ON ${nsOn("cl2", "t2")} " +
          s"GROUP BY ${groupBy.map(g => s"cl2.$g").mkString(", ")}"
        val poS = "CAST(st._agree AS DOUBLE) / CAST(t.n AS DOUBLE)"
        s"SELECT ${groupBy.map(g => s"cl.$g").mkString(", ")}, cl.label, cl.n_a, cl.n_b, cl.n_agree, " +
          s"$poS AS po, st._pe AS pe, " +
          s"CASE WHEN 1.0 - st._pe = 0.0 THEN NULL ELSE ($poS - st._pe) / (1.0 - st._pe) END AS kappa, t.n " +
          s"FROM ($clS) cl JOIN ($totS) t ON ${nsOn("cl", "t")} " +
          s"JOIN ($stS) st ON ${nsOn("cl", "st")}"
      }
    c.next("agreement_profile", df2, Some(sqlFace))
  }

  /** skew_profile(keys, top_k): the hot-key census — the top_k heaviest
    * key values with their row count and corpus share, the diagnostic to
    * run BEFORE a join melts on a skewed key (pair with
    * [[graft.ops.JoinOps.joinSalted]] once the culprits are known).
    *
    * Scale: one hash aggregate on the keys (map-side combined), a
    * TakeOrderedAndProject for the top_k (no global sort materializes),
    * and the total from a separate count-only scan (column-pruned to
    * nothing — parquet answers it from footers) broadcast onto the
    * winners. Nothing driver-side beyond top_k rows. Ties at the top_k
    * boundary break by key ascending — deterministic across engines.
    */
  def skewProfile(keys: Seq[String], topK: Int = 20): Chain = {
    require(keys.nonEmpty, "skew_profile needs at least one key column")
    require(topK > 0, s"skew_profile needs top_k > 0, got $topK")
    val counts = c.df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
    val total = c.df.agg(count(lit(1)).as("_total"))
    val df2 = counts.crossJoin(broadcast(total))
      .orderBy((col("cnt").desc +: keys.map(col(_).asc)): _*)
      .limit(topK)
      .select((keys.map(col) ++ Seq(col("cnt"),
        (col("cnt").cast("double") / col("_total").cast("double")).as("share"))): _*)
    val kSql = keys.mkString(", ")
    c.next("skew_profile", df2, Some(
      s"SELECT $kSql, cnt, CAST(cnt AS DOUBLE) / CAST(_total AS DOUBLE) AS share FROM " +
        s"(SELECT $kSql, COUNT(*) AS cnt FROM {{source}} GROUP BY $kSql) " +
        s"CROSS JOIN (SELECT COUNT(*) AS _total FROM {{source}}) " +
        s"ORDER BY cnt DESC, ${keys.map(_ + " ASC").mkString(", ")} LIMIT $topK"))
  }

  /** weighted_agg(group_by, value, weight): weighted mean Σwx/Σw per group
    * — mixture statistics where rows carry importance (duplication counts,
    * sampling weights, token counts: "mean quality per source, weighted by
    * tokens"). Rows where either side is null/NaN are excluded WHOLE (the
    * engine's consistent-exclusion contract); output `<value>_wavg`,
    * `<weight>_wsum` (the weight mass actually aggregated) and `n`.
    *
    * Accumulation runs in the FIXED-POINT regime ([[graft.core.Exact.dot]]
    * rationale): per-row w and w·x round to 1e-6 fixed-point integers
    * (FLOOR(v·1e6 + 0.5) — identical IEEE ops in every engine) and sum as
    * exact decimals, because a DECIMAL(38,8) product sum here crosses 2⁵³
    * scaled and the closing decimal→double conversion then DOUBLE-ROUNDS
    * differently across engines (observed: 1-ulp drift on this exact
    * shape). Micro-unit quantization; per-row |w·x| must stay below ~9e12
    * or the ANSI bigint cast raises — loud, never wrong.
    *
    * Scale: one hash aggregate, gated integer sums, map-side combined —
    * partitioning-independent; the closing divisions run in IEEE doubles.
    */
  def weightedAgg(groupBy: Seq[String], valueCol: String, weightCol: String): Chain = {
    val both = col(valueCol).isNotNull && col(weightCol).isNotNull &&
      !isnan(col(valueCol).cast("double")) && !isnan(col(weightCol).cast("double"))
    val xc = when(both, col(valueCol).cast("double"))
    val wc = when(both, col(weightCol).cast("double"))
    def fp(cc: Column) = Exact.fixedSum(Exact.fpq(cc))
    val aggs = Seq(fp(wc * xc).as("_swxfp"), fp(wc).as("_swfp"), count(xc).as("n"))
    val g =
      if (groupBy.isEmpty) c.df.agg(aggs.head, aggs.tail: _*)
      else c.df.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val wavg = Naming.agg(valueCol, "wavg")
    val wsum = Naming.agg(weightCol, "wsum")
    val swx = Exact.fromFixed(col("_swxfp"))
    val sw = Exact.fromFixed(col("_swfp"))
    // a group whose present weights sum to exactly 0 (all-zero weights,
    // or canceling signed ones) would hit ANSI DIVIDE_BY_ZERO — surface
    // a null wavg instead (NULLIF in the render face)
    val df2 = g.select((groupBy.map(col) ++ Seq(
      when(col("_swfp") === lit(0).cast(DecimalType(38, 0)),
        lit(null).cast("double")).otherwise(swx / sw).as(wavg),
      sw.as(wsum), col("n"))): _*)
    def fpS(e: String) = Exact.fixedSumSql(Exact.fpqSql(s"($e)"))
    val bothS = s"$valueCol IS NOT NULL AND $weightCol IS NOT NULL AND " +
      s"NOT isnan(CAST($valueCol AS DOUBLE)) AND NOT isnan(CAST($weightCol AS DOUBLE))"
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    c.next("weighted_agg", df2, Some(
      s"SELECT $gSel(${Exact.fromFixedSql("_swxfp")}) / NULLIF(${Exact.fromFixedSql("_swfp")}, 0) AS $wavg, " +
        s"${Exact.fromFixedSql("_swfp")} AS $wsum, n FROM (" +
        s"SELECT ${gSel}${fpS("_w * _x")} AS _swxfp, ${fpS("_w")} AS _swfp, COUNT(_x) AS n FROM (" +
        s"SELECT ${gSel}CASE WHEN $bothS THEN CAST($valueCol AS DOUBLE) END AS _x, " +
        s"CASE WHEN $bothS THEN CAST($weightCol AS DOUBLE) END AS _w FROM {{source}})$gBy)"))
  }

  /** quantile_profile(columns, probs, group_by): exact nearest-rank
    * quantiles in LONG form — one `(col_name, prob, value, n)` row per
    * (column × probability), the distribution fingerprint behind corpus
    * audits ("where does the p99 of tokens-per-doc sit per source").
    * Nearest-rank convention: rank FLOOR(p·(n−1))+1 over the null/NaN-
    * excluded ascending order — the [[graft.ops.EncodeOps.robustScaler]]
    * convention, exact and engine-portable where interpolated percentiles
    * are not. Each column's n is its own (exclusion is per column).
    *
    * Scale: the columns melt to long form first (k× row blowup BEFORE one
    * exchange on (group, col_name) — a single window sort services every
    * column and every probability; no per-column passes), then one hash
    * aggregate reduces to groups × columns rows and the tiny prob explode
    * runs on that. Probability-index arithmetic uses the same IEEE double
    * product in both faces.
    */
  def quantileProfile(cols: Seq[String], probs: Seq[Double],
                      groupBy: Seq[String] = Nil): Chain = {
    require(cols.nonEmpty, "quantile_profile needs at least one column")
    require(cols.distinct.size == cols.size, s"quantile_profile columns repeat: $cols")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"quantile_profile probs must be in [0, 1], got $probs")
    require(probs.distinct.size == probs.size, s"quantile_profile probs repeat: $probs")
    val melted = c.df.select((groupBy.map(col) :+ explode(array(cols.map(cn =>
      struct(lit(cn).as("_c"), col(cn).cast("double").as("_x"))): _*)).as("_m")): _*)
      .select((groupBy.map(col) ++ Seq(col("_m._c").as("_c"), col("_m._x").as("_x"))): _*)
      .where(col("_x").isNotNull && !isnan(col("_x")))
    val part = groupBy.map(col) :+ col("_c")
    val w = Window.partitionBy(part: _*)
    val ranked = melted
      .withColumn("_rn", row_number().over(w.orderBy(col("_x").asc)))
      .withColumn("_n", count(lit(1)).over(w))
    val pickAggs = probs.zipWithIndex.map { case (p, i) =>
      max(when(col("_rn") === floor(lit(p) * (col("_n") - 1)) + 1, col("_x"))).as(s"_q$i")
    } :+ max(col("_n")).as("_qn")
    val g = ranked.groupBy(part: _*).agg(pickAggs.head, pickAggs.tail: _*)
    val probRows = probs.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("prob"), col(s"_q$i").as("value"))
    }
    val df2 = g
      .select((groupBy.map(col) ++ Seq(col("_c").as("col_name"),
        explode(array(probRows: _*)).as("_p"), col("_qn").as("n"))): _*)
      .select((groupBy.map(col) ++ Seq(col("col_name"), col("_p.prob"),
        col("_p.value"), col("n"))): _*)
    // SQL face: one branch per column over the shared window shape; prob
    // literals through CAST('<p>' AS DOUBLE) (the winsorize rationale)
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val wp = if (groupBy.isEmpty) "" else s"PARTITION BY ${groupBy.mkString(", ")}"
    val branches = for (cn <- cols; p <- probs) yield {
      val pS = s"CAST('$p' AS DOUBLE)"
      val xS = s"CASE WHEN NOT isnan(CAST($cn AS DOUBLE)) THEN CAST($cn AS DOUBLE) END"
      s"SELECT $gSel'$cn' AS col_name, $pS AS prob, " +
        s"MAX(CASE WHEN _rn = FLOOR($pS * (_n - 1)) + 1 THEN _x END) AS value, " +
        s"MAX(_n) AS n FROM (SELECT $gSel$xS AS _x, " +
        s"ROW_NUMBER() OVER ($wp ORDER BY $xS ASC NULLS LAST) AS _rn, " +
        s"COUNT($xS) OVER ($wp) AS _n FROM {{source}}) WHERE _x IS NOT NULL" +
        // ungrouped aggregate over zero rows still yields one (all-null)
        // row — HAVING drops it to match the DataFrame face's empty frame
        (if (groupBy.isEmpty) " HAVING COUNT(*) > 0"
         else s" GROUP BY ${groupBy.mkString(", ")}")
    }
    c.next("quantile_profile", df2, Some(branches.mkString(" UNION ALL ")))
  }

  /** quantile_profile_sketch(columns, probs, group_by, k): the corpus-
    * scale face of [[quantileProfile]] — the same long-form
    * `(col_name, prob, value, n)` fingerprint from per-(group × column)
    * mergeable KLL sketches in ONE map-side-combined aggregate: no melt
    * (zero row blowup), no window, no per-key sort — the exact face's
    * rank window funnels the whole corpus through #(group × column) sort
    * tasks, which for an ungrouped profile is #columns tasks at 100 TB.
    * Values are KLL inclusive-rank quantiles with ±1.65% (k = 200)
    * normalized rank error (Round11SketchSpec gates them inside the exact
    * rank bands); `n` is the EXACT per-column valid count, and columns
    * with no valid values contribute no rows — both exactly the exact
    * face's contract. The SQL face calls the registered KLL kernels
    * (Spark-executable; oracle regime = the exact face, the
    * [[graft.ops.EncodeOps.winsorizeSketch]] posture).
    */
  def quantileProfileSketch(cols: Seq[String], probs: Seq[Double],
                            groupBy: Seq[String] = Nil, k: Int = 200): Chain = {
    require(cols.nonEmpty, "quantile_profile_sketch needs at least one column")
    require(cols.distinct.size == cols.size, s"quantile_profile_sketch columns repeat: $cols")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"quantile_profile_sketch probs must be in [0, 1], got $probs")
    require(probs.distinct.size == probs.size, s"quantile_profile_sketch probs repeat: $probs")
    val reservedQp = Seq("col_name", "prob", "value", "n", "_q") ++
      cols.indices.flatMap(i => Seq(s"_sk$i", s"_n$i"))
    require(groupBy.intersect(reservedQp).isEmpty,
      s"quantile_profile_sketch group columns collide with output names " +
        s"${groupBy.intersect(reservedQp).mkString(", ")} — rename first")
    val aggs = cols.zipWithIndex.flatMap { case (cn, i) =>
      val xr = { val x = col(cn).cast("double"); when(!isnan(x), x) }
      Seq(graft.functions.KllSketches.sketchAgg(xr, k).as(s"_sk$i"),
        count(xr).as(s"_n$i"))
    }
    val g =
      if (groupBy.isEmpty) c.df.agg(aggs.head, aggs.tail: _*)
      else c.df.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // quantile readout happens BEFORE the explode, once per
    // (group × column × prob) over the one-row-per-group aggregated frame
    // — the eval-only kernel never sees a per-input-row hot path
    val qRows = for ((cn, i) <- cols.zipWithIndex; p <- probs) yield
      struct(lit(cn).as("col_name"), lit(p).as("prob"),
        graft.functions.KllSketches.quantile(col(s"_sk$i"), p).as("value"),
        col(s"_n$i").as("n"))
    val df2 = g.select((groupBy.map(col) :+ explode(array(qRows: _*)).as("_q")): _*)
      .select((groupBy.map(col) ++ Seq(col("_q.col_name"), col("_q.prob"),
        col("_q.value"), col("_q.n"))): _*)
      .where(col("n") > 0)
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    val branches = for (cn <- cols; p <- probs) yield {
      val xrS = s"CASE WHEN NOT isnan(CAST($cn AS DOUBLE)) THEN CAST($cn AS DOUBLE) END"
      s"SELECT $gSel'$cn' AS col_name, CAST('$p' AS DOUBLE) AS prob, " +
        s"KLL_QUANTILE(KLL_SKETCH_AGG($xrS, $k), ${java.lang.Double.toString(p)}D) AS value, " +
        s"COUNT($xrS) AS n FROM {{source}}$gBy HAVING COUNT($xrS) > 0"
    }
    c.next("quantile_profile_sketch", df2, Some(branches.mkString(" UNION ALL ")))
  }

  /** entropy_profile(columns, group_by): categorical-balance census in
    * LONG form — per column: value count `n` (nulls excluded), distinct
    * count, Shannon entropy in nats, and the Simpson diversity index
    * 1−Σ(c/n)². Low entropy on `lang`/`source`/`license` is the classic
    * "this corpus is secretly one domain" smell; Simpson is the
    * collision-probability complement (exact-rational, so it cross-checks
    * the float entropy).
    *
    * Entropy closes as ln(n) − Σc·ln(c)/n with BOTH ln terms quantized to
    * 1e-6 fixed-point integers before the exact-decimal sum — the
    * [[weightedAgg]] regime — so the result is partitioning-independent
    * and engine-exact (raw double Σ over per-value ln terms would drift
    * with partition order).
    *
    * Scale: melt → one hash aggregate per (group, column, value) with
    * map-side combine → one tiny aggregate per (group, column). The value-
    * level frame is the only big exchange and it carries counts, not rows.
    */
  def entropyProfile(cols: Seq[String], groupBy: Seq[String] = Nil): Chain = {
    require(cols.nonEmpty, "entropy_profile needs at least one column")
    require(cols.distinct.size == cols.size, s"entropy_profile columns repeat: $cols")
    val melted = c.df.select((groupBy.map(col) :+ explode(array(cols.map(cn =>
      struct(lit(cn).as("_c"), col(cn).cast("string").as("_v"))): _*)).as("_m")): _*)
      .select((groupBy.map(col) ++ Seq(col("_m._c").as("_c"), col("_m._v").as("_v"))): _*)
      .where(col("_v").isNotNull)
    val vpart = groupBy.map(col) ++ Seq(col("_c"), col("_v"))
    val counts = melted.groupBy(vpart: _*).agg(count(lit(1)).as("_cnt"))
    val g = counts.groupBy((groupBy.map(col) :+ col("_c")): _*).agg(
      sum(col("_cnt")).as("n"),
      count(lit(1)).as("n_distinct"),
      AggOps.slnSum(col("_cnt")).as("_sclnc"),
      // cast each factor to DECIMAL(19,0) BEFORE multiplying: the long
      // product would overflow silently past ~3e9 rows per value, and
      // 19×19 → DECIMAL(38,0) types identically in every ANSI engine
      sum(col("_cnt").cast(DecimalType(19, 0)) *
        col("_cnt").cast(DecimalType(19, 0))).as("_sc2"))
    val nD = col("n").cast("double")
    val entropy = AggOps.entropy(nD, col("_sclnc"))
    val simpson = lit(1.0) - col("_sc2").cast("double") / (nD * nD)
    val df2 = g.select((groupBy.map(col) ++ Seq(col("_c").as("col_name"),
      col("n"), col("n_distinct"), entropy.as("entropy"), simpson.as("simpson"))): _*)
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    val gBy2 = if (groupBy.isEmpty) "" else s", ${groupBy.mkString(", ")}"
    val branches = cols.map { cn =>
      s"SELECT $gSel'$cn' AS col_name, CAST(SUM(_cnt) AS BIGINT) AS n, " +
        s"COUNT(*) AS n_distinct, " +
        s"${AggOps.entropySql("SUM(_cnt)", AggOps.slnSumSql("_cnt"))} AS entropy, " +
        s"1.0 - CAST(SUM(CAST(_cnt AS DECIMAL(19,0)) * CAST(_cnt AS DECIMAL(19,0))) AS DOUBLE) / (CAST(SUM(_cnt) AS DOUBLE) * CAST(SUM(_cnt) AS DOUBLE)) AS simpson " +
        s"FROM (SELECT ${gSel}CAST($cn AS STRING) AS _v, COUNT(*) AS _cnt FROM {{source}} " +
        s"WHERE $cn IS NOT NULL GROUP BY _v$gBy2)$gBy" +
        // ungrouped aggregate over an all-null column still yields one
        // null row — HAVING drops it to match the DataFrame face
        (if (groupBy.isEmpty) " HAVING COUNT(*) > 0" else "")
    }
    c.next("entropy_profile", df2, Some(branches.mkString(" UNION ALL ")))
  }

  /** k_anonymity_violations(quasi_columns, k): the privacy audit half of
    * [[graft.ops.ProjectOps.pseudonymize]] — every equivalence class over
    * the quasi-identifier columns with FEWER than k members, i.e. the rows
    * a linkage attack can narrow to under-k individuals even after direct
    * identifiers are tokenized. Empty result = the table is k-anonymous on
    * those columns. Null is a class value like any other (null quasi
    * values group together — they narrow an attack too).
    *
    * Scale: one hash aggregate with map-side combine; the HAVING filter
    * cuts the result to violating classes only before anything else runs.
    */
  def kAnonymityViolations(quasiCols: Seq[String], k: Int): Chain = {
    require(quasiCols.nonEmpty, "k_anonymity needs at least one quasi-identifier column")
    require(k >= 2, s"k_anonymity needs k >= 2, got $k")
    val df2 = c.df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") < k)
    val qSql = quasiCols.mkString(", ")
    c.next("k_anonymity_violations", df2, Some(
      s"SELECT $qSql, COUNT(*) AS cnt FROM {{source}} GROUP BY $qSql HAVING COUNT(*) < $k"))
  }

  /** psi_profile(other, column, lo, hi, buckets): population-stability
    * drift between THIS chain (baseline) and `other` (candidate) over
    * equal-width bins — the dataset-shift alarm for refresh pipelines
    * ("did the new crawl's doc-length distribution move"). Per bucket:
    * both counts, and the PSI term (p′−q′)·ln(p′/q′) with both shares
    * floored at `eps` (the standard dodge for empty buckets — the term is
    * then always finite and non-negative); `psi_total` repeats Σterms on
    * every row (rule of thumb: < 0.1 stable, 0.1–0.25 drifting, > 0.25
    * shifted). Binning follows [[histogram]] exactly: null/NaN/
    * out-of-range rows are EXCLUDED, x = hi folds into the top bucket,
    * empty buckets are present. A side with NO in-range rows yields null
    * shares and null terms — visible, never a fake zero.
    *
    * Engine-exactness: shares are exact integer-over-integer IEEE
    * divisions; the ln factor is quantized to 1e-6 fixed point (the
    * [[entropyProfile]] regime) so the product is bit-stable across
    * engines and partitionings.
    *
    * `group_by` (per-source/language/domain drift — "PSI per slice"):
    * every bucket, total, term, and `psi_total` closes PER GROUP; the
    * group spine is the union of groups seen on EITHER side (excluded
    * rows still vote for discovery, so a group whose rows are all
    * out-of-range stays visible with zero counts and null terms); a NULL
    * group value groups like any other value. `other` must carry the
    * same-named group columns.
    *
    * Scale: ONE scan per side — both sides tag-union into ONE
    * (group, bucket) aggregate ([[AggOps.sideCounts]], map-side combined,
    * ≤ groups × (buckets + 1) rows shuffle); excluded rows keep a NULL
    * bucket inside it so group DISCOVERY rides the same pass, and the
    * spine pads per group via the bucket-map explode
    * ([[AggOps.foldPadCounts]] — never a corpus-side distinct-groups
    * rescan); closings are two tiny per-group aggregates over the bounded
    * frame ([[AggOps.psiTerms]]). Ungrouped is the same plan with no group
    * columns: one count map, totals broadcast back by crossJoin. Not
    * SQL-renderable (two frames — the [[graft.ops.JoinOps.diffAgainst]]
    * posture).
    */
  def psiProfile(other: DataFrame, column: String, lo: Double, hi: Double,
                 buckets: Int, eps: Double = 1e-6,
                 groupBy: Seq[String] = Nil): Chain = {
    require(buckets > 0, s"psi_profile needs buckets > 0, got $buckets")
    require(hi > lo, s"psi_profile needs hi > lo, got [$lo, $hi]")
    AggOps.requirePsiEps("psi_profile", eps)
    AggOps.twoSampleGuard("psi_profile", c.df, other, column, groupBy,
      Seq("bucket", "bucket_lo", "bucket_hi"))
    val (in, b) = AggOps.equalWidthBin(column, lo, hi, buckets)
    val counts = AggOps.sideCounts(c.df, other, groupBy, when(in, b), "bucket",
      keepNull = true)
    val df2 = AggOps.psiTerms(AggOps.foldPadCounts(counts, groupBy, buckets), eps, groupBy)
      .select((groupBy.map(col) ++ (col("bucket") +: AggOps.binEdges(lo, hi, buckets)) ++
        Seq(col("cnt_base"), col("cnt_other"), col("psi_term"), col("psi_total"))): _*)
    c.next("psi_profile", df2, None)
  }

  /** psi_quantile_profile(other, column, buckets): PSI over EQUAL-
    * FREQUENCY bins — the robust drift face practitioners reach for when
    * equal-width bins ([[psiProfile]]) are brittle: a heavy tail or an
    * outlier stretches fixed-width bins until all mass lands in one and
    * drift goes invisible, while reference-quantile bins keep every bin
    * at ~1/buckets of the BASE mass by construction. Cutoffs come from
    * ONE mergeable KLL sketch over this chain (the base/reference side),
    * read out at i/buckets; both sides then bucket by the SAME cutoffs
    * (bucket = #cutoffs strictly below x, so the domain is covered with
    * no lo/hi clipping — only null/NaN rows are excluded) and close with
    * the shared eps-floored fixed-point PSI arithmetic. Output carries
    * each bin's cutoff bounds (null at the open ends).
    *
    * Inside the sketch's exact regime (base n ≤ k) the cutoffs are the
    * literal inclusive-rank order statistics and the whole result is
    * engine-replayable; past it they carry KLL's published rank-error
    * bounds — the bins drift by ±ε rank, the PSI stays a valid
    * equal-frequency profile (gate with rank bands, never hashes).
    *
    * `group_by` (per-slice equal-frequency drift): each slice gets its own
    * equal-frequency bins, and every count, total, term, `psi_total`, and
    * cutoff bound closes per group. Group discovery follows
    * [[psiProfile]]: null/NaN rows keep a NULL bucket, so an all-invalid
    * group stays visible (null cutoffs, zero counts, null terms); a group
    * seen only on the `other` side buckets to 0 with null bounds and null
    * terms — visible, never a fake zero. Ungrouped, an empty/degenerate
    * base likewise yields null cutoffs and a null profile.
    *
    * Scale: the BASE side is read ONCE, eagerly, by
    * [[AggOps.quantileReference]] — one grouped KLL aggregate and one
    * bucket-count aggregate over its persisted pruned projection, both
    * BOUNDED DECLARED DRIVER READS capped at `maxGroups` (loud refusal
    * past the cap — per-group cutoffs cannot fold to literals without a
    * driver read; drift slices are low-cardinality by construction),
    * re-lifted as literal frames, so the returned plan carries the base
    * only as literals. `other` is scanned once, lazily, through one
    * broadcast join against the literal cutoffs and one map-side-combined
    * aggregate; the PSI closing runs over the bounded padded frame — no
    * global sort, nothing corpus-sized past the first exchanges.
    */
  def psiQuantileProfile(other: DataFrame, column: String, buckets: Int,
                         eps: Double = 1e-6, k: Int = 200,
                         groupBy: Seq[String] = Nil,
                         maxGroups: Int = 1000): Chain = {
    require(buckets > 1, s"psi_quantile_profile needs buckets > 1, got $buckets")
    AggOps.requirePsiEps("psi_quantile_profile", eps)
    require(maxGroups > 0, s"psi_quantile_profile needs maxGroups > 0, got $maxGroups")
    AggOps.twoSampleGuard("psi_quantile_profile", c.df, other, column, groupBy,
      Seq("cut_lo", "cut_hi", "_sk") ++ (1 until buckets).map(i => s"_cut$i"))
    val (cutF, baseCounts) = AggOps.quantileReference("psi_quantile_profile", c.df,
      column, groupBy, buckets, k, maxGroups)
    // literal base counts + lazy other counts: one union into ONE
    // aggregate (a full-outer join would need null-safe keys; the union
    // groups null group values and the NULL discovery bucket naturally)
    val counts = baseCounts
      .unionByName(AggOps.cutoffCounts(other, column, cutF, groupBy, buckets, "_co"),
        allowMissingColumns = true)
      .groupBy((groupBy.map(col) :+ col("bucket")): _*)
      .agg(sum(col("_cb")).as("_cb"), sum(col("_co")).as("_co"))
    val closed = AggOps.psiTerms(AggOps.foldPadCounts(counts, groupBy, buckets), eps, groupBy)
    val df2 = AggOps.withCutoffBounds(closed, cutF, groupBy, buckets)
      .select((groupBy.map(col) ++ Seq(col("bucket"), col("cut_lo"),
        col("cut_hi"), col("cnt_base"), col("cnt_other"),
        col("psi_term"), col("psi_total"))): _*)
    c.next("psi_quantile_profile", df2, None)
  }

  /** psi_categorical_profile(other, column, group_by): [[psiProfile]]
    * over a categorical column's own value domain (language, source,
    * license — the corpus-mix drift check): one row per value seen on
    * EITHER side, null values excluded like [[entropyProfile]] (count
    * them separately if they matter). Same eps-floored fixed-point PSI
    * arithmetic; no domain cap is needed — everything past the one
    * count aggregate is value-cardinality-sized, not row-sized.
    *
    * `group_by` (per-slice corpus-mix drift): every value row, total,
    * and `psi_total` closes per group; a NULL group value groups like
    * any other. There is no bucket spine to pad — a value unseen within
    * a group simply has count 0 on the side that misses it, and a group
    * whose rows are all null-valued yields no rows (exactly what its
    * own ungrouped run would produce, fuzz-pinned).
    *
    * Scale, at any grouping: ONE scan per side — tag-union into ONE
    * (group, value) aggregate with map-side combine
    * ([[AggOps.sideCounts]]) — then the two tiny per-group closing
    * aggregates ([[AggOps.psiTerms]], null-safe).
    */
  def psiCategoricalProfile(other: DataFrame, column: String,
                            eps: Double = 1e-6,
                            groupBy: Seq[String] = Nil): Chain = {
    AggOps.requirePsiEps("psi_categorical", eps)
    AggOps.twoSampleGuard("psi_categorical", c.df, other, column, groupBy, Seq("value"))
    val counts = AggOps.sideCounts(c.df, other, groupBy, col(column).cast("string"), "value")
      .withColumnsRenamed(Map("_cb" -> "cnt_base", "_co" -> "cnt_other"))
    val df2 = AggOps.psiTerms(counts, eps, groupBy).select((groupBy.map(col) ++
      Seq(col("value"), col("cnt_base"), col("cnt_other"), col("psi_term"),
        col("psi_total"))): _*)
    c.next("psi_categorical_profile", df2, None)
  }

  /** ks_profile(other, column, group_by): two-sample Kolmogorov–Smirnov
    * statistic between this chain (base) and `other` — per group, the
    * maximum absolute ECDF gap
    *
    *   ks_fp = max over jump points v of |fpq(F_base(v)) − fpq(F_other(v))|
    *
    *   (fpq = floor(x·1e6 + 0.5); each ECDF is quantized BEFORE the
    *   difference, so ks_fp is a pure integer function of the two value
    *   multisets — engine-exact.)
    *
    * The non-parametric companion to the binned PSI family: PSI needs a
    * bucketing choice, KS evaluates at every observed value — the
    * standard two-sample test, ties handled by evaluating only at jump
    * points (Conover, Practical Nonparametric Statistics). NaN never
    * ranks (the engine-wide posture); a group present in only one frame
    * reports the other side's n as 0 with ks_fp NULL (no distribution to
    * compare — visible, never a fake 0 or 1).
    *
    * Scale shape: one scan per side tag-unioned into ONE (group, value)
    * count aggregate ([[AggOps.sideCounts]] — the exchange carries
    * counts, not rows), then cumulative counts and side totals per group
    * over the distinct values ([[AggOps.sideTotals]]) and one closing
    * aggregate. UNGROUPED — where a continuous column makes the
    * distinct-value frame corpus-scale — there is no single-partition
    * window at all: both sides' cumulative counts ride ONE multi-weight
    * [[graft.core.PrefixScan]] over the count frame and the totals
    * broadcast back from the same checkpoint. Identical integers; the
    * ungrouped face is therefore EAGER (the PrefixScan posture — release
    * via [[graft.core.Chain.releaseCheckpoints]]).
    */
  def ksProfile(other: DataFrame, column: String,
                groupBy: Seq[String] = Nil): Chain = {
    AggOps.twoSampleGuard("ks_profile", c.df, other, column, groupBy,
      Seq("n_base", "n_other", "ks_fp"))
    val x = col(column).cast("double")
    val stepped = AggOps.sideTotals(
      AggOps.sideCounts(c.df, other, groupBy, when(!isnan(x), x), "_v"),
      groupBy, cumulativeBy = Some(col("_v").asc))
    import Exact.fpq
    val dTerm = when(col("_tb") > 0L && col("_to") > 0L,
      abs(fpq(col("_cumb").cast("double") / col("_tb").cast("double")) -
        fpq(col("_cumo").cast("double") / col("_to").cast("double"))))
    val df2 = stepped.groupBy(groupBy.map(col): _*)
      .agg(max(col("_tb")).as("n_base"), max(col("_to")).as("n_other"),
        max(dTerm).as("ks_fp"))
    c.next("ks_profile", df2, None)
  }

  /** l_diversity_violations(quasi_cols, sensitive_col, l): the second
    * privacy audit next to [[kAnonymityViolations]] — every equivalence
    * class over the quasi-identifiers whose SENSITIVE column shows fewer
    * than `l` distinct values (Machanavajjhala et al., "ℓ-Diversity:
    * Privacy Beyond k-Anonymity", ICDE 2006): a class can be k-anonymous
    * and still leak ("all five matching patients have the same
    * diagnosis"). Output per violating class: the quasi columns, `n`
    * (class size), `n_sensitive` (distinct sensitive values — a NULL
    * sensitive value counts as one more observed value: an attacker
    * learns "not disclosed", which narrows too). Empty result = the
    * table is ℓ-diverse on those columns. Null quasi values group
    * together, the [[kAnonymityViolations]] convention.
    *
    * Scale: one hash aggregate with map-side combine (COUNT DISTINCT
    * shuffles (class, sensitive) pairs, not rows); HAVING cuts to
    * violations before anything else runs.
    */
  def lDiversityViolations(quasiCols: Seq[String], sensitiveCol: String,
                           l: Int): Chain = {
    require(quasiCols.nonEmpty, "l_diversity needs at least one quasi-identifier column")
    require(l >= 2, s"l_diversity needs l >= 2, got $l")
    require(!quasiCols.contains(sensitiveCol),
      s"l_diversity: sensitive column '$sensitiveCol' cannot be a quasi-identifier")
    (sensitiveCol +: quasiCols).foreach(cn => require(c.df.columns.contains(cn),
      s"l_diversity: chain is missing column '$cn'"))
    val s = col(sensitiveCol)
    val df2 = c.df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        (countDistinct(s) +
          max(when(s.isNull, lit(1L)).otherwise(lit(0L)))).as("n_sensitive"))
      .where(col("n_sensitive") < l)
    val qSql = quasiCols.mkString(", ")
    val sq = Naming.quoteId(sensitiveCol)
    val nsSql = s"COUNT(DISTINCT $sq) + MAX(CASE WHEN $sq IS NULL THEN 1 ELSE 0 END)"
    c.next("l_diversity_violations", df2, Some(
      s"SELECT $qSql, COUNT(*) AS n, $nsSql AS n_sensitive FROM {{source}} " +
        s"GROUP BY $qSql HAVING $nsSql < $l"))
  }

  /** auc_profile(score_col, label_col, group_by): ROC AUC of a scorer
    * against binary outcomes — per group: `n_pos`, `n_neg`, `auc`. The
    * missing half of classifier evaluation next to
    * [[calibrationProfile]] (ECE says "are the probabilities honest",
    * AUC says "does the ranking separate the classes"). Computed as the
    * Mann–Whitney U statistic over average ranks (ties share the
    * midrank — the standard tie treatment):
    *
    *   AUC = (Σ_{positives} 2·midrank − n_pos·(n_pos + 1)) /
    *         (2 · n_pos · n_neg)
    *
    * where 2·midrank = 2·RANK + (tie count − 1) is an INTEGER, so the
    * numerator and denominator are pure integers and the single closing
    * division is the only float op — engine-exact at any size. A row is
    * positive when label ≥ 0.5 (cast to double), negative otherwise;
    * null/NaN scores or labels are excluded. A group with no positives
    * or no negatives has no ranking to judge: auc is NULL.
    *
    * Scale shape: one scan, one rank window per group over the scores
    * (ties counted by a value-partition window on the same pass), one
    * closing aggregate. UNGROUPED, ranks never materialize per row at
    * all: the Mann–Whitney sum folds over the DISTINCT-SCORE frame —
    * per-score (count, positive count) aggregate, cumulative counts via
    * [[graft.core.PrefixScan]] (2·midrank(v) = 2·(below(v)+1) +
    * (ties(v)−1), an identity of the value group), one closing
    * aggregate of Σ pos(v)·2·midrank(v) — no single-partition sort,
    * identical integers. The ungrouped face is therefore EAGER (the
    * PrefixScan materialization posture).
    */
  def aucProfile(scoreCol: String, labelCol: String,
                 groupBy: Seq[String] = Nil): Chain = {
    AggOps.requirePsiGroupNames("auc_profile", groupBy,
      Seq("n_pos", "n_neg", "auc", "_sc", "_pos", "_r2", "_rsum"))
    Seq(scoreCol, labelCol).foreach(cn => require(c.df.columns.contains(cn),
      s"auc_profile: chain is missing column '$cn'"))
    val s = col(scoreCol).cast("double")
    val l = col(labelCol).cast("double")
    val ok = s.isNotNull && !isnan(s) && l.isNotNull && !isnan(l)
    val base = c.df.where(ok)
      .select((groupBy.map(col) ++ Seq(s.as("_sc"),
        (l >= lit(0.5)).as("_pos"))): _*)
    val Dec = DecimalType(38, 0)
    val D19 = DecimalType(19, 0)
    val closed = if (groupBy.isEmpty) {
      val vals = base.groupBy(col("_sc"))
        .agg(count(lit(1)).as("_vc"),
          count(when(col("_pos"), lit(1))).as("_vp"))
      val scanned = graft.core.PrefixScan.exclusivePrefixSum(
        vals, Nil, Seq(col("_sc").asc), col("_vc"), "_vx")
      // 2·midrank of every row of value v: 2·(rows below + 1) + (ties − 1)
      val r2v = lit(2L) * (col("_vx") + lit(1L)) + (col("_vc") - lit(1L))
      // _rsum may read 0 where the window face reads NULL (no positives) —
      // the auc guard nulls that case before it can differ
      scanned.agg(
        coalesce(sum(col("_vp")), lit(0L)).as("n_pos"),
        coalesce(sum(col("_vc") - col("_vp")), lit(0L)).as("n_neg"),
        sum(col("_vp").cast(D19) * r2v.cast(D19)).cast(Dec).as("_rsum"))
    } else {
      val wG = Window.partitionBy(groupBy.map(col): _*)
      val wVal = Window.partitionBy((groupBy.map(col) :+ col("_sc")): _*)
      // 2·midrank = 2·RANK(min-rank of the tie group) + (ties − 1): integer
      val r2 = lit(2L) * rank().over(wG.orderBy(col("_sc").asc)).cast("long") +
        (count(lit(1)).over(wVal) - lit(1L))
      base.withColumn("_r2", r2)
        .groupBy(groupBy.map(col): _*)
        .agg(count(when(col("_pos"), lit(1))).as("n_pos"),
          count(when(!col("_pos"), lit(1))).as("n_neg"),
          sum(when(col("_pos"), col("_r2")).cast(Dec)).as("_rsum"))
    }
    val num = col("_rsum").cast("double") -
      (col("n_pos") * (col("n_pos") + lit(1L))).cast("double")
    val den = (lit(2L) * col("n_pos") * col("n_neg")).cast("double")
    val df2 = closed
      .withColumn("auc",
        when(col("n_pos") > 0L && col("n_neg") > 0L, num / den))
      .select((groupBy.map(col) ++ Seq(col("n_pos"), col("n_neg"),
        col("auc"))): _*)
    c.next("auc_profile", df2, None)
  }

  /** spearman_corr(col_a, col_b, group_by): Spearman rank correlation —
    * per group: `n`, `rho`. The robust screening companion to
    * [[corrMatrix]]'s Pearson: monotone-but-nonlinear relationships and
    * heavy tails read correctly on ranks where raw-value Pearson is
    * dragged. Both columns rank within the group with midrank ties
    * (2·midrank integers, as in [[aucProfile]]); rho is Pearson over
    * those integer ranks via EXACT integer moment sums
    * (n·Σxy − Σx·Σy over DECIMAL(38,0) — partitioning- and
    * engine-exact), with the final expression the only float chain.
    * Rows with a null/NaN on EITHER side are excluded (ranks must
    * align). A group with < 2 rows or a constant side yields NULL.
    *
    * Scale shape: one scan, two rank windows per group (one sort per
    * column — inherent to rank correlation), one closing aggregate.
    * UNGROUPED, the windows are replaced by two DISTINCT-VALUE rank
    * tables (per-value counts + [[graft.core.PrefixScan]] cumulative
    * counts → 2·midrank(v) = 2·(below(v)+1) + (ties(v)−1)) equi-joined
    * back on the value columns — identical integers, no
    * single-partition sorts; the ungrouped face is therefore EAGER
    * (the PrefixScan materialization posture).
    */
  def spearmanCorr(colA: String, colB: String,
                   groupBy: Seq[String] = Nil): Chain = {
    require(colA != colB, s"spearman_corr needs two distinct columns, got '$colA' twice")
    AggOps.requirePsiGroupNames("spearman_corr", groupBy,
      Seq("n", "rho", "_xa", "_xb", "_ra", "_rb", "_sa", "_sb", "_qa",
        "_qb", "_sab"))
    Seq(colA, colB).foreach(cn => require(c.df.columns.contains(cn),
      s"spearman_corr: chain is missing column '$cn'"))
    val xa = col(colA).cast("double")
    val xb = col(colB).cast("double")
    val ok = xa.isNotNull && !isnan(xa) && xb.isNotNull && !isnan(xb)
    val base = c.df.where(ok)
      .select((groupBy.map(col) ++ Seq(xa.as("_xa"), xb.as("_xb"))): _*)
    val Dec = DecimalType(38, 0)
    val D19 = DecimalType(19, 0)
    val ranked = if (groupBy.isEmpty) {
      def rankTable(v: String, out: String) = {
        val vals = base.groupBy(col(v)).agg(count(lit(1)).as("_vc"))
        graft.core.PrefixScan.exclusivePrefixSum(
            vals, Nil, Seq(col(v).asc), col("_vc"), "_vx")
          .select(col(v),
            (lit(2L) * (col("_vx") + lit(1L)) + (col("_vc") - lit(1L))).as(out))
      }
      // inner equi-joins are row-preserving here: every base value is in
      // its own rank table, and the ok-filter left no null join keys
      base.join(rankTable("_xa", "_ra"), Seq("_xa"))
        .join(rankTable("_xb", "_rb"), Seq("_xb"))
    } else {
      val wG = Window.partitionBy(groupBy.map(col): _*)
      def rank2(v: String) = {
        val wVal = Window.partitionBy((groupBy.map(col) :+ col(v)): _*)
        lit(2L) * rank().over(wG.orderBy(col(v).asc)).cast("long") +
          (count(lit(1)).over(wVal) - lit(1L))
      }
      base
        .withColumn("_ra", rank2("_xa"))
        .withColumn("_rb", rank2("_xb"))
    }
    val closed = ranked.groupBy(groupBy.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("_ra").cast(Dec)).as("_sa"),
        sum(col("_rb").cast(Dec)).as("_sb"),
        // cast factors to DECIMAL(19,0) before multiplying (the
        // entropyProfile overflow rule): 19×19 types to DECIMAL(38,0)
        sum(col("_ra").cast(D19) * col("_ra").cast(D19)).as("_qa"),
        sum(col("_rb").cast(D19) * col("_rb").cast(D19)).as("_qb"),
        sum(col("_ra").cast(D19) * col("_rb").cast(D19)).as("_sab"))
    val nD = col("n").cast("double")
    def d(c0: String) = col(c0).cast("double")
    val cov = nD * d("_sab") - d("_sa") * d("_sb")
    val va = nD * d("_qa") - d("_sa") * d("_sa")
    val vb = nD * d("_qb") - d("_sb") * d("_sb")
    val df2 = closed
      .withColumn("rho",
        when(col("n") > 1L && va > 0.0 && vb > 0.0,
          cov / sqrt(va * vb)))
      .select((groupBy.map(col) ++ Seq(col("n"), col("rho"))): _*)
    c.next("spearman_corr", df2, None)
  }

  /** t_test_profile(other, column, group_by): Welch's two-sample t
    * statistic between this chain (base) and `other` (Welch, Biometrika
    * 1947 — the unequal-variance mean-shift test) — per group:
    *
    *   n_base/n_other        usable counts (null/NaN/overflow excluded —
    *                         the Exact.stddev consistent-exclusion gate)
    *   mean_base/mean_other  exact-decimal means
    *   var_base/var_other    sample variances (n−1)
    *   t_stat                (m₁ − m₂) / √(s₁²/n₁ + s₂²/n₂)
    *   df                    Welch–Satterthwaite degrees of freedom
    *
    * The significance companion to the drift effect sizes ([[ksProfile]]
    * tests the whole distribution, this tests the mean): PSI/JSD/KS say
    * "how far", t says "is a mean shift this size explainable by noise
    * at these sample sizes". Moments accumulate in exact decimals (the
    * [[flagOutliers]] formulas), so means/variances are bit-identical
    * across partitionings and engines; t and df are fixed IEEE chains on
    * top. A side with n < 2, or zero pooled standard error, yields null
    * t/df — visible, never ±Infinity.
    *
    * Scale shape: one scan per side tag-unioned into ONE per-group
    * moment aggregate (six conditional sums, map-side combined) — no
    * value-domain frame at all, unlike the categorical censuses.
    */
  def tTestProfile(other: DataFrame, column: String,
                   groupBy: Seq[String] = Nil): Chain = {
    AggOps.twoSampleGuard("t_test_profile", c.df, other, column, groupBy,
      Seq("n_base", "n_other", "mean_base", "mean_other", "var_base",
        "var_other", "t_stat", "df", "_n1", "_s1", "_q1", "_n2", "_s2", "_q2"))
    val u = AggOps.tagUnion(c.df, other, groupBy, col(column).cast("double").as("_x"))
    // the x² decimal cast gates exclusion: NaN casts to null, and so does
    // an overflowing x² — rows drop from n, Σx and Σx² together (the
    // flagOutliers contract)
    def mg(tag: Int) = {
      val m = Exact.moments(col("_x"), mask = Some(col("_s") === tag))
      Seq(m.n, m.sx, m.sxx)
    }
    val aggs = (mg(0) ++ mg(1)).zip(Seq("_n1", "_s1", "_q1", "_n2", "_s2", "_q2"))
      .map { case (e, n) => e.as(n) }
    val g = u.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val (m1, m2) = (Exact.Moments(col("_n1"), col("_s1"), col("_q1")).toDouble,
      Exact.Moments(col("_n2"), col("_s2"), col("_q2")).toDouble)
    val closed = g
      .withColumn("mean_base", when(col("_n1") > 0L, m1.mean))
      .withColumn("mean_other", when(col("_n2") > 0L, m2.mean))
      .withColumn("var_base", when(col("_n1") > 1L, m1.variance))
      .withColumn("var_other", when(col("_n2") > 1L, m2.variance))
    val se1 = col("var_base") / col("_n1").cast("double")
    val se2 = col("var_other") / col("_n2").cast("double")
    val pooled = se1 + se2
    val ok = col("_n1") > 1L && col("_n2") > 1L && pooled > 0.0
    val df2 = closed
      .withColumn("t_stat", when(ok,
        (col("mean_base") - col("mean_other")) / sqrt(pooled)))
      .withColumn("df", when(ok,
        (pooled * pooled) / (se1 * se1 / (col("_n1").cast("double") - lit(1.0)) +
          se2 * se2 / (col("_n2").cast("double") - lit(1.0)))))
      .select((groupBy.map(col) ++ Seq(col("_n1").as("n_base"),
        col("_n2").as("n_other"), col("mean_base"), col("mean_other"),
        col("var_base"), col("var_other"), col("t_stat"), col("df"))): _*)
    c.next("t_test_profile", df2, None)
  }

  /** chi_square_homogeneity(other, column, group_by): Pearson's χ² test
    * of homogeneity — are this chain's (base) and `other`'s categorical
    * mixes of `column` draws from the same distribution? Per group:
    *
    *   n_base/n_other   side totals (nulls excluded)
    *   n_values         distinct values across both sides
    *   chi2             Σ over (value, side) cells of (o − e)²/e with
    *                    e = rowTotal·sideTotal/N, each cell term
    *                    quantized to 1e-6 before the exact-decimal sum
    *                    (the [[crossTable]] regime — engine-exact)
    *   df               n_values − 1
    *
    * The significance companion to [[jsdProfile]] (JSD is the effect
    * size, χ² the test statistic at these sample sizes) — and the
    * two-FRAME counterpart of [[crossTable]]'s within-table independence
    * χ². An empty side yields null chi2/df (nothing to test).
    *
    * Scale shape: the [[ksProfile]] side count and side totals — one scan
    * per side into ONE (group, value) count aggregate, totals over that
    * count frame ([[AggOps.sideTotals]]: group-partitioned windows, or
    * ungrouped a declared eager checkpoint with broadcast totals), one
    * closing aggregate.
    */
  def chiSquareHomogeneity(other: DataFrame, column: String,
                           groupBy: Seq[String] = Nil): Chain = {
    AggOps.twoSampleGuard("chi_square_homogeneity", c.df, other, column, groupBy,
      Seq("n_base", "n_other", "n_values", "chi2", "df"))
    val stepped = AggOps.sideTotals(
      AggOps.sideCounts(c.df, other, groupBy, col(column).cast("string"), "_v"), groupBy)
    val tot = (col("_tb") + col("_to")).cast("double")
    val rowT = (col("_cb") + col("_co")).cast("double")
    def cell(o: Column, sideT: Column) = {
      val e = rowT * sideT.cast("double") / tot
      val d = o.cast("double") - e
      d * d / e
    }
    // both sides non-empty → every expected count is > 0 (each value row
    // exists because some side saw it); quantize the per-cell pair before
    // the decimal sum — the crossTable closing
    val term = when(col("_tb") > 0L && col("_to") > 0L,
      Exact.fpq(cell(col("_cb"), col("_tb")) + cell(col("_co"), col("_to"))))
    val df2 = stepped.groupBy(groupBy.map(col): _*)
      .agg(max(col("_tb")).as("n_base"), max(col("_to")).as("n_other"),
        count(lit(1)).as("n_values"),
        Exact.fromFixed(Exact.fixedSum(term)).as("chi2"))
      .withColumn("df", when(col("chi2").isNotNull, col("n_values") - lit(1L)))
    c.next("chi_square_homogeneity", df2, None)
  }

  /** t_closeness_violations(quasi_cols, sensitive_col, t_fp): the third
    * privacy audit, completing [[kAnonymityViolations]] /
    * [[lDiversityViolations]] — every equivalence class whose SENSITIVE
    * value distribution sits farther than `t` from the table's global
    * distribution (Li, Li & Venkatasubramanian, "t-Closeness: Privacy
    * Beyond k-Anonymity and ℓ-Diversity", ICDE 2007): a class can be
    * ℓ-diverse yet still leak when its mix is skewed ("90% of this class
    * has the rare diagnosis"). Distance is total variation
    * ½ Σ |p_s − q_s| (the categorical instantiation; the paper's EMD
    * needs a ground metric the engine cannot guess), computed from
    * class-present values only via
    *
    *   TVD = ½ (Σ_{s∈class} |p_s − q_s| + 1 − Σ_{s∈class} q_s)
    *
    * (absent values contribute exactly their global mass). Per-value
    * terms are fpq-quantized before the integer sums, so `tvd_fp` (1e-6)
    * is a pure function of the counts — engine-exact. A NULL sensitive
    * value is a value like any other (its skew leaks too). Output per
    * violating class: the quasi columns, `n`, `tvd_fp`; empty result =
    * the table is t-close. `t_fp` is the threshold in 1e-6 (default
    * 200000 = 0.2).
    *
    * Scale: one hash aggregate over (class, sensitive) — counts, not
    * rows — then two window passes over that bounded frame (class /
    * value partitions) and one closing aggregate per class. The global
    * total is a one-row aggregate over the checkpointed count frame
    * broadcast back via crossJoin — never a whole-frame window; the
    * count frame materializes once (declared eager — release via
    * [[graft.core.Chain.releaseCheckpoints]]).
    */
  def tClosenessViolations(quasiCols: Seq[String], sensitiveCol: String,
                           tFp: Long = 200000L): Chain = {
    require(quasiCols.nonEmpty, "t_closeness needs at least one quasi-identifier column")
    require(tFp > 0L && tFp < 1000000L,
      s"t_closeness: t_fp is a 1e-6 fixed-point TVD in (0, 1e6), got $tFp")
    require(!quasiCols.contains(sensitiveCol),
      s"t_closeness: sensitive column '$sensitiveCol' cannot be a quasi-identifier")
    (sensitiveCol +: quasiCols).foreach(cn => require(c.df.columns.contains(cn),
      s"t_closeness: chain is missing column '$cn'"))
    val reservedT = Seq("n", "tvd_fp", "_c", "_nc", "_gs", "_tn", "_t1", "_t2")
    val hitT = (quasiCols :+ sensitiveCol).filter(reservedT.contains)
    require(hitT.isEmpty, s"t_closeness: columns collide with " +
      s"output/internal names ${hitT.mkString(", ")} — rename first")
    val qcols = quasiCols.map(col)
    val s = col(sensitiveCol)
    val joint = c.df.groupBy((qcols :+ s): _*).agg(count(lit(1)).as("_c"))
    val wClass = Window.partitionBy(qcols: _*)
    val wVal = Window.partitionBy(s)
    import Exact.fpq
    // the global total comes from a one-row aggregate over the
    // checkpointed joint-count frame, broadcast back via crossJoin — NOT
    // a whole-frame window (SinglePartition funnel on high-cardinality
    // class x value censuses); the class/value windows stay. Declared
    // eager materialization (the PrefixScan posture); the SQL face keeps
    // SUM() OVER () for rendering engines.
    val jointC = joint.localCheckpoint()
    val stepped = jointC
      .withColumn("_nc", sum(col("_c")).over(wClass))
      .withColumn("_gs", sum(col("_c")).over(wVal))
      .crossJoin(broadcast(jointC.agg(
        coalesce(sum(col("_c")), lit(0L)).as("_tn"))))
    val p = col("_c").cast("double") / col("_nc").cast("double")
    val q = col("_gs").cast("double") / col("_tn").cast("double")
    val closed = stepped
      .withColumn("_t1", fpq(abs(p - q)))
      .withColumn("_t2", fpq(q))
      .groupBy(qcols: _*)
      .agg(max(col("_nc")).as("n"),
        floor((sum(col("_t1")) + lit(1000000L) - sum(col("_t2"))).cast("double") /
          lit(2.0) + lit(0.5)).cast("long").as("tvd_fp"))
      .where(col("tvd_fp") > tFp)
    val qSql = quasiCols.mkString(", ")
    val sq = Naming.quoteId(sensitiveCol)
    val pS = "CAST(_c AS DOUBLE) / CAST(_nc AS DOUBLE)"
    val qS = "CAST(_gs AS DOUBLE) / CAST(_tn AS DOUBLE)"
    c.next("t_closeness_violations", closed, Some(
      s"SELECT $qSql, n, tvd_fp FROM (" +
        s"SELECT $qSql, MAX(_nc) AS n, " +
        s"CAST(FLOOR(CAST(SUM(_t1) + 1000000 - SUM(_t2) AS DOUBLE) / 2.0 + 0.5) AS BIGINT) AS tvd_fp " +
        s"FROM (SELECT $qSql, _nc, " +
        s"${Exact.fpqSql(s"ABS($pS - $qS)")} AS _t1, " +
        s"${Exact.fpqSql(s"($qS)")} AS _t2 " +
        s"FROM (SELECT $qSql, $sq, COUNT(*) AS _c, " +
        s"SUM(COUNT(*)) OVER (PARTITION BY $qSql) AS _nc, " +
        s"SUM(COUNT(*)) OVER (PARTITION BY $sq) AS _gs, " +
        s"SUM(COUNT(*)) OVER () AS _tn " +
        s"FROM {{source}} GROUP BY $qSql, $sq)) " +
        s"GROUP BY $qSql) WHERE tvd_fp > $tFp"))
  }

  /** jsd_profile(other, column, group_by): Jensen–Shannon divergence
    * between this chain's (base) and `other`'s categorical distributions
    * of `column` — per group:
    *
    *   n_base / n_other / n_values   side totals, distinct values seen
    *   h_base / h_other / h_mix      Shannon entropies of each side and
    *                                 of the 50/50 mixture m = (p+q)/2
    *   jsd                           H(m) − (H(p) + H(q))/2 ∈ [0, ln 2]
    *
    * The bounded, symmetric companion to [[psiCategoricalProfile]] (PSI
    * blows up on eps-floored empty cells and is asymmetric; JSD is what
    * corpus-mix monitoring dashboards plot). Per-value entropy terms
    * fpq(d·ln d) are quantized BEFORE the exact-decimal sums — shares are
    * exact integer-over-integer IEEE divisions, so every output is a
    * pure function of the two count multisets (engine-exact; 0·ln 0
    * terms are 0). Nulls are excluded on both sides; a group with an
    * empty side reports that side's n as 0 with NULL entropies and jsd
    * (no distribution to compare — the [[ksProfile]] posture).
    *
    * Scale shape: the [[chiSquareHomogeneity]] side count and side totals
    * over one (group, value) count aggregate, then one closing aggregate
    * per group.
    */
  def jsdProfile(other: DataFrame, column: String,
                 groupBy: Seq[String] = Nil): Chain = {
    AggOps.twoSampleGuard("jsd_profile", c.df, other, column, groupBy,
      Seq("n_base", "n_other", "n_values", "h_base", "h_other", "h_mix", "jsd"))
    val stepped = AggOps.sideTotals(
      AggOps.sideCounts(c.df, other, groupBy, col(column).cast("string"), "_v"), groupBy)
    import Exact.fpq
    // per-value quantized d·ln(d) term; d = 0 contributes 0 exactly
    def term(d: Column) =
      when(d > 0.0, fpq(d * log(d))).otherwise(lit(0L))
    // guard the shares: an empty side has _tb/_to = 0 and ANSI mode
    // raises on the division; the zeroed share contributes a 0 term and
    // the entropy guards null the empty side's outputs anyway
    val p = when(col("_tb") > 0L,
      col("_cb").cast("double") / col("_tb").cast("double")).otherwise(lit(0.0))
    val q = when(col("_to") > 0L,
      col("_co").cast("double") / col("_to").cast("double")).otherwise(lit(0.0))
    val m = (p + q) / lit(2.0)
    val closed = stepped.groupBy(groupBy.map(col): _*)
      .agg(max(col("_tb")).as("n_base"), max(col("_to")).as("n_other"),
        count(lit(1)).as("n_values"),
        Exact.fixedSum(term(p)).as("_slp"),
        Exact.fixedSum(term(q)).as("_slq"),
        Exact.fixedSum(when(col("_tb") > 0L && col("_to") > 0L, term(m))
          .otherwise(lit(null))).as("_slm"))
    def h(sln: String, nOk: Column) = when(nOk, -Exact.fromFixed(col(sln)))
    val df2 = closed
      .withColumn("h_base", h("_slp", col("n_base") > 0L))
      .withColumn("h_other", h("_slq", col("n_other") > 0L))
      .withColumn("h_mix", h("_slm", col("n_base") > 0L && col("n_other") > 0L))
      .withColumn("jsd", col("h_mix") - (col("h_base") + col("h_other")) / lit(2.0))
      .select((groupBy.map(col) ++ Seq(col("n_base"), col("n_other"),
        col("n_values"), col("h_base"), col("h_other"), col("h_mix"),
        col("jsd"))): _*)
    c.next("jsd_profile", df2, None)
  }

  /** gini_concentration(column, group_by): Gini coefficient of the
    * category-count distribution — per group: `n` (rows), `n_values`
    * (distinct categories), `gini` ∈ [0, 1): 0 = perfectly balanced
    * categories, → 1 = one category holds everything. The corpus-
    * concentration readout beside [[entropyProfile]]'s entropy/Simpson
    * ("90% of the corpus is one domain" shows up as gini → 1 however
    * many long-tail domains exist). Computed from the sorted-count
    * identity
    *
    *   G = (2·Σ i·c_(i) − (V + 1)·n) / (V·n)
    *
    * over the ascending counts c_(1..V) — numerator and denominator are
    * pure integers (ties contribute identically under any tie order), so
    * the single closing division is the only float op: engine-exact.
    * Nulls are a category like any other. A single-category group has no
    * between-category inequality: gini = 0.
    *
    * Scale shape: one (group, value) count aggregate (map-side combined
    * — counts, not rows), a rank window over that bounded count frame,
    * one closing aggregate. UNGROUPED the sorted-count positions come
    * from [[graft.core.PrefixScan]] over the count frame instead of a
    * global ROW_NUMBER window — deterministic ((_cnt, value) totally
    * orders the distinct values), identical integers, declared eager.
    */
  def giniConcentration(column: String, groupBy: Seq[String] = Nil): Chain = {
    require(c.df.columns.contains(column),
      s"gini_concentration: chain is missing column '$column'")
    AggOps.requirePsiGroupNames("gini_concentration", groupBy,
      Seq("n", "n_values", "gini", "_v", "_cnt", "_i"))
    require(!groupBy.contains(column),
      "gini_concentration: group columns overlap the census column")
    val counts = c.df
      .groupBy((groupBy.map(col) :+ col(column).cast("string").as("_v")): _*)
      .agg(count(lit(1)).as("_cnt"))
    val ranked = if (groupBy.isEmpty)
      // sorted-count positions from PrefixScan, not a global ROW_NUMBER
      // window ((_cnt, _v) is a total order over distinct values, so the
      // positions are deterministic); declared eager
      graft.core.PrefixScan.exclusivePrefixSum(counts, Nil,
          Seq(col("_cnt").asc, col("_v").asc_nulls_first), lit(1L), "_i0")
        .withColumn("_i", col("_i0") + lit(1L)).drop("_i0")
    else {
      val wG = Window.partitionBy(groupBy.map(col): _*)
      counts.withColumn("_i",
        row_number().over(wG.orderBy(col("_cnt").asc, col("_v").asc_nulls_first)))
    }
    val Dec = DecimalType(38, 0)
    val closed = ranked.groupBy(groupBy.map(col): _*)
      .agg(sum(col("_cnt")).as("n"), count(lit(1)).as("n_values"),
        sum((col("_i") * col("_cnt")).cast(Dec)).as("_sic"))
    val num = lit(2.0) * col("_sic").cast("double") -
      ((col("n_values") + lit(1L)) * col("n")).cast("double")
    val den = (col("n_values") * col("n")).cast("double")
    val df2 = closed
      .withColumn("gini", num / den)
      .select((groupBy.map(col) ++ Seq(col("n"), col("n_values"),
        col("gini"))): _*)
    c.next("gini_concentration", df2, None)
  }

  /** mutual_information(col_a, col_b, group_by): dependence census of two
    * categorical columns — per group:
    *
    *   n, n_a, n_b, n_ab   joint row count / distinct values per side /
    *                       occupied joint cells
    *   h_a, h_b, h_ab      Shannon entropies in nats (the
    *                       [[entropyProfile]] quantized closing)
    *   mi                  I(A;B) = H(A) + H(B) − H(A,B)
    *
    * High MI between `source` and `lang`, or between a quasi-identifier
    * pair, is the "these columns leak each other" readout — the natural
    * next question after [[entropyProfile]]'s per-column balance and
    * [[crossTable]]'s χ² (χ² tests independence; MI measures it in nats
    * on the same joint counts). Rows with a null in EITHER column are
    * excluded (a joint census needs both coordinates; matches the
    * entropy null posture). Every c·ln(c) term is quantized to 1e-6
    * fixed point before the exact-decimal sums, so all outputs are pure
    * functions of the joint counts — engine-exact. Quantization can
    * leave a tiny negative mi (≈1e-6) on independent columns; that is
    * the quantized truth, not an error.
    *
    * Scale shape: ONE corpus scan into the (group, a, b) joint-count
    * aggregate (map-side combined); marginals and the closing fold are
    * derived from that SAME frame (three tiny aggregates over joint
    * counts — Catalyst reuses the joint exchange), never a corpus
    * rescan. The joint frame is |A|·|B|-bounded per group — counts, not
    * rows.
    */
  def mutualInformation(colA: String, colB: String,
                        groupBy: Seq[String] = Nil): Chain = {
    require(colA != colB, s"mutual_information needs two distinct columns, got '$colA' twice")
    Seq(colA, colB).foreach(cn => require(c.df.columns.contains(cn),
      s"mutual_information: chain is missing column '$cn'"))
    AggOps.requirePsiGroupNames("mutual_information", groupBy,
      Seq("n", "n_a", "n_b", "n_ab", "h_a", "h_b", "h_ab", "mi",
        "_va", "_vb", "_cab", "_cm", "_slna", "_slnb", "_slnab"))
    require(!groupBy.contains(colA) && !groupBy.contains(colB),
      "mutual_information: group columns overlap the census columns")
    val gcols = groupBy.map(col)
    val joint = c.df
      .where(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy((gcols ++ Seq(col(colA).cast("string").as("_va"),
        col(colB).cast("string").as("_vb"))): _*)
      .agg(count(lit(1)).as("_cab"))
    val aAgg = AggOps.marginalSln(joint, gcols, "_va", "_cab", "n_a", "_slna")
    val bAgg = AggOps.marginalSln(joint, gcols, "_vb", "_cab", "n_b", "_slnb")
    val jAgg = joint.groupBy(gcols: _*)
      .agg(sum(col("_cab")).as("n"), count(lit(1)).as("n_ab"),
        AggOps.slnSum(col("_cab")).as("_slnab"))
    // null-SAFE group joins (the psiTerms `<=>` rename regime): a
    // plain equi-join would silently drop every NULL-keyed group while
    // the window-based grouped censuses keep it
    val merged =
      if (groupBy.isEmpty) jAgg.crossJoin(aAgg).crossJoin(bAgg)
      else AggOps.joinNullSafe(AggOps.joinNullSafe(jAgg, aAgg, groupBy, "_t_"), bAgg, groupBy, "_p_")
    val nD = col("n").cast("double")
    def h(sln: String) = AggOps.entropy(nD, col(sln))
    val df2 = merged
      .withColumn("h_a", h("_slna"))
      .withColumn("h_b", h("_slnb"))
      .withColumn("h_ab", h("_slnab"))
      .withColumn("mi", (col("h_a") + col("h_b")) - col("h_ab"))
      .select((gcols ++ Seq(col("n"), col("n_a"), col("n_b"), col("n_ab"),
        col("h_a"), col("h_b"), col("h_ab"), col("mi"))): _*)
      // an empty (all-null-pair) ungrouped input leaves one all-null
      // aggregate row — dropped, matching entropyProfile's HAVING
      .where(col("n").isNotNull)
    // SQL face: the joint-count subquery appears three times in TEXT (an
    // engine's CSE collapses them; the DataFrame face shares the one
    // exchange) — the entropyProfile closing arithmetic verbatim
    val ca = Naming.quoteId(colA)
    val cb = Naming.quoteId(colB)
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else s", ${groupBy.mkString(", ")}"
    val gGrp = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    val jointSql =
      s"SELECT ${gSel}CAST($ca AS STRING) AS _va, CAST($cb AS STRING) AS _vb, " +
        s"COUNT(*) AS _cab FROM {{source}} WHERE $ca IS NOT NULL AND $cb IS NOT NULL " +
        s"GROUP BY _va, _vb$gBy"
    val jS = s"SELECT ${gSel}SUM(_cab) AS n, COUNT(*) AS n_ab, " +
      s"${AggOps.slnSumSql("_cab")} AS _slnab FROM ($jointSql)$gGrp"
    def hS(sln: String) = AggOps.entropySql("n", sln)
    val jqSel = if (groupBy.isEmpty) "" else groupBy.map(k => s"_j.$k").mkString(", ") + ", "
    val joinS = AggOps.entropyJoinSql(jS,
      AggOps.marginalSlnSql(jointSql, groupBy, "_va", "_cab", "n_a", "_slna"),
      AggOps.marginalSlnSql(jointSql, groupBy, "_vb", "_cab", "n_b", "_slnb"), groupBy)
    val frag =
      s"SELECT ${gSel}n, n_a, n_b, n_ab, h_a, h_b, h_ab, (h_a + h_b) - h_ab AS mi " +
        s"FROM (SELECT ${jqSel}n, n_a, n_b, n_ab, ${hS("_slna")} AS h_a, " +
        s"${hS("_slnb")} AS h_b, ${hS("_slnab")} AS h_ab FROM $joinS) " +
        s"WHERE n IS NOT NULL"
    c.next("mutual_information", df2, Some(frag))
  }

  /** feature_relevance(label_col, features, group_by): rank candidate
    * features by how much label information they carry — one output row
    * per (group, feature):
    *
    *   n          rows where BOTH the feature and the label are non-null
    *              (exclusions are per-feature, so each feature's census
    *              is over exactly the rows it could be trained on)
    *   n_values / n_labels   distinct feature / label values seen there
    *   h_feature / h_label   Shannon entropies (quantized closing)
    *   mi         I(feature; label) = H(F) + H(L) − H(F,L)
    *   u          the uncertainty coefficient U(label|feature) =
    *              mi / h_label (Theil's U — the share of label entropy
    *              the feature explains; 0 = useless, 1 = determines the
    *              label), NULL when h_label = 0
    *
    * The feature-selection pass for a quality classifier
    * ([[logisticRegression]]): rank the candidate columns, keep the top
    * few, and drop the quasi-duplicates a high pairwise
    * [[mutualInformation]] between features reveals. Same quantized
    * fixed-point closing as [[entropyProfile]] — engine-exact.
    *
    * Scale shape: the features melt into ONE corpus scan (the
    * entropyProfile explode — the exchange carries (feature, value,
    * label) counts, not rows); joint, feature-marginal and
    * label-marginal statistics are all re-aggregations of that single
    * joint-count frame. No driver reads, no per-feature rescans.
    */
  def featureRelevance(labelCol: String, features: Seq[String],
                       groupBy: Seq[String] = Nil): Chain = {
    require(features.nonEmpty, "feature_relevance needs at least one feature")
    require(features.distinct.size == features.size,
      s"feature_relevance features repeat: $features")
    require(!features.contains(labelCol),
      s"feature_relevance: label '$labelCol' cannot also be a feature")
    (labelCol +: features).foreach(cn => require(c.df.columns.contains(cn),
      s"feature_relevance: chain is missing column '$cn'"))
    AggOps.requirePsiGroupNames("feature_relevance", groupBy,
      Seq("col_name", "n", "n_values", "n_labels", "h_feature", "h_label",
        "mi", "u", "_c", "_v", "_l", "_cfl", "_cm", "_slnf", "_slnl", "_slnfl"))
    require(!groupBy.contains(labelCol) && groupBy.intersect(features).isEmpty,
      "feature_relevance: group columns overlap the census columns")
    val gcols = groupBy.map(col)
    val melted = c.df.where(col(labelCol).isNotNull)
      .select((gcols ++ Seq(col(labelCol).cast("string").as("_l"),
        explode(array(features.map(fn =>
          struct(lit(fn).as("_c"), col(fn).cast("string").as("_v"))): _*)).as("_m"))): _*)
      .select((gcols ++ Seq(col("_m._c").as("_c"), col("_m._v").as("_v"),
        col("_l"))): _*)
      .where(col("_v").isNotNull)
    val joint = melted
      .groupBy((gcols ++ Seq(col("_c"), col("_v"), col("_l"))): _*)
      .agg(count(lit(1)).as("_cfl"))
    val keyCols = gcols :+ col("_c")
    val keyNames = groupBy :+ "_c"
    val jAgg = joint.groupBy(keyCols: _*)
      .agg(sum(col("_cfl")).as("n"), AggOps.slnSum(col("_cfl")).as("_slnfl"))
    val fAgg = AggOps.marginalSln(joint, keyCols, "_v", "_cfl", "n_values", "_slnf")
    val lAgg = AggOps.marginalSln(joint, keyCols, "_l", "_cfl", "n_labels", "_slnl")
    // null-safe key joins (the psiTerms regime): _c is never null,
    // but a NULL group key must keep its census rows
    val merged = AggOps.joinNullSafe(
      AggOps.joinNullSafe(jAgg, fAgg, keyNames, "_t_"), lAgg, keyNames, "_p_")
    val nD = col("n").cast("double")
    def h(sln: String) = AggOps.entropy(nD, col(sln))
    val df2 = merged
      .withColumn("h_feature", h("_slnf"))
      .withColumn("h_label", h("_slnl"))
      .withColumn("mi", (col("h_feature") + col("h_label")) - h("_slnfl"))
      .withColumn("u", when(col("h_label") > 0.0, col("mi") / col("h_label")))
      .select((gcols ++ Seq(col("_c").as("col_name"), col("n"),
        col("n_values"), col("n_labels"), col("h_feature"), col("h_label"),
        col("mi"), col("u"))): _*)
      // empty-input ungrouped aggregates leave an all-null row — dropped,
      // the mutualInformation/entropy posture
      .where(col("n").isNotNull)
    // SQL face: one branch per feature (the entropyProfile UNION ALL
    // regime) — each branch is the mutualInformation closing with the
    // label as side B
    val lq = Naming.quoteId(labelCol)
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else s", ${groupBy.mkString(", ")}"
    val gGrp = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    def hS(sln: String) = AggOps.entropySql("n", sln)
    val branches = features.map { fn =>
      val fq = Naming.quoteId(fn)
      val jointSql =
        s"SELECT ${gSel}CAST($fq AS STRING) AS _v, CAST($lq AS STRING) AS _l, " +
          s"COUNT(*) AS _cfl FROM {{source}} WHERE $fq IS NOT NULL AND $lq IS NOT NULL " +
          s"GROUP BY _v, _l$gBy"
      val jS = s"SELECT ${gSel}SUM(_cfl) AS n, ${AggOps.slnSumSql("_cfl")} AS _slnfl FROM ($jointSql)$gGrp"
      val jqSel = if (groupBy.isEmpty) "" else groupBy.map(k => s"_j.$k").mkString(", ") + ", "
      val joinS = AggOps.entropyJoinSql(jS,
        AggOps.marginalSlnSql(jointSql, groupBy, "_v", "_cfl", "n_values", "_slnf"),
        AggOps.marginalSlnSql(jointSql, groupBy, "_l", "_cfl", "n_labels", "_slnl"), groupBy)
      s"SELECT $gSel'${fn.replace("'", "''")}' AS col_name, n, n_values, n_labels, " +
        s"h_feature, h_label, mi, CASE WHEN h_label > 0 THEN mi / h_label END AS u " +
        s"FROM (SELECT ${gSel}n, n_values, n_labels, h_feature, h_label, " +
        s"(h_feature + h_label) - h_fl AS mi FROM (" +
        s"SELECT ${jqSel}n, n_values, n_labels, ${hS("_slnf")} AS h_feature, " +
        s"${hS("_slnl")} AS h_label, ${hS("_slnfl")} AS h_fl FROM $joinS)) " +
        s"WHERE n IS NOT NULL"
    }
    c.next("feature_relevance", df2, Some(branches.mkString(" UNION ALL ")))
  }
}

private[graft] object AggOps {
  /** Quantized Shannon-entropy closing shared by entropyProfile,
    * mutualInformation and featureRelevance, in both faces:
    * H = ln(n) − Σc·ln(c)/n over per-value counts c, with ln(n) and every
    * c·ln(c) in 1e-6 fixed point and Σc·ln(c) summed exactly — so each
    * entropy is a pure function of the counts, engine-exact.
    * [[slnSum]] aggregates the counts; [[entropy]] closes against n.
    */
  private[ops] def slnSum(cnt: Column): Column = {
    val d = cnt.cast("double")
    Exact.fixedSum(Exact.fpq(d * log(d)))
  }
  private[ops] def entropy(n: Column, sln: Column): Column =
    Exact.fpRound(log(n)) - Exact.fromFixed(sln) / n
  private[ops] def slnSumSql(cnt: String): String =
    Exact.fixedSumSql(Exact.fpqSql(s"CAST($cnt AS DOUBLE) * LN(CAST($cnt AS DOUBLE))"))
  private[ops] def entropySql(n: String, sln: String): String =
    s"${Exact.fpRoundSql(s"LN(CAST($n AS DOUBLE))")} - (${Exact.fromFixedSql(sln)}) / CAST($n AS DOUBLE)"

  /** One marginal of a joint-count frame (count column `cnt`): per `keys`,
    * the distinct values of `key` (`nAs`) and the [[slnSum]] of their
    * marginal counts (`slnAs`). Shared by mutualInformation and
    * featureRelevance, like the SQL twin [[marginalSlnSql]].
    */
  private[ops] def marginalSln(joint: DataFrame, keys: Seq[Column], key: String,
                               cnt: String, nAs: String, slnAs: String): DataFrame =
    joint.groupBy((keys :+ col(key)): _*).agg(sum(col(cnt)).as("_cm"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as(nAs), slnSum(col("_cm")).as(slnAs))

  private[ops] def marginalSlnSql(jointSql: String, groupBy: Seq[String], key: String,
                                  cnt: String, nAs: String, slnAs: String): String = {
    val gSel = if (groupBy.isEmpty) "" else groupBy.mkString(", ") + ", "
    val gBy = if (groupBy.isEmpty) "" else s", ${groupBy.mkString(", ")}"
    val gGrp = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    s"SELECT ${gSel}COUNT(*) AS $nAs, ${slnSumSql("_cm")} AS $slnAs FROM (" +
      s"SELECT $gSel$key, SUM($cnt) AS _cm FROM ($jointSql) GROUP BY $key$gBy)$gGrp"
  }

  /** `left` joined NULL-SAFELY on `keys` with `right`, whose keys are
    * renamed `pfx`+key first (shared lineage would otherwise trip
    * ambiguous-column resolution) and dropped after: a plain equi-join
    * would silently drop every NULL-keyed group.
    */
  private[graft] def joinNullSafe(left: DataFrame, right: DataFrame, keys: Seq[String],
                                pfx: String): DataFrame =
    left.join(right.select((keys.map(k => col(k).as(s"$pfx$k")) ++
        right.columns.filterNot(keys.contains).map(col)): _*),
      keys.map(k => col(k) <=> col(s"$pfx$k")).reduce(_ && _))
      .drop(keys.map(k => s"$pfx$k"): _*)

  /** The joint aggregate `jS` (alias `_j`) joined with two marginals
    * (`_a`, `_b`): CROSS JOINs ungrouped, null-safe `<=>` joins on the
    * groups otherwise (USING would drop NULL-keyed groups).
    */
  private[ops] def entropyJoinSql(jS: String, aS: String, bS: String,
                                  groupBy: Seq[String]): String =
    if (groupBy.isEmpty) s"($jS) _j CROSS JOIN ($aS) _a CROSS JOIN ($bS) _b"
    else s"($jS) _j JOIN ($aS) _a ON " +
      groupBy.map(k => s"_j.$k <=> _a.$k").mkString(" AND ") +
      s" JOIN ($bS) _b ON " + groupBy.map(k => s"_j.$k <=> _b.$k").mkString(" AND ")

  /** The SQL face's bucket spine 0 … `buckets` − 1 as a BIGINT array, the
    * type the DataFrame face's `range`/long `sequence` spine has (a bare
    * `sequence(0, n)` is INT).
    */
  private[graft] def bucketSpineSql(buckets: Int): String =
    s"sequence(CAST(0 AS BIGINT), CAST(${buckets - 1} AS BIGINT))"

  /** The per-bucket readout columns of a calibration accumulator frame
    * (count `nb`, exact Σscore `ssumd`, positives `pos`) — shared by
    * [[AggOps.calibrationProfile]] and its streaming sink.
    */
  private[graft] def calibrationStats(bucket: Column, nb: Column, ssumd: Column,
                                      pos: Column, w: Double): Seq[Column] = Seq(
    (bucket * lit(w)).as("bucket_lo"),
    ((bucket + lit(1L)) * lit(w)).as("bucket_hi"),
    coalesce(nb, lit(0L)).as("n"),
    when(nb > 0, ssumd.cast("double") / nb)
      .otherwise(lit(null).cast("double")).as("score_avg"),
    when(nb > 0, pos.cast("double") / nb.cast("double"))
      .otherwise(lit(null).cast("double")).as("pos_rate"))

  /** Adds `ece` to a bounded calibration frame (`n`, `_pos`, `_ssumd` per
    * bucket), then drops its scratch columns and `drop`: exact decimal
    * bucket terms |pos − ssum| (no floating-point step), exact decimal
    * sum, one closing double division — null when the group has no
    * valid rows (N = 0: the zero-divide an ANSI runtime would otherwise
    * abort on). Operands cast to DECIMAL(29,8) — both are ≤ n_b ≤
    * Long.Max < 1e21, so the cast can never overflow, and the (30,8)
    * difference keeps scale 8 on BOTH engines (a (38,8)−(38,8)
    * difference overflows Spark's 38-digit cap and silently truncates
    * the scale to 7, diverging from DuckDB in the 10th decimal).
    *
    * Grouped N/ece close with a window over the bounded frame — the
    * frame keeps ONE consumer (an agg+join-back would duplicate its
    * whole lineage, and column pruning tailors each copy enough that
    * exchange reuse cannot merge the corpus scans back together); the
    * window's partitions are ≤ buckets rows each and its required
    * distribution is already satisfied by the upstream aggregate.
    * Ungrouped, a global window would be a single-task stage (the shape
    * ScaleLint rightly errors on), so the one-row total broadcasts onto
    * the Range-spine frame instead — both sides bounded.
    */
  private[graft] def withCalibrationEce(frame: DataFrame, groupBy: Seq[String],
                                        drop: Seq[String] = Nil): DataFrame = {
    val term = when(col("n") > 0,
      abs(col("_pos").cast(DecimalType(29, 8)) -
        col("_ssumd").cast(DecimalType(29, 8))))
      .otherwise(lit(BigDecimal(0)).cast(DecimalType(30, 8)))
    val withEce =
      if (groupBy.isEmpty) {
        val eceAggs = Seq(sum(term).as("_q"), sum(col("n")).as("_N"))
        frame.crossJoin(broadcast(frame.agg(eceAggs.head, eceAggs.tail: _*)))
      } else {
        val wG = Window.partitionBy(groupBy.map(col): _*)
        frame.withColumn("_q", sum(term).over(wG))
          .withColumn("_N", sum(col("n")).over(wG))
      }
    withEce
      .withColumn("ece", when(col("_N") === 0L, lit(null).cast("double"))
        .otherwise(col("_q").cast("double") / col("_N").cast("double")))
      .drop(Seq("_q", "_N") ++ drop: _*)
  }

  /** Shared PSI closing arithmetic over a (…, cnt_base, cnt_other) count
    * frame: eps-floored shares, a 1e-6 fixed-point ln factor, and a 1e-12
    * fixed-point exact `psi_total`. Deliberately NO global window (a
    * single-task stage ScaleLint rightly flags) and NO raw double sum
    * (partitioning-dependent). Ungrouped, totals ride two tiny broadcast
    * aggregates; with `groupCols` (e.g. per event-time window for
    * streaming drift, or a user `group_by` slice) they are per group,
    * joined back NULL-SAFELY ([[joinNullSafe]]) — a null group value
    * groups like any other value, so it must match back instead of
    * silently dropping its buckets; everything stays partitioned by the
    * group, so unbounded group counts are fine. A side with no rows
    * yields null shares → null terms → null total — visible, never a
    * fake zero (greatest() would silently swallow the null into the eps
    * floor, so nulls are preserved explicitly).
    */
  def psiTerms(joined: DataFrame, eps: Double, groupCols: Seq[String] = Nil): DataFrame = {
    def attach(left: DataFrame, right: DataFrame, pfx: String) =
      if (groupCols.isEmpty) left.crossJoin(broadcast(right))
      else joinNullSafe(left, right, groupCols, pfx)
    val g = groupCols.map(col)
    val t1 = attach(joined, joined.groupBy(g: _*)
      .agg(sum(col("cnt_base")).as("_tb"), sum(col("cnt_other")).as("_to")), "_t_")
      .withColumn("psi_term", psiTermExpr(eps)).drop("_tb", "_to")
    attach(t1, t1.groupBy(g: _*).agg(psiTotalAgg), "_p_")
  }

  /** The PSI eps floor must lie in (0, 1): at 0 an empty cell divides by
    * zero in the ln factor, at 1 every floored share is 1 and each term
    * reads a fake 0. Checked at the entry of every PSI and drift face.
    */
  private[graft] def requirePsiEps(op: String, eps: Double): Unit =
    require(eps > 0.0 && eps < 1.0, s"$op needs eps in (0, 1), got $eps")

  /** Pad a (groups…, bucket, counts…) count frame — where a NULL bucket
    * row is the group-discovery vote from excluded rows — to the full
    * per-group bucket spine via the bucket-map explode: one map per group,
    * exploded against `sequence(0, buckets-1)`; each count column of
    * `names` (from → to) reads its cell, missing cells coalesce to 0. Runs
    * entirely on the bounded aggregated frame — never a corpus rescan.
    * With no groups the one map is a global aggregate. Shared by the PSI
    * faces, [[graft.ops.AggOps.histogram]] and the binned drift faces.
    */
  def foldPadCounts(counts: DataFrame, groupBy: Seq[String], buckets: Int,
                    names: Seq[(String, String)] =
                      Seq("_cb" -> "cnt_base", "_co" -> "cnt_other")): DataFrame = {
    val g = groupBy.map(col)
    counts.groupBy(g: _*)
      .agg(map_from_entries(collect_list(when(col("bucket").isNotNull,
        struct(col("bucket"), struct(names.map(n => col(n._1)): _*))))).as("_m"))
      .select((g :+ explode(sequence(lit(0L), lit((buckets - 1).toLong))).as("bucket") :+
        col("_m")): _*)
      .select((g :+ col("bucket")) ++ names.map { case (from, to) =>
        coalesce(try_element_at(col("_m"), col("bucket")).getField(from), lit(0L)).as(to)
      }: _*)
  }

  /** The two-sample family's entry guard: group names clear of the PSI
    * reserved names, the engine's internal columns and the op's own
    * `reserved`, and `column` plus every group column present in BOTH
    * frames (a friendly message instead of an analysis error).
    */
  private[graft] def twoSampleGuard(op: String, base: DataFrame, other: DataFrame,
                                    column: String, groupBy: Seq[String],
                                    reserved: Seq[String]): Unit = {
    requirePsiGroupNames(op, groupBy,
      Seq("_v", "_x", "_cumb", "_cumo", "_xcb", "_xco") ++ reserved)
    Seq(base -> "base chain", other -> "other frame").foreach { case (df, who) =>
      require(df.columns.contains(column), s"$op: $who is missing column '$column'")
      groupBy.foreach(g => require(df.columns.contains(g),
        s"$op: $who is missing group column '$g'"))
    }
  }

  /** Both frames' group columns and `cols` in ONE union, each row tagged
    * with its side in `_s` (0 = base, 1 = other).
    */
  private[graft] def tagUnion(base: DataFrame, other: DataFrame, groupBy: Seq[String],
                              cols: Column*): DataFrame =
    Seq(base, other).zipWithIndex.map { case (df, tag) =>
      df.select((groupBy.map(col) ++ cols :+ lit(tag).as("_s")): _*)
    }.reduce(_ unionByName _)

  /** The two-sample side count (groups…, `name`, _cb, _co): per group and
    * key value, the base and other row counts from ONE map-side-combined
    * aggregate over the [[tagUnion]] — one scan per side, counts not rows
    * past the exchange. Rows whose key is null drop at the scan unless
    * `keepNull` (the binned PSI face keeps a NULL bucket, so a group whose
    * rows are all excluded is still discovered in the same pass).
    */
  private[graft] def sideCounts(base: DataFrame, other: DataFrame, groupBy: Seq[String],
                                key: Column, name: String,
                                keepNull: Boolean = false): DataFrame = {
    val keep = if (keepNull) lit(true) else key.isNotNull
    tagUnion(base.where(keep), other.where(keep), groupBy, key.as(name))
      .groupBy((groupBy.map(col) :+ col(name)): _*)
      .agg(count(when(col("_s") === 0, lit(1))).as("_cb"),
        count(when(col("_s") === 1, lit(1))).as("_co"))
  }

  /** Per-group side totals `_tb`/`_to` over a [[sideCounts]] frame, plus
    * the running counts `_cumb`/`_cumo` in `cumulativeBy` order when given.
    * With groups they are group-partitioned windows over the bounded
    * count frame. Without, a whole-frame window would be a single-task
    * stage, so the count frame materializes once (a declared eager step —
    * release via [[graft.core.Chain.releaseCheckpoints]]): running counts
    * ride one multi-weight [[graft.core.PrefixScan]] (which materializes
    * it), otherwise a `localCheckpoint`; the totals are a one-row
    * aggregate over the same blocks, broadcast back via crossJoin.
    */
  private[graft] def sideTotals(counts: DataFrame, groupBy: Seq[String],
                                cumulativeBy: Option[Column] = None): DataFrame =
    if (groupBy.isEmpty) {
      val m = cumulativeBy.fold(counts.localCheckpoint())(o =>
        graft.core.PrefixScan.exclusivePrefixSums(counts, Nil, Seq(o),
          Seq(col("_cb") -> "_xcb", col("_co") -> "_xco")))
      val totals = m.crossJoin(broadcast(m.agg(
        coalesce(sum(col("_cb")), lit(0L)).as("_tb"),
        coalesce(sum(col("_co")), lit(0L)).as("_to"))))
      if (cumulativeBy.isEmpty) totals
      else totals.withColumn("_cumb", col("_xcb") + col("_cb"))
        .withColumn("_cumo", col("_xco") + col("_co")).drop("_xcb", "_xco")
    } else {
      val wPart = Window.partitionBy(groupBy.map(col): _*)
      val cum = cumulativeBy.fold(counts) { o =>
        val wCum = wPart.orderBy(o).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        counts.withColumn("_cumb", sum(col("_cb")).over(wCum))
          .withColumn("_cumo", sum(col("_co")).over(wCum))
      }
      cum.withColumn("_tb", sum(col("_cb")).over(wPart))
        .withColumn("_to", sum(col("_co")).over(wPart))
    }

  /** The equal-width bin of psiProfile, histogram and the numeric drift
    * face: (in-range predicate, bucket index) of `column` over [lo, hi] in
    * `buckets` bins. Null/NaN/out-of-range rows are out; x = hi folds into
    * the top bucket.
    */
  private[graft] def equalWidthBin(column: String, lo: Double, hi: Double,
                                   buckets: Int): (Column, Column) = {
    val x = col(column).cast("double")
    val w = (hi - lo) / buckets
    (x.isNotNull && !isnan(x) && x >= lit(lo) && x <= lit(hi),
      least(floor((x - lit(lo)) / lit(w)).cast("long"), lit((buckets - 1).toLong)))
  }

  /** `bucket_lo`/`bucket_hi` of an [[equalWidthBin]] `bucket` column. */
  private[graft] def binEdges(lo: Double, hi: Double, buckets: Int): Seq[Column] = {
    val w = (hi - lo) / buckets
    Seq((lit(lo) + col("bucket") * lit(w)).as("bucket_lo"),
      (lit(lo) + (col("bucket") + lit(1L)) * lit(w)).as("bucket_hi"))
  }

  /** Pool-adjacent-violators over per-bucket (Σ fpq(label), count) pairs —
    * [[AggOps.isotonicFit]]'s driver pass. Violations compare by BigInt
    * cross-product (exact at any corpus size — pos_fp·n passes 2^63
    * around 3e9 rows/bucket); each bucket's calibrated value is its
    * block's floor(pos/n + 0.5), empty buckets inherit the previous
    * block's (leading empties the first's). (Lives here, not in the value
    * class: nested classes can't.)
    */
  private[graft] def pavPool(pos: Array[Long], n: Array[Long]): Array[Long] = {
    val buckets = n.length
    final case class Blk(var p: BigInt, var w: Long, var hi: Int)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Blk]
    (0 until buckets).filter(n(_) > 0L).foreach { i =>
      blocks += Blk(BigInt(pos(i)), n(i), i)
      while (blocks.length >= 2 && {
        val a = blocks(blocks.length - 2); val z = blocks.last
        a.p * z.w > z.p * a.w
      }) {
        val z = blocks.remove(blocks.length - 1)
        val a = blocks.last
        a.p += z.p; a.w += z.w; a.hi = z.hi
      }
    }
    val cal = new Array[Long](buckets)
    var bi = 0
    var prev = {
      val f = blocks.head
      math.floor((f.p.toDouble / f.w) + 0.5).toLong
    }
    (0 until buckets).foreach { i =>
      if (bi < blocks.length && n(i) > 0L) {
        val blk = blocks(bi)
        prev = math.floor((blk.p.toDouble / blk.w) + 0.5).toLong
        if (i == blk.hi) bi += 1
      }
      cal(i) = prev
    }
    cal
  }

  /** Reserved-name guard for the grouped PSI and two-sample faces: group
    * columns must not collide with output/internal names or the
    * `_t_`/`_p_`/`_cg_` rename prefixes the null-safe joins use.
    */
  private[graft] def requirePsiGroupNames(op: String, groupBy: Seq[String],
                                          extra: Seq[String]): Unit = {
    val reserved = Seq("bucket", "cnt_base", "cnt_other", "psi_term",
      "psi_total", "_m", "_s", "_cb", "_co", "_tb", "_to") ++ extra
    val hit = groupBy.intersect(reserved)
    require(hit.isEmpty,
      s"$op group columns collide with output/internal names " +
        s"${hit.mkString(", ")} — rename first")
    val pfx = groupBy.filter(g =>
      g.startsWith("_t_") || g.startsWith("_p_") || g.startsWith("_cg_"))
    require(pfx.isEmpty,
      s"$op group columns use reserved internal prefixes (_t_/_p_/_cg_): " +
        s"${pfx.mkString(", ")} — rename first")
  }

  // eps-floored-share PSI term from (cnt_base, cnt_other, _tb, _to).
  // The divisor is guarded BEFORE dividing — ANSI mode raises on x/0
  // rather than returning NaN, and an empty side must read as null, not
  // error — and nulls are preserved explicitly (greatest() would
  // silently swallow them into the eps floor).
  private def psiTermExpr(eps: Double): Column = {
    def floored(cnt: Column, tot: Column): Column =
      when(tot.isNull || tot === lit(0L), lit(null).cast("double"))
        .otherwise(greatest(cnt.cast("double") / tot.cast("double"), lit(eps)))
    val pf = floored(col("cnt_base"), col("_tb"))
    val qf = floored(col("cnt_other"), col("_to"))
    (pf - qf) * Exact.fpRound(log(pf / qf))
  }

  // 1e-12 fixed-point exact Σ psi_term: |term| ≤ ln(1/eps) < 28 → ×1e12
  // stays far inside the long range
  private def psiTotalAgg: Column =
    Exact.fromFixed(Exact.fixedSum(Exact.fpq(col("psi_term"), 12)), 12).as("psi_total")

  /** The agreement census' per-(group, label) accumulator frame —
    * (n_a, n_b, n_agree), all plain additive longs, from ONE melted
    * aggregate over the valid rows (side 0 = rater A's label, side 1 =
    * rater B's; agreement rides side 0 so the diagonal needs no third
    * pass). Shared by [[graft.ops.AggOps.agreementProfile]] and the
    * streaming agreement sink, whose stored rows ARE this frame: the
    * counts merge additively across batches into exactly the frame the
    * batch face would compute over all delivered rows.
    */
  private[graft] def agreementClassFrame(df: DataFrame, colA: String,
                                         colB: String,
                                         groupBy: Seq[String]): DataFrame = {
    val both = col(colA).isNotNull && col(colB).isNotNull
    val va = col(colA).cast("string")
    val vb = col(colB).cast("string")
    val g = groupBy.map(col)
    val melted = df.where(both).select((g :+ explode(array(
      struct(va.as("_l"), lit(0).as("_s"), (va === vb).cast("long").as("_agr")),
      struct(vb.as("_l"), lit(1).as("_s"), lit(0L).as("_agr")))).as("_m")): _*)
      .select((g ++ Seq(col("_m._l").as("label"), col("_m._s").as("_s"),
        col("_m._agr").as("_agr"))): _*)
    melted.groupBy((g :+ col("label")): _*).agg(
      sum(when(col("_s") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("_s") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(col("_agr")).as("n_agree"))
  }

  /** Close a (groups, label, n_a, n_b, n_agree) class frame into the
    * agreement_profile output: per-group total n, observed agreement po,
    * 1e-12 fixed-point chance agreement pe, and the guarded kappa (null
    * at pe = 1, never a zero divide). Every closing runs over the
    * BOUNDED class frame — exact integer sums, one double division each,
    * deterministic at any partitioning.
    */
  private[graft] def agreementClose(classFrame: DataFrame,
                                    groupBy: Seq[String]): DataFrame = {
    val g = groupBy.map(col)
    // the per-group joins back are NULL-SAFE (renamed right sides — the
    // shared lineage would otherwise trip ambiguous-column resolution):
    // a null group value groups like any other value in the aggregates,
    // so it must match back instead of silently dropping its classes
    val classes =
      if (groupBy.isEmpty) classFrame.crossJoin(broadcast(classFrame.agg(sum(col("n_a")).as("n"))))
      else joinNullSafe(classFrame,
        classFrame.groupBy(g: _*).agg(sum(col("n_a")).as("n")), groupBy, "_t_")
    val nD = col("n").cast("double")
    val peTerm = Exact.fpq((col("n_a").cast("double") / nD) *
      (col("n_b").cast("double") / nD), 12)
    val statAggs = Seq(
      sum(col("n_agree")).as("_agree"),
      Exact.fromFixed(Exact.fixedSum(peTerm), 12).as("_pe"))
    val withStats =
      if (groupBy.isEmpty) classes.crossJoin(broadcast(classes.agg(statAggs.head, statAggs.tail: _*)))
      else joinNullSafe(classes,
        classes.groupBy(g: _*).agg(statAggs.head, statAggs.tail: _*), groupBy, "_s_")
    val po = col("_agree").cast("double") / nD
    val kappa = when(lit(1.0) - col("_pe") === lit(0.0), lit(null).cast("double"))
      .otherwise((po - col("_pe")) / (lit(1.0) - col("_pe")))
    withStats
      .select((g ++ Seq(col("label"), col("n_a"), col("n_b"), col("n_agree"),
        po.as("po"), col("_pe").as("pe"), kappa.as("kappa"), col("n"))): _*)
  }

  /** The quantile-PSI reference read, shared by
    * [[graft.ops.AggOps.psiQuantileProfile]] (any grouping) and
    * [[graft.streaming.EventStreams.driftByWindowQuantile]] (`Nil`):
    * per-group equal-frequency cutoffs `_cut1`.. `_cut{b-1}` from ONE
    * (grouped) mergeable KLL aggregate over `base`'s non-null, non-NaN
    * `column` values, read out at i/buckets, and the base's per-group
    * bucket counts `_cb`. Both are BOUNDED DECLARED DRIVER READS — at most
    * `maxGroups` cutoff rows and `maxGroups` × (buckets + 1) count rows,
    * loud refusal past the cap — re-lifted as literal frames: the pruned
    * projection persists across the two reads and is released before
    * return, so `base` is scanned ONCE and the caller's plan carries it
    * only as literals. The cutoff frame's group columns are renamed
    * `_cg_<g>` (join it with [[joinCutoffs]]); a group whose base values are
    * all invalid reads null cutoffs.
    */
  private[graft] def quantileReference(op: String, base: DataFrame, column: String,
                                       groupBy: Seq[String], buckets: Int, k: Int,
                                       maxGroups: Int): (DataFrame, DataFrame) = {
    val g = groupBy.map(col)
    val baseP = base.select((g :+ col(column).cast("double").as("_x")): _*).persist()
    try {
      val cutAgg = baseP.where(col("_x").isNotNull && !isnan(col("_x"))).groupBy(g: _*)
        .agg(graft.functions.KllSketches.sketchAgg(col("_x"), k).as("_sk"))
        .select((g ++ (1 until buckets).map(i =>
          graft.functions.KllSketches.quantile(col("_sk"), i.toDouble / buckets)
            .as(s"_cut$i"))): _*)
      def literal(rows: Array[Row], fields: Seq[StructField]) =
        base.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
          StructType(fields.map(_.copy(nullable = true))))
      val cutRows = cutAgg.limit(maxGroups + 1).collect()
      require(cutRows.length <= maxGroups,
        s"$op saw more than maxGroups=$maxGroups base groups — the per-group " +
          "cutoff fold is a declared driver read of groups × (buckets − 1) " +
          "doubles; raise maxGroups or coarsen the grouping")
      // one ungrouped row re-lifts as literal columns, which the optimizer
      // folds into every bucket cascade (the cutoffs then cost the plan
      // nothing, size estimates included); per-group rows as a local relation
      val cutF =
        if (groupBy.isEmpty) base.sparkSession.range(1).select(cutAgg.columns.indices.map(i =>
          lit(cutRows(0).get(i)).cast(DoubleType).as(cutAgg.columns(i))): _*)
        else literal(cutRows, cutAgg.schema.fields.toSeq.map(f =>
          if (groupBy.contains(f.name)) f.copy(name = s"_cg_${f.name}") else f))
      val counts = cutoffCounts(baseP, "_x", cutF, groupBy, buckets, "_cb")
      val countCap = maxGroups * (buckets + 1)
      val countRows = counts.limit(countCap + 1).collect()
      require(countRows.length <= countCap,
        s"$op base-count frame exceeded maxGroups=$maxGroups × (buckets + 1) " +
          "rows — raise maxGroups or coarsen the grouping")
      (cutF, literal(countRows, counts.schema.fields.toSeq))
    } finally baseP.unpersist(false)
  }

  /** `df` joined with a [[quantileReference]] cutoff frame by broadcast:
    * per group null-safely and LEFT (a group with no cutoff row keeps its
    * rows, bucketing to 0 with null bounds); with no groups a cross join
    * with the one literal row, whose cutoffs the optimizer folds into the
    * plan as constants.
    */
  private[graft] def joinCutoffs(df: DataFrame, cutF: DataFrame,
                                 groupBy: Seq[String]): DataFrame =
    if (groupBy.isEmpty) df.crossJoin(broadcast(cutF))
    else df.join(broadcast(cutF),
      groupBy.map(g => col(g) <=> col(s"_cg_$g")).reduce(_ && _), "left")

  /** Equal-frequency bucket of `x` against the joined `_cut{i}` columns:
    * #cutoffs strictly below x, so the domain is covered with no clipping;
    * null cutoffs (a group with no cutoff row) bucket to 0.
    */
  private[graft] def cutoffBucket(x: Column, buckets: Int): Column =
    (buckets - 1 to 1 by -1).foldLeft(None: Option[Column]) { (acc, i) =>
      val (cond, b) = (x > col(s"_cut$i"), lit(i.toLong))
      Some(acc.fold(when(cond, b))(_.when(cond, b)))
    }.get.otherwise(lit(0L))

  /** (groups…, bucket, `as`) counts of `df`'s `column` bucketed by a
    * [[quantileReference]] cutoff frame, joined per group by broadcast.
    * Null/NaN rows keep a NULL bucket with count 0, so an all-invalid
    * group is still discovered.
    */
  private[graft] def cutoffCounts(df: DataFrame, column: String, cutF: DataFrame,
                                  groupBy: Seq[String], buckets: Int,
                                  as: String): DataFrame = {
    val x = col(column).cast("double")
    val v = x.isNotNull && !isnan(x)
    joinCutoffs(df, cutF, groupBy)
      .groupBy((groupBy.map(col) :+ when(v, cutoffBucket(x, buckets)).as("bucket")): _*)
      .agg(count(when(v, lit(1))).as(as))
  }

  /** Bin-bound lookup over joined `_cut{i}` columns: maps `bucket` to the
    * selected cutoff column, null past the open ends (and null when the
    * cutoff columns themselves are null — a group with no cutoffs).
    */
  private def cutBoundExpr(buckets: Int, sel: Int => Option[Int]): Column =
    (0 until buckets).flatMap(b => sel(b).map(i =>
      (col("bucket") === lit(b.toLong), col(s"_cut$i"))))
      .foldLeft(None: Option[Column]) { case (acc, (cond, v)) =>
        Some(acc.fold(when(cond, v))(_.when(cond, v)))
      }.get.otherwise(lit(null).cast("double"))

  /** Attach `cut_lo`/`cut_hi` bin bounds (null at the open ends) to a
    * frame carrying `bucket` and the group columns, from a
    * [[quantileReference]] cutoff frame.
    */
  private[graft] def withCutoffBounds(df: DataFrame, cutF: DataFrame, groupBy: Seq[String],
                                      buckets: Int): DataFrame =
    joinCutoffs(df, cutF, groupBy)
      .withColumn("cut_lo", cutBoundExpr(buckets, b => if (b == 0) None else Some(b)))
      .withColumn("cut_hi", cutBoundExpr(buckets, b => if (b == buckets - 1) None else Some(b + 1)))
      .drop((groupBy.map(g => s"_cg_$g") ++ (1 until buckets).map(i => s"_cut$i")): _*)
}
