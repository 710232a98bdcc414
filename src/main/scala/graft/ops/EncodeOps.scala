package graft.ops

import graft.core.{Chain, CheckpointProbe, Exact, Naming, PrefixScan}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** ML-prep encoders / statistics — reference transforms #36-43 (SURVEY
  * §2.2): one_hot_encode, label_encode, target_encode, impute, bin,
  * standard_scaler, min_max_scaler, levenshtein.
  *
  * Ops that need the value domain or column statistics perform a bounded,
  * declared driver-side action — the exact analogue of the reference's
  * compile-time `run_query` probes (rasgoql/primitives/rendering.py:272-330,
  * capped there at 100 rows; capped here by `maxDistinct`). Scalar
  * statistics (impute's mean/median, the scalers, the equal-width bin
  * range) go through [[graft.core.CheckpointProbe.stats]]: over a shuffled
  * upstream the step builds on the checkpoint the statistics rode
  * (release with [[graft.core.Chain.releaseCheckpoints]]).
  */
final class EncodeOps(private val c: Chain) extends AnyVal {

  /** one_hot_encode(column): one 0/1 dummy per observed distinct value,
    * `<col>_<value>`; nulls → `<col>_is_null` (reference output
    * `COLOR_RED`/`CLASS_IS_NULL`, tutorials/tutorial_extended.ipynb:8925-8927).
    * Values are discovered with a capped distinct scan, sorted for a stable
    * column set.
    */
  def oneHotEncode(column: String, maxDistinct: Int = 100): Chain = {
    val vals = distinctValues(column, maxDistinct)
    val hasNull = vals.contains(null)
    val present = vals.filter(_ != null).sorted
    val withDummies = present.foldLeft(c.df) { (d, v) =>
      d.withColumn(Naming.oneHot(column, Some(v)),
        when(col(column) === lit(v), 1).otherwise(0))
    }
    val df2 =
      if (hasNull)
        withDummies.withColumn(Naming.oneHot(column, None),
          when(col(column).isNull, 1).otherwise(0))
      else withDummies
    val frags = present.map(v =>
      s"CASE WHEN $column = '${v.replace("'", "''")}' THEN 1 ELSE 0 END AS ${Naming.oneHot(column, Some(v))}") ++
      (if (hasNull) Seq(s"CASE WHEN $column IS NULL THEN 1 ELSE 0 END AS ${Naming.oneHot(column, None)}") else Nil)
    c.next("one_hot_encode", df2, Some(s"SELECT *, ${frags.mkString(", ")} FROM {{source}}"))
  }

  /** label_encode(column): dense 1-based integer code by sorted value →
    * `<col>_encoded`; optionally the reference's `all_values_array` helper
    * column (tutorials/tutorial_extended.ipynb:8909).
    *
    * The code index is built distributed — range-partitioned sort of the
    * distinct values + `zipWithIndex` (per-partition offsets), never a
    * global un-partitioned window (a 100M-distinct column would pile every
    * value into one task). The index joins broadcast only when its size is
    * PROVEN ≤ `maxDistinct` by a declared count (the encoders' usual
    * bounded stats job); above the cap it falls back to a shuffle join —
    * high-cardinality columns encode without any driver/executor
    * single-point.
    */
  def labelEncode(column: String, includeValuesArray: Boolean = false,
                  maxDistinct: Int = 10000): Chain = {
    val codeName = Naming.labelEncoded(column)
    // localCheckpoint materializes the sorted distinct set ONCE (distributed,
    // spillable) — the size gate below, zipWithIndex's internal count and the
    // index build would otherwise each recompute the distinct aggregation.
    // The size-gate count rides the checkpoint materialization
    // (CheckpointProbe, round 18 — one job instead of checkpoint + count)
    // and the code index appends on INTERNAL rows (InternalZip: no
    // external-Row round trip, no codegen break at the index build)
    val (vals, valsProbe) = graft.core.CheckpointProbe(
      c.df.select(col(column).as("_graft_val")).distinct()
        .orderBy(col("_graft_val").asc_nulls_first),
      "_cp_n" -> count(lit(1)))
    val nDistinct = valsProbe(0).asInstanceOf[Long]
    val idxDf = graft.core.InternalZip.appendByIndex(vals,
      Seq(StructField(codeName, IntegerType, nullable = false))) { (i, out) =>
      out.update(0, (i + 1).toInt)
    }
    val idx = if (nDistinct <= maxDistinct) broadcast(idxDf) else idxDf
    val joined = c.df.join(idx, col(column) <=> col("_graft_val"), "left")
      .drop("_graft_val")
    val df2 =
      if (includeValuesArray) {
        val arr = distinctValues(column, maxDistinct).filter(_ != null).sorted
        joined.withColumn(Naming.allValuesArray, array(arr.map(lit): _*))
      } else joined
    // text face: DENSE_RANK over the sorted value domain — correct but a
    // global window; the DataFrame face's broadcast-index join is the
    // execution path at scale
    val frag =
      if (includeValuesArray) None
      else Some(s"SELECT *, CAST(DENSE_RANK() OVER (ORDER BY $column) AS INT) AS ${Naming.labelEncoded(column)} FROM {{source}}")
    c.next("label_encode", df2, frag)
  }

  /** target_encode(column, target): mean of target per category →
    * `<col>_target_encoded` (tutorials/tutorial_extended.ipynb:8928).
    * Single window pass partitioned by the category; exact decimal mean.
    */
  def targetEncode(column: String, target: String): Chain = {
    val w = Window.partitionBy(col(column))
    val dt = c.df.schema(target).dataType
    // count over the decimal cast the sum accumulates — the Exact.avg NaN
    // contract (a NaN target row would otherwise bias its category's mean)
    val e =
      if (Exact.isFloating(dt)) Exact.avg(col(target), Some(w))
      else avg(col(target)).over(w)
    val name = Naming.targetEncoded(column)
    val sqlAgg =
      if (Exact.isFloating(dt)) Exact.avgSql(target, s"OVER (PARTITION BY $column)")
      else s"AVG($target) OVER (PARTITION BY $column)"
    c.next("target_encode", c.df.withColumn(name, e),
      Some(s"SELECT *, $sqlAgg AS $name FROM {{source}}"))
  }

  /** frequency_encode(column, normalize): encode each category by how
    * often it occurs — `<col>_freq` (BIGINT count; with `normalize` the
    * DOUBLE share count/total) — the zero-leakage encoding for
    * high-cardinality categoricals (no target involved, unlike
    * [[targetEncode]]; rare-category signal survives where one-hot
    * explodes). Null is a category like any other (its frequency is
    * exactly as informative). One window pass partitioned by the
    * category; with `normalize` the total comes from one ungrouped
    * aggregate (map-side combined, one output row) broadcast back via
    * `crossJoin` — NOT from a whole-frame window, whose empty PARTITION BY
    * would shuffle the entire corpus through a single task before any row
    * emits (the shape [[graft.core.ScaleLint]] grades error). The share is
    * an exact integer-over-integer IEEE division — engine-exact either
    * way, and identical to the `COUNT(*) OVER ()` formulation the SQL
    * face keeps for rendering engines.
    */
  def frequencyEncode(column: String, normalize: Boolean = false): Chain = {
    require(c.df.columns.contains(column),
      s"frequency_encode: chain is missing column '$column'")
    val name = Naming.cleanse(s"${column}_freq")
    val w = Window.partitionBy(col(column))
    val cnt = count(lit(1)).over(w)
    val df2 =
      if (normalize) {
        val tn = "_graft_fe_total"
        require(!c.df.columns.contains(tn),
          s"frequency_encode: internal column '$tn' already exists on the frame")
        val total = c.df.agg(count(lit(1)).cast("double").as(tn))
        c.df.crossJoin(broadcast(total))
          .withColumn(name, cnt.cast("double") / col(tn))
          .drop(tn)
      } else c.df.withColumn(name, cnt)
    val cn = Naming.quoteId(column)
    val eSql =
      if (normalize)
        s"CAST(COUNT(*) OVER (PARTITION BY $cn) AS DOUBLE) / CAST(COUNT(*) OVER () AS DOUBLE)"
      else s"COUNT(*) OVER (PARTITION BY $cn)"
    c.next("frequency_encode", df2,
      Some(s"SELECT *, $eSql AS $name FROM {{source}}"))
  }

  /** target_encode_smoothed(column, target, m): the m-estimate (empirical
    * Bayes) variant of [[targetEncode]] —
    *
    *   (Σ_category target + m · global_mean) / (n_category + m)
    *
    * (Micci-Barreca, SIGKDD Explorations 2001): small categories shrink
    * toward the global mean instead of memorizing their handful of
    * targets — the standard leakage damper for high-cardinality
    * encodings; m ≈ the category size where you trust the local mean
    * half-way. Sums run through exact decimal accumulation on both
    * category and global sides (the [[graft.core.Exact]] regime), NaN
    * targets are excluded consistently, and the final combination is a
    * fixed chain of IEEE double ops — engine-exact. Null category is a
    * category like any other. One window pass partitioned by the
    * category; the global-mean terms come from one ungrouped
    * exact-decimal aggregate (one output row) broadcast back via
    * `crossJoin` — NOT from a whole-frame window: an empty PARTITION BY
    * requires SinglePartition distribution, so the entire corpus would
    * shuffle through one task before a single encoded row emits (the
    * shape [[graft.core.ScaleLint]] grades error). Decimal sums are
    * association-free, so the aggregate's doubles are bit-identical to
    * the `SUM OVER ()` formulation the SQL face keeps for rendering
    * engines.
    */
  def targetEncodeSmoothed(column: String, target: String, m: Double = 10.0): Chain = {
    require(m > 0.0, s"target_encode_smoothed: m must be positive, got $m")
    Seq(column, target).foreach(cn => require(c.df.columns.contains(cn),
      s"target_encode_smoothed: chain is missing column '$cn'"))
    val name = Naming.cleanse(s"${column}_target_enc_sm")
    val wCat = Window.partitionBy(col(column))
    val dt = c.df.schema(target).dataType
    val tExcl =
      if (Exact.isFloating(dt)) when(!isnan(col(target).cast("double")), col(target))
      else col(target)
    def sumOf(w: org.apache.spark.sql.expressions.WindowSpec) = Exact.sum(tExcl, Some(w))
    def cntOf(w: org.apache.spark.sql.expressions.WindowSpec) =
      count(tExcl).over(w).cast("double")
    val (gsN, gcN) = ("_graft_tes_gsum", "_graft_tes_gcnt")
    Seq(gsN, gcN).foreach(n => require(!c.df.columns.contains(n),
      s"target_encode_smoothed: internal column '$n' already exists on the frame"))
    val globals = c.df.agg(
      Exact.sum(tExcl).as(gsN),
      count(tExcl).cast("double").as(gcN))
    val gMean = col(gsN) / col(gcN)
    val e = (sumOf(wCat) + lit(m) * gMean) / (cntOf(wCat) + lit(m))
    val cn = Naming.quoteId(column)
    val tq = Naming.quoteId(target)
    val tS =
      if (Exact.isFloating(dt))
        s"CASE WHEN NOT isnan(CAST($tq AS DOUBLE)) THEN $tq END"
      else tq
    def sumS(part: String) = Exact.sumSql(tS, s"OVER ($part)")
    def cntS(part: String) = s"CAST(COUNT($tS) OVER ($part) AS DOUBLE)"
    val gMeanS = s"${sumS("")} / ${cntS("")}"
    val mLit = s"CAST('${m}' AS DOUBLE)"
    val df2 = c.df.crossJoin(broadcast(globals))
      .withColumn(name, e)
      .drop(gsN, gcN)
    c.next("target_encode_smoothed", df2,
      Some(s"SELECT *, (${sumS(s"PARTITION BY $cn")} + $mLit * ($gMeanS)) / " +
        s"(${cntS(s"PARTITION BY $cn")} + $mLit) AS $name FROM {{source}}"))
  }

  /** impute(imputations, flag_missing_vals): fill nulls with a constant or
    * a computed statistic ("mean" | "median" | "mode") per column; optional
    * `<col>_missing_flag` indicators. Means and medians come from one eager
    * statistics pass ([[graft.core.CheckpointProbe.stats]]: over a shuffled
    * upstream it checkpoints, and the step builds on the blocks); mode:
    * one small groupBy per mode-imputed column, deterministic tie-break by
    * smallest value.
    */
  def impute(imputations: Seq[(String, String)], flagMissingVals: Boolean = false): Chain = {
    val types = c.df.schema.fields.map(f => f.name -> f.dataType).toMap
    // NaN is excluded from every fill statistic, matching the engine's
    // posture everywhere else (Exact.avg/bin/scalers/winsorize): mean
    // excludes via the decimal cast; median must NOT rank raw values
    // (NaN sorts greatest and inflates the percentile); mode must not
    // let a corrupt NaN plurality become the fill value.
    def nanFree(cn: String): Column =
      if (Exact.isFloating(types(cn))) when(!isnan(col(cn)), col(cn)) else col(cn)
    val statCols = imputations.flatMap { case (cn, how) =>
      how.toLowerCase match {
        case "mean" =>
          Some(s"_m_$cn" -> (if (Exact.isFloating(types(cn))) Exact.avg(col(cn))
                             else avg(col(cn))))
        case "median" => Some(s"_m_$cn" -> percentile(nanFree(cn), lit(0.5)))
        case _ => None
      }
    }
    val (base, statOf) = scalarStats(statCols)
    val flagged =
      if (flagMissingVals)
        imputations.foldLeft(base) { case (d, (cn, _)) =>
          d.withColumn(Naming.cleanse(s"${cn}_missing_flag"),
            when(col(cn).isNull, 1).otherwise(0))
        }
      else base
    val fills = imputations.map { case (cn, how) =>
      val v: Any = how.toLowerCase match {
        case "mean" | "median" => statOf(s"_m_$cn")
        case "mode" =>
          val m = base.where(nanFree(cn).isNotNull).groupBy(col(cn).as("_v")).count()
            .orderBy(col("count").desc, col("_v").asc).limit(1).collect()
          if (m.isEmpty) null else m(0).get(0)
        case raw => raw
      }
      cn -> v
    }.toMap
    val df2 = imputations.foldLeft(flagged) { case (d, (cn, _)) =>
      d.withColumn(cn, coalesce(col(cn), lit(fills(cn)).cast(types(cn))))
    }
    // fragment embeds driver-computed statistics as literals — the
    // reference's compile-time run_query templates do the same
    val flagSql =
      if (flagMissingVals)
        imputations.map { case (cn, _) =>
          s"CASE WHEN $cn IS NULL THEN 1 ELSE 0 END AS ${Naming.cleanse(s"${cn}_missing_flag")}"
        }
      else Nil
    val baseCols = c.df.columns.toSeq.map { n =>
      if (fills.contains(n))
        s"COALESCE($n, CAST(${Naming.sqlLiteral(fills(n))} AS ${types(n).sql})) AS $n"
      else n
    }
    c.next("impute", df2,
      Some(s"SELECT ${(baseCols ++ flagSql).mkString(", ")} FROM {{source}}"))
  }

  /** bin(type, bin_count, column): "equalwidth" (0-based index over the
    * observed [min, max], capped at n−1) or "ntile" → `<col>_bin`.
    */
  def bin(binType: String, binCount: Int, column: String,
          tiebreak: Seq[String] = Nil): Chain = {
    val name = Naming.cleanse(s"${column}_bin")
    binType.toLowerCase match {
      case "equalwidth" =>
        // NaN never enters the range statistics (max() returns NaN if one
        // row is NaN — the width would be NaN and EVERY bin null) and a
        // NaN value bins to null (unguarded, least(NaN, k) = k would drop
        // it silently into the LAST bin)
        val xd = col(column).cast("double")
        val xr = when(!isnan(xd), xd)
        val (base, Seq(mnV, mxV)) = CheckpointProbe.stats(c.df, "mn" -> min(xr), "mx" -> max(xr))
        // an all-null / all-NaN column leaves no range statistic at all —
        // refuse loudly by name instead of a silent 0.0 from a null statistic
        require(mnV != null && mxV != null,
          s"bin(equalwidth): column $column has no non-null, non-NaN values to derive a range from")
        val (mn, mx) = (mnV.asInstanceOf[Double], mxV.asInstanceOf[Double])
        val width = (mx - mn) / binCount
        val e0 =
          if (width == 0d) lit(0)
          else least(floor((xd - lit(mn)) / lit(width)), lit(binCount - 1)).cast("int")
        val e = when(!isnan(xd), e0)
        val coreSql =
          if (width == 0d) "0"
          else s"CAST(LEAST(FLOOR((CAST($column AS DOUBLE) - $mn) / $width), ${binCount - 1}) AS INT)"
        c.next("bin", base.withColumn(name, e), Some(
          s"SELECT *, CASE WHEN NOT isnan(CAST($column AS DOUBLE)) THEN $coreSql END " +
            s"AS $name FROM {{source}}"))
      case "ntile" =>
        require(binCount >= 1, s"bin(ntile): bin_count must be >= 1, got $binCount")
        val order = (column +: tiebreak).map(col(_).asc)
        // Global NTILE without the single-task window: Spark plans
        // `NTILE(n) OVER (ORDER BY …)` as a SinglePartition sort — the
        // whole corpus through ONE task (the shape ScaleLint grades
        // error). Instead: distributed 0-based row positions from
        // [[graft.core.PrefixScan]] (range-partitioned sort +
        // partition-local scan) and NTILE's bucket arithmetic on
        // (position, total) — ANSI NTILE gives the first n mod b buckets
        // ⌈n/b⌉ rows and the rest ⌊n/b⌋, so
        //   bucket(p) = p div (q+1) + 1            for p <  r·(q+1)
        //             = (p − r·(q+1)) div q + r + 1 otherwise
        // with q = n div b, r = n mod b. One declared count() action +
        // the PrefixScan materialization (the bounded-stats posture the
        // equalwidth face already has — release via
        // [[graft.core.Chain.releaseCheckpoints]]). Row order within
        // order-ties stays engine-chosen, exactly as NTILE's is; pass
        // `tiebreak` columns for a deterministic assignment. The SQL face
        // keeps the standard NTILE window text for rendering engines.
        val posCol = "_graft_bin_pos"
        require(!c.df.columns.contains(posCol),
          s"bin(ntile): internal column '$posCol' already exists on the frame")
        // n rides PrefixScan's own boundary fold — one snapshot for
        // positions AND total (a separate c.df.count() was a second
        // independent corpus scan, and on a nondeterministic input the
        // two scans could disagree and corrupt the q/r bucket
        // arithmetic), and zero extra jobs
        val (withPos, n) = PrefixScan.exclusivePrefixSumWithTotal(
          c.df, order, lit(1L), posCol)
        val q = n / binCount
        val r = n % binCount
        val e =
          if (q == 0L) (col(posCol) + lit(1L)).cast("int") // n < b: 1 row per bucket
          else when(col(posCol) < lit(r * (q + 1L)),
              expr(s"$posCol div ${q + 1L}") + lit(1L))
            .otherwise(expr(s"($posCol - ${r * (q + 1L)}) div $q") + lit(r + 1L))
            .cast("int")
        val orderSql = (column +: tiebreak).mkString(", ")
        c.next("bin", withPos.withColumn(name, e).drop(posCol), Some(
          s"SELECT *, NTILE($binCount) OVER (ORDER BY $orderSql) AS $name FROM {{source}}"))
      case other => throw new IllegalArgumentException(s"unknown bin type $other")
    }
  }

  /** standard_scaler(columns_to_scale, averages, stddevs): (x−μ)/σ →
    * `<col>_scaled`; statistics optionally precomputed (the reference's
    * compile-time `run_query` pattern), else one exact aggregate.
    */
  /** flag_outliers(column, group_by, z): per-group z-score and outlier
    * flag — `<col>_zscore` ((x−μ)/σ where σ > 0, else null) and
    * `<col>_outlier` (|x−μ| > z·σ, false for degenerate groups). Group
    * statistics come from one window pass over exact decimal accumulators
    * (the [[graft.core.Exact]] formulas), so flags are identical under any
    * partitioning and across engines — the data-quality gate in front of
    * scaling/training. Empty `groupBy` = global statistics (one window
    * partition; prefer grouped use at scale).
    *
    * See [[flagOutliersRobust]] for the median/MAD variant — mean/σ
    * statistics are themselves dragged by the outliers they hunt.
    */
  /** winsorize(column, group_by, p_low, p_high): clamp a numeric column to
    * its per-group [pLow, pHigh] percentile bounds — the standard
    * heavy-tail tamer run before scaling/regression (the clipping sibling
    * of [[flagOutliers]], which only FLAGS). Bounds are NEAREST-RANK order
    * statistics (value at 0-indexed rank floor(p·(n−1)) / ceil(p·(n−1))):
    * integer rank selection instead of interpolation, so the result is
    * engine-exact (interpolated percentiles differ across engines in the
    * last FP bits; rank selection cannot). One exchange on the group keys,
    * one in-partition sort shared by the rank and bound windows; nulls
    * never rank and stay null; NaN values never rank either and pass
    * through UNCLAMPED (a NaN sorts greatest, so unguarded it would
    * become the upper bound and silently disable clamping for its whole
    * group). Adds `<column>_wins`.
    *
    * UNGROUPED, the rank windows would be a single corpus sort task; that
    * face instead derives the two bound VALUES distributedly — per-value
    * counts, a [[graft.core.PrefixScan]] cumulative count over the
    * distinct-value frame, then value-at-rank k = the smallest value
    * whose cumulative count reaches k (identical to the row_number pick:
    * the value AT a rank is order-independent) collected as two scalars
    * driving a pure clamp projection. Declared eager (three bounded
    * driver reads — the equalwidth-bin posture); the SQL face keeps the
    * window text.
    */
  def winsorize(column: String, groupBy: Seq[String] = Seq.empty,
                pLow: Double = 0.01, pHigh: Double = 0.99): Chain = {
    require(pLow >= 0 && pHigh <= 1 && pLow < pHigh,
      s"need 0 <= pLow < pHigh <= 1, got ($pLow, $pHigh)")
    val x = col(column).cast("double")
    // rank-participating value: NaN behaves like null (never ranks, never
    // a bound); the output branch passes NaN through unchanged
    val xr = when(!isnan(x), x)
    val outName = Naming.cleanse(s"${column}_wins")
    val df2 = if (groupBy.isEmpty) {
      val bounds = EncodeOps.globalValueAtRanks(c.df, xr, Seq(
        n => math.floor(pLow * (n - 1).toDouble).toLong + 1L,
        n => math.ceil(pHigh * (n - 1).toDouble).toLong + 1L))
      val (loC, hiC) = (lit(bounds(0)).cast("double"), lit(bounds(1)).cast("double"))
      c.df.withColumn(outName,
        when(x.isNull, lit(null).cast("double"))
          .when(isnan(x), x)
          .otherwise(greatest(least(x, hiC), loC)))
    } else {
      val wPart = Window.partitionBy(groupBy.map(col): _*)
      val wOrd = wPart.orderBy(xr.asc_nulls_last)
      val step1 = c.df
        .withColumn("_w_rn", row_number().over(wOrd))
        .withColumn("_w_n", count(xr).over(wPart))
      val loIdx = floor(lit(pLow) * (col("_w_n") - 1)) + 1
      val hiIdx = ceil(lit(pHigh) * (col("_w_n") - 1)) + 1
      step1
        .withColumn("_w_lo",
          max(when(col("_w_rn") === loIdx && xr.isNotNull, xr)).over(wPart))
        .withColumn("_w_hi",
          max(when(col("_w_rn") === hiIdx && xr.isNotNull, xr)).over(wPart))
        .withColumn(outName,
          when(x.isNull, lit(null).cast("double"))
            .when(isnan(x), x)
            .otherwise(greatest(least(x, col("_w_hi")), col("_w_lo"))))
        .drop("_w_rn", "_w_n", "_w_lo", "_w_hi")
    }
    val cn = Naming.quoteId(column)
    val xS = s"CAST($cn AS DOUBLE)"
    // the rank-participating value: NaN behaves like null (same as the
    // DataFrame face's `xr`)
    val xrS = s"CASE WHEN NOT isnan($xS) THEN $xS END"
    val wp =
      if (groupBy.isEmpty) "" else s"PARTITION BY ${groupBy.mkString(", ")}"
    // percentiles rendered as CAST('<p>' AS DOUBLE): a bare decimal literal
    // is exact DECIMAL in ANSI engines, so FLOOR(p·(n−1)) could land one
    // rank off the DataFrame face's IEEE-double product (e.g. p=0.3, n=11:
    // double gives 2.999…96 → rank 2, DECIMAL gives 3.00 → rank 3); the
    // string→double cast forces both engines through the same arithmetic
    val loP = s"CAST('$pLow' AS DOUBLE)"
    val hiP = s"CAST('$pHigh' AS DOUBLE)"
    val loS = s"MAX(CASE WHEN _w_rn = FLOOR($loP * (_w_n - 1)) + 1 AND ($xrS) IS NOT NULL THEN $xrS END) OVER ($wp)"
    val hiS = s"MAX(CASE WHEN _w_rn = CEIL($hiP * (_w_n - 1)) + 1 AND ($xrS) IS NOT NULL THEN $xrS END) OVER ($wp)"
    c.next("winsorize", df2, Some(
      s"SELECT * EXCEPT (_w_rn, _w_n, _w_lo, _w_hi), " +
        s"CASE WHEN $xS IS NULL THEN NULL WHEN isnan($xS) THEN $xS " +
        s"ELSE GREATEST(LEAST($xS, _w_hi), _w_lo) END AS $outName FROM (" +
        s"SELECT *, $loS AS _w_lo, $hiS AS _w_hi FROM (" +
        s"SELECT *, ROW_NUMBER() OVER ($wp ORDER BY $xrS ASC NULLS LAST) AS _w_rn, " +
        s"COUNT($xrS) OVER ($wp) AS _w_n FROM {{source}}))"))
  }

  /** robust_scaler(column, group_by): (x − median) / IQR → `<col>_rscaled`
    * — the outlier-resistant scaler (sklearn RobustScaler semantics):
    * centering and spread come from order statistics with a 25% breakdown
    * point, so a corrupted tail cannot drag the scale the way μ/σ in
    * [[standardScaler]] can. Order statistics are lower nearest-rank
    * (`rank = FLOOR(p·(n−1)) + 1` over the NaN-excluded ascending order) —
    * the same explicit index arithmetic as [[winsorize]]: exact and
    * engine-portable where interpolated quantile formulas differ. Zero
    * IQR (≥ half the group tied) scales by 1 — the sklearn zero-scale
    * convention — so constant groups center to 0 instead of dividing by
    * zero. NaN never ranks and passes through row-wise; null stays null.
    *
    * Scale: one window pass per group (rank + three conditional MAX picks
    * share the partitioning/sort — same shape as winsorize); UNGROUPED
    * the three order statistics come from the shared distinct-value
    * PrefixScan helper (no corpus sort task; declared eager — the
    * winsorize posture). For groups too large to buffer in a rank
    * window, the KLL-sketch regime ([[winsorizeSketch]]) is the
    * documented corpus-scale dial.
    */
  def robustScaler(column: String, groupBy: Seq[String] = Seq.empty): Chain = {
    val x = col(column).cast("double")
    val xr = when(!isnan(x), x)
    val outName = Naming.cleanse(s"${column}_rscaled")
    // ungrouped: the three order statistics come from the shared
    // distinct-value PrefixScan helper (see winsorize) — no corpus sort
    // task; declared eager, SQL face keeps the window text
    val df2 = if (groupBy.isEmpty) {
      def rankOf(p: Double)(n: Long): Long =
        math.floor(p * (n - 1).toDouble).toLong + 1L
      val qs = EncodeOps.globalValueAtRanks(c.df, xr,
        Seq(rankOf(0.25), rankOf(0.5), rankOf(0.75)))
      val (q1, med, q3) =
        (lit(qs(0)).cast("double"), lit(qs(1)).cast("double"), lit(qs(2)).cast("double"))
      val iqr = q3 - q1
      c.df.withColumn(outName,
        when(x.isNull, lit(null).cast("double"))
          .when(isnan(x), x)
          .otherwise((x - med) /
            when(iqr === 0.0, lit(1.0)).otherwise(iqr)))
    } else {
      val wPart = Window.partitionBy(groupBy.map(col): _*)
      val wOrd = wPart.orderBy(xr.asc_nulls_last)
      val step1 = c.df
        .withColumn("_r_rn", row_number().over(wOrd))
        .withColumn("_r_n", count(xr).over(wPart))
      def pick(p: Double) = max(when(
        col("_r_rn") === floor(lit(p) * (col("_r_n") - 1)) + 1 && xr.isNotNull,
        xr)).over(wPart)
      val step2 = step1
        .withColumn("_r_q1", pick(0.25))
        .withColumn("_r_med", pick(0.5))
        .withColumn("_r_q3", pick(0.75))
      val iqr = col("_r_q3") - col("_r_q1")
      step2
        .withColumn(outName,
          when(x.isNull, lit(null).cast("double"))
            .when(isnan(x), x)
            .otherwise((x - col("_r_med")) /
              when(iqr === 0.0, lit(1.0)).otherwise(iqr)))
        .drop("_r_rn", "_r_n", "_r_q1", "_r_med", "_r_q3")
    }
    val cn = Naming.quoteId(column)
    val xS = s"CAST($cn AS DOUBLE)"
    val xrS = s"CASE WHEN NOT isnan($xS) THEN $xS END"
    val wp =
      if (groupBy.isEmpty) "" else s"PARTITION BY ${groupBy.mkString(", ")}"
    // percentile index arithmetic through CAST('<p>' AS DOUBLE), same
    // rationale as winsorize (bare decimals are exact DECIMAL elsewhere)
    def pickS(p: String) =
      s"MAX(CASE WHEN _r_rn = FLOOR(CAST('$p' AS DOUBLE) * (_r_n - 1)) + 1 " +
        s"AND ($xrS) IS NOT NULL THEN $xrS END) OVER ($wp)"
    val iqrS = "(_r_q3 - _r_q1)"
    c.next("robust_scaler", df2, Some(
      s"SELECT * EXCEPT (_r_rn, _r_n, _r_q1, _r_med, _r_q3), " +
        s"CASE WHEN $xS IS NULL THEN NULL WHEN isnan($xS) THEN $xS " +
        s"ELSE ($xS - _r_med) / (CASE WHEN $iqrS = 0 THEN 1.0 ELSE $iqrS END) " +
        s"END AS $outName FROM (" +
        s"SELECT *, ${pickS("0.25")} AS _r_q1, ${pickS("0.5")} AS _r_med, " +
        s"${pickS("0.75")} AS _r_q3 FROM (" +
        s"SELECT *, ROW_NUMBER() OVER ($wp ORDER BY $xrS ASC NULLS LAST) AS _r_rn, " +
        s"COUNT($xrS) OVER ($wp) AS _r_n FROM {{source}}))"))
  }

  /** winsorize_sketch(column, group_by, p_low, p_high, k): the corpus-scale
    * face of [[winsorize]] — per-group KLL quantile sketches (mergeable,
    * map-side combined; the exact face's rank windows buffer whole groups)
    * give the clamp bounds, joined back and applied in one codegen pass.
    * Bounds carry KLL's ±1.65% (k=200) normalized rank error, so clamped
    * values can differ from the exact face only for rows within that band
    * of the cut points (QuantGateSpec bounds the disagreement). The SQL
    * face calls the registered KLL kernels (Spark-executable, plan ≡ the
    * DataFrame face); it is engine-specific by design — DuckDB can't run
    * it, which is why the ORACLE regime for sketch ops is the exact face.
    */
  def winsorizeSketch(column: String, groupBy: Seq[String] = Seq.empty,
                      pLow: Double = 0.01, pHigh: Double = 0.99,
                      k: Int = 200): Chain = {
    require(pLow >= 0 && pHigh <= 1 && pLow < pHigh,
      s"need 0 <= pLow < pHigh <= 1, got ($pLow, $pHigh)")
    val x = col(column).cast("double")
    // NaN never enters the sketch and passes through unclamped — the same
    // contract as the exact face
    val xr = when(!isnan(x), x)
    val sk = graft.functions.KllSketches.sketchAgg(xr, k).as("_w_sk")
    val bounds = (
      if (groupBy.isEmpty) c.df.agg(sk)
      else c.df.groupBy(groupBy.map(col): _*).agg(sk))
      .select((groupBy.map(col) :+
        graft.functions.KllSketches.quantile(col("_w_sk"), pLow).as("_w_lo") :+
        graft.functions.KllSketches.quantile(col("_w_sk"), pHigh).as("_w_hi")): _*)
    val joined =
      if (groupBy.isEmpty) c.df.crossJoin(broadcast(bounds))
      else c.df.join(bounds, groupBy, "left")
    val outName = Naming.cleanse(s"${column}_wins")
    // re-select the source order: a using-columns join moves the group
    // keys to the front, which would leak join layout into the op's shape
    val df2 = joined
      .withColumn(outName,
        when(x.isNull, lit(null).cast("double"))
          .when(isnan(x), x)
          .when(col("_w_lo").isNull, lit(null).cast("double"))
          .otherwise(greatest(least(x, col("_w_hi")), col("_w_lo"))))
      .select((c.df.columns.toSeq.map(col) :+ col(outName)): _*)
    // SQL face: bounds subquery over a second read of {{source}}, joined
    // back exactly like the DataFrame face (qualified star keeps the
    // column order; percentiles use the D-suffix double literal style of
    // the other KLL faces)
    val cn = Naming.quoteId(column)
    val xS = s"CAST(s.$cn AS DOUBLE)"
    val xrAggS = s"CASE WHEN NOT isnan(CAST($cn AS DOUBLE)) THEN CAST($cn AS DOUBLE) END"
    def q(p: Double) = s"KLL_QUANTILE(KLL_SKETCH_AGG($xrAggS, $k), " +
      s"${java.lang.Double.toString(p)}D)"
    val boundsSel = (groupBy :+ s"${q(pLow)} AS _w_lo" :+ s"${q(pHigh)} AS _w_hi").mkString(", ")
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    val joinSql =
      if (groupBy.isEmpty) s"CROSS JOIN (SELECT $boundsSel FROM {{source}}) b"
      else s"LEFT JOIN (SELECT $boundsSel FROM {{source}}$grpSql) b ON " +
        groupBy.map(g => s"s.$g = b.$g").mkString(" AND ")
    c.next("winsorize_sketch", df2, Some(
      s"SELECT s.*, CASE WHEN $xS IS NULL THEN CAST(NULL AS DOUBLE) " +
        s"WHEN isnan($xS) THEN $xS " +
        s"WHEN b._w_lo IS NULL THEN CAST(NULL AS DOUBLE) " +
        s"ELSE GREATEST(LEAST($xS, b._w_hi), b._w_lo) END AS $outName " +
        s"FROM {{source}} s $joinSql"))
  }

  /** robust_scaler_sketch(column, group_by, k): the corpus-scale face of
    * [[robustScaler]] — per-group KLL quantile sketches (mergeable,
    * map-side combined; the exact face's rank windows buffer whole
    * groups) give median and quartiles, joined back and applied in one
    * codegen pass. Center/spread carry KLL's ±1.65% (k=200) normalized
    * rank error — QuantGateSpec bounds how far the sketch statistics can
    * sit from the exact ranks. Same output contract as the exact face:
    * `<col>_rscaled`, zero IQR scales by 1, NaN never enters the sketch
    * and passes through row-wise, null stays null (and an empty/all-NaN
    * group nulls its rows' output).
    */
  def robustScalerSketch(column: String, groupBy: Seq[String] = Seq.empty,
                         k: Int = 200): Chain = {
    val x = col(column).cast("double")
    val xr = when(!isnan(x), x)
    val sk = graft.functions.KllSketches.sketchAgg(xr, k).as("_r_sk")
    def q(p: Double) = graft.functions.KllSketches.quantile(col("_r_sk"), p)
    val bounds = (
      if (groupBy.isEmpty) c.df.agg(sk)
      else c.df.groupBy(groupBy.map(col): _*).agg(sk))
      .select((groupBy.map(col) :+ q(0.25).as("_r_q1") :+
        q(0.5).as("_r_med") :+ q(0.75).as("_r_q3")): _*)
    val joined =
      if (groupBy.isEmpty) c.df.crossJoin(broadcast(bounds))
      else c.df.join(bounds, groupBy, "left")
    val outName = Naming.cleanse(s"${column}_rscaled")
    val iqr = col("_r_q3") - col("_r_q1")
    val df2 = joined
      .withColumn(outName,
        when(x.isNull, lit(null).cast("double"))
          .when(isnan(x), x)
          .when(col("_r_med").isNull, lit(null).cast("double"))
          .otherwise((x - col("_r_med")) /
            when(iqr === 0.0, lit(1.0)).otherwise(iqr)))
      .select((c.df.columns.toSeq.map(col) :+ col(outName)): _*)
    val cn = Naming.quoteId(column)
    val xS = s"CAST(s.$cn AS DOUBLE)"
    val xrAggS = s"CASE WHEN NOT isnan(CAST($cn AS DOUBLE)) THEN CAST($cn AS DOUBLE) END"
    def qS(p: Double) = s"KLL_QUANTILE(KLL_SKETCH_AGG($xrAggS, $k), " +
      s"${java.lang.Double.toString(p)}D)"
    val boundsSel = (groupBy :+ s"${qS(0.25)} AS _r_q1" :+ s"${qS(0.5)} AS _r_med" :+
      s"${qS(0.75)} AS _r_q3").mkString(", ")
    val grpSql = if (groupBy.isEmpty) "" else s" GROUP BY ${groupBy.mkString(", ")}"
    val joinSql =
      if (groupBy.isEmpty) s"CROSS JOIN (SELECT $boundsSel FROM {{source}}) b"
      else s"LEFT JOIN (SELECT $boundsSel FROM {{source}}$grpSql) b ON " +
        groupBy.map(g => s"s.$g = b.$g").mkString(" AND ")
    val iqrS = "(b._r_q3 - b._r_q1)"
    c.next("robust_scaler_sketch", df2, Some(
      s"SELECT s.*, CASE WHEN $xS IS NULL THEN CAST(NULL AS DOUBLE) " +
        s"WHEN isnan($xS) THEN $xS " +
        s"WHEN b._r_med IS NULL THEN CAST(NULL AS DOUBLE) " +
        s"ELSE ($xS - b._r_med) / (CASE WHEN $iqrS = 0 THEN 1.0 ELSE $iqrS END) " +
        s"END AS $outName FROM {{source}} s $joinSql"))
  }

  /** quantile_normalize(column, group_by, reference): map each value onto
    * the reference distribution's order statistic at the same rank
    * fraction — `<col>_qnorm` — the classic cross-source score
    * calibration (quantile normalization; Bolstad et al.,
    * Bioinformatics 2003): after normalization every group's empirical
    * distribution is a subsample of the reference's, so a "quality 0.8"
    * from source A and source B mean the same thing. `reference` defaults
    * to the chain itself (each group maps onto the POOLED distribution —
    * the microarray formulation); pass a side chain to calibrate onto a
    * trusted corpus instead.
    *
    * Semantics: r = RANK() of the value within its group over the
    * NaN-excluded ascending order (ties share the min rank, so tied
    * inputs normalize identically — deterministic where ROW_NUMBER on
    * ties is not), n = the group's non-null count, and the output is the
    * reference value at nearest rank ceil(r·N/n) (clamped to [1, N],
    * N = reference non-null count). The index arithmetic runs through
    * IEEE doubles (CEIL(r·N/n)) — exact for any N below 2^26 and, above
    * that, still deterministic and engine-portable (the winsorize
    * CAST-through-double convention). NaN never ranks and passes through
    * row-wise; null stays null; an empty (all-null/NaN) reference nulls
    * the output.
    *
    * Scale shape: one rank window per group (same shape as [[winsorize]])
    * plus the reference rank lookup table and a rank-keyed equi-join —
    * the exact face. The lookup table is built by
    * [[graft.core.PrefixScan]] positions over the range-sorted reference
    * (NOT a `ROW_NUMBER() OVER (ORDER BY …)` window, which would funnel
    * the whole reference through one task — the value AT a rank is
    * order-independent among ties, so the two formulations produce the
    * identical table; the SQL face keeps the window text for rendering
    * engines). The PrefixScan materialization is a declared eager step
    * (this op already probes N eagerly); release with
    * [[graft.core.Chain.releaseCheckpoints]] when done. UNGROUPED, the
    * corpus-side tie-aware rank comes from a distinct-value PrefixScan
    * rank table joined back on the value (gated broadcast; the non-null
    * count is a literal from the scan's own boundary fold) — a rank
    * is an identity of its value group, so no corpus sort task remains
    * anywhere in this op. [[quantileNormalizeSketch]] additionally
    * replaces the lookup table with an L-point KLL cutoff array riding
    * the plan as a broadcast one-row frame (no reference table, no join).
    */
  def quantileNormalize(column: String, groupBy: Seq[String] = Seq.empty,
                        reference: Option[Chain] = None): Chain = {
    require(!c.df.columns.contains(Naming.cleanse(s"${column}_qnorm")),
      s"quantile_normalize: output column '${Naming.cleanse(s"${column}_qnorm")}' " +
        "already exists on the chain — rename first (the final re-select " +
        "would otherwise emit it twice)")
    val reserved = Seq("_qn_r", "_qn_n", "_qn_tot", "_qn_t", "_qn_rk", "_qn_v")
    reserved.foreach(n => require(!c.df.columns.contains(n),
      s"quantile_normalize: column '$n' collides with an internal name — rename first"))
    require(groupBy.intersect(reserved).isEmpty,
      s"quantile_normalize: group columns collide with internal names " +
        s"${groupBy.intersect(reserved).mkString(", ")} — rename first")
    val refC = reference.getOrElse(c)
    require(refC.df.columns.contains(column),
      s"quantile_normalize: reference chain is missing column '$column'")
    val x = col(column).cast("double")
    val xr = when(!isnan(x), x)
    val rx = col(column).cast("double")
    val rxr = when(!isnan(rx), rx)
    // the reference CDF lookup table: value at every rank 1..N (ascending
    // over the NaN-excluded values — rank-position among equal values is
    // arbitrary, but the value AT a rank is order-independent). PrefixScan
    // positions, not a global ROW_NUMBER window (see scaladoc)
    val refVals = refC.df.select(rxr.as("_qn_v")).where(col("_qn_v").isNotNull)
    val (refScan, nRef) = PrefixScan.exclusivePrefixSumWithTotal(
      refVals, Seq(col("_qn_v").asc), lit(1L), "_qn_rk0")
    val refRanks0 = refScan
      .select(col("_qn_v"), (col("_qn_rk0") + lit(1L)).as("_qn_rk"))
    // PrefixScan-backed lookup table ⇒ defaultSizeInBytes statistics ⇒ no
    // broadcast would ever fire unhinted and the CORPUS shuffles on the
    // rank key; gate a hint on the reference projection's own plan
    // statistics ([[graft.core.SizeGate]], round 17) — a corpus-sized
    // reference keeps the shuffled join
    val refRanks =
      if (graft.core.SizeGate.fitsBroadcast(refVals, 1)) broadcast(refRanks0)
      else refRanks0
    // N = the reference's non-null count — already accumulated by the
    // PrefixScan boundary fold above (one row per ref non-null value at
    // weight 1), so the old separate column-pruned COUNT scan of the
    // reference is gone (round 17)
    // ungrouped, the corpus-side tie-aware rank is an identity of the
    // value group: distinct-value PrefixScan rank table + broadcast
    // count, never a PARTITION BY () rank window (round 16)
    val step1 =
      if (groupBy.isEmpty) EncodeOps.globalTieRanks(c.df, xr, "_qn_r", "_qn_n")
      else {
        val wp = Window.partitionBy(groupBy.map(col): _*)
        c.df
          .withColumn("_qn_r", rank().over(wp.orderBy(xr.asc_nulls_last)))
          .withColumn("_qn_n", count(xr).over(wp))
      }
    val t =
      if (nRef == 0L) lit(null).cast("long")
      else when(xr.isNotNull,
        greatest(lit(1L), least(lit(nRef),
          ceil(col("_qn_r").cast("double") * lit(nRef.toDouble) /
            col("_qn_n").cast("double")).cast("long"))))
    val outName = Naming.cleanse(s"${column}_qnorm")
    val df2 = step1.withColumn("_qn_t", t)
      .join(refRanks.withColumnRenamed("_qn_rk", "_qn_t"), Seq("_qn_t"), "left")
      .withColumn(outName,
        when(x.isNull, lit(null).cast("double"))
          .when(isnan(x), x)
          .otherwise(col("_qn_v")))
      .select((c.df.columns.toSeq.map(col) :+ col(outName)): _*)
    val cn = Naming.quoteId(column)
    val xS = s"CAST($cn AS DOUBLE)"
    val xrS = s"CASE WHEN NOT isnan($xS) THEN $xS END"
    val wpS =
      if (groupBy.isEmpty) "" else s"PARTITION BY ${groupBy.mkString(", ")}"
    // NULLIF keeps an all-null group's n = 0 out of the division (ANSI
    // raises on divide-by-zero): the NULL rank propagates to a NULL join
    // key, and such a group's rows are all-null x anyway
    val tS = "GREATEST(1, CAST(LEAST(CAST(_qn_tot AS DOUBLE), " +
      "CEIL(CAST(_qn_r AS DOUBLE) * CAST(_qn_tot AS DOUBLE) / " +
      "CAST(NULLIF(_qn_n, 0) AS DOUBLE))) AS BIGINT))"
    // renderable only against the chain's own source: a side reference is
    // a second relation the one-source template can't express
    val fragment =
      if (reference.isDefined) None
      else Some(
        s"SELECT * EXCEPT (_qn_r, _qn_n, _qn_tot, _qn_t, _qn_v), " +
          s"CASE WHEN $xS IS NULL THEN NULL WHEN isnan($xS) THEN $xS " +
          s"ELSE _qn_v END AS $outName FROM (" +
          s"SELECT s.*, rr._qn_v FROM (" +
          s"SELECT *, $tS AS _qn_t FROM (" +
          s"SELECT *, RANK() OVER ($wpS ORDER BY $xrS ASC NULLS LAST) AS _qn_r, " +
          s"COUNT($xrS) OVER ($wpS) AS _qn_n FROM {{source}}) " +
          s"CROSS JOIN (SELECT COUNT($xrS) AS _qn_tot FROM {{source}})) s " +
          s"LEFT JOIN (SELECT $xrS AS _qn_v, ROW_NUMBER() OVER (ORDER BY $xrS ASC) AS _qn_rk " +
          s"FROM {{source}} WHERE ($xrS) IS NOT NULL) rr ON s._qn_t = rr._qn_rk)")
    c.next("quantile_normalize", df2, fragment,
      Map("column" -> column, "group_by" -> groupBy.mkString(",")))
  }

  /** quantile_normalize_sketch(column, group_by, levels, k, reference):
    * the corpus-scale face of [[quantileNormalize]] — the reference CDF
    * lookup table (a global sort at the exact face) is replaced by an
    * L-point KLL cutoff array: the output for rank fraction p is
    * cutoff[clamp(ceil(p·L), 1, L)], i.e. the reference quantile at p
    * rounded up to the 1/L grid, carrying KLL's ±1.65% (k=200) normalized
    * rank error on top of the grid's 1/(2L) — QuantGateSpec bounds the
    * disagreement against the exact face. The per-group rank window
    * remains (p is DEFINED by the group's order statistics; ungrouped it
    * is the round-16 distinct-value PrefixScan rank table, like the
    * exact face); only the reference-side sort and the rank join
    * disappear: the cutoff array is ONE bounded row, broadcast, and the
    * application is a pure projection. Same output contract:
    * `<col>_qnorm`, NaN passes through, null stays null, an empty
    * reference nulls the output.
    *
    * Non-renderable: the cutoff array is a fitted reference-CDF artifact
    * (the model-op convention of lm_model/pca_fit); the renderable and
    * ORACLE regime is the exact face.
    */
  def quantileNormalizeSketch(column: String, groupBy: Seq[String] = Seq.empty,
                              levels: Int = 256, k: Int = 200,
                              reference: Option[Chain] = None): Chain = {
    require(levels >= 2 && levels <= 65536,
      s"quantile_normalize_sketch: levels must be in [2, 65536], got $levels")
    require(!c.df.columns.contains(Naming.cleanse(s"${column}_qnorm")),
      s"quantile_normalize_sketch: output column " +
        s"'${Naming.cleanse(s"${column}_qnorm")}' already exists on the chain — rename first")
    val reserved = Seq("_qn_r", "_qn_n", "_qn_cuts")
    reserved.foreach(n => require(!c.df.columns.contains(n),
      s"quantile_normalize_sketch: column '$n' collides with an internal name — rename first"))
    require(groupBy.intersect(reserved).isEmpty,
      s"quantile_normalize_sketch: group columns collide with internal names " +
        s"${groupBy.intersect(reserved).mkString(", ")} — rename first")
    val refC = reference.getOrElse(c)
    require(refC.df.columns.contains(column),
      s"quantile_normalize_sketch: reference chain is missing column '$column'")
    val x = col(column).cast("double")
    val xr = when(!isnan(x), x)
    val rx = col(column).cast("double")
    val rxr = when(!isnan(rx), rx)
    val sk = graft.functions.KllSketches.sketchAgg(rxr, k).as("_qn_sk")
    val cuts = refC.df.agg(sk).select(array((1 to levels).map(i =>
      graft.functions.KllSketches.quantile(col("_qn_sk"),
        i.toDouble / levels)): _*).as("_qn_cuts"))
    val tS = greatest(lit(1L), least(lit(levels.toLong),
      ceil(col("_qn_r").cast("double") * lit(levels.toDouble) /
        col("_qn_n").cast("double")).cast("long")))
    val outName = Naming.cleanse(s"${column}_qnorm")
    // the same round-16 ungrouped regime as the exact face: PrefixScan
    // rank table + fold-derived count instead of a global rank window
    val ranked =
      if (groupBy.isEmpty) EncodeOps.globalTieRanks(c.df, xr, "_qn_r", "_qn_n")
      else {
        val wp = Window.partitionBy(groupBy.map(col): _*)
        c.df
          .withColumn("_qn_r", rank().over(wp.orderBy(xr.asc_nulls_last)))
          .withColumn("_qn_n", count(xr).over(wp))
      }
    val df2 = ranked
      .crossJoin(broadcast(cuts))
      .withColumn(outName,
        when(x.isNull, lit(null).cast("double"))
          .when(isnan(x), x)
          .otherwise(element_at(col("_qn_cuts"), tS.cast("int")).cast("double")))
      .select((c.df.columns.toSeq.map(col) :+ col(outName)): _*)
    c.next("quantile_normalize_sketch", df2, None,
      Map("column" -> column, "levels" -> levels.toString))
  }

  def flagOutliers(column: String, groupBy: Seq[String] = Seq.empty,
                   z: Double = 3.0): Chain = {
    require(z > 0, s"z must be positive, got $z")
    val x = col(column).cast("double")
    // n, Sx and Sxx all gate on the x² decimal cast (NaN casts to null,
    // and so does an x² that overflows at |x| ≳ 1e15 — the
    // Exact.moments consistent-exclusion contract): a NaN or
    // overflow row would otherwise inflate n and silently bias mu/sd
    // low for its whole group. The NaN row itself flags as an outlier
    // (|NaN - mu| > z*sd is TRUE under NaN-greatest comparison) — the
    // right verdict for a corrupted value.
    // ungrouped, the global statistics come from ONE column-pruned
    // aggregate broadcast back via crossJoin — never a PARTITION BY ()
    // window (SinglePartition funnel); decimal sums are association-free,
    // so the doubles are bit-identical to the window formulation the SQL
    // face keeps
    val (src, m, dropAfter) =
      if (groupBy.isEmpty) {
        val names = Seq("_graft_fo_n", "_graft_fo_sx", "_graft_fo_sxx")
        names.foreach(cn0 => require(!c.df.columns.contains(cn0),
          s"flag_outliers: internal column '$cn0' already exists on the frame"))
        val g0 = Exact.moments(x).toDouble
        val g = c.df.agg(g0.n.as(names(0)), g0.sx.as(names(1)), g0.sxx.as(names(2)))
        (c.df.crossJoin(broadcast(g)),
          Exact.Moments(col(names(0)), col(names(1)), col(names(2))), names)
      } else {
        val w = Window.partitionBy(groupBy.map(col): _*)
        (c.df, Exact.moments(x, over = Some(w)).toDouble, Seq.empty[String])
      }
    val n = m.n
    val mu = m.mean
    val sd = m.stddev
    val zc = when(n > 1 && sd > 0, (x - mu) / sd)
    val flag = n > 1 && sd > 0 && abs(x - mu) > lit(z) * sd
    val df2 = src
      .withColumn(Naming.cleanse(s"${column}_zscore"), zc)
      .withColumn(Naming.cleanse(s"${column}_outlier"), flag)
      .drop(dropAfter: _*)
    val cn = Naming.quoteId(column)
    val over =
      if (groupBy.isEmpty) "OVER ()"
      else s"OVER (PARTITION BY ${groupBy.mkString(", ")})"
    val mS = Exact.momentsSql(s"CAST($cn AS DOUBLE)", over)
    val nS = mS.n
    val muS = s"(${mS.sx} / $nS)"
    val sdS = mS.stddev
    c.next("flag_outliers", df2, Some(
      s"SELECT *, CASE WHEN $nS > 1 AND $sdS > 0 THEN (CAST($cn AS DOUBLE) - $muS) / $sdS END AS ${Naming.cleanse(s"${column}_zscore")}, " +
        s"($nS > 1 AND $sdS > 0 AND ABS(CAST($cn AS DOUBLE) - $muS) > $z * $sdS) AS ${Naming.cleanse(s"${column}_outlier")} FROM {{source}}"))
  }

  /** flag_outliers_robust(column, group_by, z): the median/MAD variant of
    * [[flagOutliers]] — modified z-score `0.6745·(x − median) / MAD`
    * (Iglewicz–Hoaglin) and flag |M| > z (classic cut 3.5). Mean/σ
    * statistics are dragged by the very outliers they hunt (one 10⁹×
    * corrupt value inflates σ until nothing else flags); median and MAD
    * have a 50% breakdown point. Two window passes over the same group
    * partitioning — the MAD median depends on the first-pass median —
    * planned as ONE exchange (both windows share the partitioning);
    * medians are exact order statistics (interpolated at even counts),
    * not sketches. Degenerate groups (n ≤ 1 or MAD = 0) flag false with
    * a null score, mirroring the zscore face.
    */
  def flagOutliersRobust(column: String, groupBy: Seq[String] = Seq.empty,
                         z: Double = 3.5): Chain = {
    require(z > 0, s"z must be positive, got $z")
    val x = col(column).cast("double")
    // NaN behaves like null in the median/MAD statistics (percentile sorts
    // NaN greatest and would shift — or become — the median); the NaN row
    // itself still FLAGS (|NaN| > z is TRUE), the right verdict for junk
    val xrS = s"CASE WHEN NOT isnan(CAST(${Naming.quoteId(column)} AS DOUBLE)) " +
      s"THEN CAST(${Naming.quoteId(column)} AS DOUBLE) END"
    val madS = "percentile(CASE WHEN NOT isnan(_graft_dev) THEN _graft_dev END, 0.5)"
    val dev = abs(x - col("_graft_med"))
    val mzName = Naming.cleanse(s"${column}_mzscore")
    val flagName = Naming.cleanse(s"${column}_outlier_robust")
    // ungrouped, both percentile passes are one-row aggregates broadcast
    // back via crossJoin (two extra column-pruned scans), never
    // PARTITION BY () windows; the same Percentile expression computes
    // both faces, so the statistics are bit-identical
    val step2 =
      if (groupBy.isEmpty) {
        val medAgg = c.df.agg(
          expr(s"percentile($xrS, 0.5)").as("_graft_med"),
          count(when(!isnan(x), x)).cast("double").as("_graft_n"))
        val step1 = c.df.crossJoin(broadcast(medAgg)).withColumn("_graft_dev", dev)
        step1.crossJoin(broadcast(step1.agg(expr(madS).as("_graft_mad"))))
      } else {
        val w = Window.partitionBy(groupBy.map(col): _*)
        val step1 = c.df
          .withColumn("_graft_med", expr(s"percentile($xrS, 0.5)").over(w))
          .withColumn("_graft_n", count(when(!isnan(x), x)).over(w).cast("double"))
          .withColumn("_graft_dev", dev)
        step1.withColumn("_graft_mad", expr(madS).over(w))
      }
    val mz = when(col("_graft_n") > 1 && col("_graft_mad") > 0,
      lit(0.6745) * (x - col("_graft_med")) / col("_graft_mad"))
    val flag = col("_graft_n") > 1 && col("_graft_mad") > 0 &&
      abs(mz) > lit(z)
    val df2 = step2
      .withColumn(mzName, mz)
      .withColumn(flagName, flag)
      .drop("_graft_med", "_graft_dev", "_graft_mad", "_graft_n")
    val cn = Naming.quoteId(column)
    val over =
      if (groupBy.isEmpty) "OVER ()"
      else s"OVER (PARTITION BY ${groupBy.mkString(", ")})"
    val baseCols = c.df.columns.toSeq
    val xrQ = s"CASE WHEN NOT isnan(CAST($cn AS DOUBLE)) THEN CAST($cn AS DOUBLE) END"
    val medS = s"percentile($xrQ, 0.5) $over"
    val devQ = s"CASE WHEN NOT isnan(CAST($cn AS DOUBLE)) THEN ABS(CAST($cn AS DOUBLE) - _graft_med) END"
    val mzS = s"0.6745 * (CAST($cn AS DOUBLE) - _graft_med) / _graft_mad"
    val sqlFace =
      s"SELECT ${baseCols.mkString(", ")}, " +
        s"CASE WHEN _graft_n > 1 AND _graft_mad > 0 THEN $mzS END AS $mzName, " +
        s"(_graft_n > 1 AND _graft_mad > 0 AND ABS($mzS) > $z) AS $flagName " +
        s"FROM (SELECT *, percentile($devQ, 0.5) $over AS _graft_mad, " +
        s"CAST(COUNT($xrQ) $over AS DOUBLE) AS _graft_n " +
        s"FROM (SELECT *, $medS AS _graft_med FROM {{source}}))"
    c.next("flag_outliers_robust", df2, Some(sqlFace))
  }

  def standardScaler(
      columnsToScale: Seq[String],
      averages: Map[String, Double] = Map.empty,
      stddevs: Map[String, Double] = Map.empty): Chain = {
    val need = columnsToScale.filterNot(cn => averages.contains(cn) && stddevs.contains(cn))
    // NaN behaves like null in the statistics: the decimal cast already
    // nulls NaN out of the SUMS, but an unguarded count would still count
    // those rows and silently bias μ/σ low
    def xr(cn: String) = {
      val xd = col(cn).cast("double"); when(!isnan(xd), xd)
    }
    val (base, statOf) = scalarStats(need.flatMap(cn => Seq(
      s"_mu_$cn" -> Exact.avg(xr(cn)),
      s"_sd_$cn" -> Exact.stddev(xr(cn)))))
    val stats = columnsToScale.map { cn =>
      cn -> (averages.getOrElse(cn, statOf(s"_mu_$cn").asInstanceOf[Double]),
        stddevs.getOrElse(cn, statOf(s"_sd_$cn").asInstanceOf[Double]))
    }
    val df2 = stats.foldLeft(base) { case (d, (cn, (mu, sd))) =>
      d.withColumn(Naming.cleanse(s"${cn}_scaled"),
        (col(cn).cast("double") - lit(mu)) / lit(sd))
    }
    val frags = stats.map { case (cn, (mu, sd)) =>
      s"(CAST($cn AS DOUBLE) - ${Naming.sqlLiteral(mu)}) / ${Naming.sqlLiteral(sd)} AS ${Naming.cleanse(s"${cn}_scaled")}"
    }
    c.next("standard_scaler", df2,
      Some(s"SELECT *, ${frags.mkString(", ")} FROM {{source}}"))
  }

  /** min_max_scaler(columns_to_scale, minimums, maximums): (x−min)/(max−min)
    * → `<col>_scaled`.
    */
  def minMaxScaler(
      columnsToScale: Seq[String],
      minimums: Map[String, Double] = Map.empty,
      maximums: Map[String, Double] = Map.empty): Chain = {
    val need = columnsToScale.filterNot(cn => minimums.contains(cn) && maximums.contains(cn))
    // NaN excluded from the range: max() returns NaN when any row is
    // NaN (NaN compares greatest), which would scale the WHOLE column
    // to NaN; NaN values themselves scale to NaN row-wise instead
    val (base, statOf) = scalarStats(need.flatMap { cn =>
      val xd = col(cn).cast("double"); val xr = when(!isnan(xd), xd)
      Seq(s"_mn_$cn" -> min(xr), s"_mx_$cn" -> max(xr))
    })
    val stats = columnsToScale.map { cn =>
      cn -> (minimums.getOrElse(cn, statOf(s"_mn_$cn").asInstanceOf[Double]),
        maximums.getOrElse(cn, statOf(s"_mx_$cn").asInstanceOf[Double]))
    }
    val df2 = stats.foldLeft(base) { case (d, (cn, (mn, mx))) =>
      d.withColumn(Naming.cleanse(s"${cn}_scaled"),
        (col(cn).cast("double") - lit(mn)) / lit(mx - mn))
    }
    val frags = stats.map { case (cn, (mn, mx)) =>
      s"(CAST($cn AS DOUBLE) - ${Naming.sqlLiteral(mn)}) / ${Naming.sqlLiteral(mx - mn)} AS ${Naming.cleanse(s"${cn}_scaled")}"
    }
    c.next("min_max_scaler", df2,
      Some(s"SELECT *, ${frags.mkString(", ")} FROM {{source}}"))
  }

  /** levenshtein(columns1, column2): edit distance of each listed column
    * against column2 → `lev_<c1>_<c2>` (Spark built-in, codegen'd).
    */
  def levenshteinCols(columns1: Seq[String], column2: String): Chain = {
    val df2 = columns1.foldLeft(c.df) { (d, cn) =>
      d.withColumn(Naming.cleanse(s"lev_${cn}_$column2"),
        levenshtein(col(cn), col(column2)))
    }
    val frags = columns1.map(cn =>
      s"LEVENSHTEIN($cn, $column2) AS ${Naming.cleanse(s"lev_${cn}_$column2")}")
    c.next("levenshtein", df2, Some(s"SELECT *, ${frags.mkString(", ")} FROM {{source}}"))
  }

  /** The frame the step builds on and the statistics by name, through
    * [[graft.core.CheckpointProbe.stats]]; no metrics, no job.
    */
  private def scalarStats(metrics: Seq[(String, Column)]): (DataFrame, Map[String, Any]) =
    if (metrics.isEmpty) (c.df, Map.empty)
    else {
      val (base, vals) = CheckpointProbe.stats(c.df, metrics: _*)
      (base, metrics.map(_._1).zip(vals).toMap)
    }

  private def distinctValues(column: String, maxDistinct: Int): Seq[String] = {
    val vals = c.df.select(col(column).cast("string")).distinct()
      .limit(maxDistinct + 1).collect().map(r => r.getString(0)).toSeq
    if (vals.length > maxDistinct)
      throw new IllegalArgumentException(
        s"$column has more than $maxDistinct distinct values; raise maxDistinct explicitly")
    vals
  }
}

/** Lives here: helpers a value class cannot host. */
object EncodeOps {
  import org.apache.spark.sql.{Column, DataFrame}

  /** Global nearest-rank order statistics WITHOUT a corpus sort task:
    * group rows by the rank-participating value (`xr` — null never
    * ranks), cumulative counts over the distinct-value frame via
    * [[graft.core.PrefixScan]], then value-at-1-based-rank k = the
    * smallest value whose cumulative count reaches k — the identity the
    * winsorize/robust-scaler ROW_NUMBER picks compute, because the value
    * AT a rank is order-independent among ties. Each entry of `rankFns`
    * maps the non-null count n to its wanted rank (guaranteed by the
    * callers to land in [1, n]); returns one value per entry, or nulls
    * when there are no rankable rows. Eager: one PrefixScan
    * materialization (released before returning) + two one-row driver
    * reads.
    */
  /** Appends the tie-aware global rank (`rankCol` = rows-below + 1; null
    * for non-ranking rows — callers guard on `xr.isNotNull`) and the
    * non-null count (`nCol`) WITHOUT a corpus sort task: a
    * distinct-value [[graft.core.PrefixScan]] rank table equi-joined
    * back on the value (broadcast-hinted when the distinct aggregate's
    * plan statistics fit [[graft.core.SizeGate]] — PrefixScan frames
    * report defaultSizeInBytes, so no hint would ever fire on its own
    * and the corpus would shuffle on the value column), plus the
    * non-null count as a LITERAL taken from PrefixScan's own boundary
    * fold (round 17 — zero extra jobs; the old shape paid a separate
    * full corpus COUNT pass). Ranks equal
    * `RANK() OVER (ORDER BY xr ASC NULLS LAST)` on every ranking row,
    * because a tie-aware rank is an identity of the value group. Eager
    * (the PrefixScan posture).
    */
  private[ops] def globalTieRanks(df: DataFrame, xr: Column,
                                  rankCol: String, nCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Seq("_gr_v", "_gr_c", "_gr_x").foreach(n => require(!df.columns.contains(n),
      s"global_tie_ranks: internal column '$n' already exists on the frame"))
    val vals = df.select(xr.as("_gr_v")).where(col("_gr_v").isNotNull)
      .groupBy(col("_gr_v")).agg(count(lit(1)).as("_gr_c"))
    // n = Σ per-value counts = the non-null count, already accumulated by
    // PrefixScan's boundary fold — zero extra jobs and zero extra scans
    // (the old shape paid a separate full corpus COUNT pass)
    val (scanned, nNonNull) = graft.core.PrefixScan.exclusivePrefixSumWithTotal(
      vals, Seq(col("_gr_v").asc), col("_gr_c"), "_gr_x")
    val ranks0 = scanned
      .select(col("_gr_v"), (col("_gr_x") + lit(1L)).as(rankCol))
    // The rank table is PrefixScan-backed, so its plan statistics are the
    // conservative defaultSizeInBytes maximum — no broadcast would ever
    // fire on its own and the corpus would SHUFFLE on the value column
    // (the skew-prone hot-task shape on low-cardinality columns this
    // rewrite exists to retire). Gate a broadcast hint on the distinct-
    // value aggregate's OWN plan statistics ([[graft.core.SizeGate]], the
    // IVF-probe posture): small rank tables prune the corpus exchange
    // outright; a corpus-sized distinct table keeps the shuffled join.
    val ranks =
      if (graft.core.SizeGate.fitsBroadcast(vals, 1)) broadcast(ranks0) else ranks0
    df.withColumn("_gr_v", xr)
      .join(ranks, Seq("_gr_v"), "left")
      .drop("_gr_v")
      .withColumn(nCol, lit(nNonNull))
  }

  private[ops] def globalValueAtRanks(df: DataFrame, xr: Column,
                                      rankFns: Seq[Long => Long]): Seq[Any] = {
    import org.apache.spark.sql.functions._
    val vals = df.where(xr.isNotNull)
      .groupBy(xr.as("_vr_v")).agg(count(lit(1)).as("_vr_c"))
    // n rides the boundary fold (weights are counts, 0 ⟺ no rankable
    // rows) — one driver read total instead of two
    val (scanned, n) = graft.core.PrefixScan.exclusivePrefixSumWithTotal(
      vals, Seq(col("_vr_v").asc), col("_vr_c"), "_vr_x")
    val out =
      if (n == 0L) rankFns.map(_ => null)
      else {
        val cum = col("_vr_x") + col("_vr_c")
        val picks = rankFns.zipWithIndex.map { case (f, i) =>
          min(when(cum >= f(n), col("_vr_v"))).as(s"_vr_p$i")
        }
        val r = scanned.agg(picks.head, picks.tail: _*).collect()(0)
        rankFns.indices.map(r.get)
      }
    graft.core.Chain.releaseCheckpoints(scanned)
    out
  }
}
