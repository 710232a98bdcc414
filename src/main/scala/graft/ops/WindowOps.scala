package graft.ops

import graft.core.{Chain, Exact, Naming}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Window / time-series operators — reference transforms #24-29 (SURVEY
  * §2.2): lag, moving_avg, rolling_agg, cumulative_agg, timeseries_agg,
  * train_test_split. All are single-pass window evaluations: one shuffle on
  * the partition keys, sort within partitions, no self-joins.
  */
final class WindowOps(private val c: Chain) extends AnyVal {

  /** lag(columns, amounts, partition, order_by): LAG per column × amount;
    * negative amounts are leads, named `lag_<col>__<n>` (reference
    * double-underscore convention, tutorials/tutorial.ipynb:4758).
    */
  def lagCols(
      columns: Seq[String],
      amounts: Seq[Int],
      partition: Seq[String],
      orderBy: Seq[(String, String)]): Chain = {
    val w = spec(partition, orderBy)
    val df2 = columns.foldLeft(c.df) { (d, cn) =>
      amounts.foldLeft(d) { (dd, n) =>
        val e = if (n >= 0) lag(col(cn), n) else lead(col(cn), -n)
        dd.withColumn(Naming.lag(cn, n), e.over(w))
      }
    }
    val frags = for (cn <- columns; n <- amounts) yield {
      val fn = if (n >= 0) s"LAG($cn, $n)" else s"LEAD($cn, ${-n})"
      s"$fn OVER (${overSql(partition, orderBy)}) AS ${Naming.lag(cn, n)}"
    }
    c.next("lag", df2, Some(s"SELECT *, ${frags.mkString(", ")} FROM {{source}}"))
  }

  /** moving_avg(input_columns, window_sizes, order_by, partition): trailing
    * moving average per column × window, named `mean_<col>_<w>`. Floating
    * inputs use exact decimal accumulation (sliding-sum optimizations in
    * engines otherwise make float results frame-history-dependent).
    */
  def movingAvg(
      inputColumns: Seq[String],
      windowSizes: Seq[Int],
      orderBy: Seq[(String, String)],
      partition: Seq[String] = Nil): Chain = {
    val types = c.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val df2 = inputColumns.foldLeft(c.df) { (d, cn) =>
      windowSizes.foldLeft(d) { (dd, ws) =>
        val w = spec(partition, orderBy).rowsBetween(-(ws - 1), 0)
        dd.withColumn(Naming.movingAvg(cn, ws), windowAgg("AVG", cn, types(cn), w))
      }
    }
    val frags = for (cn <- inputColumns; ws <- windowSizes) yield {
      val frame = s"ROWS BETWEEN ${ws - 1} PRECEDING AND CURRENT ROW"
      val over = s"OVER (${overSql(partition, orderBy)} $frame)"
      s"${windowAggSql("AVG", cn, types(cn), over)} AS ${Naming.movingAvg(cn, ws)}"
    }
    c.next("moving_avg", df2, Some(s"SELECT *, ${frags.mkString(", ")} FROM {{source}}"))
  }

  /** rolling_agg(aggregations, order_by, offsets, group_by): arbitrary aggs
    * over a `ROWS BETWEEN lo AND hi` frame; names `<agg>_<col>_<lo>_<hi>`
    * with negatives double-underscored.
    */
  def rollingAgg(
      aggregations: Seq[(String, Seq[String])],
      orderBy: Seq[(String, String)],
      offsets: (Int, Int),
      groupBy: Seq[String] = Nil): Chain = {
    val (lo, hi) = offsets
    val types = c.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val w = spec(groupBy, orderBy).rowsBetween(lo.toLong, hi.toLong)
    def part(n: Int) = if (n < 0) s"_${-n}" else n.toString
    val df2 = aggregations.foldLeft(c.df) { case (d, (cn, fns)) =>
      fns.foldLeft(d) { (dd, fn) =>
        val name = Naming.cleanse(s"${fn}_$cn") + s"_${part(lo)}_${part(hi)}"
        dd.withColumn(name, windowAgg(fn, cn, types(cn), w))
      }
    }
    val over = s"OVER (${overSql(groupBy, orderBy)} ROWS BETWEEN ${frameBound(lo.toLong)} AND ${frameBound(hi.toLong)})"
    val frags = for ((cn, fns) <- aggregations; fn <- fns) yield {
      val name = Naming.cleanse(s"${fn}_$cn") + s"_${part(lo)}_${part(hi)}"
      s"${windowAggSql(fn, cn, types(cn), over)} AS $name"
    }
    c.next("rolling_agg", df2,
      Some(s"SELECT *, ${frags.mkString(", ")} FROM {{source}}"))
  }

  /** cumulative_agg(aggregations, order_by, direction, group_by): running
    * aggregate, forward (unbounded preceding → current) or reverse.
    */
  def cumulativeAgg(
      aggregations: Seq[(String, Seq[String])],
      orderBy: Seq[(String, String)],
      direction: String = "forward",
      groupBy: Seq[String] = Nil): Chain = {
    val types = c.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val base = spec(groupBy, orderBy)
    val w =
      if (direction.equalsIgnoreCase("reverse"))
        base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      else base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val df2 = aggregations.foldLeft(c.df) { case (d, (cn, fns)) =>
      fns.foldLeft(d) { (dd, fn) =>
        dd.withColumn(Naming.cleanse(s"${fn}_${cn}_cumulative"),
          windowAgg(fn, cn, types(cn), w))
      }
    }
    val frame =
      if (direction.equalsIgnoreCase("reverse")) "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
      else "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    val over = s"OVER (${overSql(groupBy, orderBy)} $frame)"
    val frags = for ((cn, fns) <- aggregations; fn <- fns) yield
      s"${windowAggSql(fn, cn, types(cn), over)} AS ${Naming.cleanse(s"${fn}_${cn}_cumulative")}"
    c.next("cumulative_agg", df2,
      Some(s"SELECT *, ${frags.mkString(", ")} FROM {{source}}"))
  }

  /** timeseries_agg(aggregations, date, offsets, date_part, group_by):
    * per-row aggregates over trailing time windows — a RANGE frame over the
    * epoch-seconds of the date column ([t − N·part, t], boundaries
    * inclusive, matching SQL `RANGE INTERVAL N PRECEDING`). No self-join:
    * one window pass. date_part ∈ second|minute|hour|day|week.
    */
  def timeseriesAgg(
      aggregations: Seq[(String, Seq[String])],
      dateCol: String,
      offsets: Seq[Int],
      datePart: String,
      groupBy: Seq[String] = Nil): Chain = {
    val secs = datePart.toLowerCase match {
      case "second" => 1L
      case "minute" => 60L
      case "hour" => 3600L
      case "day" => 86400L
      case "week" => 604800L
      case other => throw new IllegalArgumentException(
        s"timeseries_agg supports fixed-width date parts, got $other")
    }
    val types = c.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val epoch = "_graft_epoch"
    val withEpoch = c.df.withColumn(epoch, unix_timestamp(col(dateCol)))
    val base =
      if (groupBy.isEmpty) Window.orderBy(col(epoch))
      else Window.partitionBy(groupBy.map(col): _*).orderBy(col(epoch))
    val df2 = aggregations.foldLeft(withEpoch) { case (d, (cn, fns)) =>
      fns.foldLeft(d) { (dd, fn) =>
        offsets.foldLeft(dd) { (ddd, n) =>
          val w = base.rangeBetween(-n * secs, 0L)
          val name = Naming.cleanse(s"${fn}_${cn}_${n}${datePart}")
          ddd.withColumn(name, windowAgg(fn, cn, types(cn), w))
        }
      }
    }.drop(epoch)
    val partSql = if (groupBy.isEmpty) "" else s"PARTITION BY ${groupBy.mkString(", ")} "
    val frags = for ((cn, fns) <- aggregations; fn <- fns; n <- offsets) yield {
      val over = s"OVER (${partSql}ORDER BY UNIX_TIMESTAMP($dateCol) RANGE BETWEEN ${n * secs} PRECEDING AND CURRENT ROW)"
      s"${windowAggSql(fn, cn, types(cn), over)} AS ${Naming.cleanse(s"${fn}_${cn}_${n}${datePart}")}"
    }
    c.next("timeseries_agg", df2,
      Some(s"SELECT *, ${frags.mkString(", ")} FROM {{source}}"))
  }

  /** train_test_split(order_by, train_percent): deterministic ordered split
    * adding `tt_split` ∈ {TRAIN, TEST} (reference output column `TT_SPLIT`,
    * tutorials/tutorial.ipynb:5714).
    *
    * Scales: the global sort is Spark's range-partitioned sort and the row
    * index comes from `zipWithIndex` (per-partition offsets, no single-node
    * window). The sorted relation is checkpointed once (a declared
    * materialization) so the `zipWithIndex` offsets pass and the final
    * read scan materialized blocks instead of re-running the global sort
    * per action; n rides the checkpoint job itself
    * ([[graft.core.CheckpointProbe]]) — no separate count pass.
    */
  def trainTestSplit(orderBy: Seq[(String, String)], trainPercent: Double): Chain = {
    val order = orderBy.map { case (n, d) =>
      if (d.equalsIgnoreCase("DESC")) col(n).desc else col(n).asc
    }
    // n rides the checkpoint materialization (CheckpointProbe, round 17)
    // — the old separate count() re-scanned the blocks the sort job had
    // just written. A narrow upstream held in one partition (a small
    // checkpoint) is in global order once sorted in place: no range-bounds
    // sampling job and no exchange stage
    val (sorted, probe) = graft.core.CheckpointProbe(
      if (graft.core.CheckpointProbe.onePartition(c.df)) c.df.sortWithinPartitions(order: _*)
      else c.df.orderBy(order: _*),
      "_cp_n" -> count(lit(1)))
    val n = probe(0).asInstanceOf[Long]
    val cut = math.floor(trainPercent * n).toLong
    // labels append on INTERNAL rows (round 18, graft.core.InternalZip):
    // the old external-Row zipWithIndex paid two full-width conversion
    // passes per row and broke codegen at the createDataFrame boundary
    val trainU = org.apache.spark.unsafe.types.UTF8String.fromString("TRAIN")
    val testU = org.apache.spark.unsafe.types.UTF8String.fromString("TEST")
    val df2 = graft.core.InternalZip.appendByIndex(sorted,
      Seq(StructField(Naming.ttSplit, StringType, nullable = false))) { (i, out) =>
      out.update(0, if (i < cut) trainU else testU)
    }
    val orderSql = orderBy.map { case (nm, d) => s"$nm ${dirSql(d)}" }.mkString(", ")
    c.next("train_test_split", df2, Some(
      s"SELECT *, CASE WHEN ROW_NUMBER() OVER (ORDER BY $orderSql) <= " +
        s"FLOOR($trainPercent * COUNT(*) OVER ()) THEN 'TRAIN' ELSE 'TEST' END " +
        s"AS ${Naming.ttSplit} FROM {{source}}"))
  }

  /** train_test_split_stratified(strata, order_by, train_percent): the
    * per-stratum form of [[trainTestSplit]] — each stratum (language,
    * source, label) contributes `trainPercent` of ITS OWN rows to TRAIN,
    * so imbalanced strata keep their proportions in both halves (the
    * sklearn `stratify=` semantics; the global split can starve a rare
    * class out of TEST entirely). Same cut convention as the global op:
    * ordered rank ≤ FLOOR(p·n_stratum) → TRAIN.
    *
    * Scale: where the global split needs a range-partitioned global sort,
    * the stratified form is ONE hash exchange on the strata keys + an
    * in-partition sort — cheaper, and the natural fit when a per-class
    * proportion is what you actually want. Renders to SQL (two windows
    * over one partitioning).
    */
  def trainTestSplitStratified(
      strata: Seq[String],
      orderBy: Seq[(String, String)],
      trainPercent: Double): Chain = {
    require(strata.nonEmpty, "stratified split needs at least one stratum key")
    require(trainPercent >= 0.0 && trainPercent <= 1.0,
      s"trainPercent must be in [0, 1], got $trainPercent")
    val wPart = Window.partitionBy(strata.map(col): _*)
    val wOrd = wPart.orderBy(orderBy.map { case (n, d) =>
      if (d.equalsIgnoreCase("DESC")) col(n).desc else col(n).asc
    }: _*)
    val df2 = c.df
      .withColumn("_s_rn", row_number().over(wOrd))
      .withColumn("_s_cnt", count(lit(1)).over(wPart))
      .withColumn(Naming.ttSplit,
        when(col("_s_rn") <= floor(lit(trainPercent) * col("_s_cnt")), "TRAIN")
          .otherwise("TEST"))
      .drop("_s_rn", "_s_cnt")
    val orderSql = orderBy.map { case (n, d) => s"$n ${dirSql(d)}" }.mkString(", ")
    val partSql = strata.mkString(", ")
    val orig = c.df.columns.mkString(", ")
    // p through CAST('<p>' AS DOUBLE): a bare decimal literal is exact
    // DECIMAL in ANSI engines and FLOOR(p·n) could land one rank off the
    // DataFrame face's IEEE-double product (the winsorize rationale)
    c.next("train_test_split_stratified", df2, Some(
      s"SELECT $orig, CASE WHEN _s_rn <= FLOOR(CAST('$trainPercent' AS DOUBLE) * _s_cnt) " +
        s"THEN 'TRAIN' ELSE 'TEST' END AS ${Naming.ttSplit} FROM (" +
        s"SELECT *, ROW_NUMBER() OVER (PARTITION BY $partSql ORDER BY $orderSql) AS _s_rn, " +
        s"COUNT(*) OVER (PARTITION BY $partSql) AS _s_cnt FROM {{source}})"))
  }

  /** dataset_splits(splits, order_by, strata): the n-way generalization of
    * [[trainTestSplit]] / [[trainTestSplitStratified]] — deterministic
    * TRAIN/VAL/TEST(/…) labels in `split` from one ordered pass. Split i
    * (in the given order) claims ranks in (FLOOR(cum_{i−1}·n),
    * FLOOR(cum_i·n)] where cum is the running fraction sum, so sizes are
    * exact to the floor convention and the LAST split absorbs the
    * rounding remainder. With `strata` each stratum splits independently
    * (per-class proportions hold in every slice); without, one global
    * total order.
    *
    * Scale: stratified = ONE hash exchange on the strata keys + an
    * in-partition sort (two windows over one partitioning — the
    * [[trainTestSplitStratified]] plan). Global = a range-partitioned
    * sort + zipWithIndex (the [[trainTestSplit]] shape) — labels come
    * from the partition-local index, never a single-task window.
    */
  def datasetSplits(
      splits: Seq[(String, Double)],
      orderBy: Seq[(String, String)],
      strata: Seq[String] = Nil): Chain = {
    require(splits.size >= 2, s"dataset_splits needs >= 2 splits, got ${splits.size}")
    require(splits.map(_._1).distinct.size == splits.size,
      s"dataset_splits names repeat: ${splits.map(_._1)}")
    require(splits.forall(s => s._1.nonEmpty && !s._1.contains("'")),
      s"split names must be non-empty and quote-free: ${splits.map(_._1)}")
    require(splits.forall(_._2 > 0.0),
      s"dataset_splits fractions must be > 0, got $splits")
    val totalW = splits.map(_._2).sum
    require(math.abs(totalW - 1.0) < 1e-9,
      s"dataset_splits fractions must sum to 1, got $totalW")
    require(orderBy.nonEmpty, "dataset_splits needs an ordering")
    // running fraction boundaries for all but the last split; the exact
    // double literals are shared verbatim by both faces
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail.init
    val names = splits.map(_._1)
    val caseSql = cums.zip(names.init).map { case (cm, nm) =>
      s"WHEN _d_rn <= FLOOR(CAST('$cm' AS DOUBLE) * _d_cnt) THEN '$nm'"
    }.mkString("CASE ", " ", s" ELSE '${names.last}' END")
    val orderSql = orderBy.map { case (n, d) => s"$n ${dirSql(d)}" }.mkString(", ")
    val orig = c.df.columns.mkString(", ")
    if (strata.isEmpty) {
      // global form: range-partitioned sort + partition-local index, the
      // trainTestSplit shape — no single-task global window; n rides the
      // checkpoint materialization (CheckpointProbe)
      val (sorted, probe) = graft.core.CheckpointProbe(
        c.df.orderBy(orderBy.map { case (n, d) =>
          if (d.equalsIgnoreCase("DESC")) col(n).desc else col(n).asc
        }: _*),
        "_cp_n" -> count(lit(1)))
      val n = probe(0).asInstanceOf[Long]
      val bounds = cums.map(cm => math.floor(cm * n).toLong).toArray
      // labels append on INTERNAL rows (graft.core.InternalZip — see
      // trainTestSplit)
      val labelsU = names.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray
      val df2 = graft.core.InternalZip.appendByIndex(sorted,
        Seq(StructField("split", StringType, nullable = false))) { (i, out) =>
        val rn = i + 1
        val idx = bounds.indexWhere(rn <= _)
        out.update(0, if (idx < 0) labelsU.last else labelsU(idx))
      }
      c.next("dataset_splits", df2, Some(
        s"SELECT *, ${caseSql.replace("_d_rn", s"ROW_NUMBER() OVER (ORDER BY $orderSql)")
          .replace("_d_cnt", "COUNT(*) OVER ()")} AS split FROM {{source}}"))
    } else {
      val wPart = Window.partitionBy(strata.map(col): _*)
      val wOrd = wPart.orderBy(orderBy.map { case (n, d) =>
        if (d.equalsIgnoreCase("DESC")) col(n).desc else col(n).asc
      }: _*)
      val rn = col("_d_rn")
      val cnt = col("_d_cnt")
      val labelExpr = cums.tail.zip(names.init.tail)
        .foldLeft(when(rn <= floor(lit(cums.head) * cnt), names.head)) {
          case (acc, (cm, nm)) => acc.when(rn <= floor(lit(cm) * cnt), nm)
        }.otherwise(names.last)
      val df2 = c.df
        .withColumn("_d_rn", row_number().over(wOrd))
        .withColumn("_d_cnt", count(lit(1)).over(wPart))
        .withColumn("split", labelExpr)
        .drop("_d_rn", "_d_cnt")
      val partSql = strata.mkString(", ")
      c.next("dataset_splits", df2, Some(
        s"SELECT $orig, $caseSql AS split FROM (" +
          s"SELECT *, ROW_NUMBER() OVER (PARTITION BY $partSql ORDER BY $orderSql) AS _d_rn, " +
          s"COUNT(*) OVER (PARTITION BY $partSql) AS _d_cnt FROM {{source}})"))
    }
  }

  /** train_test_split_group(group_cols, train_percent): leakage-free
    * grouped split — every row sharing the group key (domain, URL host,
    * author, near-dup cluster id) lands in the SAME half, decided by
    * comparing md5(key) against the fraction threshold (the
    * [[graft.ops.JoinOps.sampleHash]] hex-prefix convention). The
    * standard guard against train/test contamination: a random or
    * ordered row split puts one page of a crawled site in TRAIN and its
    * sibling in TEST, and the model "generalizes" to what it memorized.
    * `trainPercent` is the expected GROUP fraction; the row fraction
    * tracks it only when group sizes are balanced — split on the right
    * granularity, not on a skew-dominated key.
    *
    * Scale: a pure projection (no shuffle, no window, no count) — the
    * one split in this family that costs nothing at 100 TB, because
    * membership is a function of the key alone. Deterministic across
    * engines, partitionings and reruns; renders to SQL.
    */
  def trainTestSplitByGroup(groupCols: Seq[String], trainPercent: Double): Chain = {
    require(groupCols.nonEmpty, "train_test_split_group needs group columns")
    require(trainPercent > 0.0 && trainPercent < 1.0,
      s"trainPercent must be in (0, 1), got $trainPercent")
    groupCols.foreach(n => require(c.df.columns.contains(n),
      s"train_test_split_group: missing group column '$n'"))
    val th = JoinOps.hashThreshold(trainPercent)
    val key = concat_ws("|", groupCols.map(col(_).cast("string")): _*)
    val df2 = c.df.withColumn(Naming.ttSplit,
      when(md5(key) < lit(th), "TRAIN").otherwise("TEST"))
    val keySql = s"concat_ws('|', ${groupCols.map(k => s"CAST($k AS STRING)").mkString(", ")})"
    c.next("train_test_split_group", df2, Some(
      s"SELECT *, CASE WHEN md5($keySql) < '$th' THEN 'TRAIN' ELSE 'TEST' END " +
        s"AS ${Naming.ttSplit} FROM {{source}}"))
  }

  /** sessionize(partition, ts_col, gap_seconds, tiebreak): gap-based
    * session ids — the batch face of the streaming session window
    * (graft.streaming.EventStreams sessionized sink): a new session starts
    * when the time since the previous event in the same partition exceeds
    * `gapSeconds` (strictly greater — an exactly-gap-spaced event
    * continues its session); ids are per-partition ordinals from 1 in
    * `session_id`. Beyond reference parity (the reference has no event
    * semantics); standard sessionization shape.
    *
    * Scale: ONE shuffle on the partition keys + an in-partition sort — the
    * boundary flag is a LAG, the ordinal a running SUM over the same
    * window spec, so Catalyst plans a single exchange and one sort feeding
    * two Window passes. No self-join, no iteration: at 100 TB this costs
    * what any per-key window costs. The gap test compares timestamps
    * directly (`ts > prev + INTERVAL gap SECOND`) — sub-second precision
    * is preserved, no epoch truncation. Null timestamps sort first (Spark
    * ASC default; the SQL face pins NULLS FIRST), and because LAG over a
    * null-ts predecessor is itself NULL, EVERY null-ts row trips the
    * `prev IS NULL` boundary and opens its own single-row session — null
    * timestamps never extend or join a session; pass a non-null ts for
    * meaningful sessions. Ties on (ts ++
    * tiebreak) cannot change any row's session_id (tied rows share a
    * boundary decision), but supply a unique tiebreak for fully
    * deterministic intra-session ordering downstream.
    */
  def sessionize(
      partition: Seq[String],
      tsCol: String,
      gapSeconds: Long,
      tiebreak: Seq[String] = Nil): Chain = {
    require(partition.nonEmpty, "sessionize needs at least one partition key")
    require(gapSeconds > 0, s"sessionize gap must be positive, got $gapSeconds")
    val orderCols = tsCol +: tiebreak
    val w = Window.partitionBy(partition.map(col): _*)
      .orderBy(orderCols.map(col(_).asc): _*)
    val prev = lag(col(tsCol), 1).over(w)
    val gapI = expr(s"INTERVAL $gapSeconds SECOND")
    val flag = "_graft_new_session"
    val df2 = c.df
      .withColumn(flag, when(prev.isNull || col(tsCol) > prev + gapI, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col(flag)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop(flag)
    val over = s"PARTITION BY ${partition.mkString(", ")} ORDER BY " +
      orderCols.map(_ + " ASC NULLS FIRST").mkString(", ")
    val caseSql = s"CASE WHEN LAG($tsCol) OVER ($over) IS NULL OR " +
      s"$tsCol > LAG($tsCol) OVER ($over) + INTERVAL $gapSeconds SECOND THEN 1 ELSE 0 END"
    val orig = c.df.columns.mkString(", ")
    c.next("sessionize", df2, Some(
      s"SELECT $orig, SUM($flag) OVER ($over ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        s"CURRENT ROW) AS session_id FROM (SELECT *, $caseSql AS $flag FROM {{source}})"))
  }

  private def frameBound(n: Long): String =
    if (n == Long.MinValue) "UNBOUNDED PRECEDING"
    else if (n == Long.MaxValue) "UNBOUNDED FOLLOWING"
    else if (n < 0) s"${-n} PRECEDING"
    else if (n == 0) "CURRENT ROW"
    else s"$n FOLLOWING"

  private def windowAggSql(fn: String, cn: String, dt: DataType, over: String): String =
    fn.toUpperCase match {
      case "SUM" if Exact.isFloating(dt) => Exact.sumSql(cn, over)
      case "AVG" | "MEAN" if Exact.isFloating(dt) => Exact.avgSql(cn, over)
      case "FIRST" | "FIRST_VALUE" => s"FIRST_VALUE($cn) $over"
      case "LAST" | "LAST_VALUE" => s"LAST_VALUE($cn) $over"
      case f => s"${f.toUpperCase}($cn) $over"
    }

  private def windowAgg(fn: String, cn: String, dt: DataType, w: WindowSpec): Column =
    fn.toUpperCase match {
      case "SUM" if Exact.isFloating(dt) => Exact.sum(col(cn), Some(w))
      case "AVG" | "MEAN" if Exact.isFloating(dt) => Exact.avg(col(cn), Some(w))
      case "SUM" => sum(col(cn)).over(w)
      case "AVG" | "MEAN" => avg(col(cn)).over(w)
      case "MIN" => min(col(cn)).over(w)
      case "MAX" => max(col(cn)).over(w)
      case "COUNT" => count(col(cn)).over(w)
      // frame-order-sensitive: callers must order on a UNIQUE key chain or
      // the value at the frame edge is tie-ambiguous
      case "FIRST" | "FIRST_VALUE" => first(col(cn)).over(w)
      case "LAST" | "LAST_VALUE" => last(col(cn)).over(w)
      case other => throw new IllegalArgumentException(s"unknown window agg $other")
    }

  private def spec(partition: Seq[String], orderBy: Seq[(String, String)]): WindowSpec = {
    val sorts = orderBy.map { case (n, d) =>
      if (d.equalsIgnoreCase("DESC")) col(n).desc else col(n).asc
    }
    if (partition.isEmpty) Window.orderBy(sorts: _*)
    else Window.partitionBy(partition.map(col): _*).orderBy(sorts: _*)
  }

  private def overSql(partition: Seq[String], orderBy: Seq[(String, String)]): String = {
    val p = if (partition.isEmpty) "" else s"PARTITION BY ${partition.mkString(", ")} "
    val o = orderBy.map { case (n, d) => s"$n ${dirSql(d)}" }.mkString(", ")
    s"${p}ORDER BY $o"
  }

  /** Render a sort direction with null ordering PINNED to the DataFrame
    * face's Spark defaults (ASC = NULLS FIRST, DESC = NULLS LAST). ANSI
    * engines consuming the rendered text default the other way (DuckDB:
    * NULLS LAST everywhere), so an unpinned ORDER BY silently ranks null
    * keys differently across faces.
    */
  private def dirSql(d: String): String =
    if (d.equalsIgnoreCase("DESC")) "DESC NULLS LAST" else "ASC NULLS FIRST"
}
