package graft.ops

import graft.core.Chain
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Filter / sort / dedup / rank — reference transforms #9-12 (SURVEY §2.2). */
final class FilterOps(private val c: Chain) extends AnyVal {

  /** filter(filter_statements): raw predicates, ANDed. Declarative predicates
    * reach the parquet scan via Catalyst pushdown.
    */
  def filterRows(statements: Seq[String]): Chain =
    c.next("filter", c.df.where(statements.map(expr).reduce(_ && _)),
      Some(s"SELECT * FROM {{source}} WHERE ${statements.map(s => s"($s)").mkString(" AND ")}"))

  /** order(order_by): column → ASC|DESC. Presentation-only in a distributed
    * engine (Spark's global sort is range-partitioned — no single-node
    * bottleneck).
    */
  def orderRows(orderBy: Seq[(String, String)]): Chain = {
    c.next("order", c.df.orderBy(sortCols(orderBy): _*),
      Some(s"SELECT * FROM {{source}} ORDER BY ${orderSql(orderBy)}"))
  }

  /** dedupe(natural_key, order_col, order_method): keep 1 row per key by
    * order (ROW_NUMBER()=1 — shuffles once on the key, scales with
    * partitions).
    */
  def dedupe(naturalKey: Seq[String], orderBy: Seq[(String, String)]): Chain = {
    val w = Window.partitionBy(naturalKey.map(col): _*)
      .orderBy(sortCols(orderBy): _*)
    val cols = c.df.columns.toSeq
    val df2 = c.df.withColumn("_graft_rn", row_number().over(w))
      .where(col("_graft_rn") === 1)
      .select(cols.map(col): _*)
    c.next("dedupe", df2, Some(
      s"SELECT ${cols.mkString(", ")} FROM (SELECT *, ROW_NUMBER() OVER (" +
        s"PARTITION BY ${naturalKey.mkString(", ")} ORDER BY ${orderSql(orderBy)}" +
        s") AS _graft_rn FROM {{source}}) WHERE _graft_rn = 1"))
  }

  /** rank(order, partition_by, rank_type, alias, qualify_filter):
    * RANK/DENSE_RANK/ROW_NUMBER/PERCENT_RANK/NTILE per partition; the
    * optional qualify filter mimics Snowflake QUALIFY.
    */
  def rank(
      orderBy: Seq[(String, String)],
      partitionBy: Seq[String] = Nil,
      rankType: String = "rank",
      alias: String = "",
      ntileBuckets: Int = 4,
      qualifyFilter: Option[String] = None): Chain = {
    val name = if (alias.nonEmpty) alias else rankType.toLowerCase
    val base = Window.orderBy(sortCols(orderBy): _*)
    val w = if (partitionBy.nonEmpty) Window.partitionBy(partitionBy.map(col): _*).orderBy(sortCols(orderBy): _*) else base
    val (rc, fnSql) = rankType.toLowerCase match {
      case "rank" => (org.apache.spark.sql.functions.rank(), "RANK()")
      case "dense_rank" => (dense_rank(), "DENSE_RANK()")
      case "row_number" => (row_number(), "ROW_NUMBER()")
      case "percent_rank" => (percent_rank(), "PERCENT_RANK()")
      case "cume_dist" => (cume_dist(), "CUME_DIST()")
      case "ntile" => (ntile(ntileBuckets), s"NTILE($ntileBuckets)")
      case other => throw new IllegalArgumentException(s"unknown rank_type $other")
    }
    val part = if (partitionBy.nonEmpty) s"PARTITION BY ${partitionBy.mkString(", ")} " else ""
    val over = s"OVER ($part" + s"ORDER BY ${orderSql(orderBy)})"
    val ranked = c.df.withColumn(name, rc.over(w))
    val df2 = qualifyFilter.fold(ranked)(q => ranked.where(expr(q)))
    val qualSql = qualifyFilter.fold("")(q => s" QUALIFY $q")
    c.next("rank", df2, Some(
      qualifyFilter.fold(s"SELECT *, $fnSql $over AS $name FROM {{source}}")(q =>
        s"SELECT * FROM (SELECT *, $fnSql $over AS $name FROM {{source}}) WHERE $q")),
      Map("qualify" -> qualSql))
  }

  /** filter_by_quantile(value_col, q, partition_by, keep): per-group exact
    * quantile gate — keep = "top" keeps rows whose `CUME_DIST()` over the
    * ascending value order exceeds q (the top 1−q fraction by value, e.g.
    * q=0.75 keeps the top quartile); keep = "bottom" keeps the complement.
    * The corpus quality-gate pass ("drop everything below the per-language
    * median score") as one declarative window: one shuffle on the partition
    * keys, no approximation — and `CUME_DIST` is tie-stable (equal values
    * share a rank), so results don't depend on row order within ties.
    *
    * UNGROUPED (empty `partitionBy`), the window formulation would plan an
    * empty PARTITION BY — SinglePartition distribution, the whole corpus
    * sorted through ONE task (the shape [[graft.core.ScaleLint]] grades
    * error). That face instead computes the exact tie-stable cutoff VALUE
    * distributedly — per-value counts (one shuffle on the value), a
    * [[graft.core.PrefixScan]] cumulative count over that (≤ #distinct
    * values) frame, the smallest value whose cume_dist clears q collected
    * as one scalar — and filters the corpus with a plain range predicate,
    * which Catalyst pushes into the parquet scan. Because kept-ness is
    * tie-stable, "cume_dist > q" is exactly "value ≥ cutoff" (the kept set
    * is a value-suffix), so the two faces agree bit-for-bit: the cume_dist
    * comparison replayed on the count frame is the same
    * integer-over-integer IEEE division the window computes per row. The
    * ungrouped face is therefore EAGER (two bounded driver reads of one
    * scalar each — the equalwidth-bin posture); its PrefixScan blocks are
    * released before returning. Renders an exact SQL face (CUME_DIST is
    * standard), so quantile gates survive `sql()`/dbt export.
    */
  def filterByQuantile(valueCol: String, q: Double,
                       partitionBy: Seq[String] = Nil,
                       keep: String = "top"): Chain = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1), got $q")
    require(Set("top", "bottom").contains(keep), s"keep must be top|bottom, got $keep")
    // null and NaN values never rank and their rows are DROPPED, in both
    // faces: unfiltered, a NaN score sorts greatest (cume_dist ≈ 1) and
    // "keep the top quality fraction" would promote junk rows, while null
    // ordering diverges between engines (Spark ASC = NULLS FIRST, ANSI
    // default = NULLS LAST) — the guard makes the kept set well-defined
    // and engine-portable
    val dt = c.df.schema(valueCol).dataType
    val floating = dt == org.apache.spark.sql.types.DoubleType ||
      dt == org.apache.spark.sql.types.FloatType
    val ranks =
      if (floating) col(valueCol).isNotNull && !isnan(col(valueCol))
      else col(valueCol).isNotNull
    val ranksSql =
      if (floating) s"$valueCol IS NOT NULL AND NOT isnan($valueCol)"
      else s"$valueCol IS NOT NULL"
    val cols = c.df.columns.toSeq
    val df2 =
      if (partitionBy.isEmpty) {
        // distributed cutoff: group rows by value (the only shuffle on
        // corpus rows), cumulative counts over the distinct-value frame
        // via PrefixScan, then ONE collected scalar drives a
        // pushdown-able range predicate on the original scan
        val vals = c.df.where(ranks)
          .groupBy(col(valueCol).as("_q_v")).agg(count(lit(1)).as("_q_c"))
        // n rides PrefixScan's boundary fold (round 17) — ONE driver read
        // (the cutoff) instead of two
        val (scanned, n) = graft.core.PrefixScan.exclusivePrefixSumWithTotal(
          vals, Seq(col("_q_v").asc), col("_q_c"), "_q_excl")
        val cut: Any =
          if (n == 0L) null // no rankable rows: both keeps are empty
          else {
            // cume_dist(v) = count(rows <= v) / n, the SAME IEEE division
            // the window face computes per row; the max value always
            // clears q (n/n = 1 > q), so min() is never null here
            val cume = (col("_q_excl") + col("_q_c")).cast("double") /
              lit(n.toDouble)
            graft.core.CheckpointProbe.scalars(scanned.where(cume > lit(q)),
              "_q_cut" -> min(col("_q_v"))).head
          }
        graft.core.Chain.releaseCheckpoints(scanned)
        val gate =
          if (cut == null) lit(false)
          else if (keep == "top") col(valueCol) >= lit(cut)
          else col(valueCol) < lit(cut)
        c.df.where(ranks && gate)
      } else {
        val w = Window.partitionBy(partitionBy.map(col): _*)
          .orderBy(col(valueCol).asc)
        c.df.where(ranks).withColumn("_graft_cd", cume_dist().over(w))
          .where(if (keep == "top") col("_graft_cd") > q else col("_graft_cd") <= q)
          .select(cols.map(col): _*)
      }
    val part = if (partitionBy.isEmpty) "" else s"PARTITION BY ${partitionBy.mkString(", ")} "
    val cmp = if (keep == "top") ">" else "<="
    c.next("filter_by_quantile", df2, Some(
      s"SELECT ${cols.mkString(", ")} FROM (SELECT *, CUME_DIST() OVER (" +
        s"${part}ORDER BY $valueCol ASC) AS _graft_cd FROM {{source}} " +
        s"WHERE $ranksSql) WHERE _graft_cd $cmp $q"))
  }

  private def sortCols(orderBy: Seq[(String, String)]): Seq[Column] =
    orderBy.map { case (n, dir) => oneSort(n, dir) }

  private def oneSort(n: String, dir: String): Column =
    if (dir.equalsIgnoreCase("DESC")) col(n).desc else col(n).asc

  /** Null ordering pinned to the DataFrame face's Spark defaults (ASC =
    * NULLS FIRST, DESC = NULLS LAST); ANSI consumers default the other way.
    */
  private def orderSql(orderBy: Seq[(String, String)]): String =
    orderBy.map { case (n, d) =>
      s"$n ${if (d.equalsIgnoreCase("DESC")) "DESC NULLS LAST" else "ASC NULLS FIRST"}"
    }.mkString(", ")
}
