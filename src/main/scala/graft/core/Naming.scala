package graft.core

/** Output-column naming conventions.
  *
  * The reference derives oracle-visible column names from operator inputs
  * (`<COL>_<AGG>`, `LAG_<COL>_<N>` / `LAG_<COL>__<N>` for negative offsets,
  * `MEAN_<COL>_<W>`, `<COL>_<PART>`, `<COL>_<VALUE>` / `<COL>_IS_NULL`,
  * `<COL>_TARGET_ENCODED`, `TT_SPLIT`, cleansed math aliases — see
  * rasgoql/primitives/rendering.py:170-188 and utils/sql.py:21-27 in the
  * reference). This engine keeps the same shapes but lowercase (Spark/parquet
  * convention rather than Snowflake's uppercase).
  */
object Naming {

  /** Cleanse an arbitrary string into a valid lowercase column identifier:
    * non-alphanumerics collapse to `_`; leading digits get a `c_` prefix.
    * Mirrors the reference's alias cleansing (rendering.py:170-188).
    */
  def cleanse(s: String): String = {
    val base = s.trim.toLowerCase
      .replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")
    val nonEmpty = if (base.isEmpty) "col" else base
    if (nonEmpty.head.isDigit) "c_" + nonEmpty else nonEmpty
  }

  /** `<col>_<agg>` (reference: `SALESAMOUNT_SUM`). */
  def agg(col: String, fn: String): String = cleanse(s"${col}_$fn")

  /** `lag_<col>_<n>`; negative offsets (leads) double the underscore,
    * matching the reference's `LAG_<COL>__<N>` convention.
    */
  def lag(col: String, n: Int): String =
    if (n >= 0) cleanse(s"lag_${col}_$n") else s"lag_${cleanse(col)}__${-n}"

  /** `mean_<col>_<w>` (reference: `MEAN_SALESAMOUNT_SUM_4`). */
  def movingAvg(col: String, w: Int): String = cleanse(s"mean_${col}_$w")

  /** `<col>_<part>` (reference: `ORDERDATE_WEEK`). */
  def datePart(col: String, part: String): String = cleanse(s"${col}_$part")

  /** One-hot dummy: `<col>_<value>`; nulls → `<col>_is_null`. */
  def oneHot(col: String, value: Option[String]): String =
    value.fold(cleanse(s"${col}_is_null"))(v => cleanse(s"${col}_$v"))

  def targetEncoded(col: String): String = cleanse(s"${col}_target_encoded")
  def labelEncoded(col: String): String = cleanse(s"${col}_encoded")

  val ttSplit = "tt_split"
  val allValuesArray = "all_values_array"

  /** Deterministic per-chain step alias (the reference uses `RQL_` + 10
    * random uppercase chars; determinism is more useful for tests/rendering).
    */
  def stepAlias(i: Int): String = f"graft_$i%d"

  /** Quote an identifier for a rendered SQL fragment when it isn't a plain
    * `[A-Za-z_][A-Za-z0-9_]*` word (reserved-ish or odd characters from a
    * source schema); plain names pass through unquoted so fragments stay
    * readable. The rendered chain SQL is Spark-SQL text (tests execute it
    * via `spark.sql`, DbtExport emits it), and Spark's default parser
    * treats a double-quoted token as a STRING LITERAL — so quoting must be
    * backticks (doubling embedded backticks), never ANSI double quotes.
    */
  def quoteId(n: String): String =
    if (n.matches("[A-Za-z_][A-Za-z0-9_]*")) n
    else "`" + n.replace("`", "``") + "`"

  /** The select list of a step that adds columns over `columns`, as the
    * DataFrame face's `withColumn` builds it: each `(name, sqlExpr)` takes
    * the place of a same-named source column (case-insensitive, Spark's
    * resolver), or else appends after the source columns in order.
    * `SELECT *, expr AS name` over an existing `name` would carry both,
    * and the next reference fails as AMBIGUOUS_REFERENCE.
    */
  def selectReplacing(columns: Seq[String], adds: Seq[(String, String)]): String =
    adds.foldLeft(columns.map(n => n -> quoteId(n))) { case (acc, (n, e)) =>
      val item = n -> s"$e AS ${quoteId(n)}"
      val i = acc.indexWhere(_._1.equalsIgnoreCase(n))
      if (i >= 0) acc.updated(i, item) else acc :+ item
    }.map(_._2).mkString(", ")

  /** SQL literal for a driver-computed statistic embedded into a rendered
    * fragment (the reference's compile-time `run_query` pattern bakes
    * values into the template the same way).
    */
  def sqlLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => s"'${s.replace("'", "''")}'"
    case d: Double => if (d.isNaN) "CAST('NaN' AS DOUBLE)" else s"CAST($d AS DOUBLE)"
    case f: Float => s"CAST($f AS DOUBLE)"
    case b: Boolean => b.toString.toUpperCase
    case other => other.toString
  }
}
