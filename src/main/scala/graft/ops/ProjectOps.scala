package graft.ops

import graft.core.{Chain, Naming}
import org.apache.spark.sql.functions._

/** Projection / column operators — reference transforms #1-8 (SURVEY §2.2):
  * drop_columns, rename, cast, concat, substring, math, if_then, to_date
  * (signatures from tutorials/tutorial.ipynb:860-905 in the reference).
  */
final class ProjectOps(private val c: Chain) extends AnyVal {

  /** drop_columns(include_cols, exclude_cols): keep-only or drop. */
  def dropColumns(includeCols: Seq[String] = Nil, excludeCols: Seq[String] = Nil): Chain = {
    val kept =
      if (includeCols.nonEmpty) includeCols
      else c.df.columns.toSeq.filterNot(excludeCols.contains)
    c.next("drop_columns", c.df.select(kept.map(col): _*),
      Some(s"SELECT ${kept.mkString(", ")} FROM {{source}}"))
  }

  /** rename(renames): old → new column names. */
  def rename(renames: Seq[(String, String)]): Chain = {
    val m = renames.toMap
    val outCols = c.df.columns.toSeq.map(n =>
      m.get(n).fold(n)(nn => s"$n AS $nn"))
    c.next("rename", c.df.withColumnsRenamed(m),
      Some(s"SELECT ${outCols.mkString(", ")} FROM {{source}}"))
  }

  /** cast(casts): column → Spark SQL type name, cast in place. */
  def castCols(casts: Seq[(String, String)]): Chain = {
    val m = casts.toMap
    val outCols = c.df.columns.toSeq.map(n =>
      m.get(n).fold(n)(t => s"CAST($n AS $t) AS $n"))
    val df2 = casts.foldLeft(c.df) { case (d, (n, t)) => d.withColumn(n, col(n).cast(t)) }
    c.next("cast", df2, Some(s"SELECT ${outCols.mkString(", ")} FROM {{source}}"))
  }

  /** concat(concat_list, name): columns and 'quoted' literals into one
    * string column. Null in any part → null (SQL `||` semantics).
    */
  def concatCols(concatList: Seq[String], name: String): Chain = {
    def isLit(s: String) = s.length >= 2 && s.head == '\'' && s.last == '\''
    val parts = concatList.map(e =>
      if (isLit(e)) lit(e.substring(1, e.length - 1)) else col(e).cast("string"))
    val sqlParts = concatList.map(e => if (isLit(e)) e else s"CAST($e AS STRING)")
    c.next("concat", c.df.withColumn(name, concat(parts: _*)),
      Some(s"SELECT *, CONCAT(${sqlParts.mkString(", ")}) AS $name FROM {{source}}"))
  }

  /** substring(target_col, start_pos, end_pos): 1-based inclusive range →
    * new column `<col>_substr`.
    */
  def substringCol(targetCol: String, startPos: Int, endPos: Int): Chain = {
    val name = Naming.cleanse(s"${targetCol}_substr")
    val len = endPos - startPos + 1
    c.next("substring",
      c.df.withColumn(name, substring(col(targetCol), startPos, len)),
      Some(s"SELECT *, SUBSTRING($targetCol, $startPos, $len) AS $name FROM {{source}}"))
  }

  /** math(math_ops, names): arbitrary arithmetic expressions as new columns.
    * Applied sequentially so later expressions can reference earlier output
    * names (reference lateral-alias behavior,
    * tutorials/rasgoql-join-example.ipynb:2805-2806); auto-name = cleansed
    * expression when names are omitted.
    */
  def math(mathOps: Seq[String], names: Seq[String] = Nil): Chain = {
    val allNames =
      if (names.nonEmpty) names else mathOps.map(Naming.cleanse)
    require(allNames.length == mathOps.length, "names must match math_ops")
    val df2 = mathOps.zip(allNames).foldLeft(c.df) { case (d, (op, n)) =>
      d.withColumn(n, expr(op))
    }
    val sel = Naming.selectReplacing(c.df.columns.toSeq, allNames.zip(mathOps))
    c.next("math", df2, Some(s"SELECT $sel FROM {{source}}"))
  }

  /** if_then(conditions, default, alias): CASE WHEN cascade. Conditions are
    * (predicate SQL, value SQL) pairs.
    */
  def ifThen(conditions: Seq[(String, String)], default: String, alias: String): Chain = {
    val column = conditions.tail
      .foldLeft(when(expr(conditions.head._1), expr(conditions.head._2))) {
        case (acc, (p, v)) => acc.when(expr(p), expr(v))
      }
      .otherwise(expr(default))
    val cases = conditions.map { case (p, v) => s"WHEN $p THEN $v" }.mkString(" ")
    c.next("if_then", c.df.withColumn(alias, column),
      Some(s"SELECT *, CASE $cases ELSE $default END AS $alias FROM {{source}}"))
  }

  /** json_extract(column, extracts): pull typed scalars out of a JSON
    * string column — the Spark home for the reference's VARIANT/OBJECT
    * columns (SURVEY §1.2: Snowflake VARIANT → `get_json_object`).
    * extracts: (JSONPath, alias, Spark type) triples.
    */
  def jsonExtract(column: String, extracts: Seq[(String, String, String)]): Chain = {
    val df2 = extracts.foldLeft(c.df) { case (d, (path, alias, tpe)) =>
      d.withColumn(alias, get_json_object(col(column), path).cast(tpe))
    }
    val frags = extracts.map { case (path, alias, tpe) =>
      s"CAST(GET_JSON_OBJECT($column, '$path') AS $tpe) AS $alias"
    }
    c.next("json_extract", df2, Some(s"SELECT *, ${frags.mkString(", ")} FROM {{source}}"))
  }

  /** to_date(dates): column → format string; parses/casts in place.
    * Empty format = cast to date.
    */
  def toDateCols(dates: Seq[(String, String)]): Chain = {
    val m = dates.toMap
    val df2 = dates.foldLeft(c.df) { case (d, (n, fmt)) =>
      d.withColumn(n, if (fmt.isEmpty) to_date(col(n)) else to_date(col(n), fmt))
    }
    val outCols = c.df.columns.toSeq.map(n =>
      m.get(n).fold(n) {
        case "" => s"TO_DATE($n) AS $n"
        case f  => s"TO_DATE($n, '$f') AS $n"
      })
    c.next("to_date", df2, Some(s"SELECT ${outCols.mkString(", ")} FROM {{source}}"))
  }

  /** shard(n, key_cols, name): stable shard assignment in [0, n) from the
    * row's key — the deterministic "which output file / worker / fold does
    * this row belong to" primitive (output sharding, parallel export,
    * cross-validation folds). The shard is a pure function of the KEY, so
    * re-runs, engines and partitionings all agree — unlike
    * `spark_partition_id()` or a round-robin, which reshuffle every run.
    *
    * Mechanics: the first 8 hex digits of md5(key) parsed digit-by-digit
    * into a 32-bit integer (explicit `ascii(c) − 48|87` arithmetic — the
    * one hex-to-int every SQL engine spells identically; no conv()/
    * hex-cast portability trap), then mod n. Pure projection — no
    * shuffle, pushes through scans; integer arithmetic, engine-exact.
    */
  def shard(n: Int, keyCols: Seq[String], name: String = "shard"): Chain = {
    require(n > 0, s"shard needs n > 0, got $n")
    require(keyCols.nonEmpty, "shard needs at least one key column")
    val h = md5(concat_ws("|", keyCols.map(col(_).cast("string")): _*))
    val value = (1 to 8).map { i =>
      val ch = substring(h, i, 1)
      (ascii(ch) - when(ch >= lit("a"), lit(87)).otherwise(lit(48))).cast("long")
    }.reduceLeft((acc, d) => acc * lit(16L) + d)
    val df2 = c.df.withColumn(name, value % lit(n.toLong))
    val keySql = s"concat_ws('|', ${keyCols.map(k => s"CAST($k AS STRING)").mkString(", ")})"
    val digitSql = (1 to 8).map { i =>
      s"(CAST(ascii(substring(_h, $i, 1)) AS BIGINT) - " +
        s"CASE WHEN substring(_h, $i, 1) >= 'a' THEN 87 ELSE 48 END)"
    }.reduceLeft((acc, d) => s"($acc * 16 + $d)")
    val orig = c.df.columns.mkString(", ")
    c.next("shard", df2, Some(
      s"SELECT $orig, $digitSql % $n AS $name FROM " +
        s"(SELECT *, md5($keySql) AS _h FROM {{source}})"))
  }

  /** pseudonymize(columns, salt, prefix_len): stable in-place
    * pseudonymization — each listed column is replaced by the first
    * `prefixLen` hex digits of md5(salt ‖ value), so equal values map to
    * equal tokens (joins and group-bys still work across pseudonymized
    * tables sharing the salt) while the original value never leaves the
    * pipeline. Nulls stay null. The salt is the secret: without it the
    * mapping is undoable only by brute-forcing the value space — rotate
    * it per export to break cross-release linkage. Complements
    * [[graft.ext.TextAnalysisOps.scrubPii]] (which rewrites free text;
    * this rewrites key/attribute columns).
    *
    * The rendered SQL face carries a `{{salt}}` PLACEHOLDER, not the
    * literal: `c.sql()` output and dbt exports are artifacts that outlive
    * the session, and shipping the secret inside every export would
    * defeat rotation (anyone holding the export could replay the mapping
    * over the value space). Substitute the placeholder at deploy time
    * (dbt var / session variable). Set `saltInRender = true` only when
    * the rendered text itself must be self-contained AND is handled as a
    * secret.
    *
    * Pure projection — no shuffle, engine-exact (md5/substring are
    * identical everywhere).
    */
  def pseudonymize(columns: Seq[String], salt: String, prefixLen: Int = 16,
                   saltInRender: Boolean = false): Chain = {
    require(columns.nonEmpty, "pseudonymize needs at least one column")
    require(prefixLen >= 4 && prefixLen <= 32,
      s"prefix_len must be in [4, 32], got $prefixLen")
    require(!salt.contains("'"), "salt must not contain single quotes")
    val missing = columns.filterNot(c.df.columns.contains)
    require(missing.isEmpty, s"pseudonymize: no such column(s): $missing")
    val df2 = columns.foldLeft(c.df) { (d, cn) =>
      d.withColumn(cn, when(col(cn).isNull, lit(null).cast("string")).otherwise(
        substring(md5(concat(lit(salt), lit("|"), col(cn).cast("string"))), 1, prefixLen)))
    }
    val saltS = if (saltInRender) salt else "{{salt}}"
    val outCols = c.df.columns.toSeq.map { cn =>
      if (columns.contains(cn))
        s"CASE WHEN $cn IS NULL THEN NULL ELSE " +
          s"substring(md5(concat('$saltS', '|', CAST($cn AS STRING))), 1, $prefixLen) END AS $cn"
      else cn
    }
    c.next("pseudonymize", df2, Some(s"SELECT ${outCols.mkString(", ")} FROM {{source}}"))
  }
}
