package graft.ops

import graft.core.Chain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}

/** Joins / set ops — reference transforms #13-17 (SURVEY §2.2). All are
  * equi-joins (the reference template library has no theta/as-of joins);
  * physical strategy (broadcast vs shuffled hash vs sort-merge) is left to
  * Catalyst + AQE, which sees the actual sizes — callers can pass an already
  * `broadcast(...)`-hinted frame for small dimensions.
  */
final class JoinOps(private val c: Chain) extends AnyVal {

  /** join(join_table, join_type, join_columns, join_prefix): key-map
    * `{leftCol -> rightCol}`; result = left.* + right non-key columns,
    * optionally prefixed (mirrors the reference's rendered join,
    * tutorials/rasgoql-join-example.ipynb:2772-2804).
    */
  def join(
      other: Chain,
      joinType: String,
      joinColumns: Seq[(String, String)],
      joinPrefix: String = ""): Chain = {
    val l = c.df.alias("_l")
    val r = other.df.alias("_r")
    val cond = joinColumns
      .map { case (lk, rk) => col(s"_l.$lk") === col(s"_r.$rk") }
      .reduce(_ && _)
    val rightKeys = joinColumns.map(_._2).toSet
    val leftCols = c.df.columns.toSeq
    val rightKept = other.df.columns.toSeq.filterNot(rightKeys.contains)
    def outName(n: String): String =
      if (joinPrefix.nonEmpty) s"${joinPrefix}_$n"
      else if (leftCols.contains(n)) s"${n}_r"
      else n
    val proj = leftCols.map(n => col(s"_l.$n")) ++
      rightKept.map(n => col(s"_r.$n").as(outName(n)))
    val df2 = l.join(r, cond, normalize(joinType)).select(proj: _*)
    val rightSql = rightSource(other)
    val onSql = joinColumns.map { case (a, b) => s"_l.$a = _r.$b" }.mkString(" AND ")
    val selSql = (leftCols.map(n => s"_l.$n") ++
      rightKept.map(n => s"_r.$n AS ${outName(n)}")).mkString(", ")
    c.next("join", df2, Some(
      s"SELECT $selSql FROM {{source}} _l ${joinTypeSql(joinType)} JOIN $rightSql _r ON $onSql"))
  }

  /** simple_join(join_table, join_type, join_columns): USING-style join on
    * same-named columns.
    */
  def simpleJoin(other: Chain, joinType: String, joinColumns: Seq[String]): Chain = {
    val df2 = c.df.join(other.df, joinColumns, normalize(joinType))
    c.next("simple_join", df2, Some(
      s"SELECT * FROM {{source}} ${joinTypeSql(joinType)} JOIN ${rightSource(other)} " +
        s"USING (${joinColumns.mkString(", ")})"))
  }

  /** multi_join(join_tables, join_type, join_columns, join_prefixes): fold N
    * tables into a join cascade; per-table USING column lists (keys may come
    * from any table already folded in, enabling star-schema chains).
    */
  def multiJoin(
      others: Seq[(Chain, Seq[String])],
      joinType: String,
      joinPrefixes: Seq[String] = Nil): Chain = {
    val prefixes =
      if (joinPrefixes.nonEmpty) joinPrefixes else others.map(_ => "")
    val df2 = others.zip(prefixes).foldLeft(c.df) { case (acc, ((o, keys), p)) =>
      val renamed =
        if (p.isEmpty) o.df
        else o.df.columns.foldLeft(o.df)((d, n) =>
          if (keys.contains(n)) d else d.withColumnRenamed(n, s"${p}_$n"))
      acc.join(renamed, keys, normalize(joinType))
    }
    val joins = others.zip(prefixes).map { case ((o, keys), p) =>
      val src =
        if (p.isEmpty) rightSource(o)
        else {
          val cols = o.df.columns.toSeq.map(n =>
            if (keys.contains(n)) n else s"$n AS ${p}_$n")
          s"(SELECT ${cols.mkString(", ")} FROM ${rightSource(o)})"
        }
      s"${joinTypeSql(joinType)} JOIN $src USING (${keys.mkString(", ")})"
    }
    c.next("multi_join", df2,
      Some(s"SELECT * FROM {{source}} ${joins.mkString(" ")}"))
  }

  /** union(dataset2, keep_dupes): UNION ALL / UNION (set) by column name.
    * The SQL face lists the right branch's columns explicitly in the left
    * branch's order — SQL UNION is positional, the DataFrame union is
    * by-name, and the two must agree even when column orders differ.
    */
  def union(other: Chain, keepDupes: Boolean = true): Chain = {
    val u = c.df.unionByName(other.df)
    val df2 = if (keepDupes) u else u.distinct()
    val rightCols = c.df.columns.map(graft.core.Naming.quoteId).mkString(", ")
    c.next("union", df2, Some(
      s"SELECT * FROM {{source}} ${if (keepDupes) "UNION ALL" else "UNION"} " +
        s"SELECT $rightCols FROM ${rightSource(other)}"))
  }

  /** multi_union(union_tables, union_columns): UNION ALL of N tables on a
    * shared column list.
    */
  def multiUnion(others: Seq[Chain], unionColumns: Seq[String] = Nil): Chain = {
    val cols = if (unionColumns.nonEmpty) unionColumns else c.df.columns.toSeq
    val sel: DataFrame => DataFrame = _.select(cols.map(col): _*)
    val df2 = others.map(o => sel(o.df)).foldLeft(sel(c.df))(_ unionByName _)
    val colSql = cols.map(graft.core.Naming.quoteId).mkString(", ")
    c.next("multi_union", df2, Some(
      (s"SELECT $colSql FROM {{source}}" +:
        others.map(o => s"SELECT $colSql FROM ${rightSource(o)}"))
        .mkString(" UNION ALL ")))
  }

  /** intersect(dataset2): INTERSECT (set semantics). Beyond the reference
    * surface (it ships union only — SURVEY §2.2 note); rounds out the set
    * operators.
    */
  def intersectRows(other: Chain): Chain =
    c.next("intersect", c.df.intersect(other.df), Some(
      s"SELECT * FROM {{source}} INTERSECT SELECT * FROM ${rightSource(other)}"))

  /** except(dataset2): EXCEPT (set semantics; beyond the reference surface). */
  def exceptRows(other: Chain): Chain =
    c.next("except", c.df.except(other.df), Some(
      s"SELECT * FROM {{source}} EXCEPT SELECT * FROM ${rightSource(other)}"))

  /** sample(fraction, seed): Bernoulli row sample. Sampling is
    * partition-layout-dependent (each partition draws independently), so
    * results are deterministic for a fixed layout but not portable across
    * engines — deliberately NON-RENDERABLE: a SQL text face would promise
    * a reproducible relation the operator cannot deliver, so
    * `sql()`/`save(..., "VIEW")` raise `UnsupportedOperationException`
    * naming this op (RenderSpec pins the message). For a
    * layout-independent, renderable sample see [[sampleHash]].
    */
  def sampleRows(fraction: Double, seed: Long = 42L): Chain =
    c.next("sample", c.df.sample(withReplacement = false, fraction, seed), None)

  /** sample_hash(fraction, key_cols): deterministic content-hash sample —
    * keeps rows whose md5 of the key columns falls below fraction·16¹⁵
    * (hex-prefix compare). Unlike Bernoulli `sample`, the result is
    * independent of partitioning, cluster size and engine: the property an
    * honest 100 TB subsample wants (reproducible across reruns, and the
    * same rows survive when the pipeline re-runs over re-partitioned
    * input). Pure predicate — pushes down to the scan.
    */
  def sampleHash(fraction: Double, keyCols: Seq[String]): Chain = {
    require(fraction > 0.0 && fraction < 1.0, s"fraction must be in (0,1), got $fraction")
    require(keyCols.nonEmpty, "sample_hash needs at least one key column")
    val th = JoinOps.hashThreshold(fraction)
    val key = concat_ws("|", keyCols.map(col(_).cast("string")): _*)
    val df2 = c.df.where(md5(key) < lit(th))
    c.next("sample_hash", df2, Some(
      s"SELECT * FROM {{source}} WHERE md5(concat_ws('|', " +
        s"${keyCols.map(k => s"CAST($k AS STRING)").mkString(", ")})) < '$th'"))
  }

  /** sample_weighted(weight_col, key_cols): per-ROW deterministic weighted
    * sampling — each row survives with probability `clamp(weight, 0, 1)`,
    * decided by comparing md5(key) against the row's own threshold
    * (importance sampling by a quality/model score: P(keep) ∝ score, the
    * row-level generalization of [[sampleHashStratified]]'s per-stratum
    * fractions). The threshold is `format('%015x', floor(w·16¹⁵))` — the
    * per-row form of [[sampleHash]]'s hex-prefix compare; double multiply,
    * floor and hex formatting are all engine-exact, so the kept set is
    * identical across engines, partitionings and reruns. Pure predicate —
    * pushes to the scan; null AND NaN weights drop the row (no silent
    * keep — NaN compares greatest under least/greatest, so an unguarded
    * NaN from a bad score division would clamp to 1.0 and keep the row
    * with P ≈ 1).
    */
  def sampleWeighted(weightCol: String, keyCols: Seq[String]): Chain = {
    require(keyCols.nonEmpty, "sample_weighted needs key columns")
    val key = concat_ws("|", keyCols.map(col(_).cast("string")): _*)
    val w = least(greatest(col(weightCol).cast("double"), lit(0.0)), lit(1.0))
    // w = 1 would format 16^15 as 16 hex chars and break the 15-digit
    // prefix compare; 16^15 - 1 = fff…f keeps all but P = 16^-15
    val th = format_string("%015x",
      least(floor(w * pow(lit(16.0), lit(15))).cast("long"),
        lit(1152921504606846975L)))
    val df2 = c.df.where(col(weightCol).isNotNull &&
      !isnan(col(weightCol).cast("double")) && md5(key) < th)
    val keySql = s"concat_ws('|', ${keyCols.map(k => s"CAST($k AS STRING)").mkString(", ")})"
    val wSql = s"LEAST(GREATEST(CAST($weightCol AS DOUBLE), 0.0), 1.0)"
    c.next("sample_weighted", df2, Some(
      s"SELECT * FROM {{source}} WHERE $weightCol IS NOT NULL AND " +
        s"NOT isnan(CAST($weightCol AS DOUBLE)) AND " +
        s"md5($keySql) < printf('%015x', LEAST(CAST(FLOOR($wSql * POW(16.0, 15)) AS BIGINT), " +
        s"1152921504606846975))"))
  }

  /** sample_hash_stratified(strata_col, fractions, key_cols): per-stratum
    * deterministic hash sampling — each stratum value gets its own
    * md5-threshold (down-sample dominant classes, keep rare ones whole,
    * the usual training-mix rebalance). Same layout/engine independence
    * and scan pushdown as [[sampleHash]]; strata missing from `fractions`
    * use `defaultFraction` (0 drops them).
    */
  /** sample_group_k(group_by, k, key_cols): keep exactly k rows per group
    * (fewer where the group is smaller), chosen by deterministic hash
    * order — the fixed-size counterpart of [[sampleHashStratified]]'s
    * fixed-fraction strata, i.e. a distributed reservoir sample that is
    * reproducible under any partitioning: rank = row_number over
    * (md5(keys), keys) within each group. The balanced-subset op for
    * training mixes ("10k docs per language/source") and for capped
    * eval-set extraction. One shuffle on the group keys; the window never
    * sees a global (unpartitioned) frame.
    */
  def sampleGroupK(groupBy: Seq[String], k: Int, keyCols: Seq[String]): Chain = {
    require(groupBy.nonEmpty, "sample_group_k needs group columns")
    require(k >= 1, s"k must be >= 1, got $k")
    require(keyCols.nonEmpty, "sample_group_k needs key columns")
    val key = concat_ws("|", keyCols.map(col(_).cast("string")): _*)
    // hash first, raw key second: the tiebreak makes the order total even
    // on md5 collisions, so the kept set is unique and deterministic
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupBy.map(col): _*)
      .orderBy(md5(key).asc, key.asc)
    val df2 = c.df.withColumn("_sgk_rn", row_number().over(w))
      .where(col("_sgk_rn") <= k).drop("_sgk_rn")
    val keySql = s"concat_ws('|', ${keyCols.map(kc => s"CAST($kc AS STRING)").mkString(", ")})"
    c.next("sample_group_k", df2, Some(
      s"SELECT * EXCEPT (_sgk_rn) FROM (SELECT *, ROW_NUMBER() OVER (" +
        s"PARTITION BY ${groupBy.mkString(", ")} " +
        s"ORDER BY md5($keySql) ASC, $keySql ASC) AS _sgk_rn FROM {{source}}) " +
        s"WHERE _sgk_rn <= $k"))
  }

  /** sample_group_k_agg(group_by, k, key_cols): same kept-set contract as
    * [[sampleGroupK]] (k rows per group by deterministic (md5(key), key)
    * order; identical results whenever the key is unique per row) but
    * computed as a MERGEABLE bounded aggregate
    * ([[graft.functions.GroupBottomK]]) instead of a window. The window
    * face shuffles every row to its group before discarding; this face
    * keeps at most k candidates per group per map task and shuffles only
    * those — the shape that survives "top 10k docs per language" over a
    * 100 TB corpus where each group holds billions of rows.
    */
  def sampleGroupKAgg(groupBy: Seq[String], k: Int, keyCols: Seq[String]): Chain = {
    require(groupBy.nonEmpty, "sample_group_k_agg needs group columns")
    require(k >= 1, s"k must be >= 1, got $k")
    require(keyCols.nonEmpty, "sample_group_k_agg needs key columns")
    val key = concat_ws("|", keyCols.map(col(_).cast("string")): _*)
    val cols = c.df.columns.toSeq
    val payload = struct(cols.map(col): _*)
    val df2 = c.df.groupBy(groupBy.map(col): _*)
      .agg(graft.functions.GroupBottomK.bottomKHashAgg(key, payload, k).as("_kept"))
      .select(explode(col("_kept")).as("_r"))
      .select(cols.map(n => col(s"_r.$n").as(n)): _*)
    // the rendered SQL face is the window formulation — the relation is the
    // same; the aggregate is a physical-shape choice SQL text can't express
    val keySql = s"concat_ws('|', ${keyCols.map(kc => s"CAST($kc AS STRING)").mkString(", ")})"
    c.next("sample_group_k_agg", df2, Some(
      s"SELECT * EXCEPT (_sgk_rn) FROM (SELECT *, ROW_NUMBER() OVER (" +
        s"PARTITION BY ${groupBy.mkString(", ")} " +
        s"ORDER BY md5($keySql) ASC, $keySql ASC) AS _sgk_rn FROM {{source}}) " +
        s"WHERE _sgk_rn <= $k"))
  }

  /** sample_group_top_k(group_by, k, score_col, key_cols, ascending): keep
    * the k BEST rows per group by score — "the 10k highest-quality docs
    * per domain", the curation counterpart of [[sampleGroupKAgg]]'s
    * unbiased hash sample, computed by the same mergeable bounded
    * aggregate ([[graft.functions.GroupBottomK.topKByScoreAgg]]): each map
    * task keeps ≤ k candidates per group, the exchange carries ~k×groups
    * candidates instead of the corpus, and the result is deterministic
    * under any partitioning (total order (score, key, payload-bytes);
    * identical to the window formulation whenever (score, key) is unique —
    * the SQL face). Rows with a null or NaN score never rank (NaN sorts
    * FIRST under DESC in Spark/DuckDB — unfiltered it would win "keep the
    * k best" ahead of every real score).
    */
  def sampleGroupTopK(groupBy: Seq[String], k: Int, scoreCol: String,
                      keyCols: Seq[String], ascending: Boolean = false): Chain = {
    require(groupBy.nonEmpty, "sample_group_top_k needs group columns")
    require(k >= 1, s"k must be >= 1, got $k")
    require(keyCols.nonEmpty, "sample_group_top_k needs tiebreak key columns")
    val key = concat_ws("|", keyCols.map(col(_).cast("string")): _*)
    val cols = c.df.columns.toSeq
    val payload = struct(cols.map(col): _*)
    val agg = graft.functions.GroupBottomK.topKByScoreAgg(
      col(scoreCol).cast("double"), key, payload, k, ascending)
    val df2 = c.df.groupBy(groupBy.map(col): _*)
      .agg(agg.as("_kept"))
      .select(explode(col("_kept")).as("_r"))
      .select(cols.map(n => col(s"_r.$n").as(n)): _*)
    val dir = if (ascending) "ASC" else "DESC"
    val keySql = s"concat_ws('|', ${keyCols.map(kc => s"CAST($kc AS STRING)").mkString(", ")})"
    c.next("sample_group_top_k", df2, Some(
      s"SELECT * EXCEPT (_sgt_rn) FROM (SELECT *, ROW_NUMBER() OVER (" +
        s"PARTITION BY ${groupBy.mkString(", ")} " +
        s"ORDER BY CAST($scoreCol AS DOUBLE) $dir, $keySql ASC) AS _sgt_rn " +
        s"FROM {{source}} WHERE $scoreCol IS NOT NULL " +
        s"AND NOT isnan(CAST($scoreCol AS DOUBLE))) WHERE _sgt_rn <= $k"))
  }

  def sampleHashStratified(
      strataCol: String,
      fractions: Seq[(String, Double)],
      keyCols: Seq[String],
      defaultFraction: Double = 0.0): Chain = {
    require(keyCols.nonEmpty, "stratified sample needs key columns")
    // out-of-range fractions must fail loudly: a negative fraction's toLong
    // would otherwise render as 16-digit two's-complement hex, which sorts
    // ABOVE every md5 and keeps (not drops) nearly the whole stratum
    (fractions.map { case (v, f) => s"stratum '$v'" -> f } :+
      ("defaultFraction" -> defaultFraction)).foreach { case (what, f) =>
      require(f >= 0.0 && f <= 1.0, s"fraction for $what must be in [0,1], got $f")
    }
    val key = concat_ws("|", keyCols.map(col(_).cast("string")): _*)
    val defTh = JoinOps.hashThreshold(defaultFraction) // 0 → all-zero threshold, drops the stratum
    val threshold = fractions.foldRight(lit(defTh)) { case ((v, f), acc) =>
      when(col(strataCol).cast("string") === v, lit(JoinOps.hashThreshold(f))).otherwise(acc)
    }
    val df2 = c.df.where(md5(key) < threshold)
    val caseSql = fractions.map { case (v, f) =>
      s"WHEN CAST($strataCol AS STRING) = '$v' THEN '${JoinOps.hashThreshold(f)}'"
    }.mkString("CASE ", " ", s" ELSE '$defTh' END")
    c.next("sample_hash_stratified", df2, Some(
      s"SELECT * FROM {{source}} WHERE md5(concat_ws('|', " +
        s"${keyCols.map(k => s"CAST($k AS STRING)").mkString(", ")})) < $caseSql"))
  }

  /** diff_against(new, keys): row-level dataset diff — THIS chain is the
    * old version, `other` the new; emits one row per key whose presence or
    * non-key contents changed, tagged `change_type` ∈ added (new only) /
    * removed (old only) / changed (both, differing values). The
    * regression-test primitive for pipeline upgrades at corpus scale
    * ("what did the new dedup threshold actually change"): each side is
    * reduced to (keys, md5 row fingerprint) BEFORE the full-outer join, so
    * the exchange carries ~48 bytes/row regardless of row width, unchanged
    * rows drop at the join, and no wide columns ever shuffle. Keys must
    * identify rows uniquely on each side (else the join multiplies);
    * column sets must match — a schema change is a different comparison
    * and fails loudly. Null keys match null-safely (`<=>`) — a null-keyed
    * row on both sides compares fingerprints instead of reporting a
    * spurious added+removed pair. Non-renderable (two input frames):
    * `sql()` raises naming this op (RenderSpec pins the message).
    */
  def diffAgainst(other: Chain, keys: Seq[String]): Chain = {
    require(keys.nonEmpty, "diff_against needs key columns")
    require(c.df.columns.sorted.sameElements(other.df.columns.sorted),
      s"diff_against requires identical column sets; old has " +
        s"${c.df.columns.mkString(",")} vs new ${other.df.columns.mkString(",")}")
    val nonKey = c.df.columns.filterNot(keys.contains).sorted.toSeq
    require(nonKey.nonEmpty, "diff_against needs at least one non-key column")
    // null-safe fingerprint: nulls map to a sentinel no cast can produce,
    // so (null) and ('') never collide and concat_ws never drops a slot
    def fp(df: DataFrame) = md5(concat_ws("\u0001",
      nonKey.map(n => coalesce(df(n).cast("string"), lit("\u0002"))): _*))
    val l = c.df.select(keys.map(col) :+ fp(c.df).as("_fp_old"): _*)
    val r = other.df.select(keys.map(col) :+ fp(other.df).as("_fp_new"): _*)
    // null-SAFE key equality (<=>): the fingerprint is already null-safe,
    // so a row keyed by null present on both sides must MATCH (and compare
    // fingerprints), not report as a spurious added+removed pair the way
    // null-unsafe USING-join semantics would
    val cond = keys.map(k => l(k) <=> r(k)).reduce(_ && _)
    val joined = l.join(r, cond, "full_outer")
      .withColumn("change_type",
        when(col("_fp_old").isNull, "added")
          .when(col("_fp_new").isNull, "removed")
          .when(col("_fp_old") =!= col("_fp_new"), "changed"))
      .where(col("change_type").isNotNull)
      .select(keys.map(k => coalesce(l(k), r(k)).as(k)) :+ col("change_type"): _*)
    c.next("diff_against", joined, None)
  }

  /** join_cardinality_profile(other, on, top_k): the "will this join
    * explode" preflight — run it BEFORE a big join to see the output-size
    * estimate and exactly which keys would drive it. One row per top_k
    * hottest MATCHED key (by its output contribution cnt_a·cnt_b, ties by
    * key ascending), with both sides' multiplicities and the overall
    * statistics repeated per row: valid (non-null-key) row counts,
    * distinct key counts, matched-key count, each side's max multiplicity,
    * and `est_rows` — the EXACT inner-join output size Σ cnt_a·cnt_b.
    * ZERO matched keys means an EMPTY frame (a disjoint-key join produces
    * nothing — there is no hot key to report).
    * Null join keys never match, so null-key rows are excluded from both
    * sides (audit them with [[graft.ops.AggOps.describe]]). Products and
    * their sum accumulate in exact decimals (DECIMAL(19,0)² → DECIMAL(38,0),
    * the [[graft.ops.AggOps.entropyProfile]] overflow rule) and surface as
    * doubles — a profile whose arithmetic aborts on the very skew it
    * exists to flag would be useless.
    *
    * Scale: one map-side-combined count aggregate per side (the only
    * corpus-sized exchanges) into a keys-grain FULL-OUTER profile frame
    * that is `localCheckpoint`ed once (round 18 — the pre-18 plan read
    * each side's aggregate twice and the matched join twice, with column
    * pruning specializing every copy: 12 source scans for one profile;
    * now each input is scanned ONCE and the four consumers — per-side
    * totals, matched totals, top-k — read the checkpointed keys-grain
    * blocks). The top_k is a TakeOrderedAndProject over the checkpoint
    * (no global sort materializes) and the one-row totals broadcast onto
    * the winners. The checkpoint is a declared materialization of a
    * KEYS-grain frame (≤ one row per distinct key either side — the same
    * storage class as the op's own join output); it rides in the result
    * plan, so [[graft.core.Chain.releaseCheckpoints]] on the result
    * frees it once nothing reads it again (the PrefixScan release
    * contract). Pair with [[joinSalted]] once the culprits are known.
    */
  def joinCardinalityProfile(other: Chain, joinColumns: Seq[(String, String)],
                             topK: Int = 10): Chain = {
    require(joinColumns.nonEmpty, "join_cardinality_profile needs join columns")
    require(topK > 0, s"join_cardinality_profile needs top_k > 0, got $topK")
    val lk = joinColumns.map(_._1)
    val rk = joinColumns.map(_._2)
    def notNull(ks: Seq[String]) = ks.map(col(_).isNotNull).reduce(_ && _)
    val la = c.df.where(notNull(lk)).groupBy(lk.map(col): _*)
      .agg(count(lit(1)).as("cnt_a"))
    val rb = other.df.where(notNull(rk)).groupBy(rk.map(col): _*)
      .agg(count(lit(1)).as("cnt_b"))
    val laA = la.alias("_la"); val rbA = rb.alias("_rb")
    val cond = joinColumns.map { case (a, b) => col(s"_la.$a") === col(s"_rb.$b") }
      .reduce(_ && _)
    // keys-grain profile: null keys were filtered on BOTH sides, so the
    // plain-equality full outer is exact — matched keys carry both
    // counts, one-side keys carry a null on the other (they still feed
    // that side's totals). Checkpointed ONCE; everything below reads it.
    val prof = laA.join(rbA, cond, "full_outer")
      .select((lk.indices.map(i =>
        coalesce(col(s"_la.${lk(i)}"), col(s"_rb.${rk(i)}")).as(lk(i))) ++
        Seq(col("cnt_a"), col("cnt_b"))): _*)
      .localCheckpoint()
    val contribDec = col("cnt_a").cast(DecimalType(19, 0)) *
      col("cnt_b").cast(DecimalType(19, 0))
    val matched = prof.where(col("cnt_a").isNotNull && col("cnt_b").isNotNull)
      .select((lk.map(col) ++ Seq(col("cnt_a"), col("cnt_b"),
        contribDec.as("_contrib"))): _*)
    val totA = prof.agg(sum(col("cnt_a")).as("rows_a"), count(col("cnt_a")).as("keys_a"),
      max(col("cnt_a")).as("max_mult_a"))
    val totB = prof.agg(sum(col("cnt_b")).as("rows_b"), count(col("cnt_b")).as("keys_b"),
      max(col("cnt_b")).as("max_mult_b"))
    val totM = matched.agg(count(lit(1)).as("keys_matched"),
      coalesce(sum(col("_contrib")), lit(0).cast(DecimalType(38, 0)))
        .cast("double").as("est_rows"))
    val top = matched
      .orderBy((col("_contrib").desc +: lk.map(col(_).asc)): _*)
      .limit(topK)
    val df2 = top.crossJoin(broadcast(totA)).crossJoin(broadcast(totB))
      .crossJoin(broadcast(totM))
      .select((lk.map(col) ++ Seq(col("cnt_a"), col("cnt_b"),
        col("_contrib").cast("double").as("contrib"),
        col("rows_a"), col("rows_b"), col("keys_a"), col("keys_b"),
        col("keys_matched"), col("max_mult_a"), col("max_mult_b"),
        col("est_rows"))): _*)
    c.next("join_cardinality_profile", df2, None)
  }

  /** asof_join(right, on, left_time, right_time): for every left row, the
    * most recent right row at or before the left timestamp within the same
    * keys (trades/quotes semantics; right columns null when nothing
    * precedes). Spark has no ASOF join and the naive formulation is an
    * inequality join Catalyst can only nested-loop. This is the scalable
    * union-window plan: tag left(1)/right(0) rows, union, and carry each
    * right value forward with last(ignoreNulls) over (keys ORDER BY time,
    * tag) — ONE shuffle on the keys, no pair space, no broadcast
    * requirement. At equal timestamps the right row sorts first, so a
    * quote AT the trade's timestamp matches.
    *
    * Right rows should be unique per (on, right_time) — pre-aggregate
    * otherwise (ties are carried nondeterministically, as in warehouse
    * ASOF implementations). Right value columns colliding with left names
    * arrive suffixed. `direction`: "backward" (default), "forward", or
    * "nearest" (closest on either side, ties to the backward match — the
    * pandas merge_asof direction set). `tolerance`: optional max match
    * distance as a raw SQL expression ("INTERVAL 30 DAY" for timestamps,
    * a number for numeric times) — matches farther away null out, the
    * pandas merge_asof tolerance / kdb window-join dial.
    */
  def asofJoin(
      other: Chain,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      suffix: String = "_asof",
      direction: String = "backward",
      tolerance: Option[String] = None): Chain = {
    require(Set("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got $direction")
    tolerance.foreach(t => require(t.trim.nonEmpty,
      "asof_join: tolerance must be a non-empty SQL expression"))
    // the union-window plan introduces internal columns on the left
    // frame; a pre-existing name would be silently shadowed on the
    // DataFrame face while the SQL face emits a duplicate column (the
    // round-14 reserved-name guard convention)
    Seq("_t", "_src", "_rv", "_rvb", "_rvf", "_cand", "_chosen").foreach(n =>
      require(!c.df.columns.contains(n),
        s"asof_join: column '$n' is reserved by the union-window plan " +
          "and already exists on the chain"))
    // nearest and any tolerance need the matched right TIME carried with
    // the values — the generalized path; the plain directions keep their
    // original (lighter) plan untouched
    if (direction == "nearest" || tolerance.isDefined)
      return asofJoinCarried(other, on, leftTime, rightTime, suffix,
        direction, tolerance)
    val forward = direction == "forward"
    val lDf = c.df
    val rDf = other.df
    val leftCols = lDf.columns.toSeq
    val rightVals = rDf.columns.toSeq.filterNot(n => on.contains(n) || n == rightTime)
    val leftRest = leftCols.filterNot(n => on.contains(n) || n == leftTime)
    def outName(n: String): String = if (leftCols.contains(n)) s"$n$suffix" else n
    val lTypes = lDf.schema.fields.map(f => f.name -> f.dataType).toMap
    // All right value columns ride in ONE struct carried forward together:
    // per-column last(ignoreNulls) would let a NULL in the matched right row
    // be papered over by a stale older row, and could even mix columns from
    // DIFFERENT right rows in one output row. The struct itself is what's
    // last(ignoreNulls)-carried, so the matched row's own NULLs survive and
    // every output column comes from the same right row (DuckDB/kdb ASOF
    // semantics).
    val rvType = org.apache.spark.sql.types.StructType(
      rDf.schema.fields.filter(f => rightVals.contains(f.name)))
    val lSel = on.map(col) ++ Seq(col(leftTime).as("_t"), lit(1).as("_src")) ++
      leftRest.map(col) :+ lit(null).cast(rvType).as("_rv")
    val rSel = on.map(col) ++ Seq(col(rightTime).as("_t"), lit(0).as("_src")) ++
      leftRest.map(n => lit(null).cast(lTypes(n)).as(n)) :+
      struct(rightVals.map(col): _*).as("_rv")
    val u = lDf.select(lSel: _*).unionByName(rDf.select(rSel: _*))
    // forward as-of (earliest right AT OR AFTER the left time): identical
    // carry over the REVERSED time order — the frame then holds all rows
    // with _t >= current, and last(ignoreNulls) is the nearest future right
    val tOrd = if (forward) col("_t").desc else col("_t").asc
    val w = Window.partitionBy(on.map(col): _*)
      .orderBy(tOrd, col("_src").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u.withColumn("_rv", last(col("_rv"), ignoreNulls = true).over(w))
    val proj = leftCols.map(n => if (n == leftTime) col("_t").as(leftTime) else col(n)) ++
      rightVals.map(n => col("_rv").getField(n).as(outName(n)))
    val df2 = filled.where(col("_src") === 1).select(proj: _*)
    // SQL face: the same union-window plan as Spark-SQL text, so chains
    // using asof joins keep sql()/toDbt (every reference op renders)
    val q = graft.core.Naming.quoteId _
    val onSql = on.map(q)
    val lRestSql = leftRest.map(n => s"${q(n)}")
    val rvStructSql = rvType.sql // STRUCT<name: TYPE, ...>
    val lBranch = (onSql ++ Seq(s"${q(leftTime)} AS _t", "1 AS _src") ++ lRestSql :+
      s"CAST(NULL AS $rvStructSql) AS _rv").mkString(", ")
    val rBranch = (onSql ++ Seq(s"${q(rightTime)} AS _t", "0 AS _src") ++
      leftRest.map(n => s"CAST(NULL AS ${lTypes(n).sql}) AS ${q(n)}") :+
      (s"NAMED_STRUCT(" +
        rightVals.map(n => s"'$n', ${q(n)}").mkString(", ") + ") AS _rv")).mkString(", ")
    val outSql = (leftCols.map(n => if (n == leftTime) s"_t AS ${q(n)}" else q(n)) ++
      rightVals.map(n => s"_rvf.${q(n)} AS ${q(outName(n))}")).mkString(", ")
    val tOrdSql = if (forward) "_t DESC" else "_t"
    val frag =
      s"SELECT $outSql FROM (SELECT *, LAST(_rv) IGNORE NULLS OVER (" +
        s"PARTITION BY ${onSql.mkString(", ")} ORDER BY $tOrdSql, _src " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _rvf FROM (" +
        s"SELECT $lBranch FROM {{source}} UNION ALL " +
        s"SELECT $rBranch FROM ${rightSource(other)})) WHERE _src = 1"
    c.next("asof_join", df2, Some(frag))
  }

  /** The carried face of [[asofJoin]] — used for `direction = "nearest"`
    * (pandas merge_asof's third direction: the right row CLOSEST in time
    * on either side, ties preferring the backward match) and for ANY
    * direction with a `tolerance` (matches farther than the tolerance in
    * the match direction null out — the pandas/kdb window-join dial; the
    * expression is raw SQL, e.g. "INTERVAL 30 DAY" for timestamps or a
    * number for numeric times). Same union-window plan; nearest runs the
    * carry BOTH ways over ONE shuffle on the keys (two sorts of the same
    * exchange, no second pass over either input); the carried struct
    * additionally stores the matched right time so the closing
    * projection can compare candidate distances — interval arithmetic,
    * exact for timestamp/date/numeric time columns.
    */
  private def asofJoinCarried(
      other: Chain,
      on: Seq[String],
      leftTime: String,
      rightTime: String,
      suffix: String,
      direction: String,
      tolerance: Option[String]): Chain = {
    val lDf = c.df
    val rDf = other.df
    val leftCols = lDf.columns.toSeq
    val rightVals = rDf.columns.toSeq.filterNot(n => on.contains(n) || n == rightTime)
    val leftRest = leftCols.filterNot(n => on.contains(n) || n == leftTime)
    def outName(n: String): String = if (leftCols.contains(n)) s"$n$suffix" else n
    val lTypes = lDf.schema.fields.map(f => f.name -> f.dataType).toMap
    // the carried struct leads with the matched right TIME — the closing
    // distance compare needs it, and it rides atomically with the values
    val rvType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("_asof_rt",
        rDf.schema(rightTime).dataType) +:
        rDf.schema.fields.filter(f => rightVals.contains(f.name)))
    val lSel = on.map(col) ++ Seq(col(leftTime).as("_t"), lit(1).as("_src")) ++
      leftRest.map(col) :+ lit(null).cast(rvType).as("_rv")
    val rSel = on.map(col) ++ Seq(col(rightTime).as("_t"), lit(0).as("_src")) ++
      leftRest.map(n => lit(null).cast(lTypes(n)).as(n)) :+
      struct(col(rightTime).as("_asof_rt") +: rightVals.map(col): _*).as("_rv")
    val u = lDf.select(lSel: _*).unionByName(rDf.select(rSel: _*))
    val wb = Window.partitionBy(on.map(col): _*)
      .orderBy(col("_t").asc, col("_src").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(on.map(col): _*)
      .orderBy(col("_t").desc, col("_src").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val needB = direction != "forward"
    val needF = direction != "backward"
    val filled = {
      val f1 = if (needB)
        u.withColumn("_rvb", last(col("_rv"), ignoreNulls = true).over(wb)) else u
      if (needF)
        f1.withColumn("_rvf", last(col("_rv"), ignoreNulls = true).over(wf)) else f1
    }
    val bt = col("_rvb").getField("_asof_rt")
    val ft = col("_rvf").getField("_asof_rt")
    val cand = direction match {
      case "backward" => col("_rvb")
      case "forward" => col("_rvf")
      case _ => when(col("_rvb").isNull, col("_rvf"))
        .when(col("_rvf").isNull, col("_rvb"))
        .when(col("_t") - bt <= ft - col("_t"), col("_rvb"))
        .otherwise(col("_rvf"))
    }
    val withCand = filled.withColumn("_cand", cand)
    val crt = col("_cand").getField("_asof_rt")
    val chosen = tolerance match {
      case None => col("_cand")
      case Some(tol) =>
        val tolE = expr(tol)
        val dist = direction match {
          case "backward" => col("_t") - crt
          case "forward" => crt - col("_t")
          case _ => when(crt <= col("_t"), col("_t") - crt).otherwise(crt - col("_t"))
        }
        when(col("_cand").isNotNull && dist <= tolE, col("_cand"))
    }
    val proj = leftCols.map(n => if (n == leftTime) col("_t").as(leftTime) else col(n)) ++
      rightVals.map(n => col("_chosen").getField(n).as(outName(n)))
    val df2 = withCand.withColumn("_chosen", chosen)
      .where(col("_src") === 1).select(proj: _*)
    val q = graft.core.Naming.quoteId _
    val onSql = on.map(q)
    val lBranch = (onSql ++ Seq(s"${q(leftTime)} AS _t", "1 AS _src") ++
      leftRest.map(q) :+ s"CAST(NULL AS ${rvType.sql}) AS _rv").mkString(", ")
    val rBranch = (onSql ++ Seq(s"${q(rightTime)} AS _t", "0 AS _src") ++
      leftRest.map(n => s"CAST(NULL AS ${lTypes(n).sql}) AS ${q(n)}") :+
      (s"NAMED_STRUCT('_asof_rt', ${q(rightTime)}, " +
        rightVals.map(n => s"'$n', ${q(n)}").mkString(", ") + ") AS _rv")).mkString(", ")
    val outSql = (leftCols.map(n => if (n == leftTime) s"_t AS ${q(n)}" else q(n)) ++
      rightVals.map(n => s"_chosen.${q(n)} AS ${q(outName(n))}")).mkString(", ")
    val winTail = s"PARTITION BY ${onSql.mkString(", ")} ORDER BY %s, _src " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    val winsSql = (
      (if (needB) Seq(s"LAST(_rv) IGNORE NULLS OVER (${winTail.format("_t")}) AS _rvb") else Nil) ++
      (if (needF) Seq(s"LAST(_rv) IGNORE NULLS OVER (${winTail.format("_t DESC")}) AS _rvf") else Nil)
    ).mkString(", ")
    val candSql = direction match {
      case "backward" => "_rvb"
      case "forward" => "_rvf"
      case _ => "CASE WHEN _rvb IS NULL THEN _rvf WHEN _rvf IS NULL THEN _rvb " +
        "WHEN _t - _rvb._asof_rt <= _rvf._asof_rt - _t THEN _rvb ELSE _rvf END"
    }
    val chosenSql = tolerance match {
      case None => "_cand"
      case Some(tol) =>
        val distSql = direction match {
          case "backward" => "_t - _cand._asof_rt"
          case "forward" => "_cand._asof_rt - _t"
          case _ => "CASE WHEN _cand._asof_rt <= _t THEN _t - _cand._asof_rt " +
            "ELSE _cand._asof_rt - _t END"
        }
        s"CASE WHEN _cand IS NOT NULL AND ($distSql) <= ($tol) THEN _cand END"
    }
    val frag =
      s"SELECT $outSql FROM (SELECT *, $chosenSql AS _chosen FROM (" +
        s"SELECT *, $candSql AS _cand FROM (SELECT *, $winsSql FROM (" +
        s"SELECT $lBranch FROM {{source}} UNION ALL " +
        s"SELECT $rBranch FROM ${rightSource(other)})))) WHERE _src = 1"
    c.next("asof_join", df2, Some(frag))
  }

  /** range_join(right, point, start, end, bucket_seconds): left rows joined
    * to every right interval containing the point (point ≥ start AND
    * point < end, half-open). The naive plan is a pure inequality join —
    * a cross product Spark would nested-loop. This bucketizes time: each
    * left point lands in exactly one fixed-width bucket, each right
    * interval explodes to the buckets it covers, and the join is an
    * equi-join on the bucket plus the exact containment filter. Each
    * qualifying pair matches exactly once (the point's single bucket), so
    * no dedup pass is needed. Size bucketSeconds to the typical interval
    * length: wider → fewer right-row copies, narrower → tighter candidate
    * sets. Empty/inverted intervals drop (half-open semantics).
    */
  def rangeJoin(
      other: Chain,
      pointCol: String,
      startCol: String,
      endCol: String,
      bucketSeconds: Long = 7L * 24 * 3600,
      joinPrefix: String = ""): Chain = {
    require(bucketSeconds > 0, s"bucketSeconds must be positive, got $bucketSeconds")
    // Full-precision epoch MICROSECONDS (Spark timestamps are micros; whole-
    // second truncation would silently drop sub-second intervals and miss
    // points in [floor(end), end)). NTZ-safe: session is UTC, so NTZ→LTZ is
    // the identity instant.
    def epochUs(cc: org.apache.spark.sql.Column) = unix_micros(cc.cast("timestamp"))
    val bucketUs = bucketSeconds * 1000000L
    val leftCols = c.df.columns.toSeq
    val rightCols = other.df.columns.toSeq
    def outName(n: String): String =
      if (joinPrefix.nonEmpty) s"${joinPrefix}_$n"
      else if (leftCols.contains(n)) s"${n}_r" else n
    val l = c.df.alias("_l")
      .withColumn("_b", floor(epochUs(col(s"_l.$pointCol")) / bucketUs))
    // non-empty filter on the ORIGINAL columns (no precision loss), and the
    // interval's last contained instant is end - 1 micro (half-open at the
    // timestamp type's own resolution), so its bucket range is exact
    val r = other.df.alias("_r")
      .where(col(s"_r.$endCol") > col(s"_r.$startCol"))
      .withColumn("_b", explode(sequence(
        floor(epochUs(col(s"_r.$startCol")) / bucketUs),
        floor((epochUs(col(s"_r.$endCol")) - 1) / bucketUs))))
    val joined = l.join(r, Seq("_b"))
      .where(col(s"_l.$pointCol") >= col(s"_r.$startCol") &&
        col(s"_l.$pointCol") < col(s"_r.$endCol"))
    val proj = leftCols.map(n => col(s"_l.$n")) ++
      rightCols.map(n => col(s"_r.$n").as(outName(n)))
    // SQL face: the same bucketized plan as Spark-SQL text (equi-join on
    // the bucket + exact containment), keeping sql()/toDbt for the chain
    val q = graft.core.Naming.quoteId _
    def usSql(cn: String) = s"UNIX_MICROS(CAST(${q(cn)} AS TIMESTAMP))"
    val selSql = (leftCols.map(n => s"_l.${q(n)}") ++
      rightCols.map(n => s"_r.${q(n)} AS ${q(outName(n))}")).mkString(", ")
    val frag =
      s"SELECT $selSql FROM " +
        s"(SELECT *, FLOOR(${usSql(pointCol)} / $bucketUs) AS _b FROM {{source}}) _l " +
        s"JOIN (SELECT *, EXPLODE(SEQUENCE(FLOOR(${usSql(startCol)} / $bucketUs), " +
        s"FLOOR((${usSql(endCol)} - 1) / $bucketUs))) AS _b " +
        s"FROM ${rightSource(other)} WHERE ${q(endCol)} > ${q(startCol)}) _r " +
        s"ON _l._b = _r._b " +
        s"WHERE _l.${q(pointCol)} >= _r.${q(startCol)} AND _l.${q(pointCol)} < _r.${q(endCol)}"
    c.next("range_join", joined.select(proj: _*), Some(frag))
  }

  /** join_salted(right, join_type, join_columns, salt_buckets): equi-join
    * with explicit skew salting — the left side's hot keys spread across
    * `saltBuckets` sub-keys (salt = row-content hash mod buckets, so the
    * spread is deterministic), the right side replicates each row once per
    * salt value, and the join runs on (keys, salt). Result is EXACTLY the
    * plain join (the SQL face renders the unsalted join); use it when one
    * key dominates and AQE skew-split isn't available or isn't enough.
    * Right-side replication costs saltBuckets× its size — keep the right
    * side the smaller input.
    */
  def joinSalted(
      other: Chain,
      joinType: String,
      joinColumns: Seq[(String, String)],
      saltBuckets: Int = 16,
      joinPrefix: String = ""): Chain = {
    require(saltBuckets >= 2, s"saltBuckets must be >= 2, got $saltBuckets")
    require(Set("inner", "left", "left_outer").contains(normalize(joinType)),
      "join_salted supports inner/left joins only (unmatched right rows would " +
        s"replicate per salt bucket); got $joinType")
    val leftCols = c.df.columns.toSeq
    val rightKeys = joinColumns.map(_._2).toSet
    val rightKept = other.df.columns.toSeq.filterNot(rightKeys.contains)
    def outName(n: String): String =
      if (joinPrefix.nonEmpty) s"${joinPrefix}_$n"
      else if (leftCols.contains(n)) s"${n}_r" else n
    val l = c.df
      .withColumn("_salt", pmod(xxhash64(leftCols.map(col): _*), lit(saltBuckets)))
      .alias("_l")
    val r = other.df
      .withColumn("_salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
      .alias("_r")
    val cond = (joinColumns.map { case (lk, rk) => col(s"_l.$lk") === col(s"_r.$rk") } :+
      (col("_l._salt") === col("_r._salt"))).reduce(_ && _)
    val proj = leftCols.map(n => col(s"_l.$n")) ++
      rightKept.map(n => col(s"_r.$n").as(outName(n)))
    val df2 = l.join(r, cond, normalize(joinType)).select(proj: _*)
    val onSql = joinColumns.map { case (a, b) => s"_l.$a = _r.$b" }.mkString(" AND ")
    val selSql = (leftCols.map(n => s"_l.$n") ++
      rightKept.map(n => s"_r.$n AS ${outName(n)}")).mkString(", ")
    c.next("join_salted", df2, Some(
      s"SELECT $selSql FROM {{source}} _l ${joinTypeSql(joinType)} JOIN ${rightSource(other)} _r ON $onSql"))
  }

  /** join_bloom_prefiltered(right, join_columns, expected_items, fpp):
    * INNER equi-join with a Bloom prefilter on the probe side — the
    * 100 TB shape for selective joins whose build side is too large to
    * broadcast as a HASH relation but whose KEY SET still fits a Bloom
    * filter (a 10⁸-key filter at 3% fpp is ~90 MB; the hash relation
    * with payloads would be tens of GB). The right side's key hashes
    * fold into ONE Bloom filter (Spark's own
    * `BloomFilterAggregate` — the runtime-filter machinery, invoked
    * deliberately), the filter is built eagerly (one bounded declared
    * driver read of numBits/8 bytes, capped at 512 MB — might_contain
    * requires a CONSTANT filter) and rides the plan as a binary
    * literal; `might_contain` drops non-matching probe rows BEFORE the
    * join shuffle — at high selectivity the exchange carries a few
    * percent of the probe side. False positives pass the prefilter and fall
    * out of the equi-join; false negatives cannot happen — the result
    * is EXACTLY the plain inner join, and the SQL face renders it
    * unfiltered (the [[joinSaltedAuto]] execution-detail convention).
    *
    * Keys are combined through `xxhash64` on both sides, so multi-key
    * joins filter on the composite; null keys hash but never match the
    * equi-join — inner semantics are preserved either way. Inner only:
    * prefiltering the probe side drops rows an outer join must keep.
    *
    * Scale: one extra pass over the RIGHT side (the filter build — an
    * aggregate, map-side combined by the Bloom's own merge) + numBits/8
    * bytes shipped with the plan. Size `expectedItems` at or above
    * the right side's distinct key count: an undersized filter only
    * raises the false-positive rate (more probe rows ride to the join
    * and drop there), never correctness.
    */
  def joinBloomPrefiltered(
      other: Chain,
      joinColumns: Seq[(String, String)],
      expectedItems: Long = 4000000L,
      fpp: Double = 0.03,
      joinPrefix: String = ""): Chain = {
    require(joinColumns.nonEmpty, "join_bloom_prefiltered needs join columns")
    require(expectedItems > 0L,
      s"join_bloom_prefiltered: expectedItems must be positive, got $expectedItems")
    require(fpp > 0.0 && fpp < 0.5,
      s"join_bloom_prefiltered: fpp must be in (0, 0.5), got $fpp")
    joinColumns.foreach { case (lk, rk) =>
      require(c.df.columns.contains(lk),
        s"join_bloom_prefiltered: left chain is missing join column '$lk'")
      require(other.df.columns.contains(rk),
        s"join_bloom_prefiltered: right chain is missing join column '$rk'")
    }
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    require(numBits <= 512L * 1024 * 1024 * 8,
      s"join_bloom_prefiltered: a ${expectedItems}-item / $fpp filter needs " +
        s"$numBits bits — past the 512 MB plan-literal cap; raise fpp or " +
        "pre-aggregate the right side's keys")
    val rightHash = xxhash64(joinColumns.map(p => col(p._2)): _*)
    val bloomAgg = org.apache.spark.sql.GraftBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        org.apache.spark.sql.GraftBridge.expression(rightHash),
        org.apache.spark.sql.GraftBridge.expression(lit(expectedItems)),
        org.apache.spark.sql.GraftBridge.expression(lit(numBits)))
        .toAggregateExpression())
    // might_contain requires a CONSTANT filter: build eagerly (one bounded
    // declared driver read — numBits/8 bytes, capped above) and ride the
    // plan as a binary literal, the literal-frame convention of the
    // centroid/cutoff families. An all-null right key set yields a null
    // filter → the join result is provably empty.
    //
    // BloomFilterAggregate SILENTLY clamps its size to the runtime-filter
    // session confs (maxNumBits defaults to 67M bits ≈ 8 MB, maxNumItems
    // to 4M) — an unlifted clamp would saturate a big filter and quietly
    // degrade the prefilter to a pass-through. Raise both to the
    // requested size for the build, restore after (the dynamicOverwrite
    // conf save/restore regime).
    val bloomConf = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> expectedItems)
    val conf = c.spark.conf
    val saved = bloomConf.map { case (k, _) =>
      k -> scala.util.Try(conf.get(k)).toOption }
    val bloomBytes =
      try {
        bloomConf.foreach { case (k, v) =>
          val cur = scala.util.Try(conf.get(k).toLong).getOrElse(0L)
          conf.set(k, math.max(cur, v).toString)
        }
        graft.core.CheckpointProbe.scalars(other.df, "_bf" -> bloomAgg).head
          .asInstanceOf[Array[Byte]]
      } finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    val leftCols = c.df.columns.toSeq
    val prefiltered =
      if (bloomBytes == null) c.df.where(lit(false))
      else {
        val leftHash = xxhash64(joinColumns.map(p => col(p._1)): _*)
        val mightContain = org.apache.spark.sql.GraftBridge.column(
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            org.apache.spark.sql.GraftBridge.expression(
              lit(bloomBytes)),
            org.apache.spark.sql.GraftBridge.expression(leftHash)))
        c.df.where(mightContain)
      }
    val rightKeys = joinColumns.map(_._2).toSet
    val rightKept = other.df.columns.toSeq.filterNot(rightKeys.contains)
    def outName(n: String): String =
      if (joinPrefix.nonEmpty) s"${joinPrefix}_$n"
      else if (leftCols.contains(n)) s"${n}_r" else n
    val l = prefiltered.alias("_l")
    val r = other.df.alias("_r")
    val cond = joinColumns
      .map { case (lk, rk) => col(s"_l.$lk") === col(s"_r.$rk") }
      .reduce(_ && _)
    val proj = leftCols.map(n => col(s"_l.$n")) ++
      rightKept.map(n => col(s"_r.$n").as(outName(n)))
    val df2 = l.join(r, cond, "inner").select(proj: _*)
    val onSql = joinColumns.map { case (a, b) => s"_l.$a = _r.$b" }.mkString(" AND ")
    val selSql = (leftCols.map(n => s"_l.$n") ++
      rightKept.map(n => s"_r.$n AS ${outName(n)}")).mkString(", ")
    c.next("join_bloom_prefiltered", df2, Some(
      s"SELECT $selSql FROM {{source}} _l JOIN ${rightSource(other)} _r ON $onSql"))
  }

  /** join_salted_auto(right, join_type, join_columns): the profile-fed
    * composition of [[joinCardinalityProfile]] and [[joinSalted]] — salt
    * ONLY the measured hot keys, pass the cold majority through
    * unreplicated. [[joinSalted]] replicates EVERY right row
    * saltBuckets×, which is a saltBuckets× right-side tax when one key in
    * a million is hot; here the left side's key multiplicities are
    * profiled first, keys with cnt > `minHotCount` get a per-key salt
    * count ⌈cnt / minHotCount⌉ (∝ the key's weight, capped at
    * `saltBuckets`), and every other key keeps salt 0 on both sides — a
    * cold right row joins exactly once, never replicated. Result is
    * EXACTLY the plain join (the SQL face renders it unsalted).
    *
    * Scale: the profile is one extra map-side-combined count aggregate
    * over the left side (the preflight [[joinCardinalityProfile]] cost —
    * deliberate: measuring beats guessing); only keys past the hot
    * threshold survive its filter, the hottest `maxHotKeys` keep salting
    * (TakeOrdered, no global sort — an un-salted residue past the cap
    * still joins CORRECTLY, just unsalted) and ride a literal broadcast
    * frame of ≤ maxHotKeys rows onto both sides. The join itself
    * shuffles on (keys, salt), so a key that carried 10⁸ rows in one
    * partition now spreads across ⌈cnt/minHotCount⌉ ≤ saltBuckets tasks
    * — the AQE-skew-join shape, but deterministic and available to every
    * join type here. Inner/left only, as [[joinSalted]].
    */
  def joinSaltedAuto(
      other: Chain,
      joinType: String,
      joinColumns: Seq[(String, String)],
      saltBuckets: Int = 16,
      minHotCount: Long = 100000L,
      maxHotKeys: Int = 1000,
      joinPrefix: String = ""): Chain = {
    require(saltBuckets >= 2, s"saltBuckets must be >= 2, got $saltBuckets")
    require(minHotCount >= 1, s"minHotCount must be >= 1, got $minHotCount")
    require(maxHotKeys >= 1, s"maxHotKeys must be >= 1, got $maxHotKeys")
    require(Set("inner", "left", "left_outer").contains(normalize(joinType)),
      "join_salted_auto supports inner/left joins only (unmatched right rows " +
        s"would replicate per salt bucket); got $joinType")
    val leftCols = c.df.columns.toSeq
    val lk = joinColumns.map(_._1)
    val rk = joinColumns.map(_._2)
    // the collision class is a column NAMED like a hot-frame key
    // (_h_<keyName>) on the side that joins it — not just keys that
    // start with the prefix
    val reserved = Seq("_salt", "_ns")
    require((leftCols ++ other.df.columns).intersect(reserved).isEmpty &&
      !lk.exists(k => leftCols.contains(s"_h_$k")) &&
      !rk.exists(k => other.df.columns.contains(s"_h_$k")),
      "join_salted_auto reserves _salt/_ns and the _h_<key> hot-frame " +
        "column names — rename first")
    val hotRows = JoinOps.hotKeySaltCounts(c.df, lk, minHotCount, maxHotKeys,
      saltBuckets)
    val keyTypes = lk.map(kn => c.df.schema(kn).dataType)
    val lSalted = JoinOps.saltedLeft(c.df,
      JoinOps.hotKeyLiteral(c.spark, hotRows, lk, keyTypes)).alias("_l")
    val rSalted = JoinOps.saltedRight(other.df,
      JoinOps.hotKeyLiteral(c.spark, hotRows, rk, keyTypes), rk).alias("_r")
    val rightKeys = rk.toSet
    val rightKept = other.df.columns.toSeq.filterNot(rightKeys.contains)
    def outName(n: String): String =
      if (joinPrefix.nonEmpty) s"${joinPrefix}_$n"
      else if (leftCols.contains(n)) s"${n}_r" else n
    val cond = (joinColumns.map { case (a, b) => col(s"_l.$a") === col(s"_r.$b") } :+
      (col("_l._salt") === col("_r._salt"))).reduce(_ && _)
    val proj = leftCols.map(n => col(s"_l.$n")) ++
      rightKept.map(n => col(s"_r.$n").as(outName(n)))
    val df2 = lSalted.join(rSalted, cond, normalize(joinType)).select(proj: _*)
    val onSql = joinColumns.map { case (a, b) => s"_l.$a = _r.$b" }.mkString(" AND ")
    val selSql = (leftCols.map(n => s"_l.$n") ++
      rightKept.map(n => s"_r.$n AS ${outName(n)}")).mkString(", ")
    c.next("join_salted_auto", df2, Some(
      s"SELECT $selSql FROM {{source}} _l ${joinTypeSql(joinType)} JOIN ${rightSource(other)} _r ON $onSql"))
  }

  /** A chain argument renders as its entry table when untransformed, else as
    * a derived table (the reference's sub-chain args,
    * rasgoql/primitives/transforms.py:446-447).
    */
  /** scd2_merge(snapshot, keys, compare_columns, as_of): slowly-changing-
    * dimension type-2 maintenance — fold a point-in-time `snapshot` of a
    * dimension into this chain's version history. The history carries
    * `keys ++ compareCols ++ (validFrom, validTo, isCurrent)`; per key:
    *
    *  - current row whose `compareCols` null-safely equal the snapshot's
    *    → unchanged;
    *  - current row that differs → CLOSED (`validTo = asOf`,
    *    `isCurrent = false`) plus a NEW current version from the
    *    snapshot (`validFrom = asOf`, open `validTo`);
    *  - snapshot key with no current row (brand new, or previously
    *    closed and re-appearing) → new current version;
    *  - current row missing from the snapshot → closed when
    *    `closeMissing` (a full snapshot implies deletion), kept open
    *    otherwise (partial snapshots);
    *  - non-current rows always pass through untouched.
    *
    * Scale shape: ONE scan of the history and one of the snapshot — a
    * single full-outer join on the keys whose condition also requires
    * the history row to be current, so closed versions fall out on the
    * unmatched-left side (pass-through) instead of needing a second
    * filtered scan, and a re-appearing key falls out on the unmatched-
    * right side (new version). Each joined row then EXPLODES into its
    * 0-2 output rows — no branch re-executes the join. One shuffle on
    * the keys; a dimension snapshot small enough to broadcast can be
    * passed pre-hinted. The snapshot must be key-unique (one row per
    * key) — duplicate snapshot keys would each produce a current
    * version, exactly like the reference's upsert contract.
    *
    * The SQL face renders the same semantics as a UNION of the four
    * branches (pass-through / kept-or-closed current / changed-close /
    * new versions) over `{{source}}` and the snapshot's source — exact
    * row parity with the DataFrame face is spec-pinned.
    */
  def scd2Merge(
      snapshot: Chain,
      keys: Seq[String],
      compareCols: Seq[String],
      asOf: String,
      validFrom: String = "valid_from",
      validTo: String = "valid_to",
      isCurrent: String = "is_current",
      closeMissing: Boolean = false): Chain = {
    require(keys.nonEmpty, "scd2_merge needs at least one key column")
    val histCols = c.df.columns.toSet
    val snapCols = snapshot.df.columns.toSet
    (keys ++ compareCols ++ Seq(validFrom, validTo, isCurrent)).foreach(n =>
      require(histCols.contains(n), s"scd2_merge: history is missing column '$n'"))
    (keys ++ compareCols).foreach(n =>
      require(snapCols.contains(n), s"scd2_merge: snapshot is missing column '$n'"))
    Seq("_lp", "_rp", "_s").foreach(n => require(!histCols.contains(n),
      s"scd2_merge: history column '$n' collides with an internal name"))
    require(c.df.schema(isCurrent).dataType ==
      org.apache.spark.sql.types.BooleanType,
      s"scd2_merge: '$isCurrent' must be BOOLEAN")
    val fromType = c.df.schema(validFrom).dataType
    val toType = c.df.schema(validTo).dataType
    val asFrom = lit(asOf).cast(fromType)
    val asTo = lit(asOf).cast(toType)
    val outCols = (keys ++ compareCols ++ Seq(validFrom, validTo, isCurrent))

    val L = c.df.select(outCols.map(col) :+ lit(true).as("_lp"): _*)
    val R = snapshot.df.select(
      (keys ++ compareCols).map(n => col(n).as(s"_r_$n")) :+ lit(true).as("_rp"): _*)
    val keyEq = keys.map(k => col(k) <=> col(s"_r_$k")).reduce(_ && _)
    val cur = coalesce(col(isCurrent), lit(false))
    val j = L.join(R, keyEq && cur, "full_outer")
    val lp = coalesce(col("_lp"), lit(false))
    val rp = coalesce(col("_rp"), lit(false))
    val same = compareCols.map(a => col(a) <=> col(s"_r_$a"))
      .reduceOption(_ && _).getOrElse(lit(true))
    def row(fields: Seq[(String, org.apache.spark.sql.Column)]) =
      struct(fields.map { case (n, v) => v.as(n) }: _*)
    val oldRow = row(outCols.map(n => n -> col(n)))
    val closedOld = row(
      (keys ++ compareCols).map(n => n -> col(n)) ++
        Seq(validFrom -> col(validFrom), validTo -> asTo,
          isCurrent -> lit(false)))
    val newRow = row(
      keys.map(k => k -> when(lp, col(k)).otherwise(col(s"_r_$k"))) ++
        compareCols.map(a => a -> col(s"_r_$a")) ++
        Seq(validFrom -> asFrom, validTo -> lit(null).cast(toType),
          isCurrent -> lit(true)))
    val out = when(!lp && rp, array(newRow)) // new or re-appearing key
      .when(lp && !cur, array(oldRow)) // closed history passes through
      .when(lp && cur && !rp, // current, absent from the snapshot
        if (closeMissing) array(closedOld) else array(oldRow))
      .when(lp && cur && rp && same, array(oldRow)) // unchanged
      .otherwise(array(closedOld, newRow)) // changed: close + new version
    val df2 = j.select(explode(out).as("_s"))
      .select(outCols.map(n => col(s"_s.$n").as(n)): _*)

    val snap = rightSource(snapshot)
    val keyEqSql = keys.map(k => s"_l.$k IS NOT DISTINCT FROM _r.$k").mkString(" AND ")
    val sameSql =
      if (compareCols.isEmpty) "TRUE"
      else compareCols.map(a => s"_l.$a IS NOT DISTINCT FROM _r.$a").mkString(" AND ")
    val asFromSql = s"CAST('$asOf' AS ${fromType.sql})"
    val asToSql = s"CAST('$asOf' AS ${toType.sql})"
    val curSqlL = s"COALESCE(_l.$isCurrent, FALSE)"
    val newSel = (keys.map(k => s"_r.$k") ++ compareCols.map(a => s"_r.$a") ++
      Seq(s"$asFromSql AS $validFrom", s"CAST(NULL AS ${toType.sql}) AS $validTo",
        s"TRUE AS $isCurrent")).mkString(", ")
    val missingToSql = if (closeMissing) asToSql else s"_l.$validTo"
    val missingCurSql = if (closeMissing) "FALSE" else s"_l.$isCurrent"
    val frag =
      // non-current pass-through
      s"SELECT ${outCols.mkString(", ")} FROM {{source}} WHERE NOT COALESCE($isCurrent, FALSE) " +
        // current rows: unchanged / kept-or-closed-missing / changed-close
        s"UNION ALL SELECT ${(keys ++ compareCols).map(n => s"_l.$n").mkString(", ")}, _l.$validFrom, " +
        s"CASE WHEN _r._rp IS NULL THEN $missingToSql WHEN $sameSql THEN _l.$validTo ELSE $asToSql END AS $validTo, " +
        s"CASE WHEN _r._rp IS NULL THEN $missingCurSql WHEN $sameSql THEN _l.$isCurrent ELSE FALSE END AS $isCurrent " +
        s"FROM {{source}} _l LEFT JOIN (SELECT *, TRUE AS _rp FROM $snap) _r ON $keyEqSql WHERE $curSqlL " +
        // new versions: changed keys...
        s"UNION ALL SELECT $newSel FROM {{source}} _l JOIN $snap _r ON $keyEqSql " +
        s"WHERE $curSqlL AND NOT ($sameSql) " +
        // ...and keys with no current row at all
        s"UNION ALL SELECT $newSel FROM $snap _r LEFT JOIN " +
        s"(SELECT *, TRUE AS _lp FROM {{source}} WHERE COALESCE($isCurrent, FALSE)) _l ON $keyEqSql " +
        s"WHERE _l._lp IS NULL"
    c.next("scd2_merge", df2, Some(frag))
  }

  private def rightSource(o: Chain): String =
    if (o.steps.isEmpty) o.entryName else s"(${o.sql()})"

  private def normalize(joinType: String): String =
    joinType.trim.toLowerCase.replace(" ", "_")

  /** SQL-face rendering of a join type: normalized, underscores back to
    * spaces (`left_outer` must render `LEFT OUTER JOIN`, not the unparseable
    * `LEFT_OUTER JOIN`).
    */
  private def joinTypeSql(joinType: String): String =
    normalize(joinType).replace("_", " ").toUpperCase
}

object JoinOps {
  /** The bounded hot-key profile behind [[JoinOps.joinSaltedAuto]]:
    * left-side key multiplicities from one map-side-combined count
    * aggregate, keys with cnt > minHotCount ONLY (cold keys never enter
    * the frame — the not-replicated contract), hottest maxHotKeys kept
    * via TakeOrdered (ties by key ascending, deterministic), each with
    * its salt count ⌈cnt / minHotCount⌉ capped at saltBuckets. A
    * declared driver read of ≤ maxHotKeys (key, _ns) rows.
    */
  private[graft] def hotKeySaltCounts(df: DataFrame, keys: Seq[String],
                                      minHotCount: Long, maxHotKeys: Int,
                                      saltBuckets: Int): Array[Row] =
    df.where(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("_cnt"))
      .where(col("_cnt") > minHotCount)
      .orderBy((col("_cnt").desc +: keys.map(col(_).asc)): _*)
      .limit(maxHotKeys)
      // counts are exact in double far past any real partition size, and
      // the ceil is capped at saltBuckets anyway
      .select((keys.map(col) :+ least(
        ceil(col("_cnt").cast("double") / lit(minHotCount.toDouble)).cast("int"),
        lit(saltBuckets)).as("_ns")): _*)
      .collect()

  /** Re-lift the collected hot-key rows as a literal broadcastable frame
    * keyed `_h_<keyName>` (+ `_ns`), so both join sides salt against the
    * SAME measured set without re-running the profile aggregate.
    */
  private[graft] def hotKeyLiteral(spark: SparkSession, rows: Array[Row],
                                   keyNames: Seq[String],
                                   keyTypes: Seq[org.apache.spark.sql.types.DataType]): DataFrame = {
    val schema = StructType(keyNames.zip(keyTypes).map { case (kn, dt) =>
      StructField(s"_h_$kn", dt, nullable = true)
    } :+ StructField("_ns", IntegerType, nullable = true))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Left side of the profile-fed salted join: hot rows (a broadcast
    * lookup hit) get salt = content-hash mod the key's own `_ns`; cold
    * rows keep salt 0. Row count is UNCHANGED.
    */
  private[graft] def saltedLeft(df: DataFrame, hotF: DataFrame): DataFrame = {
    val keyNames = hotF.columns.init.map(_.stripPrefix("_h_")).toSeq
    val cond = keyNames.map(kn => col(kn) === col(s"_h_$kn")).reduce(_ && _)
    df.join(broadcast(hotF), cond, "left")
      .withColumn("_salt", when(col("_ns").isNull, lit(0))
        .otherwise(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*),
          col("_ns").cast("long")).cast("int")))
      .drop((keyNames.map(kn => s"_h_$kn") :+ "_ns"): _*)
  }

  /** Right side: hot rows replicate once per salt value (their `_ns`),
    * cold rows ride `sequence(0, 0)` — exactly ONE copy, never
    * replicated (the [[JoinOps.joinSalted]] flat saltBuckets× right tax
    * this op exists to avoid).
    */
  private[graft] def saltedRight(df: DataFrame, hotF: DataFrame,
                                 rightKeys: Seq[String]): DataFrame = {
    val cond = rightKeys.map(kn => col(kn) === col(s"_h_$kn")).reduce(_ && _)
    df.join(broadcast(hotF), cond, "left")
      .withColumn("_salt",
        explode(sequence(lit(0), coalesce(col("_ns") - lit(1), lit(0)))))
      .drop((rightKeys.map(kn => s"_h_$kn") :+ "_ns"): _*)
  }

  /** Hex md5-prefix threshold for [[JoinOps.sampleHash]]: fraction·16¹⁵ as
    * 15 lowercase hex digits. 16¹⁵ = 2⁶⁰ is exactly representable, so the
    * double multiply is reproducible everywhere.
    */
  def hashThreshold(fraction: Double): String =
    if (fraction >= 1.0) "g" // above every hex digit: keeps all rows
    else if (fraction <= 0.0) "0" // below every md5: drops all rows
    else f"${(fraction * 1.152921504606846976e18).toLong}%015x"
}
