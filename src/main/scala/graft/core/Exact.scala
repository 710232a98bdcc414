package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, FloatType}

/** Deterministic (partitioning-independent) floating-point aggregation.
  *
  * Plain `sum(double)` depends on accumulation order, which in a distributed
  * engine depends on partitioning — the same query can return different last
  * bits on different cluster layouts, which breaks result reproducibility and
  * oracle/hash-based testing at any scale. Routing the sum through a wide
  * decimal makes it exact and order-independent, at a modest CPU cost
  * (decimal adds instead of double adds; still whole-stage codegen'd, still
  * map-side partial-aggregated by Catalyst).
  *
  * This object is the ONE home of the two exact-sum contracts; ops call
  * its helpers and never spell the casts themselves (SessionSpec's source
  * census enforces it):
  *
  *  - decimal sums: values accumulate in DECIMAL(38,4) ([[Wide]]), squares
  *    and products in DECIMAL(38,8); a mean counts over the same cast its
  *    sum accumulates, and moments gate n, Σx and Σx² on the x² cast;
  *  - fixed point: a value quantizes to `floor(x·10^k + 0.5)` as BIGINT
  *    ([[fpq]]) before any cross-row combination, and the integers sum in
  *    DECIMAL(38,0) ([[fixedSum]]).
  *
  * Each contract has a Column face (optionally windowed) and a SQL-text
  * face spelling the same arithmetic, so an op's plan and its rendered
  * SQL agree by construction. Every sum of every face goes through the
  * one accumulation, [[acc]] / [[accSql]].
  */
object Exact {
  /** Scale kept during exact accumulation. 38-4 = 34 integer digits of
    * headroom: enough for 1e20 rows of 1e14-magnitude values.
    */
  val Scale = 4
  val Wide: DecimalType = DecimalType(38, Scale)
  /** Accumulator of squares and products: 30 integer digits. */
  private val Wide8 = DecimalType(38, 8)
  /** Accumulator of fixed-point integers. */
  private val Fixed = DecimalType(38, 0)

  def isFloating(dt: DataType): Boolean = dt == DoubleType || dt == FloatType

  // ---- the accumulation ------------------------------------------------

  private def win(c: Column, over: Option[WindowSpec]): Column = over.fold(c)(c.over)

  /** Σ of an already-decimal column, optionally windowed. */
  private def acc(dec: Column, over: Option[WindowSpec]): Column =
    win(org.apache.spark.sql.functions.sum(dec), over)

  private def winSql(agg: String, over: String): String =
    if (over.isEmpty) agg else s"$agg $over"

  /** SQL twin of [[acc]]: `over` is an `OVER (…)` clause or empty. */
  private def accSql(dec: String, over: String): String = winSql(s"SUM($dec)", over)

  // ---- decimal sums: Column face ---------------------------------------

  /** Exact sum of a floating column (optionally windowed), as double. */
  def sum(c: Column, over: Option[WindowSpec] = None): Column =
    acc(c.cast(Wide), over).cast("double")

  /** Exact mean: exact sum / count. The count is over the SAME decimal
    * cast the sum accumulates — `cast(NaN as decimal)` is null, so a NaN
    * value (or an Inf, or an overflow) leaves numerator AND denominator
    * together; `count(c)` would count it (non-null) and silently bias the
    * mean low. Division done once in double space.
    */
  def avg(c: Column, over: Option[WindowSpec] = None): Column =
    sum(c, over) / win(count(c.cast(Wide)), over)

  /** Exact sum at the product scale DECIMAL(38,8) — squares, products and
    * the plain sums that close together with them — returned as double.
    */
  def sum8(c: Column): Column = sum8Decimal(c).cast("double")

  /** [[sum8]] left as its raw DECIMAL(38,8) accumulator, for results that
    * merge exactly later ([[add8]]).
    */
  def sum8Decimal(c: Column): Column = acc(c.cast(Wide8), None)

  /** Exact merge of two [[sum8Decimal]] accumulators, a null side counting
    * as zero; the result keeps the accumulator type.
    */
  def add8(a: Column, b: Column): Column = {
    val zero = lit(BigDecimal(0)).cast(Wide8)
    (coalesce(a, zero) + coalesce(b, zero)).cast(Wide8)
  }

  /** The gated moment sums (n, Σx, Σx²) — raw accumulators (n a LONG
    * count, the sums decimals); [[Moments.toDouble]] casts all three.
    *
    * n, Sx and Sxx are ALL gated on the x² decimal cast: DECIMAL(38,8)
    * holds 30 integer digits, so for |x| ≳ 1e15 the x² cast leaves range
    * while x itself still fits DECIMAL(38,4) (34 digits). Under ANSI mode
    * (the Spark 4 default) the overflow RAISES — loud, never wrong. Under
    * non-ANSI the cast nulls, and without the gate the row would count in
    * n/Sx while dropping from Sxx — a finite but wrong stddev; gating all
    * three on the same cast excludes such a row (and NaN/Inf, which null
    * the cast in either mode) from the statistic entirely — the same
    * consistent-exclusion contract as [[avg]]. The SQL face
    * ([[momentsSql]]) carries the same gate; DuckDB likewise raises on
    * decimal overflow, so past the 1e15 bound every face fails loudly
    * rather than diverging silently.
    *
    * `mask` restricts the rows summed (rows outside it count nowhere);
    * `over` windows all three sums.
    */
  def moments(x: Column, mask: Option[Column] = None,
              over: Option[WindowSpec] = None): Moments = {
    val xx = (x * x).cast(Wide8)
    val kept = mask.fold(xx)(m => when(m, xx))
    val gate = mask.fold(xx.isNotNull)(_ && xx.isNotNull)
    Moments(win(count(kept), over), acc(when(gate, x).cast(Wide), over), acc(kept, over))
  }

  /** (n, Σx, Σx²) and the sample statistics closed from them — all three
    * must already be doubles for the closings.
    */
  final case class Moments(n: Column, sx: Column, sxx: Column) {
    def toDouble: Moments = Moments(n.cast("double"), sx.cast("double"), sxx.cast("double"))
    def mean: Column = sx / n
    def variance: Column = (sxx - sx * sx / n) / (n - lit(1.0))
    def stddev: Column = sqrt(variance)
  }

  /** Sample stddev sqrt((Sxx - Sx^2/n)/(n-1)) from the gated exact sums:
    * x*x is computed per-row in double (deterministic), then accumulated
    * exactly; deterministic regardless of partitioning.
    */
  def stddev(c: Column): Column = moments(c).toDouble.stddev

  /** Sample variance — [[stddev]] without the square root. */
  def variance(c: Column): Column = moments(c).toDouble.variance

  // ---- decimal sums: SQL face ------------------------------------------
  // Each takes a SQL expression and an optional `OVER (…)` clause and
  // spells the same casts as its Column twin above.

  def sumSql(x: String, over: String = ""): String =
    s"CAST(${accSql(s"CAST($x AS ${Wide.sql})", over)} AS DOUBLE)"

  def avgSql(x: String, over: String = ""): String =
    s"${sumSql(x, over)} / ${winSql(s"COUNT(CAST($x AS ${Wide.sql}))", over)}"

  def sum8Sql(x: String): String = s"CAST(${sum8DecimalSql(x)} AS DOUBLE)"

  def sum8DecimalSql(x: String): String = accSql(s"CAST($x AS ${Wide8.sql})", "")

  /** [[moments]] in SQL, each term already cast to DOUBLE. */
  def momentsSql(x: String, over: String = ""): MomentsSql = {
    val xx = s"CAST($x * $x AS ${Wide8.sql})"
    MomentsSql(
      s"CAST(${winSql(s"COUNT($xx)", over)} AS DOUBLE)",
      s"CAST(${accSql(s"CASE WHEN $xx IS NOT NULL THEN CAST($x AS ${Wide.sql}) END", over)} AS DOUBLE)",
      s"CAST(${accSql(xx, over)} AS DOUBLE)")
  }

  final case class MomentsSql(n: String, sx: String, sxx: String) {
    private def ratio = s"($sxx - $sx * $sx / $n) / ($n - 1.0)"
    def variance: String = s"($ratio)"
    def stddev: String = s"SQRT($ratio)"
  }

  // ---- fixed point -----------------------------------------------------
  // `digits` is k in 10^k; Math.pow is exact on these integer powers.

  private def pow10(digits: Int): Double = math.pow(10, digits)
  private def pow10Sql(digits: Int): String = "1" + "0" * digits
  private def scaled(x: Column, digits: Int): Column =
    floor(x * lit(pow10(digits)) + lit(0.5))

  /** The fixed-point quantizer floor(x·10^digits + 0.5) as BIGINT —
    * applied per row before any cross-row combination, so float
    * associativity never touches a cross-row result.
    */
  def fpq(x: Column, digits: Int = 6): Column = scaled(x, digits).cast("long")

  /** [[fpq]] on the driver, for values computed host-side that must
    * match the quantized columns bit for bit.
    */
  def fpqHost(x: Double, digits: Int = 6): Long =
    math.floor(x * pow10(digits) + 0.5).toLong

  /** x rounded half-up to `digits` decimals, as a double: the quantizer
    * read straight back.
    */
  def fpRound(x: Column, digits: Int = 6): Column = scaled(x, digits) / lit(pow10(digits))

  /** A fixed-point integer (or its sum) read back as a double. */
  def fromFixed(q: Column, digits: Int = 6): Column = q.cast("double") / lit(pow10(digits))

  /** Exact Σ of fixed-point integers, as its raw DECIMAL(38,0). */
  def fixedSum(q: Column): Column = acc(q.cast(Fixed), None)

  /** Mean of fixed-point integers read back as a double: the exact sum,
    * divided by `n`, then by the scale (in that order).
    */
  def fixedMean(q: Column, n: Column, digits: Int): Column =
    fixedSum(q).cast("double") / n / lit(pow10(digits))

  def fpqSql(x: String, digits: Int = 6): String =
    s"CAST(FLOOR($x * ${pow10Sql(digits)} + 0.5) AS BIGINT)"

  def fpRoundSql(x: String, digits: Int = 6): String =
    s"FLOOR($x * ${pow10Sql(digits)} + 0.5) / ${pow10Sql(digits)}"

  def fromFixedSql(q: String, digits: Int = 6): String =
    s"CAST($q AS DOUBLE) / ${pow10Sql(digits)}"

  def fixedSumSql(q: String): String = accSql(s"CAST($q AS ${Fixed.sql})", "")

  def fixedMeanSql(q: String, n: String, digits: Int): String =
    s"CAST(${fixedSumSql(q)} AS DOUBLE) / $n / ${pow10Sql(digits)}"

  // ---- split-long product-scale sum -------------------------------------

  /** Split-long exact DECIMAL(38,8) sum — the probe-gated fast
    * accumulation for [[graft.ops.AggOps.corrMatrix]]'s moment sums.
    * Value: IDENTICAL to [[sum8]] whenever [[splitSumSafe]] holds for a
    * bound ≥ max |x| over the summed values and a count ≥ the number of
    * summed rows. The per-row conversion is
    * [[graft.functions.Dec8Unscaled]] — the unscaled long U of
    * `CAST(x AS DECIMAL(38,8))` (same shortest-decimal HALF_UP rounding,
    * exact BigDecimal fallback). U splits into hi = U >> 32 and
    * lo = U & 0xFFFFFFFF (U = hi·2³² + lo exactly, lo non-negative), each
    * summed as a plain LONG — codegen long adds into 8-byte
    * hash-aggregate buffer slots instead of per-row BigDecimal adds into
    * a 16-byte decimal slot — then recombined EXACTLY in decimal space:
    * `Σhi · (2³²·10⁻⁸) + MakeDecimal(Σlo)`, a decimal(19,0)·decimal(10,8)
    * product plus a decimal(20,8). Integer arithmetic throughout, so the
    * partitioning-independence contract of the decimal path is preserved
    * bit-for-bit, including the final decimal→double conversion (equal
    * decimal values, same `toDouble`).
    *
    * The expression is TOTAL, so it may run before anything is proven
    * about its input (the validate-after-the-pass route below):
    *  - `Dec8Unscaled` drops a value with |x| ≥ its `MaxAbs` = 2⁶²·10⁻⁸
    *    (or ±Inf, or NaN) to null instead of converting it, and never
    *    throws;
    *  - Σhi and Σlo are non-ANSI long sums ([[wrappingSum]]): an
    *    overflow wraps instead of raising, and the value is then never
    *    trusted.
    * Neither can ever leave a wrong value that is then trusted: a dropped
    * row has |x| ≥ 2⁶²·10⁻⁸ > 2⁶¹/1.01·10⁻⁸, the largest bound
    * [[splitSumSafe]] admits, and a long sum can only overflow past the
    * count and bound [[splitSumSafe]] admits — so whenever the check
    * passes on the bound and count the SAME pass measured (max |x| over
    * finite values, `count(1)`), no row was dropped and no sum
    * overflowed, and the value equals [[sum8]]. That is the post-pass validation argument: a
    * caller may compute these sums speculatively next to the range probe
    * in ONE aggregate and check [[splitSumSafe]] afterwards; a sum whose
    * check fails is discarded and recomputed on the decimal path.
    * Measured (OPTIMIZATION_r18.md, sf0.1 lineitem, the 9 corr_matrix
    * moment sums): 3.41 s → 1.73 s, aggregate rows bit-identical.
    */
  def splitDecimalSum8(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.MakeDecimal
    val u = GraftBridge.column(graft.functions.Dec8Unscaled(GraftBridge.expression(c)))
    val hi = shiftright(u, 32)
    val lo = u.bitwiseAND(lit(0xFFFFFFFFL))
    // precisions are deliberately TIGHT so the recombining Add's result
    // type stays within 38 digits WITHOUT precision-loss scale reduction
    // (a decimal(31,8) + decimal(38,8) add would plan as decimal(38,7)
    // and ROUND the 8th decimal): Σhi < 2^61 fits decimal(19,0), the
    // product is decimal(30,8), Σlo·10⁻⁸ < 2^62·10⁻⁸ fits decimal(20,8),
    // and their sum plans as decimal(31,8) — exact, and bounded by the
    // probe (|total| < 2^61·10⁻⁸ ≈ 2.3e10, 11 integer digits of 23).
    (wrappingSum(hi).cast(DecimalType(19, 0)) *
      lit(new java.math.BigDecimal("42.94967296")) +
      GraftBridge.column(MakeDecimal(
        GraftBridge.expression(wrappingSum(lo)), 20, 8,
        nullOnOverflow = true)))
      .cast("double")
  }

  /** Σ of a long column with non-ANSI (wrapping) adds, whatever the
    * session's ANSI setting: it never raises, and callers trust it only
    * where [[splitSumSafe]] proves it cannot overflow. (`try_sum` would
    * also never raise, but its exception guard made the fused corr pass
    * ~13% slower: 132 vs 116 ms median on sf0.01 lineitem, 4 cores.)
    */
  private def wrappingSum(c: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{EvalMode, NumericEvalContext}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    GraftBridge.column(Sum(GraftBridge.expression(c), NumericEvalContext(EvalMode.LEGACY))
      .toAggregateExpression())
  }

  /** Proof obligation for [[splitDecimalSum8]], from a measured bound ≥
    * max |x| over the summed values and a row count `n` ≥ the number of
    * summed rows: every per-row |unscaled| = |round(x·10⁸)| must fit a
    * long with margin (also keeps `toUnscaledLong` exact), Σ lo must fit
    * (n < 2³⁰ ⇒ Σ lo < 2⁶²), and Σ |hi| ≤ n·(maxU/2³² + 1) must stay
    * under 2⁶¹ — long sums then cannot overflow. A NaN or infinite bound
    * (unprobed column, Inf in the data) fails every comparison and keeps
    * the decimal path; so does corpus-scale n — the gate is measured,
    * never tuned to a cluster size. Monotone: a larger bound or count
    * never passes where a smaller one fails.
    */
  def splitSumSafe(bound: Double, n: Long): Boolean = {
    val maxU = bound * 1e8
    val lim = (1L << 61).toDouble
    n >= 0 && n < (1L << 30) && maxU >= 0.0 &&
      maxU * 1.01 < lim &&
      (n.toDouble + 1.0) * (maxU / 4294967296.0 + 2.0) < lim
  }

  /** Exact, order-independent dot product of two numeric array columns.
    *
    * Per-element products are rounded to 1e-12 fixed-point longs (ties away
    * from zero — the rounding both Spark's HALF_UP and DuckDB's round()
    * use) and summed as integers: no accumulation-order sensitivity, no
    * decimal-precision widening. Headroom: |x·y| ≤ ~9e5 per element before
    * int64 overflow at 64–4096 dims — plenty for unit-normalized
    * embeddings.
    */
  def dot(a: Column, b: Column): Column = graft.functions.FixedPointDot(a, b)
}
