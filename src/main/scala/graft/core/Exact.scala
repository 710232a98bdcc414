package graft.core

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, FloatType}
import graft.functions.{Dec8Unscaled, ExactSum}

/** Deterministic (partitioning-independent) floating-point aggregation.
  *
  * Plain `sum(double)` depends on accumulation order, which in a distributed
  * engine depends on partitioning — the same query can return different last
  * bits on different cluster layouts, which breaks result reproducibility and
  * oracle/hash-based testing at any scale. Summing the values as exact
  * decimals makes the sum order-independent.
  *
  * This object is the ONE home of the two exact-sum contracts; ops call
  * its helpers and never spell the casts themselves (SessionSpec's source
  * census enforces it):
  *
  *  - decimal sums: values accumulate as `SUM(CAST(x AS DECIMAL(38,4)))`
  *    ([[Wide]]), squares and products at DECIMAL(38,8); a mean counts
  *    over the same cast its sum accumulates, and moments gate n, Σx and
  *    Σx² on the x² cast;
  *  - fixed point: a value quantizes to `floor(x·10^k + 0.5)` as BIGINT
  *    ([[fpq]]) before any cross-row combination, and the integers sum as
  *    DECIMAL(38,0) ([[fixedSum]]).
  *
  * Each contract has a Column face (optionally windowed) and a SQL-text
  * face spelling the same arithmetic, so an op's plan and its rendered
  * SQL agree by construction. Every sum of every Column face is ONE
  * native aggregate, [[graft.functions.ExactSum]]: it takes each row's
  * unscaled decimal as a long ([[graft.functions.Dec8Unscaled]], whose
  * fast path skips the `Double.toString` + BigDecimal parse of the cast;
  * its margin derivation covers every scale used here) and adds it into
  * long limbs, codegen'd in hash aggregates, window frames and `observe`.
  * Its value is the decimal SUM's, and its double result equals the
  * decimal's `CAST(… AS DOUBLE)` bit for bit. The SQL faces spell the
  * decimal SUM itself.
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

  private def unscaled(x: Column, scale: Int): Column =
    GraftBridge.column(Dec8Unscaled(GraftBridge.expression(x), scale))

  /** Σ CAST(x AS DECIMAL(38,scale)) over the rows `mask` keeps,
    * optionally windowed: the decimal, or with `asDouble` that decimal
    * read as a double.
    */
  private def acc(x: Column, scale: Int, over: Option[WindowSpec], asDouble: Boolean,
                  mask: Option[Column] = None): Column = {
    val e = ExactSum(GraftBridge.expression(unscaled(x, scale)), GraftBridge.expression(x),
      mask.fold[Expression](Literal.TrueLiteral)(GraftBridge.expression),
      scale, asDouble, SQLConf.get.ansiEnabled)
    win(GraftBridge.column(e.toAggregateExpression()), over)
  }

  /** `CAST(x AS DECIMAL(38,scale)) IS NOT NULL`, the cast evaluated only
    * on the rows the long conversion leaves out of range.
    */
  private def converts(x: Column, scale: Int): Column = {
    val u = unscaled(x, scale)
    u.isNotNull && (u =!= lit(Dec8Unscaled.OutOfRange) ||
      x.cast(DecimalType(38, scale)).isNotNull)
  }

  private def winSql(agg: String, over: String): String =
    if (over.isEmpty) agg else s"$agg $over"

  /** SQL twin of [[acc]]: `over` is an `OVER (…)` clause or empty. */
  private def accSql(dec: String, over: String): String = winSql(s"SUM($dec)", over)

  // ---- decimal sums: Column face ---------------------------------------

  /** Exact sum of a floating column (optionally windowed), as double. */
  def sum(c: Column, over: Option[WindowSpec] = None): Column =
    acc(c, Scale, over, asDouble = true)

  /** Exact mean: exact sum / count. The count is over the SAME decimal
    * cast the sum accumulates — `cast(NaN as decimal)` is null, so a NaN
    * value (or an Inf, or an overflow) leaves numerator AND denominator
    * together; `count(c)` would count it (non-null) and silently bias the
    * mean low. Division done once in double space.
    */
  def avg(c: Column, over: Option[WindowSpec] = None): Column =
    sum(c, over) / win(count(when(converts(c, Scale), lit(1))), over)

  /** Exact sum at the product scale DECIMAL(38,8) — squares, products and
    * the plain sums that close together with them — over the rows `mask`
    * keeps, returned as double.
    */
  def sum8(c: Column, mask: Option[Column] = None): Column =
    acc(c, 8, None, asDouble = true, mask)

  /** [[sum8]] left as its raw DECIMAL(38,8) accumulator, for results that
    * merge exactly later ([[add8]]).
    */
  def sum8Decimal(c: Column): Column = acc(c, 8, None, asDouble = false)

  /** Exact merge of two [[sum8Decimal]] accumulators, a null side counting
    * as zero; the result keeps the accumulator type.
    */
  def add8(a: Column, b: Column): Column = {
    val zero = lit(BigDecimal(0)).cast(Wide8)
    (coalesce(a, zero) + coalesce(b, zero)).cast(Wide8)
  }

  /** The gated moment sums (n, Σx, Σx²): n a LONG count, the sums exact
    * doubles; [[Moments.toDouble]] casts n for the closings.
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
    val xx = x * x
    val gate = mask.fold(converts(xx, 8))(converts(xx, 8) && _)
    Moments(win(count(when(gate, lit(1))), over),
      acc(x, Scale, over, asDouble = true, Some(gate)),
      acc(xx, 8, over, asDouble = true, mask))
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
  def fixedSum(q: Column): Column = acc(q, 0, None, asDouble = false)

  /** Mean of fixed-point integers read back as a double: the exact sum,
    * divided by `n`, then by the scale (in that order).
    */
  def fixedMean(q: Column, n: Column, digits: Int): Column =
    acc(q, 0, None, asDouble = true) / n / lit(pow10(digits))

  def fpqSql(x: String, digits: Int = 6): String =
    s"CAST(FLOOR($x * ${pow10Sql(digits)} + 0.5) AS BIGINT)"

  def fpRoundSql(x: String, digits: Int = 6): String =
    s"FLOOR($x * ${pow10Sql(digits)} + 0.5) / ${pow10Sql(digits)}"

  def fromFixedSql(q: String, digits: Int = 6): String =
    s"CAST($q AS DOUBLE) / ${pow10Sql(digits)}"

  def fixedSumSql(q: String): String = accSql(s"CAST($q AS ${Fixed.sql})", "")

  def fixedMeanSql(q: String, n: String, digits: Int): String =
    s"CAST(${fixedSumSql(q)} AS DOUBLE) / $n / ${pow10Sql(digits)}"

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
