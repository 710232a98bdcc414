package graft.core

import org.apache.spark.sql.Column
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
  * Used by the `aggregate`/window operators for float inputs; disable per
  * column by calling the plain functions instead.
  */
object Exact {
  /** Scale kept during exact accumulation. 38-4 = 34 integer digits of
    * headroom: enough for 1e20 rows of 1e14-magnitude values.
    */
  val Scale = 4
  val Wide: DecimalType = DecimalType(38, Scale)

  def isFloating(dt: DataType): Boolean = dt == DoubleType || dt == FloatType

  /** Exact sum of a floating column, returned as double. */
  def sum(c: Column): Column = functions_sum(c.cast(Wide)).cast("double")

  /** Exact mean: exact sum / count. The count is over the SAME decimal
    * cast the sum accumulates — `cast(NaN as decimal)` is null, so a NaN
    * value (or an Inf, or an overflow) leaves numerator AND denominator
    * together; `count(c)` would count it (non-null) and silently bias the
    * mean low. Division done once in double space.
    */
  def avg(c: Column): Column = sum(c) / count(c.cast(Wide))

  /** Population/sample stddev from exact sums: sqrt((Sxx - Sx^2/n)/(n-1)).
    * x*x is computed per-row in double (deterministic), then accumulated
    * exactly; deterministic regardless of partitioning.
    *
    * n, Sx and Sxx are ALL gated on the x² decimal cast: DECIMAL(38,8)
    * holds 30 integer digits, so for |x| ≳ 1e15 the x² cast leaves range
    * while x itself still fits DECIMAL(38,4) (34 digits). Under ANSI mode
    * (the Spark 4 default) the overflow RAISES — loud, never wrong. Under
    * non-ANSI the cast nulls, and before this gate the row counted in
    * n/Sx while dropping from Sxx — a finite but wrong stddev; gating all
    * three on the same cast excludes such a row (and NaN/Inf, which null
    * the cast in either mode) from the statistic entirely — the same
    * consistent-exclusion contract as [[avg]]. SQL faces spelling this
    * formula out carry the same gate; DuckDB likewise raises on decimal
    * overflow, so past the 1e15 bound every face fails loudly rather
    * than diverging silently.
    */
  def stddev(c: Column): Column = {
    val xx = (c * c).cast(DecimalType(38, 8))
    val n = count(xx).cast("double")
    val sx = functions_sum(when(xx.isNotNull, c).cast(Wide)).cast("double")
    val sxx = functions_sum(xx).cast("double")
    sqrt((sxx - sx * sx / n) / (n - lit(1.0)))
  }

  /** Sample variance from the same gated exact sums — [[stddev]] without
    * the square root; identical NaN/overflow exclusion contract.
    */
  def variance(c: Column): Column = {
    val xx = (c * c).cast(DecimalType(38, 8))
    val n = count(xx).cast("double")
    val sx = functions_sum(when(xx.isNotNull, c).cast(Wide)).cast("double")
    val sxx = functions_sum(xx).cast("double")
    (sxx - sx * sx / n) / (n - lit(1.0))
  }

  /** Split-long exact DECIMAL(38,8) sum — the probe-gated fast
    * accumulation for [[graft.ops.AggOps.corrMatrix]]'s moment sums.
    * Value: IDENTICAL to `SUM(CAST(x AS DECIMAL(38,8))) CAST AS DOUBLE`,
    * PROVIDED the caller proved [[splitSumSafe]] with a bound ≥ max |x|
    * over the summed values and the row count. The per-row CAST is the
    * very same expression (same shortest-decimal HALF_UP rounding, same
    * null/overflow/ANSI semantics); only the ACCUMULATION changes: the
    * cast's unscaled long U (exact-long extraction —
    * `Decimal.toUnscaledLong` is `longValueExact`, loud on any probe
    * violation) splits into hi = U >> 32 and lo = U & 0xFFFFFFFF
    * (U = hi·2³² + lo exactly, lo non-negative), each summed as a plain
    * LONG — codegen long adds into 8-byte hash-aggregate buffer slots
    * instead of per-row BigDecimal adds into a 16-byte decimal slot —
    * then recombined EXACTLY in decimal space:
    * `Σhi · (2³²·10⁻⁸) + MakeDecimal(Σlo)`, a decimal(20,0)·decimal(10,8)
    * product (31 digits, exact) plus a decimal(38,8). Integer arithmetic
    * throughout, so the partitioning-independence contract of the
    * decimal path is preserved bit-for-bit, including the final
    * decimal→double conversion (equal decimal values, same `toDouble`).
    * Measured (OPTIMIZATION_r18.md, sf0.1 lineitem, the 9 corr_matrix
    * moment sums): 3.41 s → 1.73 s, aggregate rows bit-identical.
    */
  def splitDecimalSum8(c: Column, fastCast: Boolean = false): Column = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{MakeDecimal, UnscaledValue}
    // fastCast swaps the cast+UnscaledValue pair for the one-call codegen
    // conversion [[graft.functions.Dec8Unscaled]] (identical values —
    // provably-unambiguous pure arithmetic with the exact BigDecimal
    // fallback; see its doc). Callers may only enable it under the same
    // probe that gates this sum: inputs null or FINITE (an Inf fails its
    // column's probe bound, so no split sum is built for it).
    val u =
      if (fastCast) GraftBridge.column(
        graft.functions.Dec8Unscaled(GraftBridge.expression(c)))
      else GraftBridge.column(UnscaledValue(
        GraftBridge.expression(c.cast(DecimalType(38, 8)))))
    val hi = shiftright(u, 32)
    val lo = u.bitwiseAND(lit(0xFFFFFFFFL))
    // precisions are deliberately TIGHT so the recombining Add's result
    // type stays within 38 digits WITHOUT precision-loss scale reduction
    // (a decimal(31,8) + decimal(38,8) add would plan as decimal(38,7)
    // and ROUND the 8th decimal): Σhi < 2^61 fits decimal(19,0), the
    // product is decimal(30,8), Σlo·10⁻⁸ < 2^62·10⁻⁸ fits decimal(20,8),
    // and their sum plans as decimal(31,8) — exact, and bounded by the
    // probe (|total| < 2^61·10⁻⁸ ≈ 2.3e10, 11 integer digits of 23).
    (functions_sum(hi).cast(DecimalType(19, 0)) *
      lit(new java.math.BigDecimal("42.94967296")) +
      GraftBridge.column(MakeDecimal(
        GraftBridge.expression(functions_sum(lo)), 20, 8, nullOnOverflow = true)))
      .cast("double")
  }

  /** Proof obligation for [[splitDecimalSum8]], from a measured bound ≥
    * max |x| over the summed values and a row count `n` ≥ the number of
    * summed rows: every per-row |unscaled| = |round(x·10⁸)| must fit a
    * long with margin (also keeps `toUnscaledLong` exact), Σ lo must fit
    * (n < 2³⁰ ⇒ Σ lo < 2⁶²), and Σ |hi| ≤ n·(maxU/2³² + 1) must stay
    * under 2⁶¹ — long sums then cannot overflow even under ANSI. A NaN
    * or infinite bound (unprobed column, Inf in the data) fails every
    * comparison and keeps the decimal path; so does corpus-scale n —
    * the gate is measured, never tuned to a cluster size.
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

  private def functions_sum(c: Column): Column = org.apache.spark.sql.functions.sum(c)
}
