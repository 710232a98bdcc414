package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `unscaled(CAST(x AS DECIMAL(38,s)))` as one codegen'd long-valued
  * expression — the per-row conversion behind [[ExactSum]] (named for
  * its first scale, 8; [[graft.core.Exact]] uses s = 0, 4 and 8). The
  * decimal cast's semantics on a double are Java's shortest-decimal
  * rendering rounded HALF_UP at s fractional digits
  * (`BigDecimal.valueOf(x).setScale(s, HALF_UP)`), which normally costs a
  * `Double.toString` + BigDecimal parse + setScale per row per sum.
  * [[Dec8Unscaled.unscaled]] takes a pure-arithmetic fast path only when
  * the decision is PROVABLY the cast's, and falls back to that exact
  * BigDecimal computation otherwise.
  *
  * Margin derivation. Let p = x·10^s (exact), u = fl(p) the computed
  * product, D the shortest decimal rendering of x, r = rint(u), and t the
  * largest integer with 2^t ≤ 10^s (t = 13 for s = 4, 26 for s = 8).
  *  1. |u − p| ≤ ulp(u)/2 (one round-to-nearest multiplication).
  *  2. D parses back to x, so |D − x| ≤ ulp(x)/2, i.e.
  *     |D·10^s − p| ≤ 10^s·ulp(x)/2.
  *  3. With 2^e ≤ |x| < 2^(e+1): |p| ≥ 10^s·2^e ≥ 2^(e+t), so
  *     ulp(u) ≥ 2^(e+t−52), while 10^s·ulp(x) = (10^s/2^t)·2^(e+t−52)
  *     ≤ (10^s/2^t)·ulp(u): 10⁴/2¹³ = 1.2207 at s = 4, 10⁸/2²⁶ = 1.4902
  *     at s = 8, and below 2 for every s.
  *  4. Hence |D·10^s − u| ≤ (0.6104 + 0.5)·ulp(u) < 1.11·ulp(u) at s = 4,
  *     (0.7451 + 0.5)·ulp(u) < 1.25·ulp(u) at s = 8, < 1.5·ulp(u) always.
  *  5. `distToHalf` = 0.5 − |u − r| is computed exactly for |u| ≥ 1/4
  *     (u − r and the subtraction from 0.5 are exact there: Sterbenz,
  *     and every operand a multiple of ulp(u)); below 1/4 it exceeds
  *     1/4 while |D·10^s − u| is orders of magnitude smaller (the bound
  *     of 4. or, for subnormal x, 10^s·2⁻¹⁰⁷⁴), so the choice is right.
  *  6. If distToHalf > |D·10^s − u|, D·10^s lies in the same open
  *     interval (r − ½, r + ½) as u, so HALF_UP rounds it to r — no tie
  *     is reachable, and the tie rule never matters.
  * The test `distToHalf > 8·ulp(|u|)` therefore holds a 7.2× margin over
  * the 1.11·ulp bound at s = 4 and 6.4× over the 1.25·ulp bound at
  * s = 8. Every tie, near-tie and |u| > 2⁵⁰ (where ulp(u) ≥ 1/4 makes the
  * test unsatisfiable anyway) takes the fallback. The margin must not
  * shrink below the bound without re-deriving it, and Round18Spec's
  * exhaustive and randomized fuzz against the BigDecimal arithmetic (one
  * sweep per scale) is a required gate for ANY edit here.
  *
  * Other inputs: an integral child multiplies by 10^s exactly; a float,
  * decimal or any other type is not converted here. A value whose
  * conversion is not a long with margin — |x·10^s| ≥ 2⁶², NaN, ±Inf, or
  * a non-integral, non-double input — evaluates to
  * [[Dec8Unscaled.OutOfRange]], and [[ExactSum]] adds that row through
  * Spark's own cast instead. A null input is null.
  */
case class Dec8Unscaled(child: Expression, scale: Int = 8)
    extends UnaryExpression {
  require(scale >= 0 && scale <= 18, s"dec8_unscaled: scale $scale outside [0, 18]")

  override def dataType: DataType = LongType
  override def prettyName: String = "dec8_unscaled"

  override protected def nullSafeEval(input: Any): Any = child.dataType match {
    case DoubleType => Dec8Unscaled.unscaled(input.asInstanceOf[Double], scale)
    case ByteType | ShortType | IntegerType | LongType =>
      Dec8Unscaled.unscaledLong(input.asInstanceOf[Number].longValue, scale)
    case _ => Dec8Unscaled.OutOfRange
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => child.dataType match {
      case DoubleType =>
        s"${ev.value} = graft.functions.Dec8Unscaled.unscaled($c, $scale);"
      case ByteType | ShortType | IntegerType | LongType =>
        s"${ev.value} = graft.functions.Dec8Unscaled.unscaledLong((long) $c, $scale);"
      case _ => s"${ev.value} = ${Dec8Unscaled.OutOfRange}L;"
    })

  override protected def withNewChildInternal(newChild: Expression): Dec8Unscaled =
    copy(child = newChild)
}

object Dec8Unscaled {
  /** The marker of a value this conversion leaves to the decimal cast. */
  val OutOfRange: Long = Long.MinValue

  private val Cap = (1L << 50).toDouble
  private val Limit = (1L << 62).toDouble
  private val Pow10: Array[Double] = Array.iterate(1.0, 19)(_ * 10.0) // exact to 1e22
  private val LongPow10: Array[Long] = Array.iterate(1L, 19)(_ * 10L)

  /** See the class doc for the margin derivation. */
  def unscaled(x: Double, scale: Int): Long = {
    val u = x * Pow10(scale)
    val au = math.abs(u)
    if (!(au < Limit)) return OutOfRange // NaN, ±Inf, or past 2^62
    if (au <= Cap) {
      val r = math.rint(u)            // nearest integer (ties excluded below)
      val distToHalf = 0.5 - math.abs(u - r) // u - r exact: same binade, |diff| <= 0.5
      if (distToHalf > 8.0 * math.ulp(au)) return r.toLong
    }
    // exact reference: the decimal cast's own arithmetic
    java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }

  /** x·10^scale, or [[OutOfRange]] where it passes 2⁶². */
  def unscaledLong(x: Long, scale: Int): Long = {
    val lim = (1L << 62) / LongPow10(scale)
    if (x > -lim && x < lim) x * LongPow10(scale) else OutOfRange
  }
}
