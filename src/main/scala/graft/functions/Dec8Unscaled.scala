package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** `unscaled(CAST(x AS DECIMAL(38,8)))` as one codegen'd long-valued
  * expression — the per-row conversion behind
  * [[graft.core.Exact.splitDecimalSum8]]. The decimal cast's semantics
  * are Java's shortest-decimal rendering rounded HALF_UP at 8
  * fractional digits (`BigDecimal.valueOf(x).setScale(8, HALF_UP)`),
  * which normally costs a `Double.toString` + BigDecimal parse +
  * setScale per row per sum. [[Dec8Unscaled.unscaled8]] takes a
  * pure-arithmetic fast path only when the decision is PROVABLY the
  * cast's, and falls back to that exact BigDecimal computation otherwise.
  *
  * Margin derivation. Let p = x·10⁸ (exact), u = fl(p) the computed
  * product, D the shortest decimal rendering of x, and r = rint(u).
  *  1. |u − p| ≤ ulp(u)/2 (one round-to-nearest multiplication).
  *  2. D parses back to x, so |D − x| ≤ ulp(x)/2, i.e.
  *     |D·10⁸ − p| ≤ 10⁸·ulp(x)/2.
  *  3. With 2^e ≤ |x| < 2^(e+1): |p| ≥ 10⁸·2^e > 2^(e+26), so
  *     |u| ≥ 2^(e+26) and ulp(u) ≥ 2^(e+26−52), while
  *     10⁸·ulp(x) = (10⁸/2²⁶)·2^(e+26−52) ≤ 1.4902·ulp(u).
  *  4. Hence |D·10⁸ − u| ≤ (0.7451 + 0.5)·ulp(u) < 1.25·ulp(u).
  *  5. `distToHalf` = 0.5 − |u − r| is computed exactly for |u| ≥ 1/4
  *     (u − r and the subtraction from 0.5 are exact there: Sterbenz,
  *     and every operand a multiple of ulp(u)); below 1/4 it exceeds
  *     1/4 while |D·10⁸ − u| is orders of magnitude smaller (the bound
  *     of 4. or, for subnormal x, 10⁸·2⁻¹⁰⁷⁴), so the choice is right.
  *  6. If distToHalf > |D·10⁸ − u|, D·10⁸ lies in the same open
  *     interval (r − ½, r + ½) as u, so HALF_UP rounds it to r — no tie
  *     is reachable, and the tie rule never matters.
  * The test `distToHalf > 8·ulp(|u|)` therefore holds a 6.4× margin over
  * the 1.25·ulp bound. Every tie, near-tie and |u| > 2⁵⁰ (where ulp(u)
  * ≥ 1/4 makes the test unsatisfiable anyway) takes the fallback. The
  * margin must not shrink below the bound without re-deriving it, and
  * Round18Spec's exhaustive and randomized `unscaled8` fuzz against the
  * BigDecimal arithmetic is a required gate for ANY edit here.
  *
  * The expression is total: NaN, ±Inf and every |x| ≥ [[Dec8Unscaled.MaxAbs]]
  * (2⁶²·10⁻⁸ ≈ 4.6e10, where the unscaled would near a long's range)
  * evaluate to null, so [[Dec8Unscaled.unscaled8]] only sees finite values
  * whose unscaled fits a long, and its `longValueExact` fallback guard
  * never fires from SQL. Equality with the
  * decimal sum is pinned bitwise over adversarial and randomized
  * fixtures (Round18Spec), including exact half-boundary decimals.
  */
case class Dec8Unscaled(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a double input, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dec8_unscaled"

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[Double]
    if (math.abs(x) < Dec8Unscaled.MaxAbs) Dec8Unscaled.unscaled8(x) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""if (java.lang.Math.abs($c) < ${Dec8Unscaled.MaxAbs}D) {
         |  ${ev.value} = graft.functions.Dec8Unscaled.unscaled8($c);
         |} else {
         |  ${ev.isNull} = true;
         |}""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Dec8Unscaled =
    copy(child = newChild)
}

object Dec8Unscaled {
  private val Cap = (1L << 50).toDouble

  /** Inputs at or past this magnitude (and NaN) evaluate to null:
    * 2⁶²·10⁻⁸ keeps |x·10⁸| inside a long with margin.
    */
  val MaxAbs: Double = (1L << 62).toDouble / 1e8

  /** See the class doc for the margin derivation. `x` must be finite. */
  def unscaled8(x: Double): Long = {
    val u = x * 1e8
    val au = math.abs(u)
    if (au <= Cap) {
      val r = math.rint(u)            // nearest integer (ties excluded below)
      val distToHalf = 0.5 - math.abs(u - r) // u - r exact: same binade, |diff| <= 0.5
      if (distToHalf > 8.0 * math.ulp(au)) return r.toLong
    }
    // exact reference: the decimal cast's own arithmetic
    java.math.BigDecimal.valueOf(x)
      .setScale(8, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }
}
