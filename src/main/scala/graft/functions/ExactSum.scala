package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** `SUM(CAST(x AS DECIMAL(38,s)))` accumulated in long buffers — the one
  * exact-sum primitive behind every Column face of [[graft.core.Exact]].
  *
  * Children: `unscaled` is the row's [[Dec8Unscaled]] conversion (the
  * unscaled long of the cast, or [[Dec8Unscaled.OutOfRange]]), `raw` the
  * value that conversion read, and `mask` the rows that count. Keeping
  * the conversion a child lets the analyzer's window-argument extraction
  * and subexpression elimination compute it once per row, however many
  * sums read it.
  *
  * The sum is held as four limbs, V = l₀ + l₁·2³² + l₂·2⁶⁴ + l₃·2⁹⁶. An
  * in-range row adds its unscaled u as lo = u & (2³²−1) into l₀ and
  * hi = u >> 32 into l₁ (u = hi·2³² + lo exactly, lo ∈ [0, 2³²),
  * |hi| ≤ 2³¹). A row the conversion leaves out of range goes through
  * Spark's own `CAST(raw AS DECIMAL(38,s))` — NaN and ±Inf cast to null,
  * and an overflowing value raises under ANSI and nulls otherwise,
  * exactly as in the decimal SUM — and adds the four 32-bit limbs of that
  * decimal's unscaled value. Every per-row limb is below 2³² in
  * magnitude, so no limb sum can overflow below 2³¹ summed rows in one
  * group; past that the adds are ANSI adds, which raise rather than wrap.
  * In-range rows touch no BigDecimal and no decimal buffer slot.
  *
  * The result is the DECIMAL(38,s) value V·10^-s of the decimal SUM: null
  * when no row counted, and, when |V| passes 38 digits, the decimal SUM's
  * overflow (raised under ANSI, null otherwise). Where the decimal SUM
  * nulls a partial that overflows on its way to an in-range total (mixed
  * signs near 10^(38−s)), its answer depends on the partitioning; this
  * sum returns the exact total there. With `asDouble` the result is that
  * decimal read as a double: V/10^s in double arithmetic when |V| < 2⁵³
  * (both operands exact, so the quotient is correctly rounded, as
  * `Decimal.toDouble` is), `Decimal.toDouble` otherwise — bit-identical
  * to `CAST(… AS DOUBLE)` of the decimal result either way.
  *
  * `ansi` is the session's ANSI mode when the sum was built; it governs
  * the out-of-range rows' cast and the result's overflow, as it governs
  * the cast and the SUM built in that session.
  */
case class ExactSum(unscaled: Expression, raw: Expression, mask: Expression,
                    scale: Int, asDouble: Boolean, ansi: Boolean)
    extends DeclarativeAggregate {

  private def decType = DecimalType(38, scale)

  override def children: Seq[Expression] = Seq(unscaled, raw, mask)
  override def nullable: Boolean = true
  override def dataType: DataType = if (asDouble) DoubleType else decType
  override def prettyName: String = "exact_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    if (unscaled.dataType != LongType || mask.dataType != BooleanType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName takes (bigint, value, boolean), got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
    else if (!Cast.canCast(raw.dataType, decType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName cannot cast ${raw.dataType.simpleString} to ${decType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val limbs: Seq[AttributeReference] =
    (0 until 4).map(k => AttributeReference(s"l$k", LongType, nullable = false)())
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = limbs :+ seen
  override lazy val initialValues: Seq[Expression] = Seq.fill(4)(Literal(0L)) :+ Literal(false)

  private def add(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.ANSI))

  override lazy val updateExpressions: Seq[Expression] = {
    val m = if (mask.nullable) Coalesce(Seq(mask, Literal(false))) else mask
    val live = And(m, IsNotNull(unscaled))
    val marked = EqualTo(unscaled, Literal(Dec8Unscaled.OutOfRange))
    val inRange = And(live, Not(marked))
    val evalMode = if (ansi) EvalMode.ANSI else EvalMode.LEGACY
    val dec = If(And(live, marked), Cast(raw, decType, None, evalMode), Literal(null, decType))
    val side = (0 until 4).map(DecimalLimb(dec, _))
    Seq(
      add(limbs(0), If(inRange, BitwiseAnd(unscaled, Literal(0xFFFFFFFFL)), side(0))),
      add(limbs(1), If(inRange, ShiftRight(unscaled, Literal(32)), side(1))),
      add(limbs(2), side(2)),
      add(limbs(3), side(3)),
      Or(seen, Or(inRange, IsNotNull(dec))))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    limbs.map(l => add(l.left, l.right)) :+ Or(seen.left, seen.right)

  override lazy val evaluateExpression: Expression =
    ExactSumResult(aggBufferAttributes, scale, asDouble, ansi)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactSum =
    copy(unscaled = newChildren(0), raw = newChildren(1), mask = newChildren(2))
}

object ExactSum {
  private val Mask32 = 0xFFFFFFFFL
  private val Pow10: Array[Double] = Array.iterate(1.0, 19)(_ * 10.0)
  private val Max38 = java.math.BigInteger.TEN.pow(38)

  /** V = l₀ + l₁·2³² when that is below 2⁵³ in magnitude, else
    * Long.MinValue (never such a V).
    */
  private def small(l0: Long, l1: Long, l2: Long, l3: Long): Long =
    if (l2 == 0L && l3 == 0L && l1 > -(1L << 20) && l1 < (1L << 20) && l0 < (1L << 52))
      (l1 << 32) + l0
    else Long.MinValue

  private def wide(l0: Long, l1: Long, l2: Long, l3: Long): java.math.BigInteger = {
    import java.math.BigInteger.valueOf
    valueOf(l3).shiftLeft(96).add(valueOf(l2).shiftLeft(64))
      .add(valueOf(l1).shiftLeft(32)).add(valueOf(l0))
  }

  /** The sum as DECIMAL(38,scale); null when |V| passes 38 digits
    * outside ANSI mode, which raises instead.
    */
  def toDecimal(l0: Long, l1: Long, l2: Long, l3: Long, scale: Int, ansi: Boolean): Decimal = {
    val v = small(l0, l1, l2, l3)
    if (v != Long.MinValue) return Decimal(v, 38, scale)
    val big = wide(l0, l1, l2, l3)
    if (big.abs.compareTo(Max38) < 0) Decimal(new java.math.BigDecimal(big, scale), 38, scale)
    else if (ansi) throw GraftBridge.decimalSumOverflow()
    else null
  }

  /** [[toDecimal]] read as a double; NaN stands for its null (an exact
    * sum is always finite).
    */
  def toDouble(l0: Long, l1: Long, l2: Long, l3: Long, scale: Int, ansi: Boolean): Double = {
    val v = small(l0, l1, l2, l3)
    if (v != Long.MinValue) return v.toDouble / Pow10(scale)
    val d = toDecimal(l0, l1, l2, l3, scale, ansi)
    if (d == null) Double.NaN else d.toDouble
  }

  /** Limb k of a decimal's unscaled value (k < 3: bits 32k..32k+31,
    * unsigned; k = 3: the signed rest from bit 96); 0 for null.
    */
  def limb(d: Decimal, scale: Int, k: Int): Long =
    if (d == null) 0L
    else {
      val v = d.toJavaBigDecimal.setScale(scale).unscaledValue().shiftRight(32 * k).longValue()
      if (k < 3) v & Mask32 else v
    }
}

/** Limb `k` of a nullable DECIMAL(38,s) (see [[ExactSum.limb]]). */
case class DecimalLimb(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  private def scale = child.dataType.asInstanceOf[DecimalType].scale

  override def eval(input: InternalRow): Any =
    ExactSum.limb(child.eval(input).asInstanceOf[Decimal], scale, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = graft.functions.ExactSum.limb(
        ${c.isNull} ? null : ${c.value}, $scale, $k);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): DecimalLimb =
    copy(child = newChild)
}

/** The closing of [[ExactSum]]: children are its four limbs and its
  * `seen` flag.
  */
case class ExactSumResult(children: Seq[Expression], scale: Int, asDouble: Boolean,
                          ansi: Boolean) extends Expression {
  override def dataType: DataType = if (asDouble) DoubleType else DecimalType(38, scale)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    if (!v(4).asInstanceOf[Boolean]) null
    else {
      val l = v.take(4).map(_.asInstanceOf[Long])
      if (asDouble) {
        val d = ExactSum.toDouble(l(0), l(1), l(2), l(3), scale, ansi)
        if (d.isNaN) null else d
      } else ExactSum.toDecimal(l(0), l(1), l(2), l(3), scale, ansi)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = children.map(_.genCode(ctx))
    val args = cs.take(4).map(_.value).mkString(", ") + s", $scale, $ansi"
    val jt = CodeGenerator.javaType(dataType)
    val (call, isNullAfter) =
      if (asDouble) (s"graft.functions.ExactSum.toDouble($args)", s"java.lang.Double.isNaN(${ev.value})")
      else (s"graft.functions.ExactSum.toDecimal($args)", s"${ev.value} == null")
    ev.copy(code = code"""
      ${cs(0).code}
      ${cs(1).code}
      ${cs(2).code}
      ${cs(3).code}
      ${cs(4).code}
      boolean ${ev.isNull} = !${cs(4).value};
      $jt ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        ${ev.value} = $call;
        ${ev.isNull} = $isNullAfter;
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactSumResult = copy(children = newChildren)
}
