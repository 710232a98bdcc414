package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import graft.functions.{Dec8Unscaled, ExactSum}
import TestSpark._

/** [[ExactSum]] against the decimal reference `SUM(CAST(x AS
  * DECIMAL(38,s)))`, bit for bit: its DECIMAL result, and its double
  * result against the reference cast to double. Inputs cover NaN, ±Inf,
  * nulls, exact half-boundaries, values at and past the long range of
  * the conversion and at the 38-digit overflow edge, all-null groups and
  * empty input; each runs as an ungrouped and a grouped aggregate, a
  * sliding and an unbounded window frame, and an `observe`, with ANSI on
  * and off, over 1, 4 and 7 input partitions. Where the reference raises
  * (ANSI overflow), ExactSum must raise too.
  */
class ExactSumSpec extends AnyFunSuite {
  /** ExactSum of `x`, optionally windowed. */
  private def exactSum(x: Column, scale: Int, asDouble: Boolean)(over: Column => Column): Column = {
    val e = GraftBridge.expression(x)
    over(GraftBridge.column(ExactSum(Dec8Unscaled(e, scale), e, Literal.TrueLiteral, scale,
      asDouble, SQLConf.get.ansiEnabled).toAggregateExpression()))
  }

  /** The decimal SUM of `x`, optionally windowed, cast to double after. */
  private def reference(x: Column, scale: Int, asDouble: Boolean)(over: Column => Column): Column = {
    val s = over(sum(x.cast(DecimalType(38, scale))))
    if (asDouble) s.cast("double") else s
  }

  /** A cell as comparable text: doubles by their bits. */
  private def cell(v: Any): String = v match {
    case d: java.lang.Double => "d" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case other => String.valueOf(other)
  }

  /** The rows of `df` (a key, then the sum) as sorted text, or the
    * failure's class.
    */
  private def run(df: => DataFrame): Either[String, Seq[String]] =
    try Right(df.collect().map(r => r.toSeq.map(cell).mkString("|")).sorted.toSeq)
    catch { case e: Exception => Left(e.getClass.getSimpleName) }

  private val observations = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Every context over `frame` (columns g, i, x) at one scale. */
  private def checkContexts(frame: DataFrame, scale: Int, label: String): Unit =
    for (asDouble <- Seq(true, false)) {
      val sliding = Window.partitionBy("g").orderBy("i").rowsBetween(-2, 0)
      val whole = Window.partitionBy("g")
      type Agg = (Column => Column) => Column
      val contexts: Seq[(String, Agg => DataFrame)] = Seq(
        "ungrouped" -> (m => frame.agg(m(identity))),
        "grouped" -> (m => frame.groupBy("g").agg(m(identity))),
        "sliding" -> (m => frame.select(col("i"), m(_.over(sliding)))),
        "unbounded" -> (m => frame.select(col("i"), m(_.over(whole)))),
        "observe" -> { m =>
          val name = s"exact_sum_${observations.incrementAndGet()}"
          val o = frame.observe(name, m(identity).as("m"))
          o.collect()
          val got = o.queryExecution.observedMetrics.get(name).map(_.get(0)).orNull
          spark.createDataFrame(java.util.Arrays.asList(Row(got)),
            StructType(Seq(StructField("m", if (asDouble) DoubleType else DecimalType(38, scale)))))
        })
      for ((ctx, df) <- contexts) {
        val ours = run(df(exactSum(col("x"), scale, asDouble)))
        val ref = run(df(reference(col("x"), scale, asDouble)))
        assert(ours.isLeft == ref.isLeft && ours.toOption == ref.toOption,
          s"$label/$ctx/double=$asDouble: exact_sum $ours, decimal SUM $ref")
      }
    }

  private def frameOf[T](values: Seq[T], parts: Int)(mk: T => Row, dt: DataType): DataFrame = {
    val schema = StructType(Seq(StructField("g", IntegerType), StructField("i", IntegerType),
      StructField("x", dt)))
    val rows = values.zipWithIndex.map { case (v, i) =>
      val r = mk(v); Row(i % 3, i, r.get(0))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(parts)
  }

  private def doubles(vs: Seq[java.lang.Double], parts: Int): DataFrame =
    frameOf(vs, parts)(v => Row(v), DoubleType)

  private def sweep(label: String)(body: (Boolean, Int) => Unit): Unit =
    for (ansi <- Seq(true, false); parts <- Seq(1, 4, 7)) {
      val key = SQLConf.ANSI_ENABLED.key
      val before = spark.conf.get(key)
      spark.conf.set(key, ansi.toString)
      try body(ansi, parts)
      finally spark.conf.set(key, before)
    }

  private val halves4: Seq[java.lang.Double] =
    Seq(5e-5, 1.5e-4, -2.5e-4, 1.00005, -7.00015, 49.99995, 0.1, 1.0 / 3.0, 104999.91)
      .map(java.lang.Double.valueOf)
  private val halves8: Seq[java.lang.Double] =
    Seq(5e-9, 1.5e-8, -2.5e-8, 7.000000005, 2.000000015, -49.999999995, 0.1, -1.0 / 3.0,
      1.1022481097e10).map(java.lang.Double.valueOf)
  private val specials: Seq[java.lang.Double] =
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0, 1e-300)
      .map(java.lang.Double.valueOf) :+ null

  /** Values around 2⁶²·10^-s (the conversion's long range) and past
    * 2⁶³·10^-s, where rows go through the decimal cast.
    */
  private def longEdge(scale: Int): Seq[java.lang.Double] = {
    val edge = (1L << 62).toDouble / math.pow(10, scale)
    Seq(edge, math.nextDown(edge), -math.nextUp(edge), 2.5 * edge, -1e20, 3.0)
      .map(java.lang.Double.valueOf)
  }

  test("exact_sum equals the decimal SUM at s = 4 and s = 8 in every context") {
    sweep("doubles") { (ansi, parts) =>
      for ((scale, halves) <- Seq(4 -> halves4, 8 -> halves8)) {
        val label = s"s=$scale ansi=$ansi parts=$parts"
        checkContexts(doubles(halves ++ specials ++ longEdge(scale), parts), scale, label)
        // an all-null group (g = 1 holds only nulls) and empty input
        val holey = (0 until 9).map(i =>
          if (i % 3 == 1) null else java.lang.Double.valueOf(i * 0.25))
        checkContexts(doubles(holey, parts), scale, s"$label all-null group")
        checkContexts(doubles(holey, parts).where(lit(false)), scale, s"$label empty")
      }
    }
  }

  test("exact_sum overflows like the decimal SUM at the 38-digit edge") {
    sweep("overflow") { (ansi, parts) =>
      for (scale <- Seq(4, 8)) {
        val edge = math.pow(10, 38 - scale)
        val label = s"s=$scale ansi=$ansi parts=$parts"
        // a value past the edge: the cast itself overflows
        checkContexts(doubles(Seq(1.0, edge, 2.0).map(java.lang.Double.valueOf), parts),
          scale, s"$label past")
        // in-range values whose same-sign total passes the edge
        checkContexts(doubles(Seq.fill(6)(java.lang.Double.valueOf(0.3 * edge)), parts),
          scale, s"$label total")
        checkContexts(doubles(Seq.fill(6)(java.lang.Double.valueOf(-0.3 * edge)), parts),
          scale, s"$label negative total")
        // just inside: 0.99·edge and small values
        checkContexts(doubles(Seq(0.99 * edge, 1.5, -2.25).map(java.lang.Double.valueOf),
          parts), scale, s"$label inside")
      }
    }
  }

  test("exact_sum at s = 0 sums BIGINTs across and past the long conversion range") {
    sweep("fixed") { (ansi, parts) =>
      val vals: Seq[java.lang.Long] = Seq(1L, -7L, (1L << 62) - 1, -(1L << 62) + 1, 1L << 62,
        Long.MaxValue, Long.MinValue, Long.MaxValue, 0L).map(java.lang.Long.valueOf) :+ null
      checkContexts(frameOf(vals, parts)(v => Row(v), LongType), 0,
        s"s=0 ansi=$ansi parts=$parts")
    }
  }

  test("the long limbs cannot overflow below 2^31 rows: per-row limbs stay under 2^32") {
    // the worst in-range rows and the widest out-of-range decimals
    for (u <- Seq(Long.MaxValue, Long.MinValue + 1, (1L << 62), -(1L << 62), 0L, -1L)) {
      assert((u & 0xFFFFFFFFL) < (1L << 32) && math.abs(u >> 32) <= (1L << 31))
    }
    val widest = org.apache.spark.sql.types.Decimal(
      new java.math.BigDecimal(java.math.BigInteger.TEN.pow(38).subtract(java.math.BigInteger.ONE)
        .negate(), 4), 38, 4)
    for (k <- 0 until 4) assert(math.abs(ExactSum.limb(widest, 4, k)) < (1L << 32))
    val v = (0 until 4).map(k => java.math.BigInteger.valueOf(ExactSum.limb(widest, 4, k))
      .shiftLeft(32 * k)).reduce(_ add _)
    assert(v == widest.toJavaBigDecimal.unscaledValue)
  }
}
