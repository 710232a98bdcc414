package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Chain, Exact}
import graft.ops._
import graft.ext._
import TestSpark._

/** Gates for the round-18 OPTIMIZATION batch — each change must keep
  * results bit-identical while cutting plan cost, so every test pins
  * value-equality between the old and new formulations plus the plan
  * shape the optimization claims.
  */
class Round18Spec extends AnyFunSuite {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ---- ExactSum ≡ SUM(CAST(x AS DECIMAL(38,s))) ----------------------

  /** bitwise double equality (NaN-safe) — value "equality" would paper
    * over sign-of-zero or last-bit differences the oracle hash sees
    */
  private def bitEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x, y) => x == y
  }

  /** [[graft.functions.ExactSum]] at `scale`, read as a double. */
  private def exactSum(x: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftBridge
    val e = GraftBridge.expression(x)
    GraftBridge.column(graft.functions.ExactSum(graft.functions.Dec8Unscaled(e, scale), e,
      org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral, scale, asDouble = true,
      org.apache.spark.sql.internal.SQLConf.get.ansiEnabled).toAggregateExpression())
  }

  private def decimalSum(x: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    sum(x.cast(DecimalType(38, scale))).cast("double")

  private def checkSumEq(values: Seq[java.lang.Double]): Unit =
    for (scale <- Seq(0, 4, 8)) {
      val got = values.toDF("x").agg(exactSum(col("x"), scale).as("exact"),
        decimalSum(col("x"), scale).as("dec")).head()
      assert(bitEq(got.get(0), got.get(1)),
        s"s=$scale: exact=${got.get(0)} dec=${got.get(1)} for $values")
    }

  test("ExactSum: bit-identical to the decimal sum on adversarial values") {
    // exact half-boundaries at the 9th and 5th decimal (HALF_UP
    // territory), signs, shortest-repr classics (0.1), large magnitudes
    // near the sf bench ranges, exact integers, nulls
    checkSumEq(Seq[java.lang.Double](1.5e-8, 2.5e-8, -3.5e-8, 5e-9, -5e-9,
      0.1, -0.1, 0.30000000000000004, 1.0 / 3.0, -1.0 / 3.0,
      104999.91, -104999.91, 1.1022481097e10, 0.0, -0.0, null,
      12345678.87654321, -12345678.87654321, 1e-300, -1e-300,
      49.999999995, -49.999999995, 7.000000005, 2.000000015,
      5e-5, 1.5e-4, -2.5e-4, 0.5, 1.5, -2.5,
      // totals whose last kept decimal digit is live
      1e-8, 3e-8, -7e-8, 1.1e-7, -2.30000007e-7))
    // all-null and empty frames: both paths must return null
    for (vals <- Seq(Seq[java.lang.Double](null, null), Seq.empty[java.lang.Double]);
         s <- Seq(0, 4, 8)) {
      val r = vals.toDF("x").agg(exactSum(col("x"), s).as("s"), decimalSum(col("x"), s).as("d"))
        .head()
      assert(r.isNullAt(0) && r.isNullAt(1), s"s=$s $vals: $r")
    }
  }

  test("ExactSum: randomized sweep across magnitudes matches bitwise") {
    // past ~4.6e10 (s = 8) and ~4.6e14 (s = 4) rows leave the long
    // conversion and add through the decimal cast
    val rng = new scala.util.Random(1801)
    for (mag <- Seq(1e-6, 1.0, 50.0, 1e5, 1e9, 4e10, 1e13, 1e16, 1e19)) {
      val vals: Seq[java.lang.Double] = (0 until 2000).map { i =>
        if (i % 97 == 0) null
        else java.lang.Double.valueOf((rng.nextDouble() - 0.5) * mag)
      }
      checkSumEq(vals)
    }
  }

  /** [[graft.functions.Dec8Unscaled.unscaled]] against the cast's own
    * BigDecimal arithmetic over 4M+ doubles in the domain where the
    * unscaled value fits a long with margin (|x·10^s| < 4e18).
    */
  private def fuzzUnscaled(scale: Int, seed: Int): Unit = {
    val p = math.pow(10, scale)
    def ref(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    def check(x: Double): Unit = {
      val got = graft.functions.Dec8Unscaled.unscaled(x, scale)
      val want = ref(x)
      assert(got == want, s"unscaled($x, $scale) = $got, BigDecimal says $want " +
        s"(bits ${java.lang.Double.doubleToRawLongBits(x)})")
    }
    // exact decimal half-boundaries k + 0.5 one digit past the scale —
    // the HALF_UP corner the fast path must decline or get right
    for (k <- -2000L to 2000L) {
      check((2 * k + 1) / (2 * p))         // nearest double to (k+0.5)·10^-s
      check(k / p)                         // exact grid points
      check(k / p + 1e-8 / p); check(k / p - 1e-8 / p)
    }
    // neighbors of half-integer unscaled boundaries at large magnitudes
    // (ulp-sized steps, up to where the unscaled value nears 2^62)
    for (m <- Seq(1e3, 1e6, 1e9, 1e12, 1e15, 1e17, 4e17); sg <- Seq(-1, 1)) {
      val b = sg * (math.rint(m) + 0.5) / p
      check(b); check(math.nextUp(b)); check(math.nextDown(b))
    }
    // dense random sweep across magnitudes and signs: unscaled values
    // from 1e-4 to 1e18
    val rng = new scala.util.Random(seed)
    for (_ <- 0 until 2000000) {
      val mag = math.pow(10, rng.nextDouble() * 22 - 4) / p
      check((rng.nextDouble() - 0.5) * mag)
    }
    // raw random bit patterns in the finite, in-range domain
    for (_ <- 0 until 2000000) {
      val x = java.lang.Double.longBitsToDouble(rng.nextLong())
      if (!x.isNaN && !x.isInfinite && math.abs(x) < 4.0e18 / p) check(x)
    }
    check(0.0); check(-0.0); check(1e-300); check(-1e-300)
  }

  test("Dec8Unscaled.unscaled8: exhaustive fuzz against the BigDecimal cast arithmetic") {
    fuzzUnscaled(8, 1803)
  }

  test("Dec8Unscaled at scale 4: exhaustive fuzz against the BigDecimal cast arithmetic") {
    fuzzUnscaled(4, 1804)
  }

  // ---- corrMatrix: the exact-sum plan ≡ its decimal SQL face ----------

  private def corrFixture(withNulls: Boolean): DataFrame = {
    val rng = new scala.util.Random(1802)
    (0 until 4000).map { i =>
      def v(mag: Double): java.lang.Double =
        if (withNulls && rng.nextInt(13) == 0) null
        else if (withNulls && rng.nextInt(29) == 0) java.lang.Double.valueOf(Double.NaN)
        else java.lang.Double.valueOf((rng.nextDouble() - 0.5) * mag)
      (i % 7, v(100.0), v(1e5), v(0.2))
    }.toDF("g", "a", "b", "c")
  }

  /** The DataFrame plan against its rendered SQL, which spells every
    * moment as `SUM(CAST(… AS DECIMAL(38,8)))`.
    */
  private def corrBoth(df: DataFrame, groupBy: Seq[String], deletion: String): Unit = {
    df.createOrReplaceTempView("corr_fx")
    val c = Chain(spark, "corr_fx", df).corrMatrix(Seq("a", "b", "c"), groupBy, deletion)
    assert(rows(c.df) == rows(spark.sql(c.sql())),
      s"groupBy=$groupBy deletion=$deletion diverged")
  }

  test("corrMatrix: split-long path equals the decimal path on every branch") {
    for (withNulls <- Seq(false, true);
         groupBy <- Seq(Nil, Seq("g"));
         deletion <- Seq("pairwise", "listwise"))
      corrBoth(corrFixture(withNulls), groupBy, deletion)
  }

  test("corrMatrix: values containing Inf keep exact results (split gate declines)") {
    val df = Seq[(Int, java.lang.Double, java.lang.Double, java.lang.Double)](
      (0, 1.0, 2.0, 3.0), (1, Double.PositiveInfinity, 4.0, 5.0),
      (2, 2.5, 6.5, 0.25), (3, -7.5, 1.25, 0.125)
    ).toDF("g", "a", "b", "c")
    // Inf leaves the long conversion; its rows are excluded (not finite)
    // and every result must still match the decimal face exactly
    for (deletion <- Seq("pairwise", "listwise")) corrBoth(df, Nil, deletion)
  }

  // ---- joinCardinalityProfile: checkpointed keys-grain profile --------

  test("joinCardinalityProfile: checkpoint rides the result plan and releases") {
    val l = Seq(1, 1, 1, 2, 3).map(k => (k, s"l$k")).toDF("k", "lv")
    val r = Seq(1, 2, 2, 4).map(k => (k, s"r$k")).toDF("k", "rv")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val prof = Chain(spark, "l", l)
      .joinCardinalityProfile(Chain(spark, "r", r), Seq("k" -> "k"), topK = 2)
    // the keys-grain checkpoint is a declared materialization (track the
    // specific new RDD ids — other suites may persist concurrently)
    val newIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(newIds.nonEmpty,
      "expected the keys-grain profile frame to be checkpointed")
    val got = prof.df.collect().map(r0 => (r0.getInt(0), r0.getLong(1), r0.getLong(2)))
    // hottest matched key: k=1 (3x1), then k=2 (1x2)
    assert(got.toSeq == Seq((1, 3L, 1L), (2, 1L, 2L)), got.toSeq.toString)
    val full = prof.df.head()
    assert(full.getAs[Long]("rows_a") == 5L && full.getAs[Long]("rows_b") == 4L)
    assert(full.getAs[Long]("keys_a") == 3L && full.getAs[Long]("keys_b") == 3L)
    assert(full.getAs[Long]("keys_matched") == 2L)
    assert(full.getAs[Double]("est_rows") == 5.0) // 3*1 + 1*2
    // release contract: the blocks ride the result plan
    Chain.releaseCheckpoints(prof.df)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(newIds).isEmpty,
      "releaseCheckpoints must free the profile checkpoint")
  }

  test("clusterPairs: an empty pair frame returns empty labels (no NPE)") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Chain(spark, "p", empty).clusterPairs().df
    assert(got.isEmpty)
    assert(got.columns.toSeq == Seq("id", "cluster_id"))
    Chain.releaseCheckpoints(got)
  }

  // ---- CheckpointProbe: every observed checkpoint carries its row ---------

  test("CheckpointProbe: empty, zero-partition and AQE-emptied inputs read their observed row") {
    val base = (1 to 100).map(k => (k % 7, k.toLong)).toDF("k", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_probe_empty").toString
    base.write.parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    // opaque to the optimizer: only AQE learns at runtime that it is empty
    val runtimeEmpty = t.where(col("v") * 0 === 1)
    val inputs = Seq(
      Seq.empty[(Int, Long)].toDF("k", "v"),
      base.where(lit(false)),
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], base.schema),
      t.join(runtimeEmpty.select(col("k").as("k2")), col("k") === col("k2")).select("k", "v"),
      runtimeEmpty.groupBy("k").agg(sum("v").as("v")),
      runtimeEmpty.repartition(3))
    for (df <- inputs) {
      // the None branch throws, so a value here is the observed row
      val (cp, m) = graft.core.CheckpointProbe(df,
        "_n" -> count(lit(1)), "_s" -> sum(col("v")))
      assert(m == Seq(0L, null), s"${df.queryExecution.analyzed.nodeName}: $m")
      Chain.releaseCheckpoints(cp)
    }
    val (cp, m) = graft.core.CheckpointProbe(base, "_n" -> count(lit(1)))
    assert(m == Seq(100L))
    Chain.releaseCheckpoints(cp)
  }

  // ---- PrefixScan: reliable-checkpoint opt-in --------------------------

  test("PrefixScan: reliable opt-in checkpoints durably with identical sums") {
    val df = (1 to 500).map(i => (i % 5, (i % 17).toLong, i)).toDF("g", "w", "i")
    def scan() = graft.core.PrefixScan.exclusivePrefixSum(
      df, Seq(col("g")), Seq(col("i")), col("w"), "_cum")
    val plain = rows(scan())
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set("spark.graft.prefixScan.reliable", "true")
    val rel =
      try scan()
      finally spark.conf.unset("spark.graft.prefixScan.reliable")
    assert(rows(rel) == plain, "reliable checkpoint changed the sums")
    // the sorted frame actually checkpointed into the directory
    val files = java.nio.file.Files.walk(dir).filter(
      java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, s"expected reliable checkpoint files under $dir")
  }

  // ---- maybeBroadcastSmall: byte-aware cap -----------------------------

  test("broadcastFits: string-keyed frames hit the byte cap before the row cap") {
    import org.apache.spark.sql.types._
    val longKeyed = StructType(Seq(StructField("id", LongType),
      StructField("cluster_id", LongType)))
    val stringKeyed = StructType(Seq(StructField("node", StringType),
      StructField("rank", LongType)))
    val mb64 = 64L << 20
    // (long, long) at the 1M row cap: 16 B/row = 16 MB -> fits
    assert(ext.DedupOps.broadcastFits(longKeyed, 1000000L, mb64, 48L))
    // string-keyed at 1M rows: 56 B/row = 56 MB -> still fits 64 MB
    assert(ext.DedupOps.broadcastFits(stringKeyed, 1000000L, mb64, 48L))
    // ... but past ~1.2M string rows the byte cap closes the gate even
    // though a row-only cap of 2M would have broadcast a 100+ MB map
    assert(!ext.DedupOps.broadcastFits(stringKeyed, 2000000L, mb64, 48L))
    assert(!ext.DedupOps.broadcastFits(stringKeyed, 1000000L, 0L, 48L))
    // an array<string> field is charged like a string (48 B), not its
    // 20-byte defaultSize: 56 B/row fits at 1M rows, closes at 2M
    val arrayKeyed = StructType(Seq(StructField("id", LongType),
      StructField("tokens", ArrayType(StringType))))
    assert(ext.DedupOps.broadcastFits(arrayKeyed, 1000000L, mb64, 48L))
    assert(!ext.DedupOps.broadcastFits(arrayKeyed, 2000000L, mb64, 48L))
  }
}
