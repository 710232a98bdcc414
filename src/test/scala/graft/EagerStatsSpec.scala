package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Chain, CheckpointProbe}
import graft.ops._
import TestSpark._

/** Eager scalar statistics ([[CheckpointProbe.stats]]): over a shuffled
  * upstream they ride one checkpoint, over a narrow one they stay a pruned
  * aggregate, and the two paths give the same rows and the same SQL text.
  * Also pins what the flagship chain costs to build and that releasing it
  * frees every checkpoint its steps left.
  */
class EagerStatsSpec extends AnyFunSuite {
  import spark.implicits._

  /** Order-independent digest of every column: (Σ xxhash64, row count). */
  private def digest(df: DataFrame): (BigDecimal, Long) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast(DecimalType(38, 0))
    val r = df.agg(sum(h), count(lit(1))).head()
    (BigDecimal(Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)), r.getLong(1))
  }

  private def readsCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }.nonEmpty

  /** join → aggregate → window over `rows` (k, g, x); group sums of exact
    * binary fractions, so every execution gives the same doubles.
    */
  private def shuffledFixture(rows: Seq[(Int, Int, java.lang.Double)]): DataFrame = {
    val raw = rows.toDF("k", "g", "x")
    val dim = Seq((0, "a"), (1, "b"), (2, "c")).toDF("k", "name")
    raw.join(dim, "k").groupBy("k", "name", "g").agg(sum("x").as("x"))
      .withColumn("x_prev", lag("x", 1).over(Window.partitionBy("k").orderBy("g")))
  }

  /** The same rows through parquet: a scan, so the narrow path. */
  private def narrowCopy(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_eager_stats").resolve("t").toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private val ported: Seq[(String, Chain => Chain)] = Seq(
    "impute mean" -> (_.impute(Seq("x" -> "mean", "x_prev" -> "mean"))),
    "impute median" -> (_.impute(Seq("x" -> "median"), flagMissingVals = true)),
    "standard_scaler" -> (_.standardScaler(Seq("x", "x_prev"))),
    "min_max_scaler" -> (_.minMaxScaler(Seq("x"))),
    "bin equalwidth" -> (_.bin("equalwidth", 4, "x")))

  private val nan = java.lang.Double.NaN
  private val mixed: Seq[(Int, Int, java.lang.Double)] = Seq(
    (0, 1, 1.5), (0, 1, 2.25), (0, 2, null), (0, 3, -4.0), (0, 4, 8.5),
    (1, 1, nan), (1, 2, 0.75), (1, 2, 0.25), (1, 3, null), (1, 3, null),
    (2, 1, 16.0), (2, 2, -0.5), (2, 3, 3.0), (2, 5, 100.125))

  test("stats: a join/aggregate/window upstream plans a shuffle, a scan or a checkpoint does not") {
    val fx = shuffledFixture(mixed)
    assert(CheckpointProbe.shuffled(fx))
    assert(CheckpointProbe.shuffled(fx.orderBy("g")))
    assert(CheckpointProbe.shuffled(fx.select("k").distinct()))
    val scan = narrowCopy(fx)
    assert(!CheckpointProbe.shuffled(scan.where($"g" > 1).select($"x" * 2)))
    val cp = fx.localCheckpoint()
    try assert(!CheckpointProbe.shuffled(cp.where($"g" > 1)))
    finally Chain.releaseCheckpoints(cp)
  }

  test("ported ops: the checkpoint path and the aggregate path give identical rows and SQL, with nulls and NaN") {
    val fx = shuffledFixture(mixed)
    val scan = narrowCopy(fx)
    ported.foreach { case (name, op) =>
      val viaCheckpoint = op(Chain(spark, "fx", fx))
      val viaAggregate = op(Chain(spark, "fx", scan))
      assert(readsCheckpoint(viaCheckpoint.df), s"$name: a shuffled upstream must build on a checkpoint")
      assert(!readsCheckpoint(viaAggregate.df), s"$name: a scan upstream must not be checkpointed")
      assert(digest(viaCheckpoint.df) == digest(viaAggregate.df), s"$name: rows differ between paths")
      assert(viaCheckpoint.sql() == viaAggregate.sql(), s"$name: SQL text differs between paths")
      viaCheckpoint.releaseCheckpoints()
    }
  }

  test("ported ops on an all-null column: both paths agree, bin refuses on both") {
    val fx = shuffledFixture(mixed.map { case (k, g, _) => (k, g, null: java.lang.Double) })
    val scan = narrowCopy(fx)
    ported.foreach { case (name, op) =>
      if (name.startsWith("bin")) {
        Seq(fx, scan).foreach { d =>
          val e = intercept[IllegalArgumentException](op(Chain(spark, "fx", d)))
          assert(e.getMessage.contains("no non-null, non-NaN values"))
        }
      } else {
        val a = op(Chain(spark, "fx", fx))
        val b = op(Chain(spark, "fx", scan))
        assert(digest(a.df) == digest(b.df), s"$name: rows differ between paths")
        assert(a.sql() == b.sql(), s"$name: SQL text differs between paths")
        a.releaseCheckpoints()
      }
    }
  }

  test("ported ops on empty input: both paths agree and the build returns within 1 s") {
    val fx = shuffledFixture(mixed).where($"g" < 0)
    val scan = narrowCopy(fx)
    ported.filterNot(_._1.startsWith("bin")).foreach { case (name, op) =>
      op(Chain(spark, "fx", fx)).releaseCheckpoints() // compiles the plan once
      val t0 = System.nanoTime()
      val a = op(Chain(spark, "fx", fx))
      val sec = (System.nanoTime() - t0) / 1e9
      assert(sec < 1.0, f"$name: building over an empty shuffled input took $sec%.2f s")
      val b = op(Chain(spark, "fx", scan))
      assert(digest(a.df) == (BigDecimal(0), 0L) && digest(b.df) == (BigDecimal(0), 0L))
      assert(a.sql() == b.sql(), s"$name: SQL text differs between paths")
      a.releaseCheckpoints()
    }
    intercept[IllegalArgumentException](Chain(spark, "fx", fx).bin("equalwidth", 4, "x"))
  }

  /** Jobs started under a fresh job group while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"eager-stats-${java.util.UUID.randomUUID}"
    val started = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && group == j.properties.getProperty("spark.jobGroup.id"))
          started.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      (r, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("construction census: building the flagship chain launches at most 7 jobs") {
    // the first build infers the parquet schemas; the census counts a
    // repeat build, as a session that has read the tables before runs it
    SparkEntry.entryChain(spark).releaseCheckpoints()
    val (chain, jobs) = jobsDuring(SparkEntry.entryChain(spark))
    chain.releaseCheckpoints()
    // the bound may only go down: impute's mean rides one checkpoint of
    // the join/aggregate/window prefix and train_test_split sorts from
    // its blocks (7 jobs; 11 when each of the two ran the prefix itself)
    assert(jobs <= 7, s"building SparkEntry.entry launched $jobs jobs")
  }

  test("releaseCheckpoints frees every checkpoint the flagship chain's steps left") {
    val sc = spark.sparkContext
    val firstRdd = sc.emptyRDD[Int].id
    def cached = sc.getRDDStorageInfo.filter(_.id > firstRdd)
    val chain = SparkEntry.entryChain(spark)
    assert(chain.df.count() > 0)
    // impute's checkpoint is read only by train_test_split's, so a walk
    // of the final plan alone stops short of it
    assert(cached.length >= 2, s"expected impute's and the split's checkpoints, got ${cached.toSeq}")
    chain.releaseCheckpoints()
    assert(cached.map(_.numCachedPartitions).sum == 0,
      s"cached partitions left after release: ${cached.toSeq}")
  }

  test("a chain keeps its superseded checkpoints cached through a garbage collection") {
    val sc = spark.sparkContext
    val firstRdd = sc.emptyRDD[Int].id
    def cached = sc.getRDDStorageInfo.filter(_.id > firstRdd)
    val chain = SparkEntry.entryChain(spark)
    assert(chain.df.count() > 0)
    // impute's checkpoint is reachable only through the chain; Spark's
    // context cleaner frees the blocks of an RDD once it is collected
    System.gc()
    Thread.sleep(1000)
    try assert(cached.length >= 2, s"a collection freed a superseded checkpoint: ${cached.toSeq}")
    finally chain.releaseCheckpoints()
    assert(cached.map(_.numCachedPartitions).sum == 0)
  }

  test("releaseCheckpoints reaches superseded checkpoints and spares a persisted input") {
    val input = shuffledFixture(mixed).persist()
    try {
      input.count()
      val chain = Chain(spark, "fx", input)
        .aggregate(Seq("k"), Seq("x" -> Seq("SUM")))
        .impute(Seq("x_sum" -> "mean"))
      val imputed = chain.df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }.get
      val split = chain.trainTestSplit(Seq("k" -> "ASC"), 0.5)
      split.releaseCheckpoints()
      assert(imputed.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "impute's checkpoint, superseded by the split's, must be released")
      assert(input.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "a persisted input must survive release")
    } finally input.unpersist()
  }

  test("train_test_split sorts a one-partition checkpoint in place: one job, the same split") {
    val fx = shuffledFixture(mixed)
    val imputed = Chain(spark, "fx", fx).impute(Seq("x" -> "mean"))
    assert(CheckpointProbe.onePartition(imputed.df), "the small checkpoint should be one partition")
    assert(!CheckpointProbe.onePartition(fx), "a shuffled frame plans an exchange")
    val order = Seq("k" -> "DESC", "g" -> "ASC")
    val (inPlace, jobs) = jobsDuring(imputed.trainTestSplit(order, 0.6))
    // the reference goes through the range-partitioned global sort
    val spreadIn = imputed.df.repartition(3)
    assert(!CheckpointProbe.onePartition(spreadIn))
    val spread = Chain(spark, "fx", spreadIn).trainTestSplit(order, 0.6)
    try {
      assert(jobs == 1, s"the in-place split launched $jobs jobs")
      val want = spread.df.collect().toSeq
      assert(inPlace.df.collect().toSeq == want)
      assert(want.map(_.getAs[String]("tt_split")).count(_ == "TRAIN") == 6)
    } finally {
      inPlace.releaseCheckpoints()
      spread.releaseCheckpoints()
    }
  }
}
