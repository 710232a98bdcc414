package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.core.{Chain, ScaleLint}
import graft.ops._
import graft.ext._
import TestSpark._

/** Plan and job census of the bulk ops that compile to one pass each
  * (sf0.001): tfidf tokenizes its corpus once, the exact cosine faces
  * plan no repartition, corr_matrix builds, renders and reports its
  * schema with no job and runs as one aggregate over one scan, and
  * fuzzy_pairs compiles without the interpreted fallback. Also the
  * `dead-repartition` lint on fixtures, and linear_regression's closing
  * over correctly rounded sums (the side of its DuckDB gap that is
  * right: DuckDB's DECIMAL(38,8) → DOUBLE cast is off by one ulp on
  * some sums).
  */
class OneScanSpec extends AnyFunSuite {
  import spark.implicits._

  private def prepared(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case other => other
  }

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  test("tfidf and search_tfidf tokenize the document corpus once") {
    // a Generate over an unfiltered scan tokenizes the corpus; the query
    // batch of q_search_tfidf is the `doc_id < 3` filtered scan
    def corpusGenerates(df: DataFrame): Int = prepared(df).collect {
      case g: GenerateExec if g.collectFirst { case f: FilterExec => f }.isEmpty => g
    }.size
    val tfidf = query("q_tfidf")
    assert(prepared(tfidf).collect { case g: GenerateExec => g }.size == 1,
      s"q_tfidf must tokenize once:\n${prepared(tfidf)}")
    val search = query("q_search_tfidf")
    assert(corpusGenerates(search) == 1,
      s"q_search_tfidf must tokenize the corpus once:\n${prepared(search)}")
  }

  test("search_tfidf tokenizes its query batch once") {
    // the query batch is the `doc_id < 3` filtered scan; count the
    // Generates over it in the plan that ran (adaptive stages unwrapped,
    // a reused exchange not descended: it runs once)
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val search = query("q_search_tfidf")
    search.collect()
    def queryGenerates(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => queryGenerates(a.executedPlan)
      case q: QueryStageExec => queryGenerates(q.plan)
      case _: ReusedExchangeExec => 0
      case g: GenerateExec if g.collectFirst { case f: FilterExec => f }.nonEmpty =>
        1 + g.children.map(queryGenerates).sum
      case other => other.children.map(queryGenerates).sum
    }
    val plan = search.queryExecution.executedPlan
    assert(queryGenerates(plan) == 1, s"q_search_tfidf tokenizes its queries more than once:\n$plan")
  }

  test("sim_topk and hard_negatives plan no repartition exchange") {
    for (q <- Seq("q_sim_topk", "q_hard_negatives")) {
      val plan = prepared(query(q))
      val reps = plan.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_COL => e
      }
      assert(reps.isEmpty, s"$q plans a repartition:\n$plan")
      // the per-vector norm stays below the nested-loop join, and each
      // side computes it once per vector: one fixed_point_dot per side
      val bnlj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      assert(bnlj.size == 1, s"$q:\n$plan")
      def dotCalls(side: SparkPlan): Int = side.collect { case n =>
        n.expressions.map(_.collect { case d: graft.functions.FixedPointDot => d }.size).sum
      }.sum
      val calls = bnlj.head.children.map(dotCalls)
      assert(calls == Seq(1, 1), s"$q: fixed_point_dot calls per join side $calls:\n$plan")
    }
  }

  test("the IVF and IVFADC plans compute each input vector's norm once") {
    // each input-vector branch (the corpus or saved index, and the query
    // or ingest batch) reaches withNorm once; its generated norm keeps the
    // usability filter from copying fixed_point_dot(v, v) into a Filter
    for (q <- Seq("q_sim_topk_ivf", "q_sim_topk_ivf_index", "q_search_pq_ivf",
        "q_dedup_incremental_sem")) {
      val plan = prepared(query(q))
      val selfDots = plan.collect { case n =>
        n.expressions.flatMap(_.collect {
          case d: graft.functions.FixedPointDot if d.left.semanticEquals(d.right) =>
            d.left.toString
        })
      }.flatten
      val perVector = selfDots.groupBy(identity).map { case (v, ds) => v -> ds.size }
      assert(perVector.size == 2 && perVector.values.forall(_ == 1),
        s"$q: fixed_point_dot(v, v) calls per input vector $perVector:\n$plan")
    }
  }

  test("corr_matrix and corr_matrix_listwise build and render with no action") {
    for (deletion <- Seq("pairwise", "listwise")) {
      val li = table("lineitem") // the footer read happens here, not in the build
      var c: Chain = null
      val actions = actionsDuring {
        c = li.corrMatrix(Seq("l_quantity", "l_extendedprice", "l_discount"), deletion = deletion)
        c.sql()
        c.df.schema
      }
      assert(actions.isEmpty, s"$deletion ran ${actions.size} actions:\n${actions.mkString("\n")}")
      // one aggregate over one scan, every moment an exact_sum
      val plan = c.df.queryExecution.executedPlan
      c.df.collect()
      assert(countScans(plan) == 1, s"$deletion:\n$plan")
      assert(prepared(c.df).toString.contains("exact_sum"), s"$deletion:\n${prepared(c.df)}")
    }
  }

  private def bits(df: DataFrame): Seq[String] =
    df.collect().map(r => r.toSeq.map {
      case d: java.lang.Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
      case other => String.valueOf(other)
    }.mkString("|")).sorted.toSeq

  test("corr_matrix falls back on a 1e12 value and on a null column, bitwise equal to decimal") {
    // 1e12² leaves the long conversion at scale 8 and adds through the
    // decimal cast; the null column leaves pairwise pairs empty. The
    // rendered SQL spells every moment as SUM(CAST(… AS DECIMAL(38,8))).
    val big = (0 until 200).map { i =>
      (i % 3, java.lang.Double.valueOf(if (i == 17) 1e12 else i * 0.25),
        java.lang.Double.valueOf(i * 1.5 - 7.0), java.lang.Double.valueOf((i % 11) * 0.125))
    }.toDF("g", "a", "b", "c")
    val nullCol = (0 until 200).map { i =>
      (i % 3, java.lang.Double.valueOf(i * 0.25), java.lang.Double.valueOf(i * 1.5 - 7.0),
        null.asInstanceOf[java.lang.Double])
    }.toDF("g", "a", "b", "c")
    for ((name, df) <- Seq("1e12" -> big, "null column" -> nullCol);
         deletion <- Seq("pairwise", "listwise")) {
      df.createOrReplaceTempView("corr_t")
      var c: Chain = null
      val actions = actionsDuring {
        c = Chain(spark, "corr_t", df).corrMatrix(Seq("a", "b", "c"), deletion = deletion)
      }
      assert(actions.isEmpty, s"$name/$deletion: ${actions.mkString("\n")}")
      assert(bits(c.df) == bits(spark.sql(c.sql())), s"$name/$deletion diverged")
    }
  }

  test("corr_matrix runs no probe where the plan statistics know n >= 2^30") {
    // a range's row count survives the projection with cost-based
    // statistics on
    val huge = spark.range(0, 1L << 31).select(col("id").as("a"), col("id").as("b"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      assert(huge.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(1L << 31)))
      // the build is lazy: no job at all (a pass over 2^31 rows would run
      // into the watchdog)
      for (deletion <- Seq("pairwise", "listwise")) {
        val r = Harness.run(spark, "corr-rowcount-gate", 60) {
          Chain(spark, "huge", huge).corrMatrix(Seq("a", "b"), deletion = deletion)
        }
        assert(r.ok && r.jobs == 0, s"$deletion: ${r.error} jobs=${r.jobs}")
      }
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("fuzzy_pairs compiles with the codegen fallback off, output unchanged") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rowsL = SparkEntry.namesFixture
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = query("q_fuzzy_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        (ia, sa) <- rowsL; (ib, sb) <- rowsL
        if ia < ib && sa != null && sb != null && lev(sa, sb) <= 2
      } yield (ia, ib, lev(sa, sb))).toSet
      assert(got == want, s"missing=${want -- got} extra=${got -- want}")
      // the key count grows cubically in max_dist; the code must not
      for (maxDist <- Seq(3, 4)) {
        val n = Chain(spark, "names", SparkEntry.namesFixtureDf(spark))
          .fuzzyPairs("id", "name", maxDist).df.collect()
        assert(n.nonEmpty)
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("linear_regression closes over correctly rounded exact sums") {
    // the reference for q_linear_regression's last-ulp gap with DuckDB:
    // each DECIMAL(38,8) sum read back with the correctly rounded
    // BigDecimal.doubleValue, then the same double closing
    val li = table("lineitem")
    val got = li.linearRegression(Seq("l_returnflag"), y = "l_extendedprice", x = "l_quantity")
      .df.collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val x = col("l_quantity").cast("double"); val y = col("l_extendedprice").cast("double")
    def s8(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,8)"))
    val sums = li.df.where(x.isNotNull && y.isNotNull && !isnan(x) && !isnan(y))
      .groupBy(col("l_returnflag")).agg(count(x), s8(x), s8(y), s8(x * y), s8(x * x)).collect()
    assert(sums.length == got.size && sums.nonEmpty)
    sums.foreach { r =>
      val n = r.getLong(1).toDouble
      val Seq(sx, sy, sxy, sxx) = (2 to 5).map(i => r.getDecimal(i).doubleValue)
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val want = (slope, (sy - slope * sx) / n)
      assert(got(r.getString(0)) == want, s"${r.getString(0)}: ${got(r.getString(0))} vs $want")
    }
  }

  test("ScaleLint flags a repartition whose partitioning no consumer uses") {
    val corpus = spark.range(0, 500).select(col("id"), (col("id") % 7).as("v"))
    val qs = spark.range(0, 5).select(col("id").as("q"), (col("id") * 3).as("w"))
    def dead(df: DataFrame) = ScaleLint.lint(df).filter(_.rule == "dead-repartition")
    // a broadcast build side, and a nested-loop join's streamed side
    // with nothing above the join (through a projection and a filter)
    val bnlj = corpus.repartition(col("id")).withColumn("v2", col("v") * 2).where(col("v2") > 1)
      .crossJoin(broadcast(qs.repartition(col("q"))))
      .where(col("id") =!= col("q"))
    val hits = dead(bnlj)
    assert(hits.size == 2 && hits.forall(_.severity == "warn"), hits.mkString("\n"))
    assert(hits.map(_.detail).exists(_.contains("repartition(id)")) &&
      hits.map(_.detail).exists(_.contains("repartition(q)")), hits.mkString("\n"))
    // the streamed side under a window on another key: the window's
    // exchange discards the join's partitioning
    val otherKey = corpus.repartition(col("id")).crossJoin(broadcast(qs))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q")).orderBy(col("id"))))
    assert(dead(otherKey).map(_.detail).exists(_.contains("repartition(id)")),
      s"${dead(otherKey)}\n${otherKey.queryExecution.executedPlan}")
    // the same window on the repartition's key reads the join's
    // partitioning in place of an exchange of the joined rows
    val sameKey = corpus.repartition(col("id")).crossJoin(broadcast(qs))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id")).orderBy(col("q"))))
    assert(dead(sameKey).isEmpty, s"${dead(sameKey)}\n${sameKey.queryExecution.executedPlan}")
    // a broadcast hash join's build side
    val bhj = corpus.join(broadcast(qs.repartition(col("q"))), col("v") === col("q"))
    assert(dead(bhj).size == 1, dead(bhj).mkString("\n"))
    // partitioning a consumer uses: an aggregate on the key
    val used = corpus.repartition(col("id")).groupBy(col("id")).agg(sum(col("v")))
    assert(dead(used).isEmpty)
    // one exchange read twice (a reused exchange) is a shared materialization
    val shared = corpus.repartition(col("id"))
    val twice = shared.crossJoin(broadcast(qs)).unionByName(
      shared.crossJoin(broadcast(qs)))
    assert(dead(twice).isEmpty, dead(twice).mkString("\n"))
    // a warning: assertSafe still passes the (bounded) nested loop
    assert(ScaleLint.assertSafe(bnlj).exists(_.rule == "dead-repartition"))
  }
}
