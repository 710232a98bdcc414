package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._
import TestSpark._

class RenderSpec extends AnyFunSuite {

  test("single-step chain renders without WITH") {
    val c = table("region").filterRows(Seq("r_regionkey > 1"))
    assert(!c.sql().startsWith("WITH"))
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("sub-chain join arguments render as derived tables") {
    val filtered = table("orders").filterRows(Seq("o_totalprice > 200000"))
    val c = table("lineitem").join(filtered, "inner", Seq("l_orderkey" -> "o_orderkey"))
    assert(c.sql().contains("(SELECT * FROM orders WHERE (o_totalprice > 200000))"))
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("TABLE/VIEW render methods wrap in CREATE") {
    val c = table("region").dropColumns(includeCols = Seq("r_name"))
    assert(c.sql("VIEW", "v1").startsWith("CREATE OR REPLACE TEMPORARY VIEW v1 AS"))
    assert(c.sql("TABLE", "t1").startsWith("CREATE OR REPLACE TABLE t1 USING PARQUET AS"))
  }

  test("ops without SQL text form fail rendering loudly, not silently") {
    val c = table("part").transformDf("custom_step")(df => df.limit(5))
    val e = intercept[UnsupportedOperationException](c.sql())
    assert(e.getMessage.contains("custom_step"))
  }

  test("describe renders a SQL face that round-trips against the DataFrame profile") {
    val c = table("part").describeTable()
    assert(rows(spark.sql(c.sql())) == rows(c.df))
    // and the face composes mid-chain like any other fragment
    val c2 = table("orders").filterRows(Seq("o_totalprice > 200000")).describeTable()
    assert(rows(spark.sql(c2.sql())) == rows(c2.df))
  }

  test("approx/sketch aggregates render Spark-executable SQL faces") {
    val a = table("lineitem").approxAgg(Seq("l_returnflag"), "l_extendedprice")
    assert(rows(spark.sql(a.sql())) == rows(a.df))
    // sketch BYTES may differ by merge order; estimates must agree exactly
    val sk = table("orders").distinctSketches(Seq("o_orderpriority"), "o_custkey")
    val est = org.apache.spark.sql.functions.expr("hll_sketch_estimate(o_custkey_sketch)")
    assert(rows(spark.sql(sk.sql()).select(org.apache.spark.sql.functions.col("o_orderpriority"), est))
      == rows(sk.df.select(org.apache.spark.sql.functions.col("o_orderpriority"), est)))
    // the union-merge estimate is register-wise max: order-independent, exact round-trip
    val m = table("orders").distinctSketches(Seq("o_orderpriority"), "o_custkey")
      .mergeDistinctSketches(Nil, "o_custkey_sketch")
    assert(rows(spark.sql(m.sql())) == rows(m.df))
  }

  test("KLL and frequent-items sketch ops render Spark-executable SQL faces") {
    // exact regime on purpose: row counts below the sketch capacities mean
    // no randomized KLL compaction and exact MG counts, so the rendered SQL
    // (same registered kernels) must round-trip bit-identically. The bound
    // keeps the GLOBAL merge's retained count (150) under k = 200 — at 500
    // rows the merged sketch compacts and the round-trip goes flaky.
    val base = table("orders").filterRows(Seq("o_orderkey < 150"))
    val ps = base.percentileSketches(Seq("o_orderpriority"), "o_totalprice", k = 200)
    val pm = ps.mergePercentileSketches(Nil, "o_totalprice_qsketch", Seq(0.5, 0.95))
    assert(rows(spark.sql(pm.sql())) == rows(pm.df))
    // grouped merge face too
    val pm2 = base.percentileSketches(Seq("o_orderpriority", "o_orderstatus"), "o_totalprice")
      .mergePercentileSketches(Seq("o_orderpriority"), "o_totalprice_qsketch", Seq(0.5))
    assert(rows(spark.sql(pm2.sql())) == rows(pm2.df))
    val fs = base.freqSketches(Seq("o_orderstatus"), "o_orderpriority", maxMapSize = 64)
    val ft = fs.mergeFreqSketches(Seq("o_orderstatus"), "o_orderpriority_fsketch", k = 3)
    assert(rows(spark.sql(ft.sql())) == rows(ft.df))
    // global top-k (empty grouping) renders too
    val ftg = fs.mergeFreqSketches(Nil, "o_orderpriority_fsketch", k = 2)
    assert(rows(spark.sql(ftg.sql())) == rows(ftg.df))
    // no sketch op is left without a text form: the full chain renders
    assert(pm.sql().contains("KLL_MERGE_AGG"))
    assert(ft.sql().contains("FREQ_TOPK"))
  }

  test("every fragment-bearing operator renders SQL equivalent to its DataFrame face") {
    val chains = Seq(
      table("orders").rollingAgg(Seq("o_totalprice" -> Seq("SUM", "MIN")),
        Seq("o_orderdate" -> "ASC", "o_orderkey" -> "ASC"), (-2, 0), Seq("o_custkey")),
      table("orders").cumulativeAgg(Seq("o_totalprice" -> Seq("SUM")),
        Seq("o_orderdate" -> "ASC", "o_orderkey" -> "ASC"), "forward", Seq("o_custkey")),
      table("orders").timeseriesAgg(Seq("o_totalprice" -> Seq("SUM")),
        "o_orderdate", Seq(7), "day", Seq("o_custkey")),
      table("orders").math(Seq("TIMESTAMP '1998-01-01 00:00:00'"), Seq("ref"))
        .datediffCols("month", "o_orderdate", "ref"),
      table("orders").datespineGroups(Seq("o_orderpriority"), "o_orderdate",
        "1995-01-01", "1995-06-01", "month"),
      table("lineitem").linearRegression(Seq("l_returnflag"), "l_extendedprice", "l_quantity"),
      table("customer").math(
        Seq("CASE WHEN c_acctbal < 500 THEN CAST(NULL AS DOUBLE) ELSE c_acctbal END"),
        Seq("acct2")).impute(Seq("acct2" -> "mean"), flagMissingVals = true),
      table("lineitem").standardScaler(Seq("l_extendedprice")),
      table("lineitem").flagOutliers("l_extendedprice", Seq("l_returnflag"), z = 2.0),
      table("lineitem").winsorize("l_extendedprice", Seq("l_returnflag"), 0.05, 0.95),
      table("part").minMaxScaler(Seq("p_retailprice")),
      table("customer").labelEncode("c_mktsegment"),
      table("orders").bin("equalwidth", 10, "o_totalprice"),
      table("lineitem").sampleGroupK(Seq("l_returnflag"), 50,
        Seq("l_orderkey", "l_linenumber", "l_partkey")),
      table("lineitem").sampleGroupTopK(Seq("l_returnflag"), 25,
        "l_extendedprice", Seq("l_orderkey", "l_linenumber", "l_partkey")),
      table("lineitem").math(Seq("l_quantity / 50.0"), Seq("w"))
        .sampleWeighted("w", Seq("l_orderkey", "l_linenumber", "l_partkey")),
      table("lineitem")
        .math(Seq("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"), Seq("lbl"))
        .logisticRegression("lbl", Seq("l_quantity"), iters = 2),
      table("lineitem").scoreLogistic(
        table("lineitem")
          .math(Seq("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"), Seq("lbl"))
          .logisticRegression("lbl", Seq("l_quantity"), iters = 2).df, "q"),
      table("orders")
        .aggregate(Seq("o_orderpriority", "o_orderdate"),
          Seq("o_totalprice" -> Seq("SUM")))
        .resampleFill(Seq("o_orderpriority"), "o_orderdate",
          "1995-01-01", "1995-02-01", "day", Seq("o_totalprice_sum")),
      table("orders")
        .aggregate(Seq("o_orderpriority", "o_orderdate"),
          Seq("o_totalprice" -> Seq("SUM")))
        .resampleFill(Seq("o_orderpriority"), "o_orderdate",
          "1995-01-01", "1995-02-01", "day", Seq("o_totalprice_sum"),
          method = "linear"))
    chains.foreach { ch =>
      val op = ch.steps.last.op
      assert(rows(spark.sql(ch.sql())) == rows(ch.df), s"mismatch for $op")
    }
  }

  /** The rendered face, run by `spark.sql`, has the DataFrame face's
    * column names and types in order and the same rows.
    */
  private def assertRoundTrip(ch: graft.core.Chain): Unit = {
    val back = spark.sql(ch.sql())
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType.catalogString)
    assert(cols(back) == cols(ch.df), s"schema of ${ch.steps.last.op}")
    assert(rows(back) == rows(ch.df), s"rows of ${ch.steps.last.op}")
  }

  test("column-replacing steps render in place: the q_dedup_exact and q_llm_pipeline chains round-trip") {
    // math over an existing name and tokenCounts re-adding n_tokens
    // replace the column where the DataFrame face's withColumn does
    import graft.ext._
    val docs = table("documents")
    assertRoundTrip(docs.union(docs.math(Seq("doc_id + 10000"), Seq("doc_id")))
      .dedupExact("doc_id", "text"))
    assertRoundTrip(table("documents")
      .qualityScore("text")
      .filterRows(Seq("quality > 0.5", "n_tokens >= 20"))
      .dedupExact("doc_id", "text")
      .tokenCounts("text")
      .aggregate(Seq("lang"), Seq(
        "doc_id" -> Seq("COUNT"),
        "n_tokens" -> Seq("SUM", "AVG"),
        "quality" -> Seq("AVG"))))
  }

  test("bucket spines render BIGINT like the DataFrame face: q_histogram, q_histogram_grouped, calibration") {
    assertRoundTrip(table("orders").histogram("o_totalprice", 0.0, 500000.0, 16))
    assertRoundTrip(table("orders").histogram("o_totalprice", 0.0, 500000.0, 8,
      groupBy = Seq("o_orderstatus")))
    val scored = table("lineitem").math(
      Seq("l_discount * 9", "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END"),
      Seq("score", "label"))
    assertRoundTrip(scored.calibrationProfile("score", "label", 10))
    assertRoundTrip(scored.calibrationProfile("score", "label", 10,
      groupBy = Seq("l_linestatus")))
  }

  test("exact-sum faces round-trip on NaN rows, null rows and an all-NaN group") {
    // windowed SUM/AVG (windowAggSql), flag_outliers grouped and
    // ungrouped, and aggregate STDDEV/VAR render through graft.core.Exact's
    // SQL face; NaN and null rows must leave every statistic the same way
    // on both faces
    import spark.implicits._
    val nan = Double.NaN
    Seq[(String, Int, java.lang.Double)](
      ("a", 1, 1.5), ("a", 2, nan), ("a", 3, null), ("a", 4, 2.25),
      ("a", 5, -7.125), ("a", 6, 40.0), ("a", 7, 0.1),
      ("b", 1, 0.1), ("b", 2, 0.2), ("b", 3, nan), ("b", 4, 0.3), ("b", 5, null),
      ("c", 1, nan), ("c", 2, nan), ("c", 3, nan))
      .toDF("g", "t", "x").createOrReplaceTempView("exact_faces")
    val base = graft.core.Chain(spark, "exact_faces", spark.table("exact_faces"))
    val order = Seq("g" -> "ASC", "t" -> "ASC")
    val sumAvg = Seq("x" -> Seq("SUM", "AVG"))
    val chains = Seq(
      base.rollingAgg(sumAvg, order, (-2, 0), Seq("g")),
      base.rollingAgg(sumAvg, order, (-1, 1)),
      base.cumulativeAgg(sumAvg, order, "forward", Seq("g")),
      base.cumulativeAgg(sumAvg, order, "reverse"),
      base.flagOutliers("x", Seq("g"), z = 1.0),
      base.flagOutliers("x", z = 1.0),
      base.aggregate(Seq("g"), Seq("x" -> Seq("STDDEV", "VAR", "SUM", "AVG"))),
      base.aggregate(Nil, Seq("x" -> Seq("STDDEV", "VAR"))))
    chains.foreach { ch =>
      assert(rows(spark.sql(ch.sql())) == rows(ch.df), s"mismatch for ${ch.steps.last.op}")
    }
  }

  test("scalar ext text/similarity ops render SQL equivalent to their DataFrame faces") {
    import graft.ext._
    val docs = table("documents")
    val chains = Seq(
      docs.tokenCounts("text"),
      docs.qualityScore("text"),
      docs.langId("text"),
      docs.fingerprintCol("text"),
      docs.rollingFingerprintCol("text", k = 16),
      docs.repetitionScore("text", n = 2),
      docs.scrubText("text"),
      docs.normalizeText("text"),
      docs.normalizeText("text", lowercase = false, stripAccents = false),
      docs.dedupExact("doc_id", "text"),
      docs.chunkText("doc_id", "text", chunkTokens = 32, overlap = 8),
      docs.tokenCounts("text").fingerprintCol("text"), // faces compose as CTEs
      table("embeddings").quantizeEmbeddings("embedding")
        .dequantizeEmbeddings("embedding_q", "embedding_qscale", "emb_deq"))
    chains.foreach { ch =>
      val op = ch.steps.last.op
      assert(rows(spark.sql(ch.sql())) == rows(ch.df), s"mismatch for $op")
    }
    // tfidf renders with the driver-count N baked in as a literal
    val tf = docs.tfidf("doc_id", "text")
    assert(rows(spark.sql(tf.sql())) == rows(tf.df))
    val tfLog = docs.tfidf("doc_id", "text", idf = "log")
    assert(rows(spark.sql(tfLog.sql())) == rows(tfLog.df))
  }

  test("winsorize_sketch renders the KLL kernels and round-trips in the exact regime") {
    // exact regime (group sizes < k): no KLL compaction, so the rendered
    // SQL (same registered kernels) must round-trip bit-identically
    val base = table("orders").filterRows(Seq("o_orderkey < 150"))
    val grouped = base.winsorizeSketch("o_totalprice", Seq("o_orderpriority"), 0.1, 0.9, k = 200)
    assert(grouped.sql().contains("KLL_SKETCH_AGG"))
    assert(rows(spark.sql(grouped.sql())) == rows(grouped.df))
    val global = base.winsorizeSketch("o_totalprice", Nil, 0.1, 0.9, k = 200)
    assert(rows(spark.sql(global.sql())) == rows(global.df))
    // same exact-regime round-trip for the sketch scaler's face
    val rsg = base.robustScalerSketch("o_totalprice", Seq("o_orderpriority"))
    assert(rsg.sql().contains("KLL_SKETCH_AGG"))
    assert(rows(spark.sql(rsg.sql())) == rows(rsg.df))
    val rsGlobal = base.robustScalerSketch("o_totalprice")
    assert(rows(spark.sql(rsGlobal.sql())) == rows(rsGlobal.df))
  }

  test("multi-frame ext ops fail rendering with an error naming the op") {
    import graft.ext._
    val emb = table("embeddings")
    val cases = Seq(
      "char_gram_coverage" -> table("documents").charGramCoverage("doc_id", "text"),
      "strip_boilerplate" -> table("documents").stripBoilerplate("doc_id", "text", Seq("source")),
      "cosine_topk" -> emb.cosineTopK(emb.df.where("vec_id < 3"), "vec_id", "embedding", 5),
      "diff_against" -> table("orders").diffAgainst(
        table("orders").filterRows(Seq("o_orderkey % 2 = 0")), Seq("o_orderkey")))
    cases.foreach { case (op, ch) =>
      val e = intercept[UnsupportedOperationException](ch.sql())
      assert(e.getMessage.contains(op), s"render error must name '$op': ${e.getMessage}")
    }
  }

  test("search_tfidf renders a VALUES-literal query face; bm25 stays non-renderable") {
    import graft.ext._
    val docs = table("documents")
    val queries = table("documents").filterRows(Seq("doc_id < 3"))
    val ch = docs.searchTfidf(queries, "doc_id", "text", "doc_id", "text", k = 5)
    // the deferred face pins the tokenized query set as a VALUES literal;
    // the rendered text must answer exactly like the DataFrame face
    val rendered = ch.sql()
    assert(rendered.contains("VALUES"), s"expected a VALUES-literal query set:\n$rendered")
    assert(rows(spark.sql(rendered)) == rows(ch.df))
    // and composes mid-chain like any other fragment
    val ch2 = docs.filterRows(Seq("doc_id % 2 = 0"))
      .searchTfidf(queries, "doc_id", "text", "doc_id", "text", k = 3)
    assert(rows(spark.sql(ch2.sql())) == rows(ch2.df))
    val bm = docs.searchTfidf(queries, "doc_id", "text", "doc_id", "text",
      k = 3, scoring = "bm25")
    val e = intercept[UnsupportedOperationException](bm.sql())
    assert(e.getMessage.contains("search_tfidf"))
  }

  test("Bernoulli sample is documented non-renderable; hash sampler renders") {
    val e = intercept[UnsupportedOperationException](
      table("orders").sampleRows(0.5).sql())
    assert(e.getMessage.contains("sample") && e.getMessage.contains("DataFrame face"))
    val h = table("orders").sampleHash(0.5, Seq("o_orderkey"))
    assert(rows(spark.sql(h.sql())) == rows(h.df))
  }

  test("user-defined named transforms register, execute, and render like built-ins") {
    val sess = graft.core.GraftSession(TestSpark.spark)
    val tpl = sess.defineTransform("totals_by", Seq("group_col", "min_price"),
      "SELECT {{group_col}}, COUNT(*) AS n FROM {{source_table}} " +
        "WHERE o_totalprice >= {{min_price}} GROUP BY {{group_col}}",
      description = "per-group counts above a price floor")
    assert(sess.listTransforms().map(_.name).contains("totals_by"))
    assert(sess.transform("totals_by") eq tpl)
    val c = table("orders").transformNamed(tpl,
      Map("group_col" -> "o_orderpriority", "min_price" -> "100000"))
    assert(c.steps.last.op == "totals_by")
    // the step renders and the rendered SQL matches the DataFrame face
    assert(rows(spark.sql(c.sql())) == rows(c.df))
    // chained on top of other steps the fragment still composes
    val c2 = table("orders").filterRows(Seq("o_orderstatus = 'F'"))
      .transformNamed(tpl, Map("group_col" -> "o_orderpriority", "min_price" -> "0"))
    assert(rows(spark.sql(c2.sql())) == rows(c2.df))
  }

  test("named transform argument validation fails loudly") {
    val sess = graft.core.GraftSession(TestSpark.spark)
    val tpl = sess.defineTransform("needs_col", Seq("colname"),
      "SELECT {{colname}} FROM {{source_table}}")
    intercept[IllegalArgumentException] { // missing argument
      table("orders").transformNamed(tpl, Map.empty)
    }
    intercept[IllegalArgumentException] { // undeclared argument
      table("orders").transformNamed(tpl,
        Map("colname" -> "o_orderkey", "bogus" -> "x"))
    }
    intercept[IllegalArgumentException] { // template must reference the source
      sess.defineTransform("no_source", Nil, "SELECT 1")
    }
    intercept[IllegalArgumentException] { // declared arg absent from template
      sess.defineTransform("unused_arg", Seq("a"), "SELECT 1 FROM {{source_table}}")
    }
    intercept[IllegalArgumentException] { // destructive SQL guarded
      val bad = sess.defineTransform("drops", Nil,
        "SELECT * FROM {{source_table}}; DROP TABLE x")
      table("orders").transformNamed(bad)
    }
    intercept[NoSuchElementException] {
      sess.transform("never_registered")
    }
  }

  test("dbt export writes a runnable model + schema") {
    val out = Files.createTempDirectory("graft_dbt").toString
    val c = table("orders")
      .datetrunc(Seq("o_orderdate" -> "month"))
      .aggregate(Seq("o_orderdate_month"), Seq("o_totalprice" -> Seq("SUM")))
    val files = c.toDbt(out, "monthly_sales")
    assert(files.forall(f => Files.exists(Paths.get(f))))
    val model = Files.readString(Paths.get(out, "models", "monthly_sales.sql"))
    assert(model.contains("materialized='view'"))
    val sqlPart = model.split("\n\n", 2)(1)
    assert(rows(spark.sql(sqlPart)) == rows(c.df))
    val schema = Files.readString(Paths.get(out, "models", "schema.yml"))
    assert(schema.contains("o_totalprice_sum"))
  }

  test("dbt export leaves files holding the same text alone and rewrites changed ones") {
    val out = Files.createTempDirectory("graft_dbt_same").toString
    val c = table("orders").filterRows(Seq("o_totalprice > 100000"))
    val files = c.toDbt(out, "big_orders").map(Paths.get(_))
    val old = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    files.foreach(Files.setLastModifiedTime(_, old))
    assert(c.toDbt(out, "big_orders").map(Paths.get(_)) == files, "the return value must not change")
    assert(files.forall(Files.getLastModifiedTime(_) == old), "an unchanged file was rewritten")
    // a different chain under the same model name rewrites only what differs
    val c2 = table("orders").filterRows(Seq("o_totalprice > 200000"))
    c2.toDbt(out, "big_orders")
    val (model, schemaYml, project) = (files(0), files(1), files(2))
    assert(Files.getLastModifiedTime(model) != old)
    assert(Files.readString(model).contains(c2.sql()))
    assert(Files.getLastModifiedTime(schemaYml) == old && Files.getLastModifiedTime(project) == old)
  }
}
