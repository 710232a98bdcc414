package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Chain
import graft.ops._
import graft.ext._
import TestSpark._

/** Round-3 scale operators: as-of join, range join, salted join,
  * deterministic hash sampling, tf-idf, text scrubbing, and the hashed
  * shingle kernels.
  */
class ScaleOpsSpec extends AnyFunSuite {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asofJoin picks the latest right row at or before each left time") {
    val trades = Seq(
      (1L, ts("2020-01-01 10:00:00"), "t1"),
      (1L, ts("2020-01-01 10:05:00"), "t2"),
      (1L, ts("2020-01-01 09:00:00"), "t0"), // before any quote -> null
      (2L, ts("2020-01-01 10:00:00"), "t3")  // key with no quotes -> null
    ).toDF("k", "t", "tag")
    val quotes = Seq(
      (1L, ts("2020-01-01 09:55:00"), 100.0),
      (1L, ts("2020-01-01 10:05:00"), 105.0) // equal timestamp matches
    ).toDF("k", "t", "px")
    val got = Chain(spark, "trades", trades)
      .asofJoin(Chain(spark, "quotes", quotes), Seq("k"), "t", "t")
      .df.collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.lang.Double]("px"))).toMap
    assert(got == Map(
      "t0" -> None, "t1" -> Some(100.0), "t2" -> Some(105.0), "t3" -> None))
  }

  test("asofJoin forward picks the earliest right row at or after each left time") {
    val trades = Seq(
      (1L, ts("2020-01-01 10:00:00"), "t1"),  // -> 10:30 quote
      (1L, ts("2020-01-01 12:00:00"), "t2"),  // == quote time: matches
      (1L, ts("2020-01-01 13:00:00"), "t3"),  // nothing after -> null
      (2L, ts("2020-01-01 10:00:00"), "t4")   // key with no quotes -> null
    ).toDF("k", "t", "tag")
    val quotes = Seq(
      (1L, ts("2020-01-01 10:30:00"), 5.0),
      (1L, ts("2020-01-01 12:00:00"), 7.0)
    ).toDF("k", "qt", "px")
    val got = Chain(spark, "trades", trades)
      .asofJoin(Chain(spark, "quotes", quotes), Seq("k"), "t", "qt", direction = "forward")
      .df.collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.lang.Double]("px"))).toMap
    assert(got == Map(
      "t1" -> Some(5.0), "t2" -> Some(7.0), "t3" -> None, "t4" -> None))
    intercept[IllegalArgumentException] {
      Chain(spark, "trades", trades)
        .asofJoin(Chain(spark, "quotes", quotes), Seq("k"), "t", "qt", direction = "sideways")
    }
  }

  test("asofJoin suffixes right columns that collide with left names") {
    val l = Seq((1L, ts("2020-01-02 00:00:00"), "x")).toDF("k", "t", "v")
    val r = Seq((1L, ts("2020-01-01 00:00:00"), "y")).toDF("k", "t", "v")
    val out = Chain(spark, "l", l).asofJoin(Chain(spark, "r", r), Seq("k"), "t", "t").df
    assert(out.columns.toSeq == Seq("k", "t", "v", "v_asof"))
    assert(out.collect()(0).getAs[String]("v_asof") == "y")
  }

  test("rangeJoin is half-open and exact across bucket boundaries") {
    val points = Seq(
      (1L, ts("2020-01-01 00:00:00")), // == start: included
      (2L, ts("2020-01-11 00:00:00")), // == end: excluded
      (3L, ts("2020-01-10 23:59:59")), // last covered second
      (4L, ts("2020-02-15 00:00:00"))  // inside a long interval spanning buckets
    ).toDF("id", "p")
    val ivals = Seq(
      (ts("2020-01-01 00:00:00"), ts("2020-01-11 00:00:00"), "iv1"),
      (ts("2020-02-01 00:00:00"), ts("2020-03-01 00:00:00"), "iv2"),
      (ts("2020-05-01 00:00:00"), ts("2020-05-01 00:00:00"), "empty") // drops
    ).toDF("s", "e", "label")
    // bucket (1 day) much smaller than the intervals: exercises multi-bucket explode
    val got = Chain(spark, "p", points)
      .rangeJoin(Chain(spark, "iv", ivals), "p", "s", "e", bucketSeconds = 86400L)
      .df.select("id", "label").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "iv1"), (3L, "iv1"), (4L, "iv2")))
  }

  test("rangeJoin matches each qualifying pair exactly once") {
    val points = Seq((1L, ts("2020-01-05 12:00:00"))).toDF("id", "p")
    val ivals = Seq((ts("2020-01-01 00:00:00"), ts("2020-01-20 00:00:00"), "iv")).toDF("s", "e", "label")
    val n = Chain(spark, "p", points)
      .rangeJoin(Chain(spark, "iv", ivals), "p", "s", "e", bucketSeconds = 3600L)
      .df.count()
    assert(n == 1L) // interval covers ~456 hourly buckets; point still matches once
  }

  test("joinSalted returns exactly the plain join") {
    val li = table("lineitem")
    val o = table("orders")
    val plain = li.join(o, "inner", Seq("l_orderkey" -> "o_orderkey")).df
    val salted = li.joinSalted(o, "inner", Seq("l_orderkey" -> "o_orderkey"), saltBuckets = 4).df
    assert(salted.columns.toSeq == plain.columns.toSeq)
    assert(rows(salted) == rows(plain))
  }

  test("sampleHash is deterministic and layout-independent") {
    val li = table("lineitem")
    val keys = Seq("l_orderkey", "l_linenumber", "l_partkey")
    val a = li.sampleHash(0.2, keys).df
    val b = Chain(spark, "lineitem", li.df.repartition(7)).sampleHash(0.2, keys).df
    assert(rows(a) == rows(b))
    val total = li.df.count().toDouble
    val frac = a.count() / total
    assert(frac > 0.1 && frac < 0.3, s"fraction $frac far from 0.2")
    // SQL face agrees with the DataFrame face
    val viaSql = spark.sql(li.sampleHash(0.2, keys).sql())
    assert(rows(viaSql) == rows(a))
  }

  test("tfidf raw scores tf*N/df exactly; log variant is monotone in rarity") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian")).toDF("doc_id", "text")
    val got = Chain(spark, "d", docs).tfidf("doc_id", "text")
      .df.collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got((1L, "apple")) == ((2L, 1L, 6.0)))   // tf=2, df=1, 2*3/1
    assert(got((1L, "banana")) == ((1L, 2L, 1.5)))  // tf=1, df=2, 1*3/2
    assert(got((3L, "durian")) == ((1L, 1L, 3.0)))
    val logScores = Chain(spark, "d", docs).tfidf("doc_id", "text", idf = "log")
      .df.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(logScores((3L, "durian")) > logScores((1L, "banana")))
  }

  test("scrubText redacts urls and emails") {
    val docs = Seq(
      (1L, "see https://example.com/x?y=1 or mail a.b+c@test.org now"),
      (2L, "nothing to scrub")).toDF("doc_id", "text")
    val got = Chain(spark, "d", docs).scrubText("text")
      .df.collect().map(r => r.getLong(0) -> r.getAs[String]("text_clean")).toMap
    assert(got(1L) == "see <URL> or mail <EMAIL> now")
    assert(got(2L) == "nothing to scrub")
  }

  test("scale lint flags cartesian, global window and nested-loop shapes; passes scale-safe chains") {
    import graft.core.ScaleLint
    val li = table("lineitem")
    val orders = table("orders")
    // cartesian product → error (broadcast disabled so the tiny fixture
    // plans as a true CartesianProduct, not a broadcast nested loop)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cart = Chain(spark, "x", li.df.limit(10).crossJoin(orders.df.limit(10)))
      assert(cart.scaleFindings.exists(f => f.rule == "cartesian-product"),
        s"cartesian must be flagged: ${cart.scaleFindings}")
      intercept[IllegalStateException](cart.assertScaleSafe())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    // non-equi theta join over UNBOUNDED sides → nested-loop error (a
    // limit-capped build side is provably bounded since round 16 and
    // correctly downgrades to info — Round16Spec pins that)
    val theta = Chain(spark, "x",
      li.df.as("a").join(orders.df.as("b"),
        col("a.l_extendedprice") > col("b.o_totalprice")))
    assert(theta.scaleFindings.exists(f => f.rule == "nested-loop-join"),
      s"nested loop must be flagged: ${theta.scaleFindings}")
    // unpartitioned window → error
    val gw = Chain(spark, "x", li.df.withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("l_orderkey"))))
    assert(gw.scaleFindings.exists(_.rule == "global-window"),
      s"global window must be flagged: ${gw.scaleFindings}")
    // a nested-loop against a BOUNDED driver-local broadcast (the IVF
    // ops' centroid-frame cross joins) is deliberate and must NOT fail
    // the gate — it lints info, not error
    val centroids = spark.createDataFrame(
      (0 until 8).map(i => (i.toLong, i.toDouble))).toDF("_cid", "_cv")
    val bounded = Chain(spark, "x",
      li.df.limit(100).crossJoin(broadcast(centroids)))
    assert(bounded.scaleFindings.exists(_.rule == "nested-loop-join-bounded"),
      s"bounded local-broadcast BNLJ should be an info finding: ${bounded.scaleFindings}")
    assert(!bounded.scaleFindings.exists(f =>
      f.severity == "error" && f.rule == "nested-loop-join"),
      s"bounded local-broadcast BNLJ must not be a lint error: ${bounded.scaleFindings}")
    bounded.assertScaleSafe()
    // empty-grouping RANGE window (timeseriesAgg with no groupBy) → the
    // range-specific error, with the range-specific cure in the message
    val grw = orders.timeseriesAgg(Seq("o_totalprice" -> Seq("SUM")),
      "o_orderdate", Seq(7), "day", groupBy = Nil)
    assert(grw.scaleFindings.exists(_.rule == "global-range-window"),
      s"global RANGE window must be flagged distinctly: ${grw.scaleFindings}")
    // explode feeding a join → info-level fan-out note (the bucketized
    // range join is exactly this shape, bounded by design)
    val iv = orders.datetrunc(Seq("o_orderdate" -> "month"))
      .aggregate(Seq("o_orderdate_month"), Seq("o_orderkey" -> Seq("COUNT")))
      .dateadd("day", "o_orderdate_month", 10)
    val rj = li.rangeJoin(iv, "l_shipdate",
      "o_orderdate_month", "o_orderdate_month_add_10_day",
      bucketSeconds = 10L * 24 * 3600)
    assert(rj.scaleFindings.exists(_.rule == "explode-join-fanout"),
      s"explode+join must carry the fan-out info finding: ${rj.scaleFindings}")
    assert(rj.scaleFindings.filter(_.rule == "explode-join-fanout")
      .forall(_.severity == "info"), "fan-out note is info-level, not an error")
    rj.assertScaleSafe() // info findings never fail the gate
    // representative scale-safe chains pass (and report exchange counts)
    val ok = li.join(orders, "inner", Seq("l_orderkey" -> "o_orderkey"))
      .aggregate(Seq("o_orderpriority"), Seq("l_extendedprice" -> Seq("SUM")))
    val fs = ok.assertScaleSafe().scaleFindings
    assert(fs.forall(_.severity != "error") && fs.exists(_.rule == "exchange-count"))
    val ok2 = table("documents").qualityScore("text")
      .dedupExact("doc_id", "text")
    ok2.assertScaleSafe()
  }

  test("charGramCoverage scores gibberish below prose and handles short/empty docs") {
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "the dog jumps over the quick brown fox again and again"
    val docs = Seq(
      (1L, prose), (2L, prose + " with more of the same words repeated"),
      (3L, "qzxjvkw pfqgh zzyyxx wvutsk jjqqzz xkcdpq"), // gibberish
      (4L, "ab"), // shorter than the gram width -> no grams -> 0.0
      (5L, prose.take(60))).toDF("doc_id", "text")
    val got = Chain(spark, "d", docs)
      .charGramCoverage("doc_id", "text", n = 3, vocabSize = 64)
      .df.collect().map(r => r.getLong(0) -> r.getAs[Double]("text_cov_3")).toMap
    assert(got(1L) > 0.8, s"prose must be largely in-vocab, got ${got(1L)}")
    assert(got(3L) < got(1L) / 2,
      s"gibberish must score well below prose: ${got(3L)} vs ${got(1L)}")
    assert(got(4L) == 0.0, "sub-gram-width docs score 0.0, not null")
    // scoring against a REFERENCE model: the gibberish doc scores 0 when
    // the model is trained on prose only
    val ref = Chain(spark, "ref", docs.where(col("doc_id") === 1L))
    val vsRef = Chain(spark, "d", docs)
      .charGramCoverage("doc_id", "text", n = 3, vocabSize = 64, model = Some(ref))
      .df.collect().map(r => r.getLong(0) -> r.getAs[Double]("text_cov_3")).toMap
    assert(vsRef(3L) == 0.0, s"gibberish shares no trigram with prose, got ${vsRef(3L)}")
    assert(vsRef(1L) > 0.9, s"the reference doc is near-fully in its own vocab, got ${vsRef(1L)}")
  }

  test("normalizeText canonicalizes combining marks, accents, case and whitespace") {
    val docs = Seq(
      (1L, "Café  au\tlait"),          // precomposed é
      (2L, "Café au lait"),           // e + combining acute — same rendering
      (3L, "  RÉSUMÉ done"), // nbsp is \s in Java and DuckDB? keep ascii spaces
      (4L, "plain ascii stays put")).toDF("doc_id", "text")
    val got = Chain(spark, "d", docs).normalizeText("text").df
      .collect().map(r => r.getLong(0) -> r.getAs[String]("text_norm")).toMap
    // the two encodings of "café au lait" must land on identical bytes
    assert(got(1L) == "cafe au lait" && got(2L) == got(1L),
      s"NFC + accent strip must unify encodings, got ${got(1L)} / ${got(2L)}")
    assert(got(3L).endsWith("resume done") || got(3L) == "resume done" ||
      got(3L) == "resume done", s"accents stripped and trimmed, got '${got(3L)}'")
    assert(got(4L) == "plain ascii stays put")
    // accent-keeping variant: marks survive, case and whitespace still fold
    val keep = Chain(spark, "d", docs).normalizeText("text", stripAccents = false)
      .df.collect().map(r => r.getLong(0) -> r.getAs[String]("text_norm")).toMap
    assert(keep(1L) == "café au lait" && keep(2L) == keep(1L),
      "NFC must unify the combining-mark encoding even when accents are kept")
  }

  test("ShingleHashes agrees with string shingles on sizes and jaccard") {
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = (0 until 30).map(i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(20))(words(rnd.nextInt(words.length))).mkString(" ")))
      .toDF("doc_id", "text")
    val viaKernel = docs.select(col("doc_id"),
      graft.functions.ShingleHashes(graft.ext.TextOps.tokens(col("text")), 2).as("h"),
      array_sort(array_distinct(graft.ext.DedupOps.shingles(col("text"), 2))).as("s"))
    val bad = viaKernel.where(size(col("h")) =!= size(col("s"))).count()
    assert(bad == 0L, "kernel set size must equal distinct string-shingle count")
    // pairwise intersection counts agree between hashed and string worlds
    val l = viaKernel.select(col("doc_id").as("a"), col("h").as("ha"), col("s").as("sa"))
    val r = viaKernel.select(col("doc_id").as("b"), col("h").as("hb"), col("s").as("sb"))
    val pairs = l.crossJoin(r).where(col("a") < col("b"))
      .select(
        graft.functions.SortedArrayIntersectCount(col("ha"), col("hb")).as("ih"),
        size(array_intersect(col("sa"), col("sb"))).as("is"))
    assert(pairs.where(col("ih") =!= col("is")).count() == 0L)
  }

  test("chunkText windows tokens with overlap and covers every token") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "short")).toDF("doc_id", "text")
    val got = Chain(spark, "d", docs).chunkText("doc_id", "text", chunkTokens = 4, overlap = 1)
      .df.orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    // doc 1: starts 0,3,6,9 -> windows of 4 tokens (last truncated)
    assert(got.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0, "w1 w2 w3 w4", 4),
      (1L, 1, "w4 w5 w6 w7", 4),
      (1L, 2, "w7 w8 w9 w10", 4),
      (1L, 3, "w10", 1)))
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0, "short", 1)))
  }

  test("stratified hash sample applies per-stratum fractions deterministically") {
    val li = table("lineitem")
    val keys = Seq("l_orderkey", "l_linenumber", "l_partkey")
    val sampled = li.sampleHashStratified("l_returnflag",
      Seq("A" -> 0.0, "N" -> 1.0, "R" -> 0.3), keys).df
    val byFlag = sampled.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = li.df.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byFlag.contains("A"), "fraction 0 must drop the stratum")
    assert(byFlag("N") == totals("N"), "fraction 1 must keep the stratum whole")
    val rFrac = byFlag("R").toDouble / totals("R")
    assert(rFrac > 0.2 && rFrac < 0.4, s"R fraction $rFrac far from 0.3")
    // strata sampled at the same fraction keep the same key set as sampleHash
    val plain = li.sampleHash(0.3, keys).df.where("l_returnflag = 'R'")
    assert(rows(sampled.where("l_returnflag = 'R'")) == rows(plain))
  }

  test("hint/repartitionBy/coalescePartitions preserve rows and render pass-through") {
    val o = table("orders")
    val c2 = o.hint("broadcast").repartitionBy(Seq("o_custkey"), Some(3)).coalescePartitions(2)
    assert(rows(c2.df) == rows(o.df))
    assert(c2.df.rdd.getNumPartitions == 2)
    assert(rows(spark.sql(c2.sql())) == rows(o.df))
  }

  test("persistChain caches the prefix and unpersistChain releases it") {
    val o = table("orders").filterRows(Seq("o_totalprice > 100000"))
    val cached = o.persistChain()
    try {
      assert(rows(cached.df) == rows(o.df))
      assert(cached.df.storageLevel.useMemory || cached.df.storageLevel.useDisk)
      assert(rows(spark.sql(cached.sql())) == rows(o.df)) // render pass-through
    } finally {
      val released = cached.unpersistChain()
      assert(released.df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    }
  }

  test("bucketed tables join without a shuffle and match the plain join") {
    val li = table("lineitem").df.select("l_orderkey", "l_linenumber", "l_quantity")
    val o = table("orders").df.select("o_orderkey", "o_totalprice")
    Chain(spark, "li", li).saveBucketed("li_bucketed", Seq("l_orderkey"), 4, overwrite = true)
    Chain(spark, "o", o).saveBucketed("o_bucketed", Seq("o_orderkey"), 4, overwrite = true)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed").join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.sparkPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      val expected = li.join(o, col("l_orderkey") === col("o_orderkey"))
      assert(rows(joined) == rows(expected))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    // write partitions are aligned with the bucket function, so the table
    // holds exactly one data file per bucket (unaligned writes explode to
    // tasks x buckets files at scale)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dataFiles = new java.io.File(wh, "li_bucketed").listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(dataFiles == 4, s"expected 4 bucket files, found $dataFiles")
  }

  test("bucketed minhash index is probed without an index-side shuffle") {
    val docs = table("documents")
    docs.filterRows(Seq("doc_id % 2 = 0"))
      .minhashIndex("doc_id", "text", shingleWords = 2, numHashes = 32, bands = 8)
      .saveBucketed("mh_idx_bucketed", Seq("_bh"), 4, overwrite = true)
    val batch = docs.filterRows(Seq("doc_id % 2 = 1"))
    val viaTable = batch.dedupAgainstIndex(spark.table("mh_idx_bucketed"),
      "doc_id", "text", shingleWords = 2, numHashes = 32, bands = 8, estThreshold = 0.5)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // no ShuffleExchange may sit anywhere above the bucketed index scan:
      // the saved layout must satisfy the probe join's distribution
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def hasIndexScan(p: SparkPlan): Boolean = p.collectFirst {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.mkString(",").contains("mh_idx_bucketed") => f
      }.nonEmpty
      val plan = viaTable.df.queryExecution.sparkPlan
      assert(hasIndexScan(plan), s"expected a scan of the bucketed index:\n$plan")
      val shufflesOverIndex = plan.collect {
        case e: ShuffleExchangeExec if hasIndexScan(e.child) => e
      }
      assert(shufflesOverIndex.isEmpty,
        s"the bucketed index side must not re-shuffle on probe:\n$plan")
      // and the saved-table probe answers exactly like the in-memory index
      val idxFrame = docs.filterRows(Seq("doc_id % 2 = 0"))
        .minhashIndex("doc_id", "text", shingleWords = 2, numHashes = 32, bands = 8)
      val viaFrame = batch.dedupAgainstIndex(idxFrame.df,
        "doc_id", "text", shingleWords = 2, numHashes = 32, bands = 8, estThreshold = 0.5)
      assert(rows(viaTable.df.select("doc_id")) == rows(viaFrame.df.select("doc_id")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
  }

  test("bucketed tfidf index is probed without an index-side shuffle") {
    val docs = table("documents")
    docs.tfidfIndex("doc_id", "text")
      .saveBucketed("tfidf_idx_bucketed", Seq("term"), 4, overwrite = true)
    val queries = docs.filterRows(Seq("doc_id < 3"))
    val probed = queries.searchTfidfIndex(spark.table("tfidf_idx_bucketed"),
      "doc_id", "text", k = 5)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      def hasIndexScan(p: SparkPlan): Boolean = p.collectFirst {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.mkString(",").contains("tfidf_idx_bucketed") => f
      }.nonEmpty
      // strong form, on the EXECUTED plan (post-EnsureRequirements): the
      // path from the index scan up to its first join must carry no
      // exchange — the term-bucketed layout satisfies the probe pruning
      // AND the df-per-term aggregation; only pruned postings may shuffle
      // (and they do so above a join, toward the per-query aggregation)
      def joinFree(p: SparkPlan): Boolean =
        p.collectFirst { case j: BaseJoinExec => j }.isEmpty
      // unwrap AQE: `inputPlan` predates EnsureRequirements (it holds no
      // requirement-inserted exchanges, which would make a no-exchange
      // assertion vacuous); `initialPlan` is the pre-execution plan WITH
      // them — the plan this claim must hold on
      val plan = probed.df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      assert(plan.collectFirst {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.mkString(",").contains("tfidf_idx_bucketed") => f
      }.nonEmpty, s"expected a scan of the bucketed index:\n$plan")
      val preJoinShuffles = plan.collect {
        case e: ShuffleExchangeExec if hasIndexScan(e.child) && joinFree(e.child) => e
      }
      assert(preJoinShuffles.isEmpty,
        s"the bucketed index side must not shuffle before its probe join:\n$plan")
      // and the saved-table probe answers exactly like the one-shot path
      val direct = docs.searchTfidf(queries, "doc_id", "text", "doc_id", "text", k = 5)
      assert(rows(probed.df) == rows(direct.df))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
  }

  test("compactIndex dedups replayed postings, re-applies the cap, and keeps the bucketed layout") {
    import org.apache.spark.sql.SaveMode
    val docs = table("documents")
    val postings = docs.filterRows(Seq("doc_id % 2 = 0"))
      .minhashIndex("doc_id", "text", shingleWords = 2, numHashes = 32, bands = 8)
    postings.saveBucketed("mh_idx_compact", Seq("_bh"), 4, overwrite = true)
    val clean = spark.table("mh_idx_compact").count()
    // an at-least-once replay appends the same postings again
    postings.df.repartition(4, col("_bh"))
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(4, "_bh").sortBy("_bh").saveAsTable("mh_idx_compact")
    assert(spark.table("mh_idx_compact").count() == 2 * clean)
    DedupOps.compactIndex(spark, "mh_idx_compact", buckets = 4)
    assert(spark.table("mh_idx_compact").count() == clean,
      "compaction must collapse replay-duplicated postings")
    // the rewritten table still answers and still probes without an
    // index-side shuffle (same assertion as the build-path test)
    val batch = docs.filterRows(Seq("doc_id % 2 = 1"))
    val probed = batch.dedupAgainstIndex(spark.table("mh_idx_compact"),
      "doc_id", "text", shingleWords = 2, numHashes = 32, bands = 8, estThreshold = 0.5)
    val viaFrame = batch.dedupAgainstIndex(postings.df,
      "doc_id", "text", shingleWords = 2, numHashes = 32, bands = 8, estThreshold = 0.5)
    assert(rows(probed.df.select("doc_id")) == rows(viaFrame.df.select("doc_id")))
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def hasIndexScan(p: SparkPlan): Boolean = p.collectFirst {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.mkString(",").contains("mh_idx_compact") => f
      }.nonEmpty
      val plan = probed.df.queryExecution.sparkPlan
      assert(hasIndexScan(plan))
      val shufflesOverIndex = plan.collect {
        case e: ShuffleExchangeExec if hasIndexScan(e.child) &&
          e.child.collectFirst {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
          }.isEmpty => e
      }
      assert(shufflesOverIndex.isEmpty,
        s"compacted index must keep its no-pre-join-shuffle layout:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
  }

  test("dedupAgainstIndex validates every persisted build parameter, not just width") {
    // a bands or shingleWords mismatch keeps the signature width identical
    // but yields disjoint band hashes — a probe that silently drops NOTHING;
    // the metadata columns minhashIndex persists make it loud instead
    val docs = table("documents")
    val idx = docs.filterRows(Seq("doc_id % 2 = 0"))
      .minhashIndex("doc_id", "text", shingleWords = 2, numHashes = 32, bands = 8)
    val batch = docs.filterRows(Seq("doc_id % 2 = 1"))
    val e1 = intercept[IllegalArgumentException] {
      batch.dedupAgainstIndex(idx.df, "doc_id", "text",
        shingleWords = 2, numHashes = 32, bands = 4, estThreshold = 0.5)
    }
    assert(e1.getMessage.contains("bands=8"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      batch.dedupAgainstIndex(idx.df, "doc_id", "text",
        shingleWords = 3, numHashes = 32, bands = 8, estThreshold = 0.5)
    }
    assert(e2.getMessage.contains("shingleWords=2"), e2.getMessage)
  }

  test("probe-time bucket cap re-checks buckets accumulated across ingest batches") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def idx(lo: Long, hi: Long) = Chain(spark, "d",
        (lo until hi).map(i => (i, text)).toDF("doc_id", "text"))
      .minhashIndex("doc_id", "text", shingleWords = 2, numHashes = 32,
        bands = 8, maxBucket = 8).df
    // each batch passes the build-time cap (6 <= 8); their union does not
    // (12 > 8) — the cross-batch accumulation the probe-time guard catches
    val accumulated = idx(0L, 6L).unionByName(idx(6L, 12L))
    val batch = Chain(spark, "b", Seq((100L, text)).toDF("doc_id", "text"))
    val kept = batch.dedupAgainstIndex(accumulated, "doc_id", "text",
      shingleWords = 2, numHashes = 32, bands = 8, estThreshold = 0.5, maxBucket = 8)
    assert(kept.df.count() == 1,
      "oversized accumulated buckets must be skipped (hot-key skew guard)")
    // with headroom the same bucket is probed and the duplicate drops
    val dropped = batch.dedupAgainstIndex(accumulated, "doc_id", "text",
      shingleWords = 2, numHashes = 32, bands = 8, estThreshold = 0.5, maxBucket = 100)
    assert(dropped.df.count() == 0)
  }

  test("cluster ops release their checkpoint blocks via releaseCheckpoints") {
    import spark.implicits._
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val base = persisted
    // the driver finish (below the iteration gate) holds its labels in
    // the plan: no block outlives the build, before any release
    val local = Chain(spark, "p", pairs).clusterPairs()
    assert(local.df.count() == 41)
    assert(persisted == base, "the driver-closed labels leave no residue")
    // the distributed loop (gate closed), twice in one session: residue
    // must not accumulate across invocations
    gateClosed {
      (1 to 2).foreach { _ =>
        val labels = Chain(spark, "p", pairs).clusterPairs()
        assert(labels.df.count() == 41)
        assert(persisted > base, "labels blocks stay alive for the consumer")
        labels.releaseCheckpoints()
        assert(persisted == base, "release must return storage to baseline")
      }
      val viaContraction = Chain(spark, "p", pairs).clusterPairsContraction()
      assert(viaContraction.df.count() == 41)
      viaContraction.releaseCheckpoints()
      assert(persisted == base)
      val docs = table("documents")
      val nearDeduped = docs.dedupNear("doc_id", "text", n = 3, threshold = 0.5)
      assert(nearDeduped.df.count() > 0)
      nearDeduped.releaseCheckpoints()
      assert(persisted == base)
    }
  }

  test("string-id clusterPairs: surrogate translate is two long-keyed joins over checkpointed frames") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.LongType
    val pairs = Seq(("u-1", "u-2"), ("u-2", "u-3"), ("u-5", "u-6"))
      .toDF("id_a", "id_b")
    val out = Chain(spark, "p", pairs).clusterPairs()
    // contract first: components labeled by their minimum ORIGINAL id
    val got = out.df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("u-1" -> "u-1", "u-2" -> "u-1", "u-3" -> "u-1",
      "u-5" -> "u-5", "u-6" -> "u-5"), s"labels: $got")
    // plan shape: the result reads ONLY checkpointed RDDs — the miner /
    // pair pipeline is truncated away and can never re-run, and the
    // long-keyed id-map translate join ran ONCE inside the translated
    // frame's checkpoint materialization. What remains visible is the
    // canonicalization join-back alone, long-keyed on the surrogate
    // cluster key, with both consumers fed by ONE exchange
    // (ReusedExchange, the IVF self-join shape) and no string-keyed
    // shuffle anywhere
    val plan = out.df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(plan.collect { case f: FileSourceScanExec => f }.isEmpty &&
      plan.collect { case l: LocalTableScanExec => l }.isEmpty,
      s"translate must read only checkpointed frames:\n$plan")
    val joins = plan.collect { case j: BaseJoinExec => j }
    val longKeyed = joins.filter(j =>
      j.leftKeys.nonEmpty && j.leftKeys.forall(_.dataType == LongType))
    assert(joins.size == 1 && longKeyed.size == 1,
      s"expected exactly 1 long-keyed canonicalization join, " +
        s"got ${joins.size} joins (${longKeyed.size} long-keyed):\n$plan")
    // exchange reuse is an AQE runtime decision — assert on the executed
    // adaptive plan after the collect above (the KMeansSpec pattern)
    val executed = out.df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"both canonicalization consumers must share one exchange:\n$executed")
    out.releaseCheckpoints()
  }

  test("contraction fixpoint probe costs one driver barrier per shrinking round") {
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.sparkContext.addSparkListener(listener)
    val got = try gateClosed {
      val out = Chain(spark, "p", pairs).clusterPairsContraction()
      val n = out.df.count()
      out.releaseCheckpoints()
      Thread.sleep(1500) // listener bus drains asynchronously
      assert(n == 10)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
    // Measured budget for this fixed 10-node path under the one-probe
    // fixpoint (count per round + ONE anti-join only when counts tie).
    // The two-anti-join probe this replaced costs ~2 extra jobs per round
    // (~+10 here) and must blow this bound — the bound is the regression
    // guard for per-round driver barriers on iterative ops.
    val budget = 78
    assert(got <= budget, s"contraction spent $got jobs; budget $budget — " +
      "did the fixpoint probe regain a per-round barrier?")
  }

  test("dedupAgainstIndex fails loudly on a signature-width mismatch") {
    val docs = table("documents")
    val idx = docs.filterRows(Seq("doc_id % 2 = 0"))
      .minhashIndex("doc_id", "text", shingleWords = 2, numHashes = 16, bands = 8)
    val ex = intercept[IllegalArgumentException] {
      docs.filterRows(Seq("doc_id % 2 = 1"))
        .dedupAgainstIndex(idx.df, "doc_id", "text",
          shingleWords = 2, numHashes = 32, bands = 8, estThreshold = 0.5)
    }
    assert(ex.getMessage.contains("index signature width"),
      s"expected the width-mismatch error, got: ${ex.getMessage}")
  }

  test("saved IVF index: batch append extends it and the probe never shuffles index rows pre-join") {
    import org.apache.spark.sql.SaveMode
    val emb = table("embeddings")
    // history = even ids, trained + saved bucketed on the cell id
    emb.filterRows(Seq("vec_id % 2 = 0"))
      .ivfIndex("vec_id", "embedding", nlist = 8)
      .saveBucketed("ivf_idx_bucketed", Seq("_cid"), 4, overwrite = true)
    // ingest = odd ids assigned against the SAVED centroids, appended in
    // the same bucketed layout (no retrain, no corpus re-assignment)
    emb.filterRows(Seq("vec_id % 2 = 1"))
      .ivfIndexAssign(spark.table("ivf_idx_bucketed"), "vec_id", "embedding")
      .df.repartition(4, col("_cid"))
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(4, "_cid").sortBy("_cid").saveAsTable("ivf_idx_bucketed")
    val queries = Chain(spark, "q", emb.df.where("vec_id < 5"))
    val viaTable = queries.searchIvfIndex(
      spark.table("ivf_idx_bucketed"), "vec_id", "embedding", 10, nprobe = 3)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // index rows may be shuffled only AFTER they joined the probe set
      // (the scored-candidate shuffle on query_id is the declared cost);
      // any exchange whose subtree holds the index scan but no join means
      // the index side itself re-shuffled — the thing the design forbids
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def hasIndexScan(p: SparkPlan): Boolean = p.collectFirst {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.mkString(",").contains("ivf_idx_bucketed") => f
      }.nonEmpty
      val plan = viaTable.df.queryExecution.sparkPlan
      assert(hasIndexScan(plan), s"expected a scan of the saved IVF index:\n$plan")
      val preJoinShuffles = plan.collect {
        case e: ShuffleExchangeExec if hasIndexScan(e.child) &&
          e.child.collectFirst {
            case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
          }.isEmpty => e
      }
      assert(preJoinShuffles.isEmpty,
        s"index rows must not shuffle before joining the probe set:\n$plan")
      // the saved-table probe answers exactly like the same index held in memory
      val half1 = emb.filterRows(Seq("vec_id % 2 = 0")).ivfIndex("vec_id", "embedding", nlist = 8)
      val half2 = emb.filterRows(Seq("vec_id % 2 = 1"))
        .ivfIndexAssign(half1.df, "vec_id", "embedding")
      val viaFrame = queries.searchIvfIndex(half1.df.unionByName(half2.df),
        "vec_id", "embedding", 10, nprobe = 3)
      assert(rows(viaTable.df) == rows(viaFrame.df))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
  }

  test("ZValue interleaves quantile bins into the Morton order") {
    import spark.implicits._
    val df = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)).toDF("x", "y")
    val z = graft.functions.ZValue(Seq(col("x"), col("y")), Seq(Array(0.5), Array(0.5)), 1)
    val got = df.select(col("x"), col("y"), z.as("z")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getLong(2)).toMap
    // bit 0 = x's bin, bit 1 = y's bin
    assert(got == Map((0.0, 0.0) -> 0L, (1.0, 0.0) -> 1L, (0.0, 1.0) -> 2L, (1.0, 1.0) -> 3L))
  }

  test("z-ordered layout narrows per-file ranges on every z column at once") {
    val li = table("lineitem").df
      .select("l_orderkey", "l_partkey", "l_extendedprice")
      .orderBy(xxhash64(col("l_orderkey"), col("l_partkey"), col("l_extendedprice")))
    Chain(spark, "li", li).save("li_scrambled", "TABLE", overwrite = true)
    Chain(spark, "li", spark.table("li_scrambled"))
      .saveZOrdered("li_zordered", Seq("l_orderkey", "l_extendedprice"),
        overwrite = true, files = 8)
    // same rows survive the layout change
    assert(rows(spark.table("li_zordered")) == rows(li))
    def avgFileSpanFraction(tbl: String, c: String): Double = {
      val per = spark.table(tbl)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("span"))
        .agg(avg(col("span"))).collect()(0).getDouble(0)
      val g = spark.table(tbl)
        .agg((max(col(c)) - min(col(c))).cast("double")).collect()(0).getDouble(0)
      per / g
    }
    // 8 files x 2 dims: the Morton curve should hold each file to ~sqrt(1/8)
    // of each column's range; the scrambled layout spans ~everything. Both
    // clauses matter: absolute narrowness drives row-group skipping, the
    // scrambled comparison pins causality on the layout. The absolute bound
    // is 0.65, not sqrt(1/8): curve segments that cross a major Morton
    // boundary legitimately span more than the ideal cell, and the file
    // cuts come from RangePartitioner's SAMPLED boundaries, which jitter
    // run to run (observed 0.58-0.61 on this fixture — a 0.6 bound flaked).
    Seq("l_orderkey", "l_extendedprice").foreach { c =>
      val zf = avgFileSpanFraction("li_zordered", c)
      val sf = avgFileSpanFraction("li_scrambled", c)
      assert(zf < 0.65, f"z-ordered file span on $c is $zf%.2f of global, want < 0.65")
      assert(zf < sf * 0.7, f"z-order must beat the scrambled layout on $c: $zf%.2f vs $sf%.2f")
    }
  }

  test("z-order bins stay balanced when a z column carries NaN") {
    import spark.implicits._
    // 10% NaN mixed into x: NaN must not poison the cut derivation (one
    // NaN cut point breaks the bin binary search for EVERY row of that
    // column) and NaN rows themselves bin to 0 alongside nulls — the
    // curve's origin, never a data-bearing cell
    val df = (0 until 2000).map { i =>
      (i.toLong, if (i % 10 == 0) Double.NaN else i.toDouble, (i % 17).toDouble)
    }.toDF("id", "x", "y")
    Chain(spark, "z", df).saveZOrdered("znan_t", Seq("x", "y"),
      overwrite = true, bits = 3, files = 4)
    assert(rows(spark.table("znan_t")) == rows(df), "layout change must not lose rows")
    // replicate the writer's stats job: cuts NaN-free, NaN at the origin,
    // and the real mass spread near-uniformly over all 2^bits bins
    val probs = (1 until 8).map(_.toDouble / 8).toArray
    val cuts = df.select(when(!isnan(col("x")), col("x")).as("q"))
      .stat.approxQuantile("q", probs, 0.01)
    assert(!cuts.exists(_.isNaN), s"cuts must be NaN-free: ${cuts.mkString(",")}")
    assert(graft.functions.ZValue.binOf(cuts, Double.NaN, 3) == 0L,
      "NaN must bin to the curve origin")
    val bins = df.where("NOT isnan(x)").select("x").collect()
      .map(r => graft.functions.ZValue.binOf(cuts, r.getDouble(0), 3))
    val hist = bins.groupBy(identity).view.mapValues(_.length)
    assert(hist.size == 8, s"all 8 bins must be populated: ${hist.toMap}")
    val expected = bins.length / 8
    assert(hist.values.max <= 2 * expected,
      s"equal-mass bins under NaN: ${hist.toMap} (expected ~$expected each)")
  }

  test("asofJoin preserves the matched row's own NULLs and keeps columns from one row") {
    // quote at 10:00 has px=NULL but sz=7; older quote at 09:00 has px=100, sz=5.
    // Per-column carry would resurrect px=100 (stale) next to sz=7 (current) —
    // mixing two right rows. Struct carry must yield (NULL, 7).
    val trades = Seq((1L, ts("2020-01-01 10:30:00"), "t1")).toDF("k", "t", "tag")
    val quotes = Seq(
      (1L, ts("2020-01-01 09:00:00"), Option(100.0), Option(5L)),
      (1L, ts("2020-01-01 10:00:00"), Option.empty[Double], Option(7L))
    ).toDF("k", "t", "px", "sz")
    val out = Chain(spark, "trades", trades)
      .asofJoin(Chain(spark, "quotes", quotes), Seq("k"), "t", "t")
      .df.collect()(0)
    assert(out.isNullAt(out.fieldIndex("px")), "matched row's NULL must survive")
    assert(out.getAs[Long]("sz") == 7L)
  }

  test("rangeJoin keeps sub-second intervals and fractional endpoints") {
    val points = Seq(
      (1L, ts("2020-01-01 00:00:05.5")),  // inside (05.2, 05.8)
      (2L, ts("2020-01-01 00:00:05.9")),  // after end
      (3L, ts("2020-01-01 00:00:05.2")),  // == start: included (half-open)
      (4L, ts("2020-01-01 00:00:05.8"))   // == end: excluded
    ).toDF("id", "p")
    val ivals = Seq(
      (ts("2020-01-01 00:00:05.2"), ts("2020-01-01 00:00:05.8"), "subsec")
    ).toDF("s", "e", "label")
    val got = Chain(spark, "p", points)
      .rangeJoin(Chain(spark, "iv", ivals), "p", "s", "e", bucketSeconds = 1L)
      .df.select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L))
  }

  test("rangeJoin catches points between floor(end) and a fractional end") {
    // end = 00:00:10.5 with 10s buckets: the last covered instant 10.499999
    // lands in bucket 1, which whole-second truncation (floor(10)-1 -> bucket 0)
    // would never explode to.
    val points = Seq((1L, ts("2020-01-01 00:00:10.2"))).toDF("id", "p")
    val ivals = Seq(
      (ts("2020-01-01 00:00:00"), ts("2020-01-01 00:00:10.5"), "iv")).toDF("s", "e", "label")
    val n = Chain(spark, "p", points)
      .rangeJoin(Chain(spark, "iv", ivals), "p", "s", "e", bucketSeconds = 10L)
      .df.count()
    assert(n == 1L)
  }

  test("joinSalted left_outer SQL face renders parseable Spark SQL") {
    val li = table("lineitem")
    val o = table("orders")
    val c = li.joinSalted(o, "left_outer", Seq("l_orderkey" -> "o_orderkey"), saltBuckets = 4)
    assert(c.sql().contains("LEFT OUTER JOIN"))
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("union over columns needing quoting renders with backticks, not string literals") {
    val a = Seq((1, "x")).toDF("id", "odd name")
    val b = Seq((2, "y")).toDF("id", "odd name")
    a.createOrReplaceTempView("quoted_a")
    b.createOrReplaceTempView("quoted_b")
    val c = Chain(spark, "quoted_a", a).union(Chain(spark, "quoted_b", b))
    assert(c.sql().contains("`odd name`"))
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("stratified sample rejects out-of-range fractions") {
    val li = table("lineitem")
    val keys = Seq("l_orderkey")
    intercept[IllegalArgumentException] {
      li.sampleHashStratified("l_returnflag", Seq("A" -> -0.1), keys)
    }
    intercept[IllegalArgumentException] {
      li.sampleHashStratified("l_returnflag", Seq("A" -> 1.5), keys)
    }
    intercept[IllegalArgumentException] {
      li.sampleHashStratified("l_returnflag", Seq("A" -> 0.5), keys, defaultFraction = -1.0)
    }
  }

  test("labelEncode above maxDistinct uses a shuffle join, never a broadcast index") {
    // 1M distinct values: the index must not ride a global window or a
    // broadcast — the plan has to survive a 100M-distinct column
    val big = spark.range(1000000L).selectExpr("id", "concat('v', id) as cat")
    val encoded = Chain(spark, "big", big).labelEncode("cat", maxDistinct = 1000)
    val plan = encoded.df.queryExecution.sparkPlan.toString
    assert(!plan.contains("Broadcast"),
      s"index above maxDistinct must not broadcast:\n${plan.take(2000)}")
    // codes are still the 1-based sorted-value ranks
    val sample = encoded.df.where("cat in ('v0', 'v1', 'v999999')")
      .select("cat", "cat_encoded").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // lexicographic sort: v0 < v1 < v10 < ... < v999999
    assert(sample("v0") == 1)
    assert(sample("v1") == 2)
    assert(sample("v999999") == 1000000)
    // under the cap the broadcast fast path stays
    val small = Chain(spark, "small",
      spark.range(100L).selectExpr("id", "concat('v', id) as cat"))
      .labelEncode("cat", maxDistinct = 1000)
    assert(small.df.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
  }

  test("embeddingCosinePairs matches brute force with no cartesian product in the plan") {
    val emb = table("embeddings")
    val got = Chain(spark, "embeddings", emb.df)
      .embeddingCosinePairs("vec_id", "embedding", 0.4)
    val plan = got.df.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"pair mining must be a partitioned equi-join:\n${plan.take(1500)}")
    // brute-force reference (test-only crossJoin)
    val withNorm = emb.df.select(col("vec_id").as("_id"), col("embedding").as("_v"))
      .withColumn("_n", sqrt(graft.core.Exact.dot(col("_v"), col("_v"))))
    val bf = withNorm.select(col("_id").as("id_a"), col("_v").as("_va"), col("_n").as("_na"))
      .crossJoin(withNorm.select(col("_id").as("id_b"), col("_v").as("_vb"), col("_n").as("_nb")))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.core.Exact.dot(col("_va"), col("_vb")) / col("_na") / col("_nb")).as("cosine"))
      .where(col("cosine") >= 0.4)
    assert(rows(got.df) == rows(bf), "sketch-prefiltered exact pairs must equal brute force")
  }

  test("embeddingCosinePairs refuses a corpus above the quadratic size guard") {
    val emb = table("embeddings")
    val e = intercept[IllegalArgumentException] {
      Chain(spark, "embeddings", emb.df)
        .embeddingCosinePairs("vec_id", "embedding", 0.4, maxRows = 100L)
    }
    assert(e.getMessage.contains("minhashLsh"))
  }

  test("asofJoin SQL face round-trips: spark.sql(rendered) equals the DataFrame face") {
    val trades = Seq(
      (1L, ts("2020-01-01 10:00:00"), "t1"),
      (1L, ts("2020-01-01 10:05:00"), "t2"),
      (2L, ts("2020-01-01 10:00:00"), "t3")).toDF("k", "t", "tag")
    val quotes = Seq(
      (1L, ts("2020-01-01 09:55:00"), Option(100.0), Option(5L)),
      (1L, ts("2020-01-01 10:02:00"), Option.empty[Double], Option(7L))
    ).toDF("k", "qt", "px", "sz")
    trades.createOrReplaceTempView("asof_trades")
    quotes.createOrReplaceTempView("asof_quotes")
    val c = Chain(spark, "asof_trades", trades)
      .asofJoin(Chain(spark, "asof_quotes", quotes), Seq("k"), "t", "qt")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
    val fwd = Chain(spark, "asof_trades", trades)
      .asofJoin(Chain(spark, "asof_quotes", quotes), Seq("k"), "t", "qt",
        direction = "forward")
    assert(rows(spark.sql(fwd.sql())) == rows(fwd.df))
  }

  test("rangeJoin SQL face round-trips: spark.sql(rendered) equals the DataFrame face") {
    val points = Seq(
      (1L, ts("2020-01-01 00:00:05.5")),
      (2L, ts("2020-01-03 12:00:00"))).toDF("id", "p")
    val ivals = Seq(
      (ts("2020-01-01 00:00:05.2"), ts("2020-01-01 00:00:05.8"), "subsec"),
      (ts("2020-01-02 00:00:00"), ts("2020-01-05 00:00:00"), "days")).toDF("s", "e", "label")
    points.createOrReplaceTempView("range_points")
    ivals.createOrReplaceTempView("range_ivals")
    val c = Chain(spark, "range_points", points)
      .rangeJoin(Chain(spark, "range_ivals", ivals), "p", "s", "e", bucketSeconds = 3600L)
    assert(rows(spark.sql(c.sql())) == rows(c.df))
    assert(c.df.count() == 2L)
  }

  test("asof/range SQL faces round-trip with derived-table right sides") {
    val trades = Seq((1L, ts("2020-01-01 10:00:00"), "t1")).toDF("k", "t", "tag")
    val quotes = Seq(
      (1L, ts("2020-01-01 09:00:00"), 100.0),
      (1L, ts("2020-01-01 09:30:00"), -1.0)).toDF("k", "qt", "px")
    trades.createOrReplaceTempView("dt_trades")
    quotes.createOrReplaceTempView("dt_quotes")
    // right side is a transformed sub-chain -> renders as a derived table
    val filtered = Chain(spark, "dt_quotes", quotes).filterRows(Seq("px > 0"))
    val a = Chain(spark, "dt_trades", trades).asofJoin(filtered, Seq("k"), "t", "qt")
    assert(rows(spark.sql(a.sql())) == rows(a.df))
    assert(a.df.collect()(0).getAs[Double]("px") == 100.0)

    val points = Seq((1L, ts("2020-01-02 12:00:00"))).toDF("id", "p")
    val ivals = Seq(
      (ts("2020-01-01 00:00:00"), ts("2020-01-05 00:00:00"), "keep"),
      (ts("2020-01-01 00:00:00"), ts("2020-01-05 00:00:00"), "drop")).toDF("s", "e", "label")
    points.createOrReplaceTempView("dt_points")
    ivals.createOrReplaceTempView("dt_ivals")
    val fIv = Chain(spark, "dt_ivals", ivals).filterRows(Seq("label = 'keep'"))
    val r = Chain(spark, "dt_points", points)
      .rangeJoin(fIv, "p", "s", "e", bucketSeconds = 86400L)
    assert(rows(spark.sql(r.sql())) == rows(r.df))
    assert(r.df.count() == 1L)
  }

  test("saveAppend creates then appends; saveUpsert replaces by key") {
    val t1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v")
    val t2 = Seq((3L, "c", 30.0)).toDF("id", "name", "v")
    spark.sql("DROP TABLE IF EXISTS append_t")
    Chain(spark, "t1", t1).saveAppend("append_t")
    Chain(spark, "t2", t2).saveAppend("append_t")
    assert(spark.table("append_t").count() == 3L)

    spark.sql("DROP TABLE IF EXISTS upsert_t")
    Chain(spark, "t1", t1).saveUpsert("upsert_t", Seq("id")) // create
    val upd = Seq((2L, "b2", 22.0), (4L, "d", 40.0)).toDF("id", "name", "v")
    Chain(spark, "upd", upd).saveUpsert("upsert_t", Seq("id"))
    val got = spark.table("upsert_t").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got == Map(
      1L -> ("a", 10.0),   // untouched old row survives
      2L -> ("b2", 22.0),  // replaced by key
      4L -> ("d", 40.0)))  // new key appended
    // upsert with a key not in the chain fails loudly
    intercept[IllegalArgumentException] {
      Chain(spark, "upd", upd).saveUpsert("upsert_t", Seq("nope"))
    }
  }

  test("savePartitioned prunes partitions on partition-column filters") {
    spark.sql("DROP TABLE IF EXISTS part_docs")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    Chain(spark, "documents", docs).savePartitioned("part_docs", Seq("lang"), overwrite = true)
    val filtered = spark.table("part_docs").where(col("lang") === "en")
    val scan = filtered.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"partition filter must reach the scan:\n${scan.take(800)}")
    // semantics preserved
    assert(filtered.count() == docs.where(col("lang") === "en").count())
    assert(spark.table("part_docs").count() == docs.count())
  }

  test("flagContaminatedBloom matches the exact variant and filters map-side before any exchange") {
    val docs = Chain(spark, "documents",
      spark.read.parquet(s"$sfDir/documents.parquet"))
    val eval = docs.filterRows(Seq("doc_id < 25"))
    val exact = docs.flagContaminated(eval, "doc_id", "text", n = 8)
      .df.select("doc_id", "contaminated")
    val bloom = docs.flagContaminatedBloom(eval, "doc_id", "text", n = 8,
      expectedItems = 100000L).df
    val bloomFlags = bloom.select("doc_id", "contaminated")
    assert(bloomFlags.except(exact).isEmpty && exact.except(bloomFlags).isEmpty,
      "bloom-confirmed flags must be identical to the exact semi-join")
    // scale shape: the might_contain test must run BELOW every shuffle on
    // the corpus-gram side — the corpus is filtered map-side, only the
    // ~fpp survivors ever enter an exchange
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = bloom.queryExecution.executedPlan
    def containsMightContain(p: SparkPlan): Boolean =
      p.toString.contains("might_contain")
    assert(containsMightContain(plan), "bloom test missing from the physical plan")
    val shufflesAboveBloomFilter = plan.collect {
      case e: ShuffleExchangeExec if containsMightContain(e.child) => e
    }
    // every path from the bloom-filtered gram stream upward may shuffle
    // (the confirm join / distinct) — but the FILTER itself must sit under
    // the first exchange, i.e. some exchange has it strictly below
    assert(shufflesAboveBloomFilter.nonEmpty ||
      plan.collectFirst { case e: ShuffleExchangeExec => e }.isEmpty,
      "might_contain must be evaluated below the first shuffle of the gram stream")
  }

  test("diff_against shuffles only (keys, fingerprint), never wide rows") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // at test scale the tiny sides broadcast (no exchange at all); disable
    // broadcast to surface the 100 TB shape — a sort-merge full outer whose
    // exchanges must carry only the 2-column (key, fingerprint) rows
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val diff = table("orders")
        .diffAgainst(table("orders").filterRows(Seq("o_orderkey % 2 = 0")),
          Seq("o_orderkey")).df
      // unwrap AQE: `inputPlan` predates EnsureRequirements (no exchanges
      // yet); `initialPlan` is the pre-execution plan WITH them
      val plan = diff.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      val exchanges = plan.collect {
        case e: ShuffleExchangeExec => e.child.output.length
      }
      assert(exchanges.nonEmpty, "expected a shuffle for the full-outer join")
      assert(exchanges.forall(_ == 2),
        s"every exchange input must be (key, fingerprint) — widths $exchanges")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("PositionAgreeCount equals the zip_with formulation") {
    val rnd = new scala.util.Random(5)
    val df = (0 until 100).map { i =>
      (i.toLong, Array.fill(32)(rnd.nextInt(4).toLong), Array.fill(32)(rnd.nextInt(4).toLong))
    }.toDF("id", "x", "y")
    val checked = df.select(
      graft.functions.PositionAgreeCount(col("x"), col("y")).as("k"),
      size(filter(zip_with(col("x"), col("y"), (a, b) => a === b), b => b)).as("z"))
    assert(checked.where(col("k") =!= col("z")).count() == 0L)
  }
}
