package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{Chain, Exact}
import graft.ext._
import graft.ops._
import TestSpark._

class ExtSpec extends AnyFunSuite {

  test("FixedPointDot matches a BigDecimal reference, any partitioning") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map(i => i.toLong -> Array.fill(64)(rnd.nextFloat() - 0.5f))
    import spark.implicits._
    val df = vecs.toDF("id", "v")
    def ref(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0L
      a.indices.foreach { i =>
        val p = a(i).toDouble * b(i).toDouble * 1e12
        acc += (if (p >= 0) math.floor(p + 0.5) else math.ceil(p - 0.5)).toLong
      }
      acc.toDouble / 1e12
    }
    val got = df.as("x").join(df.as("y"), expr("x.id < y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        Exact.dot(col("x.v"), col("y.v")).as("dot"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lookup = vecs.toMap
    got.foreach { case ((a, b), d) =>
      assert(d == ref(lookup(a), lookup(b)), s"pair ($a,$b)")
    }
    // repartitioned plan yields identical values
    val got2 = df.repartition(7).as("x").join(df.repartition(3).as("y"), expr("x.id < y.id"))
      .select(col("x.id"), col("y.id"), Exact.dot(col("x.v"), col("y.v")).as("dot"))
      .collect().map(_.getDouble(2)).sorted.toSeq
    assert(got2 == got.values.toSeq.sorted)
  }

  test("exact dedup keeps lowest id per normalized text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello   world"), (2L, "hello world"), (3L, "different"),
      (4L, "HELLO WORLD  "), (5L, "different")).toDF("doc_id", "text")
    val kept = Chain(spark, "docs", docs).dedupExact("doc_id", "text")
      .df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L))
  }

  test("gopherRules: per-rule signals, boolean gate, SQL face agrees") {
    import spark.implicits._
    val good = ("the data " * 30).trim + " have patterns with rows of tables and that be to"
    val docs = Seq(
      (1L, good),                                   // passes every rule
      (2L, "too short to have the words"),          // fails min word count
      (3L, ("x " * 60).trim),                       // mean word len 1 < 3, no stopwords
      (4L, ("- the item\n" * 60).trim),             // 100% bullet lines > 0.9
      (5L, (("the story continues..." + "\n") * 60).trim), // ellipsis lines > 0.3
      (6L, ("### " * 60).trim + "the of and"),      // symbol ratio > 0.1
      (7L, ""),                                     // blank: 0 words, keep false
      (8L, null.asInstanceOf[String])               // null: keep FALSE, not null
    ).toDF("doc_id", "text")
    // thresholds relaxed only where the fixture intends a pass elsewhere
    val c = Chain(spark, "gop_fx", docs).gopherRules("text", minWords = 20)
    val rows8 = c.df.orderBy("doc_id").collect()
    def keep(i: Int) = rows8(i).getAs[Boolean]("gr_keep")
    assert(keep(0), s"doc 1 must pass: ${rows8(0)}")
    assert((1 to 7).forall(i => !keep(i)),
      s"docs 2-8 must each fail their rule: ${rows8.map(_.getAs[Boolean]("gr_keep")).mkString(",")}")
    // the per-rule signals identify WHICH rule failed
    assert(rows8(2).getAs[Double]("gr_mean_word_len") == 1.0)
    assert(rows8(3).getAs[Double]("gr_bullet_ratio") == 1.0)
    assert(rows8(4).getAs[Double]("gr_ellipsis_ratio") == 1.0)
    assert(rows8(5).getAs[Double]("gr_symbol_ratio") > 0.1)
    assert(rows8(6).getAs[Long]("gr_word_count") == 0L)
    assert(!rows8(7).isNullAt(rows8(7).fieldIndex("gr_keep")), "null text must gate FALSE, not null")
    // rendered SQL face computes the identical signals
    docs.createOrReplaceTempView("gop_fx")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("minhash LSH finds planted near-duplicates") {
    import spark.implicits._
    val base = (0 until 40).map(i =>
      i.toLong -> s"alpha beta gamma delta epsilon zeta eta theta iota kappa word$i more$i")
    val dup = Seq(100L -> (base(3)._2 + " tail"), 101L -> base(7)._2)
    val docs = (base ++ dup).toDF("doc_id", "text")
    val pairs = Chain(spark, "d", docs)
      .minhashLsh("doc_id", "text", shingleWords = 2, numHashes = 32,
        bands = 8, estThreshold = 0.5)
      .df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 100L)))
    assert(pairs.contains((7L, 101L)))
  }

  test("ngram jaccard is exact: identical docs score 1.0") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b x y z")).toDF("doc_id", "text")
    val got = Chain(spark, "d", docs)
      .ngramJaccardPairs("doc_id", "text", n = 2, threshold = 0.1)
      .df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got((1L, 3L)) == (1.0 / 7.0)) // shares "a b" of 4+4 distinct bigrams
  }

  test("centroidByGroup: exact per-dim means, NaN/null vectors excluded whole, SQL face agrees") {
    import spark.implicits._
    val df = Seq(
      ("a", Seq(1.0f, 2.0f)),
      ("a", Seq(3.0f, 6.0f)),
      ("a", Seq(Float.NaN, 1.0f)),          // NaN anywhere → excluded WHOLE
      ("a", null.asInstanceOf[Seq[Float]]), // null vector → excluded
      ("b", Seq(0.0f, 0.0f)),               // zero vector is a valid contributor
      ("b", Seq(4.0f, -2.0f))
    ).toDF("g", "vec")
    val c = Chain(spark, "cent_fx", df).centroidByGroup(Seq("g"), "vec")
    val got = c.df.collect().map(r =>
      r.getString(0) -> r.getSeq[Double](1).toList).toMap
    assert(got == Map("a" -> List(2.0, 4.0), "b" -> List(2.0, -1.0)), s"got $got")
    // rendered SQL face computes the identical centroids
    df.createOrReplaceTempView("cent_fx")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
    // scale claim (SCALING.md): the posexplode fan-out partial-aggregates
    // MAP-SIDE, so the bottom exchange carries <= groups x dims rows per
    // task, never the exploded corpus — pin a partial HashAggregate below
    // the bottom-most exchange on the pre-execution plan
    val plan = c.df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size == 2, s"per-dim agg + reassembly agg, saw ${exchanges.size}:\n$plan")
    assert(exchanges.last.child.collectFirst {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }.nonEmpty, s"no map-side partial aggregate below the explode exchange:\n$plan")
  }

  test("cosine top-k ranks by exact cosine with id tiebreak") {
    val emb = table("embeddings")
    val topk = emb.cosineTopK(emb.df.where("vec_id = 0"), "vec_id", "embedding", 5).df
    val got = topk.orderBy("rank").collect()
    assert(got.length == 5)
    val cosines = got.map(_.getAs[Double]("cosine")).toSeq
    assert(cosines == cosines.sorted.reverse, "descending cosine")
    assert(got.forall(_.getAs[Long]("neighbor_id") != 0L), "self excluded")
  }

  test("langid predicts via marker votes with deterministic tie-break") {
    import spark.implicits._
    val docs = Seq(
      (1L, "der hund und die katze ist da"),
      (2L, "the cat and the dog is here"),
      (3L, "el perro y el gato es aqui"),
      (4L, "xyzzy plugh")).toDF("doc_id", "text") // no markers: tie -> 'de'
    val got = Chain(spark, "d", docs).langId("text")
      .df.select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "de", 2L -> "en", 3L -> "es", 4L -> "de"))
  }

  test("rolling fingerprint: edit-tolerant, matches interpreted reference") {
    import spark.implicits._
    val long1 = ("zqx7 " * 10) + ("common words here " * 20)
    val long2 = ("common words here " * 20) + (" vbn9" * 10) // same core, edits at ends
    val other = "entirely different content with other words " * 10
    val docs = Seq((1L, long1), (2L, long2), (3L, other)).toDF("doc_id", "text")
    val got = graft.core.Chain(spark, "d", docs)
      .rollingFingerprintCol("text", 32)
      .df.collect().map(r => r.getLong(0) -> r.getAs[Long]("text_rfp")).toMap
    // normalization-invariance: whitespace/case variants collide
    val variant = Seq((9L, long1.toUpperCase.replace(" ", "   "))).toDF("doc_id", "text")
    val vfp = graft.core.Chain(spark, "d", variant)
      .rollingFingerprintCol("text", 32).df.collect()(0).getAs[Long]("text_rfp")
    assert(vfp == got(1L))
    // distinct content separates
    assert(got(1L) != got(3L) && got(2L) != got(3L))
    // deterministic across partitionings
    val again = graft.core.Chain(spark, "d", docs.repartition(3))
      .rollingFingerprintCol("text", 32)
      .df.collect().map(r => r.getLong(0) -> r.getAs[Long]("text_rfp")).toMap
    assert(again == got)
  }

  test("clusterPairs labels connected components with the component minimum") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain), {10,11} (one edge), {20,21,22} (a triangle)
    val pairs = Seq(
      (2L, 3L), (1L, 2L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val got = Chain(spark, "p", pairs).clusterPairs().df
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("clusterPairsContraction matches clusterPairs and collapses a long chain") {
    import spark.implicits._
    // the label-propagation fixture: same components, same answer expected
    val pairs = Seq(
      (2L, 3L), (1L, 2L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 30L)).toDF("id_a", "id_b") // self-pair: singleton must label itself
    val got = Chain(spark, "p", pairs).clusterPairsContraction().df
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L))
    // a 400-hop path (the chain-shaped worst case): star-contraction must
    // land every node on the minimum within the logarithmic round budget
    val path = (0L to 400L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val chain = Chain(spark, "path", path).clusterPairsContraction(maxIters = 25).df
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(chain.length == 401 && chain.forall(_._2 == 0L),
      s"all 401 chain nodes must label 0, got ${chain.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("clusterPairs fails loudly when the iteration bound is too small") {
    import spark.implicits._
    // a 6-hop path needs several contraction rounds; 1 is not enough.
    // The bound governs the distributed loop, which runs past the
    // iteration gate — closed here
    val path = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      gateClosed(Chain(spark, "p", path).clusterPairs(maxIters = 1))
    }
  }

  test("packSequences bins by exclusive running token total per group") {
    import spark.implicits._
    val docs = Seq(
      ("en", 1L, 600), ("en", 2L, 600), ("en", 3L, 600), ("en", 4L, 600),
      ("de", 5L, 900), ("de", 6L, 200)).toDF("lang", "doc_id", "n_tok")
    val got = Chain(spark, "d", docs)
      .packSequences("n_tok", 1000L, orderBy = Seq("doc_id"), partitionBy = Seq("lang"))
      .df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id")).toMap
    // en cumulative-before: 0,600,1200,1800 -> packs 0,0,1,1; de: 0,900 -> 0,0
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L, 6L -> 0L))
    // SQL face agrees
    docs.createOrReplaceTempView("pack_docs")
    val c = Chain(spark, "pack_docs", docs)
      .packSequences("n_tok", 1000L, orderBy = Seq("doc_id"), partitionBy = Seq("lang"))
    assert(rows(spark.sql(c.sql())) == rows(c.df))
    intercept[IllegalArgumentException] {
      Chain(spark, "d", docs).packSequences("n_tok", 0L, Seq("doc_id"))
    }
  }

  test("repetitionScore is the duplicated n-gram fraction") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),        // trigrams: aba,bab,aba,bab -> 2/4 distinct
      (2L, "w1 w2 w3 w4 w5"),     // all distinct -> 0
      (3L, "hi")).toDF("doc_id", "text") // short doc -> 0 by convention
    val got = Chain(spark, "d", docs).repetitionScore("text", n = 3).df
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("text_rep_3")).toMap
    assert(got(1L) == 0.5)
    assert(got(2L) == 0.0)
    assert(got(3L) == 0.0)
  }

  test("flagContaminated marks docs sharing an n-gram with the eval set") {
    import spark.implicits._
    val evalTokens = (1 to 12).map(i => s"ev$i").mkString(" ")
    val corpus = Seq(
      (1L, s"prefix words ${(1 to 9).map(i => s"ev$i").mkString(" ")} suffix"), // 9 verbatim eval tokens ⊃ an 8-gram
      (2L, (1 to 20).map(i => s"clean$i").mkString(" ")),
      (3L, "short doc")).toDF("doc_id", "text")
    val eval = Seq((100L, evalTokens)).toDF("doc_id", "text")
    val got = Chain(spark, "c", corpus)
      .flagContaminated(Chain(spark, "e", eval), "doc_id", "text", n = 8).df
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("contaminated")).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("multimodal decode adds deterministic metadata per row") {
    import spark.implicits._
    val docs = Seq((1L, "abcd"), (2L, "xy")).toDF("doc_id", "text")
    val out = Chain(spark, "d", docs).withMediaColumn("text")
      .decodeMedia("media").df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("byte_len")).toMap
    assert(out == Map(1L -> 4, 2L -> 2))
  }

  test("resizeMedia: binary in/out, deterministic bytes, stamped metadata, null payload") {
    import spark.implicits._
    val docs = Seq((1L, "abcd"), (2L, "xy")).toDF("doc_id", "text")
    val out = Chain(spark, "rz", docs).withMediaColumn("text")
      .resizeMedia("media", 64, 64).df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Array[Byte]]("media"), r.getAs[Int]("width"), r.getAs[Int]("byte_len")))
      .toMap
    // fake output length = ((len + w*h) % 977) + 16 — input-varying
    assert(out(1L)._3 == ((4 + 4096) % 977) + 16 && out(1L)._2 == 64)
    assert(out(2L)._3 == ((2 + 4096) % 977) + 16)
    assert(out(1L)._1.length == out(1L)._3, "payload replaced in place, new length")
    // determinism: same payload + target -> identical bytes
    val again = Chain(spark, "rz2", docs).withMediaColumn("text")
      .resizeMedia("media", 64, 64).df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Array[Byte]]("media")).toMap
    assert(out(1L)._1.sameElements(again(1L)))
    // null payload resizes from empty bytes, never throws
    val withNull = spark.sql("SELECT CAST(3 AS BIGINT) AS doc_id, CAST(NULL AS BINARY) AS media")
    val nr = Chain(spark, "rz3", withNull).resizeMedia("media", 8, 8).df.collect()(0)
    assert(nr.getAs[Int]("byte_len") == ((0 + 64) % 977) + 16)
  }

  test("extractFeatures: exact k/1024 floats; composes with cosine top-k") {
    import spark.implicits._
    val docs = Seq((1L, "abcd"), (2L, "abcd"), (3L, "different-length")).toDF("doc_id", "text")
    val f = Chain(spark, "fx", docs).withMediaColumn("text")
      .extractFeatures("media", 4)
    val rows0 = f.df.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getSeq[Float](r.fieldIndex("features"))).toMap
    def want(len: Long, i: Int) =
      ((len * (i + 1) % 100003L) * 2654435761L % 1024L) / 1024.0f
    assert(rows0(1L) == (0 until 4).map(want(4L, _)))
    assert(rows0(1L) == rows0(2L), "same payload -> identical vector")
    assert(rows0(3L) != rows0(1L), "length-varying")
    // the features column feeds the ANN family directly
    val emb = f.df.selectExpr("doc_id AS vec_id",
      "transform(features, x -> cast(x AS float)) AS embedding")
    val topk = graft.core.Chain(spark, "fxe", emb)
      .cosineTopK(emb.where("vec_id = 1"), "vec_id", "embedding", 1).df.collect()
    assert(topk.length == 1 && topk(0).getLong(1) == 2L,
      s"doc 2 (identical vector) must be doc 1's nearest neighbor, got ${topk.toSeq}")
  }

  test("ImageHeaderDecoder parses real PNG/JPEG/GIF/BMP headers through the pipeline") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(33)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      b.put(Array[Byte](8, 6, 0, 0, 0)) // bit depth, color type, ...
      b.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 + 18 + 19)
      b.put(Array(0xff, 0xd8).map(_.toByte))                    // SOI
      b.put(Array(0xff, 0xe0).map(_.toByte)).putShort(16.toShort) // APP0 len 16
      b.put("JFIF".getBytes).put(Array.fill[Byte](10)(0))
      b.put(Array(0xff, 0xc0).map(_.toByte)).putShort(17.toShort) // SOF0 len 17
      b.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      b.put(Array.fill[Byte](12)(0))
      b.array()
    }
    def gif(w: Int, h: Int, frames: Int): Array[Byte] = {
      val buf = scala.collection.mutable.ArrayBuffer[Byte]()
      buf ++= "GIF89a".getBytes
      buf += (w & 0xff).toByte; buf += ((w >> 8) & 0xff).toByte
      buf += (h & 0xff).toByte; buf += ((h >> 8) & 0xff).toByte
      buf ++= Array[Byte](0, 0, 0) // no global color table
      (0 until frames).foreach { _ =>
        buf += 0x2c.toByte            // image descriptor
        buf ++= Array.fill[Byte](9)(0) // left/top/w/h/flags (no local table)
        buf += 2.toByte               // LZW min code size
        buf += 1.toByte; buf += 0.toByte // one 1-byte data sub-block, terminator
        buf += 0.toByte
      }
      buf += 0x3b.toByte // trailer
      buf.toArray
    }
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(26).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(26).putInt(0).putInt(26)
      b.putInt(40).putInt(w).putInt(-h) // top-down bmp: negative height
      b.array()
    }
    val media = Seq(
      (1L, png(640, 480)), (2L, jpeg(320, 200)), (3L, gif(99, 44, 3)),
      (4L, bmp(12, 34)), (5L, "not an image".getBytes)).toDF("doc_id", "media")
    val got = Chain(spark, "m", media)
      .decodeMedia("media", ImageHeaderDecoder).df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[String]("format"), r.getAs[Int]("n_frames")))).toMap
    assert(got(1L) == ((640, 480, "png", 1)))
    assert(got(2L) == ((320, 200, "jpeg", 1)))
    assert(got(3L) == ((99, 44, "gif", 3)))
    assert(got(4L) == ((12, 34, "bmp", 1)))
    assert(got(5L) == ((0, 0, "unknown", 1)))
    // frame sampling composes with the real decoder's frame counts
    val frames = Chain(spark, "m", media.where("doc_id = 3"))
      .decodeMedia("media", ImageHeaderDecoder).frameSample(2).df
      .select("frame_idx").collect().map(_.getInt(0)).toSeq.sorted
    assert(frames == Seq(0, 2))
  }

  test("AudioHeaderDecoder handles truncation, ID3 tags and mid-stream corruption") {
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(44100 * 4) ++ le16(4) ++ le16(16)
    // data chunk CLAIMS 1000 bytes but only 40 arrive (truncated upload):
    // the decoder must count the samples actually present, not trust the header
    val truncated = "RIFF".getBytes ++ le32(1000) ++ "WAVE".getBytes ++
      fmt ++ "data".getBytes ++ le32(1000) ++ Array.fill[Byte](40)(0)
    val t = AudioHeaderDecoder.decode(truncated)
    assert(t.format == "wav" && t.nSamples == 10, s"truncated wav -> 40/4 samples, got $t")
    // ID3v2 tag (syncsafe size 100) in front of one MP3 frame
    val frame = Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0x00) ++
      Array.fill[Byte](413)(0)
    val id3 = "ID3".getBytes ++ Array[Byte](4, 0, 0) ++
      Array[Byte](0, 0, 0, 100) ++ Array.fill[Byte](100)(0)
    val tagged = AudioHeaderDecoder.decode(id3 ++ frame)
    assert(tagged.format == "mp3" && tagged.nSamples == 1152 &&
      tagged.sampleRate == 44100 && tagged.channels == 2, s"got $tagged")
    // two clean frames, then garbage: count stops at the corruption
    val corrupt = AudioHeaderDecoder.decode(frame ++ frame ++ "garbage".getBytes)
    assert(corrupt.nSamples == 2304, s"frame walk must stop at corruption, got $corrupt")
    // non-audio blobs degrade, never throw
    assert(AudioHeaderDecoder.decode("not audio".getBytes).format == "unknown")
    assert(AudioHeaderDecoder.decode(Array.emptyByteArray).format == "unknown")
  }

  test("round-9 ops complete on empty input with the contract schema") {
    import spark.implicits._
    import java.sql.Timestamp
    val emptyEvents = Seq.empty[(Long, Long, Timestamp)].toDF("event_id", "user_id", "ts")
    val s1 = Chain(spark, "e1", emptyEvents).sessionize(Seq("user_id"), "ts", 60L)
    assert(s1.df.columns.contains("session_id") && s1.df.count() == 0)
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val s2 = Chain(spark, "e2", emptyDocs).gopherRules("text")
    assert(s2.df.columns.contains("gr_keep") && s2.df.count() == 0)
    val s3 = Chain(spark, "e3", emptyDocs.withColumnRenamed("text", "url"))
      .canonicalizeUrls("url")
    assert(s3.df.columns.contains("url_canon") && s3.df.count() == 0)
    val emptyNums = Seq.empty[(String, Double)].toDF("g", "x")
    val s4 = Chain(spark, "e4", emptyNums).robustScaler("x", Seq("g"))
    assert(s4.df.columns.contains("x_rscaled") && s4.df.count() == 0)
    val emptyVecs = Seq.empty[(String, Seq[Float])].toDF("g", "vec")
    val s5 = Chain(spark, "e5", emptyVecs).centroidByGroup(Seq("g"), "vec")
    assert(s5.df.columns.sameElements(Array("g", "centroid")) && s5.df.count() == 0)
  }

  test("canonicalizeUrls: case/port/fragment/tracking rules, null-safe, SQL face agrees") {
    val df = SparkEntry.urlFixtureDf(spark)
    val c = Chain(spark, "url_fixtures", df).canonicalizeUrls("url")
    val got = c.df.collect().map(r =>
      r.getLong(0) -> Option(r.getString(2)).orNull).toMap
    val want = Map(
      1L -> "http://example.com/Path/Page?a=1",   // case+port+tracking+fragment
      2L -> "https://shop.example.com/",           // https default port
      3L -> "https://example.com:8443/x",          // non-default port survives
      4L -> "http://example.com/",                 // all-tracking query drops the ?
      5L -> "http://example.com/a?id=9",           // first-position tracking
      6L -> "http://example.com/a",                // trim
      7L -> "/relative/path",                      // relative link: fragment+gclid
      8L -> "not a url",                           // prose unchanged
      9L -> null,                                  // null propagates
      10L -> "ftp://files.example.com/MixedCasePath", // path case preserved
      11L -> "http://example.com/a")                  // collides with 6 (crawl dedup)
    assert(got == want, s"got $got")
    df.createOrReplaceTempView("url_fixtures")
    assert(rows(spark.sql(c.sql())) == rows(c.df))
  }

  test("scrubPii redacts each PII shape in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "visit https://x.io/a?b=1 or mail me@host.org now"),
      (2L, "server at 192.168.0.1 ssn 123-45-6789"),
      (3L, "card 4111111111111111 phone +14155550123 or 415-555-0123"),
      (4L, "year 2024 has only short digits 123")).toDF("doc_id", "text")
    val got = Chain(spark, "d", docs).scrubPii("text")
      .df.select("doc_id", "text_clean").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "visit <URL> or mail <EMAIL> now")
    assert(got(2L) == "server at <IP> ssn <SSN>")
    assert(got(3L) == "card <CARD> phone <PHONE> or <PHONE>")
    assert(got(4L) == "year 2024 has only short digits 123")
  }

  test("mixByTokenBudget caps over-budget strata and keeps the rest whole") {
    import spark.implicits._
    // stratum a: 200 rows x 100 tokens = 20000 (budget 5000 -> ~25% kept)
    // stratum b: 20 rows x 100 tokens = 2000 (budget 5000 -> kept whole)
    // stratum c: unlisted -> defaultFraction 1.0 keeps it whole
    val rows = (0 until 200).map(i => (i.toLong, "a", 100L)) ++
      (200 until 220).map(i => (i.toLong, "b", 100L)) ++
      (220 until 240).map(i => (i.toLong, "c", 100L))
    val df = rows.toDF("id", "src", "n_tok")
    val mixed = Chain(spark, "d", df)
      .mixByTokenBudget("src", "n_tok", Seq("a" -> 5000L, "b" -> 5000L), Seq("id"))
    val byStratum = mixed.df.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStratum("b") == 20L, "under-budget stratum must stay whole")
    assert(byStratum("c") == 20L, "unlisted stratum keeps defaultFraction=1.0")
    val aKept = byStratum.getOrElse("a", 0L)
    // E[kept] = 50 rows; 4-sigma binomial bound (sigma ~ sqrt(200*.25*.75) ~ 6.1)
    assert(aKept > 25L && aKept < 75L, s"over-budget stratum kept $aKept of 200")
    // deterministic: the same mix twice keeps identical rows
    val again = Chain(spark, "d", df)
      .mixByTokenBudget("src", "n_tok", Seq("a" -> 5000L, "b" -> 5000L), Seq("id"))
    assert(mixed.df.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.df.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("mixByTemperature upweights low-resource strata under alpha < 1") {
    import spark.implicits._
    // en: 100 rows x 100 tokens = 10000; de: 10 rows x 100 tokens = 1000.
    // alpha=0.5 weights sqrt(10000):sqrt(1000) ~ 0.76:0.24 of a 3000-token
    // target -> de's ~724-token budget is under its 1000 total but its keep
    // fraction (0.72) far exceeds en's (0.23); proportional alpha=1 gives
    // both the same fraction.
    val rows = (0 until 100).map(i => (i.toLong, "en", 100L)) ++
      (100 until 110).map(i => (i.toLong, "de", 100L))
    val df = rows.toDF("id", "lang", "n_tok")
    def kept(alpha: Double, budget: Long): Map[String, Long] =
      Chain(spark, "d", df)
        .mixByTemperature("lang", "n_tok", alpha, budget, Seq("id"))
        .df.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val t05 = kept(0.5, 3000L)
    // E[de kept] = 7.2 rows vs E[en kept] = 22.8 of 100 — the de FRACTION
    // must exceed the en fraction by a wide margin (4-sigma safe bounds)
    assert(t05.getOrElse("de", 0L) >= 4L,
      s"low-resource stratum under-kept: $t05")
    assert(t05.getOrElse("en", 0L) <= 40L,
      s"dominant stratum over-kept: $t05")
    assert(t05.getOrElse("de", 0L).toDouble / 10.0 >
      t05.getOrElse("en", 0L).toDouble / 100.0,
      s"alpha<1 must upweight the low-resource stratum: $t05")
    // determinism: identical rows on a re-run
    val again = kept(0.5, 3000L)
    assert(t05 == again)
    // a budget >= the corpus keeps everything at any alpha... only when
    // per-stratum targets cover each stratum; proportional alpha=1 does
    val all = kept(1.0, 11000L)
    assert(all == Map("en" -> 100L, "de" -> 10L))
  }

  test("contaminationScore grades overlap where the boolean flag saturates") {
    import spark.implicits._
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, evalDoc), // verbatim eval copy -> 1.0
      (2L, evalDoc + " lambda mu nu xi omicron pi rho sigma tau upsilon"), // partial
      (3L, "totally unrelated words that never touch the evaluation corpus at all")
    ).toDF("doc_id", "text")
    val eval = Chain(spark, "eval", Seq((100L, evalDoc)).toDF("doc_id", "text"))
    val got = Chain(spark, "docs", docs)
      .contaminationScore(eval, "doc_id", "text", n = 4)
      .df.collect().map(r => r.getLong(0) -> r.getAs[Double]("contamination_4")).toMap
    assert(got(1L) == 1.0, s"verbatim copy must score 1.0, got ${got(1L)}")
    // doc 2: 20 tokens -> 17 distinct 4-grams, 7 inside the eval doc
    assert(got(2L) == 7.0 / 17.0, s"partial overlap fraction, got ${got(2L)}")
    assert(got(3L) == 0.0)
    // the boolean flag can't tell 1 from 2 — the score is the policy signal
    val flags = Chain(spark, "docs", docs)
      .flagContaminated(eval, "doc_id", "text", n = 4)
      .df.collect().map(r => r.getLong(0) -> r.getAs[Boolean]("contaminated")).toMap
    assert(flags(1L) && flags(2L) && !flags(3L))
  }

  test("tfidfIndex probe reproduces searchTfidf; appends keep df/N fresh by construction") {
    val docs = table("documents")
    val queries = docs.filterRows(Seq("doc_id < 3"))
    val direct = docs.searchTfidf(queries, "doc_id", "text", "doc_id", "text", k = 5)
    // in-memory index frame
    val idx = docs.tfidfIndex("doc_id", "text")
    val viaIdx = queries.searchTfidfIndex(idx.df, "doc_id", "text", k = 5)
    assert(rows(direct.df) == rows(viaIdx.df))
    // saved bucketed index built from HALF the corpus, the other half
    // APPENDED later: the probe must equal the full-corpus retrieval —
    // df comes from the probed postings and N from the index itself, so
    // ingest needs no metadata refresh step
    spark.sql("DROP TABLE IF EXISTS tfidf_idx_t")
    docs.filterRows(Seq("doc_id % 2 = 0")).tfidfIndex("doc_id", "text")
      .saveBucketed("tfidf_idx_t", Seq("term"), 4, overwrite = true)
    docs.filterRows(Seq("doc_id % 2 = 1")).tfidfIndex("doc_id", "text")
      .appendBucketed("tfidf_idx_t", Seq("term"), 4)
    val viaTable = queries.searchTfidfIndex(spark.table("tfidf_idx_t"), "doc_id", "text", k = 5)
    assert(rows(direct.df) == rows(viaTable.df))
    // malformed index fails loudly
    val e = intercept[IllegalArgumentException](
      queries.searchTfidfIndex(docs.df, "doc_id", "text"))
    assert(e.getMessage.contains("tfidfIndex"))
  }

  test("bm25 scoring ranks, saturates tf, and penalizes long documents") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark shuffle spark shuffle spark shuffle spark shuffle"),
      (2L, "spark shuffle"),
      (3L, "spark " + Seq.fill(60)("filler").mkString(" ")),
      (4L, "unrelated words entirely")).toDF("doc_id", "text")
    val queries = Seq((100L, "spark shuffle")).toDF("doc_id", "text")
    val c = Chain(spark, "docs", docs)
    val got = c.searchTfidf(Chain(spark, "q", queries),
      "doc_id", "text", "doc_id", "text", k = 4, scoring = "bm25")
      .df.orderBy("rank").collect().map(_.getLong(1)).toSeq
    // both-term docs beat the one-term docs; the short both-term doc wins
    // despite lower raw tf (saturation + length normalization)
    assert(got.take(2).toSet == Set(1L, 2L), s"both-term docs must lead: $got")
    assert(!got.contains(4L), "no shared term, no score")
    val e = intercept[IllegalArgumentException](
      c.searchTfidf(Chain(spark, "q", queries), "doc_id", "text", "doc_id", "text",
        scoring = "nope").df)
    assert(e.getMessage.contains("scoring"))
  }

  test("epochShuffle is a deterministic, seed-distinct permutation") {
    import spark.implicits._
    val df = (0 until 500).map(_.toLong).toDF("id")
    def order(seed: Long): Seq[Long] =
      Chain(spark, "d", df).epochShuffle(seed, Seq("id"))
        .df.select("id").collect().map(_.getLong(0)).toSeq
    val e1 = order(1L)
    assert(e1 == order(1L), "same seed must reproduce the same order")
    assert(e1 != order(2L), "different seeds must permute differently")
    assert(e1.sorted == (0L until 500L), "shuffle must be a permutation")
    assert(e1 != (0L until 500L).toSeq, "order must not be the identity")
  }

  test("strip_boilerplate removes group-repeated segments, keeps structure") {
    import spark.implicits._
    val docs = Seq(
      (1L, "news", "breaking market rally today\nshare this article\nsubscribe to the newsletter"),
      (2L, "news", "local team wins championship\nshare this article\nsubscribe to the newsletter"),
      (3L, "news", "weather stays mild this week\nshare this article"),
      (4L, "news", "elections set for next spring\nsubscribe to the newsletter\n\nextra analysis section"),
      (5L, "blog", "my sourdough journey begins\npowered by blogcraft"),
      (6L, "blog", "thoughts on distributed systems\npowered by blogcraft"),
      (7L, "solo", "unique text stands alone\nwith two lines")
    ).toDF("doc_id", "source", "text")
    val out = Chain(spark, "boiler", docs)
      .stripBoilerplate("doc_id", "text", Seq("source")).df
      .select("doc_id", "text_clean", "text_n_stripped").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // news (4 docs): both repeated lines exceed 2/4 and strip
    assert(out(1L) == ("breaking market rally today", 2L))
    assert(out(2L) == ("local team wins championship", 2L))
    assert(out(3L) == ("weather stays mild this week", 1L))
    // doc 4 keeps its EMPTY line — structure is not boilerplate
    assert(out(4L) == ("elections set for next spring\n\nextra analysis section", 1L))
    // blog (2 docs): footer in 2/2 > 0.5 and >= minDocs — stripped
    assert(out(5L) == ("my sourdough journey begins", 1L))
    assert(out(6L) == ("thoughts on distributed systems", 1L))
    // a single-doc group can never reach minDocs — untouched
    assert(out(7L) == ("unique text stands alone\nwith two lines", 0L))
  }

  test("zero-norm and NaN vectors never rank, never match, and survive dedup") {
    import spark.implicits._
    // two near-dup vectors + a distinct one + a zero vector + a NaN vector:
    // unguarded, the bad rows' NaN cosines compare greatest — topping every
    // ranking AND passing `>= threshold`, which would merge the whole cell
    // into one bogus cluster (silent mass deletion)
    val emb = Chain(spark, "nv", Seq(
      (1L, Array(1.0f, 0.01f)), (2L, Array(1.0f, 0.02f)),
      (3L, Array(0.0f, 1.0f)),
      (8L, Array(0.0f, 0.0f)),
      (9L, Array(Float.NaN, 1.0f))).toDF("vec_id", "embedding"))
    val tk = emb.cosineTopK(emb.df, "vec_id", "embedding", 3).df
    val qids = tk.select("query_id").collect().map(_.getLong(0)).toSet
    val nbrs = tk.select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(!qids.contains(8L) && !qids.contains(9L), "bad vectors never query")
    assert(!nbrs.contains(8L) && !nbrs.contains(9L), "bad vectors never rank")
    // semantic dedup: the true dup drops; the bad rows SURVIVE untouched
    val kept = emb.dedupNearEmbedding("vec_id", "embedding", 0.99).df
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 8L, 9L))
    val keptIvf = emb.dedupNearEmbedding("vec_id", "embedding", 0.99,
      candidates = "ivf", nlist = 2, nassign = 2).df
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptIvf == kept)
    // persistent index: bad rows excluded at build; a zero-norm batch row
    // is never deleted as a "duplicate" by the incremental probe
    val idx = emb.ivfIndex("vec_id", "embedding", nlist = 2)
    assert(idx.df.where("_id IS NOT NULL").count() == 3)
    val batch = Chain(spark, "nvb", Seq(
      (11L, Array(1.0f, 0.015f)), (12L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding"))
    val surv = batch.dedupAgainstIvfIndex(idx.df, "vec_id", "embedding", 0.99, nprobe = 2)
      .df.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(surv == Seq(12L), s"true dup drops, zero-norm survives — got $surv")
  }

  test("ivf index family supports string ids end-to-end, rejects mixed families") {
    import spark.implicits._
    val emb = Chain(spark, "sv", Seq(
      ("doc-a", Array(1.0f, 0.01f)), ("doc-b", Array(1.0f, 0.02f)),
      ("doc-c", Array(0.0f, 1.0f))).toDF("vec_id", "embedding"))
    val idx = emb.ivfIndex("vec_id", "embedding", nlist = 2)
    // the _id column keeps the string type; centroid markers are null strings
    assert(idx.df.schema("_id").dataType == org.apache.spark.sql.types.StringType)
    val hits = Chain(spark, "svq", Seq(("q1", Array(1.0f, 0.0f))).toDF("vec_id", "embedding"))
      .searchIvfIndex(idx.df, "vec_id", "embedding", k = 2, nprobe = 2).df
      .select("neighbor_id").collect().map(_.getString(0)).toSet
    assert(hits == Set("doc-a", "doc-b"))
    val surv = Chain(spark, "svb", Seq(
      ("doc-x", Array(1.0f, 0.015f)), ("doc-y", Array(0.6f, 0.8f)))
      .toDF("vec_id", "embedding"))
      .dedupAgainstIvfIndex(idx.df, "vec_id", "embedding", 0.99, nprobe = 2)
      .df.select("vec_id").collect().map(_.getString(0)).sorted.toSeq
    assert(surv == Seq("doc-y"), "string-keyed dup must drop, the novel doc survives")
    // long queries probing a string index: loud, not silently empty
    val e = intercept[IllegalArgumentException](
      Chain(spark, "lq", Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding"))
        .searchIvfIndex(idx.df, "vec_id", "embedding", k = 2).df)
    assert(e.getMessage.contains("type family"))
  }

  test("int8_quantize kernel matches the transform/array_max composition bit-for-bit") {
    import spark.implicits._
    // edge inventory: normal, all-zero (scale 1.0), empty, null element,
    // NaN element (NaN-is-greatest max ordering), null vector
    val vecs: Seq[Option[Seq[Option[Float]]]] = Seq(
      Some(Seq(Some(1.0f), Some(-3.5f), Some(2.2f))),
      Some(Seq(Some(0.0f), Some(0.0f))),
      Some(Seq.empty),
      Some(Seq(Some(5.0f), None, Some(-1.0f))),
      Some(Seq(Some(Float.NaN), Some(1.0f))),
      None)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    // reference: the column composition the kernel replaced (kept here as
    // the semantic spec; the SQL face still renders this form)
    val maxabs = array_max(transform(col("v"), x => abs(x.cast("double"))))
    val scale = when(maxabs > 0, maxabs / lit(127.0)).otherwise(lit(1.0))
    val ref = df.withColumn("v_qscale", scale)
      .withColumn("v_q", transform(col("v"),
        x => floor(x.cast("double") / col("v_qscale") + lit(0.5)).cast("tinyint")))
      .select("id", "v_qscale", "v_q")
    val got = Chain(spark, "qz", df).quantizeEmbeddings("v").df
      .select("id", "v_qscale", "v_q")
    assert(rows(got) == rows(ref))
    // registered SQL name resolves to the same kernel
    df.createOrReplaceTempView("qz_src")
    val viaSql = spark.sql(
      "SELECT id, COALESCE(int8_quantize(v).qscale, 1.0D) AS v_qscale, " +
        "int8_quantize(v).q AS v_q FROM qz_src")
    assert(rows(viaSql) == rows(got))
  }

  test("strip_boilerplate keeps same-id docs in different groups separate") {
    import spark.implicits._
    // doc_id 1 appears under TWO sources: each must be cleaned against its
    // OWN group only, with no segment merging and no join fan-out
    val docs = Seq(
      (1L, "a", "alpha story one\nshared footer a"),
      (2L, "a", "alpha story two\nshared footer a"),
      (1L, "b", "bravo story one\nshared footer b"),
      (2L, "b", "bravo story two\nshared footer b")
    ).toDF("doc_id", "source", "text")
    val outDf = Chain(spark, "boiler2", docs)
      .stripBoilerplate("doc_id", "text", Seq("source")).df
    assert(outDf.count() == 4, "rejoin must not fan out on the repeated id")
    val out = outDf.select("source", "doc_id", "text_clean", "text_n_stripped")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3))))
      .toMap
    assert(out(("a", 1L)) == ("alpha story one", 1L))
    assert(out(("a", 2L)) == ("alpha story two", 1L))
    assert(out(("b", 1L)) == ("bravo story one", 1L))
    assert(out(("b", 2L)) == ("bravo story two", 1L))
  }
}
