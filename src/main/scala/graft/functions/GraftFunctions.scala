package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL registration for every graft custom kernel — the
  * `SparkSessionExtensions` face of the library. Two entry points:
  *
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` registers at
  *    session build (the deployment path for a shared cluster: every SQL
  *    user gets the functions with no code change);
  *  - [[GraftFunctions.register]] adds them to an ALREADY-built session
  *    (the notebook/embedded path; [[graft.core.GraftSession]] calls it
  *    on construction).
  *
  * Scalar kernels resolve to the same codegen `Expression`s the DataFrame
  * ops use — `spark.sql("SELECT unicode_normalize(text,'NFC') …")` plans
  * identically to the column face, whole-stage codegen included.
  * Aggregate kernels (KLL / frequent-items sketches) resolve to their
  * `TypedImperativeAggregate`s; the analyzer wraps them the same way it
  * wraps built-in aggregates, so they work under GROUP BY, window frames
  * and SQL rollups. Shape parameters (n, k, form, …) must be literals —
  * they parameterize plan-time codegen, not per-row input.
  */
object GraftFunctions {

  private def intLit(fn: String, arg: String)(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def boolLit(fn: String, arg: String)(e: Expression): Boolean = e match {
    case Literal(v: Boolean, BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a boolean literal, got $other")
  }

  private def strLit(fn: String, arg: String)(e: Expression): String = e match {
    case Literal(s: UTF8String, _: StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a string literal, got $other")
  }

  private def arity(fn: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments, got ${args.length}")

  /** (name, builder) for every registered kernel. */
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "unicode_normalize" -> { args =>
      arity("unicode_normalize", 2, args)
      UnicodeNormalize(args(0), strLit("unicode_normalize", "form")(args(1)))
    },
    "shingle_hashes" -> { args =>
      arity("shingle_hashes", 2, args)
      ShingleHashes(args(0), intLit("shingle_hashes", "n")(args(1)))
    },
    "window_hashes" -> { args =>
      arity("window_hashes", 2, args)
      WindowHashes(args(0), intLit("window_hashes", "w")(args(1)))
    },
    "position_agree_count" -> { args =>
      arity("position_agree_count", 2, args)
      PositionAgreeCount(args(0), args(1))
    },
    "rolling_fingerprint" -> { args =>
      arity("rolling_fingerprint", 2, args)
      RollingFingerprint(args(0), intLit("rolling_fingerprint", "k")(args(1)))
    },
    "sign_sketch" -> { args =>
      arity("sign_sketch", 2, args)
      SignRandomSketch(args(0), intLit("sign_sketch", "planes")(args(1)))
    },
    "hamming_distance" -> { args =>
      arity("hamming_distance", 2, args)
      HammingDistance(args(0), args(1))
    },
    "simhash64" -> { args =>
      arity("simhash64", 1, args)
      SimHash64(args(0))
    },
    "minhash_signature" -> { args =>
      arity("minhash_signature", 2, args)
      MinHashSignature(args(0), intLit("minhash_signature", "num_hashes")(args(1)))
    },
    "sorted_array_intersect_count" -> { args =>
      arity("sorted_array_intersect_count", 2, args)
      SortedArrayIntersectCount(args(0), args(1))
    },
    "fixed_point_dot" -> { args =>
      arity("fixed_point_dot", 2, args)
      FixedPointDot(args(0), args(1))
    },
    "int8_quantize" -> { args =>
      arity("int8_quantize", 1, args)
      Int8QuantizeExpr(args(0))
    },
    "truncate_renorm" -> { args =>
      arity("truncate_renorm", 2, args)
      TruncateRenormExpr(args(0), intLit("truncate_renorm", "dim")(args(1)))
    },
    "kll_sketch_agg" -> { args =>
      arity("kll_sketch_agg", 2, args)
      KllSketchAgg(args(0), intLit("kll_sketch_agg", "k")(args(1)))
    },
    "kll_merge_agg" -> { args =>
      arity("kll_merge_agg", 1, args)
      KllMergeAgg(args(0))
    },
    "kll_quantile" -> { args =>
      arity("kll_quantile", 2, args)
      KllQuantile(args(0), args(1))
    },
    "freq_sketch_agg" -> { args =>
      arity("freq_sketch_agg", 2, args)
      FreqSketchAgg(args(0), intLit("freq_sketch_agg", "max_map_size")(args(1)))
    },
    "freq_merge_agg" -> { args =>
      arity("freq_merge_agg", 1, args)
      FreqMergeAgg(args(0))
    },
    "freq_topk" -> { args =>
      arity("freq_topk", 2, args)
      FreqTopK(args(0), args(1))
    },
    "freq_union" -> { args =>
      arity("freq_union", 2, args)
      FreqUnion(args(0), args(1))
    },
    "kll_union" -> { args =>
      arity("kll_union", 2, args)
      KllUnion(args(0), args(1))
    },
    "bottomk_hash_agg" -> { args =>
      arity("bottomk_hash_agg", 3, args)
      BottomKHashAgg(args(0), args(1), intLit("bottomk_hash_agg", "k")(args(2)))
    },
    "topk_score_agg" -> { args =>
      arity("topk_score_agg", 5, args)
      TopKByScoreAgg(args(0), args(1), args(2),
        intLit("topk_score_agg", "k")(args(3)),
        boolLit("topk_score_agg", "ascending")(args(4)))
    })

  /** Registered kernel names (test/introspection surface). */
  def registeredNames: Seq[String] = builders.map(_._1)

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft.functions.GraftFunctions", name)

  /** Register every kernel the session's function registry does not
    * already hold (idempotent: a second `GraftSession` over one session
    * registers nothing, so Spark logs no "replaced a previously
    * registered function" line per kernel).
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }

  /** The injection list for [[GraftExtensions]]. */
  private[functions] def inject(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name), info(name), b))
    }
}

/** `spark.sql.extensions` entry point: registers every graft kernel at
  * session build. `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.inject(ext)
}
