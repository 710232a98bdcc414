package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Chain
import graft.ops._
import graft.streaming.EventStreams
import TestSpark._

/** The two-sample engine seen from its faces: each windowed drift face
  * equals its batch PSI twin over events that fall in one window (same
  * binning, same padding, same closing), every drift face refuses an eps
  * floor outside (0, 1), and the PSI faces name a column missing from
  * either frame.
  */
class TwoSampleSpec extends AnyFunSuite {
  import spark.implicits._

  private val hour0 = 1704067200L * 1000000000L

  /** Rows with ties, a null and a NaN value, out-of-range values, a null
    * category; every `ts` falls inside the first hour.
    */
  private def frame(n: Int, shift: Int, cats: Int): DataFrame =
    (1 to n).map { i =>
      val v: Option[Double] =
        if (i % 11 == 0) None
        else if (i % 13 == 0) Some(Double.NaN)
        else Some(((i * 7 + shift) % 17).toDouble / 2.0 - 1.0)
      val t = if (i % 9 == 0) None else Some(s"t${(i + shift) % cats}")
      (i.toLong, hour0 + i * 1000000000L, t, v)
    }.toDF("event_id", "ts", "event_type", "value")

  private lazy val ref = frame(60, 0, 4)
  private lazy val ev = frame(45, 3, 5)

  private def noWindow(df: DataFrame): Seq[String] = rows(df.drop("window_start"))

  test("each drift face equals its batch PSI twin over events in one window") {
    val cat = EventStreams.driftByWindow(ev, ref, "event_type", "1 hour")
    assert(cat.select("window_start").distinct().count() == 1)
    assert(noWindow(cat) ==
      rows(Chain(spark, "tw1", ref).psiCategoricalProfile(ev, "event_type").df))
    assert(noWindow(EventStreams.driftByWindowNumeric(ev, ref, "value", "1 hour",
        0.0, 6.0, 5)) ==
      rows(Chain(spark, "tw2", ref).psiProfile(ev, "value", 0.0, 6.0, 5).df))
    assert(noWindow(EventStreams.driftByWindowQuantile(ev, ref, "value", "1 hour", 4)) ==
      rows(Chain(spark, "tw3", ref).psiQuantileProfile(ev, "value", 4).df))
  }

  test("every drift face refuses eps outside (0, 1)") {
    for (eps <- Seq(0.0, 1.0)) {
      val faces = Seq[(String, () => DataFrame)](
        "drift_by_window" -> (() =>
          EventStreams.driftByWindow(ev, ref, "event_type", "1 hour", eps)),
        "drift_by_window_numeric" -> (() =>
          EventStreams.driftByWindowNumeric(ev, ref, "value", "1 hour", 0.0, 6.0, 5, eps)),
        "drift_by_window_quantile" -> (() =>
          EventStreams.driftByWindowQuantile(ev, ref, "value", "1 hour", 4, eps)))
      for ((op, face) <- faces) {
        val e = intercept[IllegalArgumentException](face())
        assert(e.getMessage.contains(s"$op needs eps in (0, 1)"), s"eps $eps: ${e.getMessage}")
      }
    }
  }

  test("the PSI faces name a column missing from either frame") {
    val a = Seq((1.0, "x", "g")).toDF("v", "c", "grp")
    val faces = Seq[(String, (DataFrame, Seq[String]) => Chain)](
      "psi_profile" -> ((o, g) => Chain(spark, "tm1", a).psiProfile(o, "v", 0.0, 1.0, 2,
        groupBy = g)),
      "psi_quantile_profile" -> ((o, g) => Chain(spark, "tm2", a)
        .psiQuantileProfile(o, "v", 2, groupBy = g)),
      "psi_categorical" -> ((o, g) => Chain(spark, "tm3", a)
        .psiCategoricalProfile(o, "v", groupBy = g)))
    for ((op, face) <- faces) {
      val col = intercept[IllegalArgumentException](face(a.drop("v"), Nil))
      assert(col.getMessage == s"requirement failed: $op: other frame is missing column 'v'")
      val grp = intercept[IllegalArgumentException](face(a.drop("grp"), Seq("grp")))
      assert(grp.getMessage ==
        s"requirement failed: $op: other frame is missing group column 'grp'")
    }
  }
}
