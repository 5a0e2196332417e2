package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{PlanShapeSpec, SparkSpec}

/** The averaging exchange's width is the session's
  * `spark.sql.shuffle.partitions`, and the output does not depend on it:
  * partials are routed by group, so a group never splits and each bin
  * merges the same partials in the same order at any width. Floats are
  * compared by their raw bits.
  */
class ExchangeWidthSpec extends SparkSpec {

  private val widths = Seq(1, 3, 7)

  /** `df`'s rows with every float replaced by its raw bits, in a fixed
    * order (the partition order follows the width).
    */
  private def bits(df: DataFrame): Seq[String] = {
    def canon(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case f: Float => java.lang.Float.floatToRawIntBits(f)
      case s: scala.collection.Seq[_] => s.map(canon)
      case r: Row => r.toSeq.map(canon)
      case x => x
    }
    df.collect().map(r => canon(r).toString).toSeq.sorted
  }

  /** `out` over the fixture at each width, each in a child session. */
  private def assertWidthFree(out: SparkSession => DataFrame, what: String): Unit = {
    val Seq(first, rest @ _*) = widths.map { w =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", w.toLong)
      bits(out(s))
    }
    assert(first.nonEmpty, s"$what wrote no rows")
    rest.zip(widths.drop(1)).foreach { case (rows, w) =>
      val (n, n0, differ) = (rows.size, first.size, rows.diff(first).size)
      assert(n == n0 && differ == 0,
        s"$what at width $w: $n rows, $differ of them not at width ${widths.head}")
    }
  }

  test("timechannel output is bit-identical at exchange widths 1, 3 and 7") {
    assertWidthFree(PlanShapeSpec.tcWritePlan, "timechannel")
  }

  test("bda output is bit-identical at exchange widths 1, 3 and 7") {
    assertWidthFree(PlanShapeSpec.bdaWritePlan, "bda")
  }
}
