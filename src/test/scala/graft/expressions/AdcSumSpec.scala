package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Native ADC-sum expression: codegen + interpreted agree with the
  * map-lookup composition it replaced; defensive slots yield null.
  */
class AdcSumSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private val K = 4 // codes per subspace in these fixtures

  test("matches the per-m lookup fold, ascending-m association") {
    // lut position m*K + c: M=3 subspaces, K=4 codes
    val lut = Seq(0.5, 1.0, 2.0, 4.0, /* m=1 */ 8.0, 16.0, 32.0, 64.0,
      /* m=2 */ 128.0, 256.0, 512.0, 1024.0)
    val rows = Seq(
      (Seq(0, 0, 0), lut), // 0.5 + 8 + 128
      (Seq(3, 2, 1), lut), // 4 + 32 + 256
      (Seq(1, 3, 3), lut)) // 1 + 64 + 1024
    val got = spark.sparkContext.parallelize(rows, 2).toDF("codes", "lut")
      .select(AdcSum(col("codes"), col("lut"), K).as("adc"))
    assertCodegenProject(got, classOf[AdcSum])
    assert(got.as[Double].collect().toSeq == Seq(136.5, 292.0, 1089.0))
  }

  test("codegen and interpreted eval agree") {
    val codes = Seq(2, 0, 3)
    val lut = (0 until 12).map(_.toDouble * 1.25)
    val planned = spark.sparkContext.parallelize(Seq((codes, lut)), 1)
      .toDF("codes", "lut").select(AdcSum(col("codes"), col("lut"), K))
    assertCodegenProject(planned, classOf[AdcSum])
    val fromPlan = planned.collect()(0).getDouble(0)
    val interpreted = AdcSum(
      Literal(ArrayData.toArrayData(codes.toArray),
        ArrayType(IntegerType, containsNull = false)),
      Literal(ArrayData.toArrayData(lut.toArray),
        ArrayType(DoubleType, containsNull = false)), K)
      .eval(null).asInstanceOf[Double]
    assert(fromPlan == interpreted)
    assert(fromPlan == 1.25 * (2 + 4 + 11))
  }

  test("null array, null slot, and out-of-range code yield null") {
    val n1 = Seq((Option.empty[Seq[Int]], Some(Seq(1.0, 2.0))))
      .toDF("codes", "lut")
      .select(AdcSum(col("codes"), col("lut"), K).as("adc"))
    assert(n1.collect()(0).isNullAt(0))
    // a referenced null slot (position 0*K+1) is defensive-null
    val n2 = Seq((Seq(1), Seq(Some(1.0), Option.empty[Double])))
      .toDF("codes", "lut")
      .select(AdcSum(col("codes"), col("lut"), K).as("adc"))
    assert(n2.collect()(0).isNullAt(0))
    // code indexes past the lut
    val n3 = Seq((Seq(3), Seq(1.0, 2.0))).toDF("codes", "lut")
      .select(AdcSum(col("codes"), col("lut"), K).as("adc"))
    assert(n3.collect()(0).isNullAt(0))
    // a null CODE element must yield null, never read slot i*k as 0
    val n4 = Seq((Seq(Some(1), Option.empty[Int]), Seq(1.0, 2.0, 3.0,
        4.0, 5.0, 6.0, 7.0, 8.0)))
      .toDF("codes", "lut")
      .select(AdcSum(col("codes"), col("lut"), K).as("adc"))
    assert(n4.collect()(0).isNullAt(0))
  }
}
