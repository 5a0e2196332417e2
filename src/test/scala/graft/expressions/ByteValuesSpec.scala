package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Native byte-values expression: interpreted + codegen paths agree
  * with the hex-string composition it replaced, nulls and empty
  * payloads behave, SQL registration works.
  */
class ByteValuesSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private val payloads = Seq(
    Array[Byte](0, 1, 127, -128, -1), // signedness: -128 -> 128, -1 -> 255
    Array.emptyByteArray,
    Array[Byte](42))
  // from an RDD, so a projection without higher-order functions runs
  // through whole-stage codegen
  private lazy val df = spark.sparkContext.parallelize(payloads, 2).toDF("payload")

  test("matches the hex/conv composition on every non-empty row") {
    // non-empty only: on an EMPTY payload the old composition's
    // sequence(0, len-1) becomes sequence(0, -1) — Spark counts DOWN
    // ([0, -1]) — so the replaced shape was wrong there (never hit:
    // fixture audio payloads are >= 200 bytes); the native expression
    // returns [] (asserted below).
    val hof = transform(
      sequence(lit(0), (length(hex(col("payload"))) / 2).cast("int") - 1),
      i => conv(hex(col("payload")).substr(i * 2 + 1, lit(2)), 16, 10)
        .cast("int"))
    val both = df.filter(length(col("payload")) > 0).select(
      ByteValues(col("payload")).as("native"), hof.as("hex"))
    assert(both.filter(not(col("native") <=> col("hex"))).count() == 0)
    assert(df.select(ByteValues(col("payload"))).as[Seq[Int]]
      .collect().toSeq ==
      Seq(Seq(0, 1, 127, 128, 255), Seq.empty, Seq(42)))
  }

  test("codegen and interpreted eval agree") {
    val fromPlan = df.select(ByteValues(col("payload")))
    assertCodegenProject(fromPlan, classOf[ByteValues])
    val interpreted = payloads.map(p =>
      ByteValues(Literal(p)).eval(null).asInstanceOf[ArrayData].toIntArray().toSeq)
    assert(fromPlan.as[Seq[Int]].collect().toSeq == interpreted)
  }

  test("null payload yields null") {
    val n = Seq(Option.empty[Array[Byte]]).toDF("payload")
      .select(ByteValues(col("payload")).as("bv"))
    assert(n.collect()(0).isNullAt(0))
  }

  test("SQL registration: graft_byte_values usable after register()") {
    ByteValues.register(spark.sessionState.functionRegistry)
    val r = spark.sql(
      "SELECT graft_byte_values(CAST('AB' AS BINARY)) AS bv")
      .as[Seq[Int]].collect()(0)
    assert(r == Seq(65, 66))
  }
}
