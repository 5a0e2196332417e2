package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Native dot-product expression: interpreted + codegen paths agree
  * with the higher-order-function composition, SQL registration works.
  */
class DotProductLSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private val rows = Seq(
    (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
    (Seq(-7L, 0L, 9L), Seq(2L, 100L, -3L)),
    (Seq.empty[Long], Seq.empty[Long]))
  // from an RDD, so a projection without higher-order functions runs
  // through whole-stage codegen
  private lazy val df = spark.sparkContext.parallelize(rows, 2).toDF("a", "b")

  test("matches the zip_with composition on every row") {
    val both = df.select(
      DotProductL(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.select("native").as[Long].collect().toSeq ==
      Seq(32L, -41L, 0L))
  }

  test("codegen and interpreted eval agree") {
    val fromPlan = df.select(DotProductL(col("a"), col("b")))
    assertCodegenProject(fromPlan, classOf[DotProductL])
    val arr = (xs: Seq[Long]) => Literal(ArrayData.toArrayData(xs.toArray),
      ArrayType(LongType, containsNull = false))
    val interpreted = rows.map { case (a, b) => DotProductL(arr(a), arr(b)).eval(null) }
    assert(fromPlan.collect().map(_.getLong(0)).toSeq == interpreted)
  }

  test("null in either side yields null") {
    val n = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(DotProductL(col("a"), col("b")).as("d"))
    assert(n.collect()(0).isNullAt(0))
  }

  test("SQL registration: graft_dot usable after register()") {
    DotProductL.register(
      spark.sessionState.functionRegistry)
    val r = spark.sql("SELECT graft_dot(array(2L, 3L), array(10L, 100L)) AS d")
      .as[Long].collect()(0)
    assert(r == 320L)
  }
}
