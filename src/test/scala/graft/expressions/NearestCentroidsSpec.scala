package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** The one nearest-centroid routing kernel must be bit-identical to
  * every Column form it replaced in graft.pipeline.Ann: the
  * array_min-over-literal-structs argmin, the sorted top-p literal
  * slices over rational (probeCells) and quantized (quantCells)
  * centroids, and the hierarchical router's per-cell `when` chain
  * folded with `least` (cellBest) — same distances on both `n`
  * branches, same (d2 asc, id asc) tie rule.
  */
class NearestCentroidsSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private val ExactNMax = 1L << 14

  private def ratCand(iv: Column, ivNorm: Column)(
      c: (Int, Long, Array[Long])): Column = {
    val (cid, n, sv) = c
    val nL = lit(n)
    val svL = typedLit(sv.toSeq)
    val exact = (nL * nL * ivNorm - lit(2L) * nL * DotProductL(iv, svL)
      + lit(sv.map(x => x * x).sum)).cast("double") / (nL * nL)
    val approx = aggregate(zip_with(iv, svL, (x, sc) => {
      val d = x.cast("double") - sc.cast("double") / nL.cast("double")
      d * d
    }), lit(0.0d), (a, t) => a + t)
    struct(when(nL <= lit(ExactNMax), exact).otherwise(approx).as("d"),
      lit(cid).as("id"))
  }

  /** The old argmin: array_min over per-centroid struct(d2, id) with the
    * centroid's (sv, n, Σsv²) inlined as literals.
    */
  private def oldArgmin(cents: Array[(Int, Long, Array[Long])],
      iv: Column, ivNorm: Column): Column =
    coalesce(array_min(array(cents.toIndexedSeq.map(ratCand(iv, ivNorm)): _*))
      .getField("id"), lit(-1))

  /** The old probeCells: the same structs sorted and sliced to p. */
  private def probeCells(cents: Array[(Int, Long, Array[Long])],
      iv: Column, ivNorm: Column, p: Int): Column =
    transform(slice(array_sort(array(
      cents.toIndexedSeq.map(ratCand(iv, ivNorm)): _*)),
      1, math.min(p, cents.length)), _.getField("id"))

  /** The old quantCand: integer d2 = norm2 − 2⟨iv,qv⟩ + ⟨qv,qv⟩. */
  private def quantCand(iv: Column, norm2: Column)(id: Int, qv: Array[Long]): Column =
    struct((norm2 - lit(2L) * DotProductL(iv, typedLit(qv.toSeq))
      + lit(qv.map(x => x * x).sum)).as("d"), lit(id).as("id"))

  /** The old quantCells: quantCand structs sorted and sliced to p. */
  private def quantCells(cents: Array[(Int, Array[Long])], iv: Column,
      norm2: Column, p: Int): Column =
    slice(array_sort(array(cents.toIndexedSeq.map { case (id, qv) =>
      quantCand(iv, norm2)(id, qv) }: _*)), 1, math.min(p, cents.length))

  /** The old hierarchical stage 2: per probed cell, array_min over its
    * children's quantCand structs (a `when` chain over the routable
    * cells), folded across the probed cells with `least`.
    */
  private def cellBest(fine: Array[(Int, Array[Long])], parentOf: Int => Int,
      routable: Seq[Int], probed: Column, nProbes: Int, iv: Column,
      norm2: Column): Column = {
    val byParent = fine.groupBy { case (id, _) => parentOf(id) }
    val branch = routable.map { hc =>
      hc -> array_min(array(byParent(hc).toIndexedSeq.map { case (id, qv) =>
        quantCand(iv, norm2)(id, qv) }: _*))
    }
    def best(hcId: Column): Column = branch.init.foldRight(branch.last._2) {
      case ((hc, e), rest) => when(hcId === lit(hc), e).otherwise(rest)
    }
    coalesce((0 until nProbes)
      .map(i => best(element_at(probed, i + 1).getField("id")))
      .reduce(least(_, _)).getField("id"), lit(-1))
  }

  /** Deterministic pseudo-random vectors (no RNG in tests). */
  private def vec(seed: Long, dim: Int, mag: Long): Array[Long] =
    Array.tabulate(dim) { i =>
      val x = seed * 6364136223846793005L + i * 1442695040888963407L
      (x >>> 17) % (2 * mag + 1) - mag
    }

  /** Rows (iv, ivn) from an RDD, so projections over them run through
    * whole-stage codegen (a local Seq would be folded into the
    * LocalRelation by the interpreted ConvertToLocalRelation rule).
    */
  private def rows(n: Int, dim: Int, mag: Long): DataFrame =
    spark.sparkContext.parallelize(
      (0 until n).map(r => vec(r * 31L + 11, dim, mag).toSeq), 2).toDF("iv")
      .withColumn("ivn", DotProductL(col("iv"), col("iv")))

  private def assertSame(df: DataFrame, what: String): Unit =
    df.collect().foreach(r => assert(r.get(0) == r.get(1),
      s"$what mismatch: old=${r.get(0)} new=${r.get(1)}"))

  private val dim = 8
  private val base = vec(7L, dim, 10000)
  // small-n (exact branch), n = ExactNMax (still exact), n above it
  // (double fold), and one sv at two ids so the tie rule fires
  private lazy val rational: Array[(Int, Long, Array[Long])] = Array(
    (0, 3L, vec(1L, dim, 30000)),
    (1, ExactNMax, vec(2L, dim, 30000)),
    (2, ExactNMax + 1, vec(3L, dim, 30000)),
    (3, 5L, base),
    (4, 5L, base.clone()),
    (5, 123456L, vec(4L, dim, 30000)))

  test("matches the array_min literal-struct form, both n branches and ties") {
    val t = Centroids.rational(rational, ExactNMax)
    assertSame(rows(64, dim, 10000).select(
      oldArgmin(rational, col("iv"), col("ivn")),
      NearestCentroids.argmin(t, col("iv"), col("ivn"))), "argmin")
    // the tie pair must resolve to the LOWER id when it wins
    val tieOnly = Array((3, 5L, base), (4, 5L, base.clone()))
    val won = rows(64, dim, 10000).select(NearestCentroids.argmin(
      Centroids.rational(tieOnly, ExactNMax), col("iv"), col("ivn")))
      .distinct().as[Int].collect().toSeq
    assert(won == Seq(3), s"tie must pick the lower id, got $won")
  }

  test("top-p matches probeCells for p = 1, 1 < p < k and p > k") {
    val t = Centroids.rational(rational, ExactNMax)
    for (p <- Seq(1, 3, rational.length + 2)) {
      val df = rows(64, dim, 10000).select(
        probeCells(rational, col("iv"), col("ivn"), p),
        NearestCentroids.topP(t, col("iv"), col("ivn"), p))
      assertSame(df, s"top-$p")
      assert(df.head().getSeq[Int](1).length == math.min(p, rational.length))
    }
  }

  // integer centroids on the embedding bound (|x| ≤ Scale = 10⁴), with a
  // duplicated qv at ids 2 and 5
  private lazy val quant: Array[(Int, Array[Long])] = Array.tabulate(8)(i =>
    i -> vec(if (i == 5) 102L else 100L + i, dim, 10000))

  test("quantized top-p matches quantCells, ties included") {
    assert(quant(2)._2.sameElements(quant(5)._2), "the tie pair is not a tie")
    val t = Centroids.quantized(quant)
    for (p <- Seq(1, 2, quant.length + 3)) assertSame(
      rows(64, dim, 10000).select(
        transform(quantCells(quant, col("iv"), col("ivn"), p), _.getField("id")),
        NearestCentroids.topP(t, col("iv"), col("ivn"), p)),
      s"quantized top-$p")
  }

  test("masked stage 2 matches the cellBest/least form, one-child cell included") {
    // coarse cells 10, 11, 12; cell 12 parents exactly one fine centroid
    val coarse: Array[(Int, Array[Long])] =
      Array(10, 11, 12).map(c => c -> vec(200L + c, dim, 10000))
    val parentOf: Int => Int = id => if (id == 7) 12 else 10 + id % 2
    val coarseT = Centroids.quantized(coarse)
    val fineT = Centroids.quantized(quant, parentOf)
    for (p <- Seq(1, 2, 3)) {
      val old = cellBest(quant, parentOf, coarse.map(_._1).toSeq,
        quantCells(coarse, col("iv"), col("ivn"), p), p, col("iv"), col("ivn"))
      val nw = NearestCentroids.argmin(fineT, col("iv"), col("ivn"),
        Some(NearestCentroids.topP(coarseT, col("iv"), col("ivn"), p)))
      assertSame(rows(96, dim, 10000).select(old, nw), s"stage 2 p=$p")
    }
    // a row sitting ON the one-child cell's centroid routes into it
    val onCell = spark.sparkContext.parallelize(Seq(coarse(2)._2.toSeq), 1)
      .toDF("iv").withColumn("ivn", DotProductL(col("iv"), col("iv")))
      .select(NearestCentroids.argmin(fineT, col("iv"), col("ivn"),
        Some(NearestCentroids.topP(coarseT, col("iv"), col("ivn"), 1))))
      .as[Int].collect().toSeq
    assert(onCell == Seq(7), s"one-child cell must yield its child, got $onCell")
  }

  private val ivT = ArrayType(LongType, containsNull = false)

  /** argmin, top-3 and masked stage 2 over the same (iv, ivn). */
  private def exprs(iv: Expression, ivn: Expression): Seq[Expression] = {
    val rt = Centroids.rational(rational, ExactNMax)
    val coarseT = Centroids.quantized(quant.take(3))
    val fineT = Centroids.quantized(quant, id => id % 3)
    Seq(NearestCentroids(Seq(iv, ivn), rt, None),
      NearestCentroids(Seq(iv, ivn), rt, Some(3)),
      NearestCentroids(Seq(iv, ivn,
        NearestCentroids(Seq(iv, ivn), coarseT, Some(2))), fineT, None))
  }
  private def columns: Seq[Column] = exprs(GraftSqlBridge.expression(col("iv")),
    GraftSqlBridge.expression(col("ivn"))).map(GraftSqlBridge.column)

  test("interpreted eval agrees with codegen") {
    val df = rows(16, dim, 10000)
    val viaCodegen = df.select(columns: _*).collect()
    assert(df.select(columns: _*).queryExecution
      .executedPlan.toString.contains("*("), "the projection is not codegen'd")
    val ivs = df.select("iv", "ivn").collect()
    ivs.zip(viaCodegen).foreach { case (in, out) =>
      val iv = Literal(ArrayData.toArrayData(in.getSeq[Long](0).toArray), ivT)
      val interp = exprs(iv, Literal(in.getLong(1))).map(_.eval(null))
      assert(interp(0) == out.getInt(0))
      assert(interp(1).asInstanceOf[ArrayData].toIntArray().toSeq ==
        out.getSeq[Int](1))
      assert(interp(2) == out.getInt(2))
    }
  }

  test("a null iv routes nowhere: -1 for the argmin, no cells for top-p") {
    val nulls = exprs(Literal(null, ivT), Literal(null, LongType))
      .map(_.eval(null))
    assert(nulls(0) == -1 && nulls(2) == -1)
    assert(nulls(1).asInstanceOf[ArrayData].numElements() == 0)
    val nullRow = spark.sparkContext.parallelize(Seq(Tuple1(Option.empty[Seq[Long]])), 1)
      .toDF("iv").withColumn("ivn", DotProductL(col("iv"), col("iv")))
      .select(columns: _*).head()
    assert(nullRow.getInt(0) == -1 && nullRow.getSeq[Int](1).isEmpty &&
      nullRow.getInt(2) == -1, s"null iv routed somewhere: $nullRow")
  }

  test("codegen source is centroid-value-independent (codegen cache hit)") {
    // two DIFFERENT centroid tables must produce the same generated
    // source: the table is a reference object, so Janino compiles once
    // per session instead of once per Lloyd round or model
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    def gen(seed: Long, p: Option[Int]): String = {
      val t = Centroids.rational(
        Array((0, 4L, vec(seed, 8, 1000)), (1, 9L, vec(seed + 1, 8, 1000))),
        ExactNMax)
      val e = NearestCentroids(Seq(
        BoundReference(0, ArrayType(LongType, containsNull = false), nullable = false),
        BoundReference(1, LongType, nullable = false)), t, p)
      e.genCode(new CodegenContext).code.toString
    }
    for (p <- Seq(None, Some(2)))
      assert(gen(42L, p) == gen(1042L, p),
        "generated source must not embed centroid values")
  }

  test("result type and nullability") {
    val t = Centroids.rational(rational, ExactNMax)
    val df = rows(2, dim, 10).select(
      NearestCentroids.argmin(t, col("iv"), col("ivn")).as("a"),
      NearestCentroids.topP(t, col("iv"), col("ivn"), 2).as("b"))
    assert(df.schema("a").dataType == IntegerType && !df.schema("a").nullable)
    assert(df.schema("b").dataType == ArrayType(IntegerType, containsNull = false)
      && !df.schema("b").nullable)
  }
}
