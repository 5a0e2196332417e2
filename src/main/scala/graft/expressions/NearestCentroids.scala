package graft.expressions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** A centroid table in the routing kernel's layout. Centroid `c` has
  * id `ids(c)`, member count `ns(c)` and per-dimension sum vector
  * `sv(c·dim until (c+1)·dim)`, so its mean is `sv/n`; a hierarchical
  * fine table also names each centroid's coarse cell in `parents(c)`.
  * `exactNMax` is the largest `n` whose rational distance numerator
  * fits Int64 (graft.pipeline.Ann.ExactNMax).
  */
final case class Centroids(ids: Array[Int], ns: Array[Long], sv: Array[Long],
    dim: Int, exactNMax: Long, parents: Array[Int] = null) {
  require(ids.length > 0 && ids.length == ns.length &&
    sv.length == ids.length * dim &&
    (parents == null || parents.length == ids.length),
    s"centroid arrays inconsistent: ids=${ids.length} ns=${ns.length} " +
      s"sv=${sv.length} dim=$dim")

  private val svNorms = Array.tabulate(ids.length) { c =>
    var acc = 0L; var i = c * dim
    while (i < (c + 1) * dim) { acc += sv(i) * sv(i); i += 1 }
    acc
  }

  /** Squared distance of `iv` (hoisted self-dot `ivNorm`) to centroid
    * `c`:
    *
    *   n ≤ exactNMax:  ((n²·ivNorm − 2n·⟨iv,sv⟩ + Σsv²) as double) /
    *                   (n² as double) — an exact integer numerator and
    *                   one IEEE division;
    *   n > exactNMax:  Σ_i (iv_i − sv_i/n)² left-folded in index order
    *                   from 0.0.
    *
    * A quantized table has n = 1, so the value is the integer
    * Σ(iv − qv)² ≤ 64·(2·Scale)² < 2⁵³, exact as a double.
    */
  def d2(c: Int, iv: ArrayData, ivNorm: Long): Double = {
    val n = ns(c)
    val off = c * dim
    var i = 0
    if (n <= exactNMax) {
      var dot = 0L
      while (i < dim) { dot += iv.getLong(i) * sv(off + i); i += 1 }
      (n * n * ivNorm - 2L * n * dot + svNorms(c)).toDouble / (n * n).toDouble
    } else {
      val nd = n.toDouble
      var acc = 0.0d
      while (i < dim) {
        val t = iv.getLong(i).toDouble - sv(off + i).toDouble / nd
        acc += t * t
        i += 1
      }
      acc
    }
  }
}

object Centroids {
  /** Rational centroids from collected (c_id, n, sv) rows. */
  def rational(rows: Array[(Int, Long, Array[Long])], exactNMax: Long): Centroids =
    Centroids(rows.map(_._1), rows.map(_._2), flat(rows.map(_._3)),
      rows.head._3.length, exactNMax)

  /** Integer (quantized) centroids from (c_id, qv) rows: n = 1, so every
    * distance takes the exact branch. `parentOf` names each row's coarse
    * cell for masked (hierarchical) routing.
    */
  def quantized(rows: Array[(Int, Array[Long])],
      parentOf: Int => Int = null): Centroids =
    Centroids(rows.map(_._1), Array.fill(rows.length)(1L),
      flat(rows.map(_._2)), rows.head._2.length, 1L,
      if (parentOf == null) null else rows.map(r => parentOf(r._1)))

  private def flat(vs: Array[Array[Long]]): Array[Long] = {
    val dim = vs.head.length
    require(vs.forall(_.length == dim), s"centroid dim mismatch: expected $dim")
    vs.flatten.toArray
  }
}

/** Native Catalyst expression for nearest-centroid routing — the one
  * kernel behind every centroid lookup in graft.pipeline.Ann (k-means
  * Lloyd rounds, PQ codes, IVF lists and probes, both stages of the
  * hierarchical router and the streamed serve router). Children: the
  * row's scaled vector `iv` (ARRAY<BIGINT>), its self-dot `ivNorm`
  * (BIGINT) and, optionally, `cells` (ARRAY<INT>): when given, only
  * centroids whose `parents` entry is in `cells` are candidates.
  *
  * Centroids rank by (d2 asc, id asc) with d2 = [[Centroids.d2]]. With
  * `p = None` the result is the argmin id (INT); with `p = Some(p)` it
  * is the min(p, k) nearest ids in that order (ARRAY<INT>). d2 values
  * are sums/ratios of squares — never NaN, never −0.0 — so primitive
  * `<`/`==` is a total order.
  *
  * Null rule: the result is never null. A null `iv`/`ivNorm`/`cells`
  * admits no candidate: −1 for the argmin, an empty array for top-p.
  * Non-nullability also keeps an inner join on the routed id from
  * inferring isnotnull(routing) and pushing the whole kernel into the
  * scan filter.
  *
  * The table lives in a codegen reference object and the generated
  * Java only calls [[nearest]], so the source is the same for every
  * table: a new model (each Lloyd round, each entry) reuses the
  * compiled class, and interpreted `eval` runs the same kernel.
  */
case class NearestCentroids(children: Seq[Expression], table: Centroids,
    p: Option[Int]) extends Expression {

  require(children.length == 2 || children.length == 3,
    s"graft_nearest takes (iv, ivNorm[, cells]), got ${children.length} args")
  require(children.length == 2 || table.parents != null,
    "masked routing needs a table with parents")
  require(p.forall(_ >= 1), s"need p >= 1, got $p")

  private def masked = children.length == 3
  private val m = math.min(p.getOrElse(1), table.ids.length)

  override def checkInputDataTypes(): TypeCheckResult =
    children.map(_.dataType) match {
      case Seq(ArrayType(LongType, _), LongType) |
           Seq(ArrayType(LongType, _), LongType, ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case ts => TypeCheckResult.TypeCheckFailure(
        "graft_nearest requires (ARRAY<BIGINT>, BIGINT[, ARRAY<INT>]), got " +
          ts.map(_.sql).mkString(", "))
    }
  override def dataType: DataType =
    if (p.isEmpty) IntegerType else ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_nearest"

  // keep plan dumps readable and deterministic: never print the raw
  // centroid arrays (toString of Array is an identity hash)
  override def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(s"k=${table.ids.length}",
      s"dim=${table.dim}", s"p=${p.getOrElse("argmin")}")

  /** Ids of the min(p, k) nearest admitted centroids in (d2 asc, id asc)
    * order; empty when `iv` is null or no centroid is admitted.
    */
  def nearest(iv: ArrayData, ivNorm: Long, cells: ArrayData): Array[Int] = {
    if (iv == null || (masked && cells == null)) return Array.emptyIntArray
    val t = table
    val bestD = new Array[Double](m)
    val bestId = new Array[Int](m)
    var found = 0
    var c = 0
    while (c < t.ids.length) {
      if (!masked || admits(cells, t.parents(c))) {
        val d = t.d2(c, iv, ivNorm)
        val id = t.ids(c)
        def before(j: Int) = d < bestD(j) || (d == bestD(j) && id < bestId(j))
        if (found < m || before(m - 1)) {
          // insertion into the sorted prefix; the last kept entry drops
          var j = if (found < m) { found += 1; found - 1 } else m - 1
          while (j > 0 && before(j - 1)) {
            bestD(j) = bestD(j - 1); bestId(j) = bestId(j - 1); j -= 1
          }
          bestD(j) = d; bestId(j) = id
        }
      }
      c += 1
    }
    if (found == m) bestId else java.util.Arrays.copyOf(bestId, found)
  }

  private def admits(cells: ArrayData, cell: Int): Boolean = {
    var j = 0
    while (j < cells.numElements()) {
      if (cells.getInt(j) == cell) return true
      j += 1
    }
    false
  }

  def argmin(iv: ArrayData, ivNorm: Long, cells: ArrayData): Int = {
    val r = nearest(iv, ivNorm, cells)
    if (r.isEmpty) -1 else r(0)
  }

  def topP(iv: ArrayData, ivNorm: Long, cells: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(nearest(iv, ivNorm, cells))

  override def eval(input: InternalRow): Any = {
    val in = children.map(_.eval(input))
    val iv = if (in(1) == null) null else in(0).asInstanceOf[ArrayData]
    val norm = if (in(1) == null) 0L else in(1).asInstanceOf[Long]
    val cells = if (masked) in(2).asInstanceOf[ArrayData] else null
    if (p.isEmpty) argmin(iv, norm, cells) else topP(iv, norm, cells)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearest", this)
    val in = children.map(_.genCode(ctx))
    val iv = s"(${in(0).isNull} || ${in(1).isNull}) ? null : ${in(0).value}"
    val norm = s"${in(1).isNull} ? 0L : ${in(1).value}"
    val cells = if (masked) s"${in(2).isNull} ? null : ${in(2).value}" else "null"
    val call = if (p.isEmpty) "argmin" else "topP"
    ev.copy(code = code"""
      |${in.map(_.code).reduce(_ + _)}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $self.$call($iv, $norm, $cells);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCentroids =
    copy(children = newChildren)
}

object NearestCentroids {
  private def route(t: Centroids, p: Option[Int], cs: Column*): Column =
    GraftSqlBridge.column(
      NearestCentroids(cs.map(GraftSqlBridge.expression), t, p))

  /** The nearest centroid's id (INT; −1 for a null `iv`). With `cells`,
    * only centroids parented to one of those cells are candidates.
    */
  def argmin(t: Centroids, iv: Column, ivNorm: Column,
      cells: Option[Column] = None): Column =
    route(t, None, Seq(iv, ivNorm) ++ cells: _*)

  /** The min(p, k) nearest centroid ids, ascending (d2, id) (ARRAY<INT>). */
  def topP(t: Centroids, iv: Column, ivNorm: Column, p: Int): Column =
    route(t, Some(p), iv, ivNorm)
}
