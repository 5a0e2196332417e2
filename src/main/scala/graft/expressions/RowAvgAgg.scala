package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mutable flat state of the row-level average (`uvw* == null` marks
  * the unallocated zero buffer; corr count fixed by the first row).
  */
final class RowBufN(
    var nNom: Long, var nEff: Long,
    var timeSum: Double, var intervalSum: Double,
    var tcEff: Double, var tcNom: Double,
    var expEff: Double, var expNom: Double,
    var wRowEff: Double, var wRowNom: Double,
    var uvwEff: Array[Double], var uvwNom: Array[Double],
    var wEff: Array[Double], var wNom: Array[Double],
    var sigEff: Array[Double], var sigNom: Array[Double]) {
  def this() = this(0L, 0L, 0, 0, 0, 0, 0, 0, 0, 0,
    null, null, null, null, null, null)
}

/** Row-level dual-population averages (SURVEY §2.3 A1 row stage) as a
  * native `TypedImperativeAggregate` — same escalation as
  * [[VisAvgAgg]], bit-identical to graft.ops.VisAggregator.RowAvg (the
  * typed reference implementation in the test sources)
  * (equivalence-tested by VisAvgAggSpec and the shared oracles).
  * Its shuffle image carries one population, as [[VisAvgAgg]]'s does.
  * Semantics per reference averaging.py:125-173: TIME = mean(nom),
  * INTERVAL = sum(nom), TIME_CENTROID/EXPOSURE/UVW/WEIGHT/SIGMA over
  * the effective population with nominal fallback, FLAG_ROW = no
  * effective row.
  */
case class RowAvgAgg(
    time: Expression, interval: Expression, tc: Expression, exp: Expression,
    frow: Expression, uvw: Expression, weight: Expression, sigma: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[RowBufN] {

  override def children: Seq[Expression] =
    Seq(time, interval, tc, exp, frow, uvw, weight, sigma)
  override def nullable: Boolean = false
  override def dataType: DataType = RowAvgAgg.outType
  override def prettyName: String = "graft_row_avg"

  override def createAggregationBuffer(): RowBufN = new RowBufN()

  override def update(b: RowBufN, input: InternalRow): RowBufN = {
    val weightV = weight.eval(input).asInstanceOf[ArrayData]
    if (weightV == null) return b
    val nc = weightV.numElements()
    if (b.uvwEff == null) {
      b.uvwEff = new Array[Double](3); b.uvwNom = new Array[Double](3)
      b.wEff = new Array[Double](nc); b.wNom = new Array[Double](nc)
      b.sigEff = new Array[Double](nc); b.sigNom = new Array[Double](nc)
    }
    val timeV = time.eval(input).asInstanceOf[Double]
    val intervalV = interval.eval(input).asInstanceOf[Double]
    val tcV = tc.eval(input).asInstanceOf[Double]
    val expV = exp.eval(input).asInstanceOf[Double]
    val frowV = frow.eval(input).asInstanceOf[Boolean]
    val uvwV = uvw.eval(input).asInstanceOf[ArrayData]
    val sigmaV = sigma.eval(input).asInstanceOf[ArrayData]
    var wRow = 0.0
    var c = 0
    while (c < nc) { wRow += weightV.getDouble(c); c += 1 }
    b.nNom += 1; b.timeSum += timeV; b.intervalSum += intervalV
    b.tcNom += tcV; b.expNom += expV; b.wRowNom += wRow
    var i = 0
    while (i < 3) { b.uvwNom(i) += uvwV.getDouble(i) * wRow; i += 1 }
    c = 0
    while (c < nc) {
      val w = weightV.getDouble(c); val s = sigmaV.getDouble(c)
      b.wNom(c) += w; b.sigNom(c) += w * w * s * s
      c += 1
    }
    if (!frowV) {
      b.nEff += 1; b.tcEff += tcV; b.expEff += expV; b.wRowEff += wRow
      i = 0
      while (i < 3) { b.uvwEff(i) += uvwV.getDouble(i) * wRow; i += 1 }
      c = 0
      while (c < nc) {
        val w = weightV.getDouble(c); val s = sigmaV.getDouble(c)
        b.wEff(c) += w; b.sigEff(c) += w * w * s * s
        c += 1
      }
    }
    b
  }

  override def merge(a: RowBufN, b: RowBufN): RowBufN = {
    if (a.nNom == 0) return b
    if (b.nNom == 0) return a
    a.nNom += b.nNom; a.nEff += b.nEff
    a.timeSum += b.timeSum; a.intervalSum += b.intervalSum
    a.tcEff += b.tcEff; a.tcNom += b.tcNom
    a.expEff += b.expEff; a.expNom += b.expNom
    a.wRowEff += b.wRowEff; a.wRowNom += b.wRowNom
    def add(x: Array[Double], y: Array[Double]): Unit = {
      var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }
    }
    add(a.uvwEff, b.uvwEff); add(a.uvwNom, b.uvwNom)
    add(a.wEff, b.wEff); add(a.wNom, b.wNom)
    add(a.sigEff, b.sigEff); add(a.sigNom, b.sigNom)
    a
  }

  override def eval(b: RowBufN): Any = {
    if (b.nNom == 0)
      return InternalRow(0.0, 0.0, 0.0, 0.0, true,
        new GenericArrayData(Array.empty[Any]),
        new GenericArrayData(Array.empty[Any]),
        new GenericArrayData(Array.empty[Any]), 0L, 0L)
    val hasEff = b.nEff > 0
    val n = if (hasEff) b.nEff else b.nNom
    val wRow = if (hasEff) b.wRowEff else b.wRowNom
    val uvwS = if (hasEff) b.uvwEff else b.uvwNom
    val wS = if (hasEff) b.wEff else b.wNom
    val sigS = if (hasEff) b.sigEff else b.sigNom
    val uvwOut = new Array[Any](3)
    var i = 0
    while (i < 3) {
      uvwOut(i) = if (wRow != 0) uvwS(i) / wRow else 0.0
      i += 1
    }
    val nc = wS.length
    val wOut = new Array[Any](nc)
    val sigOut = new Array[Any](nc)
    var c = 0
    while (c < nc) {
      wOut(c) = wS(c)
      sigOut(c) = if (wS(c) != 0) math.sqrt(sigS(c)) / wS(c) else 0.0
      c += 1
    }
    InternalRow(
      b.timeSum / b.nNom,
      b.intervalSum,
      (if (hasEff) b.tcEff else b.tcNom) / n,
      if (hasEff) b.expEff else b.expNom,
      !hasEff,
      new GenericArrayData(uvwOut),
      new GenericArrayData(wOut),
      new GenericArrayData(sigOut),
      b.nNom, b.nEff)
  }

  // Image: nc, both counts, the nominal TIME and INTERVAL sums (eval
  // always reads them), then tc, exp, wRow, uvw(3), weight(nc) and
  // sigma(nc) of the one population eval reads — effective iff nEff > 0
  // (counts only grow under merge). The absent population comes back
  // zero-filled, so a no-effective-row partial still merges its exact
  // +0.0 eff sums, as in [[VisAvgAgg]].
  override def serialize(b: RowBufN): Array[Byte] = {
    if (b.uvwEff == null) return Array.emptyByteArray
    val nc = b.wEff.length
    val eff = b.nEff > 0
    val buf = ByteBuffer.allocate(4 + 16 + 16 + (6 + 2 * nc) * 8) // 148 B at nc = 4
    buf.putInt(nc).putLong(b.nNom).putLong(b.nEff)
    buf.putDouble(b.timeSum).putDouble(b.intervalSum)
    buf.putDouble(if (eff) b.tcEff else b.tcNom)
    buf.putDouble(if (eff) b.expEff else b.expNom)
    buf.putDouble(if (eff) b.wRowEff else b.wRowNom)
    def putD(a: Array[Double]): Unit = {
      var i = 0; while (i < a.length) { buf.putDouble(a(i)); i += 1 }
    }
    putD(if (eff) b.uvwEff else b.uvwNom)
    putD(if (eff) b.wEff else b.wNom)
    putD(if (eff) b.sigEff else b.sigNom)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): RowBufN = {
    if (bytes.isEmpty) return new RowBufN()
    val buf = ByteBuffer.wrap(bytes)
    val nc = buf.getInt
    val b = new RowBufN()
    b.nNom = buf.getLong; b.nEff = buf.getLong
    b.timeSum = buf.getDouble; b.intervalSum = buf.getDouble
    val tc = buf.getDouble; val exp = buf.getDouble; val wRow = buf.getDouble
    def getD(k: Int): Array[Double] = {
      val a = new Array[Double](k)
      var i = 0; while (i < k) { a(i) = buf.getDouble; i += 1 }
      a
    }
    val uvw = getD(3); val w = getD(nc); val sig = getD(nc)
    if (b.nEff > 0) {
      b.tcEff = tc; b.expEff = exp; b.wRowEff = wRow
      b.uvwEff = uvw; b.wEff = w; b.sigEff = sig
      b.uvwNom = new Array[Double](3)
      b.wNom = new Array[Double](nc); b.sigNom = new Array[Double](nc)
    } else {
      b.tcNom = tc; b.expNom = exp; b.wRowNom = wRow
      b.uvwNom = uvw; b.wNom = w; b.sigNom = sig
      b.uvwEff = new Array[Double](3)
      b.wEff = new Array[Double](nc); b.sigEff = new Array[Double](nc)
    }
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): RowAvgAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): RowAvgAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RowAvgAgg =
    copy(time = newChildren(0), interval = newChildren(1), tc = newChildren(2),
      exp = newChildren(3), frow = newChildren(4), uvw = newChildren(5),
      weight = newChildren(6), sigma = newChildren(7))
}

object RowAvgAgg {
  val outType: StructType = StructType(Seq(
    StructField("TIME", DoubleType, nullable = false),
    StructField("INTERVAL", DoubleType, nullable = false),
    StructField("TIME_CENTROID", DoubleType, nullable = false),
    StructField("EXPOSURE", DoubleType, nullable = false),
    StructField("FLAG_ROW", BooleanType, nullable = false),
    StructField("UVW", ArrayType(DoubleType)),
    StructField("WEIGHT", ArrayType(DoubleType)),
    StructField("SIGMA", ArrayType(DoubleType)),
    StructField("N_NOM", LongType, nullable = false),
    StructField("N_EFF", LongType, nullable = false)))

  /** Column-API form, same positional contract as
    * `VisAggregator.rowAvg(...)`.
    */
  def apply(time: Column, interval: Column, tc: Column, exp: Column,
            frow: Column, uvw: Column, weight: Column, sigma: Column): Column = {
    val e = GraftSqlBridge.expression _
    GraftSqlBridge.column(
      RowAvgAgg(e(time), e(interval), e(tc), e(exp), e(frow), e(uvw),
        e(weight), e(sigma)).toAggregateExpression())
  }
}
