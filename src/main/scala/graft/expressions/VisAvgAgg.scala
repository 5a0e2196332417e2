package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mutable flat aggregation state of the visibility average: one double
  * per (output cell × statistic), plus the per-cell effective-sample
  * count. `effRe == null` marks the not-yet-allocated zero buffer.
  */
final class VisBufN(
    var nchanOut: Int, var ncorr: Int,
    var effRe: Array[Double], var effIm: Array[Double], var effW: Array[Double],
    var nomRe: Array[Double], var nomIm: Array[Double], var nomW: Array[Double],
    var effSig: Array[Double], var nomSig: Array[Double],
    var nEffCell: Array[Long]) {
  def this() = this(0, 0, null, null, null, null, null, null, null, null, null)
}

/** The averaging kernel (SURVEY §2.3 A1/A2/A4) as a native
  * `TypedImperativeAggregate` — the §7.3 escalation path from the typed
  * `Aggregator` (graft.ops.VisAggregator.VisAvg, kept in the test
  * sources as the reference implementation), which it matches
  * bit-for-bit (equivalence-tested by VisAvgAggSpec and the shared
  * oracle entries).
  *
  * Why native: `udaf(Aggregator)` routes every input row through an
  * ExpressionEncoder — materializing `Seq[Seq[Cpx]]` heap objects per
  * row — and every partial buffer through Product-encoder ser/de. Here
  * `update` reads the incoming `ArrayData` in place (primitive loops,
  * zero per-row allocation) and the shuffle buffer is one flat byte
  * image holding, per cell, only the population `eval` can still read
  * (effective where the cell has an effective sample, else nominal) —
  * 32 B/cell instead of both populations' 72. Same ObjectHashAggregate
  * plan shape, one wide shuffle, map-side partials — only the constant
  * factor changes.
  *
  * Semantics (identical to VisAvg; reference averaging.py:125-173):
  * dual-population weighted complex mean per output cell with per-cell
  * flag fallback, FLAG = no-effective-sample, WEIGHT_SPECTRUM = Σw,
  * SIGMA_SPECTRUM = sqrt(Σw²σ²)/Σw.
  */
case class VisAvgAgg(
    frow: Expression, data: Expression, flag: Expression,
    ws: Expression, ss: Expression, weight: Expression, chanBin: Expression,
    useWeightSpectrum: Boolean, emitSigmaSpectrum: Boolean,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[VisBufN] {

  override def children: Seq[Expression] =
    Seq(frow, data, flag, ws, ss, weight, chanBin)
  override def nullable: Boolean = false
  override def dataType: DataType = VisAvgAgg.outType
  override def prettyName: String = "graft_vis_avg"

  override def createAggregationBuffer(): VisBufN = new VisBufN()

  override def update(b: VisBufN, input: InternalRow): VisBufN = {
    val dataV = data.eval(input).asInstanceOf[ArrayData]
    if (dataV == null) return b
    val frowV = frow.eval(input).asInstanceOf[Boolean]
    val flagV = flag.eval(input).asInstanceOf[ArrayData]
    val wsV = if (useWeightSpectrum) ws.eval(input).asInstanceOf[ArrayData] else null
    val ssV = if (emitSigmaSpectrum) ss.eval(input).asInstanceOf[ArrayData] else null
    val weightV = if (useWeightSpectrum) null
                  else weight.eval(input).asInstanceOf[ArrayData]
    val nchan = dataV.numElements()
    val ncorr = if (nchan > 0) dataV.getArray(0).numElements() else 0
    val cb = math.max(1, chanBin.eval(input).asInstanceOf[Int])
    if (b.effRe == null) {
      b.nchanOut = (nchan + cb - 1) / cb
      b.ncorr = ncorr
      val n = b.nchanOut * ncorr
      b.effRe = new Array[Double](n); b.effIm = new Array[Double](n)
      b.effW = new Array[Double](n)
      b.nomRe = new Array[Double](n); b.nomIm = new Array[Double](n)
      b.nomW = new Array[Double](n)
      if (emitSigmaSpectrum) {
        b.effSig = new Array[Double](n); b.nomSig = new Array[Double](n)
      }
      b.nEffCell = new Array[Long](n)
    }
    var ch = 0
    while (ch < nchan) {
      val chOut = ch / cb
      val dRow = dataV.getArray(ch)
      val fRow = flagV.getArray(ch)
      val wsRow = if (wsV != null) wsV.getArray(ch) else null
      val ssRow = if (ssV != null) ssV.getArray(ch) else null
      var co = 0
      while (co < ncorr) {
        val i = chOut * b.ncorr + co
        val w = if (wsRow != null) wsRow.getDouble(co) else weightV.getDouble(co)
        val st = dRow.getStruct(co, 2)
        val re = st.getFloat(0); val im = st.getFloat(1)
        b.nomRe(i) += w * re; b.nomIm(i) += w * im; b.nomW(i) += w
        if (ssRow != null) {
          val s = ssRow.getDouble(co)
          b.nomSig(i) += w * w * s * s
        }
        if (!frowV && !fRow.getBoolean(co)) {
          b.effRe(i) += w * re; b.effIm(i) += w * im; b.effW(i) += w
          if (ssRow != null) {
            val s = ssRow.getDouble(co)
            b.effSig(i) += w * w * s * s
          }
          b.nEffCell(i) += 1
        }
        co += 1
      }
      ch += 1
    }
    b
  }

  override def merge(a: VisBufN, b: VisBufN): VisBufN = {
    if (a.effRe == null) return b
    if (b.effRe == null) return a
    def add(x: Array[Double], y: Array[Double]): Unit = {
      var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }
    }
    add(a.effRe, b.effRe); add(a.effIm, b.effIm); add(a.effW, b.effW)
    add(a.nomRe, b.nomRe); add(a.nomIm, b.nomIm); add(a.nomW, b.nomW)
    if (a.effSig != null) { add(a.effSig, b.effSig); add(a.nomSig, b.nomSig) }
    var i = 0
    while (i < a.nEffCell.length) { a.nEffCell(i) += b.nEffCell(i); i += 1 }
    a
  }

  override def eval(b: VisBufN): Any = {
    if (b.effRe == null)
      return InternalRow(
        new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]),
        new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))
    val nOut = b.nchanOut; val ncorr = b.ncorr
    val dataOut = new Array[Any](nOut)
    val flagOut = new Array[Any](nOut)
    val wsOut = new Array[Any](nOut)
    val ssOut = if (b.effSig != null) new Array[Any](nOut) else null
    var ch = 0
    while (ch < nOut) {
      val dRow = new Array[Any](ncorr)
      val fRow = new Array[Any](ncorr)
      val wRow = new Array[Any](ncorr)
      val sRow = if (ssOut != null) new Array[Any](ncorr) else null
      var co = 0
      while (co < ncorr) {
        val i = ch * ncorr + co
        val eff = b.nEffCell(i) > 0
        val re = if (eff) b.effRe(i) else b.nomRe(i)
        val im = if (eff) b.effIm(i) else b.nomIm(i)
        val w = if (eff) b.effW(i) else b.nomW(i)
        dRow(co) =
          if (w != 0) InternalRow((re / w).toFloat, (im / w).toFloat)
          else InternalRow(0f, 0f)
        fRow(co) = !eff
        wRow(co) = w
        if (sRow != null) {
          val sig = if (eff) b.effSig(i) else b.nomSig(i)
          sRow(co) = if (w != 0) math.sqrt(sig) / w else 0.0
        }
        co += 1
      }
      dataOut(ch) = new GenericArrayData(dRow)
      flagOut(ch) = new GenericArrayData(fRow)
      wsOut(ch) = new GenericArrayData(wRow)
      if (ssOut != null) ssOut(ch) = new GenericArrayData(sRow)
      ch += 1
    }
    InternalRow(
      new GenericArrayData(dataOut), new GenericArrayData(flagOut),
      new GenericArrayData(wsOut),
      if (ssOut != null) new GenericArrayData(ssOut)
      else new GenericArrayData(Array.empty[Any]))
  }

  // Flat binary image of the population eval can still read: header
  // (nchanOut, ncorr, hasSig), a bitmap of `nEffCell(i) > 0`, then per
  // cell re, im, w (and sig) from eff where the bit is set, else nom.
  // Exact, not lossy: counts only grow under merge, so a cell with an
  // effective sample ends with nEff > 0 and its nom sums are never read;
  // a cell without one has eff sums that are exactly +0.0 (never
  // incremented), which deserialize restores.
  override def serialize(b: VisBufN): Array[Byte] = {
    if (b.effRe == null) return Array.emptyByteArray
    val n = b.effRe.length
    val hasSig = b.effSig != null
    val buf = ByteBuffer.allocate(9 + (n + 7) / 8 + n * (if (hasSig) 32 else 24))
    buf.putInt(b.nchanOut).putInt(b.ncorr).put(if (hasSig) 1.toByte else 0.toByte)
    val bits = new Array[Byte]((n + 7) / 8)
    var i = 0
    while (i < n) {
      if (b.nEffCell(i) > 0) bits(i >> 3) = (bits(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    buf.put(bits)
    i = 0
    while (i < n) {
      val eff = b.nEffCell(i) > 0
      buf.putDouble(if (eff) b.effRe(i) else b.nomRe(i))
      buf.putDouble(if (eff) b.effIm(i) else b.nomIm(i))
      buf.putDouble(if (eff) b.effW(i) else b.nomW(i))
      if (hasSig) buf.putDouble(if (eff) b.effSig(i) else b.nomSig(i))
      i += 1
    }
    buf.array()
  }

  // The absent population is zero-filled: merge still adds the +0.0 eff
  // of a no-effective-sample partial, exactly as it did before the image
  // dropped it (-0.0 + +0.0 = +0.0, so skipping the add is not neutral).
  // nEffCell comes back as 1 or 0; only `> 0` is ever read.
  override def deserialize(bytes: Array[Byte]): VisBufN = {
    if (bytes.isEmpty) return new VisBufN()
    val buf = ByteBuffer.wrap(bytes)
    val nchanOut = buf.getInt; val ncorr = buf.getInt
    val hasSig = buf.get() == 1
    val n = nchanOut * ncorr
    val bits = new Array[Byte]((n + 7) / 8)
    buf.get(bits)
    val b = new VisBufN(nchanOut, ncorr,
      new Array[Double](n), new Array[Double](n), new Array[Double](n),
      new Array[Double](n), new Array[Double](n), new Array[Double](n),
      if (hasSig) new Array[Double](n) else null,
      if (hasSig) new Array[Double](n) else null,
      new Array[Long](n))
    var i = 0
    while (i < n) {
      if ((bits(i >> 3) & (1 << (i & 7))) != 0) {
        b.nEffCell(i) = 1
        b.effRe(i) = buf.getDouble; b.effIm(i) = buf.getDouble
        b.effW(i) = buf.getDouble
        if (hasSig) b.effSig(i) = buf.getDouble
      } else {
        b.nomRe(i) = buf.getDouble; b.nomIm(i) = buf.getDouble
        b.nomW(i) = buf.getDouble
        if (hasSig) b.nomSig(i) = buf.getDouble
      }
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): VisAvgAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VisAvgAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VisAvgAgg =
    copy(frow = newChildren(0), data = newChildren(1), flag = newChildren(2),
      ws = newChildren(3), ss = newChildren(4), weight = newChildren(5),
      chanBin = newChildren(6))
}

object VisAvgAgg {
  private val cpx = StructType(Seq(
    StructField("re", FloatType, nullable = false),
    StructField("im", FloatType, nullable = false)))
  val outType: StructType = StructType(Seq(
    StructField("DATA", ArrayType(ArrayType(cpx))),
    StructField("FLAG", ArrayType(ArrayType(BooleanType))),
    StructField("WEIGHT_SPECTRUM", ArrayType(ArrayType(DoubleType))),
    StructField("SIGMA_SPECTRUM", ArrayType(ArrayType(DoubleType)))))

  /** Column-API form, same positional contract as
    * `VisAggregator.visAvg(useWs, emitSs)(...)`.
    */
  def apply(useWeightSpectrum: Boolean, emitSigmaSpectrum: Boolean)(
      frow: Column, data: Column, flag: Column, ws: Column, ss: Column,
      weight: Column, chanBin: Column): Column = {
    val e = GraftSqlBridge.expression _
    GraftSqlBridge.column(
      VisAvgAgg(e(frow), e(data), e(flag), e(ws), e(ss), e(weight), e(chanBin),
        useWeightSpectrum, emitSigmaSpectrum).toAggregateExpression())
  }
}
