package graft.ops

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed-`Aggregator` reference implementation of the averaging kernel
  * — test-only: production runs the native graft.expressions.VisAvgAgg /
  * RowAvgAgg, which VisAvgAggSpec checks bit-for-bit against this.
  *
  * The averaging kernel (SURVEY §2.3 A1/A2): flag-aware, dual-population
  * (nominal vs effective), weighted complex average over nested
  * `(chan, corr)` visibility matrices, with channel re-binning — the
  * Spark-native replacement for the reference's numba kernel
  * (called at /root/reference/xova/apps/xova/averaging.py:251-255,
  * consumed at averaging.py:125-173).
  *
  * Semantics (MS v2, per SURVEY §2.3 and oracle-checked at flat grain by
  * the ms_a1/ms_a2 entries of graft.queries.MsQueries):
  *  - nominal population = every row of the bin; effective = unflagged
  *    rows (`!FLAG_ROW`); per-cell effective = `!FLAG_ROW && !FLAG[ch][co]`.
  *  - If a bin (or an output cell) has NO effective sample, effective
  *    falls back to nominal and the output row (cell) is flagged.
  *  - TIME = mean(nom), INTERVAL = sum(nom), TIME_CENTROID = mean(eff),
  *    EXPOSURE = sum(eff), UVW = Σ(u·w_row)/Σw_row (eff) with
  *    w_row = Σ_corr WEIGHT, WEIGHT = sum(eff),
  *    SIGMA = sqrt(Σ w²σ²)/Σw (eff), vis = Σ(w·v)/Σw per output cell
  *    with w = WEIGHT_SPECTRUM (or broadcast WEIGHT), FLAG = AND.
  *
  * Execution shape: ONE hash-shuffle on the bin key; each group folds its
  * rows into fixed-size double arrays (buffer ≈ nchan_out × ncorr × 6
  * doubles). Partial aggregation (reduce) runs map-side, merge combines
  * per-key partials — exactly the reference kernel's work, distributed.
  * At 100 TB the shuffle moves the input once; nothing is collected.
  *
  * Two aggregators so multiple `--data-column FROM:TO` mappings (P5)
  * share one row-level pass: [[RowAvg]] (per-row scalars) and
  * [[VisAvg]] (one per data column).
  */
object VisAggregator {

  case class Cpx(re: Float, im: Float)

  // --- row-level ---------------------------------------------------------

  case class RowIn(
      TIME: Double, INTERVAL: Double, TIME_CENTROID: Double, EXPOSURE: Double,
      FROW: Boolean, UVW: Seq[Double], WEIGHT: Seq[Double], SIGMA: Seq[Double])

  case class RowBuf(
      var nNom: Long, var nEff: Long,
      var timeSum: Double, var intervalSum: Double,
      var tcEff: Double, var tcNom: Double,
      var expEff: Double, var expNom: Double,
      var wRowEff: Double, var wRowNom: Double,
      var uvwEff: Array[Double], var uvwNom: Array[Double],
      var wEff: Array[Double], var wNom: Array[Double],
      var sigEff: Array[Double], var sigNom: Array[Double])

  case class RowOut(
      TIME: Double, INTERVAL: Double, TIME_CENTROID: Double, EXPOSURE: Double,
      FLAG_ROW: Boolean, UVW: Seq[Double], WEIGHT: Seq[Double],
      SIGMA: Seq[Double], N_NOM: Long, N_EFF: Long)

  class RowAvg extends Aggregator[RowIn, RowBuf, RowOut] {
    def zero: RowBuf = RowBuf(0L, 0L, 0, 0, 0, 0, 0, 0, 0, 0,
      Array.empty, Array.empty, Array.empty, Array.empty, Array.empty, Array.empty)

    private def alloc(b: RowBuf, ncorr: Int): Unit = if (b.uvwEff.isEmpty) {
      b.uvwEff = new Array[Double](3); b.uvwNom = new Array[Double](3)
      b.wEff = new Array[Double](ncorr); b.wNom = new Array[Double](ncorr)
      b.sigEff = new Array[Double](ncorr); b.sigNom = new Array[Double](ncorr)
    }

    def reduce(b: RowBuf, r: RowIn): RowBuf = {
      val nc = r.WEIGHT.length
      alloc(b, nc)
      val eff = !r.FROW
      val wRow = r.WEIGHT.sum
      b.nNom += 1; b.timeSum += r.TIME; b.intervalSum += r.INTERVAL
      b.tcNom += r.TIME_CENTROID; b.expNom += r.EXPOSURE; b.wRowNom += wRow
      var i = 0
      while (i < 3) { b.uvwNom(i) += r.UVW(i) * wRow; i += 1 }
      var c = 0
      while (c < nc) {
        val w = r.WEIGHT(c); val s = r.SIGMA(c)
        b.wNom(c) += w; b.sigNom(c) += w * w * s * s
        c += 1
      }
      if (eff) {
        b.nEff += 1; b.tcEff += r.TIME_CENTROID; b.expEff += r.EXPOSURE
        b.wRowEff += wRow
        i = 0
        while (i < 3) { b.uvwEff(i) += r.UVW(i) * wRow; i += 1 }
        c = 0
        while (c < nc) {
          val w = r.WEIGHT(c); val s = r.SIGMA(c)
          b.wEff(c) += w; b.sigEff(c) += w * w * s * s
          c += 1
        }
      }
      b
    }

    def merge(a: RowBuf, b: RowBuf): RowBuf = {
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

    def finish(b: RowBuf): RowOut = {
      val hasEff = b.nEff > 0
      val n = if (hasEff) b.nEff else b.nNom
      val wRow = if (hasEff) b.wRowEff else b.wRowNom
      val uvwS = if (hasEff) b.uvwEff else b.uvwNom
      val wS = if (hasEff) b.wEff else b.wNom
      val sigS = if (hasEff) b.sigEff else b.sigNom
      RowOut(
        TIME = b.timeSum / b.nNom,
        INTERVAL = b.intervalSum,
        TIME_CENTROID = (if (hasEff) b.tcEff else b.tcNom) / n,
        EXPOSURE = if (hasEff) b.expEff else b.expNom,
        FLAG_ROW = !hasEff,
        UVW = uvwS.map(x => if (wRow != 0) x / wRow else 0.0).toSeq,
        WEIGHT = wS.toSeq,
        SIGMA = wS.indices.map { c =>
          if (wS(c) != 0) math.sqrt(sigS(c)) / wS(c) else 0.0
        },
        N_NOM = b.nNom, N_EFF = b.nEff)
    }

    def bufferEncoder: Encoder[RowBuf] = Encoders.product[RowBuf]
    def outputEncoder: Encoder[RowOut] = Encoders.product[RowOut]
  }

  // --- visibility matrix -------------------------------------------------

  case class VisIn(
      FROW: Boolean, DATA: Seq[Seq[Cpx]], FLAG: Seq[Seq[Boolean]],
      WEIGHT_SPECTRUM: Seq[Seq[Double]], SIGMA_SPECTRUM: Seq[Seq[Double]],
      WEIGHT: Seq[Double], CHAN_BIN: Int)

  case class VisBuf(
      var nchanOut: Int, var ncorr: Int,
      var effRe: Array[Double], var effIm: Array[Double], var effW: Array[Double],
      var nomRe: Array[Double], var nomIm: Array[Double], var nomW: Array[Double],
      var effSig: Array[Double], var nomSig: Array[Double],
      var nEffCell: Array[Long])

  /** WEIGHT_SPECTRUM out = the per-cell Σw the vis average already
    * accumulates; SIGMA_SPECTRUM out = sqrt(Σ w²σ²)/Σw per cell — the
    * per-channel mirror of the row-level WEIGHT/SIGMA semantics
    * (reference passthrough: averaging.py:167-173, read set 241-248).
    * Both are empty when the pipeline declares the inputs absent.
    */
  case class VisMatOut(DATA: Seq[Seq[Cpx]], FLAG: Seq[Seq[Boolean]],
      WEIGHT_SPECTRUM: Seq[Seq[Double]], SIGMA_SPECTRUM: Seq[Seq[Double]])

  /** Channel bin size comes from the per-row CHAN_BIN input (constant
    * within a group): a literal for uniform A2 averaging, a per-baseline
    * decorrelation-derived value for BDA (A4) — the raggedness of the
    * output is simply different groups choosing different bins.
    *
    * @param useWeightSpectrum per-cell weights from WEIGHT_SPECTRUM when
    *   true, else the per-corr WEIGHT broadcast over channels (the
    *   reference's optional-column fallback, averaging.py:241-248).
    * @param emitSigmaSpectrum accumulate/emit the averaged SIGMA_SPECTRUM
    *   (requires the SIGMA_SPECTRUM input; false when the MS lacks it —
    *   the reference's optional-column passthrough, averaging.py:167-173).
    */
  class VisAvg(useWeightSpectrum: Boolean = true,
               emitSigmaSpectrum: Boolean = true)
      extends Aggregator[VisIn, VisBuf, VisMatOut] {

    def zero: VisBuf = VisBuf(0, 0, Array.empty, Array.empty, Array.empty,
      Array.empty, Array.empty, Array.empty, Array.empty, Array.empty,
      Array.empty)

    def reduce(b: VisBuf, r: VisIn): VisBuf = {
      val nchan = r.DATA.length
      val ncorr = if (nchan > 0) r.DATA.head.length else 0
      val chanBin = math.max(1, r.CHAN_BIN)
      if (b.effRe.isEmpty) {
        b.nchanOut = (nchan + chanBin - 1) / chanBin
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
        val chOut = ch / chanBin
        val dRow = r.DATA(ch); val fRow = r.FLAG(ch)
        val wsRow = if (useWeightSpectrum) r.WEIGHT_SPECTRUM(ch) else null
        val ssRow = if (emitSigmaSpectrum) r.SIGMA_SPECTRUM(ch) else null
        var co = 0
        while (co < ncorr) {
          val i = chOut * b.ncorr + co
          val w = if (wsRow != null) wsRow(co) else r.WEIGHT(co)
          val v = dRow(co)
          b.nomRe(i) += w * v.re; b.nomIm(i) += w * v.im; b.nomW(i) += w
          if (ssRow != null) {
            val s = ssRow(co)
            b.nomSig(i) += w * w * s * s
          }
          if (!r.FROW && !fRow(co)) {
            b.effRe(i) += w * v.re; b.effIm(i) += w * v.im; b.effW(i) += w
            if (ssRow != null) {
              val s = ssRow(co)
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

    def merge(a: VisBuf, b: VisBuf): VisBuf = {
      if (a.effRe.isEmpty) return b
      if (b.effRe.isEmpty) return a
      def add(x: Array[Double], y: Array[Double]): Unit = {
        var i = 0; while (i < x.length) { x(i) += y(i); i += 1 }
      }
      add(a.effRe, b.effRe); add(a.effIm, b.effIm); add(a.effW, b.effW)
      add(a.nomRe, b.nomRe); add(a.nomIm, b.nomIm); add(a.nomW, b.nomW)
      add(a.effSig, b.effSig); add(a.nomSig, b.nomSig)
      var i = 0
      while (i < a.nEffCell.length) { a.nEffCell(i) += b.nEffCell(i); i += 1 }
      a
    }

    def finish(b: VisBuf): VisMatOut = {
      val data = (0 until b.nchanOut).map { ch =>
        (0 until b.ncorr).map { co =>
          val i = ch * b.ncorr + co
          val eff = b.nEffCell(i) > 0
          val re = if (eff) b.effRe(i) else b.nomRe(i)
          val im = if (eff) b.effIm(i) else b.nomIm(i)
          val w = if (eff) b.effW(i) else b.nomW(i)
          if (w != 0) Cpx((re / w).toFloat, (im / w).toFloat) else Cpx(0f, 0f)
        }
      }
      val flag = (0 until b.nchanOut).map { ch =>
        (0 until b.ncorr).map(co => b.nEffCell(ch * b.ncorr + co) == 0L)
      }
      val ws = (0 until b.nchanOut).map { ch =>
        (0 until b.ncorr).map { co =>
          val i = ch * b.ncorr + co
          if (b.nEffCell(i) > 0) b.effW(i) else b.nomW(i)
        }
      }
      val ss =
        if (b.effSig.isEmpty) Seq.empty[Seq[Double]]
        else (0 until b.nchanOut).map { ch =>
          (0 until b.ncorr).map { co =>
            val i = ch * b.ncorr + co
            val eff = b.nEffCell(i) > 0
            val w = if (eff) b.effW(i) else b.nomW(i)
            val sig = if (eff) b.effSig(i) else b.nomSig(i)
            if (w != 0) math.sqrt(sig) / w else 0.0
          }
        }
      VisMatOut(data, flag, ws, ss)
    }

    def bufferEncoder: Encoder[VisBuf] = Encoders.product[VisBuf]
    def outputEncoder: Encoder[VisMatOut] = Encoders.product[VisMatOut]
  }

  /** Untyped-callable forms: apply to columns in `groupBy(...).agg(...)`
    * (arguments map positionally to the input case-class fields).
    */
  def rowAvg = udaf(new RowAvg)
  def visAvg(useWeightSpectrum: Boolean = true,
             emitSigmaSpectrum: Boolean = true) =
    udaf(new VisAvg(useWeightSpectrum, emitSigmaSpectrum))
}
