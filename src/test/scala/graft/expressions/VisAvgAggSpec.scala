package graft.expressions

import graft.SparkSpec
import graft.ms.MsTables
import graft.ops.{Flags, TimeAvg, VisAggregator}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._

/** The native TypedImperativeAggregate kernel must match the typed
  * Aggregator reference implementation bit-for-bit on the full fixture
  * MS — every output cell of DATA/FLAG/WEIGHT_SPECTRUM/SIGMA_SPECTRUM,
  * across both SPW shapes, both populations, and ragged channel tails.
  */
class VisAvgAggSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import VisAvgAggSpec._

  private def prepped(binSecs: Double) =
    TimeAvg.assignGrid(
      Flags.filterAutocorr(MsTables.main(spark))
        .withColumn("FROW", Flags.derivedFlagRow),
      binSecs)

  private def compare(chanBin: Int, useWs: Boolean, emitSs: Boolean): Unit = {
    val df = prepped(60000.0)
    val keys = TimeAvg.BinKey.map(col)
    def agg(c: org.apache.spark.sql.Column) =
      df.groupBy(keys: _*).agg(c.as("V")).select(keys :+ col("V.*"): _*)
    val ref = agg(VisAggregator.visAvg(useWs, emitSs)(
      col("FROW"), col("DATA"), col("FLAG"), col("WEIGHT_SPECTRUM"),
      col("SIGMA_SPECTRUM"), col("WEIGHT"), lit(chanBin)))
    val native = agg(VisAvgAgg(useWs, emitSs)(
      col("FROW"), col("DATA"), col("FLAG"), col("WEIGHT_SPECTRUM"),
      col("SIGMA_SPECTRUM"), col("WEIGHT"), lit(chanBin)))
    assert(ref.count() == native.count())
    // bit-exact: an inner join on EVERY column (including the nested
    // float matrices) must retain every row
    val joined = native.join(ref, native.columns.toSeq)
    assert(joined.count() == ref.count(),
      s"native kernel diverges from reference (chanBin=$chanBin, ws=$useWs, ss=$emitSs)")
  }

  test("matches the Aggregator bit-for-bit (chanBin 1, WS weights)") {
    compare(chanBin = 1, useWs = true, emitSs = true)
  }

  test("matches the Aggregator bit-for-bit (chanBin 4 ragged, WS weights)") {
    compare(chanBin = 3, useWs = true, emitSs = true)
  }

  test("matches the Aggregator bit-for-bit (WEIGHT fallback, no sigma)") {
    compare(chanBin = 4, useWs = false, emitSs = false)
  }

  test("randomized property: native == Aggregator on adversarial inputs") {
    // seeded random rows with the nasty cases the fixture can't hit:
    // zero-weight cells, rows fully flagged, groups fully flagged,
    // ragged chanBin tails. Values live on DYADIC grids (k/16, k/256)
    // so every sum is exact in double and the bit-for-bit compare is
    // independent of Spark's nondeterministic partial-merge order.
    import VisAggregator.{Cpx, VisIn}
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(1234)
    def mat(nch: Int, nco: Int)(f: () => Double): Seq[Seq[Double]] =
      Seq.fill(nch)(Seq.fill(nco)(f()))
    val rows = (0 until 200).map { i =>
      val nch = 5; val nco = 2
      val w0 = rnd.nextInt(4) == 0 // 25% zero-weight cells
      (i % 13, VisIn(
        FROW = rnd.nextInt(5) == 0,
        DATA = Seq.fill(nch)(Seq.fill(nco)(Cpx(
          (rnd.nextInt(2049) - 1024).toFloat, (rnd.nextInt(2049) - 1024).toFloat))),
        FLAG = Seq.fill(nch)(Seq.fill(nco)(rnd.nextInt(3) == 0)),
        WEIGHT_SPECTRUM = mat(nch, nco)(() =>
          if (w0) 0.0 else rnd.nextInt(1 << 16) / 16.0),
        SIGMA_SPECTRUM = mat(nch, nco)(() => rnd.nextInt(256) / 16.0),
        WEIGHT = Seq.fill(nco)(rnd.nextInt(1 << 10) / 16.0),
        CHAN_BIN = 1 + rnd.nextInt(4))) // ragged tails at 2,3,4
    }
    // CHAN_BIN must be constant per group — keyed by it
    val df = rows.map { case (g, v) => (g, v.CHAN_BIN, v.FROW, v.DATA,
      v.FLAG, v.WEIGHT_SPECTRUM, v.SIGMA_SPECTRUM, v.WEIGHT) }
      .toDF("g", "CHAN_BIN", "FROW", "DATA", "FLAG", "WEIGHT_SPECTRUM",
        "SIGMA_SPECTRUM", "WEIGHT")
    def agg(c: org.apache.spark.sql.Column) =
      df.groupBy("g", "CHAN_BIN").agg(c.as("V")).select(col("g"), col("V.*"))
    val ref = agg(VisAggregator.visAvg(true, true)(
      col("FROW"), col("DATA"), col("FLAG"), col("WEIGHT_SPECTRUM"),
      col("SIGMA_SPECTRUM"), col("WEIGHT"), col("CHAN_BIN")))
    val native = agg(VisAvgAgg(true, true)(
      col("FROW"), col("DATA"), col("FLAG"), col("WEIGHT_SPECTRUM"),
      col("SIGMA_SPECTRUM"), col("WEIGHT"), col("CHAN_BIN")))
    assert(ref.count() == native.count())
    assert(native.join(ref, native.columns.toSeq).count() == ref.count(),
      "native kernel diverges on randomized input")
  }

  test("native RowAvgAgg matches the row Aggregator bit-for-bit") {
    val df = prepped(60000.0)
    val keys = TimeAvg.BinKey.map(col)
    def agg(c: org.apache.spark.sql.Column) =
      df.groupBy(keys: _*).agg(c.as("R")).select(keys :+ col("R.*"): _*)
    val ref = agg(VisAggregator.rowAvg(
      col("TIME"), col("INTERVAL"), col("TIME_CENTROID"), col("EXPOSURE"),
      col("FROW"), col("UVW"), col("WEIGHT"), col("SIGMA")))
    val native = agg(RowAvgAgg(
      col("TIME"), col("INTERVAL"), col("TIME_CENTROID"), col("EXPOSURE"),
      col("FROW"), col("UVW"), col("WEIGHT"), col("SIGMA")))
    assert(ref.count() == native.count())
    val joined = native.join(ref, native.columns.toSeq)
    assert(joined.count() == ref.count(), "native row kernel diverges")
  }

  // --- the one-population shuffle image --------------------------------

  /** Bin rows whose every bin spreads over all [[Slices]] map partitions
    * (slice-major order, so `parallelize` cuts one block per slice): the
    * partials really serialize, shuffle, deserialize and merge. Kinds by
    * `g % 6`: 0 unflagged, 1 all-flagged, 2 FROW, 3 mixed ACROSS
    * partitions (slice 0 FROW, slice 1 unflagged, slice 2 random flags),
    * 4 mixed per cell (each cell effective in one slice only, channel 0
    * nowhere), 5 zero weights plus a negative weight over zero data
    * (a -0.0 output). Values sit on dyadic grids, so every sum is exact
    * and independent of the merge order.
    */
  private def rtRows: Seq[RtRow] = {
    val rnd = new scala.util.Random(99)
    val nch = 5; val nco = 2
    for (sl <- 0 until Slices; g <- 0 until 12; r <- 0 until 2) yield {
      val kind = g % 6
      def cplx() = VisAggregator.Cpx(
        (rnd.nextInt(2049) - 1024).toFloat, (rnd.nextInt(2049) - 1024).toFloat)
      val frow = kind == 2 || (kind == 3 && sl == 0)
      val flag = Seq.tabulate(nch, nco) { (ch, co) =>
        kind match {
          case 0 => false
          case 1 => true
          case 3 => sl == 2 && rnd.nextBoolean()
          case 4 => ch == 0 || (ch * nco + co) % Slices != sl
          case _ => rnd.nextInt(3) == 0
        }
      }
      val ws = Seq.tabulate(nch, nco) { (ch, co) =>
        if (kind == 5 && ch == 1) 0.0
        else if (kind == 5 && ch == 2 && co == 0) -1.0
        else rnd.nextInt(1 << 16) / 16.0
      }
      val data = Seq.tabulate(nch, nco) { (ch, co) =>
        if (kind == 5 && ch == 2 && co == 0) VisAggregator.Cpx(0f, 0f) else cplx()
      }
      val weight = Seq.fill(nco)(if (kind == 5) 0.0 else rnd.nextInt(1 << 10) / 16.0)
      RtRow(g, if (kind == 5) 1 else 1 + g % 3, frow, data, flag, ws,
        Seq.fill(nch, nco)(rnd.nextInt(256) / 16.0), weight,
        TIME = (sl * 2 + r) * 8.0, INTERVAL = 8.0,
        TIME_CENTROID = rnd.nextInt(1 << 12) / 4.0,
        EXPOSURE = rnd.nextInt(64) / 8.0,
        UVW = Seq.fill(3)((rnd.nextInt(1 << 16) - (1 << 15)) / 256.0),
        SIGMA = Seq.fill(nco)(rnd.nextInt(256) / 16.0))
    }
  }

  /** Both kernels — VisAvgAgg with and without SIGMA_SPECTRUM and with
    * WEIGHT in place of WEIGHT_SPECTRUM — in one aggregate per side.
    */
  private def averaged(df: DataFrame, native: Boolean): DataFrame = {
    val cols = Seq("FROW", "DATA", "FLAG", "WEIGHT_SPECTRUM", "SIGMA_SPECTRUM",
      "WEIGHT", "CHAN_BIN").map(col)
    def vis(ws: Boolean, ss: Boolean): Column =
      if (native) VisAvgAgg(ws, ss)(cols(0), cols(1), cols(2), cols(3), cols(4),
        cols(5), cols(6))
      else VisAggregator.visAvg(ws, ss)(cols: _*)
    val rowCols = Seq("TIME", "INTERVAL", "TIME_CENTROID", "EXPOSURE", "FROW",
      "UVW", "WEIGHT", "SIGMA").map(col)
    val row =
      if (native) RowAvgAgg(rowCols(0), rowCols(1), rowCols(2), rowCols(3),
        rowCols(4), rowCols(5), rowCols(6), rowCols(7))
      else VisAggregator.rowAvg(rowCols: _*)
    df.groupBy("g", "CHAN_BIN").agg(row.as("R"),
      vis(ws = true, ss = true).as("V_ws_ss"), vis(ws = true, ss = false).as("V_ws"),
      vis(ws = false, ss = false).as("V_w"))
  }

  private def rtFrame(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rtRows, Slices))

  /** Every collected value with floats and doubles as raw bits, so -0.0,
    * +0.0 and NaN payloads all count.
    */
  private def bitRows(df: DataFrame): Seq[Any] =
    df.collect().map(r => bits(r)).toSeq.sortBy(_.toString)

  private def assertBitEqual(s: SparkSession, what: String): Unit = {
    val refDf = averaged(rtFrame(spark), native = false)
    val natDf = averaged(rtFrame(s), native = true)
    val ref = bitRows(refDf); val got = bitRows(natDf)
    assert(ref.size == 12 && got == ref, s"$what: native diverges")
    // the -0.0 cell survived to the output (kind 5, channel 2, corr 0)
    val negZero = natDf.filter(col("g") === 5).select(col("V_ws_ss.DATA")(2)(0)("re"))
      .head().getFloat(0)
    assert(java.lang.Float.floatToRawIntBits(negZero) == 0x80000000, "expected -0.0")
  }

  test("partials spread over map partitions round-trip bit-exactly (hash path)") {
    assertBitEqual(spark, "hash aggregation")
  }

  test("partials round-trip bit-exactly through the sort-based fallback") {
    val fb = spark.newSession()
    fb.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    assertBitEqual(fb, "sort-based fallback")
    val natDf = averaged(rtFrame(fb), native = true)
    natDf.collect()
    val fellBack = collect(natDf.queryExecution.executedPlan) {
      case o: ObjectHashAggregateExec => o.metrics("numTasksFallBacked").value
    }.sum
    assert(fellBack > 0, "no aggregation task fell back to sort-based")
  }

  /** Seeded sums of an n-cell visibility state (re, im, w, sig for eff
    * then nom) and its per-cell counts, with the invariant the kernel
    * keeps: a cell without an effective sample has eff sums of exactly
    * +0.0. The eff sums include -0.0.
    */
  private def visState(seed: Int, n: Int): (Array[Array[Double]], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val cnt = Array.fill(n)(rnd.nextInt(3).toLong)
    def eff() = Array.tabulate(n)(i =>
      if (cnt(i) == 0) 0.0 else if (rnd.nextInt(4) == 0) -0.0 else rnd.nextInt(512) / 8.0)
    def nom() = Array.fill(n)(rnd.nextInt(512) / 8.0 - 32.0)
    (Array(eff(), eff(), eff(), eff(), nom(), nom(), nom(), nom()), cnt)
  }

  private def visBufN(seed: Int, n: Int, sig: Boolean): VisBufN = {
    val (d, cnt) = visState(seed, n)
    new VisBufN(n / 2, 2, d(0), d(1), d(2), d(4), d(5), d(6),
      if (sig) d(3) else null, if (sig) d(7) else null, cnt)
  }

  private def visBufRef(seed: Int, n: Int, sig: Boolean): VisAggregator.VisBuf = {
    val (d, cnt) = visState(seed, n)
    VisAggregator.VisBuf(n / 2, 2, d(0), d(1), d(2), d(4), d(5), d(6),
      if (sig) d(3) else Array.empty, if (sig) d(7) else Array.empty, cnt)
  }

  test("VisAvgAgg image: one population per cell, exact under merge") {
    val dummy = Literal(null)
    for (sig <- Seq(true, false); n <- Seq(2, 8, 14)) {
      val agg = VisAvgAgg(dummy, dummy, dummy, dummy, dummy, dummy, dummy,
        useWeightSpectrum = true, emitSigmaSpectrum = sig)
      val ref = new VisAggregator.VisAvg(useWeightSpectrum = true, emitSigmaSpectrum = sig)
      def rt(b: VisBufN) = agg.deserialize(agg.serialize(b))
      assert(agg.serialize(visBufN(1, n, sig)).length ==
        9 + (n + 7) / 8 + (if (sig) 32 else 24) * n)
      for (seed <- 0 until 40) {
        val seeds = Seq(seed, seed + 1000, seed + 2000)
        val expect = bits(ref.finish(seeds.map(visBufRef(_, n, sig)).reduce(ref.merge)))
        val viaImage = seeds.map(x => rt(visBufN(x, n, sig))).reduce(agg.merge)
        assert(evalBits(agg.eval(viaImage), VisAvgAgg.outType) == expect,
          s"seed $seed (n=$n, sig=$sig)")
        // a merged partial serialized again (the sort-based fallback's path)
        val twice = rt(agg.merge(rt(visBufN(seeds(0), n, sig)),
          rt(visBufN(seeds(1), n, sig))))
        assert(evalBits(agg.eval(agg.merge(twice, rt(visBufN(seeds(2), n, sig)))),
          VisAvgAgg.outType) == expect, s"seed $seed (n=$n, sig=$sig, re-serialized)")
      }
    }
  }

  /** Seeded row-level sums (nc = 3 correlations), same +0.0 invariant;
    * fields in RowBufN constructor order.
    */
  private def rowState(seed: Int): (Long, Long, Seq[Double], Seq[Array[Double]]) = {
    val rnd = new scala.util.Random(seed)
    val nNom = 1L + rnd.nextInt(3)
    val nEff = rnd.nextInt(nNom.toInt + 1).toLong
    def d() = rnd.nextInt(512) / 8.0 - 32.0
    def e() = if (nEff == 0) 0.0 else if (rnd.nextInt(4) == 0) -0.0 else d()
    (nNom, nEff, Seq(d(), d(), e(), d(), e(), d(), e(), d()),
      Seq(Array.fill(3)(e()), Array.fill(3)(d()), Array.fill(3)(e()),
        Array.fill(3)(d()), Array.fill(3)(e()), Array.fill(3)(d())))
  }

  test("RowAvgAgg image: one population, exact under merge") {
    val dummy = Literal(null)
    val agg = RowAvgAgg(dummy, dummy, dummy, dummy, dummy, dummy, dummy, dummy)
    val ref = new VisAggregator.RowAvg
    def native(seed: Int) = {
      val (nn, ne, x, a) = rowState(seed)
      new RowBufN(nn, ne, x(0), x(1), x(2), x(3), x(4), x(5), x(6), x(7),
        a(0), a(1), a(2), a(3), a(4), a(5))
    }
    def typed(seed: Int) = {
      val (nn, ne, x, a) = rowState(seed)
      VisAggregator.RowBuf(nn, ne, x(0), x(1), x(2), x(3), x(4), x(5), x(6), x(7),
        a(0), a(1), a(2), a(3), a(4), a(5))
    }
    def rt(b: RowBufN) = agg.deserialize(agg.serialize(b))
    assert(agg.serialize(native(1)).length == 4 + 16 + 16 + (6 + 2 * 3) * 8)
    for (seed <- 0 until 200) {
      val seeds = Seq(seed, seed + 1000, seed + 2000)
      val viaImage = seeds.map(x => rt(native(x))).reduce(agg.merge)
      assert(evalBits(agg.eval(viaImage), RowAvgAgg.outType) ==
        bits(ref.finish(seeds.map(typed).reduce(ref.merge))), s"seed $seed")
    }
  }

}

object VisAvgAggSpec {
  val Slices = 3

  case class RtRow(
      g: Int, CHAN_BIN: Int, FROW: Boolean, DATA: Seq[Seq[VisAggregator.Cpx]],
      FLAG: Seq[Seq[Boolean]], WEIGHT_SPECTRUM: Seq[Seq[Double]],
      SIGMA_SPECTRUM: Seq[Seq[Double]], WEIGHT: Seq[Double],
      TIME: Double, INTERVAL: Double, TIME_CENTROID: Double, EXPOSURE: Double,
      UVW: Seq[Double], SIGMA: Seq[Double])

  /** A value with every float and double replaced by its raw bits. */
  def bits(v: Any): Any = v match {
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case r: Row => r.toSeq.map(bits)
    case xs: scala.collection.Seq[_] => xs.map(bits).toSeq
    case p: Product => p.productIterator.map(bits).toSeq // Cpx, VisMatOut, RowOut
    case x => x
  }

  /** An eval result (catalyst form) of `schema`, as raw bits. */
  def evalBits(row: Any, schema: org.apache.spark.sql.types.StructType): Any =
    bits(CatalystTypeConverters.convertToScala(row, schema))
}
