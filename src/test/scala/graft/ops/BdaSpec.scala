package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** BDA sizing-model laws: sinc inversion, baseline monotonicity
  * (longer baseline ⇒ bins no larger), divisor discipline.
  */
class BdaSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private def sinc(x: Double) = if (x == 0) 1.0 else math.sin(x) / x

  test("sincInv inverts sinc to double precision") {
    Seq(0.5, 0.9, 0.99, 0.995, 0.999).foreach { d =>
      assert(math.abs(sinc(Bda.sincInv(d)) - d) < 1e-12)
    }
  }

  test("sincInv is monotone: tighter decorrelation => smaller threshold") {
    assert(Bda.sincInv(0.999) < Bda.sincInv(0.99))
    assert(Bda.sincInv(0.99) < Bda.sincInv(0.9))
  }

  /** One 16-channel SPW (CHAN_WIDTH 1e8, max CHAN_FREQ 1.5e9) behind
    * DATA_DESC_ID 0.
    */
  private lazy val spw16 = Seq((0, 16, (0 until 16).map(i => 1.5e9 - 1.0e8 * (15 - i)),
      Seq.fill(16)(1.0e8)))
    .toDF("SPECTRAL_WINDOW_ID", "NUM_CHAN", "CHAN_FREQ", "CHAN_WIDTH")
  private lazy val ddid0 = Seq((0, 0, 0))
    .toDF("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID")

  /** The sizing of `sel`'s rows through the plan pass, Bda.run's path. */
  private def sized(sel: DataFrame, args: Bda.Args, spw: DataFrame = spw16,
                    ddid: DataFrame = ddid0): DataFrame =
    Bda.sizing(Chunking.planStats(sel), spw, ddid, args)

  /** Rows at four times of baselines (a1, a2) with the given |uv|. */
  private def rowsOf(baselines: Seq[(Int, Int, Double)]) = {
    val rows = for {
      (a1, a2, bl) <- baselines
      t <- 0 until 4
    } yield (1000.0 + t * 10.0, 10.0, 1000.0 + t * 10.0, 10.0,
      a1, a2, 0, 0, 0, Seq(bl, 0.0, 0.0), false)
    rows.toDF("TIME", "INTERVAL", "TIME_CENTROID", "EXPOSURE",
      "ANTENNA1", "ANTENNA2", "FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER",
      "UVW", "FROW")
  }

  /** A frame with two baselines of controlled |uv|. */
  private def frame(blShort: Double, blLong: Double) =
    rowsOf(Seq((0, 1, blShort), (0, 2, blLong)))

  test("longer baseline gets a time bin no larger and a channel bin no larger") {
    val args = Bda.Args(decorrelation = 0.99, maxFovDeg = 1.0,
      timeBinCapSecs = 1e6, minNchan = 1)
    val bins = sized(frame(50.0, 5000.0), args)
      .select("ANTENNA2", "TIME_BIN_SECS", "CHAN_BIN")
      .distinct().orderBy("ANTENNA2").collect()
    val (tbShort, cbShort) = (bins(0).getDouble(1), bins(0).getInt(2))
    val (tbLong, cbLong) = (bins(1).getDouble(1), bins(1).getInt(2))
    assert(tbLong <= tbShort)
    assert(cbLong <= cbShort)
    assert(16 % cbShort == 0 && 16 % cbLong == 0) // divisor discipline
  }

  test("time bin respects the floor (min INTERVAL) and the user cap") {
    val capped = sized(frame(1.0, 2.0),
      Bda.Args(maxFovDeg = 1.0, timeBinCapSecs = 25.0))
      .select("TIME_BIN_SECS").distinct().as[Double].collect()
    assert(capped.forall(_ == 25.0)) // tiny baselines hit the cap
    val floored = sized(frame(1e7, 2e7),
      Bda.Args(maxFovDeg = 60.0, timeBinCapSecs = 1e6))
      .select("TIME_BIN_SECS").distinct().as[Double].collect()
    assert(floored.forall(_ == 10.0)) // huge baselines floor at INTERVAL
  }

  test("minNchan floors the output channelisation") {
    val bins = sized(frame(50.0, 60.0),
      Bda.Args(maxFovDeg = 1e-6, minNchan = 4)) // decorr allows full collapse
      .select("CHAN_BIN").distinct().as[Int].collect()
    assert(bins.forall(_ == 4)) // 16 / 4 = minNchan
  }

  private val keys = TimeAvg.GroupCols ++ Seq("ANTENNA1", "ANTENNA2")

  /** The fact-table formulation the plan pass replaced: one aggregate
    * per (group, baseline) over the selection joined with the SPW
    * metadata, then the same bin arithmetic.
    */
  private def factSizing(main: DataFrame, spw: DataFrame, ddid: DataFrame,
                         a: Bda.Args): DataFrame = {
    val bl = sqrt(col("UVW")(0) * col("UVW")(0) + col("UVW")(1) * col("UVW")(1) +
      col("UVW")(2) * col("UVW")(2))
    val meta = ddid.select("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID")
      .join(Timechannel.selectSpwChannels(spw, a.channels).select(
        col("SPECTRAL_WINDOW_ID"), col("NUM_CHAN"),
        element_at(col("CHAN_WIDTH"), 1).as("CHAN_WIDTH_0"),
        array_max(col("CHAN_FREQ")).as("FREQ_MAX")), "SPECTRAL_WINDOW_ID")
    Bda.binParams(Flags.select(main, a).join(broadcast(meta), "DATA_DESC_ID")
      .groupBy(keys.map(col): _*)
      .agg(max(bl).as("BL_MAX"), min(col("INTERVAL")).as("DT_MIN") +:
        meta.columns.toSeq.filter(_ != "DATA_DESC_ID").map(c => first(col(c)).as(c)): _*), a)
  }

  /** A sizing's rows, every double as its raw bits, in key order. */
  private def bits(bp: DataFrame): Seq[Seq[Any]] =
    bp.select((keys ++ Seq("SPECTRAL_WINDOW_ID", "POLARIZATION_ID", "NUM_CHAN",
        "CHAN_WIDTH_0", "FREQ_MAX", "BL_MAX", "DT_MIN", "TIME_BIN_SECS", "CHAN_BIN"))
        .map(col): _*)
      .collect().toSeq
      .map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      })
      .sortBy(_.take(keys.length).mkString(","))

  test("the plan-pass sizing equals the fact-table aggregate bit for bit") {
    import graft.queries.BdaQueries.{autocorrArgs, raggedArgs, sizingArgs}
    val main = graft.ms.MsTables.main(spark)
    val spw = graft.ms.MsTables.spw(spark)
    val ddid = graft.ms.MsTables.ddid(spark)
    val fixture = Bda.Args(dataCols = Seq("DATA" -> "DATA"))
    val cases = Seq(
      "fixture" -> (main, fixture),
      "fixture, 3 splits" -> (main.repartition(3), fixture),
      "sizingArgs" -> (main, sizingArgs),
      "raggedArgs" -> (main, raggedArgs),
      "autocorrArgs" -> (main, autocorrArgs),
      "P8 channels" -> (main, sizingArgs.copy(channels = 2 until 14)))
    for ((name, (m, a)) <- cases) {
      val want = bits(factSizing(main, spw, ddid, a))
      assert(want.nonEmpty, name)
      assert(bits(sized(Flags.select(m, a), a, spw, ddid)) == want, name)
    }
  }

  test("BDA without WEIGHT_SPECTRUM weights by broadcast WEIGHT exactly") {
    import org.apache.spark.sql.functions._
    val main = graft.ms.MsTables.main(spark)
    val spw = graft.ms.MsTables.spw(spark)
    val ddid = graft.ms.MsTables.ddid(spark)
    val a = Bda.Args(dataCols = Seq("DATA" -> "DATA"))
    val noWs = Bda.averagedMain(
      main.drop("WEIGHT_SPECTRUM", "SIGMA_SPECTRUM"), spw, ddid, a)
    assert(!noWs.columns.contains("WEIGHT_SPECTRUM") &&
      !noWs.columns.contains("SIGMA_SPECTRUM"))
    val bcast = Bda.averagedMain(
      main.drop("SIGMA_SPECTRUM").withColumn("WEIGHT_SPECTRUM",
        transform(col("DATA"), _ => col("WEIGHT"))), spw, ddid, a)
    val key = Seq("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER",
      "ANTENNA1", "ANTENNA2", "TIME")
    val j = noWs.as("x").join(
      bcast.select((key.map(col) :+ col("DATA").as("DATA_B")): _*).as("y"), key)
    assert(j.count() == noWs.count())
    assert(j.filter(col("DATA") =!= col("DATA_B")).count() == 0)
  }

  test("|uv| = 0 baselines size finitely: cap'd time bin, floor'd channelisation") {
    // an autocorrelation baseline (ANTENNA1 == ANTENNA2, UVW = 0) must
    // not divide by BL_MAX = 0 — time bin degenerates to the user cap,
    // channel factor to the min_nchan floor
    val bins = sized(rowsOf(Seq((3, 3, 0.0))),
      Bda.Args(maxFovDeg = 1.0, timeBinCapSecs = 25.0, minNchan = 4,
        includeAutoCorrs = true))
      .select("TIME_BIN_SECS", "CHAN_BIN").distinct().collect()
    assert(bins.length == 1)
    assert(bins(0).getDouble(0) == 25.0) // finite: the cap, not Inf/NaN
    assert(bins(0).getInt(1) == 4)       // full collapse down to minNchan
  }

  test("--include-auto-correlations keeps autocorr baselines end-to-end") {
    val main = graft.ms.MsTables.main(spark)
    val spw = graft.ms.MsTables.spw(spark)
    val ddid = graft.ms.MsTables.ddid(spark)
    val on = Bda.Args(dataCols = Seq("DATA" -> "DATA"),
      timeBinCapSecs = 90000.0, includeAutoCorrs = true)
    val isAuto = col("ANTENNA1") === col("ANTENNA2")
    // default (flag off): autocorrs filtered, reference TAQL parity
    val off = on.copy(includeAutoCorrs = false)
    assert(sized(Flags.select(main, off), off, spw, ddid).filter(isAuto).count() == 0)
    // flag on: sizing is finite for every baseline and the averaged
    // OUTPUT still carries the autocorr population
    val bins = sized(Flags.select(main, on), on, spw, ddid)
    assert(bins.filter(isAuto).count() > 0)
    assert(bins.filter(col("TIME_BIN_SECS").isNull ||
      isnan(col("TIME_BIN_SECS")) ||
      col("TIME_BIN_SECS") > 90000.0).count() == 0)
    assert(Bda.averagedMain(main, spw, ddid, on).filter(isAuto).count() > 0)
  }

  test("running bins equal grid bins on regularly sampled data (full pipeline)") {
    // regular sampling: t - t0 == accumulated-INTERVAL-before-row per
    // baseline, so the two walks must agree bin-for-bin and the whole
    // averaged output must match bit-for-bit
    val main = graft.ms.MsTables.main(spark)
    val spw = graft.ms.MsTables.spw(spark)
    val ddid = graft.ms.MsTables.ddid(spark)
    def run(running: Boolean) = Bda.averagedMain(main, spw, ddid,
      Bda.Args(dataCols = Seq("DATA" -> "DATA"), runningBins = running))
    val grid = run(running = false)
    val runn = run(running = true)
    assert(grid.count() == runn.count())
    assert(runn.join(grid, runn.columns.toSeq).count() == grid.count(),
      "running-bin BDA diverges from grid binning on regular sampling")
  }

  /** Equal up to 1e-9 relative on floating values, exact elsewhere. */
  private def close(x: Any, y: Any): Boolean = (x, y) match {
    case (p: Double, q: Double) => java.lang.Double.compare(p, q) == 0 ||
      math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
    case (p: Float, q: Float) => close(p.toDouble, q.toDouble)
    case (p: Row, q: Row) =>
      p.length == q.length && (0 until p.length).forall(i => close(p.get(i), q.get(i)))
    case (p: scala.collection.Seq[_], q: scala.collection.Seq[_]) =>
      p.length == q.length && p.zip(q).forall { case (u, v) => close(u, v) }
    case _ => x == y
  }

  test("BDA with constant bins degenerates to timechannel") {
    // a vanishing field of view lifts both decorrelation limits: every
    // baseline's time bin is the cap t (>= every INTERVAL, the floor) and
    // its channel bin the largest divisor minNchan = NUM_CHAN / c allows,
    // which is c. One DDID per run: minNchan is one number per run.
    val main = graft.ms.MsTables.main(spark)
    val spw = graft.ms.MsTables.spw(spark)
    val ddid = graft.ms.MsTables.ddid(spark)
    val (t, c) = (60000.0, 4)
    assert(main.agg(max("INTERVAL")).head().getDouble(0) <= t)
    val key = Seq("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1",
      "ANTENNA2", "TIME")
    for ((dd, nchan, _) <- graft.ms.SyntheticMs.ddidShape) {
      val m = main.filter(col("DATA_DESC_ID") === dd)
      val a = Bda.Args(maxFovDeg = 1e-9, timeBinCapSecs = t,
        minNchan = nchan / c, dataCols = Seq("DATA" -> "DATA"))
      assert(sized(Flags.select(m, a), a, spw, ddid).select("TIME_BIN_SECS", "CHAN_BIN")
        .distinct().collect().map(r => (r.getDouble(0), r.getInt(1))).toSeq ==
        Seq((t, c)))
      val tc = Timechannel.averagedMain(m, Timechannel.Args(timeBinSecs = t,
        chanBinSize = c, dataCols = Seq("DATA" -> "DATA")))
      val bda = Bda.averagedMain(m, spw, ddid, a)
      assert(tc.columns.forall(bda.columns.contains))
      def rows(df: DataFrame) = df.select(tc.columns.toSeq.map(col): _*)
        .orderBy(key.map(col): _*).collect()
      val (x, y) = (rows(tc), rows(bda))
      assert(x.nonEmpty && x.length == y.length && x.length < m.count())
      x.zip(y).foreach { case (u, v) => assert(close(u, v), s"$u\n!=\n$v") }
    }
  }

  test("regenerate emits uniform linspace grids over the original span") {
    val spw = Seq((0, 16,
      (0 until 16).map(i => 1.0e9 + 1.0e8 * (i + 0.5)),
      Seq.fill(16)(1.0e8), 1.8e9, 1.6e9, 5))
      .toDF("SPECTRAL_WINDOW_ID", "NUM_CHAN", "CHAN_FREQ", "CHAN_WIDTH",
        "REF_FREQUENCY", "TOTAL_BANDWIDTH", "MEAS_FREQ_REF")
      .withColumn("EFFECTIVE_BW", col("CHAN_WIDTH"))
      .withColumn("RESOLUTION", col("CHAN_WIDTH"))
    val (newSpw, newDdid, remap) =
      Bda.regenerate(spark, Seq((0, 0, 0, 4), (1, 0, 1, 8)), spw)
    val rows = newSpw.orderBy("SPECTRAL_WINDOW_ID").collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getAs[Int]("NUM_CHAN") == 4)
    // span [1e9, 2.6e9), cw = 4e8, centres at 1.2e9, 1.6e9, 2.0e9, 2.4e9
    assert(r0.getSeq[Double](r0.fieldIndex("CHAN_FREQ")) ==
      Seq(1.2e9, 1.6e9, 2.0e9, 2.4e9))
    assert(r0.getSeq[Double](r0.fieldIndex("CHAN_WIDTH")) == Seq.fill(4)(4.0e8))
    assert(newDdid.count() == 2)
    assert(remap.orderBy("NEW_DDID").collect().map(_.getInt(2)).toSeq == Seq(0, 1))
  }
}
