package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ms.MsWriter

/** Baseline-Dependent Averaging (SURVEY §2.3 A4–A6, §2.4 J2, §3 E2):
  * each baseline gets its own time/channel bin sizes, chosen so
  * predicted smearing decorrelation stays above a tolerance; output rows
  * are RAGGED (per-row channel counts), and the SPECTRAL_WINDOW /
  * DATA_DESCRIPTION subtables are regenerated for every distinct
  * channelisation, with output DATA_DESC_IDs remapped.
  *
  * Reference lifecycle: /root/reference/xova/apps/xova/averaging.py
  * 270-354 (main), 409-433 (channelisations), 436-542 (SPW/DDID
  * factory), 550-722 (spw pass + J2 remap). The reference's numeric
  * kernel lives in an external dependency; the decorrelation model here
  * is our own explicit, tested choice (SURVEY §7.3 risk 2), built from
  * the standard sinc-smearing expressions (Atemkeng et al. 2016, MNRAS
  * 462; Thompson/Moran/Swenson ch. 6):
  *
  *   - time smearing  R_t = sinc(pi * omega_e * |uv| * sin(fov) * dt / lambda)
  *   - chan smearing  R_f = sinc(pi * dnu * |uv| * sin(fov) / c)
  *
  * The decorrelation budget d splits evenly: each factor must stay
  * >= sqrt(d). Inverting sinc once on the driver gives a threshold x*;
  * per-baseline limits are then PURE COLUMN ARITHMETIC:
  *
  *   dt_max  = x* * lambda / (pi * omega_e * bl * sin(fov))
  *   dnu_max = x* * c      / (pi * bl * sin(fov))
  *
  * Baseline length is the partition-max |uv| per (group, baseline) —
  * conservative, and it keeps bin sizes constant per baseline so bin
  * assignment stays a broadcast-join + projection (no window needed).
  * Channel bin = largest divisor of NUM_CHAN whose width fits dnu_max
  * (the reference's "integer factorisation of the input channel count",
  * arguments.py:142-146), floored by min_nchan.
  *
  * Scale: one wide shuffle (the groupBy), one tiny per-baseline stats
  * aggregate broadcast back, driver-side work bounded by
  * #SPWs x #channelisations.
  */
object Bda {

  val SpeedOfLight = 299792458.0
  val EarthOmega = 7.2921158553e-5 // rad/s, sidereal

  case class Args(
      decorrelation: Double = 0.99,
      maxFovDeg: Double = 15.0,
      timeBinCapSecs: Double = Double.MaxValue,
      minNchan: Int = 1,
      dataCols: Seq[(String, String)] = Seq("CORRECTED_DATA" -> "DATA"),
      fields: Seq[Int] = Nil,
      scans: Seq[Int] = Nil,
      channels: Seq[Int] = Nil, // P8: 0-based kept channel indices
      respectFlagRow: Boolean = false,
      // --include-auto-correlations is shared across both subcommands in
      // the reference (parent parser arguments.py:111-114, TAQL applied
      // at app.py:165,178); autocorr baselines have |uv| = 0, so the
      // sizing guards the BL_MAX = 0 divide (see binParams).
      includeAutoCorrs: Boolean = false,
      force: Boolean = false,
      validate: Boolean = true, // A7/W1 plan pass (reference default)
      // keep averaged UVWs (see Timechannel.Args.averageUvw)
      averageUvw: Boolean = false,
      // accumulate-until-full walk with the per-baseline bin width
      // (see Timechannel.Args.runningBins)
      runningBins: Boolean = false,
      // write-side chunk granularity (see Timechannel.Args.rowChunks)
      rowChunks: Int = 10000,
      groupRowChunks: Int = 4)

  /** Solve sinc(x) = target on (0, pi) by bisection (sinc monotonically
    * decreases from 1 to 0 there). Driver-side, once per query.
    */
  def sincInv(target: Double): Double = {
    require(target > 0 && target < 1, s"decorrelation target $target")
    def sinc(x: Double) = if (x == 0) 1.0 else math.sin(x) / x
    var lo = 1e-12; var hi = math.Pi
    var i = 0
    while (i < 200) { // bisection to double precision
      val mid = (lo + hi) / 2
      if (sinc(mid) > target) lo = mid else hi = mid
      i += 1
    }
    (lo + hi) / 2
  }

  /** Per-(group, baseline) sizing frame — one TINY row per baseline with
    * NUM_CHAN (input), TIME_BIN_SECS and CHAN_BIN. Input must carry UVW,
    * INTERVAL and the J1-joined SPW metadata (NUM_CHAN, CHAN_WIDTH_0,
    * FREQ_MAX). One column-pruned scan of the fact table.
    */
  def binParams(df: DataFrame, args: Args): DataFrame = {
    val xStar = sincInv(math.sqrt(args.decorrelation))
    val sinFov = math.sin(math.toRadians(args.maxFovDeg))
    val keys = TimeAvg.GroupCols ++ Seq("ANTENNA1", "ANTENNA2")

    val bl = sqrt(col("UVW")(0) * col("UVW")(0) + col("UVW")(1) * col("UVW")(1) +
      col("UVW")(2) * col("UVW")(2))
    // tiny frame: one row per (group, baseline). The J1-joined SPW
    // scalars are constant per group (DATA_DESC_ID is a group key), so
    // they ride along as first(...) — ONE scan of the fact table sizes
    // every baseline (a second distinct() over df would rescan it).
    df
      .groupBy(keys.map(col): _*)
      .agg(max(bl).as("BL_MAX"), min(col("INTERVAL")).as("DT_MIN"),
        first(col("FREQ_MAX")).as("FREQ_MAX"),
        first(col("CHAN_WIDTH_0")).as("CHAN_WIDTH_0"),
        first(col("NUM_CHAN")).as("NUM_CHAN"),
        // per-baseline TIME span: rides the same scan for free, feeds
        // the output-group estimate behind avgExchangeWidth
        (max(col("TIME")) - min(col("TIME"))).as("T_SPAN"))
      // Autocorrelations (|uv| = 0) don't smear: no decorrelation limit,
      // so both bounds degenerate to "unconstrained" (the time cap and
      // min_nchan floor still apply). Guarded explicitly rather than
      // relying on IEEE x/0 = Inf so the oracle SQL can mirror it.
      .withColumn("DT_RAW",
        when(col("BL_MAX") === 0, lit(Double.MaxValue)).otherwise(
          lit(xStar) * (lit(SpeedOfLight) / col("FREQ_MAX")) /
            (lit(math.Pi * EarthOmega * sinFov) * col("BL_MAX"))))
      .withColumn("TIME_BIN_SECS",
        greatest(least(col("DT_RAW"), lit(args.timeBinCapSecs)), col("DT_MIN")))
      .withColumn("DNU_MAX",
        when(col("BL_MAX") === 0, lit(Double.MaxValue)).otherwise(
          lit(xStar * SpeedOfLight / (math.Pi * sinFov)) / col("BL_MAX")))
      // largest divisor of NUM_CHAN with divisor*chan_width <= dnu_max
      // and nchan/divisor >= min_nchan (divisor 1 always allowed)
      .withColumn("CHAN_BIN",
        array_max(filter(
          sequence(lit(1), col("NUM_CHAN")),
          d => col("NUM_CHAN") % d === 0 &&
            (d === 1 ||
              (d.cast("double") * col("CHAN_WIDTH_0") <= col("DNU_MAX") &&
                col("NUM_CHAN") / d >= args.minNchan)))).cast("int"))
      .select((keys.map(col) :+ col("NUM_CHAN") :+
        col("TIME_BIN_SECS") :+ col("CHAN_BIN") :+ col("T_SPAN")): _*)
  }

  /** Join the per-baseline sizing back onto the fact table (NUM_CHAN is
    * dropped from the broadcast side — the fact frame already has it;
    * T_SPAN is sizing-internal).
    */
  def withBinParams(df: DataFrame, args: Args): DataFrame =
    joinBinParams(df, binParams(df, args))

  private def joinBinParams(df: DataFrame, bp: DataFrame): DataFrame =
    df.join(
      broadcast(bp.drop("NUM_CHAN", "T_SPAN")),
      TimeAvg.GroupCols ++ Seq("ANTENNA1", "ANTENNA2"))

  /** Estimated resident+serialized bytes per aggregation-state cell of
    * [[graft.expressions.VisAvgAgg]]: 8 double stat arrays + 1 long
    * count (72 B) plus one serialized copy alive on the merge path.
    */
  val StateBytesPerCell = 144L
  /** Per-partition aggregation-state budget for the averaging shuffle
    * (default; override with `spark.graft.avg.statePartitionBytes` —
    * on a cluster this knob tracks executor memory per task slot).
    */
  val TargetStateBytesPerPartition: Long = 64L << 20

  /** Derived exchange width for the averaging shuffle (the 100× scale
    * boundary, DESIGN.md "100× point"): per-partition
    * ObjectHashAggregate state must stay bounded as data grows, so the
    * partition count is COMPUTED from the tiny per-baseline sizing
    * frame — estimated state = Σ_baselines (span/bin + 1) ×
    * (nchan/chan_bin) × ncorr × [[StateBytesPerCell]] per data column —
    * instead of inherited from the session pin (which sizes partitions
    * to cores, correct at bench SF and wrong at 100×). Returns None
    * when the session default already bounds state: the bench-scale
    * plan (and its map-side partial aggregation) stays untouched, and
    * the repartition only appears at scales where per-group state
    * dominates and map-side combine is ~1 row/group anyway.
    */
  def avgExchangeWidth(bp: DataFrame, ncorr: Int, nDataCols: Int,
                       sessionParts: Int): Option[Int] = {
    val estRow = bp.agg(sum(
      (floor(col("T_SPAN") / col("TIME_BIN_SECS")) + 1) *
        (col("NUM_CHAN") / col("CHAN_BIN")).cast("long") *
        lit(ncorr.toLong * nDataCols * StateBytesPerCell)).as("est")).head()
    if (estRow.isNullAt(0)) return None
    widthFromEstimate(bp.sparkSession, "bda",
      estRow.getAs[Number](0).longValue(), sessionParts)
  }

  /** The shared decision rule behind [[avgExchangeWidth]] — also used
    * by the uniform (timechannel) kernel, whose estimate is a simpler
    * rows × cells upper bound.
    */
  def widthFromEstimate(s: SparkSession, tag: String, est: Long,
                        sessionParts: Int): Option[Int] = {
    val target = s.conf
      .getOption("spark.graft.avg.statePartitionBytes")
      .map(_.toLong).getOrElse(TargetStateBytesPerPartition)
    val derived = math.ceil(est.toDouble / target).toInt
    val chosen = if (derived > sessionParts) Some(derived) else None
    println(s"[xova] $tag averaging-exchange sizing: est_state=${est >> 20} MB " +
      s"target/part=${target >> 20} MB derived=$derived " +
      s"session=$sessionParts -> ${chosen.getOrElse(s"session ($sessionParts)")}")
    chosen
  }

  /** J1 + selection/flag prep: join SPW channel metadata onto the main
    * table (averaging.py:306-308) and derive FROW.
    */
  def prepared(main: DataFrame, spw: DataFrame, ddid: DataFrame, args: Args): DataFrame = {
    var df = if (args.includeAutoCorrs) main else Flags.filterAutocorr(main)
    df = Flags.selectFields(df, args.fields)
    df = Flags.selectScans(df, args.scans)
    // P8 before FROW, on main AND the SPW metadata the sizing consumes
    df = Flags.selectChannels(df, args.channels,
      (args.dataCols.map(_._1) ++
        Seq("FLAG", "WEIGHT_SPECTRUM", "SIGMA_SPECTRUM"))
        .distinct.filter(df.columns.contains))
    df = if (args.respectFlagRow) df.withColumn("FROW", col("FLAG_ROW"))
         else df.withColumn("FROW", Flags.derivedFlagRow)
    val spwSel = Timechannel.selectSpwChannels(spw, args.channels)
    val spwMeta = ddid.select("DATA_DESC_ID", "SPECTRAL_WINDOW_ID")
      .join(spwSel.select(col("SPECTRAL_WINDOW_ID"), col("NUM_CHAN"),
        col("TOTAL_BANDWIDTH"),
        element_at(col("CHAN_WIDTH"), 1).as("CHAN_WIDTH_0"),
        array_max(col("CHAN_FREQ")).as("FREQ_MAX")), "SPECTRAL_WINDOW_ID")
    df.join(broadcast(spwMeta), "DATA_DESC_ID")
  }

  /** A4: the ragged averaged main table (pre-remap: still carries the
    * input DATA_DESC_ID plus transient NUM_CHAN_OUT / DECORR_CHAN_WIDTH,
    * averaging.py:159-164).
    */
  def averagedMain(main: DataFrame, spw: DataFrame, ddid: DataFrame, args: Args): DataFrame = {
    val prep0 = prepared(main, spw, ddid, args)
    // The sizing frame is consumed TWICE — eagerly by avgExchangeWidth
    // (a .head() over its aggregate) and again as the broadcast side of
    // joinBinParams — so materialize it once (tiny: one row per
    // (group, baseline)); without this the full fact-table sizing
    // groupBy executes twice per run, an unconditional extra
    // corpus-scale job at any SF.
    val bp = graft.pipeline.Caches.materialize(binParams(prep0, args))
    val prep = joinBinParams(prep0, bp)
    // grid binning anchored at the group t0, per-baseline bin width.
    // t0 is computed from the PRE-sizing frame: anchoring it on `prep`
    // would nest a second copy of the withBinParams subtree (and its
    // fact-table scan) inside the tiny t0 aggregate (plan-audited:
    // graft.PlanAudit showed 4 main-table scans originally; with bp
    // checkpointed the final plan carries 2 — full pass + t0, the
    // designed shape, PlanShapeSpec-locked).
    val t0 = prep0.groupBy(TimeAvg.GroupCols.map(col): _*).agg(min("TIME").as("_T0"))
    val binned =
      if (args.runningBins)
        TimeAvg.assignRunning(prep, col("TIME_BIN_SECS"))
      else prep.join(broadcast(t0), TimeAvg.GroupCols)
        .withColumn("BIN",
          floor((col("TIME") - col("_T0")) / col("TIME_BIN_SECS")).cast("int"))

    // Optional spectrum columns — same handling as Timechannel.
    val hasWs = binned.columns.contains("WEIGHT_SPECTRUM")
    val hasSs = binned.columns.contains("SIGMA_SPECTRUM")
    val absent = lit(null).cast("array<array<double>>")

    val rowAgg = graft.expressions.RowAvgAgg(
      col("TIME"), col("INTERVAL"), col("TIME_CENTROID"), col("EXPOSURE"),
      col("FROW"), col("UVW"), col("WEIGHT"), col("SIGMA")).as("R")
    // native TypedImperativeAggregate kernel (see Timechannel)
    val visAggs = args.dataCols.map { case (from, to) =>
      graft.expressions.VisAvgAgg(hasWs, hasSs)(
        col("FROW"), col(from), col("FLAG"),
        if (hasWs) col("WEIGHT_SPECTRUM") else absent,
        if (hasSs) col("SIGMA_SPECTRUM") else absent,
        col("WEIGHT"), col("CHAN_BIN")).as(s"_V_$to")
    }
    val firstTo = args.dataCols.head._2

    // Averaging-exchange width derived from the sizing frame (see
    // avgExchangeWidth): when the estimated aggregation state outgrows
    // the session's shuffle-partition pin, pre-hash-partition on the
    // FULL bin key at the derived width — the aggregate's distribution
    // requirement is then already satisfied, so this IS the averaging
    // shuffle (one exchange either way), just wide enough that
    // per-partition state stays under the budget. ncorr read from one
    // WEIGHT row (tiny column-pruned job).
    val sessionParts =
      main.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ncorr = main.select(size(col("WEIGHT")).as("n")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(4)
    val width = avgExchangeWidth(bp, ncorr, args.dataCols.size, sessionParts)
    val toAgg =
      width.fold(binned)(n => binned.repartition(n, TimeAvg.BinKey.map(col): _*))

    val agged = toAgg
      .groupBy(TimeAvg.BinKey.map(col): _*)
      .agg(rowAgg, (visAggs :+
        first(col("TOTAL_BANDWIDTH")).as("_TBW")): _*)

    val out = agged.select(
      Seq(
        col("FIELD_ID"), col("DATA_DESC_ID"), col("SCAN_NUMBER"),
        col("ANTENNA1"), col("ANTENNA2"),
        col("R.TIME").as("TIME"), col("R.INTERVAL").as("INTERVAL"),
        col("R.TIME_CENTROID").as("TIME_CENTROID"),
        col("R.EXPOSURE").as("EXPOSURE"),
        col("R.FLAG_ROW").as("FLAG_ROW"),
        col("R.UVW").as("UVW"), col("R.WEIGHT").as("WEIGHT"),
        col("R.SIGMA").as("SIGMA"),
        lit(0).as("ARRAY_ID"), lit(0).as("OBSERVATION_ID"),
        lit(0).as("PROCESSOR_ID"), lit(0).as("STATE_ID"),
        col(s"_V_$firstTo.FLAG").as("FLAG"),
        // W3: per-row output channel count is just the array length
        size(col(s"_V_$firstTo.DATA")).as("NUM_CHAN"),
        (col("_TBW") / size(col(s"_V_$firstTo.DATA"))).as("DECORR_CHAN_WIDTH")) ++
      (if (hasWs) Seq(col(s"_V_$firstTo.WEIGHT_SPECTRUM").as("WEIGHT_SPECTRUM")) else Nil) ++
      (if (hasSs) Seq(col(s"_V_$firstTo.SIGMA_SPECTRUM").as("SIGMA_SPECTRUM")) else Nil) ++
      args.dataCols.map { case (_, to) => col(s"_V_$to.DATA").as(to) }: _*)
    Flags.flagCategory(out)
  }

  /** A5 from the sizing frame alone. CHAN_BIN is by construction a
    * divisor of NUM_CHAN, so every output row of a baseline carries
    * exactly NUM_CHAN / CHAN_BIN channels — the distinct channelisation
    * set is fully determined by the per-baseline sizing frame. This
    * avoids materialising the averaged DATA/WEIGHT_SPECTRUM/
    * SIGMA_SPECTRUM arrays just to read their lengths: one column-pruned
    * fact scan + a tiny distinct instead of the full averaging shuffle.
    */
  def channelisationsSized(main: DataFrame, spw: DataFrame, ddid: DataFrame,
                           args: Args): DataFrame =
    binParams(prepared(main, spw, ddid, args), args)
      .select(col("DATA_DESC_ID"),
        (col("NUM_CHAN") / col("CHAN_BIN")).cast("int").as("NUM_CHAN"))
      .distinct()
      .join(broadcast(ddid), "DATA_DESC_ID")
      .select("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID", "NUM_CHAN")

  /** A6 + F3: regenerate SPW + DDID rows for each distinct
    * (spw, nchan_out) and build the {(old_ddid, nchan) -> new_ddid} map
    * (averaging.py:436-542). Driver-side: cardinality = #SPWs x
    * #channelisations.
    *
    * New channel grid (F3, averaging.py:504-523): uniform
    * cw = total_bw / nchan, freqs = linspace(start + cw/2, end - cw/2, n)
    * where [start, end) spans the original SPW.
    */
  def regenerate(spark: SparkSession, chanls: Seq[(Int, Int, Int, Int)],
                 spw: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val spwRows = spw.select("SPECTRAL_WINDOW_ID", "NUM_CHAN", "CHAN_FREQ",
        "CHAN_WIDTH", "REF_FREQUENCY", "TOTAL_BANDWIDTH", "MEAS_FREQ_REF")
      .collect()
      .map { r =>
        val freqs = r.getSeq[Double](2)
        val widths = r.getSeq[Double](3)
        require(freqs == freqs.sorted, "CHAN_FREQ must increase")
        require(widths.distinct.length == 1, "CHAN_WIDTH must be homogeneous")
        r.getInt(0) -> (freqs.head - widths.head / 2, r.getDouble(5),
          r.getDouble(4), r.getInt(6))
      }.toMap

    val sorted = chanls.sortBy(c => (c._1, c._4))
    val newSpw = sorted.zipWithIndex.map {
      case ((_, spwId, _, nchan), newId) =>
        val (start, tbw, refFreq, measRef) = spwRows(spwId)
        val cw = tbw / nchan
        val freqs = (0 until nchan).map(i => start + cw * (i + 0.5))
        (newId, nchan, freqs, Seq.fill(nchan)(cw), Seq.fill(nchan)(cw),
          Seq.fill(nchan)(cw), refFreq, tbw, measRef)
    }.toDF("SPECTRAL_WINDOW_ID", "NUM_CHAN", "CHAN_FREQ", "CHAN_WIDTH",
      "EFFECTIVE_BW", "RESOLUTION", "REF_FREQUENCY", "TOTAL_BANDWIDTH",
      "MEAS_FREQ_REF")
    val newDdid = sorted.zipWithIndex.map {
      case ((_, _, polId, _), newId) => (newId, newId, polId)
    }.toDF("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID")
    val remap = sorted.zipWithIndex.map {
      case ((oldDdid, _, _, nchan), newId) => (oldDdid, nchan, newId)
    }.toDF("DATA_DESC_ID", "NUM_CHAN", "NEW_DDID")
    (newSpw, newDdid, remap)
  }

  /** J2: remap (old DATA_DESC_ID, NUM_CHAN) -> new DATA_DESC_ID on every
    * output row and drop the transient columns (averaging.py:545-547,
    * 693-705).
    */
  def remap(out: DataFrame, remapDf: DataFrame): DataFrame =
    out.join(broadcast(remapDf), Seq("DATA_DESC_ID", "NUM_CHAN"))
      .drop("DATA_DESC_ID", "NUM_CHAN", "DECORR_CHAN_WIDTH")
      .withColumnRenamed("NEW_DDID", "DATA_DESC_ID")

  /** The output main table exactly as [[run]] writes it: averaged,
    * DATA_DESC_IDs remapped (J2), UVW per [[Uvw.fixvis]], laid out.
    */
  def outputMain(main: DataFrame, spw: DataFrame, ddid: DataFrame,
                 inRoot: String, args: Args, remapDf: DataFrame): DataFrame =
    Timechannel.layout(Uvw.fixvis(
      remap(averagedMain(main, spw, ddid, args), remapDf), inRoot,
      args.averageUvw))

  /** Full E2 lifecycle: returns the list of tables written. */
  def run(spark: SparkSession, inRoot: String, outRoot: String, args: Args): Seq[String] = {
    MsWriter.guard(outRoot, args.force)
    val main = spark.read.parquet(s"$inRoot/main")
    val spw = spark.read.parquet(s"$inRoot/SPECTRAL_WINDOW")
    val ddid = spark.read.parquet(s"$inRoot/DATA_DESCRIPTION")
    // E2 step 2 (app.py:74-75): eager plan-stats + monotonicity gate
    if (args.validate) {
      var sel = main
      if (!args.includeAutoCorrs) sel = Flags.filterAutocorr(sel)
      Chunking.validate(
        Flags.selectScans(Flags.selectFields(sel, args.fields), args.scans),
        "bda")
    }

    // A5 from the sizing frame (channelisationsSized): the distinct
    // channelisation set is determined by the tiny per-baseline sizing
    // frame, so the expensive averaging shuffle runs exactly ONCE — at
    // write time — and nothing forces the full averaged table into the
    // storage layer (the old path persisted `avg` across two actions,
    // which at 100 TB means caching the whole output MS).
    val chanls = channelisationsSized(main, spw, ddid, args).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    // regenerate from the channel-selected SPW so the new grids span
    // exactly the channels that were averaged
    val (newSpw, newDdid, remapDf) = regenerate(spark, chanls,
      Timechannel.selectSpwChannels(spw, args.channels))
    MsWriter.writeMs(spark, inRoot, outRoot, args.force,
      outputMain(main, spw, ddid, inRoot, args, remapDf), TimeAvg.GroupCols,
      args.rowChunks.toLong * args.groupRowChunks,
      Seq("SPECTRAL_WINDOW" -> newSpw, "DATA_DESCRIPTION" -> newDdid))
  }
}
