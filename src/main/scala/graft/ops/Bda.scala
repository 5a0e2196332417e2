package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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
  * Baseline length is the max |uv| per (group, baseline) —
  * conservative, and it keeps bin sizes constant per baseline so bin
  * assignment stays a broadcast-join + projection (no window needed).
  * Channel bin = largest divisor of NUM_CHAN whose width fits dnu_max
  * (the reference's "integer factorisation of the input channel count",
  * arguments.py:142-146), floored by min_nchan.
  *
  * Selection, binning and averaging are Timechannel's ([[Flags.select]],
  * [[TimeAvg.averaged]]) with per-baseline bin columns in place of
  * constants.
  *
  * Scale: Timechannel's narrow plan pass ([[Chunking.planStats]])
  * validates, gives t0 and yields each baseline's max uvw² and min
  * INTERVAL; the driver sizes the bins from that summary ([[sizing]]: a
  * #groups x #baselines local relation, no fact-table job), and the
  * channelisations and the broadcast bin join read it. The write then
  * scans `main` once and shuffles once: the
  * averaging aggregate's partials, routed by group at the session's
  * shuffle width (TimeAvg.averaged), so the remap, fixvis and output
  * layout run in place (Timechannel.layout). Driver-side work is
  * bounded by #SPWs x #channelisations.
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
      validate: Boolean = true, // A7/W1 stats log + monotonicity gate (reference default)
      // keep averaged UVWs (see Timechannel.Args.averageUvw)
      averageUvw: Boolean = false,
      // accumulate-until-full walk with the per-baseline bin width
      // (see Timechannel.Args.runningBins)
      runningBins: Boolean = false,
      // write-side chunk granularity (see Timechannel.Args.rowChunks)
      rowChunks: Int = 10000,
      groupRowChunks: Int = 4) extends Flags.Selection

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

  /** Bin widths per (group, baseline): the decorrelation limits as
    * column arithmetic over `baselines`, one row per (group, baseline)
    * with its max |uv| BL_MAX, min INTERVAL DT_MIN and the group's SPW
    * scalars NUM_CHAN (input), CHAN_WIDTH_0 and FREQ_MAX. Adds
    * TIME_BIN_SECS and CHAN_BIN.
    */
  def binParams(baselines: DataFrame, args: Args): DataFrame = {
    val xStar = sincInv(math.sqrt(args.decorrelation))
    val sinFov = math.sin(math.toRadians(args.maxFovDeg))
    baselines
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
      .drop("DT_RAW", "DNU_MAX")
  }

  /** The sizing of one run, from its plan pass: [[binParams]] over a
    * local relation, one row per (group, baseline) of the selected rows
    * ([[Chunking.PlanStats.baselines]]: BL_MAX is the sqrt of the max
    * uvw², which is the max |uv| bit for bit, sqrt being monotone),
    * joined on the driver with the per-DDID SPW metadata (J1,
    * averaging.py:306-308; P8 applied): SPECTRAL_WINDOW_ID,
    * POLARIZATION_ID, NUM_CHAN, CHAN_WIDTH_0 and FREQ_MAX. A baseline
    * whose DATA_DESC_ID has no DATA_DESCRIPTION or SPW row gets no row,
    * so the bin join drops its rows. No fact-table row is read, and the
    * relation's size estimate is its real size.
    */
  def sizing(plan: Chunking.PlanStats, spw: DataFrame, ddid: DataFrame,
             args: Args): DataFrame = {
    val meta = ddid.select("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID")
      .join(Timechannel.selectSpwChannels(spw, args.channels).select(
        col("SPECTRAL_WINDOW_ID"), col("NUM_CHAN"),
        element_at(col("CHAN_WIDTH"), 1).as("CHAN_WIDTH_0"),
        array_max(col("CHAN_FREQ")).as("FREQ_MAX")), "SPECTRAL_WINDOW_ID")
    val byDdid = meta.collect().map(r => r.getAs[Int]("DATA_DESC_ID") -> r).toMap
    val rows = for {
      ((f, d, s, a1, a2), (uvw2, dtMin)) <- plan.baselines.toSeq
      m <- byDdid.get(d)
    } yield Row.fromSeq(Seq[Any](f, s, a1, a2, math.sqrt(uvw2), dtMin) ++ m.toSeq)
    val schema = StructType(StructType.fromDDL("FIELD_ID INT, SCAN_NUMBER INT, " +
      "ANTENNA1 INT, ANTENNA2 INT, BL_MAX DOUBLE, DT_MIN DOUBLE") ++ meta.schema)
    binParams(spw.sparkSession.createDataFrame(rows.asJava, schema), args)
  }

  /** A4: the ragged averaged main table (pre-remap: still carries the
    * input DATA_DESC_ID plus the transient per-row output channel count
    * NUM_CHAN, averaging.py:159-164). Runs the plan pass and sizes from
    * it.
    */
  def averagedMain(main: DataFrame, spw: DataFrame, ddid: DataFrame, args: Args): DataFrame = {
    val plan = Chunking.planStats(Flags.select(main, args))
    averagedMain(main, sizing(plan, spw, ddid, args), plan, args)
  }

  /** [[averagedMain]] over a run's [[sizing]] `bp` and plan pass `plan`.
    * Selection reads `main` directly and joins `bp` (the averaging reads
    * only its bin columns); with `bp` and t0 local relations, the plan
    * scans main once.
    */
  private def averagedMain(main: DataFrame, bp: DataFrame, plan: Chunking.PlanStats,
                           args: Args): DataFrame =
    TimeAvg.averaged(Flags.select(main, args).join(broadcast(bp),
        TimeAvg.GroupCols ++ Seq("ANTENNA1", "ANTENNA2")),
        col("TIME_BIN_SECS"), args.runningBins, col("CHAN_BIN"), args.dataCols, "bda", plan)
      .withColumn("NUM_CHAN", size(col(args.dataCols.head._2))) // W3, for J2

  /** A5 from the sizing alone. CHAN_BIN is by construction a divisor of
    * NUM_CHAN, so every output row of a baseline carries exactly
    * NUM_CHAN / CHAN_BIN channels: the distinct (DATA_DESC_ID,
    * SPECTRAL_WINDOW_ID, POLARIZATION_ID, output NUM_CHAN) are a
    * driver-side distinct over `bp`'s rows, with no job.
    */
  def channelisations(bp: DataFrame): Seq[(Int, Int, Int, Int)] =
    bp.select(col("DATA_DESC_ID"), col("SPECTRAL_WINDOW_ID"), col("POLARIZATION_ID"),
        (col("NUM_CHAN") / col("CHAN_BIN")).cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).distinct.toSeq

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
      .drop("DATA_DESC_ID", "NUM_CHAN")
      .withColumnRenamed("NEW_DDID", "DATA_DESC_ID")

  /** The output main table exactly as [[run]] writes it: averaged over
    * the run's [[sizing]] `bp` and plan pass `plan`, DATA_DESC_IDs
    * remapped (J2), UVW per [[Uvw.fixvis]], laid out.
    */
  def outputMain(main: DataFrame, bp: DataFrame, plan: Chunking.PlanStats,
                 inRoot: String, args: Args, remapDf: DataFrame): DataFrame =
    Timechannel.layout(Uvw.fixvis(
      remap(averagedMain(main, bp, plan, args), remapDf), inRoot, args.averageUvw))

  /** Full E2 lifecycle: returns the list of tables written. */
  def run(spark: SparkSession, inRoot: String, outRoot: String, args: Args): Seq[String] = {
    MsWriter.guard(outRoot, args.force)
    val main = spark.read.parquet(s"$inRoot/main")
    val spw = spark.read.parquet(s"$inRoot/SPECTRAL_WINDOW")
    val ddid = spark.read.parquet(s"$inRoot/DATA_DESCRIPTION")
    // E2 step 2 (app.py:74-75): the eager plan pass + monotonicity gate
    val plan = Chunking.planStats(Flags.select(main, args))
    if (args.validate) Chunking.validate(plan, "bda")

    // A5 from the per-baseline sizing, so the expensive averaging
    // shuffle runs exactly ONCE — at write time — and nothing forces the
    // full averaged table into the storage layer.
    val bp = sizing(plan, spw, ddid, args)
    // regenerate from the channel-selected SPW so the new grids span
    // exactly the channels that were averaged
    val (newSpw, newDdid, remapDf) = regenerate(spark, channelisations(bp),
      Timechannel.selectSpwChannels(spw, args.channels))
    MsWriter.writeMs(inRoot, outRoot, args.force,
      outputMain(main, bp, plan, inRoot, args, remapDf), TimeAvg.GroupCols,
      args.rowChunks.toLong * args.groupRowChunks,
      Seq("SPECTRAL_WINDOW" -> newSpw, "DATA_DESCRIPTION" -> newDdid))
  }
}
