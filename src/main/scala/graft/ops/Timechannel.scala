package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ms.MsWriter

/** The `timechannel` pipeline end-to-end (SURVEY §3 E1, §7.2): read a
  * parquet MS, select + flag (P1–P4), bin time (W2), run the averaging
  * kernels (A1/A2 via graft.expressions.VisAvgAgg / RowAvgAgg), assemble
  * the output main table (P5–P7) with UVW recomputed at the averaged
  * time centroids (U1, Uvw.fixvis), rewrite SPECTRAL_WINDOW (A3), and
  * write the output MS once, committed atomically (S7–S10 via
  * graft.ms.MsWriter).
  *
  * Reference lifecycle: /root/reference/xova/apps/xova/app.py:59-159;
  * output assembly averaging.py:97-181; SPW rewrite averaging.py:357-406.
  *
  * Timechannel is BDA with constant bins: both commands select through
  * [[Flags.select]], then bin and average through [[TimeAvg.averaged]].
  *
  * Scale notes: one narrow plan pass ([[Chunking.planStats]]: no
  * shuffle) validates the run and gives t0, then the write scans `main`
  * once and shuffles once, at the session's shuffle width: the bin-key
  * aggregate's map-side partials (the kernels' merge) are routed by
  * output group, so each bin merges on its group's task. The t0 and
  * group-index relations, the UVW position/phase-centre lookups and the
  * SPW rewrite are tiny broadcast/driver-side work. Output partition
  * hygiene (the reference's A3′ row_concatenate, averaging.py:39-77)
  * falls out of that routing: the output [[layout]] only sorts within
  * partitions.
  */
object Timechannel {

  case class Args(
      timeBinSecs: Double = 2.0,
      chanBinSize: Int = 16,
      dataCols: Seq[(String, String)] = Seq("CORRECTED_DATA" -> "DATA"),
      fields: Seq[Int] = Nil,
      scans: Seq[Int] = Nil,
      channels: Seq[Int] = Nil, // P8: 0-based kept channel indices
      respectFlagRow: Boolean = false,
      includeAutoCorrs: Boolean = false,
      force: Boolean = false,
      validate: Boolean = true, // A7/W1 stats log + monotonicity gate (reference default)
      // --average-uvw-coordinates (arguments.py:115-120), see Uvw.fixvis
      averageUvw: Boolean = false,
      // W2 variant: grid binning (broadcast t0, zero fact-table window)
      // matches the reference kernel for regular sampling; running
      // binning reproduces its accumulate-until-full walk exactly for
      // irregular sampling, at the cost of one baseline-keyed window.
      runningBins: Boolean = false,
      // -rc/-grc (arguments.py:94-101): the reference computes in
      // rowChunks-row chunks and merges groupRowChunks of them per
      // write. Spark's read/compute granularity is maxPartitionBytes +
      // AQE; the knobs' OBSERVABLE effect — written chunk size — maps
      // to maxRecordsPerFile = rowChunks * groupRowChunks on `main`.
      rowChunks: Int = 10000,
      groupRowChunks: Int = 4) extends Flags.Selection

  /** The averaged main table as a DataFrame (no IO): BDA with constant
    * bins — TIME_BIN_SECS = timeBinSecs and CHAN_BIN = chanBinSize for
    * every baseline. Runs the plan pass over the selected rows.
    */
  def averagedMain(main: DataFrame, args: Args): DataFrame =
    averagedMain(main, args, Chunking.planStats(Flags.select(main, args)))

  /** [[averagedMain]] given the plan pass `plan` over the selected rows,
    * whose per-group t0 anchors the grid.
    */
  def averagedMain(main: DataFrame, args: Args, plan: Chunking.PlanStats): DataFrame =
    TimeAvg.averaged(Flags.select(main, args), lit(args.timeBinSecs), args.runningBins,
      lit(args.chanBinSize), args.dataCols, "timechannel", plan)

  /** A3: rebin SPECTRAL_WINDOW channel metadata — CHAN_FREQ mean,
    * CHAN_WIDTH/EFFECTIVE_BW/RESOLUTION sum per output channel, NUM_CHAN
    * rewritten (xova/apps/xova/averaging.py:357-406). Pure projection
    * over a #SPWs-row table.
    */
  def averagedSpw(spw: DataFrame, chanBinSize: Int): DataFrame = {
    val k = chanBinSize
    val nOut = ((col("NUM_CHAN") + k - 1) / k).cast("int")
    def rebin(c: String, mean: Boolean): Column =
      transform(sequence(lit(0), nOut - 1), i => {
        val lo = i * k
        val n = least(lit(k), col("NUM_CHAN") - lo).cast("double")
        val s = aggregate(slice(col(c), lo + 1, lit(k)), lit(0.0), (a, x) => a + x)
        if (mean) s / n else s
      })
    spw
      .withColumn("CHAN_FREQ", rebin("CHAN_FREQ", mean = true))
      .withColumn("CHAN_WIDTH", rebin("CHAN_WIDTH", mean = false))
      .withColumn("EFFECTIVE_BW", rebin("EFFECTIVE_BW", mean = false))
      .withColumn("RESOLUTION", rebin("RESOLUTION", mean = false))
      .withColumn("NUM_CHAN", nOut)
  }

  /** P8 on the SPW subtable: keep the selected channel indices of every
    * per-channel metadata array and rewrite NUM_CHAN, so the output MS
    * stays shape-conformant with the channel-selected main table.
    */
  def selectSpwChannels(spw: DataFrame, channels: Seq[Int]): DataFrame =
    if (channels.isEmpty) spw
    else Flags.selectChannels(spw, channels,
        Seq("CHAN_FREQ", "CHAN_WIDTH", "EFFECTIVE_BW", "RESOLUTION")
          .filter(spw.columns.contains))
      .withColumn("NUM_CHAN", size(col("CHAN_FREQ")))

  /** Output layout of `main` (A3′ output-size hygiene). The averaging
    * exchange already put each group's rows in one partition
    * ([[TimeAvg.averaged]]), so an in-partition sort with the partition
    * columns as prefix is all that is left: the partitioned writer reuses
    * it, writes one file per group and keeps TIME order within it.
    */
  private[ops] def layout(out: DataFrame): DataFrame =
    out.sortWithinPartitions((TimeAvg.GroupCols ++
      Seq("TIME", "ANTENNA1", "ANTENNA2")).map(col): _*)

  /** The output main table exactly as [[run]] writes it: averaged over
    * the plan pass `plan`, UVW per [[Uvw.fixvis]], laid out. Runs only
    * the UVW-gate jobs.
    */
  def outputMain(main: DataFrame, inRoot: String, args: Args,
                 plan: Chunking.PlanStats): DataFrame =
    layout(Uvw.fixvis(averagedMain(main, args, plan), inRoot, args.averageUvw))

  /** Full E1 lifecycle: returns the list of tables written. */
  def run(spark: SparkSession, inRoot: String, outRoot: String, args: Args): Seq[String] = {
    MsWriter.guard(outRoot, args.force)
    val main = spark.read.parquet(s"$inRoot/main")
    // E1 step 2 (app.py:74-75): the eager plan pass over the SELECTED
    // rows; with validation on it logs the A7 stats and hard-fails on
    // non-monotonic TIME (W1)
    val plan = Chunking.planStats(Flags.select(main, args))
    if (args.validate) Chunking.validate(plan, "timechannel")
    val spw = averagedSpw(selectSpwChannels(
      spark.read.parquet(s"$inRoot/SPECTRAL_WINDOW"), args.channels),
      args.chanBinSize)
    MsWriter.writeMs(inRoot, outRoot, args.force,
      outputMain(main, inRoot, args, plan), TimeAvg.GroupCols,
      args.rowChunks.toLong * args.groupRowChunks,
      Seq("SPECTRAL_WINDOW" -> spw))
  }
}
