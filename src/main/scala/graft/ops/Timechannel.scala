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
  * Scale notes: exactly one wide shuffle (the bin-key groupBy; map-side
  * partial aggregation via the Aggregator's reduce). The t0-per-group
  * frame, the UVW position/phase-centre lookups and the SPW rewrite are
  * tiny broadcast/driver-side work. Output
  * partition hygiene (the reference's A3′ row_concatenate,
  * averaging.py:39-77) falls out of AQE coalescing + the explicit
  * repartition before the write.
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
      validate: Boolean = true, // A7/W1 plan pass (reference default)
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
      groupRowChunks: Int = 4)

  /** Every (chan, corr) matrix column present in `df` that channel
    * selection (P8) must slice in lockstep.
    */
  private[ops] def matrixCols(df: DataFrame, args: Args): Seq[String] =
    (args.dataCols.map(_._1) ++
      Seq("FLAG", "WEIGHT_SPECTRUM", "SIGMA_SPECTRUM"))
      .distinct.filter(df.columns.contains)

  /** The averaged main table as a DataFrame (no IO). `nRows`: the
    * selected-row count if known (Chunking's plan stats count the same
    * rows — channel selection and FROW drop none), else counted here.
    */
  def averagedMain(main: DataFrame, args: Args,
                   nRows: Option[Long] = None): DataFrame = {
    var df = main
    if (!args.includeAutoCorrs) df = Flags.filterAutocorr(df)
    df = Flags.selectFields(df, args.fields)
    df = Flags.selectScans(df, args.scans)
    // P8 before FROW: a derived row flag must reflect the KEPT channels
    df = Flags.selectChannels(df, args.channels, matrixCols(df, args))
    df = if (args.respectFlagRow) df.withColumn("FROW", col("FLAG_ROW"))
         else df.withColumn("FROW", Flags.derivedFlagRow)
    // Same computed exchange width as the BDA kernel (Bda
    // .widthFromEstimate), with the uniform kernel's cheaper upper
    // bound: output groups <= input rows (each row lands in exactly
    // one bin), cells/group read from one (FLAG, WEIGHT) row. Up to two
    // tiny column-pruned jobs on the PRE-bin frame (counting after
    // binning would execute the runningBins window); below the threshold —
    // every bench scale — the plan (and its map-side partial
    // aggregation) is untouched.
    val sessionParts =
      main.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val shape = df.select(size(col("FLAG")).as("nc"),
        size(col("WEIGHT")).as("co")).limit(1)
      .collect().headOption
    val cells = shape.map { r =>
      val nchanOut = (r.getInt(0) + args.chanBinSize - 1) / args.chanBinSize
      nchanOut.toLong * r.getInt(1)
    }.getOrElse(0L)
    val est = nRows.getOrElse(df.count()) * cells * args.dataCols.size *
      Bda.StateBytesPerCell
    val width = Bda.widthFromEstimate(
      main.sparkSession, "timechannel", est, sessionParts)
    df = if (args.runningBins) TimeAvg.assignRunning(df, args.timeBinSecs)
         else TimeAvg.assignGrid(df, args.timeBinSecs)

    // WEIGHT_SPECTRUM / SIGMA_SPECTRUM are optional MS columns: use WS as
    // the averaging weight and average both spectra through when present,
    // fall back to per-corr WEIGHT (and omit the outputs) when absent —
    // the reference's try/except optional-column handling
    // (averaging.py:241-248, output 167-173).
    val hasWs = df.columns.contains("WEIGHT_SPECTRUM")
    val hasSs = df.columns.contains("SIGMA_SPECTRUM")
    val absent = lit(null).cast("array<array<double>>")

    val rowAgg = graft.expressions.RowAvgAgg(
      col("TIME"), col("INTERVAL"), col("TIME_CENTROID"), col("EXPOSURE"),
      col("FROW"), col("UVW"), col("WEIGHT"), col("SIGMA")).as("R")
    // graft.expressions.VisAvgAgg = the native TypedImperativeAggregate
    // kernel (flat buffers, zero per-row allocation); the typed
    // Aggregator graft.ops.VisAggregator in the test sources is the
    // bit-identical reference implementation.
    val visAggs = args.dataCols.map { case (from, to) =>
      graft.expressions.VisAvgAgg(hasWs, hasSs)(
        col("FROW"), col(from), col("FLAG"),
        if (hasWs) col("WEIGHT_SPECTRUM") else absent,
        if (hasSs) col("SIGMA_SPECTRUM") else absent,
        col("WEIGHT"), lit(args.chanBinSize)).as(s"_V_$to")
    }

    val toAgg =
      width.fold(df)(n => df.repartition(n, TimeAvg.BinKey.map(col): _*))

    val agged = toAgg
      .groupBy(TimeAvg.BinKey.map(col): _*)
      .agg(rowAgg, visAggs: _*)

    // Output FLAG (and spectra) come from the first data column's
    // aggregator (they are weight/flag-derived, shared across data
    // columns — same FLAG/weight inputs).
    val firstTo = args.dataCols.head._2
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
        // P6: constant ids (xova/apps/xova/utils.py:7-14)
        lit(0).as("ARRAY_ID"), lit(0).as("OBSERVATION_ID"),
        lit(0).as("PROCESSOR_ID"), lit(0).as("STATE_ID"),
        col(s"_V_$firstTo.FLAG").as("FLAG")) ++
      (if (hasWs) Seq(col(s"_V_$firstTo.WEIGHT_SPECTRUM").as("WEIGHT_SPECTRUM")) else Nil) ++
      (if (hasSs) Seq(col(s"_V_$firstTo.SIGMA_SPECTRUM").as("SIGMA_SPECTRUM")) else Nil) ++
      args.dataCols.map { case (_, to) => col(s"_V_$to.DATA").as(to) }: _*)

    // P7: FLAG_CATEGORY = FLAG behind a singleton category axis.
    Flags.flagCategory(out)
  }

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
    else {
      val kept = array(channels.map(lit): _*)
      Seq("CHAN_FREQ", "CHAN_WIDTH", "EFFECTIVE_BW", "RESOLUTION")
        .filter(spw.columns.contains)
        .foldLeft(spw) { (d, c) =>
          d.withColumn(c, transform(
            filter(kept, i => i < size(col(c))),
            i => element_at(col(c), i + 1)))
        }
        .withColumn("NUM_CHAN", size(col("CHAN_FREQ")))
    }

  /** Output layout of `main` (A3′ output-size hygiene): sorted with the
    * partition columns as prefix, so the partitioned writer reuses the
    * sort and TIME order survives within each file.
    */
  private[ops] def layout(out: DataFrame): DataFrame =
    out.repartition(TimeAvg.GroupCols.map(col): _*)
      .sortWithinPartitions((TimeAvg.GroupCols ++
        Seq("TIME", "ANTENNA1", "ANTENNA2")).map(col): _*)

  /** The output main table exactly as [[run]] writes it: averaged, UVW
    * per [[Uvw.fixvis]], laid out. Runs only the sizing and UVW-gate jobs.
    */
  def outputMain(main: DataFrame, inRoot: String, args: Args,
                 nRows: Option[Long] = None): DataFrame =
    layout(Uvw.fixvis(averagedMain(main, args, nRows), inRoot, args.averageUvw))

  /** Full E1 lifecycle: returns the list of tables written. */
  def run(spark: SparkSession, inRoot: String, outRoot: String, args: Args): Seq[String] = {
    MsWriter.guard(outRoot, args.force)
    val main = spark.read.parquet(s"$inRoot/main")
    // E1 step 2 (app.py:74-75): eager plan-stats pass over the SELECTED
    // rows — logs A7 stats, hard-fails on non-monotonic TIME (W1)
    val stats = if (!args.validate) None else {
      var sel = main
      if (!args.includeAutoCorrs) sel = Flags.filterAutocorr(sel)
      sel = Flags.selectScans(Flags.selectFields(sel, args.fields), args.scans)
      Some(Chunking.validate(sel, "timechannel"))
    }
    val spw = averagedSpw(selectSpwChannels(
      spark.read.parquet(s"$inRoot/SPECTRAL_WINDOW"), args.channels),
      args.chanBinSize)
    MsWriter.writeMs(spark, inRoot, outRoot, args.force,
      outputMain(main, inRoot, args, stats.map(_.nRows)), TimeAvg.GroupCols,
      args.rowChunks.toLong * args.groupRowChunks,
      Seq("SPECTRAL_WINDOW" -> spw))
  }
}
