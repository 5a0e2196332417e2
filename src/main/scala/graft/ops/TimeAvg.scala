package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Time-bin assignment (SURVEY §2.5 W2) for the averaging kernel.
  *
  * The reference's africanus kernel walks rows per baseline in TIME
  * order, accumulating INTERVAL until `time_bin_secs` is reached
  * (xova/apps/xova/chunking.py:107-166 mirrors it driver-side). Two
  * Spark formulations, both shuffle-once:
  *
  *  - [[assignGrid]]: bin = floor((TIME - t0) / binSecs) where t0 is the
  *    group's first time. Both commands take t0 from the plan pass
  *    ([[Chunking.planStats]]) and broadcast it back as a #groups-row
  *    local relation ([[averaged]]) — no window over the fact table and
  *    no second scan of it, so at 100 TB the only full shuffle is the
  *    exchange of the averaging itself. This matches the kernel whenever
  *    sampling is regular (the common case).
  *
  *  - [[assignRunning]]: bin = (cumsum(INTERVAL) - INTERVAL) div binSecs
  *    per (group, baseline) in TIME order — the accumulate-until-full
  *    semantics for irregular sampling. Costs one window shuffle keyed by
  *    baseline; baseline cardinality is high (2016+ for 64 antennas), so
  *    partitions stay balanced at scale.
  *
  * Bin-closure boundary choice (explicit, per SURVEY §7.3 risk 2): a row
  * starts a new bin iff the interval accumulated BEFORE it has reached
  * binSecs.
  */
object TimeAvg {
  val GroupCols = Seq("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER")

  /** Grid binning with an in-plan t0: broadcast-join the per-group
    * min(TIME) of `df` back, then a pure projection. Adds column BIN
    * (int).
    */
  def assignGrid(df: DataFrame, binSecs: Double): DataFrame =
    gridBins(df, lit(binSecs),
      df.groupBy(GroupCols.map(col): _*).agg(min("TIME").as("_T0")))

  private def gridBins(df: DataFrame, binSecs: Column, t0: DataFrame): DataFrame =
    df.join(broadcast(t0), GroupCols)
      .withColumn("BIN", floor((col("TIME") - col("_T0")) / binSecs).cast("int"))
      .drop("_T0")

  /** Accumulate-until-full binning per (group, baseline). */
  def assignRunning(df: DataFrame, binSecs: Double): DataFrame =
    assignRunning(df, lit(binSecs))

  /** Column form: per-row (in practice per-baseline — BDA's
    * decorrelation-derived widths) bin size.
    */
  def assignRunning(df: DataFrame, binSecs: Column): DataFrame = {
    val w = Window
      .partitionBy((GroupCols ++ Seq("ANTENNA1", "ANTENNA2")).map(col): _*)
      .orderBy("TIME")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_CUM", sum(col("INTERVAL")).over(w))
      .withColumn("BIN", floor((col("_CUM") - col("INTERVAL")) / binSecs).cast("int"))
      .drop("_CUM")
  }

  /** Full group key of one output row (A1 contract: bins never span
    * partition or baseline boundaries, xova/apps/xova/averaging.py:217).
    */
  val BinKey: Seq[String] =
    GroupCols ++ Seq("ANTENNA1", "ANTENNA2", "BIN")

  /** W2 + A1/A2 + P5–P7, the averaging core of both commands (the
    * reference's output_dataset, xova/apps/xova/averaging.py:97-181):
    * grid or running time bins, one aggregate over [[BinKey]] running
    * the RowAvgAgg and VisAvgAgg kernels, the output projection and
    * FLAG_CATEGORY.
    *
    * `selected` is the selected frame with whatever `binSecs` and
    * `chanBin` read; `plan` is the plan pass over it
    * ([[Chunking.PlanStats]]), whose per-group t0 this reads.
    *
    * The call moves its rows once. One #groups-row local relation, not
    * literals (so the generated code is the same for every input), joins
    * each row to its group's t0 and `_PID`: the group's dense index in
    * the plan pass modulo the exchange width, the session's
    * `spark.sql.shuffle.partitions`. The grouping key includes `_PID`.
    * Map-side partials form per input split, and the one exchange routes
    * them by `_PID` (GraftSqlBridge.routeFinalAggregate), so a bin's
    * merge and eval run on its group's task and every group's output
    * rows sit in one partition, ready for [[Timechannel.layout]]'s
    * in-partition sort. A group never splits, so a width above #groups
    * only adds empty partitions, and per-task aggregation state is
    * bounded by Spark's own sort-based fallback
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`).
    *
    * WEIGHT_SPECTRUM / SIGMA_SPECTRUM are optional MS columns: WS is the
    * averaging weight and both spectra are averaged through when
    * present; per-corr WEIGHT is the fallback (and the outputs are
    * omitted) when absent — the reference's try/except optional-column
    * handling (averaging.py:241-248, output 167-173).
    */
  def averaged(selected: DataFrame, binSecs: Column, running: Boolean,
               chanBin: Column, dataCols: Seq[(String, String)], tag: String,
               plan: Chunking.PlanStats): DataFrame = {
    val width = selected.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    println(s"[xova] $tag averaging exchange: ${plan.t0.size} groups " +
      s"-> $width partitions, routed by group")
    val groups = selected.sparkSession.createDataFrame(
        plan.t0.toSeq.sortBy(_._1).zipWithIndex.map {
          case (((f, d, s), t0), i) => (f, d, s, t0, i % width)
        })
      .toDF(GroupCols ++ Seq("_T0", "_PID"): _*)
    val binned =
      if (running) assignRunning(selected.join(broadcast(groups.drop("_T0")), GroupCols), binSecs)
      else gridBins(selected, binSecs, groups)

    val hasWs = binned.columns.contains("WEIGHT_SPECTRUM")
    val hasSs = binned.columns.contains("SIGMA_SPECTRUM")
    val absent = lit(null).cast("array<array<double>>")
    val rowAgg = graft.expressions.RowAvgAgg(
      col("TIME"), col("INTERVAL"), col("TIME_CENTROID"), col("EXPOSURE"),
      col("FROW"), col("UVW"), col("WEIGHT"), col("SIGMA")).as("R")
    // VisAvgAgg = the native TypedImperativeAggregate kernel (flat
    // buffers, zero per-row allocation); the typed Aggregator
    // graft.ops.VisAggregator in the test sources is the bit-identical
    // reference implementation.
    val visAggs = dataCols.map { case (from, to) =>
      graft.expressions.VisAvgAgg(hasWs, hasSs)(
        col("FROW"), col(from), col("FLAG"),
        if (hasWs) col("WEIGHT_SPECTRUM") else absent,
        if (hasSs) col("SIGMA_SPECTRUM") else absent,
        col("WEIGHT"), chanBin).as(s"_V_$to")
    }
    val agged = org.apache.spark.sql.GraftSqlBridge.routeFinalAggregate(
      binned.groupBy((BinKey :+ "_PID").map(col): _*)
        .agg(rowAgg, visAggs: _*),
      "_PID", width)

    // Output FLAG (and spectra) come from the first data column's
    // aggregator: they are weight/flag-derived, the same for every data
    // column.
    val firstTo = dataCols.head._2
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
      dataCols.map { case (_, to) => col(s"_V_$to.DATA").as(to) }: _*)

    // P7: FLAG_CATEGORY = FLAG behind a singleton category axis.
    Flags.flagCategory(out)
  }
}
