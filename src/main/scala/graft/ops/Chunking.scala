package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's eager chunk-planning pass (SURVEY §2.3 A7, §2.5 W1,
  * §2.10 U4), run at the top of both pipeline lifecycles: one
  * column-pruned scan computing the per-MS plan statistics the
  * reference logs (chunking.py:295-313) and the TIME-monotonicity
  * invariant it hard-fails on (chunking.py:287-289).
  *
  * The reference needs this pass to size dask chunks so no time bin
  * spans two of them; Spark's shuffle routes rows to bins regardless of
  * layout (SURVEY §4 O4), so here the pass keeps only its validation
  * and logging roles. Scale shape: projection pushdown means only
  * (keys, TIME, INTERVAL, UVW) leave the scan; the monotonicity window
  * shuffles those ~50 bytes/row once, partitioned by the group key
  * (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER) — one window partition per
  * group, so the rows of a group are checked in their stored order
  * across all its baselines.
  */
object Chunking {

  case class PlanStats(
      nRows: Long, nTimes: Long, intervalMean: Double, maxUvw2: Double,
      monotonicViolations: Long)

  /** One pruned pass over the (already selection-filtered) main table.
    *
    * Monotonicity is a property of the STORED row order (the reference
    * checks `diff(ds.TIME) >= 0` over each partition's column as read,
    * chunking.py:267). For file-backed frames the row position is
    * (`_metadata.file_path`, `_metadata.row_index`) — the exact
    * in-file position, immune to whatever partition layout sits above
    * the scan (a repartition/AQE shuffle reorders rows, which would
    * silently turn a `monotonically_increasing_id()` order into a
    * check of the SHUFFLE order). Non-file frames (in-memory tests)
    * fall back to `monotonically_increasing_id()`, valid while the
    * plan above them stays narrow.
    */
  def planStats(main: DataFrame): PlanStats = {
    val fileBacked = scala.util.Try(
      main.select(col("_metadata.file_path"), col("_metadata.row_index"))
    ).isSuccess
    val ord =
      if (fileBacked)
        Seq(col("_metadata.file_path").as("_O1"),
          col("_metadata.row_index").as("_O2"))
      else Seq(monotonically_increasing_id().as("_O1"), lit(0L).as("_O2"))
    val w = Window
      .partitionBy(TimeAvg.GroupCols.map(col): _*)
      .orderBy("_O1", "_O2")
    val uvw2 = col("UVW")(0) * col("UVW")(0) + col("UVW")(1) * col("UVW")(1) +
      col("UVW")(2) * col("UVW")(2)
    val r = main
      .select(TimeAvg.GroupCols.map(col) ++
        Seq(col("TIME"), col("INTERVAL"), uvw2.as("_UVW2")) ++ ord: _*)
      .withColumn("_PREV", lag(col("TIME"), 1).over(w))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("TIME")).as("n_times"),
        avg(col("INTERVAL")).as("interval_mean"),
        max(col("_UVW2")).as("max_uvw2"),
        sum(when(col("_PREV").isNotNull && col("TIME") < col("_PREV"), 1L)
          .otherwise(0L)).as("n_violations"))
      .collect()(0)
    PlanStats(r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getLong(4))
  }

  /** Validate + log, raising exactly where the reference raises. */
  def validate(main: DataFrame, label: String): PlanStats = {
    val s = planStats(main)
    println(f"[xova] $label plan: rows=${s.nRows} times=${s.nTimes} " +
      f"interval_mean=${s.intervalMean}%.3f max_uvw=${math.sqrt(s.maxUvw2)}%.1f")
    require(s.monotonicViolations == 0,
      s"${s.monotonicViolations} row(s) break the TIME-monotonicity " +
        "invariant per (field, ddid, scan) group — the input MS is not " +
        "time-sorted (reference chunking.py:287-289)")
    s
  }
}
