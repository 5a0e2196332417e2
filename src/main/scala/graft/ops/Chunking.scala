package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's eager chunk-planning pass (SURVEY §2.3 A7, §2.5 W1,
  * §2.10 U4), run at the top of both pipeline lifecycles: one
  * column-pruned scan computing the per-MS plan statistics the
  * reference logs (chunking.py:295-313), the TIME-monotonicity
  * invariant it hard-fails on (chunking.py:287-289), and what the
  * averaging plan needs from the data: the per-group grid origin t0.
  *
  * The reference needs this pass to size dask chunks so no time bin
  * spans two of them; Spark's shuffle routes rows to bins regardless of
  * layout (SURVEY §4 O4), so here the pass keeps its validation,
  * logging and t0 roles. Like the reference's (chunking.py:13-65,
  * 217-314) it is NARROW: each split summarizes its rows in plain Scala
  * — one summary per constant-TIME run of rows of a (group, file) —
  * and the driver stitches the summaries. No shuffle, window or
  * aggregate plan: the scan (keys, antennas, TIME, INTERVAL and UVW; no
  * visibility-sized column) is the pass's only generated code, and the
  * driver holds about rows / #baselines summaries.
  *
  * The same pass yields BDA's sizing inputs: per (group, ANTENNA1,
  * ANTENNA2), the max uvw² and min INTERVAL, folded per split (at most
  * #groups × #baselines entries) and merged on the driver
  * ([[PlanStats.baselines]], read by Bda.sizing).
  */
object Chunking {

  /** (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER), [[TimeAvg.GroupCols]]. */
  type Group = (Int, Int, Int)

  /** (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2). */
  type Baseline = (Int, Int, Int, Int, Int)

  /** `t0`: per-group min TIME, the grid-binning origin
    * ([[TimeAvg.averaged]]). `baselines`: per baseline, (max uvw², min
    * INTERVAL) in Spark's `max`/`min` semantics.
    */
  case class PlanStats(
      nRows: Long, nTimes: Long, intervalMean: Double,
      monotonicViolations: Long, t0: Map[Group, Double],
      baselines: Map[Baseline, (Double, Double)])

  /** One constant-TIME run of one (group, file)'s rows within a split:
    * the range [lo, hi] of its row positions, its row count and
    * ΣINTERVAL.
    */
  private final class Run(val f: Int, val d: Int, val s: Int, val file: String,
                          val time: Double, var lo: Long) extends Serializable {
    var hi: Long = lo
    var n = 0L
    var intervalSum = 0.0
    def group: Group = (f, d, s)
  }

  /** (max uvw², min INTERVAL) of two sets of one baseline's rows. Both
    * order NaN above every number, as Spark's `max` and `min` do
    * (`math.min` would propagate it).
    */
  private def extremes(a: (Double, Double), b: (Double, Double)): (Double, Double) =
    (math.max(a._1, b._1), if (a._2.isNaN || b._2 < a._2) b._2 else a._2)

  /** One narrow pass over the (already selection-filtered) main table.
    *
    * Monotonicity is a property of the STORED row order (the reference
    * checks `diff(ds.TIME) >= 0` over each partition's column as read,
    * chunking.py:267). For file-backed frames the row position is
    * (`_metadata.file_path`, `_metadata.row_index`) — the exact
    * in-file position, immune to whatever partition layout sits above
    * the scan. Non-file frames (in-memory tests) fall back to
    * `monotonically_increasing_id()`'s (split, ordinal) position, valid
    * while the plan above them stays narrow.
    *
    * Per group, the driver orders the runs by position and counts the
    * decreasing TIME steps between them. Overlapping runs (rows a
    * shuffle above the scan interleaved) of equal TIME merge; of
    * different TIMEs they prove a decrease, so the verdict is exact for
    * any frame, and the count is exact whenever runs do not interleave.
    */
  def planStats(sel: DataFrame): PlanStats = {
    val position = Seq(col("_metadata.file_path"), col("_metadata.row_index"))
    val fileBacked = scala.util.Try(sel.select(position: _*)).isSuccess
    val uvw2 = col("UVW")(0) * col("UVW")(0) + col("UVW")(1) * col("UVW")(1) +
      col("UVW")(2) * col("UVW")(2)
    val qe = sel.select(
      TimeAvg.GroupCols.map(col(_).cast("int")) ++
        Seq(col("TIME"), col("INTERVAL"), uvw2,
          col("ANTENNA1").cast("int"), col("ANTENNA2").cast("int")) ++
        (if (fileBacked) position else Nil): _*).queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("plan pass")) {
      qe.toRdd.mapPartitionsWithIndex((i, rows) =>
        Iterator(summarize(i, rows, fileBacked))).collect()
    }
    val runs = parts.flatMap(_._1)
    val nRows = runs.map(_.n).sum
    PlanStats(nRows, runs.map(_.time).distinct.length.toLong,
      if (nRows == 0) 0.0 else runs.map(_.intervalSum).sum / nRows,
      runs.groupBy(_.group).values.map(violations).sum,
      runs.groupMapReduce(_.group)(_.time)(math.min),
      parts.flatMap(_._2).groupMapReduce(_._1)(_._2)(extremes))
  }

  /** The runs of split `part`, in its row order, and its per-baseline
    * extremes. Columns: group (0-2), TIME, INTERVAL, uvw² (3-5),
    * ANTENNA1, ANTENNA2 (6-7), then file path and row index when
    * file-backed.
    */
  private def summarize(part: Int, rows: Iterator[InternalRow], fileBacked: Boolean)
      : (Array[Run], mutable.HashMap[Baseline, (Double, Double)]) = {
    val open = mutable.HashMap.empty[(Int, Int, Int, String), Run]
    val done = mutable.ArrayBuffer.empty[Run]
    val bl = mutable.HashMap.empty[Baseline, (Double, Double)] // per-baseline extremes
    var path: UTF8String = null
    var file = ""
    var run: Run = null
    var i = -1L
    rows.foreach { r =>
      i += 1
      if (fileBacked && !r.getUTF8String(8).equals(path)) {
        path = r.getUTF8String(8).clone()
        file = path.toString
      }
      require(!r.isNullAt(3), "TIME is null: the input MS main table is malformed")
      require(!r.isNullAt(4), "INTERVAL is null: the input MS main table is malformed")
      require(!r.isNullAt(5), "UVW is null: the input MS main table is malformed")
      val f = r.getInt(0); val d = r.getInt(1); val s = r.getInt(2)
      val t = r.getDouble(3)
      val pos = if (fileBacked) r.getLong(9) else (part.toLong << 33) + i
      // rows of one key are usually consecutive: look up only on a switch
      if (run == null || run.f != f || run.d != d || run.s != s || run.file != file)
        run = open.getOrElse((f, d, s, file), null)
      if (run == null || run.time != t) {
        if (run != null) done += run
        run = new Run(f, d, s, file, t, pos)
        open((f, d, s, file)) = run
      }
      run.lo = math.min(run.lo, pos)
      run.hi = math.max(run.hi, pos)
      run.n += 1
      run.intervalSum += r.getDouble(4)
      val x = (r.getDouble(5), r.getDouble(4))
      bl.updateWith((f, d, s, r.getInt(6), r.getInt(7)))(b => Some(b.fold(x)(extremes(_, x))))
    }
    ((done ++ open.values).toArray, bl)
  }

  /** Decreasing-TIME steps over one group's runs in stored order. */
  private def violations(runs: Array[Run]): Long = {
    val sorted = runs.sortBy(r => (r.file, r.lo))
    var n = 0L
    var (file, hi, time) = (sorted.head.file, sorted.head.hi, sorted.head.time)
    sorted.iterator.drop(1).foreach { r =>
      if (r.file == file && r.lo <= hi) {
        if (r.time != time) n += 1
        if (r.hi > hi) { hi = r.hi; time = r.time }
      } else {
        if (r.time < time) n += 1
        file = r.file; hi = r.hi; time = r.time
      }
    }
    n
  }

  /** Validate + log, raising exactly where the reference raises. */
  def validate(s: PlanStats, label: String): PlanStats = {
    val maxUvw2 = s.baselines.valuesIterator.map(_._1).foldLeft(0.0)(math.max)
    println(f"[xova] $label plan: rows=${s.nRows} times=${s.nTimes} " +
      f"interval_mean=${s.intervalMean}%.3f max_uvw=${math.sqrt(maxUvw2)}%.1f")
    require(s.monotonicViolations == 0,
      s"${s.monotonicViolations} row(s) break the TIME-monotonicity " +
        "invariant per (field, ddid, scan) group — the input MS is not " +
        "time-sorted (reference chunking.py:287-289)")
    s
  }
}
