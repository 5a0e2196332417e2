package graft.ops

import graft.SparkSpec
import graft.ms.MsTables

/** The plan-stats pass: A7 statistics + the W1 monotonicity hard-fail
  * the reference enforces before averaging (chunking.py:287-289).
  */
class ChunkingSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  test("fixture MS passes validation with correct plan stats") {
    val main = Flags.filterAutocorr(MsTables.main(spark))
    val st = Chunking.validate(Chunking.planStats(main), "spec")
    assert(st.monotonicViolations == 0)
    assert(st.nRows == main.count())
    assert(st.nTimes == 4)
    assert(st.intervalMean == 30000.0)
  }

  test("monotonicity checks FILE order, surviving a shuffle above the scan") {
    // Write a deliberately time-REVERSED single-file MS main, read it
    // back, and repartition: the check must still see the stored file
    // order (via _metadata), not the shuffle order.
    val dir = "/tmp/graft_test/chunking_reversed"
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    (0 until 8).map(t => (0, 0, 0, 1, 2, 100.0 - t, 1.0, Seq(1.0, 0.0, 0.0)))
      .toDF("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1",
        "ANTENNA2", "TIME", "INTERVAL", "UVW")
      .coalesce(1)
      .sortWithinPartitions(org.apache.spark.sql.functions.col("TIME").desc)
      .write.parquet(dir)
    val bad = spark.read.parquet(dir).repartition(8)
    assert(Chunking.planStats(bad).monotonicViolations == 7,
      "reversed file order must violate at every adjacent pair")
    // and a well-ordered file-backed frame keeps passing after a shuffle
    val good = Flags.filterAutocorr(MsTables.main(spark)).repartition(8)
    assert(Chunking.planStats(good).monotonicViolations == 0,
      "a repartition above the scan must not fabricate violations")
  }

  test("non-monotonic TIME is rejected") {
    // one baseline whose second row goes BACK in time
    val bad = Seq(
      (0, 0, 0, 1, 2, 10.0, 1.0, Seq(1.0, 0.0, 0.0)),
      (0, 0, 0, 1, 2, 5.0, 1.0, Seq(1.0, 0.0, 0.0)))
      .toDF("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1",
        "ANTENNA2", "TIME", "INTERVAL", "UVW")
      .coalesce(1) // pin the stored order the check runs over
    val e = intercept[IllegalArgumentException] {
      Chunking.validate(Chunking.planStats(bad), "spec")
    }
    assert(e.getMessage.contains("monotonicity"))
  }

  private val cols = Seq("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER",
    "ANTENNA1", "ANTENNA2", "TIME", "INTERVAL", "UVW")

  /** One (0, 0, 0) baseline row per time, in the order given, as
    * `splits` input splits (consecutive slices).
    */
  private def rowsAt(times: Seq[Double], splits: Int) =
    spark.sparkContext.parallelize(
      times.map(t => (0, 0, 0, 1, 2, t, 1.0, Seq(1.0, 0.0, 0.0))), splits)
      .toDF(cols: _*)

  private def written(name: String, df: org.apache.spark.sql.DataFrame) = {
    val dir = s"/tmp/graft_test/$name"
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("a group spanning two files is checked across the file boundary") {
    // two write tasks, two files: part-00000 holds the first slice
    val inOrder = written("chunking_two_files", rowsAt((0 until 8).map(_.toDouble), 2))
    assert(inOrder.inputFiles.length == 2)
    val st = Chunking.planStats(inOrder)
    assert(st.monotonicViolations == 0)
    assert(st.nRows == 8 && st.nTimes == 8)
    assert(st.t0 == Map((0, 0, 0) -> 0.0))
    // the later times in the first file: one decrease, at the boundary
    val swapped = written("chunking_two_files_swapped",
      rowsAt((4 until 8).map(_.toDouble) ++ (0 until 4).map(_.toDouble), 2))
    assert(Chunking.planStats(swapped).monotonicViolations == 1)
    assert(Chunking.planStats(swapped.repartition(3)).monotonicViolations == 1,
      "non-interleaving runs give the exact count under a shuffle")
  }

  test("interleaved runs of different TIMEs above a shuffle are rejected") {
    // times 1, 2, 1, 2, ... in one file: a round-robin shuffle deals the
    // rows to two splits, whose runs then overlap in file position
    val bad = written("chunking_interleaved",
      rowsAt((0 until 8).map(i => 1.0 + i % 2), 1)).repartition(2)
    assert(Chunking.planStats(bad).monotonicViolations > 0)
    val e = intercept[IllegalArgumentException] {
      Chunking.validate(Chunking.planStats(bad), "spec")
    }
    assert(e.getMessage.contains("monotonicity"))
  }

  test("t0 is min(TIME) per group, also above a shuffle") {
    import org.apache.spark.sql.functions._
    val main = Flags.filterAutocorr(MsTables.main(spark))
    val expected = main.groupBy(TimeAvg.GroupCols.map(col): _*).agg(min("TIME"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(expected.size > 1)
    assert(Chunking.planStats(main).t0 == expected)
    assert(Chunking.planStats(main.repartition(3)).t0 == expected)
  }

  test("in-memory frames fall back to (split, ordinal) row positions") {
    val times = (0 until 8).map(_.toDouble)
    val st = Chunking.planStats(rowsAt(times, 2))
    assert(st.monotonicViolations == 0 && st.nRows == 8 && st.nTimes == 8)
    assert(st.intervalMean == 1.0 && st.baselines == Map((0, 0, 0, 1, 2) -> (1.0, 1.0)))
    assert(st.t0 == Map((0, 0, 0) -> 0.0))
    // the second split's times precede the first's: one decrease
    assert(Chunking.planStats(rowsAt(times.drop(4) ++ times.take(4), 2))
      .monotonicViolations == 1)
  }

  /** The (0, 0, 0) baseline (1, 2) at times 0-3 with the given INTERVAL
    * and UVW per row, in one split.
    */
  private def baselineRows(rows: Seq[(Option[Double], Option[Seq[Double]])]) =
    rows.zipWithIndex.map { case ((dt, uvw), t) => (0, 0, 0, 1, 2, t.toDouble, dt, uvw) }
      .toDF(cols: _*).coalesce(1)

  /** The message of the failure planStats raises on `df`. */
  private def failure(df: org.apache.spark.sql.DataFrame): String =
    Iterator.iterate(intercept[Exception](Chunking.planStats(df)): Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).mkString("\n")

  test("INTERVAL: null is rejected by name; the min orders NaN above numbers") {
    val one = Some(Seq(1.0, 0.0, 0.0))
    assert(failure(baselineRows(Seq(Some(1.0) -> one, None -> one)))
      .contains("INTERVAL is null"))
    // Spark's min skips NaN unless every value is NaN; math.min would not
    val mixed = baselineRows(Seq(Some(3.0), Some(Double.NaN), Some(2.0)).map(_ -> one))
    val sparkMin = mixed.agg(org.apache.spark.sql.functions.min("INTERVAL")).head().getDouble(0)
    assert(sparkMin == 2.0)
    assert(Chunking.planStats(mixed).baselines == Map((0, 0, 0, 1, 2) -> (1.0, sparkMin)))
    val nan = baselineRows(Seq(Some(Double.NaN) -> one))
    assert(Chunking.planStats(nan).baselines((0, 0, 0, 1, 2))._2.isNaN)
  }

  test("UVW: null is rejected by name; the max of uvw² is per baseline") {
    assert(failure(baselineRows(Seq(Some(1.0) -> Some(Seq(1.0, 0.0, 0.0)),
      Some(1.0) -> None))).contains("UVW is null"))
    val st = Chunking.planStats(baselineRows(Seq(Seq(1.0, 2.0, 2.0), Seq(3.0, 0.0, 4.0),
      Seq(0.0, 0.0, 1.0)).map(u => Some(1.0) -> Some(u))))
    assert(st.baselines == Map((0, 0, 0, 1, 2) -> (25.0, 1.0)))
  }

  test("fixture MS: FLAG/WEIGHT_SPECTRUM/SIGMA_SPECTRUM congruent with DATA") {
    // ADVICE r18 #1: the visCells arrays_zip kernel silently drops a
    // row if FLAG/WEIGHT_SPECTRUM is null and pads if one is longer
    // than DATA — lock the fixture/MS shape contract the kernel
    // assumes (no nulls, per-row shape equality) so a fixture change
    // that breaks it fails HERE, not as an oracle hash mismatch.
    import org.apache.spark.sql.functions._
    val main = MsTables.main(spark)
    val bad = main.filter(
      col("DATA").isNull || col("FLAG").isNull ||
        col("WEIGHT_SPECTRUM").isNull || col("SIGMA_SPECTRUM").isNull ||
        size(col("FLAG")) =!= size(col("DATA")) ||
        size(col("WEIGHT_SPECTRUM")) =!= size(col("DATA")) ||
        size(col("SIGMA_SPECTRUM")) =!= size(col("DATA")) ||
        exists(arrays_zip(col("DATA"), col("FLAG"), col("WEIGHT_SPECTRUM")),
          c => c.getField("DATA").isNull || c.getField("FLAG").isNull ||
            c.getField("WEIGHT_SPECTRUM").isNull ||
            size(c.getField("FLAG")) =!= size(c.getField("DATA")) ||
            size(c.getField("WEIGHT_SPECTRUM")) =!= size(c.getField("DATA"))))
      .count()
    assert(bad == 0L,
      s"$bad MS main rows break the DATA/FLAG/WEIGHT_SPECTRUM congruence " +
        "contract the visCells zip kernel assumes")
  }
}
