package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** W2 binning + P4/P7 flag semantics + pipeline conservation laws
  * (SURVEY §5c): bin-size-1 identity, per-baseline INTERVAL
  * conservation, grid/running agreement on regular sampling.
  */
class TimeAvgFlagsSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private def mainDf(rows: Seq[(Double, Double, Int, Int)]) =
    rows.toDF("TIME", "INTERVAL", "ANTENNA1", "ANTENNA2")
      .withColumn("FIELD_ID", lit(0))
      .withColumn("DATA_DESC_ID", lit(0))
      .withColumn("SCAN_NUMBER", lit(0))

  test("grid binning: floor((TIME - group t0) / binSecs)") {
    val df = mainDf(Seq((100.0, 2.0, 0, 1), (103.9, 2.0, 0, 1), (104.0, 2.0, 0, 1)))
    val bins = TimeAvg.assignGrid(df, 4.0)
      .orderBy("TIME").select("BIN").as[Int].collect().toSeq
    assert(bins == Seq(0, 0, 1))
  }

  test("running binning accumulates INTERVAL until full per baseline") {
    // intervals 2,2,2 with binSecs=4: cum-before = 0,2,4 → bins 0,0,1
    val df = mainDf(Seq((0.0, 2.0, 0, 1), (1.0, 2.0, 0, 1), (2.0, 2.0, 0, 1),
      (0.0, 5.0, 0, 2), (1.0, 5.0, 0, 2))) // second baseline: 0,1
    val out = TimeAvg.assignRunning(df, 4.0)
      .orderBy("ANTENNA2", "TIME").select("BIN").as[Int].collect().toSeq
    assert(out == Seq(0, 0, 1, 0, 1))
  }

  test("grid and running binning agree on regular sampling") {
    val rows = for (b <- 0 until 5; t <- 0 until 12)
      yield (1000.0 + t * 2.0, 2.0, 0, b + 1)
    val df = mainDf(rows)
    val joined = TimeAvg.assignGrid(df, 6.0).withColumnRenamed("BIN", "BG")
      .join(TimeAvg.assignRunning(df, 6.0),
        Seq("TIME", "INTERVAL", "ANTENNA1", "ANTENNA2",
          "FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER"))
    assert(joined.filter(col("BG") =!= col("BIN")).count() == 0)
  }

  test("bin size smaller than sampling interval is identity (one row per bin)") {
    val rows = for (t <- 0 until 10) yield (t * 2.0, 2.0, 0, 1)
    val binned = TimeAvg.assignGrid(mainDf(rows), 1.0)
    assert(binned.select("BIN").distinct().count() == 10)
    assert(binned.groupBy("BIN").count().filter(col("count") =!= 1).count() == 0)
  }

  test("INTERVAL is conserved per baseline through binning + aggregation") {
    val rows = for (b <- 1 to 4; t <- 0 until 17) // 17 ∤ bin size: ragged tail
      yield (t * 3.0, 3.0, 0, b)
    val df = mainDf(rows)
    val in = df.groupBy("ANTENNA2").agg(sum("INTERVAL").as("s_in"))
    val out = TimeAvg.assignGrid(df, 12.0)
      .groupBy("ANTENNA2", "BIN").agg(sum("INTERVAL").as("part"))
      .groupBy("ANTENNA2").agg(sum("part").as("s_out"))
    assert(in.join(out, "ANTENNA2").filter(col("s_in") =!= col("s_out")).count() == 0)
  }

  test("P4 derived FLAG_ROW truth table: true iff every cell flagged") {
    val df = Seq(
      (1, Seq(Seq(true, true), Seq(true, true))),
      (2, Seq(Seq(true, false), Seq(true, true))),
      (3, Seq(Seq(false, false), Seq(false, false))))
      .toDF("id", "FLAG")
    val got = df.withColumn("FLAG_ROW", Flags.derivedFlagRow).orderBy("id")
      .select("FLAG_ROW").as[Boolean].collect().toSeq
    assert(got == Seq(true, false, false))
  }

  test("P7 FLAG_CATEGORY wraps FLAG in a singleton category axis") {
    val df = Seq((1, Seq(Seq(true, false)))).toDF("id", "FLAG")
    val fc = Flags.flagCategory(df).select("FLAG_CATEGORY").collect()(0)
      .getSeq[scala.collection.Seq[scala.collection.Seq[Boolean]]](0)
    assert(fc.length == 1)
    assert(fc.head.map(_.toSeq).toSeq == Seq(Seq(true, false)))
  }

  test("P1 autocorrelation filter drops ANTENNA1 == ANTENNA2 only") {
    val df = mainDf(Seq((0.0, 1.0, 3, 3), (0.0, 1.0, 3, 4)))
    val kept = Flags.filterAutocorr(df).select("ANTENNA2").as[Int].collect().toSeq
    assert(kept == Seq(4))
  }

  test("A3 SPW rebin: CHAN_FREQ mean, CHAN_WIDTH sum, ragged tail kept") {
    val spw = Seq((0, 5, Seq(10.0, 20.0, 30.0, 40.0, 50.0),
      Seq(1.0, 1.0, 1.0, 1.0, 1.0)))
      .toDF("SPECTRAL_WINDOW_ID", "NUM_CHAN", "CHAN_FREQ", "CHAN_WIDTH")
      .withColumn("EFFECTIVE_BW", col("CHAN_WIDTH"))
      .withColumn("RESOLUTION", col("CHAN_WIDTH"))
    val out = Timechannel.averagedSpw(spw, 2).collect()(0)
    assert(out.getAs[Int]("NUM_CHAN") == 3)
    assert(out.getSeq[Double](out.fieldIndex("CHAN_FREQ")) == Seq(15.0, 35.0, 50.0))
    assert(out.getSeq[Double](out.fieldIndex("CHAN_WIDTH")) == Seq(2.0, 2.0, 1.0))
  }
}
