package graft.cli

import graft.SparkSpec
import graft.ms.SyntheticMs
import graft.ops.{Timechannel, Uvw}
import org.apache.spark.sql.functions._

/** Application-level E2E smoke — the mirror of the reference's own
  * test_application.py:9-17, but with output assertions: each CLI
  * lifecycle (E1 timechannel, E2 bda, E3 check) runs end-to-end on the
  * fixture MS through `Arguments.parse` + `XovaApp.run`, including the
  * fixvis UVW recomputation fused into the main write and its
  * --average-uvw-coordinates opt-out.
  */
class XovaAppSpec extends SparkSpec {

  private val ms = SyntheticMs.root
  private def fs = org.apache.hadoop.fs.FileSystem
    .get(spark.sparkContext.hadoopConfiguration)
  private def exists(p: String) =
    fs.exists(new org.apache.hadoop.fs.Path(p))

  /** Every written UVW equals [[Uvw.baselineUvw]] at that row's written
    * TIME_CENTROID, from the input MS's antenna positions and phase
    * centres; and the atomic commit left nothing beside the output.
    */
  private def assertUvwAtCentroids(out: String): Unit = {
    val pos = spark.read.parquet(s"$ms/ANTENNA")
      .select("ANTENNA_ID", "POSITION").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val dir = spark.read.parquet(s"$ms/FIELD")
      .select(col("FIELD_ID"), col("PHASE_DIR")(0)).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val rows = spark.read.parquet(s"$out/main")
      .select("FIELD_ID", "ANTENNA1", "ANTENNA2", "TIME_CENTROID", "UVW")
      .collect()
    assert(rows.nonEmpty)
    val bad = rows.filter { r =>
      val (p1, p2, d) = (pos(r.getInt(1)), pos(r.getInt(2)), dir(r.getInt(0)))
      val expect = Uvw.baselineUvw(p1(0) - p2(0), p1(1) - p2(1),
        p1(2) - p2(2), d(0), d(1), r.getDouble(3))
      val got = r.getSeq[Double](4)
      (0 until 3).exists(i => math.abs(got(i) - expect(i)) > 1e-9)
    }
    assert(bad.isEmpty, s"${bad.length} of ${rows.length} UVWs are not " +
      s"re-synthesized at their centroid, e.g. ${bad.headOption}")
    val name = new java.io.File(out).getName
    val left = new java.io.File(out).getParentFile.list()
      .filter(_.startsWith(s".$name."))
    assert(left.isEmpty && !exists(s"$out/main_fixed"),
      s"staging left behind: ${left.mkString(", ")}")
  }

  test("E1: xova timechannel end-to-end with fixms post-pass") {
    val out = "/tmp/graft_test/app_tc"
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    XovaApp.run(spark, Arguments.parse(Seq(
      "timechannel", ms, "-t", "60000", "-c", "4",
      "-dc", "DATA:DATA", "-o", out, "--force")))
    Seq("main", "SPECTRAL_WINDOW", "DATA_DESCRIPTION", "ANTENNA", "FIELD",
      "POLARIZATION").foreach(t => assert(exists(s"$out/$t"), t))
    val main = spark.read.parquet(s"$out/main")
    assert(main.count() > 0)
    assert(main.columns.contains("WEIGHT_SPECTRUM"))
    // fixvis ran inside the write: UVWs match a direct re-synthesis at
    // the written centroids
    assertUvwAtCentroids(out)
  }

  test("E1 with --average-uvw-coordinates skips the fixms pass") {
    val out = "/tmp/graft_test/app_tc_avg"
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    XovaApp.run(spark, Arguments.parse(Seq(
      "timechannel", ms, "-t", "60000", "-c", "8",
      "-dc", "DATA:DATA", "-f", "0", "-o", out, "--force")))
    // with the flag, the rerun keeps averaged UVWs — different values
    val out2 = "/tmp/graft_test/app_tc_avg2"
    fs.delete(new org.apache.hadoop.fs.Path(out2), true)
    val cmd = Arguments.parse(Seq(
      "timechannel", ms, "-t", "60000", "-c", "8",
      "-dc", "DATA:DATA", "-f", "0", "-o", out2, "--force",
      "--average-uvw-coordinates")).asInstanceOf[Arguments.TimechannelCmd]
    XovaApp.run(spark, cmd)
    // the written UVWs are exactly the averaging kernel's
    val key = Seq("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER",
      "ANTENNA1", "ANTENNA2", "TIME")
    val averaged = Timechannel.averagedMain(
        spark.read.parquet(s"$ms/main"), cmd.args)
      .select((key.map(col) :+ col("UVW").as("AVG_UVW")): _*)
    val written = spark.read.parquet(s"$out2/main")
    val pairs = written.join(averaged, key)
      .select("UVW", "AVG_UVW").collect()
      .map(r => (r.getSeq[Double](0), r.getSeq[Double](1)))
    assert(pairs.length == written.count() &&
      pairs.length == averaged.count() && pairs.nonEmpty)
    // the two runs sum the same rows, possibly in another order
    assert(pairs.forall { case (w, a) =>
      (0 until 3).forall(i => math.abs(w(i) - a(i)) <= 1e-9 * (1 + math.abs(a(i))))
    }, "--average-uvw-coordinates output differs from the averaged UVWs")
    val a = spark.read.parquet(s"$out/main")
      .agg(sum(expr("abs(UVW[0])"))).collect()(0).getDouble(0)
    val b = spark.read.parquet(s"$out2/main")
      .agg(sum(expr("abs(UVW[0])"))).collect()(0).getDouble(0)
    assert(a != b, "fixms and averaged UVWs should differ")
  }

  test("E2: xova bda end-to-end regenerates SPW/DDID") {
    val out = "/tmp/graft_test/app_bda"
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    XovaApp.run(spark, Arguments.parse(Seq(
      "bda", ms, "-d", "0.99", "-fov", "15.0",
      "-dc", "DATA:DATA", "-o", out, "--force")))
    val main = spark.read.parquet(s"$out/main")
    val ddid = spark.read.parquet(s"$out/DATA_DESCRIPTION")
    val spw = spark.read.parquet(s"$out/SPECTRAL_WINDOW")
    assert(main.count() > 0)
    // every output DDID resolves against the regenerated tables
    val unresolved = main.select("DATA_DESC_ID").distinct()
      .join(ddid, Seq("DATA_DESC_ID"), "left_anti").count()
    assert(unresolved == 0)
    assert(spw.count() == ddid.count())
    assertUvwAtCentroids(out)
  }

  test("--running-bins changes binning on gapped sampling (E2E)") {
    // Scan 0 samples t0, t0+dt; shift the second timestep to t0+2dt
    // (INTERVAL stays dt) so the scan is gapped. At binSecs = 2dt the
    // grid walk anchors on elapsed TIME (t0+2dt starts a new bin), while
    // the reference's accumulate-until-full walk counts INTERVAL
    // actually seen (dt < 2dt: both rows fit one bin) — row counts must
    // differ.
    val gapped = "/tmp/graft_test/gapped_ms"
    fs.delete(new org.apache.hadoop.fs.Path(gapped), true)
    val t1 = SyntheticMs.time0 + SyntheticMs.dt
    spark.read.parquet(s"$ms/main")
      .withColumn("TIME", when(col("TIME") === lit(t1),
        lit(t1 + SyntheticMs.dt)).otherwise(col("TIME")))
      .write.parquet(s"$gapped/main")
    Seq("SPECTRAL_WINDOW", "DATA_DESCRIPTION", "ANTENNA", "FIELD",
      "POLARIZATION").foreach { t =>
      spark.read.parquet(s"$ms/$t").write.parquet(s"$gapped/$t")
    }
    val binSecs = (2 * SyntheticMs.dt).toString
    def run(extra: Seq[String], out: String): Long = {
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      XovaApp.run(spark, Arguments.parse(Seq(
        "timechannel", gapped, "-t", binSecs, "-c", "16",
        "-dc", "DATA:DATA", "-o", out, "--force") ++ extra))
      spark.read.parquet(s"$out/main").count()
    }
    val nGrid = run(Nil, "/tmp/graft_test/gapped_grid")
    val nRunning = run(Seq("--running-bins"), "/tmp/graft_test/gapped_running")
    assert(nRunning < nGrid,
      s"accumulate-until-full should merge the gap: $nRunning vs $nGrid")
  }

  test("E2 with --include-auto-correlations keeps autocorrs through the CLI") {
    val out = "/tmp/graft_test/app_bda_auto"
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    XovaApp.run(spark, Arguments.parse(Seq(
      "bda", ms, "-dc", "DATA:DATA", "-t", "90000",
      "--include-auto-correlations", "-o", out, "--force")))
    val main = spark.read.parquet(s"$out/main")
    val auto = main.filter(col("ANTENNA1") === col("ANTENNA2"))
    assert(auto.count() > 0, "autocorr rows missing from the CLI bda output")
    // sizing stayed finite: every averaged row has a sane channel count
    assert(main.filter(size(col("DATA")) < 1).count() == 0)
    // and the written MS still conforms (ragged shapes resolve)
    XovaApp.run(spark, Arguments.parse(Seq("check", out)))
  }

  test("E3: xova check passes on the fixture MS") {
    XovaApp.run(spark, Arguments.parse(Seq("check", ms)))
  }

  test("E2 then E3: a written BDA output MS passes its own conformance check") {
    // the regenerated ragged SPW/DDID tables must describe the written
    // ragged DATA shapes exactly — check closes the product loop
    val out = "/tmp/graft_test/app_bda_check"
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    XovaApp.run(spark, Arguments.parse(Seq(
      "bda", ms, "-dc", "DATA:DATA", "-o", out, "--force")))
    XovaApp.run(spark, Arguments.parse(Seq("check", out)))
  }
}
