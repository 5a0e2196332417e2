package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** UVW synthesis invariants (mirrors the reference's fixvis property
  * tests, /root/reference/xova/apps/xova/tests/test_fixvis.py:70-131,
  * plus rotation-theory facts the casacore path guarantees implicitly).
  * Property-style: 100 seeded random samples per law.
  */
class UvwSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  private def samples: Seq[(Double, Double, Double, Double, Double, Double)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(100)((
      rnd.between(-8000.0, 8000.0), rnd.between(-8000.0, 8000.0),
      rnd.between(-8000.0, 8000.0), rnd.between(0.0, 2 * math.Pi),
      rnd.between(-1.4, 1.4), rnd.between(4.0e6, 6.0e6)))
  }

  test("rotation preserves baseline length: |uvw| == |L|") {
    samples.foreach { case (lx, ly, lz, ra, dec, t) =>
      val Array(u, v, w) = Uvw.baselineUvw(lx, ly, lz, ra, dec, t)
      val n1 = math.sqrt(u * u + v * v + w * w)
      val n2 = math.sqrt(lx * lx + ly * ly + lz * lz)
      assert(math.abs(n1 - n2) <= 1e-9 * (1.0 + n2))
    }
  }

  test("antisymmetry: swapping antennas negates uvw") {
    samples.foreach { case (lx, ly, lz, ra, dec, t) =>
      val a = Uvw.baselineUvw(lx, ly, lz, ra, dec, t)
      val b = Uvw.baselineUvw(-lx, -ly, -lz, ra, dec, t)
      (0 until 3).foreach(i => assert(a(i) == -b(i)))
    }
  }

  test("zero baseline (autocorrelation) has zero uvw") {
    val r = Uvw.baselineUvw(0, 0, 0, 1.0, 0.5, 5.0e6)
    assert(r.toSeq == Seq(0.0, 0.0, 0.0))
  }

  test("w equals baseline projection onto the source direction") {
    // At dec = +pi/2 the source sits on the celestial pole: w = lz
    // regardless of time.
    samples.foreach { case (lx, ly, lz, _, _, t) =>
      val r = Uvw.baselineUvw(lx, ly, lz, 0.3, math.Pi / 2, t)
      assert(math.abs(r(2) - lz) <= 1e-9 * (1 + math.abs(lz)))
    }
  }

  test("earth rotation moves u/v but the pole stays fixed") {
    val a = Uvw.baselineUvw(5000, 3000, 1000, 1.0, 0.3, 5.0e6)
    val b = Uvw.baselineUvw(5000, 3000, 1000, 1.0, 0.3, 5.0e6 + 3600)
    assert(a(0) != b(0) || a(1) != b(1))
  }

  test("baseline index: bijective over upper-triangular pairs incl autos") {
    val na = 8
    val pairs = for (a1 <- 0 until na; a2 <- a1 until na) yield (a1, a2)
    val idx = pairs.toDF("a1", "a2")
      .select(Uvw.baselineIndex(col("a1"), col("a2"), na).as("b"))
      .as[Long].collect().toSeq
    assert(idx.distinct.length == pairs.length)
    assert(idx.min == 0 && idx.max == pairs.length - 1)
  }

  test("NUM_POLY != 0 (time-variable phase centre) is rejected") {
    // mirrors fixvis.py:213-218
    val main = Seq((5.0e6, 0, 1, 0))
      .toDF("TIME_CENTROID", "ANTENNA1", "ANTENNA2", "FIELD_ID")
    val field = Seq((0, 1, Seq(Seq(0.7, 0.2))))
      .toDF("FIELD_ID", "NUM_POLY", "PHASE_DIR")
    val ant = Seq((0, Seq(0.0, 0.0, 0.0)), (1, Seq(100.0, 0.0, 0.0)))
      .toDF("ANTENNA_ID", "POSITION")
    val e = intercept[IllegalArgumentException] {
      Uvw.withSynthUvw(main, field, ant)
    }
    assert(e.getMessage.contains("NUM_POLY"))
  }

  test("mislabeled ANTENNA POSITION measure is rejected, not miscomputed") {
    // mirrors fixvis.py:206-210 — the reference reads QuantumUnits +
    // MEASINFO.Ref and hands them to casacore; our geometry ASSUMES
    // ITRF metres, so a table declaring otherwise must raise
    val wrongFrame = Seq((0, Seq(0.0, 0.0, 0.0), "WGS84", Seq("m", "m", "m")))
      .toDF("ANTENNA_ID", "POSITION", "POSITION_FRAME", "POSITION_UNITS")
    val e1 = intercept[IllegalArgumentException](Uvw.positionMap(wrongFrame))
    assert(e1.getMessage.contains("WGS84"))
    val wrongUnits = Seq((0, Seq(0.0, 0.0, 0.0), "ITRF", Seq("km", "km", "km")))
      .toDF("ANTENNA_ID", "POSITION", "POSITION_FRAME", "POSITION_UNITS")
    val e2 = intercept[IllegalArgumentException](Uvw.positionMap(wrongUnits))
    assert(e2.getMessage.contains("km"))
    // correctly-declared and undeclared (MS-default) tables both pass
    val ok = Seq((0, Seq(1.0, 2.0, 3.0), "itrf", Seq("m", "m", "m")))
      .toDF("ANTENNA_ID", "POSITION", "POSITION_FRAME", "POSITION_UNITS")
    assert(Uvw.positionMap(ok)(0).toSeq == Seq(1.0, 2.0, 3.0))
    val bare = Seq((0, Seq(1.0, 2.0, 3.0))).toDF("ANTENNA_ID", "POSITION")
    assert(Uvw.positionMap(bare)(0).toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("fused fixvis: the averaging write recomputes UVW, no staging or main_fixed left") {
    val base = "/tmp/graft_test/fixvis_fused"
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val ms = s"$base/in.ms"
    // a one-row MS whose stored UVW is deliberately wrong
    import VisAggregator.Cpx
    Seq((5.0e6, 2.0, 5.0e6, 2.0, 0, 1, 0, 0, 0, Seq(999.0, 999.0, 999.0),
      Seq(1.0), Seq(1.0), Seq(Seq(Cpx(1f, 0f))), Seq(Seq(false)), false))
      .toDF("TIME", "INTERVAL", "TIME_CENTROID", "EXPOSURE", "ANTENNA1",
        "ANTENNA2", "FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "UVW",
        "WEIGHT", "SIGMA", "DATA", "FLAG", "FLAG_ROW")
      .write.parquet(s"$ms/main")
    Seq((0, 1, Seq(1.4e9), Seq(1.0e6), Seq(1.0e6), Seq(1.0e6)))
      .toDF("SPECTRAL_WINDOW_ID", "NUM_CHAN", "CHAN_FREQ", "CHAN_WIDTH",
        "EFFECTIVE_BW", "RESOLUTION")
      .write.parquet(s"$ms/SPECTRAL_WINDOW")
    Seq((0, 0, 0)).toDF("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID")
      .write.parquet(s"$ms/DATA_DESCRIPTION")
    Seq((0, 0, Seq(Seq(0.7, 0.2)))).toDF("FIELD_ID", "NUM_POLY", "PHASE_DIR")
      .write.parquet(s"$ms/FIELD")
    Seq((0, Seq(0.0, 0.0, 0.0)), (1, Seq(100.0, 0.0, 0.0)))
      .toDF("ANTENNA_ID", "POSITION")
      .write.parquet(s"$ms/ANTENNA")
    val out = s"$base/out.ms"
    Timechannel.run(spark, ms, out, Timechannel.Args(timeBinSecs = 2.0,
      chanBinSize = 1, dataCols = Seq("DATA" -> "DATA")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/main_fixed")))
    assert(new java.io.File(base).list().sorted.toSeq == Seq("in.ms", "out.ms"))
    val row = spark.read.parquet(s"$out/main")
      .select("TIME_CENTROID", "UVW").as[(Double, Seq[Double])].collect()
    assert(row.length == 1 && row(0)._1 == 5.0e6)
    val expect = Uvw.baselineUvw(-100.0, 0.0, 0.0, 0.7, 0.2, 5.0e6)
    (0 until 3).foreach(i => assert(math.abs(row(0)._2(i) - expect(i)) < 1e-9))
  }

  test("subset invariance: synthesis from a row subset matches the full frame") {
    // mirrors test_fixvis.py:102-111 — drop rows, shuffle, re-synthesize:
    // common (time, baseline) keys must get identical UVWs.
    val rows = for (t <- 0 until 4; a1 <- 0 until 6; a2 <- a1 until 6)
      yield (5.0e6 + t * 3.0e4, a1, a2, 0)
    val full = rows.toDF("TIME_CENTROID", "ANTENNA1", "ANTENNA2", "FIELD_ID")
    val subset = full.sample(withReplacement = false, 0.8, seed = 7)
      .orderBy(rand(11)) // shuffled
    val field = Seq((0, Seq(Seq(0.7, 0.2)))).toDF("FIELD_ID", "PHASE_DIR")
    val ant = (0 until 6)
      .map(a => (a, Seq(a * 100.0, a * -50.0, a * 25.0)))
      .toDF("ANTENNA_ID", "POSITION")
    val key = Seq("TIME_CENTROID", "ANTENNA1", "ANTENNA2")
    val fullUvw = Uvw.withSynthUvw(full, field, ant)
      .select(col("TIME_CENTROID"), col("ANTENNA1"), col("ANTENNA2"),
        col("SYNTH_UVW").as("FULL_UVW"))
    val subUvw = Uvw.withSynthUvw(subset, field, ant)
    val joined = subUvw.join(fullUvw, key)
    assert(joined.count() == subset.count())
    assert(joined.filter(col("SYNTH_UVW") =!= col("FULL_UVW")).count() == 0)
  }
}
