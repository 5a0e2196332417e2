package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** UVW synthesis (SURVEY §2.7 F5, §2.10 U1): recompute baseline UVW
  * coordinates from antenna ECEF positions, the phase-centre direction
  * and the observation time — the casacore-`measures` replacement for
  * the reference's fixvis pass
  * (/root/reference/xova/apps/xova/fixvis.py:105-193, convention "Rau
  * 2013, same as CASA fixvis", fixvis.py:184-190).
  *
  * Geometry (standard interferometry texts — Thompson/Moran/Swenson
  * ch. 4; IAU 1982 GMST polynomial per USNO circulars):
  *
  *   H = GMST(t) − α   (Greenwich hour angle of the phase centre;
  *                      ECEF x-axis pierces the Greenwich meridian)
  *   u =  sin(H)·Lx + cos(H)·Ly
  *   v = −sin(δ)·cos(H)·Lx + sin(δ)·sin(H)·Ly + cos(δ)·Lz
  *   w =  cos(δ)·cos(H)·Lx − cos(δ)·sin(H)·Ly + sin(δ)·Lz
  *
  * with (Lx,Ly,Lz) = pos(ANTENNA1) − pos(ANTENNA2) (the reference's
  * station_uv[a1] − station_uv[a2]; the per-station reference offset
  * cancels in the difference). The rotation preserves |L| — one of the
  * tested invariants.
  *
  * Execution shape: the antenna POSITION table (≤ thousands of rows) is
  * broadcast-joined twice (A1/A2 position lookups) and the GMST
  * polynomial + rotation are pure BUILT-IN column arithmetic
  * (sin/cos/radians/% — all codegen'd, VERDICT r10 #5 retired the
  * scalar UDF that used to close over a collected position map);
  * synthesis is a per-row projection inside whole-stage codegen — no
  * shuffle, trivially parallel at 100 TB (the reference is forced to
  * run this sequentially because casacore measures is not thread-safe,
  * fixvis.py:129-131). [[fixvis]] applies it to the averaged frame of
  * timechannel and BDA inside their one `main` write, so the output
  * main table is written once. The scalar [[gmstRad]]/[[baselineUvw]]
  * remain as the spec'd reference semantics; the column form mirrors
  * their association order term for term, and the oracle's 0.1 mm grid
  * absorbs the ≤1 ulp libm-vs-JVM trig spread either way.
  */
object Uvw {

  /** IAU 1982 GMST, radians, from an MJD-seconds epoch (UT1≈UTC). */
  def gmstRad(mjdSec: Double): Double = {
    val d = (mjdSec / 86400.0 + 2400000.5) - 2451545.0
    val t = d / 36525.0
    val t2 = t * t
    val t3 = t2 * t
    val deg = 280.46061837 + 360.98564736629 * d + 0.000387933 * t2 -
      t3 / 38710000.0
    math.toRadians(deg % 360.0)
  }

  /** Dense UVW of one baseline at one time (pure function — the
    * subset-invariance property of fixvis.py tests 102-111 holds by
    * construction).
    */
  def baselineUvw(lx: Double, ly: Double, lz: Double,
                  ra: Double, dec: Double, mjdSec: Double): Array[Double] = {
    val h = gmstRad(mjdSec) - ra
    val sinH = math.sin(h); val cosH = math.cos(h)
    val sinD = math.sin(dec); val cosD = math.cos(dec)
    Array(
      sinH * lx + cosH * ly,
      -sinD * cosH * lx + sinD * sinH * ly + cosD * lz,
      cosD * cosH * lx - cosD * sinH * ly + sinD * lz)
  }

  /** F1: quadratic baseline pairing (fixvis.py:39-71) as pure column
    * arithmetic: s·(−s + 2na + 1)/2 + |a1 − a2|, s = min(a1, a2).
    */
  def baselineIndex(a1: Column, a2: Column, na: Int): Column = {
    val s = least(a1, a2)
    (s * (-s + (2 * na + 1))).divide(2).cast("long") + abs(a1 - a2)
  }

  /** [[gmstRad]] as a pure column expression — identical literals and
    * association order, so the only per-platform spread is ≤1 ulp of
    * libm trig (far below the oracle's 0.1 mm grid).
    */
  def gmstRadCol(mjdSec: Column): Column = {
    val d = (mjdSec / 86400.0 + 2400000.5) - 2451545.0
    val t = d / 36525.0
    val deg = lit(280.46061837) + lit(360.98564736629) * d +
      lit(0.000387933) * (t * t) - ((t * t) * t) / 38710000.0
    radians(deg % 360.0)
  }

  /** [[baselineUvw]] as a pure column expression (array(u, v, w)) —
    * all built-ins, fully inside whole-stage codegen (codegen CSE
    * shares the sin/cos subterms across the three components).
    */
  def baselineUvwCols(lx: Column, ly: Column, lz: Column,
                      ra: Column, dec: Column, mjdSec: Column): Column = {
    val h = gmstRadCol(mjdSec) - ra
    val sinH = sin(h); val cosH = cos(h)
    val sinD = sin(dec); val cosD = cos(dec)
    array(
      sinH * lx + cosH * ly,
      (-sinD) * cosH * lx + sinD * sinH * ly + cosD * lz,
      cosD * cosH * lx - cosD * sinH * ly + sinD * lz)
  }

  /** Collect the ANTENNA POSITION map (tiny dimension table),
    * validating the position measure the way the reference does
    * (fixvis.py:206-210 reads the POSITION column's QuantumUnits +
    * MEASINFO.Ref keywords): the geometry above assumes ITRF metres, so
    * an ANTENNA table that DECLARES another frame or unit — via the
    * optional POSITION_FRAME (string) / POSITION_UNITS (array<string>)
    * columns, our parquet stand-in for the casacore column keywords —
    * is rejected instead of yielding silently wrong UVWs. Tables
    * without the declaration columns are taken as ITRF metres (the MS
    * convention, and what the fixture generator writes).
    */
  def positionMap(antenna: DataFrame): Map[Int, Array[Double]] = {
    val cols = antenna.columns.toSet
    val rows = antenna.select(
      col("ANTENNA_ID"), col("POSITION"),
      (if (cols("POSITION_FRAME")) col("POSITION_FRAME")
       else lit("ITRF")).as("_frame"),
      (if (cols("POSITION_UNITS")) col("POSITION_UNITS")
       else array(lit("m"), lit("m"), lit("m"))).as("_units")).collect()
    rows.foreach { r =>
      val frame = r.getString(2)
      require(frame != null && frame.equalsIgnoreCase("ITRF"),
        s"ANTENNA ${r.getInt(0)}: POSITION frame '$frame' is not ITRF — " +
          "refusing to synthesize UVWs from a non-ECEF frame")
      val units = r.getSeq[String](3)
      require(units == Seq("m", "m", "m"),
        s"ANTENNA ${r.getInt(0)}: POSITION units [${units.mkString(", ")}] " +
          "are not metres — refusing to synthesize UVWs")
    }
    rows.map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
  }

  /** Adds SYNTH_UVW to a main-table frame: per-row recomputation from
    * TIME_CENTROID + the FIELD phase centre (broadcast join on the tiny
    * FIELD table).
    */
  def withSynthUvw(main: DataFrame, field: DataFrame,
                   antenna: DataFrame): DataFrame = {
    // Time-variable phase centres (polynomial PHASE_DIR) would need the
    // polynomial evaluated per time — reject them exactly like the
    // reference (fixvis.py:213-218) instead of silently using term 0.
    if (field.columns.contains("NUM_POLY")) {
      val nBad = field.filter(col("NUM_POLY") =!= 0).count()
      require(nBad == 0,
        s"$nBad FIELD row(s) with NUM_POLY != 0: time-variable phase " +
          "centres are not supported for UVW synthesis")
    }
    val dirs = field.select(col("FIELD_ID"),
      element_at(element_at(col("PHASE_DIR"), 1), 1).as("_RA"),
      element_at(element_at(col("PHASE_DIR"), 1), 2).as("_DEC"))
    // frame/unit validation gate (the U1 measure check) — the collected
    // map itself is no longer needed: positions reach the per-row math
    // via two broadcast joins, keeping the synthesis itself pure
    // codegen'd column arithmetic
    positionMap(antenna)
    val pos = antenna.select(col("ANTENNA_ID"), col("POSITION"))
    def posAs(key: String, as: String) = broadcast(
      pos.select(col("ANTENNA_ID").as(key), col("POSITION").as(as)))
    def dl(i: Int) =
      element_at(col("_P1"), i) - element_at(col("_P2"), i)
    // LEFT joins + fail-on-null rather than inner joins: a main row
    // whose ANTENNA1/ANTENNA2 has no POSITION row must fail loudly
    // (the pre-join-rewrite UDF threw NoSuchElementException), not be
    // silently dropped — corrupt input should error, not shrink the
    // output. raise_error is codegen'd, so the guard costs one null
    // check per row inside the same whole-stage span.
    def failNull(ant: String, p: String) =
      when(col(p).isNull, raise_error(concat(
        lit(s"$ant="), col(ant).cast("string"),
        lit(" has no POSITION row in the ANTENNA table")))
        .cast("array<double>"))
        .otherwise(col(p))
    main.join(broadcast(dirs), "FIELD_ID")
      .join(posAs("ANTENNA1", "_P1"), Seq("ANTENNA1"), "left")
      .join(posAs("ANTENNA2", "_P2"), Seq("ANTENNA2"), "left")
      .withColumn("_P1", failNull("ANTENNA1", "_P1"))
      .withColumn("_P2", failNull("ANTENNA2", "_P2"))
      .withColumn("SYNTH_UVW",
        baselineUvwCols(dl(1), dl(2), dl(3),
          col("_RA"), col("_DEC"), col("TIME_CENTROID")))
      .drop("_RA", "_DEC", "_P1", "_P2")
  }

  /** U1 on the averaged frame (fixvis.py:196-265, app.py:122-128): UVW
    * recomputed at the averaged TIME_CENTROIDs from the FIELD/ANTENNA
    * tables of the input MS at `inRoot` (the reference default; the
    * gates run here, before any write), or with `averageUvw` the
    * averaged UVWs kept, with the reference's warning.
    */
  def fixvis(avg: DataFrame, inRoot: String, averageUvw: Boolean): DataFrame =
    if (averageUvw) {
      println("[xova] WARNING: output UVWs are averaged coordinates, " +
        "not recomputed at the new time centroids (app.py:126-128)")
      avg
    } else {
      val read = avg.sparkSession.read
      withSynthUvw(avg, read.parquet(s"$inRoot/FIELD"),
        read.parquet(s"$inRoot/ANTENNA"))
        .withColumn("UVW", col("SYNTH_UVW")).drop("SYNTH_UVW")
    }
}
