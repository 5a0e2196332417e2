package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ms.{MsTables, SyntheticMs}
import graft.ops.{Timechannel, Uvw}

/** UVW synthesis operators (SURVEY F1/F5/U1) with DuckDB oracles.
  *
  * The GMST polynomial and rotation are mirrored in SQL with the same
  * literals and association order; outputs are rounded to 0.1 mm so the
  * only platform difference left — libm vs JVM sin/cos at ≤1 ulp — is
  * far below the grid (positions ≤ 2·10⁴ m ⇒ abs trig error ≤ 1e-11 m).
  */
object UvwQueries {
  type Q = (SparkSession, String) => DataFrame

  private val MS = SyntheticMs.root
  private def rp(t: String) = s"read_parquet('$MS/$t/*.parquet')"

  /** SQL fragment: (u,v,w) of (lx,ly,lz) toward (ra,dec) at mjd-sec t —
    * same shape as Uvw.baselineUvw / Uvw.gmstRad.
    */
  private def uvwSql(lx: String, ly: String, lz: String,
                     ra: String, dec: String, t: String): (String, String, String) = {
    val d = s"(($t / 86400.0 + 2400000.5) - 2451545.0)"
    val tc = s"($d / 36525.0)"
    val deg = s"(280.46061837 + 360.98564736629 * $d + 0.000387933 * ($tc * $tc) - (($tc * $tc) * $tc) / 38710000.0)"
    val h = s"(fmod($deg, 360.0) / 180.0 * pi() - $ra)"
    (s"(sin($h) * $lx + cos($h) * $ly)",
      s"((-sin($dec)) * cos($h) * $lx + sin($dec) * sin($h) * $ly + cos($dec) * $lz)",
      s"(cos($dec) * cos($h) * $lx - cos($dec) * sin($h) * $ly + sin($dec) * $lz)")
  }

  val queries: Map[String, Q] = Map(
    // F5 + F1: dense UVW synthesis per (field, time, baseline) + the
    // quadratic baseline index. Reference: fixvis.py:39-71,105-193.
    "ms_f5_uvw_synth" -> ((s, _) => {
      val m = MsTables.main(s)
        .select("FIELD_ID", "TIME_CENTROID", "ANTENNA1", "ANTENNA2")
        .distinct()
      Uvw.withSynthUvw(m, MsTables.field(s), MsTables.antenna(s))
        .select(
          col("FIELD_ID"), col("TIME_CENTROID"),
          col("ANTENNA1"), col("ANTENNA2"),
          Uvw.baselineIndex(col("ANTENNA1"), col("ANTENNA2"), 64).as("bl_idx"),
          // + 0.0 normalizes -0.0 → 0.0 (DuckDB round can emit the other sign)
          (round(element_at(col("SYNTH_UVW"), 1), 4) + lit(0.0)).as("u"),
          (round(element_at(col("SYNTH_UVW"), 2), 4) + lit(0.0)).as("v"),
          (round(element_at(col("SYNTH_UVW"), 3), 4) + lit(0.0)).as("w"))
    }),

    // U1: the fixms pass over a freshly averaged MS — UVW recomputed
    // from the averaged TIME_CENTROID inside the single `main` write
    // (Uvw.fixvis). Reference: fixvis.py:196-265, app.py:122-124.
    "ms_u1_fixms" -> ((s, _) => {
      val out = "/tmp/graft_out/tc_fixms"
      Timechannel.run(s, MS, out, Timechannel.Args(
        timeBinSecs = 60000.0, chanBinSize = 4,
        dataCols = Seq("DATA" -> "DATA"), force = true))
      s.read.parquet(s"$out/main")
        .select(col("DATA_DESC_ID"),
          round(element_at(col("UVW"), 1), 4).as("u"),
          round(element_at(col("UVW"), 2), 4).as("v"),
          round(element_at(col("UVW"), 3), 4).as("w"))
        .groupBy("DATA_DESC_ID")
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("u")).as("min_u"), max(col("u")).as("max_u"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"),
          min(col("w")).as("min_w"), max(col("w")).as("max_w"))
    })
  )

  val oracleSql: Map[String, String] = {
    val (u1, v1, w1) = uvwSql("lx", "ly", "lz", "ra", "dec", "TIME_CENTROID")
    val (u2, v2, w2) = uvwSql("lx", "ly", "lz", "ra", "dec", "TC")
    Map(
      "ms_f5_uvw_synth" ->
        s"""WITH m AS (
              SELECT DISTINCT FIELD_ID, TIME_CENTROID, ANTENNA1, ANTENNA2
              FROM ${rp("main")}),
            j AS (
              SELECT m.*,
                     f.PHASE_DIR[1][1] AS ra, f.PHASE_DIR[1][2] AS dec,
                     pa.POSITION[1] - pb.POSITION[1] AS lx,
                     pa.POSITION[2] - pb.POSITION[2] AS ly,
                     pa.POSITION[3] - pb.POSITION[3] AS lz
              FROM m
              JOIN ${rp("FIELD")} f USING (FIELD_ID)
              JOIN ${rp("ANTENNA")} pa ON pa.ANTENNA_ID = m.ANTENNA1
              JOIN ${rp("ANTENNA")} pb ON pb.ANTENNA_ID = m.ANTENNA2)
            SELECT FIELD_ID, TIME_CENTROID, ANTENNA1, ANTENNA2,
                   (least(ANTENNA1, ANTENNA2) *
                    (-least(ANTENNA1, ANTENNA2) + 129)) // 2
                     + abs(ANTENNA1 - ANTENNA2) AS bl_idx,
                   round($u1, 4) + 0.0 AS u, round($v1, 4) + 0.0 AS v, round($w1, 4) + 0.0 AS w
            FROM j""",

      "ms_u1_fixms" ->
        s"""${MsQueries.prepSql("60000.0")},
            bins AS (
              SELECT FIELD_ID, DATA_DESC_ID, ANTENNA1, ANTENNA2, SCAN_NUMBER, BIN,
                     CASE WHEN count(*) FILTER (NOT FROW) > 0
                          THEN sum(TIME_CENTROID) FILTER (NOT FROW)
                                 / (count(*) FILTER (NOT FROW))
                          ELSE sum(TIME_CENTROID) / count(*) END AS TC
              FROM p GROUP BY 1, 2, 3, 4, 5, 6),
            j AS (
              SELECT bins.*,
                     f.PHASE_DIR[1][1] AS ra, f.PHASE_DIR[1][2] AS dec,
                     pa.POSITION[1] - pb.POSITION[1] AS lx,
                     pa.POSITION[2] - pb.POSITION[2] AS ly,
                     pa.POSITION[3] - pb.POSITION[3] AS lz
              FROM bins
              JOIN ${rp("FIELD")} f USING (FIELD_ID)
              JOIN ${rp("ANTENNA")} pa ON pa.ANTENNA_ID = bins.ANTENNA1
              JOIN ${rp("ANTENNA")} pb ON pb.ANTENNA_ID = bins.ANTENNA2)
            SELECT DATA_DESC_ID,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   min(round($u2, 4)) AS min_u, max(round($u2, 4)) AS max_u,
                   min(round($v2, 4)) AS min_v, max(round($v2, 4)) AS max_v,
                   min(round($w2, 4)) AS min_w, max(round($w2, 4)) AS max_w
            FROM j GROUP BY 1"""
    )
  }
}
