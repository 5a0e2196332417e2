package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ms.{MsTables, MsWriter}
import graft.ops.{Flags, TimeAvg, Timechannel}

/** Real MS-domain operators over the deterministic parquet MS fixture
  * (graft.ms.SyntheticMs), each with an exactly-matching DuckDB oracle.
  *
  * Exactness design: fixture values live on decimal grids (re/im = k/1000
  * stored float32, weights/sigmas = m/100, uvw = k/100), so
  * `CAST(round(v*grid) AS BIGINT)` recovers identical integers on both
  * engines and every weighted sum below is **pure integer arithmetic** —
  * the flag-aware dual-population averaging semantics get bit-exact
  * hash checks with zero float-ordering risk. Quotients are emitted only
  * where both engines provably divide identical operands (sums of exact
  * binary doubles).
  *
  * These entries run the averaging at exploded (row,chan,corr) grain so
  * DuckDB can mirror them; the production path (the VisAvgAgg/RowAvgAgg
  * kernels in graft.expressions) keeps the nested arrays and aggregates
  * in a single shuffle — the explode here is oracle scaffolding, not the
  * scale architecture.
  */
object MsQueries {
  type Q = (SparkSession, String) => DataFrame

  // SyntheticMs.root, so a scale probe's N× fixture (GRAFT_MS_ROOT +
  // GRAFT_MS_NTIME) is oracle-checked against ITSELF — with the override
  // unset this is the committed fixture
  private val MS = graft.ms.SyntheticMs.root
  private def rp(t: String) = s"read_parquet('$MS/$t/*.parquet')"

  private val keys =
    Seq("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1", "ANTENNA2", "BIN")

  /** Shared input: P1 autocorr filter + P4 derived row flag (as FROW) +
    * W2 grid time bins. Mirrored by [[prepSql]].
    */
  private def prepped(s: SparkSession, binSecs: Double): DataFrame =
    TimeAvg.assignGrid(
      Flags.filterAutocorr(MsTables.main(s))
        .withColumn("FROW", Flags.derivedFlagRow),
      binSecs)

  private[queries] def prepSql(binSecs: String): String =
    s"""WITH m AS (
          SELECT *, list_aggregate(flatten(FLAG), 'bool_and') AS FROW
          FROM ${rp("main")} WHERE ANTENNA1 <> ANTENNA2),
        t0 AS (
          SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, min(TIME) AS T0
          FROM m GROUP BY ALL),
        p AS (
          SELECT m.*, CAST(floor((TIME - T0) / $binSecs) AS INTEGER) AS BIN
          FROM m JOIN t0 USING (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER))"""

  /** Flat-grain flag-aware weighted visibility average (A1/A2 kernel),
    * parameterized by data column (P5) and channel bin size (A2).
    * Output grain: (group, baseline, time bin, channel bin, corr).
    */
  private def visFlat(s: SparkSession, dataCol: String, chanBin: Int): DataFrame =
    visFlatFrom(prepped(s, 60000.0), dataCol, chanBin)

  /** The (chan, corr)-exploded integer-lifted sample cells the A1/A2
    * kernel aggregates — shared by the batch/st2 grain (BIN in
    * `carry`) and the st10 event-time grain (TS in `carry`).
    *
    * r18 optimization (guide §2.3 "project before the exchange",
    * applied to the Generate): the previous shape posexploded DATA and
    * then CA while carrying the FULL nested FLAG and WEIGHT_SPECTRUM
    * arrays through BOTH Generates so the final projection could index
    * `FLAG[CHAN][CORR]` — every (row,chan,corr) output row copied both
    * nchan×ncorr arrays (~64× width amplification at the fixture
    * shapes, dominating the kernel's CPU in st2/st10). Now the three
    * outer arrays are zipped BEFORE the first explode, so Generate #1
    * carries only the per-chan slice (ncorr cells) and Generate #2 only
    * scalars; the per-cell values come out of the zipped struct instead
    * of re-walking the nested arrays. arrays_zip/posexplode/struct
    * access all stay inside whole-stage codegen. Values are identical:
    * the fixture/MS shape contract keeps DATA, FLAG and WEIGHT_SPECTRUM
    * congruent (same nchan, ncorr), so zip never pads and the iteration
    * order is exactly the old posexplode order. Oracle-gated (ms_a1/a2,
    * ms_p5, st2, st10 hashes unchanged).
    */
  private[graft] def visCells(p: DataFrame, dataCol: String,
      chanBin: Int, carry: Seq[String]): DataFrame =
    p.select((carry :+ "FROW").map(col) ++ Seq(
        posexplode(arrays_zip(col(dataCol).as("CA"), col("FLAG").as("FLC"),
          col("WEIGHT_SPECTRUM").as("WSC"))).as(Seq("CHAN", "Z"))): _*)
      .select((carry :+ "FROW").map(col) ++ Seq(
        col("CHAN"),
        posexplode(arrays_zip(col("Z.CA").as("V"), col("Z.FLC").as("FL"),
          col("Z.WSC").as("WS"))).as(Seq("CORR", "C"))): _*)
      .withColumn("FL", col("C.FL"))
      .withColumn("WI", expr("CAST(round(C.WS * 100) AS BIGINT)"))
      .withColumn("VR", expr("CAST(round(C.V.re * 1000) AS BIGINT)"))
      .withColumn("VI", expr("CAST(round(C.V.im * 1000) AS BIGINT)"))
      .withColumn("EFF", !col("FROW") && !col("FL"))
      .withColumn("CHAN_BIN", expr(s"CAST(CHAN div $chanBin AS INT)"))

  /** The dual-population (effective/nominal) aggregate columns. */
  private[graft] val visAggExprs: Seq[Column] = Seq(
    count(lit(1)).as("n_samp"),
    sum(when(col("EFF"), 1L).otherwise(0L)).as("n_unflagged"),
    sum(when(col("EFF"), col("VR") * col("WI"))).as("re_eff"),
    sum(when(col("EFF"), col("VI") * col("WI"))).as("im_eff"),
    sum(when(col("EFF"), col("WI"))).as("w_eff"),
    sum(col("VR") * col("WI")).as("re_nom"),
    sum(col("VI") * col("WI")).as("im_nom"),
    sum(col("WI")).as("w_nom"))

  /** The population pick (all-flagged bin ⇒ nominal) as output cols. */
  private[graft] val visOutExprs: Seq[Column] = Seq(
    col("n_samp"),
    (col("n_unflagged") === 0L).as("flag_out"),
    when(col("n_unflagged") > 0, col("re_eff")).otherwise(col("re_nom")).as("re_num"),
    when(col("n_unflagged") > 0, col("im_eff")).otherwise(col("im_nom")).as("im_num"),
    when(col("n_unflagged") > 0, col("w_eff")).otherwise(col("w_nom")).as("w_den"))

  /** Same kernel over an already-prepped frame (FROW + BIN assigned) —
    * shared by the batch entries and the streaming st2 entry, which
    * preps via a static T0 pre-pass + stream-static join.
    */
  private[queries] def visFlatFrom(p: DataFrame, dataCol: String,
                                   chanBin: Int): DataFrame = {
    val outKeys = keys :+ "CHAN_BIN" :+ "CORR"
    visCells(p, dataCol, chanBin, keys)
      .groupBy(outKeys.map(col): _*)
      .agg(visAggExprs.head, visAggExprs.tail: _*)
      .select(outKeys.map(col) ++ visOutExprs: _*)
  }

  private[queries] def visFlatSql(dataCol: String, chanBin: Int): String =
    s"""${prepSql("60000.0")},
        cells AS (
          SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
                 CAST(c.chan // $chanBin AS INTEGER) AS CHAN_BIN,
                 CAST(k.corr AS INTEGER) AS CORR,
                 (NOT FROW AND NOT FLAG[c.chan+1][k.corr+1]) AS EFF,
                 CAST(round($dataCol[c.chan+1][k.corr+1].re * 1000) AS BIGINT) AS VR,
                 CAST(round($dataCol[c.chan+1][k.corr+1].im * 1000) AS BIGINT) AS VI,
                 CAST(round(WEIGHT_SPECTRUM[c.chan+1][k.corr+1] * 100) AS BIGINT) AS WI
          FROM p,
               LATERAL (SELECT unnest(range(len($dataCol))) AS chan) c,
               LATERAL (SELECT unnest(range(len($dataCol[1]))) AS corr) k)
        SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
               CHAN_BIN, CORR,
               count(*) AS n_samp,
               (count(*) FILTER (EFF) = 0) AS flag_out,
               CAST(CASE WHEN count(*) FILTER (EFF) > 0
                    THEN sum(VR * WI) FILTER (EFF) ELSE sum(VR * WI) END AS BIGINT) AS re_num,
               CAST(CASE WHEN count(*) FILTER (EFF) > 0
                    THEN sum(VI * WI) FILTER (EFF) ELSE sum(VI * WI) END AS BIGINT) AS im_num,
               CAST(CASE WHEN count(*) FILTER (EFF) > 0
                    THEN sum(WI) FILTER (EFF) ELSE sum(WI) END AS BIGINT) AS w_den
        FROM cells GROUP BY ALL"""

  /** The kernel on the ABSOLUTE (epoch-aligned) 60 000 s grid — the
    * st10 event-time-window oracle: same cells/dual-population SQL,
    * `WIN_START = floor(TIME / 60000) * 60000` replacing the
    * T0-anchored BIN (and therefore no t0 join at all).
    */
  private[queries] def visFlatAbsSql(dataCol: String, chanBin: Int): String =
    s"""WITH m AS (
          SELECT *, list_aggregate(flatten(FLAG), 'bool_and') AS FROW
          FROM ${rp("main")} WHERE ANTENNA1 <> ANTENNA2),
        p AS (
          SELECT m.*, CAST(floor(TIME / 60000.0) AS BIGINT) * 60000 AS WIN_START
          FROM m),
        cells AS (
          SELECT WIN_START, FIELD_ID, DATA_DESC_ID, SCAN_NUMBER,
                 ANTENNA1, ANTENNA2,
                 CAST(c.chan // $chanBin AS INTEGER) AS CHAN_BIN,
                 CAST(k.corr AS INTEGER) AS CORR,
                 (NOT FROW AND NOT FLAG[c.chan+1][k.corr+1]) AS EFF,
                 CAST(round($dataCol[c.chan+1][k.corr+1].re * 1000) AS BIGINT) AS VR,
                 CAST(round($dataCol[c.chan+1][k.corr+1].im * 1000) AS BIGINT) AS VI,
                 CAST(round(WEIGHT_SPECTRUM[c.chan+1][k.corr+1] * 100) AS BIGINT) AS WI
          FROM p,
               LATERAL (SELECT unnest(range(len($dataCol))) AS chan) c,
               LATERAL (SELECT unnest(range(len($dataCol[1]))) AS corr) k)
        SELECT WIN_START, FIELD_ID, DATA_DESC_ID, SCAN_NUMBER,
               ANTENNA1, ANTENNA2, CHAN_BIN, CORR,
               count(*) AS n_samp,
               (count(*) FILTER (EFF) = 0) AS flag_out,
               CAST(CASE WHEN count(*) FILTER (EFF) > 0
                    THEN sum(VR * WI) FILTER (EFF) ELSE sum(VR * WI) END AS BIGINT) AS re_num,
               CAST(CASE WHEN count(*) FILTER (EFF) > 0
                    THEN sum(VI * WI) FILTER (EFF) ELSE sum(VI * WI) END AS BIGINT) AS im_num,
               CAST(CASE WHEN count(*) FILTER (EFF) > 0
                    THEN sum(WI) FILTER (EFF) ELSE sum(WI) END AS BIGINT) AS w_den
        FROM cells GROUP BY ALL"""

  val queries: Map[String, Q] = Map(
    // S3/S4: subtable scan — SPW metadata scalars (tiny, broadcastable).
    // Reference: xova/apps/xova/app.py:185-193.
    "ms_s3_spw_scan" -> ((s, _) =>
      MsTables.spw(s).select(
        col("SPECTRAL_WINDOW_ID"), col("NUM_CHAN"),
        col("REF_FREQUENCY"), col("TOTAL_BANDWIDTH"),
        element_at(col("CHAN_FREQ"), 1).as("first_freq"),
        element_at(col("CHAN_FREQ"), col("NUM_CHAN")).as("last_freq"),
        element_at(col("CHAN_WIDTH"), 1).as("chan_width"))),

    // S2: column-pruned chunk-planning pre-scan — only TIME/INTERVAL/
    // UVW reach the parquet reader (plan-audited in DESIGN.md).
    // Reference: xova/apps/xova/app.py:162-165, chunking.py:13-65.
    "ms_s2_prescan" -> ((s, _) =>
      MsTables.main(s)
        .select(col("TIME"), col("INTERVAL"),
          (col("UVW")(0) * col("UVW")(0) + col("UVW")(1) * col("UVW")(1) +
            col("UVW")(2) * col("UVW")(2)).as("UVW2"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("TIME")).as("n_times"),
          sum(col("INTERVAL")).as("interval_total"),
          max(col("UVW2")).as("max_uvw2"))),

    // W1-real: TIME monotonicity check per (group, baseline) — the
    // invariant the reference validates before averaging.
    // Reference: xova/apps/xova/chunking.py:267,287-289.
    "ms_w1_monotonic" -> ((s, _) => {
      val w = Window
        .partitionBy("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER",
          "ANTENNA1", "ANTENNA2")
        .orderBy("TIME")
      MsTables.main(s)
        .withColumn("PREV", lag(col("TIME"), 1).over(w))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("PREV").isNotNull && col("TIME") < col("PREV"), 1L)
            .otherwise(0L)).as("n_violations"))
    }),

    // P1: autocorrelation filter on the real main table.
    // Reference: xova/apps/xova/arguments.py:219-220.
    "ms_p1_autocorr" -> ((s, _) =>
      Flags.filterAutocorr(MsTables.main(s))
        .groupBy("DATA_DESC_ID")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("ANTENNA1") * 64 + col("ANTENNA2")).as("n_baselines"))),

    // P3: scan selection — SCAN_NUMBER isin on the real main table.
    // Reference: xova/apps/xova/averaging.py:221-222.
    "ms_p3_scan_select" -> ((s, _) =>
      Flags.selectScans(MsTables.main(s), Seq(1))
        .groupBy("DATA_DESC_ID", "SCAN_NUMBER")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("TIME")).as("n_times"))),

    // P7: FLAG_CATEGORY synthesis — singleton category axis whose
    // payload equals FLAG. Reference: xova/apps/xova/averaging.py:80-94.
    "ms_p7_flag_category" -> ((s, _) =>
      Flags.flagCategory(MsTables.main(s))
        .groupBy("DATA_DESC_ID")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(size(col("FLAG_CATEGORY")).cast("long")).as("n_categories"),
          sum(when(element_at(col("FLAG_CATEGORY"), 1) === col("FLAG"), 1L)
            .otherwise(0L)).as("n_payload_match"))),

    // P4: FLAG_ROW recompute vs the (deliberately inconsistent) stored
    // column. Reference: xova/apps/xova/averaging.py:224-225.
    "ms_p4_flag_row" -> ((s, _) =>
      MsTables.main(s)
        .withColumn("DERIVED", Flags.derivedFlagRow)
        .groupBy("DATA_DESC_ID")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("FLAG_ROW"), 1L).otherwise(0L)).as("n_stored"),
          sum(when(col("DERIVED"), 1L).otherwise(0L)).as("n_derived"),
          sum(when(col("FLAG_ROW") =!= col("DERIVED"), 1L).otherwise(0L)).as("n_changed"))),

    // W2-real: accumulate-until-full time binning per baseline (window
    // cumsum). Reference: xova/apps/xova/chunking.py:107-166.
    "ms_w2_bin_running" -> ((s, _) =>
      TimeAvg.assignRunning(Flags.filterAutocorr(MsTables.main(s)), 30000.0)
        .groupBy("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "BIN")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("TIME")).as("n_times"),
          min(col("TIME")).as("bin_start"))),

    // A1 row-stage: dual-population (nominal vs effective) row averages.
    // TIME=mean(nom), INTERVAL=sum(nom), TIME_CENTROID=mean(eff),
    // EXPOSURE=sum(eff), UVW=weighted mean(eff), all falling back to the
    // nominal population when every row in the bin is flagged.
    // Reference: xova/apps/xova/averaging.py:125-173,251-255.
    "ms_a1_row_avg" -> ((s, _) => {
      val p = prepped(s, 60000.0)
        .withColumn("WROW",
          aggregate(transform(col("WEIGHT"),
            x => round(x * 100).cast("bigint")), lit(0L), (a, x) => a + x))
        .withColumn("U", expr("CAST(round(UVW[0] * 100) AS BIGINT)"))
        .withColumn("V", expr("CAST(round(UVW[1] * 100) AS BIGINT)"))
        .withColumn("W", expr("CAST(round(UVW[2] * 100) AS BIGINT)"))
      val eff = !col("FROW")
      p.groupBy(keys.map(col): _*)
        .agg(
          count(lit(1)).as("n_nom"),
          sum(when(eff, 1L).otherwise(0L)).as("n_eff"),
          sum(col("TIME")).as("t_sum"),
          sum(col("INTERVAL")).as("interval_sum"),
          sum(when(eff, col("TIME_CENTROID"))).as("tc_eff"),
          sum(col("TIME_CENTROID")).as("tc_nom"),
          sum(when(eff, col("EXPOSURE"))).as("exp_eff"),
          sum(col("EXPOSURE")).as("exp_nom"),
          sum(when(eff, col("U") * col("WROW"))).as("u_eff"),
          sum(col("U") * col("WROW")).as("u_nom"),
          sum(when(eff, col("V") * col("WROW"))).as("v_eff"),
          sum(col("V") * col("WROW")).as("v_nom"),
          sum(when(eff, col("W") * col("WROW"))).as("w_eff"),
          sum(col("W") * col("WROW")).as("w_nom"),
          sum(when(eff, col("WROW"))).as("wd_eff"),
          sum(col("WROW")).as("wd_nom"))
        .select(keys.map(col) ++ Seq(
          col("n_nom"), col("n_eff"),
          (col("t_sum") / col("n_nom")).as("time_avg"),
          col("interval_sum"),
          when(col("n_eff") > 0, col("tc_eff") / col("n_eff"))
            .otherwise(col("tc_nom") / col("n_nom")).as("centroid_avg"),
          when(col("n_eff") > 0, col("exp_eff")).otherwise(col("exp_nom")).as("exposure_sum"),
          (col("n_eff") === 0L).as("flag_row_out"),
          when(col("n_eff") > 0, col("u_eff")).otherwise(col("u_nom")).as("u_num"),
          when(col("n_eff") > 0, col("v_eff")).otherwise(col("v_nom")).as("v_num"),
          when(col("n_eff") > 0, col("w_eff")).otherwise(col("w_nom")).as("w_num"),
          when(col("n_eff") > 0, col("wd_eff")).otherwise(col("wd_nom")).as("w_den")): _*)
    }),

    // A1 vis-stage: the flag-aware weighted complex average itself,
    // chan_bin_size=1 (pure time averaging).
    // Reference: xova/apps/xova/averaging.py:251-255.
    "ms_a1_vis_avg" -> ((s, _) => visFlat(s, "DATA", 1)),

    // A1 weight/sigma-stage: WEIGHT = sum(eff), SIGMA via Σw²σ²
    // (emitted as exact scaled-integer sums).
    "ms_a1_weight_sigma" -> ((s, _) => {
      val p = prepped(s, 60000.0)
        .select((keys :+ "FROW").map(col) ++ Seq(
          col("SIGMA"), posexplode(col("WEIGHT")).as(Seq("CORR", "WV"))): _*)
        .withColumn("WM", round(col("WV") * 100).cast("bigint"))
        .withColumn("SM", expr("CAST(round(SIGMA[CORR] * 100) AS BIGINT)"))
      val eff = !col("FROW")
      p.groupBy((keys :+ "CORR").map(col): _*)
        .agg(
          count(lit(1)).as("n_nom"),
          sum(when(eff, 1L).otherwise(0L)).as("n_eff"),
          sum(when(eff, col("WM"))).as("w_eff"),
          sum(col("WM")).as("w_nom"),
          sum(when(eff, col("WM") * col("WM") * col("SM") * col("SM"))).as("s_eff"),
          sum(col("WM") * col("WM") * col("SM") * col("SM")).as("s_nom"))
        .select((keys :+ "CORR").map(col) ++ Seq(
          col("n_nom"), col("n_eff"),
          when(col("n_eff") > 0, col("w_eff")).otherwise(col("w_nom")).as("weight_sum"),
          when(col("n_eff") > 0, col("s_eff")).otherwise(col("s_nom")).as("sigma_num")): _*)
    }),

    // A1 spectrum-stage: the PRODUCTION kernel's averaged
    // WEIGHT_SPECTRUM (Σw per output cell) and SIGMA_SPECTRUM
    // (sqrt(Σw²σ²)/Σw) outputs, exploded to cell grain and
    // integer-lifted (×100 / ×10⁶ grids absorb sub-ulp accumulation-
    // order differences). Oracle recomputes both from the INPUT alone.
    // Reference passthrough: xova/apps/xova/averaging.py:167-173.
    "ms_a1_ws_out" -> ((s, _) => {
      val avg = Timechannel.averagedMain(MsTables.main(s), Timechannel.Args(
        timeBinSecs = 60000.0, chanBinSize = 4, dataCols = Seq("DATA" -> "DATA")))
      avg
        .select(col("FIELD_ID"), col("DATA_DESC_ID"), col("SCAN_NUMBER"),
          col("ANTENNA1"), col("ANTENNA2"), col("TIME").as("time_avg"),
          col("SIGMA_SPECTRUM"),
          posexplode(col("WEIGHT_SPECTRUM")).as(Seq("CHAN_BIN", "WR")))
        .select(col("FIELD_ID"), col("DATA_DESC_ID"), col("SCAN_NUMBER"),
          col("ANTENNA1"), col("ANTENNA2"), col("time_avg"),
          col("SIGMA_SPECTRUM"), col("CHAN_BIN"),
          posexplode(col("WR")).as(Seq("CORR", "WSV")))
        .withColumn("ws_i", expr("CAST(round(WSV * 100) AS BIGINT)"))
        .withColumn("ss_i",
          expr("CAST(round(SIGMA_SPECTRUM[CHAN_BIN][CORR] * 1000000) AS BIGINT)"))
        .select("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1",
          "ANTENNA2", "time_avg", "CHAN_BIN", "CORR", "ws_i", "ss_i")
    }),

    // A2: joint time+channel averaging (chan_bin_size=4) — weighted sums
    // stay associative so one pass covers both stages.
    "ms_a2_chan_avg" -> ((s, _) => visFlat(s, "DATA", 4)),

    // P5: --data-column FROM:TO rename-on-average (CORRECTED_DATA in).
    // Reference: xova/apps/xova/arguments.py:231-245.
    "ms_p5_rename_avg" -> ((s, _) => visFlat(s, "CORRECTED_DATA", 4)),

    // A3: SPW channel-metadata rebin — CHAN_FREQ=mean, CHAN_WIDTH=sum
    // per output channel. Reference: xova/apps/xova/averaging.py:357-406.
    "ms_a3_spw_rewrite" -> ((s, _) =>
      MsTables.spw(s)
        .select(col("SPECTRAL_WINDOW_ID"), col("NUM_CHAN"), col("CHAN_WIDTH"),
          posexplode(col("CHAN_FREQ")).as(Seq("C", "F")))
        .withColumn("CB", expr("CAST(C div 4 AS INT)"))
        .withColumn("CW", expr("CHAN_WIDTH[C]"))
        .groupBy("SPECTRAL_WINDOW_ID", "CB")
        .agg(
          count(lit(1)).as("n_chan_in"),
          (sum(col("F")) / count(lit(1))).as("freq_out"),
          sum(col("CW")).as("width_out"))),

    // J1: main ⋈ DATA_DESCRIPTION ⋈ SPECTRAL_WINDOW broadcast chain.
    // Reference: xova/apps/xova/averaging.py:306-308.
    "ms_j1_spw_join" -> ((s, _) =>
      MsTables.main(s)
        .join(broadcast(MsTables.ddid(s)), "DATA_DESC_ID")
        .join(broadcast(MsTables.spw(s)), "SPECTRAL_WINDOW_ID")
        .groupBy("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "NUM_CHAN", "TOTAL_BANDWIDTH")
        .agg(count(lit(1)).as("n_rows"))),

    // S7 + E1: the PRODUCTION pipeline end-to-end — read fixture MS, run
    // the real VisAvgAgg/RowAvgAgg kernels (A1/A2, chan_bin=4), write a parquet
    // MS (S7/S8/S9/S10), read it back, and emit per-DDID exact stats.
    // The oracle recomputes the same stats from the INPUT tables alone,
    // so this hash-checks the whole lifecycle: binning, dual-population
    // row averaging, per-cell flag semantics, and the writer.
    // Reference: xova/apps/xova/app.py:59-159.
    "ms_s7_roundtrip" -> ((s, _) => {
      val out = "/tmp/graft_out/tc_roundtrip"
      Timechannel.run(s, MS, out, Timechannel.Args(
        timeBinSecs = 60000.0, chanBinSize = 4,
        dataCols = Seq("DATA" -> "DATA"), force = true))
      s.read.parquet(s"$out/main")
        .groupBy("DATA_DESC_ID")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("INTERVAL")).as("interval_total"),
          sum(when(col("FLAG_ROW"), 1L).otherwise(0L)).as("n_flagged_rows"),
          min(col("TIME")).as("min_time"),
          max(col("TIME")).as("max_time"),
          sum(size(flatten(col("FLAG"))).cast("long")).as("n_cells"),
          sum(size(filter(flatten(col("FLAG")), x => x)).cast("long")).as("n_flag_cells"),
          // averaged spectra must survive the write at full cell grain
          sum(size(flatten(col("WEIGHT_SPECTRUM"))).cast("long")).as("n_ws_cells"),
          sum(size(flatten(col("SIGMA_SPECTRUM"))).cast("long")).as("n_ss_cells"))
    }),

    // S9: subtable passthrough — the written copies must match the input
    // subtables row-for-row. Reference: xova/apps/xova/subtables.py:9-37.
    "ms_s9_passthrough" -> ((s, _) => {
      val out = "/tmp/graft_out/tc_passthrough"
      // validate=false: this entry grades the passthrough copy; the
      // plan/monotonicity pass is covered by ms_s7_roundtrip
      Timechannel.run(s, MS, out, Timechannel.Args(
        timeBinSecs = 60000.0, chanBinSize = 4,
        dataCols = Seq("DATA" -> "DATA"), force = true, validate = false))
      Seq("ANTENNA", "FIELD", "POLARIZATION").map { t =>
        s.read.parquet(s"$out/$t")
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("tbl"), col("n_rows"))
      }.reduce(_ union _)
    }),

    // S10: overwrite guard — write once, refuse unforced overwrite,
    // allow forced. Reference: xova/apps/xova/app.py:152-159.
    "ms_s10_guard" -> ((s, _) => {
      import s.implicits._
      val out = "/tmp/graft_out/tc_guard"
      def run(force: Boolean): Boolean =
        try {
          // guard semantics are data-independent: one field + no plan
          // pass keeps the three-run entry cheap
          Timechannel.run(s, MS, out, Timechannel.Args(
            timeBinSecs = 60000.0, chanBinSize = 8,
            dataCols = Seq("DATA" -> "DATA"), fields = Seq(0), force = force,
            validate = false))
          true
        } catch { case _: IllegalStateException => false }
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(out), true)
      val first = run(force = false)
      val second = run(force = false)
      val forced = run(force = true)
      Seq((first, !second, forced))
        .toDF("first_write_ok", "guard_raised", "forced_ok")
    }),

    // P2-real: field selection by NAME resolved against the FIELD
    // subtable (both fixture fields are named 3C147, so name selection
    // resolves to {0, 1}). Reference: xova/apps/xova/arguments.py:12-24.
    "ms_p2_field_names" -> ((s, _) => {
      val ids = Flags.resolveFields(Seq(Right("3C147")), MsTables.field(s))
      Flags.selectFields(MsTables.main(s), ids)
        .groupBy("FIELD_ID")
        .agg(count(lit(1)).as("n_rows"))
    }),

    // P8: channel-range selection ("0~3,8") applied as a native array
    // slice before any averaging. Reference: xova/apps/xova/arguments.py
    // 42-74 (parse), wired through graft.ops.Flags.selectChannels.
    "ms_p8_chan_select" -> ((s, _) => {
      val kept = graft.cli.Arguments.expandChannels(
        graft.cli.Arguments.parseChannels("0~3,8"))
      Flags.selectChannels(MsTables.main(s), kept, Seq("DATA", "FLAG"))
        .select(col("DATA_DESC_ID"),
          size(col("DATA")).cast("long").as("nsel"),
          expr("CAST(aggregate(flatten(transform(DATA, r -> transform(r, v -> CAST(round(v.re * 1000) AS BIGINT)))), 0L, (a, x) -> a + x) AS BIGINT)").as("re_sum"),
          size(filter(flatten(col("FLAG")), x => x)).cast("long").as("n_flagged"))
        .groupBy("DATA_DESC_ID")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("nsel")).as("nchan_sel_sum"),
          sum(col("re_sum")).as("re_total"),
          sum(col("n_flagged")).as("n_flag_cells"))
    }),

    // U2 full: all three conformance classes of the `check` app as one
    // assertion row. Reference: xova/apps/xova/check.py:22-76.
    "ms_u2_check_full" -> ((s, _) => {
      import s.implicits._
      graft.ms.SyntheticMs.ensure(s)
      val r = graft.ops.Check.checkMs(s, graft.ms.SyntheticMs.root)
      Seq((r.dataShape, r.spwShape, r.polShape, r.ok))
        .toDF("data_shape_violations", "spw_shape_violations",
          "pol_shape_violations", "ok")
    }),

    // U2/J3: conformance check — DATA shape vs SPW/POL metadata.
    // Reference: xova/apps/xova/check.py:22-76.
    "ms_u2_check_shapes" -> ((s, _) =>
      MsTables.main(s)
        .join(broadcast(MsTables.ddid(s)), "DATA_DESC_ID")
        .join(broadcast(MsTables.spw(s).select("SPECTRAL_WINDOW_ID", "NUM_CHAN")),
          "SPECTRAL_WINDOW_ID")
        .join(broadcast(MsTables.pol(s).select("POLARIZATION_ID", "NUM_CORR")),
          "POLARIZATION_ID")
        .groupBy("DATA_DESC_ID")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(size(col("DATA")) =!= col("NUM_CHAN") ||
            size(element_at(col("DATA"), 1)) =!= col("NUM_CORR"), 1L)
            .otherwise(0L)).as("n_violations")))
  )

  val oracleSql: Map[String, String] = Map(
    "ms_s3_spw_scan" ->
      s"""SELECT SPECTRAL_WINDOW_ID, NUM_CHAN, REF_FREQUENCY, TOTAL_BANDWIDTH,
                 CHAN_FREQ[1] AS first_freq, CHAN_FREQ[NUM_CHAN] AS last_freq,
                 CHAN_WIDTH[1] AS chan_width
          FROM ${rp("SPECTRAL_WINDOW")}""",
    "ms_s2_prescan" ->
      s"""SELECT count(*) AS n_rows,
                 count(DISTINCT TIME) AS n_times,
                 sum(INTERVAL) AS interval_total,
                 max(UVW[1]*UVW[1] + UVW[2]*UVW[2] + UVW[3]*UVW[3]) AS max_uvw2
          FROM ${rp("main")}""",
    "ms_w1_monotonic" ->
      s"""SELECT count(*) AS n_rows,
                 CAST(sum(CASE WHEN PREV IS NOT NULL AND TIME < PREV
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
          FROM (
            SELECT TIME, lag(TIME) OVER (
              PARTITION BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER,
                           ANTENNA1, ANTENNA2
              ORDER BY TIME) AS PREV
            FROM ${rp("main")}) t""",
    "ms_p1_autocorr" ->
      s"""SELECT DATA_DESC_ID, count(*) AS n_rows,
                 count(DISTINCT ANTENNA1 * 64 + ANTENNA2) AS n_baselines
          FROM ${rp("main")} WHERE ANTENNA1 <> ANTENNA2 GROUP BY 1""",
    "ms_p3_scan_select" ->
      s"""SELECT DATA_DESC_ID, SCAN_NUMBER, count(*) AS n_rows,
                 count(DISTINCT TIME) AS n_times
          FROM ${rp("main")} WHERE SCAN_NUMBER IN (1) GROUP BY 1, 2""",
    "ms_p7_flag_category" ->
      s"""SELECT DATA_DESC_ID, count(*) AS n_rows,
                 CAST(sum(len([FLAG])) AS BIGINT) AS n_categories,
                 CAST(sum(CASE WHEN [FLAG][1] = FLAG THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_payload_match
          FROM ${rp("main")} GROUP BY 1""",
    "ms_p4_flag_row" ->
      s"""SELECT DATA_DESC_ID, count(*) AS n_rows,
                 CAST(sum(CASE WHEN FLAG_ROW THEN 1 ELSE 0 END) AS BIGINT) AS n_stored,
                 CAST(sum(CASE WHEN list_aggregate(flatten(FLAG), 'bool_and') THEN 1 ELSE 0 END) AS BIGINT) AS n_derived,
                 CAST(sum(CASE WHEN FLAG_ROW <> list_aggregate(flatten(FLAG), 'bool_and') THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
          FROM ${rp("main")} GROUP BY 1""",
    "ms_w2_bin_running" ->
      s"""SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, BIN,
                 count(*) AS n_rows, count(DISTINCT TIME) AS n_times,
                 min(TIME) AS bin_start
          FROM (
            SELECT *, CAST(floor((sum(INTERVAL) OVER (
                     PARTITION BY FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2
                     ORDER BY TIME
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - INTERVAL)
                   / 30000.0) AS INTEGER) AS BIN
            FROM ${rp("main")} WHERE ANTENNA1 <> ANTENNA2) t
          GROUP BY 1, 2, 3, 4""",
    "ms_a1_row_avg" ->
      s"""${prepSql("60000.0")},
          r AS (
            SELECT p.*,
                   list_sum(list_transform(WEIGHT, x -> CAST(round(x * 100) AS BIGINT))) AS WROW,
                   CAST(round(UVW[1] * 100) AS BIGINT) AS U,
                   CAST(round(UVW[2] * 100) AS BIGINT) AS V,
                   CAST(round(UVW[3] * 100) AS BIGINT) AS W
            FROM p)
          SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
                 count(*) AS n_nom,
                 count(*) FILTER (NOT FROW) AS n_eff,
                 sum(TIME) / count(*) AS time_avg,
                 sum(INTERVAL) AS interval_sum,
                 CASE WHEN count(*) FILTER (NOT FROW) > 0
                      THEN sum(TIME_CENTROID) FILTER (NOT FROW) / (count(*) FILTER (NOT FROW))
                      ELSE sum(TIME_CENTROID) / count(*) END AS centroid_avg,
                 CASE WHEN count(*) FILTER (NOT FROW) > 0
                      THEN sum(EXPOSURE) FILTER (NOT FROW) ELSE sum(EXPOSURE) END AS exposure_sum,
                 (count(*) FILTER (NOT FROW) = 0) AS flag_row_out,
                 CAST(CASE WHEN count(*) FILTER (NOT FROW) > 0
                      THEN sum(U * WROW) FILTER (NOT FROW) ELSE sum(U * WROW) END AS BIGINT) AS u_num,
                 CAST(CASE WHEN count(*) FILTER (NOT FROW) > 0
                      THEN sum(V * WROW) FILTER (NOT FROW) ELSE sum(V * WROW) END AS BIGINT) AS v_num,
                 CAST(CASE WHEN count(*) FILTER (NOT FROW) > 0
                      THEN sum(W * WROW) FILTER (NOT FROW) ELSE sum(W * WROW) END AS BIGINT) AS w_num,
                 CAST(CASE WHEN count(*) FILTER (NOT FROW) > 0
                      THEN sum(WROW) FILTER (NOT FROW) ELSE sum(WROW) END AS BIGINT) AS w_den
          FROM r GROUP BY 1, 2, 3, 4, 5, 6""",
    "ms_a1_vis_avg" -> visFlatSql("DATA", 1),
    "ms_a1_weight_sigma" ->
      s"""${prepSql("60000.0")},
          cells AS (
            SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN, FROW,
                   CAST(k.corr AS INTEGER) AS CORR,
                   CAST(round(WEIGHT[k.corr+1] * 100) AS BIGINT) AS WM,
                   CAST(round(SIGMA[k.corr+1] * 100) AS BIGINT) AS SM
            FROM p, LATERAL (SELECT unnest(range(len(WEIGHT))) AS corr) k)
          SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN, CORR,
                 count(*) AS n_nom,
                 count(*) FILTER (NOT FROW) AS n_eff,
                 CAST(CASE WHEN count(*) FILTER (NOT FROW) > 0
                      THEN sum(WM) FILTER (NOT FROW) ELSE sum(WM) END AS BIGINT) AS weight_sum,
                 CAST(CASE WHEN count(*) FILTER (NOT FROW) > 0
                      THEN sum(WM * WM * SM * SM) FILTER (NOT FROW)
                      ELSE sum(WM * WM * SM * SM) END AS BIGINT) AS sigma_num
          FROM cells GROUP BY 1, 2, 3, 4, 5, 6, 7""",
    "ms_a1_ws_out" ->
      s"""${prepSql("60000.0")},
          bins AS (
            SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
                   sum(TIME) / count(*) AS time_avg
            FROM p GROUP BY ALL),
          cells AS (
            SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
                   CAST(c.chan // 4 AS INTEGER) AS CHAN_BIN,
                   CAST(k.corr AS INTEGER) AS CORR,
                   (NOT FROW AND NOT FLAG[c.chan+1][k.corr+1]) AS EFF,
                   WEIGHT_SPECTRUM[c.chan+1][k.corr+1] AS W,
                   SIGMA_SPECTRUM[c.chan+1][k.corr+1] AS S
            FROM p,
                 LATERAL (SELECT unnest(range(len(DATA))) AS chan) c,
                 LATERAL (SELECT unnest(range(len(DATA[1]))) AS corr) k),
          agg AS (
            SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
                   CHAN_BIN, CORR,
                   CASE WHEN count(*) FILTER (EFF) > 0
                        THEN sum(W) FILTER (EFF) ELSE sum(W) END AS ws,
                   CASE WHEN count(*) FILTER (EFF) > 0
                        THEN sum(W * W * S * S) FILTER (EFF)
                        ELSE sum(W * W * S * S) END AS sig
            FROM cells GROUP BY ALL)
          SELECT a.FIELD_ID, a.DATA_DESC_ID, a.SCAN_NUMBER, a.ANTENNA1,
                 a.ANTENNA2, b.time_avg, a.CHAN_BIN, a.CORR,
                 CAST(round(ws * 100) AS BIGINT) AS ws_i,
                 CAST(round(CASE WHEN ws <> 0 THEN sqrt(sig) / ws ELSE 0 END
                            * 1000000) AS BIGINT) AS ss_i
          FROM agg a JOIN bins b
            USING (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN)""",
    "ms_a2_chan_avg" -> visFlatSql("DATA", 4),
    "ms_p5_rename_avg" -> visFlatSql("CORRECTED_DATA", 4),
    "ms_a3_spw_rewrite" ->
      s"""SELECT SPECTRAL_WINDOW_ID, CAST(c.i // 4 AS INTEGER) AS CB,
                 count(*) AS n_chan_in,
                 sum(CHAN_FREQ[c.i+1]) / count(*) AS freq_out,
                 sum(CHAN_WIDTH[c.i+1]) AS width_out
          FROM ${rp("SPECTRAL_WINDOW")},
               LATERAL (SELECT unnest(range(len(CHAN_FREQ))) AS i) c
          GROUP BY 1, 2""",
    "ms_s7_roundtrip" ->
      s"""${prepSql("60000.0")},
          bins AS (
            SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
                   count(*) FILTER (NOT FROW) AS n_eff,
                   sum(INTERVAL) AS interval_sum,
                   sum(TIME) / count(*) AS time_avg
            FROM p GROUP BY 1, 2, 3, 4, 5, 6),
          cells AS (
            SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
                   CAST(c.chan // 4 AS INTEGER) AS cb, CAST(k.corr AS INTEGER) AS corr,
                   (count(*) FILTER (NOT FROW AND NOT FLAG[c.chan+1][k.corr+1]) = 0) AS flag_out
            FROM p,
                 LATERAL (SELECT unnest(range(len(DATA))) AS chan) c,
                 LATERAL (SELECT unnest(range(len(DATA[1]))) AS corr) k
            GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
          flagcnt AS (
            SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(count(*) FILTER (flag_out) AS BIGINT) AS n_flag_cells
            FROM cells GROUP BY 1, 2, 3, 4, 5, 6)
          SELECT DATA_DESC_ID,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 sum(interval_sum) AS interval_total,
                 CAST(count(*) FILTER (n_eff = 0) AS BIGINT) AS n_flagged_rows,
                 min(time_avg) AS min_time,
                 max(time_avg) AS max_time,
                 CAST(sum(n_cells) AS BIGINT) AS n_cells,
                 CAST(sum(n_flag_cells) AS BIGINT) AS n_flag_cells,
                 CAST(sum(n_cells) AS BIGINT) AS n_ws_cells,
                 CAST(sum(n_cells) AS BIGINT) AS n_ss_cells
          FROM bins
          JOIN flagcnt USING (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN)
          GROUP BY 1""",
    "ms_s9_passthrough" ->
      s"""SELECT 'ANTENNA' AS tbl, CAST(count(*) AS BIGINT) AS n_rows FROM ${rp("ANTENNA")}
          UNION ALL
          SELECT 'FIELD', CAST(count(*) AS BIGINT) FROM ${rp("FIELD")}
          UNION ALL
          SELECT 'POLARIZATION', CAST(count(*) AS BIGINT) FROM ${rp("POLARIZATION")}""",
    "ms_s10_guard" ->
      "SELECT true AS first_write_ok, true AS guard_raised, true AS forced_ok",
    "ms_j1_spw_join" ->
      s"""SELECT DATA_DESC_ID, SPECTRAL_WINDOW_ID, NUM_CHAN, TOTAL_BANDWIDTH,
                 count(*) AS n_rows
          FROM ${rp("main")} m
          JOIN ${rp("DATA_DESCRIPTION")} d USING (DATA_DESC_ID)
          JOIN ${rp("SPECTRAL_WINDOW")} s USING (SPECTRAL_WINDOW_ID)
          GROUP BY 1, 2, 3, 4""",
    "ms_p2_field_names" ->
      s"""SELECT FIELD_ID, count(*) AS n_rows FROM ${rp("main")}
          WHERE FIELD_ID IN (SELECT FIELD_ID FROM ${rp("FIELD")}
                             WHERE NAME = '3C147')
          GROUP BY 1""",
    "ms_p8_chan_select" ->
      s"""WITH sel AS (SELECT unnest([0, 1, 2, 3, 8]) AS ci),
          r AS (
            SELECT DATA_DESC_ID,
                   (SELECT count(*) FROM sel WHERE ci < len(DATA)) AS nsel,
                   (SELECT CAST(coalesce(sum(x.v), 0) AS BIGINT) FROM (
                      SELECT CAST(round(DATA[s.ci+1][k.corr+1].re * 1000) AS BIGINT) AS v
                      FROM sel s, LATERAL (SELECT unnest(range(len(DATA[1]))) AS corr) k
                      WHERE s.ci < len(DATA)) x) AS re_sum,
                   (SELECT CAST(count(*) AS BIGINT) FROM (
                      SELECT 1 FROM sel s,
                        LATERAL (SELECT unnest(range(len(FLAG[1]))) AS corr) k
                      WHERE s.ci < len(FLAG) AND FLAG[s.ci+1][k.corr+1]) y) AS n_flagged
            FROM ${rp("main")})
          SELECT DATA_DESC_ID,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(nsel) AS BIGINT) AS nchan_sel_sum,
                 CAST(sum(re_sum) AS BIGINT) AS re_total,
                 CAST(sum(n_flagged) AS BIGINT) AS n_flag_cells
          FROM r GROUP BY 1""",
    "ms_u2_check_full" ->
      s"""WITH counts AS (
            SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM ${rp("main")} m
               JOIN ${rp("DATA_DESCRIPTION")} d USING (DATA_DESC_ID)
               JOIN ${rp("SPECTRAL_WINDOW")} s USING (SPECTRAL_WINDOW_ID)
               JOIN ${rp("POLARIZATION")} q USING (POLARIZATION_ID)
               WHERE len(m.DATA) <> s.NUM_CHAN OR len(m.DATA[1]) <> q.NUM_CORR)
                AS data_shape_violations,
              (SELECT CAST(count(*) AS BIGINT) FROM ${rp("SPECTRAL_WINDOW")}
               WHERE len(CHAN_WIDTH) <> NUM_CHAN OR len(CHAN_FREQ) <> NUM_CHAN
                  OR len(EFFECTIVE_BW) <> NUM_CHAN OR len(RESOLUTION) <> NUM_CHAN)
                AS spw_shape_violations,
              (SELECT CAST(count(*) AS BIGINT) FROM ${rp("POLARIZATION")}
               WHERE len(CORR_TYPE) <> NUM_CORR OR len(CORR_PRODUCT) <> NUM_CORR
                  OR len(list_filter(CORR_PRODUCT, p -> len(p) <> 2)) > 0)
                AS pol_shape_violations)
          SELECT *, (data_shape_violations = 0 AND spw_shape_violations = 0
                     AND pol_shape_violations = 0) AS ok
          FROM counts""",
    "ms_u2_check_shapes" ->
      s"""SELECT DATA_DESC_ID, count(*) AS n_rows,
                 CAST(sum(CASE WHEN len(DATA) <> NUM_CHAN OR len(DATA[1]) <> NUM_CORR
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
          FROM ${rp("main")} m
          JOIN ${rp("DATA_DESCRIPTION")} d USING (DATA_DESC_ID)
          JOIN (SELECT SPECTRAL_WINDOW_ID, NUM_CHAN FROM ${rp("SPECTRAL_WINDOW")}) s USING (SPECTRAL_WINDOW_ID)
          JOIN (SELECT POLARIZATION_ID, NUM_CORR FROM ${rp("POLARIZATION")}) q USING (POLARIZATION_ID)
          GROUP BY 1"""
  )
}
