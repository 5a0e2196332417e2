package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ms.{MsTables, SyntheticMs}
import graft.ops.{Bda, Chunking, Flags}

/** BDA operators (SURVEY A4/A5/A6/J2) over the parquet MS fixture, each
  * with an exactly-matching DuckDB oracle.
  *
  * Exactness: the decorrelation thresholds (sinc-inverse, trig products)
  * are computed ONCE in Scala and embedded as shortest-round-trip double
  * literals in both the Spark plan (`lit`) and the oracle SQL, with
  * identical expression shapes — so every derived double (bin widths,
  * divisor checks, bin ids) is the same IEEE value on both engines.
  * Emitted stats stick to integers and exactly-representable sums.
  *
  * Two parameter sets: [[sizingArgs]] (wide fov ⇒ channel factor varies
  * per baseline) and [[raggedArgs]] (narrow fov ⇒ time bins vary per
  * baseline; minNchan floors the channelisation).
  */
object BdaQueries {
  type Q = (SparkSession, String) => DataFrame

  private val MS = SyntheticMs.root
  private def rp(t: String) = s"read_parquet('$MS/$t/*.parquet')"

  val sizingArgs = Bda.Args(decorrelation = 0.99, maxFovDeg = 0.056,
    timeBinCapSecs = 90000.0, minNchan = 1, dataCols = Seq("DATA" -> "DATA"))
  val raggedArgs = Bda.Args(decorrelation = 0.99, maxFovDeg = 0.0057,
    timeBinCapSecs = 90000.0, minNchan = 2, dataCols = Seq("DATA" -> "DATA"))
  /** --include-auto-correlations for bda (arguments.py:111-114,
    * app.py:178): autocorr baselines have |uv| = 0, exercising the
    * BL_MAX = 0 sizing guard (time bin degenerates to the cap, channel
    * factor to the min_nchan floor).
    */
  val autocorrArgs = raggedArgs.copy(includeAutoCorrs = true)

  /** The SQL mirror of Bda.sizing and its bin join: CTEs `p` (filtered
    * main + FROW), `meta` (per-DDID SPW scalars), `sized` (per-baseline
    * BL_MAX / TIME_BIN_SECS / CHAN_BIN), `b` (p ⋈ sized + BIN).
    */
  private def sizedSql(a: Bda.Args): String = {
    val xStar = Bda.sincInv(math.sqrt(a.decorrelation))
    val sinFov = math.sin(math.toRadians(a.maxFovDeg))
    val kTime = math.Pi * Bda.EarthOmega * sinFov
    val kChan = xStar * Bda.SpeedOfLight / (math.Pi * sinFov)
    val autoFilter =
      if (a.includeAutoCorrs) "" else " WHERE ANTENNA1 <> ANTENNA2"
    s"""m AS (
          SELECT *, list_aggregate(flatten(FLAG), 'bool_and') AS FROW
          FROM ${rp("main")}$autoFilter),
        meta AS (
          SELECT d.DATA_DESC_ID, s.NUM_CHAN, s.TOTAL_BANDWIDTH,
                 s.CHAN_WIDTH[1] AS cw0, list_max(s.CHAN_FREQ) AS fmax
          FROM ${rp("DATA_DESCRIPTION")} d
          JOIN ${rp("SPECTRAL_WINDOW")} s USING (SPECTRAL_WINDOW_ID)),
        p AS (SELECT m.*, meta.NUM_CHAN AS NCHAN_IN, meta.TOTAL_BANDWIDTH,
                     meta.cw0, meta.fmax
              FROM m JOIN meta USING (DATA_DESC_ID)),
        sized AS (
          SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2,
                 any_value(NCHAN_IN) AS NCHAN_IN,
                 any_value(cw0) AS cw0, any_value(fmax) AS fmax,
                 max(sqrt(UVW[1]*UVW[1] + UVW[2]*UVW[2] + UVW[3]*UVW[3])) AS bl_max,
                 min(INTERVAL) AS dt_min
          FROM p GROUP BY 1, 2, 3, 4, 5),
        sz AS (
          SELECT *,
                 greatest(least(CASE WHEN bl_max = 0 THEN ${Double.MaxValue}
                                ELSE ($xStar * (${Bda.SpeedOfLight} / fmax))
                                  / ($kTime * bl_max) END,
                                ${a.timeBinCapSecs}), dt_min) AS time_bin_secs,
                 CAST(list_max(list_filter(range(1, NCHAN_IN + 1),
                   d -> NCHAN_IN % d = 0 AND
                        (d = 1 OR (d * cw0 <= CASE WHEN bl_max = 0
                                     THEN ${Double.MaxValue}
                                     ELSE $kChan / bl_max END
                                   AND NCHAN_IN / d >= ${a.minNchan}))))
                   AS INTEGER) AS chan_bin
          FROM sized),
        t0 AS (SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, min(TIME) AS T0
               FROM p GROUP BY 1, 2, 3),
        b AS (
          SELECT p.*, sz.time_bin_secs, sz.chan_bin,
                 CAST(floor((p.TIME - t0.T0) / sz.time_bin_secs) AS INTEGER) AS BIN
          FROM p
          JOIN sz USING (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2)
          JOIN t0 USING (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER))"""
  }

  /** Spark side of the same sizing: one row per (group, baseline). */
  private def sparkSized(s: SparkSession, a: Bda.Args): DataFrame =
    Bda.sizing(Chunking.planStats(Flags.select(MsTables.main(s), a)),
      MsTables.spw(s), MsTables.ddid(s), a)

  /** A5 at [[sizingArgs]]. */
  private def channelisations(s: SparkSession): Seq[(Int, Int, Int, Int)] =
    Bda.channelisations(sparkSized(s, sizingArgs))

  /** Per-DDID exact stats over the ragged averaged main table (A4 stage
    * 2), shared by the ragged and autocorr entries. `n_autocorr_rows`
    * proves the autocorr population is present (or absent) in the
    * averaged OUTPUT, not just the input.
    */
  private def raggedStats(s: SparkSession, a: Bda.Args): DataFrame =
    Bda.averagedMain(MsTables.main(s), MsTables.spw(s), MsTables.ddid(s), a)
      .groupBy("DATA_DESC_ID")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("ANTENNA1") === col("ANTENNA2"), 1L).otherwise(0L))
          .as("n_autocorr_rows"),
        sum(col("INTERVAL")).as("interval_total"),
        sum(when(col("FLAG_ROW"), 1L).otherwise(0L)).as("n_flagged_rows"),
        sum(col("NUM_CHAN").cast("long")).as("nchan_out_sum"),
        sum(size(flatten(col("FLAG"))).cast("long")).as("n_cells"),
        sum(size(filter(flatten(col("FLAG")), x => x)).cast("long")).as("n_flag_cells"))

  /** The DuckDB mirror of [[raggedStats]]. */
  private def raggedOracleSql(a: Bda.Args): String =
    s"""WITH ${sizedSql(a)},
        bins AS (
          SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
                 any_value(NCHAN_IN // chan_bin) AS nchan_out,
                 count(*) FILTER (NOT FROW) AS n_eff,
                 sum(INTERVAL) AS interval_sum
          FROM b GROUP BY 1, 2, 3, 4, 5, 6),
        cells AS (
          SELECT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN,
                 CAST(c.chan // chan_bin AS INTEGER) AS cb,
                 CAST(k.corr AS INTEGER) AS corr,
                 (count(*) FILTER (NOT FROW AND NOT FLAG[c.chan+1][k.corr+1]) = 0) AS flag_out
          FROM b,
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
               CAST(count(*) FILTER (ANTENNA1 = ANTENNA2) AS BIGINT) AS n_autocorr_rows,
               sum(interval_sum) AS interval_total,
               CAST(count(*) FILTER (n_eff = 0) AS BIGINT) AS n_flagged_rows,
               CAST(sum(nchan_out) AS BIGINT) AS nchan_out_sum,
               CAST(sum(n_cells) AS BIGINT) AS n_cells,
               CAST(sum(n_flag_cells) AS BIGINT) AS n_flag_cells
        FROM bins
        JOIN flagcnt USING (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1, ANTENNA2, BIN)
        GROUP BY 1"""

  val queries: Map[String, Q] = Map(
    // A4 stage 1: per-baseline decorrelation sizing — time bin width and
    // channel factorisation vary with |uv|.
    // Reference: xova/apps/xova/averaging.py:270-354.
    "ms_a4_bda_sizing" -> ((s, _) =>
      sparkSized(s, sizingArgs)
        .select("FIELD_ID", "DATA_DESC_ID", "SCAN_NUMBER", "ANTENNA1",
          "ANTENNA2", "TIME_BIN_SECS", "CHAN_BIN")),

    // A4 stage 2: the ragged averaged main table — per-DDID exact stats
    // (row counts, INTERVAL conservation, per-cell flag semantics,
    // per-row output channel counts).
    "ms_a4_bda_ragged" -> ((s, _) => raggedStats(s, raggedArgs)),

    // P1 inverse for bda: --include-auto-correlations keeps the
    // ANTENNA1 = ANTENNA2 baselines. |uv| = 0 exercises the BL_MAX = 0
    // sizing guard: time bin degenerates to the cap, channel factor to
    // the min_nchan floor; n_autocorr_rows > 0 proves the population
    // survives into the averaged output.
    // Reference: xova/apps/xova/arguments.py:111-114, app.py:178.
    "ms_a4_bda_autocorr" -> ((s, _) => raggedStats(s, autocorrArgs)),

    // A5: distinct channelisations of the BDA output, derived from the
    // per-baseline sizing (CHAN_BIN divides NUM_CHAN, so the output
    // counts are NUM_CHAN / CHAN_BIN — no need to materialize the
    // averaged arrays; the oracle computes the same way,
    // NCHAN_IN // chan_bin).
    // Reference: xova/apps/xova/averaging.py:409-433.
    "ms_a5_bda_channelisations" -> ((s, _) => s.createDataFrame(channelisations(s))
      .toDF("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID", "NUM_CHAN")),

    // A6 + F3: regenerated SPECTRAL_WINDOW rows — linspace grid scalars.
    // Reference: xova/apps/xova/averaging.py:436-542.
    "ms_a6_spw_regen" -> ((s, _) => {
      val (newSpw, _, _) = Bda.regenerate(s, channelisations(s), MsTables.spw(s))
      newSpw.select(
        col("SPECTRAL_WINDOW_ID"), col("NUM_CHAN"),
        element_at(col("CHAN_FREQ"), 1).as("first_freq"),
        element_at(col("CHAN_FREQ"), col("NUM_CHAN")).as("last_freq"),
        element_at(col("CHAN_WIDTH"), 1).as("chan_width"),
        col("REF_FREQUENCY"), col("TOTAL_BANDWIDTH"))
    }),

    // J2 + E2: the full bda lifecycle — write the output MS, read it
    // back, stats per REMAPPED DATA_DESC_ID.
    // Reference: xova/apps/xova/averaging.py:545-547,693-705.
    "ms_j2_bda_remap" -> ((s, _) => {
      val out = "/tmp/graft_out/bda_remap"
      Bda.run(s, MS, out, raggedArgs.copy(force = true))
      s.read.parquet(s"$out/main")
        .groupBy("DATA_DESC_ID")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(size(col("DATA")).cast("long")).as("nchan_out_sum"),
          countDistinct(col("ANTENNA1") * 64 + col("ANTENNA2")).as("n_baselines"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "ms_a4_bda_sizing" ->
      s"""WITH ${sizedSql(sizingArgs)}
          SELECT DISTINCT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER, ANTENNA1,
                 ANTENNA2, time_bin_secs AS TIME_BIN_SECS, chan_bin AS CHAN_BIN
          FROM b""",

    "ms_a4_bda_ragged" -> raggedOracleSql(raggedArgs),

    "ms_a4_bda_autocorr" -> raggedOracleSql(autocorrArgs),

    "ms_a5_bda_channelisations" ->
      s"""WITH ${sizedSql(sizingArgs)}
          SELECT DISTINCT b.DATA_DESC_ID, d.SPECTRAL_WINDOW_ID,
                 d.POLARIZATION_ID,
                 CAST(b.NCHAN_IN // b.chan_bin AS INTEGER) AS NUM_CHAN
          FROM b JOIN ${rp("DATA_DESCRIPTION")} d USING (DATA_DESC_ID)""",

    "ms_a6_spw_regen" ->
      s"""WITH ${sizedSql(sizingArgs)},
          chanls AS (
            SELECT DISTINCT b.DATA_DESC_ID, d.SPECTRAL_WINDOW_ID,
                   CAST(b.NCHAN_IN // b.chan_bin AS INTEGER) AS nchan
            FROM b JOIN ${rp("DATA_DESCRIPTION")} d USING (DATA_DESC_ID)),
          numbered AS (
            SELECT *, CAST(row_number() OVER (ORDER BY DATA_DESC_ID, nchan) - 1
                      AS INTEGER) AS new_id
            FROM chanls),
          old AS (
            SELECT SPECTRAL_WINDOW_ID,
                   CHAN_FREQ[1] - CHAN_WIDTH[1] / 2 AS fstart,
                   REF_FREQUENCY, TOTAL_BANDWIDTH
            FROM ${rp("SPECTRAL_WINDOW")})
          SELECT n.new_id AS SPECTRAL_WINDOW_ID, n.nchan AS NUM_CHAN,
                 o.fstart + (o.TOTAL_BANDWIDTH / n.nchan) * 0.5 AS first_freq,
                 o.fstart + (o.TOTAL_BANDWIDTH / n.nchan) * (n.nchan - 1 + 0.5) AS last_freq,
                 o.TOTAL_BANDWIDTH / n.nchan AS chan_width,
                 o.REF_FREQUENCY, o.TOTAL_BANDWIDTH
          FROM numbered n JOIN old o USING (SPECTRAL_WINDOW_ID)""",

    "ms_j2_bda_remap" ->
      s"""WITH ${sizedSql(raggedArgs)},
          bins AS (
            SELECT DISTINCT FIELD_ID, DATA_DESC_ID, SCAN_NUMBER,
                   ANTENNA1, ANTENNA2, BIN,
                   CAST(NCHAN_IN // chan_bin AS INTEGER) AS nchan_out
            FROM b),
          numbered AS (
            SELECT DATA_DESC_ID, nchan, CAST(row_number() OVER
                     (ORDER BY DATA_DESC_ID, nchan) - 1 AS INTEGER) AS new_id
            FROM (SELECT DISTINCT DATA_DESC_ID, nchan_out AS nchan FROM bins))
          SELECT n.new_id AS DATA_DESC_ID,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(bins.nchan_out) AS BIGINT) AS nchan_out_sum,
                 CAST(count(DISTINCT ANTENNA1 * 64 + ANTENNA2) AS BIGINT) AS n_baselines
          FROM bins
          JOIN numbered n ON n.DATA_DESC_ID = bins.DATA_DESC_ID
                         AND n.nchan = bins.nchan_out
          GROUP BY 1"""
  )
}
