package graft.ms

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Deterministic synthetic Measurement Set fixture, written as parquet
  * tables under `fixtures/ms/` of the working directory (the checkout
  * root under sbt).
  *
  * Structure mirrors the reference's synthetic MS factory
  * (/root/reference/xova/testing_data.py:9-166; spec in FIXTURES.md):
  * 64 antennas, upper-triangular baselines INCLUDING autocorrelations
  * (2080 — autos included so the P1 filter is observable), 4 times,
  * 2 SPWs (16/32 channels), 2 polarization setups (4/2 correlations),
  * 2 DDIDs, 2 fields/scans. Main table = 2080 × 4 × 2 = 16640 rows.
  *
  * Values are NOT copied from the reference (it uses unseeded np.random);
  * they are xxhash64-derived on exact decimal grids:
  *   - visibility re/im: k/1000, k ∈ [0,1000), stored float32
  *   - WEIGHT / SIGMA / WEIGHT_SPECTRUM / SIGMA_SPECTRUM: m/100, m ∈ [1,100]
  *   - UVW: k/100 ∈ [0,100)
  * so `round(v*1000)` / `round(w*100)` recover exact integers on BOTH the
  * Spark and DuckDB side — weighted sums become pure integer arithmetic,
  * which is what makes the real averaging kernel oracle-checkable with
  * exact hash equality (see MsQueries).
  *
  * Generation is Catalyst-expression-based over a cross join of small
  * dimension frames — no driver-side materialization of main-table rows,
  * so the identical code generates a 100 TB fixture on a real cluster.
  */
object SyntheticMs {
  // Probe-only overrides (GRAFT_MS_ROOT / GRAFT_MS_NTIME): scale probes
  // generate an N-times fixture under /tmp without touching the
  // committed one. Defaults reproduce the committed fixture bit for bit
  // (nTime = 4 keeps `t / (nTime / 2)` == the original `t / 2`).
  val root = sys.env.getOrElse("GRAFT_MS_ROOT",
    Paths.get("fixtures/ms").toAbsolutePath.toString)

  val nAnt   = 64
  val nTime  = {
    val n = sys.env.get("GRAFT_MS_NTIME").map(_.toInt).getOrElse(4)
    require(n >= 2 && n % 2 == 0,
      s"GRAFT_MS_NTIME must be even and >= 2 (FIELD/SCAN flips halfway), got $n")
    n
  }
  val time0  = 5000000.0 // seconds (MJD-like epoch), exact double
  val dt     = 30000.0   // INTERVAL seconds, exact double

  /** (nchan, ncorr) per DATA_DESC_ID — ddid0 → spw0/pol0, ddid1 → spw1/pol1. */
  val ddidShape = Seq((0, 16, 4), (1, 32, 2))

  // SPW grid: exact binary doubles (856e6 / 16 and / 32 are exact).
  val freq0   = 856e6
  val totalBw = 856e6

  def mainPath = s"$root/main"

  /** Generate every table if the fixture is absent (idempotent). */
  def ensure(spark: SparkSession): Unit = synchronized {
    if (!Files.exists(Paths.get(s"$mainPath/_SUCCESS"))) generate(spark)
  }

  /** Standalone generation entry point. */
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    generate(spark)
    spark.stop()
  }

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._

    // --- dimension frames -------------------------------------------------
    val baselines = (for { a1 <- 0 until nAnt; a2 <- a1 until nAnt }
      yield (a1, a2)).toDF("ANTENNA1", "ANTENNA2")
    val times = (0 until nTime)
      .map(t => (t, time0 + t * dt, t / (nTime / 2))) // FIELD/SCAN flips halfway
      .toDF("t", "TIME_V", "FS")
    val ddids = ddidShape.toDF("DATA_DESC_ID", "nchan", "ncorr")

    val base = baselines.crossJoin(times).crossJoin(ddids)

    // --- deterministic per-cell PRNG --------------------------------------
    val key = Seq(col("ANTENNA1"), col("ANTENNA2"), col("t"), col("DATA_DESC_ID"))
    def h(tag: String, extra: Column*): Column =
      xxhash64((lit(tag) +: key) ++ extra: _*)
    /** value on the 1/div grid in [off/div, (off+mod-1)/div]. */
    def grid(tag: String, mod: Int, div: Double, off: Int, extra: Column*): Column =
      (pmod(h(tag, extra: _*), lit(mod.toLong)).cast("double") + lit(off.toDouble)) / lit(div)

    val chans = sequence(lit(0), col("nchan") - 1)
    val corrs = sequence(lit(0), col("ncorr") - 1)
    def chanCorr(f: (Column, Column) => Column): Column =
      transform(chans, c => transform(corrs, k => f(c, k)))

    def vis(tag: String): Column = chanCorr { (c, k) =>
      struct(
        grid(s"${tag}re", 1000, 1000.0, 0, c, k).cast("float").as("re"),
        grid(s"${tag}im", 1000, 1000.0, 0, c, k).cast("float").as("im"))
    }

    // ~30% of samples flagged; ~1/37 of rows fully flagged so the
    // "all-flagged bin ⇒ effective := nominal" path is exercised.
    val fullFlag = pmod(h("fullflag"), lit(37L)) === 0
    val flag = chanCorr { (c, k) =>
      fullFlag || pmod(h("fl", c, k), lit(10L)) < 3
    }

    // UVW is a per-(baseline, time) property — independent of DDID.
    def uvwc(tag: String): Column =
      (pmod(xxhash64(lit(tag), col("ANTENNA1"), col("ANTENNA2"), col("t")),
        lit(10000L)).cast("double")) / lit(100.0)

    val main = base.select(
      col("TIME_V").as("TIME"),
      lit(dt).as("INTERVAL"),
      col("TIME_V").as("TIME_CENTROID"),
      lit(dt).as("EXPOSURE"),
      col("ANTENNA1"), col("ANTENNA2"),
      col("FS").as("FIELD_ID"),
      col("DATA_DESC_ID"),
      col("FS").as("SCAN_NUMBER"),
      lit(0).as("ARRAY_ID"), lit(0).as("OBSERVATION_ID"),
      lit(0).as("PROCESSOR_ID"), lit(0).as("STATE_ID"),
      array(uvwc("u"), uvwc("v"), uvwc("w")).as("UVW"),
      transform(corrs, k => grid("wt", 100, 100.0, 1, k)).as("WEIGHT"),
      transform(corrs, k => grid("sg", 100, 100.0, 1, k)).as("SIGMA"),
      vis("d").as("DATA"),
      vis("c").as("CORRECTED_DATA"),
      flag.as("FLAG"),
      // deliberately INCONSISTENT with FLAG so P4's recompute is observable
      (pmod(h("fr"), lit(10L)) === 0).as("FLAG_ROW"),
      chanCorr((c, k) => grid("ws", 100, 100.0, 1, c, k)).as("WEIGHT_SPECTRUM"),
      chanCorr((c, k) => grid("ss", 100, 100.0, 1, c, k)).as("SIGMA_SPECTRUM"))

    // Real Measurement Sets are stored time-sorted per partition (the
    // invariant the reference validates, chunking.py:287-289) — write
    // the fixture the same way: one file region per (FIELD, DDID, SCAN)
    // group, rows TIME-ordered within it.
    // Small row groups (2 MB vs the 128 MB parquet default): scan
    // parallelism for array-heavy MS rows is byte-splits mapped onto
    // ROW-GROUP boundaries — a fixture file holding one giant row
    // group pins its whole decode on one task no matter how
    // maxPartitionBytes is set (measured: 2 files ⇒ 2-way scan ⇒ the
    // 10× averaging probes ran at parallelism ≈ 2). A real MS at scale
    // has thousands of row groups naturally; the fixture needs them
    // forced only because it is small.
    main
      .repartition(col("FIELD_ID"), col("DATA_DESC_ID"), col("SCAN_NUMBER"))
      .sortWithinPartitions("TIME", "ANTENNA1", "ANTENNA2")
      .write.mode("overwrite")
      .option("parquet.block.size", 2L * 1024 * 1024)
      .parquet(s"$root/main")

    // --- subtables (driver-side: cardinality = O(#SPWs), always tiny) ----
    // casacore keys subtables by implicit row number; a columnar layout
    // has no stable row order, so every subtable materializes its row id
    // as an explicit *_ID key column.
    val spw = ddidShape.map { case (d, nchan, _) =>
      val cw = totalBw / nchan
      val freqs = (0 until nchan).map(i => freq0 + cw * (i + 0.5))
      (d, nchan, freqs, Seq.fill(nchan)(cw), Seq.fill(nchan)(cw),
        Seq.fill(nchan)(cw), freqs(nchan / 2), totalBw, 5)
    }.toDF("SPECTRAL_WINDOW_ID", "NUM_CHAN", "CHAN_FREQ", "CHAN_WIDTH",
      "EFFECTIVE_BW", "RESOLUTION", "REF_FREQUENCY", "TOTAL_BANDWIDTH",
      "MEAS_FREQ_REF")
    spw.coalesce(1).write.mode("overwrite").parquet(s"$root/SPECTRAL_WINDOW")

    val pol = Seq(
      (0, 4, Seq(9, 10, 11, 12), Seq(Seq(0, 0), Seq(0, 1), Seq(1, 0), Seq(1, 1))),
      (1, 2, Seq(9, 12), Seq(Seq(0, 0), Seq(1, 1))))
      .toDF("POLARIZATION_ID", "NUM_CORR", "CORR_TYPE", "CORR_PRODUCT")
    pol.coalesce(1).write.mode("overwrite").parquet(s"$root/POLARIZATION")

    val ddid = ddidShape.map { case (d, _, _) => (d, d, d) }
      .toDF("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID")
    ddid.coalesce(1).write.mode("overwrite").parquet(s"$root/DATA_DESCRIPTION")

    def rad(deg: Double) = deg * math.Pi / 180.0
    val field = Seq(
      (0, "3C147", 0, Seq(Seq(rad(0.0), rad(60.0)))),
      (1, "3C147", 0, Seq(Seq(rad(30.0), rad(45.0)))))
      .toDF("FIELD_ID", "NAME", "NUM_POLY", "PHASE_DIR")
      .withColumn("REFERENCE_DIR", col("PHASE_DIR"))
      .withColumn("DELAY_DIR", col("PHASE_DIR"))
    field.coalesce(1).write.mode("overwrite").parquet(s"$root/FIELD")

    val ant = (0 until nAnt).map { a =>
      def p(tag: String) =
        (math.abs((a * 2654435761L + tag.hashCode).toInt) % 10000) * 1.0
      (a, s"ANT-$a", Seq(p("x"), p("y"), p("z")), Seq(0.0, 0.0, 0.0))
    }.toDF("ANTENNA_ID", "NAME", "POSITION", "OFFSET")
    ant.coalesce(1).write.mode("overwrite").parquet(s"$root/ANTENNA")
  }
}
