package graft.e2ebench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded benchmark inputs. Every value is a pure function of
  * (shape, seed): re-running a shape with the same seed rewrites the
  * same values, so run.py caches an input by that pair.
  *
  * The MS generator keeps SyntheticMs's schema and storage conventions
  * (main time-sorted per (FIELD, DDID, SCAN) group, 2 MB row groups,
  * values on exact decimal grids) but differs where the benchmark needs
  * a realistic shape: 2 s dumps instead of 30,000 s, a core-heavy
  * antenna layout, UVWs synthesized from the ANTENNA positions, and a
  * seed folded into every hash.
  */
object Gen {

  /** One spectral window per DATA_DESC_ID: (ddid, nchan, ncorr, start Hz,
    * channel width Hz).
    */
  case class Spw(ddid: Int, nchan: Int, ncorr: Int, start: Double, width: Double)

  /** A generated MS shape: `nAnt` antennas (three quarters in the core),
    * `nTime` dumps of `Dump` seconds split evenly over `nScans`
    * FIELD/SCAN groups.
    */
  case class MsShape(nAnt: Int, nTime: Int, nScans: Int, spws: Seq[Spw]) {
    require(nTime % nScans == 0, s"nTime $nTime not a multiple of nScans $nScans")
    def cellsPerRow: Seq[Int] = spws.map(s => s.nchan * s.ncorr)
  }

  val Dump = 2.0
  // MeerKAT 4k-mode channel width (856 MHz / 4096), an exact double
  val Width4k = 856e6 / 4096

  /** xova's own test shape: 16 and 32 channels, 4 and 2 correlations,
    * both SPWs spanning the 856 MHz band.
    */
  def tcRows(nAnt: Int, nTime: Int, nScans: Int): MsShape =
    MsShape(nAnt, nTime, nScans, Seq(
    Spw(0, 16, 4, 856e6, 856e6 / 16), Spw(1, 32, 2, 856e6, 856e6 / 32)))

  /** 8x the cells per row of [[tcRows]], at the 4k-mode width. */
  def bdaChans(nAnt: Int, nTime: Int, nScans: Int): MsShape =
    MsShape(nAnt, nTime, nScans, Seq(
    Spw(0, 128, 4, 856e6, Width4k), Spw(1, 256, 2, 1284e6, Width4k)))

  /** ECEF metres of the array centre (about -30.7 deg, 21.4 deg). */
  private val Lat = math.toRadians(-30.7130)
  private val Lon = math.toRadians(21.4430)
  private val R0 = 6375000.0

  /** Antenna ITRF positions: three quarters of the dishes within 500 m
    * of the centre, the rest spread from 500 m out to 4 km. Offsets sit
    * on a 1 cm east/north grid drawn from a seeded stream.
    */
  def antennaPositions(nAnt: Int, seed: Long): Seq[Array[Double]] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + 17L)
    val (sl, cl, so, co) =
      (math.sin(Lat), math.cos(Lat), math.sin(Lon), math.cos(Lon))
    val centre = Array(R0 * cl * co, R0 * cl * so, R0 * sl)
    (0 until nAnt).map { a =>
      val u = rng.nextInt(10000) / 10000.0
      val r = if (a < nAnt * 3 / 4) 500.0 * math.sqrt(u) else 500.0 + 3500.0 * u
      val th = 2 * math.Pi * (rng.nextInt(36000) / 36000.0)
      val e = math.rint(r * math.cos(th) * 100) / 100
      val n = math.rint(r * math.sin(th) * 100) / 100
      // local east/north unit vectors in ECEF
      Array(
        centre(0) - so * e - sl * co * n,
        centre(1) + co * e - sl * so * n,
        centre(2) + cl * n)
    }
  }

  case class Vis(re: Float, im: Float)
  case class Cells(
      WEIGHT: Seq[Double], SIGMA: Seq[Double],
      DATA: Seq[Seq[Vis]], CORRECTED_DATA: Seq[Seq[Vis]],
      FLAG: Seq[Seq[Boolean]], FLAG_ROW: Boolean,
      WEIGHT_SPECTRUM: Seq[Seq[Double]], SIGMA_SPECTRUM: Seq[Seq[Double]])

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `x`. */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Every per-cell value of one main-table row, on exact decimal grids:
    * visibilities k/1000 (float32), weights and sigmas m/100 in
    * [0.01, 1]; ~30 % of samples flagged and 1/37 of rows fully flagged.
    * Each value is a bit field of one hash of (seed, row key, tag, cell).
    */
  def rowCells(seed: Long, a1: Int, a2: Int, t: Int, ddid: Int,
               nchan: Int, ncorr: Int): Cells = {
    val row = Seq[Long](a1, a2, t, ddid).foldLeft(mix(seed))((h, v) => mix(h ^ v))
    def h(tag: Int, cell: Int) = mix(row ^ mix(tag.toLong << 32 | cell))
    def bits(x: Long, shift: Int, mod: Int) = ((x >>> shift) % mod).toInt
    def per[A](f: Int => A) = Seq.tabulate(nchan, ncorr)((c, k) => f(c * ncorr + k))
    def vis(tag: Int) = per { i =>
      val x = h(tag, i)
      Vis(bits(x, 0, 1000) / 1000f, bits(x, 10, 1000) / 1000f)
    }
    val fullFlag = bits(h(0, 0), 0, 37) == 0
    Cells(
      Seq.tabulate(ncorr)(k => (bits(h(4, k), 0, 100) + 1) / 100.0),
      Seq.tabulate(ncorr)(k => (bits(h(4, k), 8, 100) + 1) / 100.0),
      vis(1), vis(2),
      per(i => fullFlag || bits(h(3, i), 0, 10) < 3), fullFlag,
      per(i => (bits(h(3, i), 8, 100) + 1) / 100.0),
      per(i => (bits(h(3, i), 16, 100) + 1) / 100.0))
  }

  /** Write the MS for (shape, seed) under `root`. */
  def ms(spark: SparkSession, shape: MsShape, seed: Long, root: String): Unit = {
    import spark.implicits._
    val nAnt = shape.nAnt
    val baselines = (for { a1 <- 0 until nAnt; a2 <- a1 until nAnt }
      yield (a1, a2)).toDF("ANTENNA1", "ANTENNA2")
    // the seed moves the observation through 24 hour angles
    val time0 = 5.2e9 + (seed % 24) * 3600.0
    val times = (0 until shape.nTime)
      .map(t => (t, time0 + t * Dump + Dump / 2, t / (shape.nTime / shape.nScans)))
      .toDF("t", "TIME_V", "FS")
    val ddids = shape.spws.map(s => (s.ddid, s.nchan, s.ncorr))
      .toDF("DATA_DESC_ID", "nchan", "ncorr")
    val base = baselines.crossJoin(times).crossJoin(ddids)

    val cells = udf(rowCells _)
    val main0 = base
      .withColumn("_C", cells(lit(seed), col("ANTENNA1"), col("ANTENNA2"),
        col("t"), col("DATA_DESC_ID"), col("nchan"), col("ncorr")))
      .select(
        col("TIME_V").as("TIME"),
        lit(Dump).as("INTERVAL"),
        col("TIME_V").as("TIME_CENTROID"),
        lit(Dump).as("EXPOSURE"),
        col("ANTENNA1"), col("ANTENNA2"),
        col("FS").as("FIELD_ID"),
        col("DATA_DESC_ID"),
        col("FS").as("SCAN_NUMBER"),
        lit(0).as("ARRAY_ID"), lit(0).as("OBSERVATION_ID"),
        lit(0).as("PROCESSOR_ID"), lit(0).as("STATE_ID"),
        col("_C.WEIGHT"), col("_C.SIGMA"), col("_C.DATA"),
        col("_C.CORRECTED_DATA"), col("_C.FLAG"), col("_C.FLAG_ROW"),
        col("_C.WEIGHT_SPECTRUM"), col("_C.SIGMA_SPECTRUM"))

    def rad(deg: Double) = deg * math.Pi / 180.0
    val field = Seq(
      (0, "F0", 0, Seq(Seq(rad(15.0 * (seed % 24)), rad(-30.0)))),
      (1, "F1", 0, Seq(Seq(rad(15.0 * ((seed + 3) % 24)), rad(-45.0)))))
      .toDF("FIELD_ID", "NAME", "NUM_POLY", "PHASE_DIR")
      .withColumn("REFERENCE_DIR", col("PHASE_DIR"))
      .withColumn("DELAY_DIR", col("PHASE_DIR"))
    val ant = antennaPositions(nAnt, seed).zipWithIndex.map { case (p, a) =>
      (a, f"ANT-$a%03d", p.toSeq, Seq(0.0, 0.0, 0.0))
    }.toDF("ANTENNA_ID", "NAME", "POSITION", "OFFSET")

    // UVW from the antenna geometry, on a 1 mm grid
    val main = graft.ops.Uvw.withSynthUvw(main0, field, ant)
      .withColumn("UVW", transform(col("SYNTH_UVW"), x => round(x, 3)))
      .select(((main0.columns.take(13) :+ "UVW") ++ main0.columns.drop(13))
        .map(col).toSeq: _*)
    main
      .repartition(col("FIELD_ID"), col("DATA_DESC_ID"), col("SCAN_NUMBER"))
      .sortWithinPartitions("TIME", "ANTENNA1", "ANTENNA2")
      .write
      .option("parquet.block.size", 2L * 1024 * 1024)
      .parquet(s"$root/main")

    val spw = shape.spws.map { s =>
      val freqs = (0 until s.nchan).map(i => s.start + s.width * (i + 0.5))
      val w = Seq.fill(s.nchan)(s.width)
      (s.ddid, s.nchan, freqs, w, w, w, freqs(s.nchan / 2), s.width * s.nchan, 5)
    }.toDF("SPECTRAL_WINDOW_ID", "NUM_CHAN", "CHAN_FREQ", "CHAN_WIDTH",
      "EFFECTIVE_BW", "RESOLUTION", "REF_FREQUENCY", "TOTAL_BANDWIDTH",
      "MEAS_FREQ_REF")
    val pol = Seq(
      (0, 4, Seq(9, 10, 11, 12), Seq(Seq(0, 0), Seq(0, 1), Seq(1, 0), Seq(1, 1))),
      (1, 2, Seq(9, 12), Seq(Seq(0, 0), Seq(1, 1))))
      .toDF("POLARIZATION_ID", "NUM_CORR", "CORR_TYPE", "CORR_PRODUCT")
    val ddid = shape.spws.map(s => (s.ddid, s.ddid, if (s.ncorr == 4) 0 else 1))
      .toDF("DATA_DESC_ID", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = Seq("SPECTRAL_WINDOW" -> spw, "POLARIZATION" -> pol,
      "DATA_DESCRIPTION" -> ddid, "FIELD" -> field, "ANTENNA" -> ant)
      .map { case (t, df) => Future(df.coalesce(1).write.parquet(s"$root/$t")) }
    Await.result(Future.sequence(writes), Duration.Inf)
  }

  /** The curation corpus: ScaleFixtures' vocabulary-disjoint rewrite of
    * the sf1 documents, cut to the `docs` lowest doc_ids, with `doc_id`
    * shifted by the seed so a different 1/37 slice is held out as the
    * contamination benchmark.
    */
  def corpus(spark: SparkSession, sf1Dir: String, docs: Int, seed: Long,
             out: String): Unit = {
    val cutoff = spark.read.parquet(s"$sf1Dir/documents.parquet")
      .select("doc_id").orderBy("doc_id").limit(docs)
      .agg(max("doc_id")).head().getLong(0)
    graft.ScaleFixtures.scaledDocs(spark, sf1Dir, 1)
      .filter(col("doc_id") <= cutoff)
      .withColumn("doc_id", col("doc_id") + lit(seed))
      .coalesce(1).write
      .option("parquet.block.size", 2L * 1024 * 1024)
      .parquet(out)
  }

  /** Input size facts recorded in every result: rows, MB on disk and
    * row-group count of a parquet table.
    */
  def sizes(spark: SparkSession, table: String): (Long, Double, Int) = {
    val files = Files.walk(Paths.get(table)).toArray.toSeq
      .map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".parquet"))
    val conf = spark.sparkContext.hadoopConfiguration
    // rows per row group, from the footers
    val groupRows = files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.toString), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.asScala.map(_.getRowCount) finally r.close()
    }
    (groupRows.sum, files.map(Files.size).sum / 1e6, groupRows.size)
  }
}
