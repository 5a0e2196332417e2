package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** U2 — MS conformance checking, the `xova check` subcommand
  * (/root/reference/xova/apps/xova/check.py:22-76): three violation
  * classes, each an assertion query over the parquet MS.
  */
object Check {

  class TableConformanceException(msg: String) extends RuntimeException(msg)

  case class Result(dataShape: Long, spwShape: Long, polShape: Long) {
    def ok: Boolean = dataShape == 0 && spwShape == 0 && polShape == 0
  }

  /** DATA-shape violation rows: DATA dims vs NUM_CHAN/NUM_CORR mapped
    * via DATA_DESC_ID (check.py:38-52, the J3 join chain).
    */
  def dataShapeViolationRows(main: DataFrame, ddid: DataFrame, spw: DataFrame,
                             pol: DataFrame): DataFrame =
    main.select("DATA_DESC_ID", "DATA")
      .join(broadcast(ddid), "DATA_DESC_ID")
      .join(broadcast(spw.select("SPECTRAL_WINDOW_ID", "NUM_CHAN")),
        "SPECTRAL_WINDOW_ID")
      .join(broadcast(pol.select("POLARIZATION_ID", "NUM_CORR")),
        "POLARIZATION_ID")
      .filter(size(col("DATA")) =!= col("NUM_CHAN") ||
        size(element_at(col("DATA"), 1)) =!= col("NUM_CORR"))

  /** SPW channel-metadata column lengths vs NUM_CHAN (check.py:54-67). */
  def spwShapeViolationRows(spw: DataFrame): DataFrame =
    spw.filter(
      size(col("CHAN_WIDTH")) =!= col("NUM_CHAN") ||
        size(col("CHAN_FREQ")) =!= col("NUM_CHAN") ||
        size(col("EFFECTIVE_BW")) =!= col("NUM_CHAN") ||
        size(col("RESOLUTION")) =!= col("NUM_CHAN"))

  /** POLARIZATION column shapes vs NUM_CORR, incl. the trailing 2-axis
    * of CORR_PRODUCT (check.py:69-76).
    */
  def polShapeViolationRows(pol: DataFrame): DataFrame =
    pol.filter(
      size(col("CORR_TYPE")) =!= col("NUM_CORR") ||
        size(col("CORR_PRODUCT")) =!= col("NUM_CORR") ||
        exists(col("CORR_PRODUCT"), p => size(p) =!= 2))

  /** All three violation counts in ONE Spark action: each class
    * aggregates to a single tagged row and the rows union — mirroring
    * the oracle's single statement (MsQueries `ms_u2_check_full`) —
    * so the check costs one job instead of three sequential ones (the
    * two subtable counts are trivial; the point is not paying three
    * scheduler round-trips around the main-table pass).
    */
  def checkMs(spark: SparkSession, root: String): Result = {
    def t(n: String) = spark.read.parquet(s"$root/$n")
    def tagged(rows: DataFrame, k: Int) =
      rows.agg(count(lit(1)).as("n")).select(lit(k).as("k"), col("n"))
    val counts = tagged(dataShapeViolationRows(t("main"),
        t("DATA_DESCRIPTION"), t("SPECTRAL_WINDOW"), t("POLARIZATION")), 0)
      .unionAll(tagged(spwShapeViolationRows(t("SPECTRAL_WINDOW")), 1))
      .unionAll(tagged(polShapeViolationRows(t("POLARIZATION")), 2))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    Result(counts(0), counts(1), counts(2))
  }

  /** E3 lifecycle: raise on any violation (check.py contract). */
  def run(spark: SparkSession, root: String): Result = {
    val r = checkMs(spark, root)
    if (!r.ok) throw new TableConformanceException(
      s"MS $root fails conformance: $r")
    r
  }
}
