package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Flag and selection operators (SURVEY §2.2 P1–P4, P7).
  *
  * All are native Catalyst expressions (higher-order functions, no UDFs)
  * so they stay inside whole-stage codegen and push down where possible.
  */
object Flags {

  /** The selection options both averaging commands carry
    * (Timechannel.Args, Bda.Args).
    */
  trait Selection {
    def dataCols: Seq[(String, String)]
    def fields: Seq[Int]
    def scans: Seq[Int]
    def channels: Seq[Int]
    def respectFlagRow: Boolean
    def includeAutoCorrs: Boolean
  }

  /** P1–P4 and P8 as both commands apply them: autocorr, field and scan
    * filters, channel selection of every (chan, corr) matrix column, then
    * the row flag FROW — P8 first, so a derived row flag reflects the
    * KEPT channels. Plans that read neither FROW nor the matrix columns
    * prune both projections away: the plan pass (Chunking) reads none
    * of FLAG, WEIGHT or the data columns.
    */
  def select(df: DataFrame, s: Selection): DataFrame = {
    val rows = selectScans(selectFields(
      if (s.includeAutoCorrs) df else filterAutocorr(df), s.fields), s.scans)
    val matrixCols = (s.dataCols.map(_._1) ++
      Seq("FLAG", "WEIGHT_SPECTRUM", "SIGMA_SPECTRUM"))
      .distinct.filter(rows.columns.contains)
    selectChannels(rows, s.channels, matrixCols).withColumn("FROW",
      if (s.respectFlagRow) col("FLAG_ROW") else derivedFlagRow)
  }

  /** P1 — drop autocorrelations (reference default; TAQL
    * `ANTENNA1 != ANTENNA2`, xova/apps/xova/arguments.py:219-220).
    * A plain filter: Catalyst pushes it into the parquet scan.
    */
  def filterAutocorr(df: DataFrame): DataFrame =
    df.filter(col("ANTENNA1") =!= col("ANTENNA2"))

  /** P2 — field selection (xova/apps/xova/averaging.py:218-219). */
  def selectFields(df: DataFrame, fields: Seq[Int]): DataFrame =
    if (fields.isEmpty) df else df.filter(col("FIELD_ID").isin(fields: _*))

  /** P2 name resolution — "-f 3C147" style specs resolve names to ids
    * against the FIELD subtable (xova/apps/xova/arguments.py:12-24; the
    * tiny semi-join of SURVEY §2.4). Driver-side: #fields rows.
    */
  def resolveFields(sel: Seq[Either[Int, String]], field: DataFrame): Seq[Int] = {
    val names = sel.collect { case Right(n) => n }
    val byName =
      if (names.isEmpty) Nil
      else field.filter(col("NAME").isin(names: _*))
        .select("FIELD_ID").collect().map(_.getInt(0)).toSeq
    (sel.collect { case Left(i) => i } ++ byName).distinct.sorted
  }

  /** P3 — scan selection (xova/apps/xova/averaging.py:221-222). */
  def selectScans(df: DataFrame, scans: Seq[Int]): DataFrame =
    if (scans.isEmpty) df else df.filter(col("SCAN_NUMBER").isin(scans: _*))

  /** P4 — the derived row flag: all(FLAG over chan,corr), used unless
    * the caller asked to respect the stored FLAG_ROW
    * (xova/apps/xova/averaging.py:224-225). `forall(flatten(...))` is a
    * codegen'd higher-order expression — no explode, no shuffle.
    */
  def derivedFlagRow: Column = forall(flatten(col("FLAG")), x => x)

  /** P7 — FLAG_CATEGORY = FLAG with a singleton leading category axis
    * (xova/apps/xova/averaging.py:80-94).
    */
  def flagCategory(df: DataFrame): DataFrame =
    df.withColumn("FLAG_CATEGORY", array(col("FLAG")))

  /** P8 — channel selection (parsed by the reference at
    * arguments.py:42-74; applied here as a native array slice of every
    * channel-major column: main's (chan, corr) matrices, SPECTRAL_WINDOW's
    * per-channel metadata). `channels` are 0-based kept indices
    * (graft.cli.Arguments.expandChannels); indices beyond a column's
    * channel count are ignored, so mixed-SPW frames work.
    */
  def selectChannels(df: DataFrame, channels: Seq[Int],
                     matrixCols: Seq[String]): DataFrame =
    if (channels.isEmpty) df
    else {
      val kept = array(channels.map(lit): _*)
      matrixCols.foldLeft(df) { (d, c) =>
        d.withColumn(c, transform(
          filter(kept, i => i < size(col(c))),
          i => element_at(col(c), i + 1)))
      }
    }
}
