package graft.cli

import org.apache.spark.sql.SparkSession
import graft.ops.{Bda, Check, Timechannel, Uvw}

/** The application entry point (SURVEY §3 E1–E3): parse → run pipeline →
  * fixms post-pass, mirroring the reference lifecycle
  * (/root/reference/xova/apps/xova/app.py:46-159).
  *
  * `xova timechannel MS -t 2.0 -c 16`, `xova bda MS -d 0.99 -fov 15`,
  * `xova check MS`.
  */
object XovaApp {

  def main(argv: Array[String]): Unit = {
    val cmd = Arguments.parse(argv.toSeq)
    val spark = graft.Session()
    try run(spark, cmd)
    finally spark.stop()
  }

  /** The fixms post-pass (recompute UVW at the averaged time
    * centroids, app.py:122-128) is the reference default; it is
    * skipped when the user asked for averaged coordinates
    * (--average-uvw-coordinates), with the same warning the
    * reference prints.
    */
  def run(spark: SparkSession, cmd: Arguments.Command): Unit =
    cmd match {
      case Arguments.TimechannelCmd(ms, out, args, avgUvw) =>
        val tables = Timechannel.run(spark, ms, out, args)
        println(s"[xova] timechannel: wrote ${tables.mkString(", ")} to $out")
        fixOrWarn(spark, out, avgUvw)
      case Arguments.BdaCmd(ms, out, args, avgUvw) =>
        val tables = Bda.run(spark, ms, out, args)
        println(s"[xova] bda: wrote ${tables.mkString(", ")} to $out")
        fixOrWarn(spark, out, avgUvw)
      case Arguments.CheckCmd(ms) =>
        val r = Check.run(spark, ms)
        println(s"[xova] check: $ms conforms ($r)")
    }

  private def fixOrWarn(spark: SparkSession, out: String, avgUvw: Boolean): Unit =
    if (avgUvw)
      println("[xova] WARNING: output UVWs are averaged coordinates, " +
        "not recomputed at the new time centroids (app.py:126-128)")
    else { Uvw.fixms(spark, out); println("[xova] fixms: UVW recomputed") }
}
