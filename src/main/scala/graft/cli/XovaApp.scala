package graft.cli

import org.apache.spark.sql.SparkSession
import graft.ops.{Bda, Check, Timechannel}

/** The application entry point (SURVEY §3 E1–E3): parse → run pipeline,
  * mirroring the reference lifecycle
  * (/root/reference/xova/apps/xova/app.py:46-159). Each pipeline's `run`
  * owns the whole output lifecycle, including the fixvis UVW
  * recomputation (app.py:122-128), which it fuses into its single
  * main-table write unless --average-uvw-coordinates is given.
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

  def run(spark: SparkSession, cmd: Arguments.Command): Unit =
    cmd match {
      case Arguments.TimechannelCmd(ms, out, args) =>
        val tables = Timechannel.run(spark, ms, out, args)
        println(s"[xova] timechannel: wrote ${tables.mkString(", ")} to $out")
      case Arguments.BdaCmd(ms, out, args) =>
        val tables = Bda.run(spark, ms, out, args)
        println(s"[xova] bda: wrote ${tables.mkString(", ")} to $out")
      case Arguments.CheckCmd(ms) =>
        val r = Check.run(spark, ms)
        println(s"[xova] check: $ms conforms ($r)")
    }
}
