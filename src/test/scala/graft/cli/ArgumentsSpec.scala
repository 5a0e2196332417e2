package graft.cli

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Timechannel

/** F6/F7 parsing (mirrors the reference's
  * tests/test_argparsing.py:6-21 parametrized cases plus the output
  * derivation rules of arguments.py:222-245).
  */
class ArgumentsSpec extends AnyFunSuite {

  test("field spec: ints and names mix") {
    assert(Arguments.parseFields("") == Nil)
    assert(Arguments.parseFields("0,1") == Seq(Left(0), Left(1)))
    assert(Arguments.parseFields("0,3C147, PKS-1934") ==
      Seq(Left(0), Right("3C147"), Right("PKS-1934")))
  }

  test("scan spec: ints only, errors otherwise") {
    assert(Arguments.parseScans("1, 2,3") == Seq(1, 2, 3))
    intercept[Arguments.ArgumentException](Arguments.parseScans("1,x"))
  }

  test("channel spec: singles and ranges") {
    assert(Arguments.parseChannels("5") == Seq(Left(5)))
    assert(Arguments.parseChannels("3~100,7") ==
      Seq(Right((3, 100)), Left(7)))
    assert(Arguments.expandChannels(Seq(Right((0, 3)), Left(8), Left(2))) ==
      Seq(0, 1, 2, 3, 8))
    intercept[Arguments.ArgumentException](Arguments.parseChannels("a~b"))
    intercept[Arguments.ArgumentException](Arguments.parseChannels("1~2~3"))
  }

  test("data-column mappings: FROM:TO and bare COL") {
    assert(Arguments.parseDataColumns(Seq("CORRECTED_DATA:DATA")) ==
      Seq("CORRECTED_DATA" -> "DATA"))
    assert(Arguments.parseDataColumns(Seq("DATA", "MODEL_DATA:MD")) ==
      Seq("DATA" -> "DATA", "MODEL_DATA" -> "MD"))
  }

  test("output derivation: foo.ms -> foo_averaged.ms (arguments.py:222-229)") {
    assert(Arguments.deriveOutput("foo.ms") == "foo_averaged.ms")
    assert(Arguments.deriveOutput("/a/b/foo.MS") == "/a/b/foo_averaged.ms")
    assert(Arguments.deriveOutput("/a/b/bar") == "/a/b/bar_averaged.ms")
    assert(Arguments.deriveOutput("/a/b/foo.ms/") == "/a/b/foo_averaged.ms")
  }

  test("timechannel command line with reference defaults") {
    val cmd = Arguments.parse(Seq("timechannel", "/data/x.ms"))
      .asInstanceOf[Arguments.TimechannelCmd]
    assert(cmd.output == "/data/x_averaged.ms")
    assert(cmd.args == Timechannel.Args())
  }

  test("timechannel flags override defaults") {
    val cmd = Arguments.parse(Seq("timechannel", "x.ms", "-t", "4.5",
      "-c", "8", "-f", "0,1", "-s", "2", "--force", "-dc", "DATA"))
      .asInstanceOf[Arguments.TimechannelCmd]
    assert(cmd.args.timeBinSecs == 4.5 && cmd.args.chanBinSize == 8)
    assert(cmd.args.fields == Seq(0, 1) && cmd.args.scans == Seq(2))
    assert(cmd.args.force && cmd.args.dataCols == Seq("DATA" -> "DATA"))
  }

  test("-rc/-grc chunk knobs reach both pipelines' Args") {
    val tc = Arguments.parse(Seq("timechannel", "x.ms", "-rc", "500",
      "-grc", "2")).asInstanceOf[Arguments.TimechannelCmd]
    assert(tc.args.rowChunks == 500 && tc.args.groupRowChunks == 2)
    val bda = Arguments.parse(Seq("bda", "x.ms", "--row-chunks", "1000"))
      .asInstanceOf[Arguments.BdaCmd]
    assert(bda.args.rowChunks == 1000 && bda.args.groupRowChunks == 4)
  }

  test("bda command line") {
    val cmd = Arguments.parse(Seq("bda", "x.ms", "-d", "0.95",
      "-fov", "5.0", "-mc", "4")).asInstanceOf[Arguments.BdaCmd]
    assert(cmd.args.decorrelation == 0.95)
    assert(cmd.args.maxFovDeg == 5.0 && cmd.args.minNchan == 4)
  }

  test("check command line") {
    assert(Arguments.parse(Seq("check", "x.ms")) == Arguments.CheckCmd("x.ms"))
  }

  test("--average-uvw-coordinates disables the fixms post-pass") {
    val on = Arguments.parse(Seq("timechannel", "x.ms",
      "--average-uvw-coordinates")).asInstanceOf[Arguments.TimechannelCmd]
    assert(on.args.averageUvw)
    val off = Arguments.parse(Seq("bda", "x.ms"))
      .asInstanceOf[Arguments.BdaCmd]
    assert(!off.args.averageUvw)
  }

  test("--include-auto-correlations reaches both pipelines' Args") {
    val tc = Arguments.parse(Seq("timechannel", "x.ms",
      "--include-auto-correlations")).asInstanceOf[Arguments.TimechannelCmd]
    assert(tc.args.includeAutoCorrs)
    val bda = Arguments.parse(Seq("bda", "x.ms",
      "--include-auto-correlations")).asInstanceOf[Arguments.BdaCmd]
    assert(bda.args.includeAutoCorrs)
    assert(!Arguments.parse(Seq("bda", "x.ms"))
      .asInstanceOf[Arguments.BdaCmd].args.includeAutoCorrs)
  }

  test("--running-bins selects the accumulate-until-full walk in both pipelines") {
    val tc = Arguments.parse(Seq("timechannel", "x.ms", "--running-bins"))
      .asInstanceOf[Arguments.TimechannelCmd]
    assert(tc.args.runningBins)
    val bda = Arguments.parse(Seq("bda", "x.ms", "--running-bins"))
      .asInstanceOf[Arguments.BdaCmd]
    assert(bda.args.runningBins)
    assert(!Arguments.parse(Seq("timechannel", "x.ms"))
      .asInstanceOf[Arguments.TimechannelCmd].args.runningBins)
  }

  test("-ch channel selection reaches both pipelines' Args") {
    val tc = Arguments.parse(Seq("timechannel", "x.ms", "-ch", "0~3,8"))
      .asInstanceOf[Arguments.TimechannelCmd]
    assert(tc.args.channels == Seq(0, 1, 2, 3, 8))
    val bda = Arguments.parse(Seq("bda", "x.ms", "-ch", "2,5~6"))
      .asInstanceOf[Arguments.BdaCmd]
    assert(bda.args.channels == Seq(2, 5, 6))
  }
}
