package graft.cli

import graft.ops.{Bda, Timechannel}

/** CLI argument surface (SURVEY §2.7 F6/F7, §3): mirrors the reference's
  * subcommands, flags and defaults
  * (/root/reference/xova/apps/xova/arguments.py:77-154) with the same
  * spec syntaxes:
  *
  *  - fields: comma list of ints or names ("0,3C147")
  *  - scans: comma list of ints
  *  - channels: comma list of ints or "start~end" ranges ("3~100,7")
  *  - data columns: repeated "FROM:TO" (or bare "COL") mappings
  *  - output name derived from the input when absent:
  *    foo.ms → foo_averaged.ms (arguments.py:222-229)
  */
object Arguments {

  class ArgumentException(msg: String) extends IllegalArgumentException(msg)

  /** F6: field spec — ints select FIELD_ID, strings select FIELD.NAME
    * (arguments.py:12-24).
    */
  def parseFields(s: String): Seq[Either[Int, String]] =
    if (s.isEmpty) Nil
    else s.split(',').toSeq.map(_.trim).map { f =>
      f.toIntOption.map(Left(_)).getOrElse(Right(f))
    }

  /** F6: scan spec — ints only (arguments.py:27-39). */
  def parseScans(s: String): Seq[Int] =
    if (s.isEmpty) Nil
    else s.split(',').toSeq.map(_.trim).map { v =>
      v.toIntOption.getOrElse(
        throw new ArgumentException(s"Invalid SCAN_NUMBER $v"))
    }

  /** F6: channel spec — "c" or "start~end" (arguments.py:42-74). */
  def parseChannels(s: String): Seq[Either[Int, (Int, Int)]] =
    if (s.isEmpty) Nil
    else s.split(',').toSeq.map { tok =>
      tok.split('~') match {
        case Array(c) => Left(c.trim.toIntOption.getOrElse(
          throw new ArgumentException(s"Invalid Channel Number $tok")))
        case Array(a, b) =>
          val start = a.trim.toIntOption.getOrElse(
            throw new ArgumentException(s"Invalid Starting Channel Number $a"))
          val end = b.trim.toIntOption.getOrElse(
            throw new ArgumentException(s"Invalid Ending Channel Number $b"))
          Right((start, end))
        case _ => throw new ArgumentException(s"Invalid Channel Range $tok")
      }
    }

  /** Channel spec → explicit 0-based index list (ranges inclusive). */
  def expandChannels(sel: Seq[Either[Int, (Int, Int)]]): Seq[Int] =
    sel.flatMap {
      case Left(c) => Seq(c)
      case Right((s, e)) => s to e
    }.distinct.sorted

  /** "FROM:TO" / "COL" data-column mappings (arguments.py:231-245). */
  def parseDataColumns(cols: Seq[String]): Seq[(String, String)] =
    cols.map { c =>
      c.split(':') match {
        case Array(one) => one -> one
        case Array(from, to) => from -> to
        case _ => throw new ArgumentException(s"Invalid data columns: $c")
      }
    }

  /** F7: output name derivation (arguments.py:222-229). */
  def deriveOutput(ms: String): String = {
    val trimmed = ms.reverse.dropWhile(_ == '/').reverse
    val (path, name) = trimmed.lastIndexOf('/') match {
      case -1 => ("", trimmed)
      case i => (trimmed.substring(0, i + 1), trimmed.substring(i + 1))
    }
    val base = if (name.length >= 3 &&
      name.takeRight(3).equalsIgnoreCase(".ms")) name.dropRight(3) else name
    path + base + "_averaged.ms"
  }

  sealed trait Command
  case class TimechannelCmd(ms: String, output: String,
      args: Timechannel.Args) extends Command
  case class BdaCmd(ms: String, output: String, args: Bda.Args) extends Command
  case class CheckCmd(ms: String) extends Command

  /** Parse a full command line (reference defaults throughout). */
  def parse(argv: Seq[String]): Command = {
    if (argv.isEmpty) throw new ArgumentException(
      "usage: xova {timechannel|bda|check} MS [options]")
    val cmd = argv.head
    val rest = argv.tail
    val (flags, positional) = {
      var fl = Map.empty[String, String]
      var pos = Vector.empty[String]
      var bools = Set.empty[String]
      // --boring disables the reference's rich colored progress output
      // (arguments.py); this CLI's plain println logging is already
      // "boring", so accepting it as a no-op IS the parity behavior —
      // unlike data-selection flags, it cannot change results.
      val boolFlags = Set("--force", "--respect-flag-row", "-rfr",
        "--include-auto-correlations", "--average-uvw-coordinates",
        "--running-bins", "--boring")
      var i = 0
      while (i < rest.length) {
        val a = rest(i)
        if (boolFlags(a)) { bools += a; i += 1 }
        else if (a.startsWith("-")) {
          if (i + 1 >= rest.length)
            throw new ArgumentException(s"missing value for $a")
          fl += a -> rest(i + 1); i += 2
        } else { pos :+= a; i += 1 }
      }
      (fl ++ bools.map(_ -> "true").toMap, pos)
    }
    def flag(names: String*): Option[String] =
      names.flatMap(flags.get).headOption
    def boolFlag(names: String*): Boolean =
      names.exists(n => flags.get(n).contains("true"))

    val ms = positional.headOption.getOrElse(
      throw new ArgumentException("Input Measurement Set required"))
    val output = flag("-o", "--output").getOrElse(deriveOutput(ms))
    val fields = parseFields(flag("-f", "--fields").getOrElse(""))
    val scans = parseScans(flag("-s", "--scan-numbers").getOrElse(""))
    // P8: the reference parses channel specs (arguments.py:42-74) but
    // never exposes a flag in v0.1.2; -ch avoids the -c (chan-bin-size)
    // collision.
    val channels = expandChannels(
      parseChannels(flag("-ch", "--channels").getOrElse("")))
    val dataCols = parseDataColumns(
      flag("-dc", "--data-column").map(_.split(',').toSeq)
        .getOrElse(Seq("CORRECTED_DATA:DATA")))
    val intFields = fields.collect { case Left(i) => i }
    // -rc/-grc (arguments.py:94-101): write-side chunk granularity —
    // see Timechannel.Args.rowChunks for the Spark mapping.
    val rowChunks = flag("-rc", "--row-chunks").map(_.toInt).getOrElse(10000)
    val groupRowChunks =
      flag("-grc", "--group-row-chunks").map(_.toInt).getOrElse(4)

    cmd match {
      case "timechannel" => TimechannelCmd(ms, output, Timechannel.Args(
        timeBinSecs = flag("-t", "--time-bin-secs").map(_.toDouble).getOrElse(2.0),
        chanBinSize = flag("-c", "--chan-bin-size").map(_.toInt).getOrElse(16),
        dataCols = dataCols, fields = intFields, scans = scans,
        channels = channels,
        respectFlagRow = boolFlag("-rfr", "--respect-flag-row"),
        includeAutoCorrs = boolFlag("--include-auto-correlations"),
        force = boolFlag("--force"),
        averageUvw = boolFlag("--average-uvw-coordinates"),
        // accumulate-until-full walk, the reference kernel's default
        // (chunking.py:107-166); grid binning stays OUR default because
        // it needs no fact-table window (see Timechannel.Args)
        runningBins = boolFlag("--running-bins"),
        rowChunks = rowChunks, groupRowChunks = groupRowChunks))
      case "bda" => BdaCmd(ms, output, Bda.Args(
        decorrelation = flag("-d", "--decorrelation").map(_.toDouble).getOrElse(0.99),
        maxFovDeg = flag("-fov", "--max-fov").map(_.toDouble).getOrElse(15.0),
        timeBinCapSecs = flag("-t", "--time-bin-secs").map(_.toDouble)
          .getOrElse(Double.MaxValue),
        minNchan = flag("-mc", "--min-nchan").map(_.toInt).getOrElse(1),
        dataCols = dataCols, fields = intFields, scans = scans,
        channels = channels,
        respectFlagRow = boolFlag("-rfr", "--respect-flag-row"),
        includeAutoCorrs = boolFlag("--include-auto-correlations"),
        force = boolFlag("--force"),
        averageUvw = boolFlag("--average-uvw-coordinates"),
        runningBins = boolFlag("--running-bins"),
        rowChunks = rowChunks, groupRowChunks = groupRowChunks))
      case "check" => CheckCmd(ms)
      case other => throw new ArgumentException(s"unknown command $other")
    }
  }
}
