package graft.e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cli.{Arguments, XovaApp}

/** The benchmark's JVM side. `run.py` starts it in one of two modes:
  *
  *  - `gen`: write one seeded input (an MS or a corpus) and its size facts;
  *  - `run`: create the session, make one cold pass and steady passes for
  *    the requested seconds, check every pass's output, and print the
  *    raw measurements as one JSON line prefixed `RESULT `.
  *
  * Arguments are `--key value` pairs; `--launched` is the epoch ms at
  * which `run.py` started the process.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    o("mode") match {
      case "gen" => gen(o)
      case "run" => run(o)
    }
  }

  /** The session `XovaApp.main` builds (local[N], N shuffle partitions,
    * UTC, AQE on), with the UI off and every scratch directory inside
    * the benchmark's work directory.
    */
  def session(o: Map[String, String]): SparkSession = {
    val n = o("cores")
    val work = o("work")
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
    val s = o.get("conf").filter(_.nonEmpty).toSeq
      .flatMap(_.split(',')).map(_.split("=", 2))
      .foldLeft(b)((b, kv) => b.config(kv(0), kv(1)))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---------------------------------------------------------------- gen

  private def gen(o: Map[String, String]): Unit = {
    val spark = session(o)
    val seed = o("seed").toLong
    val out = o("out")
    val workload = o("workload")
    if (workload == "curation")
      Gen.corpus(spark, o("sf1"), o("docs").toInt, seed, s"$out/documents")
    else Gen.ms(spark, msShape(o), seed, s"$out/ms")
    val table = if (workload == "curation") s"$out/documents" else s"$out/ms/main"
    val (rows, mb, groups) = Gen.sizes(spark, table)
    val cells =
      if (workload == "curation") "[]"
      else msShape(o).cellsPerRow.mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$out/input.json"),
      s"""{"rows": $rows, "cells_per_row": $cells, "mb_on_disk": $mb, "row_groups": $groups}""")
    spark.stop()
  }

  def msShape(o: Map[String, String]): Gen.MsShape = {
    val (a, t, s) = (o("nant").toInt, o("ntime").toInt, o("nscans").toInt)
    o("workload") match {
      case "tc_rows" => Gen.tcRows(a, t, s)
      case "bda_chans" => Gen.bdaChans(a, t, s)
    }
  }

  // ---------------------------------------------------------------- run

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def procIo(key: String): Long =
    scala.io.Source.fromFile("/proc/self/io").getLines()
      .find(_.startsWith(key + ":")).map(_.split(":")(1).trim.toLong).getOrElse(0L)

  private def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024.0)
      .getOrElse(0.0)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray.toSeq
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
        .getCollectionTime).sum

  private def codegen: (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def rmTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  /** Doubles and floats rounded to the generator's 1e-3 value grid,
    * recursively through arrays and structs, so the digest ignores the
    * last-bit differences a different summation order gives.
    */
  private def onGrid(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 3)
    case ArrayType(e, _) => transform(c, x => onGrid(x, e))
    case StructType(fs) => struct(fs.map(f => onGrid(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case _ => c
  }

  /** Order-independent digest of a table: row count and the exact sum
    * of per-row hashes.
    */
  private def digest(df: DataFrame): String = {
    val h = xxhash64(df.schema.fields.toSeq.sortBy(_.name)
      .map(f => onGrid(col(f.name), f.dataType)): _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(0)}"
  }

  private case class Pass(wall: Double, cpu: Double, writeMb: Double,
                          traced: Boolean, ok: Boolean, digest: String,
                          layers: Map[String, Double])

  private def run(o: Map[String, String]): Unit = {
    val spark = session(o)
    val setup = (System.currentTimeMillis() - o("launched").toLong) / 1e3
    val workload = o("workload")
    val cores = o("cores").toInt
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val in = o("input")
    val work = o("work")
    val inputRows = o("rows").toLong
    val extra = o.get("extra").filter(_.nonEmpty).map(_.split(' ').toSeq).getOrElse(Nil)
    val inputBytes = Files.walk(Paths.get(in)).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).map(Files.size).sum

    val trace = new Trace
    val spans = Trace.MsSpans ++ Trace.CurationSpans
    val failures = mutable.ArrayBuffer.empty[String]
    var k = 0

    /** One pass: its measured output path, then the output check. */
    def pass(withTrace: Boolean): Pass = {
      val out = s"$work/out/pass$k"
      k += 1
      rmTree(out)
      if (withTrace) {
        trace.reset()
        spark.sparkContext.addSparkListener(trace)
        spark.listenerManager.register(trace)
      }
      val (gc0, (cg0, cgt0)) = (gcMs, codegen)
      val w0 = procIo("write_bytes")
      val c0 = os.getProcessCpuTime
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = scala.util.Try {
        workload match {
          case "curation" => Curation.run(spark, s"$in/documents", out, inputRows,
            (span, a, b) => if (withTrace) trace.mark(span, a, b))
          case "tc_rows" =>
            XovaApp.run(spark, Arguments.parse(Seq("timechannel", s"$in/ms",
              "-o", out, "-t", "8", "-c", "4") ++ extra)); 0L
          case "bda_chans" =>
            XovaApp.run(spark, Arguments.parse(Seq("bda", s"$in/ms",
              "-o", out, "-d", "0.98", "-fov", "5") ++ extra)); 0L
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      val writeMb = (procIo("write_bytes") - w0) / 1e6
      val layers = if (!withTrace) Map.empty[String, Double] else {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(trace)
        spark.listenerManager.unregister(trace)
        val (cg1, cgt1) = codegen
        trace.metrics(t0ms, t1ms, spans, cores, inputRows, inputBytes) ++ Map(
          "driver.codegen_compiles" -> (cg1 - cg0).toDouble,
          "driver.codegen_s" -> (cgt1 - cgt0) / 1e9,
          "jvm.gc_s" -> (gcMs - gc0) / 1e3)
      }
      val checked = result.flatMap(n => scala.util.Try(check(spark, out, n)))
      checked.failed.foreach(e => failures += s"pass ${k - 1}: $e")
      rmTree(out)
      Pass(wall, cpu, writeMb, withTrace, checked.isSuccess,
        checked.getOrElse(""), layers)
    }

    def check(spark: SparkSession, out: String, n: Long): String =
      if (workload == "curation") {
        val d = digest(spark.read.parquet(out).select("doc_id", "chunk_idx", "split"))
        require(d.startsWith(s"$n:"), s"chunk count $n disagrees with output $d")
        d
      } else {
        graft.ops.Check.run(spark, out)
        val d = digest(spark.read.parquet(s"$out/main"))
        o.get("expect_rows").foreach { e =>
          require(d.startsWith(s"$e:"), s"expected $e output rows, got $d")
        }
        d
      }

    val cold = pass(withTrace = false)
    val steady = mutable.ArrayBuffer.empty[Pass]
    val start = System.nanoTime()
    val minPasses = o("min_passes").toInt
    // a traced run interleaves untraced and traced passes as U T T U, so
    // the tracing overhead is measured against the same JVM's warm passes
    // and a warm-up trend favours neither side
    while (steady.size < minPasses || (System.nanoTime() - start) / 1e9 < seconds)
      steady += pass(withTrace = traced && Set(1, 2)(steady.size % 4))

    val all = cold +: steady
    val digests = all.filter(_.ok).map(_.digest).distinct
    if (digests.size > 1) failures += s"output digests differ across passes: $digests"
    def js(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def arr(f: Pass => Double, ps: Seq[Pass]) = ps.map(p => js(f(p))).mkString("[", ",", "]")
    val untracedSteady = steady.filterNot(_.traced).toSeq
    val tracedSteady = steady.filter(_.traced).toSeq
    val layerJson = tracedSteady.headOption.map(_.layers.keys.toSeq.sorted).getOrElse(Nil)
      .map(key => s""""$key": ${arr(_.layers(key), tracedSteady)}""").mkString("{", ", ", "}")
    val esc = (s: String) => s.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ")
    println("RESULT " + Seq(
      s""""setup": $setup""",
      s""""cold_wall": ${cold.wall}""",
      s""""wall": ${arr(_.wall, untracedSteady)}""",
      s""""cpu": ${arr(_.cpu, untracedSteady)}""",
      s""""write_mb": ${arr(_.writeMb, untracedSteady)}""",
      s""""traced_wall": ${arr(_.wall, tracedSteady)}""",
      s""""layers": $layerJson""",
      s""""passes": ${all.size}""",
      s""""failed": ${all.count(!_.ok)}""",
      s""""digest": "${digests.headOption.getOrElse("")}"""",
      s""""failures": ${failures.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")}""",
      s""""peak_rss_mb": $vmHwmMb""",
      s""""spark": "${spark.version}"""",
      s""""jvm": "${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"""")
      .mkString("{", ", ", "}"))
    spark.stop()
  }
}
