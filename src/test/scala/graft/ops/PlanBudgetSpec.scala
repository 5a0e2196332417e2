package graft.ops

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.{JobProbe, SparkSpec}
import graft.ms.{MsTables, SyntheticMs}

/** The cost of planning an averaging run: the plan pass is one narrow
  * job, the main write moves its rows once, and a run over another
  * input of the same shape reuses every generated class. Each write
  * test runs both commands.
  */
class PlanBudgetSpec extends SparkSpec {

  private val args = Timechannel.Args(timeBinSecs = 60000.0, chanBinSize = 4,
    dataCols = Seq("DATA" -> "DATA"), force = true)

  private def bdaRun(s: SparkSession, in: String, out: String): Seq[String] =
    Bda.run(s, in, out, graft.queries.BdaQueries.raggedArgs.copy(force = true))

  /** Each command's full lifecycle: (session, input MS, output MS). */
  private val commands: Seq[(String, (SparkSession, String, String) => Seq[String])] = Seq(
    "Timechannel" -> ((s, in, out) => Timechannel.run(s, in, out, args)),
    "Bda" -> bdaRun)

  private def inTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft_plan_budget")
    try body(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  test("the plan pass runs as 1 job with 0 shuffle bytes") {
    val sel = Flags.select(MsTables.main(spark), args)
    val (st, probe) = JobProbe(spark)(Chunking.planStats(sel))
    assert(st.nRows > 0)
    assert(probe.jobs == 1, s"the plan pass ran ${probe.jobs} jobs")
    assert(probe.shuffleBytes == 0, s"the plan pass shuffled ${probe.shuffleBytes} bytes")
  }

  for ((name, run) <- commands)
    test(s"$name.run's main write executes one Exchange, routed by _PID") {
      inTempDir { dir =>
        val (_, probe) = JobProbe(spark)(run(spark, SyntheticMs.root, dir.resolve("out").toString))
        val writes = probe.plans.map(_._2).filter(p =>
          p.contains("InsertIntoHadoopFsRelationCommand") && p.contains("graft_vis_avg"))
        assert(writes.size == 1, s"expected one averaging write, got:\n${writes.mkString("\n")}")
        val exchanges = writes.head.linesIterator
          .filter(l => "\\bExchange\\b".r.findFirstIn(l).isDefined).toList
        assert(exchanges.size == 1 && exchanges.head.contains("direct_shuffle_partition_id(_PID"),
          s"expected one Exchange, routed by _PID:\n${writes.head}")
      }
    }

  test("Bda.run scans main twice: the plan pass and the write") {
    inTempDir { dir =>
      val (_, probe) = JobProbe(spark)(bdaRun(spark, SyntheticMs.root, dir.resolve("out").toString))
      val scans = probe.plans.map(_._2).flatMap(_.linesIterator)
        .count(l => l.contains("FileScan") && l.contains(s"${SyntheticMs.root}/main"))
      assert(scans == 2, s"Bda.run ran $scans main-table scans:\n" +
        probe.plans.map { case (n, p) => s"$n:\n$p" }.mkString("\n"))
    }
  }

  for ((name, run) <- commands)
    test(s"a second $name.run over shifted TIMEs compiles no new classes") {
      import org.apache.spark.metrics.source.CodegenMetrics
      MsTables.main(spark)
      inTempDir { dir =>
        // the fixture with every TIME an hour later: same shape, new t0s
        val shifted = dir.resolve("shifted")
        Files.walk(Paths.get(SyntheticMs.root)).forEach { p =>
          val rel = Paths.get(SyntheticMs.root).relativize(p)
          if (!rel.startsWith("main"))
            if (Files.isDirectory(p)) Files.createDirectories(shifted.resolve(rel))
            else Files.copy(p, shifted.resolve(rel.toString))
        }
        MsTables.main(spark)
          .withColumn("TIME", col("TIME") + 3600.0)
          .withColumn("TIME_CENTROID", col("TIME_CENTROID") + 3600.0)
          .write.parquet(shifted.resolve("main").toString)
        def compiles(in: String): Long = {
          val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          run(spark, in, dir.resolve("out").toString)
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
        }
        compiles(SyntheticMs.root)
        val again = compiles(shifted.toString)
        assert(again == 0, s"a run over new t0s compiled $again classes")
      }
    }
}
