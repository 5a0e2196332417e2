package graft.ops

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions.col
import graft.{JobProbe, SparkSpec}
import graft.ms.{MsTables, SyntheticMs}

/** The cost of planning an averaging run: the plan pass is one narrow
  * job, the main write moves its rows once, and a run over another
  * input of the same shape reuses every generated class.
  */
class PlanBudgetSpec extends SparkSpec {

  private val args = Timechannel.Args(timeBinSecs = 60000.0, chanBinSize = 4,
    dataCols = Seq("DATA" -> "DATA"), force = true)

  test("the plan pass runs as 1 job with 0 shuffle bytes") {
    val sel = Flags.select(MsTables.main(spark), args)
    val (st, probe) = JobProbe(spark)(Chunking.planStats(sel))
    assert(st.nRows > 0)
    assert(probe.jobs == 1, s"the plan pass ran ${probe.jobs} jobs")
    assert(probe.shuffleBytes == 0, s"the plan pass shuffled ${probe.shuffleBytes} bytes")
  }

  test("Timechannel.run's main write executes one Exchange, routed by _PID") {
    val dir = Files.createTempDirectory("graft_plan_budget")
    try {
      val (_, probe) = JobProbe(spark)(
        Timechannel.run(spark, SyntheticMs.root, dir.resolve("out").toString, args))
      val writes = probe.plans.map(_._2).filter(p =>
        p.contains("InsertIntoHadoopFsRelationCommand") && p.contains("graft_vis_avg"))
      assert(writes.size == 1, s"expected one averaging write, got:\n${writes.mkString("\n")}")
      val exchanges = writes.head.linesIterator
        .filter(l => "\\bExchange\\b".r.findFirstIn(l).isDefined).toList
      assert(exchanges.size == 1 && exchanges.head.contains("direct_shuffle_partition_id(_PID"),
        s"expected one Exchange, routed by _PID:\n${writes.head}")
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }

  test("a second Timechannel.run over shifted TIMEs compiles no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    MsTables.main(spark)
    val dir = Files.createTempDirectory("graft_plan_budget")
    try {
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
      def run(in: String): Long = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        Timechannel.run(spark, in, dir.resolve("out").toString, args)
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      run(SyntheticMs.root)
      val again = run(shifted.toString)
      assert(again == 0, s"a run over new t0s compiled $again classes")
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }
}
