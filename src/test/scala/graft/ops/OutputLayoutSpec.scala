package graft.ops

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions.{col, sum}
import graft.SparkSpec
import graft.ms.SyntheticMs

/** The layout contract of a written output `main`: the averaging
  * exchange routes every group to one partition, so each
  * (FIELD_ID, DATA_DESC_ID, SCAN_NUMBER) directory holds one part file,
  * in TIME order, for both commands.
  */
class OutputLayoutSpec extends SparkSpec {

  private def withOut(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_layout")
    try body(dir.resolve("out").toString)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  /** Part files per group directory of `out`'s main table. */
  private def partFiles(out: String): Map[Path, Int] =
    Files.walk(java.nio.file.Paths.get(out, "main")).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .toSeq.groupBy(_.getParent).map { case (d, fs) => d -> fs.size }

  private def assertLayout(out: String, what: String): Unit = {
    val files = partFiles(out)
    assert(files.size > 1, s"$what wrote ${files.size} group directories")
    assert(files.values.forall(_ == 1), s"$what: part files per group directory: $files")
    val st = Chunking.planStats(spark.read.parquet(s"$out/main"))
    assert(st.nRows > 0)
    assert(st.monotonicViolations == 0,
      s"$what: ${st.monotonicViolations} TIME-monotonicity violations on re-read")
  }

  test("timechannel output: one part file per group directory, TIME-monotone on re-read") {
    withOut { out =>
      Timechannel.run(spark, SyntheticMs.root, out, Timechannel.Args(
        timeBinSecs = 60000.0, chanBinSize = 4, dataCols = Seq("DATA" -> "DATA")))
      assertLayout(out, "timechannel")
    }
  }

  test("bda output: one part file per group directory, TIME-monotone on re-read") {
    withOut { out =>
      Bda.run(spark, SyntheticMs.root, out, graft.queries.BdaQueries.raggedArgs)
      assertLayout(out, "bda")
    }
  }

  test("routeFinalAggregate puts every pid's rows in partition pid") {
    val agg = spark.range(100).select((col("id") % 3).cast("int").as("_PID"), col("id"))
      .groupBy("_PID").agg(sum("id"))
    val placed = GraftSqlBridge.routeFinalAggregate(agg, "_PID", 3).rdd
      .mapPartitionsWithIndex((i, rows) => rows.map(r => (i, r.getInt(0)))).collect()
    assert(placed.length == 3 && placed.forall { case (i, pid) => i == pid },
      placed.mkString(", "))
  }

  test("routeFinalAggregate names the missing final aggregate") {
    val e = intercept[IllegalArgumentException](
      GraftSqlBridge.routeFinalAggregate(spark.range(4).toDF("_PID"), "_PID", 2))
    assert(e.getMessage.contains("expected one final aggregate, found 0"), e.getMessage)
  }
}
