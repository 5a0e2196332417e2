package graft.e2ebench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer attribution of one pass, from Spark's public listeners.
  *
  * Every job carries `spark.sql.execution.root.id`; the root execution's
  * `SparkListenerSQLExecutionStart.details` is the driver call stack that
  * ran the action, and [[Trace.span]] maps that stack to a
  * `<layer>.<span>` name. Stage names alone are not enough: under AQE the
  * stages of a write run from a `CompletableFuture` and lose their caller.
  * Jobs outside any SQL execution fall back to their result stage's call
  * site.
  */
class Trace extends SparkListener with QueryExecutionListener {
  private case class Acc(
      var jobs: Int = 0, var tasks: Long = 0, var runMs: Long = 0,
      var cpuNs: Long = 0, var waitMs: Long = 0, var inBytes: Long = 0,
      var shufBytes: Long = 0, var shufRecords: Long = 0,
      var spillBytes: Long = 0, var outBytes: Long = 0)

  private val execSpan = mutable.Map.empty[Long, String]
  private val execIvl = mutable.Map.empty[Long, Array[Long]]
  private val jobSpan = mutable.Map.empty[Int, String]
  private val jobIvl = mutable.Map.empty[Int, Array[Long]]
  private val jobFirstTask = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageIvl = mutable.Map.empty[Int, Array[Long]]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val acc = mutable.Map.empty[String, Acc]
  private var planMs = 0L
  /** Jobs without a SQL execution: attributed through their own interval. */
  private val bareJobs = mutable.Set.empty[Int]
  /** Intervals the benchmark recorded around its own calls into a layer. */
  private val marks = mutable.Map.empty[String, mutable.ArrayBuffer[Array[Long]]]

  def mark(span: String, t0: Long, t1: Long): Unit = synchronized {
    marks.getOrElseUpdate(span, mutable.ArrayBuffer.empty) += Array(t0, t1)
  }

  def reset(): Unit = synchronized {
    Seq(execSpan, execIvl, jobSpan, jobIvl, jobFirstTask, stageJob, stageIvl,
      stageTaskMs, acc, marks).foreach(_.clear())
    bareJobs.clear()
    planMs = 0
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        execSpan(s.executionId) = Trace.span(s.details)
        execIvl(s.executionId) = Array(s.time, Long.MaxValue)
      case s: SparkListenerSQLExecutionEnd =>
        execIvl.get(s.executionId).foreach(_(1) = s.time)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    val root = props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(p.getProperty("spark.sql.execution.id")))).map(_.toLong)
    val span = root.flatMap(execSpan.get).getOrElse {
      bareJobs += j.jobId
      j.stageInfos.sortBy(_.stageId).lastOption.map(s => Trace.span(s.details))
        .getOrElse(Trace.Other)
    }
    jobSpan(j.jobId) = span
    jobIvl(j.jobId) = Array(j.time, Long.MaxValue)
    j.stageIds.foreach(stageJob(_) = j.jobId)
    acc.getOrElseUpdate(span, Acc()).jobs += 1
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobIvl.get(j.jobId).foreach(_(1) = j.time)
    for (span <- jobSpan.get(j.jobId); first <- jobFirstTask.get(j.jobId))
      acc(span).waitMs += math.max(0L, first - jobIvl(j.jobId)(0))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime)
      stageIvl(i.stageId) = Array(a, b)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val job = stageJob.get(t.stageId)
    val span = job.flatMap(jobSpan.get).getOrElse(Trace.Other)
    job.foreach { j =>
      jobFirstTask(j) = math.min(jobFirstTask.getOrElse(j, Long.MaxValue),
        t.taskInfo.launchTime)
    }
    stageTaskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
      t.taskInfo.duration
    val a = acc.getOrElseUpdate(span, Acc())
    a.tasks += 1
    Option(t.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.inBytes += m.inputMetrics.bytesRead
      a.shufBytes += m.shuffleWriteMetrics.bytesWritten
      a.shufRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.diskBytesSpilled
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** The span and global metrics of the window [t0, t1] (epoch ms).
    * `spans` fixes the reported span set, so every workload reports the
    * same names (0 for a span its path never enters).
    */
  def metrics(t0: Long, t1: Long, spans: Seq[String], cores: Int,
              inputRows: Long, inputBytes: Long): Map[String, Double] = synchronized {
    val wallMs = (t1 - t0).toDouble
    def clip(iv: Array[Long]) = (math.max(iv(0), t0), math.min(iv(1), t1))
    def covered(ivs: Iterable[Array[Long]]): Double = {
      val sorted = ivs.map(clip).filter(p => p._2 > p._1).toSeq.sortBy(_._1)
      var total = 0L; var end = Long.MinValue
      sorted.foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
      total.toDouble
    }
    def spanIvls(span: String): Iterable[Array[Long]] =
      execSpan.collect { case (e, s) if s == span => execIvl(e) } ++
        bareJobs.filter(j => jobSpan(j) == span).map(jobIvl) ++
        marks.getOrElse(span, Nil)
    // Driver time between two intervals of the same span is that layer's
    // own driver-side work (reading back, listing, renaming) and belongs
    // to it; a gap between different spans stays unattributed.
    val gaps = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var end = Long.MinValue
    var endSpan = ""
    spans.flatMap(s => spanIvls(s).map(clip).filter(p => p._2 > p._1).map(p => (p._1, p._2, s)))
      .sortBy(_._1).foreach { case (a, b, s) =>
        if (end != Long.MinValue && a > end && s == endSpan) gaps(s) += a - end
        if (b > end) { end = b; endSpan = s }
      }
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (span <- spans) {
      val a = acc.getOrElse(span, Acc())
      val stages = stageJob.keys.filter(s => stageJob.get(s).flatMap(jobSpan.get)
        .contains(span) && stageIvl.contains(s) && stageTaskMs.contains(s))
      val skew = if (stages.isEmpty) 0.0 else {
        val longest = stages.maxBy(s => stageIvl(s)(1) - stageIvl(s)(0))
        val d = stageTaskMs(longest).sorted
        val med = d(d.size / 2)
        if (med > 0) d.last.toDouble / med else 1.0
      }
      out ++= Seq(
        s"$span.wall_s" -> (covered(spanIvls(span)) + gaps(span)) / 1e3,
        s"$span.exec_run_s" -> a.runMs / 1e3,
        s"$span.exec_cpu_s" -> a.cpuNs / 1e9,
        s"$span.wait_s" -> a.waitMs / 1e3,
        s"$span.jobs" -> a.jobs.toDouble,
        s"$span.tasks" -> a.tasks.toDouble,
        s"$span.input_mb" -> a.inBytes / 1e6,
        s"$span.shuffle_mb" -> a.shufBytes / 1e6,
        s"$span.spill_mb" -> a.spillBytes / 1e6,
        s"$span.output_mb" -> a.outBytes / 1e6,
        s"$span.skew" -> skew)
    }
    val all = acc.values
    val attributed = covered(spans.flatMap(spanIvls)) + gaps.values.sum
    out ++= Seq(
      "driver.plan_s" -> planMs / 1e3,
      "driver.only_s" -> (wallMs - covered(jobIvl.values)) / 1e3,
      "spark.parallelism" -> all.map(_.runMs).sum / (wallMs * cores),
      "scan_amplification" -> all.map(_.inBytes).sum.toDouble / inputBytes,
      "ms.write_main.combine_ratio" ->
        acc.get("ms.write_main").map(_.shufRecords.toDouble / inputRows).getOrElse(0.0),
      "unattributed_s" -> (wallMs - attributed) / 1e3)
    out.toMap
  }
}

object Trace {
  val Other = "other"

  val MsSpans = Seq("ops.validate", "ops.sizing", "ms.write_main",
    "ms.write_side", "ops.fixms")
  val CurationSpans = Seq("pipeline.dedup", "pipeline.clean",
    "pipeline.package", "pipeline.write")

  /** Call stack (innermost frame first) → span. Side writes run on a
    * Future inside the pipeline's `run` (a `$anonfun$run` frame) or in
    * the passthrough futures; the main write is called from `run`
    * itself. The curation spans are the benchmark's own stage methods.
    */
  def span(stack: String): String = {
    def has(s: String) = stack.contains(s)
    if (has("graft.ops.Uvw$")) "ops.fixms"
    else if (has("graft.ops.Chunking$")) "ops.validate"
    else if (has("MsWriter$.passthrough") || has("MsWriter$.$anonfun$passthrough") ||
        has("Timechannel$.$anonfun$run") || has("Bda$.$anonfun$run")) "ms.write_side"
    else if (has("graft.ms.MsWriter$.writeTable")) "ms.write_main"
    else if (has("graft.ops.Timechannel$") || has("graft.ops.Bda$")) "ops.sizing"
    else if (has("Curation$.dedup")) "pipeline.dedup"
    else if (has("Curation$.clean")) "pipeline.clean"
    else if (has("Curation$.pack")) "pipeline.package"
    else if (has("Curation$.write")) "pipeline.write"
    else Other
  }
}
