package graft.ms

import org.apache.spark.sql.{DataFrame, SaveMode}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Comparator, UUID}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Try, Using}

/** Parquet MS sink (SURVEY §2.1 S7–S10).
  *
  * Mirrors the reference's output lifecycle:
  *  - S10 overwrite guard — refuse an existing output unless forced
  *    (/root/reference/xova/apps/xova/app.py:152-159).
  *  - S7/S8 main + regenerated-subtable writes (app.py:107-118).
  *  - S9 verbatim passthrough of every untouched subtable
  *    (reference xova/apps/xova/subtables.py:9-37) — a recursive
  *    filesystem copy of its directory: no Spark job, and the copied
  *    files are byte-identical to the input's.
  *
  * The output MS is committed atomically: every table is written under
  * a hidden sibling staging directory that one rename moves into place,
  * so a failed run never leaves a partial MS at the output path, and a
  * forced overwrite keeps the old output until the new one is complete.
  * The guard, staging, commit and cleanup use `java.nio.file` on local
  * paths, so the output MS must live on a local filesystem; moving them
  * to Hadoop `FileSystem` is ROADMAP item 3(c).
  */
object MsWriter {

  /** S10: returns normally iff writing may proceed (checked before any
    * work; a forced overwrite is swapped in by [[writeMs]]).
    */
  def guard(outRoot: String, force: Boolean): Unit =
    if (Files.exists(Paths.get(outRoot)) && !force)
      throw new IllegalStateException(
        s"output $outRoot exists; pass force=true to overwrite")

  /** The whole output MS, staged and committed with one rename: `main`
    * (hive-partitioned by `partitionCols`) overlapped by the concurrent
    * `regenerated` + passthrough subtable writes. On failure the staging
    * directory is removed (best effort) and `outRoot` is untouched.
    * Returns the tables written.
    */
  def writeMs(inRoot: String, outRoot: String,
              force: Boolean, main: DataFrame, partitionCols: Seq[String],
              maxRecordsPerFile: Long,
              regenerated: Seq[(String, DataFrame)]): Seq[String] = {
    val out = Paths.get(outRoot).toAbsolutePath.normalize
    val stage = sibling(out, "staging")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val side = Future(passthrough(inRoot, stage.toString, regenerated))
    try {
      writeTable(main, stage.toString, "main", partitionCols, maxRecordsPerFile)
      val tables = "main" +: Await.result(side, Duration.Inf)
      if (!Files.exists(out)) move(stage, out)
      else { // forced: set the old output aside until the new one is in
        guard(outRoot, force)
        val old = sibling(out, "old")
        move(out, old)
        try move(stage, out) catch { case e: Throwable => move(old, out); throw e }
        Try(deleteTree(old))
      }
      tables
    } catch {
      case e: Throwable =>
        Try(Await.ready(side, Duration.Inf))
        Try(deleteTree(stage))
        throw e
    }
  }

  private def sibling(p: Path, tag: String): Path =
    p.resolveSibling(s".${p.getFileName}.$tag-${UUID.randomUUID()}")

  private def move(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)

  private def deleteTree(p: Path): Unit =
    Using.resource(Files.walk(p))(
      _.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f)))

  /** S7/S8: one table of the output MS. `partitionCols` hive-partitions
    * the layout (used for `main`: the reference's natural group key, so
    * field/scan selections on the written MS partition-prune at the
    * source — SURVEY §4 O3). Callers must sort with the partition
    * columns as a prefix, or the writer inserts its own (unstable)
    * partition sort and scrambles the within-file TIME order.
    */
  def writeTable(df: DataFrame, outRoot: String, table: String,
                 partitionCols: Seq[String] = Nil,
                 maxRecordsPerFile: Long = 0): Unit = {
    var w = df.write.mode(SaveMode.ErrorIfExists)
    if (maxRecordsPerFile > 0)
      w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(s"$outRoot/$table")
  }

  /** S8 + S9: write the `regenerated` subtables and copy through every
    * other subtable of the input MS. The regenerated subtables are tiny
    * independent writes to distinct directories, so they run as
    * CONCURRENT Spark jobs — on a cluster this collapses sequential
    * driver→executor round-trips into one wave (and locally it hides
    * per-job scheduling overhead); the untouched ones are copied file by
    * file on the driver meanwhile. Returns the table names.
    */
  def passthrough(inRoot: String, outRoot: String,
                  regenerated: Seq[(String, DataFrame)]): Seq[String] = {
    val skip = regenerated.map(_._1).toSet + "main"
    val in = Paths.get(inRoot)
    val copied = Using.resource(Files.list(in))(_.toArray.toSeq)
      .map(_.asInstanceOf[Path]).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filterNot(skip).sorted
    implicit val ec: ExecutionContext = ExecutionContext.global
    val writes = regenerated.map { case (t, df) =>
      Future(writeTable(df, outRoot, t))
    }
    val out = Paths.get(outRoot)
    // a failed copy still waits for the writes, so the caller's cleanup
    // never races them
    val copy = Try(copied.foreach(t => copyTree(in.resolve(t), out.resolve(t))))
    Await.result(Future.sequence(writes), Duration.Inf)
    copy.get
    regenerated.map(_._1) ++ copied
  }

  /** Recursive verbatim copy of the directory `from` to `to` (which must
    * not exist yet), directories before their contents.
    */
  private def copyTree(from: Path, to: Path): Unit =
    Using.resource(Files.walk(from))(_.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst)
    })
}
