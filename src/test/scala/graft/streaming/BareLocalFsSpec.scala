package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Locks the r19 fork-free checkpoint path (StreamingQueries.scoped):
  * BareLocalFs must behave as a plain local FS for everything the
  * FileSystem-based checkpoint manager does — create/write/read/rename/
  * list — while (a) never forking a process for permissions and (b)
  * writing no Hadoop `.crc` shadows (Spark's manager-level checksum
  * sidecars are the integrity layer above it). Also locks the entry
  * scope around it: the caller's conf is never written, entries run
  * concurrently on one caller, and a stream restarts from its
  * `graftckpt://` checkpoint.
  */
class BareLocalFsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def freshFs(): (BareLocalFs, File) = {
    val fs = new BareLocalFs
    fs.initialize(java.net.URI.create(s"${BareLocalFs.Scheme}:///"),
      new Configuration())
    val dir = Files.createTempDirectory("barefs_spec").toFile
    (fs, dir)
  }

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  test("create/rename/read round-trip, no .crc shadows, no chmod fork") {
    val (fs, dir) = freshFs()
    try {
      val tmp = new Path(s"${BareLocalFs.Scheme}://$dir/x.tmp")
      val dst = new Path(s"${BareLocalFs.Scheme}://$dir/x")
      // the manager's commit shape: create temp with permission, write,
      // close, rename into place
      val out = fs.create(tmp, FsPermission.getFileDefault, true, 4096,
        1.toShort, 4096L, null)
      out.write("graft".getBytes("UTF-8")); out.close()
      // /proc/stat fork counter must not move across a permissioned
      // create (the whole point: RawLocalFileSystem execs `chmod` here)
      def forks(): Long = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("processes "))
        .map(_.split(" ")(1).toLong).getOrElse(0L)
      val f0 = forks()
      val out2 = fs.create(new Path(s"${BareLocalFs.Scheme}://$dir/y.tmp"),
        FsPermission.getFileDefault, true, 4096, 1.toShort, 4096L, null)
      out2.write("x".getBytes("UTF-8")); out2.close()
      fs.setPermission(tmp, FsPermission.getFileDefault)
      assert(forks() - f0 == 0,
        "permissioned create/setPermission forked a process")
      assert(fs.rename(tmp, dst))
      val in = fs.open(dst)
      val buf = new Array[Byte](5); in.readFully(buf); in.close()
      assert(new String(buf, "UTF-8") == "graft")
      // RAW local fs: no ChecksumFileSystem .crc shadow next to files
      val names = dir.listFiles().map(_.getName).toSet
      assert(!names.exists(_.endsWith(".crc")), s"crc shadows: $names")
      assert(fs.listStatus(new Path(s"${BareLocalFs.Scheme}://$dir"))
        .map(_.getPath.getName).toSet == names)
    } finally rm(dir)
  }

  test("streaming entry leaves the scoped ckpt confs restored") {
    // run the cheapest streaming entries end-to-end through the queries
    // map and assert the caller's conf comes out as it went in, also
    // with two entries running at once on one caller — a leak here
    // would silently re-route every later batch write's hadoopConf, and
    // a shared shuffle-partition count would fix the state layout of
    // whichever stream started next. The caller is a session of its
    // own carrying a runtime setting (Bench's 2 MB splits) the child
    // must inherit.
    val s = spark.newSession()
    s.conf.set(graft.Session.ComputeSizedSplits._1,
      graft.Session.ComputeSizedSplits._2)
    val mgrKey = "spark.sql.streaming.checkpointFileManagerClass"
    val implKey = s"fs.${BareLocalFs.Scheme}.impl"
    val partsKey = "spark.sql.shuffle.partitions"
    val parts = s.conf.get(partsKey)
    assert(s.conf.getOption(mgrKey).isEmpty && s.conf.getOption(implKey).isEmpty)
    def unchanged(when: String): Unit = {
      assert(s.conf.getOption(mgrKey).isEmpty,
        s"checkpointFileManagerClass leaked out of the entry scope ($when)")
      assert(s.conf.getOption(implKey).isEmpty,
        s"$implKey leaked out of the entry scope ($when)")
      assert(s.conf.get(partsKey) == parts,
        s"$partsKey changed on the caller ($when)")
    }
    def run(name: String) =
      graft.SparkEntry.queries(name)(s, sfDir)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val out = run("st1_stream_window")
    assert(out.count() > 0)
    unchanged("one entry")
    val child = out.sparkSession
    assert(!(child eq s), "the entry ran on the caller's session")
    Seq("spark.sql.session.timeZone", "spark.sql.adaptive.enabled",
      graft.Session.ComputeSizedSplits._1).foreach { k =>
      assert(child.conf.get(k) == s.conf.get(k), s"child lost the caller's $k")
    }
    val names = Seq("st1_stream_window", "st4_stream_dedup")
    val sequential = names.map(n => rows(run(n)))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val concurrent = names.map(n => Future(rows(run(n))))
      .map(Await.result(_, 10.minutes))
    assert(concurrent == sequential,
      "entries run on two threads differ from sequential runs")
    unchanged("two entries at once")
  }

  test("stateful stream restarted on its graftckpt checkpoint equals an uninterrupted run") {
    import org.apache.spark.sql.functions._
    graft.queries.StreamingQueries.scoped(spark) { (s, tmp) =>
      val ev = graft.queries.Tables.events(s, sfDir)
      val staged = new File(tmp, "staged")
      ev.repartition(4).write.parquet(staged.getAbsolutePath)
      val files = staged.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).toSeq
      assert(files.length == 4)
      def copyInto(dir: File, fs: Seq[File]): File = {
        dir.mkdirs()
        fs.foreach(f => Files.copy(f.toPath, new File(dir, f.getName).toPath))
        dir
      }
      // the complete-mode window aggregate of st1, integer-lifted so any
      // batch split sums exactly
      def run(dir: File, ckpt: String, sink: String) = {
        val q = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir.getAbsolutePath)
          .groupBy(window(graft.ops.EventOps.eventTs(col("ts")), "3600 seconds"),
            col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_sum_c"))
          .writeStream.format("memory").queryName(sink).outputMode("complete")
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
        (q, s.table(sink).collect().map(_.toString).sorted.toSeq)
      }
      val nParts = StateSizing.forFrame(ev, keysPerRow = 1, bytesPerKey = 128)
      s.conf.set("spark.sql.shuffle.partitions", nParts.toString)
      val ckpt = graft.queries.StreamingQueries.checkpoint(tmp, "restart")
      val live = copyInto(new File(tmp, "live"), files.take(2))
      val (_, partial) = run(live, ckpt, "restart_1")
      copyInto(live, files.drop(2))
      // the checkpoint, not the session, fixes the state layout: a
      // different count set before the restart must not apply
      s.conf.set("spark.sql.shuffle.partitions", (nParts + 3).toString)
      val (q, restarted) = run(live, ckpt, "restart_2")
      s.conf.set("spark.sql.shuffle.partitions", nParts.toString)
      val (_, whole) = run(copyInto(new File(tmp, "whole"), files),
        graft.queries.StreamingQueries.checkpoint(tmp, "whole"), "whole")
      assert(partial != whole, "the first run already saw every file")
      assert(q.recentProgress.map(_.batchId).min == 2,
        "the restart did not resume after the two committed batches")
      assert(restarted == whole, "restarted output differs from an uninterrupted run")
      assert(q.lastProgress.stateOperators(0).numShufflePartitions == nParts)
    }
  }
}
