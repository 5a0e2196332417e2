package graft.ms

import java.nio.file.{Files, Path, Paths}
import graft.SparkSpec
import graft.ops.Timechannel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Failure paths of the output commit (S10): a run that fails while
  * writing `main` must leave the previous output byte-for-byte intact,
  * or no output at all when there was none — never a partial MS — and
  * must not leave its staging directory behind.
  *
  * The fault is real, not mocked: an input whose ANTENNA table lacks
  * antenna 1 makes the fixvis position lookup's fail-on-missing-antenna
  * guard throw inside the main write, after the subtable writes have
  * been staged.
  */
class MsWriterSpec extends SparkSpec {

  private val base = "/tmp/graft_test/ms_writer"
  private val out = s"$base/out.ms"
  private val args = Timechannel.Args(timeBinSecs = 60000.0, chanBinSize = 8,
    dataCols = Seq("DATA" -> "DATA"), fields = Seq(0), validate = false)

  private def rm(p: String): Unit = {
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(p), true)
    ()
  }

  /** A copy of the fixture MS at `base/name` with `table` edited. */
  private def brokenCopy(name: String, table: String,
                         edit: DataFrame => DataFrame): String = {
    val root = s"$base/$name"
    rm(root)
    MsTables.main(spark) // materialize the fixture
    Files.list(Paths.get(SyntheticMs.root)).toArray.map(_.asInstanceOf[Path])
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).foreach { t =>
        val df = spark.read.parquet(s"${SyntheticMs.root}/$t")
        (if (t == table) edit(df) else df).write.parquet(s"$root/$t")
      }
    root
  }

  /** The fixture MS with antenna 1's POSITION row removed. */
  private lazy val noAntenna1 = brokenCopy("no_antenna1.ms", "ANTENNA",
    _.filter(col("ANTENNA_ID") =!= 1))

  /** Relative path -> SHA-256 of every file under `root`. */
  private def snapshot(root: String): Map[String, String] = {
    val p = Paths.get(root)
    Files.walk(p).toArray.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).map { f =>
        p.relativize(f).toString -> java.security.MessageDigest
          .getInstance("SHA-256").digest(Files.readAllBytes(f))
          .map("%02x".format(_)).mkString
      }.toMap
  }

  /** Relative path -> file identity (device + inode) under `root`. */
  private def fileKeys(root: String): Map[String, AnyRef] = {
    val p = Paths.get(root)
    Files.walk(p).toArray.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).map { f =>
        p.relativize(f).toString -> Files.readAttributes(f,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      }.toMap
  }

  /** Staging or set-aside directories left beside the output. */
  private def leftovers: Seq[String] =
    new java.io.File(base).list().toSeq.filter(_.startsWith(".out.ms."))

  private def failsInMainWrite(inRoot: String, force: Boolean): Unit = {
    val e = intercept[Exception](
      Timechannel.run(spark, inRoot, out, args.copy(force = force)))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("has no POSITION row")),
      s"failed for another reason: $e")
  }

  test("a main write that throws leaves no output MS when there was none") {
    rm(out)
    failsInMainWrite(noAntenna1, force = false)
    assert(!Files.exists(Paths.get(out)), "a partial output MS was left")
    assert(leftovers.isEmpty, s"staging left behind: $leftovers")
  }

  test("a forced run whose main write throws keeps the previous output intact") {
    rm(out)
    Timechannel.run(spark, SyntheticMs.root, out, args)
    val before = snapshot(out)
    assert(before.keys.exists(_.startsWith("main/")))
    failsInMainWrite(noAntenna1, force = true)
    assert(snapshot(out) == before, "the previous output was modified")
    assert(leftovers.isEmpty, s"staging left behind: $leftovers")
  }

  test("guard refuses an existing output before any work; a forced run swaps it") {
    rm(out)
    Timechannel.run(spark, SyntheticMs.root, out, args)
    val before = snapshot(out)
    val beforeKeys = fileKeys(out)
    intercept[IllegalStateException](
      Timechannel.run(spark, SyntheticMs.root, out, args))
    assert(snapshot(out) == before && leftovers.isEmpty)
    Timechannel.run(spark, SyntheticMs.root, out, args.copy(force = true))
    val after = snapshot(out)
    val afterKeys = fileKeys(out)
    // a complete new MS replaced the old one: fresh main part files, and
    // every file — the verbatim subtable copies keep their names — is a
    // new file, not the old one left in place
    assert(after.keySet.map(_.split('/').head) == before.keySet.map(_.split('/').head))
    assert(after.keySet.intersect(before.keySet)
      .forall(k => !(k.startsWith("main/") && k.endsWith(".parquet"))))
    assert(afterKeys.forall { case (k, id) =>
      id != null && !beforeKeys.get(k).contains(id) })
    assert(spark.read.parquet(s"$out/main").count() > 0 && leftovers.isEmpty)
  }

  test("passthrough closes its directory listing: no descriptor leak") {
    // an input holding only `main` copies nothing, so no Spark job runs
    // and any descriptor growth is the listing itself
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val root = s"$base/main_only.ms"
    rm(root)
    Files.createDirectories(Paths.get(s"$root/main"))
    val before = os.getOpenFileDescriptorCount
    (1 to 50).foreach(_ => MsWriter.passthrough(root, s"$base/unused", Nil))
    val grown = os.getOpenFileDescriptorCount - before
    assert(grown < 10, s"$grown descriptors stayed open after 50 passthrough calls")
  }

  test("passthrough copies every untouched subtable byte for byte") {
    MsTables.main(spark) // materialize the fixture
    val dst = s"$base/copied"
    rm(dst)
    Files.createDirectories(Paths.get(dst))
    val tables = MsWriter.passthrough(SyntheticMs.root, dst, Nil)
    assert(tables.nonEmpty && !tables.contains("main"))
    tables.foreach { t =>
      val src = snapshot(s"${SyntheticMs.root}/$t")
      assert(src.nonEmpty && snapshot(s"$dst/$t") == src, s"$t differs from its input")
    }
    assert(!Files.exists(Paths.get(s"$dst/main")))
  }

  test("a UVW gate failure throws before anything is staged") {
    // time-variable phase centres are rejected (fixvis.py:213-218)
    val root = brokenCopy("poly_field.ms", "FIELD",
      _.withColumn("NUM_POLY", lit(1)))
    rm(out)
    val e = intercept[IllegalArgumentException](
      Timechannel.run(spark, root, out, args))
    assert(e.getMessage.contains("NUM_POLY"))
    assert(!Files.exists(Paths.get(out)) && leftovers.isEmpty)
  }
}
