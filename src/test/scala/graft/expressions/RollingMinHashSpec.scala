package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RollingMinHash laws: equality with an independent brute-force
  * per-window polynomial hash, rolling-edit robustness, null semantics,
  * and interpreted-vs-codegen agreement (eval exercised via a literal).
  */
class RollingMinHashSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  import RollingMinHash.{B, M}

  /** Independent O(n·k) reference: no rolling recurrence. */
  private def brute(text: String, k: Int): Option[Long] = {
    val bytes = text.getBytes("UTF-8")
    if (bytes.length < k) None
    else Some((0 to bytes.length - k).map { i =>
      (0 until k).foldLeft(0L)((h, j) => (h * B + (bytes(i + j) & 0xffL)) % M)
    }.min)
  }

  test("matches the brute-force per-window polynomial hash") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaa", // single window, all-same bytes
      "abcdefghijklmnop", // exactly one window
      (1 to 40).map(i => s"tok$i").mkString(" "))
    val planned = spark.sparkContext.parallelize(texts, 2).toDF("text")
      .select(RollingMinHash(col("text"), 16).as("fp"))
    assertCodegenProject(planned, classOf[RollingMinHash])
    val got = planned
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == texts.map(brute(_, 16)))
  }

  test("codegen and interpreted eval agree") {
    val text = "rolling hashes roll exactly once per byte"
    val planned = spark.sparkContext.parallelize(Seq(text), 1).toDF("text")
      .select(RollingMinHash(col("text"), 16))
    assertCodegenProject(planned, classOf[RollingMinHash])
    val fromPlan = planned.collect()(0).getLong(0)
    val interpreted = RollingMinHash(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(text)), 16)
      .eval(null).asInstanceOf[Long]
    assert(fromPlan == interpreted)
    assert(Some(fromPlan) == brute(text, 16))
  }

  test("shorter-than-window and null inputs yield null") {
    val got = Seq(Some("short"), None).toDF("text")
      .select(RollingMinHash(col("text"), 16).as("fp")).collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("a local edit far from the minimizing window keeps the fingerprint") {
    // winnowing robustness: changing bytes outside every window that
    // attains the minimum leaves the min unchanged IF the new windows
    // don't dip below it — construct a case where the minimum window
    // ("aaaa...") is untouched by the edit
    val base = "zzzz aaaaaaaaaaaaaaaa zzzz hello world content here"
    val edit = base.replace("hello", "jello")
    val fps = Seq(base, edit).toDF("text")
      .select(RollingMinHash(col("text"), 16).as("fp"))
      .collect().map(_.getLong(0))
    assert(brute(base, 16).get == fps(0))
    // the all-'a' window hashes identically in both documents
    val aWindow = (0 until 16).foldLeft(0L)((h, _) => (h * B + 'a'.toLong) % M)
    assert(fps(0) <= aWindow && fps(1) <= aWindow)
  }

  test("SQL registry: INT and BIGINT literal k accepted, junk fails analysis") {
    RollingMinHash.register(spark.sessionState.functionRegistry)
    val text = "the quick brown fox jumps over the lazy dog"
    Seq(text).toDF("text").createOrReplaceTempView("rmh_docs")
    def one(sql: String): Long = spark.sql(sql).collect()(0).getLong(0)
    val int16 = one("SELECT graft_rolling_min_hash(text, 16) FROM rmh_docs")
    assert(Some(int16) == brute(text, 16))
    // BIGINT (and any integral) literal k must work, not ClassCastException
    assert(one("SELECT graft_rolling_min_hash(text, CAST(16 AS BIGINT)) FROM rmh_docs") == int16)
    assert(one("SELECT graft_rolling_min_hash(text, CAST(16 AS SMALLINT)) FROM rmh_docs") == int16)
    def fails(sql: String, needle: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(sql).collect())
      assert(e.getMessage.contains(needle), s"got: ${e.getMessage}")
    }
    fails("SELECT graft_rolling_min_hash(text) FROM rmh_docs", "2 arguments")
    fails("SELECT graft_rolling_min_hash(text, 'x') FROM rmh_docs", "integral literal")
    fails("SELECT graft_rolling_min_hash(text, 0) FROM rmh_docs", "out of range")
    fails("SELECT graft_rolling_min_hash(text, CAST(999 AS BIGINT)) FROM rmh_docs",
      "out of range")
    fails("SELECT graft_rolling_min_hash(text, length(text)) FROM rmh_docs",
      "must be a literal")
  }

  test("hash values stay within [0, M)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val mm = docs.select(RollingMinHash(col("text"), 16).as("fp"))
      .agg(min("fp"), max("fp")).collect()(0)
    assert(mm.getLong(0) >= 0L && mm.getLong(1) < M)
  }
}
