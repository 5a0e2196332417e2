package graft

/** The shared spec session is built by graft.Session, so specs run under
  * the same conf as the CLI, Verify and Bench.
  */
class SessionSpec extends SparkSpec {

  test("spec session carries the factory conf: UTC, AQE on, one shuffle partition per core") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
  }
}
