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

  test("a child session reuses the caller's generated classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.col
    def q(s: SparkSession): Unit = {
      s.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
      ()
    }
    q(spark)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    q(org.apache.spark.sql.GraftSqlBridge.cloneSession(spark))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the child recompiled classes the caller had already compiled")
  }
}
