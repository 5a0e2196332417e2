package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every graft main and the spec suite
  * build from: master `$SPARK_MASTER`, else `local[$SPARK_GRAFT_CPUS]`
  * (default 4 cores); shuffle partitions = cores; UTC session time zone;
  * AQE on; UI off; session artifact isolation off; log level WARN.
  */
object Session {

  /** Scan splits sized to COMPUTE cost, not bytes: MS visibility rows
    * and media payloads carry ~100× the per-byte decode cost of flat
    * columns, and at the fixture's MB sizes the 128 MB default pins
    * whole array-heavy scans on 1-2 tasks (measured: the 10× MS
    * averaging probes ran at parallelism ≈ 2). 2 MB keeps small flat
    * tables at one split while letting dense scans fan out; on a real
    * cluster this knob scales with bytes-per-core of the densest table.
    * Bench and PlanDump both set it, so a dumped plan is the benched one.
    */
  val ComputeSizedSplits: (String, String) =
    "spark.sql.files.maxPartitionBytes" -> s"${2 * 1024 * 1024}"

  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(extraConf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Spark's codegen cache is keyed by class loader, and artifact
      // isolation gives every session its own executor class loader:
      // with it on, each new session recompiles its executor-side
      // classes (a groupBy count: 5 of its 8; a warm st9 call, whose
      // streams run in per-query sessions inside a per-entry child:
      // 45 classes, 4 with it off). graft adds no session artifacts.
      .config("spark.sql.artifact.isolation.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
