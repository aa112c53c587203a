package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession of the command-line mains (Bench, Verify,
  * Smoke, Explain, ConfigSweep, Scaling, SqlSweep, StreamBench,
  * StreamProfile): `local[cpus]` with shuffle partitions = cpus, UTC
  * session time, nanosecond parquet timestamps read as longs (the
  * [[Tables]] schema branch), the Spark UI off and the graft SQL
  * extensions installed. */
object GraftSession {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else the host's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
