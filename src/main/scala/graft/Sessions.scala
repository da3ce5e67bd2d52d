package graft

import org.apache.spark.sql.SparkSession

/** One place for the local-session knobs the runnable mains share
  * (thread count from SPARK_GRAFT_CPUS, shuffle partitions = cores — never
  * the 200 default — UTC, no UI). Verify and Bench build their sessions
  * here too; ServeBench keeps its own builder for the FAIR scheduler. */
object Sessions {
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // session-wide by necessity (no per-read option); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
