package graft

import org.apache.spark.sql.SparkSession

/** One place for the local-session knobs the runnable mains share
  * (thread count from SPARK_GRAFT_CPUS, shuffle partitions = cores — never
  * the 200 default — UTC, no UI, the FAIR scheduler). Verify, Bench and
  * ServeBench build their sessions here. FAIR lets ServeBench's
  * concurrent clients share the executors; a job submitted without a
  * pool goes to the default pool, which runs its jobs in FIFO order, so
  * the single-threaded mains schedule as under the FIFO default. */
object Sessions {
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      // session-wide by necessity (no per-read option); see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
