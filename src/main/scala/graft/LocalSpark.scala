package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session the command-line mains (Bench, Verify,
  * Probe, Explain) run on: `SPARK_GRAFT_CPUS` worker threads (default
  * 4) and as many shuffle partitions, nanosecond parquet timestamps
  * read as longs (events.parquet needs it), UTC session time, no UI,
  * WARN logging. */
object LocalSpark {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The confs every local session shares, mains and test suites
    * alike: `local[cpus]`, `cpus` shuffle partitions, nanosecond
    * parquet timestamps as longs, UTC, no UI. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def session(): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QuietLogs.silenceKnownBoundedWindowWarning()
    spark
  }
}
