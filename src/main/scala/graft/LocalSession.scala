package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder of the engine's mains and specs:
  * `local[cores]`, UTC session time zone, UI off, WARN log level.
  * `Backfill.main` is not built here: under spark-submit the master comes
  * from spark-submit.
  */
private[graft] object LocalSession {
  def apply(appName: String, cores: Int): SparkSession = apply(appName, cores, cores)

  def apply(appName: String, cores: Int, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
