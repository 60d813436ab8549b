package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every command-line main runs on: master
  * `local[$SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
  * partitions, UTC session time, no UI, and `logLevel` on the context.
  */
object Sessions {
  def local(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
