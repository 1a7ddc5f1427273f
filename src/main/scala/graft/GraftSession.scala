package graft

import org.apache.spark.sql.SparkSession

/** The one way this repo builds a session: local mode on `cores` threads
  * with as many shuffle partitions, UTC, no UI, Spark logging at
  * `logLevel`, and Graft's functions and rules installed. `conf` carries
  * a caller's static settings, such as a test warehouse dir. */
object GraftSession {
  def apply(cores: Int, logLevel: String = "ERROR",
            conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.catalyst.GraftFunctions.register(spark)
    spark
  }
}
