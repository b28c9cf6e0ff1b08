package graft

import org.apache.spark.sql.SparkSession

/** The local session graft's mains run on: `local[cpus]` with one
  * shuffle partition per core, UTC session time, no UI, and the
  * settings the fixtures need ([[Tables.RequiredConf]]). AQE and its
  * partition coalescing are Spark's defaults and stay on. Log levels
  * are the caller's. */
object Sessions {
  def local(cpus: Int, appName: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Tables.RequiredConf.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }
}
