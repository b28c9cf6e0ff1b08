package graft.tools

/** Dev tool: run one SparkEntry query and dump its EXECUTED plan (post-AQE,
  * so ReusedExchange / skew splits / runtime broadcasts are visible —
  * `df.explain` before an action shows only the initial plan).
  *
  * Usage: runMain graft.tools.PlanDump <queryName> [sfDir] [cpus]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = if (args.length > 2) args(2).toInt else 8
    val spark = graft.Sessions.local(cpus, "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val t0 = System.nanoTime()
    // collect() drives df's OWN QueryExecution (df.write/count clone the
    // plan into a new execution, leaving executedPlan isFinalPlan=false
    // — AQE runtime decisions like ReusedExchange would never show)
    val n = df.collect().length
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"[plandump] $name ran in $sec s ($n rows); final plan:")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
