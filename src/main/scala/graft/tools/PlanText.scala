package graft.tools

/** Dev tool: write `explain("formatted")` of named SparkEntry queries to
  * plans/<outdir>/<query>_<suffix>.txt (the optimization-round evidence
  * files). Usage:
  *   runMain graft.tools.PlanText <outDir> <suffix> <q1,q2,...> [sfDir] [cpus]
  */
object PlanText {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 4) args(4).toInt else 32
    val spark = graft.Sessions.local(cpus, "graft-plantext")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plantext] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plantext] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
