package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Dev tool: run one SparkEntry query with a stage-level profiler.
  *
  * Prints, after a warmup pass, per-stage aggregate wall/executor time
  * grouped by the stage's call site — the local[N] stand-in for the Spark
  * UI's stage table (guide §1.1/§7.1; the bench boxes run with the UI off,
  * so this listener is how we see where a query's seconds actually go).
  *
  * Usage: runMain graft.tools.Profile <queryName> [sfDir] [cpus] [iters]
  */
object Profile {
  private case class Acc(var n: Int = 0, var wallMs: Long = 0L,
      var execMs: Long = 0L, var cpuMs: Long = 0L, var tasks: Long = 0L,
      var shufReadB: Long = 0L, var shufWriteB: Long = 0L,
      var inB: Long = 0L)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2).toInt else 32
    val iters = if (args.length > 3) args(3).toInt else 2
    val spark = graft.Sessions.local(cpus, "graft-profile")
    spark.sparkContext.setLogLevel("WARN")

    val bySite = mutable.LinkedHashMap.empty[String, Acc]
    val stageSite = mutable.HashMap.empty[Int, String]
    var nJobs = 0
    @volatile var record = false
    val execDesc = mutable.HashMap.empty[Long, String]
    val listener = new SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui
              .SparkListenerSQLExecutionStart =>
            execDesc(e.executionId) = e.description
          case _ => ()
        }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        if (!record) return
        nJobs += 1
        // attribution: the SQL execution's description is the action
        // call site (e.g. "localCheckpoint at Graph.scala:132") — the
        // operator-level key the stage's own truncated details can't
        // provide under the SQL thread pool
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execDesc.get(id.toLong))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        js.stageIds.foreach(id => stageSite(id) = site)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        if (!record) return
        val si = sc.stageInfo
        val site = stageSite.getOrElse(si.stageId, "?")
        if (sys.env.contains("PROFILE_DETAIL"))
          println(f"[stage] id=${si.stageId}%5d tasks=${si.numTasks}%4d " +
            f"exec=${si.taskMetrics.executorRunTime}%6d " +
            f"in=${si.taskMetrics.inputMetrics.bytesRead / 1e6}%7.1f " +
            f"shR=${si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%7.1f " +
            f"shW=${si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6}%7.1f " +
            f"${si.name.take(90)}%s @ $site")
        val a = bySite.getOrElseUpdate(
          s"${si.name.takeWhile(_ != '(')} @ ${site.trim}", Acc())
        a.n += 1
        a.wallMs += si.completionTime.getOrElse(0L) -
          si.submissionTime.getOrElse(0L)
        a.execMs += si.taskMetrics.executorRunTime
        a.cpuMs += si.taskMetrics.executorCpuTime / 1000000L
        a.tasks += si.numTasks
        a.shufReadB += si.taskMetrics.shuffleReadMetrics.totalBytesRead
        a.shufWriteB += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        a.inB += si.taskMetrics.inputMetrics.bytesRead
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val fn = graft.SparkEntry.queries(name)
    // warmup (JIT + classloading), untimed, at the smallest SF so every
    // AQE path is compiled
    try fn(spark, "/root/testdata/sf0.001").count()
    catch { case _: Throwable => () }

    record = true
    val times = (0 until iters).map { _ =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"[profile] FAILED: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    record = false
    // let the listener bus drain before reading the accumulators
    Thread.sleep(2000)

    println(f"[profile] $name  iters=$iters  times=${times.map(t => f"$t%.2f").mkString(",")}  min=${times.min}%.3f s  jobs=$nJobs (all iters)")
    val rows = bySite.toSeq.sortBy(-_._2.execMs)
    println(f"[profile] ${"execMs"}%8s ${"cpuMs"}%8s ${"wallMs"}%8s ${"n"}%4s ${"tasks"}%6s ${"shR.MB"}%7s ${"shW.MB"}%7s ${"in.MB"}%7s  site")
    rows.take(40).foreach { case (site, a) =>
      println(f"[profile] ${a.execMs}%8d ${a.cpuMs}%8d ${a.wallMs}%8d ${a.n}%4d ${a.tasks}%6d ${a.shufReadB / 1e6}%7.1f ${a.shufWriteB / 1e6}%7.1f ${a.inB / 1e6}%7.1f  ${site.take(200)}")
    }
    spark.stop()
  }
}
