package graft

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints exactly one JSON line.
  *
  * A warmup pass at sf0.001 runs first (untimed) so the timed numbers
  * measure the plans, not JIT/classloading — the first Spark action in a
  * fresh JVM otherwise absorbs multiple seconds of warmup.
  *
  * Each query is timed SPARK_GRAFT_BENCH_ITERS times (default 3) and the
  * MINIMUM is reported: on a shared box a single noisy window otherwise
  * paints a contiguous alphabetical block of queries as multi-x
  * regressions (it did, in round 2); min-of-N measures the plan, not the
  * neighbor's compile job. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
      .max(1)
    val spark = Sessions.local(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // dev loop only: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run
    // (driver leaves it unset and always benches the full surface)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)

    // a failing query is still timed (the stdout line keeps its shape),
    // but never silently: each failure goes to stderr, as in Verify
    def run(name: String, fn: SparkEntry.Q, dir: String): Unit =
      try fn(spark, dir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
      }

    val warmupDir = "/root/testdata/sf0.001"
    queries.foreach { case (name, fn) => run(name, fn, warmupDir) }

    val results = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (0 until iters).map { _ =>
        val t0 = System.nanoTime()
        run(name, fn, sfDir)
        (System.nanoTime() - t0) / 1e9
      }
      name -> times.min
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // sidecar copy of the SAME line: a noisy JVM can interleave stdout
    // (round 9's bench line failed to parse driver-side, which cost the
    // round its entire round-over-round table) — the file is insurance,
    // stdout stays the contract
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
