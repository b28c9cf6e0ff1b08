package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one place where graft materializes a working set. Every operator
  * that re-scans an intermediate (graph iteration edge sets and ranks,
  * CC labels, k-means vectors, ER blocking inputs, prefix-sum frames)
  * pins it here, and every iterative loop takes its rounds through
  * [[round]], so the materialization policy is written once.
  *
  * Why a checkpoint and not `cache()`: a pinned frame is scanned again
  * and again (once per round of a loop, or once per consumer of a
  * shared intermediate), and the columnar in-memory cache pays a
  * decompress+decode on every scan — measured 10-17 s of executor time
  * per pageRank iteration at sf0.1 on 32 cores just re-reading the edge
  * working set. A checkpoint stores finished UnsafeRows (a scan is an
  * iteration, no decode) and cuts the lineage: a loop's plan does not
  * nest one join per round, an expensive upstream (a pair generation,
  * a co-purchase join) leaves every consumer's plan, and the rows stay
  * fixed across a later `refreshByPath` of the files they were read
  * from (which invalidates a persisted plan and would silently
  * recompute it against the rewritten files).
  *
  * Partitioning: under AQE (Spark's default, and every graft session) a
  * pin reports UnknownPartitioning, even when its input was
  * hash-partitioned right before it — the checkpoint records the
  * partitioning its physical plan reports, and an adaptive plan
  * reports Unknown. A join of a pinned frame on the key it was
  * clustered by therefore exchanges it again unless the other side
  * broadcasts.
  * Without AQE the pin keeps its input's HashPartitioning (PinSpec
  * checks both on Spark 4.1.2).
  *
  * Two modes, one switch:
  *  - default: eager `localCheckpoint()` — blocks live on executors.
  *  - `spark.graft.pin.reliable=true` AND a `SparkContext.setCheckpointDir`
  *    directory set: reliable `checkpoint()` — blocks go to the
  *    checkpoint dir and survive executor loss. `localCheckpoint` is NOT
  *    fault-tolerant: on a real cluster one lost executor (or dynamic
  *    allocation reclaiming one) makes the pinned RDD unrecoverable, so
  *    a large deployment must flip this switch (the speed cost is one
  *    write+read of the working set through the checkpoint FS).
  *
  * Both modes return a DataFrame with the SAME rows and schema; the
  * choice can never change query results (PinSpec runs kCore, pageRank
  * and connected components both ways).
  */
object Pin {
  /** Config key: set "true" (with a checkpoint dir) for fault-tolerant
    * pins on clusters where executors can be lost. */
  val ReliableKey = "spark.graft.pin.reliable"

  def workingSet(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.getOption(ReliableKey).exists(_.equalsIgnoreCase("true")) &&
        spark.sparkContext.getCheckpointDir.isDefined
    if (reliable) df.checkpoint() else df.localCheckpoint()
  }

  /** One round of an iterative loop: pins `df` with the aggregate
    * `metric` observed on the pinning job itself, so the value that
    * drives the loop's exit test (a count, a changed-row sum, an L1
    * total) costs no second action. Returns the pinned frame and the
    * observed value; a null aggregate (a sum over an empty frame) comes
    * back as None. `name` labels the observation and must not repeat
    * within one plan — callers number it by round. */
  def round[T](df: DataFrame, name: String, metric: Column)
      : (DataFrame, Option[T]) = {
    val obs = Observation(name)
    val pinned = workingSet(df.observe(obs, metric.as("v")))
    (pinned, Option(obs.get("v")).map(_.asInstanceOf[T]))
  }
}
