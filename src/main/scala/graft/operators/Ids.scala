package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, sum}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Global dense row numbering at scale.
  *
  * The declarative form — `row_number() OVER (ORDER BY ...)` with no
  * partition — collapses into ONE partition (Spark warns exactly this),
  * which is the classic 100 TB cliff. `monotonically_increasing_id` is
  * distributed but neither dense nor ordered. The scalable shape is
  * range-repartition by the order key, sort within partitions, then a
  * two-job zip: one tiny job counts rows per partition (the offsets),
  * the main job adds offset + local index — O(partitions) driver state,
  * full cluster parallelism, and the result is exactly the global dense
  * row number. */
object Ids {

  /** Append `idCol` = 0-based dense global row number under the total
    * order `order` (include a unique tiebreaker for determinism).
    * `numPartitions` pins the range-partition fan-out; by default AQE
    * sizes it (and may coalesce small inputs to one partition — set it
    * explicitly when asserting parallelism). */
  /** Append `outCol` = the EXACT global running sum of `v` under the
    * total order `order` — the distributed prefix sum. A global-window
    * `sum over (order by ...)` collapses to ONE partition (the same
    * cliff [[denseGlobalRowNumber]] exists for); this is the two-phase
    * form: range-repartition on the order, per-PARTITION running sums in
    * parallel windows, then each partition adds the total of every
    * partition before it (partition totals are the only driver-side
    * value — bounded by the partition count, joined back broadcast).
    * `v` should be decimal/integral so the prefix is exact. Include a
    * unique tiebreaker in `order` for cross-engine determinism. */
  def prefixSum(df: DataFrame, order: Seq[Column], v: Column,
      outCol: String): DataFrame = {
    require(order.nonEmpty)
    val parted = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", org.apache.spark.sql.functions
        .spark_partition_id())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // pin the ranked running-sum frame ONCE: the totals collect below
    // and the final offset join both consume it, and without the pin
    // the whole upstream (often the query's expensive aggregate) plus
    // the range exchange and window would execute twice (r10
    // optimization — measured 2x on abc_classification's revenue agg)
    val local = Pin.workingSet(parted.withColumn("__run", sum(v).over(w)))
    val totals = local.groupBy(col("__pid"))
      .agg(sum(v).as("__tot")).orderBy(col("__pid")).collect()
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    // offset for partition i = sum of totals of partitions < i, exact
    // BigDecimal arithmetic (totals may be decimal or integral)
    def toDec(x: Any): java.math.BigDecimal = x match {
      case null => java.math.BigDecimal.ZERO
      case d: java.math.BigDecimal => d
      case n: java.lang.Number => new java.math.BigDecimal(n.toString)
    }
    var acc = java.math.BigDecimal.ZERO
    val rows = totals.map { r =>
      val out = Row(r.getInt(0), acc)
      acc = acc.add(toDec(r.get(1)))
      out
    }
    val runType = local.schema("__run").dataType
    val offDf = spark.createDataFrame(rows.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.DecimalType(38, 10), nullable = false))))
    local.join(broadcast(offDf), Seq("__pid"), "left")
      .withColumn(outCol,
        (col("__run").cast("decimal(38,10)") +
          coalesce(col("__off"), lit(0).cast("decimal(38,10)")))
          .cast(runType))
      .drop("__pid", "__run", "__off")
  }

  def denseGlobalRowNumber(df: DataFrame, order: Seq[Column],
      idCol: String = "row_id", numPartitions: Option[Int] = None)
      : DataFrame =
    denseGlobalRowNumberWithCount(df, order, idCol, numPartitions)._1

  /** [[denseGlobalRowNumber]] that ALSO returns the total row count —
    * free, because the two-job zip's first job (per-partition sizes for
    * the offsets) already sums to it. Callers that need n alongside the
    * ranks (equi-depth bucketing: bucket = rank*k div n) would otherwise
    * pay a third job over the ranked relation — and the upstream of a
    * ranking is often the expensive part of the query (e.g. an LM
    * scoring pass), so the saved job is the saved query. The two jobs
    * share one RDD lineage: the range shuffle materializes once and the
    * second job reuses its map outputs. */
  def denseGlobalRowNumberWithCount(df: DataFrame, order: Seq[Column],
      idCol: String = "row_id", numPartitions: Option[Int] = None)
      : (DataFrame, Long) = {
    require(order.nonEmpty)
    require(!Seq("__dg_mid", "__dg_pid", "__dg_off")
        .exists(df.columns.contains),
      "denseGlobalRowNumber reserves the __dg_mid/__dg_pid/__dg_off " +
        "column names")
    import org.apache.spark.sql.functions.{monotonically_increasing_id,
      shiftrightunsigned, count}
    // the two-job zip shape (what RDD.zipWithIndex does, with the
    // partition sizes kept), all-codegen (r10 optimization — the
    // previous df.rdd round-trip deserialized every row to an external
    // Row and re-encoded it through createDataFrame, in BOTH jobs):
    // monotonically_increasing_id assigned after the in-partition sort
    // is (partitionId << 33) + local index, so the pinned frame carries
    // its own (pid, index) pair; job 1 counts rows per pid (map-side
    // partial), job 2 adds the broadcast per-pid offset. The eager
    // pin keeps ONE materialized layout for both jobs (range
    // boundaries are sampled per execution, so unpinned re-runs could
    // disagree).
    val parted = Pin.workingSet(
      numPartitions.fold(df.repartitionByRange(order: _*))(
          n => df.repartitionByRange(n, order: _*))
        .sortWithinPartitions(order: _*)
        .withColumn("__dg_mid", monotonically_increasing_id()))
    val sizes = parted
      .groupBy(shiftrightunsigned(col("__dg_mid"), 33).as("__dg_pid"))
      .agg(count(lit(1)).as("__dg_n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = sizes.map(_._2).scanLeft(0L)(_ + _)
    val total = if (offsets.isEmpty) 0L else offsets.last
    val offRows = sizes.map(_._1).zip(offsets).map { case (pid, off) =>
      Row(pid, off) }
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val offDf = spark.createDataFrame(offRows.toSeq.asJava,
      StructType(Seq(StructField("__dg_pid", LongType, nullable = false),
        StructField("__dg_off", LongType, nullable = false))))
    val out = parted
      .join(broadcast(offDf),
        shiftrightunsigned(col("__dg_mid"), 33) === col("__dg_pid"))
      .withColumn(idCol,
        col("__dg_off") + (col("__dg_mid") - (col("__dg_pid") * lit(1L << 33))))
      .drop("__dg_mid", "__dg_pid", "__dg_off")
    (out, total)
  }
}
