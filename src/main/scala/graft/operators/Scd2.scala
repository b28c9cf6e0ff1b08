package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2 maintenance — the dimension-history
  * discipline an ETL-storage user layers on top of the reference's
  * replace-mode writes (/root/reference/database/mysql/table.go:63-69
  * upserts in place and loses history; SCD2 keeps every version of a key
  * as a closed row).
  *
  * State schema = business key + tracked attributes +
  * (`effective_from` long, `effective_to` nullable long, `is_current`
  * boolean): current rows carry null `effective_to`. A change batch is a
  * snapshot of new/changed keys; applying it at `version`:
  *
  *  - unknown key            -> insert current row [version, null)
  *  - known key, any tracked attribute differing (null-safe compare)
  *                           -> close the current row at `version` and
  *                              insert the new current row
  *  - known key, identical   -> no-op (idempotent re-delivery is safe)
  *
  * Scale shape: ONE full-outer shuffle join of the change batch against
  * the current slice on the business key, then pure projections — closed
  * rows are reconstructed from the join output rather than re-joined, so
  * the history slice streams through untouched and no second pass over
  * the dimension exists. Composes with VersionedTable for the storage
  * side: each applied batch is a new commit, so time travel serves
  * dimension-as-of queries.
  */
object Scd2 {

  private val MetaCols = Seq("effective_from", "effective_to", "is_current")

  /** Seed a fresh SCD2 state from an initial snapshot. */
  def init(snapshot: DataFrame, version: Long): DataFrame =
    snapshot
      .withColumn("effective_from", lit(version))
      .withColumn("effective_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))

  /** Apply one change batch to `state`, returning the NEW full state.
    * `tracked` defaults to every non-key, non-meta column. Change rows
    * must be unique per key (a snapshot, not a changelog). */
  def applyChanges(state: DataFrame, changes: DataFrame, keys: Seq[String],
      version: Long, trackedCols: Seq[String] = Seq.empty): DataFrame = {
    val tracked =
      if (trackedCols.nonEmpty) trackedCols
      else changes.columns.toSeq.filterNot(keys.contains)
        .filterNot(MetaCols.contains)
    val attrs = keys ++ tracked
    require(MetaCols.forall(state.columns.contains),
      "state is not an SCD2 frame (missing effective_from/to, is_current)")

    val cur = state.filter(col("is_current"))
    val hist = state.filter(!col("is_current"))

    // one shuffle: change snapshot vs current slice, keyed on the
    // business key; both sides marked so existence is testable after
    // the outer join
    val curProj = cur.select(
      (attrs.map(col) :+ col("effective_from") :+ lit(true).as("__in_cur")): _*)
    val c = curProj.columns.foldLeft(curProj)(
      (df, n) => df.withColumnRenamed(n, s"__c_$n"))
    val u = changes.select(attrs.map(col): _*)
      .withColumn("__in_chg", lit(true))
    val full = u.join(c,
      keys.map(k => col(k) <=> col(s"__c_$k")).reduce(_ && _), "full_outer")

    val differs = tracked.map(t => !(col(t) <=> col(s"__c_$t")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val changed = col("__in_chg").isNotNull &&
      col("__c___in_cur").isNotNull && differs

    // the surviving image of every pre-existing current row: closed at
    // `version` when its key changed, untouched otherwise
    val fromCur = full.filter(col("__c___in_cur").isNotNull).select(
      (keys.map(k => col(s"__c_$k").as(k)) ++
        tracked.map(t => col(s"__c_$t").as(t)) :+
        col("__c_effective_from").as("effective_from") :+
        when(changed, lit(version)).cast("long").as("effective_to") :+
        (!changed).as("is_current")): _*)

    // the new current image of every new or changed key
    val fromChg = full.filter(col("__in_chg").isNotNull &&
        (col("__c___in_cur").isNull || differs))
      .select((attrs.map(col) :+
        lit(version).as("effective_from") :+
        lit(null).cast("long").as("effective_to") :+
        lit(true).as("is_current")): _*)

    val cols = (attrs ++ MetaCols).map(col)
    hist.select(cols: _*)
      .unionAll(fromCur.select(cols: _*))
      .unionAll(fromChg.select(cols: _*))
  }

  /** Streaming dimension maintenance: every micro-batch of the change
    * stream applies as one SCD2 batch against a [[graft.sinks.
    * VersionedTable]]-backed dimension, stamped with the micro-batch id
    * (+1, so the first batch opens history at version 1). foreachBatch
    * is at-least-once; re-applying an identical change snapshot is a
    * no-op by the null-safe compare, so the composition is exactly-once
    * in effect — and every batch is a lake commit, so time travel
    * reconstructs the dimension as of any batch. */
  def streamingSink(changes: DataFrame, root: String, keys: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    changes.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.sinks.VersionedTable
        val spark = batch.sparkSession
        val next =
          if (VersionedTable.headVersion(spark, root).isEmpty)
            init(batch, batchId + 1)
          else applyChanges(VersionedTable.read(spark, root), batch, keys,
            batchId + 1)
        VersionedTable.write(next, root)
        ()
      }
}
