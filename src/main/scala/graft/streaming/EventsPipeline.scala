package graft.streaming

import graft.sinks.{ResilientBatchWriter, RetryJudge, RowSink}
import graft.sources.WriterConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface over the `events` shape (SURVEY.md §2.10):
  * the reference is batch-only record pipelining, so this is pure
  * capability-extension, built the Spark-native way — watermarks, windowed
  * aggregation, stateful sessionization, and a foreachBatch sink that
  * reuses the resilient batch writer (its dual size/timeout flush is the
  * streaming trigger's batch analogue, writer/batch_writer.go:199-243).
  *
  * All transforms take/return DataFrames so the same code runs in batch
  * mode (spec'd that way: a batch DataFrame with identical schema flows
  * through the same functions — Spark's unified API).
  */
object EventsPipeline {

  /** Normalize the raw events shape (ts as epoch-nanos long) to an
    * event-time frame: `event_time` timestamp (us precision) + payload. */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", timestamp_micros(expr("ts div 1000")))

  /** Tumbling-window counts/sums per event type with a watermark for
    * state eviction + late-data drop. */
  def tumblingCounts(events: DataFrame, window_ : String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows via the built-in session_window (30-min gap). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes")
      : DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "10 minutes")
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  final case class EventRow(event_id: Long, user_id: Long,
      event_type: String, value: Double, event_time: java.sql.Timestamp)
  final case class UserAgg(user_id: Long, n_events: Long, sum_value: Double)

  /** Custom keyed state: running per-user totals via mapGroupsWithState —
    * the escape hatch for state machines the built-in windows can't
    * express (SURVEY.md §2.10). */
  def statefulUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    withEventTime(events)
      .select($"event_id", $"user_id", $"event_type", $"value", $"event_time")
      .as[EventRow]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0.0))
          val (n, s) = rows.foldLeft((prev.n_events, prev.sum_value)) {
            case ((cn, cs), r) => (cn + 1, cs + r.value)
          }
          val next = UserAgg(uid, n, s)
          state.update(next)
          next
      }.toDF()
  }

  final case class SeqScoreState(last_type: String, n_trans: Long,
    surprise_fp: Long)

  /** Streaming Markov surprisal scoring — the real-time face of
    * [[graft.operators.SequenceModel]]: per-user keyed state carries
    * (last event type, transition count, accumulated fixed-point
    * surprisal) and each micro-batch advances it through the broadcast
    * transition model. `model` maps (prev, next) -> surprisal and is
    * |types|^2-bounded driver state (a schema property, not data size —
    * same class as the Aho-Corasick pattern set and k-means codebooks).
    * Within a batch the group's events sort by (us, event_id), so the
    * emitted totals are bit-identical to the batch scorer's — the gate
    * checks exactly that. Unseen transitions (possible when the model
    * was fitted on a different corpus) contribute `unseenFp`. */
  def statefulSequenceScore(spark: SparkSession, events: DataFrame,
      model: Map[(String, String), Long], unseenFp: Long = 0L)
      : DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    events.select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, String, Long)],
            state: GroupState[SeqScoreState]) =>
          val prev = state.getOption
            .getOrElse(SeqScoreState("START", 0L, 0L))
          var last = prev.last_type
          var n = prev.n_trans
          var s = prev.surprise_fp
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { r =>
            s += bc.value.getOrElse((last, r._3), unseenFp)
            n += 1
            last = r._3
          }
          val next = SeqScoreState(last, n, s)
          state.update(next)
          (uid, n, s)
      }.toDF("user_id", "n_trans", "surprise_fp")
  }

  /** Per-key ingest quota enforced in keyed streaming state — "admit at
    * most `cap` events per user, drop the rest AT INGEST" (the
    * anti-abuse / cost-control valve every ingestion edge carries; the
    * batch analogue is [[graft.operators.Sampling]]'s per-source cap).
    * State per key is ONE long (events admitted so far); within a
    * micro-batch the group's rows sort by (event time, event id), so
    * the admitted set is deterministic and equals the batch
    * row_number ≤ cap cut — which is exactly what the gate's oracle
    * checks. flatMapGroupsWithState in append mode: admitted rows flow
    * through unchanged, over-quota rows vanish. */
  def statefulQuotaCap(spark: SparkSession, events: DataFrame, cap: Long)
      : DataFrame = {
    import spark.implicits._
    require(cap >= 0, s"cap must be >= 0: $cap")
    events.select($"user_id", $"event_id", expr("ts div 1000").as("us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[Long]) =>
          val used = state.getOption.getOrElse(0L)
          val room = math.max(0L, cap - used)
          val take = rows.toSeq.sortBy(r => (r._3, r._2))
            .take(if (room > Int.MaxValue) Int.MaxValue else room.toInt)
          state.update(used + take.size)
          take.map(r => (uid, r._2, r._3)).iterator
      }
      .toDF("user_id", "event_id", "us")
  }

  /** Streaming funnel: a per-entity state machine over
    * flatMapGroupsWithState advancing through `stages` in event-time
    * order and EMITTING each stage completion as it happens — the
    * real-time face of [[graft.operators.Funnel]]'s batch cascade.
    * State per entity is just the completed-stage times (<= nStages
    * longs — bounded regardless of event volume). Within a micro-batch
    * the group's events sort by time, so in-order delivery reproduces
    * the batch semantics exactly: processing chronologically, the first
    * qualifying event per stage IS the earliest (strictly-after rule
    * included — an equal-timestamp event fails `>` no matter the tie
    * order, keeping the result deterministic). */
  def statefulFunnel(spark: SparkSession, events: DataFrame,
      stages: Seq[String], windowUs: Long): DataFrame = {
    import spark.implicits._
    events.select($"user_id", $"event_type",
        expr("ts div 1000").as("us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, String, Long)],
            state: GroupState[List[Long]]) =>
          var times = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, Long)]
          rows.toSeq.sortBy(_._3).foreach { case (_, et, us) =>
            val i = times.length
            if (i < stages.length && et == stages(i) &&
                (i == 0 || (us > times.last && us <= times.head + windowUs))) {
              times = times :+ us
              out += ((uid, i, us))
            }
          }
          if (times.nonEmpty) state.update(times)
          out.iterator
      }.toDF("user_id", "stage_idx", "stage_us")
  }

  /** Per-user event-sequence transitions as a streaming state machine —
    * the real-time face of the batch `events_transitions` lag window.
    * State per user is exactly ONE (us, event_id, type) triple (the last
    * event seen), so state is bounded by user cardinality, not volume.
    * Within a micro-batch the group's rows sort by (us, event_id) — the
    * batch window's total order — so in-order batch delivery reproduces
    * the lag semantics exactly; sequence heads emit prev='START'. */
  def statefulTransitions(spark: SparkSession, events: DataFrame)
      : DataFrame = {
    import spark.implicits._
    events.select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, String, Long)],
            state: GroupState[(Long, Long, String)]) =>
          var prev: Option[(Long, Long, String)] = state.getOption
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, String, String)]
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach {
            case (_, eid, et, us) =>
              out += ((uid, prev.map(_._3).getOrElse("START"), et))
              prev = Some((us, eid, et))
          }
          prev.foreach(state.update)
          out.iterator
      }.toDF("user_id", "prev_type", "next_type")
  }

  /** Same running totals through Spark 4's `transformWithState` — the
    * successor stateful API (`StatefulProcessor` + named state
    * variables + optional TTL) that replaces mapGroupsWithState for new
    * code: state is schema'd per variable (evolvable), timers are
    * first-class, and TTL bounds state without watermark coupling.
    * Requires the RocksDB state store provider
    * (spark.sql.streaming.stateStore.providerClass) — named state
    * variables map to column families the HDFS-backed store lacks. */
  def statefulUserTotalsTws(spark: SparkSession,
      events: DataFrame): DataFrame = {
    import spark.implicits._
    withEventTime(events)
      .select($"event_id", $"user_id", $"event_type", $"value", $"event_time")
      .as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
      .toDF()
  }

  /** Per-user totals processor for [[statefulUserTotalsTws]]: one named
    * ValueState variable, no timers, no TTL (add TTLConfig to expire
    * idle users at stream scale). */
  final class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventRow, UserAgg] {
    @transient private var totals:
      org.apache.spark.sql.streaming.ValueState[UserAgg] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserAgg]("totals",
        org.apache.spark.sql.Encoders.product[UserAgg],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[EventRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserAgg] = {
      val prev = if (totals.exists()) totals.get() else UserAgg(uid, 0L, 0.0)
      val (n, s) = rows.foldLeft((prev.n_events, prev.sum_value)) {
        case ((cn, cs), r) => (cn + 1, cs + r.value)
      }
      val next = UserAgg(uid, n, s)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** Streaming exact dedup: at most one row per `idCols` among
    * duplicates arriving within the watermark delay of each other —
    * Spark's stateful dropDuplicatesWithinWatermark, the watermark
    * bounding state so dedup state can't grow unboundedly at stream
    * scale (the streaming face of Dedup.exactKeep; a duplicate arriving
    * beyond the horizon is treated as new — the at-scale trade every
    * streaming dedup makes). */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks within the preceding `interval` — the enrichment join
    * the reference's batch pipeline cannot express. Watermarks on BOTH
    * sides bound the buffered state: Spark keeps each side only for
    * interval + watermark, so state is O(rate x horizon), not O(stream).
    */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
      interval: String = "1 hour", watermark: String = "10 minutes")
      : DataFrame = {
    val p = withEventTime(purchases)
      .withWatermark("event_time", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_time").as("p_time"))
    val c = withEventTime(clicks)
      .withWatermark("event_time", watermark)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_time").as("c_time"))
    p.join(c, col("user_id") === col("c_user") &&
        col("c_time") >= col("p_time") - expr(s"INTERVAL $interval") &&
        col("c_time") <= col("p_time"))
      .select(col("purchase_id"), col("user_id"), col("p_time"),
        col("click_id"), col("c_time"))
  }

  /** LEFT OUTER stream-stream interval join: like [[purchaseClickJoin]]
    * but purchases with NO click in the window still emit — with null
    * click columns — once the watermark proves no matching click can
    * arrive. The null-emission is the hard half of outer streaming
    * joins: the row must be HELD until event time passes the join
    * horizon (interval + watermark), then released exactly once as the
    * state for its window is evicted. Both sides MUST carry watermarks
    * or state (and the unmatched rows) would be held forever. */
  def purchaseClickJoinOuter(purchases: DataFrame, clicks: DataFrame,
      interval: String = "1 hour", watermark: String = "10 minutes")
      : DataFrame = {
    val p = withEventTime(purchases)
      .withWatermark("event_time", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_time").as("p_time"))
    val c = withEventTime(clicks)
      .withWatermark("event_time", watermark)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_time").as("c_time"))
    p.join(c, col("user_id") === col("c_user") &&
        col("c_time") >= col("p_time") - expr(s"INTERVAL $interval") &&
        col("c_time") <= col("p_time"),
      "left_outer")
      .select(col("purchase_id"), col("user_id"), col("p_time"),
        col("click_id"), col("c_time"))
  }

  /** Stream-static enrichment join: each micro-batch of the stream joins
    * the (bounded) dimension frame — the streaming face of the dimension
    * lookup a reference user runs by pointing `querySql` at a dim table.
    * The dim side is marked broadcast so no stateful shuffle exists: the
    * join is stateless map-side work, the 100 TB-right shape for a
    * high-volume stream against a small dimension (re-broadcast per
    * micro-batch picks up dim updates between triggers). `joinType`
    * "inner" or "left_outer" (unmatched stream rows survive with null
    * dim columns — both are stateless for stream-static). */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String, joinType: String = "inner"): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), joinType)

  /** Streaming replace-mode sink: each micro-batch upserts by key into a
    * parquet target (partition-pruned when `partitionBy` is set).
    * foreachBatch is at-least-once; upsert-by-key is idempotent, so the
    * composition is effectively exactly-once per key — the streaming face
    * of the reference's replace write mode (mysql/table.go:63-69). */
  def upsertSink(out: DataFrame, path: String, keys: Seq[String],
      partitionBy: Seq[String] = Seq.empty)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    out.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.ParquetUpsert.upsert(batch, path, keys, partitionBy)
      }

  /** Stream sink through the resilient batch writer: every micro-batch is
    * routed through retry/degrade/DLQ semantics (W4/W5 under streaming —
    * foreachBatch gives at-least-once; sinks should be idempotent by key). */
  def resilientSink(out: DataFrame, cfg: WriterConfig, judge: RetryJudge,
      sinkFactory: Int => RowSink, dlqPath: String)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    out.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dlq = ResilientBatchWriter.write(batch, cfg, judge, sinkFactory)
        if (!dlq.isEmpty)
          dlq.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(dlqPath)
      }
}
