package graft.sources.v2

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.graft.StreamBridge
import org.apache.spark.sql.types.StructType

import graft.sinks.VersionedTable

/** Lake commit version as a streaming offset (json = the version). */
private[v2] case class GraftSourceOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** The versioned lake as a STRUCTURED STREAMING source: offsets are
  * manifest commit versions, a micro-batch is the set of data files a
  * version range ADDED — `spark.readStream.format("graft").load(root)`
  * is the streaming analogue of the reference's reader-task loop that
  * repeatedly fetches and forwards newly arrived records
  * (`/root/reference/database/dbms/reader/task.go:159-175`), re-based
  * on the lake's commit log instead of a split cursor.
  *
  * Built on the V1 `Source` API — the same API Spark's own
  * `FileStreamSource` still uses for file streams — because a V2
  * `MicroBatchStream` must hand Spark opaque `InputPartition`s with a
  * custom parquet `PartitionReader`, re-implementing the vectorized
  * reader for zero gain: `getBatch` here IS a declarative parquet scan
  * of exactly the added files (schema pinned, whole-stage codegen,
  * vectorized), flagged streaming via [[StreamBridge]].
  *
  * Semantics and scale:
  *   - **Exactly-once replay**: manifests are immutable and a version
  *     range maps deterministically to a file set, so checkpoint replay
  *     of `(start, end]` re-reads byte-identical data (pinned by a
  *     restart spec in StreamingSpec).
  *   - **Append-only contract**: a commit that REMOVED live files
  *     (overwrite / merge / compact / delete) fails the stream loudly —
  *     its adds are rewrites, not new data — unless
  *     `ignoreChanges=true` opts into re-emitting rewritten rows (the
  *     Delta streaming-source contract).
  *   - **Admission control**: `maxVersionsPerTrigger` caps each
  *     micro-batch to N commits; the first batch serves the snapshot
  *     as of the capped version, so a year-old 100 TB table catches up
  *     in bounded, checkpointed steps instead of one giant batch.
  *   - `startingVersion=V` skips the initial snapshot and streams
  *     strictly-after-V increments (V = -1 streams every commit's adds
  *     from version 0 on). `startingTimestamp=ts` is the same contract
  *     from a time-travel boundary: it resolves to a version through
  *     the SAME latest-commit-at-or-before rule as the batch
  *     `timestampAsOf` option (option parity between the two front
  *     doors; resolution happens in [[GraftLakeSource.createSource]]).
  *   - O(|files|) driver work per trigger (two manifest reads + a set
  *     diff); no data listing, no footer reads.
  *
  * Schema is pinned at stream start (head manifest, relaxed): later
  * widening commits stream their files through the pinned schema
  * (parquet reads by name — new columns are simply not selected until
  * the stream restarts), matching lake-format streaming semantics. */
private[v2] class GraftStreamSource(spark: SparkSession, root: String,
    startingVersion: Option[Long], ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Int], pinnedSchema: StructType,
    changeFeedKeys: Option[Seq[String]] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles, Offset => OffsetV2}

  // highest version already handed out, the rate-limit anchor;
  // Long.MinValue = nothing yet (distinct from startingVersion = -1)
  @volatile private var lastEnd: Long =
    startingVersion.getOrElse(Long.MinValue)

  // Trigger.AvailableNow pins "now" here; batches never pass it, so the
  // run terminates even while writers keep committing (the same
  // prepare/pace shape as Spark's FileStreamSource)
  @volatile private var availableNowCap: Option[Long] = None

  override def schema: StructType = pinnedSchema

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = VersionedTable.headVersion(spark, root)

  /** Versions are the admission unit: `maxVersionsPerTrigger` rides
    * the engine's maxFiles read-limit slot (a version IS a file set). */
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  /** Engine-driven pacing (replaces getOffset when the source declares
    * admission control): next end = up to LIMIT pending versions past
    * `start`, never past the AvailableNow cap; null = caught up. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val base = Option(start).map(o => o.json.trim.toLong)
      .orElse(startingVersion).getOrElse(Long.MinValue)
    val vs = VersionedTable.versions(spark, root)
    val pending = vs.filter(v => v > base &&
      availableNowCap.forall(v <= _))
    val capped = limit match {
      case m: ReadMaxFiles => pending.take(m.maxFiles)
      case _ => pending
    }
    capped.lastOption.map(GraftSourceOffset(_)).orNull
  }

  override def reportLatestOffset(): OffsetV2 =
    VersionedTable.headVersion(spark, root)
      .map(GraftSourceOffset(_)).orNull

  override def getOffset: Option[Offset] = {
    val vs = VersionedTable.versions(spark, root)
    val pending = vs.filter(_ > lastEnd)
    val end = maxVersionsPerTrigger match {
      case Some(m) if pending.nonEmpty => Some(pending.take(m).last)
      case _ => pending.lastOption
    }
    end.orElse(Option.when(lastEnd != Long.MinValue)(lastEnd))
      .map(GraftSourceOffset(_))
  }

  private def ver(o: org.apache.spark.sql.connector.read.streaming.Offset)
      : Long = o.json.trim.toLong

  /** Streaming read of `files` honoring column mapping: the parquet
    * scan resolves PHYSICAL names, the frame serves logical ones
    * (identity no-op on unmapped tables). */
  private def streamFrame(files: Seq[String]): DataFrame = {
    val base = StreamBridge.streamingParquet(spark,
      VersionedTable.physicalSchema(pinnedSchema), files)
    if (!VersionedTable.hasMapping(pinnedSchema)) base
    else base.toDF(pinnedSchema.fieldNames.toIndexedSeq: _*)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = ver(end)
    // a checkpoint restart replays with start = the last committed
    // offset; a fresh stream starts with None -> the configured base
    val startV: Option[Long] =
      start.map(ver).orElse(startingVersion)
    if (endV > lastEnd) lastEnd = endV
    // CHANGE-FEED mode (readChangeFeed=true + changeFeedKeys): the
    // micro-batch is the NET row-level changes of the commit window —
    // per-commit, churned-files-only diffs (VersionedTable.changeFeed),
    // so MERGE/UPDATE/DELETE-maintained tables feed downstream streams
    // with insert/update/delete rows instead of failing loud or
    // re-emitting whole rewritten files under ignoreChanges. Replay is
    // exactly-once: a version window maps deterministically to the
    // same manifests, and the diff of immutable files is itself
    // deterministic. The initial batch (no start offset) serves the
    // base snapshot as inserts at the base version, so a consumer
    // can bootstrap state and then apply increments.
    changeFeedKeys match {
      case Some(keys) =>
        val base = startV.filter(_ >= 0).getOrElse(-1L)
        val vs = VersionedTable.versions(spark, root)
        val lo = if (base >= 0) base else vs.min
        val feed = VersionedTable.changeFeed(spark, root, keys,
          fromV = lo, toV = Some(endV))
        val withSnapshot =
          if (base >= 0) feed // pure increment window (base, endV]
          else { // bootstrap: snapshot at vs.min as inserts + increments
            import org.apache.spark.sql.functions.lit
            val snap0 = VersionedTable.read(spark, root, Some(vs.min))
              .withColumn("change_type", lit("insert"))
              .withColumn("_commit_version", lit(vs.min))
            snap0.unionByName(feed)
          }
        return StreamBridge.streamingBatch(
          withSnapshot.select(pinnedSchema.fieldNames.toIndexedSeq
            .map(org.apache.spark.sql.functions.col): _*))
      case None => ()
    }
    val endSnap = VersionedTable.snapshot(spark, root, Some(endV))
    startV match {
      case None =>
        // initial batch: the full snapshot as of endV
        streamFrame(endSnap.files)
      case Some(sv) if sv < 0 =>
        // startingVersion = -1: every file ever added, as one batch
        streamFrame(endSnap.files)
      case Some(sv) =>
        val startFiles = VersionedTable.snapshot(spark, root, Some(sv))
          .files.toSet
        val endFiles = endSnap.files
        val removed = startFiles.diff(endFiles.toSet)
        if (removed.nonEmpty && !ignoreChanges)
          throw new IllegalStateException(
            s"graft stream over $root: versions ($sv, $endV] removed " +
              s"${removed.size} live file(s) (overwrite/merge/compact/" +
              "delete) — their adds are REWRITES, not new data. Pass " +
              "ignoreChanges=true to re-emit rewritten rows, or stream " +
              "from an append-only table")
        streamFrame(endFiles.filterNot(startFiles))
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftStreamSource[$root]"
}

/** The lake as a STREAMING SINK: `df.writeStream.format("graft")
  * .start(root)` commits each micro-batch through
  * [[VersionedTable.appendBatch]] — the batch id rides the manifest, a
  * replayed delivery is SKIPPED, so at-least-once delivery times
  * idempotent commit = exactly-once sink writes (the same guarantee
  * the foreachBatch wiring gives, now behind the format name; the
  * streaming-write analogue of the reference's writer task consuming
  * the record channel batch by batch,
  * `/root/reference/database/dbms/writer/task.go:77-143`). Append
  * output mode only: the lake's history is additive — update/complete
  * semantics belong to foreachBatch + merge/write. */
private[v2] class GraftStreamSink(root: String)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
      : Unit = {
    VersionedTable.appendBatch(
      StreamBridge.rewrapBatch(data.toDF()), root, batchId)
    ()
  }
  override def toString: String = s"GraftStreamSink[$root]"
}
