package org.apache.spark.sql.graft

import java.util.UUID

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{JobExecutionStatus, SparkContext, TaskContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.SerializableConfiguration

/** One data file a write task produced: its qualified path, its length
  * and modification time (what a scan's `FileStatus` needs, so a reader
  * planning from the manifest never stats the file) and its row count,
  * never zero — a task that writes no row leaves no file. */
case class WrittenFile(path: String, length: Long, mtime: Long, rows: Long)

/** Commit message of one [[GraftParquetDataWriter]]: the file it wrote,
  * or none when the task saw no row. */
case class GraftWrittenFiles(files: Seq[WrittenFile])
    extends WriterCommitMessage

/** The lake's one parquet writer. Library writes ([[writeParquet]]) and
  * the DSv2 row-level write path (SQL MERGE/UPDATE/DELETE, through
  * [[parquetFactory]]) both write each task's rows straight into the
  * target directory under the write's unique name prefix, through
  * Spark's OWN parquet `OutputWriter` — the exact writer
  * `df.write.parquet` uses, so every lake file is byte-compatible with
  * every other (INT64 TIMESTAMP_MICROS, footer stats usable,
  * vectorized-reader friendly). There is no `_temporary` tree, no
  * rename and no listing: each task reports its file in its commit
  * message, and only the messages of successful task attempts name
  * files to publish.
  *
  * Lives under `org.apache.spark.sql` (like [[StreamBridge]]) because
  * `ParquetUtils.prepareWrite`, `OutputWriterFactory` and the write-time
  * schema checks are `private[sql]`. */
object WriteBridge {

  /** A factory writing at most one parquet file per task under `dir`,
    * named `<writeId>-<partition>-<task attempt>.parquet`.
    * `prepareWrite` runs on the DRIVER (it configures the job conf with
    * the schema + compression); executors only deserialize the conf and
    * instantiate writers. */
  def parquetFactory(spark: SparkSession, dir: String, schema: StructType,
      writeId: String): DataWriterFactory = {
    val sqlConf = spark.sessionState.conf.clone()
    // the lake's standard: INT64 micros (stats-usable, interoperable),
    // never INT96, set on this write's own conf
    sqlConf.setConfString("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    GraftParquetWriterFactory(owf,
      new SerializableConfiguration(job.getConfiguration), dir, writeId,
      schema)
  }

  /** Write `df`'s rows as parquet files under `dir` and return them: the
    * checks `df.write.parquet` applies (an empty schema, duplicate
    * columns, types parquet cannot store), then one tracked SQL
    * execution running one task writer per partition. A job that fails
    * is cleaned up by [[abortWrite]]. */
  def writeParquet(df: DataFrame, dir: String): Seq[WrittenFile] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val conf = spark.sessionState.conf
    val schema = df.schema
    val format = new ParquetFileFormat
    DataSource.validateSchema(format.toString, schema, conf)
    SchemaUtils.checkColumnNameDuplication(schema.fieldNames.toSeq,
      conf.caseSensitiveAnalysis)
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    val writeId = UUID.randomUUID().toString
    val factory = parquetFactory(spark, dir, schema, writeId)
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    val sc = spark.sparkContext
    SQLExecution.withNewExecutionId(qe, Some("graft lake write")) {
      val rdd = qe.toRdd
      val written = new Array[Seq[WrittenFile]](rdd.partitions.length)
      val job = sc.submitJob(rdd,
        (rows: Iterator[InternalRow]) => writeTask(factory, rows),
        written.indices,
        (i: Int, files: Seq[WrittenFile]) => written(i) = files, ())
      // the job's own exception, as `runJob` throws it
      try { Await.ready(job, Duration.Inf); job.value.get.get }
      catch { case t: Throwable =>
        job.cancel()
        abortWrite(spark, dir, writeId)
        throw t
      }
      written.toSeq.flatten
    }
  }

  /** The cleanup of a failed write, library ([[writeParquet]]) or
    * row-level (`GraftReplaceDataWrite.abort`): wait until no task of the
    * calling thread's SQL execution runs, then delete every file under
    * `dir` that write `writeId` created, committed by a task or not. Spark
    * fails a job at its first failed task while its other tasks still
    * run, and a file deleted before its writer ends can come back or
    * leave pieces behind (the local file system creates a file's checksum
    * file after the file). Called outside any SQL execution, it deletes
    * at once. */
  def abortWrite(spark: SparkSession, dir: String, writeId: String): Unit = {
    val sc = spark.sparkContext
    val jobs = Option(sc.getLocalProperty(SQLExecution.EXECUTION_ROOT_ID_KEY))
      .toSeq.flatMap(id => sc.statusTracker.getJobIdsForTag(
        SQLExecution.executionIdJobTag(
          spark.asInstanceOf[classic.SparkSession], id.toLong)).toSeq)
    awaitTasks(sc, jobs)
    val pattern = new Path(dir, s"$writeId-*")
    val fs = pattern.getFileSystem(sc.hadoopConfiguration)
    Option(fs.globStatus(pattern)).foreach(
      _.foreach(st => fs.delete(st.getPath, false)))
  }

  /** Wait until no task of `jobIds` runs, as the status store sees it: a
    * job it no longer knows has ended. The wait ends at the last task's
    * end; [[TaskWaitLimitNs]] only bounds it when the store lost a job's
    * end events (a full listener queue drops them), which would
    * otherwise leave that job running forever. */
  private def awaitTasks(sc: SparkContext, jobIds: Seq[Int]): Unit = {
    val st = sc.statusTracker
    def running = jobIds.exists(id => st.getJobInfo(id).exists(j =>
      j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.exists(st.getStageInfo(_).exists(_.numActiveTasks > 0))))
    val deadline = System.nanoTime() + TaskWaitLimitNs
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** One minute: four orders of magnitude past the 2–6 ms the wait took
    * in the failed-write specs (local[4]), yet short enough that a lost
    * event cannot hang the failed write's caller for long. */
  private val TaskWaitLimitNs = 60L * 1000 * 1000 * 1000

  /** One task: write every row, then commit — or abort (deleting the
    * task's file) when anything throws. */
  private def writeTask(factory: DataWriterFactory,
      rows: Iterator[InternalRow]): Seq[WrittenFile] = {
    val ctx = TaskContext.get()
    val w = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
    try {
      rows.foreach(w.write)
      w.commit() match { case GraftWrittenFiles(files) => files }
    } catch { case t: Throwable =>
      try w.abort()
      catch { case scala.util.control.NonFatal(e) => t.addSuppressed(e) }
      throw t
    } finally w.close()
  }
}

private case class GraftParquetWriterFactory(owf: OutputWriterFactory,
    conf: SerializableConfiguration, dir: String, writeId: String,
    schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(this, partitionId, taskId)
}

/** Writes one task's rows to one file, opened at the first row — a task
  * without rows creates nothing. */
private class GraftParquetDataWriter(factory: GraftParquetWriterFactory,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  private val path =
    new Path(factory.dir, s"${factory.writeId}-$partitionId-$taskId.parquet")
  private val nCols = factory.schema.fields.length
  private var out: OutputWriter = _
  private var conf: Configuration = _
  private var rows = 0L
  private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _

  private def open(record: InternalRow): Unit = {
    // fresh Configuration per writer: TaskAttemptContext mutates it
    conf = new Configuration(factory.conf.value)
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-write", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    out = factory.owf.newInstance(path.toString, factory.schema,
      new TaskAttemptContextImpl(conf, attempt))
    // Group-based ReplaceData (SQL MERGE/UPDATE/DELETE) prepends the
    // __row_operation column, and Spark applies its row projection
    // ONLY when the operation declares metadata attributes
    // (ReplaceDataExec.writingTask picks the projection-less plain
    // task otherwise — connectors like Iceberg always declare metadata
    // columns, so the plain shape reaches writers unprojected). Rows
    // therefore arrive as [op | data...]: detect the one extra leading
    // field once per task and project it off; rows already matching
    // the schema write through untouched.
    if (record.numFields == nCols + 1)
      // project ordinals 1..n (drop the leading operation column)
      proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        factory.schema, (1 to nCols).toIndexedSeq)
    else require(record.numFields == nCols,
      s"lake write row has ${record.numFields} fields, " +
        s"expected $nCols or ${nCols + 1}")
  }

  override def write(record: InternalRow): Unit = {
    if (out == null) open(record)
    if (proj != null) { proj.project(record); out.write(proj) }
    else out.write(record)
    rows += 1
  }

  override def commit(): WriterCommitMessage =
    if (out == null) GraftWrittenFiles(Nil)
    else {
      out.close()
      val st = path.getFileSystem(conf).getFileStatus(path)
      GraftWrittenFiles(Seq(WrittenFile(st.getPath.toString, st.getLen,
        st.getModificationTime, rows)))
    }

  override def abort(): Unit =
    if (out != null) {
      try out.close() catch { case scala.util.control.NonFatal(_) => () }
      path.getFileSystem(conf).delete(path, false)
    }

  override def close(): Unit = ()
}
