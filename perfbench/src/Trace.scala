package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine and file-system counters at one moment; deltas by `minus`. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, shuffleRead: Long = 0,
    shuffleWrite: Long = 0, spill: Long = 0, taskGcMs: Long = 0,
    fsReadOps: Long = 0, fsWriteOps: Long = 0, codegen: Long = 0) {
  def minus(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, taskGcMs - o.taskGcMs, fsReadOps - o.fsReadOps,
    fsWriteOps - o.fsWriteOps, codegen - o.codegen)
}

/** Spark's public listener events, summed. */
final class EngineCounters extends SparkListener {
  val events, jobs, jobsEnded, stages, tasks, runMs, cpuNs, shuffleRead,
    shuffleWrite, spill, taskGcMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet(); jobs.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet(); jobsEnded.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet(); stages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      taskGcMs.addAndGet(m.jvmGCTime)
    }
  }
}

/** Per-layer collection for traced runs: a listener on the engine, a
  * counting local file system, and spans around the benchmark's calls
  * into each graft layer (name, parent, start and end, in ms since the
  * trace began). With tracing off every method is a pass-through, so the
  * untraced run measures graft alone. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  /** Spans are kept only once the timed passes start. */
  var timed = false
  private val engine = new EngineCounters
  if (enabled) spark.sparkContext.addSparkListener(engine)
  private val t0 = System.nanoTime()
  private final case class Span(name: String, parent: Int, start: Long, var end: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled || !timed) body
    else {
      val s = Span(name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
      spans += s
      open = (spans.size - 1) :: open
      try body finally { s.end = System.nanoTime(); open = open.tail }
    }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the event count holds still, so a delta taken around
    * one call is charged to that call. */
  private def settle(): Unit = {
    var last = -1L
    var waited = 0
    while (waited < 2000 &&
      (engine.jobs.get != engine.jobsEnded.get || engine.events.get != last)) {
      last = engine.events.get
      Thread.sleep(5)
      waited += 5
    }
  }

  def counts(): Counts =
    if (!enabled) Counts()
    else {
      settle()
      Counts(engine.jobs.get, engine.stages.get, engine.tasks.get,
        engine.runMs.get, engine.cpuNs.get, engine.shuffleRead.get,
        engine.shuffleWrite.get, engine.spill.get, engine.taskGcMs.get,
        CountingFileSystem.reads.get, CountingFileSystem.writes.get,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    }

  /** RDDs still pinned (persisted or checkpointed) after the timed passes,
    * before any collection lets the ContextCleaner drop them. */
  def pinMetrics(): Map[String, Double] = {
    val sc = spark.sparkContext
    Map("pin.rdds" -> sc.getPersistentRDDs.size.toDouble,
      "pin.mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  def spansJson: String = Json.arr(spans.toSeq.map { s =>
    Json.obj(Seq("name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "start_ms" -> Json.num((s.start - t0) / 1e6),
      "end_ms" -> Json.num((s.end - t0) / 1e6)))
  })
}

/** The local file system with its calls counted, installed for traced runs
  * only (`fs.file.impl`): Hadoop's own statistics count no operations on
  * the local file system, only bytes. Reads are open, list and status
  * calls; writes are create, rename, delete and mkdirs. */
final class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val reads, writes = new AtomicLong
}
