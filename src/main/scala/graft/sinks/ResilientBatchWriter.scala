package graft.sinks

import graft.sources.WriterConfig
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** Executor-side row sink: one instance per partition (the analogue of the
  * reference's per-task writer, writer/task.go:17-32). `writeBatch` must
  * either write all rows or throw. The transactional/per-row methods
  * default to no-op/delegation so plain sinks only implement `writeBatch`;
  * sinks backed by a transactional store override them to get the
  * Tx/Stmt exec modes (database/db.go:266-378). */
trait RowSink extends Serializable {
  def open(partitionId: Int): Unit = {}
  def writeBatch(rows: Seq[Row]): Unit
  /** Stmt modes: one prepared-statement execution per row
    * (db.go:280-310 batchExecStmt). */
  def writeRow(row: Row): Unit = writeBatch(Seq(row))
  /** Tx modes: transaction boundary seam (db.go:311-334 batchExecWithTx). */
  def begin(): Unit = {}
  def commit(): Unit = {}
  def rollback(): Unit = {}
  /** Success-only hook: called once per partition AFTER every batch
    * landed and the terminal flush drained, BEFORE close — the W6
    * graceful-termination distinction (batch_writer.go:244-259 treats
    * clean termination differently from error paths; close() alone
    * cannot tell them apart). Partition-transactional sinks commit
    * here. */
  def complete(): Unit = {}
  def close(): Unit = {}
}

/** Execution modes (writer/batch_writer.go:23-28): how one batch maps onto
  * sink calls. */
object ExecMode {
  val Normal = "Normal" // one multi-row write, autocommit
  val Stmt = "Stmt" // prepared-statement exec per row, autocommit
  val Tx = "Tx" // one multi-row write inside a transaction
  val StmtTx = "StmtTx" // per-row execs inside a transaction
  val All: Seq[String] = Seq(Normal, Stmt, Tx, StmtTx)
}

/** Error classification — the reference's pluggable Judger surface
  * (database/table.go:72-77; MySQL mysql/table.go:72-85, Oracle
  * oracle/table.go:72-80): transient errors retry the whole batch, data
  * errors degrade to row-wise replay. */
trait RetryJudge extends Serializable {
  def shouldRetry(e: Throwable): Boolean
  def isDataError(e: Throwable): Boolean
}

object RetryJudge {
  /** Default: nothing retries, everything is a data error (degrade path). */
  val dataErrorsOnly: RetryJudge = new RetryJudge {
    def shouldRetry(e: Throwable): Boolean = false
    def isDataError(e: Throwable): Boolean = true
  }

  /** `errors.Cause` analogue. The JVM twist: real drivers chain INTERNAL
    * non-SQL exceptions UNDER the SQLException (Derby hangs a
    * StandardException off every server error), so the deepest cause is
    * the wrong level to classify at — scan every level of the chain and
    * classify on what any of them says. A JDBC batch failure
    * (`BatchUpdateException`) often carries the real error as its
    * `getNextException` rather than its cause, so both links are
    * followed. */
  private def causeChain(e: Throwable): List[Throwable] = {
    val buf = scala.collection.mutable.ListBuffer.empty[Throwable]
    var todo = List(e)
    while (todo.nonEmpty && buf.size < 32) {
      val c = todo.head
      todo = todo.tail
      if (c != null && !buf.exists(_ eq c)) {
        buf += c
        val next = c match {
          case s: java.sql.SQLException => s.getNextException
          case _ => null
        }
        todo = c.getCause :: next :: todo
      }
    }
    buf.toList
  }

  /** Go `net.Error` analogue: the JVM's network-failure family. */
  private def isNetError(c: Throwable): Boolean = c match {
    case _: java.net.SocketException | _: java.net.SocketTimeoutException |
         _: java.net.UnknownHostException |
         _: java.nio.channels.ClosedChannelException => true
    case _ => false
  }

  /** `driver.ErrBadConn` / `godror.IsBadConn` analogue: JDBC signals a
    * dead or doubtful connection as SQLRecoverableException (the MySQL
    * connector's CommunicationsException subclasses it) or a
    * connection-subclass of the transient/non-transient families. */
  private def isBadConn(c: Throwable): Boolean = c match {
    case _: java.sql.SQLRecoverableException |
         _: java.sql.SQLTransientConnectionException |
         _: java.sql.SQLNonTransientConnectionException => true
    case _ => false
  }

  /** MySQL classification (mysql/table.go:72-85): net errors and bad
    * connections retry the WHOLE batch; any server-reported SQL error
    * (the MySQLError case) is a data error — degrade row-wise. */
  val mysql: RetryJudge = new RetryJudge {
    def shouldRetry(e: Throwable): Boolean =
      causeChain(e).exists(c => isNetError(c) || isBadConn(c))
    def isDataError(e: Throwable): Boolean = {
      val chain = causeChain(e)
      chain.exists(_.isInstanceOf[java.sql.SQLException]) &&
        !chain.exists(isBadConn)
    }
  }

  /** Oracle classification (oracle/table.go:72-80): ONLY a bad
    * connection retries (net errors surface as bad-conn through the
    * driver there); a server-reported error that is NOT bad-conn (the
    * OraErr case) degrades row-wise. A bad connection is never a data
    * error — it must not reach the DLQ as a quarantined row. */
  val oracle: RetryJudge = new RetryJudge {
    def shouldRetry(e: Throwable): Boolean = causeChain(e).exists(isBadConn)
    def isDataError(e: Throwable): Boolean = {
      val chain = causeChain(e)
      chain.exists(_.isInstanceOf[java.sql.SQLException]) &&
        !chain.exists(isBadConn)
    }
  }

  /** Dialect-name selection — the reference binds the judger to each
    * dialect's Table implementation. Unknown dialects get the
    * conservative default. */
  def forDialect(name: String): RetryJudge = name match {
    case "mysql" => mysql
    case "oracle" => oracle
    case _ => dataErrorsOnly
  }
}

/** Pluggable retry pacing — the reference wires a schedule strategy into
  * its writer (batch_writer.go:66-68 `schedule.NewRetryTask(ctx, strategy,
  * ...)`, defaulting to a none-retry strategy): the judge decides WHETHER
  * an error retries, the strategy decides HOW MANY times and with what
  * delay. */
trait RetryStrategy extends Serializable {
  /** Delay before retry `attempt` (1-based); None = give up. */
  def backoff(attempt: Int): Option[FiniteDuration]
}

object RetryStrategy {
  val none: RetryStrategy = _ => None

  /** Fixed-interval retries, `n` attempts. */
  def nTimes(n: Int, wait: FiniteDuration = Duration.Zero): RetryStrategy =
    attempt => if (attempt <= n) Some(wait) else None

  /** Exponential backoff: init * 2^(attempt-1), capped at `max`,
    * `n` attempts. */
  def exponential(n: Int, init: FiniteDuration,
      max: FiniteDuration): RetryStrategy =
    attempt =>
      if (attempt > n) None
      else {
        val factor = 1L << math.min(attempt - 1, 30)
        Some((init * factor).min(max))
      }
}

/** Resilient batched writer — the reference's write path (SURVEY.md §2.11
  * W2-W6) as a Spark-native sink:
  *
  *  - W2 batch buffer with dual flush: size >= batchSize, OR a TICKER at
  *    batchTimeout that fires even when no record is arriving
  *    (batch_writer.go:199-243 select{recordChan, ticker.C}). A Spark
  *    partition iterator is pull-based — an upstream stall blocks in
  *    hasNext with rows already buffered — so the task thread pumps rows
  *    into a bounded queue and a writer thread polls it with a deadline:
  *    the poll timeout is the ticker, and a trickle that never reaches
  *    batchSize still flushes every batchTimeout.
  *  - W3 exec modes Normal/Stmt/Tx/StmtTx ([[ExecMode]]) dispatching onto
  *    the [[RowSink]] transaction/per-row seams.
  *  - W4 whole-batch retry while `judge.shouldRetry`, paced by the
  *    pluggable [[RetryStrategy]] backoff.
  *  - W5 one-by-one degrade on data errors: the failed batch replays
  *    row-wise (each row through the same exec mode — its own transaction
  *    under Tx modes) and bad rows land in the returned DLQ DataFrame
  *    (original row as JSON + error message) instead of failing the job.
  *  - W6 terminal flush on iterator exhaustion; sink close in finally.
  *
  * Scale: pure mapPartitions — no driver involvement, no shuffle; one
  * extra thread + one bounded queue per partition task. DLQ rows stream
  * back as the transform's output so callers decide where to land them.
  */
object ResilientBatchWriter {

  val DlqSchema: StructType = StructType(Seq(
    StructField("row_json", StringType, nullable = true),
    StructField("error", StringType, nullable = true)))

  private case object End

  /** One batch through the configured exec mode (db.go:266-378: batchExec /
    * batchExecStmt / batchExecWithTx / batchExecStmtWithTx). */
  private def execBatch(sink: RowSink, mode: String, rows: Seq[Row]): Unit = {
    def inTx(body: => Unit): Unit = {
      sink.begin()
      try { body; sink.commit() }
      catch { case NonFatal(e) => sink.rollback(); throw e }
    }
    mode match {
      case ExecMode.Normal => sink.writeBatch(rows)
      case ExecMode.Stmt => rows.foreach(sink.writeRow)
      case ExecMode.Tx => inTx(sink.writeBatch(rows))
      case ExecMode.StmtTx => inTx(rows.foreach(sink.writeRow))
      case m => throw new IllegalArgumentException(
        s"unknown execMode $m (expected one of ${ExecMode.All.mkString("/")})")
    }
  }

  /** Runs the write as a Spark job; returns the DLQ as a DataFrame of
    * (row_json, error). The side-effecting sink writes run exactly once
    * inside this call: the DLQ RDD is persisted and materialized (count)
    * before returning, so callers can run any number of actions on the
    * returned frame without re-executing the writes. Callers that are
    * fully done with the DLQ may `df.unpersist()` it.
    *
    * `strategy` defaults to fixed-interval `nTimes(cfg.retries)`;
    * `sleeper` is the backoff clock seam (millis), injectable in tests. */
  def write(df: DataFrame, cfg: WriterConfig, judge: RetryJudge,
      sinkFactory: Int => RowSink,
      strategy: Option[RetryStrategy] = None,
      sleeper: Long => Unit = Thread.sleep): DataFrame = {
    val spark = df.sparkSession
    val batchSize = cfg.batchSize
    val timeoutMs = cfg.batchTimeout.toMillis
    val mode = cfg.execMode
    val retry = strategy.getOrElse(RetryStrategy.nTimes(cfg.retries))
    val ignoreRowErrors = cfg.ignoreOneByOneError
    require(ExecMode.All.contains(mode), s"unknown execMode $mode")

    val dlqRdd = df.rdd.mapPartitionsWithIndex { (pid, it) =>
      val sink = sinkFactory(pid)
      sink.open(pid)
      val queue = new ArrayBlockingQueue[AnyRef](math.max(batchSize * 2, 64))
      val dlq = ArrayBuffer.empty[Row] // writer-thread-owned until join
      @volatile var failure: Throwable = null

      def writeWithRetry(rows: Seq[Row]): Unit = {
        var attempt = 0
        var done = false
        while (!done) {
          try { execBatch(sink, mode, rows); done = true }
          catch {
            case NonFatal(e) if judge.shouldRetry(e) &&
                retry.backoff(attempt + 1).isDefined =>
              attempt += 1
              sleeper(retry.backoff(attempt).get.toMillis)
            case NonFatal(e) if judge.isDataError(e) =>
              // W5: row-wise replay through the same exec mode (each row
              // its own transaction under Tx modes); quarantine bad rows
              rows.foreach { r =>
                try execBatch(sink, mode, Seq(r))
                catch {
                  case NonFatal(re) =>
                    if (!ignoreRowErrors && !judge.isDataError(re)) throw re
                    dlq += Row(r.json, String.valueOf(re.getMessage))
                }
              }
              done = true
          }
        }
      }

      // writer thread: the reference's select{record, ticker} loop
      val writer = new Thread(() => {
        try {
          val buf = ArrayBuffer.empty[Row]
          var lastFlush = System.nanoTime()
          def flush(): Unit = {
            if (buf.nonEmpty) { writeWithRetry(buf.toSeq); buf.clear() }
            lastFlush = System.nanoTime()
          }
          var done = false
          while (!done) {
            val waitMs = timeoutMs - (System.nanoTime() - lastFlush) / 1000000L
            if (waitMs <= 0) flush() // ticker fired — even mid-trickle
            else queue.poll(waitMs, TimeUnit.MILLISECONDS) match {
              case null => flush() // idle gap >= batchTimeout
              case End => flush(); done = true // W6 terminal flush
              case r => buf += r.asInstanceOf[Row]
                if (buf.size >= batchSize) flush()
            }
          }
        } catch {
          case t: Throwable =>
            failure = t
            queue.clear() // unblock a feeder mid-offer
        }
      }, s"graft-batch-writer-$pid")
      writer.setDaemon(true)

      try {
        writer.start()
        // task thread feeds the queue (the partition iterator must be
        // consumed on the task thread — Spark scan iterators assume the
        // task's TaskContext/memory manager)
        def offer(x: AnyRef): Unit = {
          var ok = false
          while (!ok && failure == null)
            ok = queue.offer(x, 50, TimeUnit.MILLISECONDS)
          if (failure != null) throw failure // abort the feed early
        }
        it.foreach(offer)
        offer(End)
        writer.join()
        if (failure != null) throw failure
        sink.complete() // success path only: W6 graceful termination
      } finally {
        writer.interrupt()
        sink.close()
      }
      dlq.iterator
    }
    // Pin the side effects: one job evaluates every partition now; later
    // actions on the returned DLQ read the cached rows, never the sink.
    val out = spark.createDataFrame(dlqRdd, DlqSchema).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }
}
