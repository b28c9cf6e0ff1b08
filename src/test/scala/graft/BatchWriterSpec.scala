package graft

import graft.sinks.{ExecMode, ParquetUpsert, ResilientBatchWriter, RetryJudge, RetryStrategy, RowSink}
import graft.sources.WriterConfig
import graft.sources.TableId
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** W2-W6 write-path semantics: dual flush batching, whole-batch retry on
  * transient errors, one-by-one degrade with DLQ on data errors, terminal
  * flush, and the replace-mode upsert. Sinks record into static state
  * (local-mode executors share the JVM). */
object BatchWriterSpec {
  val written = new ConcurrentLinkedQueue[Seq[String]]()
  val batches = new ConcurrentLinkedQueue[Int]()
  @volatile var transientFailures = 0

  class RecordingSink(failKey: String, transientFirstN: Int)
      extends RowSink {
    private var seenTransient = 0
    override def open(partitionId: Int): Unit = opened.add(partitionId)
    def writeBatch(rows: Seq[Row]): Unit = {
      if (transientFirstN > 0 && transientFailures < transientFirstN) {
        transientFailures += 1
        throw new java.io.IOException("transient: connection reset")
      }
      if (rows.exists(_.getString(1).contains(failKey)))
        throw new IllegalArgumentException(
          if (rows.size > 1) "data error in batch" else "bad row")
      batches.add(rows.size)
      written.add(rows.map(_.getString(1)))
    }
  }

  val judge: RetryJudge = new RetryJudge {
    def shouldRetry(e: Throwable): Boolean = e.isInstanceOf[java.io.IOException]
    def isDataError(e: Throwable): Boolean =
      e.isInstanceOf[IllegalArgumentException]
  }

  /** Sink whose failures mimic a JDBC driver: a configurable transient
    * exception for the first N batches, then a (wrapped) SQLException on
    * any batch containing `failKey`. */
  class JdbcishSink(failKey: String, transientFirstN: Int,
      mkTransient: () => Throwable) extends RowSink {
    def writeBatch(rows: Seq[Row]): Unit = {
      if (transientFirstN > 0 && transientFailures < transientFirstN) {
        transientFailures += 1
        throw mkTransient()
      }
      if (rows.exists(_.getString(1).contains(failKey)))
        throw new RuntimeException("statement failed",
          new java.sql.SQLException(
            if (rows.size > 1) "data error in batch" else "bad row",
            "23000", 1062))
      batches.add(rows.size)
      written.add(rows.map(_.getString(1)))
    }
  }

  val calls = new ConcurrentLinkedQueue[String]()
  val sleeps = new ConcurrentLinkedQueue[Long]()
  val opened = new ConcurrentLinkedQueue[Int]()

  /** Records the full sink call sequence incl. transaction boundaries. */
  class TxRecordingSink(failKey: String = "-none-") extends RowSink {
    def writeBatch(rows: Seq[Row]): Unit = {
      if (rows.exists(_.getString(1).contains(failKey)))
        throw new IllegalArgumentException(
          if (rows.size > 1) "data error in batch" else "bad row")
      calls.add(s"batch:${rows.size}")
    }
    override def writeRow(row: Row): Unit = {
      if (row.getString(1).contains(failKey))
        throw new IllegalArgumentException("bad row")
      calls.add("row")
    }
    override def begin(): Unit = calls.add("begin")
    override def commit(): Unit = calls.add("commit")
    override def rollback(): Unit = calls.add("rollback")
  }
}

class BatchWriterSpec extends SparkSpec {
  import spark.implicits._
  import BatchWriterSpec._

  private def reset(): Unit = {
    written.clear(); batches.clear(); opened.clear(); transientFailures = 0
  }

  private def df(n: Int) =
    spark.range(n).select($"id", concat(lit("row"), $"id").as("v"))
      .coalesce(1)

  private val cfg = WriterConfig(table = TableId(name = "t"), batchSize = 10)

  test("batches flush at batchSize with terminal flush (W2/W6)") {
    reset()
    val dlq = ResilientBatchWriter.write(df(25), cfg, judge,
      _ => new RecordingSink("-none-", 0))
    assert(dlq.count() == 0)
    assert(batches.asScala.toSeq.sorted == Seq(5, 10, 10))
    assert(written.asScala.flatten.size == 25)
  }

  test("transient errors retry the whole batch (W4)") {
    reset()
    val dlq = ResilientBatchWriter.write(df(8), cfg, judge,
      _ => new RecordingSink("-none-", 2))
    assert(dlq.count() == 0)
    assert(transientFailures == 2)
    assert(written.asScala.flatten.size == 8)
  }

  test("data errors degrade one-by-one; bad rows land in DLQ (W5)") {
    reset()
    val dlq = ResilientBatchWriter.write(df(20),
      cfg.copy(ignoreOneByOneError = true), judge,
      _ => new RecordingSink("row7", 0)).cache()
    assert(dlq.count() == 1)
    val d = dlq.head()
    assert(d.getString(0).contains("row7") && d.getString(1) == "bad row")
    assert(written.asScala.flatten.size == 19)
    assert(!written.asScala.flatten.toSeq.contains("row7"))
  }

  test("retries exhausted on persistent transient error -> propagates") {
    reset()
    intercept[org.apache.spark.SparkException] {
      ResilientBatchWriter.write(df(5), cfg.copy(retries = 1), judge,
        _ => new RecordingSink("-none-", 100)).count()
    }
  }

  test("mysql judge: wrapped net error retries, server error degrades") {
    reset()
    // the first two batches die with a WRAPPED SocketException (cause
    // walking = the reference's errors.Cause) -> whole-batch retry; the
    // server-reported SQLException on row7 then degrades row-wise
    val dlq = ResilientBatchWriter.write(df(20),
      cfg.copy(ignoreOneByOneError = true), RetryJudge.mysql,
      _ => new JdbcishSink("row7", 2, () => new RuntimeException("io",
        new java.net.SocketException("connection reset"))))
    assert(dlq.count() == 1)
    assert(transientFailures == 2)
    assert(written.asScala.flatten.size == 19)
    assert(!written.asScala.flatten.toSeq.contains("row7"))
  }

  test("oracle judge: bad-conn retries then succeeds; never a data error") {
    reset()
    val dlq = ResilientBatchWriter.write(df(8), cfg, RetryJudge.oracle,
      _ => new JdbcishSink("-none-", 2,
        () => new java.sql.SQLRecoverableException("conn lost")))
    assert(dlq.count() == 0)
    assert(transientFailures == 2)
    assert(written.asScala.flatten.size == 8)
  }

  test("oracle judge: persistent bad-conn propagates, never enters DLQ") {
    reset()
    // even with ignoreOneByOneError the bad-conn is not a data error, so
    // it cannot be quarantined as a bad row — the task fails instead
    intercept[org.apache.spark.SparkException] {
      ResilientBatchWriter.write(df(5),
        cfg.copy(retries = 1, ignoreOneByOneError = true), RetryJudge.oracle,
        _ => new JdbcishSink("-none-", 100,
          () => new java.sql.SQLRecoverableException("conn lost"))).count()
    }
    assert(written.asScala.isEmpty)
  }

  test("judge classifications mirror the reference's dialect tables") {
    import RetryJudge.{mysql => mj, oracle => oj}
    val net = new java.net.SocketException("reset")
    val badConn = new java.sql.SQLRecoverableException("gone")
    val server = new java.sql.SQLException("ORA-00001", "23000", 1)
    // mysql/table.go:72-85: net OR bad-conn retries; MySQLError = data
    assert(mj.shouldRetry(net) && mj.shouldRetry(badConn))
    assert(mj.isDataError(server) && !mj.isDataError(badConn))
    assert(!mj.isDataError(net))
    // oracle/table.go:72-80: ONLY bad-conn retries (a raw net error is
    // not IsBadConn); OraErr-and-not-bad-conn = data
    assert(oj.shouldRetry(badConn) && !oj.shouldRetry(net))
    assert(oj.isDataError(server) && !oj.isDataError(badConn))
    // cause chains unwrap like errors.Cause
    assert(oj.shouldRetry(new RuntimeException("x",
      new RuntimeException("y", badConn))))
    // dialect-name selection
    assert(RetryJudge.forDialect("mysql") eq mj)
    assert(RetryJudge.forDialect("oracle") eq oj)
    assert(RetryJudge.forDialect("other") eq RetryJudge.dataErrorsOnly)
  }

  test("judges see a bad connection hung off a BatchUpdateException") {
    // JDBC drivers report a failed batch as BatchUpdateException and
    // chain the underlying error through getNextException, not getCause
    def batchFailure(next: java.sql.SQLException) = {
      val e = new java.sql.BatchUpdateException("batch failed", "08006", 0,
        Array.emptyIntArray)
      e.setNextException(next)
      e
    }
    val badConn = batchFailure(new java.sql.SQLRecoverableException("gone"))
    val server = batchFailure(new java.sql.SQLException("ORA-00001", "23000", 1))
    for (j <- Seq(RetryJudge.mysql, RetryJudge.oracle)) {
      assert(j.shouldRetry(badConn) && !j.isDataError(badConn))
      assert(!j.shouldRetry(server) && j.isDataError(server))
    }
    // through the writer: the batch retries whole and nothing is
    // quarantined
    reset()
    val dlq = ResilientBatchWriter.write(df(8), cfg, RetryJudge.oracle,
      _ => new JdbcishSink("-none-", 2,
        () => batchFailure(new java.sql.SQLRecoverableException("conn lost"))))
    assert(dlq.count() == 0)
    assert(transientFailures == 2)
    assert(written.asScala.flatten.size == 8)
  }

  test("idle-timeout flush fires while the iterator is stalled (W2)") {
    reset()
    // rows 0,1 arrive instantly; the upstream then stalls 1200 ms before
    // producing 2,3 — with batchSize 10 only the TICKER can flush the
    // first two rows, and it must fire during the stall, not when the
    // next row happens to arrive
    val slow = udf((id: Long) => { if (id == 2) Thread.sleep(1200); id })
    val stalled = spark.range(4)
      .select($"id", concat(lit("row"), slow($"id")).as("v")).coalesce(1)
    ResilientBatchWriter.write(stalled,
      cfg.copy(batchTimeout = 250.millis), judge,
      _ => new RecordingSink("-none-", 0))
    val sizes = batches.asScala.toSeq
    assert(sizes.sum == 4 && sizes.size >= 2,
      s"expected a mid-stall flush + terminal flush, got batches=$sizes")
    assert(sizes.head < 4, s"first flush should predate the stalled rows: $sizes")
  }

  test("exec modes dispatch onto the sink's tx/row seams (W3)") {
    def run(mode: String): Seq[String] = {
      calls.clear()
      ResilientBatchWriter.write(df(5), cfg.copy(execMode = mode), judge,
        _ => new TxRecordingSink())
      calls.asScala.toSeq
    }
    assert(run(ExecMode.Normal) == Seq("batch:5"))
    assert(run(ExecMode.Stmt) == Seq.fill(5)("row"))
    assert(run(ExecMode.Tx) == Seq("begin", "batch:5", "commit"))
    assert(run(ExecMode.StmtTx) ==
      Seq("begin") ++ Seq.fill(5)("row") ++ Seq("commit"))
    intercept[IllegalArgumentException] {
      ResilientBatchWriter.write(df(1), cfg.copy(execMode = "nope"), judge,
        _ => new TxRecordingSink())
    }
  }

  test("Tx mode: rollback on failure, per-row replay in own transactions") {
    calls.clear()
    val dlq = ResilientBatchWriter.write(df(5),
      cfg.copy(execMode = ExecMode.Tx, ignoreOneByOneError = true), judge,
      _ => new TxRecordingSink(failKey = "row3"))
    assert(dlq.count() == 1)
    val seq = calls.asScala.toSeq
    // whole batch: begin -> (throw) -> rollback; then 5 single-row
    // transactions, the bad one rolling back into the DLQ
    assert(seq.take(2) == Seq("begin", "rollback"), seq)
    assert(seq.count(_ == "rollback") == 2 && seq.count(_ == "commit") == 4, seq)
    assert(seq.count(_ == "batch:1") == 4, seq)
  }

  test("pluggable backoff retry strategy paces the attempts (W4)") {
    // strategy unit surface
    val exp = RetryStrategy.exponential(3, 100.millis, 400.millis)
    assert((1 to 4).map(exp.backoff) ==
      Seq(Some(100.millis), Some(200.millis), Some(400.millis), None))
    assert(RetryStrategy.nTimes(2).backoff(3).isEmpty)
    assert(RetryStrategy.none.backoff(1).isEmpty)
    // integration: 3 transient failures -> 3 paced retries, then success
    reset(); sleeps.clear()
    val dlq = ResilientBatchWriter.write(df(8), cfg, judge,
      _ => new RecordingSink("-none-", 3),
      strategy = Some(exp), sleeper = sleeps.add(_))
    assert(dlq.count() == 0)
    assert(written.asScala.flatten.size == 8)
    assert(sleeps.asScala.toSeq == Seq(100L, 200L, 400L))
  }

  test("writer fan-in: repartition(n) -> n parallel sink instances (X6)") {
    reset()
    val wide = spark.range(100)
      .select($"id", concat(lit("row"), $"id").as("v")).repartition(4)
    val dlq = ResilientBatchWriter.write(wide, cfg, judge,
      _ => new RecordingSink("-none-", 0))
    assert(dlq.count() == 0)
    // one sink per writer partition, every row written exactly once
    assert(opened.asScala.toSet.size == 4, s"opened=${opened.asScala.toSeq}")
    assert(written.asScala.flatten.size == 100)
    assert(written.asScala.flatten.toSet.size == 100)
  }

  test("oracle array-DML bind: one array per column over the batch (S9)") {
    val rows = spark.range(3).select($"id",
        when($"id" === 1, lit(null)).otherwise(concat(lit("s"), $"id")).as("v"),
        when($"id" === 2, lit(null)).otherwise($"id" * 10).as("n"))
      .collect().toSeq
    val binds = graft.sources.OracleStyle.arrayBindArgs(rows)
    // column-wise: 3 columns, each an array over the 3 rows
    assert(binds.size == 3 && binds.forall(_.length == 3))
    assert(binds(0).toSeq == Seq(0L, 1L, 2L))
    assert(binds(1).toSeq == Seq("s0", "", "s2")) // NULL string binds as ''
    assert(binds(2).toSeq == Seq(0L, 10L, null)) // non-string NULL stays null
    // pairs with the single-row statement shape
    assert(graft.sources.OracleStyle.arrayInsertSql(
      TableId(name = "t"), Seq("id", "v", "n"))
      == "insert into \"t\"(\"id\",\"v\",\"n\") values (:1,:2,:3)")
    assert(graft.sources.OracleStyle.arrayBindArgs(Seq.empty).isEmpty)
  }

  test("parquet upsert: replace-by-key semantics (S8 analogue)") {
    val dir = tmpDir("upsert")
    val path = s"$dir/t"
    spark.range(5).select($"id", lit("old").as("v"))
      .write.parquet(path)
    val updates = spark.range(3, 8).select($"id", lit("new").as("v"))
    ParquetUpsert.upsert(updates, path, Seq("id"))
    val out = spark.read.parquet(path)
    assert(out.count() == 8)
    assert(out.filter($"v" === "new").count() == 5)
    assert(out.filter($"id" < 3 && $"v" === "old").count() == 3)
  }

  test("partition-pruned upsert leaves untouched partitions byte-identical") {
    val dir = tmpDir("upsert-part")
    val path = s"$dir/t"
    // partitions p=0,1,2; upsert touches p=0 (update), p=5 (new)
    spark.range(9).select($"id", ($"id" % 3).as("p"), lit("old").as("v"))
      .write.partitionBy("p").parquet(path)
    def fileBytes(sub: String): Map[String, Long] = {
      val d = java.nio.file.Paths.get(path, sub)
      java.nio.file.Files.list(d).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString -> java.nio.file.Files
          .getLastModifiedTime(f).toMillis).toMap
    }
    val before1 = fileBytes("p=1"); val before2 = fileBytes("p=2")
    val updates = Seq((0L, 0L, "new"), (15L, 5L, "new"))
      .toDF("id", "p", "v")
    ParquetUpsert.upsert(updates, path, Seq("id"), partitionBy = Seq("p"))
    val out = spark.read.parquet(path)
    assert(out.count() == 10)
    assert(out.filter($"v" === "new").count() == 2)
    assert(out.filter($"id" === 0 && $"v" === "new").count() == 1)
    assert(out.filter($"p" === 5 && $"id" === 15).count() == 1)
    // untouched partitions: same files, same mtimes — never rewritten
    assert(fileBytes("p=1") == before1)
    assert(fileBytes("p=2") == before2)
    // second upsert moving id=0 from p=0 to p=1 consumes nothing but
    // still lands correctly (partition move)
    ParquetUpsert.upsert(Seq((0L, 1L, "moved")).toDF("id", "p", "v"),
      path, Seq("id"), partitionBy = Seq("p"))
    val out2 = spark.read.parquet(path)
    assert(out2.filter($"id" === 0).count() == 1)
    assert(out2.filter($"id" === 0 && $"p" === 1 && $"v" === "moved")
      .count() == 1)
    assert(out2.count() == 10)
  }

  test("compaction merges small files, skips compact dirs, keeps data") {
    import graft.sinks.ParquetCompact
    val dir = tmpDir("compact")
    def parquetFiles(p: String): Seq[java.nio.file.Path] = {
      val d = java.nio.file.Paths.get(p)
      java.nio.file.Files.list(d).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
    }
    // plain table: 16 shards -> 1 file, data identical
    val flat = s"$dir/flat"
    spark.range(10000).select($"id", ($"id" * 3).as("v"))
      .repartition(16).write.parquet(flat)
    assert(parquetFiles(flat).size == 16)
    assert(ParquetCompact.compact(spark, flat, targetFileBytes = 1L << 30)
      == 1)
    assert(parquetFiles(flat).size == 1)
    val back = spark.read.parquet(flat)
    assert(back.count() == 10000 &&
      back.agg(sum($"v")).head.getLong(0) == 3L * 10000 * 9999 / 2)
    // idempotent: second pass rewrites nothing, file untouched
    val mt = java.nio.file.Files.getLastModifiedTime(parquetFiles(flat).head)
    assert(ParquetCompact.compact(spark, flat, targetFileBytes = 1L << 30)
      == 0)
    assert(java.nio.file.Files
      .getLastModifiedTime(parquetFiles(flat).head) == mt)
    // hive-partitioned: each partition dir compacts independently
    val part = s"$dir/part"
    spark.range(3000).select($"id", ($"id" % 3).as("p"), lit("x").as("v"))
      .repartition(8).write.partitionBy("p").parquet(part)
    assert(parquetFiles(s"$part/p=0").size > 1)
    assert(ParquetCompact.compact(spark, part, targetFileBytes = 1L << 30)
      == 3)
    (0 to 2).foreach(p => assert(parquetFiles(s"$part/p=$p").size == 1))
    val pb = spark.read.parquet(part)
    assert(pb.count() == 3000 && pb.select("p").distinct().count() == 3)
    assert(pb.filter($"p" === 1).count() == 1000)
  }

  test("pre/post sql hooks reject select (S10 guard)") {
    intercept[IllegalArgumentException] {
      ParquetUpsert.withHooks(spark, Seq("select 1"), Nil)(())
    }
    val cfgBad = WriterConfig(table = TableId(name = "t"),
      preSql = Seq("SELECT * from x"))
    assert(cfgBad.validateHookSql.isLeft)
    assert(cfg.validateHookSql.isRight)
  }
}
