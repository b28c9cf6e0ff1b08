package perfbench

import java.sql.{Connection, DriverManager}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.sinks.{ResilientBatchWriter, RetryJudge, RowSink}
import graft.sources._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writer counters shared by every [[CountingSink]] of a pass. Sinks are
  * built inside Spark tasks; in local mode those run in this JVM. */
object WriterCounters {
  val batches, failedBatches, rowReplays, commits, rollbacks = new AtomicLong
  val batchRows = new ConcurrentLinkedQueue[Integer]
  def reset(): Unit = {
    Seq(batches, failedBatches, rowReplays, commits, rollbacks).foreach(_.set(0))
    batchRows.clear()
  }
}

/** Counts what [[ResilientBatchWriter]] asks of its sink. Under Tx mode a
  * failed batch shows as writeBatch(n) then rollback, followed by n
  * one-row writeBatch calls: its row-by-row replay. */
final class CountingSink(inner: RowSink) extends RowSink {
  private var replayLeft = 0
  private var lastBatch = 0
  private var lastWasBatch = false
  override def open(partitionId: Int): Unit = inner.open(partitionId)
  def writeBatch(rows: Seq[Row]): Unit = {
    if (replayLeft > 0) {
      replayLeft -= 1
      lastWasBatch = false
      WriterCounters.rowReplays.incrementAndGet()
    } else {
      lastBatch = rows.size
      lastWasBatch = true
      WriterCounters.batches.incrementAndGet()
      WriterCounters.batchRows.add(rows.size)
    }
    inner.writeBatch(rows)
  }
  override def begin(): Unit = inner.begin()
  override def commit(): Unit = { WriterCounters.commits.incrementAndGet(); inner.commit() }
  override def rollback(): Unit = {
    WriterCounters.rollbacks.incrementAndGet()
    if (lastWasBatch) {
      WriterCounters.failedBatches.incrementAndGet()
      replayLeft = lastBatch
      lastWasBatch = false
    }
    inner.rollback()
  }
  override def complete(): Unit = inner.complete()
  override def close(): Unit = inner.close()
}

/** etl_jdbc: graft's reference deployment shape, a DB -> DB job driven by
  * a reader and a writer JSON through `JobRunner.runLive`, over in-memory
  * Derby. The source keys are dense in the first quarter of their range
  * and sparse after it, so the four equal-width split slices differ in
  * size. A destination CHECK constraint rejects a few seeded rows, so the
  * batches holding them fail, roll back and replay row by row into the
  * DLQ. Touches no lake, pin or graph code. */
final class EtlJdbc(spark: SparkSession, seed: Long, work: String, trace: Trace)
    extends Workload {
  private val Rows = 20000
  private val Splits = 4
  private val Rejected = 5
  private val srcUrl = "jdbc:derby:memory:perfbench_src;create=true"
  private val dstUrl = "jdbc:derby:memory:perfbench_dst;create=true"
  private val src = TableId(name = "orders")

  private val readerJson =
    """{"connection": {"table": {"name": "orders"}},
      | "column": ["id", "cust", "amount", "status"],
      | "where": "\"status\" <> 'void'",
      | "split": {"key": "id"}}""".stripMargin
  private val writerJson =
    """{"connection": {"table": {"name": "orders_dst"}},
      | "writeMode": "insert", "execMode": "Tx", "batchSize": 500,
      | "batchTimeout": "60s",
      | "preSQL": ["delete from \"orders_dst\"", "delete from \"job_audit\""],
      | "postSQL": ["insert into \"job_audit\" select 'orders', count(*) from \"orders_dst\""]}"""
      .stripMargin

  val opsPerPass = 1
  private var expectedRows = 0L
  private var expectedSum = 0L
  private var rejectedIds = Set.empty[Long]
  private var dlqRows: Array[Row] = Array.empty
  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  /** Order-independent row checksum, computed the same way on the
    * generated rows and on the rows read back through plain JDBC. */
  private def rowHash(id: Long, cust: Long, cents: Long, status: String): Long = {
    var h = id * 0x9E3779B97F4A7C15L ^ cust * 0xC2B2AE3D27D4EB4FL ^
      cents * 0x165667B19E3779F9L ^ status.hashCode.toLong
    h ^= h >>> 31; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 29
    h
  }

  private def exec(url: String, sql: String*): Unit =
    Using.resource(DriverManager.getConnection(url)) { c =>
      Using.resource(c.createStatement())(st => sql.foreach(st.executeUpdate))
    }

  def setup(): Unit = {
    val rnd = new scala.util.Random(seed)
    val dense = Rows * 7 / 10
    val statuses = Array("new", "paid", "shipped")
    var id = 0L
    val rows = (0 until Rows).map { i =>
      // dense run first (step 1-2), then a sparse tail (step 1-20)
      id += (if (i < dense) 1 + rnd.nextInt(2) else 1 + rnd.nextInt(20))
      val void = rnd.nextInt(20) == 0
      (id, rnd.nextInt(5000).toLong, 100L + rnd.nextInt(100000),
        if (void) "void" else statuses(rnd.nextInt(3)),
        rnd.alphanumeric.take(8).mkString)
    }.toArray
    // the rows the destination's CHECK constraint refuses
    val live = rows.indices.filter(i => rows(i)._4 != "void")
    val bad = mutable.LinkedHashSet.empty[Int]
    while (bad.size < Rejected) bad += live(rnd.nextInt(live.size))
    bad.foreach { i => val r = rows(i); rows(i) = r.copy(_3 = -r._3) }
    rejectedIds = bad.map(rows(_)._1).toSet
    val kept = rows.filter(r => r._4 != "void" && r._3 >= 0)
    expectedRows = kept.length
    expectedSum = kept.map(r => rowHash(r._1, r._2, r._3, r._4)).sum

    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("cust", LongType), StructField("amount", DecimalType(12, 2)),
      StructField("status", StringType), StructField("note", StringType)))
    val df = spark.createDataFrame(rows.toSeq.map(r =>
      Row(r._1, r._2, java.math.BigDecimal.valueOf(r._3, 2), r._4, r._5)).asJava, schema)
    JdbcLive.ensureDerbyRegistered()
    exec(srcUrl, """create table "orders"("id" bigint not null, "cust" bigint, """ +
      """"amount" decimal(12,2), "status" varchar(16), "note" varchar(64))""")
    // seeded through graft's own writer
    val seedDlq = JdbcLive.write(df.repartition(Splits), srcUrl,
      WriterConfig(table = src, batchSize = 200), DerbyStyle)
    val quarantined = seedDlq.count()
    seedDlq.unpersist()
    require(quarantined == 0, s"seeding the source quarantined $quarantined rows")
    exec(dstUrl,
      """create table "orders_dst"("id" bigint not null primary key, """ +
        """"cust" bigint, "amount" decimal(12,2), "status" varchar(16), """ +
        """constraint "amount_nonneg" check ("amount" >= 0))""",
      """create table "job_audit"("job" varchar(32), "loaded_rows" bigint)""")
  }

  /** Empty destination tables for every pass. The database itself stays:
    * Derby compiles each statement into a generated class, and a fresh
    * database would load new classes on every pass. */
  def reset(): Unit = {
    exec(dstUrl, """truncate table "orders_dst"""", """truncate table "job_audit"""")
    dlqRows = Array.empty
  }

  def pass(ops: Ops): Unit =
    if (!trace.enabled) {
      dlqRows = ops("etl_job") {
        val dlq = JobRunner.runLive(spark, readerJson, writerJson, srcUrl,
          dstUrl, DerbyStyle, numSplits = Splits)
        try dlq.collect() finally dlq.unpersist()
      }
    } else dlqRows = ops("etl_job")(tracedJob())

  /** `runLive` taken apart into its public steps, so each layer is timed
    * and the writer's sink is counted. The extra slice-count scan is the
    * tracing's own cost. */
  private def tracedJob(): Array[Row] = {
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = trace.span(name)(body)
      record(name, (System.nanoTime() - t0) / 1e6)
      r
    }
    val rc = ConfigJson.reader(readerJson).copy(numPartitions = Splits)
    val wc = ConfigJson.writer(writerJson)
    // JdbcLive.read probes the split key's bounds; the scan itself is lazy
    val df = timed("sources.bounds_ms")(JdbcLive.read(spark, srcUrl, rc, DerbyStyle))
    val slices = timed("sources.scan_ms")(
      df.rdd.mapPartitions(it => Iterator(it.size)).collect())
    WriterCounters.reset()
    val pre0 = System.nanoTime()
    trace.span("sources.hooks")(JobRunner.execHooksLive(dstUrl, wc.preSql))
    val preMs = (System.nanoTime() - pre0) / 1e6
    // the sink factory ships to tasks: capture plain values only
    val (url, table, schema) = (dstUrl, wc.table, df.schema)
    val dlq = timed("writer.write_ms")(ResilientBatchWriter.write(df, wc,
      RetryJudge.forDialect(DerbyStyle.name),
      _ => new CountingSink(new JdbcRowSink(url, DerbyStyle, table, schema))))
    val post0 = System.nanoTime()
    trace.span("sources.hooks")(JobRunner.execHooksLive(dstUrl, wc.postSql))
    record("sources.hooks_ms", preMs + (System.nanoTime() - post0) / 1e6)
    val out = try dlq.collect() finally dlq.unpersist()
    record("split.slices", slices.length)
    record("split.slice_rows_max", slices.max)
    record("split.slice_rows_min", slices.min)
    record("writer.batches", WriterCounters.batches.get.toDouble)
    record("writer.batch_rows_p50",
      Stats.median(WriterCounters.batchRows.asScala.toSeq.map(_.toDouble)))
    record("writer.failed_batches", WriterCounters.failedBatches.get.toDouble)
    record("writer.row_replays", WriterCounters.rowReplays.get.toDouble)
    record("writer.dlq_rows", out.length.toDouble)
    record("writer.commits", WriterCounters.commits.get.toDouble)
    record("writer.rollbacks", WriterCounters.rollbacks.get.toDouble)
    out
  }

  private def record(name: String, v: Double): Unit =
    if (trace.timed) layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def check(): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    Using.resource(DriverManager.getConnection(dstUrl)) { c: Connection =>
      Using.resource(c.createStatement()) { st =>
        var n = 0L
        var sum = 0L
        val ids = mutable.HashSet.empty[Long]
        Using.resource(st.executeQuery(
          """select "id", "cust", "amount", "status" from "orders_dst"""")) { rs =>
          while (rs.next()) {
            n += 1
            ids += rs.getLong(1)
            sum += rowHash(rs.getLong(1), rs.getLong(2),
              rs.getBigDecimal(3).movePointRight(2).longValueExact, rs.getString(4))
          }
        }
        if (n != expectedRows || sum != expectedSum || ids.size != n)
          problems += s"destination holds $n rows (${ids.size} distinct ids), " +
            s"checksum $sum; expected $expectedRows rows, checksum $expectedSum"
        Using.resource(st.executeQuery(
          """select "job", "loaded_rows" from "job_audit"""")) { rs =>
          val audit = Iterator.continually(rs).takeWhile(_.next())
            .map(r => (r.getString(1), r.getLong(2))).toList
          if (audit != List(("orders", expectedRows)))
            problems += s"post-SQL audit rows $audit, expected one ('orders', $expectedRows)"
        }
      }
    }
    val IdField = "\"id\":(-?\\d+)".r
    val dlqIds = dlqRows.toSeq.map(r => IdField.findFirstMatchIn(r.getString(0))
      .map(_.group(1).toLong).getOrElse(Long.MinValue))
    if (dlqIds.sorted != rejectedIds.toSeq.sorted)
      problems += s"DLQ holds ids ${dlqIds.sorted}, expected ${rejectedIds.toSeq.sorted}"
    problems.toSeq
  }

  def layerMetrics(ops: Ops): Map[String, Double] =
    layer.map { case (k, xs) => k -> Stats.median(xs.toSeq) }.toMap
}
