package graft.sources

import graft.sinks.{ResilientBatchWriter, RetryJudge, RowSink}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.sql.{Connection, DriverManager, PreparedStatement, ResultSetMetaData}
import java.util.Properties
import scala.collection.mutable
import scala.util.Using
import scala.util.control.NonFatal

/** Live JDBC execution of the dialect/split/writer seams — the reference's
  * actual runtime act (reader/job.go:122-187 executes the generated SQL
  * against a real DBMS; writer/task.go:17-32 binds and executes the insert
  * statements). Every other layer of the S5-S9 surface in this repo is a
  * pure builder verified against the reference's SQL text; this module is
  * where those builders meet `java.sql` and `spark.read.jdbc` for real:
  *
  *  - [[JdbcLive.read]]: dialect scan SQL + [[JdbcReadPlan]] split
  *    predicates -> `spark.read.jdbc(url, table, predicates, props)`, one
  *    Spark partition per split slice — the reference's task-per-slice
  *    read parallelism on a live connection;
  *  - [[JdbcLive.bounds]]: the min/max probe (parameter.go:203-249)
  *    executed over JDBC, feeding the split planner;
  *  - [[JdbcLive.probeSchema]]: the zero-row `1 = 2` schema probe
  *    (table.go:229-233) materialized from ResultSetMetaData;
  *  - [[JdbcRowSink]]: a [[RowSink]] over a real `java.sql.Connection`,
  *    so [[ResilientBatchWriter]]'s exec modes run genuine transactions
  *    (`setAutoCommit`/`commit`/`rollback`) and its retry/degrade paths
  *    classify genuine `SQLException`s.
  *
  * The sandbox has no MySQL/Oracle server; Derby 10.16 (on the Spark
  * classpath, in-memory `jdbc:derby:memory:` databases) is the live
  * engine. [[DerbyStyle]] registers through the same third-party dialect
  * seam the reference exposes (database/dialect.go:9-27) — the MySQL and
  * Oracle builders themselves stay locked by SourcesSpec's SQL-text cases.
  *
  * Scale: reads fan out one JDBC session per slice exactly like the
  * reference; the writer is pure mapPartitions (one connection per
  * partition task, no driver involvement). Nothing here collects data
  * rows to the driver — only the 2-value bounds probe and the 0-row
  * schema probe run driver-side.
  */
object DerbyStyle extends SqlDialect {
  val name = "derby"
  /** Derby folds unquoted identifiers to uppercase; quoting preserves the
    * case of the parquet-side column names. */
  def quote(ident: String): String = "\"" + ident + "\""
  def bindVar(i: Int): String = "?"
}

object JdbcLive {

  // Keep Derby's boot log (derby.log) out of the working directory.
  if (!sys.props.contains("derby.system.home"))
    sys.props("derby.system.home") = sys.props.getOrElse("java.io.tmpdir", "/tmp")

  /** Register the live dialect through the public registry seam; idempotent
    * so query re-runs in one session don't trip the dup guard. */
  def ensureDerbyRegistered(): Unit =
    try Dialects.register(DerbyStyle)
    catch { case _: IllegalArgumentException => }

  def connect(url: String, props: Properties = new Properties): Connection =
    DriverManager.getConnection(url, props)

  /** JDBC type -> Spark type, the public `java.sql.Types` mapping (only
    * what the dialects emit; extend as sources demand). */
  def sparkType(jdbcType: Int, precision: Int, scale: Int): DataType = {
    import java.sql.Types._
    jdbcType match {
      case BIGINT => LongType
      case INTEGER => IntegerType
      case SMALLINT | TINYINT => ShortType
      case DOUBLE | FLOAT => DoubleType
      case REAL => FloatType
      case DECIMAL | NUMERIC => DecimalType(precision, scale)
      case BOOLEAN | BIT => BooleanType
      case DATE => DateType
      case TIMESTAMP => TimestampType
      case BLOB | BINARY | VARBINARY | LONGVARBINARY => BinaryType
      case _ => StringType // CHAR/VARCHAR/CLOB and the unmapped tail
    }
  }

  private def schemaOf(md: ResultSetMetaData): StructType =
    StructType((1 to md.getColumnCount).map { i =>
      StructField(md.getColumnLabel(i),
        sparkType(md.getColumnType(i), md.getPrecision(i), md.getScale(i)),
        md.isNullable(i) != ResultSetMetaData.columnNoNulls)
    })

  /** S3 live: execute the dialect's zero-row probe, return the schema. */
  def probeSchema(url: String, dialect: SqlDialect, table: TableId,
      cols: Seq[String] = Seq("*")): StructType =
    Using.resource(connect(url)) { conn =>
      Using.resource(conn.createStatement()) { st =>
        Using.resource(st.executeQuery(dialect.probeSql(table, cols))) { rs =>
          schemaOf(rs.getMetaData)
        }
      }
    }

  /** Split-key min/max probe over a live connection (long-domain keys;
    * the string/time domain converters are pure and spec-locked in
    * RangeSplitter). None when the table is empty under `where`. */
  def bounds(url: String, dialect: SqlDialect, table: TableId, key: String,
      where: String = ""): Option[(BigInt, BigInt)] =
    Using.resource(connect(url)) { conn =>
      Using.resource(conn.createStatement()) { st =>
        val sql = dialect.minMaxSql(table, key,
          if (where.isEmpty) "1 = 1" else where)
        Using.resource(st.executeQuery(sql)) { rs =>
          if (!rs.next()) None
          else {
            val mn = rs.getLong(1); val mnNull = rs.wasNull()
            val mx = rs.getLong(2); val mxNull = rs.wasNull()
            if (mnNull || mxNull) None else Some((BigInt(mn), BigInt(mx)))
          }
        }
      }
    }

  /** Live split read: probe bounds, assemble the [[JdbcReadPlan]], hand
    * the predicates to `spark.read.jdbc` — one partition per slice, each
    * slice its own JDBC session server-side, filters evaluated IN the
    * database (the reference's reason for split predicates: move the scan
    * to the store, move only matching rows). querySql mode unions one
    * single-partition read per statement (X4's task-per-statement). */
  def read(spark: SparkSession, url: String, cfg: ReaderConfig,
      dialect: SqlDialect, props: Properties = new Properties): DataFrame = {
    val b =
      if (cfg.querySql.nonEmpty || cfg.split.key.isEmpty ||
        cfg.numPartitions <= 1) None
      else bounds(url, dialect, cfg.table, cfg.split.key, cfg.where)
    val plan = JdbcReadPlan.plan(cfg, dialect, b)
    if (plan.predicates.nonEmpty)
      spark.read.jdbc(url, s"(${plan.statements.head}) g",
        plan.predicates.toArray, props)
    else
      plan.statements.map(s => spark.read.jdbc(url, s"($s) g", props))
        .reduce(_ unionAll _)
  }

  /** Spark type -> dialect DDL type for [[createTable]]. */
  def ddlType(dt: DataType): String = dt match {
    case LongType => "bigint"
    case IntegerType => "integer"
    case ShortType => "smallint"
    case DoubleType => "double"
    case FloatType => "real"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case BooleanType => "boolean"
    case DateType => "date"
    case TimestampType | TimestampNTZType => "timestamp"
    case BinaryType => "blob"
    case StringType => "varchar(4000)"
    case other =>
      throw new IllegalArgumentException(s"no JDBC DDL mapping for $other")
  }

  def createTable(url: String, dialect: SqlDialect, table: TableId,
      schema: StructType, primaryKey: Seq[String] = Seq.empty): Unit =
    Using.resource(connect(url)) { conn =>
      Using.resource(conn.createStatement()) { st =>
        val cols = schema.fields.map { f =>
          val notNull = if (primaryKey.contains(f.name)) " not null" else ""
          s"${dialect.quote(f.name)} ${ddlType(f.dataType)}$notNull"
        }
        val pk =
          if (primaryKey.isEmpty) ""
          else primaryKey.map(dialect.quote)
            .mkString(", primary key (", ",", ")")
        st.executeUpdate(
          s"create table ${dialect.quoteTable(table)}(${cols.mkString(",")}$pk)")
      }
    }

  /** Best-effort drop so query re-runs are idempotent (Derby has no
    * `if exists`; a missing table is the one acceptable failure). */
  def dropTableIfExists(url: String, dialect: SqlDialect,
      table: TableId): Unit =
    Using.resource(connect(url)) { conn =>
      Using.resource(conn.createStatement()) { st =>
        try st.executeUpdate(s"drop table ${dialect.quoteTable(table)}")
        catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => }
      }
    }

  /** Write `df` into a live JDBC table through [[ResilientBatchWriter]] —
    * the full W2-W6 stack over real connections, with the dialect's
    * retry judger. Returns the DLQ frame (quarantined rows). */
  def write(df: DataFrame, url: String, cfg: WriterConfig,
      dialect: SqlDialect): DataFrame = {
    val out =
      if (cfg.columns.isEmpty) df
      else df.select(cfg.columns.map(org.apache.spark.sql.functions.col): _*)
    val schema = out.schema
    ResilientBatchWriter.write(out, cfg, RetryJudge.forDialect(dialect.name),
      _ => new JdbcRowSink(url, dialect, cfg.table, schema))
  }
}

/** [[RowSink]] over a live `java.sql.Connection`: one connection per
  * partition task (the reference's per-task DB session, writer/task.go:
  * 17-32). Every batch binds into ONE single-row prepared insert, kept
  * for the life of the sink: one row is one `executeUpdate`, more rows
  * are one `addBatch` each and a single `executeBatch` — JDBC batch
  * write, the reference's single-row statement bound over a whole batch
  * (db.go:266-378, oracle/table.go:95-153). Bind args flow through the
  * dialect's write conventions ([[SqlDialect.rowBindArgs]]: '' IS NULL,
  * to_date-wrapped temporals). A JDBC batch is not atomic the way one
  * statement is, so a multi-statement write runs under [[atomically]]:
  * a failed `writeBatch` leaves nothing behind. The transaction seams
  * map 1:1 onto JDBC autocommit control, so [[ExecMode]] Tx/StmtTx run
  * genuine transactions. */
class JdbcRowSink(url: String, dialect: SqlDialect, table: TableId,
    schema: StructType) extends RowSink {

  @transient protected var conn: Connection = _
  @transient private var stmts: mutable.HashMap[String, PreparedStatement] = _
  protected val colsTyped: Seq[(String, DataType)] =
    schema.fields.toSeq.map(f => (f.name, f.dataType))

  override def open(partitionId: Int): Unit = {
    conn = JdbcLive.connect(url)
    stmts = mutable.HashMap.empty
  }

  /** One single-row statement per kind, prepared on first use and reused
    * for every batch — the reference's stmt reuse (db.go:280-309). */
  protected def preparedFor(kind: String)(sql: => String): PreparedStatement =
    stmts.getOrElseUpdate(kind, conn.prepareStatement(sql))

  /** Binds each of `rows` into the single-row statement `ps` and runs
    * them: one row as one `executeUpdate`, more as one JDBC batch. Only a
    * single row is atomic on its own. */
  protected def execRows(ps: PreparedStatement, rows: Seq[Row]): Unit = {
    val args = dialect.rowBindArgs(rows)
    val width = args.length / rows.size
    def bind(off: Int): Unit = {
      var j = 0
      while (j < width) { ps.setObject(j + 1, args(off + j)); j += 1 }
    }
    if (rows.size == 1) { bind(0); ps.executeUpdate() }
    else {
      ps.clearBatch() // drop what a batch that failed mid-bind left queued
      var off = 0
      while (off < args.length) { bind(off); ps.addBatch(); off += width }
      ps.executeBatch()
    }
  }

  /** Runs `body` so that none of its writes persist if it throws: inside
    * an open transaction through a savepoint, under autocommit as a
    * transaction of its own. */
  protected def atomically(body: => Unit): Unit = {
    def undo(e: Throwable)(step: => Unit): Unit =
      try step catch { case NonFatal(u) => e.addSuppressed(u) }
    if (conn.getAutoCommit) {
      conn.setAutoCommit(false)
      try { body; conn.commit() }
      catch {
        case NonFatal(e) =>
          undo(e)(conn.rollback()); undo(e)(conn.setAutoCommit(true))
          throw e
      }
      conn.setAutoCommit(true)
    } else {
      val sp = conn.setSavepoint()
      try { body; conn.releaseSavepoint(sp) }
      catch { case NonFatal(e) => undo(e)(conn.rollback(sp)); throw e }
    }
  }

  protected def insertRows(rows: Seq[Row]): Unit =
    execRows(preparedFor("insert")(dialect.insertSqlTyped(table, colsTyped, 1)),
      rows)

  def writeBatch(rows: Seq[Row]): Unit =
    if (rows.size == 1) insertRows(rows)
    else if (rows.nonEmpty) atomically(insertRows(rows))

  override def begin(): Unit = conn.setAutoCommit(false)
  override def commit(): Unit = { conn.commit(); conn.setAutoCommit(true) }
  override def rollback(): Unit = {
    conn.rollback(); conn.setAutoCommit(true)
  }

  override def close(): Unit = {
    if (stmts != null) { stmts.values.foreach(_.close()); stmts.clear() }
    if (conn != null) conn.close()
  }
}

/** Exactly-once APPEND [[RowSink]] via a transactional commit ledger —
  * the idempotence story for sinks with NO natural key (the upsert sink
  * covers keyed data; an append stream of fact rows has nothing to
  * replace by). The whole partition runs as ONE transaction on one
  * connection: open() probes the ledger for (epoch, partition) and turns
  * the partition into a no-op if a previous attempt already committed;
  * otherwise every batch inserts uncommitted, and complete() — the
  * success-only hook — writes the ledger row and commits ATOMICALLY with
  * the data. Any failure before that rolls the whole partition back, so
  * a Spark task retry or a foreachBatch redelivery starts from nothing
  * and writes exactly once. The ledger's (epoch, partition) primary key
  * also arbitrates speculative duplicates: the second committer hits the
  * constraint and rolls back, leaving the first attempt's rows as the
  * only ones. Use with [[graft.sinks.ExecMode.Normal]] — the per-batch
  * begin/commit seams are intentionally inert here (one tx per
  * partition IS the semantics). The writer's retry/degrade paths stay
  * sound inside the partition tx because a failed `writeBatch` leaves
  * nothing behind ([[JdbcRowSink.atomically]] rolls a failed batch back
  * to its savepoint), so a retried batch or a row-wise replay inserts
  * each surviving row exactly once into the uncommitted tx. */
class JdbcLedgerSink(url: String, dialect: SqlDialect, table: TableId,
    ledger: TableId, schema: StructType, epochId: Long)
    extends JdbcRowSink(url, dialect, table, schema) {

  @transient private var skip = false
  @transient private var completed = false
  @transient private var pid = -1

  override def open(partitionId: Int): Unit = {
    super.open(partitionId)
    pid = partitionId
    completed = false
    conn.setAutoCommit(false)
    val probe = conn.prepareStatement(
      s"select count(*) from ${dialect.quoteTable(ledger)}" +
        s" where ${dialect.quote("epoch")} = ? and ${dialect.quote("part")} = ?")
    try {
      probe.setLong(1, epochId)
      probe.setInt(2, partitionId)
      val rs = probe.executeQuery()
      rs.next()
      skip = rs.getLong(1) > 0
      rs.close()
    } finally probe.close()
  }

  override def writeBatch(rows: Seq[Row]): Unit =
    if (!skip) super.writeBatch(rows)

  // the partition is one transaction: the writer's per-batch tx seams
  // must not commit partial state
  override def begin(): Unit = {}
  override def commit(): Unit = {}
  override def rollback(): Unit = {}

  override def complete(): Unit = {
    if (!skip) {
      val ins = conn.prepareStatement(
        s"insert into ${dialect.quoteTable(ledger)}" +
          s"(${dialect.quote("epoch")},${dialect.quote("part")}) values (?,?)")
      try {
        ins.setLong(1, epochId)
        ins.setInt(2, pid)
        ins.executeUpdate() // PK (epoch, part): speculative loser fails here
      } finally ins.close()
      conn.commit()
    } else conn.rollback() // end the probe's read-only tx before close
    completed = true
  }

  override def close(): Unit = {
    if (conn != null && !completed && !conn.getAutoCommit)
      try conn.rollback() catch { case _: java.sql.SQLException => }
    super.close()
  }
}

object JdbcLedgerSink {
  /** The ledger table: one row per committed (epoch, partition). */
  def createLedger(url: String, dialect: SqlDialect, ledger: TableId): Unit =
    JdbcLive.createTable(url, dialect, ledger, StructType(Seq(
      StructField("epoch", LongType), StructField("part", IntegerType))),
      primaryKey = Seq("epoch", "part"))
}

/** Upsert-by-key [[RowSink]]: each batch deletes the incoming keys then
  * inserts the new images — the operational semantics of MySQL
  * `replace into` (mysql/table.go:63-69), expressed as two statements
  * because Derby's MERGE takes only base-table sources. Both run as
  * single-key/single-row JDBC batches inside ONE [[atomically]] unit in
  * every exec mode, so a failed insert never leaves its keys deleted;
  * and because replace-by-key is idempotent the sink composes with
  * at-least-once delivery (streaming foreachBatch redelivery,
  * whole-batch retries) into exactly-once-per-key effects. */
final class JdbcUpsertRowSink(url: String, dialect: SqlDialect,
    table: TableId, schema: StructType, keys: Seq[String])
    extends JdbcRowSink(url, dialect, table, schema) {

  require(keys.nonEmpty && keys.forall(schema.fieldNames.contains),
    s"upsert keys $keys must be columns of ${schema.fieldNames.toSeq}")
  private val keyIdx = keys.map(schema.fieldIndex)
  private val keySchema = StructType(keyIdx.map(schema.fields))
  private val keysTyped = keySchema.fields.toSeq.map(f => (f.name, f.dataType))

  override def writeBatch(rows: Seq[Row]): Unit = if (rows.nonEmpty)
    atomically {
      val keyRows = rows.map(r => new org.apache.spark.sql.catalyst.expressions
        .GenericRowWithSchema(keyIdx.map(r.get).toArray, keySchema): Row)
      execRows(preparedFor("delete")(
        dialect.deleteByKeysSql(table, keysTyped, 1)), keyRows)
      insertRows(rows)
    }
}
