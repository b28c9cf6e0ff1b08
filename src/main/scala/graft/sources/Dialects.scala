package graft.sources

/** Dialect-pluggable SQL-text builders — the reference's pure-function
  * query-generation surface (SURVEY.md §2.1 S5-S9), kept as side-effect-
  * free builders of (sql, bind-arg count) so they are exactly unit-testable
  * the way the reference's builders are (SURVEY.md §5).
  *
  * These feed the JDBC paths (`spark.read.jdbc(url, table, predicates,
  * props)` and driver-side pre/post statements); the parquet engine never
  * needs them, but they are the portability seam a reference user expects.
  */
trait SqlDialect extends Serializable {
  def name: String
  /** Identifier quoting: backticks for MySQL-style, double quotes for
    * Oracle-style (mysql/field.go:50-52, oracle/field.go:55-65). */
  def quote(ident: String): String
  /** Positional bind variable for index i (0-based): `?` vs `:1`. */
  def bindVar(i: Int): String

  /** Bind variable for a column of Spark type `dt`. The default is the
    * bare [[bindVar]]; Oracle-style dialects wrap DATE/TIMESTAMP binds in
    * to_date/to_timestamp conversions — a bare `:n` bound to a time string
    * raises ORA-01861 "literal does not match format string"
    * (oracle/field.go:55-65). */
  def bindVarTyped(i: Int, dt: org.apache.spark.sql.types.DataType): String =
    bindVar(i)

  /** Write-side time convention paired with [[bindVarTyped]]: dialects
    * whose typed binds are conversion-wrapped bind the FORMATTED STRING
    * the wrapper parses; others pass the JDBC temporal through. */
  def writeTime(v: Any): Any = v

  /** Oracle stores '' AS NULL; other engines keep them distinct
    * (oracle/field.go:193-195). */
  def emptyStringIsNull: Boolean = false

  /** Read-side string convention (oracle/field.go:191-200): NULL
    * canonicalization first (Oracle's '' never reaches the trim), then
    * fixed-width CHAR padding trim when the table's trimChar knob is set
    * (TrimStringChar, database/config.go:97-111). */
  def readString(v: String, charType: Boolean, trimChar: Boolean): String =
    if (v == null) null
    else if (emptyStringIsNull && v.isEmpty) null
    else if (charType && trimChar) v.trim
    else v

  /** Write-side convention (oracle/field.go:255-263): a NULL string binds
    * as '' for engines where '' IS NULL; others bind NULL as NULL. */
  def writeString(v: String): String =
    if (v == null && emptyStringIsNull) "" else v

  def quoteTable(t: TableId): String =
    Seq(t.db, t.schema, t.name).filter(_.nonEmpty).map(quote).mkString(".")

  /** `select c1,c2 from t where (user) and (split)` — the S1 scan shape
    * (reader/parameter.go:94-120). */
  def scanSql(t: TableId, cols: Seq[String], where: Seq[String]): String = {
    val proj = if (cols.isEmpty || cols == Seq("*")) "*"
      else cols.map(quote).mkString(",")
    val w = where.filter(_.nonEmpty) match {
      case Nil => ""
      case ws => ws.map(c => s"($c)").mkString(" where ", " and ", "")
    }
    s"select $proj from ${quoteTable(t)}$w"
  }

  /** Schema probe: zero rows, metadata only (table.go:229-233). */
  def probeSql(t: TableId, cols: Seq[String]): String =
    scanSql(t, cols, Seq("1 = 2"))

  /** min/max bounds probe for the split planner (parameter.go:203-249). */
  def minMaxSql(t: TableId, key: String, where: String): String =
    scanSql(t, Seq.empty, Seq(where)).replaceFirst("\\*",
      s"min(${quote(key)}) as min_key, max(${quote(key)}) as max_key")

  /** Multi-row insert: `insert into t(c..) values (..),(..)` with one
    * bind var per cell (table.go:156-214). */
  def insertSql(t: TableId, cols: Seq[String], rows: Int): String = {
    val tuple = (i: Int) =>
      cols.indices.map(j => bindVar(i * cols.size + j))
        .mkString("(", ",", ")")
    s"insert into ${quoteTable(t)}(${cols.map(quote).mkString(",")})" +
      s" values ${(0 until rows).map(tuple).mkString(",")}"
  }

  /** [[insertSql]] with per-column Spark types, so time-typed cells get
    * the dialect's conversion-wrapped bind ([[bindVarTyped]]). */
  def insertSqlTyped(t: TableId,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)],
      rows: Int): String = {
    val tuple = (i: Int) =>
      cols.zipWithIndex.map { case ((_, dt), j) =>
        bindVarTyped(i * cols.size + j, dt)
      }.mkString("(", ",", ")")
    s"insert into ${quoteTable(t)}(${cols.map(c => quote(c._1)).mkString(",")})" +
      s" values ${(0 until rows).map(tuple).mkString(",")}"
  }

  /** Row-wise bind args pairing with [[insertSql]]/[[insertSqlTyped]]:
    * one flat arg per bind var, row-major. String NULLs flow through
    * [[writeString]] (Oracle's '' IS NULL convention,
    * oracle/field.go:255-263) and temporals through [[writeTime]], so
    * BOTH dialects' plain-insert binds honor the write conventions —
    * not just the Oracle array-DML path. */
  def rowBindArgs(rows: Seq[org.apache.spark.sql.Row]): Array[Any] =
    if (rows.isEmpty) Array.empty
    else {
      val schema = rows.head.schema
      rows.iterator.flatMap { r =>
        schema.fields.indices.map { j =>
          schema(j).dataType match {
            case org.apache.spark.sql.types.StringType =>
              writeString(if (r.isNullAt(j)) null else r.getString(j))
            case _ if r.isNullAt(j) => null
            case org.apache.spark.sql.types.DateType |
                 org.apache.spark.sql.types.TimestampType |
                 org.apache.spark.sql.types.TimestampNTZType =>
              writeTime(r.get(j))
            case _ => r.get(j)
          }
        }
      }.toArray[Any]
    }

  /** Batch key-delete, the first half of the delete+insert upsert (the
    * operational meaning of MySQL `replace into`, mysql/table.go:63-69:
    * conflicting rows are deleted, then the new images inserted — run
    * inside one transaction the pair IS an atomic batch upsert, and it
    * stays a 2-statement batch on engines with no native multi-row
    * MERGE source, e.g. Derby). One `(k1 = ? and k2 = ?)` disjunct per
    * row; bind args come from [[rowBindArgs]] over the key projection. */
  def deleteByKeysSql(t: TableId,
      keys: Seq[(String, org.apache.spark.sql.types.DataType)],
      rows: Int): String = {
    val one = (i: Int) =>
      keys.zipWithIndex.map { case ((k, dt), j) =>
        s"${quote(k)} = ${bindVarTyped(i * keys.size + j, dt)}"
      }.mkString("(", " and ", ")")
    s"delete from ${quoteTable(t)}" +
      s" where ${(0 until rows).map(one).mkString(" or ")}"
  }
}

/** MySQL-style dialect: backticks, `?`, and `replace into` upsert
  * (mysql/table.go:63-69,100-146). */
object MySqlStyle extends SqlDialect {
  val name = "mysql"
  def quote(ident: String): String = s"`$ident`"
  def bindVar(i: Int): String = "?"

  def replaceSql(t: TableId, cols: Seq[String], rows: Int): String =
    insertSql(t, cols, rows).replaceFirst("insert into", "replace into")
}

/** Oracle-style dialect: double quotes, `:n` bind vars, single-row SQL
  * with column-wise array binding (oracle/table.go:95-153). */
object OracleStyle extends SqlDialect {
  val name = "oracle"
  def quote(ident: String): String = "\"" + ident + "\""
  def bindVar(i: Int): String = s":${i + 1}"
  override val emptyStringIsNull = true

  /** Time binds are to_date/to_timestamp-wrapped (oracle/field.go:55-65):
    * Oracle parses the bound STRING with an explicit mask instead of
    * relying on NLS_DATE_FORMAT — a bare `:n` raises ORA-01861. Spark
    * DateType maps to Oracle DATE (date + seconds), timestamps keep
    * their 9 fractional digits (ff9). */
  override def bindVarTyped(i: Int,
      dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.DateType =>
      s"to_date(${bindVar(i)},'yyyy-mm-dd hh24:mi:ss')"
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType =>
      s"to_timestamp(${bindVar(i)},'yyyy-mm-dd hh24:mi:ss.ff9')"
    case _ => bindVar(i)
  }

  private val dateFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val tsFmt =
    java.time.format.DateTimeFormatter.ofPattern(
      "yyyy-MM-dd HH:mm:ss.SSSSSSSSS")

  /** The string the to_date/to_timestamp wrapper parses. */
  override def writeTime(v: Any): Any = v match {
    case null => null
    case d: java.sql.Date => d.toLocalDate.atStartOfDay.format(dateFmt)
    case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFmt)
    case d: java.time.LocalDate => d.atStartOfDay.format(dateFmt)
    case t: java.time.LocalDateTime => t.format(tsFmt)
    case t: java.time.Instant =>
      t.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(tsFmt)
    case other => other
  }

  /** Array-DML shape: one row of binds; the driver binds column arrays. */
  def arrayInsertSql(t: TableId, cols: Seq[String]): String =
    insertSql(t, cols, 1)

  /** [[arrayInsertSql]] with per-column Spark types: time columns get
    * the to_date/to_timestamp-wrapped bind. */
  def arrayInsertSqlTyped(t: TableId,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): String =
    insertSqlTyped(t, cols, 1)

  /** S9 array-DML bind builder (oracle/table.go:120-153 Agrs): ONE bind
    * value per COLUMN — an array spanning the batch's rows — pairing with
    * [[arrayInsertSql]]'s single-row statement; the driver executes the
    * statement once over the arrays. String NULLs bind through
    * [[writeString]] ('' for Oracle), temporals format through
    * [[writeTime]] for the conversion-wrapped binds; other NULLs bind as
    * null slots. */
  def arrayBindArgs(rows: Seq[org.apache.spark.sql.Row]): Seq[Array[Any]] =
    if (rows.isEmpty) Seq.empty
    else {
      val schema = rows.head.schema
      schema.fields.indices.map { j =>
        val dt = schema(j).dataType
        val isStr = dt == org.apache.spark.sql.types.StringType
        val isTime = dt == org.apache.spark.sql.types.DateType ||
          dt == org.apache.spark.sql.types.TimestampType ||
          dt == org.apache.spark.sql.types.TimestampNTZType
        rows.map { r =>
          if (isStr) writeString(if (r.isNullAt(j)) null else r.getString(j))
          else if (r.isNullAt(j)) null
          else if (isTime) writeTime(r.get(j))
          else r.get(j)
        }.toArray[Any]
      }
    }
}

/** Dialect registry — the reference's RegisterDialect/panic-on-dup
  * surface (database/dialect.go:9-27). */
object Dialects {
  private val reg = scala.collection.concurrent.TrieMap[String, SqlDialect](
    MySqlStyle.name -> MySqlStyle, OracleStyle.name -> OracleStyle)

  def register(d: SqlDialect): Unit =
    if (reg.putIfAbsent(d.name, d).isDefined)
      throw new IllegalArgumentException(s"dialect exists: ${d.name}")

  def apply(name: String): SqlDialect =
    reg.getOrElse(name, throw new NoSuchElementException(s"dialect: $name"))
}
