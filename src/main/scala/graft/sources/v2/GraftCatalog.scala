package graft.sources.v2

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.VersionedTable

/** V2 `TableCatalog` over the versioned lake — the catalog-level
  * realization of the reference's named source registry
  * (`/root/reference/database/dialect.go:9-27` maps names to dialects;
  * a Spark catalog plugin maps names to tables), so the lake's tables
  * resolve BY NAME through pure SQL with no OPTIONS plumbing:
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sources.v2.GraftCatalog
  *   spark.sql.catalog.graft.root = /warehouse
  *
  *   CREATE NAMESPACE graft.db
  *   CREATE TABLE graft.db.t (k BIGINT, v STRING)
  *   CREATE TABLE graft.db.t2 AS SELECT ...          -- CTAS
  *   INSERT INTO graft.db.t VALUES (1, 'a')
  *   SELECT * FROM graft.db.t VERSION AS OF 3        -- native SQL
  *   SELECT * FROM graft.db.t TIMESTAMP AS OF '...'  -- time travel
  * }}}
  *
  * Layout: identifier `db.t` lives at `<root>/db/t`; a directory is a
  * TABLE iff it has a committed manifest (`_manifests/`), otherwise a
  * namespace. `CREATE TABLE` commits version 0 with the declared
  * schema and zero data files — an empty-but-real snapshot, so every
  * catalog table supports reads, time travel and constraints from
  * birth, and CTAS is create + the standard transactional append
  * (non-atomic across the pair, like every non-staging V2 catalog; the
  * lake's own optimistic commit loop still makes each step atomic).
  *
  * Loads PIN a snapshot (same contract as the `format("graft")` front
  * door): a query planned against `graft.db.t` never sees concurrent
  * commits mid-plan. Time travel resolves through the SAME version /
  * timestamp arithmetic as the reader options
  * (`loadTable(ident, version)` / `(ident, timestampMicros)`).
  *
  * Scale: every catalog operation is O(|files|) driver metadata work —
  * directory probes and manifest reads; nothing lists data files. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  private def spark: SparkSession = SparkSession.active
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).map(_.trim).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog '$name' needs a warehouse root: set " +
          s"spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  // path mapping ------------------------------------------------------
  private def checkPart(p: String): String = {
    require(p.nonEmpty && !p.contains("/") && !p.contains("\\") &&
      p != "." && p != ".." && !p.startsWith("_") && !p.startsWith("."),
      s"illegal graft identifier part '$p'")
    p
  }
  private def dirOf(ns: Seq[String]): Path =
    ns.map(checkPart).foldLeft(new Path(root))(new Path(_, _))
  private def dirOf(ident: Identifier): Path =
    new Path(dirOf(ident.namespace.toIndexedSeq), checkPart(ident.name))
  private def isTable(dir: Path): Boolean =
    VersionedTable.headVersion(spark, dir.toString).nonEmpty

  // tables ------------------------------------------------------------
  override def tableExists(ident: Identifier): Boolean =
    isTable(dirOf(ident))

  // rename crash recovery -----------------------------------------------
  // renameTable records its intent (the OLD qualified root) in a marker
  // inside the table's _manifests dir BEFORE the directory move; the
  // marker is deleted only after the manifest rebase completes. A crash
  // anywhere in between leaves the marker behind, and the next load
  // re-runs the (idempotent, temp-file-swapped) rebase to repair the
  // table — advisor finding, round 8.
  private def renameMarker(dir: Path): Path =
    new Path(new Path(dir, "_manifests"), "_rename-from")

  private def recoverRename(dir: Path): Unit = {
    val marker = renameMarker(dir)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val oldRoot =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (oldRoot.nonEmpty)
        VersionedTable.rebaseManifests(spark, dir.toString, oldRoot)
      fs.delete(marker, false)
    }
  }

  private def snapTable(ident: Identifier, version: Option[Long]): Table = {
    val dir = dirOf(ident)
    recoverRename(dir)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val snap = VersionedTable.snapshot(spark, dir.toString, version)
    // acceptAnySchema = false: catalog tables use Spark's standard
    // insert resolution so SQL UPDATE/DELETE/MERGE rewrites fire (see
    // GraftLakeTable scaladoc)
    new GraftLakeTable(snap.copy(
      schema = GraftLakeSource.relaxed(snap.schema)),
      acceptAnySchema = false)
  }

  override def loadTable(ident: Identifier): Table = snapTable(ident, None)

  /** `VERSION AS OF <v>` — the literal commit version. */
  override def loadTable(ident: Identifier, version: String): Table =
    snapTable(ident, Some(
      try version.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft VERSION AS OF wants a commit version number, got " +
            s"'$version'")
      }))

  /** `TIMESTAMP AS OF <ts>` — Spark hands micros since epoch; resolve
    * through the same latest-commit-at-or-before rule as the
    * `timestampAsOf` reader option. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    snapTable(ident, Some(VersionedTable.versionAsOfTime(spark,
      dir.toString, Math.floorDiv(timestampMicros, 1000L))))
  }

  /** Catalog-reserved / engine-managed property keys that must not be
    * persisted as user table properties. */
  private val reservedProps: Set[String] = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER,
    TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // CLUSTER BY (round 10): the DECLARATIVE face of the lake's layout
    // machinery. The clustering spec is stored as a table property;
    // `CALL optimize_zorder` defaults its columns from it and catalog
    // INSERTs range-cluster their staged files on it (tight manifest
    // min/max -> stats pruning on the cluster keys — the lake's native
    // analogue of partitioning, which stays rejected: a directory
    // layout would bypass the manifest's stats index).
    val clustering: Option[Seq[String]] = partitions.toSeq match {
      case Nil => None
      case Seq(org.apache.spark.sql.connector.expressions
          .ClusterByTransform(cols)) =>
        val names = cols.map(_.fieldNames.mkString("."))
        names.foreach { n =>
          require(schema.fieldNames.contains(n),
            s"CLUSTER BY column '$n' is not a top-level table column")
          require(VersionedTable.statEligible(schema(n).dataType),
            s"CLUSTER BY column '$n' (${schema(n).dataType.simpleString}" +
              ") carries no manifest stats; clustering on it cannot " +
              "prune reads")
        }
        Some(names)
      case other =>
        throw new UnsupportedOperationException(
          "graft tables manage their own layout (clustered/z-ordered " +
            "commits, manifest stats); PARTITIONED BY is not supported " +
            s"— use CLUSTER BY (got: ${other.mkString(", ")})")
    }
    val dir = dirOf(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    val parentNs = ident.namespace.toIndexedSeq
    if (parentNs.nonEmpty && !namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    // persist declared TBLPROPERTIES (minus engine-reserved keys) and
    // the clustering spec atomically with v0
    val userProps = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toSeq.filterNot { case (k, _) =>
        reservedProps.contains(k) || k.startsWith("option.") }
    }
    val props = userProps ++ clustering.map(cs =>
      VersionedTable.ClusteringProp -> cs.mkString(","))
    // v0 = the declared schema, zero files: a real, readable snapshot
    VersionedTable.write(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
      dir.toString, props)
    loadTable(ident)
  }

  /** Minimal `ALTER TABLE` (round 9): the changes the lake already
    * knows how to make transactionally —
    *
    *  - `ADD COLUMN(S)` → [[VersionedTable.addColumns]], a
    *    metadata-only schema-evolution commit (nullable, top-level,
    *    default position only — the shapes parquet null-fill supports
    *    without rewriting data);
    *  - `DROP COLUMN` → [[VersionedTable.dropColumns]], the mirror
    *    (reads stop projecting the column; files untouched, old
    *    versions keep the full schema);
    *  - `SET TBLPROPERTIES ('constraint.<name>' = '<expr>')` /
    *    `UNSET TBLPROPERTIES ('constraint.<name>')` → CHECK-constraint
    *    add/drop (Delta's own convention for surfacing constraints as
    *    table properties).
    *
    * Everything else (renames, drops, type changes) throws: those
    * require data rewrites or break time travel, and the reference has
    * no DDL surface at all (`preSQL` passthrough only,
    * `/root/reference/database/dbms/writer/job.go:64-77`). */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = dirOf(ident)
    recoverRename(dir)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val root = dir.toString
    // ALL AddColumn changes of the statement go through ONE
    // VersionedTable.addColumns commit: `ADD COLUMNS (a, b)` is atomic
    // — a validation failure on b leaves a uncommitted too (advisor
    // finding, round 9; per-change commits left the table half-evolved
    // with Spark reporting the statement failed).
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    if (adds.nonEmpty) {
      adds.foreach { add =>
        require(add.fieldNames.length == 1,
          "graft ALTER TABLE supports top-level ADD COLUMN only " +
            s"(got nested ${add.fieldNames.mkString(".")})")
        require(add.position == null,
          "graft ALTER TABLE appends new columns at the end; " +
            "FIRST/AFTER positions are not supported")
        require(add.isNullable,
          "graft ALTER TABLE: new columns must be nullable (existing " +
            "rows carry no value)")
      }
      VersionedTable.addColumns(spark, root, adds.map(add =>
        org.apache.spark.sql.types.StructField(add.fieldNames()(0),
          add.dataType, nullable = true,
          metadata = org.apache.spark.sql.types.Metadata.empty)))
    }
    // likewise one commit for all non-constraint SET/UNSET properties
    val setProps = changes.collect {
      case s: TableChange.SetProperty
        if !s.property.startsWith("constraint.") => s.property -> s.value }
    val unsetProps = changes.collect {
      case r: TableChange.RemoveProperty
        if !r.property.startsWith("constraint.") => r.property }
    setProps.foreach { case (k, _) => require(
      k != VersionedTable.ClusteringProp,
      s"${VersionedTable.ClusteringProp} is set by CREATE TABLE ... " +
        "CLUSTER BY; altering it via TBLPROPERTIES would silently " +
        "re-route future inserts") }
    if (setProps.nonEmpty)
      VersionedTable.setProperties(spark, root, setProps)
    if (unsetProps.nonEmpty)
      VersionedTable.unsetProperties(spark, root, unsetProps)
    changes.filterNot(c => c.isInstanceOf[TableChange.AddColumn] ||
      (c match {
        case s: TableChange.SetProperty =>
          !s.property.startsWith("constraint.")
        case r: TableChange.RemoveProperty =>
          !r.property.startsWith("constraint.")
        case _ => false
      })).foreach {
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft ALTER TABLE supports top-level DROP COLUMN only " +
            s"(got nested ${del.fieldNames.mkString(".")})")
        val exists = VersionedTable.snapshot(spark, root).schema
          .fieldNames.exists(_.equalsIgnoreCase(del.fieldNames()(0)))
        if (exists)
          VersionedTable.dropColumns(spark, root,
            Seq(del.fieldNames()(0)))
        else if (del.ifExists == null || !del.ifExists.booleanValue())
          throw new IllegalArgumentException(
            s"no such column: ${del.fieldNames()(0)}")
      case set: TableChange.SetProperty
          if set.property.startsWith("constraint.") =>
        VersionedTable.addConstraint(spark, root,
          set.property.stripPrefix("constraint."), set.value)
      case rm: TableChange.RemoveProperty
          if rm.property.startsWith("constraint.") =>
        VersionedTable.dropConstraint(spark, root,
          rm.property.stripPrefix("constraint."))
      // ALTER COLUMN TYPE (round 10): metadata-only WIDENING — Spark
      // 4's parquet readers upcast the narrow files at scan time
      // (byte/short/int -> int/long/double, float -> double); anything
      // else refuses with the rewrite guidance
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          "graft ALTER TABLE supports top-level ALTER COLUMN TYPE " +
            s"only (got nested ${ut.fieldNames.mkString(".")})")
        VersionedTable.widenColumnType(spark, root, ut.fieldNames()(0),
          ut.newDataType)
      // RENAME COLUMN (round 10): metadata-only — the column-mapping
      // layer freezes the physical name, so old files keep resolving
      // and the logical name moves (see VersionedTable.renameColumn)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "graft ALTER TABLE supports top-level RENAME COLUMN only " +
            s"(got nested ${rn.fieldNames.mkString(".")})")
        VersionedTable.renameColumn(spark, root, rn.fieldNames()(0),
          rn.newName)
      case other =>
        throw new UnsupportedOperationException(
          s"graft ALTER TABLE supports ADD COLUMN, DROP COLUMN and " +
            s"SET/UNSET TBLPROPERTIES only; got " +
            other.getClass.getSimpleName)
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTable(dir)) false
    else fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent)
    recoverRename(from) // finish any earlier interrupted move first
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val to = dirOf(newIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    if (newIdent.namespace.nonEmpty &&
        !namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    // record intent BEFORE the move: if anything below crashes, the
    // marker travels with the directory and the next load repairs the
    // rebase (recoverRename). Marker content = the old qualified root
    // the manifests' file paths still point at.
    val oldQ = fs.makeQualified(from).toString
    val os = fs.create(renameMarker(from), true)
    try os.write(oldQ.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    require(fs.rename(from, to),
      s"rename failed: $from -> $to (same filesystem required)")
    // manifests reference data files by qualified absolute path: rebase
    // them onto the new location (metadata half of the move)
    VersionedTable.rebaseManifests(spark, to.toString, oldQ)
    fs.delete(renameMarker(to), false)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace.toIndexedSeq)
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") &&
        !p.getName.startsWith(".") && isTable(p))
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  // procedures --------------------------------------------------------
  /** Dotted identifier (as a procedure's `table` argument) -> table
    * directory under the warehouse root; fails loud on a non-table. */
  private[v2] def resolveTableDir(dotted: String): String = {
    val parts = dotted.split('.').toIndexedSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table identifier '$dotted'")
    val dir = new Path(dirOf(parts.init), checkPart(parts.last))
    require(isTable(dir), s"no graft table '$dotted' under $root")
    dir.toString
  }

  /** Clone-target resolution: same dotted mapping as
    * [[resolveTableDir]] but the directory must NOT already be a table
    * (the clone creates it) and the parent namespace must exist. */
  private[v2] def stageCloneTarget(dotted: String): String = {
    val parts = dotted.split('.').toIndexedSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table identifier '$dotted'")
    val dir = new Path(dirOf(parts.init), checkPart(parts.last))
    require(!isTable(dir), s"clone target '$dotted' already exists")
    if (parts.init.nonEmpty)
      require(namespaceExists(parts.init.toArray),
        s"no namespace ${parts.init.mkString(".")} for clone target")
    dir.toString
  }

  private lazy val procedures = GraftProcedures.all(this)

  /** `CALL <catalog>.system.<proc>(...)` — the lake's maintenance
    * surface in pure SQL (see [[GraftProcedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"graft procedures live in the 'system' namespace " +
        s"(CALL $catalogName.system.<proc>); got " +
        ident.namespace.mkString("."))
    procedures.getOrElse(ident.name.toLowerCase(java.util.Locale.ROOT),
      throw new IllegalArgumentException(
        s"unknown procedure '${ident.name}'; have: " +
          procedures.keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      procedures.keys.toArray.sorted
        .map(n => Identifier.of(Array("system"), n))
    else Array.empty

  // namespaces --------------------------------------------------------
  private def isNamespaceDir(p: Path): Boolean =
    fs.getFileStatus(p).isDirectory && !isTable(p)

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = dirOf(namespace.toIndexedSeq)
    fs.exists(dir) && isNamespaceDir(dir)
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(
      namespace: Array[String]): Array[Array[String]] = {
    val dir = dirOf(namespace.toIndexedSeq)
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") &&
        !p.getName.startsWith(".") && !isTable(p))
      .map(p => namespace :+ p.getName)
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    val m = new util.HashMap[String, String]()
    m.put(SupportsNamespaces.PROP_LOCATION,
      dirOf(namespace.toIndexedSeq).toString)
    m
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    require(fs.mkdirs(dirOf(namespace.toIndexedSeq)),
      s"mkdirs failed for namespace ${namespace.mkString(".")}")
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "ALTER NAMESPACE is not supported by the graft catalog")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) false
    else {
      val dir = dirOf(namespace.toIndexedSeq)
      if (!cascade && fs.listStatus(dir).nonEmpty)
        throw new NonEmptyNamespaceException(namespace)
      fs.delete(dir, true)
    }
  }
}
