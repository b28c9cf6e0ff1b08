package graft.sinks

import java.nio.charset.StandardCharsets
import java.util.UUID

import graft.operators.Pin
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.graft.{ManifestFileIndex, WriteBridge, WrittenFile}
import org.apache.spark.sql.functions.{abs, array, coalesce, col, count, explode, expr, isnan, lit, max => smax, min => smin, struct, sum, when}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Minimal versioned parquet table: an immutable commit log of manifest
  * files over immutable data files — the transactional-lake core
  * (snapshot isolation, time travel, optimistic concurrency, vacuum)
  * in its smallest honest form. This is what upgrades the engine's
  * "transactional scan" row (SURVEY §2 S4) from "parquet dirs are
  * naturally consistent" to an actual isolation guarantee:
  *
  *  - data files are write-once under `<root>/data/` with UUID names —
  *    no writer ever mutates or deletes a live file;
  *  - a commit CLAIMS `<root>/_manifests/vN.json.claim` with a TRULY
  *    atomic exclusive create (NIO O_CREAT|O_EXCL locally — Hadoop's
  *    local `create(overwrite = false)` is check-then-create and two
  *    racers can both pass it; server-side exclusive create elsewhere;
  *    NOT a rename, because Hadoop's LocalFileSystem silently
  *    overwrites on rename-to-existing). Only the claim winner writes
  *    `vN.json`, and its commit counts only after a token-stamped
  *    read-back returns its own bytes. Losers recompute against the
  *    new head and retry. (On filesystems without atomic exclusive
  *    create — some object stores — plug a conditional-put commit, as
  *    every log-structured lake format requires.)
  *  - a manifest is VALID only when terminated (`#end` last line) and
  *    readable (torn racing writes surface as checksum/EOF errors and
  *    classify as invalid): a writer that crashes mid-write leaves a
  *    dead claim that readers ignore and the next committer
  *    garbage-collects after a grace window no live writer can
  *    straddle;
  *  - the manifest carries the snapshot's schema (header line), so an
  *    EMPTY committed snapshot still reads back with its own schema;
  *  - readers resolve a manifest once and read exactly its file list:
  *    a snapshot taken before a concurrent commit keeps reading the old
  *    files (never overwritten) — repeatable reads, zero coordination;
  *  - `vacuum` deletes data files referenced by NO retained manifest
  *    AND older than a grace window — the grace protects files a
  *    concurrent commit has staged but not yet claimed (retention is
  *    the operator's contract, as in any lake format).
  */
object VersionedTable {

  private val Terminator = "#end"
  private val BatchMarker = "#batch:"
  private val WriterMarker = "#writer:"
  private val ConstraintMarker = "#constraint:"
  private val PropertyMarker = "#property:"
  private val OpMarker = "#op:"
  private val ChangesMarker = "#changes:"
  private def isMarkerLine(l: String): Boolean =
    l.startsWith(BatchMarker) || l.startsWith(WriterMarker) ||
      l.startsWith(ConstraintMarker) || l.startsWith(PropertyMarker) ||
      l.startsWith(OpMarker) || l.startsWith(ChangesMarker)
  // an UNTERMINATED (or torn) manifest younger than this is presumed to
  // be a live writer mid-write (create -> write -> close is
  // milliseconds), not a crashed writer's junk — recovery must not
  // delete it yet. Sized WELL below the ~10 s of cumulative backoff in
  // a 30-attempt commit loop, so a claim blocked by junk always
  // survives retrying until recovery may clear it.
  private val CrashedManifestGraceMs = 5000L

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_manifests")
  private def dataDir(root: String) = new Path(root, "data")
  private def manifestPath(root: String, v: Long) =
    new Path(manifestDir(root), f"v$v%012d.json")

  /** Per-file column statistics carried in the manifest: canonical-string
    * min/max (absent when the file's column is all-null, the type is
    * non-atomic, or the values are NaN/Inf) + null presence + an optional
    * bloom filter over the file's values (only for columns opted in via
    * `spark.graft.lake.bloom.cols` — equality/IN point lookups on
    * high-cardinality unclustered columns, where overlapping min/max
    * ranges never prune, skip files through it). */
  private[graft] final case class ColStat(min: Option[String],
      max: Option[String], hasNulls: Boolean,
      bloom: Option[Array[Byte]] = None,
      rows: Option[Long] = None)
  private[graft] type FileStats = Map[String, ColStat]

  /** A data file's length and modification time, recorded on its
    * manifest line so that scans, `history` and `compact` plan from the
    * manifest without a stat. A line written before these fields existed
    * has none, and its file is stat'ed once when read. */
  private[graft] final case class FileMeta(length: Long, mtime: Long)

  private final case class Manifest(schema: StructType, files: Seq[String],
      batchId: Option[Long], stats: Map[String, FileStats],
      meta: Map[String, FileMeta],
      constraints: Seq[(String, String)] = Nil,
      properties: Seq[(String, String)] = Nil,
      opInfo: Option[String] = None,
      changesFile: Option[String] = None)

  private def statsToJson(s: FileStats): String =
    JsonMethods.compact(JsonMethods.render(JObject(s.toList.sortBy(_._1)
      .map { case (c, st) => c -> JObject(
        st.min.map(v => "m" -> (JString(v): JValue)).toList ++
        st.max.map(v => "M" -> (JString(v): JValue)).toList ++
        List("n" -> (JBool(st.hasNulls): JValue)) ++
        st.bloom.map(b => "b" -> (JString(
          java.util.Base64.getEncoder.encodeToString(b)): JValue)).toList ++
        st.rows.map(n => "r" -> (JInt(n): JValue)).toList) })))

  private def statsFromJson(j: String): FileStats =
    JsonMethods.parse(j) match {
      case JObject(cols) => cols.map { case (c, v) =>
        val f = v.asInstanceOf[JObject].obj.toMap
        c -> ColStat(
          f.get("m").collect { case JString(s) => s },
          f.get("M").collect { case JString(s) => s },
          f.get("n").collect { case JBool(b) => b }.getOrElse(true),
          f.get("b").collect { case JString(s) =>
            java.util.Base64.getDecoder.decode(s) },
          f.get("r").collect { case JInt(n) => n.toLong })
      }.toMap
      case _ => Map.empty
    }

  private def readManifestRaw(f: FileSystem, p: Path): Option[Manifest] =
    try readManifestBytes(f, p)
    catch {
      // a manifest that cannot be READ is as invalid as an unterminated
      // one: local create(overwrite=false) has a check-then-create
      // window, so two racing claimers can interleave writes and leave
      // bytes that mismatch the checksum sidecar (both their post-close
      // verifications fail, so neither reports success); a torn or
      // vanished file mid-read is the same crashed-claim shape. All are
      // recovery's job (delete after the grace window), not a reader
      // crash.
      case _: java.io.FileNotFoundException => None
      case _: org.apache.hadoop.fs.ChecksumException => None
      case _: java.io.EOFException => None
    }

  private def readManifestBytes(f: FileSystem, p: Path): Option[Manifest] = {
    val in = f.open(p)
    try {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      in.readFully(bytes)
      val lines = new String(bytes, StandardCharsets.UTF_8).split("\n")
        .toSeq.filter(_.nonEmpty)
      if (lines.isEmpty || lines.last != Terminator) None // unterminated
      else {
        val body = lines.tail.dropRight(1)
        // a file line is `path[\tstats][\tlength\tmtime]`, the stats
        // field empty when a file with a length has none (see
        // [[commitRetrying]])
        val fileLines = body.filterNot(isMarkerLine)
          .map { l => l.split("\t", -1) match {
            case Array(path, json, len, mtime) => (path,
              Some(FileMeta(len.toLong, mtime.toLong)),
              Option(json).filter(_.nonEmpty))
            case Array(path, json) => (path, None, Some(json))
            case Array(path) => (path, None, None)
          } }
        Some(Manifest(
          DataType.fromJson(lines.head).asInstanceOf[StructType],
          fileLines.map(_._1),
          body.collectFirst { case l if l.startsWith(BatchMarker) =>
            l.stripPrefix(BatchMarker).toLong },
          fileLines.collect { case (p0, _, Some(j)) =>
            p0 -> statsFromJson(j) }.toMap,
          fileLines.collect { case (p0, Some(fm), _) => p0 -> fm }.toMap,
          body.collect { case l if l.startsWith(ConstraintMarker) =>
            l.stripPrefix(ConstraintMarker).split("\t", 2) match {
              case Array(n, e) => n -> e
            } },
          body.collect { case l if l.startsWith(PropertyMarker) =>
            l.stripPrefix(PropertyMarker).split("\t", 2) match {
              case Array(n, v0) => n -> v0
            } },
          body.collectFirst { case l if l.startsWith(OpMarker) =>
            l.stripPrefix(OpMarker) },
          body.collectFirst { case l if l.startsWith(ChangesMarker) =>
            l.stripPrefix(ChangesMarker) }))
      }
    } finally in.close()
  }

  /** The `v<N>.json` entries of `_manifests/` as (N, status), ascending,
    * valid or not (claims and rebase temps are not entries). One
    * listing; no manifest is opened. */
  private def listed(f: FileSystem, root: String): Seq[(Long, FileStatus)] =
    (try f.listStatus(manifestDir(root)).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("v") && n.endsWith(".json")
      }
      .map(st => st.getPath.getName.stripPrefix("v").stripSuffix(".json")
        .toLong -> st)
      .sortBy(_._1)

  /** Every committed (valid) manifest, ascending by version — for the
    * callers that need the whole log, not just the head. */
  private def manifests(f: FileSystem, root: String): Seq[(Long, Manifest)] =
    listed(f, root).flatMap { case (v, st) =>
      readManifestRaw(f, st.getPath).map(v -> _) }

  /** All committed (valid) versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    manifests(fs(spark, root), root).map(_._1)

  /** The head as (version, manifest): one listing, then manifests read
    * newest-first until one is valid — by construction the manifest of
    * `versions(...).max`, without opening the older ones. Committed
    * manifests are immutable, so an operation resolves the head once
    * and hands it along. None on a table with no committed version. */
  private def resolveHead(f: FileSystem, root: String)
      : Option[(Long, Manifest)] =
    listed(f, root).reverseIterator.flatMap { case (v, st) =>
      readManifestRaw(f, st.getPath).map(v -> _) }.nextOption()

  /** The head version, or None when nothing is committed under `root`. */
  private[graft] def headVersion(spark: SparkSession, root: String)
      : Option[Long] =
    resolveHead(fs(spark, root), root).map(_._1)

  /** Version `v`'s manifest; only `vN.json` is opened. A missing or
    * invalid manifest is not a version — the rule [[versions]] applies. */
  private def manifestAt(f: FileSystem, root: String, v: Long)
      : Option[Manifest] =
    readManifestRaw(f, manifestPath(root, v))

  private def noCommit(root: String) =
    new IllegalArgumentException(s"no committed version under $root")

  /** `version` with its manifest, or the head when `version` is None.
    * Fails naming the version when it is not committed, and with "no
    * committed version" when nothing is. */
  private def resolve(f: FileSystem, root: String,
      version: Option[Long] = None): (Long, Manifest) = version match {
    case None => resolveHead(f, root).getOrElse(throw noCommit(root))
    case Some(v) => manifestAt(f, root, v).map(v -> _).getOrElse(
      throw (if (resolveHead(f, root).isEmpty) noCommit(root)
      else new IllegalArgumentException(
        s"version $v is not committed under $root")))
  }

  private def filesOf(head: Option[Manifest]): Seq[String] =
    head.fold(Seq.empty[String])(_.files)

  /** Rewrite every committed manifest's file references that point
    * under `oldRoot` to the same relative location under `newRoot` —
    * the metadata half of a table move (the caller renames the
    * directory FIRST, then calls this on the new location). Manifests
    * are line-oriented (`schema \n path\tstats... \n markers \n
    * terminator`), so the rewrite is a per-file-line prefix swap that
    * leaves schema, stats, markers and terminator byte-identical.
    * Shallow-clone manifests referencing files OUTSIDE oldRoot are
    * untouched; clones in OTHER roots referencing THIS table's files
    * break, the documented shallow-clone contract (same as Delta).
    * Single-writer assumption: a move is a catalog DDL, not a
    * concurrent-commit path.
    *
    * Crash safety (advisor finding, round 8): each manifest is
    * rewritten as a COMPLETE temp file (`vN.json.rebase`) first, then
    * swapped into place — never an in-place truncate-and-write, which a
    * crash would leave TORN (a torn manifest classifies as invalid and
    * the version silently disappears). The swap's delete+rename pair is
    * not atomic on every FS, so a recovery pass runs first: a VALID
    * orphaned temp finishes its swap (its content is always the fully
    * rebased manifest), an invalid one is discarded (the original is
    * still in place, untouched). The rewrite itself is prefix-keyed and
    * idempotent — re-invoking after ANY crash point repairs the table,
    * which is what [[graft.sources.v2.GraftCatalog]]'s rename-intent
    * marker does on next load. */
  private[graft] def rebaseManifests(spark: SparkSession,
      newRoot: String, oldRoot: String): Unit = {
    val f = fs(spark, newRoot)
    val mdir = manifestDir(newRoot)
    if (f.exists(mdir)) f.listStatus(mdir).map(_.getPath)
      .filter(_.getName.endsWith(".json.rebase")).foreach { tmp =>
        val target = new Path(mdir, tmp.getName.stripSuffix(".rebase"))
        if (readManifestRaw(f, tmp).isDefined) {
          if (f.exists(target)) f.delete(target, false)
          require(f.rename(tmp, target),
            s"rebase recovery rename failed: $tmp -> $target")
        } else f.delete(tmp, false)
      }
    val oldQ = f.makeQualified(new Path(oldRoot)).toString + "/"
    val newQ = f.makeQualified(new Path(newRoot)).toString + "/"
    versions(spark, newRoot).foreach { v =>
      val p = manifestPath(newRoot, v)
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      val in = f.open(p)
      try in.readFully(bytes) finally in.close()
      val lines = new String(bytes, StandardCharsets.UTF_8).split("\n", -1)
      val out = lines.zipWithIndex.map { case (l, i) =>
        val isFileLine = i > 0 && l.nonEmpty && l != Terminator &&
          !isMarkerLine(l)
        if (isFileLine && l.startsWith(oldQ))
          newQ + l.stripPrefix(oldQ)
        else l
      }.mkString("\n")
      if (out != new String(bytes, StandardCharsets.UTF_8)) {
        val tmp = new Path(mdir, p.getName + ".rebase")
        val os = f.create(tmp, true)
        try os.write(out.getBytes(StandardCharsets.UTF_8))
        finally os.close()
        f.delete(p, false)
        require(f.rename(tmp, p), s"rebase rename failed: $tmp -> $p")
      }
    }
  }

  // ---- column mapping (round 10) ------------------------------------
  // RENAME COLUMN without rewriting data needs a level of indirection:
  // each field's PHYSICAL name (what the parquet files store, what the
  // manifest's per-file stats are keyed by) is frozen in the field's
  // metadata the first time its logical name moves away from it —
  // Delta's column-mapping 'name mode' shape. Identity (no metadata
  // entry) is the common case and costs nothing anywhere: every helper
  // below short-circuits when no field is mapped.

  /** StructField metadata key carrying the physical column name. */
  private[graft] val PhysicalKey = "graft.physical"

  private[graft] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** The schema as stored in data files: logical names replaced by
    * physical ones (top-level only — renames are top-level only). */
  private[graft] def physicalSchema(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physicalName(f))))

  private[graft] def hasMapping(s: StructType): Boolean =
    s.fields.exists(f => physicalName(f) != f.name)

  /** Read `files` under the table schema, serving LOGICAL names: the
    * parquet scan resolves by PHYSICAL name (so files written before a
    * rename keep their data) and the frame renames positionally back.
    * The scan is planned from the manifest's file list (`meta` holds the
    * lengths and mtimes its lines record; see [[statuses]]) — no
    * data-source lookup, glob check or listing. The single read seam
    * every library path goes through. */
  private[graft] def readFiles(spark: SparkSession, schema: StructType,
      files: Seq[String], meta: Map[String, FileMeta]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else {
      val base = ManifestFileIndex.readParquet(spark, physicalSchema(schema),
        statuses(spark, files, meta))
      if (!hasMapping(schema)) base
      else base.toDF(schema.fieldNames.toIndexedSeq: _*)
    }

  /** `files` as `FileStatus`es built from their manifest lines' length
    * and mtime; a file whose line predates those fields (a manifest from
    * an older writer) is stat'ed, once. */
  private[graft] def statuses(spark: SparkSession, files: Seq[String],
      meta: Map[String, FileMeta]): Seq[FileStatus] =
    files.map { p =>
      val path = new Path(p)
      meta.get(p).fold(path.getFileSystem(
          spark.sparkContext.hadoopConfiguration).getFileStatus(path))(m =>
        new FileStatus(m.length, false, 1, DataBlockSize, m.mtime, path))
    }

  /** The block size a local-file stat reports (`fs.local.block.size`'s
    * default); nothing in a parquet scan's planning reads it. */
  private val DataBlockSize = 32L << 20

  /** Rename a top-level column as a METADATA-ONLY commit: the logical
    * name moves, the physical name freezes at its current value, data
    * files are untouched, and old versions time-travel under their own
    * manifest's names. Refused when the new name collides (case-
    * insensitively) with a live logical name or when a CHECK
    * constraint references the old name (same rationale as
    * [[dropColumns]]). */
  def renameColumn(spark: SparkSession, root: String, from: String,
      to: String): Long = {
    require(to.nonEmpty && !to.exists(c => c == '\t' || c == '\n'),
      s"bad column name '$to'")
    var schema: StructType = null
    // a CLUSTER BY spec naming the renamed column must follow it in
    // the SAME commit, or clustered inserts / zorder defaults would
    // silently stop matching (propertiesOverride is by-name: the value
    // set inside the closure below is what the manifest write sees)
    var propsOverride: Option[Seq[(String, String)]] = None
    commitRetrying(spark, root, schema,
      propertiesOverride = propsOverride) { h =>
      val m = h.getOrElse(throw noCommit(root))
      val head = m.schema
      require(head.fieldNames.exists(_.equalsIgnoreCase(from)),
        s"renameColumn: no such column '$from'")
      require(!head.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"renameColumn: column '$to' already exists")
      m.constraints.foreach { case (cn, ce) =>
        val refs = scala.util.Try(
          spark.sessionState.sqlParser.parseExpression(ce).collect {
            case ua: analysis.UnresolvedAttribute => ua.nameParts.head
          }).getOrElse(Seq.empty)
        require(!refs.exists(_.equalsIgnoreCase(from)),
          s"renameColumn: '$from' is referenced by CHECK constraint " +
            s"'$cn' ($ce); drop the constraint first")
      }
      schema = StructType(head.fields.map { fd =>
        if (fd.name.equalsIgnoreCase(from)) {
          val phys = physicalName(fd)
          fd.copy(name = to, metadata = new MetadataBuilder()
            .withMetadata(fd.metadata).putString(PhysicalKey, phys)
            .build())
        } else fd
      })
      propsOverride = Some(m.properties.map {
        case (k, v) if k == ClusteringProp || k == ChangeFeedKeysProp =>
          k -> v.split(",").map(_.trim).map(c =>
            if (c.equalsIgnoreCase(from)) to else c).mkString(",")
        case other => other
      })
      m.files // files unchanged: pure metadata commit
    }
  }

  /** The metadata-only TYPE WIDENINGS Spark 4's parquet readers
    * promote natively at scan time (verified: the vectorized reader
    * upcasts these per file, so old narrow files and new wide files
    * coexist under one read schema). Decimal precision changes are NOT
    * here — the reader rejects them — and narrowing never is. */
  private val widenings: Map[DataType, Set[DataType]] = Map(
    ByteType -> Set(ShortType, IntegerType, LongType, DoubleType),
    ShortType -> Set(IntegerType, LongType, DoubleType),
    IntegerType -> Set(LongType, DoubleType),
    FloatType -> Set(DoubleType))

  /** `ALTER TABLE ... ALTER COLUMN <c> TYPE <wider>`: a metadata-only
    * commit — data files keep their narrow physical type and the scan
    * widens per file (see [[widenings]]); new writes store the wide
    * type. Manifest min/max stats stay sound (canonical strings
    * compare through exact BigDecimal regardless of width). Columns
    * carrying per-file BLOOM filters refuse: the bloom hashed the
    * NARROW Spark type, and probing it with wide literals would
    * produce false negatives — wrong pruning (drop the bloom opt-in
    * and compact first). */
  def widenColumnType(spark: SparkSession, root: String, name: String,
      newType: DataType): Long = {
    var schema: StructType = null
    commitRetrying(spark, root, schema) { h =>
      val m = h.getOrElse(throw noCommit(root))
      val fd = m.schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"widenColumnType: no such column '$name'"))
      require(widenings.get(fd.dataType).exists(_.contains(newType)),
        s"widenColumnType: ${fd.dataType.simpleString} -> " +
          s"${newType.simpleString} is not a supported metadata-only " +
          "widening (supported: byte/short/int -> int/long/double, " +
          "float -> double); other changes need a table rewrite")
      val phys = physicalName(fd)
      require(!m.stats.values.exists(st =>
          st.get(phys).exists(_.bloom.nonEmpty)),
        s"widenColumnType: column '$name' carries per-file bloom " +
          "filters hashed over the narrow type — widening would make " +
          "bloom pruning falsely negative. Remove it from " +
          "spark.graft.lake.bloom.cols and rewrite/compact first")
      schema = StructType(m.schema.fields.map(x =>
        if (x.name.equalsIgnoreCase(name)) x.copy(dataType = newType)
        else x))
      m.files // files unchanged: pure metadata commit
    }
  }

  /** Snapshot read: pin the (latest or requested) manifest's exact file
    * list. Concurrent commits after this call do not change what this
    * DataFrame reads — its files are immutable. An empty snapshot reads
    * back with the schema persisted in its manifest. */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val (_, m) = resolve(fs(spark, root), root, version)
    readFiles(spark, m.schema, m.files, m.meta)
  }

  /** SHALLOW CLONE (Delta-style): commit a new table at `dstRoot`
    * whose first manifest references the SOURCE snapshot's data files
    * — zero data copied, O(|files|) metadata work, so branching a
    * petabyte table is instant. The clone is immediately a first-class
    * table: reads/time-travel work, per-file stats carry over (so
    * readWhere/statsAgg skip on the clone exactly as on the source),
    * and writes are copy-on-write — an upsert/delete/compact on the
    * clone stages ITS OWN files under the clone's data directory and
    * merely drops source references from the clone's manifest.
    *
    * Isolation: mutating either table never touches the other. The
    * clone's `vacuum` can never delete source data (vacuum only lists
    * its OWN data directory; foreign references are invisible to it).
    * The one caveat — same as every shallow-clone design — is that
    * vacuuming the SOURCE doesn't know about clones: pin the cloned
    * version with a [[tag]] on the source, or deep-copy via a plain
    * write, if the source's retention may outrun the clone. */
  def cloneShallow(spark: SparkSession, srcRoot: String, dstRoot: String,
      asOf: Option[Long] = None): Long = {
    val (_, m) = resolve(fs(spark, srcRoot), srcRoot, asOf)
    // the source's per-file stats and lengths ride the commit: it
    // stages no file
    commitRetrying(spark, dstRoot, m.schema,
      staged = Staged(stats = m.stats, meta = m.meta))(_ => m.files)
  }

  /** METADATA-ONLY aggregation: `COUNT(*)` plus `MIN`/`MAX` of the
    * requested columns answered from the manifest's per-file stats —
    * O(|files|) driver folding, ZERO data read when every live file
    * carries stats (the normal case: stats are collected at commit and
    * re-collected on every rewrite, so they are exact for the head and
    * for any time-travel version). The 100 TB point: `SELECT COUNT(*),
    * MIN(k), MAX(k)` on a petabyte table becomes a manifest read.
    * Files committed with `lake.stats.enabled=false` (or from manifests
    * predating row counts) fall back to ONE bounded parquet aggregation
    * over exactly those files, so the result is EXACT either way —
    * never an estimate.
    *
    * Output: one row `(cnt, min_<c>, max_<c>, ...)` with each bound in
    * the column's own type — the same row the full-scan aggregate
    * produces (min/max fold per-file bounds; string order is UTF-8
    * binary, matching Spark's). */
  def statsAgg(spark: SparkSession, root: String, cols: Seq[String],
      version: Option[Long] = None): DataFrame = {
    val (_, m) = resolve(fs(spark, root), root, version)
    val fieldOf = m.schema.fields.map(fd => fd.name -> fd).toMap
    cols.foreach { c =>
      require(fieldOf.contains(c), s"no column $c in ${m.schema.simpleString}")
      require(statEligible(fieldOf(c).dataType),
        s"column $c (${fieldOf(c).dataType.simpleString}) carries no stats")
    }
    // a file is foldable iff it has a row count and a ColStat for every
    // requested column (all-null files have ColStat(min=None, ...) and
    // still fold: they contribute rows but no bounds). Float/double
    // columns additionally require COMPLETE bounds or a provable
    // all-null: both stats producers OMIT the column when NaN/±Inf are
    // present (no canonical form exists), so a one-sided or
    // bounds-less-but-valued FP ColStat can only be a foreign/legacy
    // manifest — route those files to the exact slow scan rather than
    // fold a bound that may silently drop NaN/Inf (advisor finding,
    // round 8).
    def isFp(dt: DataType): Boolean =
      dt == DoubleType || dt == FloatType
    def fpSound(cs: ColStat): Boolean =
      (cs.min.isDefined && cs.max.isDefined) ||
        (cs.min.isEmpty && cs.max.isEmpty && cs.hasNulls)
    // stats are keyed by PHYSICAL column name (identity unless renamed)
    val physOf = m.schema.fields.map(f => f.name -> physicalName(f)).toMap
    val (fast, slow) = m.files.partition(p => m.stats.get(p).exists(st =>
      st.values.exists(_.rows.nonEmpty) && cols.forall(c =>
        st.get(physOf(c)).exists(cs =>
          !isFp(fieldOf(c).dataType) || fpSound(cs)))))

    // canonical-string bounds -> the column's comparison domain
    // (decimal strings compare as exact BigDecimal; strings as UTF-8
    // bytes, Spark's binary order; float/double as Double under Java's
    // total order — matching Spark's NaN-greatest, -0.0 < 0.0 ordering,
    // so NaN/±Inf from the slow path compare and surface correctly)
    def toCmp(dt: DataType, s: String): Any = dt match {
      case _: StringType => s
      case _: DoubleType | _: FloatType =>
        java.lang.Double.valueOf(s.toDouble)
      case _ => BigDecimal(s)
    }
    def lt(dt: DataType, a: Any, b: Any): Boolean = dt match {
      case _: StringType =>
        org.apache.spark.unsafe.types.UTF8String
          .fromString(a.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(b.asInstanceOf[String])) < 0
      case _: DoubleType | _: FloatType =>
        java.lang.Double.compare(a.asInstanceOf[java.lang.Double],
          b.asInstanceOf[java.lang.Double]) < 0
      case _ => a.asInstanceOf[BigDecimal] < b.asInstanceOf[BigDecimal]
    }
    // fold the fast files on the driver
    var cnt = 0L
    val mins = scala.collection.mutable.Map[String, Any]()
    val maxs = scala.collection.mutable.Map[String, Any]()
    fast.foreach { p =>
      val st = m.stats(p)
      cnt += st.values.flatMap(_.rows).head
      cols.foreach { c =>
        val dt = fieldOf(c).dataType
        st(physOf(c)).min.map(toCmp(dt, _)).foreach { mv =>
          if (!mins.contains(c) || lt(dt, mv, mins(c))) mins(c) = mv }
        st(physOf(c)).max.map(toCmp(dt, _)).foreach { mv =>
          if (!maxs.contains(c) || lt(dt, maxs(c), mv)) maxs(c) = mv }
      }
    }
    // exact fallback for stats-less files: one aggregation over them
    if (slow.nonEmpty) {
      val aggs = count(lit(1)).as("_n") +:
        cols.flatMap(c => Seq(smin(col(c)).as(s"_mn_$c"),
          smax(col(c)).as(s"_mx_$c")))
      val r = readFiles(spark, m.schema, slow, m.meta)
        .agg(aggs.head, aggs.tail: _*).collect().head
      cnt += r.getAs[Long]("_n")
      cols.foreach { c =>
        val dt = fieldOf(c).dataType
        // float/double bypass canonical(): NaN/±Inf extrema must
        // PROPAGATE (SELECT max(d) on a NaN-bearing column is NaN),
        // not vanish into the finite fold (advisor finding, round 8)
        def cmpValue(k: String): Option[Any] = dt match {
          case _: DoubleType => Option(r.getAs[Any](k))
            .map(v => java.lang.Double.valueOf(v.asInstanceOf[Double]))
          case _: FloatType => Option(r.getAs[Any](k))
            .map(v => java.lang.Double.valueOf(
              v.asInstanceOf[Float].toDouble))
          case _ => canonical(r.getAs[Any](k)).map(toCmp(dt, _))
        }
        Seq(s"_mn_$c" -> mins, s"_mx_$c" -> maxs).foreach { case (k, dst) =>
          cmpValue(k).foreach { mv =>
            val better =
              if (!dst.contains(c)) true
              else if (dst eq mins) lt(dt, mv, dst(c))
              else lt(dt, dst(c), mv)
            if (better) dst(c) = mv
          }
        }
      }
    }
    // comparison domain -> the column's external Spark value
    def toValue(dt: DataType, a: Any): Any = dt match {
      case _: StringType => a
      case _: LongType => a.asInstanceOf[BigDecimal].toLongExact
      case _: IntegerType => a.asInstanceOf[BigDecimal].toIntExact
      case _: ShortType => a.asInstanceOf[BigDecimal].toShortExact
      case _: ByteType => a.asInstanceOf[BigDecimal].toByteExact
      case _: DoubleType => a.asInstanceOf[java.lang.Double].doubleValue()
      case _: FloatType => a.asInstanceOf[java.lang.Double].floatValue()
      case d: DecimalType => a.asInstanceOf[BigDecimal]
        .setScale(d.scale).bigDecimal
      case _: TimestampType =>
        val us = a.asInstanceOf[BigDecimal].toLongExact
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L)
      case _: TimestampNTZType =>
        val us = a.asInstanceOf[BigDecimal].toLongExact
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case _: DateType =>
        java.time.LocalDate.ofEpochDay(
          a.asInstanceOf[BigDecimal].toLongExact)
      case other => throw new IllegalArgumentException(
        s"statsAgg cannot realize type ${other.simpleString}")
    }
    val outSchema = StructType(
      StructField("cnt", org.apache.spark.sql.types.LongType,
        nullable = false) +:
      cols.flatMap(c => Seq(
        StructField(s"min_$c", fieldOf(c).dataType),
        StructField(s"max_$c", fieldOf(c).dataType))))
    val row = Row.fromSeq(cnt +: cols.flatMap(c => Seq(
      mins.get(c).map(toValue(fieldOf(c).dataType, _)).orNull,
      maxs.get(c).map(toValue(fieldOf(c).dataType, _)).orNull)))
    spark.createDataFrame(java.util.Arrays.asList(row), outSchema)
  }

  /** Commit log as data (the DESCRIBE HISTORY surface): one row per
    * committed version — commit time (manifest mtime), file count,
    * total bytes, the streaming batch id when the commit came from
    * [[appendBatch]], and the commit's operation record (the `#op:`
    * JSON a row-level DML commit writes: command, group-filter
    * attribute, candidate/scanned/rewritten file counts — the prune
    * audit trail for MERGE/UPDATE/DELETE). Driver-side O(|versions|)
    * metadata only: file lengths come from the manifest lines. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val f = fs(spark, root)
    import spark.implicits._
    listed(f, root).flatMap { case (v, st) =>
      readManifestRaw(f, st.getPath).map { m =>
        val bytes = statuses(spark, m.files, m.meta).map(_.getLen).sum
        (v, new java.sql.Timestamp(st.getModificationTime), m.files.size,
          bytes, m.batchId, m.opInfo)
      }
    }.toDF("version", "commit_time", "n_files", "total_bytes", "batch_id",
      "operation")
  }

  /** Tag a committed version with a stable name (release pointers:
    * `tag(root, "train-v1", v)`), claimed by EXCLUSIVE create like a
    * commit — two writers racing the same tag name get one winner, and
    * a tag is immutable unless `overwrite` (re-pointing a released
    * name is an explicit act). Tagged versions are a retention
    * contract: [[vacuum]] keeps every tagged version's files alive
    * regardless of `keepVersions`. */
  def tag(spark: SparkSession, root: String, name: String, version: Long,
      overwrite: Boolean = false): Unit = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"tag names are [A-Za-z0-9._-]+: '$name'")
    val f = fs(spark, root)
    require(manifestAt(f, root, version).isDefined,
      s"cannot tag missing version $version under $root")
    val p = tagPath(root, name)
    f.mkdirs(tagDir(root))
    if (overwrite && f.exists(p)) f.delete(p, false)
    // atomic claim of the name (see atomicCreate), then the content
    // write has a single author; a reader glimpsing the empty window
    // between the two skips the entry (tags() tolerates it)
    if (!atomicCreate(f, p))
      throw new java.io.IOException(s"tag '$name' already exists under $root")
    val out = f.create(p, true)
    try out.write(s"$version\n".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** All tags as (tag, version), name-sorted. */
  def tags(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val f = fs(spark, root)
    if (!f.exists(tagDir(root))) Seq.empty
    else f.listStatus(tagDir(root)).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".tag"))
      .flatMap { p =>
        val in = f.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        // empty/partial = a tagger between claim and content write
        scala.util.Try(txt.toLong).toOption
          .map(p.getName.stripSuffix(".tag") -> _)
      }.sortBy(_._1)
  }

  /** Snapshot read by tag name. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val v = tags(spark, root).collectFirst {
      case (n, ver) if n == name => ver }
      .getOrElse(throw new IllegalArgumentException(
        s"no tag '$name' under $root (have: ${tags(spark, root).map(_._1)})"))
    read(spark, root, Some(v))
  }

  /** Drop a tag (releases its vacuum pin). */
  def untag(spark: SparkSession, root: String, name: String): Boolean =
    fs(spark, root).delete(tagPath(root, name), false)

  private def tagDir(root: String) = new Path(root, "_tags")
  private def tagPath(root: String, name: String) =
    new Path(tagDir(root), s"$name.tag")

  /** Time travel by TIMESTAMP: the newest version committed at or
    * before `asOf` (epoch millis). The anchor is the manifest file's
    * mtime — the moment the commit became visible. */
  def readAsOf(spark: SparkSession, root: String, asOf: Long): DataFrame =
    read(spark, root, Some(versionAsOfTime(spark, root, asOf)))

  /** Version resolution for timestamp time travel, shared by [[readAsOf]]
    * and the DSv2 `timestampAsOf` read option. */
  private[graft] def versionAsOfTime(spark: SparkSession, root: String,
      asOf: Long): Long =
    versionAtOrBefore(spark, root, asOf).getOrElse(
      throw new IllegalArgumentException(
        s"no version committed at or before $asOf under $root"))

  /** Like [[versionAsOfTime]] but the DOCUMENTED miss — a timestamp
    * predating the first commit — returns None instead of throwing, so
    * callers with a defined fallback (the stream's `startingTimestamp`)
    * can catch exactly that case without a blanket Try that would also
    * swallow missing-table and filesystem errors (advisor finding,
    * round 9). */
  private[graft] def versionAtOrBefore(spark: SparkSession, root: String,
      asOf: Long): Option[Long] = {
    val f = fs(spark, root)
    listed(f, root).reverseIterator.collect {
      case (v, st) if st.getModificationTime <= asOf &&
        readManifestRaw(f, st.getPath).isDefined => v
    }.nextOption().orElse {
      if (resolveHead(f, root).isEmpty) throw noCommit(root)
      None
    }
  }

  /** Pinned snapshot descriptor — version + schema + the manifest's
    * immutable file list + per-file stats. This is the unit the
    * DataSource V2 connector ([[graft.sources.v2.GraftLakeSource]]) plans
    * a scan from: once resolved, concurrent commits cannot change what
    * the scan reads. */
  private[graft] final case class Snapshot(root: String, version: Long,
      schema: StructType, files: Seq[String],
      stats: Map[String, FileStats], meta: Map[String, FileMeta])

  private[graft] def snapshot(spark: SparkSession, root: String,
      version: Option[Long] = None): Snapshot = {
    val (v, m) = resolve(fs(spark, root), root, version)
    Snapshot(root, v, m.schema, m.files, m.stats, m.meta)
  }

  /** Manifest-stat file pruning over a resolved snapshot — the single
    * implementation behind [[readWhere]] AND the DSv2 scan's pushed-filter
    * pruning, so format-path and library-path skipping can never diverge.
    * Conservative: files whose stats cannot PROVE emptiness are kept. */
  private[graft] def pruneFiles(spark: SparkSession, snap: Snapshot,
      cond: Column): Seq[String] = {
    // manifest stats are keyed by PHYSICAL column name; the predicate
    // arrives with logical attributes — translate before matching
    // (identity map on unmapped tables)
    val phys = snap.schema.fields
      .map(fd => fd.name -> physicalName(fd)).toMap
    val types = snap.schema.fields
      .map(fd => physicalName(fd) -> fd.dataType).toMap
    val condExpr = resolvePredicate(spark, snap.schema, cond)
      .map(_.transform {
        case a: expressions.AttributeReference
          if phys.get(a.name).exists(_ != a.name) =>
          a.withName(phys(a.name))
        case u: analysis.UnresolvedAttribute
          if phys.get(u.name).exists(_ != u.name) =>
          analysis.UnresolvedAttribute.quoted(phys(u.name))
      })
    snap.files.filter(p => condExpr.forall(ce =>
      snap.stats.get(p).forall(fst => mayMatch(ce, fst, types))))
  }

  /** Resolve + constant-fold a predicate against a table schema by
    * analyzing a probe Filter over an empty relation: attributes become
    * typed AttributeReferences and cast literals (e.g.
    * lit("1997-01-01").cast("timestamp")) fold to comparable Literals. */
  private[graft] def resolvePredicate(spark: SparkSession,
      schema: StructType, cond: Column): Option[expressions.Expression] = {
    val probe = spark
      .createDataFrame(new java.util.ArrayList[Row](), schema)
      .filter(cond).queryExecution.analyzed
    org.apache.spark.sql.catalyst.optimizer.ConstantFolding(probe)
      .collectFirst {
        case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          fl.condition
      }
  }

  /** Data-skipping read: like [[read]], but files whose manifest stats
    * PROVE no row can satisfy `cond` are pruned at planning time —
    * no listing, no parquet footer reads, O(|files|) driver work over
    * the already-resolved manifest (the Delta/Iceberg scan shape; at
    * 100 TB the footer pass is itself a bottleneck). Pruning is
    * conservative: unsupported predicate shapes, columns without stats,
    * and non-ASCII string bounds keep the file. The predicate is ALSO
    * applied to the surviving rows, so results never depend on pruning.
    * Returns the filtered DataFrame. */
  def readWhere(spark: SparkSession, root: String, cond: Column,
      version: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, root, version)
    val kept = pruneFiles(spark, snap, cond)
    readFiles(spark, snap.schema, kept, snap.meta).filter(cond)
  }

  /** Conservative may-match of a predicate against one file's stats:
    * true unless the stats PROVE no row satisfies it. Sound for And/Or
    * (no Not: may(¬x) is not ¬may(x)); leaf comparisons prune only when
    * the literal and column agree on an order-preserving domain —
    * numeric/timestamp/date via exact BigDecimal, strings only when
    * bounds and literal are pure ASCII (Java UTF-16 ordering and
    * Spark's UTF-8 byte ordering agree there and only there). */
  private def mayMatch(e: expressions.Expression, fst: FileStats,
      types: Map[String, DataType]): Boolean = {
    import expressions._
    def ascii(s: String) = s.forall(_ < 128)
    // (attrName, literal) for supported leaf shapes, literal folded
    def leaf(a: Expression, l: Expression): Option[(String, Any, DataType)] =
      (a, l) match {
        case (att: analysis.UnresolvedAttribute, lt: Literal) =>
          Some((att.name, lt.value, lt.dataType))
        case (att: AttributeReference, lt: Literal) =>
          Some((att.name, lt.value, lt.dataType))
        case (att, c @ Cast(_: Literal, _, _, _)) if c.resolved && c.foldable =>
          scala.util.Try(c.eval(null)).toOption.flatMap(v =>
            leaf(att, Literal.create(v, c.dataType)))
        case _ => None
      }
    // literal + column-stat string -> comparable domain, or None
    def dom(v: Any, ldt: DataType, s: String, cdt: DataType): Option[(Int, Int)] = {
      def num(x: Any): Option[BigDecimal] = x match {
        case n: Int => Some(BigDecimal(n))
        case n: Long => Some(BigDecimal(n))
        case n: Short => Some(BigDecimal(n.toInt))
        case n: Byte => Some(BigDecimal(n.toInt))
        case n: Double if !n.isNaN && !n.isInfinite => Some(BigDecimal(n))
        case n: Float if !n.isNaN && !n.isInfinite => Some(BigDecimal(n.toDouble))
        case n: org.apache.spark.sql.types.Decimal => Some(n.toBigDecimal)
        case n: java.math.BigDecimal => Some(BigDecimal(n))
        case _ => None
      }
      val numericCol = cdt match {
        case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
             _: DoubleType | _: FloatType | _: DecimalType => true
        case _ => false
      }
      (ldt, cdt) match {
        case (_: TimestampType, _: TimestampType) |
             (_: DateType, _: DateType) =>
          // literal is internal micros/days (Long/Int); stats likewise
          num(v).map(l => (l.compare(BigDecimal(s)), 0))
        case (_: StringType, _: StringType) =>
          val lv = v.toString
          if (ascii(lv) && ascii(s)) Some((lv.compareTo(s), 0)) else None
        case _ if numericCol =>
          for { l <- num(v); c <- scala.util.Try(BigDecimal(s)).toOption }
            yield (l.compare(c), 0)
        case _ => None
      }
    }
    // cmp(literal, statBound): Some(sign) or None (incomparable)
    def cmp(v: Any, ldt: DataType, bound: Option[String],
        cn: String): Option[Int] =
      for {
        cdt <- types.get(cn); s <- bound; d <- dom(v, ldt, s, cdt)
      } yield d._1
    def may(ex: Expression): Boolean = ex match {
      case And(l, r) => may(l) && may(r)
      case Or(l, r) => may(l) || may(r)
      case EqualTo(a, b) => eqMay(a, b, nullSafe = false)
      case EqualNullSafe(a, b) => eqMay(a, b, nullSafe = true)
      case GreaterThan(a, b) => cmpMay(a, b, (s: Int) => s > 0)
      case GreaterThanOrEqual(a, b) => cmpMay(a, b, (s: Int) => s >= 0)
      case LessThan(a, b) => cmpMay(a, b, (s: Int) => s < 0)
      case LessThanOrEqual(a, b) => cmpMay(a, b, (s: Int) => s <= 0)
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        list.exists(l => eqMay(a, l, nullSafe = false))
      case IsNull(att: analysis.UnresolvedAttribute) =>
        fst.get(att.name).forall(_.hasNulls)
      case IsNull(att: AttributeReference) =>
        fst.get(att.name).forall(_.hasNulls)
      case _ => true // unsupported shape: keep the file
    }
    // literal = attr: inside [min, max] AND (when the column carries a
    // bloom) possibly present by filter probe. The probe hashes the
    // literal exactly as the build side hashed column values (XxHash64
    // over the same Spark type — consulted only when the analyzed
    // literal's type equals the column type, which type coercion
    // guarantees for any comparison that resolved), so a negative is
    // PROOF of absence; false positives just keep the file.
    def bloomMay(cn: String, v: Any, ldt: DataType): Boolean =
      fst.get(cn).flatMap(_.bloom) match {
        case Some(bytes) if types.get(cn).contains(ldt) =>
          val h = new XxHash64(Seq(Literal(v, ldt))).eval(null)
            .asInstanceOf[Long]
          org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(bytes))
            .mightContainLong(h)
        case _ => true
      }
    def eqMay(a: Expression, b: Expression, nullSafe: Boolean): Boolean =
      leaf(a, b).orElse(leaf(b, a)) match {
        case Some((cn, null, _)) =>
          if (nullSafe) fst.get(cn).forall(_.hasNulls) else false
        case Some((cn, v, ldt)) =>
          val lo = cmp(v, ldt, fst.get(cn).flatMap(_.min), cn)
          val hi = cmp(v, ldt, fst.get(cn).flatMap(_.max), cn)
          lo.forall(_ >= 0) && hi.forall(_ <= 0) && bloomMay(cn, v, ldt)
        case None => true
      }
    // attrOpLit: does some value in [min,max] satisfy (value op lit)?
    def cmpMay(a: Expression, b: Expression, opHolds: Int => Boolean): Boolean = {
      def side(attr: Expression, litE: Expression,
          flip: Boolean): Option[Boolean] =
        leaf(attr, litE).map {
          case (_, null, _) => false // comparison to NULL is never true
          case (cn, v, ldt) =>
            // existence over the interval reduces to checking the two
            // extreme bounds (monotone comparisons): the predicate can
            // hold for SOME x in [min,max] iff it holds at min or max
            Seq(fst.get(cn).flatMap(_.min), fst.get(cn).flatMap(_.max))
              .exists(bound => cmp(v, ldt, bound, cn) match {
                case Some(sign) => opHolds(if (flip) sign else -sign)
                case None => true
              })
        }
      side(a, b, flip = false).orElse(side(b, a, flip = true))
        .getOrElse(true)
    }
    may(e)
  }

  /** Schema-evolution contract for append/appendBatch/upsert: the
    * incoming schema must match the head's by (name, type) — or, with
    * `mergeSchema = true`, may ADD new columns (appended as nullable;
    * old files read back NULL there). A column present in both with a
    * DIFFERENT type is always rejected — silent type drift is the lake
    * failure mode this table exists to prevent. [[write]] (replace)
    * defines a fresh schema and has no constraint. */
  private def evolve(head: StructType, incoming: StructType,
      mergeSchema: Boolean): StructType = {
    val headByName = head.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      headByName.get(f.name).foreach { h =>
        require(h.dataType.catalogString == f.dataType.catalogString,
          s"column '${f.name}' type mismatch: table has ${h.dataType}, " +
            s"incoming has ${f.dataType}")
      }
    }
    val newCols = incoming.fields.filterNot(f => headByName.contains(f.name))
    val missing = head.fields.filterNot(f =>
      incoming.fields.exists(_.name == f.name))
    if (!mergeSchema) {
      require(newCols.isEmpty && missing.isEmpty,
        s"schema mismatch (new: ${newCols.map(_.name).mkString(",")}; " +
          s"missing: ${missing.map(_.name).mkString(",")}); pass " +
          "mergeSchema = true to add columns")
      head
    } else StructType(head.fields ++ newCols.map(_.copy(nullable = true)))
  }

  /** Write `df` as new data files and commit them as the next version,
    * REPLACING the table's content. Returns the committed version.
    * Files are staged ONCE; only the cheap claim retries on races. */
  def write(df: DataFrame, root: String): Long =
    replace(df, root, None)

  /** [[write]] with initial table properties in the same commit (the
    * CREATE TABLE path: declared TBLPROPERTIES and the `CLUSTER BY`
    * spec land atomically with version 0). */
  def write(df: DataFrame, root: String,
      properties: Seq[(String, String)]): Long =
    replace(df, root, Some(properties))

  private def replace(df: DataFrame, root: String,
      properties: Option[Seq[(String, String)]]): Long = {
    val spark = df.sparkSession
    val staged = stageFiles(df, root,
      resolveHead(fs(spark, root), root).map(_._2))
    commitRetrying(spark, root, df.schema,
      propertiesOverride = properties, staged = staged)(_ => staged.files)
  }

  /** The head version's CHECK constraints, in declaration order. */
  def constraints(spark: SparkSession, root: String)
      : Seq[(String, String)] =
    resolveHead(fs(spark, root), root).fold(Seq.empty[(String, String)])(
      _._2.constraints)

  /** Add a named CHECK constraint (ANSI semantics: a row violates only
    * when the expression evaluates to FALSE; NULL passes). Existing
    * data must already satisfy it — the add scans the head snapshot
    * and fails loud on any violation, like Delta's ADD CONSTRAINT.
    * From this commit on, every write path validates its staged rows
    * ([[publish]] is the choke point) and a violating write throws
    * BEFORE any commit: the table is untouched and the rejected files
    * are deleted.
    * Check-then-commit window: a concurrent writer racing the add can
    * land unvalidated rows between the scan and the constraint commit
    * — the same single-alterer assumption Delta documents. */
  def addConstraint(spark: SparkSession, root: String, name: String,
      exprSql: String): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"constraint name must be tab/newline-free: '$name'")
    require(exprSql.nonEmpty && !exprSql.exists(_ == '\n'),
      "constraint expression must be newline-free")
    val (_, head) = resolve(fs(spark, root), root)
    require(!head.constraints.exists(_._1 == name),
      s"constraint '$name' already exists")
    val bad = readFiles(spark, head.schema, head.files, head.meta)
      .filter(!coalesce(expr(exprSql), lit(true))).count()
    require(bad == 0L,
      s"cannot add constraint '$name' ($exprSql): $bad existing row(s) " +
        "violate it")
    commitRetrying(spark, root, head.schema,
      constraintsOverride = Some(head.constraints :+ (name -> exprSql)))(
      filesOf)
  }

  /** The head version's table properties (declaration-ordered). Unlike
    * the derived metadata `DESCRIBE EXTENDED` surfaces, these are
    * user/DDL-set key-value pairs committed in the manifest — the
    * storage behind `ALTER TABLE SET TBLPROPERTIES` and the
    * `CLUSTER BY` clustering spec ([[ClusteringProp]]). */
  def tableProperties(spark: SparkSession, root: String)
      : Seq[(String, String)] =
    resolveHead(fs(spark, root), root).fold(Seq.empty[(String, String)])(
      _._2.properties)

  /** The manifest property key holding a table's declared clustering
    * columns (comma-separated) — written by `CREATE TABLE ... CLUSTER
    * BY`, defaulted into `CALL optimize_zorder` when no columns are
    * given, and honored by catalog INSERTs (range-clustered staging). */
  val ClusteringProp = "graft.clustering"

  /** Table property opting into the WRITE-SIDE CHANGE LOG (comma-
    * separated key columns): row-level DML commits then persist their
    * net row diff under `_changes/`, referenced from the manifest, so
    * [[changeFeed]] serves those commits as PURE SCANS instead of
    * re-deriving the diff with a keyed join at every read — the right
    * trade when CDC consumers outnumber writers. */
  val ChangeFeedKeysProp = "graft.changefeed.keys"

  /** Set (upsert) table properties as one metadata-only commit. Keys
    * and values must be tab/newline-free (the manifest is
    * line-oriented). Returns the committed version. */
  def setProperties(spark: SparkSession, root: String,
      kvs: Seq[(String, String)]): Long = {
    require(kvs.nonEmpty, "setProperties: nothing to set")
    kvs.foreach { case (k, v) =>
      require(k.nonEmpty && !k.exists(c => c == '\t' || c == '\n'),
        s"property keys must be tab/newline-free: '$k'")
      require(!v.exists(c => c == '\t' || c == '\n'),
        s"property values must be tab/newline-free ('$k')")
    }
    val (_, head) = resolve(fs(spark, root), root)
    val merged = head.properties.filterNot(p =>
      kvs.exists(_._1 == p._1)) ++ kvs
    commitRetrying(spark, root, head.schema,
      propertiesOverride = Some(merged))(filesOf)
  }

  /** Unset table properties (missing keys are ignored, matching SQL
    * `UNSET TBLPROPERTIES IF EXISTS` pragmatics). */
  def unsetProperties(spark: SparkSession, root: String,
      keys: Seq[String]): Long = {
    val (_, head) = resolve(fs(spark, root), root)
    commitRetrying(spark, root, head.schema,
      propertiesOverride = Some(head.properties.filterNot(p =>
        keys.contains(p._1))))(filesOf)
  }

  /** The head commit's operation record (the `#op:` marker JSON written
    * by row-level commits), if any — surfaced in `DESCRIBE EXTENDED`. */
  def lastOperation(spark: SparkSession, root: String): Option[String] =
    resolveHead(fs(spark, root), root).flatMap(_._2.opInfo)

  /** Drop a named CHECK constraint (a new commit; time travel before
    * it still shows the constraint in force for those versions). */
  def dropConstraint(spark: SparkSession, root: String, name: String)
      : Long = {
    val (_, head) = resolve(fs(spark, root), root)
    require(head.constraints.exists(_._1 == name),
      s"no constraint named '$name'")
    commitRetrying(spark, root, head.schema,
      constraintsOverride = Some(head.constraints.filterNot(_._1 == name)))(
      filesOf)
  }

  /** One aggregation pass counting violations of every `head` constraint
    * over `df`; throws naming the first violated constraint. No-op
    * (`df` is never built, no extra job) when the table has no
    * constraints. */
  private def enforceConstraints(df: => DataFrame,
      head: Option[Manifest]): Unit = {
    val cons = head.fold(Seq.empty[(String, String)])(_.constraints)
    if (cons.isEmpty) return
    val counts = cons.map { case (n, e) =>
      sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(n)
    }
    val row = df.agg(counts.head, counts.tail: _*).head()
    cons.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0)
        throw new IllegalArgumentException(
          s"CHECK constraint '$n' ($e) violated by $bad staged row(s); " +
            "write rejected, table unchanged")
    }
  }

  /** Physical names a NEW identity-mapped column must not collide
    * with: a renamed head column's frozen physical, plus every
    * physical name of a retained manifest that still references live
    * head files (= dropped columns whose bytes are still live). The
    * mergeSchema evolve path REFUSES on collision — its files are
    * staged under the logical name before the schema resolves, so the
    * fresh-physical remap [[addColumns]] uses is not available there.
    * Lower-cased. Scanning the head's own manifest too adds nothing: its
    * identity names are live logical names. */
  private def poisonedPhysical(f: FileSystem, root: String,
      headM: Manifest): Set[String] = {
    val headFiles = headM.files.toSet
    (headM.schema.fields.collect {
      case fd if physicalName(fd) != fd.name => physicalName(fd)
    } ++ manifests(f, root).flatMap { case (_, m) =>
      if (m.files.exists(headFiles.contains))
        m.schema.fields.map(physicalName)
      else Nil
    }).map(_.toLowerCase(java.util.Locale.ROOT)).toSet --
      headM.schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
  }

  private def requireUnpoisoned(f: FileSystem, root: String,
      head: Manifest, widened: StructType): Unit = {
    val newCols = widened.fields.drop(head.schema.fields.length)
    if (newCols.isEmpty) return
    val poisoned = poisonedPhysical(f, root, head)
    val bad = newCols.map(_.name).filter(n =>
      poisoned.contains(n.toLowerCase(java.util.Locale.ROOT)))
    require(bad.isEmpty,
      s"mergeSchema: column(s) ${bad.mkString(", ")} were previously " +
        "dropped or renamed away and live data files still carry the " +
        "physical name — appending under it would resurrect old " +
        "values. Use ALTER TABLE ADD COLUMN (which remaps to a fresh " +
        "physical name) or rewrite the table first")
  }

  /** Append: next version = previous file list + newly staged files.
    * Schema is validated (and with `mergeSchema` widened) against the
    * head — see [[evolve]]. */
  def append(df: DataFrame, root: String,
      mergeSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val staged = stageFiles(df, root, resolveHead(f, root).map(_._2))
    var schema: StructType = df.schema
    commitRetrying(spark, root, schema, staged = staged) { h =>
      h.foreach { m =>
        schema = evolve(m.schema, df.schema, mergeSchema)
        requireUnpoisoned(f, root, m, schema)
      }
      filesOf(h) ++ staged.files
    }
  }

  /** COPY-ON-WRITE row-level commit — the lake half of the DSv2
    * row-level-operation protocol (SQL `MERGE INTO` / `UPDATE` /
    * `DELETE` through [[graft.sources.v2.GraftRowLevelOperation]]):
    * replace `removed` (the files the row-level scan READ — group
    * granularity is the file) with the files the executors wrote
    * straight into data/ (`written`, through [[WriteBridge]]'s task
    * writer, as [[stageFiles]] does). They go through [[publish]]:
    * footer-stats'd and CHECK-constraint-validated on their OWN
    * read-back before the commit publishes them. A table that declared
    * [[ChangeFeedKeysProp]] gets the commit's change log (see
    * [[changeLog]]). A commit that fails deletes the written files and
    * the change log.
    *
    * Concurrency: write-serializable per table. A concurrent commit
    * that REMOVED one of the scanned files (another rewrite of the
    * same rows) aborts loudly — replaying our replacement would lose
    * its effects; concurrent commits that only ADDED files interleave
    * safely (their files are preserved, ours replace only what we
    * scanned). */
  private[graft] def commitReplace(spark: SparkSession, root: String,
      removed: Set[String], written: Seq[WrittenFile],
      opJson: Seq[String] => Option[String] = _ => None): Long = {
    val f = fs(spark, root)
    val (_, headM) = resolve(f, root)
    val schema = headM.schema
    // row-level files carry PHYSICAL column names (the write factory
    // got the physical schema) — stats keys must match
    val published = publish(f, spark, written, physicalSchema(schema),
      schema.fieldNames.toSeq, Some(headM))
    val staged = discardOnFailure(f, published)(published.copy(
      changes = changeLog(spark, f, root, Some(headM), schema,
        removed.toSeq, published)))
    val removedQ = removed.map(p => new Path(p).toString)
    // the commit publishes the schema of the head each attempt claims
    // against: a concurrent addColumns/renameColumn that landed after
    // `headM` was read must not be rolled back by this commit
    var commitSchema = schema
    commitRetrying(spark, root, commitSchema,
      opInfo = opJson(staged.files).filterNot(j =>
        j.exists(c => c == '\t' || c == '\n')),
      staged = staged) { h =>
      commitSchema = h.getOrElse(throw noCommit(root)).schema
      val prev = filesOf(h)
      val prevSet = prev.map(p => new Path(p).toString).toSet
      val gone = removedQ.diff(prevSet)
      require(gone.isEmpty,
        s"row-level commit conflict on $root: ${gone.size} scanned " +
          "file(s) were rewritten/removed by a concurrent commit — " +
          "retry the statement against the new snapshot")
      prev.filterNot(p => removedQ.contains(new Path(p).toString)) ++
        staged.files
    }
  }

  /** `ALTER TABLE ... ADD COLUMN(S)`: commit the head's UNCHANGED file
    * list under an extended schema — a metadata-only commit (zero data
    * rewritten; existing parquet files simply lack the new columns and
    * reads fill nulls, the same contract a mergeSchema append already
    * relies on). New columns must be nullable (existing rows have no
    * value) and must not collide with head columns case-insensitively
    * (Spark resolution would be ambiguous). Old versions time-travel
    * with their original schema; per-file stats carry untouched.
    * Safe under concurrent writers via the usual version claim. */
  def addColumns(spark: SparkSession, root: String,
      cols: Seq[StructField]): Long = {
    val f = fs(spark, root)
    require(cols.nonEmpty, "addColumns: no columns given")
    cols.foreach(c => require(c.nullable,
      s"addColumns: new column '${c.name}' must be nullable — existing " +
        "rows carry no value for it"))
    require(cols.map(_.name.toLowerCase(java.util.Locale.ROOT))
      .distinct.size == cols.size, "addColumns: duplicate new column names")
    var schema: StructType = null
    commitRetrying(spark, root, schema) { h =>
      val headM = h.getOrElse(throw noCommit(root))
      val head = headM.schema
      val clash = cols.map(_.name).filter(n =>
        head.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(clash.isEmpty,
        s"addColumns: column(s) already exist: ${clash.mkString(", ")}")
      // RE-ADDING a previously dropped name must NOT resurrect the old
      // values: reads project parquet by PHYSICAL name, so any LIVE
      // file committed under a schema that contained the name still
      // carries its bytes (advisor finding, round 9). With column
      // mapping (round 10) the fix is a FRESH physical name instead of
      // a refusal: the new column's physical name avoids every
      // physical name used by the head OR by any retained manifest
      // whose files are still live — old bytes are simply never
      // projected, and the re-added column reads NULL everywhere
      // (Delta's column-mapping semantics). The new names clash with no
      // head column, so the names they must avoid are exactly the
      // poisoned ones.
      val poisoned = poisonedPhysical(f, root, headM)
      val mapped = cols.map { c =>
        if (!poisoned.contains(
            c.name.toLowerCase(java.util.Locale.ROOT))) c
        else c.copy(metadata = new MetadataBuilder()
          .withMetadata(c.metadata)
          .putString(PhysicalKey, s"${c.name}-" +
            java.util.UUID.randomUUID().toString.take(8))
          .build())
      }
      schema = StructType(head.fields ++ mapped)
      headM.files // files unchanged: pure schema-evolution commit
    }
  }

  /** `ALTER TABLE ... DROP COLUMN(S)`: commit the head's UNCHANGED file
    * list under a NARROWED schema — metadata-only, the mirror of
    * [[addColumns]] (parquet reads project by name, so the dropped
    * column's bytes simply stop being read; they stay in the files and
    * old versions time-travel with the full schema). RENAME COLUMN is
    * [[renameColumn]] — metadata-only through the column-mapping
    * layer. */
  def dropColumns(spark: SparkSession, root: String,
      names: Seq[String]): Long = {
    require(names.nonEmpty, "dropColumns: no columns given")
    var schema: StructType = null
    commitRetrying(spark, root, schema) { h =>
      val m = h.getOrElse(throw noCommit(root))
      val head = m.schema
      val missing = names.filterNot(n =>
        head.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(missing.isEmpty,
        s"dropColumns: no such column(s): ${missing.mkString(", ")}")
      // a CHECK constraint referencing a dropped column would poison
      // every later write with an unresolved-column error — refuse now
      // with the actionable message (Delta does the same)
      m.constraints.foreach { case (cn, ce) =>
        val refs = scala.util.Try(
          spark.sessionState.sqlParser.parseExpression(ce).collect {
            case ua: analysis.UnresolvedAttribute => ua.nameParts.head
          }).getOrElse(Seq.empty)
        val hit = names.filter(n => refs.exists(_.equalsIgnoreCase(n)))
        require(hit.isEmpty,
          s"dropColumns: column(s) ${hit.mkString(", ")} are referenced " +
            s"by CHECK constraint '$cn' ($ce); drop the constraint first")
      }
      val keep = head.fields.filterNot(fd =>
        names.exists(_.equalsIgnoreCase(fd.name)))
      require(keep.nonEmpty, "dropColumns: cannot drop every column")
      schema = StructType(keep)
      m.files // files unchanged: pure schema-evolution commit
    }
  }

  /** EXACTLY-ONCE streaming append: commit a micro-batch's rows with
    * the batch id recorded in the manifest; a batch id some committed
    * manifest already carries is SKIPPED (returns None), so foreachBatch
    * re-deliveries after a failure/restart are idempotent —
    * at-least-once delivery x idempotent commit = effectively
    * exactly-once sink writes. One writer per stream (Structured
    * Streaming's own run model); concurrent DIFFERENT-batch writers
    * still conflict safely on the version claim.
    *
    * Wire as `.writeStream.foreachBatch((b, id) =>
    * VersionedTable.appendBatch(b, root, id))`. */
  def appendBatch(df: DataFrame, root: String,
      batchId: Long): Option[Long] = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    def committed(ms: Seq[(Long, Manifest)]): Boolean =
      ms.exists(_._2.batchId.contains(batchId))
    val ms = manifests(f, root)
    if (committed(ms)) None
    else {
      val staged = stageFiles(df, root, ms.lastOption.map(_._2))
      // re-check inside the loop: the commit that raced us may have
      // been THIS batch's earlier delivery finally landing (the failed
      // commit deletes what it staged)
      try Some(commitRetrying(spark, root, df.schema,
          batchMarker = Some(batchId), staged = staged) { h =>
        if (committed(manifests(f, root))) throw new BatchAlreadyCommitted
        h.foreach(m => // strict: a stream's schema must not drift
          evolve(m.schema, df.schema, mergeSchema = false))
        filesOf(h) ++ staged.files
      })
      catch { case _: BatchAlreadyCommitted => None }
    }
  }

  private final class BatchAlreadyCommitted extends RuntimeException

  /** Range-clustered append: rows range-partitioned and sorted by
    * `clusterCols` before staging, so each data file covers a narrow
    * key interval and the manifest's min/max stats become TIGHT —
    * [[readWhere]] on the cluster key then prunes to O(selectivity)
    * files instead of all of them (the write-side half of data
    * skipping; same layout idea as `Layout.writeRangeClustered`, here
    * feeding the manifest index instead of parquet footers). */
  def appendClustered(df: DataFrame, root: String,
      clusterCols: Seq[String], nFiles: Int,
      mergeSchema: Boolean = false): Long = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val clustered = df
      .repartitionByRange(nFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    append(clustered, root, mergeSchema)
  }

  /** Incremental consumption: rows of data files ADDED after version
    * `afterV` up to `toV` (default head) — the cheap CDC path: pure
    * manifest set-difference, no key shuffle, no old-data read. EXACT
    * exactly-once semantics for append-only flows (each appended row
    * appears in exactly one consecutive window); under upsert/delete/
    * compact commits the added files contain rewritten OLD rows too —
    * consumers needing net row-level changes use [[diff]] instead. */
  def readAppended(spark: SparkSession, root: String, afterV: Long,
      toV: Option[Long] = None): DataFrame = {
    val f = fs(spark, root)
    val baseFiles = resolve(f, root, Some(afterV))._2.files.toSet
    val (_, m) = resolve(f, root, toV)
    val added = m.files.filterNot(baseFiles)
    readFiles(spark, m.schema, added, m.meta)
  }

  /** Key-based upsert as a commit, FILE-PRUNED: only data files that
    * actually contain a matching key are rewritten; every other file is
    * carried into the next manifest untouched. An upsert touching 0.1%
    * of keys rewrites O(matching files), not 100% of the table — the
    * scale shape a lake-format MERGE has (the whole-table rewrite was
    * this operator's 100 TB hazard). Merging happens against the
    * CURRENT head inside the retry loop — a version race means another
    * writer moved the head, and merging a stale snapshot would lose its
    * rows. Old files stay live for older snapshots. Schema follows
    * [[evolve]]: with `mergeSchema` the updates may add columns (old
    * rows read back NULL there); the keys must exist in both. */
  def upsert(updates: DataFrame, root: String, keys: Seq[String],
      mergeSchema: Boolean = false): Long = {
    val spark = updates.sparkSession
    val f = fs(spark, root)
    rewriteCommit(spark, root) { h =>
      h.filter(_.files.nonEmpty) match {
        case None => (updates.schema, Nil, Some(updates))
        case Some(m) =>
          val outSchema = evolve(m.schema, updates.schema, mergeSchema)
          requireUnpoisoned(f, root, m, outSchema)
          // touched = files holding at least one matching key. The probe
          // reads ONLY the key columns (+ file metadata)
          val rewrite = touchedFiles(m.files, readFiles(spark, m.schema,
              m.files, m.meta)
            .select(col("_metadata.file_path").as("_f"),
              struct(keys.map(col): _*).as("_k"))
            .join(updates.select(struct(keys.map(col): _*).as("_k"))
              .distinct(), Seq("_k"), "left_semi")
            .select(col("_f")))
          val merged =
            if (rewrite.isEmpty) updates
            else readFiles(spark, m.schema, rewrite, m.meta)
              .join(updates.select(keys.map(col): _*).distinct(), keys,
                "left_anti")
              .unionByName(updates, allowMissingColumns = mergeSchema)
          (outSchema, rewrite, Some(merged))
      }
    }
  }

  /** Full MERGE INTO on `keys`: matched target rows are DELETED when
    * `matchedDelete` holds, otherwise UPDATED per `matchedUpdate`
    * (target column -> new-value expression); unmatched source rows
    * INSERT when `insertUnmatched`. Conditions and assignments evaluate
    * over the joined row: target columns under their own names, source
    * columns prefixed `src_` — the ANSI MERGE surface that [[upsert]]
    * (pure replace) and [[deleteWhere]] (pure delete) are special cases
    * of. `source` must be key-unique, like upsert.
    *
    * File-pruned identically to upsert: only files holding a matching
    * key rewrite (the probe reads key columns + file metadata; collects
    * are file-path lists bounded by |files|). The rewritten files then
    * join the source ONCE on `keys` — full outer with `insertUnmatched`,
    * left without (the source then needs only its keys and the columns
    * the conditions name): target-only rows carry over, matched rows
    * delete or update, source-only rows insert. That equals the
    * rewritten-rows-plus-anti-joined-inserts plan because
    *  - the source is key-unique by contract, so no target row fans out;
    *  - a null key never matches on either plan (equi-join), so a
    *    null-keyed target row carries over and a null-keyed source row
    *    inserts, both ways;
    *  - a source key matching no rewritten file matches no head file
    *    (the probe would have rewritten it), so source-only rows ARE the
    *    unmatched source rows — absent from carried files by construction.
    * The rows are written unprobed: an empty outcome writes no file (a
    * task without rows leaves none, see [[stageFiles]]). */
  def merge(source: DataFrame, root: String, keys: Seq[String],
      matchedDelete: Option[Column], matchedUpdate: Map[String, Column],
      insertUnmatched: Boolean = true): Long = {
    val spark = source.sparkSession
    val src = source.select(keys.map(col) ++
      source.columns.filterNot(keys.contains)
        .map(c => col(c).as(s"src_$c")): _*)
      .withColumn("__matched", lit(true))
    rewriteCommit(spark, root) { h =>
      val m = h.getOrElse(throw noCommit(root))
      val schema = m.schema
      require(matchedUpdate.keySet.forall(schema.fieldNames.contains),
        s"update assigns unknown columns: " +
          s"${matchedUpdate.keySet -- schema.fieldNames}")
      val rewrite = touchedFiles(m.files,
        readFiles(spark, schema, m.files, m.meta)
        .select(col("_metadata.file_path").as("_f"),
          struct(keys.map(col): _*).as("_k"))
        .join(source.select(struct(keys.map(col): _*).as("_k")).distinct(),
          Seq("_k"), "left_semi")
        .select(col("_f")))
      val isT = col("__target").isNotNull
      val isM = isT && col("__matched").isNotNull
      val del = matchedDelete
        .map(c => isM && coalesce(c, lit(false)))
        .getOrElse(lit(false))
      val rows = Option.when(rewrite.nonEmpty || insertUnmatched)(
        readFiles(spark, schema, rewrite, m.meta)
          .withColumn("__target", lit(true))
          .join(src, keys, if (insertUnmatched) "full_outer" else "left")
          .filter(!del)
          .select(schema.fieldNames.toSeq.map { c =>
            val kept = matchedUpdate.get(c)
              .fold(col(c))(u => when(isM, u).otherwise(col(c)))
            (if (insertUnmatched && !keys.contains(c))
              when(isT, kept).otherwise(col(s"src_$c"))
            else kept).as(c)
          }: _*))
      (schema, rewrite, rows)
    }
  }

  /** Row-deleting commit, file-pruned like [[upsert]]: files with no
    * matching row are carried over untouched; files with matches are
    * rewritten without the matching rows (a file left empty is not
    * written again). `condition` is any Catalyst predicate over the
    * table's columns. */
  def deleteWhere(spark: SparkSession, root: String,
      condition: Column): Long = {
    // DELETE semantics: remove rows where the predicate is TRUE; rows
    // where it is FALSE or NULL stay (matching SQL DELETE)
    val del = coalesce(condition, lit(false))
    rewriteCommit(spark, root) { h =>
      val m = h.getOrElse(throw noCommit(root))
      val rewrite = touchedFiles(m.files,
        readFiles(spark, m.schema, m.files, m.meta).filter(del)
        .select(col("_metadata.file_path").as("_f")))
      (m.schema, rewrite, Option.when(rewrite.nonEmpty)(
        readFiles(spark, m.schema, rewrite, m.meta).filter(!del)))
    }
  }

  /** Join-based row-deleting commit: removes rows whose key tuple
    * appears in `keyRows` (null-safe equality on `keys`, matching
    * [[deleteWhere]]'s `<=>` semantics). Same file-pruned shape as
    * [[deleteWhere]] — files with no matching key carry over untouched
    * — but the match set is a DataFrame, so the commit is bounded by
    * cluster memory, never by driver state or Catalyst expression size
    * (an OR-of-ANDs literal predicate grows linearly in the key count
    * and blows up analysis/codegen). The key set is pinned so OCC
    * retries re-plan against identical keys. */
  def deleteMatching(spark: SparkSession, root: String,
      keyRows: DataFrame, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "deleteMatching needs key columns")
    val delKeys = Pin.workingSet(keyRows
      .select(keys.map(k => col(k).as("__dk_" + k)): _*)
      .distinct())
    def cond(left: DataFrame): Column =
      keys.map(k => left(k) <=> delKeys("__dk_" + k)).reduce(_ && _)
    rewriteCommit(spark, root) { h =>
      val m = h.getOrElse(throw noCommit(root))
      val head = readFiles(spark, m.schema, m.files, m.meta)
      val rewrite = touchedFiles(m.files, head
        .join(delKeys, cond(head), "left_semi")
        .select(col("_metadata.file_path").as("_f")))
      val rw = readFiles(spark, m.schema, rewrite, m.meta)
      (m.schema, rewrite, Option.when(rewrite.nonEmpty)(
        rw.join(delKeys, cond(rw), "left_anti")))
    }
  }

  /** The head files `probe` names: `probe` is a one-column frame of
    * `_metadata.file_path` values over rows of those files. The collect
    * is bounded by |files|, not rows (the file list is driver-resident
    * by construction). */
  private def touchedFiles(files: Seq[String], probe: DataFrame)
      : Seq[String] = {
    val hit = probe.distinct().collect()
      .map(r => new Path(r.getString(0)).toString).toSet
    files.filter(p => hit.contains(new Path(p).toString))
  }

  /** The copy-on-write commit loop behind [[upsert]], [[merge]],
    * [[deleteWhere]], [[deleteMatching]], [[compact]] and
    * [[compactZOrdered]]. Each attempt hands `plan` the head it resolved
    * — merging against the CURRENT head, since a version race means
    * another writer moved it and a stale snapshot would lose its rows.
    * `plan` returns the schema to commit under (the head's, or upsert's
    * evolution of it — so a retry after a concurrent schema change
    * commits the new schema), the head files to rewrite and the rows
    * replacing them (None: nothing to stage). Those rows are staged, the
    * other head files carry over by identity, and the commit writes its
    * change log (see [[changeLog]]). A lost race deletes the attempt's
    * staged files and change log before the next attempt restages; a
    * failed commit deletes them in [[commitRetrying]]. */
  private def rewriteCommit(spark: SparkSession, root: String,
      layoutOnly: Boolean = false)(plan: Option[Manifest] =>
        (StructType, Seq[String], Option[DataFrame])): Long = {
    val f = fs(spark, root)
    var schema: StructType = null
    var staged = Staged()
    commitRetrying(spark, root, schema, staged = staged) { h =>
      discard(f, staged)
      staged = Staged()
      val (s, rewrite, rows) = plan(h)
      schema = s
      staged = rows.fold(Staged())(stageFiles(_, root, h))
      staged = staged.copy(changes = changeLog(spark, f, root, h, schema,
        rewrite, staged, layoutOnly))
      filesOf(h).filterNot(rewrite.toSet) ++ staged.files
    }
  }

  /** Row-level change feed between two committed snapshots: one row per
    * net difference, `change_type` in {insert, update, delete}. Updates
    * and inserts carry the `toV` image, deletes the `fromV` image.
    * Change detection is exact column-by-column null-safe comparison
    * (no row-hash collisions); rows identical in both snapshots are
    * dropped. One key-shuffle full-outer join over the CHURNED files
    * only — consumers that only need appended rows should instead read
    * the manifests' added files.
    *
    * CONTRACT (caller-facing): snapshots must be key-unique and the lake
    * copy-on-write — the churned-files-only read is exact ONLY under
    * that contract. If it is violated (e.g. a plain append adds a second
    * row for an existing key whose old row sits in a file both
    * manifests share), the shared file is invisible to the diff and the
    * new row reports as an 'insert' where a full-snapshot join would
    * have reported an 'update' (plus duplicate-key fanout). There is no
    * runtime detection; keep appends key-disjoint or use upsert/merge. */
  def diff(spark: SparkSession, root: String, keys: Seq[String],
      fromV: Long, toV: Long): DataFrame = {
    val (old, neu, dataCols) = churned(spark, root, keys, fromV, toV)
    keyedDiff(old, neu, keys, dataCols)
  }

  /** [[diff]] plus the BEFORE-image of every update as an extra
    * `change_type = 'update_preimage'` row (Delta CDF naming) — emitted
    * in the SAME single pass over the churned files via a conditional
    * explode. The preimages come for free inside diff's full-outer join
    * (`_o_` side) but [[diff]] drops them; consumers that need
    * retraction rows (incremental view maintenance) otherwise re-scan
    * the whole from-snapshot and semi-join it back (r11: that scan +
    * semi-join was the single most expensive leg of the matview delta).
    * Exactness: a row in a non-churned file can never be an update or a
    * delete, so churned-files-only preimages are complete. */
  def diffWithPreimages(spark: SparkSession, root: String,
      keys: Seq[String], fromV: Long, toV: Long): DataFrame = {
    val (old, neu, dataCols) = churned(spark, root, keys, fromV, toV)
    def img(side: String, ct: Column) = struct(
      (keys.map(col) ++ dataCols.map(c => col(side + c).as(c))
        :+ ct.as("change_type")): _*)
    val rows = when(col("change_type") === "update",
        array(img("_n_", col("change_type")),
          img("_o_", lit("update_preimage"))))
      .when(col("change_type") === "delete",
        array(img("_o_", col("change_type"))))
      .otherwise(array(img("_n_", col("change_type"))))
    classifiedJoin(old, neu, keys, dataCols)
      .select(explode(rows).as("_r"))
      .select(col("_r.*"))
  }

  /** The churned rows of two snapshots — `fromV`'s files that `toV` no
    * longer references, and `toV`'s files `fromV` did not — each read
    * under its own version's schema, plus the data (non-key) columns.
    * A file referenced by BOTH manifests is immutable, so its rows
    * appear identically on both sides of the keyed full-outer join and
    * can only produce change_type-NULL rows the classification drops.
    * Under diff's keyed-row-set contract (key-unique snapshots — the
    * same assumption the full-outer join itself encodes) restricting
    * each side to the file-list symmetric difference is therefore
    * EXACT, and the CDC cost is O(churned files), not O(two full
    * snapshots). */
  private def churned(spark: SparkSession, root: String, keys: Seq[String],
      fromV: Long, toV: Long): (DataFrame, DataFrame, Seq[String]) = {
    val f = fs(spark, root)
    val (_, mOld) = resolve(f, root, Some(fromV))
    val (_, mNew) = resolve(f, root, Some(toV))
    val newSet = mNew.files.toSet
    val oldSet = mOld.files.toSet
    val old = readFiles(spark, mOld.schema, mOld.files.filterNot(newSet),
      mOld.meta)
    val neu = readFiles(spark, mNew.schema, mNew.files.filterNot(oldSet),
      mNew.meta)
    (old, neu, old.columns.filterNot(keys.contains).toSeq)
  }

  /** The head's declared change-log identity keys
    * ([[ChangeFeedKeysProp]]), validated against the head schema —
    * None when the table has not opted in. */
  private def declaredCdcKeys(m: Manifest): Option[Seq[String]] =
    m.properties
      .collectFirst { case (ChangeFeedKeysProp, v0) =>
        v0.split(",").map(_.trim).filter(_.nonEmpty).toSeq }
      .filter(ks => ks.nonEmpty &&
        ks.forall(m.schema.fieldNames.contains))

  /** WRITE-SIDE CHANGE LOG: when `head` declared its identity keys
    * ([[ChangeFeedKeysProp]]), persist the commit's net row diff —
    * `removed` head files against the `staged` ones, read under
    * `schema` — and
    * return its path for the manifest, so [[changeFeed]] serves the
    * commit as a pure scan. A `layoutOnly` rewrite (compact/zorder) logs
    * an EMPTY diff without a join: its content is identical by
    * construction. None when the table has not opted in, or its keys no
    * longer match the schema (never expected: renameColumn rewrites the
    * property); the read-side join fallback stays correct then. */
  private def changeLog(spark: SparkSession, f: FileSystem, root: String,
      head: Option[Manifest], schema: StructType, removed: Seq[String],
      staged: Staged, layoutOnly: Boolean = false): Option[String] =
    head.flatMap(m => declaredCdcKeys(m).map { ks =>
      writeChanges(f, root,
        if (layoutOnly) emptyDiffFrame(spark, schema, ks)
        else keyedDiff(readFiles(spark, schema, removed, m.meta),
          readFiles(spark, schema, staged.files, staged.meta), ks,
          schema.fieldNames.filterNot(ks.contains).toSeq))
    })

  /** Persist a commit's net-diff frame as the files of one directory
    * under `_changes/` and return the directory's qualified path (the
    * manifest marker content). An empty diff writes no file, and its
    * directory does not exist ([[readChanges]] reads it as empty). */
  private def writeChanges(f: FileSystem, root: String,
      diff: DataFrame): String = {
    val out = f.makeQualified(new Path(new Path(root, "_changes"),
      java.util.UUID.randomUUID().toString))
    WriteBridge.writeParquet(diff, out.toString)
    out.toString
  }

  /** A commit's change log ([[writeChanges]]) under `schema`: one
    * listing of its directory. */
  private def readChanges(spark: SparkSession, schema: StructType,
      dir: String): DataFrame = {
    val d = new Path(dir)
    val files = (try d.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(d).toSeq
      catch { case _: java.io.FileNotFoundException => Nil })
      .filter(_.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else ManifestFileIndex.readParquet(spark, schema, files)
  }

  /** A zero-row change frame in [[keyedDiff]]'s column shape — what a
    * layout-only commit (compact/zorder) records: content identical by
    * construction, nothing to diff. */
  private def emptyDiffFrame(spark: SparkSession, schema: StructType,
      keys: Seq[String]): DataFrame = {
    val dataCols = schema.fieldNames.filterNot(keys.contains).toSeq
    val ordered = StructType(
      (keys ++ dataCols).map(n => schema(schema.fieldIndex(n))) :+
        StructField("change_type", StringType, nullable = false))
    spark.createDataFrame(new java.util.ArrayList[Row](), ordered)
  }

  /** Net row diff between two keyed row sets: one row per change with
    * `change_type` in {insert, update, delete}; updates/inserts carry
    * the NEW image, deletes the old. Output columns: keys ++ dataCols
    * ++ change_type. The shared kernel of [[diff]], [[changeFeed]]'s
    * join fallback and the write-side change log
    * ([[ChangeFeedKeysProp]]). */
  private def keyedDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String], dataCols: Seq[String]): DataFrame =
    classifiedJoin(oldDf, newDf, keys, dataCols)
      .select(keys.map(col) ++ dataCols.map(c =>
        when(col("change_type") === "delete", col("_o_" + c))
          .otherwise(col("_n_" + c)).as(c))
        :+ col("change_type"): _*)

  /** One keyed full-outer join over only the two row sets given: each
    * side's data columns `_o_`/`_n_`-prefixed with a presence flag, and
    * `change_type` classified; rows identical on both sides dropped. */
  private def classifiedJoin(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String], dataCols: Seq[String]): DataFrame = {
    def tagged(df: DataFrame, p: String) = df.select(
      keys.map(col) ++ dataCols.map(c => col(c).as(p + c))
        :+ lit(true).as(p + "present"): _*)
    val j = tagged(oldDf, "_o_")
      .join(tagged(newDf, "_n_"), keys, "full_outer")
    val changed =
      if (dataCols.isEmpty) lit(false)
      else !dataCols.map(c => col("_o_" + c) <=> col("_n_" + c))
        .reduce(_ && _)
    val change = when(col("_o_present").isNull, "insert")
      .when(col("_n_present").isNull, "delete")
      .when(changed, "update")
    j.withColumn("change_type", change)
      .filter(col("change_type").isNotNull)
  }

  /** CHANGE FEED (the readChangeFeed analogue): net row-level changes
    * for every commit in `(fromV, toV]`, one row per change with
    * `change_type` ∈ {insert, update, delete} and `_commit_version` =
    * the commit that produced it — so MERGE/UPDATE/DELETE-maintained
    * tables can feed incremental consumers (matviews, downstream
    * streams) without `ignoreChanges` re-emitting whole rewritten
    * files.
    *
    * Scale shape — FILE-PRUNED per commit, unlike the two-snapshot
    * [[diff]]: a commit's changes can only live in its CHURNED files
    * (rows in carried files are identical by file identity), so
    *  - an append-only commit (nothing removed) emits its added files'
    *    rows as inserts — a pure parquet scan, NO join;
    *  - a rewrite commit (MERGE/UPDATE/DELETE/upsert) diffs ONLY its
    *    removed files against ONLY its added files on `keys` —
    *    O(churned data), not O(table). A 100 TB table whose MERGE
    *    rewrote 3 files diffs 3 files;
    *  - a commit that recorded its change log ([[ChangeFeedKeysProp]])
    *    is a pure scan of that log.
    * The rewrite commits share ONE keyed join: every removed side,
    * tagged with its `_commit_version`, unions into one frame, every
    * added side into another, and the join keys are `keys` plus
    * `_commit_version` — rows of different commits never meet, so the
    * result is the union of the per-commit diffs, in one shuffle.
    * Layout-only commits (compact/zorder: files churn, content
    * doesn't) still diff their churned files and correctly emit
    * nothing. Reads use the TO version's schema on both sides (columns
    * added in between null-fill on the old side, matching the evolve
    * contract). `keys` must identify rows uniquely, as in [[diff]]. */
  def changeFeed(spark: SparkSession, root: String, keys: Seq[String],
      fromV: Long, toV: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "changeFeed needs key columns")
    val ms = manifests(fs(spark, root), root)
    val vs = ms.map(_._1)
    val meta = ms.flatMap(_._2.meta).toMap
    require(vs.contains(fromV), s"version $fromV not in $vs")
    val to = toV.getOrElse(vs.max)
    require(vs.contains(to), s"version $to not in $vs")
    // (previous committed manifest, commit) for each commit in the window
    val window = ms.zip(ms.drop(1)).filter { case (_, (v, _)) =>
      v > fromV && v <= to }
    val outSchema = ms.find(_._1 == to).get._2.schema
    keys.foreach(k => require(outSchema.fieldNames.contains(k),
      s"changeFeed: no key column '$k' in ${outSchema.simpleString}"))
    def readF(v: Long, files: Seq[String]): DataFrame =
      readFiles(spark, outSchema, files, meta)
        .withColumn("_commit_version", lit(v))
    val dataCols = outSchema.fieldNames.filterNot(keys.contains).toSeq
    val feedSchema = StructType(outSchema.fields ++ Seq(
      StructField("change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
    val empty =
      spark.createDataFrame(new java.util.ArrayList[Row](), feedSchema)
    // (version, removed files, added files) of each commit without a log
    val churn = window.collect { case ((_, mPrev), (v, mv))
        if mv.changesFile.isEmpty =>
      (v, mPrev.files.filterNot(mv.files.toSet),
        mv.files.filterNot(mPrev.files.toSet)) }
    val (appends, rewrites) = churn.partition(_._2.isEmpty)
    val scans = window.flatMap { case (_, (v, mv)) =>
      // write-side change log recorded at commit time
      // (ChangeFeedKeysProp): the commit's net diff is a PURE SCAN —
      // no keyed join at read time. The recorded diff used the
      // table's declared identity keys, which is authoritative.
      mv.changesFile.map(cf =>
        readChanges(spark, StructType(outSchema.fields :+
            StructField("change_type", StringType)), cf)
          .withColumn("_commit_version", lit(v)))
    } ++ appends.map { case (v, _, added) => // append-only: adds insert
      readF(v, added).withColumn("change_type", lit("insert"))
    }
    // a key present only on a commit's REMOVED side may still exist in
    // a carried file (rewrites move rows between files only on
    // compact/zorder, which add their files in the same commit) — with
    // file-granular COW the removed side's keys are complete for the
    // rewritten groups, so absence on the added side IS deletion within
    // that commit
    val joined = Option.when(rewrites.nonEmpty)(keyedDiff(
      rewrites.map { case (v, removed, _) => readF(v, removed) }
        .reduce(_.unionByName(_)),
      rewrites.map { case (v, _, added) => readF(v, added) }
        .reduce(_.unionByName(_)),
      keys :+ "_commit_version", dataCols))
    (scans ++ joined).foldLeft(empty)((acc, df) =>
      acc.unionByName(df.select(feedSchema.fieldNames.toSeq.map(col): _*)))
  }

  /** Small-file compaction as a commit (the OPTIMIZE half of table
    * maintenance; [[vacuum]] is the other). Files smaller than
    * `smallBytes` are rewritten together into ~`targetBytes` files;
    * larger files carry over by identity. The table's CONTENT is
    * unchanged — only the file layout — so readers of any version see
    * identical rows, and older snapshots still reference the original
    * small files (which stay live until vacuumed). Returns the new
    * version, or None when fewer than 2 small files exist (nothing to
    * gain; a no-op commit would only churn the log). */
  def compact(spark: SparkSession, root: String,
      smallBytes: Long = 32L << 20,
      targetBytes: Long = 128L << 20): Option[Long] = {
    try Some(rewriteCommit(spark, root, layoutOnly = true) { h =>
      val m = h.getOrElse(throw noCommit(root))
      // lengths from the manifest lines
      val small = m.files.zip(statuses(spark, m.files, m.meta).map(_.getLen))
        .filter(_._2 < smallBytes)
      // before any staging, change log or claim
      if (small.size < 2) throw new NothingToCompact
      val totalBytes = small.map(_._2).sum
      val nOut = ((totalBytes + targetBytes - 1) / targetBytes).toInt.max(1)
      val rewrite = small.map(_._1)
      (m.schema, rewrite,
        Some(readFiles(spark, m.schema, rewrite, m.meta).coalesce(nOut)))
    })
    catch { case _: NothingToCompact => None }
  }

  private final class NothingToCompact extends RuntimeException

  /** OPTIMIZE ... ZORDER BY: rewrite the ENTIRE head Morton-clustered
    * on `cols` as one content-identical commit (Layout.zOrdered does
    * the interleaving; the staging pass records fresh per-file stats),
    * so after the commit `readWhere` prunes selective filters on ANY of
    * the participating columns — the multi-dimensional repair for a
    * table whose ingest order scattered every key range over every
    * file. Older snapshots keep their original files until vacuum, like
    * [[compact]]. Unlike size-tiered compact this always rewrites the
    * full table — it is the periodic layout job you run when read
    * patterns warrant it, not an every-commit cost. */
  def compactZOrdered(spark: SparkSession, root: String,
      cols: Seq[Column], nFiles: Int, bitsPerCol: Int = 16): Long = {
    rewriteCommit(spark, root, layoutOnly = true) { h =>
      val m = h.getOrElse(throw noCommit(root))
      require(m.files.nonEmpty, "cannot z-order an empty snapshot")
      (m.schema, m.files, Some(graft.operators.Layout.zOrdered(
        readFiles(spark, m.schema, m.files, m.meta), cols, nFiles,
        bitsPerCol)))
    }
  }

  /** RESTORE: roll the table back to `toVersion` as a NEW commit (the
    * RESTORE TABLE ... TO VERSION shape). The head becomes a manifest
    * with exactly the target version's file list and schema — history is
    * append-only (every intermediate version still time-travels; a
    * restore is itself a visible history entry), data files are reused
    * by identity (nothing is rewritten or copied), and schema evolution
    * after `toVersion` is rolled back with it. Per-file min/max stats
    * carry from the TARGET manifest (a restored file may no longer be in
    * the current head's stats — e.g. restoring past a deleteWhere), so
    * readWhere pruning keeps working across a restore. Safe under
    * concurrent writers via the usual exclusive version claim. */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val (_, target) = resolve(fs(spark, root), root, Some(toVersion))
    commitRetrying(spark, root, target.schema,
      staged = Staged(stats = target.stats, meta = target.meta))(
      _ => target.files)
  }

  /** Delete data files referenced by no retained manifest, and expired
    * manifests themselves. Keeps the newest `keepVersions`; never
    * touches files younger than `graceMs` (a concurrent commit may
    * have written them ahead of its claim). Also sweeps, past the same
    * window, the `.stage-*`/`.rlstage-*` directories older writers
    * staged in and a crash left behind. Returns files deleted. */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int,
      graceMs: Long = 3600000L): Int = {
    require(keepVersions >= 1, "must retain at least the latest version")
    val f = fs(spark, root)
    val ms = manifests(f, root)
    val vs = ms.map(_._1)
    // tagged versions are pinned: a release pointer must keep reading
    // no matter how the retention window moves
    val tagged = tags(spark, root).map(_._2).toSet
    val keep = (vs.takeRight(keepVersions) ++ vs.filter(tagged)).distinct
    val kept = ms.collect { case (v, m) if keep.contains(v) => m }
    val live = kept.flatMap(_.files).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    // a table whose writes all had no rows has no data/ directory
    val dead = (if (f.exists(dataDir(root))) f.listStatus(dataDir(root)).toSeq
      else Nil)
      .filter(s => s.getModificationTime < cutoff &&
        !live.contains(s.getPath.toString))
      .map(_.getPath)
    dead.foreach(p => f.delete(p, false))
    vs.filterNot(keep.contains).foreach { v =>
      f.delete(manifestPath(root, v), false)
      f.delete(claimPath(root, v), false)
    }
    // change-log dirs referenced by NO retained manifest (their
    // commit was vacuumed, or a crash left one unreferenced) age out
    // with the same grace window
    val liveChanges = kept.flatMap(_.changesFile).toSet
    val chDir = new Path(root, "_changes")
    if (f.exists(chDir))
      f.listStatus(chDir).toSeq
        .filter(st => st.getModificationTime < cutoff &&
          !liveChanges.contains(f.makeQualified(st.getPath).toString))
        .foreach(st => f.delete(st.getPath, true))
    // orphaned staging dirs of older writers, which staged library
    // writes under `.stage-*` and row-level DSv2 writes under
    // `.rlstage-*`: a driver crash between staging and commit/abort left
    // them behind forever — nothing else sweeps them (advisor finding,
    // round 9). Same grace window as data files.
    f.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith(".stage-") ||
          s.getPath.getName.startsWith(".rlstage-")) &&
        s.getModificationTime < cutoff)
      .foreach(s => f.delete(s.getPath, true))
    dead.size
  }

  /** What a commit brings beyond the head it claims against: the data
    * `files` it wrote and the change log it wrote (both deleted when the
    * commit fails), and per-file `stats` and `meta` (length, mtime) for
    * its manifest lines — the written files' own, or a clone's or
    * restore's source manifest's (Delta's `add` action likewise carries
    * its file's size and stats in the log record). A file with no entry
    * commits with the head's, or without. */
  private final case class Staged(files: Seq[String] = Nil,
      stats: Map[String, FileStats] = Map.empty,
      meta: Map[String, FileMeta] = Map.empty,
      changes: Option[String] = None)

  private def discard(f: FileSystem, s: Staged): Unit = {
    s.files.foreach(p => scala.util.Try(f.delete(new Path(p), false)))
    s.changes.foreach(cf => scala.util.Try(f.delete(new Path(cf), true)))
  }

  /** `body`, deleting `staged` when it throws. */
  private def discardOnFailure[T](f: FileSystem, staged: => Staged)(
      body: => T): T =
    try body catch { case t: Throwable => discard(f, staged); throw t }

  /** Canonical string form used in manifest stats: integral/timestamp/
    * date as decimal integers (micros / epoch days), float/double via
    * BigDecimal (NaN/Inf → None), strings raw. */
  private def canonical(v: Any): Option[String] = v match {
    case null => None
    case d: Double =>
      if (d.isNaN || d.isInfinite) None
      else Some(BigDecimal(d).bigDecimal.toPlainString)
    case fl: Float =>
      if (fl.isNaN || fl.isInfinite) None
      else Some(BigDecimal(fl.toDouble).bigDecimal.toPlainString)
    case t: java.sql.Timestamp =>
      Some((Math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000L).toString)
    case i: java.time.Instant =>
      Some((i.getEpochSecond * 1000000L + i.getNano / 1000L).toString)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toString)
    case d: java.time.LocalDate => Some(d.toEpochDay.toString)
    case ldt: java.time.LocalDateTime => // TIMESTAMP_NTZ, micros-as-UTC
      Some((ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000L).toString)
    case dec: java.math.BigDecimal => Some(dec.toPlainString)
    case s: String => Some(s)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => Some(n.toString)
    case _ => None
  }

  private[graft] def statEligible(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: DoubleType | _: FloatType | _: StringType |
         _: TimestampType | _: TimestampNTZType | _: DateType |
         _: DecimalType => true
    case _ => false
  }

  /** Write `df` into data/ as immutable files under unique names and
    * return them with the per-file stats and lengths the commit writes
    * into its manifest. `head` is the manifest the commit builds on
    * (None for a new table): its column mapping, bloom columns and CHECK
    * constraints apply to the written files. Each task writes its rows
    * straight into data/ through [[WriteBridge]] (one tracked SQL
    * execution; no staging directory, rename or listing); a task
    * without rows writes no file. A failed write job deletes what it
    * wrote; once this returns, the files belong to the commit, and a
    * commit that fails deletes them ([[commitRetrying]]). */
  private def stageFiles(df0: DataFrame, root: String,
      head: Option[Manifest]): Staged = {
    val spark = df0.sparkSession
    // column mapping: written parquet stores PHYSICAL names (the head
    // manifest's mapping, matched by logical name), so files written
    // after a RENAME COLUMN stay name-compatible with files written
    // before it. Identity (no mapped column) is a no-op.
    val headMapping: Map[String, String] = head.fold(Map.empty[String, String])(
      _.schema.fields.map(fd => fd.name -> physicalName(fd))
        .filter { case (l, p) => l != p }.toMap)
    val df =
      if (headMapping.isEmpty) df0
      else df0.toDF(df0.columns.map(c =>
        headMapping.getOrElse(c, c)).toIndexedSeq: _*)
    val f = fs(spark, root)
    val written = WriteBridge.writeParquet(df,
      f.makeQualified(dataDir(root)).toString)
    publish(f, spark, written, df.schema, df0.columns.toSeq, head)
  }

  /** The publish step every write into the lake takes ([[stageFiles]]
    * for library writes, [[commitReplace]] for row-level ones): collect
    * the written files' stats and enforce the head's CHECK constraints.
    * `physical` is the files' schema; `logical` names its columns as the
    * constraints do.
    *
    * Constraints are checked on the WRITTEN FILES themselves, not the
    * incoming plan: a non-deterministic plan (rand(), a source mutated
    * between jobs) could pass a pre-write validation pass yet persist
    * violating rows. Validating the read-back of what was actually
    * written checks the exact materialization the commit will publish
    * (advisor finding, round 7); per-row write-time enforcement
    * Delta-style would save this one extra scan, at the cost of a
    * custom write path — the read-back is built and scanned only when
    * constraints exist. A failed check deletes the files. */
  private def publish(f: FileSystem, spark: SparkSession,
      written: Seq[WrittenFile], physical: StructType, logical: Seq[String],
      head: Option[Manifest]): Staged = {
    val files = written.map(_.path)
    val meta = written.map(w => w.path -> FileMeta(w.length, w.mtime)).toMap
    discardOnFailure(f, Staged(files)) {
      val statsOn = spark.conf
        .getOption("spark.graft.lake.stats.enabled").forall(_.toBoolean)
      val stats =
        if (statsOn && files.nonEmpty)
          collectStats(spark, physical, files, meta, head)
        else None
      if (files.nonEmpty) enforceConstraints(
        readFiles(spark, physical, files, meta).toDF(logical: _*), head)
      Staged(files, stats.getOrElse(Map.empty), meta)
    }
  }

  /** Bloom columns are STICKY per table: beyond the session conf, any
    * column carrying a bloom in the current head manifest keeps getting
    * one on newly staged files — an upsert or compact from a session
    * without the conf must not silently degrade the table's point-lookup
    * pruning. */
  private def inheritedBloomCols(head: Option[Manifest]): Seq[String] =
    head.toSeq.flatMap(_.stats.values
      .flatMap(_.collect { case (c, st) if st.bloom.nonEmpty => c }))
      .distinct

  /** The stats of every file that produced a stats row (= the non-empty
    * files), keyed by path, or None when no column is stat-eligible and
    * the pass was skipped.
    *
    * Two collection paths:
    *  - FOOTER (default): per-column min/max/null-count and row counts
    *    read straight from the parquet footers of the just-staged files
    *    — O(|files|) metadata reads, NO second data scan. Sound because
    *    the files are OUR OWN fresh writes: modern parquet-mr footer
    *    stats are exact (no truncation by default) and byte-ordered the
    *    way Spark compares (unsigned UTF-8 for strings). Any column
    *    whose chunk stats are missing/unusable (INT96 timestamps,
    *    NaN/Inf float bounds, unset null counts) is simply OMITTED for
    *    that file — the file then takes readWhere's conservative-keep
    *    and statsAgg's exact slow path, never a wrong bound.
    *  - SCAN (when bloom columns are configured, which genuinely need
    *    the values, or a footer is unreadable): one aggregation pass
    *    over the staged files.
    * FooterStatsSpec pins byte-identical ColStat output between the two
    * paths across every eligible type, reaching the scan path through
    * [[restatByScan]]. */
  private def collectStats(spark: SparkSession, schema: StructType,
      files: Seq[String], meta: Map[String, FileMeta],
      head: Option[Manifest]): Option[Map[String, FileStats]] = {
    val cols = schema.fields.filter(fd => statEligible(fd.dataType))
      .map(_.name).toSeq
    if (cols.isEmpty) None
    else Some((if (bloomColsFor(spark, head, cols).nonEmpty) None
      else footerStats(spark, schema, statuses(spark, files, meta)).map(
        _.collect { case (p, (n, st)) if n > 0 => p -> st }))
      .getOrElse(collectStatsByScan(spark, schema, files, meta, head)))
  }

  /** Commit the head's files again with their stats recollected by the
    * SCAN path — how specs compare it with the footer path on the same
    * files (the handed-in stats win over the head's). */
  private[graft] def restatByScan(spark: SparkSession, root: String): Long = {
    val (_, m) = resolve(fs(spark, root), root)
    commitRetrying(spark, root, m.schema, staged = Staged(stats =
      collectStatsByScan(spark, physicalSchema(m.schema), m.files, m.meta,
        Some(m))))(_ => m.files)
  }

  /** The bloom-opted columns for this table (session conf ∪ columns
    * already carrying blooms in the head manifest), restricted to
    * stat-eligible ones. */
  private def bloomColsFor(spark: SparkSession, head: Option[Manifest],
      cols: Seq[String]): Seq[String] =
    (spark.conf.getOption("spark.graft.lake.bloom.cols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty) ++ inheritedBloomCols(head))
      .distinct.filter(cols.contains)

  /** Footer-metadata stats for freshly written files: returns
    * path -> (rowCount, per-column ColStat), or None if any footer is
    * unreadable (caller falls back to the scan path). Column chunks are
    * merged across row groups with parquet's own per-type comparator;
    * a column is dropped (not bounded wrongly) unless EVERY chunk
    * either carries bounds or is provably all-null, with null counts
    * set. Runs on a small driver thread pool — footers are KB-sized,
    * so even a many-thousand-file commit costs seconds of metadata I/O
    * instead of a full data scan. The files are opened from their
    * statuses (no stat) with read options built once per call: the
    * one-argument `ParquetFileReader.open` builds them from a fresh
    * Hadoop `Configuration`, parsing the Hadoop XML resources per
    * footer. */
  private def footerStats(spark: SparkSession, schema: StructType,
      files: Seq[FileStatus]): Option[Map[String, (Long, FileStats)]] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    val eligible = schema.fields.filter(fd => statEligible(fd.dataType))
    def one(st: FileStatus): (String, (Long, FileStats)) = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        options)
      try {
        val blocks = rd.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val cs: FileStats = eligible.flatMap { fd =>
          footerColStat(blocks, fd, rows).map(fd.name -> _) }.toMap
        st.getPath.toString -> (rows, cs)
      } finally rd.close()
    }
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(16, math.max(1, files.size)))
    try {
      val fs = files.map { p =>
        pool.submit(new java.util.concurrent.Callable[
          (String, (Long, FileStats))] { def call() = one(p) }) }
      Some(fs.map(_.get()).toMap)
    } catch {
      case scala.util.control.NonFatal(_) => None
    } finally pool.shutdown()
  }

  /** Merge one column's chunk statistics across row groups into a
    * ColStat, or None when any chunk's stats are unusable. */
  private def footerColStat(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      fd: StructField, rows: Long): Option[ColStat] = {
    import scala.jdk.CollectionConverters._
    val perBlock = blocks.map(_.getColumns.asScala
      .find(_.getPath.toDotString == fd.name))
    if (perBlock.exists(_.isEmpty)) return None
    val chunks = perBlock.flatten
    val stats = chunks.map(_.getStatistics)
    if (stats.exists(s => s == null || s.isEmpty || !s.isNumNullsSet))
      return None
    // every chunk must either carry bounds or be provably all-null
    if (chunks.zip(stats).exists { case (c, s) =>
        !s.hasNonNullValue && s.getNumNulls != c.getValueCount })
      return None
    val nulls = stats.map(_.getNumNulls).sum
    val valued = stats.filter(_.hasNonNullValue)
    if (valued.isEmpty)
      return Some(ColStat(None, None, hasNulls = nulls > 0,
        rows = Some(rows)))
    val prim = chunks.head.getPrimitiveType
    val cmp = prim.comparator()
      .asInstanceOf[java.util.Comparator[AnyRef]]
    val minV = valued.map(_.genericGetMin().asInstanceOf[AnyRef])
      .reduce((a, b) => if (cmp.compare(a, b) <= 0) a else b)
    val maxV = valued.map(_.genericGetMax().asInstanceOf[AnyRef])
      .reduce((a, b) => if (cmp.compare(a, b) >= 0) a else b)
    for {
      mn <- footerCanonical(fd.dataType, prim, minV)
      mx <- footerCanonical(fd.dataType, prim, maxV)
    } yield ColStat(Some(mn), Some(mx), hasNulls = nulls > 0,
      rows = Some(rows))
  }

  /** Footer statistics value -> the manifest's canonical string for the
    * Spark type, or None when the value can't be represented exactly
    * and soundly (NaN/Inf floats, INT96/unexpected physical encodings)
    * — the caller then omits the column for the file rather than risk
    * a wrong bound. Must produce byte-identical strings to
    * [[canonical]] over the scan path's Spark values (FooterStatsSpec
    * asserts it per type). */
  private def footerCanonical(dt: DataType,
      prim: org.apache.parquet.schema.PrimitiveType,
      v: AnyRef): Option[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    dt match {
      case _: ByteType | _: ShortType | _: IntegerType => v match {
        case i: java.lang.Integer => Some(i.toString)
        case _ => None
      }
      case _: LongType => v match {
        case l: java.lang.Long => Some(l.toString)
        case _ => None
      }
      case _: DoubleType => v match {
        case d: java.lang.Double if !d.isNaN && !d.isInfinite =>
          Some(BigDecimal(d).bigDecimal.toPlainString)
        case _ => None
      }
      case _: FloatType => v match {
        case f: java.lang.Float if !f.isNaN && !f.isInfinite =>
          Some(BigDecimal(f.toDouble).bigDecimal.toPlainString)
        case _ => None
      }
      case _: StringType => v match {
        case b: org.apache.parquet.io.api.Binary =>
          Some(new String(b.getBytes, StandardCharsets.UTF_8))
        case _ => None
      }
      case _: TimestampType | _: TimestampNTZType =>
        (v, prim.getLogicalTypeAnnotation) match {
          case (l: java.lang.Long,
              ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS =>
                Some(l.toString)
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                Some((l * 1000L).toString)
              case _ => None // NANOS floor would be inexact; INT96 never
            }
          case _ => None
        }
      case _: DateType => v match {
        case i: java.lang.Integer => Some(i.toString)
        case _ => None
      }
      case d: DecimalType => {
        val scaleOk = prim.getLogicalTypeAnnotation match {
          case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            Some(dec.getScale)
          case _ => None
        }
        scaleOk.flatMap { scale =>
          val unscaled: Option[java.math.BigInteger] = v match {
            case i: java.lang.Integer =>
              Some(java.math.BigInteger.valueOf(i.longValue()))
            case l: java.lang.Long =>
              Some(java.math.BigInteger.valueOf(l))
            case b: org.apache.parquet.io.api.Binary =>
              Some(new java.math.BigInteger(b.getBytes))
            case _ => None
          }
          unscaled.map(u =>
            new java.math.BigDecimal(u, scale).toPlainString)
        }
      }
      case _ => None
    }
  }

  /** The original one-aggregation-pass stats collection (also the bloom
    * path — bloom filters need the values, footers can't provide them). */
  private def collectStatsByScan(spark: SparkSession, schema: StructType,
      files: Seq[String], meta: Map[String, FileMeta],
      head: Option[Manifest]): Map[String, FileStats] = {
    val cols = schema.fields.filter(fd => statEligible(fd.dataType))
      .map(_.name).toSeq
    // bloom opt-in: per-file filters over the listed columns (sized by
    // lake.bloom.bits, default 128 Kibit ≈ 16 KiB base64 per col per
    // file) — the point-lookup complement to min/max range stats; the
    // head manifest's bloom columns are inherited so the property
    // sticks to the table across sessions
    val bloomCols = bloomColsFor(spark, head, cols)
    val bloomBits = spark.conf.getOption("spark.graft.lake.bloom.bits")
      .map(_.toLong).getOrElse(131072L)
    // float/double: NaN/±Inf have no canonical-string form, and a
    // partially-representable bound (finite min, NaN max) would make a
    // file look all-null-bounded to statsAgg's fold — silently wrong
    // MIN/MAX. Detect non-finite values per file and OMIT the column's
    // ColStat entirely (exactly what the footer path does when parquet
    // abandons FP stats): the file then takes readWhere's
    // conservative-keep and statsAgg's exact slow path.
    val floatish = schema.fields
      .filter(fd => fd.dataType == DoubleType || fd.dataType == FloatType)
      .map(_.name).toSet
    val aggs = cols.flatMap { c => Seq(
      smin(col(c)).as(s"_min_$c"), smax(col(c)).as(s"_max_$c"),
      count(col(c)).as(s"_cnt_$c")) ++
      (if (floatish.contains(c))
        Seq(count(when(isnan(col(c)) ||
          abs(col(c)) === lit(Double.PositiveInfinity), 1))
          .as(s"_bad_$c"))
      else Nil) } ++
      bloomCols.map { c => graft.functions.BloomFunctions
        .bloom_agg(col(c), bloomBits / 16, bloomBits).as(s"_bloom_$c") } :+
      count(lit(1)).as("_cnt_all")
    readFiles(spark, schema, files, meta)
      .groupBy(col("_metadata.file_path").as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val all = r.getAs[Long]("_cnt_all")
        new Path(r.getAs[String]("_f")).toString -> cols.flatMap { c =>
          if (floatish.contains(c) && r.getAs[Long](s"_bad_$c") > 0) None
          else Some(c -> ColStat(canonical(r.getAs[Any](s"_min_$c")),
            canonical(r.getAs[Any](s"_max_$c")),
            hasNulls = r.getAs[Long](s"_cnt_$c") < all,
            bloom =
              if (bloomCols.contains(c))
                Option(r.getAs[Array[Byte]](s"_bloom_$c"))
              else None,
            rows = Some(all)))
        }.toMap
      }.toMap
  }

  /** Claim `nextFiles(head)` as the next version, `head` being the
    * manifest this attempt resolved (None on a new table) — callers
    * read the head from it and never resolve it again. The claim is the
    * ATOMIC creation of `vN.json.claim` (see [[atomicCreate]] — the
    * manifest create itself is not atomic-exclusive on local FS, and
    * the OCC-torture spec caught two writers both "winning" vN through
    * it); only the claim winner writes the manifest. Claim lost =>
    * recompute against the new head and retry. A DEAD claim (no valid
    * manifest behind it, older than the grace window — which a live
    * writer's create-to-close can never straddle) is crashed-writer
    * junk: recovery clears claim + manifest and the version is
    * re-claimable. Success still requires the token-stamped read-back
    * to return this attempt's own bytes, as a guard against any
    * recovery interleaving.
    *
    * `staged` is what the commit brings ([[Staged]]): its stats and
    * lengths go straight into the manifest lines (over the head's entry
    * for the same file), its change log into the `#changes:` marker, and when
    * the commit throws — a rejected schema, a conflict, contention —
    * its files and change log are deleted. It is by-name, like
    * `schema`, for the rewrite commits that restage per attempt;
    * `opInfo` is evaluated once. */
  private def commitRetrying(spark: SparkSession, root: String,
      schema: => StructType, batchMarker: Option[Long] = None,
      constraintsOverride: Option[Seq[(String, String)]] = None,
      propertiesOverride: => Option[Seq[(String, String)]] = None,
      opInfo: => Option[String] = None,
      staged: => Staged = Staged())
      (nextFiles: Option[Manifest] => Seq[String]): Long = {
    // `schema` is by-name: nextFiles may resolve the (possibly evolved)
    // schema against the head it is handed, and the manifest write
    // below must see that resolution, re-done on every retry
    val f = fs(spark, root)
    discardOnFailure(f, staged) {
      val op = opInfo
      var committed = Option.empty[Long]
      var attempts = 0
      // 30 attempts outlasts the crashed-manifest grace window: a claim
      // blocked by a crashed writer's young junk manifest must survive
      // retrying until recovery is allowed to delete it (~10 s of backoff)
      while (committed.isEmpty) {
        if (attempts == 30) throw new IllegalStateException(
          s"commit contention: 30 straight version races under $root")
        attempts += 1
        // losing a claim is normal under concurrent writers; a short
        // jittered pause keeps N losers from re-colliding in lockstep
        if (attempts > 1)
          Thread.sleep(10L + scala.util.Random.nextInt(40 * attempts))
        val head = resolveHead(f, root)
        if (head.isEmpty) f.mkdirs(manifestDir(root))
        val prev = head.map(_._2)
        val files = nextFiles(prev)
        // constraints and table properties ride every commit unchanged
        // unless this commit IS the change (add/drop/set/unset).
        // Evaluated AFTER nextFiles: propertiesOverride is by-name, so a
        // closure that resolves its override against the head it just
        // read (renameColumn's clustering rewrite) is honored.
        val cons = constraintsOverride.getOrElse(
          prev.fold(Seq.empty[(String, String)])(_.constraints))
        val props = propertiesOverride.getOrElse(
          prev.fold(Seq.empty[(String, String)])(_.properties))
        val add = staged
        val v = head.fold(0L)(_._1 + 1)
        val target = manifestPath(root, v)
        // a file an older writer's line listed without its length is
        // stat'ed, so this manifest records it (a missing file stays
        // without)
        def metaOf(p: String): Option[FileMeta] =
          add.meta.get(p).orElse(prev.flatMap(_.meta.get(p))).orElse(
            scala.util.Try(f.getFileStatus(new Path(p))).toOption
              .map(st => FileMeta(st.getLen, st.getModificationTime)))
        // a file line: path, stats (empty when the file has none),
        // length and mtime. Length and mtime come last so that a reader
        // predating them still reads the line: it parses the second
        // field as the stats JSON and ignores the rest
        def fileLine(p: String): String = {
          val stats = add.stats.get(p).orElse(prev.flatMap(_.stats.get(p)))
            .fold("")(statsToJson)
          p + metaOf(p).fold(if (stats.isEmpty) "" else "\t" + stats)(m =>
            s"\t$stats\t${m.length}\t${m.mtime}") + "\n"
        }
        // crashed-writer recovery: a dead claim (claim file present, no
        // valid manifest behind it, older than the grace window) blocks
        // its version number; clear claim + junk manifest before trying.
        // The grace window keeps a LIVE writer's in-flight claim safe.
        val claimP = claimPath(root, v)
        try {
          val now = System.currentTimeMillis()
          if (f.exists(claimP)) {
            if (now - f.getFileStatus(claimP).getModificationTime >
                CrashedManifestGraceMs &&
              (!f.exists(target) || readManifestRaw(f, target).isEmpty)) {
              f.delete(claimP, false); f.delete(target, false)
            }
          } else if (f.exists(target) && readManifestRaw(f, target).isEmpty &&
            now - f.getFileStatus(target).getModificationTime >
              CrashedManifestGraceMs)
            f.delete(target, false) // legacy/torn junk without a claim
        } catch { case _: java.io.FileNotFoundException => () }
        // THE claim is the separate claim file, created ATOMICALLY
        // (Hadoop's local create(overwrite=false) is check-then-create: two
        // racing writers can both pass it, interleave manifest writes, and
        // even both pass a read-back verification at different moments —
        // observed as two commits returning the same version). Only the
        // claim winner may write the manifest, so its bytes have a single
        // author; the token read-back stays as a final guard against any
        // recovery interleaving.
        val payload = (schema.json + "\n" +
          files.sorted.map(fileLine).mkString +
          batchMarker.fold("")(id => s"$BatchMarker$id\n") +
          cons.map { case (n, e) => s"$ConstraintMarker$n\t$e\n" }.mkString +
          props.map { case (n, v0) => s"$PropertyMarker$n\t$v0\n" }.mkString +
          op.fold("")(j => s"$OpMarker$j\n") +
          add.changes.fold("")(cf => s"$ChangesMarker$cf\n") +
          WriterMarker + java.util.UUID.randomUUID().toString + "\n" +
          Terminator + "\n").getBytes(StandardCharsets.UTF_8)
        val claimed = atomicCreate(f, claimP) &&
          (try {
            // overwrite = true: the claim owns this version; any bytes
            // here are a recovered crash's torn junk
            val out = f.create(target, true)
            try out.write(payload) finally out.close()
            val st = f.getFileStatus(target)
            val back = new Array[Byte](st.getLen.toInt)
            val in = f.open(target)
            try in.readFully(back) finally in.close()
            java.util.Arrays.equals(back, payload)
          } catch { case _: java.io.IOException => false })
        if (claimed) committed = Some(v)
      }
      committed.get
    }
  }

  private def claimPath(root: String, v: Long) =
    new Path(manifestDir(root), f"v$v%012d.json.claim")

  /** Result of [[mergeBranch]]: the into-table's head after the merge
    * (None when nothing applied) and the conflicting keys — one row
    * per key BOTH branches changed to DIFFERENT states, carrying each
    * side's values (`into_`/`from_`-prefixed, presence flags included)
    * for the caller's resolution policy. */
  final case class BranchMerge(version: Option[Long],
      conflicts: DataFrame, nUpserts: Long, nDeletes: Long,
      nConflicts: Long)

  /** Three-way branch merge — the git-pull of the lake ([[cloneShallow]]
    * is the branch): key-wise against the declared common base
    * snapshot,
    *
    *  - keys only the FROM branch changed (insert/update/delete alike)
    *    take the from state — applied to the into table as one
    *    file-pruned [[upsert]] commit plus, when the from branch
    *    deleted keys, one [[deleteWhere]] commit;
    *  - keys only the INTO branch changed (or neither) stay as they
    *    are — a merge never rewrites what the receiving branch already
    *    decided;
    *  - keys BOTH changed, to the SAME state, are silently convergent;
    *  - keys BOTH changed, to DIFFERENT states, are CONFLICTS: the
    *    into state is kept untouched and the pair is reported — the
    *    caller resolves and re-merges (exactly git's semantics: a
    *    merge never silently overwrites divergent work).
    *
    * "Changed" compares full row STATE (presence + every non-key
    * column, null-safe), so delete-vs-update divergence conflicts too.
    * Scale shape: one 3-way full-outer shuffle join on the keys; the
    * apply path is the file-pruned upsert; deletions apply through
    * [[deleteMatching]] — an anti-join against the checkpointed delete
    * keys, fully distributed (never collected to the driver, never a
    * predicate tree that grows with the delete count).
    * Idempotent: re-merging after a no-change merge applies nothing. */
  def mergeBranch(spark: SparkSession, intoRoot: String,
      fromRoot: String, keys: Seq[String], baseRoot: String,
      baseVersion: Long): BranchMerge = {
    require(keys.nonEmpty, "mergeBranch needs merge keys")
    val base = read(spark, baseRoot, Some(baseVersion))
    val into = read(spark, intoRoot)
    val from = read(spark, fromRoot)
    val dataCols = base.columns.filterNot(keys.contains).toSeq
    def tagged(df: DataFrame, p: String) = df.select(
      keys.map(col) ++ dataCols.map(c => col(c).as(p + c))
        :+ lit(true).as(p + "present"): _*)
    val j = tagged(base, "b_")
      .join(tagged(into, "into_"), keys, "full_outer")
      .join(tagged(from, "from_"), keys, "full_outer")
    def stateEq(a: String, b: String): Column = {
      val bothAbsent = col(a + "present").isNull &&
        col(b + "present").isNull
      val bothPresent = col(a + "present").isNotNull &&
        col(b + "present").isNotNull
      val colsEq =
        if (dataCols.isEmpty) lit(true)
        else dataCols.map(c => col(a + c) <=> col(b + c))
          .reduce(_ && _)
      bothAbsent || (bothPresent && colsEq)
    }
    val iChanged = !stateEq("into_", "b_")
    val fChanged = !stateEq("from_", "b_")
    val convergent = stateEq("into_", "from_")
    val classified = Pin.workingSet(j.withColumn("__take",
        fChanged && !iChanged)
      .withColumn("__conflict", iChanged && fChanged && !convergent))
    val conflictCols: Seq[Column] = keys.map(col) ++
      dataCols.map(c => col("into_" + c)) ++ Seq(col("into_present")) ++
      dataCols.map(c => col("from_" + c)) ++ Seq(col("from_present"))
    val conflicts = classified.filter(col("__conflict"))
      .select(conflictCols: _*)
    val upserts = classified
      .filter(col("__take") && col("from_present").isNotNull)
      .select(keys.map(col) ++
        dataCols.map(c => col("from_" + c).as(c)): _*)
    val deleteKeys = classified
      .filter(col("__take") && col("from_present").isNull)
      .select(keys.map(col): _*)
    // ONE agg action over the checkpointed classification answers all
    // three counts (r11; was a count per set — three scans, three jobs;
    // callers then re-counted conflicts for a fourth). The delete set
    // itself stays a distributed join-based delete: a branch may delete
    // millions of keys — collecting them into an OR-of-ANDs predicate
    // would be unbounded driver memory plus a linearly growing Catalyst
    // expression tree.
    val takes = col("__take")
    val counts = classified.agg(
      sum(when(takes && col("from_present").isNotNull, 1L)
        .otherwise(0L)),
      sum(when(takes && col("from_present").isNull, 1L).otherwise(0L)),
      sum(when(col("__conflict"), 1L).otherwise(0L))).head()
    val nUp = if (counts.isNullAt(0)) 0L else counts.getLong(0)
    val nDel = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    val nConf = if (counts.isNullAt(2)) 0L else counts.getLong(2)
    var version: Option[Long] = None
    if (nUp > 0) version = Some(upsert(upserts, intoRoot, keys))
    if (nDel > 0)
      version = Some(deleteMatching(spark, intoRoot, deleteKeys, keys))
    BranchMerge(version, conflicts, nUp, nDel, nConf)
  }

  /** TRULY atomic exclusive create. Hadoop's RawLocalFileSystem
    * implements create(overwrite = false) as exists-check-then-create —
    * a race window two concurrent claimers can both pass — so local
    * paths go through NIO's createFile (O_CREAT|O_EXCL, atomic at the
    * syscall). Non-local filesystems (HDFS etc.) arbitrate exclusive
    * create server-side and use the plain API. */
  private def atomicCreate(f: FileSystem, p: Path): Boolean =
    if ("file" == f.getUri.getScheme) {
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch { case _: java.io.IOException => false }
    } else {
      try { f.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }
}
