package graft

import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._

/** `spark.sql.catalog.graft` — the V2 TableCatalog face of the lake:
  * name-resolved tables, SQL DDL/DML, native SQL time travel, and the
  * same snapshot-pinning contract as the format front door. */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = tmpDir("graftwh")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", w)
    w
  }

  test("create, insert, select, drop through pure SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db1")
    spark.sql("CREATE TABLE graft.db1.t1 (k BIGINT, v STRING)")
    // CREATE TABLE commits v0: empty but readable, library-visible
    assert(spark.sql("SELECT count(*) FROM graft.db1.t1")
      .as[Long].head() == 0)
    assert(VersionedTable.versions(spark, s"$warehouse/db1/t1") == Seq(0L))
    spark.sql("INSERT INTO graft.db1.t1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.db1.t1 VALUES (3, 'c')")
    assert(spark.sql("SELECT sum(k) FROM graft.db1.t1")
      .as[Long].head() == 6)
    // SHOW TABLES resolves through listTables
    assert(spark.sql("SHOW TABLES IN graft.db1").collect()
      .map(_.getString(1)).toSet == Set("t1"))
    // duplicate create fails, IF NOT EXISTS passes
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db1.t1 (k BIGINT)") }
    spark.sql("CREATE TABLE IF NOT EXISTS graft.db1.t1 (k BIGINT)")
    spark.sql("DROP TABLE graft.db1.t1")
    assert(!spark.catalog.tableExists("graft.db1.t1"))
  }

  test("native SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    val dir = s"$warehouse/tt/t"
    VersionedTable.write((1L to 40L).map(i => (i, i * 2)).toDF("k", "v"),
      dir)
    Thread.sleep(30)
    val tMid = java.time.Instant.now()
    Thread.sleep(30)
    VersionedTable.append((41L to 60L).map(i => (i, i * 2)).toDF("k", "v"),
      dir)
    assert(spark.sql("SELECT count(*) FROM graft.tt.t").as[Long]
      .head() == 60)
    assert(spark.sql("SELECT count(*) FROM graft.tt.t VERSION AS OF 0")
      .as[Long].head() == 40)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.tt.t TIMESTAMP AS OF '$tMid'")
      .as[Long].head() == 40)
    // aggregate pushdown works through the catalog path too
    val mm = spark.sql(
      "SELECT min(k), max(k), count(*) FROM graft.tt.t VERSION AS OF 0")
      .head()
    assert((mm.getLong(0), mm.getLong(1), mm.getLong(2)) ==
      ((1L, 40L, 40L)))
  }

  test("CTAS and INSERT from query") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ct")
    (1L to 30L).map(i => (i, s"n$i")).toDF("id", "name")
      .createOrReplaceTempView("ctas_src")
    try {
      spark.sql("CREATE TABLE graft.ct.made AS " +
        "SELECT id, name FROM ctas_src WHERE id <= 20")
      assert(spark.sql("SELECT count(*) FROM graft.ct.made")
        .as[Long].head() == 20)
      spark.sql("INSERT INTO graft.ct.made " +
        "SELECT id, name FROM ctas_src WHERE id > 20")
      assert(spark.sql("SELECT count(*) FROM graft.ct.made")
        .as[Long].head() == 30)
      // CTAS = create + append: v0 empty, v1 data, v2 insert
      assert(VersionedTable.versions(spark, s"$warehouse/ct/made")
        == Seq(0L, 1L, 2L))
    } finally spark.catalog.dropTempView("ctas_src")
  }

  test("snapshot pinning and library interop: a catalog-loaded frame " +
      "survives a concurrent library commit") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pin")
    val dir = s"$warehouse/pin/t"
    VersionedTable.write((1L to 25L).map(i => (i, i)).toDF("k", "v"), dir)
    val pinned = spark.sql("SELECT * FROM graft.pin.t")
    VersionedTable.append((26L to 50L).map(i => (i, i)).toDF("k", "v"),
      dir)
    assert(pinned.count() == 25, "pinned frame must not see the append")
    assert(spark.sql("SELECT count(*) FROM graft.pin.t")
      .as[Long].head() == 50)
  }

  test("rename, namespaces, and guardrails") {
    warehouse
    spark.sql("CREATE NAMESPACE graft.mv1")
    spark.sql("CREATE TABLE graft.mv1.a (x BIGINT)")
    spark.sql("INSERT INTO graft.mv1.a VALUES (7)")
    spark.sql("ALTER TABLE graft.mv1.a RENAME TO mv1.b")
    assert(spark.sql("SELECT x FROM graft.mv1.b").as[Long].head() == 7)
    assert(!spark.catalog.tableExists("graft.mv1.a"))
    // non-empty namespace refuses non-cascade drop
    intercept[Exception] { spark.sql("DROP NAMESPACE graft.mv1") }
    spark.sql("DROP NAMESPACE graft.mv1 CASCADE")
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .forall(_.getString(0) != "mv1"))
    // PARTITIONED BY is rejected loudly (the lake manages layout)
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.ptab (k BIGINT, p STRING) " +
        "PARTITIONED BY (p)") }
    assert(e.getMessage.toLowerCase.contains("layout") ||
      e.getMessage.toLowerCase.contains("partition"))
  }

  test("CALL graft.system.*: history, tag, restore, constraints, " +
      "compact and vacuum through pure SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    val dir = s"$warehouse/proc/t"
    VersionedTable.write((1L to 30L).map(i => (i, i)).toDF("k", "v"), dir)
    VersionedTable.append((31L to 50L).map(i => (i, i)).toDF("k", "v"),
      dir)
    assert(spark.sql("CALL graft.system.history('proc.t')").count() == 2)
    spark.sql("CALL graft.system.tag('proc.t', 'seed', 0)")
    assert(VersionedTable.tags(spark, dir).map(_._1) == Seq("seed"))
    val rv = spark.sql("CALL graft.system.restore('proc.t', 0)")
      .head().getLong(0)
    assert(rv == 2L, s"restore commits a NEW version, got $rv")
    assert(spark.sql("SELECT count(*) FROM graft.proc.t")
      .as[Long].head() == 30)
    // CHECK constraints via CALL: add enforces on later writes, drop
    // releases them
    spark.sql("CALL graft.system.add_constraint('proc.t', 'pos', 'k > 0')")
    intercept[Exception] {
      VersionedTable.append(Seq((-1L, 9L)).toDF("k", "v"), dir)
    }
    spark.sql("CALL graft.system.drop_constraint('proc.t', 'pos')")
    VersionedTable.append(Seq((-1L, 9L)).toDF("k", "v"), dir)
    // compact + vacuum keep the head readable; the tag pins v0
    spark.sql("CALL graft.system.compact('proc.t')")
    val removed = spark.sql("CALL graft.system.vacuum('proc.t', 1)")
      .head().getInt(0)
    assert(removed >= 0)
    assert(spark.sql("SELECT count(*) FROM graft.proc.t")
      .as[Long].head() == 31)
    assert(spark.sql("SELECT count(*) FROM graft.proc.t VERSION AS OF 0")
      .as[Long].head() == 30, "tagged version must survive vacuum")
    spark.sql("CALL graft.system.untag('proc.t', 'seed')")
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.nope('proc.t')") }
    assert(e.getMessage.contains("FAILED_TO_LOAD_ROUTINE") ||
      e.getMessage.contains("unknown procedure"))
  }

  test("table properties surface the pinned snapshot: version, file " +
      "count, manifest-exact row count (DESCRIBE EXTENDED)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.props")
    val dir = s"$warehouse/props/t"
    VersionedTable.write((1L to 45L).map(i => (i, i)).toDF("k", "v"), dir)
    VersionedTable.append((46L to 70L).map(i => (i, i)).toDF("k", "v"),
      dir)
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft.props.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val props = desc.getOrElse("Table Properties", "")
    assert(props.contains("snapshot-version=1"), s"props: $props")
    assert(props.contains("num-rows=70"), s"props: $props")
    assert(props.contains("num-files="), s"props: $props")
    // provider/location are Spark-reserved keys rendered in their own
    // DESCRIBE rows, not under Table Properties
  }


  test("ALTER TABLE: ADD COLUMN evolves metadata-only; constraints " +
      "ride TBLPROPERTIES; everything else throws") {
    warehouse
    spark.sql("CREATE TABLE graft.alt (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.alt VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE graft.alt ADD COLUMN note STRING")
    // old rows null-fill; new writes carry the column
    spark.sql("INSERT INTO graft.alt VALUES (3, 30, 'n3')")
    assert(spark.sql("SELECT count(*) FROM graft.alt WHERE note IS NULL")
      .as[Long].head() == 2)
    // time travel across the evolution boundary keeps the old schema
    assert(!spark.sql("SELECT * FROM graft.alt VERSION AS OF 1")
      .columns.contains("note"))
    // constraint via properties: enforced, droppable
    spark.sql("ALTER TABLE graft.alt SET TBLPROPERTIES " +
      "('constraint.vpos' = 'v > 0')")
    intercept[Exception] {
      spark.sql("INSERT INTO graft.alt VALUES (4, -1, 'bad')") }
    spark.sql("ALTER TABLE graft.alt UNSET TBLPROPERTIES " +
      "('constraint.vpos')")
    spark.sql("INSERT INTO graft.alt VALUES (4, -1, 'ok')")
    assert(spark.sql("SELECT count(*) FROM graft.alt")
      .as[Long].head() == 4)
    // general TBLPROPERTIES (round 10): committed in the manifest,
    // round-trip through SHOW TBLPROPERTIES, unset removes
    spark.sql("ALTER TABLE graft.alt SET TBLPROPERTIES ('x' = 'y')")
    assert(spark.sql("SHOW TBLPROPERTIES graft.alt")
      .filter(col("key") === "x").select("value").as[String]
      .collect().toSeq == Seq("y"))
    spark.sql("ALTER TABLE graft.alt UNSET TBLPROPERTIES ('x')")
    assert(spark.sql("SHOW TBLPROPERTIES graft.alt")
      .filter(col("key") === "x").count() == 0)
    intercept[Exception] { // duplicate (case-insensitive) column
      spark.sql("ALTER TABLE graft.alt ADD COLUMN K STRING") }
    spark.sql("DROP TABLE graft.alt")
  }

  test("RENAME COLUMN: metadata-only via column mapping — old files " +
      "keep serving data, stats keep pruning, time travel keeps old " +
      "names, renamed-key DML works") {
    warehouse
    spark.sql("CREATE TABLE graft.ren (k BIGINT, v BIGINT)")
    // several clustered commits so stats pruning is observable
    val root = spark.conf.get("spark.sql.catalog.graft.root") + "/ren"
    (0 until 4).foreach { b =>
      VersionedTable.append((b * 100L + 1 to b * 100L + 100)
        .map(i => (i, i * 2)).toDF("k", "v").coalesce(1), root)
    }
    spark.sql("ALTER TABLE graft.ren RENAME COLUMN k TO id")
    // values survive under the new name (no null-fill!)
    assert(spark.sql("SELECT SUM(id) FROM graft.ren").head().getLong(0)
      == (1L to 400L).sum)
    assert(spark.table("graft.ren").columns.toSeq == Seq("id", "v"))
    // manifest stats (keyed by the frozen physical name) still prune
    // filters on the LOGICAL name through both front doors
    val kept = VersionedTable.readWhere(spark, root,
      col("id") <= 50L)
    assert(kept.inputFiles.length == 1,
      s"rename must not blind stats pruning: ${kept.inputFiles.length}")
    assert(kept.count() == 50)
    assert(spark.sql("SELECT count(*) FROM graft.ren WHERE id <= 50")
      .head().getLong(0) == 50)
    // time travel shows the pre-rename schema
    assert(spark.sql("SELECT * FROM graft.ren VERSION AS OF 2")
      .columns.toSeq == Seq("k", "v"))
    // inserts + DML on the renamed column
    spark.sql("INSERT INTO graft.ren VALUES (1000, 1)")
    spark.sql("UPDATE graft.ren SET v = 7 WHERE id = 1000")
    assert(spark.sql("SELECT v FROM graft.ren WHERE id = 1000").head()
      .getLong(0) == 7L)
    // old-name references fail; re-renaming back works
    intercept[Exception] {
      spark.sql("SELECT k FROM graft.ren").collect() }
    spark.sql("ALTER TABLE graft.ren RENAME COLUMN id TO k")
    assert(spark.sql("SELECT SUM(k) FROM graft.ren").head().getLong(0)
      == (1L to 400L).sum + 1000L)
    spark.sql("DROP TABLE graft.ren")
    // a CLUSTER BY spec follows its renamed column in the same commit
    spark.sql("CREATE TABLE graft.rencb (a BIGINT, b BIGINT) " +
      "CLUSTER BY (a, b)")
    spark.sql("ALTER TABLE graft.rencb RENAME COLUMN a TO a2")
    assert(spark.sql("SHOW TBLPROPERTIES graft.rencb")
      .filter(col("key") === VersionedTable.ClusteringProp)
      .select("value").as[String].head() == "a2,b",
      "graft.clustering must track the rename")
    spark.sql("DROP TABLE graft.rencb")
  }

  test("DROP COLUMN narrows metadata-only; TRUNCATE TABLE; CALL clone " +
      "branches zero-copy; SHOW TBLPROPERTIES surfaces constraints") {
    warehouse
    spark.sql("CREATE TABLE graft.misc (k BIGINT, v BIGINT, junk STRING)")
    spark.sql("INSERT INTO graft.misc VALUES (1, 10, 'a'), (2, 20, 'b')")
    // DROP COLUMN: reads stop projecting; time travel keeps it
    spark.sql("ALTER TABLE graft.misc DROP COLUMN junk")
    assert(spark.table("graft.misc").columns.toSeq == Seq("k", "v"))
    assert(spark.sql("SELECT * FROM graft.misc VERSION AS OF 1")
      .columns.contains("junk"))
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.misc DROP COLUMN nope") }
    spark.sql("ALTER TABLE graft.misc DROP COLUMN IF EXISTS nope") // ok
    // dropping a constraint's column is refused with the actionable fix
    spark.sql("ALTER TABLE graft.misc SET TBLPROPERTIES " +
      "('constraint.vbig' = 'v >= 10')")
    val refuse = intercept[Exception] {
      spark.sql("ALTER TABLE graft.misc DROP COLUMN v") }
    assert(refuse.getMessage.contains("vbig"), refuse.getMessage)
    spark.sql("ALTER TABLE graft.misc UNSET TBLPROPERTIES " +
      "('constraint.vbig')")
    // constraints surface as properties (round-trip with SET/UNSET)
    spark.sql("ALTER TABLE graft.misc SET TBLPROPERTIES " +
      "('constraint.kpos' = 'k > 0')")
    val props = spark.sql("SHOW TBLPROPERTIES graft.misc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("constraint.kpos").contains("k > 0"), s"got $props")
    // CALL clone: zero-copy branch, reads equal, diverges on write
    spark.sql("CALL graft.system.clone('misc', 'misc2', -1)")
    assert(spark.sql("SELECT sum(k) FROM graft.misc2").as[Long].head()
      == 3)
    spark.sql("INSERT INTO graft.misc2 VALUES (9, 90)")
    assert(spark.sql("SELECT count(*) FROM graft.misc").as[Long].head()
      == 2, "source unmoved by clone writes")
    intercept[Exception] { // existing target refused
      spark.sql("CALL graft.system.clone('misc', 'misc2', -1)") }
    // TRUNCATE TABLE (TruncatableTable via the SupportsDelete seam)
    spark.sql("TRUNCATE TABLE graft.misc2")
    assert(spark.sql("SELECT count(*) FROM graft.misc2").as[Long].head()
      == 0)
    spark.sql("DROP TABLE graft.misc")
    spark.sql("DROP TABLE graft.misc2")
  }

  test("CREATE TABLE ... CLUSTER BY: spec stored as a property, " +
      "inserts range-cluster, optimize_zorder defaults its columns") {
    warehouse
    spark.sql("CREATE TABLE graft.cb (x BIGINT, y BIGINT, p STRING) " +
      "CLUSTER BY (x, y)")
    assert(spark.sql("SHOW TBLPROPERTIES graft.cb")
      .filter(col("key") === VersionedTable.ClusteringProp)
      .select("value").as[String].collect().toSeq == Seq("x,y"),
      "CLUSTER BY must persist as the clustering property")
    // hash-scattered insert: row i lands at (i%101, i/101) — no ingest
    // order correlation with either clustering key
    import scala.util.Random
    val r = new Random(7)
    val rows = r.shuffle((0L until 4000L).toVector)
      .map(i => (i % 101, i / 101, s"p$i"))
    rows.toDF("x", "y", "p").createOrReplaceTempView("cb_src")
    spark.sql("INSERT INTO graft.cb SELECT * FROM cb_src")
    val root = spark.conf.get("spark.sql.catalog.graft.root") + "/cb"
    // clustered INSERT: x-ranges must be near-disjoint across files,
    // so a selective x filter prunes most files at the manifest
    val preFiles = VersionedTable.snapshot(spark, root).files.size
    if (preFiles > 1) {
      val kept = VersionedTable.readWhere(spark, root,
        col("x") === 7L).inputFiles.length
      assert(kept < preFiles,
        s"clustered insert must let x=7 prune: kept $kept of $preFiles")
    }
    // scatter the layout (plain library appends bypass the catalog's
    // clustering), then CALL optimize_zorder with NO column / n_files
    // arguments: columns default from CLUSTER BY, and the z-order
    // restores multi-dimensional pruning
    VersionedTable.append(rows.map { case (x, y, p) =>
      (x, y, p + "z") }.toDF("x", "y", "p").repartition(8), root)
    val content = spark.table("graft.cb").orderBy("x", "y", "p")
      .collect().toSeq
    spark.sql("CALL graft.system.optimize_zorder('cb')")
    val snap = VersionedTable.snapshot(spark, root)
    val quadrant = VersionedTable.readWhere(spark, root,
      col("x") < 25L && col("y") < 10L)
    assert(quadrant.inputFiles.length < snap.files.size,
      s"z-order from the CLUSTER BY spec must quadrant-prune: read " +
        s"${quadrant.inputFiles.length} of ${snap.files.size}")
    assert(spark.table("graft.cb").orderBy("x", "y", "p")
      .collect().toSeq == content, "layout job must not change content")
    // PARTITIONED BY stays rejected (directory layouts bypass stats)
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.cbp (k BIGINT) PARTITIONED BY (k)") }
    spark.sql("DROP TABLE graft.cb")
    spark.catalog.dropTempView("cb_src")
  }

  test("ALTER TABLE ADD COLUMNS is atomic: a bad second column leaves " +
      "the first uncommitted; re-adding a dropped name is refused " +
      "while its data files live") {
    warehouse
    spark.sql("CREATE TABLE graft.atomic (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.atomic VALUES (1, 10)")
    // second ADD collides (case-insensitive) -> NEITHER column lands
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.atomic ADD COLUMNS (a STRING, V LONG)")
    }
    assert(spark.table("graft.atomic").columns.toSeq == Seq("k", "v"),
      "failed ADD COLUMNS must leave the schema untouched (atomicity)")
    // drop v, then re-add the SAME name: the live file still carries
    // v's bytes, but the re-added column gets a FRESH physical name
    // (column mapping) — it reads NULL, never the resurrected values
    // (advisor finding, round 9)
    spark.sql("ALTER TABLE graft.atomic DROP COLUMN v")
    spark.sql("ALTER TABLE graft.atomic ADD COLUMN v BIGINT")
    assert(spark.sql("SELECT v FROM graft.atomic WHERE k = 1").head()
      .isNullAt(0), "re-added column reads NULL, not resurrected bytes")
    // ...and round-trips real values in new writes
    spark.sql("INSERT INTO graft.atomic VALUES (2, 22)")
    assert(spark.sql("SELECT v FROM graft.atomic WHERE k = 2").head()
      .getLong(0) == 22L)
    // the mergeSchema APPEND path cannot remap (files stage before the
    // schema resolves) — it refuses the poisoned name instead
    val root = spark.conf.get("spark.sql.catalog.graft.root") + "/atomic"
    spark.sql("ALTER TABLE graft.atomic DROP COLUMN v")
    val ex = intercept[Exception] {
      VersionedTable.append(Seq((3L, 33L)).toDF("k", "v"), root,
        mergeSchema = true) }
    assert(ex.getMessage.contains("resurrect"), ex.getMessage)
    spark.sql("DROP TABLE graft.atomic")
  }

  test("ALTER COLUMN TYPE widening: metadata-only, old narrow files " +
      "upcast at scan, stats keep pruning, unsupported shapes refuse") {
    warehouse
    spark.sql("CREATE TABLE graft.wid (k INT, x FLOAT)")
    val root = spark.conf.get("spark.sql.catalog.graft.root") + "/wid"
    (0 until 3).foreach { b =>
      VersionedTable.append((b * 100 + 1 to b * 100 + 100)
        .map(i => (i, i / 2.0f)).toDF("k", "x").coalesce(1), root)
    }
    spark.sql("ALTER TABLE graft.wid ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE graft.wid ALTER COLUMN x TYPE DOUBLE")
    // values beyond int range land after the widen
    spark.sql("ALTER TABLE graft.wid ADD COLUMN tag STRING")
    spark.sql(s"INSERT INTO graft.wid VALUES (${1L << 40}, 0.5, 'w')")
    val r = spark.sql(
      "SELECT SUM(k), COUNT(*) FROM graft.wid").head()
    assert(r.getLong(0) == (1L to 300L).sum + (1L << 40) &&
      r.getLong(1) == 301)
    // stats pruning still works on the widened column (old int-era
    // bounds compare through exact BigDecimal)
    val kept = VersionedTable.readWhere(spark, root, col("k") <= 100L)
    assert(kept.inputFiles.length == 1,
      s"widen must not blind stats pruning: ${kept.inputFiles.length}")
    assert(kept.count() == 100)
    // time travel keeps the narrow type
    assert(spark.sql("SELECT * FROM graft.wid VERSION AS OF 1")
      .schema("k").dataType.simpleString == "int")
    // narrowing and non-promotable changes refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.wid ALTER COLUMN k TYPE INT") }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.wid ALTER COLUMN tag TYPE BIGINT") }
    spark.sql("DROP TABLE graft.wid")
  }

  test("rename crash recovery: an interrupted move repairs itself on " +
      "the next load (marker + idempotent rebase)") {
    import org.apache.hadoop.fs.Path
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv9")
    spark.sql("CREATE TABLE graft.mv9.src (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.mv9.src VALUES (1, 'a'), (2, 'b')")
    val fs = new Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val from = new Path(s"$warehouse/mv9/src")
    val to = new Path(s"$warehouse/mv9/dst")
    // simulate renameTable crashing right after the directory move:
    // intent marker written, dir moved, manifest rebase NOT run —
    // every manifest still points at the old (now nonexistent) root
    val marker = new Path(new Path(from, "_manifests"), "_rename-from")
    val os = fs.create(marker, true)
    os.write(fs.makeQualified(from).toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    os.close()
    assert(fs.rename(from, to))
    // loading through the catalog must finish the rebase and read fine
    assert(spark.sql("SELECT sum(k) FROM graft.mv9.dst")
      .as[Long].head() == 3)
    assert(!fs.exists(new Path(new Path(to, "_manifests"), "_rename-from")),
      "marker must be cleared after recovery")
    assert(spark.sql("SELECT count(*) FROM graft.mv9.dst VERSION AS OF 1")
      .as[Long].head() == 2, "time travel survives the repaired move")

    // simulate a crash INSIDE the rebase swap itself: a manifest
    // replaced by its complete .rebase temp (deleted target, rename
    // pending) — the recovery pass must finish the swap, never lose
    // the version
    val mdir = new Path(to, "_manifests")
    val m1 = fs.listStatus(mdir).map(_.getPath)
      .filter(p => p.getName.startsWith("v") &&
        p.getName.endsWith(".json")).minBy(_.getName)
    val bytes = new Array[Byte](fs.getFileStatus(m1).getLen.toInt)
    val in = fs.open(m1); in.readFully(bytes); in.close()
    val tmp = new Path(mdir, m1.getName + ".rebase")
    val os2 = fs.create(tmp, true); os2.write(bytes); os2.close()
    assert(fs.delete(m1, false))
    val os3 = fs.create(new Path(mdir, "_rename-from"), true)
    os3.write(fs.makeQualified(to).toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    os3.close()
    assert(spark.sql("SELECT count(*) FROM graft.mv9.dst VERSION AS OF 0")
      .as[Long].head() == 0, "the swapped-out version is restored")
    assert(fs.exists(m1) && !fs.exists(tmp))
    spark.sql("DROP TABLE graft.mv9.dst")
  }

  test("top-level tables (empty namespace) work") {
    warehouse
    spark.sql("CREATE TABLE graft.toplevel (k BIGINT)")
    spark.sql("INSERT INTO graft.toplevel VALUES (5), (6)")
    assert(spark.sql("SELECT sum(k) FROM graft.toplevel")
      .as[Long].head() == 11)
    spark.sql("DROP TABLE graft.toplevel")
  }
}
