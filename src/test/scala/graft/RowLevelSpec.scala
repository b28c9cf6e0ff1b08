package graft

import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._

/** SQL MERGE INTO / UPDATE / DELETE on lake tables — the group-based
  * copy-on-write row-level path (GraftRowLevelOperation +
  * VersionedTable.commitReplace): correctness of all three commands,
  * untouched groups carried by identity, time travel across the
  * rewrite, CHECK constraints validating the rewrite's own
  * materialization, and empty-replacement edge cases. */
class RowLevelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = tmpDir("graftrl")
    spark.conf.set("spark.sql.catalog.grl",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grl.root", w)
    w
  }

  private def freshTable(name: String): String = {
    warehouse
    val root = s"$warehouse/$name"
    (0 until 4).foreach { b =>
      VersionedTable.append((b * 100L + 1 to b * 100L + 100)
        .map(i => (i, i * 2, "base")).toDF("k", "v", "tag")
        .coalesce(1), root)
    }
    root
  }

  test("UPDATE: rewrites only files that can hold matches; values and " +
      "time travel exact") {
    val root = freshTable("upd")
    val pre = VersionedTable.snapshot(spark, root).files.toSet
    spark.sql("UPDATE grl.upd SET v = v + 1, tag = 'upd' WHERE k <= 50")
    val post = VersionedTable.snapshot(spark, root)
    assert(post.files.toSet.intersect(pre).size == 3,
      "the k<=50 static filter must prune the rewrite to file 1 of 4")
    val got = spark.sql(
      "SELECT count(*), sum(v) FROM grl.upd WHERE tag = 'upd'").head()
    assert(got.getLong(0) == 50 &&
      got.getLong(1) == (1L to 50L).map(_ * 2 + 1).sum)
    assert(spark.sql("SELECT count(*) FROM grl.upd").head().getLong(0)
      == 400, "unmatched rows carried")
    // pre-rewrite version intact
    assert(spark.read.format("graft").option("versionAsOf", 3).load(root)
      .filter(col("tag") === "upd").count() == 0)
  }

  test("DELETE: removes exactly the matching rows as a new commit") {
    freshTable("del")
    spark.sql("DELETE FROM grl.del WHERE k % 2 = 0")
    assert(spark.sql("SELECT count(*), min(k) FROM grl.del").head()
      match { case r => r.getLong(0) == 200 && r.getLong(1) == 1L })
    // a delete matching nothing commits no lost rows
    spark.sql("DELETE FROM grl.del WHERE k > 100000")
    assert(spark.sql("SELECT count(*) FROM grl.del").head()
      .getLong(0) == 200)
  }

  test("MERGE: delete/update/insert arms in one statement, " +
      "oracle-style replay") {
    freshTable("mrg")
    Seq((10L, 1000L), (20L, 2000L), (450L, 4500L))
      .toDF("k", "nv").createOrReplaceTempView("rl_src")
    spark.sql(
      """MERGE INTO grl.mrg t USING rl_src s ON t.k = s.k
        |WHEN MATCHED AND s.k = 20 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.nv, tag = 'm'
        |WHEN NOT MATCHED THEN INSERT (k, v, tag)
        |  VALUES (s.k, s.nv, 'i')""".stripMargin)
    val byTag = spark.sql(
      "SELECT tag, count(*) AS n FROM grl.mrg GROUP BY tag ORDER BY tag")
      .as[(String, Long)].collect().toSeq
    assert(byTag == Seq(("base", 398L), ("i", 1L), ("m", 1L)),
      s"got $byTag")
    assert(spark.sql("SELECT v FROM grl.mrg WHERE k = 10").head()
      .getLong(0) == 1000L)
    assert(spark.sql("SELECT count(*) FROM grl.mrg WHERE k = 20").head()
      .getLong(0) == 0L)
    assert(spark.sql("SELECT v, tag FROM grl.mrg WHERE k = 450").head()
      match { case r => r.getLong(0) == 4500L && r.getString(1) == "i" })
    spark.catalog.dropTempView("rl_src")
  }

  test("CHECK constraints validate the rewrite's own materialization: " +
      "a violating UPDATE aborts, table unchanged") {
    val root = freshTable("con")
    VersionedTable.addConstraint(spark, root, "v_pos", "v >= 0")
    val preVersions = VersionedTable.versions(spark, root).size
    val bad = intercept[Exception] {
      spark.sql("UPDATE grl.con SET v = -5 WHERE k = 7")
    }
    assert(bad.getMessage != null)
    assert(VersionedTable.versions(spark, root).size == preVersions,
      "failed rewrite must not commit")
    assert(spark.sql("SELECT v FROM grl.con WHERE k = 7").head()
      .getLong(0) == 14L, "table content unchanged after abort")
    // a clean update still lands under the constraint
    spark.sql("UPDATE grl.con SET v = 0 WHERE k = 7")
    assert(spark.sql("SELECT v FROM grl.con WHERE k = 7").head()
      .getLong(0) == 0L)
  }

  test("DELETE planning: filter-expressible predicates take the " +
      "SupportsDelete fast path, inexpressible ones the COW rewrite") {
    freshTable("dpl")
    val fast = spark.sql("EXPLAIN DELETE FROM grl.dpl WHERE k > 350")
      .collect().head.getString(0)
    assert(!fast.contains("ReplaceData"),
      s"a range DELETE must not plan a rewrite:\n$fast")
    val slow = spark.sql("EXPLAIN DELETE FROM grl.dpl WHERE k % 2 = 0")
      .collect().head.getString(0)
    assert(slow.contains("ReplaceData"),
      s"a modulo DELETE needs the row-level rewrite:\n$slow")
    // both execute correctly
    spark.sql("DELETE FROM grl.dpl WHERE k > 350")
    assert(spark.sql("SELECT count(*) FROM grl.dpl").head()
      .getLong(0) == 350)
    spark.sql("DELETE FROM grl.dpl WHERE k % 2 = 0")
    assert(spark.sql("SELECT count(*), max(k) FROM grl.dpl").head()
      match { case r => r.getLong(0) == 175 && r.getLong(1) == 349L })
  }

  test("MERGE with NOT MATCHED BY SOURCE touches target rows in files " +
      "the source never reaches (group filtering must not drop them)") {
    val root = freshTable("nms")
    // source touches only the first file's key range; the BY SOURCE
    // arm must still update rows in ALL files
    Seq((10L, 1000L)).toDF("k", "nv").createOrReplaceTempView("nms_src")
    spark.sql(
      """MERGE INTO grl.nms t USING nms_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv, tag = 'm'
        |WHEN NOT MATCHED BY SOURCE AND t.k > 390 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.k % 100 = 0
        |  THEN UPDATE SET tag = 'nms'""".stripMargin)
    val r = spark.sql(
      "SELECT count(*), sum(CASE WHEN tag = 'nms' THEN 1 ELSE 0 END), " +
        "sum(CASE WHEN tag = 'm' THEN 1 ELSE 0 END) FROM grl.nms").head()
    assert(r.getLong(0) == 390, s"rows k>390 deleted: $r")
    assert(r.getLong(1) == 3,
      s"k=100,200,300 in THREE different files must be tagged: $r")
    assert(r.getLong(2) == 1, s"k=10 updated via match: $r")
    assert(spark.sql("SELECT v FROM grl.nms WHERE k = 10").head()
      .getLong(0) == 1000L)
  }

  test("commitReplace: a concurrent rewrite of a scanned file aborts " +
      "the row-level commit (write-serializable), nothing published") {
    val root = freshTable("cc")
    val snap = VersionedTable.snapshot(spark, root)
    // victim = the file actually holding k = 1 (manifest order is not
    // append order), so the concurrent upsert below rewrites it
    val victim = snap.files.find(f =>
      snap.stats(f).get("k").exists(_.min.contains("1"))).get
    VersionedTable.upsert(Seq((1L, 999L, "cw")).toDF("k", "v", "tag"),
      root, Seq("k"))
    val preVersions = VersionedTable.versions(spark, root)
    // a row-level commit planned against the OLD snapshot must refuse:
    // its scanned file no longer exists in the head
    val ex = intercept[Exception] {
      VersionedTable.commitReplace(spark, root, Set(victim), Seq.empty)
    }
    assert(ex.getMessage.contains("conflict"),
      s"wanted the conflict abort, got: ${ex.getMessage}")
    assert(VersionedTable.versions(spark, root) == preVersions,
      "failed row-level commit must not publish a version")
  }

  test("commitReplace: an addColumns that lands between the statement's " +
      "head read and its commit survives the row-level commit") {
    import org.apache.spark.sql.types.{StringType, StructField}
    val root = freshTable("race")
    val victim = VersionedTable.snapshot(spark, root).files.head
    val stage = s"$warehouse/race-stage"
    spark.read.parquet(victim).filter(col("k") % 2 === 0).coalesce(1)
      .write.parquet(stage)
    val written = new java.io.File(stage).listFiles.toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(fl => org.apache.spark.sql.graft.WrittenFile(
        fl.toURI.toString, fl.length, fl.lastModified, 50L))
    // opJson runs after commitReplace has read the head and before the
    // commit loop claims a version: the concurrent writer's window
    VersionedTable.commitReplace(spark, root, Set(victim), written,
      opJson = _ => {
        VersionedTable.addColumns(spark, root,
          Seq(StructField("note", StringType)))
        None
      })
    val head = VersionedTable.snapshot(spark, root)
    assert(head.schema.fieldNames.contains("note"),
      s"the row-level commit republished a stale schema: ${head.schema}")
    assert(!head.files.contains(victim))
    val back = spark.read.format("graft").load(root)
    assert(back.count() == 350 &&
      back.filter(col("note").isNotNull).count() == 0)
  }

  test("spark.graft.rowlevel.groupFilterColumn redirects group " +
      "filtering to the clustered column") {
    warehouse
    val root = s"$warehouse/gfc"
    // leading column a is scattered (i % 37 spans every file); files
    // are range-clustered by the SECOND column b — the default
    // leading-column heuristic cannot prune here, the override can
    (0 until 4).foreach { bkt =>
      VersionedTable.append((bkt * 100L + 1 to bkt * 100L + 100)
        .map(i => (i % 37, i, "base")).toDF("a", "b", "tag")
        .coalesce(1), root)
    }
    val pre = VersionedTable.snapshot(spark, root).files.toSet
    Seq((10L, 99L), (20L, 98L)).toDF("b", "nv")
      .createOrReplaceTempView("gfc_src")
    spark.conf.set("spark.graft.rowlevel.groupFilterColumn", "b")
    try spark.sql(
      """MERGE INTO grl.gfc t USING gfc_src s ON t.b = s.b
        |WHEN MATCHED THEN UPDATE SET a = s.nv, tag = 'm'""".stripMargin)
    finally spark.conf.unset("spark.graft.rowlevel.groupFilterColumn")
    val carried = VersionedTable.snapshot(spark, root).files.toSet
      .intersect(pre).size
    assert(carried == 3,
      s"group filter on b must rewrite only the 1-100 file; carried " +
        s"$carried of 4")
    assert(spark.sql("SELECT count(*) FROM grl.gfc WHERE tag = 'm'")
      .head().getLong(0) == 2)
    spark.catalog.dropTempView("gfc_src")
  }

  test("_graft_file metadata column: selectable, one constant per " +
      "data file, matching the manifest") {
    val root = freshTable("gfm")
    val files = VersionedTable.snapshot(spark, root).files.toSet
    val got = spark.sql(
      "SELECT DISTINCT _graft_file FROM grl.gfm").as[String]
      .collect().toSet
    assert(got == files,
      s"metadata column must emit the manifest paths; got $got")
    // per-row correctness: every k=1..100 row came from the same file
    val f1 = spark.sql(
      "SELECT DISTINCT _graft_file FROM grl.gfm WHERE k <= 100")
      .as[String].collect()
    assert(f1.length == 1, s"k 1-100 live in one file, got ${f1.length}")
  }

  test("EXACT group filtering via _graft_file: MERGE on a NON-leading " +
      "key with NO groupFilterColumn conf rewrites only match files") {
    warehouse
    val root = s"$warehouse/xgf"
    // leading column a is scattered (i % 37 spans every file); files
    // range-cluster on the SECOND column b. Before round 10 the
    // default heuristic (leading stat column a) admitted every file;
    // the _graft_file runtime group filter must pin the rewrite to the
    // ONE file holding b in {10, 20} — with no conf set.
    (0 until 4).foreach { bkt =>
      VersionedTable.append((bkt * 100L + 1 to bkt * 100L + 100)
        .map(i => (i % 37, i, "base")).toDF("a", "b", "tag")
        .coalesce(1), root)
    }
    val pre = VersionedTable.snapshot(spark, root).files.toSet
    Seq((10L, 99L), (20L, 98L)).toDF("b", "nv")
      .createOrReplaceTempView("xgf_src")
    spark.sql(
      """MERGE INTO grl.xgf t USING xgf_src s ON t.b = s.b
        |WHEN MATCHED THEN UPDATE SET a = s.nv, tag = 'm'""".stripMargin)
    val carried = VersionedTable.snapshot(spark, root).files.toSet
      .intersect(pre).size
    assert(carried == 3,
      s"_graft_file group filter must rewrite only the b=1..100 file; " +
        s"carried $carried of 4")
    assert(spark.sql("SELECT count(*) FROM grl.xgf WHERE tag = 'm'")
      .head().getLong(0) == 2)
    assert(spark.sql("SELECT count(*) FROM grl.xgf").head()
      .getLong(0) == 400, "untouched rows carried")
    // prune audit: the commit's history row records the chosen filter
    // and candidate vs rewritten counts (VERDICT r9 item 6)
    val op = VersionedTable.history(spark, root)
      .orderBy(col("version").desc).limit(1)
      .select("operation").as[Option[String]].head()
    assert(op.isDefined, "row-level commit must record an #op: entry")
    assert(op.get.contains("\"group_filter\":\"_graft_file\""), op.get)
    assert(op.get.contains("\"scanned_files\":1") &&
      op.get.contains("\"rewritten_files\":1") &&
      op.get.contains("\"table_files\":4"), op.get)
    spark.catalog.dropTempView("xgf_src")
  }

  test("the prune audit counts files removed and files added apart: " +
      "with AQE off one rewritten file comes back as several") {
    warehouse
    val root = s"$warehouse/xgfna"
    (0 until 4).foreach { bkt =>
      VersionedTable.append((bkt * 100L + 1 to bkt * 100L + 100)
        .map(i => (i % 37, i, "base")).toDF("a", "b", "tag")
        .coalesce(1), root)
    }
    val pre = VersionedTable.snapshot(spark, root).files.toSet
    Seq((10L, 99L), (20L, 98L)).toDF("b", "nv")
      .createOrReplaceTempView("xgfna_src")
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try spark.sql(
      """MERGE INTO grl.xgfna t USING xgfna_src s ON t.b = s.b
        |WHEN MATCHED THEN UPDATE SET a = s.nv, tag = 'm'""".stripMargin)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val post = VersionedTable.snapshot(spark, root).files.toSet
    assert(post.intersect(pre).size == 3, "carried 3 of 4 files")
    val added = post.diff(pre).size
    assert(added > 1, s"no coalescing: one file per non-empty task, got $added")
    val op = VersionedTable.history(spark, root)
      .orderBy(col("version").desc).limit(1)
      .select("operation").as[Option[String]].head().get
    assert(op.contains("\"scanned_files\":1") &&
      op.contains("\"rewritten_files\":1") &&
      op.contains(s"\"added_files\":$added"), op)
    assert(spark.sql("SELECT count(*) FROM grl.xgfna WHERE tag = 'm'")
      .head().getLong(0) == 2)
    assert(spark.sql("SELECT count(*) FROM grl.xgfna").head()
      .getLong(0) == 400)
    spark.catalog.dropTempView("xgfna_src")
  }

  test("Spark-upgrade pins: the row-level protocol classes and plan " +
      "shapes WriteBridge/GraftRowLevel depend on") {
    // fail DESCRIPTIVELY on a Spark upgrade that moves the machinery
    // the row-level path integrates with (VERDICT r9 item 8; the two
    // watch items live in WriteBridge.scala and GraftRowLevel.scala)
    Seq(
      // plans the rewrite scan BEFORE the runtime-filter subquery's —
      // GraftRowLevelScanBuilder's first-build-wins depends on it
      "org.apache.spark.sql.execution.datasources.v2." +
        "GroupBasedRowLevelOperationScanPlanning",
      // builds the _graft_file IN filter from filterAttributes()
      "org.apache.spark.sql.execution.dynamicpruning." +
        "RowLevelOperationRuntimeGroupFiltering",
      // applies the writing projection that strips [op | meta] columns
      // before rows reach GraftParquetDataWriter
      "org.apache.spark.sql.catalyst.util.ReplaceDataProjections",
      "org.apache.spark.sql.execution.datasources.v2.ReplaceDataExec"
    ).foreach { cn =>
      assert(scala.util.Try(Class.forName(cn)).isSuccess,
        s"Spark upgrade moved $cn — re-audit WriteBridge's projection " +
          "detection (numFields == nCols(+1)) and GraftRowLevel's " +
          "first-build-wins scan registration before trusting DML")
    }
    // behavior pin: an executed MERGE proves (a) the rewrite routed
    // its scan through the operation (commit() requires it), (b) the
    // writer saw a projectable row shape, (c) runtime group filtering
    // fed the scan's final file list into commitReplace — all three
    // break loudly here if an upgrade changes plan shape
    val root = freshTable("pin")
    Seq((5L, 50L)).toDF("k", "nv").createOrReplaceTempView("pin_src")
    spark.sql(
      """MERGE INTO grl.pin t USING pin_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    assert(spark.sql("SELECT v FROM grl.pin WHERE k = 5").head()
      .getLong(0) == 50L)
    val op = VersionedTable.history(spark, root)
      .orderBy(col("version").desc).limit(1)
      .select("operation").as[Option[String]].head()
    assert(op.exists(_.contains("\"scanned_files\":1")),
      s"runtime group filter must have narrowed the scan to 1 file: $op")
    spark.catalog.dropTempView("pin_src")
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only columns auto-ADD " +
      "(one atomic metadata commit), old rows null-fill, time travel " +
      "keeps the pre-merge schema") {
    warehouse
    spark.sql("CREATE TABLE grl.mse (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO grl.mse VALUES (1, 10), (2, 20)")
    Seq((2L, 22L, "x2"), (3L, 33L, "x3")).toDF("k", "v", "note")
      .createOrReplaceTempView("mse_src")
    // Spark 4's native WITH SCHEMA EVOLUTION drives the catalog's
    // alterTable(AddColumn) — composing the r9 evolve path with the
    // row-level DML path. Without the clause, star expansion ignores
    // the extra source column: NO silent widening (pin that first,
    // then roll back so the evolution run starts from the base state)
    val preVersions = VersionedTable.versions(spark,
      s"$warehouse/mse").size
    spark.sql(
      """MERGE INTO grl.mse t USING mse_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("grl.mse").columns.toSeq == Seq("k", "v"),
      "a plain MERGE must not widen the schema")
    spark.sql(s"CALL grl.system.restore('mse', ${preVersions - 1})")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO grl.mse t
        |USING mse_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.table("grl.mse").orderBy("k")
      .as[(Long, Long, Option[String])].collect().toSeq
    assert(rows == Seq((1L, 10L, None), (2L, 22L, Some("x2")),
      (3L, 33L, Some("x3"))),
      s"matched updated + unmatched inserted + old row null-filled: $rows")
    // the evolution is a real commit: time travel before it shows the
    // narrow schema, and the add itself is visible in history
    assert(spark.sql("SELECT * FROM grl.mse VERSION AS OF 1")
      .columns.toSeq == Seq("k", "v"))
    spark.sql("DROP TABLE grl.mse")
    spark.catalog.dropTempView("mse_src")
  }

  test("a row-level write whose task throws leaves data/ with the same " +
      "files as before") {
    val root = freshTable("boom")
    def entries = new java.io.File(root, "data").list.toSet
    val before = entries
    spark.udf.register("rl_boom", (k: Long) => {
      if (k == 350L) throw new IllegalStateException("boom")
      k
    })
    intercept[Exception](
      spark.sql("UPDATE grl.boom SET v = rl_boom(k) WHERE k > 0"))
    assert(entries == before)
    assert(VersionedTable.versions(spark, root).size == 4)
    assert(spark.sql("SELECT sum(v) FROM grl.boom").head().getLong(0) ==
      (1L to 400L).map(_ * 2).sum)
  }

  test("row-level commits are ordinary history entries: vacuum-able, " +
      "restore-able") {
    val root = freshTable("his")
    spark.sql("DELETE FROM grl.his WHERE k <= 100")
    val vAfterDelete = VersionedTable.versions(spark, root).max
    spark.sql(s"CALL grl.system.restore('his', ${vAfterDelete - 1})")
    assert(spark.sql("SELECT count(*) FROM grl.his").head()
      .getLong(0) == 400, "restore undoes the SQL DELETE")
  }
}
