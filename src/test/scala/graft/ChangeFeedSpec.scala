package graft

import graft.sinks.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The lake's CHANGE FEED (round 10): net row-level changes per
  * commit, served three ways — the library function
  * ([[VersionedTable.changeFeed]]), the batch format option
  * (`readChangeFeed=true`), and the streaming CDC option — so
  * MERGE/UPDATE/DELETE-maintained tables can feed incremental
  * consumers without `ignoreChanges`. The invariant every test pins:
  * REPLAYING the feed over the base snapshot reproduces the head
  * snapshot exactly (incremental == recompute). */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def tmpBase(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Apply a change-feed frame to a keyed state: last change per key
    * wins (ordered by _commit_version), deletes drop the key. */
  private def applyFeed(base: DataFrame, feed: DataFrame,
      keys: Seq[String], cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_commit_version").desc)
    val last = feed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val survivors = last.filter(col("change_type") =!= "delete")
      .select(cols.map(col): _*)
    val touchedKeys = last.select(keys.map(col): _*).distinct()
    base.join(touchedKeys, keys, "left_anti")
      .select(cols.map(col): _*)
      .unionByName(survivors)
  }

  private def mkTable(root: String): Unit =
    (0 until 4).foreach { b =>
      VersionedTable.append((b * 100L + 1 to b * 100L + 100)
        .map(i => (i, i * 2, "base")).toDF("k", "v", "tag")
        .coalesce(1), root)
    }

  test("library changeFeed: per-commit net changes; replay over the " +
      "base snapshot reproduces the head (incremental == recompute)") {
    val base = tmpBase("cf1")
    val root = s"$base/t"
    mkTable(root) // v0..v3
    val v0 = VersionedTable.versions(spark, root).max // = 3
    // commit 1: upsert (2 updates + 1 insert); commit 2: delete;
    // commit 3: pure append
    VersionedTable.upsert(Seq((10L, -1L, "u"), (250L, -2L, "u"),
      (999L, -3L, "i")).toDF("k", "v", "tag"), root, Seq("k"))
    VersionedTable.deleteWhere(spark, root, col("k").between(30L, 35L))
    VersionedTable.append(Seq((1000L, 1L, "a")).toDF("k", "v", "tag"),
      root)
    val feed = VersionedTable.changeFeed(spark, root, Seq("k"), v0)
    val byType = feed.groupBy("change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("update" -> 2L, "insert" -> 2L, "delete" -> 6L),
      s"net changes: $byType")
    // the upsert commit's carried rows (same file, same values) and
    // the append's untouched files must NOT appear in the feed
    assert(feed.filter(col("tag") === "base").count() == 6,
      "only the 6 deleted base rows surface; carried rows are silent")
    // replay == recompute
    val cols = Seq("k", "v", "tag")
    val replayed = applyFeed(
      VersionedTable.read(spark, root, Some(v0)), feed, Seq("k"), cols)
    val head = VersionedTable.read(spark, root)
    assert(replayed.orderBy("k").collect().toSeq ==
      head.orderBy("k").collect().toSeq,
      "applying the feed to the base must reproduce the head")
  }

  test("changeFeed is file-pruned per commit: a 1-file MERGE diffs " +
      "one file pair, and layout-only commits emit nothing") {
    val base = tmpBase("cf2")
    val root = s"$base/t"
    mkTable(root)
    val v0 = VersionedTable.versions(spark, root).max
    VersionedTable.upsert(Seq((7L, 77L, "u")).toDF("k", "v", "tag"),
      root, Seq("k"))
    // compact rewrites files without changing content
    VersionedTable.compact(spark, root, smallBytes = 1L << 30)
    val feed = VersionedTable.changeFeed(spark, root, Seq("k"), v0)
    val rows = feed.select("k", "v", "change_type", "_commit_version")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(rows == Seq((7L, 77L, "update", v0 + 1)),
      s"one update from the upsert, NOTHING from the compact: $rows")
  }

  test("batch format read: readChangeFeed=true serves the same net " +
      "changes through spark.read") {
    val base = tmpBase("cf3")
    val root = s"$base/t"
    mkTable(root)
    val v0 = VersionedTable.versions(spark, root).max
    VersionedTable.upsert(Seq((10L, -1L, "u")).toDF("k", "v", "tag"),
      root, Seq("k"))
    VersionedTable.deleteWhere(spark, root, col("k") === 200L)
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("changeFeedKeys", "k")
      .option("startingVersion", v0)
      .load(root)
    assert(feed.columns.takeRight(2).toSeq ==
      Seq("change_type", "_commit_version"))
    val got = feed.select("k", "change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((10L, "update", v0 + 1), (200L, "delete", v0 + 2)),
      s"got $got")
    // endingVersion bounds the window
    val bounded = spark.read.format("graft")
      .option("readChangeFeed", "true").option("changeFeedKeys", "k")
      .option("startingVersion", v0).option("endingVersion", v0 + 1)
      .load(root)
    assert(bounded.select("change_type").as[String].collect().toSeq ==
      Seq("update"))
    // missing keys fail loud
    intercept[Exception] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .load(root).collect()
    }
  }

  test("streaming CDC: a SQL-MERGE-maintained table feeds a stream " +
      "(no ignoreChanges), incremental matview == recompute") {
    val base = tmpBase("cf4")
    val root = s"$base/t"; val out = s"$base/out"; val ck = s"$base/ck"
    spark.conf.set("spark.sql.catalog.gcf",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcf.root", base)
    mkTable(s"$base/t")
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true").option("changeFeedKeys", "k")
        .load(root)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.streams.resetTerminated()
    }
    runOnce() // bootstrap: the base snapshot as inserts
    assert(spark.read.parquet(out)
      .filter(col("change_type") === "insert").count() == 400)
    // maintain the table via SQL MERGE (a rewrite commit — the plain
    // stream would fail loud here without ignoreChanges)
    Seq((10L, 1000L), (20L, 2000L), (450L, 4500L)).toDF("k", "nv")
      .createOrReplaceTempView("cfs_src")
    spark.sql(
      """MERGE INTO gcf.t t USING cfs_src s ON t.k = s.k
        |WHEN MATCHED AND s.k = 20 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.nv, tag = 'm'
        |WHEN NOT MATCHED THEN INSERT (k, v, tag)
        |  VALUES (s.k, s.nv, 'i')""".stripMargin)
    runOnce() // increments only
    val feed = spark.read.parquet(out)
    val changes = feed.filter(col("_commit_version") > 3)
      .select("k", "change_type").as[(Long, String)].collect().toSet
    assert(changes == Set((10L, "update"), (20L, "delete"),
      (450L, "insert")), s"MERGE arms as CDC rows: $changes")
    // incremental state from the full feed == the head table
    val state = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("k")
        .orderBy(col("_commit_version").desc)
      feed.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && col("change_type") =!= "delete")
        .select("k", "v", "tag")
    }
    assert(state.orderBy("k").collect().toSeq ==
      spark.table("gcf.t").orderBy("k").collect().toSeq,
      "incremental matview must equal recompute")
    spark.catalog.dropTempView("cfs_src")
  }

  test("write-side change log (graft.changefeed.keys): DML commits " +
      "persist their diff, feed reads become pure scans, content " +
      "identical to the join fallback, vacuum reclaims") {
    val base = tmpBase("cf6")
    val rootA = s"$base/a"; val rootB = s"$base/b"
    spark.conf.set("spark.sql.catalog.gwl",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwl.root", base)
    mkTable(rootA); mkTable(rootB)
    spark.sql("ALTER TABLE gwl.a SET TBLPROPERTIES " +
      "('graft.changefeed.keys' = 'k')")
    // per-table base versions (the ALTER added a commit to a)
    val v0a = VersionedTable.versions(spark, rootA).max
    val v0b = VersionedTable.versions(spark, rootB).max
    Seq((10L, 1000L), (450L, 4500L)).toDF("k", "nv")
      .createOrReplaceTempView("wl_src")
    def merge(t: String): Unit = spark.sql(
      s"""MERGE INTO gwl.$t t USING wl_src s ON t.k = s.k
         |WHEN MATCHED AND s.k = 10 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.nv, tag = 'm'
         |WHEN NOT MATCHED THEN INSERT (k, v, tag)
         |  VALUES (s.k, s.nv, 'i')""".stripMargin)
    merge("a"); merge("b")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(rootA, "_changes")) &&
      fs.listStatus(new org.apache.hadoop.fs.Path(rootA, "_changes"))
        .nonEmpty, "the DML commit must persist its change log")
    def feed(root: String) = VersionedTable.changeFeed(spark, root,
      Seq("k"), if (root == rootA) v0a else v0b)
    // recorded path plans NO join; fallback path does
    def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
    assert(!hasJoin(feed(rootA)),
      "a recorded commit's feed must be a pure scan")
    assert(hasJoin(feed(rootB)),
      "control: the unrecorded table still joins")
    // identical content either way (_commit_version legitimately
    // differs: table a carries the extra ALTER commit)
    def content(root: String) = feed(root)
      .select("k", "v", "tag", "change_type")
      .orderBy("k", "change_type").collect().toSeq
    val a = content(rootA); val b = content(rootB)
    assert(a == b, s"recorded feed must equal the join-derived feed:" +
      s"\n$a\nvs\n$b")
    assert(a.map(_.getString(3)).sorted == Seq("delete", "insert"))
    // LIBRARY rewrite paths record too (upsert), and layout-only
    // commits record an EMPTY diff — the whole history stays join-free
    // on the opted-in table
    val up = Seq((30L, 999L, "u2")).toDF("k", "v", "tag")
    VersionedTable.upsert(up, rootA, Seq("k"))
    VersionedTable.upsert(up, rootB, Seq("k"))
    VersionedTable.compact(spark, rootA, smallBytes = 1L << 30)
    assert(!hasJoin(feed(rootA)),
      "upsert + compact commits must also serve recorded/empty diffs")
    val a2 = content(rootA); val b2 = content(rootB)
    assert(a2 == b2, s"after library upsert + compact: $a2 vs $b2")
    assert(a2.exists(r => r.getLong(0) == 30L &&
      r.getString(3) == "update"))
    // once retention drops the DML commit (a later commit becomes the
    // only retained head), vacuum reclaims its change log too
    VersionedTable.append(Seq((9999L, 1L, "x")).toDF("k", "v", "tag"),
      rootA)
    VersionedTable.vacuum(spark, rootA, keepVersions = 1, graceMs = 0L)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(rootA,
      "_changes")).isEmpty, "unreferenced change logs must be swept")
    spark.catalog.dropTempView("wl_src")
  }

  test("a no-op compact on an opted-in table returns None and writes no " +
      "change log") {
    val root = s"${tmpBase("cf7")}/t"
    VersionedTable.write((1L to 10L).map(k => (k, k * 2)).toDF("k", "v")
      .coalesce(1), root, Seq(VersionedTable.ChangeFeedKeysProp -> "k"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val changes = new org.apache.hadoop.fs.Path(root, "_changes")
    def logs: Set[String] =
      if (!fs.exists(changes)) Set.empty
      else fs.listStatus(changes).map(_.getPath.getName).toSet
    val before = logs
    val vs = VersionedTable.versions(spark, root)
    // one small file: nothing to compact
    assert(VersionedTable.compact(spark, root, smallBytes = 1L << 30).isEmpty)
    assert(logs == before, "a no-op compact must leave _changes/ unchanged")
    assert(VersionedTable.versions(spark, root) == vs)
  }

  test("vacuum sweeps orphaned .stage-/.rlstage- dirs past the grace " +
      "window (crashed-writer leftovers)") {
    val base = tmpBase("cf5")
    val root = s"$base/t"
    VersionedTable.write((1L to 10L).toDF("k"), root)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val orphan1 = new org.apache.hadoop.fs.Path(root, ".rlstage-dead")
    val orphan2 = new org.apache.hadoop.fs.Path(root, ".stage-dead")
    fs.mkdirs(orphan1); fs.mkdirs(orphan2)
    val old = System.currentTimeMillis() - 7200000L
    fs.setTimes(orphan1, old, old); fs.setTimes(orphan2, old, old)
    val fresh = new org.apache.hadoop.fs.Path(root, ".rlstage-live")
    fs.mkdirs(fresh) // young: could be a live writer — must survive
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(!fs.exists(orphan1) && !fs.exists(orphan2),
      "stale staging dirs must be swept")
    assert(fs.exists(fresh), "a young staging dir must survive")
    assert(VersionedTable.read(spark, root).count() == 10)
  }
}
