package graft

import graft.sinks.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.functions._

/** `spark.read.format("graft")` — the DataSource V2 face of the
  * versioned lake: snapshot reads, time travel via options, and the
  * contract that format-path file pruning is EXACTLY readWhere's
  * (one shared implementation, asserted file-by-file here). */
class DataSourceV2Spec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(prefix: String) =
    tmpDir(prefix) + "/t"

  /** The physical parquet scan the V2 path planned (under AQE). */
  private def fileScan(df: DataFrame): FileScan = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectFirst { case b: BatchScanExec => b.scan }
      .getOrElse(fail("no BatchScanExec in plan")) match {
      case g: graft.sources.v2.GraftScan => g.currentInner match {
        case f: FileScan => f
        case other => fail(s"inner scan is not a FileScan: $other")
      }
      case f: FileScan => f
      case other => fail(s"scan is not a FileScan: $other")
    }
  }

  test("format round-trip: head read equals library read") {
    val root = tmpRoot("dsv2rt")
    VersionedTable.write((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"),
      root)
    VersionedTable.append((101L to 120L).map(i => (i, s"v$i"))
      .toDF("k", "v"), root)
    val viaFormat = spark.read.format("graft").load(root)
    assert(viaFormat.schema == VersionedTable.read(spark, root).schema)
    assert(viaFormat.orderBy("k").collect().toSeq ==
      VersionedTable.read(spark, root).orderBy("k").collect().toSeq)
  }

  test("time travel options: versionAsOf, timestampAsOf, tag") {
    val root = tmpRoot("dsv2tt")
    VersionedTable.write((1L to 50L).map(i => (i, i * 10)).toDF("k", "v"),
      root)
    Thread.sleep(20) // separate manifest mtimes
    val tMid = System.currentTimeMillis()
    Thread.sleep(20)
    VersionedTable.append((51L to 80L).map(i => (i, i * 10)).toDF("k", "v"),
      root)
    VersionedTable.tag(spark, root, "first", 0L)

    assert(spark.read.format("graft").option("versionAsOf", 0)
      .load(root).count() == 50)
    assert(spark.read.format("graft").load(root).count() == 80)
    assert(spark.read.format("graft")
      .option("timestampAsOf", tMid.toString).load(root).count() == 50)
    assert(spark.read.format("graft").option("tag", "first")
      .load(root).count() == 50)
    // at most one selector
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", 0)
        .option("tag", "first").load(root)
    }
  }

  test("pushed filters prune the SAME files readWhere prunes") {
    val root = tmpRoot("dsv2pr")
    // three disjoint-range commits -> three stats-prunable files
    Seq(1L to 100L, 101L to 200L, 201L to 300L).foreach { r =>
      VersionedTable.append(
        r.map(i => (i, i % 7, s"s${i % 3}")).toDF("k", "grp", "src")
          .coalesce(1), root)
    }
    val cond = col("k") >= 150L && col("k") <= 160L
    val lib = VersionedTable.readWhere(spark, root, cond)
    val fmt = spark.read.format("graft").load(root).filter(cond)
    val fmtFiles = fileScan(fmt).fileIndex.inputFiles.toSet
    assert(lib.inputFiles.toSet == fmtFiles,
      s"format kept $fmtFiles, readWhere kept ${lib.inputFiles.toSet}")
    assert(fmtFiles.size == 1, "middle-range predicate must keep 1 of 3")
    assert(fmt.orderBy("k").collect().toSeq ==
      lib.orderBy("k").collect().toSeq)
    // provably-empty predicate: zero files planned, empty result
    val none = spark.read.format("graft").load(root)
      .filter(col("k") > 1000L)
    assert(fileScan(none).fileIndex.inputFiles.isEmpty)
    assert(none.count() == 0)
  }

  test("residual filters stay correct when pruning can't help") {
    val root = tmpRoot("dsv2rs")
    VersionedTable.write((1L to 300L).map(i => (i, i % 7)).toDF("k", "m"),
      root)
    // k % 2 isn't a prunable shape: all files kept, result still exact
    val df = spark.read.format("graft").load(root)
      .filter(col("k") % 2 === 0 && col("m") === 3)
    assert(df.select(sum("k")).as[Long].head() ==
      (1L to 300L).filter(i => i % 2 == 0 && i % 7 == 3).sum)
  }

  test("column pruning reaches the parquet scan") {
    val root = tmpRoot("dsv2cp")
    VersionedTable.write((1L to 50L).map(i => (i, s"v$i", i * 1.5))
      .toDF("k", "v", "w"), root)
    val df = spark.read.format("graft").load(root).select("v")
    assert(fileScan(df).readSchema().fieldNames.toSeq == Seq("v"))
    assert(df.count() == 50)
  }

  test("snapshot pinning: a loaded frame survives later commits") {
    val root = tmpRoot("dsv2sn")
    VersionedTable.write((1L to 40L).map(i => (i, i)).toDF("k", "v"), root)
    val pinnedDf = spark.read.format("graft").load(root)
    VersionedTable.write((1L to 5L).map(i => (i, i)).toDF("k", "v"), root)
    assert(pinnedDf.count() == 40, "pinned snapshot must not see v1")
    assert(spark.read.format("graft").load(root).count() == 5)
  }

  test("write path: create-on-first-write, append, overwrite as " +
      "full-replace commit, schema drift rejected by the lake contract") {
    val root = tmpRoot("dsv2wr")
    // reads of a never-written root fail with a clear error
    val ex = intercept[Exception] {
      spark.read.format("graft").load(root).count()
    }
    assert(ex.getMessage.contains("no committed version"))
    // first write CREATES the table (v0)
    (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v")
      .write.format("graft").save(root)
    assert(VersionedTable.versions(spark, root) == Seq(0L))
    // append commits v1; reads through both front doors agree
    (31L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
      .write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() == 40)
    assert(VersionedTable.read(spark, root).count() == 40)
    // overwrite = full-replace commit; history stays time-travelable
    (1L to 5L).map(i => (i, s"w$i")).toDF("k", "v")
      .write.format("graft").mode("overwrite").save(root)
    assert(spark.read.format("graft").load(root).count() == 5)
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(root).count() == 40)
    // appending a drifted type fails through the lake's evolve contract
    val drift = intercept[Exception] {
      Seq((9L, 9L)).toDF("k", "v")
        .write.format("graft").mode("append").save(root)
    }
    assert(drift.getMessage.toLowerCase.contains("type") ||
      drift.getMessage.contains("evolv"), s"got: ${drift.getMessage}")
  }

  test("CREATE TABLE ... USING graft: SQL DDL front door with " +
      "time travel options and INSERT INTO through the write builder") {
    val root = tmpRoot("dsv2ddl")
    VersionedTable.write((1L to 40L).map(i => (i, i % 3)).toDF("k", "b"),
      root)
    VersionedTable.append((41L to 50L).map(i => (i, i % 3)).toDF("k", "b"),
      root)
    spark.sql(s"CREATE TABLE graft_ddl USING graft OPTIONS (path '$root')")
    spark.sql("CREATE TABLE graft_ddl_v0 USING graft " +
      s"OPTIONS (path '$root', versionAsOf '0')")
    try {
      assert(spark.sql("SELECT count(*) FROM graft_ddl")
        .as[Long].head() == 50)
      assert(spark.sql("SELECT count(*) FROM graft_ddl_v0")
        .as[Long].head() == 40)
      // INSERT INTO routes through the DSv2 write builder -> a new
      // lake commit, visible to the library read too
      spark.sql("INSERT INTO graft_ddl VALUES (100, 9), (101, 9)")
      assert(spark.sql("SELECT count(*) FROM graft_ddl WHERE b = 9")
        .as[Long].head() == 2)
      assert(VersionedTable.read(spark, root).count() == 52)
      // the pinned-version table is a snapshot: unmoved by the insert
      assert(spark.sql("SELECT count(*) FROM graft_ddl_v0")
        .as[Long].head() == 40)
    } finally {
      spark.sql("DROP TABLE graft_ddl")
      spark.sql("DROP TABLE graft_ddl_v0")
    }
  }

  test("aggregate pushdown: unfiltered count/min/max answered from the " +
      "manifest — LocalTableScan, zero data files planned") {
    val root = tmpRoot("dsv2agg")
    Seq(1L to 100L, 101L to 200L, 201L to 300L).foreach { r =>
      VersionedTable.append(
        r.map(i => (i, s"s${i % 5}")).toDF("k", "s").coalesce(1), root)
    }
    spark.read.format("graft").load(root).createOrReplaceTempView("aggv")
    try {
      graft.sources.v2.GraftScan.lastPlannedFiles.set(-1)
      val df = spark.sql(
        "SELECT count(*) AS c, count(k) AS ck, min(k) AS mn, " +
          "max(k) AS mx, min(s) AS ms FROM aggv")
      val r = df.collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)) == ((300L, 300L, 1L, 300L, "s0")))
      assert(graft.sources.v2.GraftScan.lastPlannedFiles.get == 0,
        "metadata-only aggregate must plan zero data files")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan") ||
        plan.contains("GraftLocalAggScan"), s"plan was:\n$plan")
      assert(!plan.contains("GraftScan "), s"no file scan expected:\n$plan")
    } finally spark.catalog.dropTempView("aggv")
  }

  test("aggregate pushdown declines: filters, grouping, nullable " +
      "count(col) — and the normal scan still answers exactly") {
    val root = tmpRoot("dsv2agn")
    val df = (1L to 90L).map(i =>
      (i, if (i % 3 == 0) null else s"v$i")).toDF("k", "v")
    VersionedTable.write(df, root)
    val t = spark.read.format("graft").load(root)
    t.createOrReplaceTempView("aggn")
    try {
      // count(v) with nulls present: manifest has null PRESENCE only ->
      // not answerable -> real scan, exact result
      assert(spark.sql("SELECT count(v) FROM aggn").head().getLong(0) == 60)
      // a filter disqualifies (every filter stays a residual here)
      assert(spark.sql("SELECT count(*) FROM aggn WHERE k > 30")
        .head().getLong(0) == 60)
      // grouping disqualifies
      assert(spark.sql(
        "SELECT k % 2, count(*) FROM aggn GROUP BY 1").count() == 2)
    } finally spark.catalog.dropTempView("aggn")
  }

  test("aggregate pushdown stats-less fallback: files committed with " +
      "stats disabled still answer exactly (bounded scan, not estimate)") {
    val root = tmpRoot("dsv2agf")
    VersionedTable.write((1L to 50L).map(i => (i, i * 2)).toDF("k", "v"),
      root)
    spark.conf.set("spark.graft.lake.stats.enabled", "false")
    try VersionedTable.append(
      (51L to 80L).map(i => (i, i * 2)).toDF("k", "v"), root)
    finally spark.conf.unset("spark.graft.lake.stats.enabled")
    val r = spark.read.format("graft").load(root)
      .agg(count(lit(1)).as("c"), min(col("k")), max(col("k"))).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((80L, 1L, 80L)))
  }

  test("runtime filtering: broadcast join keys re-prune lake files at " +
      "execution time (DSv2 dynamic pruning)") {
    val root = tmpRoot("dsv2rf")
    Seq(1L to 100L, 101L to 200L, 201L to 300L, 301L to 400L).foreach {
      r => VersionedTable.append(
        r.map(i => (i, i % 9)).toDF("k", "m").coalesce(1), root)
    }
    val fact = spark.read.format("graft").load(root)
    // the dim must be a FILE source with a surviving Filter node (a
    // local Seq folds to LocalRelation and DPP sees no selective
    // predicate), and the filter must be on a NON-join column so no
    // static range constraint leaks onto k: only the RUNTIME filter
    // can prune. grp = (dk-1)/100, grp 1 <=> dk in 101..200 = file 2.
    val dimPath = tmpRoot("dsv2rfd")
    (1L to 400L).map(i => (i, (i - 1) / 100)).toDF("dk", "grp")
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
      .filter(col("grp") === 1).select("dk")
    val joined = fact.join(broadcast(dim), col("k") === col("dk"))
    graft.sources.v2.GraftScan.lastPlannedFiles.set(-1)
    val got = joined.collect()
    assert(got.length == 100)
    assert(got.map(_.getLong(0)).min == 101L &&
      got.map(_.getLong(0)).max == 200L)
    val planned = graft.sources.v2.GraftScan.lastPlannedFiles.get
    assert(joined.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"),
      "expected a dynamic-pruning runtime filter on the graft scan")
    assert(planned == 1,
      s"runtime join-key filter must prune 4 files to 1, planned $planned")
  }

  test("runtime filter() seam: an IN filter re-prunes files; an " +
      "oversized IN list is skipped (results unaffected by contract)") {
    val root = tmpRoot("dsv2rfu")
    Seq(1L to 100L, 101L to 200L).foreach { r =>
      VersionedTable.append(r.map(i => (i, i)).toDF("k", "v")
        .coalesce(1), root)
    }
    val df = spark.read.format("graft").load(root)
    val scan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        a.executedPlan.collectFirst { case b: BatchScanExec => b.scan }
      case p => p.collectFirst { case b: BatchScanExec => b.scan }
    }
    val g = scan.collect { case s: graft.sources.v2.GraftScan => s }
      .getOrElse(fail(s"expected GraftScan, got $scan"))
    assert(g.filterAttributes().map(_.toString).toSet == Set("k", "v"))
    g.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array[Any](150L, 160L))))
    assert(g.currentInner.asInstanceOf[FileScan]
      .fileIndex.inputFiles.length == 1,
      "IN(150,160) must keep only the 101-200 file")
    g.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k",
        (1L to 20000L).map(_.asInstanceOf[Any]).toArray)))
    assert(g.currentInner.asInstanceOf[FileScan]
      .fileIndex.inputFiles.length == 1,
      "oversized IN list must not re-prune (keeps previous state)")
  }

  test("limit pushdown: an unfiltered LIMIT plans only enough files " +
      "to cover it from manifest row counts") {
    val root = tmpRoot("dsv2lim")
    Seq(1L to 100L, 101L to 200L, 201L to 300L, 301L to 400L).foreach {
      r => VersionedTable.append(
        r.map(i => (i, i % 5)).toDF("k", "m").coalesce(1), root)
    }
    val df = spark.read.format("graft").load(root)
    graft.sources.v2.GraftScan.lastPlannedFiles.set(-1)
    assert(df.limit(150).count() == 150)
    assert(graft.sources.v2.GraftScan.lastPlannedFiles.get == 2,
      "150 rows need exactly 2 of the 100-row files")
    graft.sources.v2.GraftScan.lastPlannedFiles.set(-1)
    assert(df.limit(5000).count() == 400) // limit past the table: all
    assert(graft.sources.v2.GraftScan.lastPlannedFiles.get == 4)
    // a filter disables the cut (stats can't locate MATCHING rows)
    graft.sources.v2.GraftScan.lastPlannedFiles.set(-1)
    assert(df.filter(col("m") === 0).limit(10).count() == 10)
    assert(graft.sources.v2.GraftScan.lastPlannedFiles.get == 4,
      "filtered limit must not cut files")
  }

  test("reported statistics: manifest row counts + real file bytes " +
      "let an UNHINTED join broadcast the small lake side") {
    val root = tmpRoot("dsv2st")
    VersionedTable.write((1L to 200L).map(i => (i, s"v$i"))
      .toDF("k", "v"), root)
    val dim = spark.read.format("graft").load(root)
    val scan = dim.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        a.executedPlan.collectFirst { case b: BatchScanExec => b.scan }
      case p => p.collectFirst { case b: BatchScanExec => b.scan }
    }
    val st = scan.collect { case g: graft.sources.v2.GraftScan => g }
      .getOrElse(fail("no GraftScan")).estimateStatistics()
    assert(st.numRows.getAsLong == 200, "exact rows from the manifest")
    assert(st.sizeInBytes.getAsLong > 0 &&
      st.sizeInBytes.getAsLong < (10L << 20),
      "real bytes, far under the broadcast threshold")
    // no broadcast() hint anywhere: plan-time statistics alone must
    // pick the broadcast join (the V2 default of unknown-size = huge
    // would force a sort-merge join here)
    val fact = (1L to 5000L).map(i => (i % 200 + 1, i)).toDF("fk", "x")
    val joined = fact.join(dim, col("fk") === col("k"))
    assert(joined.queryExecution.sparkPlan.toString
      .contains("BroadcastHashJoin"),
      s"expected stats-driven broadcast:\n${joined.queryExecution.sparkPlan}")
    assert(joined.count() == 5000)
  }


  test("aggregate pushdown: float NaN/-Inf extrema surface through " +
      "the SQL front door (complete pushdown stays exact)") {
    val root = tmpRoot("dsv2nan")
    VersionedTable.write(Seq((1L, 2.0), (2L, Double.NaN),
      (3L, Double.NegativeInfinity)).toDF("k", "x").coalesce(1), root)
    val df = spark.read.format("graft").load(root)
    val r = df.agg(max(col("x")).as("mx"), min(col("x")).as("mn"),
      count(lit(1)).as("n")).collect().head
    assert(r.getAs[Double]("mx").isNaN,
      s"SELECT max(x) over a NaN column must be NaN, got $r")
    assert(r.getAs[Double]("mn") == Double.NegativeInfinity)
    assert(r.getAs[Long]("n") == 3L)
  }

  test("aggregate pushdown plans lazily: logical optimization never " +
      "runs the stats-less fallback scan") {
    val root = tmpRoot("dsv2lazy")
    spark.conf.set("spark.graft.lake.stats.enabled", "false")
    try VersionedTable.write((1L to 50L).map(i => (i, i * 2))
      .toDF("k", "v"), root)
    finally spark.conf.unset("spark.graft.lake.stats.enabled")
    // stats-less files force statsAgg's fallback aggregation (a real
    // job); delete the data so any eager execution fails loud
    val dd = new org.apache.hadoop.fs.Path(root, "data")
    dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(dd, true)
    val df = spark.read.format("graft").load(root)
      .agg(count(lit(1)).as("n"))
    // pushdown (ScanBuilder.build -> GraftLocalAggScan) happens here;
    // with plan-time execution this would already throw
    df.queryExecution.optimizedPlan
    // actually producing the row genuinely needs the deleted files
    intercept[Exception] { df.collect() }
  }

  test("sql access: temp view over the format path") {
    val root = tmpRoot("dsv2sql")
    VersionedTable.write((1L to 60L).map(i => (i, i % 4)).toDF("k", "b"),
      root)
    spark.read.format("graft").load(root).createOrReplaceTempView("dsv2_t")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM dsv2_t WHERE b = 2").as[Long].head()
      assert(n == 15)
    } finally spark.catalog.dropTempView("dsv2_t")
  }
}
