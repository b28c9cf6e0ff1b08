package graft

import java.nio.charset.StandardCharsets

import graft.sinks.VersionedTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.{col, lit, udf}

/** The lake's file-system traffic: writes go straight into data/ (no
  * staging tree, no rename), scans plan from the manifest's file list
  * (no listing, no stat), manifests from older writers without file
  * lengths still read, a failed write leaves data/ as it was, vacuum
  * copes with a table that has no data/, and the write refuses what
  * `df.write.parquet` refuses. Calls are logged by
  * [[CountingLocalFileSystem]]. */
class LakeIoSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    CountingLocalFileSystem.install(spark.sparkContext.hadoopConfiguration)
  }

  override def afterAll(): Unit =
    try CountingLocalFileSystem.uninstall(spark.sparkContext.hadoopConfiguration)
    finally super.afterAll()

  private def dataEntries(root: String): Set[String] =
    Option(new java.io.File(root, "data").list).fold(Set.empty[String])(_.toSet)

  test("an append makes no rename and creates no _temporary or .stage- path") {
    val root = tmpDir("lakeio")
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), root)
    val calls = CountingLocalFileSystem.during(root) {
      VersionedTable.append((2L to 10L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartition(3), root)
    }
    assert(calls.exists(c =>
      c.op == "create" && c.path.startsWith(s"$root/data/")), calls)
    assert(!calls.exists(_.op == "rename"), calls)
    assert(!calls.exists(c =>
      c.path.contains("_temporary") || c.path.contains("/.stage-")), calls)
    assert(VersionedTable.read(spark, root).count() == 10)
  }

  test("reading a 3-file version makes no listStatus and no getFileStatus " +
      "under data/ on the driver") {
    // (the tasks' parquet reader stats each file it opens: Spark's
    // footer reader builds its input file from the path)
    val root = tmpDir("lakeio")
    VersionedTable.write((1L to 30L).toDF("k").repartition(3), root)
    assert(VersionedTable.snapshot(spark, root).files.size == 3)
    var n = 0L
    val data = CountingLocalFileSystem.during(root) {
      n = VersionedTable.read(spark, root).collect().length
      n += spark.read.format("graft").load(root).collect().length
    }.filter(_.path.startsWith(s"$root/data"))
    assert(n == 60)
    assert(data.count(c => c.op == "open" && c.inTask) >= 6, data)
    assert(!data.exists(c => !c.inTask &&
      (c.op == "listStatus" || c.op == "getFileStatus")), data)
  }

  test("a manifest without file lengths (an older writer's format) still " +
      "reads, with the same rows") {
    val root = tmpDir("lakeio")
    VersionedTable.write((1L to 30L).map(k => (k, k % 3)).toDF("k", "g")
      .repartition(3), root)
    val before = VersionedTable.read(spark, root).as[(Long, Long)]
      .collect().sorted.toSeq
    val bytes = VersionedTable.history(spark, root)
      .select("total_bytes").as[Long].head()
    // rewrite v0 the way an older writer wrote it: `path[\tstats]`, no
    // length or mtime
    val p = new Path(root, "_manifests/v000000000000.json")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val legacy = text.split("\n").map { l =>
      l.split("\t", -1) match {
        case Array(path, "", _, _) => path
        case Array(path, stats, _, _) => s"$path\t$stats"
        case _ => l
      }
    }.mkString("", "\n", "\n")
    assert(legacy != text)
    val out = f.create(p, true)
    try out.write(legacy.getBytes(StandardCharsets.UTF_8)) finally out.close()
    assert(VersionedTable.snapshot(spark, root).meta.isEmpty)
    assert(VersionedTable.read(spark, root).as[(Long, Long)]
      .collect().sorted.toSeq == before)
    assert(VersionedTable.readWhere(spark, root, col("k") <= 5L).count() == 5)
    assert(spark.read.format("graft").load(root).count() == 30)
    assert(VersionedTable.history(spark, root).select("total_bytes")
      .as[Long].head() == bytes)
    // a commit on top records lengths for every file it lists
    VersionedTable.append(Seq((31L, 1L)).toDF("k", "g"), root)
    val head = VersionedTable.snapshot(spark, root)
    assert(head.files.forall(head.meta.contains))
    assert(VersionedTable.read(spark, root).count() == 31)
  }

  test("a write whose task throws leaves data/ with the same files as " +
      "before") {
    val root = tmpDir("lakeio")
    VersionedTable.write((1L to 8L).toDF("k"), root)
    val before = dataEntries(root)
    val boom = udf((k: Long) => {
      if (k == 7L) throw new IllegalStateException("boom")
      k
    })
    intercept[Exception](VersionedTable.append(
      (1L to 40L).toDF("k").repartition(4).select(boom(col("k")).as("k")),
      root))
    assert(dataEntries(root) == before)
    assert(VersionedTable.read(spark, root).count() == 8)
  }

  test("vacuum on a table whose writes had no rows (no data/ directory) " +
      "deletes nothing") {
    val root = tmpDir("lakeio")
    VersionedTable.write(spark.range(0).toDF("k"), root)
    VersionedTable.append(spark.range(0).toDF("k"), root)
    assert(!new java.io.File(root, "data").exists)
    assert(VersionedTable.vacuum(spark, root, keepVersions = 1,
      graceMs = 0L) == 0)
    // CREATE TABLE commits v0 from an empty frame; the vacuum procedure
    // on it
    val wh = tmpDir("lakeio")
    spark.conf.set("spark.sql.catalog.lkio",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.lkio.root", wh)
    spark.sql("CREATE TABLE lkio.t (k BIGINT)")
    assert(spark.sql("CALL lkio.system.vacuum('t', 1)").head().getInt(0) == 0)
    assert(spark.sql("SELECT count(*) FROM lkio.t").head().getLong(0) == 0)
  }

  test("the write accepts and refuses what df.write.parquet does: a " +
      "NullType column, duplicate column names") {
    def outcome(body: => Unit): Either[String, Unit] =
      try Right(body) catch {
        case e: AnalysisException => Left(String.valueOf(e.getCondition))
      }
    val nulls = spark.range(3).select(col("id").as("k"), lit(null).as("n"))
    val dups = spark.range(3).select(col("id").as("k"), col("id").as("K"))
    Seq(nulls, dups).foreach { df =>
      val root = tmpDir("lakeio")
      val plain = tmpDir("lakeio") + "/plain"
      val want = outcome(df.write.parquet(plain))
      assert(outcome(VersionedTable.write(df, root)) == want)
      if (want.isRight)
        assert(VersionedTable.read(spark, root).collect().toSet ==
          spark.read.parquet(plain).collect().toSet)
      else {
        assert(dataEntries(root).isEmpty)
        assert(VersionedTable.versions(spark, root).isEmpty)
      }
    }
    assert(outcome(dups.write.parquet(tmpDir("lakeio") + "/p")) ==
      Left("COLUMN_ALREADY_EXISTS"))
  }
}
