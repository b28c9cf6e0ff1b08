package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.VersionedTable

/** Commit-time stats now come from parquet FOOTERS (no second data
  * scan); this spec pins the footer path byte-identical to the scan
  * path across every stat-eligible type, nulls included — the manifest
  * stats feed readWhere pruning and statsAgg's EXACT metadata answers,
  * so a decode drift here is a correctness bug, not a perf bug. */
class FooterStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() =
    tmpDir("fstats") + "/t"

  /** The per-file stats JSON multiset of the head manifest (paths,
    * UUID names and the files' lengths and mtimes stripped — contents
    * are deterministic for a fixed repartition, names are not). A file
    * line's stats are its second field. */
  private def statLines(root: String): Seq[String] = {
    val dir = new java.io.File(root, "_manifests")
    val mf = dir.listFiles().filter(_.getName.endsWith(".json"))
      .maxBy(_.getName)
    scala.io.Source.fromFile(mf, "UTF-8").getLines()
      .map(_.split("\t")).filter(l => l.length > 1 && l(1).nonEmpty)
      .map(_(1))
      .toSeq.sorted
  }

  private def mixedDf = {
    val rows = (1 to 97).map { i =>
      (i.toLong * 3, i, (i % 7).toShort, (i % 3).toByte,
        if (i % 13 == 0) null else s"s${i}_é中",
        i * 1.25 - 40.0, (i * 0.5f) - 10f,
        java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-01T00:00:00Z")
            .plusSeconds(i * 3600L)),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
          .plusDays(i.toLong).toString),
        BigDecimal(i * 7).setScale(4) / 100,
        if (i % 2 == 0) null else BigDecimal(i).setScale(6) * 1000000)
    }
    rows.toDF("k", "i", "sh", "by", "s", "d", "f", "ts", "dt",
        "dec_small", "dec_wide")
      .withColumn("dec_small", col("dec_small").cast("decimal(12,4)"))
      .withColumn("dec_wide", col("dec_wide").cast("decimal(30,6)"))
      .withColumn("all_null", lit(null).cast("string"))
      .repartition(4, col("k"))
  }

  test("footer stats are byte-identical to scan stats across all " +
      "eligible types, nulls, and an all-null column") {
    val rootFooter = tmp(); val rootScan = tmp()
    VersionedTable.write(mixedDf, rootFooter)
    VersionedTable.write(mixedDf, rootScan)
    VersionedTable.restatByScan(spark, rootScan)
    val a = statLines(rootFooter)
    val b = statLines(rootScan)
    assert(a.nonEmpty && a == b,
      s"footer-vs-scan stats drift:\n${a.mkString("\n")}\n--- vs " +
        s"scan ---\n${b.mkString("\n")}")
  }

  test("restatByScan recommits the head's files with scan-path stats") {
    val root = tmp(); val footer = tmp()
    spark.conf.set("spark.graft.lake.stats.enabled", "false")
    try VersionedTable.write(mixedDf, root)
    finally spark.conf.unset("spark.graft.lake.stats.enabled")
    assert(statLines(root).isEmpty)
    VersionedTable.restatByScan(spark, root)
    VersionedTable.write(mixedDf, footer)
    assert(statLines(root).nonEmpty && statLines(root) == statLines(footer))
    // the scan stats replace those the head carries: only the scan path
    // builds bloom filters
    spark.conf.set("spark.graft.lake.bloom.cols", "k")
    try VersionedTable.restatByScan(spark, root)
    finally spark.conf.unset("spark.graft.lake.bloom.cols")
    assert(statLines(root).forall(_.contains("\"b\":")))
  }

  test("statsAgg answers from footer stats match a full read exactly") {
    val root = tmp()
    VersionedTable.write(mixedDf, root)
    val st = VersionedTable.statsAgg(spark, root,
      Seq("k", "s", "d", "ts", "dt", "dec_small", "dec_wide")).head()
    val full = VersionedTable.read(spark, root)
    val exp = full.agg(count(lit(1)), min("k"), max("k"), min("s"),
      max("s"), min("d"), max("d"), min("ts"), max("ts"), min("dt"),
      max("dt"), min("dec_small"), max("dec_small"), min("dec_wide"),
      max("dec_wide")).head()
    assert(st.getLong(0) == exp.getLong(0))
    (1 until exp.length).foreach { i =>
      assert(st.get(i) == exp.get(i), s"field $i: ${st.get(i)} vs " +
        s"${exp.get(i)}")
    }
  }

  test("NaN double bounds make the column slow-path, never a wrong " +
      "bound; zero-row files still drop") {
    val root = tmp()
    val df = Seq((1L, 1.0), (2L, Double.NaN), (3L, 5.0)).toDF("k", "v")
      .repartition(2, col("k"))
    VersionedTable.write(df, root)
    // exact even though the NaN file's v column carries no footer bound
    val st = VersionedTable.statsAgg(spark, root, Seq("k"))
    assert(st.head().getLong(0) == 3L)
    // pruning on k still works (k has clean footer stats)
    val r = VersionedTable.readWhere(spark, root, col("k") === 17L)
    assert(r.count() == 0L)
    // a filter producing an empty partition: the zero-row part file is
    // dropped at commit (footer row counts), so the file count is tight
    val root2 = tmp()
    VersionedTable.write(
      Seq.tabulate(20)(i => (i.toLong, i.toString)).toDF("k", "s")
        .repartition(8, col("k")).filter(col("k") < 3), root2)
    val files = new java.io.File(root2, "data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files <= 3, s"zero-row part files survived: $files")
  }
}
