package graft

import java.io.File

/** The query scratch workspace (graft.queries.Scratch): queries that build
  * their own tables keep them under one `graft-scratch` root per JVM, and
  * a query's directory is deleted when the next such query starts — so
  * repeated runs add nothing to `java.io.tmpdir` but that one root. */
class ScratchSpec extends SparkSpec {
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private def entries: Set[String] =
    Option(tmp.list).fold(Set.empty[String])(_.toSet)
  // the query directories under every scratch root in tmpdir
  private def scratchDirs: Set[File] =
    entries.filter(_.startsWith("graft-scratch")).flatMap(r =>
      Option(new File(tmp, r).listFiles).fold(Seq.empty[File])(_.toSeq))

  test("repeated lake and layout queries leave at most the scratch root " +
      "in tmpdir; each query's directory is gone when the next starts") {
    // start the session and load the parquet codecs first: both unpack
    // files into tmpdir on first use
    val warm = new java.io.File(tmpDir("graft-warm"))
    spark.range(10).write.parquet(s"$warm/p")
    assert(spark.read.parquet(s"$warm/p").count() == 10)
    org.apache.commons.io.FileUtils.deleteQuietly(warm)
    val before = entries
    var prev = Option.empty[File]
    for (name <- Seq("versioned_merge", "layout_zorder_read",
        "versioned_merge", "layout_zorder_read")) {
      val dirsBefore = scratchDirs
      val df = SparkEntry.queries(name)(spark, Sf0)
      val fresh = scratchDirs -- dirsBefore
      assert(fresh.size == 1,
        s"$name must build its tables in one scratch dir, made $fresh")
      prev.foreach(p => assert(!p.exists, s"$p outlived the next query"))
      assert(df.count() > 0, s"$name returned no rows")
      prev = fresh.headOption
    }
    val added = entries -- before
    assert(added.size <= 1 && added.forall(_.startsWith("graft-scratch")),
      s"tmpdir gained $added")
  }
}
