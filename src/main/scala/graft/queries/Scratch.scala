package graft.queries

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The one scratch workspace of the queries that build their own tables
  * (lake commits, DSv2 catalogs, stream checkpoints and sinks).
  *
  * The JVM makes one root under `java.io.tmpdir` on first use and deletes
  * it in a shutdown hook. Each [[dir]] call first deletes the previous
  * call's subdirectory, so at most one query's scratch data exists at a
  * time: the frame a query returns stays lazy and valid until the next
  * scratch-using query starts. Every caller of `SparkEntry.queries`
  * (Bench, Verify, the tools and the specs) uses a query's frame before
  * it calls the next query. */
object Scratch {
  private lazy val root: File = {
    val r = Files.createTempDirectory("graft-scratch").toFile
    sys.addShutdownHook { FileUtils.deleteQuietly(r); () }
    r
  }
  private var last: Option[File] = None
  private var calls = 0L

  /** A fresh, empty directory for query `name` over the fixture dir `d`;
    * deletes the previous call's directory first. */
  def dir(name: String, d: String): String = synchronized {
    last.foreach(FileUtils.deleteQuietly)
    calls += 1
    val f = new File(root, s"$calls-$name-${new File(d).getName}")
    require(f.mkdirs(), s"cannot create scratch dir $f")
    last = Some(f)
    f.toString
  }

  /** Registers a [[graft.sources.v2.GraftCatalog]] over `root` under a
    * fresh name and returns that name. A fresh name per run sidesteps
    * Spark's per-session catalog-instance cache (a session re-runs the
    * same query, each time over a new root). */
  def catalog(s: SparkSession, root: String): String = {
    val cat = "g" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(12)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }
}
