package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily built), and
  * the suite's temp directories, deleted when the suite ends. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(4, getClass.getSimpleName)

  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh directory under `java.io.tmpdir`, deleted with everything
    * in it when the suite ends. */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally tmpDirs.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d))

  def sf(name: String) = s"/root/testdata/$name"
  val Sf0 = "/root/testdata/sf0.001"
}
