package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext

/** The local file system with every call logged (operation, path, and
  * whether a Spark task or the driver made it), for specs that check
  * which file-system calls the lake makes.
  * Installed through `fs.file.impl` with the `file:` instance cache off,
  * so every `getFileSystem` in the driver and in tasks returns one. A
  * call the file system makes inside another (the checksum layer's stat
  * inside `open`, its parent `mkdirs` inside `create`) is not logged:
  * the log holds the calls the program made. */
final class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  private def logged[T](op: String, p: Path)(body: => T): T = {
    val d = depth.get
    if (d == 0)
      calls.add(Call(op, p.toUri.getPath, TaskContext.get() != null))
    depth.set(d + 1)
    try body finally depth.set(d)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    logged("open", f)(super.open(f, bufferSize))
  override def listStatus(f: Path): Array[FileStatus] =
    logged("listStatus", f)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    logged("getFileStatus", f)(super.getFileStatus(f))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    logged("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    logged("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    logged("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    logged("mkdirs", f)(super.mkdirs(f, permission))
}

object CountingLocalFileSystem {
  final case class Call(op: String, path: String, inTask: Boolean)

  private val calls = new ConcurrentLinkedQueue[Call]()
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  def install(conf: Configuration): Unit = {
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
  }

  def uninstall(conf: Configuration): Unit = {
    conf.unset("fs.file.impl")
    conf.unset("fs.file.impl.disable.cache")
  }

  /** The calls on paths under `dir` that `body` made, in order. */
  def during(dir: String)(body: => Unit): Seq[Call] = {
    calls.clear()
    body
    calls.asScala.toSeq.filter(_.path.startsWith(dir))
  }
}
