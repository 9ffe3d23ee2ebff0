package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem under the `faulty://` scheme, with one
  * injectable fault. Code that binds its filesystem from the default
  * FS instead of from the path it works on fails here with "Wrong FS".
  *
  * While [[FaultyFileSystem.run]] is active, the mutating calls
  * (create, mkdirs, rename, delete) whose paths lie outside Spark's
  * `_temporary` staging are counted, and the k-th one fails: it throws
  * an IOException or, for rename and delete, returns false without
  * acting. Calls nested inside a counted call (a create making its
  * parent directories) are neither counted nor faulted.
  */
class FaultyFileSystem extends RawLocalFileSystem {
  import FaultyFileSystem.mutate

  override def getUri: URI = FaultyFileSystem.uri
  override def getScheme: String = FaultyFileSystem.uri.getScheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutate("create", f)(None)(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutate("create", f)(None)(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutate("create", f)(None)(super.createNonRecursive(f, permission,
      overwrite, bufferSize, replication, blockSize, progress))

  override def mkdirs(f: Path): Boolean =
    mutate("mkdirs", f)(None)(super.mkdirs(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mutate("mkdirs", f)(None)(super.mkdirs(f, permission))

  override def rename(src: Path, dst: Path): Boolean =
    mutate("rename", src, dst)(Some(false))(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    mutate("delete", f)(Some(false))(super.delete(f, recursive))
}

object FaultyFileSystem {
  val uri: URI = URI.create("faulty:///")

  /** One counted call: its operation and paths. */
  final case class Call(op: String, paths: Seq[String]) {
    override def toString: String = s"$op ${paths.mkString(" -> ")}"
  }

  @volatile private var active = false
  @volatile private var faultAt = 0
  @volatile private var returnFalse = false
  private val count = new AtomicInteger
  private val calls = new ConcurrentLinkedQueue[Call]
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Run `body` with the `k`-th counted call faulted (`k` = 0: none),
    * as a false return when `asFalse` and the call can return one,
    * else as a throw. Returns the outcome and the counted calls.
    */
  def run[T](k: Int, asFalse: Boolean = false)(
      body: => T): (Try[T], Seq[Call]) = synchronized {
    count.set(0)
    calls.clear()
    faultAt = k
    returnFalse = asFalse
    active = true
    val out = try Try(body) finally active = false
    (out, calls.asScala.toSeq)
  }

  private def mutate[T](op: String, paths: Path*)(falseResult: Option[T])(
      body: => T): T = {
    val outer = depth.get == 0
    if (active && outer &&
        !paths.exists(_.toString.contains("/_temporary"))) {
      calls.add(Call(op, paths.map(_.toUri.getPath)))
      if (count.incrementAndGet() == faultAt) falseResult match {
        case Some(r) if returnFalse => return r
        case _ => throw new IOException(
          s"injected fault at $op ${paths.mkString(" -> ")}")
      }
    }
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }
}
