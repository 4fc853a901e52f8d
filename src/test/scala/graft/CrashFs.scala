package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** The local file system under the `crashfs` scheme, killed at its Nth
  * mutation: the Nth `delete` or `rename` call throws, and so does every
  * later one, as nothing runs after a process dies. A recursive delete
  * removes the children one call at a time, in reverse-sorted name order:
  * the key-by-key delete of an object store, in an order that reaches
  * `part-*` files before `_SUCCESS` and `segments` before `meta`.
  *
  * State is JVM-global (Spark opens its own instances); run one writer at
  * a time ([[CrashFs.run]]). Register with
  * `fs.crashfs.impl = graft.CrashFs` in the Hadoop conf. */
class CrashFs extends RawLocalFileSystem {
  override def getScheme: String = CrashFs.Scheme
  override def getUri: URI = URI.create(s"${CrashFs.Scheme}:///")

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step(s"delete $p")
    val st: Option[FileStatus] =
      try Some(getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case None => false
      case Some(s) if s.isDirectory && recursive =>
        listStatus(p).map(_.getPath).sortBy(_.getName)(Ordering[String].reverse)
          .foreach(delete(_, true))
        super.delete(p, false)
      case Some(_) => super.delete(p, recursive)
    }
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step(s"rename $src -> $dst")
    super.rename(src, dst)
  }
}

object CrashFs {
  val Scheme = "crashfs"

  private val ops = new AtomicLong()
  @volatile private var killAt = Long.MaxValue

  private def step(what: String): Unit =
    if (ops.incrementAndGet() >= killAt)
      throw new java.io.IOException(s"crashfs: killed at mutation $killAt ($what)")

  /** Run `body` with the file system killed at its `killAt`th mutation
    * (Long.MaxValue: never). Returns the mutations `body` attempted and its
    * outcome; the file system is alive again afterwards. */
  def run[T](killAt: Long)(body: => T): (Long, Either[Throwable, T]) = {
    ops.set(0)
    this.killAt = killAt
    try {
      val r = try Right(body) catch { case NonFatal(e) => Left(e) }
      (ops.get, r)
    } finally this.killAt = Long.MaxValue
  }
}
