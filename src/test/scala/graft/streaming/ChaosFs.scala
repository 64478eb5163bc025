package graft.streaming

import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Local file system that fails the first create or mkdirs of a path
  * matching the armed pattern, once: a crash injected at an exact point
  * of a write sequence without touching the code under test. Installed
  * as `fs.file.impl` (with the FileSystem cache off) for the duration of
  * one spec; every other call behaves as the stock local file system. */
class ChaosFs extends LocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    ChaosFs.check(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def mkdirs(f: Path): Boolean = {
    ChaosFs.check(f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    ChaosFs.check(f)
    super.mkdirs(f, permission)
  }
}

object ChaosFs {
  private val armed = new AtomicReference[Option[scala.util.matching.Regex]](None)

  /** Fail the next create/mkdirs whose path matches `pattern`. */
  def arm(pattern: String): Unit = armed.set(Some(pattern.r))

  def disarm(): Unit = armed.set(None)

  /** True once the armed failure has fired (or nothing was armed). */
  def fired: Boolean = armed.get.isEmpty

  private def check(f: Path): Unit = {
    val cur = armed.get
    cur.foreach { r =>
      val p = f.toUri.getPath
      if (r.findFirstIn(p).isDefined && armed.compareAndSet(cur, None))
        throw new java.io.IOException(s"chaos: killed before writing $p")
    }
  }
}
