package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem under the `faultfs:` scheme, with one armed
  * hook on its MUTATING calls — every `create`, `rename` and `delete`,
  * through `FileSystem` and through `FileContext` ([[FaultAfs]]) alike.
  * The n-th call whose path matches the armed glob runs the hook: a
  * [[FaultFs.crash]] fails that call and every mutating call after it
  * (the process died there: nothing further reaches the disk, reads
  * still work), any other hook runs and lets the call proceed (a racer
  * acting at that instant). State is per JVM, since Hadoop builds the
  * instances by reflection; specs arm, run, and [[FaultFs.disarm]]. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.Uri
  override def getScheme: String = FaultFs.Scheme

  override protected def createOutputStreamWithMode(f: Path,
      append: Boolean, permission: FsPermission): java.io.OutputStream = {
    FaultFs.hit(f)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.hit(src, dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.hit(p)
    super.delete(p, recursive)
  }
}

/** [[FaultFs]] bound for `FileContext` (`fs.AbstractFileSystem.faultfs.impl`). */
class FaultAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FaultFs, conf, FaultFs.Scheme,
      false)

object FaultFs {
  val Scheme = "faultfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  private final class Armed(val glob: java.nio.file.PathMatcher,
      val n: Int, val hook: Path => Unit)

  @volatile private var armed: Option[Armed] = None
  @volatile private var crashed = false
  private val seen = new AtomicInteger

  /** Bind the scheme in `conf` (both the FileSystem and the FileContext
    * faces). */
  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[FaultAfs].getName)
  }

  /** `local` (an absolute local path) under the `faultfs:` scheme. */
  def path(local: String): String = s"$Scheme://$local"

  /** Run `hook` at the `n`-th (1-based) mutating call whose path
    * matches `glob` (java.nio glob syntax over the path part:
    * `**` crosses directories, `*` does not). */
  def arm(glob: String, n: Int)(hook: Path => Unit): Unit = {
    seen.set(0)
    crashed = false
    armed = Some(new Armed(
      java.nio.file.FileSystems.getDefault.getPathMatcher("glob:" + glob),
      n, hook))
  }

  /** The crash hook: this call and every later mutating call fail. */
  val crash: Path => Unit = p => {
    crashed = true
    throw new java.io.IOException(s"faultfs: injected crash at $p")
  }

  /** Disarm; returns how many matching calls were seen. */
  def disarm(): Int = {
    armed = None
    crashed = false
    seen.get
  }

  private def hit(ps: Path*): Unit = armed.foreach { a =>
    if (crashed)
      throw new java.io.IOException(s"faultfs: crashed before ${ps.head}")
    if (ps.exists(p => a.glob.matches(
        java.nio.file.Paths.get(p.toUri.getPath))) &&
        seen.incrementAndGet() == a.n)
      a.hook(ps.head)
  }
}
