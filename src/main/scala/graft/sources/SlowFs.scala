package graft.sources

import java.io.OutputStream
import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Latency-injecting local filesystem — the `slowfs://` scheme, a
  * standard test-harness pattern for proving latency-hiding claims
  * without a network: every `open()` sleeps
  * `fs.slowfs.open.delay.ms` milliseconds before returning the
  * stream, modeling an object store's TIME-TO-FIRST-BYTE (the
  * round-trip a GET pays before any payload byte arrives — tens of
  * milliseconds on real stores, ~0 on local disk). Everything else
  * delegates to [[RawLocalFileSystem]], so bytes, listings, and
  * statuses are the local truth and only the latency is synthetic.
  *
  * Register per session:
  * {{{
  *   spark.hadoop.fs.slowfs.impl = graft.sources.SlowFs
  *   spark.hadoop.fs.slowfs.open.delay.ms = 25
  * }}}
  * then address local files as `slowfs:///abs/path`. With it,
  * [[graft.ext.MediaFiles.streamManifest]]'s bounded read-ahead was
  * measured serial-vs-overlapped where the overlap actually matters
  * (BASELINE.md "Prefetch proven under injected object-store TTFB") —
  * the depth-4 prefetch was justified by a TTFB argument but every local
  * measurement has TTFB ~= 0, so without this wrapper the claim was
  * untested where it counts. */
class SlowFs extends RawLocalFileSystem {

  override def getScheme: String = "slowfs"

  override def getUri: URI = URI.create("slowfs:///")

  private def ttfb(): Unit = {
    val d = getConf.getLong("fs.slowfs.open.delay.ms", 0L)
    if (d > 0L) Thread.sleep(d)
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    ttfb()
    super.open(p, bufferSize)
  }

  /** Every file create sleeps `fs.slowfs.create.delay.ms` (default 0)
    * first — a slow write, e.g. to hold a write job mid-flight. The
    * sleep is interruptible, as a task kill needs. Both output-stream
    * factories are covered: every create variant goes through one. */
  private def createDelay(): Unit = {
    val d = getConf.getLong("fs.slowfs.create.delay.ms", 0L)
    if (d > 0L) Thread.sleep(d)
  }

  override protected def createOutputStream(p: Path,
      append: Boolean): OutputStream = {
    createDelay()
    super.createOutputStream(p, append)
  }

  override protected def createOutputStreamWithMode(p: Path,
      append: Boolean, permission: FsPermission): OutputStream = {
    createDelay()
    super.createOutputStreamWithMode(p, append, permission)
  }
}
