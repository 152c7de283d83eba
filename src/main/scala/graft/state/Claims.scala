package graft.state

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The ONE storage-claim primitive of both store kinds: every manifest,
  * ref and marker commit of [[graft.ops.SnapshotTable]] (`_snap.<n>`,
  * `_bsnap.<b>.<n>`, `_tag.<t>`, `_branch.<b>`, `_head`) and of
  * [[graft.streaming.Commits]] (`_runs.<v>`, `_retained.<floor>`) goes
  * through here — the one transaction-log discipline Delta Lake gives
  * its batch and streaming writers alike (Armbrust et al., VLDB 2020).
  *
  * A CLAIM stages its bytes in a per-attempt tmp file
  * `<dst>.<hex>.tmp` and renames it onto `dst` through
  * [[org.apache.hadoop.fs.FileContext]] WITHOUT
  * `Options.Rename.OVERWRITE`: the no-clobber rename, atomic on
  * HDFS-class stores (the namenode picks exactly one winner — the
  * contract Delta's HDFS LogStore publishes) and check-then-rename on
  * the local filesystem (the window shrinks to the syscall gap). The
  * same rename claims a staged DIRECTORY ([[claimStaged]]): an existing
  * destination dir refuses instead of taking the source as a child —
  * on the local filesystem, a racer landing inside the gap makes the
  * rename copy the source in as a child, so the claim checks for that
  * nested copy and treats it as the lost claim it is. A claim
  * lost to a racer deletes its own staging and raises [[Conflict]];
  * any other rename failure (permissions, quota, a missing source)
  * propagates as the IOException it is, so a retry loop never spins on
  * a persistent fault. A REPLACE is the same tmp write renamed WITH
  * overwrite — for the advisory `_head` pointer and in-place
  * checkpoint rewrites, whose readers are right either way.
  *
  * Tmp names are per attempt, so two racers never share staging bytes;
  * a crashed attempt's tmp is recognized by [[stagedFor]] and swept by
  * its store (`SnapshotTable.vacuum` after a grace window,
  * `Commits`' fold cleanup once its version is claimed). */
object Claims {

  /** A claim lost to a racer: the destination already exists. The
    * RETRYABLE class — an optimistic writer re-resolves and
    * recomputes; a contract refusal stays a plain
    * IllegalArgumentException, so retry loops match by type. */
  class Conflict(message: String, cause: Throwable = null)
      extends IllegalArgumentException(message, cause)

  /** Per-filesystem [[org.apache.hadoop.fs.FileContext]] cache:
    * FileContext is thread-safe, but unlike `FileSystem.get` Hadoop
    * does NOT cache its AbstractFileSystem — every `getFileContext`
    * pays a reflective construction, which on the per-commit paths
    * would tax every merge. One instance per (scheme, authority) per
    * JVM. CAVEAT (deliberate, mirrors `FileSystem.get`'s own cache):
    * the instance binds the Hadoop configuration seen at FIRST use per
    * filesystem — credential/endpoint changes made to the session conf
    * afterwards do not reach the claims. A deployment that rotates
    * per-session conf should key this cache on a config fingerprint;
    * none of this engine's paths do. */
  private val fileContexts =
    new java.util.concurrent.ConcurrentHashMap[String, FileContext]()

  private def fcOf(spark: SparkSession, p: Path): FileContext = {
    val u = p.toUri
    val key = Option(u.getScheme).getOrElse("") + "://" +
      Option(u.getAuthority).getOrElse("")
    fileContexts.computeIfAbsent(key, _ =>
      FileContext.getFileContext(u, spark.sparkContext.hadoopConfiguration))
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A small committed file (manifest, pointer, ref), whole, as UTF-8. */
  def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Claim `dst` with `body`: per-attempt tmp write, then the
    * no-clobber rename. */
  def claim(spark: SparkSession, dst: Path, body: String): Unit =
    renameNoClobber(spark, stage(spark, dst, body), dst)

  /** Claim `dst` with an already-staged DIRECTORY: the no-clobber
    * rename, then one check of `dst/<staged name>`. A racer's dir that
    * lands inside the local filesystem's check-then-rename gap turns
    * the rename into a copy INTO it; that nested copy is the lost
    * claim, so it is deleted and [[Conflict]] raised, as for a racer
    * that landed before the check. */
  def claimStaged(spark: SparkSession, staged: Path, dst: Path): Unit = {
    renameNoClobber(spark, staged, dst)
    val nested = new Path(dst, staged.getName)
    val fs = fsOf(spark, dst)
    if (fs.exists(nested)) {
      fs.delete(nested, true)
      throw new Conflict(s"$dst already exists — a concurrent writer " +
        "claimed it first (our staging landed nested inside it)")
    }
  }

  /** The no-clobber rename of `staged` onto `dst`. Lost to a racer
    * (`dst` exists) → the staging is deleted and [[Conflict]] raised;
    * any other failure propagates. */
  private def renameNoClobber(spark: SparkSession, staged: Path,
      dst: Path): Unit =
    try fcOf(spark, dst).rename(staged, dst) // Options.Rename.NONE
    catch {
      case e: java.io.IOException =>
        val fs = fsOf(spark, dst)
        if (!fs.exists(dst)) throw e
        fs.delete(staged, true) // our staging lost; reclaim eagerly
        throw new Conflict(s"$dst already exists — a concurrent writer " +
          s"claimed it first (${e.getClass.getSimpleName})", e)
    }

  /** Replace `dst` with `body`: per-attempt tmp write, then an
    * overwriting rename — readers see the old bytes or the new, whole. */
  def replace(spark: SparkSession, dst: Path, body: String): Unit =
    fcOf(spark, dst).rename(stage(spark, dst, body), dst,
      Options.Rename.OVERWRITE)

  /** The numbers `n` of the `<prefix><n>` entries of `dir`, ascending —
    * the "max wins" listing of versioned manifests and markers (empty
    * when `dir` does not exist; claim tmps never parse). */
  def numbered(fs: FileSystem, dir: Path, prefix: String): Seq[Long] =
    try fs.listStatus(dir).toSeq
      .flatMap(s => number(s.getPath.getName, prefix)).sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  /** `<prefix><n>` → `n`; None for any other name. */
  def number(name: String, prefix: String): Option[Long] =
    if (name.startsWith(prefix)) name.stripPrefix(prefix).toLongOption
    else None

  private val TmpName = """(_.+)\.[0-9a-f]+\.tmp""".r

  /** The destination a claim tmp was staged for
    * (`_runs.3.1f2e.tmp` → `_runs.3`); None for every other name. */
  def stagedFor(name: String): Option[String] = name match {
    case TmpName(dst) => Some(dst)
    case _ => None
  }

  private def stage(spark: SparkSession, dst: Path, body: String): Path = {
    val token = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
    val tmp = new Path(dst.getParent, s"${dst.getName}.$token.tmp")
    val out = fsOf(spark, dst).create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    tmp
  }
}
