package graft

import java.nio.file.{Files, Path, Paths}

/** Scratch-directory lifecycle shared by the catalog's file-boundary
  * queries: ONE recursive-delete implementation (walk closed, children
  * before parents) so the pattern's past bug class — an unclosed
  * `Files.walk` handle, fixed once in round 12's review — cannot
  * re-diverge across copies.
  *
  * Scratch lives on tmpfs when the host offers one (`/dev/shm`) —
  * the round-12 bench adjudication traced 5-7× per-query inflation
  * (q224 28.2 s vs 5.3 quiet, q22 7.4 vs 1.15) to the file-landing
  * and streaming queries' disk writeback: thousands of landing
  * files, checkpoint WAL fsyncs, and block-manager writes hitting
  * the same device the NEXT query reads its parquet from. Ephemeral
  * by definition (every scratch dir is deleted in a `finally`),
  * these bytes never belonged on a disk; on tmpfs the writeback
  * storm — and the interference class with it — does not exist. */
object Scratch {

  /** The scratch base: `/dev/shm/graft-scratch` when available,
    * else the JVM default temp dir. */
  lazy val base: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) {
      val d = shm.resolve("graft-scratch")
      Files.createDirectories(d)
      d
    } else Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Redirect the JVM's default temp dir to [[base]] — the measuring
    * mains (Bench / Verify / Probe) call this FIRST, before any
    * Spark machinery starts, so Spark's own scratch (the
    * `spark.local.dir` default, block-manager disk store, implicit
    * stream checkpoints) follows the same tmpfs discipline as the
    * explicit scratch dirs. The mains fork (`run / fork := true`),
    * so the property lands before anything samples it. */
  def preferTmpfs(): Unit =
    System.setProperty("java.io.tmpdir", base.toString)

  /** Create a scratch dir under [[base]]. */
  def createTempDir(prefix: String): Path =
    Files.createTempDirectory(base, prefix)

  def deleteRecursively(d: Path): Unit = {
    val walk = Files.walk(d)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    } finally walk.close()
  }
}
