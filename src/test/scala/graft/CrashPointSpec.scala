package graft

import graft.ops.SnapshotTable
import graft.state.Claims
import graft.streaming.Commits
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Crash-point enumeration of the two commit protocols over
  * [[graft.state.Claims]]: one `SnapshotTable.merge` and one
  * `Commits.compactFlatStore`, crashed ([[FaultFs.crash]]) at every
  * mutating filesystem call they make in turn. After each crash the
  * store must read row-identical to its pre-commit or its committed
  * state with no manifest naming a missing file, and a retry must
  * converge to the no-fault result. */
class CrashPointSpec extends SparkSpec {

  import spark.implicits._

  FaultFs.install(spark.sparkContext.hadoopConfiguration)

  private def fs(dir: String) = new Path(dir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** A fresh copy of the local tree `src` at `dst` (plain file copies,
    * no filesystem hooks). */
  private def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.createDirectories(d.getParent)
    java.nio.file.Files.walk(s).sorted().forEach(p =>
      java.nio.file.Files.copy(p, d.resolve(s.relativize(p))))
  }

  /** Crash `op(n)` on a fresh copy of `seed` at `<base>/<n>` at its
    * n-th mutating call, for every n its no-fault run (`op(0)`) makes,
    * then `check(n)`; returns how many crash points were covered. */
  private def everyCrashPoint(seed: String, base: String,
      op: Int => Unit)(check: Int => Unit): Int = {
    val glob = s"$base/*/**"
    copyTree(seed, s"$base/0")
    FaultFs.arm(glob, Int.MaxValue)(_ => ())
    op(0)
    val points = FaultFs.disarm()
    assert(points > 0, s"no mutating call under $glob")
    (1 to points).foreach { n =>
      copyTree(seed, s"$base/$n")
      FaultFs.arm(glob, n)(FaultFs.crash)
      try op(n)
      catch { case scala.util.control.NonFatal(_) => }
      finally FaultFs.disarm()
      check(n)
    }
    points
  }

  private def content(df: org.apache.spark.sql.DataFrame) =
    df.select(col("k"), col("v"), col("p")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("SnapshotTable.merge crashed at every mutating call: the head " +
      "reads the pre-commit or the committed rows, no manifest names a " +
      "missing file, and a retry converges") {
    val base = tmpDir("crashmerge")
    val seed = s"$base/seed"
    SnapshotTable.merge(spark, seed,
      Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 2)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(1L))
    val before = content(SnapshotTable.read(spark, seed))
    val delta = Seq((1L, "a2", 1), (4L, "d", 3)).toDF("k", "v", "p")
    def tbl(n: Int) = FaultFs.path(s"$base/runs/$n")
    def merge(n: Int) = SnapshotTable.merge(spark, tbl(n), delta, "k", "v",
      Seq("p"), Some(2L))
    val after = before - ((1L, "a", 1)) + ((1L, "a2", 1)) + ((4L, "d", 3))
    def manifestsComplete(dir: String): Unit =
      SnapshotTable.versions(spark, dir).foreach { v =>
        SnapshotTable.resolve(spark, dir, Some(v)).entries.foreach { e =>
          assert(fs(dir).exists(new Path(s"$dir/data/${e.path}")),
            s"v$v names missing ${e.path}")
          e.fileStats.foreach(f => assert(
            fs(dir).exists(new Path(s"$dir/data/${e.path}/${f.name}")),
            s"v$v names missing ${e.path}/${f.name}"))
        }
      }
    val points = everyCrashPoint(seed, s"$base/runs", n => merge(n)) { n =>
      val dir = tbl(n)
      val now = content(SnapshotTable.read(spark, dir))
      assert(now == before || now == after, s"crash point $n read $now")
      manifestsComplete(dir)
      assert(merge(n) == 2L, s"crash point $n: the retry lands v2")
      assert(content(SnapshotTable.read(spark, dir)) == after)
      SnapshotTable.vacuum(spark, dir, graceMs = 0L)
      manifestsComplete(dir)
      assert(content(SnapshotTable.read(spark, dir)) == after)
      assert(fs(dir).listStatus(new Path(dir))
        .forall(s => Claims.stagedFor(s.getPath.getName).isEmpty))
    }
    info(s"$points crash points covered")
  }

  test("Commits.compactFlatStore crashed at every mutating call: the " +
      "store reads the same rows, every manifest run exists, and a " +
      "retry converges to the no-fault store") {
    val base = tmpDir("crashfold")
    val schema = StructType.fromDDL("id BIGINT, v STRING")
    val seed = s"$base/seed"
    (0 to 3).foreach(b => Seq((b.toLong, s"r$b"), (b + 10L, s"s$b"))
      .toDF("id", "v").write.parquet(s"$seed/batch=$b"))
    // batches 0-1 already folded into run=0: the crashed fold absorbs
    // that run, claims _runs.1 and cleans batches 0-1 up
    spark.read.schema(schema).parquet(s"$seed/batch=0", s"$seed/batch=1")
      .write.parquet(s"$seed/run=0")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$seed/_runs.0"),
      "upTo=1\nnext=1\nrun=0:" + fs(seed).getContentSummary(
        new Path(s"$seed/run=0")).getLength)
    def store(n: Int) = FaultFs.path(s"$base/runs/$n")
    def fold(n: Int) =
      Commits.compactFlatStore(spark, store(n), schema, outFiles = 2,
        maxRuns = 1)
    def rows(dir: String) = spark.read.schema(schema)
      .parquet(Commits.fragmentRoots(spark, dir): _*)
      .as[(Long, String)].collect().toSeq.sorted
    def names(dir: String) =
      fs(dir).listStatus(new Path(dir)).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).toSet
    val want = rows(seed)
    // the no-fault result: one fold, then one empty-tail call
    copyTree(seed, s"$base/clean")
    Commits.compactFlatStore(spark, FaultFs.path(s"$base/clean"), schema,
      outFiles = 2, maxRuns = 1)
    Commits.compactFlatStore(spark, FaultFs.path(s"$base/clean"), schema,
      outFiles = 2, maxRuns = 1)
    val clean = Commits.runManifest(spark, FaultFs.path(s"$base/clean"))
    val cleanNames = names(FaultFs.path(s"$base/clean"))
    val points = everyCrashPoint(seed, s"$base/runs", fold) { n =>
      val dir = store(n)
      assert(rows(dir) == want, s"crash point $n")
      Commits.runManifest(spark, dir).runs.foreach(r => assert(
        fs(dir).exists(new Path(s"$dir/${r.name}/_SUCCESS")),
        s"crash point $n: the manifest names a missing run ${r.name}"))
      fold(n); fold(n)
      assert(rows(dir) == want)
      val m = Commits.runManifest(spark, dir)
      assert((m.ver, m.upTo, m.next) == (clean.ver, clean.upTo, clean.next),
        s"crash point $n: $m vs $clean")
      assert(names(dir) == cleanNames, s"crash point $n")
    }
    info(s"$points crash points covered")
  }
}
