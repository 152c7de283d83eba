package graft

import graft.ops.SnapshotTable
import graft.state.Claims
import graft.streaming.Commits
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one storage-claim primitive ([[graft.state.Claims]]): a lost
  * claim of either store kind is the typed [[Claims.Conflict]], every
  * attempt stages under its own tmp name, a staged directory claims by
  * the same no-clobber rename, and contract refusals are never mistaken
  * for conflicts. Stores that need a racer at an exact instant live
  * under the `faultfs:` scheme ([[FaultFs]]). */
class ClaimSpec extends SparkSpec {

  import spark.implicits._

  FaultFs.install(spark.sparkContext.hadoopConfiguration)

  private def fs(dir: String) = new Path(dir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def names(dir: String): Set[String] =
    fs(dir).listStatus(new Path(dir)).map(_.getPath.getName).toSet

  private val rowSchema = StructType.fromDDL("id BIGINT, v STRING")

  private def landBatch(store: String, b: Int): Unit =
    Seq((b.toLong, s"r$b")).toDF("id", "v")
      .write.parquet(s"$store/batch=$b")

  private def storeRows(store: String): Seq[(Long, String)] =
    spark.read.schema(rowSchema)
      .parquet(Commits.fragmentRoots(spark, store): _*)
      .as[(Long, String)].collect().toSeq.sorted

  test("two compactFlatStore folds staged at one _runs.<v>: exactly one " +
      "wins, the loser raises Claims.Conflict, the winner's manifest " +
      "bytes survive and the loser's tmp is gone") {
    val store = FaultFs.path(tmpDir("claimfold")) + "/store"
    landBatch(store, 0); landBatch(store, 1)
    var winner = ""
    // the racer folds the same tail from the same manifest and claims
    // _runs.0 while the first fold is staging its claim
    FaultFs.arm("**/_runs.0.*.tmp", 1) { _ =>
      Commits.compactFlatStore(spark, store, rowSchema)
      winner = Claims.read(fs(store), new Path(store, "_runs.0"))
    }
    try intercept[Claims.Conflict] {
      Commits.compactFlatStore(spark, store, rowSchema)
    } finally FaultFs.disarm()
    assert(winner.contains("upTo=1"), s"the racer must have won: $winner")
    assert(Claims.read(fs(store), new Path(store, "_runs.0")) == winner)
    assert(names(store).forall(Claims.stagedFor(_).isEmpty),
      s"the loser's tmp must be gone: ${names(store)}")
    assert(storeRows(store) == Seq((0L, "r0"), (1L, "r1")))
  }

  test("a publisher whose range dir appears while it writes its staging " +
      "accepts the racer's range: no nested staging dir, the feed reads " +
      "once") {
    val base = tmpDir("claimpub")
    val tbl = s"$base/t"
    SnapshotTable.merge(spark, tbl,
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "v", "p"), "k", "v",
      Seq("p"), Some(1L))
    // the racer's landing: the same deterministic range, published first
    SnapshotTable.publishChanges(spark, tbl, "k", s"$base/racer")
    val land = s"$base/land"
    FaultFs.arm("**/_staging_changes_*/_SUCCESS", 1) { _ =>
      val src = java.nio.file.Paths.get(s"$base/racer/changes_v0_v1")
      val dst = java.nio.file.Paths.get(s"$land/changes_v0_v1")
      java.nio.file.Files.walk(src).sorted().forEach(p =>
        java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))))
    }
    try assert(SnapshotTable.publishChanges(spark, tbl, "k",
      FaultFs.path(land)) == Some((0L, 1L)))
    finally assert(FaultFs.disarm() == 1, "the racer must have run")
    val left = java.nio.file.Files.walk(java.nio.file.Paths.get(land))
      .map(_.getFileName.toString)
      .filter(_.startsWith("_staging_changes_")).count()
    assert(left == 0L, "the lost claim must leave no staging, nested or not")
    val feed = spark.read.parquet(s"$land/changes_*")
    assert(feed.count() == 2L)
    assert(feed.select(col("k")).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("a publisher whose range dir appears inside its claim's rename " +
      "gap loses the claim: the nested copy is removed, the feed reads " +
      "once") {
    val base = tmpDir("claimnest")
    val tbl = s"$base/t"
    SnapshotTable.merge(spark, tbl,
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "v", "p"), "k", "v",
      Seq("p"), Some(1L))
    SnapshotTable.publishChanges(spark, tbl, "k", s"$base/racer")
    val land = s"$base/land"
    // the racer's range lands after the claim's existence check, at
    // the staging rename itself: the local rename then copies the
    // staging INTO the racer's dir
    FaultFs.arm("**/changes_v0_v1", 1) { _ =>
      val src = java.nio.file.Paths.get(s"$base/racer/changes_v0_v1")
      val dst = java.nio.file.Paths.get(s"$land/changes_v0_v1")
      java.nio.file.Files.walk(src).sorted().forEach(p =>
        java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))))
    }
    try assert(SnapshotTable.publishChanges(spark, tbl, "k",
      FaultFs.path(land)) == Some((0L, 1L)))
    finally assert(FaultFs.disarm() == 1, "the racer must have run")
    val left = java.nio.file.Files.walk(java.nio.file.Paths.get(land))
      .map(_.getFileName.toString)
      .filter(_.startsWith("_staging_changes_")).count()
    assert(left == 0L, "the lost claim must leave no staging, nested or not")
    val feed = spark.read.parquet(s"$land/changes_*")
    assert(feed.count() == 2L)
    assert(feed.select(col("k")).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("contract refusals stay plain IllegalArgumentExceptions: an " +
      "existing check name is no Conflict, and a merge refused by a " +
      "CHECK whose text says 'already exists' is not retried") {
    val base = tmpDir("claimcheck")
    def table(name: String, check: String): String = {
      val tbl = s"$base/$name"
      SnapshotTable.merge(spark, tbl,
        Seq((1L, "a", 1)).toDF("k", "v", "p"), "k", "v", Seq("p"),
        Some(1L))
      SnapshotTable.addCheck(spark, tbl, "v_ok", check)
      tbl
    }
    val phrase = table("phrase", "v != 'already exists'")
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.addCheck(spark, phrase, "v_ok", "k > 0")
    }
    assert(ex.getMessage.contains("already exists"))
    assert(!ex.isInstanceOf[Claims.Conflict])
    val plain = table("plain", "v != 'forbidden'")
    def refusedJobs(tbl: String, bad: String): Int =
      jobsStartedDuring {
        val e = intercept[IllegalArgumentException] {
          SnapshotTable.merge(spark, tbl,
            Seq((2L, bad, 1)).toDF("k", "v", "p"), "k", "v", Seq("p"),
            Some(2L))
        }
        assert(e.getMessage.contains("CHECK constraint 'v_ok'"))
        assert(!e.isInstanceOf[Claims.Conflict])
      }.size
    assert(refusedJobs(phrase, "already exists") ==
      refusedJobs(plain, "forbidden"),
      "a refusal is one attempt, whatever its message says")
  }

  test("a crashed fold's _runs.<v> claim tmp is swept by the next " +
      "tieredCompact call") {
    val store = FaultFs.path(tmpDir("claimcrash")) + "/store"
    landBatch(store, 0); landBatch(store, 1)
    // crash at the claim's rename: the tmp is written, never renamed
    FaultFs.arm("**/_runs.*", 2)(FaultFs.crash)
    try intercept[java.io.IOException] {
      Commits.compactFlatStore(spark, store, rowSchema)
    } finally FaultFs.disarm()
    assert(names(store).exists(n =>
      Claims.stagedFor(n).contains("_runs.0")), names(store))
    assert(Commits.runManifest(spark, store).ver == -1L)
    Commits.compactFlatStore(spark, store, rowSchema)
    assert(Commits.runManifest(spark, store).ver == 0L)
    assert(names(store).forall(Claims.stagedFor(_).isEmpty),
      s"the crashed fold's tmp must be swept: ${names(store)}")
    assert(storeRows(store) == Seq((0L, "r0"), (1L, "r1")))
  }

  test("SnapshotTable and Commits reach the filesystem's commit calls " +
      "only through Claims; conflicts are never matched by message") {
    import scala.jdk.CollectionConverters._
    def lines(p: java.nio.file.Path) =
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
    val stores = Seq("src/main/scala/graft/ops/SnapshotTable.scala",
      "src/main/scala/graft/streaming/Commits.scala")
      .map(java.nio.file.Paths.get(_))
    val stray = stores.flatMap(p => lines(p).collect {
      case (l, i) if l.contains("IOUtils.copyBytes") ||
          l.contains(".rename(") || l.contains(".tmp\"") =>
        s"$p:${i + 1}: ${l.trim}"
    }) ++ java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(p => lines(p).collect {
        case (l, i) if l.contains("isCommitConflict") =>
          s"$p:${i + 1}: ${l.trim}"
      })
    assert(stray.isEmpty, stray.mkString("\n"))
  }
}
