package graft

import graft.ops.SnapshotTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The one commit protocol of the snapshot table: every merge, CDC
  * merge and key delete is optimistic, and every writer stages under
  * its own `v=<n>-<token>` dir. A writer whose commit window a winner
  * interleaves (the `onBeforeCommit` seam) therefore neither loses its
  * staged files to the winner's write nor fails: it re-commits over
  * the winner when their partitions are disjoint. A maintenance
  * rewrite, which runs no retry loop, still refuses loudly. */
class CommitProtocolSpec extends SparkSpec {

  import spark.implicits._

  private def fs(dir: String) = new Path(dir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def kvp(rows: (Long, String, Int)*) = rows.toDF("k", "v", "p")

  private def content(df: org.apache.spark.sql.DataFrame) =
    df.select(col("k"), col("v"), col("p")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  /** Every entry of the head names a dir whose parquet files are
    * exactly the files its manifest inventory lists, holding the rows
    * its manifest counts. */
  private def assertEveryManifestFilePresent(dir: String): Unit = {
    val f = fs(dir)
    SnapshotTable.resolve(spark, dir).entries.foreach { e =>
      val p = new Path(s"$dir/data/${e.path}")
      assert(f.exists(p), s"entry ${e.path} names a missing dir")
      val onDisk = f.listStatus(p).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
      assert(onDisk.nonEmpty && onDisk == e.fileStats.map(_.name).toSet,
        s"entry ${e.path}: manifest files ${e.fileStats.map(_.name)} " +
          s"!= on disk $onDisk")
      assert(e.rows.contains(spark.read.parquet(p.toString).count()),
        s"entry ${e.path}: manifest rows ${e.rows} != bytes")
    }
  }

  private def assertNoInflightMarker(dir: String): Unit =
    assert(!fs(dir).listStatus(new Path(dir))
      .exists(_.getPath.getName.startsWith("_inflight.")),
      "every writer must remove its in-flight marker")

  test("a plain merge whose commit window a disjoint winner merge " +
      "interleaves commits the next version with the union content " +
      "and every manifest file on disk") {
    val dir = tmpDir("plainrace") + "/t"
    SnapshotTable.merge(spark, dir, kvp((1L, "a", 1), (2L, "b", 2)),
      "k", "v", Seq("p"), Some(1L))                       // v1: p=1,2
    val ver = withInterleavedWinner {
      SnapshotTable.merge(spark, dir, kvp((20L, "w", 2)),
        "k", "v", Seq("p"), Some(2L))                     // v2 on p=2
    } {
      SnapshotTable.merge(spark, dir, kvp((10L, "l", 1)),
        "k", "v", Seq("p"), Some(3L))                     // p=1
    }
    assert(ver == 3L)
    assert(SnapshotTable.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(content(SnapshotTable.read(spark, dir)) ==
      Set((1L, "a", 1), (2L, "b", 2), (20L, "w", 2), (10L, "l", 1)))
    val head = SnapshotTable.resolve(spark, dir)
    assert(head.batchId.contains(3L))
    // winner and loser both staged for v2, each into its own dir; the
    // head references both: the winner's p=2 entry carries, and the
    // loser's p=1 entry is its staging, committed as it was written
    val stagings = head.entryPaths.map(_.takeWhile(_ != '/'))
    assert(stagings.distinct.size == 2 &&
      stagings.toSet == versionDirs(dir, 2L).map(_.getName).toSet,
      s"entries ${head.entryPaths} vs v2 dirs ${versionDirs(dir, 2L)}")
    assertEveryManifestFilePresent(dir)
    assertNoInflightMarker(dir)
  }

  test("a CDC merge whose commit window a disjoint winner merge " +
      "interleaves commits the next version with the union content") {
    val dir = tmpDir("cdcrace") + "/t"
    SnapshotTable.merge(spark, dir,
      kvp((1L, "a", 1), (3L, "c", 1), (2L, "b", 2)),
      "k", "v", Seq("p"), Some(1L))
    val feed = Seq((1L, "a2", 1, 1L, "U"), (3L, "c", 1, 1L, "D"))
      .toDF("k", "v", "p", "seq", "op")
    val ver = withInterleavedWinner {
      SnapshotTable.merge(spark, dir, kvp((20L, "w", 2)),
        "k", "v", Seq("p"), Some(2L))
    } {
      SnapshotTable.mergeCdc(spark, dir, feed, "k", Seq("seq"), "op",
        Seq("p"), Some(3L))
    }
    assert(ver == 3L)
    assert(content(SnapshotTable.read(spark, dir)) ==
      Set((1L, "a2", 1), (2L, "b", 2), (20L, "w", 2)))
    assertEveryManifestFilePresent(dir)
  }

  test("a maintenance rewrite runs no retry loop: an interleaved " +
      "winner makes OPTIMIZE refuse loudly, its staging unreferenced, " +
      "the winner's content intact") {
    val dir = tmpDir("optrace") + "/t"
    SnapshotTable.merge(spark, dir, kvp((1L, "a", 1), (2L, "b", 2)),
      "k", "v", Seq("p"), Some(1L))
    val ex = withInterleavedWinner {
      SnapshotTable.merge(spark, dir, kvp((20L, "w", 2)),
        "k", "v", Seq("p"), Some(2L))
    } {
      intercept[IllegalArgumentException] {
        SnapshotTable.optimize(spark, dir, Seq("p"))
      }
    }
    assert(ex.getMessage.contains("already exists"), ex.getMessage)
    assert(SnapshotTable.versions(spark, dir) == Seq(1L, 2L))
    assert(content(SnapshotTable.read(spark, dir)) ==
      Set((1L, "a", 1), (2L, "b", 2), (20L, "w", 2)))
    assertEveryManifestFilePresent(dir)
    val referenced = SnapshotTable.resolve(spark, dir).entryPaths
      .map(_.takeWhile(_ != '/')).toSet
    assert(versionDirs(dir, 2L).map(_.getName).count(
      !referenced.contains(_)) == 1,
      "the refused rewrite's staging is one unreferenced dir")
    assertNoInflightMarker(dir)
  }
}
