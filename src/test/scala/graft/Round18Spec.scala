package graft

import graft.ops.SnapshotTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Round-18: the snapshot table's remaining lakehouse rungs — the
  * cross-process commit window closed with the filesystem's own
  * no-clobber rename (r17 verdict #1), the retryable-conflict /
  * persistent-failure split (r17 advice), null merge keys refused at
  * commit (r17 advice), retention's grace window for in-flight
  * writers (r17 advice), and publish serialization + overlap defense
  * (r17 advice). */
class Round18Spec extends SparkSpec {

  import spark.implicits._

  private def content(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, String, Int)] =
    df.select(col("k"), col("v"), col("p")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  private def fs(dir: String) = new Path(dir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  test("atomic version claim: two writers past the exists check, both " +
      "staged, both renaming the same version — the filesystem picks " +
      "exactly one winner, the loser surfaces the retryable conflict, " +
      "and the winner's bytes survive untouched (the interleaving the " +
      "old clobbering rename lost a merge to)") {
    val dir = tmpDir("claim")
    val f = fs(dir)
    val dst = new Path(dir, "_snap.7")
    def stage(name: String, body: String): Path = {
      val p = new Path(dir, name)
      val out = f.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      p
    }
    // both "clients" are past the pre-rename exists check (dst absent)
    // and fully staged — exactly the cross-process window
    val tmpA = stage("_snap.7.aaaa.tmp", "winner-bytes")
    val tmpB = stage("_snap.7.bbbb.tmp", "loser-bytes")
    graft.state.Claims.claimStaged(spark, tmpA, dst) // A claims first
    val ex = intercept[IllegalArgumentException] {
      graft.state.Claims.claimStaged(spark, tmpB, dst) // B must LOSE, loudly
    }
    assert(ex.getMessage.contains("already exists"),
      s"the lost claim must surface as the retryable conflict: " +
        s"${ex.getMessage}")
    val in = f.open(dst)
    val back =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
        new String(bos.toByteArray, "UTF-8")
      } finally in.close()
    assert(back == "winner-bytes",
      "the loser's rename must never replace the winner's manifest")
    assert(!f.exists(tmpB),
      "the lost claim must sweep its own staging eagerly")
  }

  test("atomic version claim under REAL concurrency: N threads, each " +
      "its own staged file, one barrier, all rename the same version " +
      "— exactly one winner, N-1 retryable conflicts") {
    val dir = tmpDir("claimrace")
    val f = fs(dir)
    val dst = new Path(dir, "_snap.3")
    val n = 8
    val tmps = (0 until n).map { i =>
      val p = new Path(dir, s"_snap.3.t$i.tmp")
      val out = f.create(p, true)
      try out.write(s"writer-$i".getBytes("UTF-8")) finally out.close()
      p
    }
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results =
      try Await.result(Future.sequence((0 until n).map { i =>
        Future {
          barrier.await()
          try { graft.state.Claims.claimStaged(spark, tmps(i), dst); "won" }
          catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("already exists") => "conflict"
          }
        }
      }), Duration.Inf)
      finally pool.shutdown()
    assert(results.count(_ == "won") == 1,
      s"exactly one claim must win: $results")
    assert(results.count(_ == "conflict") == n - 1)
  }

  test("a rename that fails WITHOUT a racer's manifest appearing " +
      "(missing staging — the persistent-failure class) propagates as " +
      "an IOException the optimistic retry loop never swallows") {
    val dir = tmpDir("claimhard")
    intercept[java.io.IOException] {
      graft.state.Claims.claimStaged(spark,
        new Path(dir, "_snap.1.never-written.tmp"), new Path(dir, "_snap.1"))
    }
    assert(!fs(dir).exists(new Path(dir, "_snap.1")),
      "a failed claim must not fabricate a destination")
  }

  test("null merge keys refuse before any commit — merge, mergeCdc, " +
      "and the unchanged-table proof (round 20: the census reads the " +
      "staged footers, so the refusal is post-write but the version " +
      "stays unburned and content untouched)") {
    val tbl = tmpDir("nullkey") + "/t"
    val ok = Seq((1L, "a", 1)).toDF("k", "v", "p")
    assert(SnapshotTable.merge(spark, tbl, ok, "k", "v", Seq("p"),
      Some(1L)) == 1L)
    val bad = Seq((Some(2L), "b", 1), (None, "oops", 1))
      .toDF("k", "v", "p")
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, tbl, bad, "k", "v", Seq("p"), Some(2L))
    }
    assert(ex.getMessage.contains("is null on 1 row"),
      s"expected the null-key census refusal: ${ex.getMessage}")
    val badCdc = Seq((Option.empty[Long], "x", 1, 1L, "U"))
      .toDF("k", "v", "p", "seq", "op")
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeCdc(spark, tbl, badCdc, "k", Seq("seq"), "op",
        Seq("p"), Some(2L))
    }
    // the refusals never burned a version or touched content
    assert(SnapshotTable.versions(spark, tbl) == Seq(1L))
    assert(content(SnapshotTable.read(spark, tbl)) == Set((1L, "a", 1)))
  }

  test("retainNewest grace window: a young unreferenced staging (an " +
      "in-flight writer's) survives the cut; aged orphans and " +
      "below-cut dirs sweep once the grace passes") {
    val tbl = tmpDir("retgrace") + "/t"
    SnapshotTable.merge(spark, tbl, Seq((1L, "a", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(1L))
    SnapshotTable.merge(spark, tbl, Seq((1L, "b", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(2L))
    // a racer's freshly staged, not-yet-committed attempt dir
    val f = fs(tbl)
    val staging = new Path(s"$tbl/data/v=3-deadbeef/__gp_p=1")
    f.mkdirs(staging)
    // grace-guarded cut: manifests below the cut go, but the young
    // staging AND the young superseded v=1 dir are spared (any of
    // them could be an in-flight writer's)
    val v1 = versionDir(tbl, 1L)
    SnapshotTable.retainNewest(spark, tbl, 1)
    assert(SnapshotTable.versions(spark, tbl) == Seq(2L))
    assert(f.exists(staging),
      "an in-flight writer's staging must survive a concurrent cut")
    assert(f.exists(v1),
      "the young superseded dir is spared too — it is " +
        "indistinguishable from an in-flight writer's by age")
    assert(content(SnapshotTable.read(spark, tbl)) == Set((1L, "b", 1)))
    // once aged (grace 0 stands in for the elapsed window), the next
    // cut sweeps orphans and superseded dirs alike
    SnapshotTable.merge(spark, tbl, Seq((1L, "c", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(3L))
    SnapshotTable.retainNewest(spark, tbl, 1, graceMs = 0L)
    assert(!f.exists(staging.getParent),
      "aged unreferenced dirs must sweep after the grace window")
    assert(!f.exists(v1))
    assert(content(SnapshotTable.read(spark, tbl)) == Set((1L, "c", 1)))
  }

  test("publishers serialize per landing dir: concurrent publishes " +
      "interleaved with merges always land non-overlapping, " +
      "contiguous ranges (the different-observed-heads race)") {
    val tbl = tmpDir("pubser") + "/t"
    val land = tmpDir("pubserland")
    SnapshotTable.merge(spark, tbl, Seq((1L, "a", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(1L))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(Seq(
      Future { SnapshotTable.publishChanges(spark, tbl, "k", land) },
      Future {
        SnapshotTable.merge(spark, tbl,
          Seq((2L, "b", 1)).toDF("k", "v", "p"), "k", "v", Seq("p"),
          Some(2L))
        SnapshotTable.publishChanges(spark, tbl, "k", land)
      },
      Future { SnapshotTable.publishChanges(spark, tbl, "k", land) }
    )), Duration.Inf)
    finally pool.shutdown()
    // drain whatever remains, then audit the landing's range dirs
    SnapshotTable.publishChanges(spark, tbl, "k", land)
    val rangeRe = "^changes_v([0-9]+)_v([0-9]+)$".r
    val ranges = fs(land).listStatus(new Path(land))
      .map(_.getPath.getName).collect {
        case rangeRe(a, b) => (a.toLong, b.toLong)
      }.sorted.toSeq
    assert(ranges.nonEmpty && ranges.head._1 == 0L &&
      ranges.last._2 == 2L,
      s"the landing must cover v0..head: $ranges")
    ranges.sliding(2).foreach {
      case Seq((_, t1), (f2, _)) =>
        assert(t1 == f2, s"ranges must be contiguous, got $ranges")
      case _ =>
    }
    // content sanity: the glob replays to the head's rows
    val replay = spark.read.parquet(s"$land/changes_*")
      .filter(col("_change_type").isin("insert", "update_postimage"))
    assert(content(replay.select(col("k"), col("v"), col("p"))) ==
      Set((1L, "a", 1), (2L, "b", 1)))
  }

  test("deletion vectors: a point delete commits a sidecar, rewrites " +
      "NOTHING, reads apply it merge-on-read, time travel below it " +
      "reads the pre-delete rows, and replay no-ops") {
    val tbl = tmpDir("dv") + "/t"
    val b1 = Seq((1L, "a1", 1), (2L, "a2", 1), (3L, "a3", 2),
      (4L, "a4", 2)).toDF("k", "v", "p")
    SnapshotTable.merge(spark, tbl, b1, "k", "v", Seq("p"), Some(1L))
    val v1 = versionDir(tbl, 1L)
    val dataDirsBefore = fs(tbl).listStatus(v1)
      .map(_.getPath.getName).toSet
    assert(SnapshotTable.deleteKeys(spark, tbl,
      Seq(1L, 3L, 99L).toDF("k"), "k", Some(2L)) == 2L)
    // merge-on-read: v=1's partition dirs are byte-untouched, only a
    // sidecar dir appeared under v=2
    assert(fs(tbl).listStatus(v1)
      .map(_.getPath.getName).toSet == dataDirsBefore)
    assert(fs(tbl).exists(new Path(versionDir(tbl, 2L), "_dv")))
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((2L, "a2", 1), (4L, "a4", 2)),
      "deleted keys must vanish from the head read (k=99 was absent " +
        "and harmless)")
    // time travel: v1 still reads everything
    assert(content(SnapshotTable.read(spark, tbl, Some(1L))) ==
      Set((1L, "a1", 1), (2L, "a2", 1), (3L, "a3", 2), (4L, "a4", 2)))
    // replay no-ops; a second delete stacks
    assert(SnapshotTable.deleteKeys(spark, tbl, Seq(1L).toDF("k"), "k",
      Some(2L)) == 2L)
    assert(SnapshotTable.deleteKeys(spark, tbl, Seq(4L).toDF("k"), "k",
      Some(3L)) == 3L)
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((2L, "a2", 1)))
    // null delete keys refuse; a mismatched dv key refuses
    intercept[IllegalArgumentException] {
      SnapshotTable.deleteKeys(spark, tbl,
        Seq(Option.empty[Long]).toDF("k"), "k", Some(4L))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.deleteKeys(spark, tbl, Seq("x").toDF("v"), "v",
        Some(4L))
    }
  }

  test("deletion vectors + re-insert: a merge rewriting the deleted " +
      "key's partition folds the delete in and the re-inserted row " +
      "survives (per-entry application, not a global anti-join)") {
    val tbl = tmpDir("dvreins") + "/t"
    SnapshotTable.merge(spark, tbl,
      Seq((1L, "a1", 1), (2L, "a2", 1), (3L, "a3", 2))
        .toDF("k", "v", "p"), "k", "v", Seq("p"), Some(1L))
    SnapshotTable.deleteKeys(spark, tbl, Seq(1L, 3L).toDF("k"), "k",
      Some(2L))
    // re-insert k=1 (touches ONLY p=1; p=2 keeps its dv reference)
    SnapshotTable.merge(spark, tbl, Seq((1L, "back", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(3L))
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((1L, "back", 1), (2L, "a2", 1)),
      "k=1 must come back, k=3 (untouched partition) must stay deleted")
    val head = SnapshotTable.resolve(spark, tbl)
    assert(head.entries.find(_.path.contains("p=2")).get.dvs.nonEmpty,
      "the untouched partition must still reference the sidecar")
    assert(head.entries.find(e => SnapshotTable.versionOf(e.path) == 3L)
      .get.dvs.isEmpty,
      "the rewritten partition must have folded its deletes in")
    // a rewrite that also carries the deleted key's row must NOT
    // resurrect k=3's old row through the touched-partition read
    SnapshotTable.merge(spark, tbl, Seq((5L, "a5", 2)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(4L))
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((1L, "back", 1), (2L, "a2", 1), (5L, "a5", 2)),
      "rewriting p=2 must fold k=3's delete, not resurrect the row")
    assert(SnapshotTable.resolve(spark, tbl).dvKey.isEmpty,
      "once no entry references a sidecar the dvkey line drops")
  }

  test("deletion vectors + OPTIMIZE: the clustering rewrite folds " +
      "every dv away, content identical, and vacuum/retention treat " +
      "sidecars as live data until their manifests go") {
    val tbl = tmpDir("dvopt") + "/t"
    SnapshotTable.merge(spark, tbl,
      (1L to 100L).map(k => (k, s"v$k", (k % 4).toInt))
        .toDF("k", "v", "p"), "k", "v", Seq("p"), Some(1L))
    SnapshotTable.deleteKeys(spark, tbl,
      Seq(7L, 13L, 42L, 77L).toDF("k"), "k", Some(2L))
    val want = (1L to 100L).filterNot(Set(7L, 13L, 42L, 77L))
      .map(k => (k, s"v$k", (k % 4).toInt)).toSet
    assert(content(SnapshotTable.read(spark, tbl)) == want)
    // vacuum with no grace: the sidecar is REFERENCED — must survive
    SnapshotTable.vacuum(spark, tbl, graceMs = 0L)
    val dv = new Path(versionDir(tbl, 2L), "_dv")
    assert(fs(tbl).exists(dv))
    assert(content(SnapshotTable.read(spark, tbl)) == want)
    SnapshotTable.optimize(spark, tbl, Seq("p"))
    val head = SnapshotTable.resolve(spark, tbl)
    assert(head.entries.forall(_.dvs.isEmpty) && head.dvKey.isEmpty,
      "OPTIMIZE must fold deletion vectors away")
    assert(content(SnapshotTable.read(spark, tbl)) == want,
      "the folding rewrite must be content-identical")
    // retention below the dv'd versions reclaims the sidecar
    SnapshotTable.retainNewest(spark, tbl, 1, graceMs = 0L)
    assert(!fs(tbl).exists(dv.getParent),
      "an unreferenced sidecar version dir sweeps with its manifests")
    assert(content(SnapshotTable.read(spark, tbl)) == want)
  }

  test("deletion vectors + CDF: a delete commit surfaces as delete " +
      "rows, a dv'd entry carried by reference in a LATER commit is " +
      "shared (skipped), and readRange applies the dv") {
    val tbl = tmpDir("dvcdf") + "/t"
    SnapshotTable.merge(spark, tbl,
      Seq((1L, "a1", 1), (2L, "a2", 1), (3L, "a3", 2))
        .toDF("k", "v", "p"), "k", "v", Seq("p"), Some(1L))
    SnapshotTable.deleteKeys(spark, tbl, Seq(1L).toDF("k"), "k", Some(2L))
    val cdf = SnapshotTable.changesBetween(spark, tbl, "k", 1L, 2L)
      .select(col("k"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cdf == Set((1L, "delete")),
      s"a dv delete must emit exactly its delete rows: $cdf")
    // merge into p=2 only: p=1 keeps its (path, dv) identity across
    // v2→v3 and must be SKIPPED by the cdf entry restriction
    SnapshotTable.merge(spark, tbl, Seq((5L, "a5", 2)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(3L))
    val (fromEs, toEs) = SnapshotTable.cdfEntries(
      SnapshotTable.resolve(spark, tbl, Some(2L)),
      SnapshotTable.resolve(spark, tbl, Some(3L)))
    assert(fromEs.forall(_.contains("p=2")) &&
      toEs.forall(_.contains("p=2")),
      s"the dv'd-but-unchanged p=1 entry must be shared: $fromEs / $toEs")
    val cdf23 = SnapshotTable.changesBetween(spark, tbl, "k", 2L, 3L)
      .select(col("k"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cdf23 == Set((5L, "insert")))
    // readRange over a dv'd table: pruning + residual + anti-join
    val rr = SnapshotTable.readRange(spark, tbl, "k", Some(1L), Some(2L))
    assert(content(rr) == Set((2L, "a2", 1)),
      "readRange must apply the deletion vector")
  }

  test("multi-column manifest stats: merge records bounds for the key " +
      "AND requested stats columns, readRange prunes on a NON-key " +
      "column, a 2-D zorder skips files on BOTH dimensions, and " +
      "per-column carry keeps surviving columns across list changes") {
    val tbl = tmpDir("mcstats") + "/t"
    // k and c decorrelated (multiplicative shuffle mod 256)
    val rows = (0L until 256L).map(k => (k, (k * 37) % 256, s"v$k", 1))
    SnapshotTable.merge(spark, tbl, rows.toDF("k", "c", "v", "p"),
      "k", "v", Seq("p"), Some(1L), statsCols = Seq("c"))
    val s1 = SnapshotTable.resolve(spark, tbl)
    assert(s1.statsKeys == Seq("k", "c"), s"statsKeys: ${s1.statsKeys}")
    val st = s1.entries.head.stats
    assert(st.get("k").contains(("0", "255")) &&
      st.get("c").contains(("0", "255")),
      s"entry bounds must cover both columns: $st")
    // readRange on the NON-key column: exact rows
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("c"), col("v"), col("p")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getInt(3))).toSet
    assert(rowsOf(SnapshotTable.readRange(spark, tbl, "c",
      Some(10L), Some(20L))) ==
      rows.filter(r => r._2 >= 10 && r._2 <= 20).toSet)
    // 2-D zorder: per-file bounds exist for BOTH columns, and a point
    // lookup on EITHER dimension opens a strict subset of the files
    SnapshotTable.optimize(spark, tbl, Seq("p"), maxRowsPerTask = 32L,
      zorderBy = Seq("k", "c"))
    val s2 = SnapshotTable.resolve(spark, tbl)
    val files = s2.entries.head.fileStats
    assert(files.size >= 4, s"expected several zordered files: $files")
    assert(files.forall(f =>
      f.bounds.contains("k") && f.bounds.contains("c")),
      s"every file must carry bounds on both columns: $files")
    val nk = SnapshotTable.prunedReadPaths(tbl, s2, "k",
      Some(7L), Some(7L)).size
    val nc = SnapshotTable.prunedReadPaths(tbl, s2, "c",
      Some(7L), Some(7L)).size
    assert(nk < files.size && nc < files.size,
      s"a point lookup must skip files on either dimension: " +
        s"k->$nk, c->$nc of ${files.size}")
    assert(rowsOf(SnapshotTable.readRange(spark, tbl, "c",
      Some(7L), Some(7L))) == rows.filter(_._2 == 7).toSet)
    // a merge that stops recording c keeps k's carried bounds and
    // drops c's (per-column, conservative both ways)
    SnapshotTable.merge(spark, tbl, Seq((999L, 999L, "z", 2))
      .toDF("k", "c", "v", "p"), "k", "v", Seq("p"), Some(2L))
    val s3 = SnapshotTable.resolve(spark, tbl)
    assert(s3.statsKeys == Seq("k"))
    val carried = s3.entries.find(_.path == s2.entries.head.path).get
    assert(carried.stats.contains("k") && !carried.stats.contains("c"),
      s"per-column carry: $carried")
    assert(carried.fileStats.forall(f =>
      f.bounds.contains("k") && !f.bounds.contains("c")))
    // pruning on the no-longer-recorded column is a no-op, never wrong
    assert(rowsOf(SnapshotTable.readRange(spark, tbl, "c",
      Some(7L), Some(7L))) == rows.filter(_._2 == 7).toSet)
  }

  test("delta manifests + checkpoint cadence: narrow merges write " +
      "entry diffs (base=/drop= chains), every resolve applies the " +
      "chain to identical content, and a full manifest is re-emitted " +
      "exactly at the cadence") {
    val tbl = tmpDir("chain") + "/t"
    val expect = scala.collection.mutable.Map[Long, (String, Int)]()
    (1 to 25).foreach { i =>
      val k = (i % 7).toLong // churn a small key set
      val p = (k % 3).toInt // partition is key-determined (the FD contract)
      SnapshotTable.merge(spark, tbl,
        Seq((k, s"v$i", p)).toDF("k", "v", "p"), "k", "v", Seq("p"),
        Some(i.toLong))
      expect(k) = (s"v$i", p) // new beats old (Upsert.merge's priority)
      assert(content(SnapshotTable.read(spark, tbl)) ==
        expect.map { case (kk, (vv, pp)) => (kk, vv, pp) }.toSet,
        s"content must survive the manifest chain at version $i")
    }
    def manifestText(v: Long): String = {
      val in = fs(tbl).open(new Path(s"$tbl/_snap.$v"))
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
        new String(bos.toByteArray, "UTF-8")
      } finally in.close()
    }
    val fulls = (1L to 25L).filter(v => !manifestText(v).contains("base="))
    assert(fulls == Seq(1L, 11L, 21L),
      s"full manifests must land exactly at the checkpoint cadence: " +
        s"$fulls")
    assert(SnapshotTable.resolve(spark, tbl).depth == 4,
      "the head (v25) must sit 4 deltas above the v21 checkpoint")
    // time travel through the chain resolves every version
    (1L to 25L).foreach(v =>
      assert(SnapshotTable.resolve(spark, tbl, Some(v)).ver == v))
  }

  test("retention checkpoints the oldest retained DELTA manifest " +
      "before deleting its base chain — time travel to it survives " +
      "the cut, below it refuses") {
    val tbl = tmpDir("chaincut") + "/t"
    // seed 4 partitions, then narrow merges (one partition each) so
    // the commits genuinely serialize as deltas
    SnapshotTable.merge(spark, tbl,
      (1L to 4L).map(k => (k, "v1", k.toInt)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(1L))
    (2 to 8).foreach { i =>
      val k = (i % 4) + 1L
      SnapshotTable.merge(spark, tbl,
        Seq((k, s"v$i", k.toInt)).toDF("k", "v", "p"), "k", "v",
        Seq("p"), Some(i.toLong))
    }
    // v6 is a delta (depth 5); keep 3 => oldest retained = 6
    assert(SnapshotTable.resolve(spark, tbl, Some(6L)).depth == 5)
    SnapshotTable.retainNewest(spark, tbl, 3, graceMs = 0L)
    assert(SnapshotTable.versions(spark, tbl) == Seq(6L, 7L, 8L))
    val v6 = SnapshotTable.resolve(spark, tbl, Some(6L))
    assert(v6.depth == 0,
      "the oldest retained manifest must have been checkpointed full")
    assert(content(SnapshotTable.readSnap(spark, tbl, v6)) ==
      Set((1L, "v4", 1), (2L, "v5", 2), (3L, "v6", 3), (4L, "v3", 4)),
      "the checkpointed manifest must resolve its original content")
    // the deltas above it still chain onto the rewritten base
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((1L, "v8", 1), (2L, "v5", 2), (3L, "v6", 3), (4L, "v7", 4)))
    intercept[IllegalArgumentException] {
      SnapshotTable.resolve(spark, tbl, Some(5L))
    }
  }

  test("_head pointer: written on every commit, resolve survives a " +
      "missing/garbled/stale pointer (fallback listing + forward " +
      "probe) and never trusts it blindly") {
    val tbl = tmpDir("headptr") + "/t"
    (1 to 3).foreach { i =>
      SnapshotTable.merge(spark, tbl,
        Seq((1L, s"v$i", 1)).toDF("k", "v", "p"), "k", "v", Seq("p"),
        Some(i.toLong))
    }
    val f = fs(tbl)
    val head = new Path(s"$tbl/_head")
    assert(f.exists(head), "commits must advance the head pointer")
    assert(SnapshotTable.resolve(spark, tbl).ver == 3L)
    // stale pointer (a crash between manifest rename and pointer
    // swap): the forward probe recovers the true head
    val out1 = f.create(head, true)
    try out1.write("1".getBytes("UTF-8")) finally out1.close()
    assert(SnapshotTable.resolve(spark, tbl).ver == 3L,
      "a stale pointer must be probed forward, never trusted")
    // garbled pointer: fallback to the listing
    val out2 = f.create(head, true)
    try out2.write("not-a-number".getBytes("UTF-8")) finally out2.close()
    assert(SnapshotTable.resolve(spark, tbl).ver == 3L)
    // missing pointer: fallback to the listing
    f.delete(head, false)
    assert(SnapshotTable.resolve(spark, tbl).ver == 3L)
    assert(content(SnapshotTable.read(spark, tbl)) == Set((1L, "v3", 1)))
  }

  test("per-commit publish granularity: one call with perCommit=true " +
      "lands one range dir per head advance (the table_changes " +
      "shape), each replaying its exact step; net and per-commit " +
      "modes mix safely in one landing") {
    val tbl = tmpDir("pcpub") + "/t"
    val land = tmpDir("pcpubland")
    SnapshotTable.merge(spark, tbl,
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(1L))
    SnapshotTable.merge(spark, tbl, Seq((1L, "a2", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(2L))
    SnapshotTable.merge(spark, tbl, Seq((3L, "c", 2)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(3L))
    assert(SnapshotTable.publishChanges(spark, tbl, "k", land,
      perCommit = true).contains((0L, 3L)))
    val f = fs(land)
    val dirs = f.listStatus(new Path(land)).map(_.getPath.getName)
      .filter(_.startsWith("changes_")).sorted.toSeq
    assert(dirs == Seq("changes_v0_v1", "changes_v1_v2", "changes_v2_v3"),
      s"per-commit publish must land one dir per head advance: $dirs")
    def changes(d: String): Set[(Long, String, String)] =
      spark.read.parquet(s"$land/$d")
        .select(col("k"), col("v"), col("_change_type")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(changes("changes_v0_v1") ==
      Set((1L, "a", "insert"), (2L, "b", "insert")))
    assert(changes("changes_v1_v2") ==
      Set((1L, "a", "update_preimage"), (1L, "a2", "update_postimage")))
    assert(changes("changes_v2_v3") == Set((3L, "c", "insert")))
    // replay is a no-op; a later NET publish continues from the floor
    assert(SnapshotTable.publishChanges(spark, tbl, "k", land,
      perCommit = true).isEmpty)
    SnapshotTable.merge(spark, tbl, Seq((2L, "b2", 2)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(4L))
    SnapshotTable.merge(spark, tbl, Seq((4L, "d", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(5L))
    assert(SnapshotTable.publishChanges(spark, tbl, "k", land)
      .contains((3L, 5L)), "net mode must continue from the floor")
    assert(changes("changes_v3_v5") ==
      Set((2L, "b", "update_preimage"), (2L, "b2", "update_postimage"),
        (4L, "d", "insert")))
  }

  test("selective OPTIMIZE: only the selected entries rewrite (their " +
      "deletion vectors fold), the rest carry by reference, content " +
      "is identical, batch id carries, and a no-match select is a " +
      "no-op") {
    val tbl = tmpDir("selopt") + "/t"
    SnapshotTable.merge(spark, tbl,
      (1L to 40L).map(k => (k, s"v$k", (k % 4).toInt))
        .toDF("k", "v", "p"), "k", "v", Seq("p"), Some(7L))
    SnapshotTable.deleteKeys(spark, tbl, Seq(5L, 6L).toDF("k"), "k",
      Some(8L)) // 5 lives in p=1, 6 in p=2
    val before = SnapshotTable.resolve(spark, tbl)
    val want = (1L to 40L).filterNot(Set(5L, 6L))
      .map(k => (k, s"v$k", (k % 4).toInt)).toSet
    // rewrite ONLY partition p=1
    val v = SnapshotTable.optimizeWhere(spark, tbl, Seq("p"),
      e => SnapshotTable.partitionValues(e).get("p").contains("1"))
    assert(v == 3L)
    val after = SnapshotTable.resolve(spark, tbl)
    val p1 = after.entries.find(_.path.contains("__gp_p=1")).get
    assert(SnapshotTable.versionOf(p1.path) == 3L && p1.dvs.isEmpty,
      s"the selected partition must be rewritten dv-free: $p1")
    val carried = after.entries.filterNot(_.path.contains("__gp_p=1"))
    assert(carried.toSet ==
      before.entries.filterNot(_.path.contains("__gp_p=1")).toSet,
      "unselected entries must carry by reference, dv refs intact")
    assert(content(SnapshotTable.read(spark, tbl)) == want,
      "the selective rewrite must be content-identical")
    assert(after.batchId == before.batchId,
      "the head batch id must carry across the maintenance rewrite")
    // small-file / no-match select: nothing matches → no-op, no commit
    assert(SnapshotTable.optimizeWhere(spark, tbl, Seq("p"),
      _.fileStats.size > 99) == 3L)
    assert(SnapshotTable.versions(spark, tbl) == Seq(1L, 2L, 3L))
  }

  test("metadata-only COUNT: exact from manifest row counts, honest " +
      "None under deletion vectors, exact again after the fold") {
    val tbl = tmpDir("metacount") + "/t"
    SnapshotTable.merge(spark, tbl,
      (1L to 30L).map(k => (k, s"v$k", (k % 3).toInt))
        .toDF("k", "v", "p"), "k", "v", Seq("p"), Some(1L))
    assert(SnapshotTable.countRows(spark, tbl).contains(30L))
    // a CDC delete REWRITES its partitions — counts stay exact
    SnapshotTable.mergeCdc(spark, tbl,
      Seq((3L, "x", 0, 1L, "D")).toDF("k", "v", "p", "seq", "op"),
      "k", Seq("seq"), "op", Seq("p"), Some(2L))
    assert(SnapshotTable.countRows(spark, tbl).contains(29L))
    assert(SnapshotTable.countRows(spark, tbl, Some(1L)).contains(30L),
      "time travel counts the pinned version's rows")
    // a DV delete hides rows behind the sidecar — the count must
    // refuse (None), never report the stale upper bound
    SnapshotTable.deleteKeys(spark, tbl, Seq(7L, 8L).toDF("k"), "k",
      Some(3L))
    assert(SnapshotTable.countRows(spark, tbl).isEmpty,
      "a dv'd table must fall back to a scan count")
    assert(SnapshotTable.read(spark, tbl).count() == 27L)
    // OPTIMIZE folds the dv — metadata count is exact again
    SnapshotTable.optimize(spark, tbl, Seq("p"))
    assert(SnapshotTable.countRows(spark, tbl).contains(27L))
    assert(SnapshotTable.read(spark, tbl).count() == 27L)
  }

  test("CHECK constraints: recorded in the manifest, enforced on " +
      "every write path's output so that on a violation nothing was " +
      "committed, null passes (SQL semantics), add validates existing " +
      "data, drop re-opens") {
    val tbl = tmpDir("checks") + "/t"
    SnapshotTable.merge(spark, tbl,
      Seq((1L, 10, 1), (2L, 20, 2)).toDF("k", "q", "p"),
      "k", "q", Seq("p"), Some(1L))
    assert(SnapshotTable.addCheck(spark, tbl, "q_nonneg", "q >= 0") == 2L)
    assert(SnapshotTable.resolve(spark, tbl).checks ==
      Map("q_nonneg" -> "q >= 0"))
    // a valid merge passes; a violating merge refuses before its
    // commit
    assert(SnapshotTable.merge(spark, tbl,
      Seq((3L, 30, 1)).toDF("k", "q", "p"), "k", "q", Seq("p"),
      Some(3L)) == 3L)
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, tbl,
        Seq((4L, -5, 2)).toDF("k", "q", "p"), "k", "q", Seq("p"),
        Some(4L))
    }
    assert(ex.getMessage.contains("q_nonneg") &&
      ex.getMessage.contains("1 row"),
      s"the refusal must name the constraint: ${ex.getMessage}")
    assert(SnapshotTable.versions(spark, tbl) == Seq(1L, 2L, 3L),
      "a refused merge must not burn a version")
    // the refused attempt's staging is unreferenced garbage
    val staged = versionDir(tbl, 4L)
    assert(fs(tbl).exists(staged))
    SnapshotTable.vacuum(spark, tbl, graceMs = 0L)
    assert(!fs(tbl).exists(staged),
      "vacuum must reclaim a refused commit's staging")
    def ks = SnapshotTable.read(spark, tbl).select(col("k")).collect()
      .map(_.getLong(0)).toSet
    assert(ks == Set(1L, 2L, 3L))
    // null CHECK result passes (SQL semantics)
    assert(SnapshotTable.merge(spark, tbl,
      Seq((5L, Option.empty[Int], 1)).toDF("k", "q", "p"),
      "k", "q", Seq("p"), Some(5L)) == 4L)
    // adding a constraint the existing data violates refuses
    intercept[IllegalArgumentException] {
      SnapshotTable.addCheck(spark, tbl, "q_small", "q < 15")
    }
    // duplicate add and unknown drop refuse; a real drop re-opens
    intercept[IllegalArgumentException] {
      SnapshotTable.addCheck(spark, tbl, "q_nonneg", "q >= 0")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.dropCheck(spark, tbl, "nope")
    }
    assert(SnapshotTable.dropCheck(spark, tbl, "q_nonneg") == 5L)
    assert(SnapshotTable.merge(spark, tbl,
      Seq((4L, -5, 2)).toDF("k", "q", "p"), "k", "q", Seq("p"),
      Some(6L)) == 6L)
    assert(ks == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("tags pin versions by name: create-exclusive claim, resolve " +
      "by tag, retention keeps tagged manifests (checkpointed full " +
      "when their chain falls below the cut) and their data; a " +
      "dropped tag unpins") {
    val tbl = tmpDir("tags") + "/t"
    (1 to 5).foreach { i =>
      SnapshotTable.merge(spark, tbl,
        Seq(((i % 3).toLong, s"v$i", i % 3)).toDF("k", "v", "p"),
        "k", "v", Seq("p"), Some(i.toLong))
    }
    assert(SnapshotTable.tag(spark, tbl, "model-v1", Some(2L)) == 2L)
    intercept[IllegalArgumentException] {
      SnapshotTable.tag(spark, tbl, "model-v1", Some(3L)) // exclusive
    }
    assert(SnapshotTable.tags(spark, tbl) == Map("model-v1" -> 2L))
    val taggedContent = content(SnapshotTable.readSnap(spark, tbl,
      SnapshotTable.resolveTag(spark, tbl, "model-v1")))
    // retention: newest 2 + the tagged v2 survive; v1/v3 go
    SnapshotTable.retainNewest(spark, tbl, 2, graceMs = 0L)
    assert(SnapshotTable.versions(spark, tbl) == Seq(2L, 4L, 5L))
    assert(SnapshotTable.resolve(spark, tbl, Some(2L)).depth == 0 &&
      SnapshotTable.resolve(spark, tbl, Some(4L)).depth == 0,
      "retained manifests whose base chains were cut must have been " +
        "checkpointed full")
    assert(content(SnapshotTable.readSnap(spark, tbl,
      SnapshotTable.resolveTag(spark, tbl, "model-v1"))) == taggedContent,
      "the tagged version must read its exact content after the cut")
    intercept[IllegalArgumentException] {
      SnapshotTable.resolve(spark, tbl, Some(3L))
    }
    // drop the tag: the next cut reclaims v2
    SnapshotTable.dropTag(spark, tbl, "model-v1")
    intercept[IllegalArgumentException] {
      SnapshotTable.dropTag(spark, tbl, "model-v1")
    }
    SnapshotTable.retainNewest(spark, tbl, 2, graceMs = 0L)
    assert(SnapshotTable.versions(spark, tbl) == Seq(4L, 5L))
    assert(content(SnapshotTable.read(spark, tbl)).nonEmpty)
  }

  test("review closure: a STALE head pointer + a tagged retention " +
      "island cannot resolve an old version as head — retention " +
      "repairs the pointer STRICTLY before creating any version gap") {
    val tbl = tmpDir("island") + "/t"
    (1 to 5).foreach { i =>
      SnapshotTable.merge(spark, tbl,
        Seq((1L, s"v$i", 1)).toDF("k", "v", "p"), "k", "v", Seq("p"),
        Some(i.toLong))
    }
    SnapshotTable.tag(spark, tbl, "pin", Some(2L))
    // simulate a pointer that lagged (crashes swallowed its writes)
    val f = fs(tbl)
    val out = f.create(new Path(s"$tbl/_head"), true)
    try out.write("2".getBytes("UTF-8")) finally out.close()
    // the cut creates the island {2, 4, 5} — WITHOUT the strict
    // pointer repair, headVersion would probe 2 -> _snap.3 missing ->
    // stop, silently resolving v2 as head and letting the next merge
    // fork history onto it
    SnapshotTable.retainNewest(spark, tbl, 2, graceMs = 0L)
    assert(SnapshotTable.versions(spark, tbl) == Seq(2L, 4L, 5L))
    assert(SnapshotTable.resolve(spark, tbl).ver == 5L,
      "the head must resolve PAST the tagged island")
    assert(content(SnapshotTable.read(spark, tbl)) == Set((1L, "v5", 1)))
    // and the next merge continues the true history
    assert(SnapshotTable.merge(spark, tbl,
      Seq((2L, "w", 1)).toDF("k", "v", "p"), "k", "v", Seq("p"),
      Some(6L)) == 6L)
  }

  test("review closure: an unparseable stat/fstat manifest line " +
      "refuses LOUDLY — a silent partial parse would turn a complete " +
      "file inventory into a pruning hazard") {
    val tbl = tmpDir("badline") + "/t"
    val f = fs(tbl)
    val body = Seq(
      "schema=k BIGINT,v STRING,p INT",
      "parts=p",
      "statskey=k",
      "entry=v=1/__gp_p=1",
      // the PRE-multi-column fstat shape: 4 tokens with values — a
      // parser that dropped it would leave a partial inventory
      "fstat=0 part-00000.parquet 1 9").mkString("\n")
    val out = f.create(new Path(s"$tbl/_snap.1"), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.resolve(spark, tbl, Some(1L))
    }
    assert(ex.getMessage.contains("unparseable"),
      s"expected the loud parse refusal: ${ex.getMessage}")
  }

  test("DROP COLUMN is metadata-only: reads project it away, time " +
      "travel below the drop keeps it, re-adding the name refuses " +
      "until a full rewrite purges the bytes and clears the tombstone") {
    val tbl = tmpDir("dropcol") + "/t"
    SnapshotTable.merge(spark, tbl,
      Seq((1L, "a", "secret1", 1), (2L, "b", "secret2", 2))
        .toDF("k", "v", "s", "p"), "k", "v", Seq("p"), Some(1L))
    assert(SnapshotTable.dropColumn(spark, tbl, "s") == 2L)
    val head = SnapshotTable.read(spark, tbl)
    assert(!head.columns.contains("s"),
      "the dropped column must vanish from reads")
    assert(content(head) == Set((1L, "a", 1), (2L, "b", 2)))
    // time travel below the drop reads the column as committed
    val v1 = SnapshotTable.read(spark, tbl, Some(1L))
    assert(v1.columns.contains("s"))
    assert(v1.filter(col("k") === 1L).collect()(0)
      .getAs[String]("s") == "secret1")
    // merges WITHOUT the column pass; re-ADDING the name refuses (the
    // resurrect hazard: pre-drop files still carry the bytes)
    assert(SnapshotTable.merge(spark, tbl,
      Seq((3L, "c", 1)).toDF("k", "v", "p"), "k", "v", Seq("p"),
      Some(2L)) == 3L)
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, tbl,
        Seq((4L, "d", "zombie", 2)).toDF("k", "v", "s", "p"),
        "k", "v", Seq("p"), Some(3L))
    }
    assert(ex.getMessage.contains("resurrect"),
      s"expected the tombstone refusal: ${ex.getMessage}")
    // a FULL rewrite purges the bytes and clears the tombstone —
    // re-adding is then a clean, all-null-history evolution
    SnapshotTable.optimize(spark, tbl, Seq("p"))
    assert(SnapshotTable.resolve(spark, tbl).droppedCols.isEmpty)
    assert(SnapshotTable.merge(spark, tbl,
      Seq((4L, "d", "fresh", 2)).toDF("k", "v", "s", "p"),
      "k", "v", Seq("p"), Some(3L)) == 5L)
    val re = SnapshotTable.read(spark, tbl)
    assert(re.filter(col("k") === 4L).collect()(0)
      .getAs[String]("s") == "fresh")
    assert(re.filter(col("k") === 1L).collect()(0)
      .getAs[String]("s") == null,
      "pre-purge rows must surface the re-added column as NULL, " +
        "never the old bytes")
    // refusal surface: partition columns and checked columns
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, tbl, "p")
    }
    SnapshotTable.addCheck(spark, tbl, "v_nonempty", "length(v) > 0")
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, tbl, "v")
    }
  }

  test("RENAME COLUMN rewrites once (honest O(table), no mapping " +
      "layer): content identical under the new name, partition/stats " +
      "columns rename through, time travel keeps the old name") {
    val tbl = tmpDir("renamecol") + "/t"
    SnapshotTable.merge(spark, tbl,
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(1L))
    assert(SnapshotTable.renameColumn(spark, tbl, "v", "val") == 2L)
    val head = SnapshotTable.resolve(spark, tbl)
    assert(org.apache.spark.sql.types.StructType.fromDDL(head.schemaDdl).fieldNames.toSeq ==
      Seq("k", "val", "p"), "field order must survive the rename")
    val rows = SnapshotTable.read(spark, tbl)
      .select(col("k"), col("val"), col("p")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(rows == Set((1L, "a", 1), (2L, "b", 2)))
    assert(content(SnapshotTable.read(spark, tbl, Some(1L))) ==
      Set((1L, "a", 1), (2L, "b", 2)),
      "time travel below the rename reads the OLD name")
    // a PARTITION column renames through (layout rewrites with it)
    assert(SnapshotTable.renameColumn(spark, tbl, "p", "bucket") == 3L)
    val h3 = SnapshotTable.resolve(spark, tbl)
    assert(h3.partCols == Seq("bucket") &&
      h3.entryPaths.forall(_.contains("__gp_bucket=")))
    // merges continue under the new names
    assert(SnapshotTable.merge(spark, tbl,
      Seq((3L, "c", 1)).toDF("k", "val", "bucket"), "k", "val",
      Seq("bucket"), Some(2L)) == 4L)
    // refusals: duplicate target, missing source, checked column
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, tbl, "k", "val")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, tbl, "nope", "x")
    }
    SnapshotTable.addCheck(spark, tbl, "val_ok", "length(val) > 0")
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, tbl, "val", "v2")
    }
  }

  test("review closure 2: case-variant re-adds hit the tombstone, " +
      "nested/case-variant CHECK references block a drop, the merge " +
      "key cannot drop, an empty table renames metadata-only, and a " +
      "case-colliding rename target refuses") {
    val tbl = tmpDir("rc2") + "/t"
    SnapshotTable.merge(spark, tbl,
      Seq((1L, "a", "x", 1)).toDF("k", "v", "s", "p"),
      "k", "v", Seq("p"), Some(1L))
    SnapshotTable.dropColumn(spark, tbl, "s")
    // case-VARIANT re-add: Spark resolves case-insensitively, so "S"
    // would surface the old "s" bytes — the tombstone must catch it
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, tbl,
        Seq((2L, "b", "zombie", 1)).toDF("k", "v", "S", "p"),
        "k", "v", Seq("p"), Some(2L))
    }
    assert(ex.getMessage.contains("resurrect"), ex.getMessage)
    // the recorded merge key cannot drop (maintenance would wedge on
    // its non-null census)
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, tbl, "k")
    }
    // a CHECK referencing the column CASE-VARIANTLY still blocks the
    // drop (resolution is case-insensitive, the guard must be too)
    SnapshotTable.addCheck(spark, tbl, "v_ok", "length(V) > 0")
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, tbl, "v")
    }
    SnapshotTable.dropCheck(spark, tbl, "v_ok")
    // case-colliding rename target refuses BEFORE committing an
    // ambiguous schema
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, tbl, "k", "V")
    }
    // a nested-field CHECK blocks dropping its ROOT column
    val tbl2 = tmpDir("rc2n") + "/t"
    SnapshotTable.merge(spark, tbl2,
      Seq((1L, (10, "i"), 1)).toDF("k", "s", "p"),
      "k", "p", Seq("p"), Some(1L))
    SnapshotTable.addCheck(spark, tbl2, "inner_pos", "s._1 > 0")
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, tbl2, "s")
    }
    // an EMPTY table renames metadata-only (nothing to rewrite)
    val tbl3 = tmpDir("rc2e") + "/t"
    SnapshotTable.merge(spark, tbl3,
      Seq((1L, "a", 1)).toDF("k", "v", "p"), "k", "v", Seq("p"),
      Some(1L))
    SnapshotTable.mergeCdc(spark, tbl3,
      Seq((1L, "a", 1, "D")).toDF("k", "v", "p", "op"),
      "k", Seq("v"), "op", Seq("p"), Some(2L)) // table now empty
    assert(SnapshotTable.renameColumn(spark, tbl3, "v", "val") == 3L)
    assert(org.apache.spark.sql.types.StructType
      .fromDDL(SnapshotTable.resolve(spark, tbl3).schemaDdl)
      .fieldNames.toSeq == Seq("k", "val", "p"))
    // and the renamed empty table accepts a merge under the new name
    assert(SnapshotTable.merge(spark, tbl3,
      Seq((2L, "b", 1)).toDF("k", "val", "p"), "k", "val", Seq("p"),
      Some(3L)) == 4L)
  }

  test("publish overlap defense: a cross-process racer's range dir " +
      "landing mid-publish is refused loudly by the post-rename " +
      "re-list, never left as a silent double-feed") {
    val land = tmpDir("puboverlap")
    val f = fs(land)
    // our publish just renamed changes_v0_v2; the racer (stale head)
    // landed changes_v0_v1 in the window — its rows duplicate ours
    f.mkdirs(new Path(land, "changes_v0_v2"))
    f.mkdirs(new Path(land, "changes_v0_v1"))
    val ex = intercept[IllegalStateException] {
      SnapshotTable.refuseOverlap(f, new Path(land), "changes_v0_v2",
        published = 0L, headVer = 2L)
    }
    assert(ex.getMessage.contains("changes_v0_v1"),
      s"the refusal must name the overlapping dir: ${ex.getMessage}")
    // disjoint neighbors never trip it: [0,2] then [2,5]
    f.delete(new Path(land, "changes_v0_v1"), true)
    f.mkdirs(new Path(land, "changes_v2_v5"))
    SnapshotTable.refuseOverlap(f, new Path(land), "changes_v0_v2",
      published = 0L, headVer = 2L)
    SnapshotTable.refuseOverlap(f, new Path(land), "changes_v2_v5",
      published = 2L, headVer = 5L)
  }
}
