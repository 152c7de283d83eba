package graft

import graft.ops.SnapshotTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The footer-derived commit path. Every rewriting writer stages into
  * an empty dir and derives the manifest (entry list, per-entry row
  * counts, entry/file bounds, the null-key census) from the WRITTEN
  * FILES' parquet footers, so manifest ≡ written bytes holds by
  * construction. These specs pin exactly that property, plus its
  * edges: the estimate-driven salted layout, the all-deleted empty
  * commit, the post-write null-key refusal's external contract, a
  * stale staged partition under dynamic overwrite, and truncated
  * footer string stats. */
class Round20Spec extends SparkSpec {

  import spark.implicits._

  private def fs(dir: String) = new Path(dir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** The determinism argument as a property (r19 verdict #6): for
    * every committed entry, the manifest's recorded row count and
    * per-column bounds must equal what a fresh read of the entry's
    * bytes recomputes. */
  private def assertManifestMatchesBytes(dir: String): Unit = {
    val snap = SnapshotTable.resolve(spark, dir)
    snap.entries.foreach { e =>
      val df = spark.read.parquet(s"$dir/data/${e.path}")
      assert(e.rows.contains(df.count()),
        s"entry ${e.path}: manifest rows ${e.rows} != bytes")
      e.stats.foreach { case (c, (mn, mx)) =>
        val r = df.agg(min(col(c)).cast("string"),
          max(col(c)).cast("string")).head()
        assert(r.getString(0) == mn && r.getString(1) == mx,
          s"entry ${e.path} column $c: manifest bounds ($mn,$mx) != " +
            s"bytes (${r.getString(0)},${r.getString(1)})")
      }
    }
  }

  test("manifest ≡ written bytes: merge, mergeCdc, optimize, a " +
      "multi-stats-column merge, a CHECK-constrained merge and " +
      "optimize, repartitionTable and renameColumn all commit entry " +
      "rows/bounds equal to what their written files recompute") {
    val dir = tmpDir("m20bytes") + "/t"
    val base = (1L to 400L).map(k => (k, s"v$k", (k % 5).toInt))
      .toDF("k", "v", "p")
    SnapshotTable.merge(spark, dir, base, "k", "v", Seq("p"), Some(1L))
    assertManifestMatchesBytes(dir)
    // CDC: delete a slice, update another
    val feed = (1L to 400L by 7L).map(k =>
        (k, s"u$k", (k % 5).toInt, 2L, if (k % 3 == 0) "D" else "U"))
      .toDF("k", "v", "p", "seq", "op")
    SnapshotTable.mergeCdc(spark, dir, feed, "k", Seq("seq"), "op",
      Seq("p"), Some(2L))
    assertManifestMatchesBytes(dir)
    SnapshotTable.optimize(spark, dir, Seq("p"))
    assertManifestMatchesBytes(dir)
    // extra stats column (string) rides entry AND file bounds
    val dir2 = tmpDir("m20bytes2") + "/t"
    val wide = (1L to 300L).map(k => (k, f"s$k%04d", (k % 3).toInt))
      .toDF("k", "s", "p")
    SnapshotTable.merge(spark, dir2, wide, "k", "s", Seq("p"), Some(1L),
      statsCols = Seq("s"))
    assertManifestMatchesBytes(dir2)
    val snap2 = SnapshotTable.resolve(spark, dir2)
    assert(snap2.entries.forall(e => e.stats.contains("s") &&
      e.stats.contains("k") && e.fileStats.nonEmpty),
      "multi-column entry and file bounds must survive the " +
        "footer-derived commit")
    // renaming a stats column carries its bounds under the new name
    SnapshotTable.renameColumn(spark, dir2, "s", "t")
    assertManifestMatchesBytes(dir2)
    assert(SnapshotTable.resolve(spark, dir2).entries
      .forall(_.stats.contains("t")))
    // a CHECK-constrained table: the census rides every rewrite
    val dir3 = tmpDir("m20bytes3") + "/t"
    val checked = (1L to 240L).map(k => (k, k * 10, (k % 4).toInt,
      (k % 3).toInt)).toDF("k", "q", "p", "g")
    SnapshotTable.merge(spark, dir3, checked, "k", "q", Seq("p"),
      Some(1L))
    SnapshotTable.addCheck(spark, dir3, "q_pos", "q > 0")
    SnapshotTable.merge(spark, dir3,
      (1L to 240L by 5L).map(k => (k, k * 20, (k % 4).toInt,
        (k % 3).toInt)).toDF("k", "q", "p", "g"),
      "k", "q", Seq("p"), Some(3L))
    assertManifestMatchesBytes(dir3)
    SnapshotTable.optimize(spark, dir3, Seq("p"))
    assertManifestMatchesBytes(dir3)
    SnapshotTable.repartitionTable(spark, dir3, Seq("g"))
    assertManifestMatchesBytes(dir3)
    // renaming the partition column relayouts under the new name
    SnapshotTable.renameColumn(spark, dir3, "g", "grp")
    assertManifestMatchesBytes(dir3)
    val snap3 = SnapshotTable.resolve(spark, dir3)
    assert(snap3.partCols == Seq("grp") &&
      snap3.checks == Map("q_pos" -> "q > 0"))
    assert(snap3.entries.map(e =>
      SnapshotTable.partitionValues(e)("grp")).sorted == Seq("0", "1", "2"))
    assert(SnapshotTable.read(spark, dir3).agg(count(lit(1)),
      sum(col("q"))).head().toSeq == Seq(240L,
      (1L to 240L).map(k => if (k % 5 == 1) k * 20 else k * 10).sum))
  }

  test("estimate-driven salting still bounds tasks and files: a " +
      "maxRowsPerTask below the hot partition's size splits it, " +
      "content and manifest stay exact") {
    val dir = tmpDir("m20salt") + "/t"
    // one hot partition (600 rows), one cold (60)
    val df = ((1L to 600L).map(k => (k, s"v$k", 0)) ++
      (601L to 660L).map(k => (k, s"v$k", 1))).toDF("k", "v", "p")
    SnapshotTable.merge(spark, dir, df, "k", "v", Seq("p"), Some(1L),
      maxRowsPerTask = 100L)
    val snap = SnapshotTable.resolve(spark, dir)
    val hot = snap.entries.find(_.path.endsWith("__gp_p=0")).get
    assert(hot.rows.contains(600L))
    val hotFiles = fs(dir).listStatus(
      new Path(s"$dir/data/${hot.path}"))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(hotFiles > 1,
      s"hot partition must split across tasks/files, got $hotFiles")
    assertManifestMatchesBytes(dir)
    assert(SnapshotTable.read(spark, dir).count() == 660L)
    // a full-overlap re-merge doubles the estimate but never the
    // content: bounds and rows stay exact, files stay bounded
    SnapshotTable.merge(spark, dir,
      df.withColumn("v", concat(lit("w"), col("k"))), "k", "v",
      Seq("p"), Some(2L), maxRowsPerTask = 100L)
    assertManifestMatchesBytes(dir)
    assert(SnapshotTable.read(spark, dir).count() == 660L)
  }

  test("a CDC feed that deletes every row of a touched partition " +
      "commits an entry list without it and leaves no staged husk") {
    val dir = tmpDir("m20empty") + "/t"
    SnapshotTable.merge(spark, dir,
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(1L))
    // delete the only row of p=1
    SnapshotTable.mergeCdc(spark, dir,
      Seq((1L, "a", 1, 1L, "D")).toDF("k", "v", "p", "seq", "op"),
      "k", Seq("seq"), "op", Seq("p"), Some(2L))
    val snap = SnapshotTable.resolve(spark, dir)
    assert(snap.ver == 2L)
    assert(snap.entries.map(e =>
      SnapshotTable.partitionValues(e)("p")) == Seq("2"))
    // the empty staged v=2 dir was reclaimed eagerly
    assert(versionDirs(dir, 2L).isEmpty,
      "an all-deleted commit must not leave an empty staged dir")
    assertManifestMatchesBytes(dir)
  }

  test("post-write null-key refusal keeps the external contract: " +
      "version unburned, content untouched, no manifest; the staged " +
      "attempt is unreferenced garbage the sweeps reclaim") {
    val dir = tmpDir("m20null") + "/t"
    SnapshotTable.merge(spark, dir, Seq((1L, "a", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(1L))
    val bad = Seq((Some(2L), "b", 1), (None, "oops", 1))
      .toDF("k", "v", "p")
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, dir, bad, "k", "v", Seq("p"), Some(2L))
    }
    assert(ex.getMessage.contains("is null on 1 row"))
    assert(SnapshotTable.versions(spark, dir) == Seq(1L))
    assert(SnapshotTable.read(spark, dir).count() == 1L)
    // no in-flight marker left behind (the finally removed it)
    assert(!fs(dir).listStatus(new Path(dir))
      .exists(_.getPath.getName.startsWith("_inflight.")),
      "a refused commit must not leave its in-flight marker")
  }

  test("an untokened commit stages into an EMPTY dir: a stale " +
      "partition left at v=<head+1> under dynamic partition overwrite " +
      "never reaches the manifest") {
    val dir = tmpDir("m20stale") + "/t"
    val base = (1L to 40L).map(k => (k, s"v$k", (k % 4).toInt))
    SnapshotTable.merge(spark, dir, base.toDF("k", "v", "p"), "k", "v",
      Seq("p"), Some(1L))
    // a crashed writer's leftover partition under a v=2 dir name
    Seq((900L, "stale", 9)).toDF("k", "v", "p")
      .write.parquet(s"$dir/data/v=2/__gp_p=9")
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(mode)
    spark.conf.set(mode, "dynamic")
    try {
      val delta = Seq((1L, "new1", 1), (2L, "new2", 2))
      assert(SnapshotTable.merge(spark, dir, delta.toDF("k", "v", "p"),
        "k", "v", Seq("p"), Some(2L)) == 2L)
      val snap = SnapshotTable.resolve(spark, dir)
      assert(!snap.entries.exists(e =>
        SnapshotTable.partitionValues(e)("p") == "9"),
        s"a stale staged partition was committed: ${snap.entryPaths}")
      val expected = (base.filterNot(r => r._1 <= 2L) ++ delta).sorted
      val got = SnapshotTable.read(spark, dir).select("k", "v", "p")
        .as[(Long, String, Int)].collect().toSeq.sorted
      assert(got == expected)
      assertManifestMatchesBytes(dir)
    } finally prior.fold(spark.conf.unset(mode))(spark.conf.set(mode, _))
  }

  test("truncated footer string stats: entry and file bounds stay " +
      "conservative (min ≤ true min, max ≥ true max) and readRange " +
      "stays exact") {
    val dir = tmpDir("m20trunc") + "/t"
    val rows = (1L to 200L).map(k => (k, f"name-$k%05d-suffix",
      (k % 2).toInt))
    val truncate = "parquet.statistics.truncate.length"
    val prior = spark.conf.getOption(truncate)
    spark.conf.set(truncate, "4")
    try SnapshotTable.merge(spark, dir, rows.toDF("k", "s", "p"), "k",
      "s", Seq("p"), Some(1L), statsCols = Seq("s"))
    finally prior.fold(spark.conf.unset(truncate))(
      spark.conf.set(truncate, _))
    def contains(b: (String, String), vals: Seq[String]): Boolean =
      b._1 <= vals.min && b._2 >= vals.max
    val snap = SnapshotTable.resolve(spark, dir)
    assert(snap.entries.size == 2)
    snap.entries.foreach { e =>
      val p = SnapshotTable.partitionValues(e)("p").toInt
      val vals = rows.filter(_._3 == p).map(_._2)
      assert(contains(e.stats("s"), vals),
        s"entry ${e.path}: ${e.stats("s")} does not contain the rows")
      // the footers really were truncated: the bound is not exact
      assert(e.stats("s") != ((vals.min, vals.max)))
      assert(e.fileStats.nonEmpty)
      e.fileStats.foreach { f =>
        val fileVals = spark.read.parquet(s"$dir/data/${e.path}/${f.name}")
          .select("s").as[String].collect().toSeq
        assert(contains(f.bounds("s"), fileVals),
          s"file ${f.name}: ${f.bounds("s")} does not contain its rows")
      }
    }
    val got = SnapshotTable.readRange(spark, dir, "s", Some("name-00050"),
      Some("name-00059-suffix")).select("k").as[Long].collect().sorted
    assert(got.toSeq == (50L to 59L))
  }
}
