package graft

import graft.ops.SnapshotTable
import org.apache.spark.sql.functions._

/** Round-17: the snapshot table earns its Delta/Iceberg checklist
  * rungs — tombstone-aware CDC MERGE (q266), VACUUM for the
  * crash-stranded data the commit window can orphan, per-entry key
  * stats + data skipping (q267), hot-partition write salting — plus
  * the round-16 advice closures (entries derived from the merged
  * output's ACTUAL partitions; pre-rename commit refusal). */
class Round17Spec extends SparkSpec {

  import spark.implicits._

  private def content(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, String, Int)] =
    df.select(col("k"), col("v"), col("p")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("mergeCdc: latest-wins by seq within the feed, op='D' removes " +
      "the key, unmentioned keys carry, delete-then-reinsert across " +
      "versions, replay idempotence, and a feed that wipes a whole " +
      "partition drops its entry from the manifest") {
    val tbl = tmpDir("cdctbl") + "/t"
    val b1 = Seq((1L, "a1", 1), (2L, "a2", 1), (3L, "a3", 2),
      (4L, "a4", 2)).toDF("k", "v", "p")
    assert(SnapshotTable.merge(spark, tbl, b1, "k", "v", Seq("p"),
      Some(1L)) == 1L)
    // feed: k=2 has TWO versions (seq 1 then 2 — the later must win),
    // k=1 is deleted, k=9 inserted; k=3/k=4 never mentioned
    val feed = Seq(
      (2L, "stale", 1, 1L, "U"), (2L, "b2", 1, 2L, "U"),
      (1L, "a1", 1, 1L, "D"),
      (9L, "b9", 2, 1L, "I")).toDF("k", "v", "p", "seq", "op")
    assert(SnapshotTable.mergeCdc(spark, tbl, feed, "k", Seq("seq"),
      "op", Seq("p"), Some(2L)) == 2L)
    // replay: the same batch id at the head is a no-op
    assert(SnapshotTable.mergeCdc(spark, tbl, feed, "k", Seq("seq"),
      "op", Seq("p"), Some(2L)) == 2L)
    assert(SnapshotTable.versions(spark, tbl) == Seq(1L, 2L))
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((2L, "b2", 1), (3L, "a3", 2), (4L, "a4", 2), (9L, "b9", 2)),
      "cdc merge must delete k=1, update k=2 to its latest feed row, " +
        "insert k=9, and carry k=3/k=4")
    // the op column is an operator column, never table schema
    assert(!SnapshotTable.read(spark, tbl).columns.contains("op"))
    // delete-then-REINSERT across versions: k=1 comes back with new data
    val reinsert = Seq((1L, "c1", 1, 3L, "I")).toDF("k", "v", "p", "seq", "op")
    assert(SnapshotTable.mergeCdc(spark, tbl, reinsert, "k", Seq("seq"),
      "op", Seq("p"), Some(3L)) == 3L)
    assert(content(SnapshotTable.read(spark, tbl))
      .contains((1L, "c1", 1)))
    // time travel reads the pre-delete, mid-delete, and post-reinsert
    // states as committed
    assert(content(SnapshotTable.read(spark, tbl, Some(1L)))
      .contains((1L, "a1", 1)))
    assert(!content(SnapshotTable.read(spark, tbl, Some(2L)))
      .exists(_._1 == 1L))
    // wipe partition p=1 entirely (its only live keys are 1 and 2):
    // the committed entry list must simply drop the partition
    val wipe = Seq((1L, "c1", 1, 4L, "D"), (2L, "b2", 1, 4L, "D"))
      .toDF("k", "v", "p", "seq", "op")
    assert(SnapshotTable.mergeCdc(spark, tbl, wipe, "k", Seq("seq"),
      "op", Seq("p"), Some(4L)) == 4L)
    val m4 = SnapshotTable.resolve(spark, tbl)
    assert(!m4.entryPaths.exists(_.contains("__gp_p=1")),
      s"a fully-deleted partition must leave the manifest: ${m4.entryPaths}")
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((3L, "a3", 2), (4L, "a4", 2), (9L, "b9", 2)))
    // loud refusals: missing op column; op column doubling as key/part
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeCdc(spark, tbl, b1, "k", Seq("v"), "op",
        Seq("p"), Some(9L))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeCdc(spark, tbl, feed, "op", Seq("seq"), "op",
        Seq("p"), Some(9L))
    }
  }

  test("advice closure: a delta carrying one key under two partition " +
      "values commits a manifest whose every entry names a dir the " +
      "write really produced (entries derive from the merged output's " +
      "actual partitions, not the delta's) — and the table stays " +
      "readable afterwards") {
    val tbl = tmpDir("fdtbl") + "/t"
    // k=5 appears under p=1 AND p=2; new-wins dedup (tieBreak v desc)
    // keeps only the p=2 row, so the write produces NO p=1 dir — the
    // old code committed a dangling entry and every later read died
    val delta = Seq((5L, "a", 1), (5L, "z", 2)).toDF("k", "v", "p")
    assert(SnapshotTable.merge(spark, tbl, delta, "k", "v", Seq("p"),
      Some(1L)) == 1L)
    val m = SnapshotTable.resolve(spark, tbl)
    assert(m.entryPaths.map(untokened) == Seq("v=1/__gp_p=2"),
      s"only the winner's partition may be committed: ${m.entryPaths}")
    assert(content(SnapshotTable.read(spark, tbl)) == Set((5L, "z", 2)))
    // and a later merge over the same table still works end to end
    SnapshotTable.merge(spark, tbl, Seq((6L, "b", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(2L))
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((5L, "z", 2), (6L, "b", 1)))
  }

  test("manifest entry stats + data skipping: merge records per-entry " +
      "key min/max, pruneByKey drops provably-disjoint entries, " +
      "readRange returns exactly the filtered rows, carried entries " +
      "keep their stats, and a stats-key change strips kept stats " +
      "(conservative, never wrong)") {
    val tbl = tmpDir("stattbl") + "/t"
    val b1 = ((1L to 10L).map(k => (k, s"a$k", 1)) ++
      (101L to 110L).map(k => (k, s"a$k", 2))).toDF("k", "v", "p")
    SnapshotTable.merge(spark, tbl, b1, "k", "v", Seq("p"), Some(1L))
    val s1 = SnapshotTable.resolve(spark, tbl)
    assert(s1.statsKey.contains("k"))
    val stats1 = s1.entries.map(e => untokened(e.path) -> e.stats).toMap
    assert(stats1("v=1/__gp_p=1").get("k").contains(("1", "10")) &&
      stats1("v=1/__gp_p=2").get("k").contains(("101", "110")),
      s"entry stats must carry the key bounds: $stats1")
    // pruning: [3,7] can only live in p=1's entry
    assert(SnapshotTable.pruneByKey(s1, "k", Some(3L), Some(7L))
      .entryPaths.map(untokened) == Seq("v=1/__gp_p=1"))
    // numeric (not lexicographic) compare: 101 > 20 even though
    // "101" < "20" as strings — [20, 120] must keep p=2
    assert(SnapshotTable.pruneByKey(s1, "k", Some(20L), Some(120L))
      .entryPaths.map(untokened) == Seq("v=1/__gp_p=2"))
    assert(content(SnapshotTable.readRange(spark, tbl, "k",
      Some(3L), Some(7L))) ==
      (3L to 7L).map(k => (k, s"a$k", 1)).toSet)
    // a disjoint range reads empty (all entries pruned, schema kept)
    assert(SnapshotTable.readRange(spark, tbl, "k",
      Some(500L), Some(600L)).count() == 0L)
    // second merge touches only p=2: the CARRIED p=1 entry keeps its
    // recorded bounds, the rewritten p=2 entry gets fresh ones
    SnapshotTable.merge(spark, tbl,
      Seq((150L, "b150", 2)).toDF("k", "v", "p"), "k", "v", Seq("p"),
      Some(2L))
    val s2 = SnapshotTable.resolve(spark, tbl)
    val stats2 = s2.entries.map(e => untokened(e.path) -> e.stats).toMap
    assert(stats2("v=1/__gp_p=1").get("k").contains(("1", "10")),
      "a carried entry must keep its stats")
    assert(stats2("v=2/__gp_p=2").get("k").contains(("101", "150")),
      s"the rewritten entry must record fresh bounds: $stats2")
    assert(SnapshotTable.pruneByKey(s2, "k", Some(1L), Some(2L))
      .entryPaths.map(untokened) == Seq("v=1/__gp_p=1"))
    // merging on a DIFFERENT key re-keys the stats: kept entries'
    // old bounds are stripped (pruning on either key stays correct —
    // entries without stats are never pruned)
    SnapshotTable.merge(spark, tbl,
      Seq((200L, "zz", 2)).toDF("k", "v", "p"), "v", "k", Seq("p"),
      Some(3L))
    val s3 = SnapshotTable.resolve(spark, tbl)
    assert(s3.statsKey.contains("v"))
    assert(s3.entries.find(e => untokened(e.path) == "v=1/__gp_p=1")
      .get.stats.isEmpty,
      "a stats-key change must strip carried entries' bounds")
    assert(SnapshotTable.pruneByKey(s3, "k", Some(1L), Some(2L))
      .entries == s3.entries,
      "pruning on a non-stats key must be a no-op")
  }

  test("hot-partition write salting: a partition whose merged rows " +
      "exceed maxRowsPerTask is spread across multiple write tasks " +
      "(distinct task file prefixes) while small partitions keep the " +
      "one-task shape — and the content is byte-for-byte the same " +
      "merge semantics") {
    val tbl = tmpDir("salttbl") + "/t"
    val rows = (1L to 60L).map(k => (k, s"a$k", 1)) ++
      Seq((1001L, "b1", 2), (1002L, "b2", 2))
    SnapshotTable.merge(spark, tbl, rows.toDF("k", "v", "p"), "k", "v",
      Seq("p"), Some(1L), maxRowsPerTask = 20L)
    def taskPrefixes(rel: String): Set[String] = {
      val fs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val entry = SnapshotTable.resolve(spark, tbl).entryPaths
        .find(untokened(_) == rel).get
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$tbl/data/$entry"))
        .map(_.getPath.getName).filter(_.startsWith("part-"))
        .map(_.split("-")(1)).toSet
    }
    assert(taskPrefixes("v=1/__gp_p=1").size == 3,
      "60 rows at maxRowsPerTask=20 must spread across EXACTLY " +
        "ceil(60/20)=3 write tasks (repartitionById routes each salt " +
        "slice to its own task — no balls-in-bins collisions)")
    assert(taskPrefixes("v=1/__gp_p=2").size == 1,
      "a small partition must keep the one-task, no-spray shape")
    assert(content(SnapshotTable.read(spark, tbl)) == rows.toSet,
      "salting must not change the merged content")
    // stats are computed pre-salt over the whole partition
    val st = SnapshotTable.resolve(spark, tbl).entries
      .find(e => untokened(e.path) == "v=1/__gp_p=1").get.stats
    assert(st.get("k").contains(("1", "60")),
      s"salted partition stats: $st")
  }

  test("readRange plan shape: the residual range predicate pushes " +
      "into the parquet scan of the surviving entries (manifest " +
      "pruning and scan-level pushdown compose — dir skipping first, " +
      "row-group stats inside what remains)") {
    val tbl = tmpDir("pushtbl") + "/t"
    val rows = ((1L to 50L).map(k => (k, s"a$k", 1)) ++
      (101L to 150L).map(k => (k, s"a$k", 2))).toDF("k", "v", "p")
    SnapshotTable.merge(spark, tbl, rows, "k", "v", Seq("p"), Some(1L))
    val df = SnapshotTable.readRange(spark, tbl, "k", Some(10L), Some(20L))
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(k,10)") &&
      scan.contains("LessThanOrEqual(k,20)"),
      s"range predicate must reach the parquet scan:\n$scan")
    assert(content(df) == (10L to 20L).map(k => (k, s"a$k", 1)).toSet)
  }

  test("vacuum: a crash-stranded data dir (written, never committed) " +
      "and a stale tmp manifest are reclaimed after the grace window; " +
      "younger-than-grace trees and every referenced dir survive") {
    val tbl = tmpDir("vactbl") + "/t"
    val b1 = Seq((1L, "a1", 1), (3L, "a3", 2)).toDF("k", "v", "p")
    SnapshotTable.merge(spark, tbl, b1, "k", "v", Seq("p"), Some(1L))
    SnapshotTable.merge(spark, tbl,
      Seq((2L, "b2", 1)).toDF("k", "v", "p"), "k", "v", Seq("p"), Some(2L))
    val want = content(SnapshotTable.read(spark, tbl))
    val fs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def plant(rel: String, ageMs: Long): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(s"$tbl/$rel")
      fs.mkdirs(p)
      val f = fs.create(new org.apache.hadoop.fs.Path(p, "part-x.parquet"))
      f.write(Array[Byte](1, 2, 3)); f.close()
      if (ageMs > 0)
        fs.setTimes(p, System.currentTimeMillis() - ageMs, -1)
      p
    }
    // the crash shape: data written, manifest never committed
    val orphanOld = plant("data/v=99", 7200000L)
    val orphanFresh = plant("data/v=98", 0L)
    val tmp = new org.apache.hadoop.fs.Path(s"$tbl/_snap.97.tmp")
    val tf = fs.create(tmp); tf.write("half a manifest".getBytes); tf.close()
    fs.setTimes(tmp, System.currentTimeMillis() - 7200000L, -1)
    SnapshotTable.vacuum(spark, tbl, graceMs = 3600000L)
    assert(!fs.exists(orphanOld),
      "an orphan older than the grace window must be reclaimed")
    assert(!fs.exists(tmp),
      "a stale tmp manifest from a crashed commit must be reclaimed")
    assert(fs.exists(orphanFresh),
      "an orphan younger than the grace window (an in-flight commit's " +
        "dir) must survive its own vacuum")
    // every referenced dir intact: both versions still read
    assert(content(SnapshotTable.read(spark, tbl)) == want)
    assert(content(SnapshotTable.read(spark, tbl, Some(1L))) ==
      Set((1L, "a1", 1), (3L, "a3", 2)))
    // grace 0 = reclaim everything unreferenced right now
    SnapshotTable.vacuum(spark, tbl, graceMs = 0L)
    assert(!fs.exists(orphanFresh))
    assert(content(SnapshotTable.read(spark, tbl)) == want,
      "vacuum must never touch referenced data")
  }

  test("OPTIMIZE ZORDER: a single-column cluster rewrite yields " +
      "files whose key ranges are DISJOINT within each partition " +
      "(the file-skipping surface), content is identical, and the " +
      "refusal surface is loud (>2 columns, non-integral column)") {
    val tbl = tmpDir("zopttbl") + "/t"
    // interleave keys so the pre-optimize layout has overlapping
    // file ranges; 30 rows at maxRowsPerTask=10 force >= 3 files
    val rows = (1L to 30L).map(k => ((k * 17) % 30 + 1, s"a$k", 1))
      .map { case (k, v, p) => (k, v, p) }
    SnapshotTable.merge(spark, tbl, rows.toDF("k", "v", "p"), "k", "v",
      Seq("p"), Some(1L), maxRowsPerTask = 10L)
    SnapshotTable.optimize(spark, tbl, Seq("p"),
      maxRowsPerTask = 10L, zorderBy = Seq("k"))
    val head = SnapshotTable.resolve(spark, tbl)
    assert(head.ver == 2L)
    assert(content(SnapshotTable.read(spark, tbl)) == rows.toSet,
      "the clustered rewrite must be content-identical")
    val fs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dir = s"$tbl/data/${head.entryPaths.head}"
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.toString).filter(_.endsWith(".parquet"))
    assert(files.length >= 2,
      s"the fixture must produce multiple files, got ${files.length}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("k")), max(col("k"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2,
          s"zordered file key ranges must be disjoint: $ranges")
      case _ =>
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.optimize(spark, tbl, Seq("p"),
        zorderBy = Seq("k", "k", "k"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.optimize(spark, tbl, Seq("p"), zorderBy = Seq("v"))
    }
    assert(SnapshotTable.versions(spark, tbl) == Seq(1L, 2L),
      "refused optimizes must not have committed")
  }

  test("per-FILE manifest stats (parquet-footer harvest): a range " +
      "read opens only the files whose bounds overlap — one file of " +
      "a multi-file zordered dir for a point-ish lookup — bounds " +
      "contain the files' true extremes, and a stats-key change " +
      "clears file bounds along with dir bounds") {
    val tbl = tmpDir("fstattbl") + "/t"
    val rows = (1L to 60L).map(k => ((k * 13) % 60 + 1, s"a$k", 1))
    SnapshotTable.merge(spark, tbl, rows.toDF("k", "v", "p"), "k", "v",
      Seq("p"), Some(1L), maxRowsPerTask = 20L)
    SnapshotTable.optimize(spark, tbl, Seq("p"),
      maxRowsPerTask = 20L, zorderBy = Seq("k"))
    val snap = SnapshotTable.resolve(spark, tbl)
    val entry = snap.entries.head
    assert(entry.fileStats.size >= 2,
      s"the zordered dir must carry several file bounds: $entry")
    // bounds really contain each file's extremes (read back and check)
    assert(entry.fileStats.forall(_.bounds.contains("k")),
      s"spark-written files must all carry usable footer stats: $entry")
    entry.fileStats.foreach { f =>
      val (mn, mx) = f.bounds("k")
      val r = spark.read
        .parquet(s"$tbl/data/${entry.path}/${f.name}")
        .agg(min(col("k")), max(col("k"))).collect()(0)
      assert(mn.toLong <= r.getLong(0) && r.getLong(1) <= mx.toLong,
        s"footer bounds must contain the file's extremes: $f vs $r")
    }
    // a narrow range inside ONE file's bounds opens exactly that file
    val tight = entry.fileStats.sortBy(_.bounds("k")._1.toLong).head
    val lo = tight.bounds("k")._1.toLong
    val paths = SnapshotTable.prunedReadPaths(tbl, snap, "k",
      Some(lo), Some(lo))
    assert(paths == Seq(s"$tbl/data/${entry.path}/${tight.name}"),
      s"a point lookup must open one file: $paths")
    assert(content(SnapshotTable.readRange(spark, tbl, "k",
      Some(lo), Some(lo))) == rows.filter(_._1 == lo).toSet)
    // full-range read through the file-pruned path ≡ the whole table
    assert(content(SnapshotTable.readRange(spark, tbl, "k",
      Some(1L), Some(60L))) == rows.toSet)
    // stats-key change clears file bounds with the dir bounds
    SnapshotTable.merge(spark, tbl,
      Seq((200L, "zz", 1)).toDF("k", "v", "p"), "v", "k", Seq("p"),
      Some(3L))
    val s3 = SnapshotTable.resolve(spark, tbl)
    assert(s3.entries.forall(e =>
      SnapshotTable.versionOf(e.path) == 3L ||
        (e.stats.isEmpty && e.fileStats.isEmpty)),
      s"carried entries must lose stale file bounds on a key change: " +
        s"${s3.entries}")
  }

  test("partition evolution: the rewrite commits the new layout in " +
      "its manifest, merges validate against the evolved partitioning " +
      "(old partCols refuse), time travel below the change reads the " +
      "OLD layout, and content is identical through the migration") {
    val tbl = tmpDir("evoparttbl") + "/t"
    val rows = Seq((1L, "a1", 1, 10), (2L, "a2", 1, 20),
      (3L, "a3", 2, 10), (4L, "a4", 2, 20))
    SnapshotTable.merge(spark, tbl, rows.toDF("k", "v", "p", "q"),
      "k", "v", Seq("p", "q"), Some(1L))
    assert(SnapshotTable.repartitionTable(spark, tbl, Seq("p")) == 2L)
    val head = SnapshotTable.resolve(spark, tbl)
    assert(head.partCols == Seq("p") &&
      head.entryPaths.forall(e =>
        untokened(e).startsWith("v=2/__gp_p=") && !e.contains("__gp_q=")),
      s"the evolved layout must drop q from the dirs: ${head.entryPaths}")
    def all(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("v"), col("p"), col("q")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getInt(3))).toSet
    assert(all(SnapshotTable.read(spark, tbl)) == rows.toSet,
      "the migration must be content-identical")
    // the pre-evolution version still resolves and reads its own layout
    val v1 = SnapshotTable.resolve(spark, tbl, Some(1L))
    assert(v1.partCols == Seq("p", "q") &&
      v1.entryPaths.forall(_.contains("__gp_q=")))
    assert(all(SnapshotTable.readSnap(spark, tbl, v1)) == rows.toSet)
    // merges now validate against the NEW partitioning
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, tbl,
        Seq((9L, "b9", 1, 30)).toDF("k", "v", "p", "q"),
        "k", "v", Seq("p", "q"), Some(5L))
    }
    assert(SnapshotTable.merge(spark, tbl,
      Seq((9L, "b9", 1, 30)).toDF("k", "v", "p", "q"),
      "k", "v", Seq("p"), Some(5L)) == 3L)
    assert(all(SnapshotTable.read(spark, tbl)) ==
      rows.toSet + ((9L, "b9", 1, 30)))
    // a same-layout "evolution" refuses (nothing to do)
    intercept[IllegalArgumentException] {
      SnapshotTable.repartitionTable(spark, tbl, Seq("p"))
    }
  }

  test("publishChanges: the CDF lands append-only and range-named " +
      "(first publish = whole head as inserts, later = net diffs), a " +
      "replayed publish is a no-op, a crashed attempt's staging is " +
      "swept, and Structured Streaming consumes the landing with the " +
      "plain parquet file source") {
    val tbl = tmpDir("pubtbl") + "/t"
    val land = tmpDir("publand")
    val b1 = Seq((1L, "a1", 1), (2L, "a2", 1), (3L, "a3", 2))
      .toDF("k", "v", "p")
    SnapshotTable.merge(spark, tbl, b1, "k", "v", Seq("p"), Some(1L))
    assert(SnapshotTable.publishChanges(spark, tbl, "k", land)
      .contains((0L, 1L)))
    // replay with nothing new: no-op
    assert(SnapshotTable.publishChanges(spark, tbl, "k", land).isEmpty)
    // seq = the existing v column: no schema evolution mid-landing,
    // so every published file shares one schema (a WIDENED landing
    // needs an explicit schema or mergeSchema=true — default batch
    // inference picks one footer and silently drops the added column
    // from older files; stated in publishChanges' doc)
    val feed = Seq((1L, "a1", 1, "D"), (2L, "b2", 1, "U"),
      (9L, "b9", 2, "I")).toDF("k", "v", "p", "op")
    SnapshotTable.mergeCdc(spark, tbl, feed, "k", Seq("v"), "op",
      Seq("p"), Some(2L))
    // plant CRASHED staging (old mtime, a name no current attempt
    // uses) and an IN-FLIGHT one (fresh): the sweep must take the
    // first and spare the second — a concurrent publisher's live
    // staging must survive its neighbor's sweep
    val fs = new org.apache.hadoop.fs.Path(land).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val crashed = new org.apache.hadoop.fs.Path(
      s"$land/_staging_changes_v0_v9.dead")
    val inflight = new org.apache.hadoop.fs.Path(
      s"$land/_staging_changes_v1_v2.live")
    fs.mkdirs(crashed); fs.mkdirs(inflight)
    fs.setTimes(crashed, System.currentTimeMillis() - 7200000L, -1)
    assert(SnapshotTable.publishChanges(spark, tbl, "k", land)
      .contains((1L, 2L)))
    assert(!fs.exists(crashed),
      "crashed staging older than the grace window must be swept")
    assert(fs.exists(inflight),
      "a concurrent publisher's fresh staging must survive the sweep")
    fs.delete(inflight, true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("v"), col("_change_type"),
        col("_from_version"), col("_to_version")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
    val want = Set(
      (1L, "a1", "insert", 0L, 1L), (2L, "a2", "insert", 0L, 1L),
      (3L, "a3", "insert", 0L, 1L),
      (1L, "a1", "delete", 1L, 2L),
      (2L, "a2", "update_preimage", 1L, 2L),
      (2L, "b2", "update_postimage", 1L, 2L),
      (9L, "b9", "insert", 1L, 2L))
    assert(rows(spark.read.parquet(s"$land/changes_*")) == want,
      "the landing must hold exactly the published change history")
    // the landing is a STREAMING source with stock machinery
    val sink = s"pub_sink_${System.nanoTime()}"
    val q = spark.readStream
      .schema(spark.read.parquet(s"$land/changes_*").schema)
      .parquet(s"$land/changes_*")
      .writeStream.format("memory").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(rows(spark.table(sink)) == want,
      "a parquet file stream must consume the landing as-is")
    spark.catalog.dropTempView(sink)
    // replay after everything published: still a no-op
    assert(SnapshotTable.publishChanges(spark, tbl, "k", land).isEmpty)
  }

  test("distributed footer harvest: a commit writing more than 32 " +
      "files ships the footer reads to the executors (the session " +
      "conf rides a SerializableConfiguration) and every file still " +
      "gets correct bounds — point reads open exactly one file") {
    val tbl = tmpDir("bigharvest") + "/t"
    val rows = (1L to 120L).map(k => (k, s"a$k", (k % 3).toInt))
    // cap 2 rows/task+file: 120 rows over 3 partitions → ~60 tasks,
    // >= 60 files — well past the 32-file serial/distributed cutover
    SnapshotTable.merge(spark, tbl, rows.toDF("k", "v", "p"), "k", "v",
      Seq("p"), Some(1L), maxRowsPerTask = 2L)
    val snap = SnapshotTable.resolve(spark, tbl)
    val nFiles = snap.entries.map(_.fileStats.size).sum
    assert(nFiles > 32,
      s"the fixture must cross the distributed cutover, got $nFiles")
    assert(snap.entries.flatMap(_.fileStats).forall(_.bounds.contains("k")),
      "every spark-written file must carry harvested bounds")
    // a point read opens exactly the files whose bounds admit the key
    val paths = SnapshotTable.prunedReadPaths(tbl, snap, "k",
      Some(77L), Some(77L))
    assert(paths.nonEmpty && paths.size < nFiles / 4,
      s"a point read must open a small fraction: ${paths.size}/$nFiles")
    assert(content(SnapshotTable.readRange(spark, tbl, "k",
      Some(77L), Some(77L))) == Set((77L, "a77", 2)))
    assert(content(SnapshotTable.read(spark, tbl)) == rows.toSet)
  }

  test("review closures: string pruning compares byte-wise UTF-8 " +
      "(a supplementary-plane key above the BMP is not wrongly " +
      "pruned), and a manifest file listed WITHOUT bounds is opened " +
      "by every range read") {
    val tbl = tmpDir("utf8tbl") + "/t"
    // "�" (EF BF BD) sorts BELOW the emoji (F0 9F 98 80) in
    // UTF-8 bytes, but ABOVE it in UTF-16 code units (surrogate
    // D83D < FFFD) — a compareTo-based prune would read max<lo and
    // drop the entry that really holds the key
    val hi = "😀" // 😀
    val rows = Seq(("�", "a", 1), (hi, "b", 1))
    SnapshotTable.merge(spark, tbl, rows.toDF("k", "v", "p"), "k", "v",
      Seq("p"), Some(1L))
    val got = SnapshotTable.readRange(spark, tbl, "k",
      Some("�"), Some("�"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("�", "a")),
      s"byte-wise string pruning must keep the BMP key's entry: $got")
    assert(SnapshotTable.readRange(spark, tbl, "k", Some(hi), Some(hi))
      .count() == 1L, "the supplementary-plane key must also resolve")
    // a statless file (bounds=None — e.g. a writer that recorded no
    // stats) round-trips through the manifest and is ALWAYS opened
    val head = SnapshotTable.resolve(spark, tbl)
    val e = head.entries.head
    SnapshotTable.commitManifest(spark, tbl, head.ver + 1, None,
      Seq(e.copy(fileStats = e.fileStats :+
        SnapshotTable.FileStat("ghost.parquet", Map.empty))),
      head.schemaDdl, head.partCols, head.statsKeys)
    val s2 = SnapshotTable.resolve(spark, tbl)
    assert(s2.entries.head.fileStats
      .exists(f => f.name == "ghost.parquet" && f.bounds.isEmpty),
      s"the unbounded file stat must round-trip: ${s2.entries.head}")
    val paths = SnapshotTable.prunedReadPaths(tbl, s2, "k",
      Some("�"), Some("�"))
    assert(paths.exists(_.endsWith("/ghost.parquet")),
      s"a file without bounds must be opened by every range read: $paths")
  }

  test("change data feed: insert/delete/update pre+post images " +
      "between two versions, shared (carried-by-reference) entries " +
      "skipped without a read, unchanged-but-rewritten rows " +
      "suppressed, schema evolution surfaces from-side nulls, and " +
      "identical versions diff empty") {
    val tbl = tmpDir("cdftbl") + "/t"
    val b1 = Seq((1L, "a1", 1), (2L, "a2", 1), (3L, "a3", 2),
      (4L, "a4", 2)).toDF("k", "v", "p")
    SnapshotTable.merge(spark, tbl, b1, "k", "v", Seq("p"), Some(1L))
    // v2 touches ONLY p=1: k=1 deleted, k=2 updated, k=9 inserted;
    // p=2 (k=3, k=4) carries by reference
    val feed = Seq((1L, "a1", 1, 1L, "D"), (2L, "b2", 1, 1L, "U"),
      (9L, "b9", 1, 1L, "I")).toDF("k", "v", "p", "seq", "op")
    SnapshotTable.mergeCdc(spark, tbl, feed, "k", Seq("seq"), "op",
      Seq("p"), Some(2L))
    // note: the feed's `seq` column joined the table schema via
    // additive evolution (a CDC feed's sequence column is real data,
    // e.g. updated_at) — select the asserted columns by name
    val cdf = SnapshotTable.changesBetween(spark, tbl, "k", 1L, 2L)
      .select(col("k"), col("v"), col("p"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(3))).toSet
    assert(cdf == Set(
      (1L, "a1", 1, "delete"),
      (2L, "a2", 1, "update_preimage"),
      (2L, "b2", 1, "update_postimage"),
      (9L, "b9", 1, "insert")),
      s"CDF must carry exactly the four change rows: $cdf")
    // the O(changed partitions) bound: the shared p=2 entry is read
    // on NEITHER side
    val (fe, te) = SnapshotTable.cdfEntries(
      SnapshotTable.resolve(spark, tbl, Some(1L)),
      SnapshotTable.resolve(spark, tbl, Some(2L)))
    assert(fe.map(untokened) == Seq("v=1/__gp_p=1") &&
      te.map(untokened) == Seq("v=2/__gp_p=1"),
      s"carried entries must be skipped from both sides: $fe / $te")
    // identical versions (OPTIMIZE rewrites everything, content
    // unchanged): every row compares equal — the CDF is EMPTY even
    // though no entry is shared and every row is read on both sides
    SnapshotTable.optimize(spark, tbl, Seq("p"))
    assert(SnapshotTable.changesBetween(spark, tbl, "k", 2L, 3L)
      .count() == 0L,
      "a content-identical rewrite must diff empty")
    // schema evolution across the diff: v4 adds a column; the v2-side
    // images surface it as null, the v4-side carries the value
    SnapshotTable.merge(spark, tbl,
      Seq((2L, "c2", 1)).toDF("k", "v", "p")
        .withColumn("seq", lit(5L)).withColumn("extra", lit(7L)),
      "k", "v", Seq("p"), Some(4L))
    val evo = SnapshotTable.changesBetween(spark, tbl, "k", 2L, 4L)
      .select(col("k"), col("v"), col("extra"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getString(3))).toSet
    assert(evo == Set(
      (2L, "b2", None, "update_preimage"),
      (2L, "c2", Some(7L), "update_postimage")),
      s"evolved CDF must null the added column on pre-images: $evo")
  }

  test("optimistic concurrency: N driver threads race mergeRetrying " +
      "into ONE table — every delta lands exactly once (serialized as " +
      "the commit order), versions are dense, losers' staged dirs are " +
      "unreferenced and vacuum reclaims them with content intact") {
    val tbl = tmpDir("conctbl") + "/t"
    val nThreads = 4
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val committed =
      try Await.result(Future.sequence((1 to nThreads).map { i =>
        Future {
          // disjoint keys, overlapping partitions — every thread's
          // rebase must re-read what the others committed
          SnapshotTable.merge(spark, tbl,
            Seq((i.toLong, s"t$i", i % 2)).toDF("k", "v", "p"),
            "k", "v", Seq("p"), batchId = Some(100L + i))
        }
      }), Duration.Inf)
      finally pool.shutdown()
    assert(committed.sorted == (1L to nThreads.toLong),
      s"each racer must win exactly one dense version: $committed")
    assert(SnapshotTable.versions(spark, tbl) ==
      (1L to nThreads.toLong))
    val want = (1 to nThreads).map(i => (i.toLong, s"t$i", i % 2)).toSet
    assert(content(SnapshotTable.read(spark, tbl)) == want,
      "every racer's delta must survive the race (no lost merge)")
    // each intermediate version is a consistent prefix of the commit
    // order: version v holds exactly v of the deltas, never a torn row
    (1L to nThreads.toLong).foreach { v =>
      val rows = content(SnapshotTable.read(spark, tbl, Some(v)))
      assert(rows.size == v.toInt && rows.subsetOf(want),
        s"version $v must hold exactly $v committed deltas: $rows")
    }
    // losers' abandoned stagings (tokened v=<n>-<tok> dirs no manifest
    // references) reclaim under vacuum; winners' data is untouched
    SnapshotTable.vacuum(spark, tbl, graceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val liveVers = (1L to nThreads.toLong).flatMap(v =>
      SnapshotTable.resolve(spark, tbl, Some(v)).entryPaths
        .map(p => p.substring(0, p.indexOf('/')))).toSet
    val dataDirs = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$tbl/data"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dataDirs == liveVers,
      s"after vacuum only referenced dirs remain: $dataDirs vs $liveVers")
    assert(content(SnapshotTable.read(spark, tbl)) == want)
  }

  test("advice closure: a losing racer's commit refuses BEFORE its " +
      "rename when the version's manifest already exists — the exact " +
      "interleaving the read-back check alone could miss (racer's " +
      "rename lands after the winner's read-back)") {
    val tbl = tmpDir("racetbl") + "/t"
    SnapshotTable.merge(spark, tbl, Seq((1L, "a", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(1L))
    // both writers resolved head ver=1; the winner commits ver 2...
    val head = SnapshotTable.resolve(spark, tbl)
    SnapshotTable.merge(spark, tbl, Seq((2L, "b", 1)).toDF("k", "v", "p"),
      "k", "v", Seq("p"), Some(2L))
    // ...and the loser's commit of the SAME version must refuse on the
    // pre-rename existence check, leaving the winner's manifest intact
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.commitManifest(spark, tbl, 2L, Some(99L), Nil,
        head.schemaDdl, head.partCols, Nil)
    }
    assert(ex.getMessage.contains("already exists"),
      s"expected the pre-rename refusal: ${ex.getMessage}")
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((1L, "a", 1), (2L, "b", 1)),
      "the winner's commit must be untouched by the refused racer")
    assert(SnapshotTable.resolve(spark, tbl).batchId.contains(2L),
      "the surviving manifest must be the winner's, not the racer's")
  }
}
