package graft.flowbench

import graft.ops.SnapshotTable
import graft.pipeline.Ingest
import graft.schema.{TableSpec, Tables}
import graft.sources.CsvSource
import graft.state.WatermarkStore
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** `ingest_serve`: the reference's daily job over three of the active
  * registry tables, each day one closed-loop op. Two tables land
  * through the overwrite sink (the reference's partitioned upsert),
  * one through the snapshot sink (versioned commits), from one seeded
  * extract and
  * one watermark store with an injected clock and probe time. After
  * each day's commit, readers run against the snapshot table: time
  * travel, point and range lookups on `id`, the metadata-only row
  * count and the day's change feed. At the end of the round the
  * snapshot table gets maintenance: compaction of small-file entries,
  * retention and vacuum.
  *
  * A round is `Days` days from a private copy of the seed state; the
  * seed (an `Ingest.initialLoad` through each sink) is set-up. */
final class IngestServe(seed: Long) extends Workload {
  import IngestServe._

  val lakeTables: Seq[TableSpec] = LakeNames.map(Tables.registry)
  val snapTables: Seq[TableSpec] = SnapNames.map(Tables.registry)
  val tables: Seq[TableSpec] = lakeTables ++ snapTables
  /** Each day one overwrite-sink table gets the empty delta, the two
    * taking turns from a seed-picked start: every day does the same
    * work (one table per sink, one short-circuit) whatever the seed. */
  val data = new IngestData(seed, tables, SeedRows, Days, NewPerDay, UpdPerDay,
    d => LakeNames(Math.floorMod(seed + d, 2L).toInt))

  /** Oracle (content, watermarks, tables written) after the seed load
    * (index 0) and after each day d. */
  lazy val oracle: IndexedSeq[(Map[String, Map[String, Vector[String]]],
      Map[String, String], Seq[String])] = {
    val o = new IngestOracle(tables)
    o.initialLoad(data.seedData)
    def snap(written: Seq[String]) =
      (tables.map(t => t.name -> o.table(t.name)).toMap, o.watermarks, written)
    snap(tables.map(_.name)) +: (1 to Days).map { d =>
      snap(o.day(data.dayData(d - 1), data.watermark(d).format(IngestData.Fmt),
        data.probe(d).format(IngestData.Fmt)))
    }
  }

  private var inputs: Path = _
  private var seedOut: Path = _
  /** Oracle content of each retained version, per snapshot table. */
  private var versions: Map[String, mutable.LinkedHashMap[Long, Map[String, Vector[String]]]] = _
  private val rangeRatios = mutable.ArrayBuffer[Double]()
  /** Partition directories the overwrite sink rewrote, per traced day. */
  private val rewritten = mutable.ArrayBuffer[Double]()

  /** The overwrite sink's data files, by partition directory. A
    * partition the sink rewrites gets new file names. */
  private def lakeFiles: Map[String, Set[String]] = {
    val walk = Files.walk(lake)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        .groupBy(f => lake.relativize(f.getParent).toString)
        .map { case (dir, fs) => dir -> fs.map(_.getFileName.toString).toSet }
    } finally walk.close()
  }

  def setup(ctx: Ctx): Unit = {
    inputs = ctx.dir("inputs")
    data.writeSeed(inputs.resolve("seed"))
    (1 to Days).foreach(d => data.writeDay(dayDir(d), d))
    seedOut = ctx.work.resolve("seed-out")
    Main.deleteRecursively(seedOut)
    val csv = inputs.resolve("seed").toString
    Ingest.initialLoad(ctx.spark, csv, seedOut.resolve("lake").toString,
      lakeTables, Ingest.OverwriteSink)
    Ingest.initialLoad(ctx.spark, csv, seedOut.resolve("snap").toString,
      snapTables, Ingest.SnapshotSink)
    oracle.size
  }

  private def dayDir(d: Int) = inputs.resolve(f"day-$d%03d")
  private def lake = roundDir.resolve("out").resolve("lake")
  private def snap = roundDir.resolve("out").resolve("snap")
  private def snapDir(t: TableSpec) = snap.resolve(t.name).toString

  def rowsPerRound: Long = (1 to Days).map(data.dayRows).sum

  /** Two rounds: after one, the next round still runs some 20 % slow
    * while the JIT finishes compiling the day's hot paths. */
  override def warmup(ctx: Ctx, s: Samples): Unit = {
    round(ctx, s)
    cleanup()
    round(ctx, s)
  }

  /** A round takes about a fifth of a 20 s run; in a shorter run,
    * three rounds still make the median a round from the middle of
    * the phase. */
  override def minRounds: Int = 3

  def round(ctx: Ctx, s: Samples): Unit = {
    val spark = ctx.spark
    newRoundDir(ctx, "ingest")
    Main.copyTree(seedOut, roundDir.resolve("out"))
    var now = data.probe(1)
    val store = WatermarkStore(roundDir.resolve("watermarks.json").toString, () => now)
    val rnd = new java.util.Random(seed * 31 + 7)
    versions = snapTables.map(t => t.name ->
      mutable.LinkedHashMap(1L -> oracle(0)._1(t.name))).toMap
    (1 to Days).foreach { d =>
      val probe = data.probe(d).format(IngestData.Fmt)
      val before = if (s.traced) lakeFiles else Map.empty[String, Set[String]]
      s.time("op", "day", "pipeline") {
        val sources = tables.map(t => t.name ->
          CsvSource.read(spark, t, dayDir(d).resolve(s"${t.name}.csv").toString)).toMap
        s.time("stage", "overwrite", "pipeline") {
          Ingest.incrementalRun(spark, store, sources, probe, lake.toString,
            lakeTables, Ingest.OverwriteSink)
        }
        s.time("stage", "snapshot", "pipeline") {
          Ingest.incrementalRun(spark, store, sources, probe, snap.toString,
            snapTables, Ingest.SnapshotSink)
        }
      }
      if (s.traced) {
        val after = lakeFiles
        rewritten += after.count { case (dir, fs) => !before.get(dir).contains(fs) }
      }
      now = now.plusDays(1)
      val (state, _, written) = oracle(d)
      val committed = snapTables.map(_.name).filter(written.contains)
      committed.foreach { tn => val vs = versions(tn); vs(vs.keys.max + 1) = state(tn) }
      val pick = committed(rnd.nextInt(committed.size))
      val t = snapTables.find(_.name == pick).get
      readers(spark, s, t, state(t.name), rnd)
    }
    maintain(spark, s)
  }

  private def readers(spark: SparkSession, s: Samples, t: TableSpec,
      head: Map[String, Vector[String]], rnd: java.util.Random): Unit = {
    val dir = snapDir(t)
    val vs = versions(t.name)
    val headV = vs.keys.max
    // time travel to a retained version
    val v = vs.keys.toSeq(rnd.nextInt(vs.size))
    val atV = s.time("read", "read_version", "ops.snapshot") {
      rows(SnapshotTable.read(spark, dir, Some(v)), t) }
    s.check(s"${t.name}: read(version $v) equals the oracle")(sameRows(atV, vs(v).values.toSeq))
    // point and range lookups on id
    val ids = head.keys.toIndexedSeq.sorted
    val one = ids(rnd.nextInt(ids.size))
    val pt = s.time("read", "read_range", "ops.snapshot") {
      rows(SnapshotTable.readRange(spark, dir, "id", Some(one), Some(one)), t) }
    s.check(s"${t.name}: point read of $one")(pt == Seq(head(one)))
    val i = rnd.nextInt(ids.size)
    val (lo, hi) = (ids(i), ids(math.min(ids.size - 1, i + RangeWidth)))
    val rg = s.time("read", "read_range", "ops.snapshot") {
      rows(SnapshotTable.readRange(spark, dir, "id", Some(lo), Some(hi)), t) }
    s.check(s"${t.name}: range read [$lo, $hi]")(
      sameRows(rg, ids.filter(k => k >= lo && k <= hi).map(head)))
    val headSnap = SnapshotTable.resolve(spark, dir)
    rangeRatios += SnapshotTable.prunedReadPaths(dir, headSnap, "id", Some(lo), Some(hi))
      .size.toDouble / files(headSnap)
    // metadata-only count
    val n = s.time("read", "count_rows", "ops.snapshot") { SnapshotTable.countRows(spark, dir) }
    s.check(s"${t.name}: countRows ($n) equals the oracle (${head.size})")(
      n.contains(head.size.toLong))
    // the day's change feed against the previous retained version
    vs.keys.filter(_ < headV).maxOption.foreach { pv =>
      val ch = s.time("read", "changes", "ops.snapshot") {
        SnapshotTable.changesBetween(spark, dir, "id", pv, headV)
          .select("_change_type", "id").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
      }
      s.check(s"${t.name}: changesBetween($pv, $headV)")(ch == changes(vs(pv), head))
    }
  }

  /** Compaction of small-file entries, retention and vacuum, on every
    * snapshot table. */
  private def maintain(spark: SparkSession, s: Samples): Unit =
    s.time("maint", "maintenance", "ops.snapshot") {
      snapTables.foreach { t =>
        val dir = snapDir(t)
        val vs = versions(t.name)
        val head = vs.keys.max
        val v = SnapshotTable.optimizeWhere(spark, dir, IngestOracle.PartCols,
          _.fileStats.size > 1)
        if (v != head) vs(v) = vs(head)
        SnapshotTable.retainNewest(spark, dir, Keep, graceMs = 0L)
        SnapshotTable.vacuum(spark, dir, graceMs = 0L)
        vs.keys.toSeq.sorted.dropRight(Keep).foreach(vs.remove)
      }
    }

  def storedBytes(ctx: Ctx): Long = Main.bytesUnder(roundDir.resolve("out"))

  def finalChecks(ctx: Ctx, s: Samples): Unit = {
    val spark = ctx.spark
    val (finalState, finalWm, _) = oracle.last
    val wm = WatermarkStore.parseFlatJson(
      Files.readString(roundDir.resolve("watermarks.json")))
    s.check(s"watermark file equals the oracle's ($wm vs $finalWm)")(wm == finalWm)
    def checkTable(t: TableSpec, df: DataFrame): Unit =
      s.check(s"${t.name}: final table equals the oracle")(
        sameRows(rows(df, t), finalState(t.name).values.toSeq))
    lakeTables.foreach(t => checkTable(t, spark.read.parquet(lake.resolve(t.name).toString)))
    snapTables.foreach { t =>
      val dir = snapDir(t)
      checkTable(t, SnapshotTable.read(spark, dir))
      val full = SnapshotTable.read(spark, dir).count()
      s.check(s"${t.name}: countRows equals a full read")(
        SnapshotTable.countRows(spark, dir).contains(full))
      s.check(s"${t.name}: retained versions are the ones the run tracked")(
        SnapshotTable.versions(spark, dir).toSet == versions(t.name).keySet)
    }
  }

  override def extraEndToEnd(s: Samples, rounds: Int => Boolean): Map[String, Double] = {
    val reads = s.of("read", rounds).map(_.secs)
    Map("read_p50_s" -> Stats.median(reads),
      "read_tail_s" -> Stats.tail(reads).map(_.value).getOrElse(reads.max),
      "maint_s" -> Stats.median(s.of("maint", rounds).map(_.secs)))
  }

  /** Delta CSV bytes one round feeds to `group`. */
  private def deltaBytes(group: Seq[TableSpec]): Long = (1 to Days).map { d =>
    group.map(t => Files.size(dayDir(d).resolve(s"${t.name}.csv"))).sum }.sum

  private def files(sn: SnapshotTable.Snap): Int =
    sn.entries.map(e => math.max(1, e.fileStats.size)).sum

  def layers(ctx: Ctx, tr: Tracer, s: Samples, traced: Int => Boolean): Map[String, Double] = {
    val spark = ctx.spark
    val rounds = s.roundWalls.count(r => traced(r._1)).max(1)
    val days = s.of("op", traced).size.max(1)
    val written = tr.moduleSum(_.written)
    val heads = snapTables.map(t => t -> SnapshotTable.resolve(spark, snapDir(t)))
    val liveBytes = heads.map { case (t, h) => h.entries.map(e =>
      Main.bytesUnder(snap.resolve(t.name).resolve("data").resolve(e.path))).sum }.sum
    def med(name: String) = {
      val xs = s.of("read", traced).filter(_.name == name).map(_.secs * 1000)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val mergeMs = tr.finishedJobs
      .filter(j => j.module == "ops.snapshot" && j.span == "snapshot")
      .map(j => (j.end - j.start).toDouble).sum
    // what the deltas need, for comparison: an input descriptor, fixed by the seed
    val deltaParts = Stats.median((1 to Days).map { d =>
      lakeTables.map(t => IngestOracle.touched(t, data.dayData(d - 1)(t.name),
        data.watermark(d).format(IngestData.Fmt)).size).sum.toDouble })
    Map(
      "ingest.touched_partitions" ->
        (if (rewritten.isEmpty) 0.0 else Stats.median(rewritten.toSeq)),
      "ingest.delta_partitions" -> deltaParts,
      "ops.upsert.write_amp" ->
        written.getOrElse("ops.upsert", 0L).toDouble / (deltaBytes(lakeTables) * rounds),
      "ops.snapshot.merge_ms" -> mergeMs / days,
      "ops.snapshot.write_amp" ->
        written.getOrElse("ops.snapshot", 0L).toDouble / (deltaBytes(snapTables) * rounds),
      "ops.snapshot.versions" -> snapTables.map(t =>
        SnapshotTable.versions(spark, snapDir(t)).size).sum.toDouble,
      "ops.snapshot.head_files" -> heads.map(h => files(h._2)).sum.toDouble,
      "ops.snapshot.dead_bytes" -> (Main.bytesUnder(snap) - liveBytes).toDouble,
      "ops.snapshot.read_version_ms" -> med("read_version"),
      "ops.snapshot.read_range_ms" -> med("read_range"),
      "ops.snapshot.count_rows_ms" -> med("count_rows"),
      "ops.snapshot.changes_ms" -> med("changes"),
      "ops.snapshot.range_files_opened" ->
        (if (rangeRatios.isEmpty) 0.0 else Stats.median(rangeRatios.toSeq)))
  }
}

object IngestServe {
  /** The tables each sink lands; each sink gets a table with bool
    * columns. Three of the eight active tables, and the row counts
    * below, are sized to fit the run budget; they are not measured
    * traffic. */
  val LakeNames: Seq[String] = Seq("retail_orders", "retail_order_migrations")
  val SnapNames: Seq[String] = Seq("retail_subscription_readjustments")
  val SeedRows = 600
  val Days = 2
  val NewPerDay = 20
  val UpdPerDay = 25
  val Keep = 2
  val RangeWidth = 40

  /** Collected rows as strings, in bronze column order. */
  def rows(df: DataFrame, t: TableSpec): Seq[Vector[String]] = {
    val cols = t.columns ++ IngestOracle.PartCols
    df.select(cols.map(c => org.apache.spark.sql.functions.col(c)): _*)
      .collect().toSeq.map(r => cols.indices.map(i => String.valueOf(r.get(i))).toVector)
  }

  def sameRows(got: Seq[Vector[String]], want: Seq[Vector[String]]): Boolean =
    got.size == want.size && got.toSet == want.toSet

  /** The change feed between two table states, as (type, id). */
  def changes(before: Map[String, Vector[String]],
      after: Map[String, Vector[String]]): Set[(String, String)] =
    after.toSeq.flatMap { case (k, row) =>
      before.get(k) match {
        case None => Seq(("insert", k))
        case Some(old) if old != row => Seq(("update_preimage", k), ("update_postimage", k))
        case _ => Nil
      }
    }.toSet ++ before.keySet.diff(after.keySet).map(k => ("delete", k))
}
