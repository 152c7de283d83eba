package graft.pipeline

import graft.ext.LocalCheckpoint
import graft.ops.{Normalize, PartitionKeys, SnapshotTable, Upsert}
import graft.schema.{TableSpec, Tables}
import graft.sources.CsvSource
import graft.state.WatermarkStore
import graft.streaming.Commits
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flow dispatch + per-table orchestration (reference: gluejob.py:141-171,
  * 306-327, 602-627; README.md:6-17).
  *
  * Run modes:
  *  - OnDemand  -> initial load from CSV (no watermark advance,
  *                 gluejob.py:163-171)
  *  - Scheduled -> incremental from source frames filtered by watermark
  *  - anything else -> no-op default_behavior (gluejob.py:141-142)
  *
  * JobMode selects `allTables` or a single table (gluejob.py:306-327);
  * unknown modes no-op. Watermarks commit once, after every selected
  * table succeeds (gluejob.py:621-623) — at-least-once, idempotent via
  * the upsert dedup.
  *
  * Each table's delta is extracted ONCE, like the reference's in-memory
  * frame (gluejob.py:264-280): the filtered, normalized delta is cut
  * lazily ([[LocalCheckpoint.lazily]], which opens no action of its
  * own) and the first job over the cut counts its rows
  * per storage partition. No counts means an empty delta; otherwise the
  * sink reads the cut and takes the counts, so every decision and the
  * write see the same rows (in production each evaluation would be a
  * full JDBC read). [[incrementalRun]] lands its tables concurrently.
  */
object Ingest {

  sealed trait Flow
  case object OnDemand extends Flow
  case object Scheduled extends Flow
  case object NoOp extends Flow

  /** Sink strategy for the per-table upsert. [[OverwriteSink]] is the
    * reference's shape (K1 dynamic partition overwrite — the merged
    * partition replaces the old in place); [[SnapshotSink]] lands the
    * SAME merged content through [[graft.ops.SnapshotTable.merge]],
    * so the daily watermark pipeline earns time travel, snapshot-
    * isolated readers, and replayable history end to end — content
    * per run is IDENTICAL by construction (both sinks run
    * [[Upsert.merge]]'s new-wins dedup over delta + touched
    * partitions; parity is spec-pinned). One semantic difference,
    * deliberate: a null partition value (a row whose date column
    * failed to parse) writes a `__HIVE_DEFAULT_PARTITION__` dir under
    * the overwrite sink but refuses LOUDLY under the snapshot sink —
    * a versioned table must never commit an entry whose path diverges
    * from its manifest key. */
  sealed trait Sink
  case object OverwriteSink extends Sink
  case object SnapshotSink extends Sink

  def flowOf(trigger: String): Flow = trigger match {
    case "OnDemand" => OnDemand
    case "Scheduled" => Scheduled
    case _ => NoOp
  }

  def selectTables(jobMode: String): Seq[TableSpec] = jobMode match {
    case "allTables" => Tables.active
    case name if Tables.registry.contains(name) &&
      Tables.registry(name).enabled => Seq(Tables.registry(name))
    case _ => Nil
  }

  /** One table, one batch: watermark filter -> bronze normalize ->
    * partition keys -> idempotent partitioned upsert. `source` is the
    * raw frame from CsvSource/JdbcSource; empty batches short-circuit
    * before the sink (gluejob.py:175-179). */
  def ingestTable(spark: SparkSession, spec: TableSpec, source: DataFrame,
      watermark: String, outRoot: String,
      sink: Sink = OverwriteSink): Boolean =
    land(spark, spec, source.filter(
      coalesce(col(spec.updatedCol).cast("string"), lit("")) >= watermark),
      outRoot, sink, batchId = None)

  /** Extract `raw` once and land it through `sink`: the cut, one
    * counting job, the sink over the cut, the cut released. False (and
    * no sink call) when the delta is empty. */
  private[graft] def land(spark: SparkSession, spec: TableSpec,
      raw: DataFrame, outRoot: String, sink: Sink,
      batchId: Option[Long]): Boolean = {
    val partCols = Seq("company", "year", "month")
    LocalCheckpoint.lazily(PartitionKeys.withCompanyYearMonth(
        Normalize.toBronze(raw, spec), spec.dateCol)) { delta =>
      val touched = PartitionKeys.touchedCounts(delta, partCols)
      if (touched.nonEmpty) sink match {
        case OverwriteSink =>
          Upsert.upsertPartitioned(spark, delta, s"$outRoot/${spec.name}",
            key = spec.idCol, tieBreak = spec.updatedCol,
            partCols = partCols, touchedCounts = Some(touched))
        case SnapshotSink =>
          SnapshotTable.merge(spark, s"$outRoot/${spec.name}", delta,
            key = spec.idCol, tieBreak = spec.updatedCol,
            partCols = partCols, batchId = batchId,
            touchedCounts = Some(touched))
      }
      touched.nonEmpty
    }
  }

  /** Initial CSV load: no watermark filter, no watermark advance
    * (gluejob.py:163-171); missing files skip the table. The sink
    * seam matches [[ingestTable]]'s, so an OnDemand-seeded snapshot
    * table carries history from VERSION 1 — the first incremental run
    * lands as version 2 and time travel reaches the seed (parity with
    * the overwrite sink is spec-pinned). */
  def initialLoad(spark: SparkSession, csvRoot: String, outRoot: String,
      tables: Seq[TableSpec] = Tables.active,
      sink: Sink = OverwriteSink): Seq[String] =
    tables.filter { spec =>
      // reserved SEED batch id on the snapshot sink: a replayed initial
      // load finds batch 0 at the head and no-ops like every other
      // commit here, so "the seed is version 1" stays true across
      // reruns (the content was always identical via new-wins dedup;
      // the id makes the HISTORY identical too)
      land(spark, spec,
        CsvSource.read(spark, spec, s"$csvRoot/${spec.name}.csv"),
        outRoot, sink, batchId = Some(0L))
    }.map(_.name)

  /** Incremental run over pre-built source frames (the JDBC read in
    * prod; any frame in tests). `probeTime` is the source-DB time
    * captured at batch start (S5) — becomes the next watermark for every
    * table that ingested.
    *
    * The tables land concurrently through [[Commits.landConcurrently]]
    * (the reference walks them sequentially, gluejob.py:306-327, leaving
    * the cluster idle through every small table's latency). Watermarks
    * are read on the caller thread before any table starts, and
    * advanced and committed only after every table returned: any
    * table's failure cancels the others' jobs, waits for them, and
    * rethrows with no watermark moved (at-least-once, recovered by the
    * idempotent upsert). */
  def incrementalRun(spark: SparkSession, store: WatermarkStore,
      sources: Map[String, DataFrame], probeTime: String, outRoot: String,
      tables: Seq[TableSpec] = Tables.active,
      sink: Sink = OverwriteSink): Seq[String] = {
    val selected = tables.filter(t => sources.contains(t.name))
    val wms = selected.map(s => s.name -> store.get(s.name)).toMap
    Commits.landConcurrently(spark)(selected.map(spec => spec.name -> {
      () =>
        ingestTable(spark, spec, sources(spec.name), wms(spec.name),
          outRoot, sink)
        ()
    }): _*)
    selected.foreach(spec => store.advance(spec.name, probeTime))
    store.commit()
    selected.map(_.name)
  }
}
