package graft.streaming

import graft.ops.SemiJoins
import graft.pipeline.Ingest
import graft.schema.TableSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Streaming face of the reference's incremental pipeline: the same
  * bronze semantics (watermarked delta → FK semi-join → all-string
  * normalize → idempotent partitioned upsert), driven by Structured
  * Streaming instead of a cron'd batch (SURVEY §2.8: the reference IS a
  * micro-batch incremental stream — daily trigger, per-table watermark,
  * at-least-once + dedup).
  *
  *  - source: a landing DIRECTORY of delta CSV files; each arriving
  *    file is a micro-batch (the streaming version of gluejob.py's
  *    per-run extract)
  *  - stream-static semi-join against the parent table applies the
  *    delta-filter chain (gluejob.py:530-600) per micro-batch
  *  - sink: the maintenance driver ([[Commits.runBatches]]) → the
  *    batch path's landing ([[Ingest.land]]:
  *    the micro-batch is extracted once, counted per storage partition,
  *    and upserted through Upsert.upsertPartitioned) — MERGE semantics
  *    per micro-batch with exactly the batch path's dedup, so replays
  *    are idempotent (checkpoint + at-least-once source ⇒ effectively
  *    exactly-once table state)
  *
  * At scale this runs with Trigger.AvailableNow for catch-up or a
  * processing-time trigger for continuous tailing; state is only the
  * file-source log (no aggregation state), so executors scale out
  * freely.
  */
object IncrementalIngest {

  /** All-string CSV schema for the spec's declared columns. */
  private def csvSchema(spec: TableSpec): StructType =
    StructType(spec.columns.map(StructField(_, StringType, nullable = true)))

  /** Start the streaming ingest of `spec` deltas landing in `landingDir`
    * into the bronze table at `outRoot/<table>`, semi-join-filtered by
    * `parents` (static frame, pre-filtered). Returns the query. */
  def start(spark: SparkSession, spec: TableSpec, landingDir: String,
      outRoot: String, checkpointDir: String,
      parents: Option[(String, DataFrame, String)] = None,
      trigger: Trigger = Trigger.AvailableNow()) = {
    val raw = spark.readStream
      .schema(csvSchema(spec))
      .option("sep", spec.csvSep)
      .option("header", "true")
      .csv(landingDir)
    val filtered = parents match {
      case Some((fk, parent, idCol)) =>
        SemiJoins.semiJoinChain(raw, Seq((fk, parent, idCol)))
      case None => raw
    }
    Commits.runBatches(filtered, checkpointDir, trigger) { (batch, _) =>
      Ingest.land(spark, spec, batch, outRoot, Ingest.OverwriteSink,
        batchId = None)
    }
  }
}
