package graft.streaming

import graft.ext.Curation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming curation — the live-crawl twin of the batch
  * [[graft.ext.Curation.gateAndRedact]] kernel: every micro-batch of
  * arriving documents runs the Gopher quality gate + PII redaction
  * (map-only, stateless — parity with the batch run is pinned by
  * spec) and lands in a batch-partitioned parquet area downstream
  * packing/dedup stages read directly.
  *
  * Delivery is EXACTLY-ONCE on the curated contents through the
  * maintenance driver ([[Commits.runBatches]]); a blind append sink
  * would duplicate a retried batch's survivors.
  *
  * Because the kernel is stateless map-only, N micro-batches over a
  * split of the corpus produce exactly the batch run's rows — the
  * property that lets a backfill (one giant batch) and the live feed
  * (thousands of micro-batches) share one curation definition and
  * one output contract. */
object CurationStream {

  /** The idempotent unit: curate one micro-batch and overwrite its
    * own `batch=<batchId>` directory. Running this twice with the
    * same (batch, batchId) — a micro-batch replay — leaves the
    * curated area byte-identical to running it once (spec-pinned).
    * Whether a document survived ([[Commits.landFragment]]). */
  def writeFragment(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, outDir: String): Boolean =
    Commits.landFragment(Curation.gateAndRedact(batch, textCol, idCol),
      s"$outDir/batch=$batchId")

  /** Start curating the streaming `source` (must carry `textCol` and
    * `idCol`) into `outDir`. */
  def start(source: DataFrame, textCol: String, idCol: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Commits.runBatches(source, checkpointDir, trigger) { (batch, batchId) =>
      writeFragment(batch, batchId, textCol, idCol, outDir)
    }
}
