package graft.streaming

import graft.ext.{Dedup, LocalCheckpoint}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming benchmark-decontamination monitor — the live-ingest twin
  * of the batch gram-overlap audit ([[graft.ext.Dedup
  * .gramOverlapScores]], q141) with the roles swapped: the BENCHMARK
  * is the static side (its distinct n-gram key set is derived once at
  * start and checkpointed), and every arriving micro-batch of
  * training-corpus documents is probed against it, writing the
  * per-document contamination report (id, n_grams, n_hit, overlap)
  * before the shard is admitted downstream — the gate the GPT-3/PaLM
  * decontamination appendices run post-hoc, moved to ingest time.
  *
  * Scale shape: eval sets are small by construction (10³–10⁵ docs),
  * so the gram set is a bounded static table joined per batch —
  * map-only aside from the per-doc count; the corpus never joins
  * itself. Delivery is EXACTLY-ONCE through the maintenance driver
  * ([[Commits.runBatches]]). Stateless per batch, so N micro-batches over a split of the shard
  * produce exactly the batch audit's rows (spec-pinned). */
object DecontamStream {

  /** The benchmark's distinct gram set, derived once and materialized
    * ([[LocalCheckpoint.cut]]) so per-batch probes replay the
    * checkpoint instead of re-shingling the benchmark. */
  def gramIndex(benchmark: DataFrame, textCol: String,
      n: Int = 3): DataFrame =
    LocalCheckpoint.cut(Dedup.gramKeySet(benchmark, textCol, n))

  /** The idempotent unit: score one micro-batch against the gram set
    * and overwrite its own `batch=<batchId>` directory; whether it
    * held a report row ([[Commits.landFragment]]). */
  def writeFragment(batch: DataFrame, batchId: Long, grams: DataFrame,
      textCol: String, idCol: String, n: Int, outDir: String): Boolean =
    Commits.landFragment(
      Dedup.gramOverlapAgainst(grams, batch, textCol, idCol, n),
      s"$outDir/batch=$batchId")

  /** Start monitoring the streaming `source` (must carry `textCol`
    * and `idCol`) against the static `benchmark`. */
  def start(source: DataFrame, benchmark: DataFrame, textCol: String,
      idCol: String, outDir: String, checkpointDir: String,
      n: Int = 3,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val grams = gramIndex(benchmark, textCol, n)
    Commits.runBatches(source, checkpointDir, trigger) { (batch, batchId) =>
      writeFragment(batch, batchId, grams, textCol, idCol, n, outDir)
    }
  }
}
