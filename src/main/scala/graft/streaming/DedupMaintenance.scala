package graft.streaming

import graft.ext.{Dedup, LocalCheckpoint}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming dedup maintenance — [[graft.ext.Dedup.minHashLshDeltaPairs]]
  * composed with Structured Streaming micro-batches, the way a crawl
  * actually runs dedup: documents arrive in micro-batches, each batch
  * is shingled/signed ONCE, joined band-by-band against the
  * accumulated document index, and two things land atomically per
  * batch — the batch's own index fragment (so tomorrow joins against
  * an index read, never a re-shingle) and the new near-dup pairs the
  * batch introduced. Pair emission is structurally exactly-once
  * across batches: a pair (a, b) with a in batch i ≤ batch j ∋ b is
  * discoverable only at batch j (at batch i, b's index row does not
  * exist yet), and batch-internal pairs only at their own batch.
  *
  * Delivery is exactly-once on storage through the maintenance driver
  * ([[Commits.runBatches]]): the fragment and the pairs each
  * overwrite their own `batch=<batchId>` directory. A replayed batch re-reads an index that may already contain its
  * own fragment — harmless by construction: the delta's ids are
  * anti-joined out of the index read, so the pair plan sees the same
  * id-disjoint sides as the first run and the overwrite converges to
  * the run-once bytes (spec-pinned).
  *
  * Scale shape per batch: the batch is shingled and banded ONCE, in
  * one map-only projection ([[graft.ext.Dedup.minHashDocIndex]]), and
  * cut with a localCheckpoint whose `observe` row count decides
  * emptiness (an empty batch lands nothing; no separate probe job).
  * The corpus-sized side is ONE scan of the accumulated index; the
  * delta's band rows join it on (band, key) in one stage, carrying
  * both docs' shingles and band arrays, so the Jaccard verify runs on
  * the joined row and each pair is emitted once, at its lowest
  * colliding band ([[graft.ext.Dedup.minHashDeltaPairsFromIndex]]).
  * When the delta is the broadcast side the index rows are never
  * shuffled. Shuffle volume is therefore O(|delta| × bands + collided
  * buckets) per batch — full-corpus re-dedup is O(corpus × bands)
  * per day and loses the previously-emitted-pairs bookkeeping
  * besides. The pairs and the fragment land concurrently
  * ([[Commits.landConcurrently]]); a non-empty batch runs five jobs:
  * the checkpoint, the delta-id broadcast of the replay exclusion,
  * the band-row broadcast, the pairs write and the fragment write. */
object DedupMaintenance {

  private def indexSchema: StructType = StructType(Seq(
    StructField("_id", LongType),
    StructField("_sh", ArrayType(StringType)),
    StructField("_bands", ArrayType(StructType(Seq(
      StructField("_bandNo", IntegerType),
      StructField("_bandKey", StringType)))))))

  /** The accumulated doc index: the compacted base (if the store has
    * been folded — [[compactIndex]]) plus the committed fragments
    * newer than it; empty-with-schema before the first batch lands. */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    indexAt(spark, Commits.fragmentRoots(spark, indexDir))

  private def indexAt(spark: SparkSession, roots: Seq[String]): DataFrame =
    if (roots.nonEmpty)
      spark.read.schema(indexSchema).parquet(roots: _*)
        .select(col("_id"), col("_sh"), col("_bands"))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], indexSchema)

  /** LSM fold of the doc index ([[Commits.compactFlatStore]]): a
    * long-lived crawl's index otherwise accrues one fragment dir per
    * micro-batch forever — the accrual law measured on the media
    * store (BASELINE.md "Fragment accrual measured": +79% per-batch
    * wall at 150 fragments; flat with folding) applies to any fragment
    * store, and the text index's rows are the HEAVIEST in the family
    * (full shingle sets ride each row for the exact-Jaccard verify). */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    Commits.compactFlatStore(spark, indexDir, indexSchema)

  /** The idempotent unit of maintenance: index one micro-batch, emit
    * its delta pairs against everything landed so far, land its own
    * fragment. Replaying the same (batch, batchId) overwrites both
    * directories with identical bytes. Returns whether anything
    * landed: a batch with no shingled document (no rows, or only
    * texts shorter than `n` words) writes neither directory. */
  def processBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, indexDir: String, pairsDir: String, n: Int = 3,
      numPerms: Int = 16, rowsPerBand: Int = 4, threshold: Double = 0.5,
      seed: Long = 42L): Boolean = {
    val spark = batch.sparkSession
    // the fragment is consumed twice below (pairs join + landing)
    // and the pairs join reads it band-exploded twice — cut it
    // rather than re-shingle the batch per consumer; released
    // before return, so nothing outlives the micro-batch
    LocalCheckpoint.counted(Dedup.minHashDocIndex(batch, textCol, idCol,
        n, numPerms, rowsPerBand, seed)) { (deltaIdx, rows) =>
      if (rows == 0L) false
      else {
        // exclude this batch's own rows on replay: the fresh delta
        // index IS those rows, and the pair plan requires id-disjoint
        // sides. Its own earlier fragment is not even read — the
        // concurrent fragment landing overwrites it — and the
        // anti-join drops the rows a compaction folded into a run
        val baseIdx = indexAt(spark,
            Commits.fragmentRootsExcept(spark, indexDir, batchId))
          .join(deltaIdx.select(col("_id")), Seq("_id"), "left_anti")
        Commits.landConcurrently(spark)(
          "fragment landing" -> (() => deltaIdx.write.mode("overwrite")
            .parquet(s"$indexDir/batch=$batchId")),
          "pairs landing" -> (() => Dedup.minHashDeltaPairsFromIndex(
              baseIdx, deltaIdx, threshold)
            .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")))
        true
      }
    }
  }

  /** Start maintaining the dedup index + pairs log from a streaming
    * `source` carrying (`idCol`, `textCol`). */
  def start(source: DataFrame, textCol: String, idCol: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      n: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    Commits.runBatches(source, checkpointDir, trigger,
        Commits.Hook(compactEvery, compactIndex(_, indexDir))) {
      (batch, batchId) => processBatch(batch, batchId, textCol, idCol,
        indexDir, pairsDir, n, numPerms, rowsPerBand, threshold, seed)
    }
}
