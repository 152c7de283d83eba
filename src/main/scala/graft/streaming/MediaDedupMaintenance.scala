package graft.streaming

import graft.ext.{Dedup, Images, LocalCheckpoint, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, shiftleft}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming media-fingerprint maintenance — the media-modality twin
  * of [[DedupMaintenance]]: payloads arrive in micro-batches
  * (media_id, payload binary), each batch is DECODED ONCE through the
  * real codec chain ([[Images.dHashes]] — format-sniffed PNG/JPEG,
  * rational resize, 64-bit dHash), joined banded against the
  * accumulated fingerprint store
  * ([[Dedup.hammingDeltaPairsFromFingerprints]] — banding work sized
  * by the delta, stored² never enumerated), and two things land
  * atomically per batch: the batch's own 16-bytes-per-image
  * fingerprint fragment (tomorrow joins against a fingerprint READ,
  * never a re-decode — the payload is touched exactly once in its
  * lifetime) and the new near-dup pairs the batch introduced. Pair
  * emission is structurally exactly-once across batches: a pair
  * (a, b) with a in batch i ≤ batch j ∋ b is discoverable only at
  * batch j, batch-internal pairs only at their own batch.
  *
  * Delivery is exactly-once on storage through the maintenance driver
  * ([[Commits.runBatches]]): fragment and pairs each overwrite their
  * own `batch=<batchId>` dir, and a replayed batch converges to the
  * run-once bytes (spec-pinned).
  *
  * Scale shape per batch: decode is map-only over the delta
  * payloads; the corpus-sized side is ONE scan of the stored slim
  * fingerprints; shuffle volume is O(|delta| × bands + collided
  * buckets). A full-corpus re-fingerprint would re-DECODE the whole
  * archive daily — the one cost a 100-TB media store can never
  * repay. */
object MediaDedupMaintenance {

  /** The accumulated IMAGE fingerprint store as (media_id, dhash) —
    * the single-modality store shares the banded unified layout with
    * a constant `kind=image` partition (one store discipline, not
    * two), so the commit rule, the (band, bucket) pruning, and the
    * LSM compaction all apply identically. A monitor calling this
    * while the stream is mid-write for batch j sees the store as of
    * batch j−1 ([[Commits.committedBatchDirs]]); empty-with-schema
    * before the first batch. */
  def readFingerprints(spark: SparkSession, storeDir: String): DataFrame =
    readUnifiedFingerprints(spark, storeDir)
      .select(col("media_id"), col("dhash"))

  /** The delta-vs-store pair join of one micro-batch — exposed so the
    * physical plan can be audited directly (the streaming wrapper
    * hides the per-batch plan from the catalog path): PRE-BANDED
    * Hamming delta join, then — mirror-aware only — the composite-id
    * collapse ([[Images.collapseOrientationPairs]]). Takes plain
    * (media_id, dhash) frames and bands both sides here; `base` and
    * `deltaFp` must be id-disjoint. */
  private[graft] def batchPairs(base: DataFrame, deltaFp: DataFrame,
      maxDist: Int, chunks: Int, mirrorAware: Boolean): DataFrame = {
    def tag(df: DataFrame) = df.withColumn("kind", lit("image"))
    val deltaBanded =
      bandDelta(tag(deltaFp), maxDist, chunks, UnifiedStoreBuckets)
    val raw = unifiedBatchPairs(
      bandDelta(tag(base), maxDist, chunks, UnifiedStoreBuckets),
      deltaBanded, deltaFp.select(col("media_id")),
      touchedCells(deltaBanded), maxDist, chunks)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    if (mirrorAware) Images.collapseOrientationPairs(raw) else raw
  }

  /** The idempotent unit: decode + fingerprint one micro-batch of
    * (media_id, payload), emit its delta pairs against everything
    * landed so far, land its own fragment.
    *
    * `mirrorAware` stores BOTH orientations' fingerprints per image
    * (composite ids media_id·2 + orient —
    * [[Images.dHashesBothOrientations]], one decode, 32 bytes/image
    * of state) and collapses emitted pairs to media level with the
    * minimum Hamming across orientation combos — so the STREAMED
    * store computes the SAME duplicate relation as the batch
    * mirror-aware path ([[Images.dHashNearDupPairsMirrorAware]]): a
    * mirrored repost arriving in a later micro-batch surfaces at
    * Hamming 0, which the plain-fingerprint store provably misses
    * (spec-pinned both ways). All four combos of a cross-batch pair
    * are visible at the later endpoint's batch (both its orientation
    * rows ride the delta), so min-collapse per batch equals the
    * full-corpus min. A store written in one mode must be read in
    * that mode — the modes' id spaces differ. */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      pairsDir: String, maxDist: Int = 2, chunks: Int = 4,
      mirrorAware: Boolean = false): Boolean = {
    val spark = batch.sparkSession
    // decode ONCE: the fingerprint frame feeds every downstream
    // consumer from one checkpoint; released before return
    val payloads = batch.select(col("media_id"), col("payload"))
    LocalCheckpoint.counted((if (mirrorAware)
        Images.dHashesBothOrientations(spark, payloads)
      else Images.dHashes(spark, payloads))
      .withColumn("kind", lit("image"))) { (deltaFp, rows) =>
      // emptiness from the checkpoint job's own row count: an empty
      // batch costs one empty decode job and no other, a non-empty
      // one no emptiness job at all
      if (rows == 0L) false
      else {
        landBatchFps(deltaFp, batchId, storeDir, pairsDir, maxDist,
          chunks, finishPairs = raw => {
            val p = raw.select(col("doc_a"), col("doc_b"), col("hamming"))
            if (mirrorAware) Images.collapseOrientationPairs(p) else p
          })
        true
      }
    }
  }

  /** Start maintaining the fingerprint store + pairs log from a
    * streaming `source` carrying (media_id, payload). `compactEvery`
    * as in [[startUnified]]. */
  def start(source: DataFrame, storeDir: String, pairsDir: String,
      checkpointDir: String, maxDist: Int = 2, chunks: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      mirrorAware: Boolean = false, compactEvery: Int = 0): StreamingQuery =
    Commits.runBatches(source, checkpointDir, trigger,
        Commits.Hook(compactEvery, compactUnifiedStore(_, storeDir))) {
      (batch, batchId) => processBatch(batch, batchId, storeDir, pairsDir,
        maxDist, chunks, mirrorAware)
    }

  /** The shared per-batch landing core over PRECOMPUTED (media_id,
    * kind, dhash) fingerprints (checkpointed by the caller): banded
    * pruned pair join against the accumulated store, pairs through
    * `finishPairs`, the delta's banded fragment landed — one store
    * discipline for the single- and mixed-modality maintenances. The
    * two landings overlap through [[Commits.landConcurrently]]. */
  private def landBatchFps(deltaFp: DataFrame, batchId: Long,
      storeDir: String, pairsDir: String, maxDist: Int, chunks: Int,
      finishPairs: DataFrame => DataFrame): Unit = {
    val spark = deltaFp.sparkSession
    val deltaBanded =
      bandDelta(deltaFp, maxDist, chunks, UnifiedStoreBuckets)
    Commits.landConcurrently(spark)(
      // one file per (kind, band) dir, rows sorted by bucket so the
      // parquet footer's min-max statistics carry the pruning the
      // per-batch join pushes down; the sort is prefix-compatible
      // with the dynamic-partition writer's required ordering.
      // EXPLICIT partition count: a bare repartition(cols) is
      // AQE-coalescible, and a small fragment coalesces into ONE task
      // that then creates every (kind, band) dir's file serially —
      // pinning the session's shuffle partition count keeps the
      // ≤ kinds × bands writer tasks parallel (file count per dir is
      // unchanged: all of a combo's rows still hash to one task)
      "fragment landing" -> (() => deltaBanded
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("kind"), col("band"))
        .sortWithinPartitions(col("kind"), col("band"), col("bucket"))
        .write.mode("overwrite")
        .partitionBy("kind", "band")
        .parquet(s"$storeDir/batch=$batchId")),
      "pairs landing" -> { () =>
        // a replay's own earlier fragment is not read: the fragment
        // landing overwrites it. The touched-cell collect exists to
        // PRUNE the store scan — on an empty store (every stream's
        // first batch) there is nothing to prune and the job is pure
        // overhead; the empty Map keeps the base side filtered to
        // nothing, which is what it is anyway
        val roots = Commits.fragmentRootsExcept(spark, storeDir, batchId)
        val touched =
          if (roots.isEmpty) Map.empty[String, Seq[(Int, Int)]]
          else touchedCells(deltaBanded)
        finishPairs(unifiedBatchPairs(
            bandedFingerprintsAt(spark, storeDir, roots), deltaBanded,
            deltaFp.select(col("media_id")), touched, maxDist, chunks))
          .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
      })
  }

  // ------------------------------------------- unified mixed modality

  /** Bucket count of the unified store's banded layout (per kind per
    * band). `bucket = band_key mod 256` is a DATA column the
    * fragment files are SORTED on — not a directory level: a
    * dir-per-bucket layout was measured to be its own small-files
    * law (576 one-row dirs per fragment at harness scale; per-batch
    * listing + commit costs took q248 from 6 s to 66 s). As a sorted
    * column the same pruning rides parquet statistics instead: the
    * delta's bounded (band, bucket) cells push into the scan as a
    * parquet filter, and file/row-group min-max on the sorted bucket
    * skips everything a trickle delta doesn't touch — finer (256
    * cells/band) than a directory scheme could afford, at zero
    * listing cost. */
  val UnifiedStoreBuckets = 256

  /** The unified store's on-disk fragment schema: PRE-BANDED rows
    * ([[Dedup.bandedStoreRows]] — one row per fingerprint per
    * pigeonhole band combo, `band_key` the packed join key), with
    * (kind, band) as DIRECTORY partition columns and `bucket` the
    * sorted data column above. Banding is paid once at land time so
    * the per-batch join neither re-bands nor re-shuffles the
    * accumulated store — and never rematerializes it (the old layout
    * localCheckpointed an O(store) frame every micro-batch). */
  private def bandedUnifiedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("dhash", LongType),
    StructField("band_key", LongType),
    StructField("bucket", IntegerType),
    StructField("batch", LongType),
    StructField("kind", StringType),
    StructField("band", IntegerType)))

  /** The accumulated unified store in its banded on-disk form: the
    * live RUNS (fragments folded up to the manifest's batch id —
    * [[compactUnifiedStore]]; possibly several size-tiered runs)
    * unioned with the committed TAIL fragments newer than the folded
    * mark. A replayed batch is batch-id-stable (the checkpoint
    * re-runs the same id), so a folded id's stray re-written
    * fragment is excluded by the `> upTo` cut and the view stays
    * exactly-once. Filters on (kind, band, bucket) prune
    * partitions/files on EVERY side of the union. */
  def readBandedUnifiedFingerprints(spark: SparkSession,
      storeDir: String): DataFrame =
    bandedFingerprintsAt(spark, storeDir,
      Commits.fragmentRoots(spark, storeDir))

  private def bandedFingerprintsAt(spark: SparkSession, storeDir: String,
      roots: Seq[String]): DataFrame = {
    val (tail, runs) = roots.partition(
      _.split('/').last.startsWith("batch="))
    val parts =
      runs.map { r =>
        // a run has (kind, band) partition dirs but no batch level;
        // the explicit schema's `batch` column fills null
        spark.read.schema(bandedUnifiedSchema)
          .option("basePath", r)
          .parquet(r)
      } ++
      (if (tail.isEmpty) Nil
       else Seq(
         // basePath makes batch=<n> a discovered partition column
         // (the committed-dirs list still gates WHICH fragments are
         // read); without it multi-fragment reads trip partition
         // discovery's conflicting-structures check
         spark.read.schema(bandedUnifiedSchema)
           .option("basePath", storeDir)
           .parquet(tail: _*)))
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        bandedUnifiedSchema)
    else parts
      .map(_.select(bandedUnifiedSchema.fieldNames.map(col): _*))
      .reduce(_.unionByName(_))
  }

  /** FOLD the unified store — SIZE-TIERED ([[Commits.tieredCompact]]
    * owns the protocol: new run from the tail, smallest runs absorbed
    * only while within the bytes being written anyway, versioned
    * manifest, grace cleanup): per-fold write cost tracks the FOLDED
    * bytes, not store size — the single-level fold this replaces
    * rewrote the ENTIRE store every `compactEvery` batches, O(store)
    * write amplification per fold. The banded layout ((kind, band)
    * dirs, bucket-sorted files) is preserved run by run, so the
    * per-batch (band, bucket) pruning holds across however many
    * runs are live. No-op (cleanup only) when nothing is newer than
    * the folded mark. */
  def compactUnifiedStore(spark: SparkSession, storeDir: String,
      maxRuns: Int = 4): Unit =
    Commits.tieredCompact(spark, storeDir, (inputs, out) =>
      inputs.map { in =>
        // basePath = the input itself: batch fragments and runs both
        // carry kind=/band= dirs directly beneath; the fold drops the
        // batch column (schema fills null, and it is not rewritten)
        spark.read.schema(bandedUnifiedSchema)
          .option("basePath", in).parquet(in)
          .select(col("media_id"), col("dhash"), col("band_key"),
            col("bucket"), col("kind"), col("band"))
      }.reduce(_.unionByName(_))
        // explicit count for the same serial-writer reason as the
        // per-batch fragment landing above
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("kind"), col("band"))
        .sortWithinPartitions(col("kind"), col("band"), col("bucket"))
        .write.mode("overwrite")
        .partitionBy("kind", "band")
        .parquet(out),
      maxRuns)

  /** The accumulated MIXED-modality fingerprint store as (media_id,
    * kind, 64-bit fingerprint) — each media's band=0 row carries the
    * full fingerprint, so one partition-pruned slice (1/6 of the
    * banded dirs) reconstructs the logical store. */
  def readUnifiedFingerprints(spark: SparkSession,
      storeDir: String): DataFrame =
    readBandedUnifiedFingerprints(spark, storeDir)
      .filter(col("band") === 0)
      .select(col("media_id"), col("kind"), col("dhash"))

  /** Band a batch's unified fingerprints into store-fragment rows —
    * ONE map-only explode over the (checkpointed) delta, kind riding
    * through as a carry column: no per-kind split, no shuffle. */
  private[graft] def bandDelta(deltaFp: DataFrame, maxDist: Int,
      chunks: Int, nBuckets: Int): DataFrame =
    Dedup.bandedStoreRows(deltaFp, "media_id", "dhash", maxDist,
      chunks, nBits = 64, nBuckets, carryCols = Seq("kind"))

  /** The delta's touched (band, bucket) cells per kind — BOUNDED by
    * construction: ≤ kinds × C(chunks, chunks−maxDist) ×
    * [[UnifiedStoreBuckets]] rows (3 × 6 × 32 = 576 at the
    * defaults), never corpus-sized, so the collect is a legal
    * driver-side step. These become the static partition filters of
    * the per-batch store scan. */
  private[graft] def touchedCells(
      deltaBanded: DataFrame): Map[String, Seq[(Int, Int)]] =
    deltaBanded.select(col("kind"), col("band"), col("bucket"))
      .distinct().collect()
      .map(r => (r.getString(0), (r.getInt(1), r.getInt(2))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }

  /** The per-batch pair join of the unified store: ONE pre-banded
    * delta join with `kind` riding in the join key — an image dHash
    * and an audio energy fingerprint agreeing on 62 bits is a
    * collision, not a duplicate, and unlike kinds can never meet
    * because their keys differ. The base read is pruned to the
    * delta's own (kind, band, bucket) cells — `touched`, a bounded
    * set (≤ kinds × bands × [[UnifiedStoreBuckets]] by construction)
    * collected from the delta, becomes static filters: the separable
    * kind/band conjuncts prune DIRECTORY partitions
    * (PartitionFilters), the OR-of-AND carries the per-(kind, band)
    * bucket sets into the parquet reader (PushedFilters) where the
    * sorted bucket column's min-max statistics skip untouched files
    * and row groups — so per-batch scan cost tracks the DELTA's
    * bucket coverage, not store size. `storeBanded` rows whose ids
    * ride in `deltaIds` are anti-joined away (replay excludes its
    * own fragment). */
  private[graft] def unifiedBatchPairs(storeBanded: DataFrame,
      deltaBanded: DataFrame, deltaIds: DataFrame,
      touched: Map[String, Seq[(Int, Int)]], maxDist: Int,
      chunks: Int): DataFrame = {
    val cellFilter =
      if (touched.isEmpty) lit(false)
      else {
        val kinds = touched.keys.toSeq
        val bands = touched.values.flatten.map(_._1).toSeq.distinct
        col("kind").isin(kinds: _*) &&
        col("band").isin(bands.map(Integer.valueOf): _*) &&
        touched.flatMap { case (k, cells) =>
          cells.groupBy(_._1).map { case (b, bs) =>
            col("kind") === k && col("band") === b &&
              col("bucket").isin(bs.map(c => Integer.valueOf(c._2)): _*)
          }
        }.reduce(_ || _)
      }
    val base = storeBanded.filter(cellFilter)
      .join(deltaIds, Seq("media_id"), "left_anti")
    Dedup.hammingDeltaPairsPreBanded(base, deltaBanded, "media_id",
      "dhash", maxDist, extraKeys = Seq("kind"))
  }

  /** The idempotent unit for a MIXED-modality archive: ONE decode
    * pass over the batch, each payload's kind sniffed from its magic
    * bytes and routed to its real codec
    * ([[Multimodal.unifiedFingerprints]] — image dHash, audio
    * energy-gradient, video first-frame dHash through the demux),
    * then per-kind PRE-BANDED delta joins against the accumulated
    * store. This is the maintenance shape a scraped-media archive
    * needs: the stream carries image+audio+video fragments in ONE
    * banded store ((kind, band) partition dirs, bucket-sorted files),
    * content-type metadata is never trusted, each payload is decoded
    * exactly once in its lifetime — and per-batch cost tracks the
    * delta: the store is never re-banded, re-shuffled, or
    * rematerialized, and its scan is pruned (dirs by kind/band,
    * files and row groups by the pushed bucket sets) to the delta's
    * (band, bucket) cells. */
  def processBatchUnified(batch: DataFrame, batchId: Long,
      storeDir: String, pairsDir: String, maxDist: Int = 2,
      chunks: Int = 4): Boolean = {
    val spark = batch.sparkSession
    // decode ONCE: the slim fingerprint frame is pinned; the
    // map-only banding explode downstream is re-derived from this
    // cache for pennies by each consumer (touched-cell collect, both
    // join sides, fragment write). Pinning the BANDED rows behind
    // the fragment's (kind, band) clustering instead was measured
    // 2-3× slower per batch (the shuffle-through-checkpoint shape
    // serializes the batch's job pipeline) — keep the checkpoint at
    // the slim pre-explode frame.
    LocalCheckpoint.counted(Multimodal.unifiedFingerprints(spark,
        batch.select(col("media_id"), col("payload")))
      .select(col("media_id"), col("kind"),
        col("fp_lo").bitwiseOR(shiftleft(col("fp_hi"), 32)).as("dhash"))) {
      (deltaFp, rows) =>
        // emptiness from the checkpoint job's row count — see processBatch
        if (rows == 0L) false
        else {
          landBatchFps(deltaFp, batchId, storeDir, pairsDir, maxDist,
            chunks, finishPairs = identity)
          true
        }
    }
  }

  /** Start maintaining a unified mixed-modality fingerprint store +
    * per-kind pairs log from a streaming `source` of (media_id,
    * payload) whose payloads mix PNG/JPEG/WAV/AVI row by row.
    * `compactEvery` > 0 folds the store every that-many batches
    * ([[compactUnifiedStore]]) so fragment count — and with it the
    * per-batch listing cost — stays bounded on a long-lived stream;
    * the pair surface is provably unchanged (q251 runs with
    * compaction ON against the same oracle as the uncompacted
    * shapes). */
  def startUnified(source: DataFrame, storeDir: String,
      pairsDir: String, checkpointDir: String, maxDist: Int = 2,
      chunks: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    Commits.runBatches(source, checkpointDir, trigger,
        Commits.Hook(compactEvery, compactUnifiedStore(_, storeDir))) {
      (batch, batchId) => processBatchUnified(batch, batchId, storeDir,
        pairsDir, maxDist, chunks)
    }
}
