package graft.streaming

import graft.ext.{LocalCheckpoint, SuffixDedup}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming ExactSubstr maintenance — the suffix-dedup twin of
  * [[DedupMaintenance]]: documents arrive in micro-batches; each
  * batch finds its duplicated `spanLen`-token spans against
  * everything landed so far via the STORED per-round class indexes
  * ([[graft.ext.SuffixDedup.deltaAgainstIndex]]), lands its own
  * index fragments (exactly the keys it introduced — landed keys are
  * never re-landed, so representatives stay stable), and lands its
  * to-remove spans. Keeper order is stream-time
  * first-occurrence-wins: the landed copy is kept, whatever its id —
  * the only order a fragment log can honor. Span emission is
  * structurally exactly-once: a doc's spans are computable only at
  * its own batch (its positions exist in no other batch).
  *
  * Delivery is exactly-once on storage through the maintenance driver
  * ([[Commits.runBatches]]): every fragment and the spans overwrite
  * their own `batch=<batchId>` directory. A replayed batch
  * re-reads indexes that may already contain its OWN fragments; those
  * rows are excluded DATA-LEVEL — a representative is a member, so a
  * row belongs to this batch iff its representative's doc id is one
  * of the batch's ids (ids are unique across the stream by contract),
  * and an anti-join against the batch's id sliver restores the
  * pre-batch read set exactly. Without that exclusion a replay would
  * see its own keys as landed and remove its own keepers
  * (spec-pinned convergence).
  *
  * Scale shape per batch: delta-local windows plus one keyed join
  * per round against an index READ — the corpus is never re-windowed
  * (the full-recompute alternative re-ranks every landed position
  * every day). */
object SuffixMaintenance {

  private val repType: StructType = StructType(Seq(
    StructField("d", LongType), StructField("p", IntegerType)))

  private def r0Schema = StructType(Seq(
    StructField("_tok", StringType), StructField("_br", repType)))
  private def rkSchema = StructType(Seq(
    StructField("_r", repType), StructField("_r2", repType),
    StructField("_brn", repType)))
  private def finSchema = StructType(Seq(
    StructField("_r", repType), StructField("_k2", repType),
    StructField("_bkeep", repType)))

  private def readFrags(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    // roots = live compacted runs + committed batch fragments newer
    // than the folded mark — the one readable-roots contract every
    // foldable store shares ([[Commits.fragmentRoots]])
    val roots = Commits.fragmentRoots(spark, dir)
    if (roots.nonEmpty)
      spark.read.schema(schema).parquet(roots: _*)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** The number of doubling rounds for `spanLen` — indexes live at
    * `r0..r<rounds>` plus `fin`. */
  private def rounds(spanLen: Int): Int =
    63 - java.lang.Long.numberOfLeadingZeros(spanLen.toLong)

  /** SIZE-TIERED LSM fold of ALL the suffix stores — the per-round
    * class indexes (`r0..rh`, `fin`) and the spans log each accrue
    * one fragment dir per micro-batch forever without it (the
    * measured accrual law: +79% per-batch wall at 150 fragments,
    * BASELINE.md "Fragment accrual measured"), and every reader here
    * consumes everything, so all of them are foldable ([[Commits.compactFlatStore]] —
    * concatenating fold, contents provably unchanged). Call it from
    * the stream (`compactEvery` in [[start]]) or as out-of-band
    * maintenance. */
  def compactStores(spark: SparkSession, indexDir: String,
      spansDir: String, spanLen: Int = 12, maxRuns: Int = 4): Unit = {
    Commits.compactFlatStore(spark, s"$indexDir/r0", r0Schema,
      maxRuns = maxRuns)
    (1 to rounds(spanLen)).foreach(k =>
      Commits.compactFlatStore(spark, s"$indexDir/r$k", rkSchema,
        maxRuns = maxRuns))
    Commits.compactFlatStore(spark, s"$indexDir/fin", finSchema,
      maxRuns = maxRuns)
    Commits.compactFlatStore(spark, spansDir, spansSchema,
      maxRuns = maxRuns)
  }

  /** Exclude rows this batch itself landed (replay): a row is ours
    * iff its representative's doc id is in the batch. */
  private def excludeOwn(frags: DataFrame, repCol: String,
      batchIds: DataFrame): DataFrame =
    frags.join(batchIds,
      frags(repCol).getField("d") === batchIds("_bid"), "left_anti")

  /** The idempotent unit of maintenance: find one micro-batch's spans
    * against the landed indexes, land its fragments and spans.
    * Replaying the same (batch, batchId) overwrites every directory
    * with identical bytes. `idCol` must be a unique long across the
    * stream. Returns whether it landed: a batch without ids (the
    * observed count of the id cut) writes no directory. */
  def processBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, indexDir: String, spansDir: String,
      spanLen: Int = 12): Boolean = {
    val spark = batch.sparkSession
    val h = 63 - java.lang.Long.numberOfLeadingZeros(spanLen.toLong)
    LocalCheckpoint.counted(batch
        .select(col(idCol).cast("long").as("_bid")).distinct()) {
      (batchIds, rows) => rows != 0L && {
        val idx0 = excludeOwn(
          readFrags(spark, s"$indexDir/r0", r0Schema), "_br", batchIds)
        val idxKs = (1 to h.toInt).map(k => excludeOwn(
          readFrags(spark, s"$indexDir/r$k", rkSchema), "_brn", batchIds))
        // fin must be unique per key for the delta join: fragments are
        // disjoint by construction (only unseen keys land), but replay
        // hygiene aggregates anyway
        val fin = excludeOwn(
          readFrags(spark, s"$indexDir/fin", finSchema), "_bkeep", batchIds)
          .groupBy(col("_r"), col("_k2"))
          .agg(min(col("_bkeep")).as("_bkeep"))
        val (dups, frag0, fragKs, fragFin) = SuffixDedup.deltaAgainstIndex(
          batch, textCol, idCol, spanLen, idx0, idxKs, fin)
        // materialize EVERY output before the first overwrite: on replay
        // the lazy chains read this batch's own stale fragment files,
        // and overwriting those directories mid-job would yank files out
        // from under the later writes' scans (FAILED_READ_FILE). Eager
        // local checkpoints, nested in output order, sever the lineage
        // first; all are batch-sized, and all are released before return.
        val outs = (SuffixDedup.spansOf(dups, idCol, spanLen) -> spansDir) ::
          (frag0 -> s"$indexDir/r0") :: fragKs.toList.zipWithIndex.map {
            case (f, i) => f -> s"$indexDir/r${i + 1}" } :::
          List(fragFin -> s"$indexDir/fin")
        def cutAll(dfs: List[DataFrame])(land: List[DataFrame] => Unit)
            : Unit = dfs match {
          case f :: more =>
            LocalCheckpoint.within(f)(c => cutAll(more)(cs => land(c :: cs)))
          case Nil => land(Nil)
        }
        cutAll(outs.map(_._1))(_.zip(outs.map(_._2)).foreach {
          case (c, dir) =>
            c.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
        })
        true
      }
    }
  }

  private val spansSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("span_start", LongType),
    StructField("span_end", LongType)))

  /** All landed to-remove spans (runs + committed fragments). */
  def readSpans(spark: SparkSession, spansDir: String): DataFrame =
    readFrags(spark, spansDir, spansSchema)

  /** Start maintaining the suffix-dedup indexes + spans log from a
    * streaming `source` carrying (`idCol`, `textCol`).
    * `compactEvery` > 0 folds all the stores every that-many batches
    * ([[compactStores]]) so fragment count — and with it per-batch
    * listing cost — stays bounded on a long-lived stream. */
  def start(source: DataFrame, textCol: String, idCol: String,
      indexDir: String, spansDir: String, checkpointDir: String,
      spanLen: Int = 12,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    Commits.runBatches(source, checkpointDir, trigger, Commits.Hook(
        compactEvery, compactStores(_, indexDir, spansDir, spanLen))) {
      (batch, batchId) => processBatch(batch, batchId, textCol, idCol,
        indexDir, spansDir, spanLen)
    }
}
