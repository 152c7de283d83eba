package graft.streaming

import graft.ext.{GraphOps, ShuffleBarrier}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming authority-rank maintenance — the q159 warm-start
  * discipline ([[GraphOps.pageRankFixedPoint]] with `initRanks`)
  * composed with Structured Streaming micro-batches, the way a crawl
  * actually refreshes source authority: link-graph edges arrive in
  * micro-batches, each batch lands its own distinct edge fragment,
  * and the rank table is refreshed with `refreshIters` warm-start
  * rounds over the accumulated edge log instead of re-running the
  * full cold power iteration per day.
  *
  * Exactly-once on storage through the maintenance driver
  * ([[Commits.runBatches]]): the edge fragment and the rank snapshot
  * each overwrite their own `batch=<batchId>` directory. Batch i's rank
  * snapshot is a pure function of fragments with id ≤ i: the rank
  * refresh reads ONLY edge fragments `batch <= batchId` and warm
  * starts from the LATEST rank snapshot with id < batchId, so
  * replaying a batch after later batches have landed still reproduces
  * its original bytes (spec-pinned), unlike a head-of-log "current"
  * table which would absorb the future.
  *
  * Scale shape per batch: the edge log scan is one partition-pruned
  * read (fragments are physically separate directories), the refresh
  * pays `refreshIters` × (keyed join + map-side-combinable agg) — the
  * [[GraphOps.pageRankFixedPoint]] shape — and the warm start skips
  * the converged prefix a cold run would replay. At crawl scale the
  * daily delta is ~1% of the graph; one warm round over the union is
  * the whole daily cost. */
object GraphMaintenance {

  private def ranksSchema: StructType = StructType(Seq(
    StructField("node", LongType),
    StructField("rank_micro", LongType)))

  private def edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))

  /** Latest landed rank snapshot with batch id < `beforeBatch`
    * (None = take the newest); None result when nothing has landed
    * yet (the first refresh runs cold). Loud when `beforeBatch`
    * falls at or below a retention cut's floor ([[retainRanks]]) —
    * the snapshots that would answer are gone, and a silent None
    * would restart the refresh cold as if they never existed. */
  def readRanks(spark: SparkSession, ranksDir: String,
      beforeBatch: Option[Long] = None): Option[DataFrame] =
    Commits.readNewestSnapshot(spark, ranksDir, ranksSchema,
      beforeBatch, "rank snapshots")

  /** Accumulated edge log (runs + fragments with id ≤ `upToBatch`;
    * None = everything landed). Empty-with-schema before the first
    * batch. Once the log has been folded ([[compactEdges]]) a
    * bounded read BELOW the folded mark refuses loudly — a run mixes
    * batches and cannot be subset; in-stream reads are always at the
    * head (`upToBatch = batchId ≥` any fold the stream ran), so only
    * out-of-band historical reads hit this. */
  def readEdges(spark: SparkSession, edgesDir: String,
      upToBatch: Option[Long] = None): DataFrame = {
    val roots = Commits.boundedRoots(spark, edgesDir, upToBatch, (u, b) =>
      s"edge log folded up to batch $u — bounded read at $b refused " +
        "(runs cannot be subset below the folded mark)")
    if (roots.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        edgeSchema)
    else spark.read.schema(edgeSchema).parquet(roots: _*)
  }

  /** SIZE-TIERED LSM fold of the edge log
    * ([[Commits.compactFlatStore]]): PageRank re-reads the WHOLE log
    * every refresh, so nothing is lost to folding — only the
    * per-batch listing cost of one-fragment-per-batch-forever. Rows
    * are concatenated verbatim (a cross-batch duplicate edge keeps
    * its double weight — folding must not change rank arithmetic). */
  def compactEdges(spark: SparkSession, edgesDir: String,
      maxRuns: Int = 4): Unit =
    Commits.compactFlatStore(spark, edgesDir, edgeSchema,
      maxRuns = maxRuns)

  /** RETENTION cut for the rank snapshots — complete state that a
    * fold would BREAK (each snapshot supersedes the last wholesale):
    * keep the newest `keep` (≥ 2, so a replayed head batch still
    * finds its warm-start snapshot), delete the rest, advance the
    * loud floor ([[Commits.retainNewest]]). */
  def retainRanks(spark: SparkSession, ranksDir: String,
      keep: Int = 2): Unit = {
    require(keep >= 2,
      s"rank retention must keep >= 2 snapshots (head replay warm " +
        s"start), got $keep")
    Commits.retainNewest(spark, ranksDir, keep)
  }

  /** The idempotent unit of maintenance: land one micro-batch of
    * edges, refresh ranks over fragments ≤ batchId from the latest
    * earlier snapshot. Replaying the same (batch, batchId) overwrites
    * both directories with identical bytes. Returns whether it
    * landed: an edge-less batch writes neither directory. */
  def processBatch(batch: DataFrame, batchId: Long, srcCol: String,
      dstCol: String, edgesDir: String, ranksDir: String,
      refreshIters: Int = 1, dampMicro: Long = 850000L): Boolean = {
    val spark = batch.sparkSession
    Commits.landFragment(batch.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct(),
      s"$edgesDir/batch=$batchId") && {
      val edges = readEdges(spark, edgesDir, upToBatch = Some(batchId))
      val warm = readRanks(spark, ranksDir, beforeBatch = Some(batchId))
      GraphOps.pageRankFixedPoint(edges, "src", "dst",
          iters = refreshIters, dampMicro = dampMicro,
          cp = ShuffleBarrier, initRanks = warm)
        .write.mode("overwrite").parquet(s"$ranksDir/batch=$batchId")
      true
    }
  }

  /** Start maintaining the edge log + rank snapshots from a streaming
    * `source` carrying (`srcCol`, `dstCol`). `compactEvery` > 0 folds
    * the edge log every that-many batches ([[compactEdges]]);
    * `keepRanks` > 0 cuts rank snapshots to the newest that-many
    * after every batch ([[retainRanks]]). */
  def start(source: DataFrame, srcCol: String, dstCol: String,
      edgesDir: String, ranksDir: String, checkpointDir: String,
      refreshIters: Int = 1, dampMicro: Long = 850000L,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0, keepRanks: Int = 0): StreamingQuery =
    Commits.runBatches(source, checkpointDir, trigger,
        Commits.Hook(compactEvery, compactEdges(_, edgesDir)),
        Commits.Hook(keepRanks min 1, retainRanks(_, ranksDir, keepRanks))) {
      (batch, batchId) => processBatch(batch, batchId, srcCol, dstCol,
        edgesDir, ranksDir, refreshIters, dampMicro)
    }
}
