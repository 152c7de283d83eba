package graft.streaming

import graft.ext.GraphOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming connected-components maintenance — the q195 delta
  * discipline ([[GraphOps.connectedComponentsDelta]]) composed with
  * Structured Streaming, the way a crawl keeps its dedup-cluster /
  * link-community labeling current: edges arrive in micro-batches,
  * each batch lands its own fragment and folds it into the previous
  * label snapshot with star rounds sized by the batch's merge
  * structure — never by the accumulated graph's diameter.
  *
  * Unlike [[GraphMaintenance]] (PageRank re-reads the accumulated
  * edge log every refresh — rank is a function of the whole graph),
  * the label snapshot IS complete state: labels_i = fold(labels_{i−1},
  * fragment_i), so a batch reads ONE fragment and ONE snapshot,
  * whatever the log length. Exactly-once through the maintenance
  * driver ([[Commits.runBatches]]): fragment and snapshot each
  * overwrite their own `batch=<batchId>` directory; the snapshot
  * warm-starts from the latest snapshot with
  * id < batchId and folds only its OWN landed fragment, so replaying
  * a batch after later batches have landed reproduces its original
  * bytes (spec-pinned).
  *
  * Determinism: labels are reachability minima — the micro-batch
  * split does not affect the final labeling (spec: N batches ≡ one
  * batch CC over the union). */
object ComponentMaintenance {

  private def labelsSchema: StructType = StructType(Seq(
    StructField("node", LongType),
    StructField("component", LongType)))

  private def edgeSchema: StructType = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType)))

  /** Latest landed label snapshot with batch id < `beforeBatch`
    * (None = newest); None when nothing has landed (first batch runs
    * the cold contraction on its own fragment). Loud when
    * `beforeBatch` falls at or below a retention floor
    * ([[retainState]]) — a silent None would re-run the cold
    * contraction as if the cut snapshots never existed. */
  def readLabels(spark: SparkSession, labelsDir: String,
      beforeBatch: Option[Long] = None): Option[DataFrame] =
    Commits.readNewestSnapshot(spark, labelsDir, labelsSchema,
      beforeBatch, "label snapshots")

  /** RETENTION cut for BOTH stores — this maintenance's state is
    * fully superseded per batch (labels_i = fold(labels_{i−1},
    * fragment_i): labels are complete state, and an edge fragment is
    * re-read only by its OWN batch's replay), so neither store is
    * foldable and both want the retention discipline instead: keep
    * the newest `keep` (≥ 2 — a replayed head batch re-reads its own
    * fragment and its predecessor snapshot), delete the rest, advance
    * the loud floor ([[Commits.retainNewest]]). Without it the label
    * store accrues one FULL node-set snapshot per batch forever —
    * worse than fragment accrual, that is O(nodes) garbage per
    * batch. */
  def retainState(spark: SparkSession, edgesDir: String,
      labelsDir: String, keep: Int = 2): Unit = {
    require(keep >= 2,
      s"component retention must keep >= 2 snapshots (head replay " +
        s"reads its predecessor), got $keep")
    Commits.retainNewest(spark, edgesDir, keep)
    Commits.retainNewest(spark, labelsDir, keep)
  }

  /** The idempotent unit: land one micro-batch of edges, fold it into
    * the latest earlier snapshot. Replaying the same (batch, batchId)
    * overwrites both directories with identical bytes. Returns whether
    * it landed: an edge-less batch writes neither directory. */
  def processBatch(batch: DataFrame, batchId: Long, srcCol: String,
      dstCol: String, edgesDir: String, labelsDir: String,
      maxIters: Int = 50): Boolean = {
    val spark = batch.sparkSession
    Commits.landFragment(batch.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct(),
      s"$edgesDir/batch=$batchId") && {
      // fold the LANDED fragment (not the in-flight batch) so a replay
      // reads exactly what the original run read
      val frag = spark.read.schema(edgeSchema)
        .parquet(s"$edgesDir/batch=$batchId")
      val labels = readLabels(spark, labelsDir,
          beforeBatch = Some(batchId)) match {
        case Some(prev) => GraphOps.connectedComponentsDelta(
          prev, frag, "src", "dst", maxIters = maxIters)
        case None => GraphOps.connectedComponents(
          frag, "src", "dst", maxIters = maxIters)
      }
      labels.write.mode("overwrite").parquet(s"$labelsDir/batch=$batchId")
      true
    }
  }

  /** Start maintaining label snapshots from a streaming `source`
    * carrying (`srcCol`, `dstCol`). `keepState` > 0 cuts both stores
    * to the newest that-many after every batch ([[retainState]]). */
  def start(source: DataFrame, srcCol: String, dstCol: String,
      edgesDir: String, labelsDir: String, checkpointDir: String,
      maxIters: Int = 50,
      trigger: Trigger = Trigger.AvailableNow(),
      keepState: Int = 0): StreamingQuery =
    Commits.runBatches(source, checkpointDir, trigger, Commits.Hook(
        keepState min 1, retainState(_, edgesDir, labelsDir, keepState))) {
      (batch, batchId) => processBatch(batch, batchId, srcCol, dstCol,
        edgesDir, labelsDir, maxIters)
    }
}
