package graft.streaming

import graft.ext.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming count-min-sketch maintenance — the live-feed twin of the
  * batch token-frequency sketch ([[TextAnalysis.countMinCells]]):
  * every micro-batch lands its own d×w cell fragment, and the current
  * corpus sketch is the CELL-WISE SUM of landed fragments — count-min
  * is mergeable by pure integer addition, so the merged sketch is
  * BIT-IDENTICAL to the batch build over the union (spec-pinned; no
  * approximate-merge caveat, unlike quantile or HLL-family sketches
  * whose merges reorder floating error).
  *
  * This is the frequency-monitor shape a 100 TB feed wants: per batch
  * one map-side-combinable aggregation into ≤ d·w cells (fragment
  * size is CONSTANT regardless of batch size), merge-on-read is a sum
  * over #batches × d·w tiny rows, and the merged sketch broadcasts to
  * downstream estimate probes. Exactly-once through the maintenance
  * driver ([[Commits.runBatches]]). */
object SketchMaintenance {

  private def cellSchema: StructType = StructType(Seq(
    StructField("row", IntegerType), StructField("col", LongType),
    StructField("cnt", LongType)))

  /** The idempotent unit: sketch one micro-batch and overwrite its
    * own `batch=<batchId>` fragment; whether it held a cell
    * ([[Commits.landFragment]]). */
  def writeFragment(batch: DataFrame, batchId: Long, textCol: String,
      outDir: String, d: Int = 4, w: Int = 512,
      seed: Long = 11L): Boolean =
    Commits.landFragment(TextAnalysis.countMinCells(batch, textCol, d, w,
      seed), s"$outDir/batch=$batchId")

  /** The current corpus sketch: cell-wise sum of the live runs and
    * the committed fragments with id ≤ `upToBatch` (None =
    * everything). Empty-with-schema before the first batch. Once the
    * store has been folded ([[compactCells]]) a point-in-time read
    * BELOW the folded mark refuses loudly — a sum-merged run cannot
    * be subset by batch; reads at or above it stay EXACT (integer
    * addition is associative). */
  def mergedCells(spark: SparkSession, outDir: String,
      upToBatch: Option[Long] = None): DataFrame = {
    val roots = Commits.boundedRoots(spark, outDir, upToBatch, (u, b) =>
      s"sketch store folded up to batch $u — point-in-time read " +
        s"at $b refused (a sum-merged run cannot be subset)")
    if (roots.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cellSchema)
    else spark.read.schema(cellSchema)
      .parquet(roots: _*)
      .groupBy(col("row"), col("col"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** SIZE-TIERED AGGREGATING fold of the cell store: runs hold the
    * cell-wise SUM of their inputs — exact (integer addition is
    * associative/commutative, the count-min merge law), so the
    * principal `upToBatch = None` read is bit-identical folded or
    * not. Like the HLL registers, NOT a retention store: a cut
    * would delete old fragments' counts and silently shrink every
    * estimate; the fold keeps totals exact and only narrows the
    * point-in-time window, loudly ([[mergedCells]]). A fold also
    * CAPS the store at ≤ maxRuns·d·w rows — without it the
    * constant-size-fragment story still accrues one d·w fragment
    * per batch forever. */
  def compactCells(spark: SparkSession, outDir: String,
      maxRuns: Int = 4): Unit =
    Commits.tieredCompact(spark, outDir, (inputs, out) =>
      spark.read.schema(cellSchema).parquet(inputs: _*)
        .groupBy(col("row"), col("col"))
        .agg(sum(col("cnt")).as("cnt"))
        .write.mode("overwrite").parquet(out),
      maxRuns)

  /** Start sketching the streaming `source` (must carry `textCol`). */
  def start(source: DataFrame, textCol: String, outDir: String,
      checkpointDir: String, d: Int = 4, w: Int = 512,
      seed: Long = 11L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Commits.runBatches(source, checkpointDir, trigger) { (batch, batchId) =>
      writeFragment(batch, batchId, textCol, outDir, d, w, seed)
    }
}
