package graft.streaming

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming ANN index maintenance — the composition of
  * [[graft.ext.Similarity.ivfPqUpsertIndex]]'s frozen-state fragment
  * map with Structured Streaming micro-batches: every micro-batch of
  * arriving vectors is assigned and PQ-encoded against the FROZEN
  * coarse quantizer + codebook (both broadcast, both trained once on
  * the base corpus) and lands in a cell-partitioned parquet index
  * that [[graft.ext.Similarity.ivfPqProbeIndex]] searches directly.
  *
  * Because a fragment is a per-row map against frozen state, landing
  * N micro-batch fragments yields the IDENTICAL index to one batch
  * build over all the data (spec-pinned) — streaming arrival order
  * never changes the index. Cell-partitioned storage means a probe
  * with `nProbe` cells reads only those directories.
  *
  * Delivery is EXACTLY-ONCE on the index contents through the
  * maintenance driver ([[Commits.runBatches]]): each micro-batch
  * overwrites its own `batch=<batchId>` directory, where a blind
  * `append` would duplicate a retried batch's rows. The layout price
  * is one extra top-level
  * partition column (`batch`) that probes ignore; cell pruning still
  * holds — `cell` remains a partition directory level under each
  * batch, and a cell-key filter prunes across all batches.
  */
object AnnIndexMaintenance {

  /** Reserved batch directory for the initial batch-built index, so
    * the base and the streamed fragments share one uniform
    * `batch=<id>/cell=<c>` layout (mixed partition depths under one
    * root break parquet partition discovery). */
  val BaseBatchId: Long = -1L

  /** Write the base corpus's fragment under the reserved
    * [[BaseBatchId]] directory. Idempotent (Overwrite). */
  def writeBase(base: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, codebook: DataFrame, indexDir: String,
      nSub: Int = 8, dim: Int = 64): Unit =
    Similarity.ivfPqIndexFragment(base, idCol, vecCol, codebook, cents,
        nSub, dim)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/batch=$BaseBatchId")

  /** The idempotent unit of maintenance: encode one micro-batch and
    * overwrite its own `batch=<batchId>` directory. Running this
    * twice with the same (batch, batchId) — a micro-batch replay —
    * leaves the index byte-identical to running it once
    * (spec-pinned). Whether it held a row ([[Commits.landFragment]]). */
  def writeFragment(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, cents: DataFrame, codebook: DataFrame,
      indexDir: String, nSub: Int = 8, dim: Int = 64): Boolean =
    Commits.landFragment(Similarity.ivfPqIndexFragment(batch, idCol,
        vecCol, codebook, cents, nSub, dim),
      s"$indexDir/batch=$batchId", partitionBy = Seq("cell"))

  /** The stored index's one schema: `n_id` and `codes` as
    * [[graft.ext.Similarity.ivfPqIndexFragment]] writes them, `cell`
    * as partition discovery infers it. Reads name it rather than
    * infer each root, so an empty partitioned fragment (only
    * `_SUCCESS`) reads as no rows instead of failing inference. */
  private val indexSchema: StructType = StructType(Seq(
    StructField("n_id", LongType),
    StructField("codes", ArrayType(IntegerType)),
    StructField("cell", IntegerType)))

  private def readRoot(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(indexSchema).option("basePath", root).parquet(root)

  /** The probeable index: live compacted RUNS plus committed
    * `batch=` fragments newer than the folded mark, each root read
    * with itself as `basePath` so `cell` stays a DISCOVERED partition
    * column — probes' cell-key filters prune directories across runs
    * and fragments alike. A plain `spark.read.parquet(indexDir)`
    * stops working once a store has been folded (mixed `run=`/
    * `batch=` top-level names break partition discovery); this is
    * the one read path. */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val roots = Commits.fragmentRoots(spark, indexDir)
    require(roots.nonEmpty,
      s"ANN index at $indexDir has no committed fragments — was " +
        "writeBase run?")
    roots.map(readRoot(spark, _)
        .select(col("n_id"), col("cell"), col("codes")))
      .reduce(_.unionByName(_))
  }

  /** SIZE-TIERED LSM fold of the cell-partitioned index
    * ([[Commits.tieredCompact]] owns the protocol): without it a
    * long-lived stream accrues one `batch=` dir per micro-batch
    * forever — the measured accrual law. The fold preserves the
    * cell-partitioned layout run by run, so probe-side cell pruning
    * is unchanged; index CONTENT is provably unchanged (fragments
    * are per-row maps against frozen state — concatenation
    * commutes with the fold, spec-pinned). */
  def compactIndex(spark: SparkSession, indexDir: String,
      maxRuns: Int = 4): Unit =
    Commits.tieredCompact(spark, indexDir, (inputs, out) =>
      inputs.map(readRoot(spark, _))
        .reduce(_.unionByName(_))
        // explicit count: a bare repartition(cell) AQE-coalesces a
        // small fold into one task that writes every cell dir
        // serially; the pinned session count keeps writers parallel
        // with the same one-file-per-cell layout
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(out),
      maxRuns)

  /** Start maintaining the index at `indexDir` from the streaming
    * `source` (must carry `idCol` and `vecCol`). `cents` and
    * `codebook` are the frozen quantizer/codebook the base index was
    * built with ([[graft.ext.Similarity.coarseCentroids]] /
    * [[graft.ext.Similarity.pqTrainCodebook]] shapes); the base
    * fragment should have been laid down with [[writeBase]].
    * `compactEvery` > 0 folds the index every that-many batches
    * ([[compactIndex]]). */
  def start(source: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, codebook: DataFrame, indexDir: String,
      checkpointDir: String, nSub: Int = 8, dim: Int = 64,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0): StreamingQuery =
    Commits.runBatches(source, checkpointDir, trigger,
        Commits.Hook(compactEvery, compactIndex(_, indexDir))) {
      (batch, batchId) => writeFragment(batch, batchId, idCol, vecCol,
        cents, codebook, indexDir, nSub, dim)
    }
}
