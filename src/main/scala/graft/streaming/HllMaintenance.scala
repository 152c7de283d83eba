package graft.streaming

import graft.ext.Hll
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming HLL-register maintenance — the live-feed twin of the
  * batch portable cardinality sketch ([[Hll.registerEstimate]],
  * q206): every micro-batch lands its own per-key register fragment,
  * and the current corpus registers are the CELL-WISE MAX of landed
  * fragments. Because this engine's registers are integers (trailing
  * -zero ranks, never floats), max-merge is exact and
  * order-independent: the merged register table is BIT-IDENTICAL to
  * the batch build over the union of all batches — the same
  * no-approximate-merge guarantee [[SketchMaintenance]] pins for
  * count-min via sums, here via max (spec-pinned). Most published
  * sketch stores only claim mergeability; value-identity under
  * re-partitioned arrival order is what makes the estimate
  * hash-checkable downstream.
  *
  * Scale shape: per batch one map-side-combinable max-agg into
  * ≤ keys·m rows (fragment size bounded by key cardinality, not
  * batch rows), merge-on-read a keyed max over #batches × keys·m
  * sliver rows, estimates via the batch arithmetic. Exactly-once
  * through the maintenance driver ([[Commits.runBatches]]). */
object HllMaintenance {

  private def regSchema(keyType: DataType): StructType = StructType(Seq(
    StructField("key", keyType), StructField("bkt", LongType),
    StructField("reg", IntegerType)))

  /** The idempotent unit: register-sketch one micro-batch and
    * overwrite its own `batch=<batchId>` fragment; whether it held a
    * register row ([[Commits.landFragment]]). */
  def writeFragment(batch: DataFrame, batchId: Long, keyCol: String,
      hashCol: Column, outDir: String, m: Int = 64,
      maxRank: Int = 30): Boolean =
    Commits.landFragment(Hll.registers(batch, keyCol, hashCol, m, maxRank)
      .withColumnRenamed(keyCol, "key"), s"$outDir/batch=$batchId")

  /** The current merged register table: cell-wise max of the live
    * runs and the landed fragments with id ≤ `upToBatch` (None =
    * everything). Empty-with-schema before the first batch. Safe
    * against a live stream: only COMMITTED fragments participate
    * ([[Commits.committedBatchDirs]] — the `_SUCCESS`-or-finalized-
    * parts rule, conditional on the live Hadoop conf's marker
    * setting), so a batch write in flight is invisible rather than a
    * partial merge. Once the store has been folded
    * ([[compactRegisters]]) a point-in-time read BELOW the folded
    * mark refuses loudly — a max-merged run cannot be subset by
    * batch; reads at or above it stay EXACT (max is associative). */
  def mergedRegisters(spark: SparkSession, outDir: String,
      keyType: DataType = StringType,
      upToBatch: Option[Long] = None): DataFrame = {
    val roots = Commits.boundedRoots(spark, outDir, upToBatch, (u, b) =>
      s"register store folded up to batch $u — point-in-time read " +
        s"at $b refused (a max-merged run cannot be subset)")
    if (roots.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        regSchema(keyType))
    else spark.read.schema(regSchema(keyType))
      .parquet(roots: _*)
      .groupBy(col("key"), col("bkt"))
      .agg(max(col("reg")).as("reg"))
  }

  /** SIZE-TIERED AGGREGATING fold of the register store: runs hold
    * the cell-wise MAX of their inputs — exact, because integer
    * max-merge is associative and commutative (the same property
    * that makes the merged estimate order-independent), so the
    * store's principal read (`upToBatch = None`) is bit-identical
    * folded or not (spec-pinned). This is why the register store is
    * NOT in the retention class: a retention cut would DELETE old
    * fragments' max contributions and silently shrink every
    * estimate; the aggregating fold keeps totals exact and only
    * narrows the point-in-time window — which is all retention
    * would have left anyway, and here it refuses loudly
    * ([[mergedRegisters]]). */
  def compactRegisters(spark: SparkSession, outDir: String,
      keyType: DataType = StringType, maxRuns: Int = 4): Unit =
    Commits.tieredCompact(spark, outDir, (inputs, out) =>
      spark.read.schema(regSchema(keyType)).parquet(inputs: _*)
        .groupBy(col("key"), col("bkt"))
        .agg(max(col("reg")).as("reg"))
        .write.mode("overwrite").parquet(out),
      maxRuns)

  /** Current per-key estimates from the merged registers. */
  def mergedEstimate(spark: SparkSession, outDir: String,
      keyType: DataType = StringType, m: Int = 64, maxRank: Int = 30,
      upToBatch: Option[Long] = None): DataFrame =
    Hll.estimateFromRegisters(
      mergedRegisters(spark, outDir, keyType, upToBatch),
      "key", m, maxRank)

  /** Start sketching the streaming `source`: `keyCol` groups the
    * estimates, `hashCol` is the portable item hash. */
  def start(source: DataFrame, keyCol: String, hashCol: Column,
      outDir: String, checkpointDir: String, m: Int = 64,
      maxRank: Int = 30,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Commits.runBatches(source, checkpointDir, trigger) { (batch, batchId) =>
      writeFragment(batch, batchId, keyCol, hashCol, outDir, m, maxRank)
    }
}
