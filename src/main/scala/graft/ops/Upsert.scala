package graft.ops

import graft.ext.LocalCheckpoint
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent partitioned upsert (reference: gluejob.py:173-205).
  *
  * The reference, per (year,month) group of the incoming delta: reads the
  * existing partition file, concats new-before-old, drops duplicate ids
  * keeping first, rewrites the file. Semantically: `new ∪ (old ANTI-JOIN
  * new ON id)` with new-beats-old precedence, executed only on the
  * partitions the delta touches.
  *
  * Determinism note (SURVEY §7.4): pandas `keep='first'` is only
  * deterministic *between* batches (new beats old); within a batch the DB
  * fetch order is unspecified. We pin full determinism with an explicit
  * priority — source rank (0=new, 1=old), then the tie-break column
  * descending — via a row_number window. This is a strict improvement,
  * documented for the oracle.
  *
  * Scale: the merge never reads untouched partitions (partition pruning
  * via the delta's distinct (year,month) set), the window shuffles only
  * delta-partition data hash-partitioned by id, and the write uses
  * dynamic partition overwrite so concurrent historical partitions are
  * preserved. At 100 TB the cost is proportional to the delta + touched
  * partitions, not the table.
  */
object Upsert {

  /** New-wins merge by key with deterministic priority. */
  def merge(newDf: DataFrame, oldDf: DataFrame, key: String,
      tieBreak: String): DataFrame = {
    val unioned = newDf.withColumn("_src", lit(0))
      .unionByName(oldDf.withColumn("_src", lit(1)))
    val w = Window.partitionBy(col(key))
      .orderBy(col("_src").asc, col(tieBreak).desc_nulls_last)
    unioned.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
  }

  /** Upsert `delta` (already bronze-normalized, with company/year/month
    * partition keys) into the hive-partitioned parquet table at `path`.
    * Only partitions present in the delta are read and rewritten
    * (gluejob.py:190-205 read-modify-write, distributed). A caller that
    * holds the delta's [[PartitionKeys.touchedCounts]] passes them as
    * `touchedCounts`; absent, they are computed here. */
  def upsertPartitioned(spark: SparkSession, delta: DataFrame, path: String,
      key: String, tieBreak: String,
      partCols: Seq[String] = Seq("company", "year", "month"),
      touchedCounts: Option[Seq[Row]] = None): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Partition pruning by path: the existing dirs of the partitions the
    // delta touches, rendered with Spark's own partition-path escaping
    // (a dir not written yet is skipped). No listing of the table and
    // no schema-inference job: the delta's schema is the table's.
    val dirs =
      if (!fs.exists(root)) Nil
      else touchedCounts.getOrElse(PartitionKeys.touchedCounts(delta, partCols))
        .map(r => new Path(root, partCols.indices.map(i =>
          ExternalCatalogUtils.getPartitionPathString(partCols(i),
            Option(r.get(i)).map(_.toString).orNull)).mkString("/")))
        .filter(fs.exists)
    // one write task per storage partition (no small-file spray from the
    // merge window's hash partitioning), bounded file sizes for the
    // scan-side at scale
    def write(existing: DataFrame): Unit =
      merge(delta, existing, key, tieBreak)
        .repartition(partCols.map(col): _*)
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "snappy")
        .option("maxRecordsPerFile", 5000000L)
        .partitionBy(partCols: _*)
        .parquet(path)
    // A lazy cut truncates lineage so the write does not overwrite a
    // path its own plan is still reading (Spark rejects that). It costs
    // no job and opens no action of its own: the write's first stage
    // fills it, and dynamic overwrite replaces dirs only at job commit.
    if (dirs.isEmpty) write(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], delta.schema))
    else LocalCheckpoint.lazily(spark.read.schema(delta.schema)
      .option("basePath", path).parquet(dirs.map(_.toString): _*)
      .select(delta.columns.map(col): _*))(write)
  }
}
