package graft.sources

import graft.ext.LocalCheckpoint
import graft.ops.{PartitionKeys, SnapshotTable}
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode

/** STREAMING SINK door into the snapshot table — the write half of
  * "one table, every door" (read: Scala API / DSv2 format / SQL
  * catalog / change-feed stream; write: Scala API / this):
  * {{{
  *   df.writeStream.format("graft.sources.SnapshotSink")
  *     .option("path", tbl)
  *     .option("key", "k").option("tieBreak", "v")
  *     .option("partitionCols", "year,month")
  *     .option("checkpointLocation", ckpt)
  *     .start()
  * }}}
  * Each microbatch lands as one [[SnapshotTable.merge]] commit — the
  * same upsert/evolution/stats/CHECK semantics and optimistic
  * concurrency as every other merge (several streams and batch
  * writers can target one table). With `opCol` + `seqCols` options,
  * batches apply as CHANGE FEEDS through [[SnapshotTable.mergeCdc]]
  * (`'D'` deletes, the CDC rung);
  * with `branch`, commits stage on a writable branch — a streaming
  * write-audit-publish pipeline needs exactly this quarantine.
  *
  * EXACTLY-ONCE by construction: the stream's epoch id becomes the
  * commit's batch id, and the table's replay check no-ops a
  * re-delivered epoch — the crash window between a sink's commit and
  * the checkpoint's offset advance that makes naive sinks
  * at-least-once (Delta's idempotent `txnAppId`/`txnVersion` writes,
  * rebuilt on the manifest's `batch=` line). When MULTIPLE streams
  * target one table their epoch counters would collide (both start at
  * 0): give each an `appId` and the epoch is namespaced by its hash
  * into the id's high 32 bits — per-app replay detection intact,
  * cross-app collision odds 2^-32 per pair (the honest tier; Delta's
  * per-app txn map is exact but needs mutable table metadata).
  *
  * Append and Update modes are accepted and IDENTICAL here — the
  * merge upserts by key either way, so "what changed" vs "what's
  * new" both land correctly. Complete refuses: replacing the table
  * every batch is [[SnapshotTable.restore]]-grade surgery, not a
  * streaming write. `partitionBy(...)` and the `partitionCols`
  * option are interchangeable (the former wins when both appear).
  *
  * V1 [[StreamSinkProvider]] deliberately, matching
  * [[SnapshotChanges]]' V1 Source choice: a merge is a driver-planned
  * multi-job commit protocol, which `addBatch`'s
  * receive-a-DataFrame contract expresses exactly — a DSv2
  * per-executor `DataWriter` cannot plan a join, let alone a commit
  * protocol. The batch frame detaches from the stream's
  * IncrementalExecution through its lazy cut
  * ([[LocalCheckpoint.lazily]]), built over the compiled batch RDD. */
class SnapshotSink extends StreamSinkProvider {

  override def createSink(ctx: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    def req(k: String, what: String): String = p.getOrElse(k.toLowerCase,
      throw new IllegalArgumentException(
        s"snapshot sink requires option $k ($what)"))
    val dir = req("path", "the table dir")
    val key = req("key", "the merge key")
    val tieBreak = p.getOrElse("tiebreak",
      if (p.contains("opcol")) "" else throw new IllegalArgumentException(
        "snapshot sink requires option tieBreak (the deterministic " +
          "new-wins tie-break column) — or opCol+seqCols for CDC mode"))
    val parts =
      if (partitionColumns.nonEmpty) partitionColumns
      else req("partitionCols", "comma-separated storage partitioning")
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty, "snapshot sink: empty partition column list")
    val statsCols = p.get("statscols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    val opCol = p.get("opcol")
    val seqCols = p.get("seqcols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    require(opCol.isEmpty == seqCols.isEmpty,
      "opCol and seqCols come together (CDC mode) or not at all")
    val branch = p.get("branch")
    // epoch-id namespacing for multi-stream tables (doc above)
    val appShift: Long = p.get("appid").fold(0L)(a =>
      (scala.util.hashing.MurmurHash3.stringHash(a).toLong & 0xFFFFFFFFL)
        << 32)
    require(outputMode != OutputMode.Complete(),
      "snapshot sink supports Append/Update output (each batch merges " +
        "as a delta) — Complete would replace the table every batch")
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val spark = data.sparkSession
        // cut once, lazily: the touched-partition count evaluates the
        // batch plan, and the merge reads the cut
        LocalCheckpoint.lazily(data) { df =>
          val touched = PartitionKeys.touchedCounts(df, parts)
          // no rows: nothing to commit, nothing to replay
          if (touched.nonEmpty) {
            val id = Some(appShift | (batchId & 0xFFFFFFFFL))
            opCol match {
              case Some(op) =>
                SnapshotTable.mergeCdc(spark, dir, df, key, seqCols.get,
                  op, parts, id, statsCols = statsCols, branch = branch)
              case None =>
                SnapshotTable.merge(spark, dir, df, key, tieBreak, parts,
                  id, statsCols = statsCols, branch = branch,
                  touchedCounts = Some(touched))
            }
          }
        }
      }
      override def toString: String = s"graft-snapshot-sink($dir)"
    }
  }
}
