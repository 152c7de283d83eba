package graft

import graft.ops.SnapshotTable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Rows the counting key function of [[SnapshotSinkSpec]] has seen. */
object SinkEvaluations {
  val rows = new java.util.concurrent.atomic.AtomicLong()
}

/** The streaming sink door reads each micro-batch once: it cuts the
  * batch, counts its touched partitions from the cut, and merges the
  * cut with those counts. */
class SnapshotSinkSpec extends SparkSpec {

  test("a 100-row sink micro-batch evaluates its plan over 100 rows " +
      "(201 with the isEmpty probe and the uncounted merge)") {
    val input = MemoryStream[(Long, String, Int)](
      spark.implicits.newProductEncoder[(Long, String, Int)], spark)
    val counted = udf { (k: Long) => SinkEvaluations.rows.incrementAndGet(); k }
      .asNondeterministic()
    val dir = tmpDir("sinkeval") + "/t"
    input.addData((0L until 100L).map(i => (i, s"v$i", (i % 4).toInt)))
    SinkEvaluations.rows.set(0L)
    val q = input.toDF().toDF("k", "v", "p")
      .withColumn("k", counted(col("k")))
      .writeStream.format("graft.sources.SnapshotSink")
      .option("path", dir).option("key", "k").option("tieBreak", "v")
      .option("partitionCols", "p")
      .option("checkpointLocation", tmpDir("sinkevalckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(SinkEvaluations.rows.get == 100L,
      s"the batch plan ran over ${SinkEvaluations.rows.get} rows")
    assert(SnapshotTable.read(spark, dir).count() == 100L)
  }
}
