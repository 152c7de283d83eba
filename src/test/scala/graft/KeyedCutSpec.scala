package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The declared keyed cut: a `localCheckpointKeyed` frame carries its
  * hash layout into same-key aggregates and joins, where a plain
  * keyed `localCheckpoint` surfaces under AQE as unknown partitioning
  * and is re-shuffled by every consumer. */
class KeyedCutSpec extends SparkSpec {

  private def exchanges(df: DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  test("a keyed cut plans no exchange under a same-key aggregate or a " +
      "join of two keyed cuts, and joins to the plain join's rows") {
    val broadcast = "spark.sql.autoBroadcastJoinThreshold"
    val savedBroadcast = spark.conf.get(broadcast)
    spark.conf.set(broadcast, "-1")
    try {
      val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val df = spark.range(10000)
        .select((col("id") % 50).as("k"), col("id").as("v"))
      val sums = df.groupBy(col("k")).agg(sum(col("v")).as("s"))

      // control: the plain keyed cut is re-shuffled by its consumer —
      // the exchange the bridge exists to remove
      val plainAgg = df.repartition(n, col("k")).localCheckpoint()
        .groupBy(col("k")).count()
      plainAgg.collect()
      assert(exchanges(plainAgg) >= 1, plainAgg.queryExecution.executedPlan)

      val cut = ColumnBridge.localCheckpointKeyed(df, Seq("k"), n)
      val agg = cut.groupBy(col("k")).count()
      assert(agg.collect().map(_.getLong(1)).sum == 10000L)
      assert(exchanges(agg) == 0, agg.queryExecution.executedPlan)

      val joined = cut.join(
        ColumnBridge.localCheckpointKeyed(sums, Seq("k"), n), Seq("k"))
      joined.collect()
      assert(exchanges(joined) == 0, joined.queryExecution.executedPlan)

      val plain = df.join(sums, Seq("k"))
      assert(joined.count() == plain.count())
      assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)
    } finally spark.conf.set(broadcast, savedBroadcast)
  }
}
