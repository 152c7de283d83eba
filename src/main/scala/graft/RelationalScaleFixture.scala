package graft

import org.apache.spark.sql.functions._

/** Key-shifted k-fold replication of the relational fixture — the
  * sf1-scale second point for the ingest/upsert/semi-join core
  * (q01–q09 family), which `/root/testdata` tops out at sf0.1 for.
  * Copy i shifts every KEY column by i·10⁹ (far above any fixture
  * key, so copies never collide and every FK edge lands inside its
  * own copy), while every non-key column keeps its exact
  * distribution — scaling without synthetic drift, so a probe ratio
  * is pure row-volume effect. Deterministic by construction (no RNG
  * at all). nation/region are dimension-constant and copied as-is.
  *
  * Usage: RelationalScaleFixture <srcDir> <outDir> <k> */
object RelationalScaleFixture {

  val Span = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = args(2).toInt
    require(k >= 1)
    val spark = Session.local()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("ERROR")

    def rep(table: String, keyCols: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val copies = (0 until k).map { i =>
        keyCols.foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(i * Span))
        }
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"RELFIXTURE $table x$k")
    }

    rep("customer", Seq("c_custkey"))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    rep("part", Seq("p_partkey"))
    rep("supplier", Seq("s_suppkey"))
    for (t <- Seq("nation", "region")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"RELFIXTURE $t copied")
    }
    println(s"RELFIXTURE done -> $out")
    spark.stop()
  }
}
