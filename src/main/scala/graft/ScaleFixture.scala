package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Deterministic scale-up generator for the documents/embeddings
  * fixture family — the input for the two-point scaling probe
  * (`Probe --dir <sf0.1>,<outDir>`): the shipped fixture dirs are
  * read-only and top out at sf0.1, so larger inputs are generated
  * locally with the same schemas and distribution family (30-word
  * vocabulary, 10..100-word docs, 5 language codes, 20 sources, every
  * 25th doc an exact duplicate of its predecessor so the dedup family
  * has real work; 64-dim ~uniform[-0.5,0.5] embeddings, labels
  * 0..9). All values derive from splitmix64 of the row id — no RNG
  * state, so any row count reproduces bit-identically, distributed or
  * local.
  *
  * Usage: ScaleFixture <outDir> <nDocs> <nVecs> */
object ScaleFixture {

  /** splitmix64 — the standard 64-bit finalizer (public domain,
    * Steele et al.); pure function of the input, no stream state. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private val vocab = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order",
    "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")
  private val langs = Array("en", "de", "fr", "es", "zh")

  def docText(id: Long): String = {
    val h0 = mix(id * 2654435761L + 1)
    val n = 10 + (Math.floorMod(h0, 91L)).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(vocab(Math.floorMod(mix(h0 + i), vocab.length.toLong).toInt))
      i += 1
    }
    sb.toString
  }

  def docRow(id: Long): Row = {
    // every 25th doc repeats its predecessor's text: exact-dup and
    // fingerprint work at the fixture's density
    val text = if (id % 25 == 0 && id > 0) docText(id - 1) else docText(id)
    val h = mix(id)
    Row(id, text, langs(Math.floorMod(h, 5L).toInt),
      "src" + Math.floorMod(h >>> 8, 20L), text.length.toLong)
  }

  private val eventTypes =
    Array("view", "click", "purchase", "signup", "error")

  /** Deterministic events row in the driver fixture's distribution
    * family: ts spread uniformly over the same 30-day January-2024
    * span (micros, monotone in event_id with per-slot jitter),
    * user_id ~ uniform over nEvents/66 users (the fixture's
    * 1500-users-per-100k ratio), 5 uniform event types, value a
    * 2-decimal double, props the {"k": 0..99} JSON. */
  def eventRow(id: Long, nEvents: Long): Row = {
    val h = mix(id + 101L)
    val spanUs = 30L * 24 * 3600 * 1000000L
    val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val slotUs = spanUs / nEvents
    val ts = baseUs + id * slotUs +
      Math.floorMod(mix(id + 3L), math.max(1L, slotUs))
    val nUsers = math.max(1L, nEvents / 66L)
    Row(id,
      java.time.Instant.ofEpochSecond(ts / 1000000L,
        (ts % 1000000L) * 1000L),
      Math.floorMod(h, nUsers),
      eventTypes(Math.floorMod(mix(id + 17L), 5L).toInt),
      Math.floorMod(mix(id + 7L), 56022L) / 100.0,
      s"""{"k": ${Math.floorMod(mix(id + 13L), 100L)}}""")
  }

  def vecRow(id: Long): Row = {
    // 10 label-centered clusters + noise, mirroring the fixture's
    // structure (uniform vectors degenerate quantizer training — the
    // in-plan codebook guard rightly rejects a collapsed codebook)
    val label = Math.floorMod(mix(id + 7L), 10L).toInt
    val emb = Array.tabulate(64) { j =>
      val center =
        (Math.floorMod(mix(label * 64L + j + 13L), 1000000L).toFloat /
          1000000.0f - 0.5f) * 0.8f
      val noise =
        (Math.floorMod(mix(id * 64L + j), 1000000L).toFloat /
          1000000.0f - 0.5f) * 0.2f
      center + noise
    }
    Row(id, emb.toIndexedSeq, label)
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nDocs = args(1).toLong
    val nVecs = args(2).toLong
    val spark = Session.local()
    // micros on disk like the shipped fixture (epochNanos adapts to
    // either annotation, but keep the files in the same family)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("ERROR")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(
        spark.sparkContext.range(0L, nDocs, numSlices = 8).map(docRow),
        docSchema)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.createDataFrame(
        spark.sparkContext.range(0L, nVecs, numSlices = 8).map(vecRow),
        vecSchema)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // optional 4th/5th args: orders/lineitem row counts — the minimal
    // column set the graph family consumes (q178 reads only
    // o_orderkey/o_custkey/l_orderkey/l_suppkey); key ranges follow
    // the TPC-H-ish fixture ratios (10 customers per order-group,
    // 1 supplier per 120 lineitems)
    // optional 6th arg: events row count (same schema/distribution
    // family as the driver's events fixture — feeds the q198-q220
    // analytics family's second scale point)
    if (args.length > 5 && args(5).toLong > 0) {
      val nEvents = args(5).toLong
      val evSchema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType)))
      spark.createDataFrame(
          spark.sparkContext.range(0L, nEvents, numSlices = 8)
            .map(i => eventRow(i, nEvents)),
          evSchema)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }
    if (args.length > 4) {
      val nOrders = args(3).toLong
      val nLines = args(4).toLong
      val nCust = math.max(1L, nOrders / 10L)
      val nSupp = math.max(1L, nLines / 120L)
      val orderSchema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType)))
      val lineSchema = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_suppkey", LongType)))
      spark.createDataFrame(
          spark.sparkContext.range(0L, nOrders, numSlices = 8).map(i =>
            Row(i, Math.floorMod(mix(i + 31L), nCust))),
          orderSchema)
        .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
      spark.createDataFrame(
          spark.sparkContext.range(0L, nLines, numSlices = 8).map(i =>
            Row(Math.floorMod(mix(i + 47L), nOrders),
              Math.floorMod(mix(i + 59L), nSupp))),
          lineSchema)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    }
    println(s"SCALEFIXTURE wrote $nDocs docs / $nVecs vecs to $outDir")
    spark.stop()
  }
}
