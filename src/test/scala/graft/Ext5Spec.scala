package graft

import graft.ext.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-6: the probeable incremental IVF-PQ index — upsert-merged
  * fragments must be indistinguishable from a from-scratch build, both
  * as stored (cell, codes) rows and through the ADC probe. */
class IvfUpsertIndexSpec extends SparkSpec {

  private def emb: DataFrame =
    spark.read.parquet(s"${sf()}/embeddings.parquet")

  private def conventionCodebook(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") < 16)
      .select(col("vec_id").as("_cb"),
        col("embedding").cast("array<double>").as("_cv"))

  private def collectSet(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("merged upsert index == index built from scratch on base ∪ delta (frozen quantizer + codebook)") {
    val base = emb.filter(col("vec_id") < 300)
    val delta = emb.filter(col("vec_id") >= 300)
    val cb = conventionCodebook(emb)
    val merged = Similarity.ivfPqUpsertIndex(base, delta, "vec_id",
      "embedding", cb, nCells = 16, nSub = 8, dim = 64)
    // scratch build: same frozen state, one pass over the union — the
    // upsert must not drift from this no matter how the corpus arrived
    val scratch = Similarity.ivfPqUpsertIndex(
      base.unionByName(delta), emb.filter(lit(false)), "vec_id",
      "embedding", cb, nCells = 16, nSub = 8, dim = 64)
    assert(merged.columns.toSeq == Seq("n_id", "cell", "codes"))
    val m = collectSet(merged.select(col("n_id"), col("cell"),
      concat_ws(",", col("codes"))))
    val s0 = collectSet(scratch.select(col("n_id"), col("cell"),
      concat_ws(",", col("codes"))))
    assert(m == s0)
    assert(m.size == emb.count())
  }

  test("probe over the merged index == ivfPqTopKWith from scratch when base holds the quantizer ids") {
    val base = emb.filter(col("vec_id") < 300)
    val delta = emb.filter(col("vec_id") >= 300)
    val queries = emb.filter(col("vec_id") < 25)
    val cb = conventionCodebook(emb)
    val cents = Similarity.coarseCentroids(base, "vec_id", "embedding", 16)
    val index = Similarity.ivfPqUpsertIndex(base, delta, "vec_id",
      "embedding", cb, nCells = 16, nSub = 8, dim = 64)
    val viaIndex = Similarity.ivfPqProbeIndex(queries, index, cents, cb,
      "vec_id", "embedding", k = 3, nProbe = 2)
    // base holds ids 0..299, so first-16-of-union == first-16-of-base
    // and the from-scratch composed operator must agree rank-for-rank
    val scratch = Similarity.ivfPqTopKWith(queries,
      base.unionByName(delta), "vec_id", "embedding", k = 3, cb,
      nCells = 16, nProbe = 2)
    assert(collectSet(viaIndex) == collectSet(scratch))
    assert(viaIndex.count() > 0)
  }

  test("streaming index maintenance: N micro-batches == batch-built index, probe-equivalent") {
    val base = emb.filter(col("vec_id") < 300)
    val delta = emb.filter(col("vec_id") >= 300)
    val cb = conventionCodebook(emb)
    val cents = Similarity.coarseCentroids(base, "vec_id", "embedding", 16)
    val indexDir = tmpDir("annidx")
    val landing = tmpDir("annlanding")
    val ckpt = tmpDir("annckpt")
    // initial batch build of the base index (reserved batch=-1 dir)
    graft.streaming.AnnIndexMaintenance.writeBase(base, "vec_id",
      "embedding", cents, cb, indexDir)
    // delta arrives as 3 files -> 3 micro-batches (maxFilesPerTrigger=1)
    delta.repartitionByRange(3, col("vec_id"))
      .write.mode("overwrite").parquet(landing)
    val src = spark.readStream
      .schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
    val q = graft.streaming.AnnIndexMaintenance.start(src, "vec_id",
      "embedding", cents, cb, indexDir, ckpt)
    q.awaitTermination()
    val streamed = spark.read.parquet(indexDir)
    val scratch = Similarity.ivfPqUpsertIndex(base.unionByName(delta),
      emb.filter(lit(false)), "vec_id", "embedding", cb)
    def keyed(df: DataFrame) = collectSet(df.select(col("n_id"),
      col("cell").cast("long"), concat_ws(",", col("codes"))))
    assert(keyed(streamed) == keyed(scratch))
    // and the probe over the streamed index agrees with the composed op
    val probe = Similarity.ivfPqProbeIndex(emb.filter(col("vec_id") < 10),
      streamed, cents, cb, "vec_id", "embedding", k = 3, nProbe = 2)
    val direct = Similarity.ivfPqTopKWith(emb.filter(col("vec_id") < 10),
      emb, "vec_id", "embedding", k = 3, cb, nCells = 16, nProbe = 2)
    assert(collectSet(probe) == collectSet(direct))
  }

  test("streaming index maintenance is exactly-once: replaying a batch " +
      "with its batchId leaves the index unchanged") {
    val base = emb.filter(col("vec_id") < 300)
    val delta = emb.filter(col("vec_id") >= 300)
    val cb = conventionCodebook(emb)
    val cents = Similarity.coarseCentroids(base, "vec_id", "embedding", 16)
    val indexDir = tmpDir("annreplay")
    graft.streaming.AnnIndexMaintenance.writeBase(base, "vec_id",
      "embedding", cents, cb, indexDir)
    // batch 0 lands once
    graft.streaming.AnnIndexMaintenance.writeFragment(delta, 0L,
      "vec_id", "embedding", cents, cb, indexDir)
    def snapshot(): Set[String] = collectSet(
      spark.read.parquet(indexDir).select(col("n_id"),
        col("cell").cast("long"), concat_ws(",", col("codes"))))
    val once = snapshot()
    assert(once.size == emb.count(),
      "base + one delta batch must cover the corpus exactly once")
    // a foreachBatch retry re-delivers the SAME rows under the SAME
    // batchId (the streaming checkpoint pins offsets per batch) — the
    // batchId-keyed overwrite must converge, not append duplicates
    graft.streaming.AnnIndexMaintenance.writeFragment(delta, 0L,
      "vec_id", "embedding", cents, cb, indexDir)
    assert(snapshot() == once,
      "replaying batch 0 must leave the index byte-identical")
    // and a genuinely NEW batch id with new rows still appends
    graft.streaming.AnnIndexMaintenance.writeFragment(
      emb.filter(lit(false)), 1L, "vec_id", "embedding", cents, cb,
      indexDir)
    assert(spark.read.parquet(indexDir).count() == once.size)
  }

  test("readIndex reads an empty partitioned fragment (only _SUCCESS) " +
      "as no rows, not as a schema-inference failure") {
    val cb = conventionCodebook(emb)
    val cents = Similarity.coarseCentroids(
      emb.filter(col("vec_id") < 300), "vec_id", "embedding", 16)
    val indexDir = tmpDir("annempty")
    def fragment(df: DataFrame) = Similarity.ivfPqIndexFragment(df,
      "vec_id", "embedding", cb, cents)
    fragment(emb.filter(col("vec_id") < 50)).write.partitionBy("cell")
      .parquet(s"$indexDir/batch=0")
    fragment(emb.filter(lit(false))).write.partitionBy("cell")
      .parquet(s"$indexDir/batch=1")
    val empty = new java.io.File(s"$indexDir/batch=1").list().toSeq
      .filterNot(_.startsWith("."))
    assert(empty == Seq("_SUCCESS"), empty)
    def keyed(df: DataFrame) = collectSet(df.select(col("n_id"),
      col("cell").cast("long"), concat_ws(",", col("codes"))))
    val read = graft.streaming.AnnIndexMaintenance.readIndex(spark, indexDir)
    assert(keyed(read) == keyed(spark.read.parquet(s"$indexDir/batch=0")))
    assert(read.count() == 50L)
  }

  test("farthest-first seeding: spread seeds, strictly lower quantization error than first-k on a clustered fixture") {
    import spark.implicits._
    // adversarial for first-k: ids 0..3 all sit in cluster A; clusters
    // B, C, D only appear at higher ids
    val dirs = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), // A
      Seq(0.0, 1.0, 0.0, 0.0), // B
      Seq(0.0, 0.0, 1.0, 0.0), // C
      Seq(0.0, 0.0, 0.0, 1.0)) // D
    val rows = (0 until 40).map { i =>
      val c = if (i < 4) 0 else i % 4
      val jitter = 0.05 * ((i % 7) - 3)
      val v = dirs(c).zipWithIndex.map { case (x, j) =>
        x + (if (j == (i % 4)) jitter else 0.0) }
      (i.toLong, v)
    }
    val vecs = rows.toDF("vec_id", "embedding")
    val seeds = Similarity.kmeansSeedFarthest(vecs, "vec_id", "embedding",
      k = 4).collect()
    assert(seeds.length == 4)
    assert(seeds.map(_.getAs[Long]("cent_id")).toSet.size == 4)
    def quantErr(init: DataFrame): Double = {
      val trained = Similarity.pqTrainCodebookFrom(vecs, "vec_id",
        "embedding", init, iters = 2, dim = 4)
      val asg = Similarity.assignCells(
        vecs.select(col("vec_id").as("n_id"),
          col("embedding").cast("array<double>").as("_v")),
        trained.select(col("cent_id"), col("_c").as("_centv"),
          Similarity.norm2(col("_c")).as("_centn")), "_v")
      asg.agg(avg(lit(1.0) - col("_csim"))).collect().head.getDouble(0)
    }
    val firstK = vecs.orderBy(col("vec_id").asc).limit(4)
      .select(col("vec_id").as("cent_id"),
        col("embedding").cast("array<double>").as("_c"))
    val farthest = Similarity.kmeansSeedFarthest(vecs, "vec_id",
      "embedding", k = 4).select(col("cent_id"), col("_c"))
    val (eFirst, eFar) = (quantErr(firstK), quantErr(farthest))
    // first-k seeds all land in cluster A: even after 2 refinement
    // rounds it cannot split the seized cluster; farthest-first covers
    // all 4 clusters and must quantize strictly better
    assert(eFar < eFirst,
      s"farthest-first $eFar not better than first-k $eFirst")
  }

  test("extractText: chrome dropped, entities decoded, short lines filtered, prose kept") {
    import spark.implicits._
    val html =
      """<html><head><title>Short Title</title>
        |<style>body { margin: 0; }</style>
        |<script>if (1 < 2) { alert("</div> inside js string? no — block strip is lazy to </script>
        |<!-- a comment with <p>fake tags</p> inside -->
        |</head><body>
        |<h1>Big Page</h1>
        |<nav>home about</nav>
        |<p>The   quick brown fox &amp; the lazy dog&#39;s friend jumped.</p>
        |<p>Second real paragraph with plenty of words here.</p>
        |<div>back</div>
        |</body></html>""".stripMargin
    val out = ext.TextAnalysis.extractText(
      Seq((1L, html)).toDF("doc_id", "html"), "html", "doc_id")
      .collect().head
    val text = out.getAs[String]("text")
    val lines = text.split("\n").toSeq
    assert(lines == Seq(
      "The quick brown fox & the lazy dog's friend jumped.",
      "Second real paragraph with plenty of words here."))
    assert(out.getAs[Int]("n_lines_kept") == 2)
    // raw lines: title, h1, nav, 2 paragraphs, div = 6 non-empty
    assert(out.getAs[Int]("n_lines_raw") == 6)
    assert(!text.contains("alert") && !text.contains("margin")
      && !text.contains("fake tags"))
  }

  test("curateHtml == extractText then curate (stage-0 composition)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .withColumn("_html",
        concat(lit("<html><body><nav>menu</nav><p>"), col("text"),
          lit("</p><footer>c</footer></body></html>")))
    val composed = ext.Curation.curateHtml(docs, "_html", "doc_id")
    val manual = ext.Curation.curate(
      ext.TextAnalysis.extractText(docs, "_html", "doc_id")
        .select(col("_id").as("doc_id"), col("text")),
      "text", "doc_id")
    assert(collectSet(composed) == collectSet(manual))
    assert(composed.count() > 0)
  }

  test("trained-codebook upsert: delta encoded against the BASE-trained codebook, probe stays consistent") {
    val base = emb.filter(col("vec_id") < 300)
    val delta = emb.filter(col("vec_id") >= 300)
    val cb = Similarity.pqTrainCodebook(base, "vec_id", "embedding",
        nCodewords = 16, iters = 1, dim = 64)
      .select(col("cent_id").as("_cb"), col("_c").as("_cv"))
    val cents = Similarity.coarseCentroids(base, "vec_id", "embedding", 16)
    val index = Similarity.ivfPqUpsertIndex(base, delta, "vec_id",
      "embedding", cb, nCells = 16, nSub = 8, dim = 64)
    val probe = Similarity.ivfPqProbeIndex(
      emb.filter(col("vec_id") < 10), index, cents, cb,
      "vec_id", "embedding", k = 3, nProbe = 2)
    val scratch = Similarity.ivfPqTopKWith(emb.filter(col("vec_id") < 10),
      base.unionByName(delta), "vec_id", "embedding", k = 3, cb,
      nCells = 16, nProbe = 2)
    assert(collectSet(probe) == collectSet(scratch))
  }
}
