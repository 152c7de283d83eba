package graft

import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.EventsStream
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact groups: duplicates collapse to min id") {
    val docs = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"))
      .toDF("doc_id", "text")
    val out = Dedup.exactGroups(docs, "text", "doc_id")
      .orderBy("keeper_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 3L), (2L, 1L)))
  }

  test("jaccard: known shingle overlap") {
    val df = Seq(("abcdef", "abcdeX")).toDF("a", "b")
    // 5-shingles: {abcde,bcdef} vs {abcde,bcdeX} → 1/3
    val j = df.select(Dedup.jaccard(Dedup.shingles(col("a"), 5),
      Dedup.shingles(col("b"), 5))).collect()(0).getDouble(0)
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
  }

  test("minhash-LSH finds the fixture near-dup pair (12, 360)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val pairs = Dedup.minHashLshPairsPortable(docs, "text", "doc_id",
      threshold = 0.9)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((12L, 360L)))
  }

  test("simhash: identical docs distance 0, near docs small distance") {
    val docs = Seq((1L, "spark scan merge join table"),
      (2L, "spark scan merge join table"),
      (3L, "completely different words entirely elsewhere"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairsPortable(docs, "text", "doc_id",
      maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("dupClusters refuses to return unconverged labels: a 20-doc " +
      "near-dup chain needs 20 rounds, so maxIters 15 throws and 25 " +
      "gives one cluster") {
    // doc i = words i..i+9: neighbours share 7 of their 8 trigrams
    // (Jaccard 7/9), docs two apart 6 of 10 — pairs form only
    // between neighbours, a path of diameter 19
    val docs = (0 until 20)
      .map(i => (i.toLong, (i until i + 10).map(w => s"w$w").mkString(" ")))
      .toDF("doc_id", "text")
    def clusters(maxIters: Int) = Dedup.dupClusters(docs, "text",
      "doc_id", Seq(lit("all")), n = 3, threshold = 0.7,
      maxIters = maxIters)
    val e = intercept[IllegalStateException](clusters(15).collect())
    assert(e.getMessage.contains("15"), e.getMessage)
    val labels = clusters(25).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 20 && labels.forall(_._2 == 0L),
      labels.mkString(", "))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: orthogonal→0, identical→1") {
    val df = Seq((Array(1f, 0f), Array(0f, 1f), Array(3f, 4f)))
      .toDF("x", "y", "z")
    val r = df.select(
      Similarity.cosine(col("x"), col("y")),
      Similarity.cosine(col("z"), col("z"))).collect()(0)
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("brute-force top-k matches driver-side computation") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val got = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", 3)
      .orderBy("rank").collect().map(_.getLong(1))
    // driver-side oracle
    val all = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = all.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / math.sqrt(na * nb)
    }
    val want = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("banded near-dup pairs: exact-verified subset, keyed join, full recall at cos=1") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val banded = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.4)
    // candidate generation must be an equi-join, never a cross join
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    val got = banded.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Similarity.cosineNearDupPairsExact(emb, "vec_id",
      "embedding", threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // subset of the exact pair set, scores bitwise-identical
    assert(got.nonEmpty && got.keySet.subsetOf(exact.keySet))
    got.foreach { case (k, c) => assert(exact(k) == c) }
    // identical vectors agree on every plane sign → recall 1 at cos=1
    val dup = exact.filter { case (_, c) => c >= 1.0 - 1e-12 }
    assert(dup.keySet.subsetOf(got.keySet))
  }

  test("PQ encode picks the nearest codeword per subspace; ADC ranks match a driver replay") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .filter(col("vec_id") < 120)
    val all = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val cbk = (0L until 16L).map(all)
    def sub2(a: Array[Double], b: Array[Double], j: Int): Double = {
      var s = 0.0
      for (i <- j * 8 until j * 8 + 8) s += (a(i) - b(i)) * (a(i) - b(i))
      s
    }
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toArray).toMap
    enc.foreach { case (id, codes) =>
      assert(codes.length == 8)
      for (j <- 0 until 8) {
        val want = (0 until 16).minBy(c => (sub2(all(id), cbk(c), j), c))
        assert(codes(j) == want, s"id=$id subspace=$j")
      }
    }
    // ADC distance from codes only must reproduce driver-side ranks
    val got = Similarity.pqAdcTopK(emb.filter(col("vec_id") < 3), emb,
      "vec_id", "embedding", topK = 4).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    for (qid <- 0L until 3L) {
      val want = all.keys.filter(_ != qid).toSeq
        .map(n => n -> (0 until 8).map(j => sub2(all(qid), cbk(enc(n)(j)), j)).sum)
        .sortBy { case (n, d) => (d, n) }.take(4).map(_._1)
      want.zipWithIndex.foreach { case (n, i) =>
        assert(got((qid, i + 1)) == n, s"q=$qid rank=${i + 1}")
      }
    }
  }

  test("LSH top-k returns plausible neighbors (bucketed subset)") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val got = Similarity.lshTopK(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", k = 3)
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(2) <= 3))
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: whitespace runs, empties, regex tokens") {
    val df = Seq("the fast  key", "", "   ", "ab12 cd!").toDF("t")
    val out = df.select(TextAnalysis.tokenCount(col("t")),
      TextAnalysis.regexTokenCount(col("t"))).collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(3, 0, 0, 2))
    assert(out.map(_.getInt(1)).toSeq == Seq(3, 0, 0, 4))
  }

  test("fingerprint matches driver-side rolling hash") {
    val s = "spark"
    val want = s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    val got = Seq(s).toDF("t")
      .select(TextAnalysis.fingerprint(col("t"))).collect()(0).getLong(0)
    assert(got == want)
    val empty = Seq("").toDF("t")
      .select(TextAnalysis.fingerprint(col("t"))).collect()(0).getLong(0)
    assert(empty == 0L)
  }

  test("langId buckets are total") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val vals = docs.select(TextAnalysis.langIdHeuristic(col("text")))
      .distinct().collect().map(_.getString(0)).toSet
    assert(vals.subsetOf(Set("en", "en_like", "other", "empty")))
  }
}

class MultimodalSpec extends SparkSpec {
  test("media frame: payload bytes + metadata struct + batched decode") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(50)
    val media = Multimodal.toMediaFrame(docs, "text", "doc_id")
    assert(media.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 50)
    // checksum equals driver-side FakeDecoder on the same bytes
    val one = docs.filter(col("doc_id") === 1).collect()(0)
    val txt = one.getString(one.fieldIndex("text"))
    val (cs, _) = Multimodal.FakeDecoder.decode(txt.getBytes("UTF-8"))
    assert(feats.find(_.media_id == 1L).get.checksum == cs)
    assert(feats.forall(_.features.length == 8))
  }
}

class StreamingSpec extends SparkSpec {
  test("streamed windowed agg equals batch aggregation") {
    val dir = sf()
    val got = EventsStream.runToCompletion(spark, s"$dir/events.parquet",
      queryName = "spec_events_windowed")
    val batch = eventsUs(s"$dir/events.parquet")
      .withColumn("ts_us", timestamp_micros(col("ts_us")))
      .groupBy(window(col("ts_us"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), col("event_type"), col("n"))
    val g = got.select("window_start", "event_type", "n")
      .collect().map(_.toSeq).toSet
    val w = batch.collect().map(_.toSeq).toSet
    assert(g == w && g.nonEmpty)
  }
}

/** The reliable-checkpoint mode (executor-loss-safe lineage cuts) must
  * produce byte-identical clusters to the default local mode. */
class ReliableCheckpointSpec extends SparkSpec {
  test("dupClusters: ReliableCheckpoint == LocalCheckpoint clusters") {
    val ckpt = tmpDir("ckpt_reliable")
    spark.sparkContext.setCheckpointDir(ckpt)
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    def run(cp: graft.ext.Checkpointer) =
      graft.ext.Dedup.dupClusters(docs, "text", "doc_id",
        blockCols = Seq(col("lang"), expr("n_chars div 64")),
        n = 3, threshold = 0.6, cp = cp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run(graft.ext.LocalCheckpoint)
    val reliable = run(graft.ext.ReliableCheckpoint)
    assert(reliable == local && local.nonEmpty)
    // the reliable mode actually wrote checkpoint data
    val wrote = new java.io.File(ckpt).listFiles()
    assert(wrote != null && wrote.nonEmpty)
  }
}

/** Prefix-filtered blocked Jaccard must equal the brute-force blocked
  * pairwise result (PPJoin prefix lemma — no false negatives). */
class PrefixFilterSpec extends SparkSpec {
  test("prefix-filtered pairs == brute-force blocked pairs") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val got = graft.ext.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      blockCols = Seq(col("lang"), expr("n_chars div 64")),
      n = 3, threshold = 0.6)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: full pairwise within block
    val base = docs
      .withColumn("_block", concat_ws("", col("lang"), expr("n_chars div 64")))
      .select(col("doc_id").as("_id"), col("_block"),
        sort_array(graft.ext.Dedup.wordShingles(col("text"), 3)).as("_sh"))
      .filter(size(col("_sh")) > 0)
    val brute = base.select(col("_id").as("doc_a"), col("_block"),
        col("_sh").as("_sha"))
      .join(base.select(col("_id").as("doc_b"), col("_block"),
        col("_sh").as("_shb")), Seq("_block"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(graft.functions.VectorFunctions
        .jaccardSorted(col("_sha"), col("_shb")) >= 0.6)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute && got.nonEmpty)
  }
}
