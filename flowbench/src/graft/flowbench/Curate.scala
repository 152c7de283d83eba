package graft.flowbench

import graft.ext.{Dedup, Similarity, TextAnalysis}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Seeded prose: a pseudo-word vocabulary plus stop words, documents of
  * short sentences, and near-duplicate variants with a few words
  * replaced. */
final class TextGen(seed: Long) {
  private val stop = IndexedSeq("the", "and", "of", "to", "in", "is", "that", "with")
  val vocab: IndexedSeq[String] = {
    val r = new java.util.Random(seed ^ 0x5DEECE66DL)
    (0 until 3000).map { _ =>
      (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.distinct
  }

  def word(r: java.util.Random): String =
    if (r.nextInt(5) == 0) stop(r.nextInt(stop.size)) else vocab(r.nextInt(vocab.size))

  def doc(r: java.util.Random, words: Int): String =
    (0 until words).map(_ => word(r)).grouped(10)
      .map(_.mkString(" ") + ".").mkString("\n")

  /** A near duplicate: `edits` words replaced at random positions. */
  def variant(r: java.util.Random, text: String, edits: Int): String = {
    val lines = text.split("\n").map(_.stripSuffix(".").split(" "))
    (0 until edits).foreach { _ =>
      val l = lines(r.nextInt(lines.length))
      l(r.nextInt(l.length)) = vocab(r.nextInt(vocab.size))
    }
    lines.map(_.mkString(" ") + ".").mkString("\n")
  }
}

/** One curation pass's inputs, with what was planted in them. */
final class Corpus(seed: Long, pass: Int) {
  import Corpus._
  private val size = Full
  private val r = new java.util.Random(seed * 1000003L + pass)
  private val gen = new TextGen(seed + pass)
  private val clusters = size.clusters

  val docs = mutable.ArrayBuffer[(Long, String)]()
  /** Exact-duplicate groups (ids; the keeper is the least). */
  val exactGroups = mutable.ArrayBuffer[Seq[Long]]()
  /** (original, variant) near-duplicate pairs. */
  val nearPairs = mutable.ArrayBuffer[(Long, Long)]()
  private var next = 1L
  private def add(t: String): Long = { val i = next; next += 1; docs += ((i, t)); i }

  (0 until size.baseDocs).foreach(_ => add(gen.doc(r, 60 + r.nextInt(60))))
  (0 until size.exactGroups).foreach { g =>
    val orig = docs(g * 7)
    exactGroups += (orig._1 +: (0 until 1 + r.nextInt(2)).map(_ => add(orig._2)))
  }
  (0 until size.nearDups).foreach { j =>
    val orig = docs(3 + j * 5)
    nearPairs += ((orig._1, add(gen.variant(r, orig._2, 3))))
  }
  // low-quality pages the quality filter should drop
  (0 until 20).foreach(_ => add((0 until 8).map(_ => "#" + gen.word(r)).mkString(" ")))

  /** Embeddings with planted clusters: member = center + noise. Ids
    * start at 0: IVF-PQ takes its codebook from the lowest ids. */
  val vecs: IndexedSeq[(Long, Array[Float])] = {
    val centers = (0 until clusters).map(_ => unit(Array.fill(Dim)(r.nextGaussian().toFloat)))
    (0 until clusters * size.perCluster).map { i =>
      val c = centers(i % clusters)
      (i.toLong, c.map(x => x + (Noise * r.nextGaussian()).toFloat))
    }
  }
  def clusterOf(id: Long): Int = (id % clusters).toInt
  /** One query per cluster, drawn from the corpus itself. */
  val queries: Seq[Long] = (0 until clusters).map(c => (c + clusters * r.nextInt(size.perCluster)).toLong)

  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("docs.jsonl"), docs.map { case (i, t) =>
      Json.render(Map("doc_id" -> i, "text" -> t)) }.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("vecs.jsonl"), vecs.map { case (i, v) =>
      Json.render(Map("id" -> i, "vec" -> v.toSeq)) }.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }
}

object Corpus {
  final case class Size(baseDocs: Int, exactGroups: Int, nearDups: Int,
      clusters: Int, perCluster: Int)
  val Full = Size(baseDocs = 300, exactGroups = 15, nearDups = 30, clusters = 40, perCluster = 40)
  val Dim = 64
  val Noise = 0.06
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(FloatType))))
}

/** The batch-curation half of `curate_stream`: `Passes` passes per
  * round, each over its own corpus: quality flags, exact groups,
  * near-duplicate clusters (n-gram Jaccard pairs, then label rounds),
  * exact top-k through the custom plan, and IVF-PQ top-k.
  * Executor-bound; never touches the commit path. Each stage's result
  * lands as parquet, as a curation batch's annotations would. */
final class CurateBatch(seed: Long) extends Workload {
  import CurateBatch._
  private val corpora = (0 until Passes).map(p => new Corpus(seed, p))
  private var inputs: Path = _

  /** Generate each corpus as raw JSON lines, then load it into the
    * parquet tables the passes read. */
  def setup(ctx: Ctx): Unit = {
    inputs = ctx.dir("curate-inputs")
    corpora.zipWithIndex.foreach { case (c, p) =>
      val dir = inputs.resolve(s"pass-$p")
      c.write(dir)
      Seq(("docs", Corpus.DocSchema), ("vecs", Corpus.VecSchema)).foreach { case (what, schema) =>
        ctx.spark.read.schema(schema).json(dir.resolve(s"$what.jsonl").toString)
          .write.mode("overwrite").parquet(dir.resolve(what).toString)
      }
    }
  }

  def rowsPerRound: Long = corpora.map(c => c.docs.size + c.vecs.size).sum.toLong

  def round(ctx: Ctx, s: Samples): Unit = {
    val spark = ctx.spark
    newRoundDir(ctx, "curate")
    corpora.indices.foreach { p =>
      val in = inputs.resolve(s"pass-$p")
      val out = roundDir.resolve(s"pass-$p")
      def land(df: DataFrame, what: String): Unit =
        df.write.mode("overwrite").parquet(out.resolve(what).toString)
      // a pass is not an op: curate_stream's ops are the stream's
      // waves, one kind of call, so the op median is a wave's; passes
      // show in wall_s
      s.time("pass", "pass", null) {
        val docs = spark.read.parquet(in.resolve("docs").toString)
        val vecs = spark.read.parquet(in.resolve("vecs").toString)
        val queries = vecs.filter(col("id").isin(corpora(p).queries: _*))
        s.time("stage", "quality", "ext.text") {
          land(TextAnalysis.gopherQualityFlags(docs, "text", "doc_id"), "quality") }
        s.time("stage", "exact", "ext.dedup") {
          land(Dedup.exactGroups(docs, "text", "doc_id"), "exact") }
        s.time("stage", "clusters", "ext.dedup") {
          land(Dedup.dupClusters(docs, "text", "doc_id", Seq(lit("all")), N, Threshold),
            "clusters") }
        s.time("stage", "topk", "ext.similarity") {
          land(Similarity.topKPlanned(queries, vecs, "id", "vec", K), "topk") }
        s.time("stage", "ivfpq", "ext.similarity") {
          land(Similarity.ivfPqTopK(queries, vecs, "id", "vec", K), "ivfpq") }
      }
    }
  }

  def storedBytes(ctx: Ctx): Long = Main.bytesUnder(roundDir)

  private def read(spark: SparkSession, p: Int, what: String): DataFrame =
    spark.read.parquet(roundDir.resolve(s"pass-$p").resolve(what).toString)

  private def neighbours(spark: SparkSession, p: Int, what: String): Map[Long, Seq[Long]] =
    read(spark, p, what).collect().toSeq
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2) }

  /** Share of each query's neighbours from its own planted cluster. */
  private def precision(c: Corpus, nb: Map[Long, Seq[Long]]): Double =
    c.queries.map(q => nb.getOrElse(q, Nil).count(n => c.clusterOf(n) == c.clusterOf(q))
      .toDouble / K).sum / c.queries.size

  def finalChecks(ctx: Ctx, s: Samples): Unit = {
    val spark = ctx.spark
    corpora.zipWithIndex.foreach { case (c, p) =>
      val groups = read(spark, p, "exact").filter(col("n_copies") > 1).collect()
        .map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("n_copies"))).toSet
      val planted = c.exactGroups.map(g => (g.min, g.size.toLong)).toSet
      s.check(s"pass $p: every planted exact duplicate group found")(planted.subsetOf(groups))
      val cl = read(spark, p, "clusters").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      s.check(s"pass $p: every doc has one cluster")(cl.size == c.docs.size)
      val exactTogether = c.exactGroups.forall(g => g.map(cl.get).distinct.size == 1)
      s.check(s"pass $p: exact duplicates share a cluster")(exactTogether)
      val recall = c.nearPairs.count { case (a, b) => cl.get(a) == cl.get(b) }
        .toDouble / c.nearPairs.size
      s.check(f"pass $p: near-duplicate recall $recall%.3f >= $NearRecallFloor")(
        recall >= NearRecallFloor)
      val q = read(spark, p, "quality")
      s.check(s"pass $p: quality flags for every doc")(q.count() == c.docs.size)
      val exactNb = neighbours(spark, p, "topk")
      s.check(s"pass $p: top-k returns k neighbours per query")(
        c.queries.forall(q => exactNb.get(q).exists(_.size == K)))
      val pr = precision(c, exactNb)
      s.check(f"pass $p: exact top-k same-cluster share $pr%.3f >= $TopKFloor")(pr >= TopKFloor)
      val pq = precision(c, neighbours(spark, p, "ivfpq"))
      s.check(f"pass $p: IVF-PQ top-k same-cluster share $pq%.3f >= $IvfPqFloor")(pq >= IvfPqFloor)
    }
  }

  def layers(ctx: Ctx, tr: Tracer, s: Samples, traced: Int => Boolean): Map[String, Double] = {
    val spark = ctx.spark
    val passes = s.of("pass", traced).size.max(1).toDouble
    def med(stage: String) = {
      val xs = s.of("stage", traced).filter(_.name == stage).map(_.secs * 1000)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val recall = corpora.indices.map { p =>
      val ex = neighbours(spark, p, "topk"); val pq = neighbours(spark, p, "ivfpq")
      ex.map { case (q, ns) => ns.toSet.intersect(pq.getOrElse(q, Nil).toSet).size.toDouble / K }
        .sum / ex.size
    }
    val (cand, verified) = tr.jaccardPairs
    Map(
      "ext.text.quality_ms" -> med("quality"),
      "ext.dedup.exact_ms" -> med("exact"),
      "ext.dedup.clusters_ms" -> med("clusters"),
      "ext.dedup.candidate_pairs" -> cand / passes,
      "ext.dedup.pair_yield" -> (if (cand == 0) 0.0 else verified.toDouble / cand),
      "ext.dedup.cluster_rounds" -> tr.sqlStarts.count(_.startsWith("head at Dedup.scala")) / passes,
      "ext.similarity.topk_exec_ms" -> med("topk"),
      "ext.similarity.ivfpq_ms" -> med("ivfpq"),
      "ext.similarity.recall_at_k" -> Stats.median(recall),
      "plans.topk_exec_plans" -> tr.actions.count(_._3.contains("SimilarityTopK")) / passes)
  }
}

object CurateBatch {
  val Passes = 1
  val K = 10
  val N = 3
  val Threshold = 0.5
  /** Floors the outputs must meet on every seed. */
  val NearRecallFloor = 0.9
  val TopKFloor = 0.95
  val IvfPqFloor = 0.5
}
