package graft

import graft.ext.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Round-5 additions: the zero-shuffle coarse-quantizer assignment
  * (broadcast-array fold replacing the ×nCells crossJoin +
  * `row_number` argmin) and its plan-shape pins. */
class NearestCentroidSpec extends SparkSpec {
  import spark.implicits._

  private def packed(cents: Seq[(Long, Seq[Double])]) = {
    val n = cents.map { case (id, v) =>
      (id, v, v.map(x => x * x).sum)
    }.toDF("cent_id", "_centv", "_centn")
    n
  }

  test("assignment matches the exploded row_number argmin, ties to lowest id") {
    val cents = packed(Seq(
      0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0), 2L -> Seq(1.0, 0.0)))
    val vecs = Seq(
      (10L, Seq(0.9, 0.1)),  // nearest cent 0 (cent 2 identical — tie to 0)
      (11L, Seq(0.1, 0.9)),  // nearest cent 1
      (12L, Seq(1.0, 1.0)))  // exact tie 0/1/2 on cosine -> lowest id 0
      .toDF("n_id", "_v")
    val out = Similarity.assignCells(vecs, cents, "_v")
      .select("n_id", "_cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(10L -> 0L, 11L -> 1L, 12L -> 0L))
  }

  test("zero vector (all-NaN sims) assigns to the lowest centroid id") {
    val cents = packed(Seq(3L -> Seq(1.0, 0.0), 7L -> Seq(0.0, 1.0)))
    val vecs = Seq((1L, Seq(0.0, 0.0))).toDF("n_id", "_v")
    val out = Similarity.assignCells(vecs, cents, "_v").collect()
    assert(out.head.getAs[Long]("_cell") == 3L)
    assert(out.head.getAs[Double]("_csim").isNaN)
  }

  test("sim equals the sequential-fold cosine of the winning centroid") {
    val cents = packed(Seq(0L -> Seq(0.3, -0.2, 0.5), 1L -> Seq(-0.1, 0.9, 0.4)))
    val vecs = Seq((5L, Seq(0.2, 0.7, 0.1))).toDF("n_id", "_v")
    val r = Similarity.assignCells(vecs, cents, "_v").collect().head
    val v = Array(0.2, 0.7, 0.1); val c = Array(-0.1, 0.9, 0.4)
    var d = 0.0; var nv = 0.0; var nc = 0.0
    for (i <- 0 until 3) { d += v(i) * c(i); nv += v(i) * v(i); nc += c(i) * c(i) }
    assert(r.getAs[Long]("_cell") == 1L)
    assert(r.getAs[Double]("_csim") == d / math.sqrt(nv * nc)) // bitwise
  }
}

class ParallelIngestSpec extends SparkSpec {
  import graft.pipeline.Ingest
  import graft.schema.{TableSpec, Tables}
  import graft.state.WatermarkStore
  import org.apache.spark.sql.Row

  private def rowsFor(spec: TableSpec, ids: Range, ts: String) =
    ids.map { i =>
      Row.fromSeq(spec.columns.map {
        case c if c == spec.idCol => i.toString
        case c if c == spec.updatedCol || c == spec.dateCol => ts
        case _ => "x"
      })
    }

  private def srcFor(spec: TableSpec, ids: Range, ts: String) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rowsFor(spec, ids, ts)), spec.schema)

  private val clock = () => java.time.LocalDateTime.of(2024, 2, 2, 4, 0, 0)
  private def storeAt(root: String) =
    new WatermarkStore(java.nio.file.Paths.get(s"$root/wm.json"), clock)

  test("parallel incremental run = sequential run: same rows, same watermarks") {
    val tables = Tables.active.take(4)
    val ts = "2024-02-01 10:00:00"
    val sources = tables.map(t => t.name -> srcFor(t, 0 until 50, ts)).toMap
    val rootA = tmpDir("ingseq"); val rootB = tmpDir("ingpar")
    val storeA = storeAt(rootA)
    val probe = "2024-02-02 04:00:00"
    // the sequential reference: one table after another, watermarks
    // advanced and committed after the last
    tables.foreach { t =>
      Ingest.ingestTable(spark, t, sources(t.name), storeA.get(t.name),
        s"$rootA/raw")
      storeA.advance(t.name, probe)
    }
    storeA.commit()
    val doneB = Ingest.incrementalRun(spark, storeAt(rootB), sources, probe,
      s"$rootB/raw", tables)
    assert(doneB.toSet == tables.map(_.name).toSet && doneB.size == 4)
    val (committedA, committedB) = (storeAt(rootA), storeAt(rootB))
    tables.foreach { t =>
      val a = spark.read.parquet(s"$rootA/raw/${t.name}")
        .collect().map(_.toString).sorted.toSeq
      val b = spark.read.parquet(s"$rootB/raw/${t.name}")
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"row mismatch for ${t.name}")
      assert(committedA.get(t.name) == committedB.get(t.name))
      assert(committedB.get(t.name) == probe)
    }
  }

  test("a table whose sink throws fails the run only after the other " +
      "table returned, and no watermark advances") {
    val Seq(slow, failing) = Tables.active.take(2)
    val root = tmpDir("ingfail")
    val store = storeAt(root)
    store.advance(slow.name, "2024-01-01 00:00:00")
    store.commit()
    val wmFile = java.nio.file.Paths.get(s"$root/wm.json")
    val before = java.nio.file.Files.readAllBytes(wmFile)
    // the failing table's dir already holds a snapshot table
    // partitioned differently: its merge refuses after the extraction
    import spark.implicits._
    graft.ops.SnapshotTable.merge(spark, s"$root/out/${failing.name}",
      Seq(("1", "x")).toDF("k", "company"), "k", "k", Seq("company"))
    // the slow table's extraction runs until its job is cancelled
    val slowSrc = spark.createDataFrame(spark.sparkContext
      .parallelize(rowsFor(slow, 0 until 5, "2024-02-01 10:00:00"), 1)
      .mapPartitions { rows => Thread.sleep(120000L); rows }, slow.schema)
    val sources = Map(slow.name -> slowSrc,
      failing.name -> srcFor(failing, 0 until 5, "2024-02-01 10:00:00"))
    val t0 = System.nanoTime()
    val err = intercept[IllegalArgumentException](Ingest.incrementalRun(
      spark, store, sources, "2024-02-02 04:00:00", s"$root/out",
      Seq(slow, failing), Ingest.SnapshotSink))
    assert(err.getMessage.contains("partitioned by"))
    // the slow table's outcome (its cancelled job) rides along: the run
    // waited for it before rethrowing
    assert(err.getSuppressed.exists(
      _.isInstanceOf[org.apache.spark.SparkException]),
      s"suppressed: ${err.getSuppressed.toSeq}")
    assert((System.nanoTime() - t0) / 1e9 < 60,
      "the slow table was not cancelled")
    assert(java.util.Arrays.equals(before,
      java.nio.file.Files.readAllBytes(wmFile)), "a watermark was committed")
    assert(store.get(slow.name) == "2024-01-01 00:00:00" &&
      store.get(failing.name) == store.defaultWatermark)
  }
}

class SemDeDupSpec extends SparkSpec {
  import spark.implicits._

  test("planted near-dup dropped, min-id exemplar kept, distinct cells untouched") {
    // cents = first 2 vectors. id 10 is a scaled copy of id 0 (cosine
    // 1.0 → same cell, over any threshold); id 11 is orthogonal-ish to
    // everything (own cell, survives).
    val vecs = Seq(
      0L  -> Seq(1.0f, 0.0f, 0.0f),
      1L  -> Seq(0.0f, 1.0f, 0.0f),
      10L -> Seq(2.0f, 0.0f, 0.0f),
      11L -> Seq(0.0f, 0.0f, 1.0f))
      .toDF("vec_id", "embedding")
    val out = graft.ext.Similarity.semDeDup(vecs, "vec_id", "embedding",
        threshold = 0.9, nCells = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out(0L)._2 == 1, "exemplar must survive")   // min-id exemplar
    assert(out(10L)._2 == 0, "near-dup must drop")     // its copy
    assert(out(0L)._1 == out(10L)._1, "copy must share the exemplar's cell")
    assert(out(1L)._2 == 1 && out(11L)._2 == 1)        // no cell-mates over 0.9
    // corpus-level sanity at sf: every cell keeps >= 1 exemplar
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val big = graft.ext.Similarity.semDeDup(emb, "vec_id", "embedding",
        threshold = 0.4).collect()
    assert(big.length == emb.count())
    val byCell = big.groupBy(_.getLong(1))
    byCell.foreach { case (c, rows) =>
      assert(rows.exists(_.getInt(2) == 1), s"cell $c kept nothing")
      // the minimum id in a cell can never be dropped (no lower-id mate)
      val minId = rows.map(_.getLong(0)).min
      assert(rows.find(_.getLong(0) == minId).get.getInt(2) == 1)
    }
  }
}

class PortableMinHashSpec extends SparkSpec {
  import graft.ext.Dedup
  import graft.functions.TextKernels

  test("portable LSH: no false positives vs exact shingle Jaccard; candidates only from banding") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val out = Dedup.minHashLshPairsPortable(docs, "text", "doc_id",
        n = 3, numPerms = 16, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    assert(out.forall(_._3 >= 0.5))
    // ground truth: driver-side exact Jaccard over word 3-gram shingles
    def sh(s: String): Set[String] = {
      val t = s.trim.split("\\s+").filter(_.nonEmpty)
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> sh(r.getString(1))).toMap
    out.foreach { case (a, b, j) =>
      val (x, y) = (texts(a), texts(b))
      val inter = (x & y).size
      val exact = inter.toDouble / (x.size + y.size - inter)
      assert(exact == j, s"($a,$b): spark $j != exact $exact")
      assert(exact >= 0.5)
    }
  }
}

class TrainedPqSpec extends SparkSpec {
  import graft.ext.Similarity

  test("trained codebook reconstructs strictly better than the first-k convention") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding",
        nCodewords = 16, iters = 2, dim = 64)
      .select(col("cent_id").as("_cb"), col("_c").as("_cv"))
    val trained = Similarity.pqEncodeWith(emb, "vec_id", "embedding", cb)
      .agg(sum(col("err"))).head.getDouble(0)
    val convention = Similarity.pqEncode(emb, "vec_id", "embedding")
      .agg(sum(col("err"))).head.getDouble(0)
    assert(trained < convention,
      s"trained codebook err $trained !< convention err $convention")
  }

  test("training is partitioning-invariant (fixed-point means)") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    def centroids(df: org.apache.spark.sql.DataFrame) =
      Similarity.pqTrainCodebook(df, "vec_id", "embedding", iters = 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(centroids(emb) == centroids(emb.repartition(7)))
  }
}

class IvfPqTrainedSpec extends SparkSpec {
  import graft.ext.Similarity
  import spark.implicits._

  test("explicit codebook with id gaps: dense remap keeps ADC lookups positional (driver replay)") {
    val rnd = new scala.util.Random(11)
    val dim = 8; val nSub = 2; val sub = 4
    val vecs = (0L until 20L).map(i => i -> Seq.fill(dim)(rnd.nextGaussian()))
    val df = vecs.toDF("vec_id", "embedding")
    // codebook ids 2, 7, 13 — deliberate gaps to exercise the remap
    val cbIds = Seq(2L, 7L, 13L)
    val cb = vecs.filter(v => cbIds.contains(v._1)).toDF("_cb", "_cv")
    val out = Similarity.ivfPqTopKWith(df.filter(col("vec_id") < 5), df,
        "vec_id", "embedding", k = 3, cb,
        nCells = 4, nProbe = 2, nSub = nSub, nCodewords = 3, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // driver replay
    val all = vecs.toMap
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map(t => t._1 * t._2).sum
    def cos(a: Seq[Double], b: Seq[Double]) =
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    val cents = (0L until 4L).map(all)
    def cell(v: Seq[Double]) = (0 until 4).minBy(c => (-cos(v, cents(c)), c))
    def subL2(a: Seq[Double], b: Seq[Double], j: Int) =
      (j * sub until (j + 1) * sub).map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val cbv = cbIds.map(all) // dense order = ascending original id
    def codes(v: Seq[Double]) =
      (0 until nSub).map(j => (0 until 3).minBy(c => (subL2(v, cbv(c), j), c)))
    val want = (0L until 5L).flatMap { qi =>
      val probed = (0 until 4).sortBy(c => (-cos(all(qi), cents(c)), c)).take(2).toSet
      val cand = (0L until 20L).filter(ni =>
        ni != qi && probed.contains(cell(all(ni))))
      val ranked = cand.sortBy { ni =>
        val d = (0 until nSub).map(j => subL2(all(qi), cbv(codes(all(ni))(j)), j)).sum
        (d, ni)
      }
      ranked.take(3).zipWithIndex.map { case (ni, r) => (qi, ni, r + 1) }
    }.toSet
    assert(out == want)
  }
}

class MixtureSampleBucketedSpec extends SparkSpec {
  import graft.ext.Sampling
  import spark.implicits._

  test("bucketed two-phase rank = single-bucket reference on a skewed fixture; rank window keyed by (domain, bucket)") {
    // 90% of rows in one mega-domain — the shape that serialized into
    // one task under a per-domain-only window
    val skewed = ((0L until 1800L).map(i => (i, "big")) ++
      (10000L until 10200L).map(i => (i, "small"))).toDF("id", "dom")
    val w = Map("big" -> 0.7, "small" -> 0.3)
    val bucketed = Sampling.mixtureSample(skewed, "id", "dom", w, nBuckets = 64)
    val reference = Sampling.mixtureSample(skewed, "id", "dom", w, nBuckets = 1)
    val got = bucketed.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == reference.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // quota exactness on the skewed fixture
    val byDom = got.groupBy(_._2).view.mapValues(_.size).toMap
    val scale = math.min(1800 / 0.7, 200 / 0.3)
    assert(byDom("big") == math.floor(0.7 * scale).toInt)
    assert(byDom("small") == math.floor(0.3 * scale).toInt)
    // the data-side rank stage is keyed by (domain, bucket): >1 task
    // for a mega-domain. (The offsets window keys by domain alone but
    // only sees domains × nBuckets counter rows.)
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(dom#") && plan.contains("_bkt"),
      s"rank window not bucketed:\n${plan.take(3000)}")
  }
}

class BlocklistPlanSpec extends SparkSpec {
  import spark.implicits._

  test("bloom prefilter is the native might_contain expression — no UDF in the plan") {
    // parquet-backed corpus: a LocalRelation would be folded at plan
    // time and hide the filter expression entirely
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
    val bad = Seq(7L, 13L).toDF("doc_id")
    val df = graft.ext.Dedup.blocklistFilter(corpus, "doc_id", bad, "doc_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"native expression missing:\n${plan.take(2000)}")
    assert(!plan.contains("UDF"), s"UDF resurfaced:\n${plan.take(2000)}")
  }
}

class PortableCountMinSpec extends SparkSpec {
  import graft.ext.TextAnalysis

  test("portable CMS never underestimates, cells bounded by d·w, every row sums to the stream length") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val out = TextAnalysis.cmsHeavyHitters(docs, "text", minCount = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.foreach { case (t, n, est) => assert(est >= n, s"underestimate for $t") }
    val cells = TextAnalysis.countMinCells(docs, "text")
    assert(cells.count() <= 4L * 512L)
    val totals = cells.groupBy(col("row")).agg(sum(col("cnt")))
      .collect().map(_.getLong(1)).toSet
    assert(totals.size == 1) // each row partitions the same token stream
    // w >> vocabulary: a 4-row simultaneous collision is ~impossible,
    // so every estimate is exact
    TextAnalysis.cmsHeavyHitters(docs, "text", minCount = 5L, w = 1 << 20)
      .collect().foreach(r => assert(r.getLong(2) == r.getLong(1)))
  }
}

class TemperatureSampleSpec extends SparkSpec {
  import graft.ext.Sampling
  import spark.implicits._

  test("alpha=0.5 flattens toward uniform; binding domain whole; alpha=1 keeps all; bad alpha rejected") {
    val docs = ((0L until 900L).map(i => (i, "big")) ++
      (1000L until 1100L).map(i => (i, "small"))).toDF("id", "dom")
    val out = Sampling.temperatureSample(docs, "id", "dom", alpha = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDom = out.groupBy(_._2).view.mapValues(_.size).toMap
    // scale = min(c/sqrt(c)) = sqrt(100) = 10; keep_big = floor(sqrt(900)*10)
    assert(byDom("small") == 100)      // binding domain kept whole
    assert(byDom("big") == 300)        // 900 -> 300: flattened 9:1 -> 3:1
    // alpha = 1 is the identity mixture
    val all = Sampling.temperatureSample(docs, "id", "dom", alpha = 1.0)
    assert(all.count() == 1000)
    // alphas needing pow() are rejected (libm-dependent, not replayable)
    intercept[IllegalArgumentException] {
      Sampling.temperatureSample(docs, "id", "dom", alpha = 0.3)
    }
  }
}

class ChunkDocsSpec extends SparkSpec {
  import graft.ext.Packing
  import spark.implicits._

  test("chunks tile the token sequence: full coverage, exact overlap, short tail") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"), (3L, "   "), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = Packing.chunkDocs(docs, "text", "doc_id",
        window = 4, overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    // doc 3 (whitespace only) produces nothing
    assert(!out.exists(_._1 == 3L))
    // doc 1: 10 tokens, stride 3 -> chunks at 0,3,6,9
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2, 3))
    assert(d1.map(_._4).toSeq == Seq("t1 t2 t3 t4", "t4 t5 t6 t7",
      "t7 t8 t9 t10", "t10")) // 1-token overlap, short tail
    assert(d1.map(_._3).toSeq == Seq(4, 4, 4, 1))
    // doc 2 fits in one window; doc 4 is a single token
    assert(out.filter(_._1 == 2L).map(_._4).toSeq == Seq("a b c"))
    assert(out.filter(_._1 == 4L).map(_._4).toSeq == Seq("solo"))
  }
}

class KernelEquivalenceSpec extends SparkSpec {
  import graft.ext.Similarity
  import graft.functions.VectorFunctions
  import org.apache.spark.sql.expressions.Window
  import spark.implicits._

  test("assignCells == exploded row_number argmin, bitwise, incl. ties and zero vectors") {
    val rnd = new scala.util.Random(5)
    // 300 random vectors + a zero vector (NaN sims) + an exact copy of
    // vector 3 among the centroids (tie on every query)
    val data = (0L until 300L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))) :+
      (300L, Seq.fill(16)(0.0f))
    val vecs = data.toDF("n_id", "_v")
    val cents = vecs.filter(col("n_id") < 8)
      .unionByName(vecs.filter(col("n_id") === 3)
        .select((col("n_id") + 100).as("n_id"), col("_v")))
      .select(col("n_id").as("cent_id"), col("_v").as("_centv"),
        Similarity.norm2(col("_v")).as("_centn"))
    val got = Similarity.assignCells(vecs, cents, "_v")
      .select(col("n_id"), col("_cell"), col("_csim"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // reference formulation: the ×nCells explode + row_number argmin.
    // The zero vector is excluded here — dot/sqrt(0) trips ANSI
    // DIVIDE_BY_ZERO in the SQL formulation (a robustness edge the
    // kernel handles by ranking the NaN sim, asserted below).
    val w = Window.partitionBy(col("n_id"))
      .orderBy(col("_csim").desc, col("cent_id").asc)
    val want = vecs.filter(col("n_id") < 300).crossJoin(broadcast(cents))
      .withColumn("_csim", Similarity.dot(col("_v"), col("_centv"))
        / sqrt(Similarity.dot(col("_v"), col("_v")) * col("_centn")))
      .withColumn("_r", row_number().over(w)).filter(col("_r") === 1)
      .collect().map(r => r.getAs[Long]("n_id") ->
        ((r.getAs[Long]("cent_id"), r.getAs[Double]("_csim")))).toMap
    assert(got.keySet == want.keySet + 300L)
    want.foreach { case (id, (cell, sim)) =>
      assert(got(id)._1 == cell, s"cell mismatch for $id")
      assert(got(id)._2 == sim, s"sim mismatch for $id")
    }
    // the planted tie (centroid 103 == centroid 3) resolves to 3
    assert(got(3L)._1 == 3L)
    // the zero vector (all sims NaN) lands in the lowest centroid id
    assert(got(300L)._1 == 0L && got(300L)._2.isNaN)
  }

  test("PolyHashArray == the interpreted split/ascii/aggregate fold") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(200)
    val sh = graft.ext.Dedup.wordShingles(col("text"), 3)
    val columnFold = transform(sh, s =>
      aggregate(
        transform(filter(split(s, ""), c => length(c) > 0),
          c => ascii(c).cast("long")),
        lit(0L), (acc, c) => (acc * lit(31L) + c) % lit(1000000007L)))
    val rows = docs.select(
        VectorFunctions.polyHashAll(sh).as("k"), columnFold.as("f"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }
}

class Round5PlanShapeSpec extends SparkSpec {
  import graft.queries.Catalog

  private def executed(df: DataFrame): String = {
    df.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  private def catalogPlan(name: String): String =
    executed(Catalog.all.find(_.name == name).get.fn(spark, sf()))

  test("assignCells itself: no Window, no corpus shuffle (≤1 tiny Exchange for the packed centroids)") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val cents = emb.orderBy(col("vec_id").asc).limit(16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("_centv"),
        Similarity.norm2(col("embedding")).as("_centn"))
    val asg = Similarity.assignCells(
      emb.select(col("vec_id").as("n_id"), col("embedding").as("_v")),
      cents, "_v")
    val plan = executed(asg)
    assert(!plan.contains("Window"), s"window argmin resurfaced:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"corpus shuffle in assignment ($exchanges Exchanges):\n$plan")
    assert(plan.contains("nearestcentroid") || plan.contains("NearestCentroid")
      || plan.contains("BroadcastNestedLoopJoin"),
      s"broadcast fold missing:\n$plan")
  }

  test("q35 IVF: no assignment shuffle — corpus never hash-partitions on n_id") {
    val plan = catalogPlan("q35_ivf_ann")
    assert(!plan.contains("windowspecdefinition(n_id"),
      s"per-vector window resurfaced:\n$plan")
    assert(!plan.contains("hashpartitioning(n_id"),
      s"corpus shuffled on n_id:\n$plan")
  }

  test("q111 kmeans step: single Exchange family is the cell aggregation, no Window at all") {
    val plan = catalogPlan("q111_kmeans_step")
    assert(!plan.contains("Window"), s"window argmin resurfaced:\n$plan")
    assert(plan.contains("partial_"), s"no map-side combine:\n$plan")
  }

  test("q114 IVF-PQ: index-build assignment windowless") {
    val plan = catalogPlan("q114_ivfpq_topk")
    assert(!plan.contains("windowspecdefinition(n_id"),
      s"per-vector window resurfaced:\n$plan")
  }

  test("q118 portable LSH: candidates via equi-join, no cross product") {
    val plan = catalogPlan("q118_minhash_portable")
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("q120 trained IVF-PQ: index-build assignment windowless, broadcast ADC side") {
    val plan = catalogPlan("q120_ivfpq_trained")
    assert(!plan.contains("windowspecdefinition(n_id"),
      s"per-vector window resurfaced:\n$plan")
    assert(plan.contains("BroadcastExchange")
      || plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("q121 semantic curation: cell-key equi pair join, no cross product, no per-vector window") {
    val plan = catalogPlan("q121_semantic_curation")
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("windowspecdefinition(_id"),
      s"per-vector window resurfaced:\n$plan")
  }
}
