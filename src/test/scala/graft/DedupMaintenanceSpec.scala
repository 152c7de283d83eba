package graft

import graft.ext.{Dedup, Images}
import graft.streaming.{DedupMaintenance, MediaDedupMaintenance}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The text-dedup micro-batch: the one-stage pair plan against the
  * band join → distinct → shingle re-join formulation it replaced,
  * the map-only doc index against the batch banding, the job counts
  * of one text and one media batch, and the shared landing helper
  * under an interrupt. */
class DedupMaintenanceSpec extends SparkSpec {

  import spark.implicits._

  private def docs: DataFrame =
    spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))

  /** The pair plan before the one-stage rewrite, kept as the
    * reference: band join of the delta against base ∪ delta, a
    * `distinct` over the unordered pairs, `_sh` re-joined to each
    * side, Jaccard verify. */
  private def referencePairs(baseIdx: DataFrame, deltaIdx: DataFrame,
      threshold: Double): DataFrame = {
    def banded(idx: DataFrame): DataFrame = idx
      .select(col("_id"), explode(col("_bands")).as("_b"))
      .select(col("_id"), col("_b._bandNo").as("_bandNo"),
        col("_b._bandKey").as("_bandKey"))
    val all = banded(baseIdx).unionByName(banded(deltaIdx))
    val cand = banded(deltaIdx).select(col("_id").as("_d"), col("_bandNo"),
        col("_bandKey"))
      .join(all.select(col("_id").as("_o"), col("_bandNo"),
        col("_bandKey")), Seq("_bandNo", "_bandKey"))
      .filter(col("_d") =!= col("_o"))
      .select(least(col("_d"), col("_o")).as("doc_a"),
        greatest(col("_d"), col("_o")).as("doc_b"))
      .distinct()
    val sh = baseIdx.select(col("_id"), col("_sh"))
      .unionByName(deltaIdx.select(col("_id"), col("_sh")))
    cand
      .join(sh.select(col("_id").as("doc_a"), col("_sh").as("_sha")),
        Seq("doc_a"))
      .join(sh.select(col("_id").as("doc_b"), col("_sh").as("_shb")),
        Seq("doc_b"))
      .withColumn("jaccard", graft.functions.VectorFunctions
        .jaccardSorted(col("_sha"), col("_shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("one-stage delta pair plan emits exactly the reference plan's " +
      "(doc_a, doc_b, jaccard) rows, each once, and the doc index's " +
      "band array explodes to the batch banding") {
    val d = docs
    val maxId = d.agg(max(col("doc_id"))).head().getLong(0)
    // a base doc copied into the delta: collides in every band
    val src = d.filter(col("doc_id") % 10 =!= 0 &&
        size(split(col("text"), " ")) >= 12)
      .orderBy(col("doc_id")).head()
    val (srcId, srcText) = (src.getLong(0), src.getString(1))
    val (exactId, nearA, nearB) = (maxId + 1, maxId + 2, maxId + 3)
    // a delta×delta near pair: one word of 80 changed
    val words = (0 until 80).map(i => s"tok$i")
    val planted = Seq((exactId, srcText),
      (nearA, words.mkString(" ")),
      (nearB, words.updated(40, "changed").mkString(" ")))
      .toDF("doc_id", "text")
    val base = d.filter(col("doc_id") % 10 =!= 0)
    val delta = d.filter(col("doc_id") % 10 === 0).unionByName(planted)

    // the planted pairs collide where this spec needs them to
    val (_, plantedBands) = Dedup.minHashBandedPortable(
      planted.unionByName(Seq((srcId, srcText)).toDF("doc_id", "text")),
      "text", "doc_id", 3, 16, 4, 42L)
    val keys = plantedBands.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    def collisions(a: Long, b: Long): Int =
      (0 until 4).count(band => keys((a, band)) == keys((b, band)))
    assert(collisions(srcId, exactId) == 4)
    assert(collisions(nearA, nearB) >= 2,
      s"the delta×delta pair collides in ${collisions(nearA, nearB)} bands")

    val baseIdx = Dedup.minHashDocIndex(base, "text", "doc_id")
    val deltaIdx = Dedup.minHashDocIndex(delta, "text", "doc_id")
    val got = triples(
      Dedup.minHashDeltaPairsFromIndex(baseIdx, deltaIdx, 0.5))
    val want = triples(referencePairs(baseIdx, deltaIdx, 0.5))
    assert(got.size == got.distinct.size,
      s"${got.size - got.distinct.size} pairs emitted more than once")
    assert(got.toSet == want.toSet)
    assert(got.exists { case (a, b, j) =>
      a == srcId && b == exactId && j == 1.0 })
    assert(got.exists { case (a, b, _) => a == nearA && b == nearB })
    assert(got.exists { case (a, b, _) => a % 10 != 0 || b % 10 != 0 },
      "fixture must exercise delta×base pairs beyond the planted one")

    // stream banding == batch banding, at both band widths in use
    Seq(4, 2).foreach { rowsPerBand =>
      val exploded = Dedup.minHashDocIndex(delta, "text", "doc_id",
          rowsPerBand = rowsPerBand)
        .select(col("_id"), explode(col("_bands")).as("_b"))
        .select(col("_id"), col("_b._bandNo"), col("_b._bandKey"))
      val (_, banded) = Dedup.minHashBandedPortable(delta, "text",
        "doc_id", 3, 16, rowsPerBand, 42L)
      def rows(df: DataFrame): Seq[(Long, Int, String)] = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
      assert(rows(exploded) == rows(banded),
        s"doc-index bands diverge from the batch banding at " +
          s"rowsPerBand = $rowsPerBand")
    }
  }

  private val sc = spark.sparkContext

  test("a micro-batch against a non-empty index runs five jobs (nine " +
      "before the map-only index and the one-stage pair plan)") {
    val d = docs
    val idx = tmpDir("jobsidx")
    val pairs = tmpDir("jobspairs")
    val first = jobsStartedDuring(DedupMaintenance.processBatch(
      d.filter(col("doc_id") < 300), 0L, "text", "doc_id", idx, pairs))
    val second = jobsStartedDuring(DedupMaintenance.processBatch(
      d.filter(col("doc_id") >= 300), 1L, "text", "doc_id", idx, pairs))
    assert(first.size <= 5, s"first batch ran ${first.size} jobs")
    assert(second.size == 5, s"second batch ran ${second.size} jobs")
    assert(DedupMaintenance.readIndex(spark, idx).count() ==
      Dedup.minHashDocIndex(d, "text", "doc_id").count())
    assert(new java.io.File(s"$pairs/batch=1/_SUCCESS").exists)

    // the media stream's batch against a non-empty store: its
    // emptiness comes from the checkpoint's observed row count, not a
    // separate isEmpty job after the checkpoint
    val media = Images.syntheticPngFrame(spark,
        (0L until 80L).toDF("doc_id"), "doc_id")
      .select(col("media_id"), col("payload")).localCheckpoint()
    val store = tmpDir("jobsstore")
    val mpairs = tmpDir("jobsmpairs")
    assert(MediaDedupMaintenance.processBatch(
      media.filter(col("media_id") < 40), 0L, store, mpairs))
    val mediaJobs = jobsStartedDuring(assert(MediaDedupMaintenance
      .processBatch(media.filter(col("media_id") >= 40), 1L, store, mpairs)))
    assert(mediaJobs.size == 9, s"media batch ran ${mediaJobs.size} jobs")
    assert(!MediaDedupMaintenance.processBatch(
      media.filter(col("media_id") < 0), 2L, store, mpairs))
    assert(MediaDedupMaintenance.readFingerprints(spark, store).count() == 80)
  }

  /** Run `batch` on its own thread, interrupt it once its fragment
    * write (to `fragmentDir`, through the slowed create) is in
    * flight, and assert that none of the jobs it started is still
    * running when it has returned. */
  private def assertNoOrphanedLanding(name: String, fragmentDir: String)(
      batch: => Unit): Unit = {
    @volatile var failure: Throwable = null
    val started = jobsStartedDuring {
      val t = new Thread(() =>
        try batch catch { case e: Throwable => failure = e })
      t.start()
      val dir = new java.io.File(fragmentDir)
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!dir.exists && t.isAlive && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(dir.exists, s"$name: the fragment write never started")
      // the write job is submitted right after its committer set-up;
      // its tasks then sleep in the slowed create for a minute
      Thread.sleep(1000)
      t.interrupt()
      t.join(120000)
      assert(!t.isAlive, s"$name: the batch thread outlived the interrupt")
    }
    assert(failure != null, s"$name: the interrupted batch returned normally")
    val active = sc.statusTracker.getActiveJobIds.toSet
    val orphans = started.filter(active)
    assert(orphans.isEmpty,
      s"$name: jobs ${orphans.mkString(", ")} of the interrupted batch " +
        "are still running")
  }

  test("an interrupted micro-batch leaves none of its landing jobs " +
      "running, in the text and the media stream") {
    val hc = sc.hadoopConfiguration
    hc.set("fs.slowfs.impl", "graft.sources.SlowFs")
    hc.setBoolean("fs.slowfs.impl.disable.cache", true)
    hc.setLong("fs.slowfs.create.delay.ms", 60000L)
    try {
      val textIdx = tmpDir("slowindex")
      assertNoOrphanedLanding("text", s"$textIdx/batch=7")(
        DedupMaintenance.processBatch(docs.filter(col("doc_id") < 100),
          7L, "text", "doc_id", s"slowfs://$textIdx", tmpDir("slowpairs")))
      val media = Images.syntheticPngFrame(spark,
          (0L until 40L).toDF("doc_id"), "doc_id")
        .select(col("media_id"), col("payload"))
      val store = tmpDir("slowstore")
      assertNoOrphanedLanding("media", s"$store/batch=7")(
        MediaDedupMaintenance.processBatch(media, 7L, s"slowfs://$store",
          tmpDir("slowmpairs")))
    } finally {
      hc.unset("fs.slowfs.create.delay.ms")
      hc.unset("fs.slowfs.impl.disable.cache")
    }
  }
}
