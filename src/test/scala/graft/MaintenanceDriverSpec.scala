package graft

import graft.ext.{Images, Similarity}
import graft.schema.Tables
import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The maintenance streams' one micro-batch driver
  * ([[Commits.runBatches]]), table-driven over the twelve streams it
  * starts: the hook cadence, the empty-batch rule, the job count of a
  * one-wave stream, and `stop()` in the middle of a batch. */
class MaintenanceDriverSpec extends SparkSpec {

  import spark.implicits._

  private val sc = spark.sparkContext

  /** One stream: its stores, the first fragment dir its batch 0
    * writes, how a wave (empty or not) lands in a landing dir, and how
    * it starts on (landing dir, checkpoint dir). Paths are local; the
    * stream is handed them through `at` of [[cases]]. */
  private final case class Case(name: String, stores: Seq[String],
      fragment: String, land: (String, Boolean) => Unit,
      start: (String, String) => StreamingQuery)

  private def parquetCase(name: String, rows: DataFrame,
      stores: Seq[String], fragment: String)(
      start: (DataFrame, String) => StreamingQuery): Case =
    Case(name, stores, fragment,
      (landing, empty) => rows.filter(lit(!empty)).coalesce(1)
        .write.mode("overwrite").parquet(landing),
      (landing, ckpt) =>
        start(spark.readStream.schema(rows.schema).parquet(landing), ckpt))

  /** Every stream the driver starts, each on fresh stores, with its
    * post-batch hooks switched on where it has any; `at` maps a local
    * store dir to the path the stream writes through. */
  private def cases(at: String => String = identity): Seq[Case] = {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    val edges = (0L until 40L).map(i => (i, (i * 7 + 3) % 40))
      .toDF("src", "dst")
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cb = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("_cb"),
        col("embedding").cast("array<double>").as("_cv"))
      .localCheckpoint()
    val cents = Similarity.coarseCentroids(emb.filter(col("vec_id") < 300),
      "vec_id", "embedding", 16).localCheckpoint()
    val media = Images.syntheticPngFrame(spark,
        (0L until 20L).toDF("doc_id"), "doc_id")
      .select(col("media_id"), col("payload")).localCheckpoint()
    val spec = Tables.registry("retail_order_migrations")
    def dirs(n: String*) = n.map(tmpDir)
    Seq(
      { val Seq(out) = dirs("hll")
        parquetCase("hll", docs.select(col("doc_id"),
            (col("doc_id") % 3).cast("string").as("k")), Seq(out),
          s"$out/batch=0") { (src, ck) =>
          HllMaintenance.start(src, "k", col("doc_id"), at(out), ck) } },
      { val Seq(out) = dirs("sketch")
        parquetCase("sketch", docs, Seq(out), s"$out/batch=0") {
          (src, ck) => SketchMaintenance.start(src, "text", at(out), ck,
            d = 3, w = 64) } },
      { val Seq(e, r) = dirs("graphe", "graphr")
        parquetCase("graph", edges, Seq(e, r), s"$e/batch=0") {
          (src, ck) => GraphMaintenance.start(src, "src", "dst", at(e),
            at(r), ck, compactEvery = 1, keepRanks = 2) } },
      { val Seq(e, l) = dirs("cce", "ccl")
        parquetCase("component", edges, Seq(e, l), s"$e/batch=0") {
          (src, ck) => ComponentMaintenance.start(src, "src", "dst", at(e),
            at(l), ck, keepState = 2) } },
      { val Seq(idx) = dirs("ann")
        parquetCase("ann", emb.filter(col("vec_id").between(300, 339)),
          Seq(idx), s"$idx/batch=0") { (src, ck) =>
          AnnIndexMaintenance.start(src, "vec_id", "embedding", cents, cb,
            at(idx), ck, compactEvery = 1) } },
      { val Seq(idx, spans) = dirs("sufidx", "sufspans")
        parquetCase("suffix", docs, Seq(idx, spans), s"$spans/batch=0") {
          (src, ck) => SuffixMaintenance.start(src, "text", "doc_id",
            at(idx), at(spans), ck, compactEvery = 1) } },
      { val Seq(out) = dirs("curation")
        parquetCase("curation", docs, Seq(out), s"$out/batch=0") {
          (src, ck) => CurationStream.start(src, "text", "doc_id", at(out),
            ck) } },
      { val Seq(out) = dirs("decontam")
        parquetCase("decontam", docs, Seq(out), s"$out/batch=0") {
          (src, ck) => DecontamStream.start(src,
            docs.filter(col("doc_id") < 5), "text", "doc_id", at(out), ck) } },
      { val Seq(idx, pairs) = dirs("dedidx", "dedpairs")
        parquetCase("dedup", docs, Seq(idx, pairs), s"$idx/batch=0") {
          (src, ck) => DedupMaintenance.start(src, "text", "doc_id", at(idx),
            at(pairs), ck, compactEvery = 1) } },
      { val Seq(store, pairs) = dirs("mstore", "mpairs")
        parquetCase("media", media, Seq(store, pairs), s"$store/batch=0") {
          (src, ck) => MediaDedupMaintenance.start(src, at(store), at(pairs),
            ck, compactEvery = 1) } },
      { val Seq(store, pairs) = dirs("ustore", "upairs")
        parquetCase("media unified", media, Seq(store, pairs),
          s"$store/batch=0") { (src, ck) =>
          MediaDedupMaintenance.startUnified(src, at(store), at(pairs), ck,
            compactEvery = 1) } },
      { val Seq(out) = dirs("ingest")
        Case("ingest", Seq(out), s"$out/${spec.name}",
          (landing, empty) => {
            val rows = if (empty) Nil else (1 to 20).map { i =>
              spec.columns.map {
                case "id" => s"$i"
                case "created_at" | "updated_at" => s"2024-0${i % 3 + 1}-05 10:00:00"
                case "pre_paid" | "main" => "t"
                case _ => "x"
              }.mkString(";")
            }
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(landing, "wave-000.csv"),
              (spec.columns.mkString(";") +: rows).mkString("\n"))
          },
          (landing, ck) => IncrementalIngest.start(spark, spec, landing,
            at(out), ck)) })
  }

  /** Names under `dir`, recursively (none when it does not exist). */
  private def tree(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c =>
        c.getName +: (if (c.isDirectory) walk(c) else Nil))
    walk(new java.io.File(dir))
  }

  test("the driver runs a hook after landed batches only, at its " +
      "(batchId + 1) % every cadence") {
    val landing = tmpDir("drvland")
    (0L until 4L).foreach(i => Seq(i).toDF("b").coalesce(1)
      .write.mode("append").parquet(landing))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    var current = -1L
    def hook(every: Int) = Commits.Hook(every, _ => ran.add(every -> current))
    Commits.runBatches(spark.readStream.schema("b LONG")
        .option("maxFilesPerTrigger", "1").parquet(landing),
      tmpDir("drvckpt"),
      org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      hook(2), hook(1), hook(0), hook(-1)) { (_, batchId) =>
      seen.add(batchId); current = batchId
      batchId != 1L // batch 1 lands nothing
    }.awaitTermination()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq == Seq(0L, 1L, 2L, 3L))
    assert(ran.asScala.toSeq.sorted ==
      Seq(1 -> 0L, 1 -> 2L, 1 -> 3L, 2 -> 3L),
      "hooks ran after an unlanded batch or off their cadence")
  }

  test("a zero-row wave runs as batch 0 in every stream, and leaves no " +
      "batch=, run= or retention entry in any of its stores") {
    cases().foreach { c =>
      val landing = tmpDir("emptywave")
      c.land(landing, true)
      val q = c.start(landing, tmpDir("emptyckpt"))
      q.awaitTermination()
      assert(q.recentProgress.exists(p =>
          p.batchId == 0L && p.numInputRows == 0L),
        s"${c.name}: the empty wave must run as batch 0: " +
          q.recentProgress.map(_.json).mkString("; "))
      val left = c.stores.flatMap(tree).filter(n =>
        Seq("batch=", "run=", "_runs.", "_retained.").exists(n.startsWith))
      assert(left.isEmpty, s"${c.name}: an empty batch landed $left")
      assert(!new java.io.File(c.fragment).exists,
        s"${c.name}: an empty batch left ${c.fragment}")
    }
  }

  /** Jobs a one-wave stream ran before the driver, with its
    * `batch.isEmpty` probe, for the eight streams that probed. */
  private val probedJobs = Map("hll" -> 3, "sketch" -> 3, "graph" -> 21,
    "component" -> 18, "ann" -> 10, "suffix" -> 70, "curation" -> 2,
    "decontam" -> 6)

  /** The same jobs through the driver: the emptiness comes from the
    * count each unit already computes. Ann's compaction reads its
    * input with the index's declared schema, so it runs no
    * schema-inference job either (9 when it inferred). */
  private val pinnedJobs = Map("hll" -> 2, "sketch" -> 2, "graph" -> 20,
    "component" -> 17, "ann" -> 8, "suffix" -> 69, "curation" -> 1,
    "decontam" -> 5)

  test("a one-wave stream runs one job fewer than with the isEmpty " +
      "probe, in each of the eight streams that probed") {
    val counts = cases().filter(c => pinnedJobs.contains(c.name)).map { c =>
      val landing = tmpDir("wave")
      c.land(landing, false)
      val ckpt = tmpDir("waveckpt")
      c.name -> jobsStartedDuring(c.start(landing, ckpt).awaitTermination())
        .size
    }.toMap
    info(s"jobs per one-wave stream: $counts")
    counts.foreach { case (name, n) =>
      assert(n == pinnedJobs(name), s"$name ran $n jobs")
      assert(n < probedJobs(name), s"$name: no job saved")
    }
  }

  test("stop() in the middle of a batch leaves none of the batch's jobs " +
      "running, in every stream") {
    val hc = sc.hadoopConfiguration
    hc.set("fs.slowfs.impl", "graft.sources.SlowFs")
    hc.setBoolean("fs.slowfs.impl.disable.cache", true)
    try cases(at = d => s"slowfs://$d").foreach { c =>
      val landing = tmpDir("stopwave")
      c.land(landing, false)
      hc.setLong("fs.slowfs.create.delay.ms", 60000L)
      val q = c.start(landing, tmpDir("stopckpt"))
      val started = try jobsStartedDuring {
        val frag = new java.io.File(c.fragment)
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (!frag.exists && q.isActive && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(frag.exists, s"${c.name}: the fragment write never " +
          s"started: ${q.exception}")
        // the write job is submitted right after its committer set-up;
        // its tasks then sleep in the slowed create for a minute
        Thread.sleep(1000)
        q.stop()
      } finally {
        q.stop()
        hc.unset("fs.slowfs.create.delay.ms")
      }
      assert(started.nonEmpty && !q.isActive,
        s"${c.name}: the query outlived stop()")
      val active = sc.statusTracker.getActiveJobIds.toSet
      val orphans = started.filter(active)
      assert(orphans.isEmpty, s"${c.name}: jobs ${orphans.mkString(", ")} " +
        "of the stopped batch are still running")
    } finally {
      hc.unset("fs.slowfs.create.delay.ms")
      hc.unset("fs.slowfs.impl.disable.cache")
    }
  }
}
