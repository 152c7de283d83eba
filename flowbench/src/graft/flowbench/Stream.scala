package graft.flowbench

import graft.ext.Dedup
import graft.streaming.{Commits, DedupMaintenance}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable

/** The stream half of `curate_stream`: waves of document files land
  * one after another; after each, `DedupMaintenance.start` drains it
  * with `Trigger.AvailableNow` on one persistent checkpoint, joining
  * the wave against the accrued index. Every `CompactEvery` waves the
  * index is folded with `DedupMaintenance.compactIndex` (the call
  * `compactEvery` makes inside the stream), timed on its own as
  * maintenance. */
final class DedupStream(seed: Long) extends Workload {
  import DedupStream._

  /** Wave w's docs; later waves plant near duplicates of earlier
    * waves' docs and of their own. */
  private val waves: IndexedSeq[Seq[(Long, String)]] = {
    val gen = new TextGen(seed)
    val r = new java.util.Random(seed * 7919L + 3)
    val all = mutable.ArrayBuffer[(Long, String)]()
    (0 until Waves).map { w =>
      val wave = mutable.ArrayBuffer[(Long, String)]()
      def add(t: String): Unit = { val d = (all.size + wave.size + 1L, t); wave += d }
      (0 until DocsPerWave).foreach { i =>
        val pool = all ++ wave
        if (pool.nonEmpty && i % 6 == 5) add(gen.variant(r, pool(r.nextInt(pool.size))._2, 2))
        else add(gen.doc(r, 30 + r.nextInt(40)))
      }
      all ++= wave
      wave.toSeq
    }
  }

  private var staged: Path = _

  def setup(ctx: Ctx): Unit = {
    staged = ctx.dir("stream-waves")
    writeWaves(staged)
  }

  /** One JSON-lines file per wave. */
  def writeWaves(dir: Path): Unit = {
    Files.createDirectories(dir)
    waves.zipWithIndex.foreach { case (docs, w) =>
      Files.write(dir.resolve(f"wave-$w%03d.json"), docs.map { case (i, t) =>
        Json.render(Map("doc_id" -> i, "text" -> t)) }.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    }
  }

  def rowsPerRound: Long = waves.map(_.size.toLong).sum

  private def dirs = (roundDir.resolve("landing"), roundDir.resolve("index"),
    roundDir.resolve("pairs"), roundDir.resolve("checkpoint"))

  def round(ctx: Ctx, s: Samples): Unit = {
    val spark = ctx.spark
    newRoundDir(ctx, "stream")
    val (landing, index, pairs, ckpt) = dirs
    Files.createDirectories(landing)
    waves.indices.foreach { w =>
      s.time("op", "wave", "streaming") {
        val name = f"wave-$w%03d.json"
        val tmp = landing.resolve(s".$name.tmp")
        Files.copy(staged.resolve(name), tmp)
        Files.move(tmp, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        val source = spark.readStream.schema(Corpus.DocSchema).json(landing.toString)
        val q = s.time("stage", "start", "streaming") {
          DedupMaintenance.start(source, "text", "doc_id", index.toString,
            pairs.toString, ckpt.toString, trigger = Trigger.AvailableNow())
        }
        q.awaitTermination()
      }
      if ((w + 1) % CompactEvery == 0)
        s.time("maint", "compact", "streaming") {
          DedupMaintenance.compactIndex(spark, index.toString)
        }
    }
  }

  def storedBytes(ctx: Ctx): Long = {
    val (_, index, pairs, _) = dirs
    Main.bytesUnder(index) + Main.bytesUnder(pairs)
  }

  private def emitted(ctx: Ctx): (Long, Long) = {
    val (_, _, pairs, _) = dirs
    val df = ctx.spark.read.parquet(pairs.toString).select("doc_a", "doc_b")
    (df.count(), df.distinct().count())
  }

  def finalChecks(ctx: Ctx, s: Samples): Unit = {
    val spark = ctx.spark
    val (_, _, pairs, _) = dirs
    val streamed = spark.read.parquet(pairs.toString).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    s.check(s"no pair emitted twice (${streamed.length - streamed.distinct.length} repeats)")(
      streamed.length == streamed.distinct.length)
    import spark.implicits._
    val docs = waves.flatten.toDF("doc_id", "text")
    val batch = Dedup.minHashLshPairsPortable(docs, "text", "doc_id")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    s.check(s"streamed pairs (${streamed.toSet.size}) equal the batch pair set (${batch.size})")(
      streamed.toSet == batch)
    s.check("the run found near-duplicate pairs")(batch.nonEmpty)
  }

  override def extraEndToEnd(s: Samples, rounds: Int => Boolean): Map[String, Double] = {
    val m = s.of("maint", rounds).map(_.secs)
    Map("maint_s" -> (if (m.isEmpty) 0.0 else Stats.median(m)))
  }

  def layers(ctx: Ctx, tr: Tracer, s: Samples, traced: Int => Boolean): Map[String, Double] = {
    val waves = s.of("op", traced).count(_.name == "wave").max(1).toDouble
    def dur(k: String) = tr.progress.map(_.getOrElse(k, 0L)).sum / waves
    val (_, index, _, _) = dirs
    val (n, distinct) = emitted(ctx)
    val starts = s.of("stage", traced).filter(_.name == "start").map(_.secs * 1000)
    Map(
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.start_ms" -> (if (starts.isEmpty) 0.0 else Stats.median(starts)),
      "streaming.index_fragments" ->
        Commits.fragmentRoots(ctx.spark, index.toString).size.toDouble,
      "streaming.pairs_emitted" -> n.toDouble,
      "streaming.duplicate_pairs" -> (n - distinct).toDouble)
  }
}

object DedupStream {
  val Waves = 3
  val DocsPerWave = 120
  val CompactEvery = 2
}
