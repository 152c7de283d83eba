package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ext.{FrameMemo, TrainMemo}

/** The catalog's timing harness: every query is timed in two passes of
  * the same sorted order and the record adopts the smaller reading, so
  * a contention window shorter than a pass cannot reach both readings
  * of a query (a reversed second pass would put the middle queries'
  * readings side by side). Each pass starts from cleared memos in a
  * fresh session, so a memo group's shared work (q147's BPE training,
  * q188's span table) is charged to the same query in both passes
  * instead of dropping out of the minimum as a memo hit. */
object Bench {

  type Query = (SparkSession, String) => DataFrame

  /** Per query, in run order: its (seconds, failed) reading of each
    * pass. */
  final case class Measured(passes: Seq[(String, Seq[(Double, Boolean)])]) {

    /** The queries that failed in either pass, each once. */
    def failures: Seq[String] =
      passes.collect { case (n, rs) if rs.exists(_._2) => n }

    /** The minimum successful reading; the first pass's when none
      * succeeded. */
    def adopted: Seq[(String, Double)] = passes.map { case (n, rs) =>
      val ok = rs.collect { case (dt, false) => dt }
      n -> (if (ok.isEmpty) rs.head._1 else ok.min)
    }
  }

  /** The round-16 drift forensics (q207/q219/q151 reading 1.5-2x
    * their r13-quiet rows on byte-identical code and plans) landed on
    * the HOST's single-core envelope: that family is 1-task-stage /
    * driver-scheduling bound, and sandbox hosts differ across rounds
    * in single-core speed even when anchor (parallel map-only)
    * queries track within ~1.1x. This pure-JVM score makes the
    * envelope part of every record — no Spark, no I/O, deterministic
    * work — so cross-round comparisons can separate "host got slower
    * single-core" from "code got slower" mechanically. Returns
    * million-xorshift-steps/ms aggregated across `threads`. */
  @volatile private var cpuSink = 0L
  private def cpuScore(threads: Int): Double = {
    val iters = 200000000L
    def work(): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L; var acc = 0L
      while (i < iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
      }
      acc
    }
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => { cpuSink ^= work() })
      t.start(); t
    }
    ts.foreach(_.join())
    val ms = (System.nanoTime() - t0) / 1e6
    iters * threads / 1e6 / ms
  }

  /** Measure one catalog query (count + hygiene). A failed query must
    * be LOUD in the record: the old catch-and-continue made a broken
    * query look like a fast one (q189 recorded 0.15s exception paths
    * as wins). An interrupt is no query's failure: it ends the run. */
  private def runOne(spark: SparkSession, sfDir: String, name: String,
      fn: Query): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val failed =
      try { fn(spark, sfDir).count(); false }
      catch { case e: Throwable if !e.isInstanceOf[InterruptedException] =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        true
      }
    val dt = (System.nanoTime() - t0) / 1e9
    Session.hygiene(spark)
    (dt, failed)
  }

  /** Time `queries` in two passes of the given order, each pass in a
    * fresh session of `spark`'s context after clearing the cross-query
    * memos. */
  def measure(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)]): Measured = {
    val passes = (1 to 2).map { pass =>
      TrainMemo.clear()
      FrameMemo.clear()
      val s = spark.newSession()
      SparkSession.setActiveSession(s)
      try queries.map { case (name, fn) =>
        val r = runOne(s, sfDir, name, fn)
        System.err.println(f"[bench] pass $pass $name ${r._1}%.2fs")
        r
      } finally SparkSession.setActiveSession(spark)
    }
    Measured(queries.map(_._1).zip(passes.transpose))
  }

  /** The one-line record: `value` and `queries` carry the adopted
    * readings, `passes` both raw readings. */
  def record(m: Measured, machine: Seq[(String, Double)],
      sfDir: String): String = {
    def obj(kvs: Seq[(String, String)]) =
      kvs.map { case (k, v) => Jfmt.str(k) + ":" + v }.mkString("{", ",", "}")
    val adopted = m.adopted
    val qs = obj(adopted.map { case (n, dt) => n -> dt.toString })
    val fl = m.failures.map(Jfmt.str).mkString("[", ",", "]")
    val ps = obj(m.passes.map { case (n, rs) =>
      n -> rs.map(_._1).mkString("[", ",", "]") })
    val mc = obj(machine.map { case (k, v) => k -> Jfmt.f3(v) })
    s"""{"metric":"total","value":${adopted.map(_._2).sum},"unit":"sec","queries":$qs,"failures":$fl,"passes":$ps,"machine":$mc,"sf":${Jfmt.str(sfDir)}}"""
  }

  def main(args: Array[String]): Unit = {
    // scratch on tmpfs BEFORE Spark starts: the round-12 bench's 5-7x
    // per-query inflation was the file-landing/stream queries' disk
    // writeback bleeding into neighbors (Scratch's doc has the
    // numbers) — on tmpfs the interference class does not exist
    Scratch.preferTmpfs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (parquet listing, codegen, executor pool) so the
    // first measured query doesn't absorb one-time init
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case NonFatal(_) => }
    // events feeds the whole streaming family — warm its listing and
    // footers too, so the first stream query measures streaming cost,
    // not first-touch file metadata
    try spark.read.parquet(s"$sfDir/events.parquet").count()
    catch { case NonFatal(_) => }
    // warm the streaming machinery the same way (state store provider,
    // offset/commit logs, listener bus — paid once per JVM): a
    // one-batch stream over the 5-row region fixture that MIRRORS the
    // catalog's stateful operator stack — dedup state + agg state +
    // memory sink — so the first real stream query doesn't absorb
    // ~1s of provider/sink init (measured: q42 first-run 3.8s vs
    // 1.7s steady under the old bare count→noop warm)
    try {
      import org.apache.spark.sql.streaming.Trigger
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/region.parquet")
      val q = spark.readStream
        .schema(spark.read.parquet(p.toString).schema)
        .option("pathGlobFilter", p.getName)
        .parquet(p.getParent.toString)
        .dropDuplicates("r_regionkey")
        .groupBy().count()
        .writeStream.outputMode("complete")
        .format("memory").queryName("_warm_stream")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.catalog.dropTempView("_warm_stream")
    } catch { case NonFatal(_) => }
    // machine envelope BEFORE the loop (warm JIT: one discarded pass)
    cpuScore(1)
    val cpu1 = cpuScore(1)
    val cpuN = cpuScore(cpus)
    System.err.println(f"[bench] machine cpu1=$cpu1%.2f Msteps/ms-agg " +
      f"cpu$cpus=$cpuN%.2f")
    // optional arg: comma-separated query subset (local iteration only;
    // the driver invokes with no args = full catalog)
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    val measured = measure(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) })
    val json = record(measured,
      Seq("cpu1_msteps_ms" -> cpu1, s"cpu${cpus}_msteps_ms" -> cpuN), sfDir)
    // Durable copy of a full-catalog run first: the driver greps stdout
    // for the metric line, and rounds 1-2 both lost it to interleaved
    // shutdown noise. A subset run must not overwrite the committed
    // full record.
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Stop Spark BEFORE printing so state-store/executor shutdown chatter
    // can't land after (and bury) the metric line; then emit the metric
    // as the absolute last stdout line. ONE line only (round-19 verdict
    // #2): the legacy totals-only second line — a relic of rounds 3-4's
    // 4 KB stdout-tail truncation — was what the round-18 driver
    // captured as "the" record (no queries map), which zeroed the
    // round-19 per-query PERF comparison (n_common: 0). Today's driver
    // keeps the full line; the durable copy is BENCH_LOCAL.json.
    spark.stop()
    System.out.flush(); System.err.flush()
    println(json)
    System.out.flush()
  }
}
