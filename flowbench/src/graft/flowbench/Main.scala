package graft.flowbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one run shares with its workload: the session and the run's
  * work directory (inside the checkout). */
final class Ctx(val spark: SparkSession, val work: Path) {

  def dir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d
  }

  /** Run the benchmark's own output checks under a job group the
    * tracer leaves out. */
  def checking[A](body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.CheckGroup, "output check", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** A timed interval the benchmark opened around a call into the
  * engine: `kind` is op (what a user waits on; one kind of call per
  * workload), pass (a curation pass), stage (a part of an op or pass),
  * read or maint; `name` says which call. */
final case class Span(kind: String, name: String, round: Int,
    startNs: Long, endNs: Long, ok: Boolean) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Samples of one run. Every span and every output check is an
  * attempt; a thrown exception or a failed check is a failure. */
final class Samples {
  val spans = mutable.ArrayBuffer[Span]()
  val roundWalls = mutable.ArrayBuffer[(Int, Double, Boolean)]()
  val checkFailures = mutable.ArrayBuffer[String]()
  var round = 0
  /** Whether the current round is traced. */
  var traced = false
  var checks = 0

  var sc: org.apache.spark.SparkContext = _

  /** Time one call into `layer` (spans nest). Jobs started inside
    * carry the innermost span's layer and name as local properties,
    * for the tracer. */
  def time[A](kind: String, name: String, layer: String)(body: => A): A = {
    val outer = (sc.getLocalProperty(Tracer.LayerProp), sc.getLocalProperty(Tracer.SpanProp))
    sc.setLocalProperty(Tracer.LayerProp, layer)
    sc.setLocalProperty(Tracer.SpanProp, name)
    val t0 = System.nanoTime()
    try {
      val r = body
      spans += Span(kind, name, round, t0, System.nanoTime(), ok = true)
      r
    } catch {
      case e: Exception =>
        spans += Span(kind, name, round, t0, System.nanoTime(), ok = false)
        throw e
    } finally {
      sc.setLocalProperty(Tracer.LayerProp, outer._1)
      sc.setLocalProperty(Tracer.SpanProp, outer._2)
    }
  }

  def check(what: String)(ok: Boolean): Unit = {
    checks += 1
    if (!ok) {
      checkFailures += what
      System.err.println(s"[flowbench] CHECK FAILED: $what")
    }
  }

  def of(kind: String, rounds: Int => Boolean = _ => true): Seq[Span] =
    spans.filter(s => s.kind == kind && rounds(s.round)).toSeq
  def attempted: Int = spans.size
  def failedOps: Int = spans.count(!_.ok)
}

/** One workload: a fixed unit of work (a round) the measured phase
  * repeats from the same starting state until its time is up. */
trait Workload {
  /** Generate inputs and load the seed state. Called several times;
    * each call must leave a complete, reusable starting state. */
  def setup(ctx: Ctx): Unit
  /** One round, from the starting state. Ops and reads go through
    * `s.time`; per-round output checks through `s.check`. */
  def round(ctx: Ctx, s: Samples): Unit
  /** Run once before the measured phase and discarded, so the first
    * measured round does not pay each plan shape's first codegen and
    * JIT. A shorter version of a round is enough when it runs the
    * same calls. */
  def warmup(ctx: Ctx, s: Samples): Unit = round(ctx, s)
  /** Rounds the measured phase runs even when `--seconds` has passed:
    * enough that the median round does not depend on whether the
    * clock ran out just before or after a round. */
  def minRounds: Int = 1
  /** Input rows one round consumes. */
  def rowsPerRound: Long
  /** Output checks after the measured phase, on the last round. */
  def finalChecks(ctx: Ctx, s: Samples): Unit
  /** Bytes under the last round's output roots. */
  def storedBytes(ctx: Ctx): Long
  /** Workload-specific end-to-end readings that apply to it alone. */
  def extraEndToEnd(s: Samples, rounds: Int => Boolean): Map[String, Double] = Map.empty
  /** Workload-specific per-layer readings over the traced rounds. */
  def layers(ctx: Ctx, tr: Tracer, s: Samples, traced: Int => Boolean): Map[String, Double]

  private val oldRounds = mutable.ArrayBuffer[Path]()
  private var rounds = 0
  /** The current round's output root. */
  protected var roundDir: Path = _
  /** A fresh output root for the next round. */
  protected def newRoundDir(ctx: Ctx, prefix: String): Path = {
    if (roundDir != null) oldRounds += roundDir
    roundDir = ctx.work.resolve(s"$prefix-round-$rounds")
    rounds += 1
    roundDir
  }
  /** Delete every round's outputs but the current round's. */
  def cleanup(): Unit = { oldRounds.foreach(Main.deleteRecursively); oldRounds.clear() }
}

object Main {

  def usage(): Nothing = {
    System.err.println("usage: Main --workload <name> --seed <n> --seconds <s> " +
      "--trace <0|1> [--spec BENCHMARK.json] [--out <records dir>]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val wlName = kv.getOrElse("--workload", usage())
    val seed = kv.get("--seed").flatMap(_.toLongOption).getOrElse(usage())
    val seconds = kv.get("--seconds").flatMap(_.toDoubleOption).getOrElse(usage())
    val trace = kv.getOrElse("--trace", "0") == "1"
    val spec = Spec.load(Paths.get(kv.getOrElse("--spec", "BENCHMARK.json")))
    val outDir = Paths.get(kv.getOrElse("--out", ".bench_build/records"))
    if (!spec.workloads.contains(wlName)) {
      System.err.println(s"[flowbench] unknown workload '$wlName'; " +
        s"known: ${spec.workloads.mkString(", ")}")
      sys.exit(2)
    }
    val work = Paths.get(sys.props.getOrElse("flowbench.work",
      ".bench_build/work")).toAbsolutePath
      .resolve(s"$wlName-s$seed-t${if (trace) 1 else 0}-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val exit = try run(wlName, seed, seconds, trace, spec, work, outDir)
      finally deleteRecursively(work)
    sys.exit(exit)
  }

  private def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    SparkSession.builder()
      .master(s"local[$n]")
      .appName("flowbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.default.parallelism", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  def run(wlName: String, seed: Long, seconds: Double, trace: Boolean,
      spec: Spec, work: Path, outDir: Path): Int = {
    val machine = Machine.stamp()
    val t0 = System.nanoTime()
    val spark = session(work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val ctx = new Ctx(spark, work)
      val wl = Workloads.byName(wlName, seed)
      val setupTimes = (1 to SetupReps).map { _ =>
        val s0 = System.nanoTime()
        wl.setup(ctx)
        (System.nanoTime() - s0) / 1e9
      }
      val s = new Samples
      s.sc = spark.sparkContext
      // warm-up: the first run of each plan shape pays codegen and JIT
      // that no later round pays, so its timings are discarded; its
      // output checks count
      val w = new Samples
      w.sc = spark.sparkContext
      val w0 = System.nanoTime()
      val warmOk = try { wl.warmup(ctx, w); wl.cleanup(); true }
        catch { case e: Exception => e.printStackTrace(); false }
      val warmS = (System.nanoTime() - w0) / 1e9
      s.checks += w.checks
      s.checkFailures ++= w.checkFailures
      s.check("the warm-up round completed")(warmOk)
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val minRounds = math.max(wl.minRounds, if (trace) 2 else 1)
      var r = 0
      var aborted = !warmOk
      while (!aborted && (r < minRounds || System.nanoTime() < deadline)) {
        s.round = r
        // traced mode alternates traced and plain rounds: per-layer
        // numbers come from the traced ones, the tracing overhead is
        // the difference of the two kinds' median round walls
        val traced = trace && r % 2 == 0
        s.traced = traced
        if (traced) tracer.foreach(_.attach())
        val r0 = System.nanoTime()
        try wl.round(ctx, s)
        catch {
          case e: Exception =>
            System.err.println(s"[flowbench] round $r failed: $e")
            e.printStackTrace()
            aborted = true
        } finally if (traced) tracer.foreach(_.detach())
        s.roundWalls += ((r, (System.nanoTime() - r0) / 1e9, traced))
        if (!aborted) wl.cleanup()
        r += 1
      }
      val lastOk = !aborted
      if (lastOk) ctx.checking(wl.finalChecks(ctx, s))
      else s.check("every round completed")(false)
      val plain = s.roundWalls.filter(!_._3)
      val plainRounds = plain.map(_._1).toSet
      val wall = if (plain.isEmpty) Double.NaN else Stats.median(plain.map(_._2).toSeq)
      val ops = s.of("op", plainRounds).map(_.secs)
      val tail = Stats.tail(ops)
      val failed = s.failedOps + s.checkFailures.size
      val attempted = math.max(1, s.attempted + s.checks)
      val endToEnd = Map[String, Double](
        "setup_s" -> Stats.median(setupTimes),
        "wall_s" -> wall,
        "rows_per_s" -> wl.rowsPerRound / wall,
        "op_p50_s" -> (if (ops.isEmpty) Double.NaN else Stats.median(ops)),
        "op_tail_s" -> tail.map(_.value).getOrElse(
          if (ops.isEmpty) Double.NaN else ops.max),
        "stored_mb" -> (if (lastOk) wl.storedBytes(ctx) / 1048576.0 else Double.NaN),
        "peak_rss_mb" -> Machine.peakRssMb(),
        "failed_ratio" -> failed.toDouble / attempted) ++
        (if (lastOk) wl.extraEndToEnd(s, plainRounds) else Map.empty)
      val layerVals: Map[String, Double] = tracer.filter(_ => lastOk).map { tr =>
        val tracedRounds = s.roundWalls.filter(_._3).map(_._1).toSet
        val tracedWall = Stats.median(s.roundWalls.filter(_._3).map(_._2).toSeq)
        Layers.common(tr, s, tracedRounds) ++
          wl.layers(ctx, tr, s, tracedRounds) ++ Map(
            "trace.overhead_s" -> (tracedWall - wall),
            "trace.overhead_pct" -> 100.0 * (tracedWall - wall) / wall)
      }.getOrElse(Map.empty)
      val shown = if (trace) spec.perLayer else spec.endToEnd
      val src = if (trace) layerVals else endToEnd
      // a per-layer metric of a layer this workload never enters reads 0
      val metrics = shown.map { case (n, unit) =>
        n -> Map("value" -> src.getOrElse(n, if (trace) 0.0 else Double.NaN), "unit" -> unit)
      }
      val record = mutable.LinkedHashMap[String, Any](
        "workload" -> wlName, "seed" -> seed, "trace" -> trace,
        "seconds" -> seconds, "machine" -> machine,
        "session_s" -> sessionS, "setup_reps_s" -> setupTimes,
        "warmup_s" -> warmS,
        "rounds" -> s.roundWalls.map { case (i, secs, t) =>
          Map("round" -> i, "wall_s" -> secs, "traced" -> t) },
        "op_s" -> ops,
        "op_tail" -> tail.map(t => Map("value" -> t.value, "pct" -> t.pct,
          "n" -> t.n, "beyond" -> t.beyond)).getOrElse("fewer than 11 ops"),
        "end_to_end" -> endToEnd,
        "per_layer" -> layerVals,
        "check_failures" -> s.checkFailures)
      Files.createDirectories(outDir)
      val tag = s"$wlName-s$seed-t${if (trace) 1 else 0}"
      Files.writeString(outDir.resolve(s"$tag.json"), Json.render(record) + "\n")
      if (trace) Files.writeString(outDir.resolve(s"$tag-spans.jsonl"),
        s.spans.map(sp => Json.render(Map("kind" -> sp.kind, "name" -> sp.name,
          "round" -> sp.round, "start_ns" -> (sp.startNs - t0),
          "end_ns" -> (sp.endNs - t0), "ok" -> sp.ok))).mkString("\n") + "\n")
      System.out.println(s"[flowbench] record ${Json.render(record)}")
      val missing = metrics.collect { case (n, m)
        if m("value").asInstanceOf[Double].isNaN => n }
      if (missing.nonEmpty)
        System.err.println(s"[flowbench] no reading for: ${missing.mkString(", ")}")
      val result = mutable.LinkedHashMap[String, Any](
        "correct" -> (failed == 0 && missing.isEmpty),
        "attempted" -> attempted, "failed" -> failed,
        "metrics" -> mutable.LinkedHashMap(metrics: _*))
      System.out.println(Json.render(result))
      System.out.flush()
      0
    } finally spark.stop()
  }

  val SetupReps = 3

  def deleteRecursively(d: Path): Unit =
    if (Files.exists(d)) {
      val walk = Files.walk(d)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } finally walk.close()
    }

  def bytesUnder(d: Path): Long =
    if (!Files.exists(d)) 0L
    else {
      val walk = Files.walk(d)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally walk.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    } finally walk.close()
  }
}

/** The metric names and units `BENCHMARK.json` declares; the run
  * prints exactly these. */
final case class Spec(workloads: Seq[String], endToEnd: Seq[(String, String)],
    perLayer: Seq[(String, String)])

object Spec {
  def load(p: Path): Spec = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    import scala.jdk.CollectionConverters._
    def metrics(k: String) = m.get(k).elements().asScala.toSeq
      .map(x => x.get("name").asText -> x.get("unit").asText)
    Spec(m.get("workloads").elements().asScala.toSeq.map(_.get("name").asText),
      metrics("end_to_end"), metrics("per_layer"))
  }
}
