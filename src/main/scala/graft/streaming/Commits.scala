package graft.streaming

import graft.state.Claims
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The ONE definition of the maintenance-family commit-detection
  * rule (previously duplicated verbatim in [[HllMaintenance]] and
  * [[MediaDedupMaintenance]] — two copies of a subtle rule drift):
  * a `batch=<n>` fragment dir is COMMITTED when the `_SUCCESS` job
  * marker exists; when the deployment DISABLES job-commit markers
  * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, common
  * on object stores — read off the LIVE Hadoop conf, so the rule
  * matches what the writer actually did), committed instead means
  * the dir holds finalized `part-*` data files and no `_temporary`
  * staging dir (the committer only renames part files out of
  * `_temporary` at commit, so their visibility IS the commit signal
  * there). Without the conditional fallback a marker-less deployment
  * silently merges ZERO fragments; with an UNconditional fallback a
  * marker-enabled deployment loses in-flight invisibility.
  *
  * This object also owns the fragment stores' LSM compaction
  * protocol, SIZE-TIERED (O'Neil et al. 1996 LSM-tree; the
  * RocksDB-universal-compaction shape): a store holds up to
  * `maxRuns` sorted RUNS (`run=<rid>` dirs) plus the un-folded
  * `batch=<n>` tail; each fold writes the tail as a new run and
  * absorbs existing runs SMALLEST-FIRST only while they are within
  * `sizeRatio` of the bytes being written anyway — so per-fold write
  * cost tracks the FOLDED bytes, not store size, and cumulative
  * compaction I/O over a long-lived stream is O(N log N) instead of
  * the single-level fold's O(N²/period). The live run set rides a
  * VERSIONED MANIFEST (`_runs.<ver>`, max version wins, claimed
  * through [[graft.state.Claims]] — per-attempt tmp, no-clobber
  * rename — AFTER the new run commits and BEFORE any folded input is
  * deleted) — every crash window leaves a correct view: manifest
  * missing → the previous manifest's inputs are all still present;
  * manifest present → the runs it names are committed. Cleanup is GRACE-DEFERRED: a fold deletes only inputs
  * that were already dead in the PREVIOUS manifest, so a concurrent
  * monitor whose lazy scan planned against the pre-fold roots keeps
  * its files for at least one full maintenance interval (the
  * concurrent-monitor contract `readFingerprints`/`readIndex`
  * document; monitors slower than a whole fold interval are outside
  * it). A maintenance call that finds NOTHING to fold still runs the
  * cleanup, so an interrupted fold's garbage — or a retired stream's
  * grace leftovers — is reclaimed on the next call rather than
  * lingering forever.
  *
  * It also owns the streams' one micro-batch driver ([[runBatches]])
  * and their one empty-aware fragment write ([[landFragment]]). */
object Commits {

  /** One live sorted run of a tiered store: its directory name under
    * the store root (`run=<rid>`) and its byte size — recorded in the
    * manifest so tiering decisions never re-list run contents. */
  final case class RunInfo(name: String, bytes: Long)

  /** The persisted state of a tiered store: `ver` the manifest
    * version (max wins), `upTo` the batch id up to (and including)
    * which fragments have been folded into runs (None = nothing
    * folded yet), `next` the next run id to allocate (monotonic —
    * a crashed fold's orphan run dir is either overwritten by the
    * reused id or swept as not-live), `runs` the live run set. An
    * empty store's state has `ver` -1. */
  final case class RunManifest(ver: Long, upTo: Option[Long],
      next: Long, runs: Seq[RunInfo])

  private def batchId(p: Path): Long =
    p.getName.stripPrefix("batch=").toLong

  private def storeFs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive byte size of one run/fragment dir — used only at fold
    * time on the handful of dirs being folded (runs carry their
    * bytes in the manifest; the content-summary walk is never run
    * over the whole store). */
  private def dirBytes(fs: FileSystem, p: Path): Long =
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L

  /** The current manifest of a possibly-tiered store: the
    * max-version `_runs.<ver>` file when one exists, the empty state
    * otherwise. */
  def runManifest(spark: SparkSession, dir: String): RunManifest = {
    val root = new Path(dir)
    val fs = storeFs(spark, dir)
    val vers = Claims.numbered(fs, root, "_runs.")
    if (vers.isEmpty) RunManifest(-1L, None, 0L, Nil)
    else {
      val ver = vers.last
      val text = Claims.read(fs, new Path(root, s"_runs.$ver"))
      // loud on a torn manifest: the claim's tmp+rename makes one
      // impossible in normal operation, so a parse failure is real
      // corruption and silently treating it as empty would re-read
      // folded-away fragments as if never folded
      val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
      def one(k: String): Option[String] = {
        val vs = lines.filter(_.startsWith(k + "=")).map(_.drop(k.length + 1))
        require(vs.length <= 1, s"corrupt run manifest _runs.$ver: " +
          s"${vs.length} '$k=' lines")
        vs.headOption
      }
      val next = one("next").flatMap(_.toLongOption).getOrElse(
        throw new IllegalStateException(
          s"corrupt run manifest _runs.$ver in $dir: missing next="))
      val upTo = one("upTo").map(v => v.toLongOption.getOrElse(
        throw new IllegalStateException(
          s"corrupt run manifest _runs.$ver in $dir: bad upTo=$v")))
      val runs = lines.filter(_.startsWith("run=")).map { l =>
        val i = l.lastIndexOf(':')
        require(i > 0, s"corrupt run line '$l' in _runs.$ver")
        RunInfo(l.take(i), l.drop(i + 1).toLong)
      }.toSeq
      RunManifest(ver, upTo, next, runs)
    }
  }

  /** Claim a manifest version ([[graft.state.Claims.claim]]): the
    * manifest is visible fully-written or not at all, and a fold that
    * lost the version to a racer raises
    * [[graft.state.Claims.Conflict]]. */
  private def writeRunManifest(spark: SparkSession, dir: String,
      m: RunManifest): Unit =
    Claims.claim(spark, new Path(dir, s"_runs.${m.ver}"),
      (m.upTo.map(u => s"upTo=$u").toSeq ++ Seq(s"next=${m.next}") ++
        m.runs.map(r => s"${r.name}:${r.bytes}")).mkString("\n"))

  /** The readable roots of a possibly-compacted fragment store: the
    * live runs (from the manifest) plus the committed `batch=<n>`
    * fragments NEWER than the folded high-water mark. Folding is transparent to readers that
    * consume the whole store, and stays EXACT for aggregating stores
    * whose fold merges by an associative law (HLL register max,
    * count-min cell sum); what a fold does give up is the
    * point-in-time view BELOW the folded mark — a run mixes batches
    * and cannot be subset, so bounded reads there must refuse loudly
    * ([[foldedUpTo]]). Only wholesale-superseded SNAPSHOT stores
    * (PageRank ranks, component labels) are not foldable at all;
    * those take a RETENTION cut instead ([[retainNewest]]).
    *
    * Readers that pair a bounded-read refusal check with the roots
    * MUST use the manifest-taking overload with ONE
    * [[runManifest]] read — calling [[foldedUpTo]] and then this
    * method reads the manifest twice, and a concurrent fold
    * committing between the reads advances the mark past the bound
    * the check approved, silently including future batches. */
  def fragmentRoots(spark: SparkSession, dir: String): Seq[String] =
    fragmentRoots(spark, dir, runManifest(spark, dir))

  /** [[fragmentRoots]] against a caller-held manifest snapshot — the
    * check-then-read TOCTOU fix: the refusal check and the roots see
    * the SAME `upTo`/run set. The tail listing races only against
    * grace-deferred cleanup, which never deletes a fragment the
    * snapshot's `upTo` still includes. */
  def fragmentRoots(spark: SparkSession, dir: String,
      m: RunManifest): Seq[String] = {
    val tail = committedBatchDirs(spark, dir)
      .filter(p => m.upTo.forall(batchId(p) > _))
    m.runs.map(r => s"$dir/${r.name}") ++ tail.map(_.toString)
  }

  /** [[fragmentRoots]] without the `batch=<batchId>` fragment — the
    * store as a batch's own pair join must read it while
    * [[landConcurrently]] overwrites that fragment. Excluding it
    * changes no pair: the join already anti-joins the batch's ids out
    * of the store side. */
  def fragmentRootsExcept(spark: SparkSession, dir: String,
      batchId: Long): Seq[String] =
    fragmentRoots(spark, dir)
      .filterNot(r => new Path(r).getName == s"batch=$batchId")

  /** The folded high-water mark — fragments with ids ≤ this are
    * folded into runs and excluded from the tail by every reader. */
  def foldedUpTo(spark: SparkSession, dir: String): Option[Long] =
    runManifest(spark, dir).upTo

  /** The ONE safe form of a BOUNDED read over a foldable store: the
    * readable roots restricted to fragments with id ≤ `upToBatch`,
    * refusing loudly (message built by `refuse(foldedUpTo,
    * requestedBound)`) when the bound falls below the folded mark — a
    * run mixes batches and cannot be subset. Check and roots ride ONE
    * manifest read, so a concurrent fold committing mid-call can
    * never slip future batches past an already-approved bound (the
    * TOCTOU every bounded reader used to hand-roll — and that a new
    * reader copying from an unfixed template would reintroduce). */
  def boundedRoots(spark: SparkSession, dir: String,
      upToBatch: Option[Long],
      refuse: (Long, Long) => String): Seq[String] = {
    val m = runManifest(spark, dir)
    m.upTo.foreach(u =>
      upToBatch.foreach(b => require(b >= u, refuse(u, b))))
    fragmentRoots(spark, dir, m).filter { r =>
      val n = r.split('/').last
      !n.startsWith("batch=") ||
        upToBatch.forall(n.stripPrefix("batch=").toLong <= _)
    }
  }

  /** The ONE safe form of a retention-floored SNAPSHOT read: the
    * newest `batch=<n>` snapshot with id < `beforeBatch` (None = the
    * newest of all), refusing loudly when the bound falls at or below
    * a retention floor ([[retainNewest]]'s `_retained.<floor>`
    * marker). The floor is re-checked AFTER the listing — a
    * concurrent cut racing the list must trip the loud floor, never
    * return a silent None cold start — and a listed-then-deleted
    * snapshot retries against the strictly newer state (floors are
    * monotonic, so no livelock). `noun` names the store in the
    * refusal message. */
  def readNewestSnapshot(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      beforeBatch: Option[Long], noun: String)
      : Option[org.apache.spark.sql.DataFrame] = {
    val path = new Path(dir)
    val fs = storeFs(spark, dir)
    if (!fs.exists(path)) return None
    def floorCheck(): Unit =
      retainedFloor(spark, dir).foreach(f =>
        beforeBatch.foreach(b => require(b > f,
          s"$noun before batch $b were cut by retention " +
            s"(floor $f) — point-in-time read refused")))
    floorCheck()
    val ids = fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("batch=") =>
        s.stripPrefix("batch=").toLong }
      .filter(id => beforeBatch.forall(id < _))
    if (ids.isEmpty) {
      floorCheck()
      None
    } else {
      val chosen = new Path(path, s"batch=${ids.max}")
      if (fs.exists(chosen))
        Some(spark.read.schema(schema).parquet(chosen.toString))
      else {
        floorCheck()
        readNewestSnapshot(spark, dir, schema, beforeBatch, noun)
      }
    }
  }

  /** SIZE-TIERED fold of a fragment store — the generic protocol;
    * `rewrite(inputs, outDir)` owns the data layout (flat repartition
    * for row stores, partitionBy+sort for the banded media store).
    *
    * Per call: the committed tail (fragments newer than the folded
    * mark) becomes one new run; existing runs are absorbed
    * smallest-first while `run.bytes <= mergedBytes * sizeRatio`
    * (absorbing at most multiplies the write we were doing anyway —
    * the universal-compaction criterion, which leaves surviving runs
    * geometrically spaced, O(log store/batch) of them), then further
    * while the live run count would exceed `maxRuns`. With
    * `maxRuns = 1` every fold merges everything — the single-level
    * behavior, for stores small enough not to care.
    *
    * Crash-window discipline: new run written (Overwrite — a crashed
    * attempt's orphan is simply overwritten when its id is reused,
    * or swept as not-live) → manifest claimed → grace cleanup of
    * inputs dead since the PREVIOUS manifest. A call with an empty
    * tail runs just the cleanup, so interrupted folds and retired
    * streams converge to a garbage-free store on the next maintenance
    * call instead of never. */
  def tieredCompact(spark: SparkSession, dir: String,
      rewrite: (Seq[String], String) => Unit, maxRuns: Int = 4,
      sizeRatio: Double = 2.0): Unit = {
    require(maxRuns >= 1, s"maxRuns must be >= 1, got $maxRuns")
    val fs = storeFs(spark, dir)
    val prev = runManifest(spark, dir)
    val tail = committedBatchDirs(spark, dir)
      .filter(p => prev.upTo.forall(batchId(p) > _))
    if (tail.isEmpty) {
      if (prev.ver >= 0) cleanup(spark, dir, prev)
      return
    }
    val newUpTo = (tail.map(batchId) ++ prev.upTo).max
    val tailBytes = math.max(1L, tail.map(p => dirBytes(fs, p)).sum)
    val sorted = prev.runs.sortBy(_.bytes)
    var mergedBytes = tailBytes
    var k = 0
    while (k < sorted.size && sorted(k).bytes <= mergedBytes * sizeRatio) {
      mergedBytes += sorted(k).bytes; k += 1
    }
    while (sorted.size - k + 1 > maxRuns && k < sorted.size) {
      mergedBytes += sorted(k).bytes; k += 1
    }
    val absorbed = sorted.take(k)
    val survivors = sorted.drop(k)
    val newName = s"run=${prev.next}"
    rewrite(tail.map(_.toString) ++ absorbed.map(r => s"$dir/${r.name}"),
      s"$dir/$newName")
    val newRun = RunInfo(newName, dirBytes(fs, new Path(dir, newName)))
    writeRunManifest(spark, dir, RunManifest(prev.ver + 1, Some(newUpTo),
      prev.next + 1, survivors :+ newRun))
    cleanup(spark, dir, prev)
  }

  /** Delete everything that was already DEAD as of manifest `m`:
    * fragments at or below its folded mark, run dirs it does not list
    * (excluding run ids it had not allocated yet — those belong to the
    * fold that is committing right now), and manifests older than it.
    * Called with the PREVIOUS manifest at fold time (grace: this fold's
    * own inputs stay one more interval) and with the CURRENT manifest
    * on an empty-tail call (their grace has elapsed). Also deletes the
    * claim tmps of manifest versions already claimed: a crashed or
    * losing fold's staging, which nothing else would ever reclaim. */
  private def cleanup(spark: SparkSession, dir: String,
      m: RunManifest): Unit = {
    val root = new Path(dir)
    val fs = storeFs(spark, dir)
    if (!fs.exists(root)) return
    val live = m.runs.map(_.name).toSet
    val entries = fs.listStatus(root).toSeq
    val claimed = entries.flatMap(e =>
      Claims.number(e.getPath.getName, "_runs.")).maxOption
    entries.foreach { e =>
      val n = e.getPath.getName
      val stale =
        (n.startsWith("batch=") &&
          n.stripPrefix("batch=").toLongOption.exists(id =>
            m.upTo.exists(id <= _))) ||
        (n.startsWith("run=") && !live(n) &&
          n.stripPrefix("run=").toLongOption.exists(_ < m.next)) ||
        Claims.number(n, "_runs.").exists(_ < m.ver) ||
        Claims.stagedFor(n).flatMap(Claims.number(_, "_runs."))
          .exists(v => claimed.exists(v <= _))
      if (stale) fs.delete(e.getPath, true)
    }
  }

  /** Tiered LSM fold for a FLAT (un-partitioned) fragment store —
    * [[tieredCompact]] with the plain row layout. The partitioned
    * (banded) variant lives with its layout
    * ([[graft.streaming.MediaDedupMaintenance.compactUnifiedStore]]). */
  def compactFlatStore(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      outFiles: Int = 4, maxRuns: Int = 4,
      sizeRatio: Double = 2.0): Unit =
    tieredCompact(spark, dir, (inputs, out) =>
      spark.read.schema(schema).parquet(inputs: _*)
        .repartition(outFiles)
        .write.mode("overwrite").parquet(out),
      maxRuns, sizeRatio)

  /** RETENTION cut for SNAPSHOT/point-in-time stores — the complement
    * of folding for stores a fold would BREAK: complete-state
    * snapshot stores (graph edges, components) where old `batch=`
    * dirs are superseded wholesale, and register stores (HLL) whose
    * `upToBatch` point-in-time reads need every fragment within the
    * horizon. Keeps the newest `keep` committed fragments, deletes
    * the rest, and advances a versioned `_retained.<floor>` marker
    * (max wins, written BEFORE the deletes — the crash window leaves
    * the marker conservative, never data-less) so readers can refuse
    * loudly below the horizon ([[retainedFloor]]) instead of
    * returning silently-wrong partial state. */
  def retainNewest(spark: SparkSession, dir: String, keep: Int): Unit = {
    require(keep >= 1, s"retention must keep at least 1 snapshot, got $keep")
    val fs = storeFs(spark, dir)
    val committed = committedBatchDirs(spark, dir).sortBy(batchId)
    if (committed.size <= keep) return
    val victims = committed.dropRight(keep)
    val floor = batchId(committed(victims.size)) // oldest KEPT id
    // a conflict is the same floor's marker, already present
    try Claims.claim(spark, new Path(dir, s"_retained.$floor"),
      floor.toString)
    catch { case _: Claims.Conflict => }
    victims.foreach(p => fs.delete(p, true))
    // older markers are now redundant (max wins) — sweep them
    Claims.numbered(fs, new Path(dir), "_retained.").filter(_ < floor)
      .foreach(f => fs.delete(new Path(dir, s"_retained.$f"), false))
  }

  /** The oldest batch id retention has promised still exists — reads
    * at or above it are complete; a point-in-time read BELOW it must
    * refuse loudly (its fragments are gone). None = never cut. */
  def retainedFloor(spark: SparkSession, dir: String): Option[Long] =
    Claims.numbered(storeFs(spark, dir), new Path(dir), "_retained.")
      .lastOption

  /** A post-batch hook of [[runBatches]]: `run` after every landed
    * batch whose id `b` has `(b + 1) % every == 0` — `every = 1` runs
    * it after each landed batch (a retention cut's `keep min 1`),
    * `every <= 0` never. */
  final case class Hook(every: Int, run: SparkSession => Unit)

  /** The ONE micro-batch driver of the maintenance streams: starts
    * `source` with `checkpointDir` and `trigger`, hands each
    * micro-batch and its id to `unit`, and runs the `hooks` (store
    * folds, retention cuts) only after a batch `unit` reports landed.
    *
    * Exactly-once on storage is the units' discipline, which this
    * driver relies on: a unit overwrites only its own `batch=<id>`
    * outputs, and Structured Streaming's checkpoint makes
    * `foreachBatch` replays batch-id-stable — the same id always
    * carries the same source offsets — so a batch retried after any
    * failure rewrites the same rows. A unit decides emptiness from a
    * count it already computes ([[landFragment]]'s observed row
    * count, a checkpoint's) and reports `false` having landed
    * nothing; no separate emptiness job runs. `stop()` cancels the
    * running batch's jobs with the query's own job group; landings
    * under [[landConcurrently]] cancel theirs on the interrupt. */
  def runBatches(source: DataFrame, checkpointDir: String,
      trigger: Trigger, hooks: Hook*)(
      unit: (DataFrame, Long) => Boolean): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (unit(batch, batchId))
          hooks.filter(h => h.every > 0 && (batchId + 1) % h.every == 0)
            .foreach(_.run(batch.sparkSession))
      }
      .start()

  /** Overwrite-write `df` as the fragment dir `dir` (partitioned by
    * `partitionBy`) and report whether it held a row, counted by an
    * `observe` on the write itself. An empty write still leaves a
    * schema-only part file (or only `_SUCCESS` when partitioned), so
    * on a zero count the dir is deleted: an empty batch lands
    * nothing. Until the delete — or, after a crash between the two,
    * until the batch's replay — the empty fragment is committed. */
  def landFragment(df: DataFrame, dir: String,
      partitionBy: Seq[String] = Nil): Boolean = {
    val rows = new Observation()
    df.observe(rows, count(lit(1)).as("n"))
      .write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dir)
    val landed = rows.get("n") != 0L
    if (!landed) storeFs(df.sparkSession, dir).delete(new Path(dir), true)
    landed
  }

  /** Daemon pool for [[landConcurrently]] — threads are reused
    * across batches and never pin JVM shutdown. */
  private lazy val landingPool =
    java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "graft-landing")
        t.setDaemon(true); t
      })

  /** Run independent `landings` concurrently, each named one on a
    * pooled driver thread, and return when all have. Callers land
    * outputs that do not read each other: a micro-batch's store
    * fragment and its pairs (batch i's fragment only matters to batch
    * i+1's store read — a replayed batch's pairs read the store through
    * [[fragmentRootsExcept]]), or an incremental run's tables. Each is
    * a handful of short jobs whose driver-side planning gaps dominate;
    * overlapped, the wall is the slowest landing instead of the sum.
    *
    * Every landing completes before this returns, so whatever the
    * caller commits afterwards (a stream's checkpoint, a run's
    * watermarks) commits only work that is done: any failure fails
    * the call, and the replay rewrites every output.
    *
    * The threads run under the caller's local properties and one job
    * group of their own. On the first failure, or an interrupt of the
    * calling thread, that group's jobs are cancelled — running ones
    * and any submitted later (an adaptive plan's broadcast can start
    * after the cancel) — and the helper waits, uninterruptibly, for
    * every landing to return before it rethrows. No write outlives the
    * call. The first failure is rethrown; later ones ride along as
    * suppressed. */
  def landConcurrently(spark: SparkSession)(
      landings: (String, () => Unit)*): Unit = {
    val sc = spark.sparkContext
    val group = s"graft-landing-${java.util.UUID.randomUUID()}"
    val props = org.apache.spark.sql.graftbridge.ColumnBridge
      .localProperties(sc)
    val done = new java.util.concurrent.ExecutorCompletionService[Unit](
      landingPool)
    val futures = landings.map { case (what, body) =>
      done.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = org.apache.spark.sql.graftbridge
          .ColumnBridge.withLocalProperties(sc, props) {
            sc.setJobGroup(group, what, interruptOnCancel = true)
            body()
          }
      })
    }
    try futures.foreach(_ => done.take().get())
    catch {
      case t: Throwable =>
        val primary = unwrap(t)
        sc.cancelJobGroupAndFutureJobs(group,
          "another landing of the call failed or was interrupted")
        val interrupted = futures.map(f => awaitUninterruptibly(
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (unwrap(e) ne primary) primary.addSuppressed(unwrap(e))
          })).contains(true)
        if (interrupted) Thread.currentThread().interrupt()
        throw primary
    }
  }

  private def unwrap(t: Throwable): Throwable = t match {
    case e: java.util.concurrent.ExecutionException if e.getCause != null =>
      e.getCause
    case o => o
  }

  /** Run the blocking `wait` to completion, retrying through
    * interrupts; whether one arrived (the caller restores the flag). */
  private def awaitUninterruptibly(wait: => Unit): Boolean = {
    var interrupted = false
    var done = false
    while (!done)
      try { wait; done = true }
      catch { case _: InterruptedException => interrupted = true }
    interrupted
  }

  /** Committed `batch=<n>` fragment dirs under `dir`, optionally
    * bounded by `upToBatch` (None = everything). Non-`batch=<n>`
    * names — including non-numeric ids — are skipped, not thrown on.
    * Empty when `dir` does not exist yet (pre-first-batch reads). */
  def committedBatchDirs(spark: SparkSession, dir: String,
      upToBatch: Option[Long] = None): Seq[Path] = {
    val path = new Path(dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(hconf)
    val markersOn = hconf.getBoolean(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
    def committed(p: Path): Boolean =
      if (markersOn) fs.exists(new Path(p, "_SUCCESS"))
      else {
        // fragments may be PARTITIONED (kind=/band=/ subdirs — the
        // banded unified store), so finalized part files can live
        // one or two levels down; a top-level-only check would make
        // a marker-less deployment silently merge ZERO banded
        // fragments. Recurse shallowly: any finalized part-* file
        // beneath commits, any _temporary staging dir anywhere
        // un-commits (the committer renames out of it at commit).
        def scan(dir: Path, depth: Int): (Boolean, Boolean) = {
          val es = fs.listStatus(dir).toSeq
          var part = es.exists(e =>
            e.isFile && e.getPath.getName.startsWith("part-"))
          var temp = es.exists(_.getPath.getName == "_temporary")
          if (depth > 0)
            es.filter(e => e.isDirectory &&
                e.getPath.getName != "_temporary")
              .foreach { d =>
                val (p2, t2) = scan(d.getPath, depth - 1)
                part ||= p2; temp ||= t2
              }
          (part, temp)
        }
        val (part, temp) = scan(p, depth = 3)
        part && !temp
      }
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("batch=") &&
        p.getName.stripPrefix("batch=").toLongOption
          .exists(id => upToBatch.forall(id <= _)) &&
        committed(p))
  }
}
