package graft.ext

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The FILE boundary of the media stack: payloads written as one file
  * per media — the layout a scraped corpus actually lands in — and
  * read back through Spark's built-in `binaryFile` source, so the
  * decode chains run against a real file scan instead of in-plan
  * synthesized columns. What the source gives us at 100 TB, and what
  * the reader here leans on:
  *
  *   - binary files never split: Spark bin-packs WHOLE files into
  *     scan partitions by `spark.sql.files.maxPartitionBytes` +
  *     `openCostInBytes` — exactly the right work unit for payload
  *     decode (a half-file is undecodable).
  *   - column pruning reaches the scan: a query that needs only file
  *     metadata (path/length/modificationTime) never reads payload
  *     bytes — `readMediaFiles` keeps metadata and content in
  *     separate selects so planners can drop the heavy column
  *     (Round12Spec pins the pruned ReadSchema).
  *   - `kind=<modality>/` directory layout + partition discovery:
  *     filtering one modality prunes the other modalities' FILES
  *     from the scan entirely (PartitionFilters, spec-pinned) — at
  *     100 TB that is the difference between touching 1/3 of the
  *     archive and all of it.
  *
  * File NAMES lie on purpose: `extFor` rotates the extension to a
  * WRONG modality on a fixed id schedule, mirroring the mislabeled
  * content a crawl delivers. Everything downstream must key off
  * payload magic bytes ([[Multimodal.sniffKind]]), never the name —
  * the q249 oracle replays the lie schedule so a reader that trusted
  * extensions would hash-mismatch. The kind= DIRECTORY, by contrast,
  * is truthful by construction: the writer places each file by its
  * SNIFFED kind (our own curated layout, not the crawler's claim).
  *
  * Local-filesystem note: on this single-JVM session executors write
  * to a driver-created temp dir; on a real cluster `dir` would be
  * shared storage — the Spark-side shape (executor-parallel
  * `foreachPartition` writes, no payload through the driver) is the
  * same.
  */
object MediaFiles {

  private val Truthful =
    Map("image" -> "png", "audio" -> "wav", "video" -> "avi")
  // rotate one modality forward: every lying name claims a DIFFERENT
  // real modality, the worst case for an extension-trusting reader
  private val Rotated =
    Map("image" -> "wav", "audio" -> "avi", "video" -> "png")

  /** Deterministic file extension for (kind, id): truthful except on
    * the lie schedule id % 7 == 3, where it claims the next modality.
    * Pure id formula, so oracles replay it. */
  def extFor(kind: String, id: Long): String =
    if (id % 7 == 3) Rotated(kind) else Truthful(kind)

  private def fileName(id: Long, kind: String): String =
    f"media_$id%09d.${extFor(kind, id)}"

  /** Write one file per media row under `dir` (flat layout).
    * Executor-parallel: payload bytes go straight from the synthesis
    * partition to the filesystem, never through the driver. Kind is
    * SNIFFED from the payload (the writer trusts content, not
    * whatever metadata rode alongside). If the frame carries an
    * `mtime_ms` LONG column the file's modification time is stamped
    * from it — the deterministic arrival clock the incremental
    * (`modifiedAfter`) ingest keys on. */
  def writeMediaFiles(media: DataFrame, dir: String): Unit = {
    val stamped = media.columns.contains("mtime_ms")
    val cols = Seq(col("media_id").cast("long"), col("payload")) ++
      (if (stamped) Seq(col("mtime_ms").cast("long")) else Nil)
    media.select(cols: _*)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          val id = r.getLong(0)
          val p = r.getAs[Array[Byte]](1)
          val f = Files.write(
            Paths.get(dir, fileName(id, Multimodal.sniffKind(p))), p)
          if (stamped) Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime.fromMillis(r.getLong(2)))
        }
      }
  }

  /** Write the `kind=<sniffed>/` partitioned layout: same files, one
    * subdirectory per modality, discoverable as a partition column by
    * any Spark file source. File names still lie; directories don't.
    * Stamps deterministic mtimes from an `mtime_ms` column when
    * present ([[writeMediaFiles]]'s incremental-ingest clock). */
  def writeMediaFilesPartitioned(media: DataFrame, dir: String): Unit = {
    val stamped = media.columns.contains("mtime_ms")
    val cols = Seq(col("media_id").cast("long"), col("payload")) ++
      (if (stamped) Seq(col("mtime_ms").cast("long")) else Nil)
    media.select(cols: _*)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          val id = r.getLong(0)
          val p = r.getAs[Array[Byte]](1)
          val kind = Multimodal.sniffKind(p)
          val sub = Paths.get(dir, s"kind=$kind")
          Files.createDirectories(sub) // idempotent, race-safe
          val f = Files.write(sub.resolve(fileName(id, kind)), p)
          if (stamped) Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime.fromMillis(r.getLong(2)))
        }
      }
  }

  /** Coalesce target for a media file scan under `dir` — the
    * SMALL-FILES law, measured: the file sources' bin-packing charges
    * `spark.sql.files.openCostInBytes` (default 4 MB) per file, so a
    * 125k-file archive of ~3 KB payloads scans as 977 partitions —
    * and under the STREAMING wrapper AQE is disabled and the
    * per-batch localCheckpoint FREEZES that partitioning, so every
    * downstream stage of every micro-batch re-pays 977 tiny tasks
    * (the 25× probe read 210 s wall / 77 stages, ~50 of them
    * 977-task, vs 14.8 s for the same work from a parquet landing).
    * The cap is BYTE-AWARE, not unconditional: target = max(session
    * parallelism, ceil(actual archive bytes / maxPartitionBytes)), so
    * a large-payload archive keeps enough tasks that no task
    * serializes more than ~one maxPartitionBytes of payload — only
    * the openCost INFLATION is squashed. Sizing comes from the
    * relation's OWN statistics — Spark's parallel file index already
    * carries the byte total from the listing the source performs
    * anyway. (A previous version re-walked the dir with Hadoop's
    * `fs.listFiles(p, true)`: measured 4.5 ms PER FILE on a local
    * landing — 22.8 s for 5000 files, the per-file permission
    * shell-out class — vs 0.16 s for Spark's own index of the same
    * dir.) */
  private def packTarget(spark: SparkSession, raw: DataFrame): Int = {
    val bytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxPart = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf
        .get("spark.sql.files.maxPartitionBytes", "128m"))
    val par =
      math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    math.max(par,
      ((bytes + maxPart - 1) / maxPart).min(BigInt(1 << 24)).toInt)
  }

  /** `coalesce` is NARROW — payload bytes never cross an exchange;
    * each surviving task just opens more files. */
  private def packScan(df: DataFrame, target: Int): DataFrame =
    df.coalesce(target)

  /** Read a media landing dir through the `binaryFile` source:
    * media_id parsed from the name, the CLAIMED extension alongside
    * (for lie auditing — never for dispatch), length from file
    * metadata, payload last so projections that don't need bytes
    * prune it out of the scan. Partitioned layouts surface their
    * `kind` directory column automatically (partition discovery).
    * Partition count capped by [[packScan]]. */
  def readMediaFiles(spark: SparkSession, dir: String): DataFrame =
    readWith(spark, dir, Map.empty)

  /** INCREMENTAL file ingest — the reference's watermark discipline
    * applied at the media file boundary: only files whose
    * modification time is strictly after the watermark are LISTED
    * into the scan (the `modifiedAfter` option prunes at file-listing
    * time, before any payload byte is read — the file-level analogue
    * of the JDBC `>=` watermark pushdown). The watermark is an ISO
    * timestamp interpreted in the session timezone (UTC everywhere
    * in this engine). Re-running with the same watermark re-reads
    * the same delta — idempotent by the same argument as the
    * reference's at-least-once re-ingest.
    *
    * BOUNDARY CONTRACT: `modifiedAfter` is strictly EXCLUSIVE (the
    * reference's predicate is inclusive `>=`), so a watermark here
    * must fall strictly BETWEEN waves — setting it to the prior
    * wave's max mtime skips any file whose mtime equals it. Callers
    * that take watermarks from observed mtimes should back them off
    * ([[isoMinus1Ms]]) and rely on downstream upsert dedup for the
    * boundary duplicates, the reference's own at-least-once
    * discipline; the manifest path ([[appendManifest]]) does exactly
    * that internally, because a manifest miss — unlike a re-read —
    * would be permanent silent loss. */
  def readMediaFilesModifiedAfter(spark: SparkSession, dir: String,
      watermarkIso: String): DataFrame =
    readWith(spark, dir, Map("modifiedAfter" -> watermarkIso))

  private def readWith(spark: SparkSession, dir: String,
      options: Map[String, String]): DataFrame = {
    val raw = options.foldLeft(spark.read.format("binaryFile")) {
      case (r, (k, v)) => r.option(k, v)
    }.load(dir)
    val cols = Seq(
      regexp_extract(col("path"), "media_(\\d+)\\.[a-z]+$", 1)
        .cast("long").as("media_id"),
      regexp_extract(col("path"), "\\.([a-z]+)$", 1).as("claimed_ext"),
      col("length").as("n_bytes"),
      col("content").as("payload")) ++
      raw.columns.filter(_ == "kind").map(col).toSeq
    packScan(raw.select(cols: _*), packTarget(spark, raw))
  }

  /** The binaryFile STREAMING source schema (fixed by the format):
    * spelled out rather than imported from Spark's execution package
    * so we depend only on the public reader surface. */
  private val BinaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content",
      org.apache.spark.sql.types.BinaryType)))

  /** STREAM a media landing dir: files arriving over time become
    * micro-batches of (media_id, payload) — `maxFilesPerTrigger`
    * shapes batch size in FILES, the unit a payload archive actually
    * arrives in. This is the ingest edge of the streaming media
    * maintenance: files land (names lying, as ever), each payload is
    * decoded exactly once in its lifetime by the downstream store,
    * and exactly-once batch commits make the arrival order
    * irrelevant to the final pair surface. */
  def streamMediaFiles(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int): DataFrame = {
    require(maxFilesPerTrigger >= 1)
    // packScan matters MOST here: streaming disables AQE and the
    // maintenance localCheckpoints each batch's fingerprints, so an
    // uncapped small-file scan partitioning would be frozen into
    // every downstream stage of every micro-batch. The byte-aware
    // target is sized from the landing dir AT STREAM-START via a
    // throwaway batch index (files arriving later aren't counted —
    // for a long-lived stream the session-parallelism floor still
    // holds, and per-BATCH bytes are bounded by maxFilesPerTrigger
    // anyway)
    // a landing dir that does not exist YET is a legal stream start
    // (the streaming source lists nothing until files arrive) — the
    // throwaway batch index would refuse it, so fall back to the
    // session-parallelism floor there rather than regress the lazy
    // contract
    val target =
      try packTarget(spark, spark.read.format("binaryFile").load(dir))
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          math.max(1,
            spark.conf.get("spark.sql.shuffle.partitions").toInt)
      }
    packScan(spark.readStream.format("binaryFile")
      .schema(BinaryFileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(dir)
      .select(
        regexp_extract(col("path"), "media_(\\d+)\\.[a-z]+$", 1)
          .cast("long").as("media_id"),
        col("content").as("payload")),
      target)
  }

  // ------------------------------------------- manifest-backed ingest

  /** The file-manifest row: everything the ingest needs to KNOW about
    * a landed file without opening it. Slim by construction (~100
    * bytes/file vs the payload's KBs-to-GBs). */
  private val ManifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("media_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("mtime_ms",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_bytes",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("claimed_ext",
      org.apache.spark.sql.types.StringType)))

  /** LIST ONCE into a parquet manifest — the scale fix for the
    * measured vanilla-`FileStreamSource` law (BASELINE.md "The file
    * boundary at 25×", Law 2: getBatch re-stats EVERY archive file on
    * the driver each micro-batch, ~0.65 ms/file — 82 of 104 s at the 25×
    * probe, growing without bound with archive file count). The
    * landing dir is listed exactly once per ingest wave, through the
    * metadata-ONLY binaryFile scan (payload bytes pruned out of the
    * ReadSchema — same discipline as [[ingestAudit]]'s claimed-name
    * side), and appended to `manifestDir` as slim parquet rows.
    * Incremental waves compose with the watermark discipline, made
    * BOUNDARY-SAFE: Spark's `modifiedAfter` is strictly exclusive,
    * but the natural watermark (the prior wave's max mtime) lands ON
    * a file's mtime — an exclusive listing would skip that file
    * forever, and since the manifest is the exactly-once record of
    * what exists, that is silent data loss (the reference re-ingests
    * with an inclusive `>=` for exactly this reason, gluejob.py's
    * watermark predicate, accepting at-least-once duplicates its
    * upsert dedups). So the listing bound is backed off by 1 ms
    * (making the watermark itself INCLUSIVE) and the wave is
    * anti-joined on `(path, mtime_ms)` against the rows already
    * manifested: boundary collisions become suppressed duplicates,
    * never misses — every file VERSION is manifested exactly once
    * across waves whatever the watermark's relation to the wave
    * boundary (spec-pinned at the exact-boundary mtime). Keying the
    * dedup by `(path, mtime_ms)` rather than `path` alone means a
    * file RE-MODIFIED after being manifested re-manifests as a new
    * row (spec-pinned) — the reference's inclusive re-ingest +
    * newest-wins upsert, where a path-only key would suppress the
    * new version forever and pin the stale row. Consumers wanting
    * the CURRENT archive view take max-`mtime_ms`-per-path
    * (downstream payload stores already dedup re-processed payloads
    * by their exactly-once batch discipline + fingerprint dedup).
    * The anti-join's read side is the slim manifest itself,
    * O(archive metadata), never payload bytes. `manifestFiles`
    * shapes the append's parquet file count — the unit the manifest
    * STREAM batches by. */
  def appendManifest(spark: SparkSession, dir: String,
      manifestDir: String, watermarkIso: Option[String] = None,
      manifestFiles: Int = 1): Unit = {
    require(manifestFiles >= 1)
    val raw = watermarkIso
      .foldLeft(spark.read.format("binaryFile"))(
        (r, w) => r.option("modifiedAfter", isoMinus1Ms(w)))
      .load(dir)
    // the metadata-only scan still pays binaryFile's openCost
    // bin-packing (4 MB charged PER FILE -> thousands of tiny stat
    // tasks on a large archive; measured 6.5 s of a 25-s 25x wave) —
    // packScan squashes the inflation exactly as the payload reads
    // do; nothing but ~100-byte rows flows, so session parallelism
    // is plenty
    val wave = packScan(raw, packTarget(spark, raw)).select(
      regexp_extract(col("path"), "media_(\\d+)\\.[a-z]+$", 1)
        .cast("long").as("media_id"),
      col("path"),
      unix_millis(col("modificationTime")).as("mtime_ms"),
      col("length").as("n_bytes"),
      regexp_extract(col("path"), "\\.([a-z]+)$", 1).as("claimed_ext"))
    val manifestPath = new org.apache.hadoop.fs.Path(manifestDir)
    val fs = manifestPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (fs.exists(manifestPath))
        wave.join(
          spark.read.schema(ManifestSchema).parquet(manifestDir)
            .select(col("path"), col("mtime_ms")),
          Seq("path", "mtime_ms"), "left_anti")
      else wave
    fresh.select(col("media_id"), col("path"), col("mtime_ms"),
        col("n_bytes"), col("claimed_ext"))
      .repartition(manifestFiles)
      .write.mode("append").parquet(manifestDir)
  }

  /** Back an ISO watermark off by 1 ms so the exclusive
    * `modifiedAfter` bound includes files whose mtime EQUALS the
    * watermark. Accepts the local-datetime form the engine's
    * watermarks use (`2026-01-01T00:30:00`, session-timezone
    * semantics) and the offset form; loud on anything else — a
    * watermark that silently failed to parse would silently re-list
    * the whole archive. */
  private[ext] def isoMinus1Ms(iso: String): String =
    try java.time.LocalDateTime.parse(iso)
      .minusNanos(1000000L).toString
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.OffsetDateTime.parse(iso)
          .minusNanos(1000000L).toString
    }

  /** STREAM manifest DELTAS as micro-batches of (media_id, payload) —
    * the manifest-backed twin of [[streamMediaFiles]] with the
    * driver-side bookkeeping law removed: the streaming source reads
    * the slim manifest PARQUET (its per-batch getBatch cost is a
    * listing of manifest part files — O(ingest waves), never
    * O(archive files)); payload bytes are fetched on the EXECUTORS,
    * each task opening its batch slice's files through the session
    * Hadoop filesystem
    * ([[org.apache.spark.sql.graftbridge.ColumnBridge.fileBytesReader]]).
    * The slim (media_id, path) rows are repartitioned to session
    * parallelism BEFORE the fetch, so payload reads parallelize
    * however few part files the manifest wave wrote — the only thing
    * that ever crosses that exchange is ~100-byte manifest rows.
    * `maxFilesPerTrigger` batches by MANIFEST part file (the arrival
    * unit [[appendManifest]]'s `manifestFiles` shaped). */
  def streamManifest(spark: SparkSession, manifestDir: String,
      maxFilesPerTrigger: Int,
      prefetchDepth: Int = PrefetchDepth): DataFrame = {
    require(maxFilesPerTrigger >= 1)
    import spark.implicits._
    val fetch = org.apache.spark.sql.graftbridge.ColumnBridge
      .fileBytesReader(spark)
    val par =
      math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    spark.readStream.schema(ManifestSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(manifestDir)
      .select(col("media_id"), col("path"))
      .repartition(par)
      .as[(Long, String)]
      .mapPartitions(it => prefetched(it, prefetchDepth)(fetch))
      .toDF("media_id", "payload")
  }

  /** Payload fetches in flight per task in [[streamManifest]] — deep
    * enough to hide one object store's time-to-first-byte behind the
    * previous payload's transfer, small enough that a task's resident
    * prefetch window (depth × payload size) stays a few MB for
    * typical media payloads. */
  private val PrefetchDepth = 4

  /** Bounded READ-AHEAD over a per-task iterator: up to `depth`
    * `fetch` calls run concurrently ahead of the consumer, results
    * are yielded strictly in input order. This is the pipelining fix
    * for the serial fetch law: one `open`+`readFully` per file per
    * task means every payload pays the store's full round-trip
    * LATENCY serially — on an object store the time-to-first-byte
    * dominates small-payload waves, and a 1000-file task spends most
    * of its wall waiting, not transferring. Read-ahead overlaps the
    * next files' TTFB with the current file's transfer; ordering is
    * preserved so downstream per-batch determinism (and the
    * exactly-once overwrite discipline) sees exactly the rows the
    * serial loop produced.
    *
    * Lifecycle: workers come from ONE process-wide cached daemon
    * pool (named for thread dumps, 60 s idle reap) — an abandoned
    * iterator therefore leaks nothing durable: its ≤ `depth`
    * in-flight fetches finish and their threads return to the pool,
    * to be reaped when idle. Per-iterator concurrency is bounded by
    * the fill window, so total pool occupancy is ≤ depth × live
    * tasks. Fetch failures rethrow the ORIGINAL cause at `next()`
    * (not the ExecutionException wrapper), so the loud
    * single-payload bounds in the reader surface unchanged. */
  private lazy val prefetchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r,
            s"graft-manifest-prefetch-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })

  private[graft] def prefetched[A](it: Iterator[(Long, String)], depth: Int)(
      fetch: String => A): Iterator[(Long, A)] = {
    // depth <= 0 = the SERIAL reference shape (one fetch inline per
    // next(), no read-ahead) — the counterfactual the latency probe
    // measures the overlap win against
    if (depth <= 0) return it.map { case (id, p) => (id, fetch(p)) }
    if (!it.hasNext) return Iterator.empty
    val pending = scala.collection.mutable.Queue
      .empty[(Long, java.util.concurrent.Future[A])]
    new Iterator[(Long, A)] {
      private def fill(): Unit =
        while (pending.size < depth && it.hasNext) {
          val (id, p) = it.next()
          pending.enqueue((id, prefetchPool.submit(
            new java.util.concurrent.Callable[A] {
              override def call(): A = fetch(p)
            })))
        }
      fill()
      override def hasNext: Boolean = pending.nonEmpty
      override def next(): (Long, A) = {
        val (id, f) = pending.dequeue()
        val bytes =
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        fill()
        (id, bytes)
      }
    }
  }

  /** The q249 surface: unified per-payload fingerprints through the
    * FILE boundary, plus the extension-lie audit bit. One content
    * scan feeds the decode pass; a second, metadata-ONLY scan (no
    * payload bytes read — pruned ReadSchema) supplies the claimed
    * extension, joined slim-on-slim. `ext_lied` is earned end to end:
    * the claimed extension comes from the file NAME on disk, the kind
    * from the payload's magic bytes through the real codecs — a
    * reader that trusted names would disagree with the oracle's
    * replayed lie schedule. */
  def ingestAudit(spark: SparkSession, dir: String): DataFrame = {
    val back = readMediaFiles(spark, dir)
    val fps = Multimodal.unifiedFingerprints(spark,
      back.select(col("media_id"), col("payload")))
    val claimed = back.select(col("media_id"), col("claimed_ext"))
    val truthfulExt = map(
      Truthful.toSeq.flatMap(kv => Seq(lit(kv._1), lit(kv._2))): _*)
    fps.join(claimed, Seq("media_id"))
      .select(col("media_id"), col("kind"), col("fp_lo"), col("fp_hi"),
        (col("claimed_ext") =!=
          element_at(truthfulExt, col("kind"))).as("ext_lied"))
  }
}
