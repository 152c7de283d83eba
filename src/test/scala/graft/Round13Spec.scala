package graft

import graft.ext.{Images, MediaFiles, Multimodal, Video}
import graft.streaming.MediaDedupMaintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Round-13: the BAND-PARTITIONED unified fingerprint store (per-batch
  * scan cost tracks the delta's bucket coverage, not store size) and
  * the manifest-backed file-stream equivalence. */
class Round13Spec extends SparkSpec {

  import spark.implicits._

  private def unifiedFps(payloads: DataFrame): DataFrame =
    Multimodal.unifiedFingerprints(spark, payloads)
      .select(col("media_id"), col("kind"),
        col("fp_lo").bitwiseOR(shiftleft(col("fp_hi"), 32)).as("dhash"))

  test("banded unified store: the per-batch scan carries partition " +
      "filters on (kind, band, bucket) and a tiny single-kind delta " +
      "reads a fraction of the store's files") {
    val docs = (0L until 240L).toDF("doc_id")
    val media = Multimodal.syntheticMixedFrameGrouped(spark, docs,
      "doc_id")
    val storeDir = tmpDir("bandedstore")
    val pairsDir = tmpDir("bandedpairs")
    // seed the store in 4 batches through the real maintenance
    val landing = tmpDir("bandedland")
    media.repartitionByRange(4, col("media_id"))
      .write.mode("overwrite").parquet(landing)
    val src = spark.readStream
      .schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
    MediaDedupMaintenance.startUnified(src, storeDir, pairsDir,
      tmpDir("bandedckpt")).awaitTermination()
    val storeFiles = spark.read
      .option("basePath", storeDir).parquet(storeDir)
      .inputFiles.length
    assert(storeFiles > 10, s"store fixture too small: $storeFiles files")
    // a TINY image-only delta with fresh ids: the trickle arrival the
    // bucketed layout exists for
    val deltaDocs = (0L until 2L).map(_ + 5000L).toDF("doc_id")
    val deltaFp = unifiedFps(Images.syntheticPngFrame(spark, deltaDocs,
      "doc_id").select(col("media_id"), col("payload")))
    graft.streaming.EventsStream.withConf(spark,
      Seq("spark.sql.adaptive.enabled" -> "false")) {
      val deltaBanded = MediaDedupMaintenance.bandDelta(deltaFp, 2, 4,
        MediaDedupMaintenance.UnifiedStoreBuckets)
      val pairs = MediaDedupMaintenance.unifiedBatchPairs(
        MediaDedupMaintenance.readBandedUnifiedFingerprints(spark,
          storeDir),
        deltaBanded, deltaFp.select(col("media_id")),
        MediaDedupMaintenance.touchedCells(deltaBanded),
        maxDist = 2, chunks = 4)
      pairs.collect() // fill scan metrics
      val scans = pairs.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(
              _.toString.contains("bandedstore")) => f
      }
      assert(scans.nonEmpty, "store scan not found in the batch plan")
      scans.foreach { f =>
        val pf = f.metadata.getOrElse("PartitionFilters", "")
        assert(pf.contains("kind") && pf.contains("band"),
          s"store scan must be partition-pruned to the delta's kind " +
            s"and bands, got PartitionFilters: $pf")
        val pushed = f.metadata.getOrElse("PushedFilters", "")
        assert(pushed.contains("bucket"),
          s"the delta's bucket cells must push into the parquet " +
            s"scan, got PushedFilters: $pushed")
      }
      val filesRead = scans.map(_.metrics("numFiles").value).sum
      assert(filesRead > 0, "image branch must read some store files")
      assert(filesRead < storeFiles / 2,
        s"tiny single-kind delta read $filesRead of $storeFiles store " +
          "files — kind/band dir pruning is not biting")
    }
    // and the logical store reader still reconstructs one row per
    // media from the band=0 slice
    val logical = MediaDedupMaintenance.readUnifiedFingerprints(spark,
      storeDir)
    assert(logical.groupBy(col("media_id")).count()
      .filter(col("count") > 1).isEmpty,
      "band=0 slice must carry exactly one row per media")
    assert(logical.count() == media.count(),
      "logical store lost media through the banded layout")
  }

  test("entropy codec: RLE + canonical Huffman round-trips byte-exact " +
      "on zero, dense, single-symbol and full-alphabet planes; the " +
      "all-zero plane compresses to a sliver; corruption is loud") {
    import graft.ext.Entropy
    val w = 96; val h = 100; val n = w * h
    def roundTrip(plane: Array[Byte]): Unit = {
      val enc = Entropy.encodePlane(plane, w, h)
      val (dec, dw, dh) = Entropy.decodePlane(enc)
      assert(dw == w && dh == h, "geometry lost through the codec")
      assert(java.util.Arrays.equals(dec, plane),
        "entropy round-trip changed plane bytes")
    }
    val zero = new Array[Byte](n)
    roundTrip(zero)
    // the all-zero residual (a within-scene predicted frame) must
    // collapse: sparse code table + a few dozen run pairs
    val zeroEnc = Entropy.encodePlane(zero, w, h)
    assert(zeroEnc.length < 64,
      s"all-zero plane encoded to ${zeroEnc.length} bytes — " +
        "RLE or the sparse code table is not biting")
    roundTrip(Array.tabulate(n)(i =>
      ((i * 2654435761L) % 256).toByte)) // dense pseudo-random
    roundTrip(Array.fill(n)(123.toByte)) // single symbol
    roundTrip(Array.tabulate(n)(i => (i % 256).toByte)) // full alphabet
    roundTrip(Array.tabulate(n)(i =>
      if (i % 97 == 0) 7.toByte else 0.toByte)) // sparse (typical cut)
    // corruption: truncated bitstream and bad magic must name the
    // problem, never hand back a wrong plane
    val enc = Entropy.encodePlane(
      Array.tabulate(n)(i => ((i * 31) % 256).toByte), w, h)
    intercept[IllegalArgumentException] {
      Entropy.decodePlane(java.util.Arrays.copyOf(enc, enc.length - 8))
    }
    intercept[IllegalArgumentException] {
      val bad = enc.clone(); bad(0) = 'X'.toByte
      Entropy.decodePlane(bad)
    }
  }

  test("entropy-coded inter container: mux -> demux -> entropy decode " +
      "-> reconstruct is bit-lossless vs the source rasters, and the " +
      "intra walk still refuses the container loudly") {
    import graft.ext.{Images, Video}
    val codec = new Images.MediaCodec()
    try {
      def px(img: java.awt.image.BufferedImage): Seq[Int] =
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
          yield img.getRaster.getSample(x, y, 0)
      // pid 12: cut at frame 2 — a PREDICTED frame, so the dense
      // scene-difference residual goes through the entropy stage;
      // pid 11: cut lands on a keyframe, all residuals all-zero
      Seq(11L, 12L).foreach { pid =>
        val rasters = (0 until Video.nFrames(pid)).map { f =>
          Images.renderPatternImage(Video.framePid(pid, f),
            Video.FrameW, Video.FrameH)
        }
        val avi = Video.muxAviInterEntropy(rasters, codec)
        val back = Video.demuxFramesInter(avi, codec).toSeq
        assert(back.size == rasters.size, s"pid $pid: frame count changed")
        back.foreach { case (i, img) =>
          assert(px(img) == px(rasters(i)),
            s"pid $pid frame $i pixels changed through the " +
              "entropy-coded chain")
        }
        val ex = intercept[IllegalArgumentException] {
          Video.demuxFrames(avi).toSeq
        }
        assert(ex.getMessage.contains("00dp"),
          "intra walk must name the inter chunk it refuses")
      }
      // on the all-zero-residual clip the entropy container must beat
      // the PNG-residual inter container (the stage must EARN its
      // rung where prediction makes residuals trivial)
      val rasters11 = (0 until Video.nFrames(11L)).map { f =>
        Images.renderPatternImage(Video.framePid(11L, f),
          Video.FrameW, Video.FrameH)
      }
      val ent = Video.muxAviInterEntropy(rasters11, codec).length
      val png = Video.muxAviInter(rasters11, codec).length
      assert(ent < png,
        s"entropy container ${ent}B vs PNG-residual ${png}B — " +
          "the entropy stage saved nothing")
    } finally codec.dispose()
  }

  test("composed file prunings (q254): one binaryFile scan carries " +
      "BOTH the kind partition filter and the modifiedAfter listing " +
      "cut — it lists only late-wave files and reads only the audio " +
      "ones") {
    import graft.ext.{MediaFiles, Multimodal}
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id")).filter(col("doc_id") < 120)
    val base = 1767225600000L
    val media = Multimodal.syntheticMixedFrame(spark, docs, "doc_id")
      .withColumn("mtime_ms",
        lit(base) + (col("media_id") % 2) * lit(3600000L))
    val landing = tmpDir("composed")
    MediaFiles.writeMediaFilesPartitioned(media, landing)
    val total = media.count()
    val late = media.filter(col("media_id") % 2 === 1).count()
    val lateAudio = media.filter(col("media_id") % 2 === 1 &&
      col("media_id") % 3 === 1).count()
    assert(lateAudio > 0 && late < total, "fixture degenerate")
    graft.streaming.EventsStream.withConf(spark,
      Seq("spark.sql.adaptive.enabled" -> "false")) {
      val scan = MediaFiles.readMediaFilesModifiedAfter(spark, landing,
          "2026-01-01T00:30:00")
        .filter(col("kind") === "audio")
        .select(col("media_id"), col("payload"))
      scan.collect() // fill scan metrics
      val scans = scan.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scans.size == 1, s"expected one scan, got ${scans.size}")
      val f = scans.head
      // listing cut: the file index holds ONLY late-wave files
      assert(f.relation.location.inputFiles.length == late,
        "modifiedAfter did not prune the early wave at listing time")
      // partition cut: of those, only the audio dir's files are read
      assert(f.metadata.getOrElse("PartitionFilters", "")
        .contains("kind"),
        "kind partition filter missing from the composed scan")
      assert(f.metrics("numFiles").value == lateAudio,
        s"scan read ${f.metrics("numFiles").value} files, expected " +
          s"the $lateAudio late-wave audio files")
    }
  }

  test("store compaction: folding every batch leaves ONE compacted " +
      "base, the pair surface and logical store are unchanged, and a " +
      "post-compaction delta joins against the folded base") {
    val docs = (0L until 240L).toDF("doc_id")
    val media = Multimodal.syntheticMixedFrameGrouped(spark, docs,
      "doc_id")
    val landing = tmpDir("compactland")
    media.repartitionByRange(4, col("media_id"))
      .write.mode("overwrite").parquet(landing)
    def run(compactEvery: Int, tag: String): (String, Set[String]) = {
      val store = tmpDir(s"compactstore$tag")
      val pairs = tmpDir(s"compactpairs$tag")
      val src = spark.readStream
        .schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
      MediaDedupMaintenance.startUnified(src, store, pairs,
        tmpDir(s"compactckpt$tag"), compactEvery = compactEvery)
        .awaitTermination()
      (store, spark.read.parquet(pairs)
        .select(concat_ws("|", col("doc_a"), col("doc_b"),
          col("hamming"), col("kind"))).collect()
        .map(_.getString(0)).toSet)
    }
    val (plainStore, plainPairs) = run(0, "off")
    val (foldedStore, foldedPairs) = run(1, "on")
    assert(foldedPairs == plainPairs && plainPairs.nonEmpty,
      "compaction changed the pair surface")
    // one RETIRE call reclaims the last fold's grace-kept inputs
    // (cleanup is grace-deferred one maintenance interval for
    // concurrent monitors); after it the store holds only live
    // size-tiered runs — bounded by maxRuns — and no batch dirs
    MediaDedupMaintenance.compactUnifiedStore(spark, foldedStore)
    val names = new java.io.File(foldedStore).list().toSeq
    val runs = names.count(_.startsWith("run="))
    assert(runs >= 1 && runs <= 4 &&
      !names.exists(_.startsWith("batch=")),
      s"expected 1..4 tiered runs and no fragments, got $names")
    // logical content identical either way
    def logical(store: String): Set[String] =
      MediaDedupMaintenance.readUnifiedFingerprints(spark, store)
        .select(concat_ws("|", col("media_id"), col("kind"),
          col("dhash"))).collect().map(_.getString(0)).toSet
    assert(logical(foldedStore) == logical(plainStore),
      "compaction changed the logical store")
    // a post-compaction delta (a byte-identical clone of doc 0's
    // media under a fresh id) must find its duplicate IN the folded
    // runs — the pruned read works against them
    val latePairs = tmpDir("compactpairslate")
    val dup = Multimodal.syntheticMixedFrameGrouped(spark,
      Seq(0L).toDF("doc_id"), "doc_id")
      .withColumn("media_id", col("media_id") + 4000000L)
    MediaDedupMaintenance.processBatchUnified(dup, 500L, foldedStore,
      latePairs)
    val late = spark.read.parquet(s"$latePairs/batch=500")
      .filter(col("hamming") === 0 && col("doc_b") >= 4000000L &&
        col("doc_a") < 4000000L)
    assert(late.count() >= 1,
      "post-compaction delta failed to find its planted duplicate " +
        "in the folded base")
  }

  test("text dedup index fold: compacting every batch leaves the pair " +
      "surface and index content unchanged, one base and no fragments " +
      "on disk, and a post-fold batch still joins the folded index") {
    import graft.streaming.DedupMaintenance
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val landing = tmpDir("tfoldland")
    docs.repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(landing)
    def run(compactEvery: Int, tag: String): (String, Set[(Long, Long)]) = {
      val idx = tmpDir(s"tfoldidx$tag"); val pairs = tmpDir(s"tfoldp$tag")
      val src = spark.readStream
        .schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
      DedupMaintenance.start(src, "text", "doc_id", idx, pairs,
        tmpDir(s"tfoldck$tag"), compactEvery = compactEvery)
        .awaitTermination()
      (idx, spark.read.parquet(pairs).select(col("doc_a"), col("doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    val (plainIdx, plainPairs) = run(0, "off")
    val (foldedIdx, foldedPairs) = run(1, "on")
    assert(foldedPairs == plainPairs && plainPairs.nonEmpty,
      "index folding changed the pair surface")
    // retire call reclaims the grace-kept last-fold inputs
    graft.streaming.DedupMaintenance.compactIndex(spark, foldedIdx)
    val names = new java.io.File(foldedIdx).list().toSeq
    val runs = names.count(_.startsWith("run="))
    assert(runs >= 1 && runs <= 4 &&
      !names.exists(_.startsWith("batch=")),
      s"expected 1..4 tiered runs and no fragments, got $names")
    def ids(idx: String): Seq[Long] =
      DedupMaintenance.readIndex(spark, idx)
        .select(col("_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(foldedIdx) == ids(plainIdx),
      "index folding changed the indexed doc set")
    // a post-fold batch (clone of doc 0's text under a fresh id)
    // joins against the folded base
    val latePairs = tmpDir("tfoldlate")
    val clone = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", col("doc_id") + 9000000L)
    DedupMaintenance.processBatch(clone, 500L, "text", "doc_id",
      foldedIdx, latePairs)
    assert(spark.read.parquet(s"$latePairs/batch=500")
      .filter(col("doc_b") === 9000000L).count() >= 1,
      "post-fold delta failed to find its duplicate in the folded index")
  }

  test("marker-less commit detection sees PARTITIONED fragments: " +
      "part files two levels down commit, a nested _temporary " +
      "un-commits") {
    import graft.streaming.Commits
    val dir = tmpDir("commitsPart")
    val p = java.nio.file.Paths.get(dir)
    val nested = p.resolve("batch=0").resolve("kind=image")
      .resolve("band=3")
    java.nio.file.Files.createDirectories(nested)
    java.nio.file.Files.write(nested.resolve("part-000.parquet"),
      Array[Byte](1))
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setBoolean(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    try {
      assert(Commits.committedBatchDirs(spark, dir)
        .map(_.getName) == Seq("batch=0"),
        "marker-less mode must find part files beneath partition dirs")
      // in-flight write: _temporary anywhere un-commits the fragment
      java.nio.file.Files.createDirectories(
        p.resolve("batch=0").resolve("kind=audio")
          .resolve("_temporary"))
      assert(Commits.committedBatchDirs(spark, dir).isEmpty,
        "a nested _temporary staging dir must un-commit the fragment")
    } finally hconf.setBoolean(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
  }

  test("entropy decode refuses an over-subscribed code table loudly " +
      "(the one corruption that could decode a WRONG plane silently)") {
    import graft.ext.Entropy
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // hand-built GRES header: sparse mode, 3 symbols with lengths
    // {1, 1, 2} — Kraft sum 2+2+1 = 5 > 2^2: canonical assembly would
    // overlap codes
    val out = new java.io.ByteArrayOutputStream()
    out.write("GRES".getBytes("US-ASCII")); out.write(1)
    out.write(le32(4)); out.write(le32(4)) // w=h=4
    out.write(le32(4)) // nRle
    out.write(3) // used
    Seq((0, 1), (1, 1), (2, 2)).foreach { case (s, l) =>
      out.write(s); out.write(l)
    }
    out.write(0); out.write(0) // some bits
    val ex = intercept[IllegalArgumentException] {
      Entropy.decodePlane(out.toByteArray)
    }
    assert(ex.getMessage.contains("over-subscribed"),
      s"must name the Kraft violation, got: ${ex.getMessage}")
    // allocation bombs refused before any array is sized from the
    // untrusted header
    val bomb = new java.io.ByteArrayOutputStream()
    bomb.write("GRES".getBytes("US-ASCII")); bomb.write(1)
    bomb.write(le32(4)); bomb.write(le32(4))
    bomb.write(le32(Int.MaxValue)) // nRle = 2^31-1
    bomb.write(1); bomb.write(0); bomb.write(1)
    bomb.write(0)
    assert(intercept[IllegalArgumentException] {
      Entropy.decodePlane(bomb.toByteArray)
    }.getMessage.contains("capacity"))
  }

  test("AV container: the audio track round-trips sample-exact " +
      "through interleaved 01wb chunks, the video walk still sees " +
      "exactly its frames, and a track-less container is loud") {
    import graft.ext.{Audio, Images, Video}
    val codec = new Images.MediaCodec()
    try {
      val pid = 23L
      val frames = (0 until Video.nFrames(pid)).map { f =>
        codec.encode(Images.renderPatternImage(Video.framePid(pid, f),
          Video.FrameW, Video.FrameH))
      }
      val samples = Array.tabulate(Audio.clipLen(pid))(i =>
        Audio.sampleAt(pid, perturb = false, i))
      val avi = Video.muxAviAv(frames, samples, Video.FrameW,
        Video.FrameH)
      // audio: sample-exact through the interleave
      assert(Video.demuxAudioSamples(avi).toSeq == samples.toSeq,
        "audio samples changed through the 01wb interleave")
      // video: same frames, audio chunks invisible to the video walk
      val backFrames = Video.demuxFrames(avi).toSeq
      assert(backFrames.size == frames.size,
        "audio interleave changed the video frame count")
      backFrames.foreach { case (i, bytes) =>
        assert(java.util.Arrays.equals(bytes, frames(i)),
          s"frame $i bytes changed in the AV container")
      }
      // an audio-less container must refuse the audio demux loudly
      val videoOnly = Video.muxAvi(frames, Video.FrameW, Video.FrameH)
      val ex = intercept[IllegalArgumentException] {
        Video.demuxAudioSamples(videoOnly)
      }
      assert(ex.getMessage.contains("01wb"),
        "audio demux must name the missing track")
    } finally codec.dispose()
  }

  test("watermarked manifest append (q256's unit): the second wave's " +
      "append manifests ONLY late files — each file exactly once " +
      "across waves — and even a watermark-less second append " +
      "dedups against the manifested rows") {
    val docs = (0L until 90L).toDF("doc_id")
    val base = 1767225600000L
    val media = Multimodal.syntheticMixedFrameGrouped(spark, docs,
      "doc_id")
      .withColumn("mtime_ms",
        lit(base) + (col("media_id") % 2) * lit(3600000L))
    val files = tmpDir("wavefiles")
    val manifest = tmpDir("wavemanifest")
    MediaFiles.writeMediaFiles(media.filter(col("media_id") % 2 === 0),
      files)
    MediaFiles.appendManifest(spark, files, manifest, manifestFiles = 1)
    MediaFiles.writeMediaFiles(media.filter(col("media_id") % 2 === 1),
      files)
    MediaFiles.appendManifest(spark, files, manifest,
      watermarkIso = Some("2026-01-01T00:30:00"), manifestFiles = 1)
    val m = spark.read.parquet(manifest)
    val total = media.count()
    assert(m.count() == total,
      "two watermarked appends must manifest each file exactly once")
    assert(m.select(col("media_id")).distinct().count() == total,
      "a file was manifested twice across waves")
    // the second append's rows are exactly the late wave
    assert(m.filter(col("mtime_ms") > lit(base)).count() ==
      media.filter(col("media_id") % 2 === 1).count())
    // the old double-manifest hazard is closed by the path anti-join:
    // a watermark-LESS second append re-lists everything but manifests
    // nothing new
    val manifest2 = tmpDir("wavemanifest2")
    MediaFiles.appendManifest(spark, files, manifest2, manifestFiles = 1)
    MediaFiles.appendManifest(spark, files, manifest2, manifestFiles = 1)
    assert(spark.read.parquet(manifest2).count() == total,
      "watermark-less second append must dedup against the manifest")
  }

  test("manifest watermark is boundary-inclusive: a file whose mtime " +
      "EQUALS the watermark is still manifested (exactly once) — the " +
      "exclusive-modifiedAfter silent-loss window is closed") {
    val docs = (0L until 60L).toDF("doc_id")
    val base = 1767225600000L // 2026-01-01T00:00:00Z
    val wmMs = base + 3600000L // 2026-01-01T01:00:00Z
    val media = Multimodal.syntheticMixedFrameGrouped(spark, docs,
      "doc_id")
      .withColumn("mtime_ms",
        when(col("media_id") % 2 === 0, lit(base)).otherwise(lit(wmMs)))
    val files = tmpDir("bndfiles")
    val manifest = tmpDir("bndmanifest")
    MediaFiles.writeMediaFiles(media.filter(col("media_id") % 2 === 0),
      files)
    MediaFiles.appendManifest(spark, files, manifest, manifestFiles = 1)
    // wave 2's files land with mtime EXACTLY at the watermark — the
    // natural discipline (watermark := observed max mtime) that the
    // strictly-exclusive listing used to lose silently
    MediaFiles.writeMediaFiles(media.filter(col("media_id") % 2 === 1),
      files)
    MediaFiles.appendManifest(spark, files, manifest,
      watermarkIso = Some("2026-01-01T01:00:00"), manifestFiles = 1)
    val m = spark.read.parquet(manifest)
    assert(m.filter(col("mtime_ms") === wmMs).count() ==
      media.filter(col("media_id") % 2 === 1).count(),
      "boundary-mtime files were lost by the watermark listing")
    assert(m.count() == media.count() &&
      m.select(col("path")).distinct().count() == media.count(),
      "boundary handling must stay exactly-once")
    // and a third append at the same watermark changes nothing — the
    // boundary duplicates the inclusive listing re-surfaces are
    // suppressed by the path anti-join
    MediaFiles.appendManifest(spark, files, manifest,
      watermarkIso = Some("2026-01-01T01:00:00"), manifestFiles = 1)
    assert(spark.read.parquet(manifest).count() == media.count(),
      "re-append at the boundary watermark must be a no-op")
  }

  test("torn 16-bit PCM is named at the chunk that carries it: two " +
      "odd-length 01wb chunks sum even but must still refuse loudly") {
    // hand-build a minimal RIFF/AVI with two 3-byte 01wb chunks (total
    // 6 bytes — even, so the old total-only parity check passed and
    // the sample loop overran); the walk must refuse at the chunk
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(id.getBytes("US-ASCII"))
      b.write(Array[Byte]((body.length & 0xff).toByte,
        ((body.length >> 8) & 0xff).toByte,
        ((body.length >> 16) & 0xff).toByte,
        ((body.length >> 24) & 0xff).toByte))
      b.write(body)
      if (body.length % 2 == 1) b.write(0)
      b.toByteArray
    }
    val torn = chunk("01wb", Array[Byte](1, 2, 3)) ++
      chunk("01wb", Array[Byte](4, 5, 6))
    val body = "AVI ".getBytes("US-ASCII") ++ torn
    val riff = new java.io.ByteArrayOutputStream()
    riff.write("RIFF".getBytes("US-ASCII"))
    riff.write(Array[Byte]((body.length & 0xff).toByte,
      ((body.length >> 8) & 0xff).toByte,
      ((body.length >> 16) & 0xff).toByte,
      ((body.length >> 24) & 0xff).toByte))
    riff.write(body)
    val ex = intercept[IllegalArgumentException] {
      Video.demuxAudioSamples(riff.toByteArray)
    }
    assert(ex.getMessage.contains("torn 16-bit PCM") &&
      ex.getMessage.contains("chunk"),
      s"expected the per-chunk torn-PCM diagnostic, got: ${ex.getMessage}")
  }

  test("manifest-backed file stream == vanilla binaryFile stream: " +
      "same landing, identical pair surface") {
    val docs = (0L until 180L).toDF("doc_id")
    val media = Multimodal.syntheticMixedFrameGrouped(spark, docs,
      "doc_id")
    val landing = tmpDir("mfland")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(landing))
    MediaFiles.writeMediaFiles(media, landing)
    val nFiles = new java.io.File(landing).list().length
    def run(src: DataFrame, tag: String): Set[String] = {
      val pairs = tmpDir(s"mfpairs$tag")
      MediaDedupMaintenance.startUnified(src, tmpDir(s"mfstore$tag"),
        pairs, tmpDir(s"mfckpt$tag")).awaitTermination()
      spark.read.parquet(pairs)
        .select(concat_ws("|", col("doc_a"), col("doc_b"),
          col("hamming"), col("kind"))).collect()
        .map(_.getString(0)).toSet
    }
    val vanilla = run(MediaFiles.streamMediaFiles(spark, landing,
      math.max(1, (nFiles + 2) / 3)), "v")
    val manifestDir = tmpDir("mfmanifest")
    MediaFiles.appendManifest(spark, landing, manifestDir,
      manifestFiles = 3)
    val manifest = run(MediaFiles.streamManifest(spark, manifestDir, 1),
      "m")
    assert(vanilla.nonEmpty, "fixture produced no pairs")
    assert(manifest == vanilla,
      "manifest-backed stream changed the pair surface")
  }
}
