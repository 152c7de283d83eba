package graft

import graft.ext.{Images, Motion, RangeCoder, Video}
import org.apache.spark.sql.functions._

/** Round-16: the A/V sync audit widened past integral clocks (exact
  * whole-clip rational nominal, scale>1 rates, drop-frame/surplus
  * fixtures — q261), and the untrusted-header hardening the round-15
  * advice named (GMCP vector-table Int overflow, GRNG pre-read
  * allocation bound). */
class Round16Spec extends SparkSpec {

  import spark.implicits._

  private def le32(v: Int): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def pngFrames(n: Int, codec: Images.MediaCodec): Seq[Array[Byte]] =
    (0 until n).map(f => codec.encode(
      Images.renderPatternImage(40L + f, Video.FrameW, Video.FrameH)))

  test("variable-clock sync audit: a 29.97-fps/44100-Hz clip spanning " +
      "the exact whole-clip rational nominal reads deficit 0 (a " +
      "per-frame floor would misread it), scale>1 clocks parse, and " +
      "drop-frame/surplus fixtures read their designed deficits") {
    val codec = new Images.MediaCodec()
    try {
      val nF = 5
      val frames = pngFrames(nF, codec)
      // NTSC-class clocks: 44100 Hz against 33367 µs frames —
      // 1471.4847 samples/frame. Whole-clip nominal:
      // ⌊44100·33367·5/10⁶⌋ = 7357; a per-frame floor reads
      // 5·⌊1471.4847⌋ = 7355 — the 2-sample misread this fixture
      // exists to catch (the counterfactual is asserted below).
      val nominal = (BigInt(44100) * 33367 * nF / BigInt(1000000)).toLong
      assert(nominal != nF.toLong * (44100L * 33367L / 1000000L),
        "fixture no longer discriminates the per-frame floor")
      def clip(len: Int, us: Int, rate: Int, scale: Int): Array[Byte] =
        Video.muxAviAvClocked(frames,
          Array.tabulate[Short](len)(i =>
            graft.ext.Audio.sampleAt(3L, perturb = false, i)),
          Video.FrameW, Video.FrameH, us, rate, scale)
      val media = Seq(
        (1L, clip(nominal.toInt, 33367, 44100, 1)), // exact span
        (2L, clip(nominal.toInt - 137, 33367, 44100, 1)), // drop-frame
        (3L, clip(nominal.toInt + 64, 33367, 44100, 1)), // surplus
        // scale>1 rational clock: 88200/2 = 44100 Hz, 10 fps —
        // nominal ⌊88200·100000·5/(2·10⁶)⌋ = 22050
        (4L, clip(22050, 100000, 88200, 2)))
        .toDF("media_id", "payload")
      val rows = Video.avSyncAuditOf(spark, media).collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(rows(1L).getAs[Long]("sync_deficit") == 0L,
        s"exact rational span must read deficit 0, got ${rows(1L)}")
      assert(rows(2L).getAs[Long]("sync_deficit") == 137L,
        s"drop-frame clip must read 137, got ${rows(2L)}")
      assert(rows(3L).getAs[Long]("sync_deficit") == -64L,
        s"surplus clip must read -64, got ${rows(3L)}")
      assert(rows(4L).getAs[Long]("sync_deficit") == 0L,
        s"scale>1 exact span must read deficit 0, got ${rows(4L)}")
      assert(rows(4L).getAs[Long]("n_samples") == 22050L)
    } finally codec.dispose()
  }

  test("q261 fixture agrees with its analytic formula end to end " +
      "(clock class, rational nominal, designed deficit, interleave " +
      "skew) — the oracle's replay, checked in-process") {
    val docs = (0L until 16L).toDF("doc_id")
    val rows = Video.avSyncAuditVarClock(spark, docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.size == 16)
    (0L until 16L).foreach { id =>
      val pid = Images.baseId(id)
      val nf = Video.nFrames(pid)
      val (us, rate, scale) = Video.varClockOf(pid)
      val nominal =
        (BigInt(rate) * us * nf / (BigInt(scale) * 1000000L)).toLong
      val d = Video.varClockDeficit(pid).toLong
      val len = nominal - d
      val per = (len + nf - 1) / nf
      val skew = (0 until nf).map(i =>
        math.abs(math.min((i + 1) * per, len) * nf - (i + 1) * len)).max
      val r = rows(id)
      assert(r.getAs[Int]("n_frames") == nf &&
        r.getAs[Long]("n_samples") == len &&
        r.getAs[Int]("per_chunk") == per.toInt &&
        r.getAs[Long]("max_spread_skew") == skew &&
        r.getAs[Long]("sync_deficit") == d,
        s"id $id diverged from the analytic replay: $r vs " +
          s"(nf=$nf len=$len per=$per skew=$skew d=$d)")
    }
  }

  test("GMCP vector-table reader refuses a crafted-geometry header " +
      "loudly (the Int-overflow silent-truncation hole): 2^30-pixel " +
      "extents used to wrap the block count to 0 and return an empty " +
      "vector list") {
    val w = Video.FrameW; val h = Video.FrameH
    val a = Array.tabulate(w * h)(i => (i * 31).toByte)
    val b = Array.tabulate(w * h)(i => (i * 31 + 7).toByte)
    val enc = Motion.encodePredicted(b, a, w, h)
    assert(Motion.motionVectors(enc).nonEmpty)
    val crafted = enc.clone()
    // w = h = 0x40000000: blocksAcross(2^30,16)² overflows Int to 0
    crafted(5) = 0; crafted(6) = 0; crafted(7) = 0; crafted(8) = 0x40
    crafted(9) = 0; crafted(10) = 0; crafted(11) = 0; crafted(12) = 0x40
    val ex = intercept[IllegalArgumentException] {
      Motion.motionVectors(crafted)
    }
    assert(ex.getMessage.contains("2^28"),
      s"crafted geometry must refuse on the pixel bound: ${ex.getMessage}")
  }

  test("slowfs latency-injecting filesystem: bytes are the local " +
      "truth, the TTFB sleep is really injected (deterministic lower " +
      "bound), and the prefetched read-ahead through it preserves the " +
      "serial order/content surface") {
    val dir = tmpDir("slowfs")
    val bodies = (0 until 8).map(i =>
      Array.tabulate[Byte](64 + i)(j => (i * 131 + j).toByte))
    bodies.zipWithIndex.foreach { case (b, i) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/f$i.bin"), b)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.slowfs.impl", "graft.sources.SlowFs")
    conf.setLong("fs.slowfs.open.delay.ms", 30L)
    val fetch = org.apache.spark.sql.graftbridge.ColumnBridge
      .fileBytesReader(spark)
    val rows = (0 until 8).map(i => (i.toLong, s"slowfs://$dir/f$i.bin"))
    // byte parity + injected delay: 8 opens, 30 ms each, serially —
    // the wall is >= 240 ms BY CONSTRUCTION (every open sleeps), so
    // this pins that the wrapper actually injects, without a flaky
    // upper-bound assert
    val t0 = System.nanoTime()
    val serial = graft.ext.MediaFiles.prefetched(rows.iterator, 0)(fetch)
      .toVector
    val serialMs = (System.nanoTime() - t0) / 1e6
    assert(serialMs >= 240,
      s"8 serial opens at 30 ms injected TTFB read $serialMs ms — " +
        "the slowfs delay is not being applied")
    serial.zip(bodies).zipWithIndex.foreach { case (((id, got), want), i) =>
      assert(id == i.toLong && java.util.Arrays.equals(got, want),
        s"slowfs read of f$i diverged from the local bytes")
    }
    // the depth-4 read-ahead sees the identical ordered surface
    val ahead = graft.ext.MediaFiles.prefetched(rows.iterator, 4)(fetch)
      .toVector
    assert(ahead.map(_._1) == serial.map(_._1) &&
      ahead.zip(serial).forall { case ((_, a), (_, b)) =>
        java.util.Arrays.equals(a, b) },
      "prefetched through slowfs diverged from the serial surface")
    conf.unset("fs.slowfs.open.delay.ms")
  }

  test("snapshot table: merge-into semantics, replay idempotence, " +
      "snapshot isolation through a concurrent merge, untouched-" +
      "partition carry-by-reference, time travel, and a retention cut " +
      "that keeps dropped-version dirs a retained manifest still " +
      "references") {
    import graft.ops.SnapshotTable
    val tbl = tmpDir("snaptbl") + "/t"
    val b1 = Seq((1L, "a1", 1), (2L, "a2", 1), (3L, "a3", 2),
      (4L, "a4", 2)).toDF("k", "v", "p")
    assert(SnapshotTable.merge(spark, tbl, b1, "k", "v", Seq("p"),
      Some(10L)) == 1L)
    // replay: the same batch id at the head is a no-op
    assert(SnapshotTable.merge(spark, tbl, b1, "k", "v", Seq("p"),
      Some(10L)) == 1L)
    assert(SnapshotTable.versions(spark, tbl) == Seq(1L))
    def content(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int)] =
      df.select(col("k"), col("v"), col("p")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val v1Content = Set((1L, "a1", 1), (2L, "a2", 1), (3L, "a3", 2),
      (4L, "a4", 2))
    // a reader holds v1 while batch 2 merges (update k=2, insert k=9,
    // touching ONLY partition p=1)
    val held = SnapshotTable.resolve(spark, tbl)
    val b2 = Seq((2L, "b2", 1), (9L, "b9", 1)).toDF("k", "v", "p")
    assert(SnapshotTable.merge(spark, tbl, b2, "k", "v", Seq("p"),
      Some(11L)) == 2L)
    // isolation: the held snapshot still reads exactly v1's rows
    assert(content(SnapshotTable.readSnap(spark, tbl, held)) == v1Content,
      "a concurrent merge changed what a held snapshot reads")
    // head = merge-into semantics; p=2 rows carried untouched
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((1L, "a1", 1), (2L, "b2", 1), (9L, "b9", 1), (3L, "a3", 2),
        (4L, "a4", 2)))
    // time travel re-resolves v1 by version number
    assert(content(SnapshotTable.read(spark, tbl, Some(1L))) == v1Content)
    // carry-by-REFERENCE: v2's manifest names v1's p=2 dir verbatim
    val m2 = SnapshotTable.resolve(spark, tbl)
    assert(m2.entryPaths.map(untokened).toSet ==
      Set("v=2/__gp_p=1", "v=1/__gp_p=2"),
      s"expected partition-scoped copy-on-write entries, got ${m2.entries}")
    // retention: drop v1's manifest; time travel below the cut is
    // loud; the p=2/v=1 DIR survives because the retained v2
    // manifest still references it (the live-reference sweep)
    SnapshotTable.retainNewest(spark, tbl, 1, graceMs = 0L)
    intercept[IllegalArgumentException] {
      SnapshotTable.resolve(spark, tbl, Some(1L))
    }
    val fs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val v1Dir = versionDir(tbl, 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(v1Dir, "__gp_p=1")),
      "the superseded, unreferenced v=1/__gp_p=1 dir must be swept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(v1Dir, "__gp_p=2")),
      "v=1/__gp_p=2 is referenced by the retained head and must survive")
    assert(content(SnapshotTable.read(spark, tbl)) ==
      Set((1L, "a1", 1), (2L, "b2", 1), (9L, "b9", 1), (3L, "a3", 2),
        (4L, "a4", 2)), "head content changed across the retention cut")
    // a null partition value refuses loudly BEFORE any mutation —
    // partitionBy would render __HIVE_DEFAULT_PARTITION__ and the
    // committed data would diverge from its manifest key
    val exNull = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, tbl,
        Seq((50L, "x", None: Option[Int])).toDF("k", "v", "p"),
        "k", "v", Seq("p"), Some(99L))
    }
    assert(exNull.getMessage.contains("null partition value"))
    assert(SnapshotTable.versions(spark, tbl) == Seq(2L),
      "the refused merge must not have committed anything")
  }

  test("snapshot table OPTIMIZE: content-identical new version, all " +
      "entries compacted under it, held pre-optimize snapshots " +
      "untouched, and the carried batch id keeps a replayed merge a " +
      "no-op after the rewrite") {
    import graft.ops.SnapshotTable
    val tbl = tmpDir("snapopt") + "/t"
    val b1 = Seq((1L, "a1", 1), (2L, "a2", 1), (3L, "a3", 2)).toDF("k", "v", "p")
    val b2 = Seq((2L, "b2", 1), (9L, "b9", 2)).toDF("k", "v", "p")
    SnapshotTable.merge(spark, tbl, b1, "k", "v", Seq("p"), Some(10L))
    SnapshotTable.merge(spark, tbl, b2, "k", "v", Seq("p"), Some(11L))
    val held = SnapshotTable.resolve(spark, tbl)
    def content(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int)] =
      df.select(col("k"), col("v"), col("p")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val want = Set((1L, "a1", 1), (2L, "b2", 1), (3L, "a3", 2),
      (9L, "b9", 2))
    assert(content(SnapshotTable.read(spark, tbl)) == want)
    assert(SnapshotTable.optimize(spark, tbl, Seq("p")) == 3L)
    assert(content(SnapshotTable.read(spark, tbl)) == want,
      "optimize changed the table's content")
    val m3 = SnapshotTable.resolve(spark, tbl)
    assert(m3.entryPaths.forall(SnapshotTable.versionOf(_) == 3L) &&
      m3.entries.size == 2,
      s"optimize must compact every partition under its version: ${m3.entries}")
    assert(content(SnapshotTable.readSnap(spark, tbl, held)) == want,
      "a held pre-optimize snapshot changed through the rewrite")
    // the batch id carried forward: replaying the last merge is a
    // no-op against the OPTIMIZED head
    assert(SnapshotTable.merge(spark, tbl, b2, "k", "v", Seq("p"),
      Some(11L)) == 3L)
    assert(SnapshotTable.versions(spark, tbl) == Seq(1L, 2L, 3L))
  }

  test("snapshot table schema evolution: an added column widens the " +
      "manifest schema and reads null on pre-evolution rows, a " +
      "time-travel read keeps the schema AS OF that version, and " +
      "drops/type-changes refuse loudly") {
    import graft.ops.SnapshotTable
    val tbl = tmpDir("snapevo") + "/t"
    val b1 = Seq((1L, "a1", 1), (3L, "a3", 2)).toDF("k", "v", "p")
    val b2 = Seq((1L, "b1", 1), (9L, "b9", 1)).toDF("k", "v", "p")
      .withColumn("extra", col("k") * 10)
    SnapshotTable.merge(spark, tbl, b1, "k", "v", Seq("p"), Some(10L))
    SnapshotTable.merge(spark, tbl, b2, "k", "v", Seq("p"), Some(11L))
    val head = SnapshotTable.read(spark, tbl)
      .select(col("k"), col("v"), col("p"), col("extra")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(head == Set((1L, "b1", 1, Some(10L)), (9L, "b9", 1, Some(90L)),
      (3L, "a3", 2, None)),
      s"evolved head must read nulls on pre-evolution winners: $head")
    // schema AS OF a version: v1 has no 'extra' at all
    assert(!SnapshotTable.read(spark, tbl, Some(1L)).columns
      .contains("extra"),
      "a time-travel read must carry the schema as of that version")
    // type change and column drop refuse loudly
    val exType = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, tbl,
        Seq((5L, 7, 1, 5L)).toDF("k", "v", "p", "extra"),
        "k", "v", Seq("p"), Some(12L))
    }
    assert(exType.getMessage.contains("cannot change"))
    val exDrop = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, tbl, Seq((5L, "x", 1)).toDF("k", "v", "p"),
        "k", "v", Seq("p"), Some(12L))
    }
    assert(exDrop.getMessage.contains("drops table column"))
    // the PARTITIONING is part of the table contract: merging (or
    // optimizing) keyed on different columns — including one the
    // delta just added — would replace nothing and commit duplicate
    // keys side by side
    val exParts = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, tbl, b2, "k", "v", Seq("extra"),
        Some(12L))
    }
    assert(exParts.getMessage.contains("partitioned by"))
    intercept[IllegalArgumentException] {
      SnapshotTable.optimize(spark, tbl, Seq("extra"))
    }
    assert(SnapshotTable.versions(spark, tbl) == Seq(1L, 2L),
      "refused merges must not have committed")
    // a non-nullable container column survives its own DDL round trip
    // (toDDL/fromDDL loses containsNull — an exact type equality
    // would refuse the SECOND merge of an unchanged schema)
    val t2 = tmpDir("snaparr") + "/t"
    def arr(k: Long) = Seq((k, "z", 3)).toDF("k", "v", "p")
      .withColumn("a", array(col("k")))
    SnapshotTable.merge(spark, t2, arr(100L), "k", "v", Seq("p"), Some(1L))
    SnapshotTable.merge(spark, t2, arr(101L), "k", "v", Seq("p"), Some(2L))
    assert(SnapshotTable.read(spark, t2).count() == 2L,
      "non-nullable array column must merge across the DDL round trip")
  }

  test("GRNG decode refuses a crafted header whose nRle passes the " +
      "structural bound but not the adaptive-capacity bound — the " +
      "~512 MB pre-read allocation a 20-byte payload could force") {
    val bomb = new java.io.ByteArrayOutputStream()
    bomb.write("GRNG".getBytes("US-ASCII"))
    bomb.write(le32(16384)); bomb.write(le32(16384))
    bomb.write(le32(500000000)) // <= 2wh = 2^29, structural-legal
    (0 until 16).foreach(_ => bomb.write(0xAB)) // 16 bitstream bytes
    val ex = intercept[IllegalArgumentException] {
      RangeCoder.decodePlane(bomb.toByteArray)
    }
    assert(ex.getMessage.contains("capacity"),
      s"expected the capacity refusal, got: ${ex.getMessage}")
  }
}
