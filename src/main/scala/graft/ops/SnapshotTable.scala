package graft.ops

import graft.state.Claims
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SNAPSHOT-VERSIONED table with MERGE-INTO semantics, snapshot-
  * isolated readers, and time travel — the open-table-format
  * capabilities a 100-TB user asks Delta/Iceberg for (their public
  * design: an immutable manifest names each version's data files;
  * writers commit a NEW manifest and never mutate published data),
  * rebuilt on this engine's commit discipline because the sandbox
  * ships no Delta/Iceberg jars (zero egress, pinned dependencies).
  *
  * Layout:
  * {{{
  *   dir/_head                           advisory head pointer (text
  *                                         version; resolve probes
  *                                         forward past it — never an
  *                                         O(versions) listing)
  *   dir/_tag.<name>                     named ref (Iceberg's tags):
  *                                         a pinned version, exempt
  *                                         from retention until dropped
  *   dir/_snap.<ver>                     version manifest (tmp + no-
  *     batch=<id>                          clobber rename, read-back
  *     schema=<ddl> / parts=<cols>         verified):
  *     statskey=<col>[,<col>...]           columns with recorded bounds
  *     dvkey=<col>                         deletion-vector join column
  *     check=<name> <exprEnc>              CHECK constraints (enforced
  *                                           on every write's output)
  *     base=<ver-1>                        DELTA manifest: entries are
  *     drop=<path>                           base minus drops plus the
  *     entry=v=<n>-<tok>/<partKey>         entry= lines (full
  *     stat=<i> <k> <minEnc> <maxEnc>        manifests re-emitted every
  *     fstat=<i> <file> <k> <mn> <mx>        ManifestCheckpointEvery)
  *     dv=<i> <dvPathEnc>                  per-entry sidecar refs
  *     rows=<i> <n>                        exact per-entry row counts
  *                                           (metadata-only count(*))
  *   dir/data/v=<n>-<tok>/<partKey>/part-*.parquet
  *   dir/data/v=<n>-<tok>/_dv/part-*.parquet   deleted-key sidecars
  * }}}
  * `v=<n>-<tok>` is the staging dir of the attempt that committed
  * version `<n>` (the token is fresh per attempt, [[stagingDir]]);
  * tables written before every attempt carried a token name their
  * dirs `v=<n>` and read the same — entries are opaque paths.
  * `<partKey>` is `__gp_<col>=<escaped value>[/…]`: the writer
  * duplicates each partition column into a hidden `__gp_` twin and
  * partitions by THAT, so the ORIGINAL columns stay real data columns
  * in the parquet files — snapshot reads are a plain parquet read
  * over the manifest's dir list with no partition-type inference
  * anywhere (a `"007"` string partition value comes back `"007"`,
  * not the integer 7 a hive-inference read would invent). Values are
  * rendered with Spark's own hive path escaping
  * ([[org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
  * .escapePathName]]), so the manifest key and the dir `partitionBy`
  * writes cannot diverge; partition column types are restricted to
  * the ones whose string rendering is that escaping's input
  * (integral, string, boolean — loud otherwise, because a timestamp's
  * dir rendering is not its `Row.toString`).
  *
  * MERGE = [[Upsert.merge]] (the reference's deterministic new-wins
  * dedup, gluejob.py:173-205) executed COPY-ON-WRITE at partition
  * granularity: only partitions the delta touches are read and
  * rewritten into fresh `v=<n>-<tok>` dirs (ONE `partitionBy` write job,
  * never a per-partition driver loop); untouched partitions carry
  * into the new manifest BY REFERENCE — the manifest indirection that
  * keeps the write cost O(delta + touched partitions), exactly the
  * K1 dynamic-overwrite's bound, while ADDING what the in-place
  * overwrite cannot give: every committed version stays readable
  * (time travel), and a reader holding a resolved manifest sees an
  * immutable file set however many merges land after it (snapshot
  * isolation). Replay idempotence: a merge carrying the batch id
  * already at the head is a no-op — the foreachBatch replay contract.
  *
  * PARTITION/KEY CONTRACT: partition columns must be functionally
  * dependent on the merge key (a key lives in exactly one partition
  * value, for all time). The committed entry list is derived from the
  * MERGED output's actual distinct partitions — not the delta's — so
  * a delta that (in violation of the contract) carries one key under
  * two partition values still commits a manifest whose every entry
  * names a dir the write really produced; but a key whose existing
  * winner sits in an UNtouched partition cannot be removed by a
  * touched-partition merge, so contract violations can leave the same
  * key alive under two partitions. The contract is the caller's to
  * keep (Delta/Iceberg partitioned MERGEs carry the same caveat).
  *
  * Manifest format (v5): `statskey=` carries a column LIST and every
  * `stat=`/`fstat=` line addresses its column by index — Iceberg's
  * per-column bounds, so [[readRange]] skips on ANY recorded column;
  * `dvkey=`/`dv=` lines reference deletion-vector sidecars
  * ([[deleteKeys]]); `base=`/`drop=` lines make a manifest an entry
  * DELTA against its predecessor (full manifests re-emitted every
  * [[ManifestCheckpointEvery]] commits — the Delta-checkpoint shape
  * that keeps commit bytes O(changed entries) and resolve O(chain),
  * with the `_head` pointer making head discovery O(1) instead of an
  * O(versions) listing). Statless manifests resolve fine — entries
  * without bounds are simply never pruned. Manifests written before
  * schema tracking refuse loudly on resolve (no durable pre-format
  * tables exist; every table in this repo is an ephemeral fixture,
  * so a silent fallback would only ever mask corruption).
  *
  * Concurrency, in three tiers:
  *  - Every writer stages its data under a unique per-attempt dir
  *    (`data/v=<n>-<token>`), so no two attempts ever share a staging
  *    dir, and the commit's check-rename-readback section is
  *    serialized per table dir: exactly one writer wins each version.
  *  - WITHIN one driver JVM, [[merge]], [[mergeCdc]] and
  *    [[deleteKeys]] are fully safe under concurrency (optimistic,
  *    Delta's public shape): a loser re-commits its staging when the
  *    winner's change is partition-disjoint, and otherwise rebases —
  *    re-resolves the advanced head and recomputes; loser stagings are
  *    unreferenced and [[vacuum]] reclaims them. The maintenance
  *    rewrites ([[optimize]], [[repartitionTable]], [[renameColumn]])
  *    keep the single-writer discipline with a violation made LOUD:
  *    the commit refuses if `_snap.<ver>` already exists before its
  *    claim, claims the version, and re-reads the manifest after the
  *    claim requiring its own bytes.
  *  - Across PROCESSES the version CLAIM is the filesystem's own:
  *    every manifest and ref commits through [[graft.state.Claims]]
  *    (per-attempt tmp, then the no-clobber `FileContext` rename —
  *    atomic on HDFS-class stores, check-then-rename on the local
  *    filesystem). A cross-process loser surfaces as the same typed
  *    [[graft.state.Claims.Conflict]] the in-JVM monitor raises, so
  *    [[merge]] rebases across processes too. The post-claim
  *    read-back stays as defense-in-depth for stores whose rename can
  *    still clobber (raw object stores without a rename primitive) —
  *    only THERE is the protection best-effort detection rather than a
  *    claim. */
object SnapshotTable {

  /** Per-file, PER-COLUMN bounds inside an entry's dir (`name` is the
    * bare parquet file name) — the Iceberg manifest granularity: with
    * salted or ZORDER-clustered writes a partition dir holds several
    * files, and file-level bounds let a point/range read open only
    * the files that can match. `bounds` maps each recorded stats
    * column to its (min, max); a column absent from the map carried
    * no usable footer stats in this file (the file must always be
    * opened for predicates on it). An EMPTY map records a file with
    * no usable stats at all — the manifest still lists it, so a
    * non-empty `fileStats` is a COMPLETE inventory of the dir and
    * pruning can rely on it. Bounds come from the parquet footer
    * statistics and are CONSERVATIVE: min ≤ the true min and max ≥
    * the true max. Integral bounds are exact; string bounds are exact
    * unless the writer truncated its binary statistics
    * (`parquet.statistics.truncate.length`), which keeps a prefix of
    * the min and bumps the max upward. */
  final case class FileStat(name: String,
      bounds: Map[String, (String, String)])

  /** One manifest entry: a live partition dir (relative to
    * `dir/data/`) plus optional min/max of the table's stats key over
    * that dir's rows (rendered `toString`, escaped only on disk;
    * conservative like [[FileStat]]'s — min ≤ the true min, max ≥ the
    * true max), and
    * optional per-file bounds harvested from the parquet FOOTERS at
    * commit time (metadata-only reads — no data pass). `dvs` lists
    * DELETION-VECTOR sidecars (parquet dirs of deleted keys, relative
    * to `dir/data/`) applied to this entry's rows as an anti-join at
    * read — the merge-on-read shape (Iceberg's equality deletes /
    * Delta's deletion vectors): a point delete costs O(delete keys),
    * not a rewrite of every touched partition. */
  final case class Entry(path: String,
      stats: Map[String, (String, String)] = Map.empty,
      fileStats: Seq[FileStat] = Nil, dvs: Seq[String] = Nil,
      rows: Option[Long] = None)

  /** One resolved version: the immutable contract a reader holds.
    * `schemaDdl` is the TABLE SCHEMA AS OF THIS VERSION (Spark DDL),
    * recorded in the manifest like Delta/Iceberg record theirs — the
    * read side pins it, so files written before an additive schema
    * evolution surface the added columns as nulls without any
    * footer-merging scan. `statsKeys` names the columns the entries'
    * per-column min/max bounds describe — the merge key first, plus
    * any caller-requested stats columns (Iceberg records per-column
    * bounds the same way); [[readRange]] prunes on ANY recorded
    * column. */
  final case class Snap(ver: Long, batchId: Option[Long],
      entries: Seq[Entry], schemaDdl: String, partCols: Seq[String],
      statsKeys: Seq[String], dvKey: Option[String] = None,
      depth: Int = 0, checks: Map[String, String] = Map.empty,
      droppedCols: Seq[String] = Nil) {
    def entryPaths: Seq[String] = entries.map(_.path)
    /** The PRIMARY stats column (the merge key) — the salt column and
      * the bound [[pruneByKey]] historically served. */
    def statsKey: Option[String] = statsKeys.headOption
  }

  /** Checkpoint cadence for DELTA manifests: a manifest may record
    * only its entry diff against `base=<ver-1>` as long as the chain
    * below it is shorter than this; the next commit past the cap
    * re-emits the full entry list (Delta's checkpoint shape). Caps
    * both the resolve chain (≤ this many manifest reads) and the
    * blast radius of a lost manifest file. */
  val ManifestCheckpointEvery = 10

  /** Hidden partition-column prefix: `partitionBy` consumes the
    * `__gp_` twins into dir names while the originals ride the files. */
  private val P = "__gp_"

  /** Per-table-dir commit monitors: the commit's check-rename-readback
    * section is serialized WITHIN this JVM, so two threads of one
    * driver (the engine's real concurrency shape —
    * pooled landing threads, foreachBatch callbacks) racing
    * the same version get exactly one winner and one loud loser; the
    * loser's [[merge]] rebase then lands on the next version.
    * Cross-PROCESS writers stay best-effort detection, as documented
    * on the object. The map grows one Object per table dir touched by
    * this JVM — bounded by the tables a driver writes, not by data. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Lock key: the FILESYSTEM-QUALIFIED table path — two spellings of
    * one dir ("/t" vs "/t/" vs a relative path) must map to ONE
    * monitor, or the per-dir serialization silently splits. */
  private def lockKey(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** Default row cap per write task AND per output file — aligned
    * with [[Upsert.upsertPartitioned]]'s `maxRecordsPerFile`. A
    * partition whose merged row count exceeds this is salted across
    * `ceil(rows/cap)` tasks so one hot month is never one multi-GB
    * straggler task at 100×. */
  val DefaultMaxRowsPerTask = 5000000L

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Nullability-normalized type (containers forced nullable,
    * recursively) — `toDDL`/`fromDDL` loses `containsNull`-class
    * flags, so schema-evolution type equality must ignore them. */
  private def normalized(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => ArrayType(normalized(et), containsNull = true)
    case MapType(kt, vt, _) =>
      MapType(normalized(kt), normalized(vt), valueContainsNull = true)
    case StructType(fields) => StructType(fields.map(f =>
      StructField(f.name, normalized(f.dataType), nullable = true)))
    case other => other
  }

  /** TYPE-WIDENING lattice (Delta 3.x / Iceberg v2's safe widenings,
    * restricted to what Spark 4's parquet readers verifiably upcast
    * under a pinned wider schema — the SPARK-40876 read path, each
    * edge spec-pinned with a real narrow file): a column may grow
    * byte→short→int→long, {byte,short,int}→double (exact — every
    * int32 is a double), float→double, and decimal(p,s)→decimal(P,S)
    * when both the scale and the integral headroom grow or hold
    * (S>=s ∧ P-S>=p-s). Long→double is NOT here (2⁶³ loses ulps),
    * nor int→float (2³¹ doesn't fit a 24-bit mantissa), nor any
    * narrowing. */
  private[graft] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if normalized(a) == normalized(b) => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          d2.precision - d2.scale >= d1.precision - d1.scale
      case _ => false
    }

  /** Types whose `toString` equals Spark's partition-dir rendering —
    * the precondition for manifest keys matching `partitionBy` dirs. */
  private def pathSafe(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         BooleanType => true
    case _ => false
  }

  /** Types whose min/max round-trip through a manifest string with a
    * driver-side total order (integral as Long, string lexicographic)
    * — the precondition for recording entry stats. Other key types
    * simply get no stats (reads stay correct, just unpruned). */
  private def statSafe(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }

  /** Loud, before any work: a duplicated partition column would only
    * surface as an opaque duplicate-`__gp_` AnalysisException deep in
    * the write, after the table scan is already paid. */
  private def requireDistinctCols(partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "partCols must name >= 1 column")
    require(partCols.distinct.size == partCols.size,
      s"partition columns must be distinct, got ${partCols.mkString(", ")}")
  }

  private def requirePathSafe(df: DataFrame, partCols: Seq[String]): Unit =
    partCols.foreach { c =>
      val dt = df.schema(c).dataType
      require(pathSafe(dt),
        s"partition column '$c' is $dt — dir rendering would diverge " +
          "from the manifest key; use integral, string, or boolean " +
          "partition values")
    }

  /** Render one partition row to its manifest key with Spark's own
    * hive path escaping, LOUD on a null — `partitionBy` writes a null
    * as `__HIVE_DEFAULT_PARTITION__`, so the path would silently
    * diverge from the manifest entry and the partition's data would
    * be committed but unreadable. */
  private def partKeyRow(partCols: Seq[String], r: Row): String =
    partCols.zipWithIndex.map { case (c, i) =>
      require(!r.isNullAt(i),
        s"null partition value for '$c' — hive path rendering would " +
          "diverge from the manifest key; partition values must be " +
          "non-null integral/string/boolean scalars")
      val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(r.getAs[Any](i).toString)
      s"$P$c=$v"
    }.mkString("/")

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Byte-wise unsigned UTF-8 comparison — the single string order
    * every stats producer (Spark UTF8String aggregates, parquet
    * binary stats) and consumer (entry/file pruning) in this table
    * must agree on. */
  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** One write job: duplicate the partition columns into their
    * hidden `__gp_` twins and lay every partition of `df` down under
    * `dest` — originals stay in the files. Partitions whose row count
    * exceeds `maxRowsPerTask` are salted across `ceil(n/cap)` tasks
    * (`saltOn`'s hash mod the per-partition split count, via a
    * broadcast of the tiny per-partition split table) so a hot
    * partition value is parallel work, not one straggler task; the
    * common all-small case keeps the salt-free one-task-per-partition
    * shape (no small-file spray). `maxRecordsPerFile` bounds file
    * sizes either way (the [[Upsert.upsertPartitioned]] discipline). */
  private def writePartitioned(df: DataFrame, partCols: Seq[String],
      dest: String, saltOn: Column, partRows: Seq[(Row, Long)],
      maxRowsPerTask: Long, clusterKey: Option[Column] = None): Unit = {
    val spark = df.sparkSession
    val out = df.select(col("*") +: partCols.map(c => col(c).as(s"$P$c")): _*)
    val splits = partRows.map { case (r, n) =>
      ((n + maxRowsPerTask - 1) / maxRowsPerTask).toInt.max(1)
    }
    val shaped =
      if (clusterKey.isDefined)
        // CLUSTERED rewrite (OPTIMIZE ZORDER): range-partition on
        // (partition cols, cluster key) — a hot partition's rows
        // spread over range buckets proportionally to its share, so
        // the salt's straggler protection falls out of the sampling —
        // then sort within tasks, so every output FILE covers a
        // contiguous, per-partition-disjoint key interval and parquet
        // footer min/max prune at file AND row-group granularity
        out.withColumn(s"${P}z", clusterKey.get)
          .repartitionByRange(math.max(splits.sum, 1),
            partCols.map(col) :+ col(s"${P}z"): _*)
          .sortWithinPartitions(partCols.map(col) :+ col(s"${P}z"): _*)
          .drop(s"${P}z")
      else if (splits.forall(_ <= 1))
        // EXPLICIT task count = the number of partition values this
        // write actually produces (known from the estimate): a bare
        // repartition(partCols) is AQE-coalescible, and on a
        // small-bytes commit AQE folds the whole write into ONE task
        // that then creates every partition's file SERIALLY — the
        // wall tracks file-open latency × partitions instead of
        // partitions / cores (measured on the merge path: 84-dir
        // commits spent 0.6-2.6 s in a single write task; parallel,
        // the same write is bounded by a handful of file opens).
        // Data-derived, not a local constant: one task per produced
        // partition value is exactly the salt-free contract above,
        // at any scale; files per partition are unchanged (all of a
        // value's rows still hash to the same task).
        out.repartition(math.max(partRows.size, 1),
          partCols.map(col): _*)
      else {
        val partTypes = partCols.map(c => df.schema(c))
        // each partition value owns a CONTIGUOUS task-index range
        // [offset, offset+k): the broadcast split table carries the
        // per-partition slice count AND its cumulative offset, and
        // every row routes to task offset + (saltHash mod k) —
        // Spark 4's repartitionById (DirectShufflePartitionID) makes
        // the computed index the ACTUAL shuffle partition id, so a
        // hot partition gets EXACTLY k tasks. The previous shape
        // hash-partitioned the (partCols, salt) tuple into
        // splits.sum tasks, where balls-in-bins collisions could
        // land a hot partition's k slices in < k tasks (two slices
        // re-merged into one straggler) and leave other tasks empty.
        // Exact routing also opts out of AQE coalescing by
        // construction — the id IS the partition.
        val offsets = splits.scanLeft(0)(_ + _)
        val splitRows = partRows.zip(splits.zip(offsets)).map {
          case ((r, _), (k, off)) =>
            Row.fromSeq(partCols.indices.map(r.get) ++ Seq(k, off))
        }
        val splitDf = spark.createDataFrame(
          spark.sparkContext.parallelize(splitRows, 1),
          StructType(partTypes ++ Seq(
            StructField(s"${P}splits", IntegerType, nullable = false),
            StructField(s"${P}off", IntegerType, nullable = false))))
        out.join(broadcast(splitDf), partCols)
          .repartitionById(splits.sum,
            (col(s"${P}off") +
              pmod(saltOn, col(s"${P}splits"))).cast("int"))
          .drop(s"${P}splits", s"${P}off")
      }
    shaped.write.mode("overwrite")
      .option("compression", "snappy")
      .option("maxRecordsPerFile", maxRowsPerTask)
      .partitionBy(partCols.map(P + _): _*)
      .parquet(dest)
  }

  /** Serialize the entry lines (`entry=`/`stat=`/`fstat=`/`dv=`) for
    * `entries`, indices into THEIR OWN sorted order — a full
    * manifest's whole inventory, or a delta manifest's added set. */
  private def entryLines(entries: Seq[Entry], statsKeys: Seq[String])
      : Seq[String] = {
    val sorted = entries.sortBy(_.path)
    // stat/fstat lines address their column by INDEX into the
    // statskey list; bounds for a column not in the list cannot
    // serialize and are dropped (writeAndCommit intersects first —
    // unstated bounds only ever widen reads, never corrupt them)
    val keyIdx = statsKeys.zipWithIndex.toMap
    val statLines = sorted.zipWithIndex.flatMap { case (e, i) =>
      e.stats.toSeq.collect {
        case (c, (mn, mx)) if keyIdx.contains(c) =>
          (keyIdx(c), s"stat=$i ${keyIdx(c)} ${enc(mn)} ${enc(mx)}")
      }.sortBy(_._1).map(_._2)
    }
    // a statless file serializes with the bare `?` sentinel (URL
    // encoding can never produce a bare `?`, so no value collides)
    val fstatLines = sorted.zipWithIndex.flatMap { case (e, i) =>
      e.fileStats.flatMap { f =>
        val cols = f.bounds.toSeq.collect {
          case (c, (mn, mx)) if keyIdx.contains(c) =>
            (keyIdx(c), mn, mx)
        }.sortBy(_._1)
        if (cols.isEmpty) Seq(s"fstat=$i ${enc(f.name)} ? ?")
        else cols.map { case (k, mn, mx) =>
          s"fstat=$i ${enc(f.name)} $k ${enc(mn)} ${enc(mx)}"
        }
      }
    }
    val dvLines = sorted.zipWithIndex.flatMap { case (e, i) =>
      e.dvs.map(p => s"dv=$i ${enc(p)}")
    }
    val rowLines = sorted.zipWithIndex.flatMap { case (e, i) =>
      e.rows.map(n => s"rows=$i $n")
    }
    sorted.map(e => s"entry=${e.path}") ++ statLines ++ fstatLines ++
      dvLines ++ rowLines
  }

  /** The full manifest body for a final entry state — also what
    * [[retainNewest]] re-emits when it checkpoints the oldest
    * retained delta before deleting its base chain. */
  /** The always-full metadata header every manifest (full or delta)
    * carries: batch id, schema, partitioning, stats columns, dv key,
    * CHECK constraints — tiny, so deltas re-emit it whole. */
  private def headerLines(batchId: Option[Long], entries: Seq[Entry],
      schemaDdl: String, partCols: Seq[String], statsKeys: Seq[String],
      dvKey: Option[String], checks: Map[String, String],
      droppedCols: Seq[String]): Seq[String] =
    batchId.map(b => s"batch=$b").toSeq ++
      Seq(s"schema=$schemaDdl", s"parts=${partCols.mkString(",")}") ++
      (if (statsKeys.nonEmpty)
        Seq(s"statskey=${statsKeys.mkString(",")}") else Nil) ++
      dvKey.filter(_ => entries.exists(_.dvs.nonEmpty))
        .map(k => s"dvkey=$k").toSeq ++
      checks.toSeq.sortBy(_._1).map { case (n, e) =>
        s"check=$n ${enc(e)}"
      } ++
      droppedCols.sorted.map(c => s"dropped=$c")

  private def fullBody(batchId: Option[Long], entries: Seq[Entry],
      schemaDdl: String, partCols: Seq[String], statsKeys: Seq[String],
      dvKey: Option[String],
      checks: Map[String, String] = Map.empty,
      droppedCols: Seq[String] = Nil): String =
    (headerLines(batchId, entries, schemaDdl, partCols, statsKeys,
      dvKey, checks, droppedCols) ++
      entryLines(entries, statsKeys)).mkString("\n")

  /** Commit a manifest: refuse if the destination version already
    * exists, then claim it ([[graft.state.Claims.claim]] — the
    * filesystem picks exactly one winner per version), then READ BACK
    * and require our own bytes (defense-in-depth for stores whose
    * rename can clobber — see the object doc's concurrency tiers),
    * then advance the advisory `_head` pointer.
    *
    * `entries` is always the FULL final entry state; when `base` (the
    * head this commit was computed against) is supplied, the manifest
    * may serialize as a DELTA — `base=<ver-1>` plus `drop=` lines and
    * the added entries — so a narrow merge writes O(changed entries)
    * manifest text instead of O(all partitions) (the Delta/Iceberg
    * incremental-manifest shape). A full manifest is emitted instead
    * whenever the chain below would reach [[ManifestCheckpointEvery]]
    * (the checkpoint cadence) or the diff wouldn't actually be
    * smaller (an OPTIMIZE replaces everything). Resolution applies
    * the chain base-up; content is identical either way.
    * (Package-private so the spec can exercise the losing writer's
    * commit attempt directly — the interleaving is not reachable
    * through merge() without a real race.) */
  private[graft] def commitManifest(spark: SparkSession, dir: String,
      newVer: Long, batchId: Option[Long], entries: Seq[Entry],
      schemaDdl: String, partCols: Seq[String],
      statsKeys: Seq[String], dvKey: Option[String] = None,
      base: Option[Snap] = None,
      checks: Map[String, String] = Map.empty,
      droppedCols: Seq[String] = Nil,
      ref: Option[String] = None): Unit = {
    require(checks.keys.forall(n => !n.contains(" ") && !n.contains("\n")),
      s"check names must be space-free: ${checks.keys.mkString(", ")}")
    require(!schemaDdl.contains("\n"),
      "schema DDL must be a single manifest line")
    require(dvKey.isDefined || entries.forall(_.dvs.isEmpty),
      "entries carry deletion vectors but no dvkey names the column " +
        "they delete by — the manifest would be unreadable")
    require(statsKeys.distinct.size == statsKeys.size &&
      statsKeys.forall(k => !k.contains(",") && !k.contains(" ")),
      s"stats columns must be distinct, comma/space-free names: " +
        statsKeys.mkString(", "))
    val fs = fsOf(spark, dir)
    // a branch commit claims in its own namespace (`_bsnap.<name>.<v>`)
    // — invisible to main's resolution until fastForward adopts it
    val dst = new Path(dir,
      ref.fold(s"_snap.$newVer")(b => s"_bsnap.$b.$newVer"))
    val body = base match {
      case Some(b) if b.ver == newVer - 1 && b.ver > 0 &&
          b.depth + 1 < ManifestCheckpointEvery =>
        // diff vs base: an entry changed in place (same path, new
        // stats/dvs) serializes as drop + re-add
        val baseByPath = b.entries.map(e => e.path -> e).toMap
        val newByPath = entries.map(e => e.path -> e).toMap
        val adds = entries.filter(e =>
          !baseByPath.get(e.path).contains(e))
        val drops = b.entries.map(_.path).filter(p =>
          !newByPath.get(p).exists(e => baseByPath(p) == e))
        if (adds.size + drops.size >= entries.size)
          fullBody(batchId, entries, schemaDdl, partCols, statsKeys,
            dvKey, checks, droppedCols) // diff no smaller — checkpoint
        else
          (headerLines(batchId, entries, schemaDdl, partCols,
            statsKeys, dvKey, checks, droppedCols) ++
            Seq(s"base=${b.ver}") ++
            drops.sorted.map(p => s"drop=$p") ++
            entryLines(adds, statsKeys)).mkString("\n")
      case _ =>
        fullBody(batchId, entries, schemaDdl, partCols, statsKeys,
          dvKey, checks, droppedCols)
    }
    val lock = commitLocks.computeIfAbsent(lockKey(spark, dir),
      _ => new Object)
    lock.synchronized {
      if (fs.exists(dst)) throw new Claims.Conflict(
        s"snapshot manifest $dst already exists — a concurrent writer " +
          "committed this version first")
      Claims.claim(spark, dst, body)
      if (Claims.read(fs, dst) != body) throw new Claims.Conflict(
        s"snapshot manifest $dst was replaced by a concurrent writer — " +
          "cross-process commits are best-effort detection; the other " +
          "commit won")
      // branches have no pointer: their heads probe forward from the
      // immutable fork record, and audit branches stay short
      if (ref.isEmpty) advanceHeadPointer(spark, dir, newVer)
    }
  }

  private def writeHeadPointer(spark: SparkSession, dir: String,
      ver: Long): Unit =
    Claims.replace(spark, new Path(dir, "_head"), ver.toString)

  /** Advance the advisory `_head` pointer (Delta's `_last_checkpoint`
    * shape): a [[graft.state.Claims.replace]], BEST-EFFORT — a crash (or
    * an out-of-order cross-process landing) leaves it lagging, and
    * [[headVersion]] probes forward from whatever it reads, so the
    * pointer only ever has to be close, never exact. Failures are
    * swallowed: the fallback is the full listing, not a wrong head.
    * (SOUND because commits only ever append version `max+1`, so the
    * manifests ABOVE any stale pointer are contiguous and the probe
    * always walks to the true head. The one operation that creates
    * version GAPS — retention — repairs the pointer STRICTLY first,
    * via [[writeHeadPointer]], so a gap can never sit above the
    * pointer: without that ordering, a stale pointer landing on a
    * tagged retention island would silently resolve an OLD version
    * as head and let the next merge fork history onto it.) */
  private def advanceHeadPointer(spark: SparkSession, dir: String,
      ver: Long): Unit =
    try writeHeadPointer(spark, dir, ver)
    catch { case scala.util.control.NonFatal(_) => }

  /** The head version, O(1)-ish: read `_head`, verify, probe FORWARD
    * past any commits whose pointer write lagged (crash between
    * manifest rename and pointer swap, or out-of-order racers) —
    * amortized one or two existence checks instead of [[versions]]'
    * O(versions) directory listing. A missing/garbled/stale-beyond-
    * repair pointer falls back to the listing. */
  private def headVersion(spark: SparkSession, dir: String): Long = {
    val fs = fsOf(spark, dir)
    val ptr =
      try {
        val p = new Path(dir, "_head")
        if (!fs.exists(p)) None
        else Claims.read(fs, p).trim.toLongOption
      } catch { case _: java.io.IOException => None }
    ptr.filter(v => fs.exists(new Path(dir, s"_snap.$v"))) match {
      case Some(v) =>
        var h = v
        while (fs.exists(new Path(dir, s"_snap.${h + 1}"))) h += 1
        h
      case None =>
        val vs = versions(spark, dir)
        require(vs.nonEmpty, s"no snapshot table at $dir")
        vs.max
    }
  }

  /** The staged version dirs live `_inflight.<verDir>` markers
    * protect (see writeAndCommit's marker) — the STORE-PORTABLE
    * in-flight signal the sweeps consult before directory mtimes,
    * which S3-class stores synthesize. A marker older than `cutoff`
    * is its dead writer's residue: ignored here (the tree it named
    * becomes sweepable) and deleted when `sweepStale`. */
  private def inflightDirs(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, cutoff: Long, sweepStale: Boolean = false)
      : Set[String] = {
    val root = new Path(dir)
    if (!fs.exists(root)) return Set.empty
    fs.listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith("_inflight."))
      .flatMap { st =>
        if (st.getModificationTime > cutoff)
          Some(st.getPath.getName.stripPrefix("_inflight."))
        else {
          if (sweepStale) fs.delete(st.getPath, false)
          None
        }
      }.toSet
  }

  /** All committed versions, ascending (empty = no table yet). */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    Claims.numbered(fsOf(spark, dir), new Path(dir), "_snap.")

  /** Resolve a manifest — the newest (via the `_head` pointer, never
    * an O(versions) listing), or the pinned `version`. Loud when the
    * table is missing or the requested version is not retained: a
    * silent empty read of a time-travel query is how a
    * reproducibility audit reports "nothing changed" against garbage.
    * A DELTA manifest resolves by applying its drop/add diff to its
    * recursively-resolved base — the chain is bounded by
    * [[ManifestCheckpointEvery]] reads. */
  def resolve(spark: SparkSession, dir: String,
      version: Option[Long] = None): Snap =
    resolveAt(spark, dir,
      version.getOrElse(headVersion(spark, dir)))

  private def resolveAt(spark: SparkSession, dir: String,
      ver: Long, ref: Option[String] = None): Snap = {
    val fs = fsOf(spark, dir)
    // a branch (`ref`) resolves its OWN manifest when one exists at
    // `ver` and falls back to main's below its fork — the shared
    // history is read in place, never copied (the Iceberg ref model:
    // branches are names into one version DAG, not table copies)
    val manifest = ref.map(b => new Path(dir, s"_bsnap.$b.$ver"))
      .filter(fs.exists)
      .getOrElse(new Path(dir, s"_snap.$ver"))
    if (!fs.exists(manifest)) {
      require(fs.exists(new Path(dir)), s"no snapshot table at $dir")
      require(false, s"version $ver of $dir is not retained" +
        ref.fold("")(b => s" (resolving branch '$b')"))
    }
    val lines = Claims.read(fs, manifest).split("\n").map(_.trim)
      .filter(_.nonEmpty)
    val batch = lines.filter(_.startsWith("batch="))
      .flatMap(_.stripPrefix("batch=").toLongOption).headOption
    val paths = lines.filter(_.startsWith("entry="))
      .map(_.stripPrefix("entry=")).toSeq
    val skList = lines.find(_.startsWith("statskey="))
      .map(_.stripPrefix("statskey=").split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)
    // stat=<entry> <keyIdx> <mn> <mx> — per-column entry bounds. An
    // UNPARSEABLE stat line refuses LOUDLY rather than dropping:
    // dropped stat lines are merely unpruned (conservative), but a
    // dropped FSTAT line would turn a complete file inventory into a
    // partial one and prune REAL files — and a manifest this writer
    // didn't produce is corruption either way, never a fallback.
    def badLine(l: String): Nothing = throw new IllegalArgumentException(
      s"manifest ${manifest.getName} carries an unparseable line '$l' — " +
        "pre-format manifests and corrupt manifests refuse loudly " +
        "(a silent partial parse would mis-prune)")
    val stats = lines.filter(_.startsWith("stat="))
      .map(l => (l, l.stripPrefix("stat=").split(" ", 4))).map {
        case (_, Array(i, k, mn, mx))
            if i.toIntOption.isDefined &&
              k.toIntOption.exists(skList.indices.contains) =>
          i.toInt -> (skList(k.toInt) -> ((dec(mn), dec(mx))))
        case (l, _) => badLine(l)
      }.groupBy(_._1).map { case (i, cs) => i -> cs.map(_._2).toMap }
    // fstat=<entry> <name> ? ?            (file listed, no stats)
    // fstat=<entry> <name> <keyIdx> <mn> <mx>  (one line per column)
    val fstats = lines.filter(_.startsWith("fstat="))
      .map(l => (l, l.stripPrefix("fstat=").split(" ", 5))).map {
        case (_, Array(i, n, "?", "?")) if i.toIntOption.isDefined =>
          (i.toInt, dec(n)) -> None
        case (_, Array(i, n, k, mn, mx))
            if i.toIntOption.isDefined &&
              k.toIntOption.exists(skList.indices.contains) =>
          (i.toInt, dec(n)) -> Some(skList(k.toInt) -> ((dec(mn), dec(mx))))
        case (l, _) => badLine(l)
      }.groupBy(_._1._1).map { case (i, fs) =>
        i -> fs.groupBy(_._1._2).toSeq.sortBy(_._1).map {
          case (name, cols) =>
            FileStat(name, cols.flatMap(_._2).toMap)
        }
      }
    val dvs = lines.filter(_.startsWith("dv="))
      .map(_.stripPrefix("dv=").split(" ", 2)).collect {
        case Array(i, p) if i.toIntOption.isDefined => i.toInt -> dec(p)
      }.groupBy(_._1).map { case (i, ps) => i -> ps.map(_._2).toSeq }
    val rowCounts = lines.filter(_.startsWith("rows="))
      .map(_.stripPrefix("rows=").split(" ", 2)).collect {
        case Array(i, n)
            if i.toIntOption.isDefined && n.toLongOption.isDefined =>
          i.toInt -> n.toLong
      }.toMap
    // in a FULL manifest these are the whole inventory; in a DELTA
    // manifest (base= present) they are the ADDED entries, indexed
    // into their own sorted order
    val own = paths.zipWithIndex.map { case (p, i) =>
      Entry(p, stats.getOrElse(i, Map.empty), fstats.getOrElse(i, Nil),
        dvs.getOrElse(i, Nil), rowCounts.get(i))
    }
    val ddl = lines.find(_.startsWith("schema="))
      .map(_.stripPrefix("schema="))
    require(ddl.isDefined,
      s"manifest ${manifest.getName} carries no schema line")
    val parts = lines.find(_.startsWith("parts="))
      .map(_.stripPrefix("parts=").split(",").toSeq.filter(_.nonEmpty))
    require(parts.isDefined,
      s"manifest ${manifest.getName} carries no parts line")
    val dvk = lines.find(_.startsWith("dvkey="))
      .map(_.stripPrefix("dvkey="))
    val checks = lines.filter(_.startsWith("check="))
      .map(_.stripPrefix("check=").split(" ", 2)).collect {
        case Array(n, e) => n -> dec(e)
      }.toMap
    val droppedCols = lines.filter(_.startsWith("dropped="))
      .map(_.stripPrefix("dropped=")).toSeq
    val baseVer = lines.find(_.startsWith("base="))
      .flatMap(_.stripPrefix("base=").toLongOption)
    val (entries, depth) = baseVer match {
      case None => (own, 0)
      case Some(bv) =>
        require(bv == ver - 1,
          s"manifest ${manifest.getName} bases on $bv — bases are " +
            "always the immediately preceding version")
        val b = resolveAt(spark, dir, bv, ref)
        val dropped = lines.filter(_.startsWith("drop="))
          .map(_.stripPrefix("drop=")).toSet
        ((b.entries.filterNot(e => dropped.contains(e.path)) ++ own)
          .sortBy(_.path), b.depth + 1)
    }
    require(dvk.isDefined || entries.forall(_.dvs.isEmpty),
      s"manifest ${manifest.getName} carries dv lines but no dvkey")
    Snap(ver, batch, entries, ddl.get, parts.get, skList, dvk, depth,
      checks, droppedCols)
  }

  /** Read a HELD snapshot — the isolation surface: the entries name
    * immutable dirs, so this frame is the same rows however many
    * merges commit concurrently. A PLAIN parquet read (the partition
    * columns are real data columns; the `__gp_` twins live only in
    * dir names) — no basePath, no inference, entries from different
    * writer versions mix freely in one read.
    *
    * Entries carrying DELETION VECTORS apply them here, merge-on-read:
    * entries group by their dv SET (one group per distinct set — the
    * common shapes are one group of dv-free entries plus one group
    * per delete commit; [[optimize]] folds them back to zero), each
    * dv'd group anti-joins its union of deleted keys (delta-sized,
    * AQE picks the broadcast), and the groups union. A key deleted
    * from one entry and re-inserted by a later merge lives in a NEW
    * entry the dv never attaches to — per-entry application is what
    * keeps re-inserts alive, a global anti-join would eat them. */
  def readSnap(spark: SparkSession, dir: String, snap: Snap): DataFrame = {
    require(snap.entries.nonEmpty, s"snapshot v${snap.ver} has no data")
    val schema = StructType.fromDDL(snap.schemaDdl)
    if (snap.entries.forall(_.dvs.isEmpty))
      spark.read.schema(schema)
        .parquet(snap.entries.map(e => s"$dir/data/${e.path}"): _*)
    else dvGroupedRead(spark, dir, snap, schema,
      es => es.map(e => s"$dir/data/${e.path}"))
  }

  /** The DV-aware grouped read [[readSnap]] and [[readRange]] share:
    * entries group by their dv SET, each group reads through
    * `pathsOf` (whole dirs for snapshot reads; file-pruned lists for
    * range reads), dv'd groups anti-join their union of deleted keys
    * (delta-sized, AQE picks the broadcast), groups union in a
    * deterministic order. Per-entry application is what keeps
    * re-inserted keys alive — a global anti-join would eat them. */
  private def dvGroupedRead(spark: SparkSession, dir: String,
      snap: Snap, schema: StructType,
      pathsOf: Seq[Entry] => Seq[String]): DataFrame = {
    val dvk = snap.dvKey.getOrElse(throw new IllegalStateException(
      s"snapshot v${snap.ver} has dv entries but no dvKey"))
    snap.entries.groupBy(_.dvs.toSet).toSeq
      .sortBy(_._2.head.path) // deterministic plan shape
      .flatMap { case (dvSet, es) =>
        val ps = pathsOf(es)
        if (ps.isEmpty) None
        else {
          val df = spark.read.schema(schema).parquet(ps: _*)
          Some(
            if (dvSet.isEmpty) df
            else df.join(
              spark.read
                .parquet(dvSet.toSeq.sorted.map(p => s"$dir/data/$p"): _*)
                .select(col(dvk)),
              Seq(dvk), "left_anti"))
        }
      }.reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema))
  }

  /** Read the table at the newest (or a pinned) version. */
  def read(spark: SparkSession, dir: String,
      version: Option[Long] = None): DataFrame =
    readSnap(spark, dir, resolve(spark, dir, version))

  /** METADATA-ONLY row count — the Iceberg/Delta `count(*)` shape:
    * every commit records each produced entry's exact row count
    * (`rows=` lines, from the same footers that derive the entry
    * list), so a full-table count is a driver-side sum over the
    * manifest with ZERO files opened. Returns None — fall back to a
    * scan count — when any entry predates row tracking or carries a
    * deletion vector (a dv hides an unknowable number of rows until
    * the next rewrite folds it; an upper bound dressed as a count is
    * how an audit silently double-books). */
  def countRows(spark: SparkSession, dir: String,
      version: Option[Long] = None): Option[Long] = {
    val snap = resolve(spark, dir, version)
    if (snap.entries.exists(e => e.rows.isEmpty || e.dvs.nonEmpty)) None
    else Some(snap.entries.flatMap(_.rows).sum)
  }

  /** The key's comparator when its recorded bounds are usable for
    * pruning on `snap` — None means "cannot prune, keep everything"
    * (statsKey mismatch, non-stat-safe type, key missing). */
  private def pruneCmp(snap: Snap, key: String)
      : Option[(String, String) => Int] = {
    if (!snap.statsKeys.contains(key)) return None
    StructType.fromDDL(snap.schemaDdl).fields.find(_.name == key)
      .map(_.dataType).filter(statSafe).map {
        // byte-wise UNSIGNED UTF-8 order — the order Spark's
        // UTF8String min/max AND parquet's binary stats were computed
        // under. Java String.compareTo (UTF-16 code units) DISAGREES
        // above the BMP: a supplementary character (emoji, surrogate
        // pair) sorts above U+E000..U+FFFF byte-wise but below it in
        // UTF-16 — comparing recorded bounds with the wrong order
        // would prune an entry that really holds the queried key
        case StringType => utf8Cmp _
        case _ => (a: String, b: String) =>
          java.lang.Long.compare(a.toLong, b.toLong)
      }
  }

  /** Drop the entries whose recorded key bounds prove they cannot
    * hold a value in `[lo, hi]` (either bound optional). CONSERVATIVE
    * by construction: an entry without stats, a `statsKey` mismatch,
    * or a non-stat-safe key keeps everything — pruning only ever
    * removes provably-disjoint dirs. Bounds compare in the key's own
    * order (integral as Long, string lexicographic). */
  def pruneByKey(snap: Snap, key: String, lo: Option[Any],
      hi: Option[Any]): Snap = {
    if (lo.isEmpty && hi.isEmpty) return snap
    pruneCmp(snap, key).fold(snap) { cmp =>
      snap.copy(entries = snap.entries.filter(e => e.stats.get(key) match {
        case None => true
        case Some((mn, mx)) =>
          lo.forall(l => cmp(mx, l.toString) >= 0) &&
            hi.forall(h => cmp(mn, h.toString) <= 0)
      }))
    }
  }

  /** The concrete paths a range read opens, after BOTH pruning
    * granularities: entries (dirs) whose bounds are disjoint go
    * first ([[pruneByKey]]); inside a surviving entry, per-FILE
    * bounds (harvested from the parquet footers at commit — the
    * Iceberg manifest granularity) drop the files that cannot match,
    * so a point lookup on a clustered table opens ONE file of a
    * multi-file dir. An entry without file stats contributes its
    * whole dir — conservative, never wrong. */
  private[graft] def prunedReadPaths(dir: String, snap: Snap,
      key: String, lo: Option[Any], hi: Option[Any]): Seq[String] =
    prunedFilePaths(dir, pruneByKey(snap, key, lo, hi),
      Seq((key, lo, hi)))

  /** Range read: resolve, prune to the entries AND files whose
    * recorded key bounds overlap the predicate
    * ([[prunedReadPaths]] — the Iceberg data-skipping shape: a
    * selective key predicate opens only the partitions, then only
    * the FILES, whose min/max overlap it), then apply the same
    * predicate as a residual row filter (pruning is file-granular;
    * the filter is exact — and it pushes into the parquet scan as
    * usual, so row-group stats prune inside the opened files too). */
  def readRange(spark: SparkSession, dir: String, key: String,
      lo: Option[Any], hi: Option[Any],
      version: Option[Long] = None): DataFrame = {
    val snap = resolve(spark, dir, version)
    val preds = lo.map(l => col(key) >= lit(l)).toSeq ++
      hi.map(h => col(key) <= lit(h)).toSeq
    preds.foldLeft(readSnapPruned(spark, dir, snap,
      Seq((key, lo, hi))))(_.filter(_))
  }

  /** The MULTI-PREDICATE pruned read both [[readRange]] and the DSv2
    * source ([[graft.sources.SnapshotSource]]) drive: entries prune
    * on EVERY bound (chained [[pruneByKey]] — each recorded column
    * skips independently), surviving entries' files prune on every
    * bound their footers recorded, deletion vectors apply per entry
    * group exactly as in [[readSnap]]. NO residual row filter: the
    * result is a superset of the matching rows (pruning only removes
    * provably-disjoint dirs/files) — callers apply the exact
    * predicates themselves (readRange's residual; the DSv2 path
    * returns every pushed filter as unhandled so Spark re-applies,
    * the parquet-source discipline). */
  private[graft] def readSnapPruned(spark: SparkSession, dir: String,
      snap: Snap, bounds: Seq[(String, Option[Any], Option[Any])])
      : DataFrame = {
    val schema = StructType.fromDDL(snap.schemaDdl)
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    val surviving = bounds.foldLeft(snap) { case (s, (k, lo, hi)) =>
      pruneByKey(s, k, lo, hi)
    }
    if (surviving.entries.forall(_.dvs.isEmpty)) {
      val paths = prunedFilePaths(dir, surviving, bounds)
      if (paths.isEmpty) empty
      else spark.read.schema(schema).parquet(paths: _*)
    } else
      // file-level pruning still runs inside each dv group (the
      // anti-join commutes with the callers' residual filters)
      dvGroupedRead(spark, dir, surviving, schema,
        es => prunedFilePaths(dir, surviving.copy(entries = es), bounds))
  }

  /** File-granularity pruning over ALREADY entry-pruned entries: a
    * file survives only when EVERY bound whose column its footer
    * recorded overlaps — one pass over the file list however many
    * predicates pushed. Entries without file stats contribute their
    * whole dir (conservative, never wrong). */
  private[graft] def prunedFilePaths(dir: String, snap: Snap,
      bounds: Seq[(String, Option[Any], Option[Any])]): Seq[String] = {
    val cmps = bounds.flatMap { case (k, lo, hi) =>
      if (lo.isEmpty && hi.isEmpty) None
      else pruneCmp(snap, k).map(cmp => (k, lo, hi, cmp))
    }
    snap.entries.flatMap { e =>
      if (e.fileStats.isEmpty || cmps.isEmpty)
        Seq(s"$dir/data/${e.path}")
      else e.fileStats.filter(f =>
          cmps.forall { case (k, lo, hi, cmp) =>
            f.bounds.get(k).forall { case (mn, mx) =>
              lo.forall(l => cmp(mx, l.toString) >= 0) &&
                hi.forall(h => cmp(mn, h.toString) <= 0) } })
        .map(f => s"$dir/data/${e.path}/${f.name}")
    }
  }

  /** CHANGE DATA FEED: the row-level diff between two committed
    * versions — Delta's `table_changes` surface derived from the
    * snapshots themselves. Emits the `toVer` schema's columns plus
    * `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage (both images for an update, the Delta CDF
    * shape); rows identical in both versions emit nothing.
    *
    * THE MANIFEST MAKES THIS O(changed partitions), NOT O(table):
    * an entry carried BY REFERENCE between the two manifests names
    * the same immutable dir — its rows are byte-identical on both
    * sides and cannot contain a change — so both reads restrict to
    * the entries the two manifests do NOT share. (Sound under the
    * object's partition/key functional-dependency contract: a key
    * never moves partitions, so a key inside a shared dir is the same
    * row in both versions.) One key-shuffle full-outer join over the
    * changed partitions classifies everything; schema evolution
    * between the versions surfaces `fromVer`-side rows with the added
    * columns as typed nulls (additive evolution, so `toVer`'s schema
    * is always the superset). Keys are non-null by table invariant:
    * every write path refuses a null merge key at commit time
    * (writeAndCommit's census), so rows here always equality-join —
    * a null key would otherwise misread as delete+insert. */
  def changesBetween(spark: SparkSession, dir: String, key: String,
      fromVer: Long, toVer: Long): DataFrame = {
    val from = resolve(spark, dir, Some(fromVer))
    val to = resolve(spark, dir, Some(toVer))
    val toSchema = StructType.fromDDL(to.schemaDdl)
    val fromSchema = StructType.fromDDL(from.schemaDdl)
    require(toSchema.fieldNames.contains(key) &&
      fromSchema.fieldNames.contains(key),
      s"key '$key' must exist in both versions' schemas")
    // DRAIN DISCIPLINE, enforced (the rename/drop caveat on
    // [[renameColumn]] made loud): a range spanning a non-additive
    // schema change cannot classify — a dropped/renamed column's
    // from-side values would be silently projected away (the diff
    // would claim "no change" against rows whose data changed shape),
    // and the rewrite the rename paid would land as a full-table
    // "update" feed to every consumer. Every from-field must survive
    // into the to-schema at the same (or a widened) type; publishers
    // hit this through [[publishChanges]], so an undrained landing
    // refuses instead of double-feeding. Additive adds and type
    // widenings pass (the from side pads/upcasts).
    val toTypes = toSchema.fields.map(f => f.name -> f.dataType).toMap
    val lost = fromSchema.fields.filter(f =>
      !toTypes.get(f.name).exists(t => widens(f.dataType, t)))
    require(lost.isEmpty,
      s"version range v$fromVer→v$toVer spans a non-additive schema " +
        s"change: column(s) ${lost.map(_.name).mkString(", ")} of " +
        s"v$fromVer do not survive into v$toVer's schema — a change " +
        "feed cannot classify across a rename/drop; drain the " +
        "landing (publishChanges until None) BEFORE schema changes, " +
        "and consume per-commit ranges that stop at the change")
    // an entry is "shared" only when BOTH its dir and its deletion-
    // vector set match: a carried-by-reference dir that gained a dv
    // DOES differ (its visible rows shrank) and must be read
    val shared = from.entries.map(e => (e.path, e.dvs.toSet)).toSet
      .intersect(to.entries.map(e => (e.path, e.dvs.toSet)).toSet)
    def side(s: Snap, schemaDdl: String): DataFrame = {
      val es = s.entries.filterNot(e => shared.contains((e.path, e.dvs.toSet)))
      if (es.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType.fromDDL(schemaDdl))
      else readSnap(spark, dir, s.copy(entries = es))
    }
    val cols = toSchema.fieldNames.toSeq
    // pad adds, then UPCAST to the to-side types (a widened column's
    // from-side rows must struct-compare in the wider type — int 5 and
    // long 5 are the same row, not an update pair); widening-only by
    // the drain check above, so the cast never narrows
    val fromDf = padToSchema(side(from, from.schemaDdl), toSchema)
      .select(toSchema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
    val toDf = side(to, to.schemaDdl).select(cols.map(col): _*)
    val pre = struct(cols.map(col): _*).as("_pre")
    val post = struct(cols.map(col): _*).as("_post")
    val j = fromDf.select(col(key).as("_k"), pre)
      .join(toDf.select(col(key).as("_k"), post), Seq("_k"), "full_outer")
    // one pass: classify into 0, 1, or 2 change rows and explode —
    // identical rows produce the empty array and vanish
    j.select(col("_pre"), col("_post"),
        explode(when(col("_pre").isNull, array(lit("insert")))
          .when(col("_post").isNull, array(lit("delete")))
          .when(!(col("_pre") <=> col("_post")),
            array(lit("update_preimage"), lit("update_postimage")))
          .otherwise(array().cast("array<string>")).as("_cts"))
          .as("_change_type"))
      .select(when(col("_change_type").isin("insert", "update_postimage"),
        col("_post")).otherwise(col("_pre")).as("_r"), col("_change_type"))
      .select(col("_r.*"), col("_change_type"))
  }

  /** PUBLISH the head's unpublished changes into an append-only
    * parquet landing — the bridge that makes the table a STREAMING
    * SOURCE with the machinery Spark already has: the landing is a
    * plain directory a `readStream.parquet` file source consumes
    * (the same manifest-landing shape the media pipeline streams
    * through), and this publisher is the maintenance step a cron or
    * foreachBatch loop calls after its merges.
    *
    * State IS the landing: each publish writes ONE range dir
    * `changes_v<from>_v<to>` (per-attempt staging + rename,
    * `_`-prefixed staging that file sources ignore; crashed staging
    * sweeps on an age guard so a concurrent publisher's fresh
    * staging survives), and the next publish resumes from the
    * largest published `to`. Consumers read the GLOB
    * `<outDir>/changes_*` (batch or stream — range dirs are not
    * hive-partition dirs, so a bare directory read would not recurse
    * into them). On a landing whose schema WIDENED between publishes
    * (the table evolved), pass an explicit schema (the stream API
    * requires one anyway) or set `mergeSchema=true` for batch reads:
    * the default batch inference picks one footer and would silently
    * drop the added column from older files' rows. Replay-safe by construction — a replayed
    * publish finds its range dir already present and no-ops; a crash
    * mid-write leaves only hidden staging a later attempt replaces.
    * The first publish emits the whole head as `insert` rows; later
    * ones emit [[changesBetween]]'s NET diff of the range (coarser
    * than Delta's per-commit CDF when several versions land between
    * publishes — the range rides every row as `_from_version`/
    * `_to_version`, so consumers see exactly what was collapsed).
    * Pass `perCommit = true` for Delta's `table_changes` granularity
    * instead: one `changes_v<n-1>_v<n>` dir lands per head advance
    * (the seed dir `changes_v0_v1` carries version 1's full content
    * as inserts), so a consumer replays every intermediate state; the
    * collapsed net range stays the default because it is what a
    * downstream MATERIALIZER wants (no self-canceling churn), while
    * per-commit is what an AUDITOR wants. The two modes share one
    * landing protocol and may be mixed across ticks — the floor is
    * the largest published `to` either way.
    * Publishing must outpace [[retainNewest]]: a from-version below
    * the retention floor refuses loudly in resolve rather than
    * silently emitting a wrong diff. Returns the published range, or
    * None when the head is already published.
    *
    * Publishers SERIALIZE per landing dir within the JVM (the
    * [[commitManifest]] per-path monitor): two publishers that would
    * otherwise observe DIFFERENT heads (a merge landing between their
    * resolves) commit overlapping ranges — e.g. `changes_v0_v1` and
    * `changes_v0_v2`, duplicating the v0→v1 rows to every consumer of
    * the glob — so the floor listing, head resolve, and rename run
    * under one monitor and the second publisher sees the first's
    * advanced floor. ACROSS processes run a single publisher per
    * landing (the cron contract); as defense the post-rename re-list
    * refuses loudly when an overlapping range is detected, naming
    * both dirs, instead of leaving the duplication silent. */
  def publishChanges(spark: SparkSession, dir: String, key: String,
      outDir: String, stagingGraceMs: Long = 3600000L,
      perCommit: Boolean = false): Option[(Long, Long)] = {
    val lock = commitLocks.computeIfAbsent(lockKey(spark, outDir),
      _ => new Object)
    lock.synchronized {
      publishChangesLocked(spark, dir, key, outDir, stagingGraceMs,
        perCommit)
    }
  }

  private def publishChangesLocked(spark: SparkSession, dir: String,
      key: String, outDir: String, stagingGraceMs: Long,
      perCommit: Boolean): Option[(Long, Long)] = {
    val fs = fsOf(spark, outDir)
    val out = new Path(outDir)
    val rangeRe = "^changes_v([0-9]+)_v([0-9]+)$".r
    // ONE listing serves the floor, the sweep, and the replay check —
    // a cron-tick path should not pay several LIST round trips
    val listing =
      if (fs.exists(out)) fs.listStatus(out).toSeq else Nil
    val published = listing.map(_.getPath.getName).collect {
      case rangeRe(_, b) => b.toLong
    }.maxOption.getOrElse(0L)
    // stale staging from a CRASHED attempt: staging names are unique
    // per attempt, so an age guard (the vacuum discipline) is what
    // separates crashed from in-flight — a concurrent publisher's
    // fresh staging survives its neighbor's sweep
    val cutoff = System.currentTimeMillis() - stagingGraceMs
    listing.filter(st =>
        st.getPath.getName.startsWith("_staging_changes_") &&
          st.getModificationTime <= cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    val head = resolve(spark, dir)
    // a floor ABOVE the head is always a misconfiguration (a rebuilt
    // table against an old landing, or someone else's landing) —
    // silent None here would report healthy forever while no changes
    // flow and the landing's history describes different content
    require(published <= head.ver,
      s"landing $outDir is published through v$published but the " +
        s"table head is v${head.ver} — this landing belongs to a " +
        "different (or rebuilt) table")
    if (head.ver == published) return None
    if (published == 0L && head.entries.isEmpty && !perCommit)
      return None // an empty head has nothing to seed
    // perCommit = one landed dir per head advance (Delta's
    // table_changes granularity); default = one NET range dir
    val steps: Seq[(Long, Long)] =
      if (perCommit) (published until head.ver).map(v => (v, v + 1))
      else Seq((published, head.ver))
    steps.foreach { case (from, to) =>
      publishOne(spark, dir, key, fs, out, from, to)
    }
    Some((published, head.ver))
  }

  /** Land ONE range dir `changes_v<from>_v<to>` — the single-range
    * protocol every publish step runs: replay no-op, per-attempt
    * staging, claim, overlap defense. `from = 0` seeds with version
    * `to`'s full content as `insert` rows. */
  private def publishOne(spark: SparkSession, dir: String, key: String,
      fs: org.apache.hadoop.fs.FileSystem, out: Path, from: Long,
      to: Long): Unit = {
    val stamped = changeFeedRange(spark, dir, key, from, to)
    val dest = new Path(out, s"changes_v${from}_v$to")
    if (fs.exists(dest)) return // replayed
    // per-ATTEMPT staging name (the snapshot writers' dir-token
    // discipline): two racing publishers of the same range stage into
    // disjoint dirs, so neither can half-overwrite the other's files;
    // the claim is the single contention point
    val tmp = new Path(out,
      s"_staging_changes_v${from}_v$to." +
        java.lang.Long.toHexString(System.nanoTime()))
    stamped.write.mode("overwrite")
      .option("compression", "snappy").parquet(tmp.toString)
    // a lost claim means the racer published first; both computed the
    // same deterministic diff from the same range, so the published
    // content is the same — the claim dropped our staging; accept
    try Claims.claimStaged(spark, tmp, dest)
    catch { case _: Claims.Conflict => return }
    // cross-process defense (in-JVM publishers are serialized by the
    // caller's monitor): a publisher that resolved a STALE head
    // commits a range overlapping ours — the duplication must be
    // loud, not a silent double-feed to every consumer of the glob
    refuseOverlap(fs, out, dest.getName, from, to)
  }

  /** One change-feed range's STAMPED frame — the single surface both
    * the landing publisher ([[publishOne]] writes it) and the direct
    * streaming source ([[graft.sources.SnapshotChanges]] returns it
    * as a microbatch, no copy landed) compute: `from = 0` seeds with
    * version `to`'s full content as `insert` rows, any other range is
    * [[changesBetween]]'s classified diff; every row rides
    * `_from_version`/`_to_version`. One producer function is what
    * keeps the two consumption doors hash-identical by construction. */
  private[graft] def changeFeedRange(spark: SparkSession, dir: String,
      key: String, from: Long, to: Long): DataFrame = {
    val changes =
      if (from == 0L) {
        val snap = resolve(spark, dir, Some(to))
        val df =
          if (snap.entries.isEmpty)
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
              StructType.fromDDL(snap.schemaDdl))
          else readSnap(spark, dir, snap)
        df.withColumn("_change_type", lit("insert"))
      } else changesBetween(spark, dir, key, from, to)
    changes
      .withColumn("_from_version", lit(from))
      .withColumn("_to_version", lit(to))
  }

  /** Refuse when the landing holds a range overlapping
    * `(published, headVer]` other than `destName` itself — the
    * post-rename re-list that turns a cross-process double-publish
    * (two publishers, different observed heads) from a silent
    * double-feed into a loud repair. Package-private: the racer's
    * dir appears mid-publish, an interleaving a spec can only drive
    * by planting it and invoking the check directly. */
  private[graft] def refuseOverlap(fs: org.apache.hadoop.fs.FileSystem,
      out: Path, destName: String, published: Long, headVer: Long): Unit = {
    val rangeRe = "^changes_v([0-9]+)_v([0-9]+)$".r
    val overlapping = fs.listStatus(out).map(_.getPath.getName).collect {
      case n @ rangeRe(a, b)
          if n != destName &&
            a.toLong < headVer && b.toLong > published => n
    }
    if (overlapping.nonEmpty)
      throw new IllegalStateException(
        s"landing $out holds ranges overlapping $destName: " +
          s"${overlapping.mkString(", ")} — two publishers observed " +
          "different heads; run a single publisher per landing and " +
          "repair the landing before consumers double-read the overlap")
  }

  /** The entry pair [[changesBetween]] actually reads — exposed for
    * the spec that pins the shared-entry skip (the O(changed
    * partitions) claim). */
  private[graft] def cdfEntries(from: Snap, to: Snap)
      : (Seq[String], Seq[String]) = {
    val shared = from.entries.map(e => (e.path, e.dvs.toSet)).toSet
      .intersect(to.entries.map(e => (e.path, e.dvs.toSet)).toSet)
    (from.entries.filterNot(e => shared.contains((e.path, e.dvs.toSet)))
      .map(_.path),
      to.entries.filterNot(e => shared.contains((e.path, e.dvs.toSet)))
        .map(_.path))
  }

  /** One written file's full commit-time harvest — everything the
    * manifest needs, from ONE footer open (a metadata-only read):
    * per-column bounds ([[FileStat]]), the file's ROW COUNT (footer
    * block counts — exact, it feeds the entry `rows=` lines and the
    * metadata-only `count(*)`), the census column's NULL COUNT
    * (`None` when any row group's footer omitted it — the caller
    * falls back to a read), and `unknownCols` — the stats columns
    * whose footer statistics were present-but-unusable in some row
    * group: a file-level bound is simply dropped there, but an
    * ENTRY-level bound must drop the column for the whole entry (a
    * min/max over the other files would be too narrow and prune rows
    * that live in the unknown blocks). */
  private[ops] final case class FileHarvest(stat: FileStat, rows: Long,
      censusNulls: Option[Long], unknownCols: Set[String])

  /** Max files a commit harvests on the DRIVER (a thread pool over
    * footer opens) before distributing the harvest as a Spark job.
    * Footer reads are tiny metadata I/O: measured on the merge path,
    * an 84-file harvest cost ~0.8 s as a parallelize job (task
    * serialization + scheduling under concurrent writers) vs ~20 ms
    * pooled on the driver. The crossover is well past hundreds of
    * files even on object stores (~10-50 ms per footer, 32-way
    * pooled); commits that write MORE files than this are exactly
    * the commits whose write job dwarfs a distributed harvest. */
  private val HarvestDriverMaxFiles = 512

  /** Harvest every `.parquet` file under each dir (ONE footer open
    * per file, metadata-only): driver-pooled below
    * [[HarvestDriverMaxFiles]], reusing the listing's FileStatus;
    * beyond it, one Spark job whose tasks get the session's Hadoop
    * conf through a SerializableConfiguration (a task-side default
    * Configuration would drop credentials/endpoint settings on a real
    * cluster). Returns the harvests grouped by the caller's entry
    * key. */
  private def harvestFiles(spark: SparkSession,
      dirs: Seq[(String, Path)], cols: Seq[(String, DataType)],
      censusCol: Option[String])
      : Map[String, Seq[FileHarvest]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files: Seq[(String, org.apache.hadoop.fs.FileStatus)] =
      dirs.flatMap { case (ep, p) =>
        val fs = p.getFileSystem(conf)
        fs.listStatus(p)
          .filter(st => st.isFile &&
            st.getPath.getName.endsWith(".parquet"))
          .map(st => ep -> st).toSeq
      }
    val harvested: Seq[(String, FileHarvest)] =
      if (files.size <= HarvestDriverMaxFiles) {
        if (files.size <= 4)
          files.map { case (ep, st) =>
            ep -> harvestOf(
              org.apache.parquet.hadoop.util.HadoopInputFile
                .fromStatus(st, conf), st.getPath.getName, cols,
              censusCol)
          }
        else {
          // driver thread pool: footer opens are independent tiny
          // I/O — pooling beats both a serial loop and the job
          // overhead of a parallelize at this file count
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(32, files.size))
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          try scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(files.map { case (ep, st) =>
              scala.concurrent.Future(ep -> harvestOf(
                org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromStatus(st, conf), st.getPath.getName, cols,
                censusCol))
            }), scala.concurrent.duration.Duration.Inf)
          finally pool.shutdown()
        }
      } else {
        val sconf = new org.apache.spark.util.SerializableConfiguration(
          conf)
        val cs = cols
        val cc = censusCol
        spark.sparkContext
          .parallelize(files.map { case (ep, st) =>
            ep -> st.getPath.toString
          }, math.min(64, 1 + files.size / 8))
          .map { case (ep, f) =>
            ep -> SnapshotTable.footerBounds(sconf.value, f, cs, cc)
          }
          .collect().toSeq
      }
    harvested.groupBy(_._1).map { case (ep, fs) => ep -> fs.map(_._2) }
  }

  /** One file's commit harvest from its parquet footer — a
    * metadata-only read, callable on driver or executor (takes a bare
    * Hadoop conf). ONE footer open serves every stats column. */
  private[ops] def footerBounds(
      conf: org.apache.hadoop.conf.Configuration, file: String,
      cols: Seq[(String, DataType)],
      censusCol: Option[String] = None): FileHarvest = {
    val p = new Path(file)
    harvestOf(org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(p, conf), p.getName, cols, censusCol)
  }

  private def harvestOf(
      in: org.apache.parquet.hadoop.util.HadoopInputFile, name: String,
      cols: Seq[(String, DataType)],
      censusCol: Option[String]): FileHarvest = {
    import scala.jdk.CollectionConverters._
    // the file's own conf: the one-argument open builds a fresh one,
    // re-parsing Hadoop's default XML resources for every footer
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(in.getConfiguration)
        .build())
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // null-count census from the same footer: exact when every row
      // group recorded it (parquet-mr always does for its own
      // writes); None makes the caller fall back to a read
      val census = censusCol.flatMap { k =>
        val sts = blocks.map(b => b.getColumns.asScala
          .find(c => c.getPath.toDotString == k)
          .map(_.getStatistics).orNull)
        if (sts.isEmpty || sts.exists(s => s == null || !s.isNumNullsSet))
          None
        else Some(sts.map(_.getNumNulls).sum)
      }
      var unknownCols = Set.empty[String]
      val all = cols.flatMap { case (key, dt) =>
        val stats = blocks.map(b => b.getColumns.asScala
          .find(c => c.getPath.toDotString == key)
          .map(_.getStatistics).orNull)
        // bounds are recorded ONLY when EVERY row group carries
        // usable stats — a partial cover would yield too-narrow
        // bounds and prune rows that live in the uncovered blocks.
        // The discriminator is Statistics.isEmpty, NOT null:
        // parquet-mr materializes an EMPTY Statistics object when a
        // row group's footer stats were omitted (e.g. a value
        // exceeding the stats size cap) — isEmpty=true, unknown
        // content, the whole column must stay unrecorded. An
        // all-null-key block reports isEmpty=false with
        // hasNonNullValue=false (its null count IS recorded);
        // excluding it from the bound computation is sound because
        // null keys never match a range predicate.
        val usable = stats.filter(s => s != null && s.hasNonNullValue)
        val unknown = stats.exists(s => s == null || s.isEmpty)
        if (unknown) unknownCols += key
        val bounds =
          if (unknown || usable.isEmpty) None
          else dt match {
            case LongType => Some((
              usable.map(_.genericGetMin
                .asInstanceOf[java.lang.Long].longValue).min.toString,
              usable.map(_.genericGetMax
                .asInstanceOf[java.lang.Long].longValue).max.toString))
            case IntegerType | ShortType | ByteType => Some((
              usable.map(_.genericGetMin
                .asInstanceOf[Number].intValue).min.toString,
              usable.map(_.genericGetMax
                .asInstanceOf[Number].intValue).max.toString))
            case StringType =>
              // min/max across row groups selected under the SAME
              // byte-wise order the bounds are compared with —
              // Scala's String min (UTF-16) could pick a value
              // that is not the byte-wise extreme above the BMP
              val mins = usable.map(_.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8)
              val maxs = usable.map(_.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8)
              Some((mins.reduce((a, b) =>
                  if (utf8Cmp(a, b) <= 0) a else b),
                maxs.reduce((a, b) =>
                  if (utf8Cmp(a, b) >= 0) a else b)))
            case _ => None
          }
        bounds.map(key -> _)
      }.toMap
      FileHarvest(FileStat(name, all), rows, census, unknownCols)
    } finally reader.close()
  }

  /** ENTRY-level bounds from the entry's files' footer bounds —
    * min/max over the files' typed extremes (an all-null file simply
    * contributes nothing), compared in the key's own order (integral
    * as Long, string byte-wise), so as conservative as the file
    * bounds: exact unless the footers truncated string stats. A
    * column any file marked UNKNOWN drops from the entry entirely — a
    * bound over the remaining files could be too narrow and prune
    * rows that live in the unknown blocks (reads stay correct either
    * way; pruning is conservative by contract). */
  private def entryStatsFromFiles(harvests: Seq[FileHarvest],
      cols: Seq[(String, DataType)]): Map[String, (String, String)] =
    cols.flatMap { case (k, dt) =>
      if (harvests.exists(_.unknownCols.contains(k))) None
      else {
        val bs = harvests.flatMap(_.stat.bounds.get(k))
        if (bs.isEmpty) None
        else dt match {
          case StringType => Some(k -> ((
            bs.map(_._1).reduce((a, b) => if (utf8Cmp(a, b) <= 0) a else b),
            bs.map(_._2).reduce((a, b) => if (utf8Cmp(a, b) >= 0) a else b))))
          case _ => Some(k -> ((
            bs.map(_._1.toLong).min.toString,
            bs.map(_._2.toLong).max.toString)))
        }
      }
    }.toMap

  /** The partition LEAF dirs a write produced under `base`, relative
    * (`__gp_a=1/__gp_b=2`), exactly `depth` levels deep — the
    * committed entry list of every rewriting commit. Only
    * `__gp_`-prefixed dirs descend (the committer's `_SUCCESS` /
    * `_temporary` never match). */
  private def listLeafPartDirs(fs: org.apache.hadoop.fs.FileSystem,
      base: Path, depth: Int): Seq[String] = {
    def rec(p: Path, d: Int, rel: String): Seq[String] =
      if (d == 0) Seq(rel)
      else fs.listStatus(p)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(P))
        .toSeq.flatMap { st =>
          val seg = st.getPath.getName
          require(!seg.endsWith("=__HIVE_DEFAULT_PARTITION__"),
            s"null partition value surfaced in the written layout " +
              s"($seg) — partition values must be non-null (refused " +
              "at the touched-partition render on every merge path)")
          rec(st.getPath, d - 1,
            if (rel.isEmpty) seg else s"$rel/$seg")
        }
    if (!fs.exists(base)) Nil else rec(base, depth, "")
  }

  /** Shared write+commit tail of every rewriting writer — [[merge]],
    * [[mergeCdc]], [[optimizeWhere]], [[repartitionTable]] and
    * [[renameColumn]]: lay the output's partitions down with
    * hot-partition salting and commit `kept ++ produced` as version
    * `head.ver + 1`.
    * `statsCols` is the INTENT — the columns whose bounds the entries
    * should describe, MERGE KEY FIRST (the salt hash and the null
    * census ride the head of the list), plus any caller-requested
    * extra stats columns; each is recorded only when stat-safe.
    * `kept` entries keep their bounds for columns still recorded and
    * drop the rest (per-column — a grown list never invalidates the
    * carried columns; unstated bounds are never pruned). Empty output
    * commits `kept` alone (a merge whose every touched row was
    * deleted).
    *
    * Every writer takes the same steps: claim a fresh staging dir
    * (`v=<n>-<token>`) with the in-flight marker, write, list the leaf
    * dirs the write produced, harvest their footers, census, commit.
    * The entry list, row counts, per-column entry/file bounds and the null-key
    * census all derive from the WRITTEN FILES' parquet footers, so
    * manifest ≡ written bytes by construction and the output plan is
    * computed once, by the write job. `estParts` names every
    * partition the output can produce with an estimated row count;
    * it only sizes the write's task layout (the salted layout routes
    * rows through it, so it must cover the output's partitions, but
    * the counts may be off: content and manifest stay exact). Tables
    * with CHECK constraints pay one aggregation over the written
    * files. A null-key or CHECK violation refuses after the staged
    * write but before the version claim: the version stays unburned,
    * content is untouched, and the staging is unreferenced garbage
    * the sweeps reclaim. A lost claim on main raises a [[LostClaim]]
    * carrying what a re-commit of the staging needs; only
    * [[retrying]] acts on it, so for the maintenance rewrites a
    * conflict stays a loud refusal. */
  private def writeAndCommit(spark: SparkSession, dir: String,
      output: DataFrame, statsCols: Seq[String], partCols: Seq[String],
      batchId: Option[Long], kept: Seq[Entry], schemaDdl: String,
      maxRowsPerTask: Long, estParts: Seq[(Row, Long)], head: Snap,
      clusterKey: Option[Column] = None,
      ref: Option[String] = None): Long = {
    // salt column: the merge key when present, else any non-partition
    // column
    val saltCol = statsCols.headOption.orElse(
      output.schema.fieldNames.find(!partCols.contains(_)))
    require(saltCol.isDefined,
      "every column is a partition column — the table would hold no " +
        "data columns to write")
    val key = saltCol.get
    val newStatsCols =
      statsCols.filter(c => statSafe(output.schema(c).dataType))
    val newSet = newStatsCols.toSet
    // per-column carry: bounds for columns leaving the recorded list
    // cannot serialize (stat lines index into it) and drop; columns
    // joining it stay absent on kept entries — both conservative
    val keptAdj = kept.map(e => e.copy(
      stats = e.stats.filter { case (c, _) => newSet.contains(c) },
      fileStats = e.fileStats.map(f => f.copy(
        bounds = f.bounds.filter { case (c, _) => newSet.contains(c) }))))
    val checkList = head.checks.toSeq.sortBy(_._1)
    val verDir = stagingDir(head.ver + 1)
    val dest = s"$dir/data/$verDir"
    val statTyped = newStatsCols.map(c => c -> output.schema(c).dataType)
    val fsD = fsOf(spark, dir)
    withInflight(spark, dir, verDir) {
      // the listing below commits every leaf dir it finds; `dest` holds
      // this write's output and nothing else because [[stagingDir]]
      // draws a fresh token per attempt
      writePartitioned(output, partCols, dest,
        xxhash64(col(key)), estParts, maxRowsPerTask, clusterKey)
      val rels = listLeafPartDirs(fsD, new Path(dest), partCols.size)
      // an empty output (a CDC feed that deleted every touched row)
      // wrote only the committer's _SUCCESS — reclaim the husk
      // eagerly rather than leaving it to the retention sweeps
      if (rels.isEmpty)
        try fsD.delete(new Path(dest), true)
        catch { case scala.util.control.NonFatal(_) => }
      val byEntry =
        if (rels.isEmpty) Map.empty[String, Seq[FileHarvest]]
        else harvestFiles(spark,
          rels.map(r => r -> new Path(s"$dest/$r")), statTyped,
          statsCols.headOption)
      // the MERGE-KEY contract, from the same footers: a null key
      // breaks new-wins dedup and silently misclassifies in the
      // CDF as delete+insert — refuse before the commit
      if (statsCols.nonEmpty) {
        val perFile = byEntry.values.flatten.toSeq
        val nulls =
          if (perFile.forall(_.censusNulls.isDefined))
            perFile.flatMap(_.censusNulls).sum
          else // footer omitted null counts — count the bytes once
            spark.read.parquet(dest)
              .filter(col(statsCols.head).isNull).count()
        require(nulls == 0L,
          s"merge key '${statsCols.head}' is null on $nulls row(s) — " +
            "snapshot-table keys must be non-null (new-wins dedup " +
            "and the change data feed both classify by key equality)")
      }
      // CHECK constraints (Delta's ADD CONSTRAINT shape): every write
      // re-verifies the table's recorded checks on its OUTPUT rows, in
      // one aggregation over the written files, naming the constraint.
      // SQL CHECK semantics: a row violates only when the expression
      // is FALSE; null passes
      if (checkList.nonEmpty && rels.nonEmpty) {
        val viol = checkList.map { case (_, e) =>
          count(when(!expr(e), lit(1)))
        }
        val counts = spark.read.parquet(dest)
          .agg(viol.head, viol.tail: _*).head()
        checkList.zipWithIndex.foreach { case ((name, e), j) =>
          require(counts.getLong(j) == 0L,
            s"CHECK constraint '$name' ($e) is violated by " +
              s"${counts.getLong(j)} row(s) — nothing was committed")
        }
      }
      val produced = rels.map { rel =>
        val hs = byEntry.getOrElse(rel, Nil)
        Entry(s"$verDir/$rel",
          stats = entryStatsFromFiles(hs, statTyped),
          fileStats = if (newStatsCols.isEmpty) Nil else hs.map(_.stat),
          rows = Some(hs.map(_.rows).sum))
      }
      // deletion vectors ride ONLY on kept entries (a rewritten
      // partition folded its deletes in; produced entries are dv-free
      // by construction) — the dvkey survives exactly as long as some
      // entry still needs it
      val allEntries = keptAdj ++ produced
      // column tombstones (dropColumn's resurrect hazard) carry until
      // a FULL rewrite (kept empty = every surviving row rewrote under
      // the pinned schema) purges the dropped columns' physical bytes
      val tombstones = if (kept.isEmpty) Nil else head.droppedCols
      onBeforeCommit() // test seam — no-op in production
      try {
        commitManifest(spark, dir, head.ver + 1, batchId, allEntries,
          schemaDdl, partCols, newStatsCols,
          head.dvKey.filter(_ => allEntries.exists(_.dvs.nonEmpty)),
          base = Some(head), checks = checkList.toMap,
          droppedCols = tombstones, ref = ref)
        head.ver + 1
      } catch {
        // a lost claim reports the partitions this commit read or
        // wrote, for [[fastRecommit]]. On a branch the re-commit would
        // need ref-aware chain inspection — branch contention is the
        // single-audit-writer exception, so a branch loser takes the
        // honest full rebase instead
        case e: Claims.Conflict if ref.isEmpty =>
          val keptSet = kept.map(_.path).toSet
          val ourKeys = produced.map(e => partKeyOfEntry(e.path)).toSet ++
            head.entries.filterNot(en => keptSet.contains(en.path))
              .map(en => partKeyOfEntry(en.path))
          throw new LostClaim(e, head, verDir, produced, ourKeys, batchId,
            schemaDdl, partCols, newStatsCols)
      }
    }
  }

  /** IN-FLIGHT MARKER (the store-portable staleness signal): a tiny
    * `_inflight.<verDir>` file claims the staged tree `data/<verDir>`
    * while `body` runs, so retention/vacuum sweeps spare it by NAME —
    * no directory-mtime reasoning, which S3-class stores synthesize.
    * Removed whatever the outcome (committed → referenced; refused or
    * abandoned → sweepable garbage); a crashed writer's marker ages
    * out under the sweeps' grace window (marker FILE mtimes are real
    * on every store). */
  private def withInflight[T](spark: SparkSession, dir: String,
      verDir: String)(body: => T): T = {
    val fs = fsOf(spark, dir)
    val marker = new Path(dir, s"_inflight.$verDir")
    fs.create(marker, true).close()
    try body
    finally {
      try fs.delete(marker, false)
      catch { case scala.util.control.NonFatal(_) => } // ages out
    }
  }

  /** A fresh staging dir name for version `ver`: `v=<ver>-<token>`,
    * unique per attempt, so no two attempts — racers at one version,
    * a branch and main at overlapping numbers, a dropped-then-recreated
    * branch — ever write into the same dir. Entries are opaque paths,
    * so readers, vacuum and retention are name-agnostic. */
  private def stagingDir(ver: Long): String =
    s"v=$ver-" + java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())

  /** The version an entry's writer staged for —
    * `v=3-ab12/__gp_p=1` → 3 (and `v=3/__gp_p=1` → 3, the untokened
    * name tables written before every staging carried a token use).
    * It is the version that first committed the entry, unless a
    * [[fastRecommit]] landed that staging at a later one. */
  private[graft] def versionOf(entryPath: String): Long =
    entryPath.stripPrefix("v=").takeWhile(c => c != '-' && c != '/')
      .toLong

  /** Test seam: runs immediately before the FIRST commit attempt of
    * every [[writeAndCommit]] — the only way a spec can
    * deterministically interleave a winner's commit into the window
    * between a writer's merge computation and its version claim
    * (a real race can only make that window probable, not certain). */
  @volatile private[graft] var onBeforeCommit: () => Unit = () => ()

  /** The partition key of a manifest entry path
    * (`v=3-ab12/__gp_p=1` → `__gp_p=1`). */
  private def partKeyOfEntry(p: String): String =
    p.substring(p.indexOf('/') + 1)

  /** Re-commit a [[LostClaim]]'s already-written staging on top of the
    * advanced head — legal exactly when (a) table METADATA is
    * unmoved between the loser's base and the current head (schema,
    * partitioning, checks, tombstones: the loser's output was
    * censused against its base's contract), and (b) the
    * entries that changed between base and head are PARTITION-DISJOINT
    * from the loser's read+write set (`ourKeys` — the partitions it
    * replaced or produced): disjointness means the winner neither saw
    * nor touched any row the loser's merge read or writes, so the
    * serial order "winner then loser" yields byte-identical content
    * to the loser's staging. Entry-level evidence is free: the delta
    * manifests record exactly the per-commit changed set. N same-table
    * disjoint writers then cost N merge computations, not N²/2.
    * Anything else returns None and [[retrying]] rebases (the
    * always-correct slow path). A dv attached to a loser partition, a
    * new CHECK, a schema move — all surface as changed entries or
    * metadata drift and refuse the fast path, as does a staging a
    * sweep removed after the lost claim. */
  private def fastRecommit(spark: SparkSession, dir: String,
      lost: LostClaim): Option[Long] = {
    val base = lost.base
    val fs = fsOf(spark, dir)
    if (!lost.produced.forall(e =>
        fs.exists(new Path(s"$dir/data/${e.path}")))) return None
    var attempts = 0
    while (attempts < 16) {
      attempts += 1
      val cur = resolve(spark, dir)
      // the racer was a replay of our own batch — the no-op contract
      if (lost.batchId.isDefined && cur.batchId == lost.batchId)
        return Some(cur.ver)
      val metaOk = cur.schemaDdl == base.schemaDdl &&
        cur.partCols == base.partCols && cur.partCols == lost.partCols &&
        cur.checks == base.checks && cur.droppedCols == base.droppedCols
      if (!metaOk) return None
      val baseBy = base.entries.map(e => e.path -> e).toMap
      val curBy = cur.entries.map(e => e.path -> e).toMap
      val changedKeys =
        (base.entries.filterNot(e => curBy.get(e.path).contains(e)) ++
          cur.entries.filterNot(e => baseBy.get(e.path).contains(e)))
          .map(e => partKeyOfEntry(e.path)).toSet
      if (changedKeys.intersect(lost.ourKeys).nonEmpty) return None
      // per-column stats carry for the NEW kept set, exactly as the
      // first attempt adjusted its own
      val newSet = lost.statsCols.toSet
      val keptNew = cur.entries
        .filterNot(e => lost.ourKeys.contains(partKeyOfEntry(e.path)))
        .map(e => e.copy(
          stats = e.stats.filter { case (c, _) => newSet.contains(c) },
          fileStats = e.fileStats.map(f => f.copy(
            bounds = f.bounds.filter { case (c, _) =>
              newSet.contains(c) }))))
      val all = keptNew ++ lost.produced
      val tomb = if (keptNew.isEmpty) Nil else cur.droppedCols
      try {
        commitManifest(spark, dir, cur.ver + 1, lost.batchId, all,
          lost.schemaDdl, lost.partCols, lost.statsCols,
          cur.dvKey.filter(_ => all.exists(_.dvs.nonEmpty)),
          base = Some(cur), checks = cur.checks, droppedCols = tomb)
        return Some(cur.ver + 1)
      } catch {
        // ANOTHER racer landed while we re-committed: loop — each
        // pass is manifest I/O only, never a merge recompute
        case _: Claims.Conflict =>
      }
    }
    None
  }

  /** Head resolution + the shared merge preamble: replay check,
    * partitioning contract, additive schema evolution against
    * `dataSchema` (the delta minus any operator columns). Returns
    * (head, evolved schema) or Left(head version) on a replay no-op. */
  private def mergePreamble(spark: SparkSession, dir: String,
      dataSchema: StructType, partCols: Seq[String],
      batchId: Option[Long],
      ref: Option[String] = None): Either[Long, (Snap, StructType)] = {
    requireDistinctCols(partCols)
    require(!dataSchema.toDDL.contains("\n"),
      "delta schema DDL must be a single line (multi-line column " +
        "metadata comments are not supported) — checked BEFORE any " +
        "partition write, not at commit time")
    // resolve-first, not list-first: an existing table resolves
    // through the _head pointer (no O(versions) listing on the hot
    // commit path — the listing the pointer exists to eliminate);
    // only the not-yet-a-table case falls through to the loud refusal
    // we turn into the empty head
    val head = ref match {
      // a branch head: the branch must exist (created from a retained
      // version — there is no "first merge creates the branch" path;
      // an implicit create would silently fork from whatever main
      // happened to be at, which is never what an audit staged)
      case Some(b) => resolveBranch(spark, dir, b)
      case None =>
        try resolve(spark, dir)
        catch {
          case e: IllegalArgumentException
              if e.getMessage != null &&
                e.getMessage.contains("no snapshot table") =>
            Snap(0L, None, Nil, dataSchema.toDDL, partCols, Nil)
        }
    }
    if (batchId.isDefined && head.batchId == batchId)
      return Left(head.ver)
    // the PARTITIONING is part of the table contract: a merge keyed on
    // different columns (including one the delta just added) would
    // replace nothing, carry every old entry, and commit duplicate
    // keys side by side — refuse before any work
    require(head.partCols == partCols,
      s"table at $dir is partitioned by (${head.partCols.mkString(", ")})" +
        s" — merge passed (${partCols.mkString(", ")})")
    // ADDITIVE + WIDENING schema evolution (Delta's mergeSchema
    // discipline plus Delta 3.x/Iceberg type widening): the delta may
    // ADD columns — they join the manifest schema and pre-evolution
    // files surface them as nulls through the schema-pinned read —
    // and a shared column may WIDEN along the safe lattice
    // ([[widens]]): the manifest schema takes the wider type, kept
    // entries' narrower files upcast through the pinned read (the
    // SPARK-40876 parquet read path, each edge spec-pinned), and a
    // NARROWER delta upcasts into the table type at merge. What stays
    // refused: dropping a table column (rewritten partitions would
    // silently lose it) and any non-widening type change (two files
    // would disagree about the same name).
    val tableSchema = StructType.fromDDL(head.schemaDdl)
    val tableTypes = tableSchema.fields.map(f => f.name -> f.dataType).toMap
    // nullability-INSENSITIVE compare: toDDL/fromDDL loses container
    // nullability (ArrayType.containsNull etc), so an exact equality
    // would spuriously refuse a non-nullable-container column on its
    // very first round trip
    val widenedTo: Map[String, DataType] = dataSchema.fields.flatMap {
      f => tableTypes.get(f.name).flatMap { t =>
        if (normalized(t) == normalized(f.dataType)) None
        else if (widens(t, f.dataType)) Some(f.name -> f.dataType)
        else if (widens(f.dataType, t)) None // delta upcasts to table
        else throw new IllegalArgumentException(
          s"schema evolution cannot change '${f.name}': table has $t, " +
            s"delta has ${f.dataType} — only the safe widenings " +
            "(byte→short→int→long, {byte,short,int}→double, " +
            "float→double, decimal precision/scale growth) evolve " +
            "in place")
      }
    }.toMap
    val dropped = tableSchema.fieldNames
      .filterNot(dataSchema.fieldNames.contains)
    require(dropped.isEmpty,
      s"delta drops table column(s) ${dropped.mkString(", ")} — " +
        "schema evolution is additive only")
    val added = dataSchema.fields.filterNot(f =>
      tableTypes.contains(f.name))
    // the dropColumn resurrect hazard: pre-drop files still carry the
    // dropped column's PHYSICAL bytes, and a schema that re-adds the
    // name would surface them as live data — refuse until a full
    // rewrite purges the bytes and clears the tombstone
    val tombstoned = head.droppedCols.map(_.toLowerCase).toSet
    added.foreach(f => require(
      !tombstoned.contains(f.name.toLowerCase), // case-INsensitive:
      // Spark's default resolution clips parquet schemas case-
      // insensitively, so a case-variant re-add would resurrect the
      // old bytes just the same
      s"column '${f.name}' was DROPPED from this table and pre-drop " +
        "files may still carry its bytes — re-adding the name would " +
        "resurrect them; run a full OPTIMIZE (purges the bytes and " +
        "clears the tombstone), then re-add"))
    val newSchema = StructType(tableSchema.fields.map(f =>
      widenedTo.get(f.name).fold(f)(t => f.copy(dataType = t))) ++ added)
    Right((head, newSchema))
  }

  /** Cast every column of `df` that `target` names to the target's
    * type, preserving `df`'s column order — the widening conform both
    * merge paths run on BOTH sides before the union, so the merged
    * output's types are exactly the evolved manifest schema's (never
    * whatever union coercion would invent: two growing decimals union
    * to max(p−s)+max(s), which can overshoot the committed type).
    * Casts to an identical type are eliminated by Catalyst — the
    * no-widening common case pays nothing. */
  private def conformTo(df: DataFrame, target: StructType): DataFrame = {
    val types = target.fields.map(f => f.name -> f.dataType).toMap
    df.select(df.columns.toSeq.map(c =>
      types.get(c).fold(col(c))(t => col(c).cast(t).as(c))): _*)
  }

  /** Pad `df` with typed-null columns for every `target` field it
    * lacks and project to `target`'s column order — the one
    * additive-schema-evolution alignment both the merge read path and
    * the CDF's from-side share. */
  private def padToSchema(df: DataFrame, target: StructType): DataFrame =
    target.fields.filterNot(f => df.columns.contains(f.name))
      .foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
      .select(target.fieldNames.map(col).toSeq: _*)

  /** Read the head's delta-touched partitions pinned to the table
    * schema, with the delta's added columns riding in as typed nulls,
    * projected to the delta's column order. */
  private def readTouched(spark: SparkSession, dir: String, head: Snap,
      replaced: Seq[Entry], dataSchema: StructType): DataFrame =
    if (replaced.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], dataSchema)
    else padToSchema(readSnap(spark, dir, head.copy(entries = replaced)),
      dataSchema)

  /** The widening conform of [[conformTo]] for collected partition
    * rows: leading values cast from `from` to `to`, the rest kept. */
  private def conformRows(rows: Seq[Row], from: Seq[DataType],
      to: Seq[DataType]): Seq[Row] =
    rows.map(r => Row.fromSeq(r.toSeq.zipWithIndex.map { case (v, i) =>
      if (i >= to.size || from(i) == to(i)) v
      else CatalystTypeConverters.convertToScala(
        Cast(Literal.create(v, from(i)), to(i)).eval(), to(i))
    }))

  private def splitTouched(head: Snap, partCols: Seq[String],
      touchedRows: Seq[Row]): (Seq[Entry], Seq[Entry]) = {
    val touchedSet = touchedRows.map(r => partKeyRow(partCols, r)).toSet
    head.entries.partition(e =>
      touchedSet.contains(partKeyOfEntry(e.path)))
  }

  /** MERGE `delta` into the table: new-wins by `key` with the
    * deterministic `tieBreak` ([[Upsert.merge]]'s pinned priority),
    * copy-on-write over the partitions the delta touches, committed
    * as version head+1. Returns the committed version (the head's,
    * unchanged, when `batchId` replays). The touched-partition
    * counts are bounded exactly as [[Upsert.upsertPartitioned]]'s —
    * a delta spans few storage partitions by construction; a caller
    * that holds them passes them as `touchedCounts`.
    * `statsCols` names EXTRA columns (beyond the merge key) whose
    * per-entry/per-file min/max the manifest records — Iceberg's
    * per-column bounds — so [[readRange]] prunes on any of them.
    * `branch` stages the commit on a [[createBranch writable branch]]
    * instead of main (the write-audit-publish workflow) — same
    * semantics, invisible to main's readers until [[fastForward]].
    *
    * OPTIMISTIC CONCURRENCY ([[retrying]]) — safe for threads of one
    * driver (foreachBatch callbacks, pooled landing threads targeting
    * a shared table): each attempt stages under a unique dir token (so
    * racers never touch each other's files), the commit's
    * check-rename-readback is serialized per table dir within the JVM
    * (exactly one winner per version), and a losing attempt either
    * re-commits its staging (the winner's change was partition-
    * disjoint) or REBASES — re-resolves the advanced head, recomputes
    * the new-wins merge over it, and commits the next version. Merge
    * is deterministic given (head, delta), so the outcome is the
    * serial order the commits actually took. Loser attempts' staged
    * dirs are unreferenced by construction — [[vacuum]] reclaims
    * them. A retry that finds its own batchId at the head (the racer
    * was a replay of the same batch) no-ops. Refusals that retrying
    * cannot fix (schema evolution, partitioning, null partition
    * values) propagate immediately. */
  def merge(spark: SparkSession, dir: String, delta: DataFrame,
      key: String, tieBreak: String, partCols: Seq[String],
      batchId: Option[Long] = None,
      maxRowsPerTask: Long = DefaultMaxRowsPerTask,
      statsCols: Seq[String] = Nil,
      branch: Option[String] = None,
      touchedCounts: Option[Seq[Row]] = None): Long = {
    requirePathSafe(delta, partCols)
    retrying(spark, dir)(mergeOnce(spark, dir, delta, key, tieBreak,
      partCols, batchId, maxRowsPerTask, statsCols, branch, touchedCounts))
  }

  /** One [[merge]] attempt, against the head it resolves. */
  private def mergeOnce(spark: SparkSession, dir: String,
      delta: DataFrame, key: String, tieBreak: String,
      partCols: Seq[String], batchId: Option[Long], maxRowsPerTask: Long,
      statsCols: Seq[String], branch: Option[String],
      touchedCounts: Option[Seq[Row]]): Long = {
    val (head, newSchema) =
      mergePreamble(spark, dir, delta.schema, partCols, batchId,
        branch) match {
        case Left(ver) => return ver
        case Right(hs) => hs
      }
    val deltaC = conformTo(delta, newSchema)
    // touched partitions with their delta counts (plus the replaced
    // entries' recorded rows: writeAndCommit's task-layout estimate),
    // in the EVOLVED types — the write's split table joins them
    // against the output's columns
    val touched = conformRows(
      touchedCounts.getOrElse(PartitionKeys.touchedCounts(delta, partCols)),
      partCols.map(c => delta.schema(c).dataType),
      partCols.map(c => newSchema(c).dataType))
    require(touched.nonEmpty, "empty delta — nothing to merge")
    val (replaced, kept) = splitTouched(head, partCols, touched)
    val replacedRows = replaced.groupBy(e => partKeyOfEntry(e.path))
      .map { case (k, es) =>
        k -> es.map(_.rows.getOrElse(maxRowsPerTask)).sum
      }
    val est = touched.map { r =>
      (r: Row, r.getLong(partCols.size) +
        replacedRows.getOrElse(partKeyRow(partCols, r), 0L))
    }
    val existingTouched = readTouched(spark, dir, head, replaced,
      delta.schema)
    // both sides conform to the EVOLVED types before the union (the
    // widening seam — a no-op select when nothing widened)
    val existingC = conformTo(existingTouched, newSchema)
    val merged = Upsert.merge(deltaC, existingC, key, tieBreak)
    writeAndCommit(spark, dir, merged, (key +: statsCols).distinct,
      partCols, batchId, kept, newSchema.toDDL, maxRowsPerTask, est,
      head, ref = branch)
  }

  /** MERGE-ON-READ point deletes — deletion vectors, the public
    * Delta-DV / Iceberg-equality-delete shape rebuilt on the
    * manifest: a delete commits ONE parquet sidecar of deleted keys
    * (`data/v=<n>-<token>/_dv`) plus a manifest whose affected entries
    * gain a `dv=` reference; NO data partition is rewritten, so the
    * delete costs O(delete keys) however many partitions — and however
    * many BYTES — the keys touch, where [[mergeCdc]]'s tombstones pay a
    * full rewrite of every touched partition. Reads anti-join the
    * sidecar per referencing entry ([[readSnap]]); [[optimize]] and
    * any merge that rewrites a referencing partition FOLD the
    * deletes into fresh dv-free entries (rewritten content is read
    * dv-applied), which is the compaction story: DVs accumulate one
    * read-side anti-join per delete commit until the next rewrite
    * folds them away.
    *
    * `key` may be ANY table column (equality deletes — a GDPR erasure
    * by user id works on a table merged by event id), but one table
    * carries ONE dv key at a time (mixed-column sidecars would need
    * per-sidecar join keys; refused loudly — fold existing DVs with
    * [[optimize]] first). Deleting a key later re-inserted by a merge
    * is safe by construction: the re-insert rewrote its partition
    * into a fresh entry the old sidecar never attaches to. Keys
    * absent from the table are harmless extra sidecar rows. Affected
    * entries = those whose recorded key bounds overlap the delete
    * set's [min, max] (conservative — no stats, no pruning, every
    * entry attaches); entry stats stay valid (deletes only shrink a
    * dir's true bounds). Time travel below the delete reads the
    * pre-delete rows — the sidecar is referenced only from the new
    * manifest. Replay-idempotent via `batchId` like every commit
    * here, and optimistic like [[merge]]: a losing delete re-resolves
    * the advanced head and re-attaches to its entries. Returns the
    * committed version (the head's when the delete set misses every
    * entry — nothing changed, nothing committed). */
  def deleteKeys(spark: SparkSession, dir: String, delKeys: DataFrame,
      key: String, batchId: Option[Long] = None): Long =
    retrying(spark, dir)(deleteKeysOnce(spark, dir, delKeys, key, batchId))

  /** One [[deleteKeys]] attempt, against the head it resolves. */
  private def deleteKeysOnce(spark: SparkSession, dir: String,
      delKeys: DataFrame, key: String, batchId: Option[Long]): Long = {
    val head = resolve(spark, dir)
    if (batchId.isDefined && head.batchId == batchId) return head.ver
    val schema = StructType.fromDDL(head.schemaDdl)
    require(schema.fieldNames.contains(key),
      s"delete key '$key' is not a table column")
    require(delKeys.columns.contains(key),
      s"delete frame carries no '$key' column")
    require(normalized(schema(key).dataType) ==
      normalized(delKeys.schema(key).dataType),
      s"delete key '$key' is ${delKeys.schema(key).dataType} but the " +
        s"table column is ${schema(key).dataType}")
    head.dvKey.foreach(k => require(k == key,
      s"table at $dir already carries deletion vectors keyed on '$k' " +
        s"— one dv key per table (OPTIMIZE folds them, then delete " +
        s"by '$key')"))
    val keys = delKeys.select(col(key)).distinct()
    // one pass over the delta-sized key set: count, null census, and
    // bounds for the entry-attach pruning
    val statsOk = statSafe(schema(key).dataType)
    val aggs = Seq(count(lit(1)).as("_n"),
      count(when(col(key).isNull, lit(1))).as("_nn")) ++
      (if (statsOk) Seq(min(col(key)).cast("string").as("_mn"),
        max(col(key)).cast("string").as("_mx")) else Nil)
    val prof = keys.agg(aggs.head, aggs.tail: _*).collect()(0)
    require(prof.getLong(0) > 0, "empty delete set — nothing to delete")
    require(prof.getLong(1) == 0,
      s"delete key '$key' is null on ${prof.getLong(1)} row(s) — " +
        "null never equality-matches a stored row; a null here is " +
        "always an upstream bug")
    val (lo, hi) =
      if (statsOk) (Some(prof.getString(2)), Some(prof.getString(3)))
      else (None, None)
    val targets = pruneByKey(head, key, lo, hi).entryPaths.toSet
    if (targets.isEmpty) return head.ver // provably misses every entry
    val verDir = stagingDir(head.ver + 1)
    val dvPath = s"$verDir/_dv"
    withInflight(spark, dir, verDir) {
      // a small delete set lands as one file (no 32-way spray for a
      // handful of keys); a bulk erasure keeps its parallelism
      (if (prof.getLong(0) <= DefaultMaxRowsPerTask) keys.coalesce(1)
      else keys)
        .write.mode("overwrite").option("compression", "snappy")
        .parquet(s"$dir/data/$dvPath")
      val entries = head.entries.map(e =>
        if (targets.contains(e.path)) e.copy(dvs = e.dvs :+ dvPath) else e)
      commitManifest(spark, dir, head.ver + 1, batchId, entries,
        head.schemaDdl, head.partCols, head.statsKeys, Some(key),
        base = Some(head), checks = head.checks,
        droppedCols = head.droppedCols)
      head.ver + 1
    }
  }

  /** NAMED TAG (Iceberg's refs): pin a version under a stable name —
    * `_tag.<name>` holds the version number, claimed CREATE-EXCLUSIVE
    * through the same no-clobber rename as manifests (two racers
    * tagging the same name get one winner, loudly). A tagged version
    * is PINNED against [[retainNewest]]: retention keeps its manifest
    * (checkpointed full if its base chain falls below the cut) and
    * every data dir it references until the tag drops — the
    * reproducibility contract a training-run audit needs ("the
    * exact table the run read, by name, months later"). Returns the
    * tagged version.
    *
    * TAG vs RETENTION race: a tag landing while [[retainNewest]] is
    * mid-cut could otherwise pin a version whose manifest the cut is
    * about to delete (a DANGLING pin — resolveTag would refuse
    * forever). Closed on two sides: in-JVM, tag and retention's
    * manifest-critical section serialize through the same per-dir
    * commit monitor (a tag runs strictly before or strictly after a
    * cut); cross-process, the claim is RE-VERIFIED — if `_snap.<v>`
    * vanished between our existence check and the claim landing, the
    * tag deletes itself and refuses loudly (and retention re-lists
    * tags immediately before deleting manifests, so a tag it can see
    * is honored). The residual window is the microseconds between
    * retention's re-list and its deletes — same best-effort tier as
    * every cross-process story here. */
  def tag(spark: SparkSession, dir: String, name: String,
      version: Option[Long] = None): Long = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+") &&
      Claims.stagedFor(s"_tag.$name").isEmpty,
      s"tag name must be a [A-Za-z0-9._-]+ token that does not read " +
        s"as a claim tmp (<name>.<hex>.tmp): '$name'")
    val lock = commitLocks.computeIfAbsent(lockKey(spark, dir),
      _ => new Object)
    lock.synchronized {
      val v = version.getOrElse(resolve(spark, dir).ver)
      val fs = fsOf(spark, dir)
      require(fs.exists(new Path(dir, s"_snap.$v")),
        s"version $v of $dir is not retained — cannot tag it")
      Claims.claim(spark, new Path(dir, s"_tag.$name"), v.toString)
      // post-claim re-verify (cross-process retention may have cut v
      // between the check above and the claim): a dangling pin must
      // surface NOW, to the tagger, not months later to the audit
      if (!fs.exists(new Path(dir, s"_snap.$v"))) {
        fs.delete(new Path(dir, s"_tag.$name"), false)
        throw new IllegalStateException(
          s"version $v of $dir was deleted by a concurrent retention " +
            s"cut while tag '$name' was being claimed — the tag was " +
            "rolled back; re-resolve and tag a retained version")
      }
      v
    }
  }

  /** All refs under `prefix` (`_tag.` / `_branch.`): name → version. */
  private def namedRefs(spark: SparkSession, dir: String,
      prefix: String): Map[String, Long] = {
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && Claims.stagedFor(n).isEmpty)
      .flatMap(n => Claims.read(fs, new Path(dir, n)).trim.toLongOption
        .map(n.stripPrefix(prefix) -> _))
      .toMap
  }

  /** All tags: name → pinned version. */
  def tags(spark: SparkSession, dir: String): Map[String, Long] =
    namedRefs(spark, dir, "_tag.")

  /** Resolve a table BY TAG — time travel by name. */
  def resolveTag(spark: SparkSession, dir: String, name: String): Snap = {
    val t = tags(spark, dir)
    require(t.contains(name),
      s"no tag '$name' on $dir (have ${t.keys.toSeq.sorted.mkString(", ")})")
    resolve(spark, dir, Some(t(name)))
  }

  /** Drop a tag — unknown names refuse loudly (a typo'd drop that
    * silently no-ops leaves the version unpinned in the operator's
    * head but pinned on disk, or vice versa). The version's data
    * becomes reclaimable at the next retention cut. */
  def dropTag(spark: SparkSession, dir: String, name: String): Unit = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir, s"_tag.$name")
    require(fs.exists(p),
      s"no tag '$name' on $dir")
    fs.delete(p, false)
  }

  /** WRITABLE BRANCH (Iceberg refs beyond tags — the write-audit-
    * publish workflow): fork a named line of commits off a retained
    * version. Branch commits claim manifests in a PARALLEL namespace
    * (`_bsnap.<name>.<v>`, version numbers continuing from the fork)
    * in the same table dir and stage data under the shared `data/`
    * root with per-commit unique dir tokens; the history at and below
    * the fork is read IN PLACE through [[resolveAt]]'s namespace
    * fallback, never copied — a branch costs O(commits staged on it),
    * not O(table). Main's readers never look at `_bsnap.*`, so staged
    * commits are invisible until [[fastForward]] publishes them; the
    * fork version is pinned against [[retainNewest]] exactly like a
    * tag, and branch-referenced data stays live to retention/vacuum
    * until [[dropBranch]].
    *
    * `_branch.<name>` records the IMMUTABLE fork version, claimed
    * create-exclusive through the same no-clobber rename as tags (two
    * racers creating one name get one winner, loudly), with the same
    * post-claim re-verify against a concurrent retention cut. Names
    * exclude dots — `_bsnap.<name>.<v>` parses by its LAST dot, and
    * [[dropBranch]] deletes by name-prefix.
    *
    * Write surface on a branch: [[merge]] and [[mergeCdc]] take
    * `branch = Some(name)`. Maintenance ops (optimize, deleteKeys,
    * repartition, drop/rename column) stay MAIN-only by design —
    * they are post-publish concerns, and running them against a
    * quarantined line would burn O(table) work that the publish gate
    * might reject. */
  def createBranch(spark: SparkSession, dir: String, name: String,
      version: Option[Long] = None): Long = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_-]+"),
      s"branch name must be a [A-Za-z0-9_-]+ token (no dots): '$name'")
    val lock = commitLocks.computeIfAbsent(lockKey(spark, dir),
      _ => new Object)
    lock.synchronized {
      val v = version.getOrElse(resolve(spark, dir).ver)
      val fs = fsOf(spark, dir)
      require(fs.exists(new Path(dir, s"_snap.$v")),
        s"version $v of $dir is not retained — cannot branch from it")
      Claims.claim(spark, new Path(dir, s"_branch.$name"), v.toString)
      // post-claim re-verify — the same dangling-pin discipline as tag()
      if (!fs.exists(new Path(dir, s"_snap.$v"))) {
        fs.delete(new Path(dir, s"_branch.$name"), false)
        throw new IllegalStateException(
          s"version $v of $dir was deleted by a concurrent retention " +
            s"cut while branch '$name' was being claimed — the branch " +
            "was rolled back; re-resolve and branch a retained version")
      }
      v
    }
  }

  /** All branches: name → fork version. */
  def branches(spark: SparkSession, dir: String): Map[String, Long] =
    namedRefs(spark, dir, "_branch.")

  private def branchFork(spark: SparkSession, dir: String,
      name: String): Long = {
    val bs = branches(spark, dir)
    require(bs.contains(name), s"no branch '$name' on $dir (have " +
      s"${bs.keys.toSeq.sorted.mkString(", ")})")
    bs(name)
  }

  /** The branch's newest version: its immutable fork plus a forward
    * probe over its own manifests — branch commits only ever append
    * at head+1 (the contiguity invariant [[headVersion]] rides), and
    * audit branches stay short, so the probe is a handful of
    * existence checks with no pointer file to maintain. */
  def branchHead(spark: SparkSession, dir: String, name: String): Long = {
    val fork = branchFork(spark, dir, name)
    val fs = fsOf(spark, dir)
    var h = fork
    while (fs.exists(new Path(dir, s"_bsnap.$name.${h + 1}"))) h += 1
    h
  }

  /** Resolve a branch at its head or a pinned `version` — versions at
    * or below the fork resolve the shared main history in place.
    * Versions ABOVE the branch head refuse (the namespace fallback
    * would otherwise silently resolve an unrelated MAIN commit that
    * landed after the fork as if it were branch history). */
  def resolveBranch(spark: SparkSession, dir: String, name: String,
      version: Option[Long] = None): Snap = {
    val bh = branchHead(spark, dir, name)
    val v = version.getOrElse(bh)
    require(v <= bh,
      s"version $v is beyond branch '$name' head $bh on $dir")
    resolveAt(spark, dir, v, Some(name))
  }

  /** Read a branch at its head (or a pinned version) — the AUDIT
    * surface of write-audit-publish. */
  def readBranch(spark: SparkSession, dir: String, name: String,
      version: Option[Long] = None): DataFrame =
    readSnap(spark, dir, resolveBranch(spark, dir, name, version))

  /** PUBLISH a branch — Iceberg's `fastForwardBranch(main, branch)`:
    * adopt every staged branch commit into main's namespace, version
    * by version, through the same no-clobber claim every commit uses.
    * Requires main UNCHANGED since the fork (the fast-forward
    * ancestor rule: the staged line must be a strict extension of
    * main — when main moved, re-branch from the new head and replay).
    * The adopted manifests are byte-copies of the branch's, so the
    * published history keeps per-commit time travel, batch replay
    * ids, and the change feed across the whole published range — a
    * squash commit would lose all three. Data never moves: branch
    * commits staged into the shared `data/` root from the start, so
    * the publish is O(staged commits) metadata and ZERO data bytes.
    * Returns the new main head (the fork when nothing was staged).
    * The branch itself survives for post-publish audit trail reads —
    * [[dropBranch]] it when done (a published branch cannot
    * fast-forward again: main has moved past its fork).
    *
    * Cross-process honesty: each adoption claim is individually
    * atomic, but the sequence is not one atomic ref swap — a
    * cross-process main writer racing the publish can claim an
    * intermediate version first, in which case the publish stops
    * LOUDLY at the last version it adopted (still a valid linear
    * history: the racer based on adopted content) and the remainder
    * stays staged on the branch. In-JVM, the per-dir monitor makes
    * the publish atomic against other commits. */
  def fastForward(spark: SparkSession, dir: String, name: String): Long = {
    val lock = commitLocks.computeIfAbsent(lockKey(spark, dir),
      _ => new Object)
    lock.synchronized {
      val fork = branchFork(spark, dir, name)
      val bh = branchHead(spark, dir, name)
      if (bh == fork) return fork
      val mainHead = resolve(spark, dir).ver
      require(mainHead == fork,
        s"main is at v$mainHead but branch '$name' forked at v$fork — " +
          "fast-forward publishes only a strict extension of main; " +
          "re-branch from the current head and replay the staged " +
          "commits")
      val fs = fsOf(spark, dir)
      (fork + 1 to bh).foreach { v =>
        try Claims.claim(spark, new Path(dir, s"_snap.$v"),
          Claims.read(fs, new Path(dir, s"_bsnap.$name.$v")))
        catch {
          case e: Claims.Conflict =>
            throw new IllegalArgumentException(
              s"fast-forward of branch '$name' was interrupted at v$v " +
                s"by a concurrent main commit — versions ${fork + 1}.." +
                s"${v - 1} were published; the rest stay staged on the " +
                "branch", e)
        }
      }
      advanceHeadPointer(spark, dir, bh)
      bh
    }
  }

  /** Drop a branch: its manifests go immediately; data only its
    * commits referenced becomes reclaimable at the next [[vacuum]] or
    * [[retainNewest]] cut (PUBLISHED data is referenced by the
    * adopted main manifests and stays). Unknown names refuse loudly —
    * a typo'd drop that silently no-ops leaves the fork pinned against
    * retention forever. */
  def dropBranch(spark: SparkSession, dir: String, name: String): Unit = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir, s"_branch.$name")
    require(fs.exists(p), s"no branch '$name' on $dir")
    // names exclude dots, so the `_bsnap.<name>.` prefix is exact —
    // it can never capture another branch's manifests
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith(s"_bsnap.$name."))
      .foreach(fs.delete(_, false))
    fs.delete(p, false)
  }

  /** ADD a CHECK constraint (Delta's `ALTER TABLE ADD CONSTRAINT`):
    * validates the expression against the CURRENT head content first
    * (one scan — Delta does the same; a constraint the existing data
    * already violates would make every future merge unfixably loud),
    * then commits a metadata-only version recording it. From that
    * version on, EVERY write path (merge, mergeCdc, optimize,
    * repartition, rename) re-verifies the constraint on its output
    * rows with one aggregation over the files it wrote, and refuses
    * before committing anything. SQL CHECK semantics: a row
    * violates only when the expression evaluates FALSE (null passes).
    * The head's batch id carries forward (a replayed merge stays a
    * no-op across the metadata commit). */
  def addCheck(spark: SparkSession, dir: String, name: String,
      expression: String): Long = {
    require(name.nonEmpty && !name.contains(" "),
      s"check name must be a non-empty, space-free token: '$name'")
    val head = resolve(spark, dir)
    require(!head.checks.contains(name),
      s"check '$name' already exists on $dir (drop it first)")
    val viol =
      if (head.entries.isEmpty) 0L
      else readSnap(spark, dir, head)
        .filter(!expr(expression)).limit(1).count()
    require(viol == 0L,
      s"existing rows violate CHECK '$name' ($expression) — a " +
        "constraint the current content fails would make every " +
        "future merge refuse; clean the data first")
    commitManifest(spark, dir, head.ver + 1, head.batchId, head.entries,
      head.schemaDdl, head.partCols, head.statsKeys, head.dvKey,
      base = Some(head), checks = head.checks + (name -> expression),
      droppedCols = head.droppedCols)
    head.ver + 1
  }

  /** DROP a CHECK constraint — metadata-only commit; unknown names
    * refuse loudly (a typo'd drop that silently no-ops leaves the
    * operator believing enforcement ended). */
  def dropCheck(spark: SparkSession, dir: String, name: String): Long = {
    val head = resolve(spark, dir)
    require(head.checks.contains(name),
      s"no check named '$name' on $dir (have " +
        s"${head.checks.keys.toSeq.sorted.mkString(", ")})")
    commitManifest(spark, dir, head.ver + 1, head.batchId, head.entries,
      head.schemaDdl, head.partCols, head.statsKeys, head.dvKey,
      base = Some(head), checks = head.checks - name,
      droppedCols = head.droppedCols)
    head.ver + 1
  }

  /** RESTORE — Delta's `RESTORE TABLE ... TO VERSION AS OF` (public
    * shape): re-commit `toVersion`'s FULL table state as a NEW version
    * at head+1. History only ever moves FORWARD — time travel to the
    * undone versions still works, so an audit sees both the mistake
    * and the correction — and data moves not at all: the restored
    * manifest re-references the old dirs by entry (retention already
    * keeps whatever any retained manifest names). Schema,
    * partitioning, stats columns, dv key, CHECK constraints, and
    * column tombstones all restore to the target's. The restored
    * commit carries the TARGET's batch id: a replay of the batch that
    * produced the restored state stays a no-op, while the batch whose
    * damage was undone can re-run (its id no longer sits at the
    * head) — exactly the replay semantics rolling back a bad batch
    * wants. The change feed across the restore classifies the UNDO
    * (deletes for rows the bad batch added, update pre/post pairs
    * back to the restored values). Restoring to the current head
    * version is a no-op; a version below the retention cut refuses
    * loudly through [[resolve]]. */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Long = {
    val lock = commitLocks.computeIfAbsent(lockKey(spark, dir),
      _ => new Object)
    lock.synchronized {
      val head = resolve(spark, dir)
      if (head.ver == toVersion) return head.ver
      val target = resolve(spark, dir, Some(toVersion))
      commitManifest(spark, dir, head.ver + 1, target.batchId,
        target.entries, target.schemaDdl, target.partCols,
        target.statsKeys, target.dvKey, base = Some(head),
        checks = target.checks, droppedCols = target.droppedCols)
      head.ver + 1
    }
  }

  /** A lost version claim of a rewriting writer, carrying what a
    * re-commit of its already-written staging needs ([[fastRecommit]]):
    * the head it was computed against, its staging dir, the entries it
    * produced, and the partition keys it read or wrote. Only
    * [[retrying]] acts on it; to every other caller it is the conflict
    * it wraps (same message). */
  private final class LostClaim(orig: Claims.Conflict,
      val base: Snap, val verDir: String, val produced: Seq[Entry],
      val ourKeys: Set[String], val batchId: Option[Long],
      val schemaDdl: String, val partCols: Seq[String],
      val statsCols: Seq[String])
      extends Claims.Conflict(orig.getMessage, orig)

  /** Attempts a [[retrying]] commit makes before its conflict
    * propagates: the first plus up to seven rebases. */
  private val MaxCommitAttempts = 8

  /** The ONE commit protocol of [[merge]], [[mergeCdc]] and
    * [[deleteKeys]]: run `attempt`; when it loses its version claim,
    * re-commit its staging over the winner where [[fastRecommit]]
    * allows, else REBASE — run `attempt` again against the advanced
    * head — up to [[MaxCommitAttempts]] in all. Every attempt stages
    * under a fresh dir token ([[stagingDir]]). */
  private def retrying(spark: SparkSession, dir: String)(
      attempt: => Long): Long = {
    var n = 0
    while (true) {
      n += 1
      try {
        if (n == 1) return attempt
        // REBASE attempts serialize per table dir WITHIN this JVM
        // (the same monitor the commit section already uses, held for
        // the whole recompute): N same-JVM losers racing the same
        // table would otherwise all rebase from the SAME advanced
        // head concurrently and N−1 of those recomputed merges are
        // guaranteed-stale work — measured on the 4-writer
        // full-overlap shape as 10 merge computations where 7
        // suffice. Serialized, each rebase resolves a FRESH head and
        // commits first try. First attempts still race optimistically
        // (the protocol under test is unchanged — this is in-process
        // contention scheduling, invisible cross-JVM, and commit
        // order was always declared nondeterministic). The monitor is
        // reentrant, so the rebase's own commit re-enters it safely;
        // other threads' commits wait, which only defers conflicts
        // they were about to pay anyway.
        val lock = commitLocks.computeIfAbsent(lockKey(spark, dir),
          _ => new Object)
        lock.synchronized { return attempt }
      } catch {
        case lost: LostClaim =>
          // the staging is re-marked in flight for the re-commit
          val v = withInflight(spark, dir, lost.verDir)(
            fastRecommit(spark, dir, lost))
          if (v.isDefined) return v.get
          if (n >= MaxCommitAttempts) throw lost
        case _: Claims.Conflict if n < MaxCommitAttempts => // rebase
      }
    }
    -1L // unreachable
  }

  /** Tombstone-aware MERGE — the CDC rung: apply a change feed whose
    * rows carry an operation column (`'D'` = delete; anything else
    * upserts) at the same touched-partition cost bound as [[merge]].
    * The feed collapses per key to its LATEST row by `seqCols`
    * descending ([[Cdc.applyLatest]]'s totally-ordered-seq contract —
    * gluejob.py:197-198's new-wins dedup extended with the delete rule
    * the reference's delete-less feed never needed); a key whose
    * latest op is `'D'` is REMOVED from its partition, any other key
    * in the feed replaces the stored row, and stored keys the feed
    * never mentions carry through. The op column is an operator
    * column, not data: it never enters the table schema.
    *
    * Delete rows must carry the key's partition values (a CDC feed
    * carries the full before/after image, so they always do) — the
    * partition/key functional-dependency contract from the object doc
    * applies here verbatim. A feed that deletes every row of every
    * touched partition commits a version whose entry list simply
    * drops those partitions (and an empty table refuses on read, like
    * every empty snapshot). `branch` stages the CDC commit on a
    * [[createBranch writable branch]] — a change feed is exactly what
    * an audit pipeline wants quarantined until the gate passes.
    * Concurrent writers resolve exactly as [[merge]]'s do. */
  def mergeCdc(spark: SparkSession, dir: String, delta: DataFrame,
      key: String, seqCols: Seq[String], opCol: String,
      partCols: Seq[String], batchId: Option[Long] = None,
      maxRowsPerTask: Long = DefaultMaxRowsPerTask,
      statsCols: Seq[String] = Nil,
      branch: Option[String] = None): Long = {
    require(seqCols.nonEmpty, "seqCols must name >= 1 column")
    require(delta.columns.contains(opCol),
      s"op column '$opCol' is not in the delta")
    require(!(partCols :+ key).contains(opCol),
      s"op column '$opCol' cannot double as key or partition column")
    requirePathSafe(delta, partCols)
    retrying(spark, dir)(mergeCdcOnce(spark, dir, delta, key, seqCols,
      opCol, partCols, batchId, maxRowsPerTask, statsCols, branch))
  }

  /** One [[mergeCdc]] attempt, against the head it resolves. */
  private def mergeCdcOnce(spark: SparkSession, dir: String,
      delta: DataFrame, key: String, seqCols: Seq[String], opCol: String,
      partCols: Seq[String], batchId: Option[Long], maxRowsPerTask: Long,
      statsCols: Seq[String], branch: Option[String]): Long = {
    val dataSchema = StructType(
      delta.schema.fields.filterNot(_.name == opCol))
    val (head, newSchema) =
      mergePreamble(spark, dir, dataSchema, partCols, batchId,
        branch) match {
        case Left(ver) => return ver
        case Right(hs) => hs
      }
    // collapse the feed: latest row per key (one key-shuffle window,
    // the Cdc.applyLatest profile) — deletes stay as tombstones here
    // because they still TOUCH their partition (the stored row must
    // be dropped from its rewrite). The feed conforms to the evolved
    // (possibly widened) types first, so survivors union type-exact.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(seqCols.map(col(_).desc): _*)
    // EVERYTHING after the checkpoint runs inside its scope — a
    // refusal in the touched collect or the partition-key render
    // (empty feed, null partition value) must not leak the blocks
    graft.ext.LocalCheckpoint.within(conformTo(delta, newSchema)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")) { collapsed =>
      // touched partitions + FEED HYGIENE in one pass (the census
      // rides the same job the touched collect always was): a NULL op
      // value would silently behave as a delete (the upsert filter
      // `op =!= 'D'` drops the null row while its key still anti-joins
      // the stored row out), and a null-KEY delete would silently
      // no-op (null never equality-matches; writeAndCommit's census
      // sees only SURVIVORS, so unlike a null-key upsert it was never
      // refused — [[deleteKeys]] refuses the identical input as
      // "always an upstream bug"). Both refuse HERE, before any
      // partition read or write, version unburned.
      val censused = collapsed.groupBy(partCols.map(col): _*).agg(
        count(when(col(opCol).isNull, lit(1))).as("_nullop"),
        count(when(col(key).isNull, lit(1))).as("_nullkey"),
        count(lit(1)).as("_gp_n"))
        .collect()
      val nullOps = censused.map(_.getLong(partCols.length)).sum
      require(nullOps == 0L,
        s"op column '$opCol' is null on $nullOps collapsed feed row(s)" +
          " — a null op would silently DELETE (the contract is 'D' = " +
          "delete, anything else upserts); clean the feed or " +
          s"coalesce($opCol, 'U') upstream with the choice made " +
          "deliberately")
      val nullKeys = censused.map(_.getLong(partCols.length + 1)).sum
      require(nullKeys == 0L,
        s"merge key '$key' is null on $nullKeys collapsed feed row(s)" +
          " — a null key never equality-matches a stored row (a " +
          "null-key delete would silently no-op); a null here is " +
          "always an upstream bug")
      val touched = censused.map(r =>
        Row.fromSeq(partCols.indices.map(r.get)))
      require(touched.nonEmpty, "empty delta — nothing to merge")
      val (replaced, kept) = splitTouched(head, partCols, touched.toSeq)
      // task-layout estimate for writeAndCommit: survivors per
      // partition are bounded by the collapsed feed's rows plus the
      // stored rows the manifest already counts
      val replacedRows = replaced.groupBy(e => partKeyOfEntry(e.path))
        .map { case (k, es) =>
          k -> es.map(_.rows.getOrElse(maxRowsPerTask)).sum
        }
      val est = censused.toSeq.zip(touched).map { case (r, tr) =>
        (tr, r.getLong(partCols.length + 2) +
          replacedRows.getOrElse(partKeyRow(partCols, tr), 0L))
      }
      val existingTouched = conformTo(
        readTouched(spark, dir, head, replaced, dataSchema), newSchema)
      // survivors: feed winners that are not deletes, plus stored rows
      // whose key the feed never mentions (one broadcast-able anti join
      // on the collapsed keys — the feed is delta-sized)
      val upserts = collapsed.filter(col(opCol) =!= "D").drop(opCol)
        .select(dataSchema.fieldNames.map(col).toSeq: _*)
      val carried = existingTouched.join(
        collapsed.select(col(key)), Seq(key), "left_anti")
        .select(dataSchema.fieldNames.map(col).toSeq: _*)
      val survivors = upserts.unionByName(carried)
      writeAndCommit(spark, dir, survivors,
        (key +: statsCols).distinct, partCols, batchId, kept,
        newSchema.toDDL, maxRowsPerTask, est, head, ref = branch)
    }
  }

  /** OPTIMIZE: rewrite the head's content into fresh compacted
    * partition dirs (the accumulated small files of many merges
    * collapse to bounded-size files — hot partitions split across
    * tasks like every write here) and commit it as a new version with
    * IDENTICAL content — Delta's OPTIMIZE shape: subsequent reads
    * open fewer files, time travel and held snapshots are untouched
    * (copy-on-write like every commit), and the head's batch id
    * CARRIES FORWARD so a replayed last merge batch is still
    * recognized as a no-op after the rewrite. Entry stats are
    * recomputed over the rewritten dirs (same stats key as the head).
    * Returns the committed version. */
  def optimize(spark: SparkSession, dir: String, partCols: Seq[String],
      maxRowsPerTask: Long = DefaultMaxRowsPerTask,
      zorderBy: Seq[String] = Nil): Long =
    optimizeWhere(spark, dir, partCols, _ => true, maxRowsPerTask,
      zorderBy)

  /** The partition values an entry's dir encodes (unescaped) —
    * `v=3/__gp_year=2024/__gp_month=7` → `Map(year->2024, month->7)` —
    * the vocabulary [[optimizeWhere]] predicates speak. */
  def partitionValues(e: Entry): Map[String, String] =
    e.path.split("/").drop(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0 || !seg.startsWith(P)) None
      else Some(seg.substring(P.length, i) ->
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.substring(i + 1)))
    }.toMap

  /** SELECTIVE OPTIMIZE — Delta's `OPTIMIZE ... WHERE`: rewrite ONLY
    * the entries `select` picks (by partition values via
    * [[partitionValues]], by accumulated small files via
    * `e.fileStats.size`, by dv presence via `e.dvs` — whatever the
    * maintenance policy is); everything else carries BY REFERENCE
    * into the new version. This is the rung that keeps compaction
    * affordable at 10⁵ partitions: a full [[optimize]] is O(table) by
    * nature, but the partitions that actually accumulate small files
    * or deletion vectors are the recently-merged few — rewriting just
    * those is O(selected bytes). Sound because partition→entry is 1:1
    * in every manifest (a merge commits at most one entry per
    * partition value), so rewritten and carried entries can never
    * collide on a partition dir. Selected entries fold their deletion
    * vectors in ([[readSnap]] applies them); carried entries keep
    * their dv references. No-op (head version returned, nothing
    * committed) when nothing matches. */
  def optimizeWhere(spark: SparkSession, dir: String,
      partCols: Seq[String], select: Entry => Boolean,
      maxRowsPerTask: Long = DefaultMaxRowsPerTask,
      zorderBy: Seq[String] = Nil): Long = {
    require(partCols.nonEmpty, "partCols must name >= 1 column")
    val head = resolve(spark, dir)
    require(head.partCols == partCols,
      s"table at $dir is partitioned by (${head.partCols.mkString(", ")})" +
        s" — optimize passed (${partCols.mkString(", ")})")
    val (targets, kept) = head.entries.partition(select)
    if (targets.isEmpty) return head.ver
    val df = readSnap(spark, dir, head.copy(entries = targets))
    requirePathSafe(df, partCols)
    // OPTIMIZE ZORDER (Delta's clustering rewrite): 1 column sorts it
    // directly (file key-ranges come out DISJOINT per partition — the
    // range partitioner's lexicographic boundaries); 2 columns
    // interleave through the codegen Morton key ZOrder64, so footer
    // min/max stay tight on BOTH columns and predicates on either
    // skip files/row groups — a plain sort only ever skips on its
    // leading column. Inputs are normalized below 2^30 (q124's pmod
    // discipline: interleaving wildly different magnitudes wastes the
    // high bits); integral columns only, loud otherwise. Content is
    // IDENTICAL by construction — the hash gate pins it (q270).
    val cluster = zorderBy match {
      case Nil => None
      case cols =>
        require(cols.size <= 2,
          s"zorderBy supports 1 or 2 columns (ZOrder64 is a 2-D " +
            s"Morton key), got ${cols.size}")
        cols.foreach { c =>
          val dt = df.schema(c).dataType
          require(dt == LongType || dt == IntegerType ||
            dt == ShortType || dt == ByteType,
            s"zorderBy column '$c' is $dt — integral columns only " +
              "(rank/bucket/truncated-epoch normalization is the " +
              "caller's)")
        }
        Some(cols match {
          case Seq(a) => col(a).cast("long")
          case Seq(a, b) => graft.functions.ZOrder64(
            pmod(col(a).cast("long"), lit(1073741824L)),
            pmod(col(b).cast("long"), lit(1073741824L)))
        })
    }
    // the selected entries' rewrite commits alongside the carried
    // rest; batch id carries forward (a replayed last merge stays a
    // no-op across the maintenance rewrite, the optimize discipline).
    // Task-layout estimate from the manifest itself: an optimize
    // rewrites IDENTICAL content, so the selected entries' recorded
    // rows are the exact per-partition output counts (an entry
    // without one sizes as a single task, as in merge)
    val est = targets.map(e => (typedPartRow(df.schema, partCols,
      partitionValues(e)), e.rows.getOrElse(maxRowsPerTask)))
    writeAndCommit(spark, dir, df, head.statsKeys, partCols,
      head.batchId, kept, head.schemaDdl, maxRowsPerTask, est, head,
      clusterKey = cluster)
  }

  /** A typed partition-values [[Row]] from an entry's unescaped dir
    * values — the inverse of [[partKeyRow]] for the path-safe types,
    * so manifest-derived write estimates join the output's columns
    * type-exactly. */
  private def typedPartRow(schema: StructType, partCols: Seq[String],
      values: Map[String, String]): Row =
    Row.fromSeq(partCols.map { c =>
      val v = values(c)
      schema(c).dataType match {
        case LongType => v.toLong
        case IntegerType => v.toInt
        case ShortType => v.toShort
        case ByteType => v.toByte
        case BooleanType => v.toBoolean
        case _ => v
      }
    })

  /** PARTITION EVOLUTION: rewrite the head's content under a NEW
    * partitioning and commit it as the next version — the migration
    * a long-lived table eventually needs (daily dirs that should have
    * been monthly, a tenant column that joined the layout late).
    * Content is IDENTICAL by construction; only the layout and the
    * manifest's `parts=` line change. Because every manifest records
    * ITS OWN partitioning, time travel across the evolution is
    * seamless: a version pinned below the change resolves and reads
    * under the old layout, and later merges validate against the new
    * one (the partition-contract refusal now points at the evolved
    * columns). The head's batch id carries forward, so a replayed
    * last merge stays a no-op across the migration — the OPTIMIZE
    * discipline. O(table) by nature, like OPTIMIZE; hot partitions
    * split, stats and file bounds recomputed for the new dirs. */
  def repartitionTable(spark: SparkSession, dir: String,
      newPartCols: Seq[String],
      maxRowsPerTask: Long = DefaultMaxRowsPerTask): Long = {
    requireDistinctCols(newPartCols)
    val head = resolve(spark, dir)
    require(head.partCols != newPartCols,
      s"table at $dir is already partitioned by " +
        s"(${newPartCols.mkString(", ")})")
    val df = readSnap(spark, dir, head)
    newPartCols.foreach(c => require(df.columns.contains(c),
      s"partition column '$c' is not a table column"))
    requirePathSafe(df, newPartCols)
    // the new layout's partitions and their sizes: one count over the
    // committed files sizes the write, which then scans them once more
    val est = df.groupBy(newPartCols.map(col): _*).count().collect()
      .toSeq.map { r =>
        partKeyRow(newPartCols, r) // loud on a null partition value
        (r: Row, r.getLong(newPartCols.size))
      }
    writeAndCommit(spark, dir, df, head.statsKeys, newPartCols,
      head.batchId, Nil, head.schemaDdl, maxRowsPerTask, est, head)
  }

  /** The column names a recorded CHECK expression references —
    * unresolved attribute collection over the parsed tree, used to
    * refuse schema changes that would break a constraint later and
    * loudly elsewhere. */
  private def checkRefs(expression: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(expression).collect {
        // the TOP-LEVEL column each reference roots in, lowercased:
        // "s.inner > 0" references column s, and Spark resolves
        // case-insensitively by default — an exact-full-name compare
        // would let a drop slip past the guard and brick every later
        // write on an unresolvable constraint
        case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => a.nameParts.head.toLowerCase
      }.toSet

  /** DROP COLUMN — metadata-only (`ALTER TABLE DROP COLUMN` without
    * a rewrite): the manifest's pinned schema loses the column, so
    * every read projects it away while pre-drop files keep their
    * physical bytes until the next rewrite touches them. The dropped
    * NAME is tombstoned (`dropped=` lines): re-adding it through
    * schema evolution refuses until a FULL rewrite ([[optimize]] /
    * [[repartitionTable]] / [[renameColumn]]) purges the old bytes —
    * otherwise the evolved schema would resurrect pre-drop values as
    * live data (the hazard Delta's column mapping exists to solve;
    * this is the honest no-mapping discipline). Refuses on partition
    * columns (evolve the layout first), the dv key (fold the
    * sidecars first), the recorded merge key (maintenance rewrites
    * enforce its non-null census), and columns a CHECK references
    * (drop the check first). Time travel below the drop reads the
    * column as committed. CDC/publish ranges must not span the drop
    * — see [[renameColumn]]'s caveat (drain the landing first). */
  def dropColumn(spark: SparkSession, dir: String, column: String): Long = {
    val head = resolve(spark, dir)
    val schema = StructType.fromDDL(head.schemaDdl)
    require(schema.fieldNames.contains(column),
      s"no column '$column' in the table schema")
    require(!head.partCols.contains(column),
      s"'$column' is a partition column — evolve the partitioning " +
        "first (repartitionTable)")
    head.dvKey.foreach(k => require(k != column,
      s"'$column' is the deletion-vector key — fold the sidecars " +
        "first (OPTIMIZE)"))
    require(!head.statsKey.contains(column),
      s"'$column' is the table's recorded merge key — every " +
        "maintenance rewrite enforces its non-null census, so " +
        "dropping it would wedge optimize/repartition; re-key the " +
        "table (merge under the new key) first")
    head.checks.foreach { case (n, e) =>
      require(!checkRefs(e).contains(column.toLowerCase),
        s"CHECK '$n' ($e) references '$column' — drop the check first")
    }
    val newSchema = StructType(schema.fields.filterNot(_.name == column))
    require(newSchema.fields.exists(f => !head.partCols.contains(f.name)),
      "dropping the last data column would leave an unreadable table")
    commitManifest(spark, dir, head.ver + 1, head.batchId, head.entries,
      newSchema.toDDL, head.partCols,
      head.statsKeys.filterNot(_ == column), head.dvKey,
      base = Some(head), checks = head.checks,
      droppedCols = (head.droppedCols :+ column).distinct)
    head.ver + 1
  }

  /** RENAME COLUMN — an honest O(table) rewrite (the Delta shape
    * WITHOUT column mapping: physical names follow logical names, so
    * a rename rewrites; with ~daily renames being schema governance
    * events, O(table) once is the right trade against carrying a
    * name-indirection layer in every read forever). The full rewrite
    * also purges any dropped columns' physical bytes, so tombstones
    * clear with it. Partition and stats columns rename through;
    * a CHECK referencing the old name refuses (drop, rename,
    * re-add). Time travel below the rename reads the old name.
    *
    * CDC/PUBLISH CAVEAT (drop and rename both): a [[changesBetween]]
    * range SPANNING the change cannot classify — renaming the CDC
    * key leaves no key present in both endpoint schemas (the range
    * refuses loudly), and even a non-key rename rewrites every
    * entry, so the "diff" is the rewrite itself (full-table update
    * pairs whose pre-images null the renamed column), not a semantic
    * change feed. DRAIN the landing to the head (publishChanges
    * until None) BEFORE a rename/drop, so no published range ever
    * spans it — the same discipline Delta asks of `table_changes`
    * consumers across column-mapping changes. */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String, maxRowsPerTask: Long = DefaultMaxRowsPerTask): Long = {
    val head = resolve(spark, dir)
    val schema = StructType.fromDDL(head.schemaDdl)
    require(schema.fieldNames.contains(from),
      s"no column '$from' in the table schema")
    // case-INsensitive collision check: Spark's default resolution
    // would make a schema holding both 'v' and 'V' ambiguous on
    // every later reference — refuse before it is durably committed
    require(!schema.fieldNames.exists(n =>
      n != from && n.equalsIgnoreCase(to)),
      s"column '$to' already exists (case-insensitive)")
    require(from != to, "rename to the same name is a no-op refusal")
    head.checks.foreach { case (n, e) =>
      require(!checkRefs(e).contains(from.toLowerCase),
        s"CHECK '$n' ($e) references '$from' — drop the check, " +
          "rename, then re-add it under the new name")
    }
    val newPartCols = head.partCols.map(c => if (c == from) to else c)
    val newStatsKeys = head.statsKeys.map(c => if (c == from) to else c)
    val newDdl = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f)).toDDL
    if (head.entries.isEmpty) {
      // an empty table renames metadata-only — there is nothing to
      // rewrite and readSnap would (rightly) refuse the empty read
      commitManifest(spark, dir, head.ver + 1, head.batchId, Nil,
        newDdl, newPartCols, newStatsKeys, head.dvKey,
        base = Some(head), checks = head.checks)
      return head.ver + 1
    }
    val df = readSnap(spark, dir, head).withColumnRenamed(from, to)
    requirePathSafe(df, newPartCols)
    // a rename keeps every partition and its rows: the head's entries,
    // read under the renamed partition columns, are the write's layout
    val est = head.entries.map { e =>
      val pv = partitionValues(e).map { case (c, v) =>
        (if (c == from) to else c) -> v
      }
      (typedPartRow(df.schema, newPartCols, pv),
        e.rows.getOrElse(maxRowsPerTask))
    }
    writeAndCommit(spark, dir, df, newStatsKeys, newPartCols,
      head.batchId, Nil, newDdl, maxRowsPerTask, est, head)
  }

  /** Retention cut: keep the newest `keep` versions' manifests and
    * every data dir any retained manifest references; delete the
    * rest. Time travel below the cut refuses loudly ([[resolve]]'s
    * retained-version check) — the [[graft.streaming.Commits]]
    * retention discipline.
    *
    * IN-FLIGHT protection, two tiers: every writer claims its staged
    * `v=<n>-<token>` tree with an `_inflight.<verDir>` MARKER FILE
    * for the duration of its write+commit (removed in its finally) —
    * the sweep spares marked trees by name, which is store-portable
    * (marker-file mtimes are real on every store, where the
    * directory-mtime fallback below is synthetic on S3-class stores).
    * `graceMs` stays as the fallback tier ([[vacuum]]'s crash-window
    * discipline): a young unreferenced dir is spared even unmarked,
    * and a crashed writer's orphaned MARKER ages out under the same
    * window (its tree becomes sweepable garbage). Referenced data is
    * never age-gated. Pass `graceMs = 0` only when no writer can be
    * in flight. */
  def retainNewest(spark: SparkSession, dir: String, keep: Int,
      graceMs: Long = 3600000L): Unit = {
    require(keep >= 1, s"must retain >= 1 version, got $keep")
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    val fs = fsOf(spark, dir)
    // the manifest-critical section (listing → checkpoint → pointer
    // repair → manifest deletes) serializes with tag() AND with
    // commits through the per-dir monitor: an in-JVM tag can never
    // land between this cut's tag listing and its deletes (the
    // dangling-pin TOCTOU) — tags run strictly before or after
    val lock = commitLocks.computeIfAbsent(lockKey(spark, dir),
      _ => new Object)
    val live: Set[String] = lock.synchronized {
      val vs = versions(spark, dir)
      if (vs.size <= keep) return
      // TAGGED versions and BRANCH FORKS are pinned (the Iceberg-refs
      // contract): the retained set is the newest `keep` plus every
      // tagged version plus every branch's fork (branch delta chains
      // bottom out on the fork's main manifest — cutting it would
      // orphan the whole branch). The listing REPEATS until stable: a
      // cross-process tag/branch landing mid-computation is picked up
      // by the re-list and its version joins the retained set before
      // anything is deleted (bounded rounds — a ref slipping past the
      // final listing is the residual cross-process window the
      // post-claim re-verify turns into a loud self-rollback, never a
      // silent dangling pin).
      def pinned() = tags(spark, dir).values.toSet ++
        branches(spark, dir).values.toSet
      var tagged = pinned()
      var retainedSet = Set.empty[Long]
      // each retained version resolves exactly ONCE into this map —
      // the live-entry set and the checkpoint rewrite both read it
      // (resolving twice costs up to 2×retained×chain manifest reads)
      var resolved = Map.empty[Long, Snap]
      var rounds = 0
      var stable = false
      while (!stable) {
        rounds += 1
        retainedSet = vs.takeRight(keep).toSet ++ tagged.filter(vs.contains)
        if (vs.forall(retainedSet.contains)) return
        val retained = vs.filter(retainedSet.contains)
        resolved = retained.map(v => v -> resolveAt(spark, dir, v)).toMap
        // every retained DELTA manifest whose base is about to be
        // deleted is checkpointed in place first (atomic overwrite
        // swap; the rewritten bytes resolve to identical content, so
        // a concurrent reader is safe either way)
        retained.foreach { v =>
          val s = resolved(v)
          if (s.depth > 0 && !retainedSet.contains(v - 1)) {
            Claims.replace(spark, new Path(dir, s"_snap.$v"),
              fullBody(s.batchId, s.entries, s.schemaDdl, s.partCols,
                s.statsKeys, s.dvKey, s.checks, s.droppedCols))
            resolved += v -> s.copy(depth = 0) // now a checkpoint
          }
        }
        // re-list immediately before the deletes: honor any tag or
        // branch that landed while this cut was checkpointing
        val again = pinned()
        stable = again == tagged || rounds >= 3
        tagged = again
      }
      // the pointer must be CORRECT before any version gap exists:
      // deleting below-cut manifests around a tagged island while the
      // pointer lags inside the island would make headVersion's forward
      // probe stop at the island (gaps above the pointer break its
      // contiguity invariant) and silently resolve an old version as
      // head. STRICT write — a failure here aborts the cut with no gap
      // created, which is always recoverable; a silent island is not.
      writeHeadPointer(spark, dir, vs.max)
      vs.filterNot(retainedSet.contains).foreach(v =>
        fs.delete(new Path(dir, s"_snap.$v"), false))
      // data any BRANCH commit references is live too — staged audit
      // work must survive a main retention cut until the branch drops
      // (branch manifests themselves are never cut: they live outside
      // the `_snap.` namespace this sweep touches, and audit branches
      // are short, so the per-version resolution here is a handful of
      // bounded manifest reads per branch)
      val branchLive = branches(spark, dir).toSeq.flatMap {
        case (b, fork) =>
          (fork + 1 to branchHead(spark, dir, b)).flatMap { v =>
            val s = resolveAt(spark, dir, v, Some(b))
            s.entryPaths ++ s.entries.flatMap(_.dvs)
          }
      }
      resolved.values.flatMap(s =>
        s.entryPaths ++ s.entries.flatMap(_.dvs)).toSet ++
        branchLive // dv sidecars live
    }
    // the DATA sweep runs outside the monitor (it can be slow and
    // touches only unreferenced dirs; a concurrent commit references
    // only live data plus its own fresh staging, which the in-flight
    // markers — and as fallback the grace window — spare)
    val cutoff = System.currentTimeMillis() - graceMs
    // sweep data dirs no retained manifest references: a version dir
    // is spared wholesale when a live `_inflight.<verDir>` marker
    // names it (the store-portable signal — marker FILE mtimes are
    // real everywhere, where the per-dir mtime check below is
    // synthetic on S3-class stores and stays only as belt-and-
    // suspenders); below that, a dir is kept iff its rel path is
    // live, any descendant is, or the tree is younger than the grace
    // window; an emptied version dir goes wholesale (its _SUCCESS
    // marker with it)
    val inflight = inflightDirs(fs, dir, cutoff)
    val dataRoot = new Path(dir, "data")
    if (fs.exists(dataRoot)) {
      def sweep(st: org.apache.hadoop.fs.FileStatus, rel: String)
          : Boolean =
        if (live.contains(rel)) true
        else if (st.getModificationTime > cutoff) true // in-flight?
        else {
          val subdirs = fs.listStatus(st.getPath).filter(_.isDirectory)
          if (subdirs.isEmpty) { fs.delete(st.getPath, true); false }
          else {
            val kept = subdirs.map(d =>
              sweep(d, s"$rel/${d.getPath.getName}"))
            if (!kept.exists(identity)) { fs.delete(st.getPath, true); false }
            else true
          }
        }
      fs.listStatus(dataRoot).filter(_.isDirectory)
        .filterNot(d => inflight.contains(d.getPath.getName))
        .foreach(d => sweep(d, d.getPath.getName))
    }
  }

  /** VACUUM: reclaim data a crash stranded — a writer that died
    * between its data write and its manifest commit leaves a fully-
    * written `data/v=<n>-<token>/` tree (and possibly a claim tmp) that
    * NO manifest references and [[retainNewest]]'s live-reference
    * sweep (which only runs below the retention cut) never touches.
    * Orphanhood is decided at the whole-version granularity — every
    * committed write produces exactly the dirs its manifest names, so
    * a version dir is either referenced by some manifest or a crash
    * remnant. The grace window is the same crash-window discipline as
    * [[graft.streaming.Commits]]' grace-deferred cleanup: a tree
    * younger than `graceMs` is spared, so an IN-FLIGHT commit's dir
    * (written, manifest rename microseconds away) survives its own
    * vacuum. Safe to run any time; referenced data is never touched. */
  def vacuum(spark: SparkSession, dir: String,
      graceMs: Long = 3600000L): Unit = {
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) return
    val vs = versions(spark, dir)
    val bs = branches(spark, dir)
    // a version dir is live when ANY main or branch manifest
    // references it — staged audit work is not a crash remnant
    val liveVers = (vs.map(v => () => resolve(spark, dir, Some(v))) ++
      bs.toSeq.flatMap { case (b, fork) =>
        (fork + 1 to branchHead(spark, dir, b)).map(v =>
          () => resolveAt(spark, dir, v, Some(b)))
      }).flatMap { r =>
      val s = r()
      (s.entryPaths ++ s.entries.flatMap(_.dvs))
        .map(p => p.substring(0, p.indexOf('/')))
    }.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    // stale claim tmps from a crashed commit (rename never ran), plus
    // ORPHANED branch manifests — a commit that raced its own branch's
    // drop claimed a `_bsnap.` file no `_branch.` pointer names,
    // unresolvable forever
    fs.listStatus(root)
      .filter { st =>
        val n = st.getPath.getName
        val staleTmp = Claims.stagedFor(n).isDefined
        val orphanBsnap = n.startsWith("_bsnap.") && !staleTmp &&
          !bs.contains(n.stripPrefix("_bsnap.").reverse.dropWhile(_ != '.')
            .drop(1).reverse)
        (staleTmp || orphanBsnap) && st.getModificationTime <= cutoff
      }
      .foreach(st => fs.delete(st.getPath, false))
    // live in-flight markers spare their staged trees by NAME (the
    // store-portable signal); stale markers — dead writers' residue —
    // sweep here along with the .tmp files
    val inflight = inflightDirs(fs, dir, cutoff, sweepStale = true)
    val dataRoot = new Path(dir, "data")
    if (!fs.exists(dataRoot)) return
    fs.listStatus(dataRoot).filter(_.isDirectory).foreach { st =>
      val name = st.getPath.getName
      if (!liveVers.contains(name) && !inflight.contains(name) &&
        st.getModificationTime <= cutoff)
        fs.delete(st.getPath, true)
    }
  }
}
