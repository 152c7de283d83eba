package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark 4's private[sql] Column<->Expression conversion
  * (org.apache.spark.sql.classic.ExpressionUtils). Spark 4 wraps
  * Columns in ColumnNodes; building a Column from a custom Catalyst
  * Expression requires this hop, which upstream keeps private[sql] —
  * hence this shim living under the org.apache.spark.sql package. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw LogicalPlan (Dataset.ofRows is
    * private[sql] in Spark 4) — needed to expose custom logical
    * operators through the public DataFrame API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Free the storage blocks behind a `localCheckpoint()`ed Dataset.
    * `Dataset.unpersist` only talks to the CacheManager; checkpoint
    * blocks are RDD-level persists reachable only through the plan's
    * LogicalRDD leaf. Without this, iterative algorithms pin every
    * superseded iteration in executor storage memory until GC happens
    * to collect the Dataset (ContextCleaner is async + GC-driven). */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        unpersist(l.rdd, blocking = false)
      case _ =>
    }

  /** Unpersist `rdd`. A locally checkpointed RDD is freed through
    * `SparkContext.unpersistRDD` (private[spark]) directly:
    * `RDD.unpersist` would log a "lineage has been truncated" WARN for
    * it on every call, burying real failure lines under releases made
    * on purpose. */
  def unpersist(rdd: org.apache.spark.rdd.RDD[_],
      blocking: Boolean): Unit =
    // `RDD.isLocallyCheckpointed` is private[rdd]; this is its body
    if (rdd.checkpointData.exists(
        _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking)

  /** An executor-shippable whole-file reader over the SESSION's
    * Hadoop configuration — the bridge here is
    * `org.apache.spark.util.SerializableConfiguration`, which
    * upstream keeps private[spark]: without it a task-side
    * `FileSystem.get` would fall back to a DEFAULT Configuration and
    * silently drop the session's filesystem settings (credentials,
    * object-store endpoints — exactly what differs on a real
    * cluster). The returned function is serializable (it captures
    * only the wrapped conf) and resolves the FileSystem per call from
    * the path's scheme; Hadoop's FileSystem cache makes that a map
    * lookup after the first call per (scheme, authority). Loud on
    * files over 2 GiB — a single media payload that size is a
    * corrupt-archive signal, not a read to attempt into one array. */
  def fileBytesReader(spark: org.apache.spark.sql.SparkSession)
      : String => Array[Byte] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    (path: String) => {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf.value)
      val len = fs.getFileStatus(p).getLen
      require(len <= Int.MaxValue,
        s"file $path is $len bytes — exceeds the 2 GiB single-payload bound")
      val buf = new Array[Byte](len.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      buf
    }
  }

  /** Re-tag a (lazily planned) batch DataFrame as a STREAMING one —
    * what a V1 [[org.apache.spark.sql.execution.streaming.Source]]'s
    * `getBatch` must hand MicroBatchExecution (it asserts
    * `isStreaming`), and exactly how Spark's own FileStreamSource
    * builds its batches: `internalCreateDataFrame(rdd, schema,
    * isStreaming = true)`, which upstream keeps private[sql] — hence
    * the bridge. The RDD is the frame's compiled plan, still lazy (no
    * job runs here). */
  def asStreamingFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** A LAZY local checkpoint of `df`: its compiled RDD, marked for a
    * local checkpoint, under a LogicalRDD that carries the origin
    * plan's stats and constraints — what `Dataset.localCheckpoint(
    * eager = false)` builds, made without its `withAction`, so no SQL
    * execution opens, no query listener fires and no job runs here.
    * The first job that reads the result fills its blocks. The RDD is
    * the plan compiled once, so a stream sink's per-batch frame
    * detaches from its IncrementalExecution through it too. */
  def lazyLocalCheckpoint(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val rdd = ds.queryExecution.executedPlan.execute().map(_.copy())
    rdd.localCheckpoint()
    ofRows(ds.sparkSession, org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, ds, isStreaming = false))
  }

  /** A KEYED localCheckpoint: lay `df` out by `keys` (an explicit
    * `repartition(n, keys)` — explicit-count repartitions are the one
    * shuffle AQE never coalesces, so the materialized blocks are
    * EXACTLY `HashPartitioning(keys, n)`), checkpoint, and rebuild
    * the resulting LogicalRDD with that partitioning DECLARED.
    *
    * Why the declaration is needed at all: under AQE,
    * `Dataset.localCheckpoint` captures the adaptive plan's
    * outputPartitioning, which is `UnknownPartitioning` before
    * execution finalizes — so every downstream join/aggregate on the
    * cut RE-SHUFFLES it (measured: a keyed cut consumed by a same-key
    * aggregate still plans an ENSURE_REQUIREMENTS exchange). An
    * iterative job that cuts its frozen inputs once and joins them
    * every round pays that exchange per round; with the layout
    * declared, EnsureRequirements sees the cut already satisfies the
    * join's distribution and only the non-cut side exchanges.
    *
    * The declaration is TRUE by construction — the checkpoint
    * materializes the explicit repartition's reducer partitions 1:1
    * and nothing between the exchange and the blocks reorders rows
    * across partitions. Stats and constraints carry from the plain
    * checkpoint's own LogicalRDD, so join-strategy estimates are
    * unchanged. */
  def localCheckpointKeyed(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], n: Int): org.apache.spark.sql.DataFrame = {
    require(keys.nonEmpty && n >= 1)
    val cut = df.repartition(n, keys.map(df.col): _*).localCheckpoint()
    cut.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val attrs = keys.map(k => l.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"keyed checkpoint: no column '$k' in ${l.output}")))
        val hp = org.apache.spark.sql.catalyst.plans.physical
          .HashPartitioning(attrs, n)
        val spark = df.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        ofRows(spark, new org.apache.spark.sql.execution.LogicalRDD(
          l.output, l.rdd, hp, l.outputOrdering, l.isStreaming,
          l.stream)(spark, Some(l.computeStats()), Some(l.constraints)))
      case _ => cut // not a plain checkpoint leaf — keep it undeclared
    }
  }

  /** The RDD ids backing a checkpointed Dataset's LogicalRDD leaves —
    * lets a harness-level storage sweep EXEMPT frames a live memo
    * still references (ripping their blocks out produces
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the next replay; the
    * pre-blocking sweep only ever won that race by accident). */
  def checkpointRddIds(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }

  /** Block until every event posted so far has reached every
    * listener — how a caller reads a listener's tally of the jobs it
    * just ran without sleeping on the asynchronous bus.
    * `SparkContext.listenerBus` is private[spark]. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A copy of the calling thread's SparkContext local properties
    * (job group and tags, description, scheduler pool, SQL execution
    * ids). `SparkContext.getLocalProperties` is private[spark]. */
  def localProperties(sc: org.apache.spark.SparkContext)
      : java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** Run `body` on this thread under a copy of `props` — how a job
    * launched from a pooled driver thread carries the submitting
    * thread's properties (a pooled thread keeps whatever it inherited
    * when it was created); this thread's own are restored after. */
  def withLocalProperties[A](sc: org.apache.spark.SparkContext,
      props: java.util.Properties)(body: => A): A = {
    val saved = sc.getLocalProperties
    sc.setLocalProperties(org.apache.spark.util.Utils.cloneProperties(props))
    try body finally sc.setLocalProperties(saved)
  }
}
