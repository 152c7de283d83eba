package graft.ext

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Lineage-cut strategy for iterative and multi-consumer stages — the
  * engine's one way of cutting a frame, the counterpart of the
  * reference job's one driver-side frame per table delta
  * (gluejob.py:264-280). A site that holds a cut for the length of one
  * call uses [[LocalCheckpoint]]'s scoped forms, which release the cut
  * when their body ends.
  *
  * [[LocalCheckpoint]] stores blocks on the executors: fastest (no
  * filesystem round-trip) but any executor loss kills the whole job
  * mid-iteration — fine for short jobs and bench runs. For a long
  * 100 TB clustering run use [[ReliableCheckpoint]]: blocks go to the
  * SparkContext checkpoint dir (HDFS / object store), so lost executors
  * recompute nothing — the run survives. Caller must
  * `sc.setCheckpointDir` first in that mode.
  */
trait Checkpointer {
  def cut(df: DataFrame): DataFrame
  /** Whether [[cutState]] runs an ACTION (materializes eagerly) — the
    * precondition for fusing per-round loop-control aggregates into
    * the cut's own job via `observe` (an Observation's get() blocks
    * until an action computes it; under a lazy barrier it would block
    * forever, so callers fall back to a separate aggregate). */
  def eager: Boolean = true
  /** Drop a superseded cut's storage (iterations would otherwise pin
    * executor memory for the rest of the job). */
  def release(df: DataFrame): Unit
  /** Cut a FROZEN, multiply-referenced input (an iterative job's edge
    * list / node set / degree table), laid out by `keys` — the columns
    * every downstream join/agg keys on — so consumers inherit the
    * exchange's hash layout instead of re-shuffling. Checkpointers
    * materialize as usual; a lineage barrier repartitions by `keys`
    * only (a full-row repartition on top of a keyed aggregate would be
    * a second, redundant shuffle of the same rows). */
  def cutShared(df: DataFrame, keys: Seq[String]): DataFrame = cut(df)
  /** Cut PER-ITERATION state (referenced exactly once by the next
    * round). Checkpointers must truncate here or round k replays
    * rounds 1..k−1 across separate actions; a lineage barrier inside
    * one lazily-composed plan can skip it entirely — a single-consumer
    * subtree executes once per action regardless, and the extra
    * exchange would just re-shuffle the state table every round. */
  def cutState(df: DataFrame): DataFrame = cut(df)
}
case object LocalCheckpoint extends Checkpointer {
  def cut(df: DataFrame): DataFrame = df.localCheckpoint()
  def release(df: DataFrame): Unit =
    ColumnBridge.unpersistLocalCheckpoint(df)

  /** `body` over an eager cut of `df`, released when `body` returns
    * or throws — for a frame read by several consumers within one
    * call. */
  def within[A](df: DataFrame)(body: DataFrame => A): A = {
    val c = cut(df)
    try body(c) finally release(c)
  }

  /** [[within]] with the cut's row count, taken by an `observe` on the
    * cut's own job — emptiness costs no job of its own. */
  def counted[A](df: DataFrame)(body: (DataFrame, Long) => A): A = {
    val rows = new Observation()
    within(df.observe(rows, count(lit(1)).as("n")))(c =>
      body(c, rows.get("n").asInstanceOf[Long]))
  }

  /** `body` over a LAZY cut of `df`, released when `body` returns or
    * throws: the first job that reads the cut fills its blocks, later
    * ones read them. Building it runs no job and opens no SQL
    * execution ([[ColumnBridge.lazyLocalCheckpoint]]). */
  def lazily[A](df: DataFrame)(body: DataFrame => A): A = {
    val c = ColumnBridge.lazyLocalCheckpoint(df)
    try body(c) finally release(c)
  }

  /** Keyed layout, DECLARED (round 20): an AQE-era localCheckpoint
    * surfaces UnknownPartitioning, so a frozen input cut once and
    * joined every round re-shuffled PER ROUND regardless of its real
    * layout. The keyed cut pins the layout with one explicit-count
    * repartition (never AQE-coalesced) and re-declares it on the
    * checkpoint's LogicalRDD, trading one setup exchange for the
    * per-round ones ([[ColumnBridge.localCheckpointKeyed]]). */
  override def cutShared(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) cut(df)
    else ColumnBridge.localCheckpointKeyed(df, keys,
      df.sparkSession.sessionState.conf.numShufflePartitions)
}
case object ReliableCheckpoint extends Checkpointer {
  def cut(df: DataFrame): DataFrame = df.checkpoint()
  /** Checkpoint files belong to the context — reclaimed by
    * `spark.cleaner.referenceTracking.cleanCheckpoints` (or the job's
    * teardown), never while a consumer may still read them. */
  def release(df: DataFrame): Unit = ()
}
/** Lineage BARRIER for lazily-returned compositions: `cut` is a
  * hash-repartition exchange (on every column — deterministic, no
  * sort-before-repartition pass) instead of a checkpoint, so nothing
  * is ever pinned in block storage — intermediate state lives in
  * shuffle files the ContextCleaner reclaims, and ReuseExchange
  * serves multi-consumer reads from the single exchange write. The
  * tradeoff: lineage depth grows with rounds (an executor loss
  * replays upstream rounds from the surviving shuffle outputs), so
  * use it where a catalog query COMPOSES a small fixed number of
  * iterations into a lazily-returned DataFrame — a cut there could
  * never be released and would pin blocks for the session's lifetime
  * (the round-6 bench stall). Long-running iterative jobs that
  * execute eagerly keep [[LocalCheckpoint]] / [[ReliableCheckpoint]]. */
case object ShuffleBarrier extends Checkpointer {
  def cut(df: DataFrame): DataFrame =
    df.repartition(df.columns.map(col): _*)
  def release(df: DataFrame): Unit = ()
  override def eager: Boolean = false
  /** Keyed layout: one exchange on exactly the columns downstream
    * joins/aggs need — ReuseExchange serves every consumer from it and
    * nobody re-shuffles. */
  override def cutShared(df: DataFrame, keys: Seq[String]): DataFrame =
    df.repartition(keys.map(col): _*)
  /** Identity: within one lazily-composed plan the per-round state is
    * single-consumer, so it executes once per action with or without a
    * barrier — the round's own join/agg exchanges are the natural
    * stage boundaries, and an extra repartition would re-shuffle the
    * full state table every round for nothing. */
  override def cutState(df: DataFrame): DataFrame = df
}
