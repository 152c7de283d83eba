package graft.ext

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame

/** Per-session memo for deterministic DISTRIBUTED intermediates —
  * the [[TrainMemo]] idea for results that are corpus-derived frames
  * rather than driver-bounded lists (duplicate-span tables, stored
  * index fragments): the q188/q189 pair derives the same ExactSubstr
  * span table twice per catalog run because each query is
  * self-contained, and the spans must NEVER ride the driver (their
  * cardinality scales with corpus duplication, not with a
  * hyper-parameter).
  *
  * So the cached value is an eager [[LocalCheckpoint.cut]] — the
  * engine's one cut primitive, unscoped here because the entry
  * outlives the call — materialized once in executor block storage,
  * replayed by reference on every hit; [[clear]] frees each entry
  * with [[LocalCheckpoint.release]]. This is session-level result
  * reuse (Incremental Based Framework for Efficient Top-K Similarity
  * Search in Interactive Data Analysis Sessions, EDBT 2020). Unlike
  * [[TrainMemo]] the entry is bound to its SparkSession (a
  * checkpoint does not survive session teardown), so the key adds
  * session identity. Same soundness contract as TrainMemo: inputs
  * immutable for the life of the session — a corpus-rewriting
  * service must clear between generations.
  *
  * Storage discipline: cache ONLY frames that are small relative to
  * their input by construction (spans, merge tables, per-key
  * summaries) — memoizing a corpus-sized frame would pin the corpus
  * in block storage for the session. */
object FrameMemo {

  private val cache =
    new ConcurrentHashMap[(String, Any, Int), DataFrame]()

  /** Distinct computations actually run (specs pin once-per-input). */
  private[graft] val computes = new AtomicInteger(0)

  private[graft] def size: Int = cache.size

  /** RDD ids of every live cached checkpoint — the between-query
    * sweep ([[graft.Session.hygiene]]) must exempt these:
    * a memoized frame whose blocks are swept replays as
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Bounded by the memo's own
    * storage contract (small-relative-to-input frames only). */
  def liveRddIds: Set[Int] = {
    val b = Set.newBuilder[Int]
    cache.values().forEach { df =>
      try b ++= org.apache.spark.sql.graftbridge.ColumnBridge
        .checkpointRddIds(df)
      catch { case _: Exception => () }
    }
    b.result()
  }

  /** Unpersist every cached checkpoint and forget it. */
  def clear(): Unit = {
    cache.values().forEach { df =>
      try LocalCheckpoint.release(df)
      catch { case _: Exception => () } // session already stopped
    }
    cache.clear()
  }

  /** The memoized frame for (`params`, `input`'s canonicalized plan,
    * `input`'s session): on miss, runs the derivation and cuts it
    * with [[LocalCheckpoint.cut]]; on hit, returns the materialized
    * frame — zero cluster work. */
  def cached(params: String, input: DataFrame)
      (run: => DataFrame): DataFrame = {
    val key = (params, input.queryExecution.analyzed.canonicalized,
      System.identityHashCode(input.sparkSession))
    cache.computeIfAbsent(key, _ => {
      computes.incrementAndGet()
      LocalCheckpoint.cut(run)
    })
  }
}
