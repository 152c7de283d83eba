package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The engine's one session definition. Every main and the spec base
  * build their session here, so a conf the catalog depends on (UTC,
  * AQE, the graft extensions, nanos-as-long for a TIMESTAMP(NANOS)
  * events fixture) cannot differ between the run that measures a
  * query, the run that dumps its rows and the spec that pins it. */
object Session {

  /** Cores of the local session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The shared SQL confs over a caller-chosen master and shuffle
    * width — the deployment entry point keeps both from its config
    * file. */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // a TIMESTAMP(NANOS) events fixture is readable only as long; no-op
      // for micros fixtures (Normalize.epochNanos adapts either way)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** A `local[cores]` session, one shuffle partition per core, UI off. */
  def local(cores: Int = cpus): SparkSession =
    builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The between-query sweep of a multi-query JVM: one query's storage
    * (cached tables, stray localCheckpoint blocks) and temp views must
    * not ride into the next — round 6's bench recorded a ~70-80s stall
    * on whichever cut-heavy query ran under the accumulated pressure.
    * Unpersist is blocking: a fire-and-forget unpersist queues block
    * removals the NEXT checkpoint-heavy query then contends with (q51's
    * recorded 3-18s swings on identical code track exactly this). The
    * checkpoints a live [[graft.ext.FrameMemo]] entry still references
    * are exempt: swept, they replay as CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. */
  def hygiene(spark: SparkSession): Unit =
    try {
      spark.catalog.clearCache()
      val memoKeep = graft.ext.FrameMemo.liveRddIds
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .filter(r => !memoKeep.contains(r.id))
        .foreach(ColumnBridge.unpersist(_, blocking = true))
      spark.sessionState.catalog.getTempViewNames()
        .foreach(spark.catalog.dropTempView)
    } catch { case NonFatal(e) =>
      System.err.println(s"[session] hygiene sweep failed: $e")
    }
}
