package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.ext.LocalCheckpoint
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The one cut primitive: [[LocalCheckpoint]]'s scoped forms release
  * their cut however the body ends, the counted form takes its count
  * in the cut's own job, and the lazy form costs nothing — no job, no
  * SQL execution — until a consumer reads it. */
class CutSpec extends SparkSpec {

  /** A plan with no exchange: building its physical RDD runs nothing. */
  private def frame: DataFrame =
    spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).as("k"))

  /** Query executions finished (or failed) while `body` ran, as the
    * session's listeners see them. */
  private def executionsDuring(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        n.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        n.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ColumnBridge.drainListenerBus(spark.sparkContext)
      n.get
    } finally spark.listenerManager.unregister(listener)
  }

  private def persisted(ids: Seq[Int]): Seq[Int] =
    ids.filter(spark.sparkContext.getPersistentRDDs.contains)

  private def cachedPartitions(ids: Seq[Int]): Int =
    spark.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id)).map(_.numCachedPartitions).sum

  test("a lazy cut runs no job and fires no query listener until its " +
      "first consumer, which fills it") {
    // control: Dataset's own lazy localCheckpoint is an SQL action
    var control: DataFrame = null
    assert(executionsDuring {
      control = frame.localCheckpoint(eager = false)
    } == 1)
    LocalCheckpoint.release(control)
    assert(jobsStartedDuring(
      LocalCheckpoint.lazily(frame)(_ => ())).isEmpty)
    assert(executionsDuring(LocalCheckpoint.lazily(frame)(_ => ())) == 0)
    var ids = Seq.empty[Int]
    var rows = -1L
    val events = executionsDuring(LocalCheckpoint.lazily(frame) { cut =>
      ids = ColumnBridge.checkpointRddIds(cut)
      assert(ids.nonEmpty && cachedPartitions(ids) == 0, "nothing ran yet")
      rows = cut.count()
      assert(cachedPartitions(ids) == 4, "the first consumer fills the cut")
      assert(cut.filter(col("k") === 0).count() == 143L)
    })
    assert(rows == 1000L)
    assert(events == 2, "only the two consumers are SQL executions")
    assert(persisted(ids).isEmpty, "released after the body")
  }

  test("a lazy cut keeps the origin plan's size estimate") {
    val origin = spark.range(0, 5000, 1, 4)
      .filter(col("id") % 3 === 0).select(col("id"), lit("x").as("s"))
    val size = origin.queryExecution.optimizedPlan.stats.sizeInBytes
    LocalCheckpoint.lazily(origin) { cut =>
      assert(cut.queryExecution.optimizedPlan.stats.sizeInBytes == size)
      assert(cut.count() == 1667L)
    }
  }

  test("within, counted and lazily release the cut when the body " +
      "throws") {
    def released(scope: (DataFrame => Unit) => Unit): Unit = {
      var ids = Seq.empty[Int]
      val e = intercept[IllegalStateException](scope { cut =>
        cut.count()
        ids = ColumnBridge.checkpointRddIds(cut)
        assert(ids.nonEmpty && persisted(ids) == ids)
        throw new IllegalStateException("body failed")
      })
      assert(e.getMessage == "body failed")
      assert(persisted(ids).isEmpty, s"cut RDDs $ids still persisted")
    }
    released(body => LocalCheckpoint.within(frame)(body))
    released(body => LocalCheckpoint.counted(frame)((c, _) => body(c)))
    released(body => LocalCheckpoint.lazily(frame)(body))
  }

  test("counted reports the cut's row count from the cut's one job") {
    var n = -1L
    val jobs = jobsStartedDuring(LocalCheckpoint.counted(
        frame.filter(col("k") === 3)) { (_, rows) =>
      n = rows
    })
    assert(n == 143L)
    assert(jobs.size == 1, s"the cut's job takes the count: $jobs")
    var empty = -1L
    assert(jobsStartedDuring(LocalCheckpoint.counted(
      frame.filter(col("k") > 7)) { (_, rows) => empty = rows }).size == 1)
    assert(empty == 0L)
  }

  test("src/main cuts only through ext/Cut.scala and the bridge") {
    import scala.jdk.CollectionConverters._
    val allowed = Set("Cut.scala", "ColumnBridge.scala")
    val stray = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !allowed(p.getFileName.toString))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".localCheckpoint(") ||
              line.contains("unpersistLocalCheckpoint") =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(stray.isEmpty, stray.mkString("\n"))
  }
}
