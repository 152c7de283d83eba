package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local session per JVM, built by
  * [[Session.local]] at 4 cores — the confs the mains run under. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** events fixture with `ts` replaced by an epoch-microsecond LONG
    * `ts_us`, whatever timestamp encoding the fixture generation used
    * (TIMESTAMP(NANOS)→long nanos, TIMESTAMP(MICROS,ntz)→NTZ). */
  def eventsUs(path: String): org.apache.spark.sql.DataFrame = {
    val raw = spark.read.parquet(path)
    raw.withColumn("ts_us", graft.ops.Normalize.epochMicros(raw, "ts"))
      .drop("ts")
  }

  /** Ids of the jobs started while `body` ran, its pooled driver
    * threads' jobs included. Job starts reach a listener in order, so
    * once a fence job started after `body` is seen, every earlier
    * start has been. The status store is fenced too: the fence job
    * shows as succeeded there only after every earlier job event. */
  def jobsStartedDuring(body: => Unit): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val fence = s"fence-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    @volatile var fenced = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == fence)) fenced = true
        else if (!fenced) seen.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(fence, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def settled = fenced && sc.statusTracker.getJobIdsForGroup(fence)
        .exists(id => sc.statusTracker.getJobInfo(id).exists(
          _.status == org.apache.spark.JobExecutionStatus.SUCCEEDED))
      while (!settled && System.nanoTime() < deadline) Thread.sleep(10)
      assert(settled, "listener fence never arrived")
      seen.asScala.map(_.intValue).toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** A snapshot-table entry path without its staging token —
    * `v=3-ab12/__gp_p=1` → `v=3/__gp_p=1` — so a spec can name the
    * entries a version's commit wrote without knowing its token. */
  def untokened(entryPath: String): String =
    s"v=${graft.ops.SnapshotTable.versionOf(entryPath)}" +
      entryPath.dropWhile(_ != '/')

  /** The staged dirs under `tbl/data` whose writer targeted version
    * `ver` — one per attempt that reached its write (a refused or
    * losing attempt's staging included). */
  def versionDirs(tbl: String, ver: Long): Seq[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(tbl, "data")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => graft.ops.SnapshotTable.versionOf(p.getName) == ver)
  }

  /** The one staged dir of version `ver` (loud when there is not
    * exactly one). */
  def versionDir(tbl: String, ver: Long): org.apache.hadoop.fs.Path = {
    val ds = versionDirs(tbl, ver)
    assert(ds.size == 1, s"expected one v=$ver dir under $tbl/data: $ds")
    ds.head
  }

  /** Run `loser` with a winner's commit deterministically interleaved
    * into the window between the loser's merge computation and its
    * version claim (the onBeforeCommit seam — self-clearing so the
    * winner's own nested commit does not recurse). */
  def withInterleavedWinner[T](winner: => Unit)(loser: => T): T = {
    graft.ops.SnapshotTable.onBeforeCommit = () => {
      graft.ops.SnapshotTable.onBeforeCommit = () => ()
      winner
    }
    try loser
    finally graft.ops.SnapshotTable.onBeforeCommit = () => ()
  }

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("user.dir"), "target"), prefix)
    d.toString
  }
}
