package graft.flowbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Traced-mode collector, driven entirely through Spark's public
  * listener APIs on the session the benchmark builds: a SparkListener
  * for jobs, stages and tasks, a QueryExecutionListener for actions
  * and their planning phases, and a StreamingQueryListener for
  * micro-batch progress. Everything is kept in memory and read out
  * when the run ends.
  *
  * Attribution: a job belongs to the innermost `graft.` frame of its
  * call site that lies outside this package — taken from the job's
  * stages, or, for jobs Spark launches on its own threads, from the
  * SQL execution the job carries. A job with no such frame (an action
  * the benchmark itself calls on a frame the engine returned) falls
  * back to the layer of the benchmark span it ran in; a job outside
  * every span is unattributed. Jobs the benchmark runs for its own
  * output checks carry the [[Tracer.CheckGroup]] job group and are
  * left out. */
final class Tracer(spark: SparkSession) {

  import Tracer._

  final class JobRec(val start: Long, val module: String, val span: String) {
    var end: Long = -1L
  }

  final class StageAgg {
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shW = 0L; var shR = 0L; var spill = 0L; var written = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }

  private val lock = new Object
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val jobById = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.Map[Int, StageAgg]()
  private val sqlDetails = mutable.Map[Long, String]()
  /** Actions seen: (function name, planning ms, plan text). */
  val actions = mutable.ArrayBuffer[(String, Double, String)]()
  /** Descriptions of the SQL executions started (the action's short
    * call site unless a job description was set). */
  val sqlStarts = mutable.ArrayBuffer[String]()
  /** Streaming progress: `durationMs` maps, one per micro-batch. */
  val progress = mutable.ArrayBuffer[Map[String, Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(p => p.getProperty("spark.jobGroup.id") == CheckGroup)) return
      val stageDetails = e.stageInfos.sortBy(-_.stageId).map(_.details)
      val sqlId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption)
      lock.synchronized {
        val layer = props.flatMap(p => Option(p.getProperty(LayerProp)))
        val mod = (stageDetails ++ sqlId.flatMap(sqlDetails.get))
          .map(moduleOf).find(_ != Unattributed)
          .orElse(layer).getOrElse(Unattributed)
        val span = props.flatMap(p => Option(p.getProperty(SpanProp))).getOrElse("")
        val r = new JobRec(e.time, mod, span)
        jobs += r; jobById(e.jobId) = r
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobById.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      lock.synchronized {
        if (!stageJob.contains(e.stageId)) return
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.written += m.outputMetrics.bytesWritten
        a.taskMs += m.executorRunTime
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        sqlDetails(s.executionId) = s.details
        sqlStarts += s.description
      }
      case _ =>
    }
  }

  /** Near-duplicate pair joins seen in `localCheckpoint` actions (the
    * cut the cluster stage puts on its pair edges): (candidate pairs,
    * verified pairs). Candidates are the rows out of the distinct
    * (doc_a, doc_b) aggregate; verified pairs the rows that pass the
    * Jaccard predicate, whether it runs as a filter or as a join
    * condition. The pair plan appears twice in the edge union, so each
    * count is the least over its copies. */
  private val jaccard = mutable.ArrayBuffer[(Long, Long)]()
  def jaccardPairs: (Long, Long) = lock.synchronized {
    (jaccard.map(_._1).sum, jaccard.map(_._2).sum)
  }

  private def pairCounts(plan: SparkPlan): Option[(Long, Long)] = {
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value)
    def isJaccard(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.toString.toLowerCase.contains("jaccard")
    val cand = PlanWalk.collect(plan) {
      case a: HashAggregateExec if a.aggregateExpressions.isEmpty &&
          a.groupingExpressions.map(_.name) == Seq("doc_a", "doc_b") => rows(a)
    }.flatten
    val verified = PlanWalk.collect(plan) {
      case f: FilterExec if isJaccard(f.condition) => rows(f)
      case j: BaseJoinExec if j.condition.exists(isJaccard) => rows(j)
    }.flatten
    if (cand.isEmpty || verified.isEmpty) None else Some((cand.min, verified.min))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      val exec = try Some(qe.executedPlan) catch { case _: Exception => None }
      val pairs = exec.filter(_ => funcName == "localCheckpoint").flatMap(pairCounts)
      lock.synchronized {
        actions += ((funcName, planMs, exec.map(_.toString).getOrElse("")))
        pairs.foreach(jaccard += _)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import scala.jdk.CollectionConverters._
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      lock.synchronized { progress += d }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event posted so far has been delivered, then
    * stop listening. */
  def detach(): Unit = {
    org.apache.spark.flowbench.BusBridge.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Per-job module, finished jobs only. */
  def finishedJobs: Seq[JobRec] = lock.synchronized(jobs.filter(_.end >= 0).toSeq)

  /** Sum of a stage aggregate over the stages of one module's jobs
    * (every stage counted once, under the last job that ran it). */
  def moduleSum(f: StageAgg => Long): Map[String, Long] = lock.synchronized {
    stages.toSeq.groupBy { case (s, _) =>
      jobById.get(stageJob(s)).map(_.module).getOrElse(Unattributed)
    }.map { case (m, ss) => m -> ss.map(x => f(x._2)).sum }
  }

  def total(f: StageAgg => Long): Long = lock.synchronized(stages.values.map(f).sum)

  /** Union of job intervals, in ms. */
  def jobBusyMs: Double = {
    val iv = finishedJobs.map(j => (j.start, j.end)).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy.toDouble
  }

  /** Worst stage's max/median task time, over stages with at least
    * four tasks (1.0 when no stage qualifies). */
  def taskSkew: Double = lock.synchronized {
    val ratios = stages.values.filter(_.taskMs.size >= 4).map { a =>
      val med = Stats.median(a.taskMs.map(_.toDouble).toSeq)
      a.taskMs.max.toDouble / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Plan traversal that descends into adaptive plans and query stages. */
private object PlanWalk extends AdaptiveSparkPlanHelper

object Tracer {
  val CheckGroup = "flowbench-check"
  /** Local properties the benchmark's spans set on the driver thread;
    * jobs inherit them. */
  val LayerProp = "flowbench.layer"
  val SpanProp = "flowbench.span"
  val Unattributed = "unattributed"

  /** The modules a job can be attributed to. */
  val Modules: Seq[String] = Seq("pipeline", "sources", "ops.upsert",
    "ops.snapshot", "streaming", "ext.dedup", "ext.similarity", "ext.text",
    Unattributed)

  private val Frame = """^\s*(?:at\s+)?(graft\.[\w.$]+)\.[^.(]+\(""".r

  /** Module of the innermost `graft.` frame outside this package. */
  def moduleOf(callSite: String): String =
    Option(callSite).toSeq.flatMap(_.split("\n")).iterator
      .flatMap(l => Frame.findFirstMatchIn(l).map(_.group(1)))
      .find(c => !c.startsWith("graft.flowbench."))
      .map(classModule).getOrElse(Unattributed)

  def classModule(cls: String): String = {
    val c = cls.takeWhile(_ != '$')
    if (c.startsWith("graft.pipeline.")) "pipeline"
    else if (c.startsWith("graft.sources.")) "sources"
    else if (c == "graft.ops.SnapshotTable") "ops.snapshot"
    else if (c.startsWith("graft.ops.")) "ops.upsert"
    else if (c.startsWith("graft.streaming.")) "streaming"
    else if (c == "graft.ext.Dedup") "ext.dedup"
    else if (c == "graft.ext.Similarity" || c.startsWith("graft.plans.")) "ext.similarity"
    else if (c == "graft.ext.TextAnalysis") "ext.text"
    else Unattributed
  }
}
