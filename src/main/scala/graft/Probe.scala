package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The dev probe: time catalog queries and attribute their walls to
  * jobs and stages. Each query runs cold, then warm, on each dir, and
  * each run prints one JSON line: rows, wall, jobs, stages, summed
  * executor run time and the stages that ran longest. A stage whose
  * summed run time is a multiple of its standalone cost is the
  * signature of a subtree re-executed per consumer; a heavy stage with
  * few tasks is parallelism bound by source-file count. Two dirs (e.g.
  * sf0.1 and a [[ScaleFixture]] set) give a scaling ratio per query;
  * read it from the warm rows, since the first cold run of a session
  * also pays its one-time init (codegen, executor pool). `--plans`
  * also writes each query's formatted plan, built on the first dir
  * (building a query's frame runs its side effects, so plan dumps run
  * at a small SF).
  *
  * Usage: Probe <q,…|all> [--dir D[,D2]] [--plans OUT] */
object Probe {

  /** Stages listed per run, longest summed run time first. */
  private val TopStages = 5

  private final class Recorder extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[StageInfo]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
  }

  /** Run `name` cold then warm on each of `dirs`, print one JSON line
    * per run, and return the lines. With `plans`, write the formatted
    * plan of the first run to `<plans>/<name>.txt`. */
  def probe(spark: SparkSession, name: String, dirs: Seq[String],
      plans: Option[String] = None): Seq[String] = {
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    for ((dir, i) <- dirs.zipWithIndex; pass <- Seq("cold", "warm")) yield {
      val rec = new Recorder
      sc.addSparkListener(rec)
      val t0 = System.nanoTime()
      val (rows, wall) =
        try {
          val df = fn(spark, dir)
          val n = df.count()
          val wall = (System.nanoTime() - t0) / 1e9
          for (out <- plans if i == 0 && pass == "cold") {
            Files.createDirectories(Paths.get(out))
            Files.write(Paths.get(out, s"$name.txt"),
              df.queryExecution.explainString(FormattedMode)
                .getBytes(StandardCharsets.UTF_8))
          }
          ColumnBridge.drainListenerBus(sc)
          (n, wall)
        } finally {
          sc.removeSparkListener(rec)
          Session.hygiene(spark)
        }
      val stages = rec.stages.asScala.toSeq
      def runS(si: StageInfo): Double = si.taskMetrics.executorRunTime / 1e3
      val top = stages.sortBy(si => -runS(si)).take(TopStages).map { si =>
        val stageWall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        s"""{"id":${si.stageId},"tasks":${si.numTasks},""" +
          s""""run_s":${Jfmt.f3(runS(si))},""" +
          s""""wall_s":${Jfmt.f3(stageWall / 1e3)}}"""
      }
      val line =
        s"""{"query":${Jfmt.str(name)},"dir":${Jfmt.str(dir)},""" +
          s""""pass":"$pass","rows":$rows,"wall_s":${Jfmt.f3(wall)},""" +
          s""""jobs":${rec.jobs.get},"stages":${stages.size},""" +
          s""""exec_run_s":${Jfmt.f3(stages.map(runS).sum)},""" +
          top.mkString("\"top_stages\":[", ",", "]}")
      println(line)
      line
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Probe <q,…|all> [--dir D[,D2]] [--plans OUT]")
    val opts = args.drop(1).grouped(2).map {
      case Array(k, v) => k -> v
      case a => throw new IllegalArgumentException(
        s"option without a value: ${a.mkString(" ")}")
    }.toMap
    val unknown = opts.keySet -- Set("--dir", "--plans")
    require(unknown.isEmpty, s"unknown option: ${unknown.mkString(", ")}")
    val dirs = opts.getOrElse("--dir", "/root/testdata/sf0.1")
      .split(",").toSeq
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    Scratch.preferTmpfs()
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    try names.foreach { n =>
      try probe(spark, n, dirs, opts.get("--plans"))
      catch { case NonFatal(e) =>
        System.err.println(s"[probe] $n FAILED: ${e.getMessage}")
      }
    } finally spark.stop()
  }
}
