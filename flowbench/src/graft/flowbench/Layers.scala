package graft.flowbench

/** The workloads, by the names `BENCHMARK.json` gives them. */
object Workloads {
  def byName(name: String, seed: Long): Workload = name match {
    case "ingest_serve" => new IngestServe(seed)
    // a round takes about a third of a 20 s run; in a shorter run, two
    // rounds still keep the median from hinging on one round
    case "curate_stream" =>
      new Composite(Seq(new CurateBatch(seed), new DedupStream(seed)), minRounds = 2)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Workloads run back to back as one: a round is a round of each. */
final class Composite(parts: Seq[Workload], override val minRounds: Int) extends Workload {
  def setup(ctx: Ctx): Unit = parts.foreach(_.setup(ctx))
  def round(ctx: Ctx, s: Samples): Unit = parts.foreach(_.round(ctx, s))
  def rowsPerRound: Long = parts.map(_.rowsPerRound).sum
  def finalChecks(ctx: Ctx, s: Samples): Unit = parts.foreach(_.finalChecks(ctx, s))
  def storedBytes(ctx: Ctx): Long = parts.map(_.storedBytes(ctx)).sum
  override def extraEndToEnd(s: Samples, rounds: Int => Boolean): Map[String, Double] =
    parts.map(_.extraEndToEnd(s, rounds)).reduce(_ ++ _)
  def layers(ctx: Ctx, tr: Tracer, s: Samples, traced: Int => Boolean): Map[String, Double] =
    parts.map(_.layers(ctx, tr, s, traced)).reduce(_ ++ _)
  override def cleanup(): Unit = parts.foreach(_.cleanup())
}

/** Per-layer readings every workload reports, from the traced rounds.
  * Counts and times are per round, so they do not depend on how many
  * rounds fit in the run. */
object Layers {

  def common(tr: Tracer, s: Samples, traced: Int => Boolean): Map[String, Double] = {
    val ops = s.roundWalls.count(r => traced(r._1)).max(1).toDouble
    val tracedWallMs = s.roundWalls.filter(r => traced(r._1)).map(_._2).sum * 1000
    val jobs = tr.finishedJobs
    val runMs = tr.total(_.runMs).toDouble
    val byModJobs = jobs.groupBy(_.module).map { case (m, js) => m -> js.size }
    val byModExec = tr.moduleSum(_.runMs)
    val perModule = Tracer.Modules.flatMap { m =>
      Seq(s"$m.jobs" -> byModJobs.getOrElse(m, 0) / ops,
        s"$m.exec_ms" -> byModExec.getOrElse(m, 0L) / ops)
    }
    Map(
      "spark.jobs" -> jobs.size / ops,
      "spark.actions" -> tr.actions.size / ops,
      "spark.plan_ms" -> tr.actions.map(_._2).sum / ops,
      "spark.driver_idle_ms" -> (tracedWallMs - tr.jobBusyMs) / ops,
      "spark.exec_run_ms" -> runMs / ops,
      "spark.exec_cpu_ms" -> tr.total(_.cpuNs) / 1e6 / ops,
      "spark.gc_ms" -> tr.total(_.gcMs) / ops,
      "spark.shuffle_write_bytes" -> tr.total(_.shW) / ops,
      "spark.shuffle_read_bytes" -> tr.total(_.shR) / ops,
      "spark.spill_bytes" -> tr.total(_.spill) / ops,
      "spark.task_skew" -> tr.taskSkew,
      "unattributed.share" -> (if (runMs == 0) 0.0
        else byModExec.getOrElse(Tracer.Unattributed, 0L) / runMs)
    ) ++ perModule
  }
}
