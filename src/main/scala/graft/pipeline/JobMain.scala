package graft.pipeline

import graft.schema.Tables
import graft.sources.JdbcSource
import graft.state.WatermarkStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI entry mirroring the reference job's contract
  * (gluejob.py:602-627): positional args JOB_NAME, Environment,
  * JobTriggerOrigin, JobMode, plus an engine config file. Dispatch:
  *
  *   OnDemand  + <mode> -> initial CSV load (no watermark advance)
  *   Scheduled + <mode> -> incremental (JDBC when conn configured,
  *                         CSV-as-delta otherwise for air-gapped runs)
  *   other             -> no-op (default_behavior, gluejob.py:141-142)
  *
  * JobMode: `allTables` or one registry table name (gluejob.py:306-327).
  * Config file is a flat JSON map (WatermarkStore codec): csvRoot,
  * outRoot, wmPath, and optional jdbc host/port/db/user/password.
  * Watermarks commit once after all selected tables succeed.
  */
object JobMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "usage: JobMain <JOB_NAME> <Environment> <JobTriggerOrigin> <JobMode> <configPath>")
    val Array(jobName, env, trigger, jobMode, configPath) = args.take(5)
    val conf = WatermarkStore.parseFlatJson(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(configPath)), "UTF-8"))
    // master and shuffle width are deployment settings: they come from
    // the config file; the SQL confs are the engine's shared ones
    val spark = graft.Session.builder(conf.getOrElse("master", "local[32]"),
        conf.getOrElse("shufflePartitions", "32").toInt)
      .appName(s"$jobName-$env")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, conf, trigger, jobMode)
    finally spark.stop()
  }

  def run(spark: SparkSession, conf: Map[String, String], trigger: String,
      jobMode: String): Seq[String] = {
    val tables = Ingest.selectTables(jobMode)
    val outRoot = conf("outRoot")
    Ingest.flowOf(trigger) match {
      case Ingest.OnDemand =>
        Ingest.initialLoad(spark, conf("csvRoot"), outRoot, tables)
      case Ingest.Scheduled =>
        val store = WatermarkStore(conf("wmPath"))
        val (sources, probeTime) = buildSources(spark, conf, tables)
        Ingest.incrementalRun(spark, store, sources, probeTime, outRoot,
          tables)
      case Ingest.NoOp =>
        Nil // default_behavior: log and do nothing
    }
  }

  /** JDBC sources when a connection is configured; otherwise CSV files
    * re-read as the delta (air-gapped/test mode). The next-watermark
    * probe comes from the source DB when available (S5), else the
    * engine clock — both formatted yyyy-MM-dd HH:mm:ss. */
  private def buildSources(spark: SparkSession, conf: Map[String, String],
      tables: Seq[graft.schema.TableSpec])
      : (Map[String, DataFrame], String) =
    if (conf.contains("jdbcHost")) {
      val conn = JdbcSource.ConnInfo(conf("jdbcHost"),
        conf.getOrElse("jdbcPort", "5432").toInt, conf("jdbcDb"),
        conf("jdbcUser"), conf("jdbcPassword"))
      val srcs = tables.map { t =>
        t.name -> JdbcSource.read(spark, t, conn, "1970-01-01 00:00:00",
          numPartitions = conf.getOrElse("jdbcPartitions", "8").toInt)
      }.toMap
      (srcs, JdbcSource.probeTime(spark, tables.head.source, conn))
    } else {
      val csvRoot = conf("csvRoot")
      val srcs = tables.flatMap { t =>
        val df = graft.sources.CsvSource.read(spark, t,
          s"$csvRoot/${t.name}.csv")
        if (df.isEmpty) None else Some(t.name -> df)
      }.toMap
      (srcs, java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
        .format(WatermarkStore.Fmt))
    }
}
