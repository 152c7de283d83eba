package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. One query's
  * failure is logged and the dump goes on; an interrupt ends it. */
object Verify {
  def main(args: Array[String]): Unit = {
    Scratch.preferTmpfs() // scratch on tmpfs (see Scratch's doc)
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query-name subset (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable if !e.isInstanceOf[InterruptedException] =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Session.hygiene(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Jfmt.str(k)}: ${Jfmt.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
