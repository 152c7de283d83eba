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

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props("user.dir"), "target"), prefix)
    d.toString
  }
}
