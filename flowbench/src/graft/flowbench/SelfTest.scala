package graft.flowbench

import graft.schema.Tables
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's own tests, no Spark session needed:
  *  - the input generators are byte-identical for one seed and differ
  *    across seeds;
  *  - the ingest oracle gets hand-worked cases right;
  *  - the tail rule leaves at least ten samples beyond the reported
  *    percentile;
  *  - BENCHMARK.json names a reason for every workload and every
  *    metric the README's interaction map explains.
  *
  * Run: python3 flowbench/selftest.py */
object SelfTest {

  private var failures = 0
  private def check(what: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Exception => System.err.println(e); false }
    println(s"${if (r) "ok  " else "FAIL"} $what")
    if (!r) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val tmp = Files.createTempDirectory("flowbench-selftest")
    try {
      generators(tmp)
      oracle()
      tails()
      spec(Paths.get(args.headOption.getOrElse(".")))
    } finally Main.deleteRecursively(tmp)
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** Every file under `d`, relative path -> bytes. */
  private def snapshot(d: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(d)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => d.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private def generate(seed: Long, dir: Path): Map[String, Seq[Byte]] = {
    val ingest = new IngestServe(seed)
    ingest.data.writeSeed(dir.resolve("seed"))
    (1 to ingest.data.days).foreach(d => ingest.data.writeDay(dir.resolve(s"day-$d"), d))
    new Corpus(seed, 0).write(dir.resolve("corpus"))
    new DedupStream(seed).writeWaves(dir.resolve("waves"))
    snapshot(dir)
  }

  private def generators(tmp: Path): Unit = {
    val a = generate(7, tmp.resolve("a"))
    val b = generate(7, tmp.resolve("b"))
    val c = generate(8, tmp.resolve("c"))
    check(s"generators: same seed, byte-identical inputs (${a.size} files)")(
      a.nonEmpty && a == b)
    // header-only files (a day's empty delta) may coincide
    check("generators: another seed, different inputs")(
      a.keySet == c.keySet && a.forall { case (k, v) => c(k) != v || v.count(_ == '\n') <= 1 })
  }

  private def oracle(): Unit = {
    val t = Tables.registry("retail_order_migrations") // bool columns pre_paid, main
    def raw(id: String, updated: String, prePaid: String): Vector[String] =
      t.columns.map {
        case "id" => id
        case "created_at" => "2024-03-05 10:00:00"
        case "updated_at" => updated
        case "pre_paid" => prePaid
        case "main" => "f"
        case c => s"$c-$id"
      }.toVector
    def col(c: String) = t.columns.indexOf(c)
    val wm = "2025-01-01 00:00:00"
    val o = new IngestOracle(Seq(t))
    o.initialLoad(Map(t.name -> Seq(raw("1", "2024-04-01 00:00:00", "t"))))
    check("oracle: seed load canonicalizes bools and the date column")(
      o.table(t.name)("1")(col("pre_paid")) == "true" &&
        o.table(t.name)("1")(col("created_at")) == "2024-03-05 10:00:00.000000" &&
        o.table(t.name)("1").takeRight(3) == Vector("Locaweb", "2024", "3"))
    val written = o.day(Map(t.name -> Seq(
      raw("2", wm, "maybe"), // exactly on the watermark: in
      raw("3", "2024-12-31 23:59:59", "t"), // one second below: out
      raw("1", "2025-01-01 05:00:00", "False"), // duplicate id, older
      raw("1", "2025-01-01 06:00:00", "True"))), // duplicate id, newest: wins
      wm, "2025-01-02 04:00:00")
    val st = o.table(t.name)
    check("oracle: a row exactly on the watermark is ingested")(st.contains("2"))
    check("oracle: a row below the watermark is filtered")(!st.contains("3"))
    check("oracle: within a batch the newest updated_at wins")(
      st("1")(col("updated_at")) == "2025-01-01 06:00:00" && st("1")(col("pre_paid")) == "true")
    check("oracle: a junk bool passes through unchanged")(st("2")(col("pre_paid")) == "maybe")
    check("oracle: the table counts as written")(written == Seq(t.name))
    val before = o.table(t.name)
    val none = o.day(Map(t.name -> Nil), "2025-01-02 04:00:00", "2025-01-03 04:00:00")
    check("oracle: an empty delta short-circuits but still advances the watermark")(
      none.isEmpty && o.table(t.name) == before &&
        o.watermarks(t.name) == "2025-01-03 04:00:00")
    check("oracle: the change feed classifies inserts and updates")(
      IngestServe.changes(Map("a" -> Vector("1"), "b" -> Vector("2")),
        Map("a" -> Vector("1"), "b" -> Vector("3"), "c" -> Vector("4"))) ==
        Set(("update_preimage", "b"), ("update_postimage", "b"), ("insert", "c")))
  }

  private def tails(): Unit = {
    val r = new java.util.Random(1)
    val ok = (1 to 300).forall { n =>
      val xs = Seq.fill(n)(r.nextDouble())
      Stats.tail(xs) match {
        case None => n < 11
        case Some(t) => n >= 11 && xs.count(_ > t.value) >= 10 &&
          t.beyond == 10 && t.n == n && t.pct == 100.0 * (n - 10) / n
      }
    }
    check("tail: at least ten samples beyond the reported percentile, none below 11 samples")(ok)
    check("tail: 100 samples report the 90th percentile")(
      Stats.tail((1 to 100).map(_.toDouble)).map(t => (t.value, t.pct)) == Some((90.0, 90.0)))
  }

  private def spec(root: Path): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve("BENCHMARK.json").toFile)
    val workloads = m.get("workloads").elements().asScala.toSeq
    check("spec: every workload is one the benchmark runs, with a reason")(
      workloads.nonEmpty && workloads.forall { w =>
        scala.util.Try(Workloads.byName(w.get("name").asText, 1)).isSuccess &&
          w.get("why").asText.trim.nonEmpty
      })
    val e2e = m.get("end_to_end").elements().asScala.toSeq
    check("spec: setup_s is an end-to-end metric in s, lower is better")(
      e2e.exists(x => x.get("name").asText == "setup_s" && x.get("unit").asText == "s" &&
        x.get("better").asText == "lower"))
    val readme = new String(Files.readAllBytes(root.resolve("flowbench").resolve("README.md")))
    val layers = m.get("per_layer").elements().asScala.map(_.get("name").asText).toSeq
    val unmapped = layers.filterNot(n => readme.contains(s"`$n`"))
    check(s"spec: the README maps every per-layer metric to what it should move" +
      (if (unmapped.isEmpty) "" else s" (missing: ${unmapped.mkString(", ")})"))(unmapped.isEmpty)
  }
}
