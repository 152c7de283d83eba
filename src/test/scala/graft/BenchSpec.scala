package graft

import scala.jdk.CollectionConverters._

import graft.ext.{Bpe, FrameMemo, TrainMemo}

/** The bench statistic: two same-order passes per query, each from
  * cleared memos in a fresh session, the smaller reading adopted. */
class BenchSpec extends SparkSpec {

  private val names =
    Seq("q01_pricing_summary", "q147_bpe_train", "q148_bpe_encode")

  test("two readings per query, min adopted, value = their sum; the " +
      "BPE training runs once per pass; the record line has the " +
      "contract's keys") {
    val before = Bpe.trainingsStarted.get()
    val m =
      try Bench.measure(spark, sf(), names.map(n => n -> SparkEntry.queries(n)))
      finally { TrainMemo.clear(); FrameMemo.clear() }
    // one training per pass: the memo is cleared before each pass, and
    // q148 hits the training q147 ran in the same pass
    assert(Bpe.trainingsStarted.get() - before == 2)
    assert(m.failures.isEmpty)
    assert(m.passes.map(_._1) == names)
    m.passes.foreach { case (n, rs) =>
      assert(rs.size == 2 && rs.forall(r => r._1 > 0 && !r._2), n)
    }
    val adopted = m.adopted.toMap
    m.passes.foreach { case (n, rs) => assert(adopted(n) == rs.map(_._1).min) }

    val line = Bench.record(m, Seq("cpu1_msteps_ms" -> 1.0,
      "cpu4_msteps_ms" -> 4.0), sf())
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    def fields(n: com.fasterxml.jackson.databind.JsonNode) =
      n.properties.asScala.toSeq.map(e => e.getKey -> e.getValue)
    assert(fields(json).map(_._1) == Seq("metric", "value", "unit",
      "queries", "failures", "passes", "machine", "sf"))
    assert(json.get("metric").asText == "total")
    assert(json.get("unit").asText == "sec")
    assert(json.get("sf").asText == sf())
    assert(json.get("failures").size == 0)
    assert(fields(json.get("machine")).map(_._1) ==
      Seq("cpu1_msteps_ms", "cpu4_msteps_ms"))
    val qs = fields(json.get("queries")).map { case (k, v) => k -> v.asDouble }
    assert(qs.map(_._1) == names)
    names.foreach { n =>
      val ps = json.get("passes").get(n).elements.asScala.map(_.asDouble).toSeq
      assert(ps.size == 2)
      assert(qs.toMap.apply(n) == ps.min, n)
    }
    assert(json.get("value").asDouble == qs.map(_._2).sum)
  }

  test("a query that throws is listed once in failures and the other " +
      "queries keep two successful readings") {
    val boom: Bench.Query = (_, _) => throw new IllegalStateException("boom")
    val q01 = "q01_pricing_summary"
    val m = Bench.measure(spark, sf(),
      Seq("q00_boom" -> boom, q01 -> SparkEntry.queries(q01)))
    assert(m.failures == Seq("q00_boom"))
    val Seq((_, failed), (_, ok)) = m.passes
    assert(failed.size == 2 && failed.forall(_._2))
    assert(ok.size == 2 && ok.forall(r => r._1 > 0 && !r._2))
    // no successful reading: the first pass's stands
    assert(m.adopted.toMap.apply("q00_boom") == failed.head._1)
    assert(m.adopted.toMap.apply(q01) == ok.map(_._1).min)
    // an interrupt is no query's failure: it ends the measurement
    val halt: Bench.Query = (_, _) => throw new InterruptedException("halt")
    intercept[InterruptedException] {
      Bench.measure(spark, sf(),
        Seq("q00_halt" -> halt, q01 -> SparkEntry.queries(q01)))
    }
  }
}
