package graft

/** The dev probe's per-query rows: cold then warm per dir, each one
  * JSON line carrying the query's rows and its job/stage tally. */
class ProbeSpec extends SparkSpec {

  test("Probe prints a cold and a warm JSON row per dir with the " +
      "query's row count, its jobs and stages, and dumps its plan") {
    val q = "q01_pricing_summary"
    val dir = sf()
    val plans = tmpDir("probeplans")
    val out = new java.io.ByteArrayOutputStream()
    val lines = Console.withOut(out) {
      Probe.probe(spark, q, Seq(dir, dir), Some(plans))
    }
    val printed = out.toString("UTF-8").linesIterator.toSeq
    assert(printed == lines)
    assert(printed.size == 4)
    val rows = SparkEntry.queries(q)(spark, dir).count()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    printed.map(mapper.readTree).zip(Seq("cold", "warm", "cold", "warm"))
      .foreach { case (row, pass) =>
        assert(row.get("query").asText == q)
        assert(row.get("dir").asText == dir)
        assert(row.get("pass").asText == pass)
        assert(row.get("rows").asLong == rows)
        assert(row.get("jobs").asInt > 0, row)
        assert(row.get("stages").asInt > 0, row)
        assert(row.get("top_stages").size > 0, row)
      }
    val plan = new java.io.File(plans, s"$q.txt")
    assert(plan.length > 0, s"no plan at $plan")
  }
}
