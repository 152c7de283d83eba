package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard of the Catalog's DuckDB oracles: each fixture replay
  * formula below has one home, the builders between the two
  * `oracle fragments` marker comments of `Catalog.scala`. An oracle
  * that spells one inline again forks the formula, and the next fixture
  * change would edit one copy and miss the others. */
class OracleFragmentSpec extends AnyFunSuite {

  private val formulas = Seq(
    "bit_or(CASE WHEN bit = 1 AND k < 32",
    "doc_id % 50 = 7 THEN doc_id - 1",
    "(m // 65536) % 256",
    "r.cy = l.cy AND r.cx = l.cx + 1",
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE)")

  test("the fixture replay formulas appear only in the oracle fragment " +
      "section of Catalog.scala") {
    val path = java.nio.file.Paths.get(
      "src/main/scala/graft/queries/Catalog.scala")
    val lines = java.nio.file.Files.readAllLines(path).asScala.toIndexedSeq
    def marker(tail: String): Int = {
      val at = lines.indices.filter(i =>
        lines(i).trim.startsWith("// ---") && lines(i).trim.endsWith(tail))
      assert(at.size == 1, s"expected one '$tail' marker, found $at")
      at.head
    }
    val begin = marker("- oracle fragments")
    val end = marker("- end oracle fragments")
    assert(begin < end)
    val stray = lines.indices.filter(i => i < begin || i > end)
      .flatMap(i => formulas.filter(lines(i).contains)
        .map(f => s"$path:${i + 1}: '$f' outside the fragment section"))
    assert(stray.isEmpty, stray.mkString("\n"))
  }
}
