package graft.tools

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** BenchDelta reads `bench_out.json` as JSON: the committed record and a
  * re-serialisation of it with every object's keys reversed and
  * pretty-printed whitespace give the same ratios and the same report. */
class BenchDeltaSpec extends AnyFunSuite {
  private def slurp(p: String) =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  private val mapper = new ObjectMapper()

  /** `n` with the keys of every object in reverse order. */
  private def reversed(n: JsonNode): JsonNode =
    if (n.isObject) {
      val out = mapper.createObjectNode()
      n.properties().asScala.toSeq.reverse.foreach(e => out.set[JsonNode](e.getKey, reversed(e.getValue)))
      out
    } else if (n.isArray) {
      val out = mapper.createArrayNode()
      n.elements().asScala.foreach(e => out.add(reversed(e)))
      out
    } else n

  test("a reformatted bench record gives the same ratios as the committed one") {
    val committed = slurp("bench_out.json")
    val reformatted = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(reversed(mapper.readTree(committed)))
    assert(!reformatted.contains("\"metric\":\"total\""), "premise: whitespace differs")
    assert(reformatted.indexOf("\"spread\"") < reformatted.indexOf("\"metric\""),
      "premise: key order differs")
    val base = BenchDelta.parseBaseline(slurp("BASELINE.md"))
    val (a, b) = (BenchDelta.parse(committed), BenchDelta.parse(reformatted))
    val ratios = BenchDelta.ratios(a, base)
    assert(ratios.size > 300)
    assert(BenchDelta.ratios(b, base) == ratios)
    assert(BenchDelta.report(b, base, "x") == BenchDelta.report(a, base, "x"))
    // one row checked against the record's literal figures
    val row = ratios.find(_.query == "agg_approx").get
    assert(row.median == 1.975 && row.min == 1.474 && row.minRatio == 1.474 / base("agg_approx"))
    assert(a.perQuery("agg_approx").reps == Seq(5.359, 1.975, 1.474))
    assert(a.passes.map(_.pass) == Seq(1, 2, 3) && a.hostCores.contains(32))
  }
}
