package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The metric names and units the harness emits are the ones BENCHMARK.json declares. */
class NamesSpec extends AnyFunSuite {
  private def declared(section: String): Seq[(String, String)] = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("../BENCHMARK.json")), "UTF-8")
    val body = json.substring(json.indexOf(s""""$section""""))
    val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
    """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r.findAllMatchIn(list)
      .map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("per-layer names and units match BENCHMARK.json") {
    assert(declared("per_layer") == Main.perLayer)
    assert(Main.perLayer.map(_._1).distinct.length == Main.perLayer.length)
  }

  test("end-to-end names and units match BENCHMARK.json") {
    assert(declared("end_to_end") == Main.endToEnd)
  }

  test("every board query exists and every family is covered") {
    Boards.queries.foreach(q => assert(graft.SparkEntry.queries.contains(q), q))
    assert(Boards.queries.map(Boards.family).distinct.sorted == Boards.families.sorted)
  }
}
