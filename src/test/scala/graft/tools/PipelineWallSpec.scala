package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PipelineWallSpec extends AnyFunSuite {

  test("result line is valid JSON when sf_dir holds quote and backslash") {
    val dir = "/data/we\"ird\\sf"
    val line = PipelineWall.resultLine(dir, Seq("ingest" -> 1.5, "transform" -> 2.25), 3.754)
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(j.get("metric").asText == "pipeline_wall")
    assert(j.get("sf_dir").asText == dir)
    assert(j.get("stages").get("transform").asDouble == 2.25)
    assert(j.get("value").asDouble == 3.75)
    assert(j.get("unit").asText == "sec")
  }
}
