package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's JSON line stays valid JSON whatever master spec
  * `$SPARK_GRAFT_CPUS` holds.
  */
class BenchLineSpec extends AnyFunSuite {

  private def parse(cpus: String) =
    new ObjectMapper().readTree("{" + Bench.parallelismJson(cpus, 4) + "}")

  test("cpus=\"*\" parses as a JSON string; an integer stays a JSON number") {
    val star = parse("*")
    assert(star.get("cpus").isTextual && star.get("cpus").asText == "*")
    assert(star.get("default_parallelism").asInt == 4)
    val eight = parse("8")
    assert(eight.get("cpus").isInt && eight.get("cpus").asInt == 8)
    assert(parse("4,2").get("cpus").asText == "4,2")
  }
}
