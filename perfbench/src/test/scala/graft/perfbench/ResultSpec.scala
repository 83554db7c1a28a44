package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class ResultSpec extends AnyFunSuite {
  test("the result line round-trips through a JSON parser") {
    val r = Result(correct = true, attempted = 1000, failed = 0, Seq(
      ("p50_ms", 1.2034567891234, "ms"), ("setup_s", 0.8127, "s"), ("ok_frac", 1.0, "ratio")))
    val node = new ObjectMapper().readTree(r.line)
    import scala.jdk.CollectionConverters._
    assert(node.fieldNames.asScala.toList == List("correct", "attempted", "failed", "metrics"))
    assert(node.get("correct").asBoolean)
    assert(node.get("attempted").asLong == 1000L && node.get("failed").asLong == 0L)
    val m = node.get("metrics")
    assert(m.fieldNames.asScala.toList == List("p50_ms", "setup_s", "ok_frac"))
    // every digit survives the round trip
    assert(m.get("p50_ms").get("value").asDouble == 1.2034567891234)
    assert(m.get("setup_s").get("unit").asText == "s")
  }

  test("strings are escaped and non-finite values are refused") {
    assert(Json.render("a\"b\\c\n") == "\"a\\\"b\\\\c\\n\"")
    intercept[IllegalArgumentException](Json.render(Double.NaN))
  }
}
