package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.resultLines]]: the full line keeps its format, and the summary
  * that ends stdout stays short and tied to the full line's queries. */
class BenchSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  /** The text of the full line's "queries" object, as written. */
  private def queriesText(full: String): String =
    full.substring(full.indexOf("\"queries\":") + "\"queries\":".length,
      full.indexOf(",\"errors\":"))

  private def sha1Hex(s: String): String =
    "%040x".format(new java.math.BigInteger(1,
      java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))))

  test("summary: 222 long names, all failed, is valid JSON under 1 500 chars") {
    val names = (1 to 222).map(i => f"q$i%03d_" + "x" * 120)
    val (full, summary) = Bench.resultLines(names.map(_ -> None), "/root/testdata/sf0.1")
    assert(full.length > 222 * 120)
    assert(summary.length < 1500, summary)
    val s = json.readTree(summary)
    assert(s.get("metric").asText == "total" && s.get("unit").asText == "sec")
    assert(s.get("value").asDouble == 0.0)
    assert(s.get("n_queries").asInt == 222 && s.get("n_errors").asInt == 222)
    assert(s.get("sf").asText == "/root/testdata/sf0.1")
    assert(s.get("queries_sha1").asText == sha1Hex(queriesText(full)))
    // the failed names stay in the full line
    val f = json.readTree(full)
    assert(f.get("errors").size == 222 && f.get("queries").get(names.head).isNull)
  }

  test("full line keeps its format; the summary carries its total and counts") {
    val times = Seq("q01_a" -> Some(1.5), "q02_b" -> None, "q03_c" -> Some(0.25))
    val (full, summary) = Bench.resultLines(times, "/d/sf0.01")
    assert(full == """{"metric":"total","value":1.75,"unit":"sec","queries":""" +
      """{"q01_a":1.5,"q02_b":null,"q03_c":0.25},"errors":["q02_b"],"sf":"/d/sf0.01"}""")
    assert(summary == """{"metric":"total","value":1.75,"unit":"sec","n_queries":3,""" +
      s""""n_errors":1,"queries_sha1":"${sha1Hex(queriesText(full))}","sf":"/d/sf0.01"}""")
  }
}
