package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout contract: both JSON lines rendered from a fixed
  * two-query result, one of which failed. */
class BenchSpec extends AnyFunSuite {

  private val results = Seq(
    Bench.QueryResult("q01_a", Seq(2.5, 1.0, 3.0), ok = true),
    Bench.QueryResult("q02_b", Seq(0.5, 0.25, 4.0), ok = false))
  private val (full, summary) = Bench.render("/data/sf0.01", 3, results)

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)
  private def keys(line: String): Seq[String] =
    parse(line).fieldNames().asScala.toSeq

  test("line 1: raw totals first, then sf, reps and the failures") {
    assert(full.startsWith("""{"metric":"total","value":1.25,"unit":"sec","queries":{"""), full)
    assert(keys(full) == Seq("metric", "value", "unit", "queries", "sf",
      "reps", "n_failed", "failed"))
    val j = parse(full)
    assert(j.get("queries").get("q01_a").asDouble == 1.0)
    assert(j.get("queries").get("q02_b").asDouble == 0.25)
    assert(j.get("reps").asInt == 3)
  }

  test("summary: raw keys in their order, failures named on both lines") {
    assert(keys(summary) == Seq("metric", "unit", "sf", "n_queries",
      "total_raw_min", "total_raw_median", "top20_raw_min",
      "top20_by_min_raw_median", "load_spiked", "n_failed", "failed"))
    val j = parse(summary)
    assert(j.get("total_raw_min").asDouble == 1.25)
    // medians 2.5 and 0.5; only q01_a's exceeds twice its min
    assert(j.get("total_raw_median").asDouble == 3.0)
    assert(j.get("top20_raw_min").fieldNames().asScala.toSeq ==
      Seq("q01_a", "q02_b"))
    assert(j.get("load_spiked").fieldNames().asScala.toSeq == Seq("q01_a"))
    for (line <- Seq(full, summary)) {
      val l = parse(line)
      assert(l.get("n_failed").asInt == 1)
      assert(l.get("failed").elements().asScala.map(_.asText).toSeq == Seq("q02_b"))
    }
  }

  test("no key names a calibration or a skew") {
    def allKeys(n: JsonNode): Seq[String] =
      n.fields().asScala.toSeq.flatMap(e => e.getKey +: allKeys(e.getValue))
    for (line <- Seq(full, summary); k <- allKeys(parse(line)))
      assert(!k.contains("calib") && !k.contains("skew"), k)
  }
}
