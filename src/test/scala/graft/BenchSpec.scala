package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Files

/** Bench's output contract: a throwing key is a listed failure, never a
  * time, and `total_compact` is the last stdout line. */
class BenchSpec extends SparkSpec {

  test("a throwing key is listed under failed and total_compact is last") {
    val sidecar = Files.createTempFile("graft_bench", ".json")
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf) {
      Bench.sweep(spark, "/root/testdata/sf0.001", Seq(
        "q01_topk" -> SparkEntry.queries("q01_topk"),
        "spec_throw" -> ((s, _) =>
          s.range(3).toDF().filter("raise_error('planted failure') IS NULL"))),
        sidecar.toString)
    }
    val json = new ObjectMapper()
    val lines = buf.toString("UTF-8").split("\n").filter(_.nonEmpty)
      .map(json.readTree)
    val compact = lines.last
    assert(compact.get("metric").asText === "total_compact")
    assert(compact.get("failed").toString === """["spec_throw"]""")
    assert(compact.get("n_queries").asInt === 1)
    val total = lines.head
    assert(total.get("metric").asText === "total")
    assert(total.get("failed").toString === """["spec_throw"]""")
    assert(!total.get("queries").has("spec_throw"))
    assert(total.get("queries").has("q01_topk"))
    assert(total.get("value").asDouble === compact.get("value").asDouble)
    assert(!new String(Files.readAllBytes(sidecar), "UTF-8").contains("spec_throw"))
    Files.delete(sidecar)
  }
}
