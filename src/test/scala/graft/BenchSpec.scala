package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's report on synthetic runs: both documents parse, the stdout
  * line stays inside the driver's tail budget, and core40 never sums a
  * partial board. */
class BenchSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  /** 252 names: the 40 core members plus fillers longer than the
    * board's longest name. */
  private val names = (Bench.Core40.toSeq ++ (1 to 212).map(i =>
    f"x$i%03d_a_rather_long_synthetic_query_name")).sorted

  private def board(failed: Set[String]) = {
    val results = names.zipWithIndex.map { case (n, i) =>
      if (failed(n)) (n, Seq.empty[Bench.Run], None)
      else {
        val rs = Seq(0.5, 0.25, 0.75).map(f => Bench.Run(i * 0.01 + f,
          MetricsLedger.Counts(3, 120L + i, 480L, 1024L * i, 0L, 0L)))
        (n, rs, Some(rs.map(_.sec).sorted.apply(1)))
      }
    }
    val warmup = results.map { case (n, rs, _) => n -> rs.headOption }.toMap
    Bench.report(results, warmup, Seq(names.head -> "warmup"), "/data/sf0.1")
  }

  private def fields(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  test("report: both documents parse; the line carries the detail's scalars within 1,700 chars") {
    val (lineText, detailText) = board(Set.empty)
    val (line, detail) = (json.readTree(lineText), json.readTree(detailText))
    assert(lineText.length <= 1700, s"${lineText.length} chars")
    assert(fields(line) === Seq("metric", "value", "unit", "core40", "errors",
      "sf", "detail", "queries", "queries_omitted"))
    assert(fields(detail) === Seq("metric", "value", "unit", "core40", "queries",
      "errors", "sf", "runs", "warmup", "ledger", "stall_min_from"))
    for (f <- fields(detail) if !detail.get(f).isObject)
      assert(line.get(f) === detail.get(f), f)
    assert(line.get("queries").size + line.get("queries_omitted").asInt === 252)
    assert(line.get("queries").size > 10, "the budget still carries the slowest queries")
    line.get("queries").properties().asScala.foreach { e =>
      assert(e.getValue === detail.get("queries").get(e.getKey), e.getKey)
    }
    assert(detail.get("queries").size === 252 && detail.get("runs").size === 252)
    assert(detail.get("ledger").get(names.last).get(0).get("jobs").asInt === 3)
    assert(detail.get("stall_min_from").get(names.head).asText === "warmup")
    // seconds as 4-decimal numbers, the median of the 3 runs
    assert(detailText.contains(s""""${names.head}":0.5000"""))
    assert(""""value":\d+\.\d{4},""".r.findFirstIn(lineText).nonEmpty, lineText)
  }

  test("report: an errored core40 member gives core40 null, core40_missing and -1 seconds") {
    val gone = Bench.Core40.toSeq.sorted.head
    val (lineText, detailText) = board(Set(gone))
    val (line, detail) = (json.readTree(lineText), json.readTree(detailText))
    assert(lineText.length <= 1700, s"${lineText.length} chars")
    for (doc <- Seq(line, detail)) {
      assert(doc.get("core40").isNull)
      assert(doc.get("core40_missing").elements().asScala.map(_.asText).toSeq === Seq(gone))
      assert(doc.get("errors").elements().asScala.map(_.asText).toSeq === Seq(gone))
    }
    assert(detailText.contains(s""""$gone":-1.0000"""), "queries and warmup report -1")
    assert(detail.get("runs").get(gone).size === 0)
  }
}
