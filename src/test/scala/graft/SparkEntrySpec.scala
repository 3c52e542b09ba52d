package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's shape: a fixed board of 252 queries, each with its
  * DuckDB oracle.
  */
class SparkEntrySpec extends AnyFunSuite {
  test("every declared query has a DuckDB oracle; the board holds 252") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.queries.size == 252)
  }

  test("oracle_sql.json parses back to exactly the oracle SQL, escapes included") {
    val tricky = "SELECT 'a\tb\r\nc\u0001' AS \"q\\\"\", 'żółw – 漢字' AS x"
    val sql = SparkEntry.oracleSql + ("zz_escapes" -> tricky)
    val text = Verify.oracleJson(sql)
    assert(!text.exists(_ < ' '), "every control char is escaped")
    Seq("\\t", "\\r", "\\n", "\\u0001", "\\\"", "\\\\", "żółw – 漢字").foreach(esc =>
      assert(text.contains(esc), esc))
    val back = new ObjectMapper().readTree(text).properties().asScala
      .map(e => e.getKey -> e.getValue.textValue).toMap
    assert(back.size === 253)
    assert(back === sql)
  }
}
