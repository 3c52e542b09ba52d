package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Tutorial
import graft.operators.Hierarchy
import graft.sources.{Constraints, Tables}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("Tables.load rejects unknown table names") {
    val e = intercept[IllegalArgumentException](Tables.load(spark, dir, "nope"))
    assert(e.getMessage.contains("unknown table: nope"))
  }

  test("normalizeEventTs maps a TIMESTAMP ts to the nanosecond-bigint contract") {
    import spark.implicits._
    // the native-timestamp layout: `ts` arrives as a real TIMESTAMP and
    // leaves as epoch nanoseconds, so every events operator sees one type
    val ns = Seq(600L * 1000000000L, 3600L * 1000000000L + 1000000L)
    val raw = ns.map(t => (1L, new java.sql.Timestamp(t / 1000000L)))
      .toDF("event_id", "ts")
    val norm = Tables.normalizeEventTs(raw)
    assert(norm.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(norm.select("ts").as[Long].collect().toSeq.sorted == ns)
  }

  test("constraint checks pass on the star schema and catch seeded violations") {
    import spark.implicits._
    assert(Constraints.primaryKeyViolations(Tables.customer(spark, dir), "c_custkey") == 0)
    assert(Constraints.foreignKeyOrphans(Tables.nation(spark, dir), "n_regionkey",
      Tables.region(spark, dir), "r_regionkey") == 0)
    // seeded violations are detected
    val dup = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    assert(Constraints.primaryKeyViolations(dup, "k") == 1)
    val orphan = Seq((1, 10), (2, 99)).toDF("id", "fk")
    val parent = Seq(10).toDF("pk")
    assert(Constraints.foreignKeyOrphans(orphan, "fk", parent, "pk") == 1)
    assert(Constraints.notNullViolations(
      Seq((Some(1), "x"), (None, "y")).toDF("a", "b"), "a") == 1)
  }

  test("CTAS round-trip: dim persists as parquet and reads back identically (S3/S5)") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val dim = Hierarchy.buildReportingDim(Tutorial.productNodes(spark), 3)
    dim.write.mode("overwrite").parquet(s"$wh/product_reporting_dim")
    val back = spark.read.parquet(s"$wh/product_reporting_dim")
    assert(back.count() == 7)
    assert(back.schema.fieldNames.toSet == dim.schema.fieldNames.toSet)
    val keys = back.orderBy("node_sort_order")
      .select("node_natural_key").collect().map(_.getInt(0)).toSeq
    assert(keys == Seq(0, 10, 101, 102, 20, 201, 202))
  }

  test("CSV golden export writes a single-header file (S6)") {
    val out = Files.createTempDirectory("graft_csv").toString + "/dim"
    Hierarchy.buildReportingDim(Tutorial.productNodes(spark), 3)
      .select("node_natural_key", "node_name", "level_number", "node_sort_order")
      .coalesce(1).write.option("header", true).mode("overwrite").csv(out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines.head == "node_natural_key,node_name,level_number,node_sort_order")
    assert(lines.length == 8) // header + 7 rows
  }

  test("uuid() node ids are well-formed and unique (P9/F4)") {
    val nodes = Tutorial.productNodes(spark)
    val ids = nodes.select("node_id").collect().map(_.getString(0))
    assert(ids.length == 7)
    assert(ids.distinct.length == 7)
    val uuidRe = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    ids.foreach(id => assert(uuidRe.matches(id), s"not a uuid: $id"))
    // parent links resolve within the same uuid space (alias the parent
    // side — a raw self-join would be ambiguous)
    val parents = nodes.select(col("node_id").as("pid"))
    val orphans = Constraints.foreignKeyOrphans(nodes, "parent_node_id", parents, "pid")
    assert(orphans == 0)
  }

  test("gzip codec: byte-exact round trip (empty, unicode), shrinks " +
      "repetitive input, rejects non-gzip loudly") {
    import graft.sources.CompressedIngest._
    for (s <- Seq("", "a", "héllo wörld — ünïcode", "x" * 5000,
        (0 until 1000).map(i => ('a' + i % 26).toChar).mkString)) {
      val raw = s.getBytes("UTF-8")
      assert(gunzip(gzip(raw)).toSeq == raw.toSeq, s"round trip for len=${raw.length}")
    }
    // deflate genuinely compresses redundancy (it is a real codec,
    // not a pass-through wrapper)
    assert(gzip(("ab" * 4000).getBytes("UTF-8")).length < 200)
    intercept[java.util.zip.ZipException] {
      gunzip("definitely not gzip bytes".getBytes("UTF-8"))
    }
  }

  test("gzip payload ingestion: executor-side compress/decompress " +
      "preserves every document byte") {
    import graft.sources.CompressedIngest
    val docs = Tables.documents(spark, dir).limit(200)
    val back = CompressedIngest.gunzipPayloads(
        CompressedIngest.gzipPayloads(docs))
      .select(col("doc_id"), col("payload").cast("string").as("text2"))
    val diff = docs.select(col("doc_id"), col("text"))
      .join(back, "doc_id")
      .where(col("text") =!= col("text2"))
      .count()
    assert(diff == 0)
  }

  test("approx_count_distinct tracks exact within documented error (A2 scale option)") {
    val ev = Tables.events(spark, dir)
    val exact = ev.select(countDistinct(col("user_id"))).collect().head.getLong(0)
    val approx = ev.select(approx_count_distinct(col("user_id"), 0.02)).collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx=$approx exact=$exact")
  }
}
