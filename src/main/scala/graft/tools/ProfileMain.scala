package graft.tools

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory

import graft.Sessions

/** sf-scaling curve for selected queries (a perf tool, outside the
  * SparkEntry contract): min-of-N per (query, sf dir) into `curve_new.json`, which
  * `tools/merge_curve.py` merges into `curve_out.json`. Run:
  *   SPARK_GRAFT_BENCH_ONLY=g1_pagerank SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ProfileMain curve"
  * Per-query job splits are Bench's `ledger`; the retired one-off modes
  * are in `git show 78c14b7:src/main/scala/graft/tools/ProfileMain.scala`
  * (results in BENCHNOTES.md and OPTIMIZATION_r1*.md).
  */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("curve")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    what match {
      case "curve" =>
        // min-of-N per (query, sf): a host stall can only ADD time, and
        // the curve's shape separates flat stage latency from
        // data-proportional cost. Queries via SPARK_GRAFT_BENCH_ONLY
        // (default g1), N via SPARK_GRAFT_BENCH_RUNS (default 5).
        val qnames = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq("g1_pagerank"))
        val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
        // sf dirs overridable (e.g. add /tmp/sf1_graft for the sf1
        // decade); the dir's basename becomes the row's "sf" label.
        val sfs = sys.env.get("SPARK_GRAFT_CURVE_SFS")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
            "/root/testdata/sf0.1"))
        val json = JsonNodeFactory.instance
        def sec(t: Double): JsonNode = // 3 decimals
          json.numberNode(BigDecimal(t).setScale(3, BigDecimal.RoundingMode.HALF_UP).bigDecimal)
        val rows = for (q <- qnames; sf <- sfs) yield {
          // Per-(query, sf) cache reset + one untimed warmup: a frame
          // cached for another sf can point at part files a static-path
          // warehouse export (d8) has since overwritten (Warehouse's
          // single-process caveat); the timed runs then measure Bench's
          // warm-engine protocol.
          graft.sources.SessionCache.clear()
          graft.SparkEntry.queries(q)(spark, sf)
            .write.format("noop").mode("overwrite").save()
          val ts = (1 to runs).map { _ =>
            val t0 = System.nanoTime()
            graft.SparkEntry.queries(q)(spark, sf)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          val row = json.objectNode().put("q", q).put("sf", sf.split('/').last)
          row.set[JsonNode]("min", sec(ts.min))
          row.set[JsonNode]("median", sec(ts.sorted.apply(ts.size / 2)))
          row.set[JsonNode]("runs", json.arrayNode().addAll(ts.map(sec).asJava))
          println(s"[curve] $row")
          row
        }
        // Fresh rows only; tools/merge_curve.py does the (q, sf)-keyed
        // merge into curve_out.json (hand merges corrupted it in r11).
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("curve_new.json"),
          json.arrayNode().addAll(rows.asJava).toString)
      case _ => sys.error(s"unknown profile target: $what")
    }
    spark.stop()
  }
}
