package graft.tools

import java.nio.file.{Files, Paths}
import java.util.regex.Matcher

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Sessions, SparkEntry}
import graft.operators.{Dedup, Graph}
import graft.queries.GraphQueries
import graft.sources.Tables

/** The plan tool, one mode per artifact:
  *  - `explain <sfDir>` rewrites EXPLAIN.md (cwd) in place: the fenced
  *    plan block of every `## <query>` section and the header's
  *    "Generated by … on <sfDir>" line. Headings and the notes under
  *    them stay as written, so a new section is a heading plus its
  *    notes in EXPLAIN.md.
  *  - `audit <sfDir>` is the plan-smell sweep over every declared
  *    query's final (post-AQE) plan: sort-based aggregate demotions
  *    (usually an immutable agg buffer, e.g. a string min/max, dragging
  *    a whole multi-distinct pipeline into a full sort), cartesian /
  *    nested-loop joins and single-partition exchanges. It prints
  *    `[audit] <name>: <flags>` per flagged query and
  *    `[audit] done: n/N queries flagged`; `tools/round_close.sh`
  *    checks the flagged set against PLANAUDIT.md. A flag is a REVIEW
  *    cue, not automatically a bug: a global SortAggregate with empty
  *    grouping keys performs no sort, a broadcast nested-loop against a
  *    literal-sized side is fine, and a deliberate global window (q19)
  *    is the declared semantics.
  *  - `dump <sfDir> <outDir> <tag> <q1,q2,...>` writes each named
  *    query's formatted plan to `<outDir>/<name>_<tag>.txt`, so
  *    plan-shape claims in OPTIMIZATION_r*.md are checkable.
  *
  * Run: `SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.PlanDump <mode> ..."`
  * (8 cores by default: the committed artifacts were made at 8).
  */
object PlanDump {

  private val smells = Seq(
    "SortAggregate" -> "sort-agg",
    "CartesianProduct" -> "cartesian",
    "BroadcastNestedLoopJoin" -> "bnl-join",
    "Exchange SinglePartition" -> "single-part")

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args match {
      case Array("explain", sfDir) => explain(_, sfDir)
      case Array("audit", sfDir) => audit(_, sfDir)
      case Array("dump", sfDir, outDir, tag, names) => dump(_, sfDir, outDir, tag,
        names.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case _ => sys.error("usage: PlanDump explain <sfDir> | audit <sfDir> | " +
        "dump <sfDir> <outDir> <tag> <q1,q2,...>")
    }
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    try run(spark) finally spark.stop()
  }

  /** The DataFrame `explain` and `dump` print for `name`: the board's
    * query, except where the query serves a checkpoint whose plan
    * prints as an opaque RDD scan; there, the operator the checkpoint
    * holds. `audit` runs the board's queries as the board runs them. */
  private def frame(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "d7_minhash_pairs" => // what TextQueries.minhashCandidates checkpoints
        Dedup.minhashPairs(Tables.documents(spark, sfDir), minEst = 0.5)
      case "g5_personalized_pagerank" =>
        GraphQueries.pprTop(spark, sfDir, Graph.personalizedPageRankRounds)
      case _ => SparkEntry.queries(name)(spark, sfDir)
    }

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def explain(spark: SparkSession, sfDir: String): Unit = {
    val path = Paths.get("EXPLAIN.md")
    val doc = Files.readString(path)
    val start = doc.indexOf("\n## ") + 1
    require(start > 0, "EXPLAIN.md has no `## <query>` section")
    val header = doc.take(start).replaceFirst("Generated by `[^`]*` on `[^`]*`",
      Matcher.quoteReplacement(s"Generated by `graft.tools.PlanDump explain` on `$sfDir`"))
    // a section is "## <name>\n\n<notes>\n\n```\n<plan>```\n"
    val sections = doc.drop(start).split("\n(?=## )").toSeq.map { section =>
      val name = section.linesIterator.next().stripPrefix("## ").trim
      val fence = section.indexOf("\n```\n")
      require(fence >= 0, s"EXPLAIN.md section $name has no fenced plan block")
      section.take(fence + 5) + planOf(frame(spark, sfDir, name)) + "```\n"
    }
    Files.writeString(path, header + sections.mkString("\n"))
    println(s"[explain] wrote EXPLAIN.md (${sections.size} sections)")
  }

  private def audit(spark: SparkSession, sfDir: String): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val flagged = names.count { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save() // final AQE plan
        val plan = df.queryExecution.executedPlan.toString
        val hits = smells.collect {
          case (op, tag) if plan.contains(op) => s"$tag(${op.r.findAllIn(plan).size})"
        }
        if (hits.nonEmpty) println(s"[audit] $name: ${hits.mkString(" ")}")
        hits.nonEmpty
      } catch {
        case e: Throwable =>
          println(s"[audit] $name: ERROR ${e.getMessage}")
          false
      }
    }
    println(s"[audit] done: $flagged/${names.size} queries flagged")
  }

  private def dump(spark: SparkSession, sfDir: String, outDir: String,
      tag: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { q =>
      val txt = planOf(frame(spark, sfDir, q))
      Files.writeString(Paths.get(s"$outDir/${q}_$tag.txt"), txt)
      println(s"[plandump] wrote $outDir/${q}_$tag.txt (${txt.length} chars)")
    }
  }
}
