package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo, Expression, LessThan, Literal, Rand}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LocalRelation, Project}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.FoldLocalJoins

/** plans/FoldLocalJoins: an inner or cross join of two local relations
  * folds to one local relation holding exactly the rows the join
  * returns, and everything outside the rule's scope keeps its Join.
  */
class FoldLocalJoinsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def unfolded[T](body: => T): T =
    withConfs("spark.sql.optimizer.excludedRules" -> FoldLocalJoins.ruleName)(body)

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private case class Side(k: Option[Int], s: String, v: Long)
  private def key(k: Option[Int]): Any = k.getOrElse(null)

  // Null keys, duplicate keys (3 values per side) and non-ASCII strings.
  private val words = Seq("a", "é", "ß", "日本", "ｚ", "á", "")

  private def side(rnd: scala.util.Random, n: Int): Seq[Side] =
    Seq.fill(n)(Side(
      if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(3)),
      words(rnd.nextInt(words.size)), rnd.nextInt(100).toLong))

  private def local(xs: Seq[Side], p: String): DataFrame =
    xs.map(x => (x.k, x.s, x.v)).toDF(s"${p}k", s"${p}s", s"${p}v")

  test("folded joins equal a nested-loop reference and the unfolded plan on random local relations") {
    val rnd = new scala.util.Random(20261019)
    for (trial <- 0 until 4) {
      val (ls, rs) = (side(rnd, rnd.nextInt(40)), side(rnd, rnd.nextInt(40)))
      // Each case builds its DataFrame afresh: a DataFrame caches its
      // optimized plan, and the unfolded run must be re-optimized.
      def l = local(ls, "l")
      def r = local(rs, "r")
      def ref(keep: (Side, Side) => Boolean): Seq[String] =
        (for (a <- ls; b <- rs if keep(a, b))
          yield Row(key(a.k), a.s, a.v, key(b.k), b.s, b.v).toString).sorted
      val cases: Seq[(String, () => DataFrame, Seq[String])] = Seq(
        ("equi on a nullable key", () => l.join(r, $"lk" === $"rk"),
          ref((a, b) => a.k.isDefined && a.k == b.k)),
        ("string key + residual non-equi", () => l.join(r, $"ls" === $"rs" && $"lv" < $"rv"),
          ref((a, b) => a.s == b.s && a.v < b.v)),
        ("cross join", () => l.crossJoin(r), ref((_, _) => true)),
        // the optimizer pushes the one-sided conjunct into a Filter and
        // prunes columns into Projects over the sides before the fold
        ("one-sided conjunct, pruned columns",
          () => l.join(r, $"lk" === $"rk" && $"lv" > 50 && $"rs" =!= "a")
            .select($"lk", $"ls", $"lv", $"rk", $"rs", ($"rv" + 1).as("rv")),
          (for (a <- ls; b <- rs if a.k.isDefined && a.k == b.k && a.v > 50 && b.s != "a")
            yield Row(key(a.k), a.s, a.v, key(b.k), b.s, b.v + 1).toString).sorted),
        ("filtered, projected sides",
          () => l.where($"lv" % 3 =!= 0).select($"lk", $"ls", ($"lv" * 2).as("lv"))
            .join(r.where($"rs" =!= "é"), $"lk" === $"rk"),
          (for (a <- ls if a.v % 3 != 0; b <- rs if b.s != "é" && a.k.isDefined && a.k == b.k)
            yield Row(key(a.k), a.s, a.v * 2, key(b.k), b.s, b.v).toString).sorted))
      for ((what, df, want) <- cases) {
        val folded = df()
        assert(folded.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
          s"trial $trial, $what: the join did not fold")
        val got = rows(folded)
        assert(got == want, s"trial $trial, $what: fold differs from the nested loop")
        unfolded {
          val plain = df()
          // Spark drops a join with an empty side (PropagateEmptyRelation)
          assert(joins(plain) == 1 || got.isEmpty,
            s"trial $trial, $what: exclusion left no Join")
          assert(rows(plain) == got, s"trial $trial, $what: fold differs from the Join plan")
        }
      }
    }
  }

  test("joins over the pair bound, with a nondeterministic condition or a parquet side stay Joins") {
    val n = math.sqrt(FoldLocalJoins.MaxPairs.toDouble).toInt
    val big = (0 to n).map(i => (i, i.toLong)).toDF("k", "v")
    val small = (0 until n).map(i => (i, i.toLong)).toDF("k2", "v2")
    assert((n + 1).toLong * n > FoldLocalJoins.MaxPairs)
    assert(joins(big.join(small, $"k" === $"k2")) == 1, "over the pair bound")
    assert(joins(big.limit(3).join(small.limit(3), $"k" === $"k2")) == 0,
      "the same inputs under the bound fold")
    // The analyzer rejects a nondeterministic join condition, and
    // Spark's early ConvertToLocalRelation folds a nondeterministic
    // Project over a local relation, so the rule's own guards are
    // checked on hand-built Joins.
    val (l8, r8) = (big.limit(8).queryExecution.optimizedPlan,
      small.limit(8).queryExecution.optimizedPlan)
    val keys = EqualTo(l8.output.head, r8.output.head)
    def join(cond: Expression) = Join(l8, r8, Inner, Some(cond), JoinHint.NONE)
    assert(FoldLocalJoins(join(keys)).isInstanceOf[LocalRelation])
    val nondet = join(And(keys, LessThan(Rand(Literal(1L)), Literal(2.0))))
    assert(FoldLocalJoins(nondet) eq nondet, "nondeterministic condition")
    val nondetSide = Join(Project(l8.output :+ Alias(Rand(Literal(1L)), "r")(), l8),
      r8, Inner, Some(keys), JoinHint.NONE)
    assert(FoldLocalJoins(nondetSide) eq nondetSide, "nondeterministic side")
    val dir = java.nio.file.Files.createTempDirectory("fold-parquet").toFile
    try {
      small.write.parquet(s"$dir/t")
      val withParquet = big.limit(4).join(spark.read.parquet(s"$dir/t"), $"k" === $"k2")
      assert(joins(withParquet) == 1, "parquet side")
      assert(withParquet.count() == 4)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private val cycle = Seq((1, 2), (2, 3), (3, 1)).toDF("src", "dst")

  private def walk(tail: String = ""): DataFrame = {
    cycle.createOrReplaceTempView("fold_edges")
    spark.sql(
      s"""WITH RECURSIVE r AS (
         |  SELECT src, dst, 0 AS lvl FROM fold_edges WHERE src = 1
         |  UNION ALL
         |  SELECT e.src, e.dst, r.lvl + 1 FROM fold_edges e JOIN r ON e.src = r.dst
         |) SELECT * FROM r $tail""".stripMargin)
  }

  private def errorClass(body: => Any): String =
    intercept[Exception](body) match {
      case t: SparkThrowable => t.getCondition
      case t => Option(t.getCause).collect { case c: SparkThrowable => c.getCondition }
        .getOrElse(throw t)
    }

  test("recursion over local relations keeps the level and row limits and LIMIT") {
    withConfs("spark.sql.cteRecursionLevelLimit" -> "12") {
      assert(errorClass(walk().collect()) == "RECURSION_LEVEL_LIMIT_EXCEEDED")
    }
    withConfs("spark.sql.cteRecursionRowLimit" -> "9") {
      assert(errorClass(walk().collect()) == "RECURSION_ROW_LIMIT_EXCEEDED")
    }
    val ((got, jobs), (want, plainJobs)) = scala.util.Using.resource(
        new MetricsLedger(spark.sparkContext)) { ledger =>
      def run() = {
        val (rs, counts) = ledger.measure(rows(walk("LIMIT 10")))
        (rs, counts.jobs)
      }
      (run(), unfolded(run()))
    }
    assert(got.size == 10 && got == want)
    assert(jobs <= 2 && plainJobs >= 10,
      s"the walk ran $jobs jobs folded, $plainJobs unfolded")
  }
}
