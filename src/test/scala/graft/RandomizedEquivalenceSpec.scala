package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsofJoin, Dedup, Skew}

/** Seeded-random equivalence checks: each custom distributed operator
  * against an independent straightforward formulation on adversarial
  * random inputs (duplicate keys/timestamps, cycles, multiple
  * components, skewed key draws) — shapes the hand-written fixture
  * specs don't reach. One Spark job per test; seeds fixed so failures
  * reproduce.
  */
class RandomizedEquivalenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Independent driver-side union-find: every endpoint -> the min
    * member of its component.
    */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical label = min member of the component
    nodes.groupBy(find).flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Run `f` under a loop byte target of `bytes`; "32" is one edge row
    * per partition, so no CC input here fits the one-task finish and
    * the distributed rounds run.
    */
  private def withLoopTarget[T](bytes: String)(f: => T): T = {
    val key = "spark.graft.loop.targetPartitionBytes"
    spark.conf.set(key, bytes)
    try f finally spark.conf.unset(key)
  }

  test("duplicateClusters equals driver-side union-find on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    assert(labels(Dedup.duplicateClusters(edges.toDF("a_id", "b_id"))) ===
      unionFind(edges))
  }

  test("saltedDistinct equals plain countDistinct under a skewed key draw") {
    val rnd = new scala.util.Random(7)
    // 90% of rows on one key — the regime salting exists for
    val rows = Seq.fill(5000) {
      val k = if (rnd.nextInt(10) < 9) "hot" else s"cold_${rnd.nextInt(5)}"
      (k, rnd.nextInt(400).toLong)
    }
    val df = rows.toDF("k", "user")
    val salted = Skew.saltedDistinct(df, Seq("k"), "user").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = df.groupBy("k").agg(countDistinct(col("user")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("asofJoin equals the naive max-prior join on random ties and dups") {
    val rnd = new scala.util.Random(13)
    val left = Seq.tabulate(400)(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong * 1000))
      .toDF("l_id", "key", "lts")
    // duplicate right timestamps per key exercise the tie contract
    val right = Seq.tabulate(300)(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong * 1000))
      .toDF("r_id", "rkey", "rts")
      .groupBy("rkey", "rts").agg(max("r_id").as("r_id")) // one row per (key, ts)
    val got = AsofJoin.asofJoin(
      left, right.select(col("rkey").as("key"), col("rts"), col("r_id")),
      keys = Seq("key"), leftTs = "lts", rightTs = "rts",
      rightCols = Seq("r_id", "rts"))
      .select(col("l_id"), col("asof_r_id"))
    val naive = left.as("l")
      .join(right.as("r"), col("l.key") === col("r.rkey") && col("rts") <= col("lts"), "left")
      .groupBy(col("l_id"))
      .agg(max(struct(col("rts"), col("r_id"))).as("best"))
      .select(col("l_id"), col("best.r_id").as("naive_r_id"))
    val joined = got.join(naive, Seq("l_id"), "full_outer")
    assert(joined.filter(
      coalesce(col("asof_r_id"), lit(-1L)) =!= coalesce(col("naive_r_id"), lit(-1L)))
      .isEmpty, "asof result differs from naive max-prior")
  }

  test("duplicateClustersLogN equals the min-label fixpoint on random graphs") {
    // Several seeds: cycles, multiple components, dense cores — the
    // two algorithms share no code path, so agreement is strong
    // evidence both compute true components. A one-edge-row target
    // keeps both on their distributed rounds (at the default target
    // these inputs take the one-task finish on both sides).
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(250)((rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("a_id", "b_id")
      val (fix, (logn, rounds)) = withLoopTarget("32") {
        (labels(Dedup.duplicateClusters(df)), {
          val (l, r) = Dedup.duplicateClustersLogNWithRounds(df)
          (labels(l), r)
        })
      }
      assert(rounds > 0, s"seed $seed: the distributed rounds must run")
      assert(logn === fix, s"seed $seed")
    }
  }

  test("duplicateClustersLogN converges in O(log n) rounds on a 10k path") {
    // The adversarial case for min-label propagation: one 10k-node
    // path component (diameter 10k ⇒ the fixpoint loop would need
    // ~10k rounds). Large-star/small-star must collapse it in
    // logarithmic rounds and still label every node with the min (0).
    // The one-edge-row target keeps the rounds distributed (the path
    // fits the one-task finish at the default target).
    val n = 10000
    val path = spark.range(0, n - 1)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    withLoopTarget("32") {
      val (labels, rounds) =
        Dedup.duplicateClustersLogNWithRounds(path)
      assert(rounds > 0, "the distributed rounds must run")
      assert(rounds <= 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt + 4,
        s"took $rounds rounds")
      val got = labels.agg(
        count(lit(1)).as("n"),
        sum(col("cluster_id")).as("s"),
        countDistinct(col("cluster_id")).as("d")).head()
      assert(got.getLong(0) === n)
      assert(got.getLong(1) === 0L, "every node must label to the component min 0")
      assert(got.getLong(2) === 1L)
    }
  }

  test("one-task CC finish equals both distributed variants and union-find") {
    // Seeded graphs: random cycles over several disjoint components,
    // with duplicate and reversed copies of some pairs, then the 10k
    // path. At the default target every one fits one partition, so
    // both operators take the one-task finish (0 rounds); under the
    // one-edge-row target both run distributed rounds. All must equal
    // the driver-side union-find.
    val graphs = Seq(7, 8, 9).map { seed =>
      val rnd = new scala.util.Random(seed)
      val base = (0 until 1 + rnd.nextInt(4)).flatMap { c =>
        val n = 5 + rnd.nextInt(60)
        Seq.fill(2 * n)((c * 1000L + rnd.nextInt(n), c * 1000L + rnd.nextInt(n)))
      }.filter { case (a, b) => a != b }
      val dups = base.filter(_ => rnd.nextInt(5) == 0)
      val reversed = base.filter(_ => rnd.nextInt(5) == 0).map(_.swap)
      s"seed $seed" -> rnd.shuffle(base ++ dups ++ reversed)
    } :+ ("10k path" -> (0L until 9999L).map(i => (i, i + 1)))
    for ((name, edges) <- graphs) {
      val df = edges.toDF("a_id", "b_id")
      val expect = unionFind(edges)
      val (oneTask, rounds) = Dedup.duplicateClustersLogNWithRounds(df)
      assert(rounds === 0, s"$name: the default target takes the one-task finish")
      assert(labels(oneTask) === expect, s"$name: logN one-task finish")
      assert(labels(Dedup.duplicateClusters(df)) === expect,
        s"$name: fixpoint one-task finish")
      withLoopTarget("32") {
        val (dist, distRounds) = Dedup.duplicateClustersLogNWithRounds(df)
        assert(distRounds > 0, s"$name: distributed logN rounds must run")
        assert(labels(dist) === expect, s"$name: distributed logN")
        // the 10k path would take ~10k min-label rounds
        if (name != "10k path")
          assert(labels(Dedup.duplicateClusters(df)) === expect,
            s"$name: distributed fixpoint")
      }
    }
  }

  test("max(dense_rank) identity equals per-key countDistinct on random dups") {
    // the q41 rewrite: Spark windows reject DISTINCT aggregates, so the
    // engine uses max(dense_rank(v)) over the key partition — assert
    // the identity on a draw heavy with duplicate (key, v) pairs
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(4000)((rnd.nextInt(50).toLong, rnd.nextInt(12).toLong))
    val df = rows.toDF("k", "v")
    val viaRank = df
      .withColumn("dr", dense_rank().over(Window.partitionBy("k").orderBy("v")))
      .groupBy("k").agg(max("dr").cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = df.groupBy("k").agg(countDistinct(col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaRank === direct)
  }

  test("q42's aggregate recast equals the direct EXISTS/NOT-EXISTS formulation") {
    // sole-late-supplier: per-(order, supplier) lateness aggregate +
    // per-order counts + join-back must equal the textbook correlated
    // form (late line of s in o, ANOTHER supplier exists in o, NO
    // OTHER late supplier exists in o) on random multi-supplier orders
    val rnd = new scala.util.Random(13)
    val lines = Seq.fill(2000) {
      val ok = rnd.nextInt(200).toLong
      val sk = rnd.nextInt(25).toLong
      val late = rnd.nextInt(4) == 0 // 25% late lines
      (ok, sk, late)
    }
    val df = lines.toDF("ok", "sk", "late_line")
    val per = df.groupBy("ok", "sk")
      .agg(max(when(col("late_line"), 1).otherwise(0)).as("late"))
    val stats = per.groupBy("ok")
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
    val got = per.join(stats, Seq("ok"))
      .where(col("late") === 1 && col("n_late") === 1 && col("n_supp") >= 2)
      .groupBy("sk").agg(count(lit(1)).as("numwait"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side direct formulation
    val perOrder = lines.groupBy(_._1).map { case (ok, ls) =>
      val bySupp = ls.groupBy(_._2).map { case (sk, xs) => sk -> xs.exists(_._3) }
      ok -> bySupp
    }
    val expect = perOrder.toSeq.flatMap { case (_, bySupp) =>
      val lateSupps = bySupp.filter(_._2).keys.toSeq
      if (bySupp.size >= 2 && lateSupps.size == 1) lateSupps else Nil
    }.groupBy(identity).map { case (sk, xs) => sk -> xs.size.toLong }
    assert(got === expect)
  }
}
