package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew

/** The salting operators' LOAD contract on genuinely skewed input —
  * the uniform driver testdata proves them result-preserving (the
  * oracle gate), this proves them NECESSARY: on a 90%-hot key the
  * salted plans bound per-reducer load where the plain plans serialize
  * the hot key onto one task. Timing evidence is in BENCHNOTES "r13:
  * skew-stress evidence for the salting family", measured with the
  * SkewBench harness (`git show 78c14b7:src/main/scala/graft/tools/SkewBench.scala`
  * on `git show 78c14b7:tools/gen_skew.py` output); this spec pins the
  * structural bounds that make the timings hold at any scale.
  */
class SkewStressSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val buckets = 8
  private val hotRows = 90000
  private val tailRows = 10000

  // 90% of rows on key 0, tail uniform over 1000 keys; 8 input
  // partitions so the salt has to spread WITHIN partitions, not
  // just across them (the r13 salt regression this spec guards)
  private def skewed: DataFrame = spark.range(0, hotRows + tailRows, 1, 8)
    .select(
      when(col("id") < hotRows, 0L)
        .otherwise(pmod(col("id"), lit(1000L)) + 1L).as("k"),
      (col("id") % 97).cast("double").as("v"),
      col("id").as("uid"))

  private def maxPartitionRows(df: DataFrame): Long = df
    .withColumn("pid", spark_partition_id())
    .groupBy("pid").count().agg(max("count")).collect()(0).getLong(0)

  // the load contract is about the hash distribution, which AQE's
  // byte-based partition coalescing would blur at this test's tiny
  // size (it happily merges ALL 32 partitions of a 100k-row shuffle
  // into one); at real scale the coalesce floor is far above any
  // single partition this spec bounds
  private def withoutCoalesce[T](f: => T): T = {
    val keys = Seq("spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled")
    val prev = keys.map(k => k -> spark.conf.get(k))
    keys.foreach(spark.conf.set(_, "false"))
    try f finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("saltColumn splits a hot key into all buckets, near-evenly, within few input partitions") {
    val groups = skewed
      .withColumn("_salt", Skew.saltColumn(buckets, Seq(col("uid")), col("k")))
      .groupBy("k", "_salt").count()
      .where(col("k") === 0L)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(groups.keySet == (0 until buckets).toSet,
      s"hot key must occupy every salt bucket: ${groups.keySet}")
    val ideal = hotRows.toDouble / buckets
    assert(groups.values.max <= (ideal * 1.3).toLong,
      s"hot key's max salted group ${groups.values.max} exceeds 1.3x ideal $ideal")
  }

  test("saltedJoin bounds per-reducer load where the plain shuffle join serializes the hot key") {
    val dim = spark.range(0, 1001).select(col("id").as("k"),
      (col("id") % 25).as("dval"))
    withoutCoalesce {
      val salted = maxPartitionRows(
        Skew.saltedJoin(skewed, dim, Seq("k"), buckets))
      val plain = maxPartitionRows(
        skewed.join(dim.hint("merge"), Seq("k")))
      assert(plain >= hotRows,
        s"plain merge join should land the whole hot key on one task, got $plain")
      // ideal split is hot / min(buckets, reducers); allow 2.5x for
      // bucket-to-reducer hash collisions plus the uniform tail
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val ideal = hotRows / math.min(buckets, p)
      assert(salted <= (ideal * 2.5).toLong + tailRows,
        s"salted join max partition $salted exceeds 2.5x ideal $ideal")
      assert(salted * 3 <= plain * 2,
        s"salting should cut the hot task by >=1/3 even at $p reducers: $salted vs $plain")
    }
  }

  test("saltedDistinct's pair exchange spreads the hot key's distinct state") {
    // stage-1 of the decomposition shuffles on the (key, value) PAIR;
    // the plain exact-distinct final stage clusters on the key alone
    withoutCoalesce {
      val spread = maxPartitionRows(
        skewed.select("k", "uid").repartition(col("k"), col("uid")))
      val clustered = maxPartitionRows(
        skewed.select("k", "uid").repartition(col("k")))
      assert(clustered >= hotRows, s"key-clustered should hold >= hot, got $clustered")
      // pair-hash is skew-free: max partition ~ total / reducers
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(spread <= (hotRows + tailRows) / p * 3 / 2,
        s"pair-spread max partition $spread is not ~uniform over $p reducers")
    }
    // and the decomposition still returns the exact distinct counts
    val got = Skew.saltedDistinct(skewed, Seq("k"), "uid")
      .where(col("k") === 0L).collect()(0).getLong(1)
    assert(got == hotRows.toLong)
  }
}
