package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bloom, BloomMightContain}
import graft.queries.CoreQueries
import graft.sources.Tables

class BloomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def probe(blob: Array[Byte], key: Long): Boolean = {
    val (bits, k) = (Bloom.decode(blob)._1, Bloom.decode(blob)._2)
    Bloom.mightContain(bits, k, key)
  }

  test("no false negatives: every inserted key probes true (build-local and distributed)") {
    import spark.implicits._
    val keys = (0L until 5000L).map(i => i * 2654435761L + 17L)
    val local = Bloom.buildLocal(keys, 1 << 17, 7)
    assert(keys.forall(probe(local, _)))

    // distributed build over 8 partitions must equal the local build
    // bit-for-bit (OR-merge is order/partitioning independent)
    val dist = keys.toDF("k").repartition(8)
      .agg(Bloom.bloomAgg(col("k"), 1 << 17, 7)).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(dist, local))
  }

  test("false-positive rate is sane for the sized filter") {
    // 5k keys in 2^17 bits with k=7: theoretical FPR ~ (1-e^{-7*5000/131072})^7
    // ~ 0.0002 — assert a loose 1% over 20k non-member probes.
    val member = (0L until 5000L).map(i => i * 2654435761L + 17L)
    val blob = Bloom.buildLocal(member, 1 << 17, 7)
    val memberSet = member.toSet
    val falsePos = (1000000L until 1020000L)
      .filterNot(memberSet.contains).count(probe(blob, _))
    assert(falsePos <= 200, s"FPR too high: $falsePos / 20000")
  }

  test("blob decode rejects malformed input loudly") {
    intercept[IllegalArgumentException](Bloom.decode(Array[Byte](1, 2, 3)))
    // non-power-of-two body
    intercept[IllegalArgumentException](
      Bloom.decode(new Array[Byte](4 + 8 * 3)))
    intercept[IllegalArgumentException](Bloom.buildLocal(Seq(1L), 100, 7))
  }

  test("bloom_might_contain registers in SQL and rejects a non-foldable blob") {
    import spark.implicits._
    BloomMightContain.register(spark)
    val blob = Bloom.buildLocal(Seq(42L, 77L), 1 << 10, 5)
    val got = Seq(42L, 43L, 77L).toDF("k")
      .where(call_function("bloom_might_contain", lit(blob), col("k")))
      .as[Long].collect().sorted
    assert(got.sameElements(Array(42L, 77L)))
    // non-foldable blob operand must be refused at analysis
    val e = intercept[Exception] {
      Seq((Bloom.buildLocal(Seq(1L), 1 << 10, 5), 1L)).toDF("b", "k")
        .where(call_function("bloom_might_contain", col("b"), col("k")))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable"))
  }

  /** Total shuffle bytes written by every task that completes while
    * `body` runs, read from the metrics ledger (which drains the async
    * listener bus before reading).
    */
  private def measuredShuffleWrite(body: => Unit): Long =
    scala.util.Using.resource(new MetricsLedger(spark.sparkContext))(
      _.measure(body)._2.shuffleWrite)

  test("q47 bloom prune cuts measured shuffle write bytes, not just rows-on-paper") {
    // The at-scale claim behind q47 is that the scan-side bloom probe
    // shrinks the fact exchange. Measure it: the same shuffle-hash
    // semi + aggregate, with and without the probe, on sf0.01 (the
    // NATION_4 dim admits ~4% of suppliers, so the pruned exchange
    // should carry a small fraction of the bytes; assert a loose 2x).
    val d01 = "/root/testdata/sf0.01"
    BloomMightContain.register(spark)
    val suppKeys = Tables.supplier(spark, d01)
      .join(broadcast(Tables.nation(spark, d01)
        .where(col("n_name") === "NATION_4").select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").cast("long").as("sk"))
    val blob = suppKeys
      .agg(Bloom.bloomAgg(col("sk"), 1 << 17, 7).as("b"))
      .head.getAs[Array[Byte]](0)

    def run(withBloom: Boolean): Long = measuredShuffleWrite {
      val fact0 = Tables.lineitem(spark, d01)
      val fact =
        if (withBloom)
          fact0.where(call_function("bloom_might_contain",
            lit(blob), col("l_suppkey").cast("long")))
        else fact0
      fact
        .join(suppKeys.hint("shuffle_hash"),
          col("l_suppkey").cast("long") === col("sk"), "left_semi")
        .groupBy(year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(col("l_extendedprice")).as("rev"))
        .collect()
    }

    val unpruned = run(withBloom = false)
    val pruned = run(withBloom = true)
    info(s"shuffle write bytes: unpruned=$unpruned pruned=$pruned " +
      f"(${pruned.toDouble / unpruned}%.3f of baseline)")
    assert(unpruned > 0, "baseline run shuffled nothing - measurement broken")
    assert(pruned > 0, "pruned run shuffled nothing - measurement broken")
    assert(pruned * 2 < unpruned,
      s"bloom probe did not cut shuffle bytes: $pruned vs $unpruned")
  }

  test("q47 plan: bloom probe filters the fact scan BEFORE the exchange; semi join is shuffle-hash") {
    val df = CoreQueries.all.find(_.name == "q47_bloom_semi").get
      .fn(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"),
      "bloom probe missing from the physical plan")
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftSemi"),
      s"expected a shuffle-hash left-semi join, got:\n$plan")
    // the probe must sit below the exchange (scan-side prune): the
    // first Exchange in the plan text appears AFTER the bloom filter
    // line when reading bottom-up — assert via index on the string
    // rendered top-down: filter index > exchange index means deeper.
    val fIdx = plan.indexOf("bloom_might_contain")
    val xIdx = plan.indexOf("Exchange")
    assert(xIdx >= 0 && fIdx > xIdx,
      "bloom probe is not below the exchange (not a scan-side prune)")
  }
}
